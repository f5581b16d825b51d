"""The three workloads: what one pass runs and how its output is checked.

All of them are closed loop with one driver thread: a pass issues the
next call only when the previous one has returned.

- ``queries-relational``: an anti-join, grouped and distinct
  aggregation, a cube and a join with top-k, whose plans have no Python
  node and whose builders launch no job and pin nothing. The control
  for operator-layer changes.
- ``queries-operators``: x20 dedup clusters, whose builder runs eager
  pin and connected-component jobs, and x119 perplexity buckets, which
  crosses the prefix-sum Python boundary.
- ``pipeline``: ``cli.stage1_render`` -> ``cli.stage2_enrich`` ->
  ``cli.stage3_publish`` on a generated schools register, from an empty
  output directory each pass.

Each check counts operations (one per query, or one per expected
school) and sorts each problem into *failed* (no single answer was
delivered: the call raised, or a school has no site row or several)
or *wrong* (an answer was delivered and differs from the reference).
"""

from __future__ import annotations

import contextlib
import gc
import hashlib
import json
import os
import shutil
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench.transport import FixedLatencyTransport, busy_seconds, marker, read_call_log

# A run must fit the benchmark's time budget (about 40 s including two
# cold session starts), so each list is a few seconds of warm work. The
# queries kept are the ones whose DuckDB check is cheap and never empty.
TABLES_SF = 0.05
RELATIONAL = ["q13", "q24", "x28", "x31", "x50"]
OPERATORS = ["x20", "x119"]
SCHOOLS = 100
DUCKDB_THREADS = 4
PROMPT = "SYSTEM: Du skriver korta skolbeskrivningar.\nUSER: {school_data}"


@dataclass
class Outcome:
    attempted: int
    failed: dict[str, str] = field(default_factory=dict)
    wrong: dict[str, str] = field(default_factory=dict)


@contextlib.contextmanager
def duckdb_threads(testing, threads: int) -> Iterator[None]:
    """Cap the oracle's DuckDB connections at ``threads`` while the
    program's own comparator runs."""
    connect = testing.duckdb_connection

    def capped(sf_dir: str):
        con = connect(sf_dir)
        con.execute(f"SET threads TO {threads}")
        return con

    testing.duckdb_connection = capped
    try:
        yield
    finally:
        testing.duckdb_connection = connect


def release_storage(spark) -> None:
    """Drop every pinned or persisted block between queries, as bench.py
    does, so each query starts from an empty executor store."""
    gc.collect()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()


class QueryWorkload:
    def __init__(self, spark, tracer, tables_dir: str, prefixes: list[str]):
        from skoltexter_by_ai_spark.plans.registry import all_queries

        specs = all_queries()
        by_prefix = {name.split("_", 1)[0]: spec for name, spec in specs.items()}
        self.spark = spark
        self.tracer = tracer
        self.tables_dir = tables_dir
        self.specs = [by_prefix[p] for p in prefixes]
        self.failed: dict[str, str] = {}

    def run_pass(self) -> None:
        for spec in self.specs:
            try:
                with self.tracer.span(spec.name):
                    with self.tracer.span(f"build:{spec.name}", "build"):
                        df = spec.builder(self.spark, self.tables_dir)
                    with self.tracer.span(f"exec:{spec.name}", "exec"):
                        df.write.format("noop").mode("overwrite").save()
                self.tracer.sample_held()
            except Exception as exc:  # a failing query must not stop the pass
                self.failed.setdefault(spec.name, f"{type(exc).__name__}: {exc}"[:200])
            finally:
                df = None
                release_storage(self.spark)

    def check(self) -> Outcome:
        """One untimed warm execution per query, judged by the program's
        own comparator (oracle queries) or row floor (rows-only)."""
        from skoltexter_by_ai_spark import testing

        outcome = Outcome(attempted=len(self.specs))
        with duckdb_threads(testing, DUCKDB_THREADS):
            for spec in self.specs:
                self._check_one(spec, outcome)
        return outcome

    def _check_one(self, spec, outcome: Outcome) -> None:
        from skoltexter_by_ai_spark.testing import compare_with_oracle

        df = None
        try:
            df = spec.builder(self.spark, self.tables_dir)
            if spec.oracle is not None:
                report = compare_with_oracle(spec.name, df, spec.oracle, self.tables_dir)
                if not report.ok:
                    outcome.wrong[spec.name] = report.detail or "row-count mismatch"
            else:
                # Generated tables are not the standard fixture, so a
                # floor that counts planted features relaxes to 1,
                # exactly as tools/driver_spotcheck.py does.
                floor = 1 if spec.min_rows_is_fixture_law else spec.min_rows
                rows = df.count()
                if rows < floor:
                    outcome.wrong[spec.name] = f"{rows} rows < min_rows {floor}"
        except Exception as exc:
            outcome.failed[spec.name] = f"{type(exc).__name__}: {exc}"[:200]
        finally:
            df = None
            release_storage(self.spark)

    def verify_repeat(self) -> str | None:
        return None


class PipelineWorkload:
    """The reference use case through the CLI's public stage functions."""

    LATENCY_S = 0.02
    FLAKY_SHARE = 0.03

    def __init__(self, spark, tracer, work_dir: str, n_schools: int, seed: int):
        import random

        self.spark = spark
        self.tracer = tracer
        self.csv_path = os.path.join(work_dir, "schools.csv")
        self.template_path = os.path.join(work_dir, "template.md")
        self.out_dir = os.path.join(work_dir, "out")
        self.log_dir = os.path.join(work_dir, "calls")
        rows = inputs.schools_register(n_schools, seed)
        inputs.write_schools_csv(self.csv_path, rows)
        with open(self.template_path, "w", encoding="utf-8") as fh:
            fh.write(inputs.template_text())
        self.expected = inputs.expected_site(self.csv_path)
        self.n_docs = sum(1 for row in rows if row["SchoolCode"].strip())
        codes = sorted(self.expected)
        flaky = random.Random(seed).sample(codes, max(1, round(self.FLAKY_SHARE * len(codes))))
        self.transport = FixedLatencyTransport(self.log_dir, self.LATENCY_S, set(flaky))
        self.stage_s: dict[str, float] = {}
        self.site_digest: str | None = None
        self.failed: dict[str, str] = {}

    def run_pass(self) -> None:
        from skoltexter_by_ai_spark import cli

        for path in (self.out_dir, self.log_dir):
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
        stages = [
            ("render", lambda: cli.stage1_render(self.spark, self.csv_path, self.template_path, self.out_dir)),
            ("enrich", lambda: cli.stage2_enrich(self.spark, self.out_dir, PROMPT, transport=self.transport)),
            ("publish", lambda: cli.stage3_publish(self.spark, self.csv_path, self.out_dir)),
        ]
        for name, stage in stages:
            start = time.perf_counter()
            with self.tracer.span(f"cli:{name}", "exec"):
                stage()
            self.stage_s[name] = time.perf_counter() - start

    def _site_rows(self) -> tuple[list[dict], str]:
        from skoltexter_by_ai_spark.plans import pipeline_publish

        template = pipeline_publish._TEMPLATE_PATH.read_text(encoding="utf-8")
        head, tail = template.split("__SCHOOLS_JSON_PLACEHOLDER__")
        with open(os.path.join(self.out_dir, "site.html"), encoding="utf-8") as fh:
            site = fh.read()
        if not (site.startswith(head) and site.endswith(tail)):
            raise ValueError("site.html does not follow the site template")
        rows = json.loads(site[len(head) : len(site) - len(tail)])
        canonical = json.dumps(sorted(rows, key=json.dumps), sort_keys=True)
        return rows, hashlib.sha256(canonical.encode()).hexdigest()

    def check(self) -> Outcome:
        """Reference semantics, recomputed from the CSV: one site row per
        deduped code, the keep-first or fallback name, the enriched
        marker in the HTML, and rows sorted by name."""
        outcome = Outcome(attempted=len(self.expected))
        rows, self.site_digest = self._site_rows()
        by_code: dict[str, list[dict]] = {}
        for row in rows:
            by_code.setdefault(row["id"], []).append(row)
        for code, name in self.expected.items():
            found = by_code.get(code, [])
            if len(found) != 1:
                outcome.failed[code] = "repeated site row" if found else "missing site row"
            elif found[0]["name"] != name:
                outcome.wrong[code] = f"name {found[0]['name']!r} != {name!r}"
            elif marker(code) not in found[0]["ai_description_html"]:
                outcome.wrong[code] = "enriched marker missing from its HTML"
        for code in set(by_code) - set(self.expected):
            outcome.wrong[code] = "site row for a code not in the register"
        names = [row["name"] for row in rows]
        if names != sorted(names):
            outcome.wrong["<order>"] = "site rows are not sorted by name"
        return outcome

    def verify_repeat(self) -> str | None:
        """A later pass must publish the site the check accepted."""
        if self._site_rows()[1] != self.site_digest:
            return "a later pass published a different site"
        return None

    def enrich_counters(self, target_rpm: float) -> dict[str, float]:
        import pyarrow.parquet as pq

        calls = read_call_log(self.log_dir)
        results = pq.read_table(os.path.join(self.out_dir, "_enrich_staging")).to_pylist()
        ok = [r for r in results if r["success"]]
        floor_s = self.n_docs * 60.0 / target_rpm
        return {
            "calls": len(calls),
            "ok": len(ok),
            "retried": sum(1 for c in calls if c[1] > 0),
            "failed": len(results) - len(ok),
            "useful_ratio": len({r["school_code"] for r in ok}) / max(1, len(calls)),
            "transport_busy_s": busy_seconds([(c[3], c[4]) for c in calls]),
            "floor_s": floor_s,
            "over_floor_s": self.stage_s["enrich"] - floor_s,
        }

    def written_mb(self) -> float:
        total = 0
        for base, _, files in os.walk(self.out_dir):
            total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
        return total / (1024 * 1024)
