"""Tests for the benchmark's internal-API module and its metric list.

Run from the repository root::

    python -m pytest perfbench/test_sparktrace.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.transport import busy_seconds  # noqa: E402


def test_benchmark_json_lists_the_metrics_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert set(run.TRACE_FIELDS.values()) <= set(run.PER_LAYER)


def test_busy_seconds_is_the_union_of_intervals():
    assert busy_seconds([]) == 0.0
    assert busy_seconds([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == pytest.approx(3.0)


@pytest.fixture(scope="module")
def spark_and_tables(tmp_path_factory):
    from perfbench import inputs
    from skoltexter_by_ai_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tables = str(tmp_path_factory.mktemp("tables"))
    inputs.generate_tables(ROOT, tables, 0.01, seed=3)
    return get_spark(app_name="perfbench-test"), tables


@pytest.mark.parametrize("prefix", ["x50", "x20"])
def test_traced_pass_returns_the_same_rows(spark_and_tables, prefix):
    """Job groups, stage reads and the pin wrapper must not change what
    a query returns; x20 pins intermediates, x50 does not."""
    from perfbench.sparktrace import Tracer
    from skoltexter_by_ai_spark.operators import pinning
    from skoltexter_by_ai_spark.plans.registry import all_queries

    spark, tables = spark_and_tables
    spec = next(s for n, s in all_queries().items() if n.split("_", 1)[0] == prefix)
    untraced = sorted(spec.builder(spark, tables).collect())

    original_pin = pinning.pin
    tracer = Tracer(spark)
    try:
        tracer.start_pass()
        with tracer.span(spec.name):
            with tracer.span(f"build:{spec.name}", "build"):
                df = spec.builder(spark, tables)
            with tracer.span(f"exec:{spec.name}", "exec"):
                traced = sorted(df.collect())
        trace = tracer.end_pass()
    finally:
        tracer.close()

    assert traced == untraced
    assert pinning.pin is original_pin
    assert trace.jobs >= 1 and trace.stages >= 1 and trace.tasks >= trace.stages
    assert trace.executor_run_s > 0 and trace.input_rows > 0
    if prefix == "x20":
        assert trace.pins >= 1 and trace.build_jobs >= 1
    else:
        assert trace.pins == 0 and trace.build_jobs == 0 and trace.python_stages == 0
    names = {span.name for span in tracer.spans}
    assert f"p1:exec:{spec.name}" in names


def test_pipeline_check_sorts_problems_into_failed_and_wrong(tmp_path):
    """A repeated row is a failed school; a wrong name or a missing marker
    is a wrong answer; a school with exactly one correct row is neither."""
    from perfbench.sparktrace import NullTracer
    from perfbench.transport import enriched_markdown
    from perfbench.workloads import PipelineWorkload
    from skoltexter_by_ai_spark.plans import pipeline_publish

    workload = PipelineWorkload(None, NullTracer(), str(tmp_path), n_schools=20, seed=5)
    rows = [
        {"id": code, "name": name, "ai_description_html": enriched_markdown(code)}
        for code, name in sorted(workload.expected.items(), key=lambda item: item[1])
    ]
    repeated, renamed, unmarked = rows[0]["id"], rows[1]["id"], rows[2]["id"]
    rows.insert(0, dict(rows[0]))
    rows[2]["name"] = rows[2]["name"] + "!"
    rows[3]["ai_description_html"] = "<p>no marker</p>"
    template = pipeline_publish._TEMPLATE_PATH.read_text(encoding="utf-8")
    os.makedirs(workload.out_dir)
    with open(os.path.join(workload.out_dir, "site.html"), "w", encoding="utf-8") as fh:
        fh.write(template.replace("__SCHOOLS_JSON_PLACEHOLDER__", json.dumps(rows, ensure_ascii=False)))

    outcome = workload.check()

    assert outcome.attempted == len(workload.expected)
    assert outcome.failed == {repeated: "repeated site row"}
    assert set(outcome.wrong) == {renamed, unmarked}
