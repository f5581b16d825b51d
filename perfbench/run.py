#!/usr/bin/env python3
"""Benchmark: seeded workloads through the program's public layers.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload queries-relational --seed 1 --seconds 4 --trace 0

One run generates its inputs from ``--seed``, starts the program's own
session (``session.get_spark``) on ``local[4]``, runs one cold pass,
checks the outputs (for queries on an untimed warm execution), then
repeats passes until ``--seconds`` have gone by and at least
``MIN_STEADY_PASSES`` have run, and finally starts a second cold
session for a second set-up sample. With ``--trace 0`` it reports the
end-to-end metrics:

- ``setup_s``: cold JVM and session start up to the first completed
  job, median of the two starts;
- ``cold_pass_s``: the first pass, which a ``cli run`` user pays on
  every run;
- ``pass_s`` and ``pass_cpu_s``: median wall time and median user plus
  system CPU (driver, JVM and Python workers) of the steady passes.

With ``--trace 1`` it tags every build, write and pipeline stage with a
Spark job group and reports the per-layer metrics instead, as medians
over the steady passes; spans go to ``.perfbench/spans-*.jsonl``. Which
end-to-end metric each layer should move, and where:

- ``plans.*`` -> ``pass_s`` on queries-operators (about 0 on
  queries-relational);
- ``operators.pinning.*``, ``operators.held_mb`` -> ``pass_s`` and
  ``pass_cpu_s`` on queries-operators; 0 on the other two;
- ``spark.*``, ``sources.input_*`` -> ``pass_s`` everywhere, dominant on
  queries-relational; ``spark.python_*`` on queries-operators (x119)
  and on the pipeline's enrich and publish stages;
- ``cli.*``, ``sources.sinks.written_mb``, ``operators.enrich.*`` ->
  ``cold_pass_s`` and ``pass_s`` on pipeline only;
- ``host.*``, ``cpus``, ``host_cpus``, ``trace.overhead_s`` record the
  run's conditions and are not expected to move.

The last line of standard output is one JSON object; a detail record
(quartiles, sample counts, failures, steal, phase times) goes to
standard error. The exit code is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")
CPUS = 4
MIN_STEADY_PASSES = 2
WORKLOADS = ("queries-relational", "queries-operators", "pipeline")

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
}
PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "operators.pinning.pins": "count",
    "operators.pinning.pin_s": "s",
    "operators.held_mb": "MB",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "spark.python_stages": "count",
    "spark.python_gap_s": "s",
    "cli.render_s": "s",
    "cli.enrich_s": "s",
    "cli.publish_s": "s",
    "sources.sinks.written_mb": "MB",
    "operators.enrich.calls": "count",
    "operators.enrich.ok": "count",
    "operators.enrich.retried": "count",
    "operators.enrich.failed": "count",
    "operators.enrich.useful_ratio": "ratio",
    "operators.enrich.transport_busy_s": "s",
    "operators.enrich.floor_s": "s",
    "operators.enrich.over_floor_s": "s",
    "host.steal_s": "s",
    "host.peak_rss_mb": "MB",
    "cpus": "count",
    "host_cpus": "count",
    "trace.overhead_s": "s",
}
# PassTrace field -> per-layer metric
TRACE_FIELDS = {
    "build_s": "plans.build_s",
    "build_jobs": "plans.build_jobs",
    "pins": "operators.pinning.pins",
    "pin_s": "operators.pinning.pin_s",
    "held_mb": "operators.held_mb",
    "exec_s": "spark.exec_s",
    "jobs": "spark.jobs",
    "stages": "spark.stages",
    "tasks": "spark.tasks",
    "executor_run_s": "spark.executor_run_s",
    "executor_cpu_s": "spark.executor_cpu_s",
    "gc_s": "spark.gc_s",
    "shuffle_read_mb": "spark.shuffle_read_mb",
    "shuffle_write_mb": "spark.shuffle_write_mb",
    "spill_mb": "spark.spill_mb",
    "input_mb": "sources.input_mb",
    "input_rows": "sources.input_rows",
    "python_stages": "spark.python_stages",
    "python_gap_s": "spark.python_gap_s",
    "overhead_s": "trace.overhead_s",
}


def prepare_environment() -> None:
    """Keep every file Spark, Python workers and temp files write inside
    the checkout, and let workers import the program and this package."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def start_session():
    """Cold session start up to the first completed job."""
    from skoltexter_by_ai_spark.session import get_spark

    start = time.perf_counter()
    # Not tuning: these keep the JVM's temp files inside the checkout
    # (-XX:-UsePerfData stops the /tmp/hsperfdata_* file).
    java_opts = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    spark = get_spark(app_name="perfbench", extra_conf={"spark.driver.extraJavaOptions": java_opts})
    # A one-task JVM job: the setup ends when the scheduler has run a
    # job; SQL warm-up is left to the cold pass, which users also pay.
    sc = spark.sparkContext
    sc._jsc.parallelize(sc._jvm.java.util.ArrayList(), 1).count()
    return spark, time.perf_counter() - start


def stop_session() -> None:
    """Stop Spark, if it runs, and wait for the JVM process to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def make_workload(name: str, spark, tracer, seed: int):
    from perfbench import inputs, workloads

    if name == "pipeline":
        return workloads.PipelineWorkload(spark, tracer, WORK, workloads.SCHOOLS, seed)
    tables = os.path.join(WORK, "tables")
    inputs.generate_tables(ROOT, tables, workloads.TABLES_SF, seed)
    prefixes = workloads.RELATIONAL if name == "queries-relational" else workloads.OPERATORS
    return workloads.QueryWorkload(spark, tracer, tables, prefixes)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def quartiles(values: list[float]) -> dict[str, float]:
    if len(values) < 2:
        return {"p25": median(values), "p50": median(values), "p75": median(values), "n": len(values)}
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"p25": q1, "p50": q2, "p75": q3, "n": len(values)}


def run(args) -> dict:
    from perfbench import hoststats
    from perfbench.sparktrace import NullTracer, Tracer

    if args.workload == "pipeline":
        from skoltexter_by_ai_spark.operators.enrich import EnrichConfig

    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    spark, setup_s = start_session()
    phase("session")
    tracer = Tracer(spark) if args.trace else NullTracer()
    workload = make_workload(args.workload, spark, tracer, args.seed)
    phase("inputs")

    samples: dict[str, list[float]] = {}

    def timed_pass():
        cpu0, steal0 = hoststats.tree_cpu_s(), hoststats.steal_s()
        tracer.start_pass()
        start = time.perf_counter()
        workload.run_pass()
        wall = time.perf_counter() - start
        cpu = hoststats.tree_cpu_s() - cpu0
        samples.setdefault("host.steal_s", []).append(hoststats.steal_s() - steal0)
        trace = tracer.end_pass()
        return wall, cpu, trace

    cold_s, _, _ = timed_pass()
    samples.clear()
    phase("cold_pass")
    outcome = workload.check()
    phase("check")
    repeat_problems: list[str] = []

    steady_start = time.perf_counter()
    while (
        time.perf_counter() - steady_start < args.seconds
        or len(samples.get("pass_s", [])) < MIN_STEADY_PASSES
    ):
        wall, cpu, trace = timed_pass()
        samples.setdefault("pass_s", []).append(wall)
        samples.setdefault("pass_cpu_s", []).append(cpu)
        if trace is not None:
            tick = time.perf_counter()
            for field_name, metric in TRACE_FIELDS.items():
                samples.setdefault(metric, []).append(float(getattr(trace, field_name)))
            if args.workload == "pipeline":
                for stage, seconds in workload.stage_s.items():
                    samples.setdefault(f"cli.{stage}_s", []).append(seconds)
                samples.setdefault("sources.sinks.written_mb", []).append(workload.written_mb())
                counters = workload.enrich_counters(EnrichConfig().target_rpm)
                for key, value in counters.items():
                    samples.setdefault(f"operators.enrich.{key}", []).append(float(value))
            samples["trace.overhead_s"][-1] += time.perf_counter() - tick
        problem = workload.verify_repeat()
        if problem:
            repeat_problems.append(problem)

    phase("steady_passes")
    peak_rss_mb = hoststats.tree_peak_rss_mb()
    if args.trace:
        with open(os.path.join(STATE, f"spans-{args.workload}-seed{args.seed}.jsonl"), "w") as fh:
            for span in tracer.spans:
                fh.write(json.dumps(span.__dict__) + "\n")
        tracer.close()
    stop_session()
    phase("stop")

    if args.trace:
        values = {name: median(samples.get(name, [])) for name in PER_LAYER}
        values.update(
            {"host.peak_rss_mb": peak_rss_mb, "cpus": float(CPUS), "host_cpus": float(os.cpu_count())}
        )
        units = PER_LAYER
    else:
        # A second cold start: the first one stopped its JVM above.
        _, second_setup_s = start_session()
        stop_session()
        samples["setup_s"] = [setup_s, second_setup_s]
        phase("setup_sample")
        samples["cold_pass_s"] = [cold_s]
        values = {name: median(samples[name]) for name in END_TO_END}
        units = END_TO_END

    failed = dict(outcome.failed)
    for name, reason in workload.failed.items():
        failed.setdefault(name, reason)
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "spread": {name: quartiles(samples.get(name, [])) for name in units},
                "failed": failed,
                "wrong": outcome.wrong,
                "repeat_problems": repeat_problems,
                "steal_s": sum(samples.get("host.steal_s", [])),
                "phases_s": phases,
            },
            sort_keys=True,
        ),
        file=sys.stderr,
    )
    return {
        "correct": not outcome.wrong and not repeat_problems,
        "attempted": outcome.attempted,
        "failed": len(failed),
        "metrics": {name: {"value": values[name], "unit": units[name]} for name in units},
    }


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", choices=WORKLOADS, required=True)
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=4)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    for needed in ("skoltexter_by_ai_spark", os.path.join("tools", "gen_scaled_fixtures.py")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}", file=sys.stderr)
            return 2

    # The JVM inherits file descriptor 1; point it at stderr so banners
    # cannot land on standard output, and keep the real one for the result.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    shutil.rmtree(WORK, ignore_errors=True)
    prepare_environment()
    try:
        result = run(args)
    finally:
        stop_session()
        shutil.rmtree(WORK, ignore_errors=True)
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
