"""Layer tracing through Spark internals, kept in one place.

Everything here leans on API that Spark does not promise to keep: the
JVM status store (``lastStageAttempt``, ``operationGraphForStage``),
the listener bus, RDD storage info, and a wrapper around the program's
public ``pin``. All of it works with ``spark.ui.enabled=false``.

:class:`Tracer` tags each build, write and pipeline stage with its own
job group, records a span around it, and, once a pass ends, reads the
stage records of every job in those groups. :class:`NullTracer` has the
same interface and does nothing, so the untraced runs that give the
end-to-end numbers execute the same benchmark code.
"""

from __future__ import annotations

import contextlib
import re
import sys
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

MB = 1024 * 1024
# Plan nodes that hand rows to a Python worker: ArrowEvalPython,
# BatchEvalPython, MapInPandas, FlatMapGroupsInPandas, MapInArrow,
# PythonRDD and their relatives.
PYTHON_NODE = re.compile(r'label="[^"<]*(?:Python|InPandas|InArrow)[^"<]*"')


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0


@dataclass
class PassTrace:
    """Layer counters for one pass; every field is a per-layer metric."""

    build_s: float = 0.0
    build_jobs: int = 0
    exec_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0
    python_stages: int = 0
    python_gap_s: float = 0.0
    pins: int = 0
    pin_s: float = 0.0
    held_mb: float = 0.0
    overhead_s: float = 0.0
    groups: list[tuple[str, str]] = field(default_factory=list)


class NullTracer:
    """Untraced run: no job groups, no status-store reads, no pin wrapper."""

    def start_pass(self) -> None:
        pass

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "") -> Iterator[None]:
        yield

    def sample_held(self) -> None:
        pass

    def end_pass(self) -> PassTrace | None:
        return None

    def close(self) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self._pass: PassTrace | None = None
        self._n_pass = 0
        self._unwrap = self._wrap_pin()

    # -- spans and job groups -------------------------------------------

    def start_pass(self) -> None:
        self._n_pass += 1
        self._pass = PassTrace()

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "") -> Iterator[None]:
        """A span; ``kind`` "build" or "exec" also tags a job group and
        adds the span's wall time to that layer."""
        tick = time.perf_counter()
        label = f"p{self._n_pass}:{name}"
        span = Span(label, self._stack[-1] if self._stack else None, time.time())
        self.spans.append(span)
        self._stack.append(label)
        if kind:
            self.sc.setJobGroup(label, name, False)
            self._pass.groups.append((label, kind))
        self._pass.overhead_s += time.perf_counter() - tick
        start = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - start
            tick = time.perf_counter()
            if kind == "build":
                self._pass.build_s += wall
            elif kind == "exec":
                self._pass.exec_s += wall
            if kind:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._stack.pop()
            span.end = time.time()
            self._pass.overhead_s += time.perf_counter() - tick

    # -- pins and held storage ------------------------------------------

    def _wrap_pin(self):
        """Count and time calls to the program's public ``pin``, in
        every loaded module that bound it by name."""
        from skoltexter_by_ai_spark.operators import pinning

        original = pinning.pin

        def traced_pin(*args, **kwargs):
            start = time.perf_counter()
            span = Span(f"p{self._n_pass}:pin", self._stack[-1] if self._stack else None, time.time())
            try:
                return original(*args, **kwargs)
            finally:
                span.end = time.time()
                self.spans.append(span)
                if self._pass is not None:
                    self._pass.pins += 1
                    self._pass.pin_s += time.perf_counter() - start

        def swap(old, new) -> None:
            # Modules imported later bind whichever ``pin`` is current.
            for name, module in list(sys.modules.items()):
                if name.startswith("skoltexter_by_ai_spark") and getattr(module, "pin", None) is old:
                    module.pin = new

        swap(original, traced_pin)
        return lambda: swap(traced_pin, original)

    def sample_held(self) -> None:
        """Add the MB held by persisted and checkpointed RDDs right now
        (call it when a query's output is written, before cleanup)."""
        tick = time.perf_counter()
        infos = self.jsc.getRDDStorageInfo()
        held = sum(info.memSize() + info.diskSize() for info in infos)
        self._pass.held_mb += held / MB
        self._pass.overhead_s += time.perf_counter() - tick

    # -- stage records ----------------------------------------------------

    def end_pass(self) -> PassTrace:
        tick = time.perf_counter()
        trace = self._pass
        self.jsc.listenerBus().waitUntilEmpty(60_000)
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        graphs = self.sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
        for group, kind in trace.groups:
            for job_id in tracker.getJobIdsForGroup(group):
                trace.jobs += 1
                if kind == "build":
                    trace.build_jobs += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else []:
                    self._add_stage(trace, store, graphs, stage_id)
        trace.overhead_s += time.perf_counter() - tick
        self._pass = None
        return trace

    @staticmethod
    def _add_stage(trace: PassTrace, store, graphs, stage_id: int) -> None:
        data = store.lastStageAttempt(stage_id)
        if data.status().toString() != "COMPLETE":
            return  # skipped: its shuffle output was reused
        trace.stages += 1
        trace.tasks += data.numTasks()
        run_s = data.executorRunTime() / 1e3
        cpu_s = data.executorCpuTime() / 1e9
        trace.executor_run_s += run_s
        trace.executor_cpu_s += cpu_s
        trace.gc_s += data.jvmGcTime() / 1e3
        trace.shuffle_read_mb += data.shuffleReadBytes() / MB
        trace.shuffle_write_mb += data.shuffleWriteBytes() / MB
        trace.spill_mb += data.diskBytesSpilled() / MB
        trace.input_mb += data.inputBytes() / MB
        trace.input_rows += data.inputRecords()
        dot = graphs.makeDotFile(store.operationGraphForStage(stage_id))
        if PYTHON_NODE.search(dot):
            trace.python_stages += 1
            trace.python_gap_s += max(0.0, run_s - cpu_s)

    def close(self) -> None:
        self._unwrap()
