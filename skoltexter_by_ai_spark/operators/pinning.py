"""The one place that knows how an intermediate is materialized and
released.

Operators that read an intermediate more than once (per-group stats
frames, pruned shingle lists, label tables between connected-component
rounds, a pair table collected twice) materialize it once so every
consumer reads the same blocks instead of re-running the upstream
pipeline. There are exactly two shapes:

- **plan-referenced** — :func:`pin`. The returned DataFrame (or a plan
  built on it) reads the materialization, so it must outlive the
  builder. Default: ``localCheckpoint`` — executor-local blocks,
  truncated lineage; Spark's ContextCleaner frees them once the plan
  is garbage-collected. Nothing enters the CacheManager, so nothing
  can be served to a later identical plan.
- **build-scoped** — :func:`scoped_pin`. Only the builder's own jobs
  read the materialization (bisection passes, connected-component
  rounds, driver-side collects), and the returned plan never
  references it. Default: ``persist(MEMORY_AND_DISK)``, released on
  leaving the ``with`` block, also when it is left by an exception.
  persist defers to the first action (a localCheckpoint — even a lazy
  one — executes its whole upstream synchronously under AQE) and
  keeps the plan's output partitioning (a localCheckpoint degrades it
  to UnknownPartitioning).

``reliable=True`` is the fault-tolerance escape hatch both helpers
share: a local checkpoint is unrecoverable when an executor is lost,
which is an acceptable trade for a rerunnable single-query batch (the
operators are deterministic) but not for a multi-hour job on a large
cluster where executor loss is routine. There the intermediate goes to
``persist() + checkpoint()`` under ``sparkContext.setCheckpointDir``,
and a lost block is re-read from reliable storage. The ``persist``
before the checkpoint matters: the checkpoint write runs as a second
job after the computing action, and without a cached copy Spark would
recompute the whole upstream pipeline just to write the files.
:func:`scoped_pin` releases that cached copy on exit; a plan-referenced
reliable :func:`pin` keeps it (its CacheManager entry lives as long as
the session or an explicit ``unpersist``). Reliable checkpoint FILES
are cleaned when ``spark.cleaner.referenceTracking.cleanCheckpoints``
is set, otherwise when the checkpoint dir is cleaned externally.

Operators expose the switch as a ``reliable_checkpoint: bool = False``
parameter and thread it here.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def pin(df: DataFrame, reliable: bool = False, eager: bool = True) -> DataFrame:
    """Plan-referenced materialization of ``df`` for multi-consumer
    reads.

    ``reliable=False`` (default): ``localCheckpoint(eager)`` —
    executor-local blocks, truncated lineage, fastest; unrecoverable
    on executor loss (rerunnable-batch trade, see module docstring).

    ``reliable=True``: ``persist(MEMORY_AND_DISK)`` then a reliable
    ``checkpoint(eager)`` into the session's checkpoint dir. Requires
    ``spark.sparkContext.setCheckpointDir(...)`` to name a location
    all executors can reach (HDFS/object store on a cluster); raises
    a clear error otherwise rather than Spark's bare one.

    ``eager=False`` keeps the builder a pure plan (no job at build
    time) — the pin materializes on the first action and serves every
    consumer after that.
    """
    if not reliable:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        raise ValueError(
            "reliable_checkpoint=True requires a checkpoint directory: call "
            "spark.sparkContext.setCheckpointDir('<hdfs/s3/... path reachable "
            "by every executor>') first. On a single machine a local path "
            "works; on a cluster it must be shared storage."
        )
    return df.persist(StorageLevel.MEMORY_AND_DISK).checkpoint(eager=eager)


@contextmanager
def scoped_pin(df: DataFrame, reliable: bool = False) -> Iterator[DataFrame]:
    """Build-scoped materialization of ``df``: yields the materialized
    frame and releases its CacheManager entry on exit, including an
    exit by exception.

    ``reliable=False`` (default): ``persist(MEMORY_AND_DISK)``, lazy —
    the first action inside the block fills the cache.

    ``reliable=True``: ``pin(df, reliable=True, eager=False)``; the
    persist beneath the checkpoint is released on exit.

    A plan that outlives the block and still reads the yielded frame
    recomputes it from its lineage: derive such a result from a
    :func:`pin` that an action inside the block has materialized.
    """
    if reliable:
        out = pin(df, reliable=True, eager=False)
    else:
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield out
    finally:
        df.unpersist()
