"""Registry of declared queries (SURVEY.md §2.3 + §2.4 extensions).

Every operator claimed "done" has a :class:`QuerySpec` here: a Spark
builder ``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible)
the equivalent DuckDB oracle SQL. The driver hash-compares the two at
sf0.01 — column names must match exactly (alias both sides), floats
must be decimal-stabilized, and every query ends in a total ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkBuilder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: SparkBuilder
    oracle: str | None  # DuckDB SQL, or None for non-SQL-expressible ops
    covers: str  # reference operators exercised (SURVEY.md §2.2 ids)
    tags: tuple[str, ...] = field(default_factory=tuple)
    # Vacuity guard: a declared query that returns fewer rows than this
    # at the test scale factors verifies nothing (VERDICT r1 on x15).
    min_rows: int = 1
    # True when min_rows counts features the STANDARD driver fixture
    # PLANTS (e.g. cross-boundary near-dup pairs) rather than organic
    # data volume. Checkers running against a custom fixture (skew
    # laws, ablations) relax such guards to >=1 — a custom fixture may
    # legitimately plant fewer without the answer being wrong
    # (VERDICT r9: x122 on the Zipf fixture found exactly the one
    # planted pair and was flagged anyway).
    min_rows_is_fixture_law: bool = False


QUERY_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    covers: str,
    tags: tuple[str, ...] = (),
    min_rows: int = 1,
    min_rows_is_fixture_law: bool = False,
) -> Callable[[SparkBuilder], SparkBuilder]:
    """Decorator: register a Spark builder under ``name``."""

    def wrap(fn: SparkBuilder) -> SparkBuilder:
        if name in QUERY_REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        QUERY_REGISTRY[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, covers=covers, tags=tags,
            min_rows=min_rows, min_rows_is_fixture_law=min_rows_is_fixture_law,
        )
        return fn

    return wrap


def get_query(name: str) -> QuerySpec:
    _ensure_loaded()
    return QUERY_REGISTRY[name]


def query_names() -> list[str]:
    _ensure_loaded()
    return sorted(QUERY_REGISTRY)


_LOADED = False


def _ensure_loaded() -> None:
    """Import the modules whose decorators populate the registry."""
    global _LOADED
    if _LOADED:
        return
    # Imported for their registration side effects. Plain imports: a
    # module that fails to import must fail the run, not silently drop
    # its queries from the bench and the oracle.
    from skoltexter_by_ai_spark.plans import (  # noqa: F401  (registration order)
        core_queries,
        extension_queries,
        olap_queries,
        analytics_queries,
        tpch_queries,
        curation_queries,
    )

    _LOADED = True


def all_queries() -> dict[str, QuerySpec]:
    _ensure_loaded()
    return dict(QUERY_REGISTRY)
