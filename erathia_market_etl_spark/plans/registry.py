"""Driver-facing query registry.

Every operator from SURVEY.md §2 registers here as a named query: a
PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) a DuckDB-runnable ANSI-SQL oracle over the same parquet
tables. ``__spark_entry__.py`` exposes the two dicts verbatim.

Contract (see repo README / driver docs):
  * column names must match between Spark result and oracle result —
    every computed column is aliased identically on both sides;
  * money/double aggregates are rounded to 2dp on both sides before
    comparison (float summation-order noise, SURVEY.md §7.4);
  * results carry no row order; a sort appears only under
    ``ORDER BY ... LIMIT``, with a total order (tiebreaks).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is the DuckDB SQL twin (omit
    only for genuinely non-SQL-expressible operators)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    # import for side effect: each module registers its queries
    from . import (  # noqa: F401
        dedup_queries,
        event_windows,
        graph_queries,
        multimodal_queries,
        relational,
        sampling_queries,
        similarity_queries,
        skew_queries,
        streaming_queries,
        temporal_queries,
        text_queries,
    )


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    _load_all()
    return dict(ORACLES)

