"""Parquet sources and sinks (SURVEY.md §2.1 S4-S8).

The reference reads parquet with inferred schemas (silver_processor.py:34)
and writes via pyarrow (bronze_generator.py:420-429,456-484) or Spark
(silver_processor.py:66-73). Here every read can enforce an explicit
schema, every fact-sized write is hive-partitioned, and dim-sized writes
compact to a single file.

Scale notes (100 TB): partitioned writes shuffle on the partition columns
only when asked (repartition before write to bound file counts); reads
rely on Catalyst partition pruning + parquet row-group stats — never
pre-filter driver-side.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class MissingColumnError(ValueError):
    """A parquet table lacks a column its declared schema names. Under a
    user schema Spark's reader returns NULL for an absent column (a
    bronze dim_customer without customer_segment would silently make
    every is_hero false), so ``load_table`` refuses instead."""

    def __init__(self, table: str, column: str, path: str) -> None:
        super().__init__(f"table {table}: declared column {column!r} is missing from {path}")
        self.table, self.column, self.path = table, column, path


def _check_declared_columns(path: str, table: str, schema: StructType) -> None:
    """Every data file Spark would read under ``path`` (hidden ``_``/``.``
    entries skipped, as its file index does) must carry every declared
    column in its footer or in its Hive ``col=value`` directories. The
    footers are read with pyarrow in this process, so the check launches
    no Spark job."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            files += [os.path.join(root, f) for f in names if not f.startswith(("_", "."))]
    for f in sorted(files):
        present = set(pq.read_schema(f).names)
        rel = os.path.relpath(os.path.dirname(f), path)
        present |= {seg.split("=", 1)[0] for seg in rel.split(os.sep) if "=" in seg}
        for field in schema.fields:
            if field.name not in present:
                raise MissingColumnError(table, field.name, f)


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Read one fixture/bronze/silver table. ``schema`` enforces a
    contract on read (the reference declared FACT_SALES_SCHEMA but never
    applied it — schemas.py:6-19): no schema-inference job, types checked
    at the scan, and a declared column missing from any file raises
    ``MissingColumnError``."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        # hive-partitioned tables are directories (fact_sales/year=.../)
        path = os.path.join(sf_dir, name)
    if schema is None:
        return spark.read.parquet(path)
    _check_declared_columns(path, name, schema)
    return spark.read.schema(schema).parquet(path)


def adaptive_partitions(
    df: DataFrame, bytes_per_partition: int = 16 * 1024 * 1024
) -> int:
    """Shuffle-partition count derived from ``df``'s optimized-plan size
    estimate (exact for a parquet scan — file bytes), clamped to
    [1, spark.sql.shuffle.partitions]. The scale-adaptive sizing the
    optimization guide §2.2 asks for: iterative kernels that persist a
    keyed intermediate (symmetrized edge tables, edge+degree frames)
    size their ONE exchange from the source data instead of inheriting
    the cluster-constant spark.sql.shuffle.partitions — a 600 KB
    fixture graph caches as one partition instead of 32 task-waves per
    propagation round, while at cluster scale the estimate exceeds the
    clamp and the configured shuffle width wins. Pass the BASE scan
    frame (its stats are exact); joins/aggregates only OVER-estimate,
    which degrades safely to the clamp."""
    # r16 ADVICE guard: the stats probe reaches through classic-JVM
    # internals (_jdf) and int()-casts the conf — a Spark Connect
    # session (no _jdf) or an exotic conf value must degrade to the
    # pre-r16 behavior (the configured shuffle width) instead of
    # raising at plan-construction time in every iterative kernel.
    try:
        cap = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        try:
            cap = int(df.sparkSession.sparkContext.defaultParallelism)
        except AttributeError:  # Connect sessions have no sparkContext
            cap = 200  # spark.sql.shuffle.partitions' default
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return cap
    return max(1, min(cap, (size + bytes_per_partition - 1) // bytes_per_partition))


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a DataFrame whose scan produced fewer
    splits than the cluster has cores — the canonical fix for a
    compute-bound stage (hashing, vector math) reading a small/unsplit
    file. At real scale inputs arrive in many splits and this is a no-op;
    locally a single small parquet otherwise pins 31 of 32 cores idle."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
