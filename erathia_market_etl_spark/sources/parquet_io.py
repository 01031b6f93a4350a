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


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Persist as a bucketed table (hash-partitioned files + bucket
    metadata in the catalog). Two tables bucketed identically on their
    join key co-locate: Catalyst plans a SortMergeJoin with NO Exchange
    on either side — the shuffle was paid once at write time and is
    amortized over every subsequent join. The 100 TB pattern for
    repeated fact⋈fact joins (tests/test_bucketing.py pins the
    no-Exchange plan)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols) \
        .sortBy(*bucket_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Layout optimization for scan pruning: range-partition rows across
    files on the cluster key, sorted within each file. Every parquet
    footer then carries a TIGHT, pairwise-disjoint min/max for the key,
    so a point/range predicate skips whole files (and row groups within
    them) before reading a byte — the poor man's clustered index, and
    the single highest-leverage layout decision for a 100 TB fact table
    queried by time/key range. Hive partitioning (``partitionBy``)
    prunes on LOW-cardinality columns via directory names; range
    clustering covers the high-cardinality continuous keys hive
    partitioning can't (one dir per distinct timestamp would be
    pathological). The two compose: partitionBy(date) dirs, range-
    clustered by (key) inside each.

    repartitionByRange samples the key distribution (rangepartitioning
    exchange) so files are balanced even under skew; sortWithinPartitions
    adds row-group-level min/max tightness inside each file.
    tests/test_layout.py verifies the disjoint-footer property from the
    actual parquet metadata."""
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )


def write_partitioned_clustered(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    cluster_cols: list[str],
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """THE composed 100 TB fact layout (SCALE.md "Data layout"): hive
    ``partitionBy(partition_cols)`` directories — directory-name pruning
    on the low-cardinality axis (date) — with range-clustered
    ``cluster_cols`` files INSIDE each directory, so footer min/max
    pruning covers the high-cardinality axis (key) the directory tree
    can't.

    One range exchange on (partition_cols ++ cluster_cols) does both
    jobs: tasks are ordered lexicographically, so each partition
    directory's files come from consecutive tasks whose cluster-key
    sub-ranges are pairwise disjoint (equal keys never split across
    tasks; adjacent files may touch at a boundary value but never
    interleave). ``sortWithinPartitions`` makes the row-group stats
    tight inside each file. A date-range + key-range predicate then
    prunes directories first and skips files/row-groups second — the
    two-axis pruning a 100 TB fact scan lives on.
    tests/test_layout.py verifies the composed property from real
    parquet footers on the sf0.1 events table."""
    keys = [*partition_cols, *cluster_cols]
    (
        df.repartitionByRange(n_files, *keys)
        .sortWithinPartitions(*keys)
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


ZORDER_BITS = 16  # per-dimension resolution of the interleaved key


def zorder_key(df: DataFrame, cols: list[str], bits: int = ZORDER_BITS):
    """Z-order (Morton) key over 2+ integer columns: scale each column
    to [0, 2^bits) against its own min/max, then bit-interleave the
    scaled values (column i owns every len(cols)-th bit starting at
    position i). Returns (key Column, stats Row).

    The min/max pass is ONE distributed aggregate collapsing to a
    single driver row (`.first()` — R4-bounded); the interleave itself
    is a constant fold of shift/mask expressions, fully inside
    whole-stage codegen, zero extra passes. Min/max scaling (vs rank /
    quantile bucketing) keeps the key exact and engine-independent; the
    cost is skew-sensitivity — a heavy-hitter key crowds its bucket —
    which the range partitioner downstream absorbs by splitting on the
    OBSERVED z-key distribution, so files stay balanced even when the
    z-space isn't."""
    from pyspark.sql import functions as F

    if len(cols) < 2:
        raise ValueError("z-ordering needs >= 2 columns; use "
                         "write_range_clustered for a single key")
    if bits * len(cols) > 63:
        raise ValueError(f"{len(cols)} cols x {bits} bits overflows a long")
    stats = df.agg(
        *[F.min(c).cast("long").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("long").alias(f"mx_{c}") for c in cols],
    ).first()
    scaled = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None or mx is None:
            # empty input, an all-NULL column, or a non-integral column
            # whose cast('long') nulled out — fail with the column name
            # instead of a bare TypeError downstream
            raise ValueError(
                f"z-order column {c!r} has no integer min/max "
                "(empty input, all NULL, or non-integral type)"
            )
        span = max(int(mx) - int(mn), 0) + 1
        # Overflow envelope (r8 self-review; boundary tightened r9 per
        # ADVICE): (v - mn) * 2^bits must stay inside int64 — under the
        # pinned ANSI mode (SCALE.md) an overflow would raise mid-job;
        # this guard turns it into a named, actionable error up front.
        # The largest product is (span - 1) * 2^bits, so
        # span - 1 < 2^(63 - bits) keeps it <= 2^63 - 2^bits < 2^63;
        # at span - 1 == 2^(63 - bits) the product is exactly 2^63 and
        # wraps. Epoch-micros decades or hash-id columns exceed the
        # envelope and must be pre-bucketed by the caller (e.g. DIV to
        # days/seconds), which also gives a better curve.
        if span - 1 >= (1 << (63 - bits)):
            raise ValueError(
                f"z-order column {c!r} spans {span - 1} (> 2^{63 - bits}): "
                f"(v - min) * 2^{bits} would overflow long — pre-bucket "
                "the column (integer-divide to a coarser unit) first"
            )
        # (v - mn) * 2^bits DIV span: exact long arithmetic, lands in
        # [0, 2^bits) for v in [mn, mx]
        scaled.append(
            F.expr(
                f"(cast({c} as bigint) - {mn}L) * {1 << bits}L DIV {span}L"
            )
        )
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            pos = b * len(cols) + i
            key = key + F.shiftleft(
                F.shiftright(s, b).bitwiseAND(F.lit(1)), pos
            ).cast("long")
    return key, stats


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = ZORDER_BITS,
    mode: str = "overwrite",
) -> None:
    """Multi-dimensional clustering sink (the Delta OPTIMIZE ZORDER /
    Iceberg sort-order analog): range-partition and sort on the
    interleaved z-key, so EVERY z-ordered column gets tight per-file
    footer min/max — a predicate on ANY of the columns (or any
    combination) skips files, where write_range_clustered only serves
    its leading key. With F files, each file covers ~F^(-1/k) of each
    of the k dimensions' ranges (16 files / 2 cols -> ~1/4 per dim).

    At 100 TB this is the layout decision for fact tables queried along
    MULTIPLE independent high-cardinality axes (part AND supplier;
    user AND time): one z-order write amortizes across every axis,
    where per-axis range clustering would need a full copy each.
    Composes with hive partitioning the same way range clustering does:
    partitionBy(date) dirs, z-ordered inside each.
    tests/test_layout.py verifies the per-dimension footer-tightness
    property from real parquet metadata."""
    key, _ = zorder_key(df, cols, bits)
    zdf = df.withColumn("__zkey", key)
    (
        zdf.repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    cluster_cols: list[str] | None = None,
) -> dict:
    """Small-file compaction — the lakehouse maintenance pass (Delta
    OPTIMIZE / Iceberg rewrite_data_files analog): rewrite a parquet
    dataset fragmented by streaming appends / tiny partition writes
    into ~``target_bytes`` files, optionally re-establishing range
    clustering on ``cluster_cols`` so the compaction also RESTORES the
    footer-disjointness file skipping depends on (appends interleave
    key ranges; plain coalesce would preserve the interleaving).

    Sizing: the output file count is ceil(total_bytes / target) from
    the INPUT's on-disk bytes — compressed parquet re-encodes at
    roughly the same density, so input bytes are the right (and the
    standard) estimator; exactness of file sizes is not the contract,
    boundedness is. Local listing walks the directory; on a cluster
    the same numbers come from the catalog / FS listing — one metadata
    call either way, never a data read.

    At 100 TB this runs per partition directory (compose with the
    hive layout: compact each date dir independently — bounded work
    per run, no global shuffle); the returned stats make the before /
    after auditable. Returns {n_files_before, n_files_after,
    total_bytes, rows}."""
    import math
    import os

    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    if not files:
        # fail loudly (r10 ADVICE): a non-local path (s3://, hdfs://)
        # makes os.walk yield nothing, and a silent total=0 would
        # "compact" to one file while reporting n_files_before=0
        raise ValueError(
            f"no .parquet files found under {path!r} — "
            "compact_small_files sizes output from a LOCAL directory "
            "listing; on a cluster, derive n_out from the catalog/FS "
            "listing and call the write path directly"
        )
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(path)
    if cluster_cols:
        out = df.repartitionByRange(n_out, *cluster_cols).sortWithinPartitions(
            *cluster_cols
        )
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(out_path)
    n_after = sum(
        1
        for dp, _, fs in os.walk(out_path)
        for f in fs
        if f.endswith(".parquet")
    )
    return {
        "n_files_before": len(files),
        "n_files_after": n_after,
        "total_bytes": total,
        "rows": df.count(),
    }


def compact_partitioned(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    cluster_cols: list[str] | None = None,
) -> dict[str, dict]:
    """Per-partition-directory compaction over a hive-partitioned
    dataset — the entry point ``compact_small_files``'s docstring
    promises (r10 VERDICT item 3, made real in r11): iterate the
    ``key=value`` child dirs of ``path`` and compact EACH one
    independently into the mirrored dir under ``out_path``.

    This is the Delta OPTIMIZE / Iceberg rewrite_data_files unit of
    work: the root is never globally listed and no job ever reads more
    than one partition dir, so at 100 TB the maintenance pass is
    bounded by the largest single partition (a day of ticks), runs are
    trivially parallel across partitions, and a failed run leaves
    every untouched partition dir intact. The partition column itself
    lives in the dir name, not the files, so rewriting inside the dir
    preserves it for partition discovery on read.

    Returns {``key=value``: per-dir compact_small_files stats}."""
    import os

    part_dirs = sorted(
        d
        for d in os.listdir(path)
        if "=" in d and os.path.isdir(os.path.join(path, d))
    )
    if not part_dirs:
        raise ValueError(
            f"no hive partition dirs (key=value) under {path!r} — "
            "for a flat dataset use compact_small_files directly"
        )
    stats: dict[str, dict] = {}
    for d in part_dirs:
        # fail loudly on multi-level hive layouts (r11 ADVICE): a
        # nested date=/hour= tree would otherwise be read WITH
        # discovery by the per-dir compact_small_files call, which
        # rewrites the inner partition column as a data column and
        # silently flattens the sub-layout. Recurse-or-reject; this
        # rejects — compact the leaf dirs individually instead.
        sub = os.path.join(path, d)
        nested = [
            c
            for c in os.listdir(sub)
            if "=" in c and os.path.isdir(os.path.join(sub, c))
        ]
        if nested:
            raise ValueError(
                f"partition dir {d!r} contains nested hive dirs "
                f"({nested[:3]}...): compact_partitioned handles ONE "
                "partition level — call it per leaf level (e.g. on "
                f"{os.path.join(path, d)!r}) so the inner layout is "
                "preserved instead of flattened into a data column"
            )
        stats[d] = compact_small_files(
            spark,
            sub,
            os.path.join(out_path, d),
            target_bytes=target_bytes,
            cluster_cols=cluster_cols,
        )
    return stats
