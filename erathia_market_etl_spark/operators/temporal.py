"""Temporal join operators Spark lacks natively: as-of join and
bounded range (interval) self-join (SURVEY.md §2.3 rebuild note — the
reference has only FK equi-joins; these are the extension-surface
temporal shapes every event/market pipeline needs).

Both are built as compositions of existing DataFrame ops — no UDFs, no
custom Catalyst rules:

* as-of join = union the two tagged streams + one sort-based window
  (``last(..., ignorenulls)`` over an unbounded-preceding frame). One
  shuffle on the partition key; NEVER a per-row range probe. This is
  the standard distributed as-of formulation — at 100 TB both streams
  shuffle once by (user) and are merged by the window sort.
* bounded range join = coarse time-bucketing + equi-join on
  (key, bucket) with each left row exploded to its two candidate
  buckets, then the exact range predicate. The equi-join prunes the
  cross product to adjacent buckets, so the theta condition only
  evaluates on near rows (DuckDB's IEJoin does the same pruning with a
  sorted index; Spark gets it from the bucket equi-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_matched",
) -> DataFrame:
    """For every left row, attach the most recent right row with
    ``right.ts <= left.ts`` and the same ``on`` key (left outer: nulls
    when no prior right row exists).

    Right rows must be unique per (on, ts) — pre-deduplicate if not, or
    ties are resolved arbitrarily. Implementation: tag right=0/left=1,
    union, and take last non-null right payload over the window ordered
    by (ts, tag) — a right row at the exact same timestamp sorts first,
    so it IS visible to the left row (>= semantics, matching SQL
    ASOF JOIN ... ON l.ts >= r.ts)."""
    right_cols = right_cols or [c for c in right.columns if c not in (on, ts)]
    payload = F.struct(F.col(ts).alias("__rts"), *[F.col(c) for c in right_cols])

    r = right.select(
        F.col(on), F.col(ts), F.lit(0).alias("__tag"), payload.alias("__payload")
    )
    l = left.select(  # noqa: E741
        "*", F.lit(1).alias("__tag"), F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload")
    )

    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = (
        l.unionByName(
            r.select(*[F.lit(None).cast(left.schema[c].dataType).alias(c)
                       for c in left.columns if c not in (on, ts)],
                     on, ts, "__tag", "__payload"),
            allowMissingColumns=False,
        )
        .withColumn("__match", F.last("__payload", ignorenulls=True).over(w))
        .filter(F.col("__tag") == 1)
    )
    return merged.select(
        *left.columns,
        F.col("__match.__rts").alias(f"{ts}{suffix}"),
        *[F.col(f"__match.{c}").alias(f"{c}{suffix}") for c in right_cols],
    )


def bounded_range_self_join(
    df: DataFrame,
    key: str,
    ts: str,
    max_gap_seconds: int,
    select_cols: list[str],
) -> DataFrame:
    """All ordered pairs (a, b) with the same key, ``0 < b.ts - a.ts <=
    max_gap``. Left rows explode into their own bucket and the next one;
    the right side joins on its exact bucket — every qualifying pair
    meets in exactly one bucket (b's), and the cross product is pruned
    to adjacent buckets before the exact predicate runs."""
    bucket = (F.unix_timestamp(F.col(ts)) / max_gap_seconds).cast("bigint")
    a = df.select(
        F.col(key),
        *[F.col(c).alias(f"a_{c}") for c in select_cols],
        F.col(ts).alias("a_ts"),
        F.explode(F.array(bucket, bucket + 1)).alias("__bucket"),
    )
    b = df.select(
        F.col(key),
        *[F.col(c).alias(f"b_{c}") for c in select_cols],
        F.col(ts).alias("b_ts"),
        bucket.alias("__bucket"),
    )
    # NTZ-safe: TIMESTAMP_NTZ (what Spark 4 infers for parquet
    # timestamps without a UTC annotation) cannot cast straight to
    # DOUBLE; routing through TIMESTAMP keeps microsecond precision.
    # The NTZ->TIMESTAMP cast applies the session-tz offset; under the
    # UTC session tz this engine forces (harden_session/get_spark —
    # documented in SCALE.md) that offset is a constant zero, so the
    # gap is unchanged. A DST-observing session tz would NOT cancel
    # for pairs straddling a transition — UTC is a requirement here.
    gap = (
        F.col("b_ts").cast("timestamp").cast("double")
        - F.col("a_ts").cast("timestamp").cast("double")
    )
    return (
        a.join(b, [key, "__bucket"])
        .filter((gap > 0) & (gap <= max_gap_seconds))
        .drop("__bucket")
    )
