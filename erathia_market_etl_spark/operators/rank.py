"""Distributed exact per-group rank and running sum via the block
decomposition.

The scale problem: ``ROW_NUMBER() OVER (PARTITION BY g ORDER BY ...)``
funnels each group through ONE task, and with no PARTITION BY the whole
frame goes through ``Exchange SinglePartition + Sort + Window``. Fine
over a bounded grain (a 50-row distinct-value count table), a
scale-killer over a data-scaling grain (customers, documents, users):
at 100 TB that is billions of rows through a single sort.

The decomposition (same family as ``text_length_trim``, generalized to
near-unique value domains):

  1. quantize the sort value into coarse BLOCKS — ``block = s DIV w``
     with ``s`` the ascending sort key and ``w`` a constant width.
     Truncating division is monotone non-decreasing in ``s`` (for
     positive ``w``), so blocks are contiguous ranges of the total
     order. The block count is ``value_range / w`` — bounded by the
     DOMAIN of the value (price ceilings, date spans), not by the row
     count, which is what keeps the offsets table tiny at any SF.
  2. per-block counts (map-side combinable aggregate), then the
     cumulative ``below`` offset and total ``n`` via a window over the
     TINY block table;
  3. broadcast the offsets back and take ``row_number()`` WITHIN each
     block (``Window.partitionBy(block)`` — parallel across blocks);
     ``rank = below + rn`` is the exact rank because blocks are
     order-aligned and the within-block order completes the total
     order (callers must pass a tie-breaking key).

Reference parity: the reference engine has no window functions at all —
this is beyond-reference engine surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _guard_scratch(df: DataFrame, names: set[str], ctx: str) -> None:
    """Reject input frames whose columns collide with the kernel's
    scratch/output names — these are exported kernels, and a silent
    ``withColumn`` overwrite would destroy a caller column (r12 ADVICE
    on grouped_rank/grouped_prefix_sum)."""
    clash = sorted(names & set(df.columns))
    if clash:
        raise ValueError(
            f"{ctx}: input columns {clash} collide with scratch/output "
            f"column names; rename them before calling"
        )


def grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    value: Column,
    tie_col: str,
    *,
    block_width: int,
    out_rank: str = "rank",
    out_n: str = "n",
) -> DataFrame:
    """Append the exact 1-based ASCENDING rank of ``value`` (ties broken
    by ``tie_col``) WITHIN each ``group_cols`` group, plus the group
    size — without ever planning a per-group global sort.

    This is the module's block decomposition with the grouping columns
    carried through every step: a bare
    ``ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v)`` funnels each
    group through ONE task, and when the group grain is data-scaling
    (customers per nation, docs per source) that is the global-sort
    scale-killer in per-group form. Here instead:

      1. ``block = v DIV block_width`` (truncating division is monotone
         non-decreasing in ``v`` for positive widths, so blocks are
         contiguous ranges of each group's order; block COUNT is
         bounded by the value DOMAIN / width, not the row count);
      2. per-(group, block) counts fold map-side; the cumulative
         ``below`` offsets and the group total ``n`` ride windows over
         the TINY (group x block) table;
      3. ``row_number()`` runs within (group, block) — parallel across
         blocks even inside one huge group — and
         ``rank = below + rn`` completes the exact total order.

    ``value`` must cast losslessly onto a long; callers pick
    ``block_width`` from the value's DOMAIN so the offsets table stays
    O(groups x thousands)."""
    if block_width <= 0:
        raise ValueError("block_width must be > 0")
    _guard_scratch(
        df, {"_s", "_blk", "_rn", "_below", "_n", out_rank, out_n}, "grouped_rank"
    )
    based = df.withColumn("_s", value.cast("long")).withColumn(
        "_blk", F.expr(f"_s DIV {int(block_width)}")
    )
    counts = based.groupBy(*group_cols, "_blk").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w_below = (
        Window.partitionBy(*group_cols)
        .orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *group_cols,
        "_blk",
        F.coalesce(F.sum("_cnt").over(w_below), F.lit(0)).alias("_below"),
        F.sum("_cnt").over(Window.partitionBy(*group_cols)).alias("_n"),
    )
    w_within = Window.partitionBy(*group_cols, "_blk").orderBy("_s", tie_col)
    return (
        based.withColumn("_rn", F.row_number().over(w_within))
        .join(F.broadcast(offsets), [*group_cols, "_blk"])
        .withColumn(out_rank, (F.col("_below") + F.col("_rn")).cast("long"))
        .withColumn(out_n, F.col("_n").cast("long"))
        .drop("_s", "_blk", "_rn", "_below", "_n")
    )


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: list[str],
    value: Column,
    tie_col: str,
    weight: Column,
    *,
    block_width: int,
    out_col: str = "cum",
) -> DataFrame:
    """Append the exact running ``SUM(weight) OVER (PARTITION BY group
    ORDER BY value, tie_col ROWS UNBOUNDED PRECEDING)`` — current row
    INCLUDED — via the same block decomposition as ``grouped_rank``:
    per-(group, block) weight sums fold map-side, the carry into each
    block rides a window over the tiny (group x block) table, and the
    within-block running sum is a window partitioned by (group, block)
    — parallel across blocks even inside one huge group, never a
    per-group single-task funnel. This is the prefix-sum sibling of
    ``grouped_rank`` (events_peak_concurrency inlines the ungrouped
    time-domain case; mart_pareto_concentration consumes this one).

    ``value`` and ``weight`` must cast losslessly onto longs; pick
    ``block_width`` from the value's DOMAIN."""
    if block_width <= 0:
        raise ValueError("block_width must be > 0")
    _guard_scratch(
        df, {"_s", "_blk", "_w", "_win", "_carry", out_col}, "grouped_prefix_sum"
    )
    based = (
        df.withColumn("_s", value.cast("long"))
        .withColumn("_blk", F.expr(f"_s DIV {int(block_width)}"))
        .withColumn("_w", weight.cast("long"))
    )
    blk = based.groupBy(*group_cols, "_blk").agg(F.sum("_w").alias("_bsum"))
    w_carry = (
        Window.partitionBy(*group_cols)
        .orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = blk.select(
        *group_cols,
        "_blk",
        F.coalesce(F.sum("_bsum").over(w_carry), F.lit(0)).alias("_carry"),
    )
    w_within = (
        Window.partitionBy(*group_cols, "_blk")
        .orderBy("_s", tie_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        based.withColumn("_win", F.sum("_w").over(w_within))
        .join(F.broadcast(carry), [*group_cols, "_blk"])
        .withColumn(out_col, (F.col("_carry") + F.col("_win")).cast("long"))
        .drop("_s", "_blk", "_w", "_win", "_carry")
    )
