"""operators/rank.py — the grouped block rank / prefix-sum kernels (r12).

Semantics pins: each grouped kernel must equal Spark's own per-group
window under the same deterministic total order, at any block width.
Plan pins: neither the kernels nor the concentration marts that
consume them may contain an Exchange SinglePartition (the whole
point).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from .conftest import SF_T2


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_grouped_rank_matches_native_on_scrambled_groups(spark):
    """grouped_rank (r12) must equal the native per-group
    ROW_NUMBER() OVER (PARTITION BY g ORDER BY v, key) for data with
    heavy ties, multiple groups, negative values, and block-boundary
    straddles — and its plan must be SinglePartition-free (the whole
    point of the decomposition)."""
    from erathia_market_etl_spark.operators.rank import grouped_rank

    base = spark.range(211).select(
        F.col("id").alias("key"),
        (F.col("id") % 5).alias("g"),
        (((F.col("id") * 13) % 29) - 7).alias("v"),  # ties + negatives
    )
    got = grouped_rank(
        base, ["g"], F.col("v"), "key", block_width=4,
        out_rank="r", out_n="n",
    )
    w = Window.partitionBy("g").orderBy("v", "key")
    want = base.withColumn("r_native", F.row_number().over(w)).withColumn(
        "n_native", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    joined = got.join(want, ["key", "g"]).select(
        "key", "g", "r", "r_native", "n", "n_native"
    )
    bad = joined.filter(
        (F.col("r") != F.col("r_native")) | (F.col("n") != F.col("n_native"))
    ).count()
    assert bad == 0
    assert joined.count() == 211
    assert "Exchange SinglePartition" not in _plan(got)


def test_grouped_rank_rejects_nonpositive_width(spark):
    from erathia_market_etl_spark.operators.rank import grouped_rank

    base = spark.range(3).select(F.col("id").alias("key"), F.lit(0).alias("g"))
    with pytest.raises(ValueError):
        grouped_rank(base, ["g"], F.col("key"), "key", block_width=0)


def test_grouped_prefix_sum_matches_native_window(spark):
    """grouped_prefix_sum (r12) must equal the native running
    SUM() OVER (PARTITION BY g ORDER BY v, key ROWS UNBOUNDED
    PRECEDING) — ties, negatives, and block straddles included — and
    stay SinglePartition-free."""
    from erathia_market_etl_spark.operators.rank import grouped_prefix_sum

    base = spark.range(197).select(
        F.col("id").alias("key"),
        (F.col("id") % 4).alias("g"),
        (((F.col("id") * 11) % 23) - 6).alias("v"),
        (((F.col("id") * 3) % 17) - 2).alias("wt"),
    )
    got = grouped_prefix_sum(
        base, ["g"], F.col("v"), "key", F.col("wt"),
        block_width=5, out_col="cum",
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v", "key")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = base.withColumn("cum_native", F.sum("wt").over(w))
    joined = got.join(want, ["key", "g"]).select("cum", "cum_native")
    assert joined.filter(F.col("cum") != F.col("cum_native")).count() == 0
    assert joined.count() == 197
    assert "Exchange SinglePartition" not in _plan(got)


def test_concentration_marts_plans_are_singlepartition_free(spark):
    """The two concentration marts (r12) compose the grouped kernels
    end-to-end: their FULL query plans must carry no Exchange
    SinglePartition — the per-group decomposition must survive the
    surrounding joins/aggregates, not just hold in kernel isolation."""
    from erathia_market_etl_spark.plans.relational import (
        mart_pareto_concentration,
        mart_revenue_gini,
    )

    for fn in (mart_revenue_gini, mart_pareto_concentration):
        plan = _plan(fn(spark, SF_T2))
        assert "Exchange SinglePartition" not in plan, fn.__name__


@pytest.mark.parametrize("width", [1, 3, 7, 100, 10**9])
def test_grouped_kernels_are_width_invariant(spark, width):
    """The block width is a PERFORMANCE knob, never a semantics knob:
    grouped_rank and grouped_prefix_sum must return identical results
    at width=1 (every value its own block), mid widths, and a width
    beyond the whole domain (one block — the degenerate plain-window
    case)."""
    from erathia_market_etl_spark.operators.rank import (
        grouped_prefix_sum,
        grouped_rank,
    )

    base = spark.range(151).select(
        F.col("id").alias("key"),
        (F.col("id") % 3).alias("g"),
        (((F.col("id") * 17) % 31) - 9).alias("v"),
        ((F.col("id") % 13) - 3).alias("wt"),
    )
    w = Window.partitionBy("g").orderBy("v", "key")
    want = (
        base.withColumn("r_native", F.row_number().over(w))
        .withColumn(
            "cum_native",
            F.sum("wt").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    got = grouped_prefix_sum(
        grouped_rank(base, ["g"], F.col("v"), "key", block_width=width,
                     out_rank="r", out_n="n"),
        ["g"], F.col("v"), "key", F.col("wt"),
        block_width=width, out_col="cum",
    )
    joined = got.join(want, ["key", "g"])
    bad = joined.filter(
        (F.col("r") != F.col("r_native"))
        | (F.col("cum") != F.col("cum_native"))
    ).count()
    assert bad == 0
    assert joined.count() == 151


def test_kernels_reject_scratch_column_collisions(spark):
    """r12 ADVICE: exported kernels must refuse input frames whose
    columns collide with the internal scratch / output names instead
    of silently overwriting and destroying them."""
    from erathia_market_etl_spark.operators.rank import (
        grouped_prefix_sum,
        grouped_rank,
    )

    base = spark.range(10).select(
        F.col("id").alias("key"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") % 5).alias("v"),
    )
    with pytest.raises(ValueError, match="collide"):
        grouped_rank(base.withColumn("_blk", F.lit(1)), ["g"],
                     F.col("v"), "key", block_width=2)
    # out_n onto an existing column is a collision too
    with pytest.raises(ValueError, match="collide"):
        grouped_rank(base.withColumn("n", F.lit(1)), ["g"],
                     F.col("v"), "key", block_width=2)
    with pytest.raises(ValueError, match="collide"):
        grouped_prefix_sum(base.withColumn("_carry", F.lit(1)), ["g"],
                           F.col("v"), "key", F.col("v"), block_width=2)
    # clean frames still pass
    assert grouped_rank(base, ["g"], F.col("v"), "key",
                        block_width=2).count() == 10
