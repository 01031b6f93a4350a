"""Column-profiling queries: the data-quality summary a warehouse runs
before trusting a new drop (null rates, cardinalities, ranges) — one
output row per profiled column, every statistic an exact integer or a
deterministically-rendered string so the DuckDB twin is hash-exact.

Rendering rules (the cross-engine trap here is STRING FORMATTING, not
arithmetic):
  * longs render via CAST(x AS STRING) — identical on both engines;
  * timestamps render truncated to whole seconds via strftime-style
    formatting (sub-second trailing-zero trimming differs between the
    engines' native casts);
  * doubles render as exact CENTS integers (the money.py idiom —
    min/max commute with the monotonic cents transform), never as a
    float-to-string cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.parquet_io import load_table
from .registry import query


# ---------------------------------------------------------------------------
# histogram_equi_depth: exact equal-frequency histogram via the
# distributed rank decomposition.
# ---------------------------------------------------------------------------

HISTOGRAM_BUCKETS = 10

HISTOGRAM_EQUI_DEPTH_ORACLE = f"""
    WITH r AS (
        SELECT CAST(l_quantity AS BIGINT) AS v,
               ROW_NUMBER() OVER (
                   ORDER BY CAST(l_quantity AS BIGINT),
                            l_orderkey, l_linenumber
               ) AS rk,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM lineitem
    )
    SELECT (rk - 1) * {HISTOGRAM_BUCKETS} // n AS bucket_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(v) AS lo,
           MAX(v) AS hi,
           CAST(SUM(v) AS BIGINT) AS sum_v
    FROM r
    GROUP BY (rk - 1) * {HISTOGRAM_BUCKETS} // n
    ORDER BY bucket_id
    """


@query("histogram_equi_depth", HISTOGRAM_EQUI_DEPTH_ORACLE, local=True)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-frequency (equi-depth) histogram of lineitem
    quantity in HISTOGRAM_BUCKETS (10) buckets — the statistic
    optimizers and data-quality monitors keep per column. Equi-depth
    under HEAVY VALUE DUPLICATION (50 distinct quantities across the
    whole fact) is exactly where a naive per-value histogram fails:
    bucket boundaries must land INSIDE repeated-value runs, which
    requires a global rank, not value counts alone.

    The global rank is the same distributed decomposition
    ``text_length_trim`` established (its docstring carries the full
    argument): rank = (#rows with smaller value) + row_number within
    the value group, under the total order (v, l_orderkey,
    l_linenumber). The below/total table is the tiny per-value count
    aggregate (<= 50 rows — its cumulative window is single-partition
    over 50 rows, then broadcast back); the within-value row_number
    window partitions BY value, and only (v, orderkey, linenumber)
    longs ride that exchange. bucket = (rank-1)*k DIV n is exact
    integer arithmetic, so bucket populations differ by at most one
    row and the DuckDB twin (a literal global ROW_NUMBER — the
    single-node formulation) is hash-exact.

    At 100 TB the one structural caveat is distinct-value cardinality:
    this plan wants #distinct values << #rows (true for quantities,
    ratings, categorical codes). For near-unique value domains the
    per-value table degenerates toward corpus size — the production
    path there is pre-bucketing values into ~1e6 quantized cells first
    (same plan, cells as values), trading exactness of boundaries
    INSIDE a cell for a bounded below-table."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("v"),
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
    )
    return equi_depth_frame(li)


def equi_depth_frame(
    li: DataFrame, buckets: int = HISTOGRAM_BUCKETS
) -> DataFrame:
    """Core of histogram_equi_depth over any (v: long, k1, k2) frame
    with (v, k1, k2) a total order — split out so planted-duplication
    tests can drive the rank decomposition and the equal-population
    law directly."""
    counts = li.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    w_below = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bounds = counts.select(
        "v",
        F.coalesce(F.sum("cnt").over(w_below), F.lit(0)).alias("below"),
        F.sum("cnt").over(Window.partitionBy()).alias("n_total"),
    )
    w_within = Window.partitionBy("v").orderBy("k1", "k2")
    ranked = (
        li.withColumn("rw", F.row_number().over(w_within))
        .join(F.broadcast(bounds), "v")
        .select(
            "v",
            F.expr(
                f"(below + rw - 1) * {buckets} DIV n_total"
            ).alias("bucket_id"),
        )
    )
    return (
        ranked.groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.sum("v").cast("long").alias("sum_v"),
        )
        .orderBy("bucket_id")
    )


# ---------------------------------------------------------------------------
# agg_weighted_median: exact quantity-weighted median price per flag.
# ---------------------------------------------------------------------------

# $5 price blocks — the TPC-H extendedprice domain is fixed
# (~900..~105000 dollars), so the (flag x block) table stays O(20k)
# rows at ANY data volume.
WMEDIAN_BLOCK_CENTS = 500

AGG_WEIGHTED_MEDIAN_ORACLE = """
    WITH li AS (
        SELECT l_returnflag AS flag,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS qty,
               l_orderkey * 10 + l_linenumber AS tie
        FROM lineitem
    ),
    tot AS (
        SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(qty) AS BIGINT) AS total_qty
        FROM li GROUP BY flag
    ),
    cum AS (
        SELECT flag, cents,
               CAST(SUM(qty) OVER (PARTITION BY flag
                                   ORDER BY cents, tie
                                   ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cw
        FROM li
    )
    SELECT t.flag, t.n_rows, t.total_qty,
           (SELECT MIN(c.cents) FROM cum c
            WHERE c.flag = t.flag AND 2 * c.cw >= t.total_qty)
               AS weighted_median_cents
    FROM tot t
    ORDER BY t.flag
    """


@query("agg_weighted_median", AGG_WEIGHTED_MEDIAN_ORACLE, local=True)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median unit price per return flag — the
    robust 'typical traded price' statistic (each row votes with its
    quantity, so a 50-unit line moves the median 50x more than a
    1-unit line; the plain median of line prices ignores volume). The
    lower weighted median: the smallest price whose cumulative weight
    reaches half the total, min{{v : 2*cum(v) >= W}} — cum is
    monotone, so the answer is a MIN over a threshold filter on the
    running weight.

    Scale shape: the running weight comes from
    ``operators/rank.py grouped_prefix_sum`` — per-(flag, $5 price
    block) weight sums fold map-side, carries ride the tiny
    (flag x block) table, within-block windows partition by
    (flag, block); a bare SUM() OVER (PARTITION BY flag ORDER BY
    price) would funnel each flag's full line population (a third of
    the fact table) through one task. The threshold pick and the
    totals are group-sized aggregates. All-integer: exact cents,
    exact long quantities, no floats."""
    from ..operators.rank import grouped_prefix_sum

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("tie"),
    )
    tot = li.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("qty").cast("long").alias("total_qty"),
    )
    cum = grouped_prefix_sum(
        li,
        ["flag"],
        F.col("cents"),
        "tie",
        F.col("qty"),
        block_width=WMEDIAN_BLOCK_CENTS,
        out_col="cw",
    )
    med = (
        cum.join(F.broadcast(tot.select("flag", "total_qty")), "flag")
        .filter(2 * F.col("cw") >= F.col("total_qty"))
        .groupBy("flag")
        .agg(F.min("cents").cast("long").alias("weighted_median_cents"))
    )
    return (
        tot.join(med, "flag")
        .select("flag", "n_rows", "total_qty", "weighted_median_cents")
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# privacy_k_anonymity: k-anonymity audit over quasi-identifiers.
# ---------------------------------------------------------------------------

KANON_K = 5  # the audit threshold: groups smaller than k are re-identifiable

PRIVACY_K_ANONYMITY_ORACLE = f"""
    WITH cells AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS cell_n
        FROM customer GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(cell_n) AS BIGINT) AS n_rows
        FROM cells
    )
    SELECT tot.n_cells, tot.n_rows,
           (SELECT CAST(MIN(cell_n) AS BIGINT) FROM cells) AS min_cell,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cells
            WHERE cell_n < {KANON_K}) AS risky_cells,
           (SELECT CAST(COALESCE(SUM(cell_n), 0) AS BIGINT) FROM cells
            WHERE cell_n < {KANON_K}) AS risky_rows,
           (SELECT CAST(COALESCE(SUM(cell_n), 0) AS BIGINT) FROM cells
            WHERE cell_n < {KANON_K}) * 1000000 // tot.n_rows
               AS risky_share_ppm
    FROM tot
    """


@query("privacy_k_anonymity", PRIVACY_K_ANONYMITY_ORACLE, local=True)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY audit (Sweeney 2002) over the customer table's
    quasi-identifier pair (nation, market segment): a row is
    re-identifiable when its quasi-identifier CELL holds fewer than
    KANON_K (5) rows, so the audit reports the cell count, the
    smallest cell, and how many cells/rows fall under k (exact-ppm
    share) — the release gate a training-data governance pass runs
    before publishing a derived table. (The PII-scrub operator,
    text_pii_scrub, handles direct identifiers; this is the
    LINKAGE-risk side: quasi-identifiers that join to external data.)

    Scale shape: one (nation x segment)-keyed count — map-side
    combinable, cell-grain output bounded by the quasi-identifier
    DOMAIN (25 x 5 here), then scalar rollups over that tiny cell
    table. Nothing but the cell table crosses any exchange at 100 TB.
    All-integer."""
    cells = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("cell_n"))
    )
    risky = F.col("cell_n") < KANON_K
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("cell_n").cast("long").alias("n_rows"),
        F.min("cell_n").cast("long").alias("min_cell"),
        F.sum(risky.cast("long")).cast("long").alias("risky_cells"),
        F.sum(F.when(risky, F.col("cell_n")).otherwise(0)).cast("long")
        .alias("risky_rows"),
    ).select(
        "n_cells",
        "n_rows",
        "min_cell",
        "risky_cells",
        "risky_rows",
        F.expr("risky_rows * 1000000 DIV n_rows").cast("long")
        .alias("risky_share_ppm"),
    )
