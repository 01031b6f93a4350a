"""Mergeable-sketch queries: HyperLogLog registers under a MAX merge,
with an exact-integer contract.

The reference has no sketch surface beyond its exact aggregates; the
registered ``agg_approx_sketches`` query covers Spark's built-in
``approx_count_distinct`` CONTRACT (error-bound booleans against the
exact answer). This module adds the thing the built-in hides: the
REGISTER STATE itself as a first-class mergeable table — the shape a
100 TB pipeline actually ships between stages (per-partition /
per-day register tables merged by MAX, never re-scanning the raw
keys).

Everything is integer arithmetic so the DuckDB twin is hash-exact:

* hash: the well-known 32-bit avalanche ``x = ((x >> 16) ^ x) *
  0x45d9f3b (mod 2^32)`` applied twice plus a final fold — every
  intermediate <= 2^32 * 0x45d9f3b ~ 3.2e17, inside int64 on BOTH
  engines (Spark ANSI multiply never overflows, DuckDB never errors).
  Production keys wider than 32 bits would ride xxhash64 instead;
  DuckDB has no xxhash64, and the CONTRACT here is the register
  algebra, not the hash family.
* rho (leading-zero rank of the 26-bit suffix) via LENGTH(BIN(w)) —
  an exact string-op bit length on both engines.
* the harmonic denominator is kept 2^27-scaled: S = sum of
  2^(27 - r_j) with absent registers contributing 2^27 each — exact
  BIGINT, order-free.
* the estimate is a single integer division of a precomputed literal
  numerator (alpha_64 * m^2 * 2^27 * 1e6, alpha_64 = 0.709365 from
  Flajolet et al. 2007) by S * 1e6 — correctly-rounded-free, so no
  float ever enters the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_io import load_table
from .registry import query

HLL_P = 6                      # 2^6 = 64 registers
HLL_M = 1 << HLL_P
_W_MOD = 1 << (32 - HLL_P)     # 26-bit suffix window
_RHO_MAX = 27                  # 26 suffix bits all zero -> rho = 27
_MOD32 = 1 << 32
_MIX = 0x45D9F3B               # 73244475
# alpha_64 * m^2 * 2^27, ppm-scaled: 709365 * 64 * 64 * 2^27
_EST_NUM = 389977532918661120


def _hash32_sql(x: str) -> str:
    """The avalanche hash as engine-portable SQL (DuckDB spelling uses
    xor(); Spark's twin below uses ^). Input must be < 2^32. The input
    expression is re-parenthesized before the `// 65536` shift — a
    compound input like `a * 16 + b` would otherwise bind as
    `a*16 + (b // 65536)` and fold the xor to zero (caught by the JL
    projection's cross-engine compare; the Spark twin always
    parenthesized)."""
    h1 = f"(xor(({x}) // 65536, ({x})) * {_MIX}) % {_MOD32}"
    h2 = f"(xor(({h1}) // 65536, ({h1})) * {_MIX}) % {_MOD32}"
    return f"xor(({h2}) // 65536, ({h2}))"


def _hash32_spark_sql(x: str) -> str:
    """The same avalanche in Spark SQL spelling (^ for xor, DIV)."""
    h1 = f"(((({x}) DIV 65536) ^ ({x})) * {_MIX}) % {_MOD32}"
    h2 = f"(((({h1}) DIV 65536) ^ ({h1})) * {_MIX}) % {_MOD32}"
    return f"(({h2}) DIV 65536) ^ ({h2})"


def _hash32_col(x: str) -> F.Column:
    return F.expr(_hash32_spark_sql(x))


AGG_HLL_REGISTERS_ORACLE = f"""
    WITH keys AS (
        SELECT CAST(year(o_orderdate) AS VARCHAR) AS grp,
               o_custkey % {_MOD32} AS x
        FROM orders
    ),
    h AS (SELECT grp, {_hash32_sql('x')} AS h FROM keys),
    rr AS (
        SELECT grp, h // {_W_MOD} AS idx,
               CASE WHEN h % {_W_MOD} = 0 THEN {_RHO_MAX}
                    ELSE {_RHO_MAX} - LENGTH(BIN(h % {_W_MOD})) END AS rho
        FROM h
    ),
    regs AS (SELECT grp, idx, MAX(rho) AS r FROM rr GROUP BY grp, idx),
    merged AS (
        SELECT 'all' AS grp, idx, MAX(r) AS r FROM regs GROUP BY idx
    ),
    u AS (SELECT * FROM regs UNION ALL SELECT * FROM merged),
    st AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS nonzero_registers,
               CAST(SUM(1::BIGINT << ({_RHO_MAX} - r)) AS BIGINT)
                   + ({HLL_M} - COUNT(*)) * {1 << _RHO_MAX} AS harmonic_scaled
        FROM u GROUP BY grp
    ),
    exact AS (
        SELECT grp, CAST(COUNT(DISTINCT x) AS BIGINT) AS exact_distinct
        FROM keys GROUP BY grp
        UNION ALL
        SELECT 'all', CAST(COUNT(DISTINCT x) AS BIGINT) FROM keys
    )
    SELECT s.grp,
           s.nonzero_registers,
           {HLL_M} - s.nonzero_registers AS zero_registers,
           s.harmonic_scaled,
           {_EST_NUM} // (s.harmonic_scaled * 1000000) AS est_distinct,
           e.exact_distinct
    FROM st s JOIN exact e ON s.grp = e.grp
    ORDER BY s.grp
    """


@query("agg_hll_registers", AGG_HLL_REGISTERS_ORACLE, local=True)
def agg_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-customer registers per order year, plus an
    'all' row MERGED FROM the per-year register tables (max per
    register index — never a re-scan of the keys): the mergeable-sketch
    algebra a 100 TB pipeline ships between stages. The 'all' row's
    estimate deduplicates customers ACROSS years (sum of per-year
    exacts would not) — the property that makes register tables, not
    counts, the right intermediate.

    Output per group: nonzero/zero register counts, the exact
    2^27-scaled harmonic denominator, the integer HLL estimate, and
    the exact distinct count as the accuracy audit (the audit column
    is the expensive COUNT(DISTINCT) the sketch replaces — production
    drops it; it rides here so the driver-style compare attests
    estimator quality round after round).

    Plan: hash/idx/rho are narrow column arithmetic; registers are ONE
    map-side-combinable aggregate on (grp, idx) — each map partition
    emits at most groups x 64 rows, so the exchange is sketch-sized,
    not key-sized (THE selling point at scale); the merge is a second
    aggregate over that already-tiny table. See module docstring for
    the exactness contract."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("string").alias("grp"),
        (F.col("o_custkey") % F.lit(_MOD32)).alias("x"),
    )
    return hll_registers_frame(orders)


def hll_registers_frame(keys: DataFrame) -> DataFrame:
    """Core of agg_hll_registers over any (grp: string, x: long < 2^32)
    frame — split out so planted-key tests can drive the register
    algebra, the merge law, and the estimator directly."""
    rr = keys.select(
        "grp",
        "x",
        _hash32_col("x").alias("h"),
    ).select(
        "grp",
        "x",
        F.expr(f"h DIV {_W_MOD}").alias("idx"),
        F.expr(
            f"CASE WHEN h % {_W_MOD} = 0 THEN {_RHO_MAX} "
            f"ELSE {_RHO_MAX} - LENGTH(BIN(h % {_W_MOD})) END"
        ).alias("rho"),
    )
    regs = (
        rr.groupBy("grp", "idx")
        .agg(F.max("rho").alias("r"))
        .localCheckpoint()  # feeds both the stats and the merge
    )
    merged = regs.groupBy("idx").agg(F.max("r").alias("r")).select(
        F.lit("all").alias("grp"), "idx", "r"
    )
    u = regs.select("grp", "idx", "r").unionAll(merged)
    st = u.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("nonzero_registers"),
        (
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {_RHO_MAX} - r)")
            ).cast("long")
            + (F.lit(HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << _RHO_MAX)
        ).cast("long").alias("harmonic_scaled"),
    )
    exact = rr.groupBy("grp").agg(
        F.countDistinct("x").cast("long").alias("exact_distinct")
    ).unionAll(
        rr.agg(
            F.countDistinct("x").cast("long").alias("exact_distinct")
        ).select(F.lit("all").alias("grp"), "exact_distinct")
    )
    return (
        st.join(exact, "grp")
        .select(
            "grp",
            "nonzero_registers",
            (F.lit(HLL_M) - F.col("nonzero_registers"))
            .cast("long").alias("zero_registers"),
            "harmonic_scaled",
            F.expr(
                f"{_EST_NUM} DIV (harmonic_scaled * 1000000)"
            ).alias("est_distinct"),
            "exact_distinct",
        )
        .orderBy("grp")
    )
