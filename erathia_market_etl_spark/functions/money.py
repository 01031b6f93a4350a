"""Deterministic money arithmetic (SURVEY.md §7.4 'Float money').

Doubles summed in partition-order are nondeterministic in the last ulp;
ROUND(sum, 2) then flips on half-cent boundaries between Spark and any
single-threaded oracle. The fix: cast each per-row money expression
(itself deterministic IEEE double math) to DECIMAL(38,12), aggregate
exactly — decimal addition is associative, so partition order is
irrelevant — round on the exact decimal, and only then cast back to
double. The reference rounds every money output to 2dp
(src/gold_aggregator.py:40-43,62-63,88-89,114); these helpers keep that
contract while making it reproducible at any parallelism.

Oracle-side twins (DuckDB):
    sum of x      ->  ROUND(SUM(CAST(x AS DECIMAL(38,12))), 2)::DOUBLE
    money_avg(x)  ->  ROUND(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE)
                            / COUNT(*), 2)

At 100 TB the same pattern holds: DECIMAL(38,12) leaves 26 integer
digits of headroom, and Tungsten aggregates decimals off-heap without a
Python round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,12)"


def dec2(col: Column | str) -> Column:
    """Cast a 2dp-valued double column to DECIMAL(18,2) — the required
    first step before *multiplying* money columns.

    Why: Spark casts double→decimal via the shortest decimal repr
    (BigDecimal.valueOf), DuckDB via the exact binary value — the two
    differ in the ~13th significant digit. A sum of raw-double products
    can therefore land on opposite sides of a half-cent boundary in the
    two engines (observed: q1 NATION_7, Spark …535000000018 vs DuckDB
    …534999999996, true sum exactly x.535). Casting the 2dp inputs to
    decimal first makes products (scale 4) and sums exact and
    bit-identical in both engines. SQL twin:
        CAST(col AS DECIMAL(18,2))."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def exact_sum(col: Column | str) -> Column:
    """Order-independent SUM: exact decimal accumulation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC))


def cents(col: Column | str) -> Column:
    """Exact integer cents (long) from a 2dp-valued money double.

    The cast chain double → DECIMAL(18,2) → ×100 → long is exact and
    keeps dec2()'s engine-portable rounding semantics; the aggregation
    over longs then runs entirely inside whole-stage codegen (~2× faster
    than a Decimal128 hash-agg buffer, measured at sf0.1). Products of
    two cents columns carry scale 4 (e.g. price_cents * (100 -
    discount_cents) ≡ dec2(price) * (1 - dec2(discount)) × 10^4).

    Overflow envelope: a scale-4 long sum wraps past ~9.2e14 money
    units (≈ $922 trillion) per aggregation group — far beyond any
    ledger; keep exact_sum() for unbounded-magnitude inputs."""
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("decimal(18,2)") * 100).cast("long")


def _unscale_round2(sum_long: Column, scale: int) -> Column:
    """long scaled-integer sum -> exact decimal -> ROUND 2dp double.

    The division happens once per group on the exact decimal value, so
    the result is bit-identical to the DECIMAL(38,12) pipeline (and to
    the DuckDB oracle twin)."""
    return F.round(sum_long.cast("decimal(38,0)") / (10 ** scale), 2).cast("double")


def money_sum_cents(col: Column, scale: int = 2) -> Column:
    """SUM of a scaled-long money expression, rounded to 2dp double.

    Fast path of the DECIMAL(38,12) money sum for inputs known to be
    exactly-2dp money (cents() columns, scale 2) or products of two of
    them (scale 4). Same oracle twin as that sum — values are identical
    because the integer arithmetic is exact."""
    return _unscale_round2(F.sum(col), scale)


def money_net_cents(pos: Column, neg: Column, scale: int = 2) -> Column:
    """ROUND(SUM(pos) - SUM(neg), 2) on scaled longs."""
    return _unscale_round2(F.sum(pos) - F.sum(neg), scale)


def round2_det(col: Column) -> Column:
    """Engine-independent 2dp rounding of a double:
    SIGN(x) * FLOOR(ABS(x)*100 + 0.5) / 100.

    ROUND(double, 2) differs between engines on half-cent boundaries
    (Spark rounds the shortest decimal repr HALF_UP; DuckDB rounds the
    binary value) — this variant is pure IEEE arithmetic, so identical
    input doubles always produce identical output. Sign-aware on purpose
    (r1 ADVICE): bare FLOOR(x*100+0.5) rounds negative half-cents toward
    +infinity (-0.125 -> -0.12) where the reference's ROUND HALF_UP goes
    away from zero (-0.13); mirroring ABS/SIGN keeps negative money
    (net metrics) on the reference contract. Use it whenever the value
    being rounded came from double division; exact decimals keep plain
    ROUND. SQL twin: SIGN(x) * FLOOR(ABS(x) * 100 + 0.5) / 100."""
    return (
        F.signum(col) * F.floor(F.abs(col) * 100 + F.lit(0.5)) / 100
    ).cast("double")


def money_avg(col: Column | str) -> Column:
    """AVG rounded to 2dp: exact decimal sum -> double division by count
    (IEEE division of identical inputs is engine-independent), then
    deterministic rounding."""
    return round2_det(exact_sum(col).cast("double") / F.count(F.lit(1)))


def exact_std(col: Column | str) -> Column:
    """Sample stddev from exact decimal moments: engines disagree on
    incremental (Welford) accumulation order, so compute
    sqrt((Σx² − (Σx)²/n) / (n−1)) from order-independent sums.

    The variance numerator is clamped at 0 (r1 ADVICE): for
    near-constant large-magnitude columns, double cancellation in
    Σx² − (Σx)²/n can land a hair below zero and sqrt would return NaN.
    SQL twin: SQRT(GREATEST(0.0, sxx - sx*sx/n) / (n-1))."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(c.cast(DEC)).cast("double")
    sxx = F.sum((c * c).cast(DEC)).cast("double")
    return F.sqrt(F.greatest(F.lit(0.0), sxx - sx * sx / n) / (n - F.lit(1.0)))
