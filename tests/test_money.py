"""Money-arithmetic edge cases (r1 ADVICE): sign-aware half-cent
rounding and the non-negative variance clamp."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from erathia_market_etl_spark.functions.money import (
    exact_std,
    money_avg,
    round2_det,
)


def test_round2_det_negative_half_cent_away_from_zero(spark):
    rows = spark.range(1).select(
        round2_det(F.lit(-0.125)).alias("neg"),
        round2_det(F.lit(0.125)).alias("pos"),
        round2_det(F.lit(-0.124)).alias("neg_under"),
        round2_det(F.lit(0.0)).alias("zero"),
    ).collect()[0]
    # HALF_UP away from zero, like the reference's ROUND(x, 2):
    assert rows["neg"] == -0.13   # not -0.12 (the old toward-+inf bug)
    assert rows["pos"] == 0.13
    assert rows["neg_under"] == -0.12
    assert rows["zero"] == 0.0


def test_round2_det_sql_twin_matches(spark):
    import duckdb

    vals = [-3.555, -0.125, -0.005, 0.005, 0.125, 2.675, 1e9 + 0.015]
    got = spark.createDataFrame([(v,) for v in vals], "x double").select(
        round2_det(F.col("x")).alias("r")
    ).collect()
    want = [
        duckdb.sql(f"SELECT SIGN(x) * FLOOR(ABS(x) * 100 + 0.5) / 100 "
                    f"FROM (SELECT CAST({v!r} AS DOUBLE) AS x)").fetchone()[0]
        for v in vals
    ]
    assert [r["r"] for r in got] == want


def test_money_avg_negative_values(spark):
    df = spark.createDataFrame([(-0.12,), (-0.13,)], "v double")
    out = df.agg(money_avg("v").alias("a")).collect()[0]["a"]
    assert out == -0.13  # exact mean -0.125 rounds away from zero


def test_exact_std_never_nan_on_constant_column(spark):
    # large-magnitude constant column where the one-pass cancellation
    # sxx - sx²/n lands NEGATIVE in double (-128.0 for this value/count —
    # found by search): sqrt used to return NaN; the clamp pins 0.0
    df = spark.createDataFrame([(135229879.87,)] * 57, "v double")
    out = df.agg(exact_std("v").alias("s")).collect()[0]["s"]
    assert out == 0.0 and not math.isnan(out)


def test_exact_std_matches_formula(spark):
    vals = [1.0, 2.0, 3.0, 4.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = df.agg(exact_std("v").alias("s")).collect()[0]["s"]
    mean = sum(vals) / len(vals)
    want = math.sqrt(sum((v - mean) ** 2 for v in vals) / (len(vals) - 1))
    assert abs(out - want) < 1e-12


