"""Scan layout: ``fan_out`` rebalances a scan with too few splits and
leaves one at full parallelism alone."""

from __future__ import annotations

from erathia_market_etl_spark.sources.parquet_io import fan_out


def test_fan_out_rebalances_small_scan(spark):
    """fan_out's contract: a scan with fewer splits than cores is
    round-robin rebalanced to defaultParallelism; an input already at or
    above that parallelism is returned untouched (the production case —
    no shuffle is added at real split counts)."""
    n = spark.sparkContext.defaultParallelism
    small = spark.range(100).coalesce(1)
    assert fan_out(small).rdd.getNumPartitions() == n

    big = spark.range(100).repartition(n + 3)
    out = fan_out(big)
    assert out is big  # identity, not just same partition count
