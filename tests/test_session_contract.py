"""ANSI-mode contract (SCALE.md "ANSI mode", decided r10).

ANSI arithmetic is pinned ON: the integer-heavy operators (pagerank
fixed-point, z-order interleave, HLL registers) each
hand-prove a non-wrap envelope, and under ANSI those proofs are
load-bearing — an envelope violation is a loud ARITHMETIC_OVERFLOW, not
a silently wrapped sketch. These tests pin all three legs: the conf is
on (and re-pinned onto handed-in sessions), overflow REALLY raises in
this session, and the proved envelope extreme REALLY doesn't.

The engine JVM's JIT compiler pool is capped at two threads (SCALE.md
"Session defaults"); the last test reads the flag back from HotSpot.
"""

from __future__ import annotations

import pytest

from erathia_market_etl_spark.session import harden_session


def test_ansi_enabled_in_engine_sessions(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_harden_session_repins_ansi(spark):
    # a host session configured with legacy (non-ANSI) arithmetic must
    # come back hardened — same contract as timezone/nanos
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        harden_session(spark)
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_overflow_raises_not_wraps(spark):
    # ANSI live-fire: bigint overflow is an error at the expression,
    # never a wrapped value
    with pytest.raises(Exception, match="(?i)overflow|ARITHMETIC"):
        spark.sql(
            "SELECT 9223372036854775807 + CAST(1 AS BIGINT) AS boom"
        ).collect()


def test_zorder_envelope_extreme_is_overflow_free(spark):
    # the z-order guard admits span - 1 < 2^(63 - bits); at the largest
    # admitted span the scale product is (2^47 - 1) * 2^16 = 2^63 - 2^16,
    # one step inside the bigint range — must evaluate cleanly under
    # ANSI (the guard at sources/parquet_io.py rejects anything larger)
    bits = 16
    vmax = (1 << (63 - bits)) - 1
    row = spark.sql(
        f"SELECT CAST({vmax} AS BIGINT) * CAST({1 << bits} AS BIGINT) AS k"
    ).collect()[0]
    assert row["k"] == (1 << 63) - (1 << bits)


def test_engine_jvm_caps_jit_compiler_pool(spark):
    # read the flag the JVM runs with, not the argument list: HotSpot
    # sizes the pool from the core count (3 on 4 cores) unless capped
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("CICompilerCount").getValue() == "2"
