"""RocksDB state-store provider parity (r14 VERDICT item 3).

Every stateful-streaming attestation elsewhere in the suite runs on the
default HDFSBackedStateStoreProvider. At 100-TB-class state the RocksDB
provider is the production choice (state spills to local disk instead of
executor heap, incremental snapshot + changelog checkpointing), and its
checkpoint/recovery format differs — so "the streams are correct" must
be pinned on BOTH providers, not just the default. This module re-runs
the five registered stateful stream queries (tumbling watermark agg,
session_window merge, stream-stream symmetric-hash interval join,
dropDuplicates key dedup, applyInPandasWithState running totals — one
per state-store operator family) under RocksDB and asserts the
collected rows are IDENTICAL to the default-provider run.

The provider conf is scoped set/restore on the shared session conf —
safe because the suite executes queries sequentially (same contract as
run_available_now's state_partitions scope). Each memory-sink run uses
a fresh temp checkpoint, so the provider choice applies cleanly at
query start.
"""

from __future__ import annotations

import contextlib

import pytest

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
SF_SMOKE = "/root/testdata/sf0.001"

STATEFUL_STREAM_QUERIES = [
    "stream_tumbling_hourly",        # watermarked tumbling agg state
    "stream_session_stats",          # session-window merge state
    "stream_stream_interval_join",   # symmetric hash join, 4 stores/part
    "stream_dedup_keys",             # dropDuplicates key state
    "stream_user_running_totals",    # applyInPandasWithState custom state
]


@contextlib.contextmanager
def _provider(spark, provider_class: str):
    old = spark.conf.get(PROVIDER_CONF, None)
    spark.conf.set(PROVIDER_CONF, provider_class)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(PROVIDER_CONF)
        else:
            spark.conf.set(PROVIDER_CONF, old)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", STATEFUL_STREAM_QUERIES)
def test_stateful_stream_matches_default_provider_on_rocksdb(spark, name):
    """Same stream, same input, both providers -> byte-identical rows.

    This is the driver's hash-match claim carried to RocksDB: the state
    store is an implementation detail of the plan, so provider choice
    must never change emitted values, only where state bytes live."""
    from erathia_market_etl_spark.plans import registry

    registry._load_all()
    fn = registry.QUERIES[name]

    default_rows = _rows(fn(spark, SF_SMOKE))
    with _provider(spark, ROCKSDB):
        assert spark.conf.get(PROVIDER_CONF) == ROCKSDB
        rocksdb_rows = _rows(fn(spark, SF_SMOKE))

    assert default_rows, f"{name} produced no rows — vacuous parity"
    assert rocksdb_rows == default_rows

