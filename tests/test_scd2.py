"""SCD2 merge semantics on literal frames: change tracking, new-key
insertion, no-op updates, and multi-batch version chains."""

from __future__ import annotations


import pytest

from erathia_market_etl_spark.operators.scd import OPEN_END, scd2_initial, scd2_merge


@pytest.fixture(scope="module")
def base(spark):
    return spark.createDataFrame(
        [(1, "alice", "A"), (2, "bob", "B"), (3, "carol", "C")],
        ["id", "name", "segment"],
    )


def _hist(df):
    return {
        (r["id"], r["valid_from"].isoformat(), r["valid_to"].isoformat(), r["is_current"]):
        r["segment"]
        for r in df.collect()
    }


def test_merge_versions_changed_keys_only(spark, base):
    history = scd2_initial(base, "2024-01-01")
    updates = spark.createDataFrame(
        [(1, "alice", "A2"),   # changed -> close + insert
         (2, "bob", "B")],     # identical -> no-op
        ["id", "name", "segment"],
    )
    merged = scd2_merge(history, updates, "id", ["segment"], "2024-06-01")
    h = _hist(merged)
    assert h[(1, "2024-01-01", "2024-06-01", False)] == "A"   # closed
    assert h[(1, "2024-06-01", OPEN_END, True)] == "A2"       # new version
    assert h[(2, "2024-01-01", OPEN_END, True)] == "B"        # untouched
    assert h[(3, "2024-01-01", OPEN_END, True)] == "C"
    assert len(h) == 4


def test_merge_inserts_new_keys(spark, base):
    history = scd2_initial(base, "2024-01-01")
    updates = spark.createDataFrame([(9, "dave", "D")], ["id", "name", "segment"])
    merged = scd2_merge(history, updates, "id", ["segment"], "2024-06-01")
    h = _hist(merged)
    assert h[(9, "2024-06-01", OPEN_END, True)] == "D"
    assert len(h) == 4  # 3 carried + 1 inserted


def test_multi_batch_version_chain(spark, base):
    h0 = scd2_initial(base, "2024-01-01")
    u1 = spark.createDataFrame([(1, "alice", "A2")], ["id", "name", "segment"])
    h1 = scd2_merge(h0, u1, "id", ["segment"], "2024-03-01")
    u2 = spark.createDataFrame([(1, "alice", "A3")], ["id", "name", "segment"])
    h2 = scd2_merge(h1, u2, "id", ["segment"], "2024-09-01")
    rows = sorted(
        (r["valid_from"].isoformat(), r["valid_to"].isoformat(), r["segment"], r["is_current"])
        for r in h2.filter("id = 1").collect()
    )
    assert rows == [
        ("2024-01-01", "2024-03-01", "A", False),
        ("2024-03-01", "2024-09-01", "A2", False),
        ("2024-09-01", OPEN_END, "A3", True),
    ]
    # exactly one open version per key, chain is gapless
    assert h2.filter("is_current").groupBy("id").count().filter("count > 1").count() == 0
