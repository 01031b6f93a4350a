"""Structured Streaming semantics the bounded oracle runs can't cover:
state persistence across micro-batches and watermark late-data
dropping. Uses crafted multi-file sources so the micro-batch sequence is
deterministic."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from erathia_market_etl_spark.streaming.event_stream import (
    hourly_stats_stream,
    run_available_now,
    user_running_totals_stream,
)

TS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _write_batch_file(spark, rows, path, mtime, schema=None):
    df = spark.createDataFrame(rows, schema or TS_SCHEMA).coalesce(1)
    df.write.mode("overwrite").parquet(path + ".tmp")
    part = [f for f in os.listdir(path + ".tmp") if f.endswith(".parquet")][0]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    os.rename(os.path.join(path + ".tmp", part), path)
    os.utime(path, (mtime, mtime))  # file source orders batches by mtime


def _ts(h, m=0):
    import datetime

    return datetime.datetime(2024, 1, 1, h, m)


@pytest.fixture()
def staged_dir(tmp_path):
    return str(tmp_path / "stream_src")


def _read_stream(spark, src_dir, max_files=1):
    return (
        spark.readStream.schema(TS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )


def test_state_persists_across_microbatches(spark, staged_dir):
    # 3 files -> 3 micro-batches; user 1 appears in all three
    _write_batch_file(spark, [(1, _ts(1), 1, "a", 10.0), (2, _ts(1), 2, "a", 5.0)],
                      f"{staged_dir}/b0.parquet", 1_000_000)
    _write_batch_file(spark, [(3, _ts(2), 1, "b", 20.0)],
                      f"{staged_dir}/b1.parquet", 1_000_100)
    _write_batch_file(spark, [(4, _ts(3), 1, "c", 30.0), (5, _ts(3), 2, "b", 5.0)],
                      f"{staged_dir}/b2.parquet", 1_000_200)

    out = run_available_now(user_running_totals_stream(_read_stream(spark, staged_dir)))
    rows = out.collect()
    # update mode: one emission per (user, batch containing that user)
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["n_events"], r["total_value"]))
    assert len(by_user[1]) == 3  # user 1 touched in 3 batches
    assert max(by_user[1]) == (3, 60.0)  # cumulative state survived batches
    assert sorted(by_user[1]) == [(1, 10.0), (2, 30.0), (3, 60.0)]
    assert max(by_user[2]) == (2, 10.0)


def test_watermark_drops_late_data_in_append_mode(spark, staged_dir):
    """The late-data DROP path of the registered stream_tumbling_hourly
    shape (hourly_stats_stream is the builder that query wraps), driven
    through an actual readStream file source with an out-of-order row
    crossing the watermark (r13 VERDICT item 5 — the session twin is
    test_session_watermark_drops_late_row_from_finalized_session).

    Spark applies a newly computed watermark one batch AFTER the data
    that produced it (the late-row filter for batch N uses the
    watermark derived from batches <= N-2's commit). Hence 3 batches:
    b0 establishes max ts 03:30 -> wm 02:30; b1 runs under that wm and
    emits/evicts the hour-1 window; b2's late hour-1 row is dropped."""
    _write_batch_file(
        spark,
        [(1, _ts(1, 10), 1, "a", 1.0), (2, _ts(2, 10), 1, "a", 1.0),
         (3, _ts(3, 30), 1, "a", 1.0)],
        f"{staged_dir}/b0.parquet", 1_000_000,
    )
    _write_batch_file(spark, [(4, _ts(3, 40), 2, "a", 7.0)],
                      f"{staged_dir}/b1.parquet", 1_000_100)
    _write_batch_file(spark, [(5, _ts(1, 20), 1, "a", 100.0)],
                      f"{staged_dir}/b2.parquet", 1_000_200)

    agg = hourly_stats_stream(_read_stream(spark, staged_dir), watermark="1 hour")
    out = run_available_now(agg, output_mode="append").collect()

    emitted = {(r["window_start"].hour, r["n_events"], r["total_value"]) for r in out}
    # hour-1 closed with ONLY the on-time event; the late value-100 row
    # arrived after eviction and was dropped. hour-2/3 windows end after
    # the final watermark (02:40) so append never emits them.
    assert emitted == {(1, 1, 1.0)}

    # non-vacuity: the SAME files through the batch tumbling aggregate
    # (no watermark) DO count the late row — hour 1 holds 2 events
    batch = (
        spark.read.parquet(staged_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_hour = {r["w"]["start"].hour: r["n"] for r in batch}
    assert by_hour[1] == 2


def test_checkpoint_recovery_restores_state(spark, staged_dir, tmp_path):
    """Kill-and-restart: a second query started from the same checkpoint
    must (a) not reprocess batch 0 and (b) resume the state store, so
    running totals continue from the pre-restart values."""
    ckpt = str(tmp_path / "ckpt")
    collected: list[tuple] = []

    def run_once():
        agg = user_running_totals_stream(_read_stream(spark, staged_dir))

        def sink(bdf, bid):
            for r in bdf.collect():
                collected.append((bid, r["user_id"], r["n_events"], r["total_value"]))

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_batch_file(spark, [(1, _ts(1), 7, "a", 10.0), (2, _ts(1), 7, "a", 5.0)],
                      f"{staged_dir}/b0.parquet", 1_000_000)
    run_once()  # run 1: batch 0 only
    assert collected == [(0, 7, 2, 15.0)]

    _write_batch_file(spark, [(3, _ts(2), 7, "a", 20.0)],
                      f"{staged_dir}/b1.parquet", 1_000_100)
    run_once()  # run 2: resumes from checkpoint -> only batch 1, state restored
    assert collected == [(0, 7, 2, 15.0), (1, 7, 3, 35.0)]


def test_dedup_within_watermark_reemits_after_state_expiry(spark, staged_dir):
    """dropDuplicatesWithinWatermark: a key is emitted once and
    suppressed while its state lives; once the watermark passes the
    key's event time + delay, state is evicted and a later duplicate is
    treated as new. (Plain dropDuplicates would suppress it forever —
    and grow state forever; the watermarked variant is the 100 TB form.)
    Watermark application lags one batch (same as the late-data test)."""
    # b0: user 7 first seen at 01:00; in-batch dup at 01:10 suppressed
    _write_batch_file(
        spark,
        [(1, _ts(1, 0), 7, "a", 1.0), (2, _ts(1, 10), 7, "a", 1.0)],
        f"{staged_dir}/b0.parquet", 1_000_000,
    )
    # b1: wm still 00:10 -> state for user 7 alive -> dup (id 3) dropped;
    # user 8 at 05:00 is new (emitted) and advances the wm to 04:00
    _write_batch_file(
        spark,
        [(3, _ts(1, 20), 7, "a", 1.0), (4, _ts(5, 0), 8, "b", 1.0)],
        f"{staged_dir}/b1.parquet", 1_000_100,
    )
    # b2: runs under wm 04:00; state cleanup at its commit evicts user 7
    # (01:00 + 1h < 04:00). user 9 keeps the stream advancing.
    _write_batch_file(
        spark,
        [(5, _ts(5, 30), 9, "c", 1.0)],
        f"{staged_dir}/b2.parquet", 1_000_200,
    )
    # b3: user 7's state is gone -> this duplicate is 'new' again
    _write_batch_file(
        spark,
        [(6, _ts(6, 0), 7, "a", 1.0)],
        f"{staged_dir}/b3.parquet", 1_000_300,
    )

    deduped = (
        _read_stream(spark, staged_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id"])
    )
    out = run_available_now(deduped, output_mode="append")
    emitted = sorted(r["event_id"] for r in out.collect())
    assert emitted == [1, 4, 5, 6]


def test_stream_static_anti_dedup_multibatch(spark, staged_dir):
    """stream_incremental_new_docs' join shape over crafted
    micro-batches: a doc stream LEFT ANTI joins a STATIC corpus
    fingerprint table; each batch keeps only unseen-content docs.
    Stateless — a doc whose fingerprint is in the corpus is dropped in
    EVERY batch (no state store involved), and stream-internal dups
    pass through (cross-batch dedup is the static side's job)."""
    from pyspark.sql.types import StructType as St

    doc_schema = (
        St()
        .add("doc_id", LongType())
        .add("text", StringType())
    )

    # corpus knows "alpha" and "beta"
    corpus = spark.createDataFrame(
        [(0, "alpha"), (1, "beta")], doc_schema
    ).select(F.md5(F.trim(F.lower(F.col("text")))).alias("fp")).distinct()

    _write_batch_file(spark, [(10, "alpha"), (11, "gamma")],
                      f"{staged_dir}/b0.parquet", 1_000_000, schema=doc_schema)
    _write_batch_file(spark, [(12, "Beta "), (13, "gamma"), (14, "delta")],
                      f"{staged_dir}/b1.parquet", 1_000_100, schema=doc_schema)

    stream = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
    )
    fp = F.md5(F.trim(F.lower(F.col("text")))).alias("fp")
    new_docs = stream.select("doc_id", fp).join(corpus, "fp", "left_anti")
    out = run_available_now(new_docs, output_mode="append")
    got = sorted(r["doc_id"] for r in out.collect())
    # 10 dropped (alpha in corpus), 12 dropped ('Beta ' normalizes to a
    # corpus fingerprint ACROSS batches), 13 passes even though 11 had
    # identical content in an earlier batch (stateless by design)
    assert got == [11, 13, 14]


def test_session_watermark_drops_late_row_from_finalized_session(
    spark, staged_dir
):
    """r12 VERDICT item 6: the late-data DROP path of the registered
    stream_session_stats shape, driven through an actual readStream
    file source with an out-of-order row crossing the watermark — not
    just the withWatermark call. Batch sequencing follows the
    one-batch watermark lag documented in
    test_watermark_drops_late_data_in_append_mode: b0 establishes the
    watermark, b1 runs under it and finalizes+emits the hour-1
    session, b2's late row (which WOULD have merged into that session)
    arrives behind the watermark and must be dropped."""
    from erathia_market_etl_spark.streaming.event_stream import (
        session_stats_stream,
    )

    _write_batch_file(
        spark,
        [(1, _ts(1, 0), 1, "a", 1.0), (2, _ts(1, 10), 1, "a", 2.0),
         (3, _ts(5, 0), 9, "a", 0.0)],
        f"{staged_dir}/b0.parquet", 1_000_000,
    )
    _write_batch_file(spark, [(4, _ts(5, 30), 9, "a", 0.0)],
                      f"{staged_dir}/b1.parquet", 1_000_100)
    # late: inside user 1's already-finalized session, behind the wm
    _write_batch_file(spark, [(5, _ts(1, 20), 1, "a", 100.0)],
                      f"{staged_dir}/b2.parquet", 1_000_200)

    agg = session_stats_stream(
        _read_stream(spark, staged_dir), gap="30 minutes", watermark="1 hour"
    )
    out = run_available_now(agg, output_mode="append").collect()

    # exactly ONE finalized session: user 1, [01:00, 01:40), the two
    # on-time rows only — the late value-100 row neither re-opened the
    # session nor created a second one; user 9's session end (06:00)
    # is past the final watermark so append never emits it
    assert len(out) == 1
    r = out[0]
    assert r["user_id"] == 1
    assert (r["session_start"].hour, r["session_start"].minute) == (1, 0)
    assert (r["session_end"].hour, r["session_end"].minute) == (1, 40)
    assert (r["n_events"], r["total_value"]) == (2, 3.0)

    # non-vacuity: the SAME rows through the batch session_window agg
    # (no watermark) DO merge the late row into one 3-event session —
    # so the streaming assertion above discriminates the drop path
    batch = (
        spark.read.parquet(staged_dir)
        .filter(F.col("user_id") == 1)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(batch) == 1 and batch[0]["n"] == 3


def test_interval_join_drops_late_purchase_behind_watermark(
    spark, staged_dir
):
    """The late-data DROP path of the registered
    stream_stream_interval_join shape
    (click_purchase_interval_join_stream is the builder that query
    wraps), driven through an actual readStream file source with an
    out-of-order purchase crossing the watermark (r13 VERDICT item 5 —
    completes the file-source trilogy with the tumbling and session
    pins above). Batch sequencing per the one-batch watermark lag:
    b0 carries an ON-TIME click+purchase match for user 1 plus a
    06:00 row that establishes wm 04:00; b1 and b2 are fillers running
    under that wm — JOIN STATE EVICTION lags one batch beyond the
    late-row filter (measured here: with only one filler, b2's late
    purchase still found the click in state and joined), so user 1's
    click (matchable only through 02:00 < wm 04:00) is gone by the end
    of b2; b3's late user-1 purchase at 01:40 — inside the click's
    one-hour join interval but far behind the watermark — finds no
    state and must be dropped instead of joined."""
    from erathia_market_etl_spark.streaming.event_stream import (
        click_purchase_interval_join_stream,
    )

    _write_batch_file(
        spark,
        [(1, _ts(1, 0), 1, "click", 0.0), (2, _ts(1, 20), 1, "purchase", 9.0),
         (3, _ts(6, 0), 9, "click", 0.0)],
        f"{staged_dir}/b0.parquet", 1_000_000,
    )
    _write_batch_file(spark, [(4, _ts(6, 10), 8, "purchase", 5.0)],
                      f"{staged_dir}/b1.parquet", 1_000_100)
    _write_batch_file(spark, [(6, _ts(6, 20), 8, "purchase", 5.0)],
                      f"{staged_dir}/b2.parquet", 1_000_200)
    _write_batch_file(spark, [(5, _ts(1, 40), 1, "purchase", 100.0)],
                      f"{staged_dir}/b3.parquet", 1_000_300)

    joined = click_purchase_interval_join_stream(
        _read_stream(spark, staged_dir)
    )
    out = run_available_now(joined, output_mode="append").collect()

    # exactly the on-time match: user 1's click joined its 01:20
    # purchase; the late 01:40 purchase (in-interval!) was dropped, and
    # user 8/9's unmatched rows never emit in an inner join
    assert [(r["click_id"], r["purchase_id"], r["purchase_value"])
            for r in out] == [(1, 2, 9.0)]

    # non-vacuity: the batch theta join over the SAME files matches
    # BOTH purchases to the click — the streaming assertion above
    # discriminates the watermark drop, not join selectivity
    ev = spark.read.parquet(staged_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"))
    batch = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).collect()
    assert sorted(r["purchase_id"] for r in batch) == [2, 5]
