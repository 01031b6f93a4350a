"""Streaming registry entries: bounded Structured Streaming runs with
batch oracles (SURVEY.md §2.9 upgrade path, made concrete).

Each entry builds the streaming plan, executes it to completion with
Trigger.AvailableNow into a memory sink, and returns the sink table.
With the single-file fixture there is exactly one micro-batch, so
update-mode output must equal the equivalent batch aggregation — which
is exactly what the DuckDB oracle computes. Multi-batch/watermark
semantics are covered by tests/test_streaming.py (they need crafted
file sequences, not the fixture)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.event_stream import (
    click_purchase_interval_join_stream,
    hourly_stats_stream,
    run_available_now,
    session_stats_stream,
    stream_events,
    user_running_totals_stream,
)
from .registry import query


@query(
    "stream_tumbling_hourly",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS window_start,
           DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(value AS DECIMAL(38,12))), 2)::DOUBLE AS total_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation executed as a bounded
    stream; must match the batch tumbling_hourly_stats oracle exactly.
    state_partitions=8 sizes the state-store count to the bounded run
    (see run_available_now)."""
    return run_available_now(
        hourly_stats_stream(stream_events(spark, sf_dir)), state_partitions=8
    )


@query(
    "stream_session_stats",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, value,
               SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(value AS DECIMAL(38,12))), 2)::DOUBLE AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful session-window merge executed as a bounded stream; the
    oracle reconstructs sessions with lag + running sum (same as the
    batch session_window_stats)."""
    # session-window streaming rejects update mode; complete keeps every
    # finalized-or-open session, which for a bounded run IS the batch result
    return run_available_now(
        session_stats_stream(stream_events(spark, sf_dir)),
        output_mode="complete",
        state_partitions=8,
    )


@query(
    "stream_stream_interval_join",
    oracle="""
    SELECT c.event_id AS click_id,
           c.user_id,
           c.ts AS click_ts,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    ORDER BY click_id, purchase_id
    """,
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (StreamingSymmetricHashJoin with
    watermark-bounded state on both sides) executed as a bounded run;
    the batch theta-join oracle must match exactly. state_partitions=8:
    the join carries four state stores per partition and per-store
    fixed costs dominated the bounded run at the session default (6.7 s
    → 2.1 s at sf0.1; rationale in run_available_now's docstring)."""
    return run_available_now(
        click_purchase_interval_join_stream(stream_events(spark, sf_dir)),
        output_mode="append",
        state_partitions=8,
    )


@query(
    "stream_user_running_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           FLOOR(SUM(value) * 100 + 0.5) / 100 AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running totals. Single input file -> one micro-batch -> the one
    update-mode emission per user is the final cumulative value, which
    the batch GROUP BY oracle reproduces."""
    return run_available_now(
        user_running_totals_stream(stream_events(spark, sf_dir)),
        state_partitions=8,
    )


@query(
    "stream_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type
    """,
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicates over a key projection
    holds every seen key in the state store and emits each exactly once
    — the streaming form of exact dedup (first-seen-wins). Projecting
    to the key columns BEFORE dedup keeps the output deterministic
    (which physical row 'wins' is arrival-order-dependent; the key set
    is not) and shrinks state to key-width. Unbounded keys need the
    watermarked variant (dropDuplicatesWithinWatermark, covered in
    tests/test_streaming.py) to age state out."""
    events = stream_events(spark, sf_dir)
    deduped = events.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_available_now(deduped, output_mode="append", state_partitions=8)


@query(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    ORDER BY e.event_id
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich each event micro-batch with a batch
    dimension table — the canonical streaming lookup/enrichment pattern.
    The static side is planned per micro-batch (broadcast hash join —
    dims stay broadcastable no matter how long the stream runs) and is
    re-read each batch, so slowly-changing dims are picked up without
    restarting the query. Stateless: no watermark, no state store."""
    from ..sources.parquet_io import load_table

    events = stream_events(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    enriched = events.join(
        customer, events["user_id"] == customer["c_custkey"]
    ).select("event_id", "user_id", "segment")
    return run_available_now(enriched, output_mode="append")


# ---------------------------------------------------------------------------
# stream_incremental_new_docs: streaming incremental-ingest dedup.
# ---------------------------------------------------------------------------

STREAM_INCREMENTAL_ORACLE = """
    WITH corpus AS (
        SELECT DISTINCT md5(trim(lower(text))) AS fp
        FROM documents WHERE doc_id < 250
    ),
    incoming AS (
        SELECT doc_id, md5(trim(lower(text))) AS fp
        FROM documents WHERE doc_id >= 250
    )
    SELECT i.doc_id, i.fp
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = i.fp)
    ORDER BY i.doc_id
    """


@query("stream_incremental_new_docs", oracle=STREAM_INCREMENTAL_ORACLE)
def stream_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of dedup_incremental_new_docs (same oracle): each
    arriving document micro-batch keeps only documents whose content
    fingerprint is ABSENT from the static corpus fingerprint table — a
    stream-static LEFT ANTI join, the don't-retrain-on-what-you-have
    gate of a continuously-ingesting training pipeline. STATELESS: the
    dedup state lives in the static fingerprint table (re-planned per
    micro-batch, so a corpus refresh is picked up without restarting
    the query), not the state store — contrast stream_dedup_keys,
    which dedups WITHIN the stream and pays state per key. At scale
    the static side is a ~64 B/doc fingerprint table; only
    fingerprints shuffle, never text."""
    from ..sources.parquet_io import load_table
    from ..streaming.event_stream import stream_documents

    fp = F.md5(F.trim(F.lower(F.col("text")))).alias("fp")
    corpus = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select(fp)
        .distinct()
    )
    incoming = (
        stream_documents(spark, sf_dir)
        .filter(F.col("doc_id") >= 250)
        .select("doc_id", fp)
    )
    return run_available_now(
        incoming.join(corpus, "fp", "left_anti"), output_mode="append"
    )
