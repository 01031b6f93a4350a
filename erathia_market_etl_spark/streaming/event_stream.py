"""Structured Streaming surface over the events table (SURVEY.md §2.9).

The reference is batch-only; this module supplies the streaming form of
the same event-window operators — ``readStream`` file source →
watermarked window aggregations → memory sinks — plus a
custom stateful operator via ``applyInPandasWithState``. Batch/stream
parity is the design invariant: every streaming aggregation here reuses
the exact groupBy shape of ``plans/event_windows.py``, so a bounded run
(``Trigger.AvailableNow``) must produce byte-identical results to the
batch query, and the oracle-checked registry entries assert exactly
that.

At scale: the file source is a stand-in for Kafka — swap
``readStream.parquet`` for ``readStream.format("kafka")`` and the plan
below the source is unchanged. State lives in the HDFS/RocksDB state
store keyed by (window, group) or (user); watermarks bound it.
"""

from __future__ import annotations

import itertools
import os
import tempfile
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.money import cents, money_sum_cents

# raw file-source schema; the ``ts`` field depends on the fixture's
# parquet annotation (see _events_raw_schema): TIMESTAMP(NANOS) arrives
# as long via spark.sql.legacy.parquet.nanosAsLong, TIMESTAMP(MICROS,
# isAdjustedToUTC=false) as TIMESTAMP_NTZ.
def _events_raw_schema(src: str) -> StructType:
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampNTZType, TimestampType

    import pyarrow.types as pat

    pa_ts = pq.read_schema(src).field("ts").type
    ts_field: Any
    if not pat.is_timestamp(pa_ts):
        # a fixture vintage storing ts as plain INT64 (no timestamp
        # annotation) reads fine as long nanos — same branch the NANOS
        # fixture takes, without touching .unit/.tz on a non-timestamp
        ts_field = LongType()
    elif pa_ts.unit == "ns":
        ts_field = LongType()
    elif pa_ts.tz is None:
        ts_field = TimestampNTZType()
    else:
        ts_field = TimestampType()
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_field),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )

_name_seq = itertools.count()


def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """events as an unbounded DataFrame. The file source needs a
    directory; the fixture is a single parquet file, so stage a symlink
    dir (no data copy). ts arrives either as long nanos (NANOS fixture
    via nanosAsLong; exact ``div 1000`` integer conversion) or as
    TIMESTAMP_NTZ (MICROS isAdjustedToUTC=false fixture), normalized to
    TIMESTAMP under the UTC session tz — identical to the batch reader
    (sources/events.py)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src, stage = _stage_single_file(sf_dir, "events.parquet")
    raw_schema = _events_raw_schema(src)
    reader = spark.readStream.schema(raw_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(stage)
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as an unbounded DataFrame — same symlink-staged
    single-file source pattern as stream_events (no timestamp
    normalization needed; the schema comes straight from the parquet
    footer via a batch read)."""
    src, stage = _stage_single_file(sf_dir, "documents.parquet")
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(stage)


# one staged symlink dir per (sf_dir, table) per process — the file
# source needs a DIRECTORY and the fixtures are single files; caching
# avoids leaking a fresh /tmp dir on every stream construction
_stage_cache: dict[tuple[str, str], tuple[str, str]] = {}


def _stage_single_file(sf_dir: str, name: str) -> tuple[str, str]:
    key = (sf_dir, name)
    if key in _stage_cache:
        # validate the cached symlink still exists — a long-lived
        # process can outlive external /tmp cleanup, and a dangling
        # stage dir fails later with an opaque empty-stream error
        # (r6 ADVICE); re-stage instead
        _, stage = _stage_cache[key]
        if os.path.islink(os.path.join(stage, name)):
            return _stage_cache[key]
        del _stage_cache[key]
    stage = tempfile.mkdtemp(prefix=f"{name.split('.')[0]}_stream_")
    src = os.path.join(sf_dir, name)
    os.symlink(src, os.path.join(stage, name))
    _stage_cache[key] = (src, stage)
    return _stage_cache[key]


def hourly_stats_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of plans/event_windows.tumbling_hourly_stats: the
    identical tumbling groupBy under an event-time watermark. State per
    (window, event_type); the watermark closes windows older than
    max(ts) - 2h so state is bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum_cents(cents("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "total_value",
        )
    )


def session_stats_stream(events: DataFrame, gap: str = "30 minutes",
                         watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of session_window_stats: merge-on-gap session
    aggregation. The state store merges overlapping sessions per user as
    events arrive; the watermark finalizes sessions whose end precedes
    it."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum_cents(cents("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events", "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState
# ---------------------------------------------------------------------------

RUNNING_TOTALS_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
RUNNING_TOTALS_STATE = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def _running_totals_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user cumulative (count, total): state persists across
    micro-batches; each batch emits the updated running values. The
    float total is batch-order-dependent in the last ulp — emitted
    values round to 2dp (money contract)."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [round(total, 2)],
        }
    )


def user_running_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    arbitrary per-key state the built-in window aggs can't express.
    Update-mode emission: one row per (user, micro-batch touched)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=RUNNING_TOTALS_OUTPUT,
        stateStructType=RUNNING_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def click_purchase_interval_join_stream(events: DataFrame,
                                        window: str = "1 hour") -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    each click joins purchases by the same user within [click, click+1h].
    Both sides carry watermarks so the state store can discard rows once
    no future match is possible (clicks kept 1h past the purchase
    watermark, purchases kept until the click watermark passes them) —
    the state-bounding contract that makes stream-stream joins viable at
    scale. Plan: StreamingSymmetricHashJoin keyed by user_id."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {window}")),
    ).select("click_id", "user_id", "click_ts", "purchase_id", "purchase_ts",
             "purchase_value")


# ---------------------------------------------------------------------------
# Bounded execution helpers
# ---------------------------------------------------------------------------

def run_available_now(
    df: DataFrame, output_mode: str = "update",
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion over all currently
    available input (Trigger.AvailableNow) into a memory sink; return
    the sink table. Bounded-run parity harness: with a single input
    file there is exactly one micro-batch, so update-mode output equals
    the batch query result.

    ``state_partitions`` scopes spark.sql.shuffle.partitions around the
    run (restored before returning): a stateful stream's state-store
    COUNT is frozen from this conf at its first checkpoint, and
    per-store fixed costs (provider init, maintenance, snapshots —
    the symmetric hash join carries FOUR stores per partition)
    dominate small bounded runs: 32 → 8 partitions is ~3× on the
    interval join at sf0.1 with identical output. State-partition
    count is a deliberate per-stream throughput choice, not an
    inherited SQL shuffle default — at production volume it goes UP.

    CONCURRENCY CONSTRAINT: the scope is a set/restore on the SHARED
    session conf, safe only because every caller (driver compare,
    bench, tests) executes queries sequentially on the session. A
    concurrently-executing query would observe the temporary value.
    For concurrent use, build the stream on ``spark.newSession()``
    (own SQLConf, shared SparkContext) instead of widening this
    helper."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        name = f"stream_result_{next(_name_seq)}"
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(name)

