"""Window-function and time-window operators over the events table.

The reference has NO window functions and NO streaming (SURVEY.md §2.5,
§2.9) — this module supplies the batch surface the target engine must
expose: ranking/lag/frames (``Window.partitionBy``), plus tumbling /
sliding / session time windows (``F.window`` / ``F.session_window``),
which are also the exact shapes Structured Streaming executes with a
watermark (see ``streaming/``).

Determinism notes:
  * every ORDER BY inside a window carries an ``event_id`` tiebreak;
  * windowed SUM/AVG over doubles uses the DECIMAL(38,12) pattern —
    DuckDB evaluates running frames with segment trees, Spark
    sequentially, so double accumulation order differs (money.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import cents, money_sum_cents
from ..sources.events import load_events
from .registry import query


@query(
    "window_rank_user_events",
    oracle="""
    SELECT user_id, event_id,
           ROW_NUMBER()  OVER w AS rn,
           RANK()        OVER w AS rnk,
           DENSE_RANK()  OVER (PARTITION BY user_id ORDER BY event_type) AS type_rank
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, rn
    """,
)
def window_rank_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family: row_number / rank / dense_rank."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wt = Window.partitionBy("user_id").orderBy("event_type")
    return events.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(wt).alias("type_rank"),
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT user_id, event_id, value,
           LAG(value)  OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           value - COALESCE(LAG(value) OVER w, 0) AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, event_id
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + per-row derived delta (identical IEEE subtraction on
    both engines — no rounding needed)."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagv = F.lag("value").over(w)
    return events.select(
        "user_id", "event_id", "value",
        lagv.alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.coalesce(lagv, F.lit(0.0))).alias("delta"),
    )


@query(
    "window_running_total",
    oracle="""
    SELECT user_id, event_id,
           ROUND(SUM(CAST(value AS DECIMAL(38,12)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)::DOUBLE
               AS running_value,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
    FROM events
    ORDER BY user_id, event_id
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative frame (UNBOUNDED PRECEDING..CURRENT ROW). Exact decimal
    accumulation — Spark evaluates running sums sequentially, DuckDB with
    a segment tree, so double order differs."""
    events = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "user_id", "event_id",
        (F.round(F.sum(cents("value")).over(w).cast("decimal(38,0)") / 100, 2)
         .cast("double").alias("running_value")),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


@query(
    "window_distribution_family",
    oracle="""
    SELECT user_id, event_id,
           NTILE(4)       OVER w AS quartile,
           FLOOR(PERCENT_RANK() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
           FLOOR(CUME_DIST()    OVER w * 1000000 + 0.5) / 1000000 AS cume,
           FIRST_VALUE(event_id) OVER w AS first_event,
           LAST_VALUE(event_id)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND UNBOUNDED FOLLOWING) AS last_event,
           NTH_VALUE(event_id, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND UNBOUNDED FOLLOWING) AS second_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, event_id
    """,
)
def window_distribution_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution/navigation window family: ntile, percent_rank,
    cume_dist, first/last/nth value. last/nth use the full-partition
    frame (the default running frame would return the current row).
    Ratios round through the FLOOR trick — both engines divide the same
    integers, but repr differences at 6dp are possible otherwise."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    r6 = lambda c: (F.floor(c * 1000000 + F.lit(0.5)) / 1000000).cast("double")  # noqa: E731
    return events.select(
        "user_id", "event_id",
        F.ntile(4).over(w).alias("quartile"),
        r6(F.percent_rank().over(w)).alias("pct_rank"),
        r6(F.cume_dist().over(w)).alias("cume"),
        F.first("event_id").over(w).alias("first_event"),
        F.last("event_id").over(wf).alias("last_event"),
        F.nth_value("event_id", 2).over(wf).alias("second_event"),
    )


@query(
    "tumbling_hourly_stats",
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
def tumbling_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (F.window, 1h) — the batch form of the
    Structured Streaming hourly aggregation (streaming/event_stream.py
    runs the identical groupBy under a watermark)."""
    events = load_events(spark, sf_dir)
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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


@query(
    "sliding_window_counts",
    oracle="""
    WITH assigned AS (
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS window_start, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE AS window_start, value
        FROM events
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(value AS DECIMAL(38,12))), 2)::DOUBLE AS total_value
    FROM assigned
    GROUP BY 1, 2
    ORDER BY window_start
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h length, 30min slide): every event lands in two
    overlapping windows. Spark expands via F.window; the oracle expands
    explicitly with a 2-way UNION ALL."""
    events = load_events(spark, sf_dir)
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum_cents(cents("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events", "total_value",
        )
    )


@query(
    "session_window_stats",
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
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30min inactivity gap) via F.session_window — the
    merge-on-gap semantics Structured Streaming uses for stateful session
    aggregation. Oracle reconstructs sessions with lag + running sum.
    Spark's session end = last event + gap; the oracle mirrors that."""
    events = load_events(spark, sf_dir)
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
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


@query(
    "sessionize_by_gap",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS BIGINT) AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM numbered
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def sessionize_by_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization as a window-function composition (the classic
    lag -> boundary flag -> running-sum pattern): a new session starts
    when the gap to the previous event exceeds 30 minutes; the running
    sum of boundary flags numbers sessions 1..k per user. Unlike
    F.session_window (session_window_stats), this yields stable ordinal
    session ids and exact durations, and the same two-window shape runs
    on any engine. Timestamps compare in exact integer microseconds
    (events are micro-aligned; Spark unix_micros == DuckDB epoch_us).

    At scale: both windows share one partitioning (user_id) — a single
    shuffle, then two sequential passes over each partition."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = events.select(
        "user_id", "event_id", "ts",
        F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1)
        .otherwise(0).alias("new_sess"),
    )
    numbered = flagged.select(
        "user_id", "ts",
        F.sum("new_sess").over(w).alias("session_seq"),
    )
    return (
        numbered.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            .alias("duration_us"),
        )
    )


# ---------------------------------------------------------------------------
# ohlc_hourly + twap_daily: market-data aggregation shapes over the
# irregular event stream.
# ---------------------------------------------------------------------------

OHLC_HOURLY_ORACLE = """
    WITH px AS (
        SELECT event_type, ts, event_id,
               CAST(FLOOR(value * 100 + 0.5e0) AS BIGINT) AS cents
        FROM events
    ),
    ranked AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_start, cents,
               ROW_NUMBER() OVER w_asc AS rn_open,
               ROW_NUMBER() OVER w_desc AS rn_close
        FROM px
        WINDOW w_asc AS (PARTITION BY event_type, date_trunc('hour', ts)
                         ORDER BY ts, event_id),
               w_desc AS (PARTITION BY event_type, date_trunc('hour', ts)
                          ORDER BY ts DESC, event_id DESC)
    )
    SELECT event_type, hour_start,
           CAST(MAX(CASE WHEN rn_open = 1 THEN cents END) AS BIGINT)
               AS open_cents,
           MAX(cents) AS high_cents,
           MIN(cents) AS low_cents,
           CAST(MAX(CASE WHEN rn_close = 1 THEN cents END) AS BIGINT)
               AS close_cents,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM ranked
    GROUP BY event_type, hour_start
    ORDER BY event_type, hour_start
    """


@query("ohlc_hourly", OHLC_HOURLY_ORACLE)
def ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candlesticks per event type — the market-data
    aggregation the reference's domain (a market ETL) implies but never
    ships: open/close are the first/last tick under the deterministic
    total order (ts, event_id) (a bare arg_min/first over ts would be
    tie-nondeterministic and engines would disagree), high/low are
    plain MIN/MAX, prices ride exact cents. Formulated as two
    row_number windows over ONE (type, hour) partitioning feeding a
    single aggregate — both windows and the groupBy reuse the same
    exchange.

    At 100 TB tick volume this is the standard first rollup: one
    exchange on (instrument, hour), everything downstream
    candle-count-sized."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour_start")
    px = load_events(spark, sf_dir).select(
        "event_type", "ts", "event_id", cents.alias("cents"), hour
    )
    w_asc = Window.partitionBy("event_type", "hour_start").orderBy(
        "ts", "event_id"
    )
    w_desc = Window.partitionBy("event_type", "hour_start").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = px.select(
        "event_type",
        "hour_start",
        "cents",
        F.row_number().over(w_asc).alias("rn_open"),
        F.row_number().over(w_desc).alias("rn_close"),
    )
    return (
        ranked.groupBy("event_type", "hour_start")
        .agg(
            F.max(F.when(F.col("rn_open") == 1, F.col("cents")))
            .cast("long").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max(F.when(F.col("rn_close") == 1, F.col("cents")))
            .cast("long").alias("close_cents"),
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
        )
    )


TWAP_DAILY_ORACLE = """
    WITH px AS (
        SELECT event_type, ts, event_id,
               CAST(ts AS DATE) AS day,
               CAST(FLOOR(value * 100 + 0.5e0) AS BIGINT) AS cents
        FROM events
    ),
    held AS (
        SELECT event_type, day, cents,
               epoch_us(COALESCE(
                   LEAD(ts) OVER (PARTITION BY event_type, day
                                  ORDER BY ts, event_id),
                   CAST(day + 1 AS TIMESTAMP))) - epoch_us(ts)
                   AS held_us
        FROM px
    )
    SELECT event_type, day,
           CAST(SUM(cents * held_us) AS BIGINT) AS cents_us,
           CAST(SUM(held_us) AS BIGINT) AS held_total_us,
           CAST(CAST(SUM(cents * held_us) AS BIGINT)
                // CAST(SUM(held_us) AS BIGINT) AS BIGINT) AS twap_cents,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM held
    GROUP BY event_type, day
    ORDER BY event_type, day
    """


@query("twap_daily", TWAP_DAILY_ORACLE)
def twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average price per event type over the
    IRREGULAR tick stream (TimescaleDB's time_weight shape): each tick
    holds its price until the next tick in the same (type, day), the
    last tick holds until midnight, and TWAP = sum(price x held
    seconds) / sum(held seconds) — the estimator a plain AVG gets wrong
    whenever sampling density correlates with level (burst-heavy
    streams). All integer arithmetic: cents x whole seconds, truncating
    DIV — hash-exact.

    Day-boundary convention (deliberate, mirrored in the oracle): the
    holding clock starts at each type's FIRST tick of the day, not at
    midnight — no carry-in from the previous day's close, so days are
    independently computable (embarrassingly parallel at 100 TB; a
    carried-LOCF variant would chain days). One (type, day)-keyed
    exchange serves the LEAD window and the aggregate."""
    px = load_events(spark, sf_dir).select(
        "event_type",
        "ts",
        "event_id",
        F.col("ts").cast("date").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"),
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    nxt = F.coalesce(
        F.lead("ts").over(w),
        F.date_add(F.col("day"), 1).cast("timestamp"),
    )
    held = px.select(
        "event_type",
        "day",
        "cents",
        (F.unix_micros(nxt) - F.unix_micros("ts"))
        .cast("long").alias("held_us"),
    )
    return (
        held.groupBy("event_type", "day")
        .agg(
            F.sum(F.col("cents") * F.col("held_us"))
            .cast("long").alias("cents_us"),
            F.sum("held_us").cast("long").alias("held_total_us"),
            F.expr(
                "CAST(sum(cents * held_us) AS BIGINT)"
                " DIV sum(held_us)"
            ).alias("twap_cents"),
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
        )
    )


# ---------------------------------------------------------------------------
# events_peak_concurrency: sweep-line peak concurrent sessions per day.
# ---------------------------------------------------------------------------

EVENTS_PEAK_CONCURRENCY_ORACLE = """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ),
    sess AS (
        SELECT MIN(ts) AS s, MAX(ts) + INTERVAL 30 MINUTE AS e
        FROM numbered GROUP BY user_id, session_id
    ),
    deltas AS (
        SELECT s AS t, 1 AS delta FROM sess
        UNION ALL
        SELECT e AS t, -1 AS delta FROM sess
    ),
    run AS (
        SELECT t, delta,
               SUM(delta) OVER (ORDER BY t, delta DESC
                                ROWS UNBOUNDED PRECEDING) AS conc
        FROM deltas
    )
    SELECT CAST(t AS DATE) AS day,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrent,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS sessions_started,
           CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS sessions_ended
    FROM run GROUP BY 1 ORDER BY day
    """


@query("events_peak_concurrency", oracle=EVENTS_PEAK_CONCURRENCY_ORACLE)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak CONCURRENT sessions per calendar day — the capacity-planning
    statistic (how many users were on at once, at the worst moment) —
    via the classic SWEEP LINE: each 30-min-gap session (the
    session_window_stats semantics: end = last event + gap) emits
    (+1 at start, -1 at end); the running sum of deltas in time order
    IS the live concurrency, and the per-day max of that running sum
    is the peak. Tie rule: at equal timestamps starts count before
    ends (delta DESC — touching sessions are concurrent); within a tie
    run every row moves the sum by the same ±1, so the SET of partial
    sums (hence the max) is tie-order-independent on both engines.

    Scale shape: the naive running sum is a global-ordered window —
    Exchange SinglePartition over the session-delta stream, which
    scales with the data. Here the prefix sum is BLOCK-DECOMPOSED like
    operators/rank.py: deltas quantize into MINUTE blocks (bounded by
    the observation TIME DOMAIN, ~43k/month, not by volume); per-block
    delta sums fold map-side; the carry into each block rides a window
    over the tiny block table; the within-block running sum is a
    window PARTITIONED BY block — parallel across blocks, never a
    single-task funnel. The per-day rollup is calendar-bounded.

    Reference parity: beyond-reference analytics surface; composes the
    session_window operator (§2.9 batch analog) with the prefix-sum
    kernel family (text_length_trim / grouped_rank)."""
    sessions = (
        load_events(spark, sf_dir)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(F.col("w.start").alias("s"), F.col("w.end").alias("e"))
    )
    return peak_concurrency_frame(sessions)


def peak_concurrency_frame(sessions: DataFrame) -> DataFrame:
    """Core of events_peak_concurrency over any (s, e) interval frame
    — factored for the generative brute-force equivalence test
    (tests/test_timeseries.py::
    test_peak_concurrency_matches_bruteforce_on_random_intervals pits
    it against a pure-Python sweep line on random interval sets)."""
    deltas = sessions.select(
        F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        sessions.select(F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    based = deltas.withColumn(
        "_blk",
        F.expr("CAST(CAST(t AS TIMESTAMP) AS LONG) DIV 60"),
    )
    blk_sums = based.groupBy("_blk").agg(F.sum("delta").alias("_bsum"))
    w_carry = (
        Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = blk_sums.select(
        "_blk", F.coalesce(F.sum("_bsum").over(w_carry), F.lit(0)).alias("_carry")
    )
    w_within = (
        Window.partitionBy("_blk")
        .orderBy(F.asc("t"), F.desc("delta"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = (
        based.withColumn("_within", F.sum("delta").over(w_within))
        .join(F.broadcast(carry), "_blk")
        .select(
            "t",
            "delta",
            (F.col("_carry") + F.col("_within")).cast("long").alias("conc"),
        )
    )
    return (
        run.groupBy(F.col("t").cast("date").alias("day"))
        .agg(
            F.max("conc").cast("long").alias("peak_concurrent"),
            F.sum((F.col("delta") == 1).cast("long")).cast("long")
            .alias("sessions_started"),
            F.sum((F.col("delta") == -1).cast("long")).cast("long")
            .alias("sessions_ended"),
        )
    )
