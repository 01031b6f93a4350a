"""Temporal-join queries over events: as-of join (clicks -> latest
prior purchase per user) and bounded range self-join (error bursts).
The DuckDB oracles use the engine-native formulations (ASOF JOIN, plain
range theta-join) — maximally independent implementations of the same
semantics."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.temporal import asof_join, bounded_range_self_join
from ..sources.events import load_events
from .registry import query

# purchases deduped to one row per (user, ts) keeping max event_id —
# ASOF tie-breaking is otherwise unspecified in both engines
_PURCHASES_CTE = """
    purchases AS (
        SELECT user_id, ts, event_id, value FROM (
            SELECT user_id, ts, event_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'purchase'
        ) WHERE rn = 1
    )
"""


def _dedup_purchases(events: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    return (
        events.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )


@query(
    "asof_click_to_purchase",
    oracle=f"""
    WITH {_PURCHASES_CTE}
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS ts_matched,
           p.event_id AS event_id_matched,
           p.value AS value_matched
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY c.event_id
    """,
)
def asof_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click gets the user's most recent purchase at
    or before it (left outer). Spark side: tagged union + one sort-based
    window — one shuffle on user_id, no range probing. Oracle: DuckDB's
    native ASOF LEFT JOIN."""
    events = load_events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = _dedup_purchases(events)
    return asof_join(
        clicks, purchases, on="user_id", ts="ts", right_cols=["event_id", "value"]
    )


@query(
    "range_join_error_bursts",
    oracle="""
    WITH err AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'
    )
    SELECT a.user_id,
           a.event_id AS a_event_id,
           b.event_id AS b_event_id,
           CAST(date_sub('second', a.ts, b.ts) AS BIGINT) AS gap_seconds
    FROM err a JOIN err b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 10 MINUTE
    ORDER BY a.user_id, a_event_id, b_event_id
    """,
)
def range_join_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range self-join: pairs of error events from the same user
    within 10 minutes (burst detection). Spark side prunes via 10-minute
    time-bucket equi-join (each left row meets only its own and the next
    bucket); the oracle is DuckDB's range theta-join (IEJoin)."""
    events = load_events(spark, sf_dir)
    errs = events.filter(F.col("event_type") == "error")
    pairs = bounded_range_self_join(
        errs, key="user_id", ts="ts", max_gap_seconds=600, select_cols=["event_id"]
    )
    return pairs.select(
        "user_id",
        F.col("a_event_id"),
        F.col("b_event_id"),
        (F.col("b_ts").cast("timestamp").cast("double")
         - F.col("a_ts").cast("timestamp").cast("double"))
        .cast("bigint").alias("gap_seconds"),
    )


# ---------------------------------------------------------------------------
# funnel_ordered_conversion: strictly-ordered multi-stage funnel.
# ---------------------------------------------------------------------------

FUNNEL_STAGES = ("view", "click", "purchase")
FUNNEL_WINDOW_SECONDS = 7 * 86400  # per-step conversion window

FUNNEL_ORDERED_CONVERSION_ORACLE = f"""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
          AND e.ts <= s1.t1 + INTERVAL {FUNNEL_WINDOW_SECONDS} SECOND
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          AND e.ts <= s2.t2 + INTERVAL {FUNNEL_WINDOW_SECONDS} SECOND
        GROUP BY e.user_id
    ),
    per_user AS (
        SELECT s1.user_id, t1, t2, t3
        FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                LEFT JOIN s3 ON s2.user_id = s3.user_id
    )
    SELECT stage, users, seconds_to_here FROM (
        SELECT 1 AS ord, 'view' AS stage,
               CAST(COUNT(*) AS BIGINT) AS users,
               CAST(0 AS BIGINT) AS seconds_to_here
        FROM per_user
        UNION ALL
        -- floor each timestamp to whole epoch seconds BEFORE the
        -- per-row subtraction, exactly like Spark's unix_timestamp():
        -- fixture timestamps carry sub-second parts, so DuckDB's
        -- fractional epoch() under CAST (round-half-even) genuinely
        -- diverges per row; parity previously survived only because
        -- the final integer division landed on the same quotient
        -- (r9 ADVICE, medium)
        SELECT 2, 'click', CAST(COUNT(t2) AS BIGINT),
               COALESCE(CAST(SUM(epoch_us(t2) // 1000000
                                 - epoch_us(t1) // 1000000)
                             AS BIGINT) // NULLIF(COUNT(t2), 0), 0)
        FROM per_user
        UNION ALL
        SELECT 3, 'purchase', CAST(COUNT(t3) AS BIGINT),
               COALESCE(CAST(SUM(epoch_us(t3) // 1000000
                                 - epoch_us(t1) // 1000000)
                             AS BIGINT) // NULLIF(COUNT(t3), 0), 0)
        FROM per_user
    ) ORDER BY ord
    """


@query("funnel_ordered_conversion", oracle=FUNNEL_ORDERED_CONVERSION_ORACLE)
def funnel_ordered_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel view -> click -> purchase:
    a user advances to stage k+1 only with an event of that type
    STRICTLY AFTER their stage-k attainment time AND within the
    FUNNEL_WINDOW_SECONDS (7-day) per-step conversion window
    (earliest-qualifying semantics — the product-analytics funnel
    definition, where a purchase logged before the first view does not
    convert and one logged months later does not either; the window is
    what makes drop-off non-vacuous on any sufficiently long event
    history). Output:
    one row per stage with users reached and the mean seconds from
    funnel entry, as a truncating integer division so the contract is
    hash-exact. Per-row seconds are whole-second differences of
    FLOORED timestamps — Spark's unix_timestamp() floors each
    timestamp, and the oracle mirrors it with epoch_us // 1_000_000
    per side (fixture timestamps carry sub-second parts, so flooring
    the difference instead would diverge; r9 ADVICE).

    Plan: each stage is one type-filtered aggregate on user_id joined
    against the previous stage's attainment table — the join key and
    the aggregation key are BOTH user_id, so after the first exchange
    every stage reuses the same hash partitioning (no re-shuffle; the
    stage tables are strict row-subsets of each other). The final
    3-row presentation is a unionAll of scalar aggregates. At 100 TB:
    k stages = one events scan per stage (or one scan + pivot if the
    type column is low-cardinality enough to pre-aggregate, the
    documented alternative), all exchanges user-keyed and shrinking
    monotonically down the funnel."""
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    win = F.expr(f"INTERVAL {FUNNEL_WINDOW_SECONDS} SECOND")
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[1])
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + win)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[2])
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + win)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    per_user = (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .localCheckpoint()  # three scalar consumers below
    )
    zero = F.lit(0).cast("long")

    def _row(stage: str, t_col: str) -> DataFrame:
        if t_col == "t1":
            return per_user.agg(
                F.count(F.lit(1)).cast("long").alias("users")
            ).select(
                F.lit(stage).alias("stage"),
                "users",
                zero.alias("seconds_to_here"),
            )
        return per_user.agg(
            F.count(t_col).cast("long").alias("users"),
            F.coalesce(
                F.expr(
                    f"CAST(sum(unix_timestamp({t_col}) - unix_timestamp(t1))"
                    f" AS BIGINT) DIV nullif(count({t_col}), 0)"
                ),
                zero,
            ).alias("seconds_to_here"),
        ).select(F.lit(stage).alias("stage"), "users", "seconds_to_here")

    return (
        _row("view", "t1")
        .unionAll(_row("click", "t2"))
        .unionAll(_row("purchase", "t3"))
    )
