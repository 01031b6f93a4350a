"""Driver-facing skew-mitigation evidence (r5 VERDICT item 4).

The salted operators in operators/skew.py had local-test-only coverage;
this registers a query that routes a genuinely skewed key — events'
event_type, a handful of distinct values over the whole fact table —
through BOTH salted_sum and salted_join, with SALT-INVARIANCE as the
oracle contract: the output is defined to equal the unsalted plan's,
so the DuckDB twin is the plain GROUP BY / JOIN and any salting bug
(lost rows, double counts, salt leaking into results) breaks the hash
match. Same pattern as sim_ivf_cell_quality: the oracle pins the
path's contract, the plan pin (tests/test_plan_shapes.py) proves the
salted shape actually planned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import _unscale_round2, cents
from ..operators.skew import salted_join, salted_sum
from ..sources.parquet_io import load_table
from .registry import query

N_SALTS = 8


@query(
    "skew_salted_type_profile",
    oracle="""
    WITH dim AS (
        SELECT event_type,
               ROUND(SUM(CAST(value AS DECIMAL(38,12))), 2)::DOUBLE AS total_value,
               COUNT(*) AS n_rows
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           MIN(d.total_value) AS type_total_value,
           MIN(d.n_rows) AS type_n_rows
    FROM events e JOIN dim d USING (event_type)
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def skew_salted_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type profile computed ENTIRELY through the salted
    operators, on the table's skewed key (event_type: ~5 values over
    the whole events fact — every key is a hot key):

      1. salted_sum: two-phase aggregation groupBy(type, salt) →
         groupBy(type) over exact integer cents, spreading each type
         over {N_SALTS} reducers; exactness makes the result
         bit-identical to the unsalted sum.
      2. salted_join: the events fact re-joins the per-type dim on
         (type, salt), the dim replicated {N_SALTS}×. The dim here is
         tiny (it's aggregated), so a ``merge`` hint stands in for the
         at-scale regime where the build side is too big to broadcast
         — which is the only regime where salting the join is the
         right call at all (otherwise: broadcast).
      3. A final per-type aggregate collapses the enriched fact rows;
         n_events vs type_n_rows double-checks the salted join
         preserved cardinality (equal iff no salt row was lost or
         duplicated).

    Salting is DETERMINISTIC (xxhash64(event_id) % {N_SALTS} — rule R4
    bans rand() in registered plans) and partition-layout-independent.
    The oracle is the plain unsalted SQL: salt-invariance IS the
    contract."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "value_cents", cents("value")
    )
    dim = (
        salted_sum(
            events, ["event_type"], ["value_cents"],
            n_salts=N_SALTS, salt_from=["event_id"],
        )
        .select(
            "event_type",
            _unscale_round2(F.col("sum_value_cents"), 2).alias("total_value"),
            "n_rows",
        )
    )
    enriched = salted_join(
        events.select("event_id", "event_type"),
        dim.hint("merge"),
        on=["event_type"],
        n_salts=N_SALTS,
        salt_from=["event_id"],
    )
    return (
        enriched.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("total_value").alias("type_total_value"),
            F.min("n_rows").alias("type_n_rows"),
        )
    )
