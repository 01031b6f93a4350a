"""Medallion pipeline: bronze -> silver -> gold on one Spark engine.

The reference runs this across three engines — pandas writes bronze,
Spark cleans silver, DuckDB aggregates gold (main.py entry points A/B,
SURVEY.md §3). Here Spark does all of it: silver is the operator set of
src/silver_processor.py:38-73 (P1-P4, S7/S8), gold is the four
dm_* data marts of src/gold_aggregator.py:27-125 executed by Catalyst
over temp views, with the same business-facing column aliases (spaces
and all — backticked in Spark SQL, SURVEY.md §7.4).

Scale notes: every table is read with its declared schema (no
schema-inference job), the fact keeps its Hive (year, month) layout
through silver so date-bounded mart queries prune, and every dim join
broadcasts (dims are KB-sized at any fact scale). Gold reads silver back
from parquet, so silver is a durable, re-runnable boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .sources.parquet_io import load_table

# The reference DECLARED an explicit fact schema but never imported it
# anywhere (schemas.py:6-19 — dead code; SURVEY.md §1.4). Here it is an
# applied contract: the silver read enforces it, so upstream type drift
# (a re-generated bronze with a widened or stringified column) fails
# loudly at the scan instead of silently poisoning every mart.
# Divergence from the reference's text, on purpose: date_key is LONG —
# the reference declared IntegerType yet its own generator writes int64
# (one more symptom of the schema never being applied); a contract must
# match the bytes actually on disk. year/month are the hive partition
# columns (parsed int).
FACT_SALES_SCHEMA = StructType(
    [
        StructField("trade_key", LongType()),
        StructField("date_key", LongType()),
        StructField("transaction_type", StringType()),
        StructField("customer_key", LongType()),
        StructField("product_key", LongType()),
        StructField("town_key", LongType()),
        StructField("quantity", DoubleType()),
        StructField("gold_per_unit", DoubleType()),
        StructField("gold_total", DoubleType()),
        StructField("current_gold_balance", DoubleType()),
        StructField("year", IntegerType()),
        StructField("month", IntegerType()),
    ]
)


# The six dims under the same contract, in write order. generator/bronze.py
# writes them with these schemas, and tests/test_schema_contract.py pins
# both against the footers.
DIM_SCHEMAS: dict[str, StructType] = {
    "dim_faction": StructType([
        StructField("faction_key", LongType()),
        StructField("faction_name", StringType()),
    ]),
    "dim_town": StructType([
        StructField("town_key", LongType()),
        StructField("town_name", StringType()),
        StructField("faction_key", LongType()),
    ]),
    "dim_customer": StructType([
        StructField("customer_key", LongType()),
        StructField("customer_name", StringType()),
        StructField("customer_segment", StringType()),
        StructField("unit_tier", LongType()),
        StructField("base_income", DoubleType()),
        StructField("faction_key", LongType()),
    ]),
    "dim_product_category": StructType([
        StructField("category_key", LongType()),
        StructField("category_name", StringType()),
        StructField("tier_level", StringType()),
    ]),
    "dim_product": StructType([
        StructField("product_key", LongType()),
        StructField("product_name", StringType()),
        StructField("base_value_gold", DoubleType()),
        StructField("category_key", LongType()),
    ]),
    "dim_date": StructType([
        StructField("date_key", LongType()),
        StructField("lore_date_str", StringType()),
        StructField("day_of_week", LongType()),
        StructField("month", LongType()),
        StructField("day", LongType()),
        StructField("year", LongType()),
        StructField("is_weekend", BooleanType()),
    ]),
}
# Silver adds exactly one column, P3's is_hero flag on dim_customer.
SILVER_SCHEMAS: dict[str, StructType] = {
    "fact_sales": FACT_SALES_SCHEMA,
    **DIM_SCHEMAS,
    "dim_customer": StructType(
        DIM_SCHEMAS["dim_customer"].fields + [StructField("is_hero", BooleanType())]
    ),
}
DIM_KEYS = {
    "dim_faction": "faction_key",
    "dim_town": "town_key",
    "dim_customer": "customer_key",
    "dim_product_category": "category_key",
    "dim_product": "product_key",
    "dim_date": "date_key",
}
FACT_KEY_COLS = ["trade_key", "customer_key", "product_key", "date_key"]


# ---------------------------------------------------------------------------
# Silver (ref: src/silver_processor.py:7-73)
# ---------------------------------------------------------------------------

def clean_fact(fact: DataFrame) -> DataFrame:
    """P1 null-drop on the key subset + P2 quantity != 0. Both predicates
    push into the parquet scan."""
    return fact.na.drop(subset=FACT_KEY_COLS).filter(F.col("quantity") != 0)


def enrich_customer(dim_customer: DataFrame) -> DataFrame:
    """P4 dedup by key + P3 derived is_hero flag (VIP segment)."""
    return dim_customer.dropDuplicates(["customer_key"]).withColumn(
        "is_hero",
        F.when(F.col("customer_segment") == "VIP", F.lit(True)).otherwise(F.lit(False)),
    )


def clean_dim(dim: DataFrame, name: str) -> DataFrame:
    """P4 dedup by key (plus P3 for dim_customer) on ONE partition. The
    single-file dim write (S8) needs ``coalesce(1)`` anyway, and taking
    it first means the dedup's input is already ``SinglePartition``,
    which satisfies the aggregate's distribution: no Exchange, one job
    per dim instead of a shuffle-map job plus a write job."""
    one = dim.coalesce(1)
    if name == "dim_customer":
        return enrich_customer(one)
    return one.dropDuplicates([DIM_KEYS[name]])


def run_silver(spark: SparkSession, bronze_dir: str, silver_dir: str) -> dict[str, int]:
    """Clean every bronze table into silver parquet: fact partitioned by
    (year, month) (S7), dims compacted to one file (S8). Returns row
    counts (the reference's verification probe, S13) via ``observe`` —
    the count rides on the write job itself, so the probe is free; a
    post-write ``.count()`` would re-execute the whole clean pipeline
    (a second full scan of the fact at 100 TB)."""
    from pyspark.sql import Observation

    counts: dict[str, int] = {}

    fact = load_table(spark, bronze_dir, "fact_sales", FACT_SALES_SCHEMA)
    obs = Observation("silver_fact_rows")
    fact = clean_fact(fact).observe(obs, F.count(F.lit(1)).alias("rows"))
    # REBALANCE on the partition columns: each (year, month) lands in one
    # shuffle partition, AQE coalesces small months together and splits
    # a skewed one, so each month dir gets about one file instead of one
    # per bronze chunk that touched it.
    fact.hint("rebalance", "year", "month").write.mode("overwrite").partitionBy(
        "year", "month"
    ).parquet(os.path.join(silver_dir, "fact_sales"))
    counts["fact_sales"] = obs.get["rows"]

    for name, schema in DIM_SCHEMAS.items():
        df = clean_dim(load_table(spark, bronze_dir, name, schema), name)
        dim_obs = Observation(f"silver_{name}_rows")
        df = df.observe(dim_obs, F.count(F.lit(1)).alias("rows"))
        df.write.mode("overwrite").parquet(os.path.join(silver_dir, name))
        counts[name] = dim_obs.get["rows"]
    return counts


def register_silver_views(spark: SparkSession, silver_dir: str) -> None:
    """Expose silver tables to SQL — replaces the reference's DuckDB
    ingest (S9): same engine end-to-end, each view read back with its
    declared silver schema."""
    for name, schema in SILVER_SCHEMAS.items():
        load_table(spark, silver_dir, name, schema).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Gold data marts (ref: src/gold_aggregator.py:27-125)
# ---------------------------------------------------------------------------

MART_SQL: dict[str, str] = {
    # Q1 — faction economy: spend vs earn + net (gold_aggregator.py:27-48).
    # Table name and every alias match the reference exactly; the
    # `Faction Name` tiebreak is the one documented addition (the
    # reference's bare DESC sort is nondeterministic on ties, §7.4).
    "dm_faction_economy": """
        WITH faction_sales AS (
            SELECT f.faction_name, s.transaction_type, s.gold_total
            FROM fact_sales s
            JOIN dim_customer c ON s.customer_key = c.customer_key
            JOIN dim_faction f  ON c.faction_key = f.faction_key
        )
        SELECT faction_name AS `Faction Name`,
               ROUND(SUM(CASE WHEN transaction_type = 'BUY'  THEN gold_total ELSE 0 END), 2) AS `Total Gold Spent`,
               ROUND(SUM(CASE WHEN transaction_type = 'SELL' THEN gold_total ELSE 0 END), 2) AS `Total Gold Earned`,
               ROUND(SUM(CASE WHEN transaction_type = 'SELL' THEN gold_total ELSE 0 END)
                   - SUM(CASE WHEN transaction_type = 'BUY'  THEN gold_total ELSE 0 END), 2) AS `Net Profit`,
               COUNT(*) AS `Total Transactions`
        FROM faction_sales
        GROUP BY faction_name
        ORDER BY `Net Profit` DESC, `Faction Name`
    """,
    # Q2 — monthly resource price history (gold_aggregator.py:56-75)
    "dm_resource_price_history": """
        SELECT d.year AS `Year`,
               d.month AS `Month`,
               p.product_name AS `Resource Name`,
               ROUND(AVG(s.gold_per_unit), 2) AS `Average Price`,
               ROUND(SUM(s.quantity), 2) AS `Total Quantity Traded`
        FROM fact_sales s
        JOIN dim_product p           ON s.product_key = p.product_key
        JOIN dim_product_category pc ON p.category_key = pc.category_key
        JOIN dim_date d              ON s.date_key = d.date_key
        WHERE pc.category_name = 'Resources' AND s.transaction_type = 'BUY'
        GROUP BY d.year, d.month, p.product_name
        ORDER BY `Year`, `Month`, `Resource Name`
    """,
    # Q3 — top-100 VIP spenders + earners (gold_aggregator.py:83-101)
    "dm_top_vip_customers": """
        SELECT c.customer_name AS `Customer Name`,
               f.faction_name AS `Faction`,
               ROUND(SUM(CASE WHEN s.transaction_type = 'BUY'  THEN s.gold_total ELSE 0 END), 2) AS `Total Spent`,
               ROUND(SUM(CASE WHEN s.transaction_type = 'SELL' THEN s.gold_total ELSE 0 END), 2) AS `Total Earned`,
               COUNT(s.trade_key) AS `Total Transactions`
        FROM fact_sales s
        JOIN dim_customer c ON s.customer_key = c.customer_key
        JOIN dim_faction f  ON c.faction_key = f.faction_key
        WHERE c.customer_segment = 'VIP'
        GROUP BY c.customer_name, f.faction_name
        ORDER BY `Total Spent` DESC, `Customer Name`
        LIMIT 100
    """,
    # Q4 — artifact sales; BUY count labeled "Total Sold" on purpose
    # (gold_aggregator.py:106-125; SURVEY.md §7.5 #6 — replicate, don't fix)
    "dm_artifact_sales_summary": """
        SELECT p.product_name AS `Artifact Name`,
               pc.tier_level AS `Tier`,
               COUNT(s.trade_key) AS `Total Sold`,
               ROUND(SUM(s.gold_total), 2) AS `Total Gold Value`
        FROM fact_sales s
        JOIN dim_product p           ON s.product_key = p.product_key
        JOIN dim_product_category pc ON p.category_key = pc.category_key
        WHERE pc.category_name = 'Artifacts' AND s.transaction_type = 'BUY'
        GROUP BY p.product_name, pc.tier_level
        ORDER BY `Total Sold` ASC, `Total Gold Value` DESC
    """,
}


def run_gold(spark: SparkSession, silver_dir: str,
             gold_dir: str | None = None) -> dict[str, DataFrame]:
    """Build the four dm_* marts over silver views. When ``gold_dir`` is
    given each mart also materializes to parquet (column names are
    sanitized for parquet writers that reject spaces — marts keep their
    business aliases in-session; SURVEY.md §7.4)."""
    register_silver_views(spark, silver_dir)
    marts = {name: spark.sql(sql) for name, sql in MART_SQL.items()}
    if gold_dir:
        for name, df in marts.items():
            safe = df.select(
                *[F.col(c).alias(c.replace(" ", "_").lower()) for c in df.columns]
            )
            safe.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(gold_dir, name)
            )
    return marts
