"""Golden-pipeline and invariant tests for the medallion rebuild
(SURVEY.md §5 rebuild strategy #2/#3/#4): seeded end-to-end run, simulator
economic invariants, silver cleaning semantics, mart shapes, and the
weekday-convention trap."""

from __future__ import annotations

import dataclasses
import hashlib
import os
import uuid

import pytest

from erathia_market_etl_spark.config import SimulationConfig
from erathia_market_etl_spark.generator.bronze import calendar_rows, generate_bronze
from erathia_market_etl_spark.generator.definitions import (
    customers,
    product_categories,
    products,
    towns,
)
from erathia_market_etl_spark.generator.simulate import (
    ARTIFACT_POOL_SIZE,
    MarketSimulator,
)
from erathia_market_etl_spark.pipeline import (
    DIM_SCHEMAS,
    clean_dim,
    run_gold,
    run_silver,
)
from erathia_market_etl_spark.sources.parquet_io import load_table

N_WEEKS = 30


def _mini_sim(seed=42):
    cfg = SimulationConfig()
    cal = calendar_rows(cfg)
    return MarketSimulator(
        [r["date_key"] for r in cal], [k for k, _, _ in towns()], seed=seed
    )


# -- definitions cardinalities (SURVEY §1.2) --------------------------------

def test_definition_cardinalities():
    assert len(customers()) == 254
    assert len(products()) == 46
    assert len(product_categories()) == 7
    assert len(towns()) == 45
    segs = [c.segment for c in customers()]
    assert segs.count("Standard") == 126 and segs.count("VIP") == 128


def test_calendar_weekday_convention():
    cfg = SimulationConfig()
    rows = calendar_rows(cfg)
    assert len(rows) == 731  # 2000-01-01..2001-12-31 incl. leap day
    # 2000-01-01 was a Saturday: pandas/python convention -> 5
    first = rows[0]
    assert first["day_of_week"] == 5 and first["is_weekend"] is True
    assert first["year"] == 1168 and first["date_key"] == 11680101
    # every weekend flag consistent with Mon=0 convention
    assert all((r["day_of_week"] in (5, 6)) == r["is_weekend"] for r in rows)


# -- simulator invariants (SURVEY §5 #4) ------------------------------------

def test_simulator_invariants():
    sim = _mini_sim()
    all_trades = []
    for _, trades in sim.run_weeks(N_WEEKS):
        all_trades.extend(trades)
        for a in sim.agents:
            assert a.gold >= 0.0  # G1 floor
        for k, left in sim.artifact_pool.items():
            assert 0 <= left <= ARTIFACT_POOL_SIZE[sim.products[k].tier_level]
        for p in sim.products.values():  # G9 clamp
            if p.category_name == "Resources":
                assert 0.1 * p.base_value_gold <= sim.prices[p.key] <= 10 * p.base_value_gold
            else:  # artifacts never reprice (§7.5 #7)
                assert sim.prices[p.key] == p.base_value_gold

    assert len(all_trades) > 0
    keys = [t.trade_key for t in all_trades]
    assert keys == sorted(keys) and len(set(keys)) == len(keys)
    # one artifact per agent, globally bounded (G10)
    owned = {}
    for t in all_trades:
        if t.product_key in sim.artifact_pool and t.transaction_type == "BUY":
            owned.setdefault(t.customer_key, []).append(t.product_key)
    for buyer, arts in owned.items():
        assert len(arts) == len(set(arts))  # never buys same artifact twice
    # the Base-tier Gold product never trades (§7.5 #8)
    gold_key = next(p.key for p in products() if p.tier_level == "Base")
    assert all(t.product_key != gold_key for t in all_trades)


def test_trade_stream_is_pinned():
    """The seed-42, 10-week trade list is byte-stable. The simulator
    hands random.choices precomputed cum_weights; the hash was taken
    while it still passed weights, so an equal hash means the draw
    stream did not move."""
    trades = [dataclasses.astuple(t) for _, ts in _mini_sim(42).run_weeks(10) for t in ts]
    assert len(trades) == 1614
    assert hashlib.sha256(repr(trades).encode()).hexdigest() == (
        "3111ba33d2dc4d6b766f780ae9f4d04669edc9613eec8b4779b7867af139e422"
    )


def test_simulator_deterministic():
    t1 = [t for _, ts in _mini_sim(7).run_weeks(10) for t in ts]
    t2 = [t for _, ts in _mini_sim(7).run_weeks(10) for t in ts]
    assert t1 == t2
    t3 = [t for _, ts in _mini_sim(8).run_weeks(10) for t in ts]
    assert t1 != t3


# -- end-to-end medallion run (golden pipeline, SURVEY §5 #2) ---------------

def _run_medallion(spark, work: str) -> dict:
    """bronze -> silver -> gold under ``work``, as the CLI's ``full``
    command runs it."""
    bronze = generate_bronze(f"{work}/bronze", weeks=N_WEEKS,
                             cfg=SimulationConfig(seed=42))
    silver = run_silver(spark, f"{work}/bronze", f"{work}/silver")
    run_gold(spark, f"{work}/silver", f"{work}/gold")
    return {"bronze": bronze, "silver": silver}


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("medallion"))
    return work, _run_medallion(spark, work)


def test_pipeline_counts(pipeline_result, spark):
    _, result = pipeline_result
    assert result["bronze"]["dims"] == {
        "dim_faction": 9, "dim_town": 45, "dim_customer": 254,
        "dim_product_category": 7, "dim_product": 46, "dim_date": 731,
    }
    assert result["bronze"]["fact_rows"] > 0
    # silver cleaning only ever removes rows
    assert result["silver"]["fact_sales"] <= result["bronze"]["fact_rows"]
    assert result["silver"]["dim_customer"] == 254


def test_silver_semantics(pipeline_result, spark):
    work, _ = pipeline_result
    fact = spark.read.parquet(f"{work}/silver/fact_sales")
    assert fact.filter("quantity = 0").count() == 0
    assert fact.filter(
        "trade_key IS NULL OR customer_key IS NULL OR product_key IS NULL OR date_key IS NULL"
    ).count() == 0
    # partition columns recovered from hive dirs
    assert {"year", "month"} <= set(fact.columns)
    cust = spark.read.parquet(f"{work}/silver/dim_customer")
    assert "is_hero" in cust.columns
    mism = cust.filter(
        "(customer_segment = 'VIP') <> is_hero"
    ).count()
    assert mism == 0


def test_gold_marts(pipeline_result, spark):
    work, result = pipeline_result
    marts = run_gold(spark, f"{work}/silver")
    # table names and aliases match gold_aggregator.py:27-125 exactly
    assert set(marts) == {
        "dm_faction_economy", "dm_resource_price_history",
        "dm_top_vip_customers", "dm_artifact_sales_summary",
    }
    q1 = marts["dm_faction_economy"].collect()
    assert 0 < len(q1) <= 9
    assert q1[0].asDict().keys() == {
        "Faction Name", "Total Gold Spent", "Total Gold Earned",
        "Net Profit", "Total Transactions",
    }
    assert q1[0]["Net Profit"] >= q1[-1]["Net Profit"]  # DESC order
    for r in q1:  # net = earned - spent (2dp)
        assert abs(r["Net Profit"] - round(r["Total Gold Earned"] - r["Total Gold Spent"], 2)) < 0.011
    q2 = marts["dm_resource_price_history"]
    assert {"Average Price", "Total Quantity Traded"} <= set(q2.columns)
    q3 = marts["dm_top_vip_customers"]
    assert q3.count() <= 100
    assert {"Faction", "Total Spent", "Total Earned",
            "Total Transactions"} <= set(q3.columns)
    assert all(r["Faction"] for r in q3.collect())
    q4 = marts["dm_artifact_sales_summary"].collect()
    sold = [r["Total Sold"] for r in q4]
    assert sold == sorted(sold)  # ASC on Total Sold


def test_pipeline_deterministic_marts(spark, tmp_path_factory, pipeline_result):
    """Same seed + weeks -> byte-identical mart contents (the reference's
    implicit golden-output mechanism, automated)."""
    work2 = str(tmp_path_factory.mktemp("medallion2"))
    _run_medallion(spark, work2)
    work1, _ = pipeline_result
    a = spark.read.parquet(f"{work1}/gold/dm_faction_economy").collect()
    b = spark.read.parquet(f"{work2}/gold/dm_faction_economy").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# -- repeated silver + gold passes in one session ---------------------------

# Measured on the two_passes bronze: silver is the fact's rebalance
# shuffle + its write, then one write per dim; gold is the four marts'
# writes with their AQE stages.
SILVER_JOB_BUDGET = 8
GOLD_JOB_BUDGET = 23


def _job_ids_in_group(spark, group: str, fn) -> list[int]:
    """Run ``fn()`` under job group ``group``; return the ids of the
    Spark jobs it launched (after the listener bus has drained)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _jobs_outside_sql(spark, job_ids: list[int]) -> list[int]:
    """The jobs no SQL execution owns. In this pipeline those are parquet
    schema inference: a footer-merge job Spark launches while it builds
    the plan of a read without a schema."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    left, first = set(job_ids), min(job_ids)
    for i in reversed(range(execs.size())):
        keys = execs.apply(i).jobs().keys().mkString(",")
        owned = {int(j) for j in keys.split(",") if j}
        left -= owned
        if not left or (owned and max(owned) < first):
            break
    return sorted(left)


@pytest.fixture(scope="module")
def two_passes(spark, tmp_path_factory):
    """One N_WEEKS bronze flushed in three chunks (so each bronze month
    dir holds up to three files), then two run_silver + run_gold passes
    over it in this session. Per pass: the silver dir, the job ids of
    each layer and how many classes Janino compiled."""
    work = tmp_path_factory.mktemp("two_passes")
    bronze = str(work / "bronze")
    generate_bronze(bronze, weeks=N_WEEKS,
                    cfg=SimulationConfig(seed=42, chunk_size_weeks=10))
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    passes = []
    for p in range(2):
        silver, gold = str(work / f"silver{p}"), str(work / f"gold{p}")
        run = uuid.uuid4().hex
        compiled = codegen.METRIC_COMPILATION_TIME().getCount()
        silver_jobs = _job_ids_in_group(
            spark, f"silver-{run}", lambda: run_silver(spark, bronze, silver))
        gold_jobs = _job_ids_in_group(
            spark, f"gold-{run}", lambda: run_gold(spark, silver, gold_dir=gold))
        passes.append({
            "silver": silver, "silver_jobs": silver_jobs, "gold_jobs": gold_jobs,
            "compiles": codegen.METRIC_COMPILATION_TIME().getCount() - compiled,
        })
    return bronze, passes


def test_second_pass_stays_in_job_budget_without_schema_inference(spark, two_passes):
    """Every table is read with its declared schema, so a pass launches
    no schema-inference job."""
    _, passes = two_passes
    warm = passes[1]
    assert len(warm["silver_jobs"]) <= SILVER_JOB_BUDGET
    assert len(warm["gold_jobs"]) <= GOLD_JOB_BUDGET
    assert _jobs_outside_sql(spark, warm["silver_jobs"] + warm["gold_jobs"]) == []


def test_second_pass_compiles_no_class(two_passes):
    """The session's codegen cache holds a whole pass's generated
    classes, so a second pass finds every one of them cached."""
    _, passes = two_passes
    assert passes[1]["compiles"] == 0


def test_dim_dedup_plans_no_exchange(spark, two_passes):
    bronze, _ = two_passes
    for name, schema in DIM_SCHEMAS.items():
        dim = load_table(spark, bronze, name, schema)
        plan = clean_dim(dim, name)._jdf.queryExecution().executedPlan().toString()
        assert "Aggregate" in plan and "Exchange" not in plan, (name, plan)


def _files_per_month(fact_dir: str) -> list[int]:
    """Data-file count of each (year, month) dir under a fact dir."""
    return [len([f for f in os.listdir(m.path) if not f.startswith(("_", "."))])
            for y in os.scandir(fact_dir) if y.is_dir()
            for m in os.scandir(y.path)]


def test_silver_fact_has_one_file_per_month(two_passes):
    bronze, passes = two_passes
    bronze_files = _files_per_month(os.path.join(bronze, "fact_sales"))
    assert max(bronze_files) > 1  # the premise: chunks split the months
    silver_files = _files_per_month(os.path.join(passes[1]["silver"], "fact_sales"))
    assert silver_files == [1] * len(bronze_files)
