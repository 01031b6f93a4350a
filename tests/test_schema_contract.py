"""Declared schemas as an APPLIED contract (the reference declared a fact
schema and never used it — schemas.py:6-19): enforced types on the
silver read, loud failure on upstream type drift, a named error for a
missing declared column, and no drift between the declared schemas and
what the generator and silver actually write."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from erathia_market_etl_spark.pipeline import (
    DIM_SCHEMAS,
    FACT_SALES_SCHEMA,
    SILVER_SCHEMAS,
    run_silver,
)
from erathia_market_etl_spark.sources.parquet_io import MissingColumnError


def _columns(arrow_schema) -> list[tuple[str, str]]:
    return [(f.name, str(f.type)) for f in arrow_schema]


def _declared(schema) -> list[tuple[str, str]]:
    return _columns(to_arrow_schema(schema))


def _hive(path: str):
    return ds.dataset(path, format="parquet", partitioning="hive").schema


@pytest.fixture(scope="module")
def bronze_and_silver(spark, tmp_path_factory):
    from erathia_market_etl_spark.generator.bronze import generate_bronze

    work = tmp_path_factory.mktemp("schema_contract")
    bronze, silver = str(work / "bronze"), str(work / "silver")
    generate_bronze(bronze, weeks=2)
    run_silver(spark, bronze, silver)
    return bronze, silver


def test_declared_schemas_match_bronze_footers(bronze_and_silver):
    bronze, _ = bronze_and_silver
    for name, schema in DIM_SCHEMAS.items():
        footer = pq.read_schema(os.path.join(bronze, f"{name}.parquet"))
        assert _columns(footer) == _declared(schema), name
    # year/month come from the Hive directories (int32, as declared)
    assert _columns(_hive(os.path.join(bronze, "fact_sales"))) == _declared(FACT_SALES_SCHEMA)


def test_derived_silver_schemas_match_silver_footers(bronze_and_silver):
    _, silver = bronze_and_silver
    assert set(SILVER_SCHEMAS) == {"fact_sales", *DIM_SCHEMAS}
    assert SILVER_SCHEMAS["dim_customer"].fieldNames()[-1] == "is_hero"
    for name, schema in SILVER_SCHEMAS.items():
        assert _columns(_hive(os.path.join(silver, name))) == _declared(schema), name


def test_dim_missing_a_declared_column_raises_named_error(spark, bronze_and_silver, tmp_path):
    """Under a user schema Spark's reader would return NULL for the
    absent customer_segment, silently making every is_hero false."""
    import shutil

    bronze = str(tmp_path / "bronze")
    shutil.copytree(bronze_and_silver[0], bronze)
    path = os.path.join(bronze, "dim_customer.parquet")
    pq.write_table(pq.read_table(path).drop(["customer_segment"]), path)
    with pytest.raises(MissingColumnError, match="dim_customer.*customer_segment") as err:
        run_silver(spark, bronze, str(tmp_path / "silver"))
    assert (err.value.table, err.value.column) == ("dim_customer", "customer_segment")


def test_one_fact_file_missing_quantity_raises_named_error(spark, bronze_and_silver, tmp_path):
    import shutil

    bronze = str(tmp_path / "bronze")
    shutil.copytree(bronze_and_silver[0], bronze)
    month = os.path.join(bronze, "fact_sales", "year=1168", "month=1")
    victim = os.path.join(month, sorted(os.listdir(month))[0])
    pq.write_table(pq.read_table(victim).drop(["quantity"]), victim)
    with pytest.raises(MissingColumnError, match="fact_sales.*quantity") as err:
        run_silver(spark, bronze, str(tmp_path / "silver"))
    assert (err.value.column, err.value.path) == ("quantity", victim)


def test_silver_read_enforces_declared_types(spark, tmp_path):
    from erathia_market_etl_spark.generator.bronze import generate_bronze

    bronze = str(tmp_path / "bronze")
    generate_bronze(bronze, weeks=2)
    silver = str(tmp_path / "silver")
    run_silver(spark, bronze, silver)
    fact = spark.read.parquet(f"{silver}/fact_sales")
    got = dict(fact.dtypes)
    assert got["trade_key"] == "bigint"
    assert got["quantity"] == "double"
    assert got["year"] == "int" and got["month"] == "int"


def test_drifted_bronze_fails_at_scan(spark, tmp_path):
    # simulate an upstream regression: quantity written as string
    bad = pd.DataFrame(
        {
            "trade_key": [1], "date_key": [11680101],
            "transaction_type": ["BUY"], "customer_key": [5000],
            "product_key": [1000], "town_key": [10000],
            "quantity": ["not-a-number"], "gold_per_unit": [1.0],
            "gold_total": [1.0], "current_gold_balance": [1.0],
        }
    )
    path = str(tmp_path / "bronze" / "fact_sales" / "year=1168" / "month=1")
    import os

    os.makedirs(path)
    bad.to_parquet(f"{path}/part-0.parquet")

    df = spark.read.schema(FACT_SALES_SCHEMA).parquet(str(tmp_path / "bronze" / "fact_sales"))
    with pytest.raises(Exception, match="(?i)parquet|schema|type|cannot"):
        df.collect()


def test_canon_nat_is_null():
    """pd.NaT IS a datetime instance and isoformat()s to the literal
    'NaT' — the canonicalizer must fold it to the NULL token like
    float NaN, or a null timestamp hash-mismatches a true NULL."""
    import pandas as pd

    from erathia_market_etl_spark.testing import _canon

    assert _canon(pd.NaT) == _canon(None)
    assert _canon(pd.NaT) == "∅"
