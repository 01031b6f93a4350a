"""Every registered query must hash-match its DuckDB oracle at sf0.001 —
the same comparison the driver runs at sf0.01 (BASELINE.md t2)."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest

from erathia_market_etl_spark.plans import all_oracles, all_queries
from erathia_market_etl_spark.testing import compare_query

from .conftest import SF_SMOKE

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    result = compare_query(name, QUERIES[name](spark, SF_SMOKE), ORACLES[name], SF_SMOKE)
    assert result.ok, (
        f"{name}: spark_rows={result.spark_rows} oracle_rows={result.oracle_rows} "
        f"cols_match={result.columns_match} hash={result.hash_match}\n"
        f"spark cols: {result.spark_cols}\noracle cols: {result.oracle_cols}"
    )


def _emptied_copy(tmp_path_factory, name, empty) -> str:
    """A copy of the sf0.001 fixture whose ``empty`` tables (file
    names) hold no rows, their schemas kept."""
    sf_dir = tmp_path_factory.mktemp(name)
    for table in os.listdir(SF_SMOKE):
        shutil.copyfile(os.path.join(SF_SMOKE, table), sf_dir / table)
        if table in empty:
            path = str(sf_dir / table)
            pq.write_table(pq.read_table(path).slice(0, 0), path)
    return str(sf_dir)


@pytest.fixture(scope="module")
def sf_empty_lineitem(tmp_path_factory):
    """The sf0.001 fixture with ``lineitem`` emptied, its schema kept."""
    return _emptied_copy(tmp_path_factory, "sf_empty_lineitem",
                         {"lineitem.parquet"})


@pytest.mark.parametrize("name", ["agg_rollup", "agg_grouping_sets"])
def test_grouping_sets_emit_grand_total_on_empty_input(
    spark, sf_empty_lineitem, name
):
    # SQL's grouping set () yields one grand-total row even over no
    # input; the oracle returns it, so the query must too
    df = QUERIES[name](spark, sf_empty_lineitem)
    result = compare_query(name, df, ORACLES[name], sf_empty_lineitem)
    assert result.oracle_rows == 1
    assert result.ok, result


@pytest.fixture(scope="module")
def sf_all_empty(tmp_path_factory):
    """The sf0.001 fixture with all ten tables emptied, schemas kept."""
    return _emptied_copy(tmp_path_factory, "sf_all_empty",
                         set(os.listdir(SF_SMOKE)))


# Arrow-worker and stateful-streaming queries: each must hand an empty
# batch through its Python kernel (or state store) and return the
# oracle's zero rows, not a worker trace.
@pytest.mark.parametrize("name", [
    "media_wav_real_decode",
    "media_bmp_real_resize",
    "media_jpeg_real_decode",
    "sim_topk_batch",
    "text_winnowing_fingerprints",
    "decon_test_train_overlap",
    "stream_user_running_totals",
])
def test_query_matches_oracle_on_empty_tables(spark, sf_all_empty, name):
    df = QUERIES[name](spark, sf_all_empty)
    result = compare_query(name, df, ORACLES[name], sf_all_empty)
    assert result.oracle_rows == 0
    assert result.ok, result


def test_every_registered_query_has_an_oracle():
    """Full oracle coverage, asserted explicitly (r12 VERDICT item 2):
    this used to be a parametrize over ``QUERIES - ORACLES`` that ran
    each oracle-less query for rows>=0; once every registered query
    gained an oracle the empty parameter set became a silent pytest
    SKIP — evidence that could quietly disappear. If an oracle-less
    query is ever registered again, this fails loudly and the rows-only
    smoke run must be reinstated for it."""
    assert sorted(set(QUERIES) - set(ORACLES)) == []


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "nation_name" in df.columns


def test_quality_gate_splits_corpus(spark):
    # non-vacuous: the gate must split the fixture corpus both ways
    from erathia_market_etl_spark.plans.text_queries import text_quality_gate

    rows = text_quality_gate(spark, SF_SMOKE).collect()
    kept = sum(1 for r in rows if r["keep"])
    assert 0 < kept < len(rows), (kept, len(rows))
