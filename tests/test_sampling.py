"""Determinism + contract checks for the sampling surface (everything
is hash-bucket deterministic since r4; the oracle-parity suite covers
value equality, these pin the properties the oracle can't express)."""

from __future__ import annotations

from erathia_market_etl_spark.plans import all_queries

from .conftest import SF_T2

QUERIES = all_queries()


def test_stratified_respects_fractions(spark):
    # 25 docs per source at sf0.01; hash-bucket keep at 90/50/10%.
    # Bounds are wide (n=25) but rule out swapped or ignored fractions.
    rows = {r["source"]: r["n_kept"]
            for r in QUERIES["sample_stratified_by"](spark, SF_T2).collect()}
    assert set(rows) == {"src0", "src1", "src2"}
    assert 15 <= rows["src0"] <= 25
    assert 5 <= rows["src1"] <= 20
    assert rows["src2"] <= 9

    # deterministic: rerun is identical (hash buckets, not rand())
    again = {r["source"]: r["n_kept"]
             for r in QUERIES["sample_stratified_by"](spark, SF_T2).collect()}
    assert rows == again


def test_stratified_is_partitioning_independent(spark):
    """sampleBy's seeded rand() depends on partition layout; the
    hash-bucket replacement must not (r3 VERDICT item 1a)."""
    from erathia_market_etl_spark.plans.sampling_queries import (
        _STRATA_SALT,
        _bucket,
    )
    from erathia_market_etl_spark.sources.parquet_io import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_T2, "documents")
    kept = lambda df: sorted(  # noqa: E731
        r["doc_id"] for r in df.filter(
            F.col("source") == "src1"
        ).filter(_bucket(F.col("doc_id"), _STRATA_SALT) < 50).select("doc_id").collect()
    )
    assert kept(docs) == kept(docs.repartition(13))


def test_freq_items_superset_guarantee(spark):
    # every source has frequency 1/20 = 0.05 > support 0.04, so ALL 20
    # are exact-frequent and each must carry in_sketch=True (freqItems
    # may over-report, never under — the superset contract)
    rows = QUERIES["agg_freq_items"](spark, SF_T2).collect()
    assert {r["frequent_source"] for r in rows} == {f"src{i}" for i in range(20)}
    assert all(r["in_sketch"] for r in rows)
    assert all(r["cnt"] == 25 for r in rows)


def test_hash_split_is_machine_independent(spark):
    # the split bucket must not depend on partitioning: assign it over
    # one partition and over 13 hash-shuffled ones, expect identical
    # assignment
    from pyspark.sql import functions as F

    from erathia_market_etl_spark.plans.sampling_queries import _bucket
    from erathia_market_etl_spark.sources.parquet_io import load_table

    docs = load_table(spark, SF_T2, "documents").select("doc_id")

    def assign(df):
        return sorted(map(tuple, df.select(
            "doc_id", _bucket(F.col("doc_id")).alias("bucket")).collect()))

    a = assign(docs.coalesce(1))
    b = assign(docs.repartition(13, "doc_id"))
    assert a == b
    assert len({bucket for _, bucket in a}) > 1


def test_bucket_arithmetic_is_engine_safe():
    """The multiplicative-hash bucket must (a) stay inside int64 for ANY
    int64 doc_id — DuckDB errors on signed overflow where Spark wraps,
    so an overflowing expression would silently diverge between engines
    — and (b) land in [0, 100). Pure-python mirror of the column
    expression, property-tested over the whole id domain."""
    from hypothesis import given
    from hypothesis import strategies as st

    from erathia_market_etl_spark.plans.sampling_queries import (
        _FOLD,
        _KNUTH,
        _MOD32,
    )

    @given(st.integers(min_value=0, max_value=2**63 - 1),
           st.integers(min_value=0, max_value=10**6))
    def check(doc_id, salt):
        folded = doc_id % _FOLD
        prod = folded * _KNUTH + salt
        assert prod < 2**63  # no overflow in either engine
        assert 0 <= prod % _MOD32 % 100 < 100

    check()


def test_pack_shards_keeps_null_source_rows(spark, tmp_path):
    """Null-bearing data contract (r5 review): both engines' window
    PARTITION BY groups NULL sources into one partition; the offsets
    join is null-safe (<=>) so those rows survive to the output instead
    of vanishing through a NULL != NULL equi-join."""
    import pandas as pd

    from erathia_market_etl_spark.plans.sampling_queries import (
        pack_token_budget_shards,
    )

    d = str(tmp_path / "sfnull")
    import os
    os.makedirs(d, exist_ok=True)
    pd.DataFrame({
        "doc_id": range(8),
        "source": ["s0", None, "s0", None, "s0", None, "s0", None],
        "text": ["one two three"] * 8,
    }).to_parquet(os.path.join(d, "documents.parquet"))
    out = pack_token_budget_shards(spark, d).collect()
    assert len(out) == 8
    null_rows = [r for r in out if r["source"] is None]
    assert len(null_rows) == 4
    # the NULL partition's running sum is its own sequence: 3 tokens per
    # doc, budget 2048 -> all shard 0
    assert all(r["shard_id"] == 0 for r in null_rows)


def test_length_trim_excludes_null_lengths(spark, tmp_path):
    """Null-bearing data contract (r5 review): docs with NULL n_chars
    are excluded on BOTH sides (oracle WHERE + Spark filter) — engines
    disagree on where nulls rank, so the contract removes them."""
    import os

    import pandas as pd

    from erathia_market_etl_spark.plans.sampling_queries import text_length_trim

    d = str(tmp_path / "sfnull2")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame({
        "doc_id": range(40),
        "n_chars": [None if i % 10 == 0 else 100 + i for i in range(40)],
        "text": ["x" * 50] * 40,
    }).to_parquet(os.path.join(d, "documents.parquet"))
    rows = text_length_trim(spark, d).collect()
    ids = {r["doc_id"] for r in rows}
    assert not any(i % 10 == 0 for i in ids)  # null-length docs gone
    assert len(rows) > 0


def test_pack_context_windows_conservation_and_splits(spark):
    """Queued r7 operator: window packing must CONSERVE tokens (each
    doc's tokens_in_window sums to n_tokens), cover every window
    position exactly once (each chunk sums to the context length,
    except the final partial window), and be non-vacuous — the fixture
    corpus must produce split docs and multi-window docs."""
    from erathia_market_etl_spark.plans.sampling_queries import (
        _CONTEXT_LEN,
        pack_context_windows,
    )

    rows = pack_context_windows(spark, SF_T2).collect()
    per_doc: dict = {}
    per_chunk: dict = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
        per_chunk[r["chunk_id"]] = (
            per_chunk.get(r["chunk_id"], 0) + r["tokens_in_window"]
        )
    # conservation per doc
    for doc, rs in per_doc.items():
        assert sum(x["tokens_in_window"] for x in rs) == rs[0]["n_tokens"], doc
    # every window except the last is exactly full
    last = max(per_chunk)
    for cid, tot in per_chunk.items():
        if cid != last:
            assert tot == _CONTEXT_LEN, (cid, tot)
    assert per_chunk[last] <= _CONTEXT_LEN
    # non-vacuous: splits exist and single-window docs exist
    assert any(r["is_split"] for r in rows)
    assert any(not r["is_split"] for r in rows)


def test_emb_label_centroids_matches_numpy(spark):
    """Queued r7 operator: the distributed micro-integer centroid must
    equal a driver-side numpy mean of the same quantized values, for
    every (label, pos)."""
    import numpy as np

    from erathia_market_etl_spark.plans.similarity_queries import (
        EMB_DIM,
        emb_label_centroids,
    )
    from erathia_market_etl_spark.sources.parquet_io import load_table

    got = {(r["label"], r["pos"]): (r["n_vectors"], r["centroid"])
           for r in emb_label_centroids(spark, SF_T2).collect()}
    emb = load_table(spark, SF_T2, "embeddings").collect()
    by_label: dict = {}
    for r in emb:
        if len(r["embedding"]) == EMB_DIM:
            by_label.setdefault(r["label"], []).append(r["embedding"])
    assert len(by_label) > 1  # non-vacuous grouping
    for label, vecs in by_label.items():
        arr = np.array(vecs, dtype=np.float64)
        micro = np.sign(arr) * np.floor(np.abs(arr) * 1e6 + 0.5)
        mean = micro.sum(axis=0) / len(vecs) / 1e6
        for pos in range(EMB_DIM):
            n, c = got[(label, pos)]
            assert n == len(vecs)
            assert abs(c - mean[pos]) < 1e-12, (label, pos, c, mean[pos])


def test_emb_centroids_partition_order_independent(spark):
    """Same exactness claim for the centroid means: micro-integer sums
    make the per-(label, pos) centroid bit-identical under different
    input partitionings."""
    from pyspark.sql import functions as F

    from erathia_market_etl_spark.plans.similarity_queries import (
        emb_label_centroids,
    )
    from erathia_market_etl_spark.sources.parquet_io import load_table

    # emb_label_centroids loads internally; emulate the repartition by
    # comparing against a direct re-run — the query is deterministic,
    # so any difference between runs under different session shuffle
    # layouts would surface here and in the sf0.1 sweep; additionally
    # force a skewed layout through a temp view round-trip
    base = sorted(
        (r["label"], r["pos"], r["n_vectors"], r["centroid"])
        for r in emb_label_centroids(spark, SF_T2).collect()
    )
    emb = load_table(spark, SF_T2, "embeddings").repartition(
        11, F.col("vec_id") % 3
    )
    from erathia_market_etl_spark.plans.similarity_queries import EMB_DIM

    val = F.col("val").cast("double")
    micro = (
        F.signum(val) * F.floor(F.abs(val) * F.lit(1000000.0) + F.lit(0.5))
    ).cast("long")
    skewed = (
        emb.filter(F.size("embedding") == EMB_DIM)
        .select("label", F.posexplode("embedding").alias("pos", "val"))
        .select("label", "pos", micro.alias("micro"))
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (F.sum("micro").cast("double") / F.count(F.lit(1)) / F.lit(1000000.0))
            .alias("centroid"),
        )
        .orderBy("label", "pos")
        .collect()
    )
    skewed_rows = [
        (r["label"], r["pos"], r["n_vectors"], r["centroid"]) for r in skewed
    ]
    assert base == skewed_rows


