"""Salted-join / salted-agg correctness: results must be identical to
the unsalted plans (salt is a physical-distribution knob, not a
semantic one), including under a deliberately skewed key."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from erathia_market_etl_spark.operators.skew import (
    SALT_COL,
    replicate_salts,
    salted_join,
    salted_sum,
    with_salt,
)


@pytest.fixture(scope="module")
def skewed(spark):
    # 10k rows, 90% on key 0 — the shape AQE alone mishandles when the
    # build side can't broadcast
    return spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )


@pytest.fixture(scope="module")
def dim(spark):
    return spark.range(100).select(
        F.col("id").alias("k"), F.concat(F.lit("name_"), F.col("id")).alias("name")
    )


def test_salted_join_matches_plain_join(skewed, dim):
    plain = skewed.join(dim, ["k"]).groupBy("k", "name").count()
    salted = salted_join(skewed, dim, ["k"], n_salts=8).groupBy("k", "name").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_outer(skewed, dim):
    sparse_dim = dim.filter("k < 50")
    plain = skewed.join(sparse_dim, ["k"], "left").groupBy("k", "name").count()
    salted = (
        salted_join(skewed, sparse_dim, ["k"], n_salts=4, how="left")
        .groupBy("k", "name").count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_sum_matches_plain_agg(skewed):
    plain = {
        r["k"]: (r["s"], r["n"])
        for r in skewed.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        r["k"]: (r["sum_v"], r["n_rows"]) for r in salted_sum(skewed, ["k"], ["v"]).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert plain[k][1] == salted[k][1]
        assert abs(plain[k][0] - salted[k][0]) < 1e-6


def test_salt_column_never_leaks(skewed, dim):
    out = salted_join(skewed, dim, ["k"])
    assert SALT_COL not in out.columns


def test_salt_spreads_hot_key(skewed):
    salted = with_salt(skewed.filter("k = 0"), 8)
    n_buckets = salted.select(SALT_COL).distinct().count()
    assert n_buckets == 8  # hot key's rows now span 8 shuffle targets


def test_replicate_salts_cardinality(dim):
    assert replicate_salts(dim, 5).count() == dim.count() * 5


def test_hash_salt_deterministic_and_spreads(spark):
    # salt_from: partition-layout-independent (same row -> same salt
    # under any repartitioning, unlike F.rand) and still spreads a hot
    # key over all n_salts buckets when the hashed column varies per row
    df = spark.range(5_000).select(
        F.lit(0).alias("k"), F.col("id").alias("row_id")
    )
    a = {r["row_id"]: r[SALT_COL]
         for r in with_salt(df, 8, salt_from=["row_id"]).collect()}
    b = {r["row_id"]: r[SALT_COL]
         for r in with_salt(df.repartition(17), 8, salt_from=["row_id"]).collect()}
    assert a == b  # layout-independent
    assert set(a.values()) == set(range(8))  # hot key spread over all salts


def test_salted_ops_with_hash_salt_match_plain(spark, skewed, dim):
    keyed = skewed.withColumn("row_id", F.monotonically_increasing_id())
    plain = skewed.groupBy("k").agg(
        F.count(F.lit(1)).alias("n")).collect()
    salted = salted_sum(
        keyed, ["k"], ["v"], n_salts=8, salt_from=["row_id"]
    ).select("k", F.col("n_rows").alias("n")).collect()
    assert sorted((r["k"], r["n"]) for r in plain) == sorted(
        (r["k"], r["n"]) for r in salted
    )
    pj = skewed.join(dim, ["k"]).count()
    sj = salted_join(keyed, dim, ["k"], n_salts=8, salt_from=["row_id"]).count()
    assert pj == sj


# -- LSH hot-bucket cap (r1 VERDICT "Next round" #5) ------------------------
# A degenerate corpus (every doc identical) collapses each band into ONE
# bucket; uncapped that is a C(n,2) single-task pair explosion. The cap
# must bound the expansion AND report what it dropped.

@pytest.fixture(scope="module")
def degenerate_docs(spark):
    return spark.range(2_000).select(
        F.col("id").alias("doc_id"),
        F.lit("the very same document text repeated across the entire corpus").alias("text"),
    )


def test_minhash_cap_bounds_degenerate_corpus(degenerate_docs):
    from erathia_market_etl_spark.operators.dedup import (
        candidate_pairs_from_bands,
        minhash_band_table,
    )

    pairs = candidate_pairs_from_bands(
        minhash_band_table(degenerate_docs, "text", "doc_id"), max_bucket=32
    )
    # C(32,2), not C(2000,2) — same 32 lowest ids survive in every band
    assert pairs.count() == 32 * 31 // 2


def test_simhash_cap_bounds_degenerate_corpus(degenerate_docs):
    from erathia_market_etl_spark.operators.dedup import simhash_near_pairs

    pairs = simhash_near_pairs(degenerate_docs, "text", "doc_id", max_bucket=16)
    assert pairs.count() == 16 * 15 // 2  # identical docs: hamming 0


def test_simhash_oversized_doc_slices_match_batch_path(spark):
    """r16 ADVICE: a single document with >= 200k tokens must be
    fingerprinted in bounded token slices (never one (tokens x 48)
    matrix), and the sliced accumulation must produce the SAME
    fingerprint integer as the attested JVM formulation
    (token_hash48 -> 48 conditional sums -> sign collapse)."""
    from pyspark.sql import functions as F

    from erathia_market_etl_spark.operators.dedup import simhash_table

    from .simhash import simhash_bit_sums, simhash_fingerprint, token_hash48

    # 200_001 tokens from a 7-word vocab -> forces the sliced path
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    big = " ".join(vocab[i % 7] for i in range(200_001))
    docs = spark.createDataFrame(
        [(1, big), (2, "alpha beta gamma")], "doc_id long, text string"
    )
    got = {
        r["doc"]: r["fingerprint"]
        for r in simhash_table(docs, "text", "doc_id").collect()
    }
    ref = {
        r["doc"]: r["fingerprint"]
        for r in (
            docs.select(
                F.col("doc_id").alias("doc"),
                F.explode(F.split("text", " ")).alias("t"),
            )
            .select("doc", token_hash48(F.col("t")).alias("h"))
            .groupBy("doc")
            .agg(*simhash_bit_sums(F.col("h")))
            .select("doc", simhash_fingerprint().alias("fingerprint"))
            .collect()
        )
    }
    assert got == ref


def test_pairwise_cosine_degrades_on_null_and_ragged(spark):
    """r16 ADVICE: a NULL or length-mismatched embedding pair must
    score NaN (dropped by any threshold filter, like the old SQL
    folds' NULL) instead of crashing the task in np.stack."""


    from pyspark.sql import functions as F

    from erathia_market_etl_spark.operators.similarity import (
        pairwise_cosine_udf,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),
            (2, None, [1.0, 0.0]),
            (3, [1.0, 0.0], [1.0, 0.0, 5.0]),
            (4, [0.0, 1.0], [0.0, 2.0]),
        ],
        "pid long, ea array<float>, eb array<float>",
    )
    rows = {
        r["pid"]: r["cs"]
        for r in df.select(
            "pid", pairwise_cosine_udf()(F.col("ea"), F.col("eb")).alias("cs")
        ).collect()
    }
    assert rows[1] == 1.0 and rows[4] == 1.0
    # pandas NaN crosses Arrow as SQL NULL — exactly the old folds'
    # NULL score for a NULL/ragged pair
    assert rows[2] is None and rows[3] is None
    kept = df.withColumn(
        "cs", pairwise_cosine_udf()(F.col("ea"), F.col("eb"))
    ).filter(F.col("cs") >= 0.4)
    assert sorted(r["pid"] for r in kept.collect()) == [1, 4]


def test_ivf_stack_fails_loudly_on_corrupt_embeddings():
    """r16 ADVICE: the IVF scorers must name the corrupt input instead
    of an opaque np.stack shape error."""
    import numpy as np
    import pandas as pd
    import pytest

    from erathia_market_etl_spark.operators.similarity import _np_stack

    with pytest.raises(ValueError, match="NULL embedding at batch row 1"):
        _np_stack(pd.Series([np.array([1.0]), None]))
    with pytest.raises(ValueError, match="ragged embedding batch"):
        _np_stack(pd.Series([np.array([1.0]), np.array([1.0, 2.0])]))


def test_adaptive_partitions_falls_back_without_jdf(spark):
    """r16 ADVICE: a session without classic-JVM internals (Spark
    Connect) must degrade to the configured shuffle width instead of
    raising at plan-construction time."""
    from erathia_market_etl_spark.sources.parquet_io import (
        adaptive_partitions,
    )

    class NoJdf:
        sparkSession = spark

        @property
        def _jdf(self):
            raise AttributeError("_jdf")  # Connect sessions have no _jdf

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert adaptive_partitions(NoJdf()) == cap


def test_adaptive_partitions_survives_connect_like_session():
    """Neither an int-castable conf value, a sparkContext nor _jdf:
    fall back to Spark's default shuffle width, never raise."""
    from types import SimpleNamespace

    from erathia_market_etl_spark.sources.parquet_io import (
        adaptive_partitions,
    )

    def bad_conf(key):
        raise ValueError(key)

    session = SimpleNamespace(conf=SimpleNamespace(get=bad_conf))
    assert adaptive_partitions(SimpleNamespace(sparkSession=session)) == 200


def test_bucket_stats_report_overflow(degenerate_docs):
    from erathia_market_etl_spark.operators.dedup import (
        lsh_bucket_stats,
        minhash_band_table,
    )

    bands = minhash_band_table(degenerate_docs, "text", "doc_id")
    stats = lsh_bucket_stats(bands, ["band_idx", "band_key"], max_bucket=32).collect()
    assert len(stats) == 4  # one row per band
    for r in stats:
        assert r["n_buckets"] == 1           # total collapse
        assert r["max_bucket_size"] == 2_000
        assert r["n_overflow_buckets"] == 1
        assert r["n_dropped_members"] == 2_000 - 32  # truncation quantified


def test_cap_no_op_on_diverse_corpus(spark):
    """On a healthy corpus the cap must not change results at all."""
    from erathia_market_etl_spark.operators.dedup import (
        candidate_pairs_from_bands,
        minhash_band_table,
    )

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("unique document number "), F.col("id"),
            F.lit(" with its own words "), F.col("id") * 7, F.lit(" tail"),
        ).alias("text"),
    )
    bands = minhash_band_table(docs, "text", "doc_id")
    capped = candidate_pairs_from_bands(bands, max_bucket=256)
    uncapped = candidate_pairs_from_bands(bands, max_bucket=1_000_000)
    assert sorted(map(tuple, capped.collect())) == sorted(map(tuple, uncapped.collect()))
