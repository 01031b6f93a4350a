"""Parity pins for the r17 Arrow SimHash pair expansion.

The SimHash block tail used to expand pairs with
explode(pair_array(struct)) + bit_count — an interpreted nested-
transform HOF allocating a struct per pair, plus a per-pair hamming
expression. r17 replaces that stage with one vectorized numpy pass
(expand_fp_pairs: argsort, triu gather, xor, unpackbits popcount,
fused hamming filter). The plain-long bucket tails (MinHash bands,
sign bands) were measured with the same kernel shape and kept on the
JVM formulation — the Python boundary costs more than the interpreted
transform there (see candidate_pairs_from_bands).

These tests pin expand_fp_pairs SET-equal to the attested SQL
formulation (pair_array + hamming48) on the fixture corpus, pin the
popcount arithmetic, and pin the registered consumers' plans: the cap
window's two-phase WindowGroupLimit must survive, and the simhash
plan must show the MapInPandas tail with the interpreted pair explode
gone.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from erathia_market_etl_spark.operators.dedup import (
    SIMHASH_HAMMING_MAX,
    cap_bucket_members,
    expand_fp_pairs,
    pair_array,
    simhash_blocks,
    simhash_table,
)
from erathia_market_etl_spark.sources.parquet_io import load_table

from .conftest import SF_T2
from .simhash import hamming48


def _capped_blocks(spark):
    docs = load_table(spark, SF_T2, "documents")
    fp = simhash_table(docs, "text", "doc_id")
    blocks = fp.select(
        "doc", "fingerprint",
        F.posexplode(simhash_blocks(F.col("fingerprint"))).alias(
            "block_idx", "block_key"
        ),
    )
    return cap_bucket_members(blocks, ["block_idx", "block_key"], "doc", 256)


def test_fp_pair_kernel_matches_struct_pair_array(spark):
    blocks = _capped_blocks(spark)
    old = (
        blocks.groupBy("block_idx", "block_key")
        .agg(F.sort_array(F.collect_list(F.struct("doc", "fingerprint"))).alias("docs"))
        .filter(F.size("docs") > 1)
        .select(F.explode(pair_array(F.col("docs"))).alias("p"))
        .select(
            F.col("p.doc_a.doc").alias("doc_a"),
            F.col("p.doc_b.doc").alias("doc_b"),
            hamming48(
                F.col("p.doc_a.fingerprint"), F.col("p.doc_b.fingerprint")
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .distinct()
    )
    grouped = (
        blocks.groupBy("block_idx", "block_key")
        .agg(F.collect_list(F.struct("doc", "fingerprint")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    new = expand_fp_pairs(grouped, SIMHASH_HAMMING_MAX).distinct()
    o = sorted(map(tuple, old.collect()))
    n = sorted(map(tuple, new.collect()))
    assert o == n
    assert o, "vacuous: fixture produced no simhash near pairs"
    assert old.schema.simpleString() == new.schema.simpleString()


def test_fp_pair_kernel_handles_degenerate_buckets(spark):
    """Unsorted member order, a capped-size bucket, a pair bucket, and
    hamming values straddling the max must all match the SQL tail."""
    rows = [
        # bucket b0: three members, unsorted, mixed hamming
        (0, "b0", 9, 0b0111), (0, "b0", 3, 0b0001), (0, "b0", 5, 0b1111_0001),
        # bucket b1: exactly two, hamming over the max -> dropped
        (1, "b1", 10, 0), (1, "b1", 11, 0b11111),
        # bucket b2: identical fingerprints -> hamming 0
        (2, "b2", 20, 42), (2, "b2", 21, 42),
    ]
    blocks = spark.createDataFrame(
        rows, "block_idx int, block_key string, doc long, fingerprint long"
    )
    old = (
        blocks.groupBy("block_idx", "block_key")
        .agg(F.sort_array(F.collect_list(F.struct("doc", "fingerprint"))).alias("docs"))
        .filter(F.size("docs") > 1)
        .select(F.explode(pair_array(F.col("docs"))).alias("p"))
        .select(
            F.col("p.doc_a.doc").alias("doc_a"),
            F.col("p.doc_b.doc").alias("doc_b"),
            hamming48(
                F.col("p.doc_a.fingerprint"), F.col("p.doc_b.fingerprint")
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .distinct()
    )
    grouped = (
        blocks.groupBy("block_idx", "block_key")
        .agg(F.collect_list(F.struct("doc", "fingerprint")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    new = expand_fp_pairs(grouped, SIMHASH_HAMMING_MAX).distinct()
    o = sorted(map(tuple, old.collect()))
    n = sorted(map(tuple, new.collect()))
    assert o == n
    assert (20, 21, 0) in set(o)  # the hamming-0 pair survived
    assert all(h <= SIMHASH_HAMMING_MAX for _, _, h in o)


def test_fp_pair_popcount_matches_bit_count_exhaustive():
    """np.unpackbits popcount == Spark bit_count for 48-bit values,
    including the all-bits and single-bit extremes."""
    import numpy as np

    xs = np.array(
        [0, 1, (1 << 48) - 1, 0x800000000000 - 1, 0xAAAAAAAAAAAA,
         0x555555555555, 1 << 47], dtype=np.int64
    )
    got = np.unpackbits(xs.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
    want = [bin(int(v)).count("1") for v in xs]
    assert got.tolist() == want


@pytest.mark.parametrize(
    "name", ["dedup_minhash_lsh_pairs", "dedup_simhash_near_pairs",
             "sim_similar_pairs"]
)
def test_pair_consumers_keep_cap_pushdown(spark, name):
    """The cap's two-phase WindowGroupLimit (the degenerate-corpus
    bound) must survive in every pair consumer; the simhash plan must
    run its pair tail through MapInPandas with the interpreted pair
    explode gone, while the plain-long tails keep the (measured-
    cheaper) JVM explode."""
    import re

    from erathia_market_etl_spark.plans import all_queries

    df = all_queries()[name](spark, SF_T2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"WindowGroupLimit .*, Partial", plan), name
    assert re.search(r"WindowGroupLimit .*, Final", plan), name
    flat = plan.replace("\n", "")
    if name == "dedup_simhash_near_pairs":
        assert "MapInPandas" in plan, name
        assert "flatten(transform(" not in flat, name
    else:
        assert "flatten(transform(" in flat, name
