"""Bloom-filter membership pins (operators/dedup.py, r9).

The oracle compare (test_oracle_parity / LOCALCHECK) attests the full
query twin; these pin the filter-theoretic properties the compare
can't distinguish from coincidence: the no-false-negative guarantee,
the non-vacuity of approximation (a forced false positive), and the
bit_or mergeability the incremental-maintenance story relies on.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from erathia_market_etl_spark.operators.dedup import (
    BLOOM_BITS_PER_KEY,
    BLOOM_K,
    BLOOM_WORD_BITS,
    bloom_build,
    bloom_m_bits,
    bloom_probe,
)


def _fps(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "fp string")


def test_bloom_m_sizing_matches_sql_twin():
    # Python helper == the oracle's integer formula, word-aligned
    for n in [1, 2, 62, 63, 64, 100, 999, 12345]:
        expected = BLOOM_WORD_BITS * (
            (BLOOM_BITS_PER_KEY * n + BLOOM_WORD_BITS - 1) // BLOOM_WORD_BITS
        )
        assert bloom_m_bits(n) == expected
        assert bloom_m_bits(n) % BLOOM_WORD_BITS == 0
    assert bloom_m_bits(0) == bloom_m_bits(1)  # empty-history guard


def test_bloom_no_false_negatives_and_low_fpr(spark):
    """Every inserted key probes TRUE (the Bloom guarantee — this must
    hold exactly, not probabilistically); novel keys probe almost
    entirely FALSE at the 20-bits/key sizing."""
    inserted = [f"key-{i}" for i in range(200)]
    novel = [f"other-{i}" for i in range(500)]
    hist = _fps(spark, inserted)
    m = bloom_m_bits(len(inserted))
    words = bloom_build(hist, "fp", m).localCheckpoint()

    hits = {
        r["fp"]: r["maybe_seen"]
        for r in bloom_probe(_fps(spark, inserted + novel), "fp", words, m).collect()
    }
    assert all(hits[k] for k in inserted), "false negative — contract broken"
    fp_rate = sum(hits[k] for k in novel) / len(novel)
    # 20 bits/key, k=7 -> theoretical ~2e-4; allow generous slack
    assert fp_rate <= 0.01, fp_rate


def test_bloom_false_positives_exist_when_undersized(spark):
    """Non-vacuity of 'maybe': a deliberately tiny filter (one word)
    saturates and flags novel keys as maybe-seen — proving maybe_seen
    is genuinely approximate, and why the exact verify stays in the
    pipeline behind it."""
    hist = _fps(spark, [f"key-{i}" for i in range(50)])
    m = BLOOM_WORD_BITS  # 63 bits for 50*7 insertions: saturated
    words = bloom_build(hist, "fp", m).localCheckpoint()
    novel = [f"other-{i}" for i in range(20)]
    hits = [r["maybe_seen"] for r in
            bloom_probe(_fps(spark, novel), "fp", words, m).collect()]
    assert any(hits), "expected false positives from a saturated filter"


def test_bloom_words_merge_by_bit_or(spark):
    """Incremental maintenance: build(A) merged with build(B) by
    bit_or == build(A ∪ B) — so per-ingest filters union into the
    history filter without ever rebuilding from raw fingerprints."""
    a = [f"a-{i}" for i in range(80)]
    b = [f"b-{i}" for i in range(60)]
    m = bloom_m_bits(len(a) + len(b))
    words_a = bloom_build(_fps(spark, a), "fp", m)
    words_b = bloom_build(_fps(spark, b), "fp", m)
    merged = {
        r["word_idx"]: r["word"]
        for r in words_a.unionByName(words_b)
        .groupBy("word_idx").agg(F.bit_or("word").alias("word")).collect()
    }
    whole = {
        r["word_idx"]: r["word"]
        for r in bloom_build(_fps(spark, a + b), "fp", m).collect()
    }
    assert merged == whole


def test_bloom_incremental_invariant_and_nonvacuity(spark):
    """The query's in-result contract on real fixture data: every row
    satisfies actually_seen => maybe_seen and definitely-new docs
    exist. The fixture corpus has no cross-split exact dups below
    sf0.1 (exactly 1 there — measured), so the actually_seen=TRUE path
    is NOT provable from fixture data; its evidence is the planted
    no-false-negative test above, which inserts and re-probes the same
    keys through the same operators."""
    from erathia_market_etl_spark.plans.dedup_queries import (
        dedup_bloom_incremental,
    )

    rows = dedup_bloom_incremental(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert all(r["maybe_seen"] or not r["actually_seen"] for r in rows), (
        "false negative against exact membership"
    )
    assert sum(1 for r in rows if not r["maybe_seen"]) > 0


def test_bloom_probe_is_shuffle_free(spark):
    """The probe chain (k broadcast joins over the checkpointed word
    table) must add NO shuffle exchange on the batch side — the scale
    contract that distinguishes this from the exact anti-join."""
    inserted = [f"key-{i}" for i in range(100)]
    hist = _fps(spark, inserted)
    m = bloom_m_bits(len(inserted))
    words = bloom_build(hist, "fp", m).localCheckpoint()
    probed = bloom_probe(_fps(spark, ["x", "y"]), "fp", words, m)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("BroadcastHashJoin") == BLOOM_K
