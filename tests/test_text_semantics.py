"""Semantic pins for the r6 text operators on PLANTED inputs.

Oracle parity (tests/test_oracle_parity.py) proves Spark and DuckDB
agree; these tests prove the operators mean what they claim: BM25 must
rank a term-dense document first, and each quality-gate rule must fire
on a document constructed to violate exactly that rule.
"""

from __future__ import annotations

import os

from .conftest import SF_SMOKE

GOOD = (
    "the data pipeline runs a fast query over the table and it is "
    "a good day to ship clean results of the work in the main branch "
    "because the team wants it done and the data is ready to go now"
)


def _write_docs(spark, rows, d):
    """Stage a planted documents table as parquet under ``d`` so the
    query under test exercises its REAL load path (load_table over an
    sf_dir); pytest's tmp_path owns and reaps the directory."""
    spark.createDataFrame(rows, "doc_id long, text string, lang string, "
                                "source string, n_chars long") \
        .write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    return d


def _gate(spark, rows, d):
    from erathia_market_etl_spark.plans.text_queries import text_quality_gate

    out = text_quality_gate(spark, _write_docs(spark, rows, d))
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_quality_gate_rules_fire_individually(spark, tmp_path):
    rows = [
        (0, GOOD, "en", "s", len(GOOD)),                      # passes all
        (1, "too short", "en", "s", 9),                       # len_ok fails
        (2, " ".join(["supercalifragilistic" * 3] * 20),      # mean_len fails
         "en", "s", 0),
        (3, " ".join(f"tok{i}" for i in range(40)),           # no stopwords
         "en", "s", 0),
        (4, "£$ %% ^^ " * 8 + "the of to a in is it and the of to a",
         "en", "s", 0),                                       # alpha_ok fails
        (5, "the cat sat here " * 30, "en", "s", 0),          # repetitive
    ]
    got = _gate(spark, rows, str(tmp_path))
    assert got[0]["keep"] is True, got[0]
    assert got[1]["len_ok"] is False and got[1]["keep"] is False
    assert got[2]["mean_len_ok"] is False and got[2]["keep"] is False
    assert got[3]["stopword_ok"] is False and got[3]["keep"] is False
    assert got[4]["alpha_ok"] is False and got[4]["keep"] is False
    assert got[5]["rep_ok"] is False and got[5]["keep"] is False
    # and the violating docs fail ONLY where planted (no rule bleed)
    assert got[1]["rep_ok"] is True
    assert got[5]["len_ok"] is True and got[5]["stopword_ok"] is True


def test_bm25_ranks_term_dense_doc_first(spark, tmp_path):
    from erathia_market_etl_spark.plans.text_queries import text_bm25_topk

    filler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, filler, "en", "s", len(filler)) for i in range(20)]
    # doc 50: saturated with all three query terms; doc 51: one term once
    rows.append((50, "data query fast " * 6, "en", "s", 0))
    rows.append((51, filler + " data", "en", "s", 0))
    out = text_bm25_topk(spark, _write_docs(spark, rows, str(tmp_path))).collect()
    assert out, "no scored docs"
    assert out[0]["doc_id"] == 50          # term-dense doc wins
    assert out[0]["bm25"] > out[-1]["bm25"] or len(out) == 1
    ids = [r["doc_id"] for r in out]
    assert 51 in ids                       # single-hit doc still retrieved
    assert all(r["bm25"] > 0 for r in out)


def test_bm25_posting_shape_matches_narrow_shape(spark):
    """The posting-list BM25 (arbitrary term table, shuffle shape) must
    agree with the registered narrow column-pivot shape on the same
    fixed query. Since the r7 micro-integer accumulation the postings
    shape is partition-order-EXACT (pinned in
    test_bm25_postings_partition_order_independent); the remaining
    cross-SHAPE difference is deliberate semantics: each per-term part
    is rounded to 1e-6 before summing (≤ 1.5e-6 total for 3 terms) vs
    the narrow shape's one final rounding, so a boundary-straddling
    score can differ by a quantum and shift the #20 cut. The pin
    allows exactly that — ≤ 2e-6 per score, ≤ 2 boundary docs — and
    still fails loudly for any real shape bug (wrong tf/df/dl join).
    Duplicate term rows must be harmless (the query-expansion
    contract: tf must not inflate)."""
    from erathia_market_etl_spark.plans.text_queries import (
        BM25_TERMS,
        bm25_topk_postings,
        text_bm25_topk,
    )
    from erathia_market_etl_spark.sources.parquet_io import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    terms = spark.createDataFrame(
        [(t,) for t in BM25_TERMS + BM25_TERMS], ["term"]  # dups on purpose
    )
    posting = {r["doc_id"]: r["bm25"]
               for r in bm25_topk_postings(docs, terms).collect()}
    narrow = {r["doc_id"]: r["bm25"]
              for r in text_bm25_topk(spark, SF_SMOKE).collect()}
    common = set(posting) & set(narrow)
    assert len(common) >= len(narrow) - 2, (sorted(posting), sorted(narrow))
    for d in common:
        assert abs(posting[d] - narrow[d]) <= 2e-6, (d, posting[d], narrow[d])


def test_training_funnel_stage_invariants(spark):
    """Queued r7 composition query: every funnel stage can only shrink
    (n_kept <= n_gated <= n_raw per source), the window count is the
    exact ceil of the kept token total, and the funnel is non-vacuous
    on the fixtures — the gate drops documents somewhere AND the
    near-dup component stage removes at least one gated cluster member
    somewhere (the fixture corpus has zero byte-equal duplicates, so an
    exact-dedup stage here would be vacuously green — measured before
    choosing the LSH stage)."""
    from erathia_market_etl_spark.plans.text_queries import (
        FUNNEL_CONTEXT_LEN,
        pipeline_training_funnel,
    )

    rows = pipeline_training_funnel(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_gated"] <= r["n_raw"], r
        want_windows = (
            r["n_tokens"] + FUNNEL_CONTEXT_LEN - 1
        ) // FUNNEL_CONTEXT_LEN
        assert r["n_windows"] == want_windows, r
        assert (r["n_tokens"] > 0) == (r["n_kept"] > 0), r
    assert any(r["n_gated"] < r["n_raw"] for r in rows), "gate dropped nothing"
    assert any(r["n_kept"] < r["n_gated"] for r in rows), "dedup removed nothing"


def test_bm25_postings_partition_order_independent(spark):
    """The micro-integer accumulation claim, tested directly: the
    posting-shape BM25 result must be EXACTLY equal (not tolerance-
    equal) under adversarially different partitionings of the corpus —
    long sums are associative, so partial-aggregation order cannot
    move a score by even one ulp."""
    from pyspark.sql import functions as F

    from erathia_market_etl_spark.plans.text_queries import (
        BM25_POSTING_TERMS,
        bm25_topk_postings,
    )
    from erathia_market_etl_spark.sources.parquet_io import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    terms = spark.createDataFrame(
        [(t,) for t in BM25_POSTING_TERMS], "term string"
    )

    def run(df):
        return [
            (r["doc_id"], r["n_terms_hit"], r["bm25"])
            for r in bm25_topk_postings(df, terms).collect()
        ]

    one = run(docs.repartition(1))
    many = run(docs.repartition(13, F.col("doc_id") % 7))
    assert one == many


def test_span_removal_keep_one_semantics(spark, tmp_path):
    """r14 rewrite half of exact-substring dedup: the duplicated span
    keeps its SMALLEST-doc_id copy and is removed everywhere else;
    intra-doc-only repeats are never removed; short docs and docs with
    no duplicated spans pass through byte-identical; removal takes the
    full covered window, not just the span start."""
    from erathia_market_etl_spark.plans.text_queries import (
        SPAN_K,
        text_dedup_span_removal,
    )

    shared = " ".join(f"d{i}" for i in range(SPAN_K))
    intra = " ".join(f"r{i}" for i in range(SPAN_K))
    rows = [
        # doc 0: keeper (smallest doc_id containing `shared`), with a
        # unique prefix token so removal WOULD be visible if it fired
        (0, "u0 " + shared, "en", "s", 1),
        # doc 1: loser — `shared` plus unique tokens either side
        (1, "u1 " + shared + " u2", "en", "s", 1),
        # doc 2: intra-doc repeat only (same span twice, no other doc)
        (2, intra + " " + intra, "en", "s", 1),
        # doc 3: short (< SPAN_K tokens), untouched
        (3, "a b c", "en", "s", 1),
    ]
    d = _write_docs(spark, rows, str(tmp_path))
    out = {r["doc_id"]: r for r in text_dedup_span_removal(spark, d).collect()}

    assert set(out) == {0, 1, 2, 3}
    # keeper keeps everything
    assert out[0]["n_removed"] == 0
    assert out[0]["text_rewritten"] == "u0 " + shared
    # loser drops exactly the SPAN_K covered tokens, keeps its unique ends
    assert out[1]["n_removed"] == SPAN_K
    assert out[1]["text_rewritten"] == "u1 u2"
    assert out[1]["removed_ppm"] == SPAN_K * 1_000_000 // (SPAN_K + 2)
    # intra-doc-only repeats never removed (cross-doc containment rule)
    assert out[2]["n_removed"] == 0
    assert out[2]["text_rewritten"] == intra + " " + intra
    # short doc passes through
    assert out[3]["n_removed"] == 0 and out[3]["text_rewritten"] == "a b c"


def test_span_removal_overlapping_spans_cover_union(spark, tmp_path):
    """Overlapping duplicated spans remove the UNION of their covered
    windows: doc 1 shares a (SPAN_K+1)-token run with doc 0, which is
    two overlapping SPAN_K spans — the loser loses all SPAN_K+1 tokens
    exactly once (no double counting, no gap at the overlap seam)."""
    from erathia_market_etl_spark.plans.text_queries import (
        SPAN_K,
        text_dedup_span_removal,
    )

    run = " ".join(f"v{i}" for i in range(SPAN_K + 1))
    rows = [
        (0, run, "en", "s", 1),
        (1, "head " + run + " tail", "en", "s", 1),
    ]
    d = _write_docs(spark, rows, str(tmp_path))
    out = {r["doc_id"]: r for r in text_dedup_span_removal(spark, d).collect()}
    assert out[0]["n_removed"] == 0  # keeper
    assert out[1]["n_removed"] == SPAN_K + 1
    assert out[1]["text_rewritten"] == "head tail"
