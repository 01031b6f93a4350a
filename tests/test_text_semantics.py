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


def test_lm_familiarity_score_semantics(spark):
    """Queued r8 LM scoring query: per-doc invariants (every in-model
    bigram scores <= 0 bits since c(w1,w2) <= c(w1), OOV scores exactly
    LM_OOV_BITS, so mean_bits lies in [LM_OOV_BITS, 0]), the mean is
    NULL exactly for bigram-less docs, and the score is non-vacuous on
    the fixtures: both in-model and OOV populations are hit (the
    LM_TOP_K=512 cap sits inside the ~916-bigram fixture vocabulary)
    and the score actually discriminates documents."""
    from erathia_market_etl_spark.plans.text_queries import (
        LM_OOV_BITS,
        text_lm_familiarity,
    )

    rows = text_lm_familiarity(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_bigrams"], r
        if r["n_bigrams"] == 0:
            assert r["mean_bits"] is None and r["sum_bits"] == 0, r
        else:
            assert LM_OOV_BITS <= r["mean_bits"] <= 0, r
            # every bigram contributes in [LM_OOV_BITS, 0] bits
            assert LM_OOV_BITS * r["n_bigrams"] <= r["sum_bits"] <= 0, r
    total_b = sum(r["n_bigrams"] for r in rows)
    total_oov = sum(r["n_oov"] for r in rows)
    assert 0 < total_oov < total_b, (total_oov, total_b)
    means = {r["mean_bits"] for r in rows if r["mean_bits"] is not None}
    assert len(means) > 1, "score does not discriminate"


def test_lm_familiarity_model_join_broadcasts(spark):
    """The scale claim in the docstring, pinned: the <= LM_TOP_K-row
    model joins the exploded bigram stream as a BROADCAST hash join —
    zipfian-hot bigrams must never ride a shuffled join."""
    from erathia_market_etl_spark.plans.text_queries import (
        text_lm_familiarity,
    )

    plan = text_lm_familiarity(spark, SF_SMOKE)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_duplicate_spans_semantics(spark):
    """Queued r8 duplicate-span query: count containments
    (n_dup_spans <= n_spans, n_distinct_spans <= n_spans), fraction
    bounds, NULL exactly for span-less (< SPAN_K tokens) docs, and
    non-vacuity both ways on the fixtures (the corpus carries
    cross-document boilerplate, but no document is 100% duplicated)."""
    from erathia_market_etl_spark.plans.text_queries import (
        text_duplicate_spans,
    )

    rows = text_duplicate_spans(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_dup_spans"] <= r["n_spans"], r
        assert 0 <= r["n_distinct_spans"] <= r["n_spans"], r
        if r["n_spans"] == 0:
            assert r["dup_fraction"] is None, r
        else:
            assert 0.0 <= r["dup_fraction"] <= 1.0, r
    assert any(r["n_dup_spans"] > 0 for r in rows), "no duplicated spans"
    assert any(
        r["n_spans"] > 0 and r["n_dup_spans"] < r["n_spans"] for r in rows
    ), "every span duplicated — vacuous fixture"


def test_duplicate_spans_cross_doc_only(spark, tmp_path):
    """A span repeated WITHIN one document only is not a duplicate
    (n_docs >= 2 is distinct-document containment): a synthetic corpus
    with an intra-doc repeat and a cross-doc repeat must flag only the
    cross-doc span occurrences."""
    import os

    from erathia_market_etl_spark.plans.text_queries import (
        SPAN_K,
        text_duplicate_spans,
    )

    base = " ".join(f"w{i}" for i in range(SPAN_K))
    other = " ".join(f"x{i}" for i in range(SPAN_K))
    rows = [
        # doc 0: the same span TWICE (intra-doc repeat, no other doc)
        (0, base + " " + base, "en", "s", 1),
        # docs 1 and 2: share `other` (cross-doc duplicate)
        (1, other, "en", "s", 1),
        (2, other, "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    out = {r["doc_id"]: r for r in text_duplicate_spans(spark, d).collect()}
    # doc 0's repeated span never leaves doc 0 -> all spans containing
    # only w-tokens are non-duplicated; the seam spans (w..w mixes) are
    # unique too
    assert out[0]["n_dup_spans"] == 0, out[0]
    assert out[1]["n_dup_spans"] == out[1]["n_spans"] == 1, out[1]
    assert out[2]["n_dup_spans"] == 1, out[2]


def test_lm_and_spans_degenerate_documents(spark, tmp_path):
    """Degenerate-shape corpus through both r8 text operators: a
    one-token doc (zero bigrams — exercises slice(t, 1, 0)), a
    two-token doc (exactly one bigram), and a doc shorter than SPAN_K.
    Bigram/span accounting must survive with exact zeros and NULL
    means, never dropped rows or sequence(1, 0) artifacts."""
    from erathia_market_etl_spark.plans.text_queries import (
        text_duplicate_spans,
        text_lm_familiarity,
    )

    rows = [
        (0, "solo", "en", "s", 4),
        (1, "two tokens", "en", "s", 10),
        (2, "a b c d e f g", "en", "s", 13),   # 7 tokens < SPAN_K
        (3, " ".join(f"w{i}" for i in range(12)), "en", "s", 0),
    ]
    d = _write_docs(spark, rows, str(tmp_path))

    lm = {r["doc_id"]: r for r in text_lm_familiarity(spark, d).collect()}
    assert set(lm) == {0, 1, 2, 3}
    assert lm[0]["n_bigrams"] == 0 and lm[0]["mean_bits"] is None
    assert lm[0]["sum_bits"] == 0 and lm[0]["n_oov"] == 0
    assert lm[1]["n_bigrams"] == 1
    assert lm[3]["n_bigrams"] == 11

    sp = {r["doc_id"]: r for r in text_duplicate_spans(spark, d).collect()}
    assert set(sp) == {0, 1, 2, 3}
    for did in (0, 1, 2):  # all shorter than SPAN_K
        assert sp[did]["n_spans"] == 0 and sp[did]["dup_fraction"] is None
    assert sp[3]["n_spans"] == 12 - 8 + 1


def test_duplicate_spans_property_random_corpora(spark):
    """Hypothesis property: on random corpora drawn from a small token
    vocabulary (so cross-document span collisions actually happen),
    text_duplicate_spans must equal a pure-Python span counter —
    totals, distincts, cross-document duplicate counts, every doc."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from erathia_market_etl_spark.plans.text_queries import (
        SPAN_K,
        text_duplicate_spans,
    )

    @settings(max_examples=4, deadline=None)
    @given(st.data())
    def run(data):
        import os
        import tempfile
        from collections import Counter

        n_docs = data.draw(st.integers(min_value=1, max_value=8))
        texts = []
        for _ in range(n_docs):
            n_tok = data.draw(st.integers(min_value=1, max_value=30))
            texts.append(
                " ".join(
                    data.draw(st.sampled_from(["a", "b", "c"]))
                    for _ in range(n_tok)
                )
            )
        rows = [
            (i, t, "en", "s", len(t)) for i, t in enumerate(texts)
        ]
        # python reference
        per_doc = {}
        span_docs = Counter()
        for i, t in enumerate(texts):
            toks = t.split(" ")
            spans = [
                " ".join(toks[j:j + SPAN_K])
                for j in range(len(toks) - SPAN_K + 1)
            ]
            per_doc[i] = Counter(spans)
            for sp in set(spans):
                span_docs[sp] += 1
        with tempfile.TemporaryDirectory() as td:
            df = spark.createDataFrame(
                rows,
                "doc_id long, text string, lang string, source string,"
                " n_chars long",
            )
            df.coalesce(1).write.parquet(
                os.path.join(td, "documents.parquet")
            )
            got = {
                r["doc_id"]: r
                for r in text_duplicate_spans(spark, td).collect()
            }
        assert set(got) == set(per_doc)
        for i, cnt in per_doc.items():
            n_spans = sum(cnt.values())
            n_dup = sum(
                c for sp, c in cnt.items() if span_docs[sp] >= 2
            )
            assert got[i]["n_spans"] == n_spans, (i, got[i], n_spans)
            assert got[i]["n_distinct_spans"] == len(cnt), (i, got[i])
            assert got[i]["n_dup_spans"] == n_dup, (i, got[i], n_dup)

    run()


def _edit_distance(s, t):
    """Reference Wagner-Fischer, driver-side."""
    prev = list(range(len(t) + 1))
    for i, cs in enumerate(s, 1):
        cur = [i]
        for j, ct in enumerate(t, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (cs != ct)))
        prev = cur
    return prev[-1]


def test_fuzzy_prefix_block_semantics(spark, tmp_path):
    """Planted corpus for the blocking + Levenshtein pass: a true fuzzy
    pair (char edits past the prefix, inside the verify window) must be
    found with its EXACT edit distance (pinned against a driver-side
    Wagner-Fischer); a same-block pair whose heads diverge past
    FUZZY_MAX_DIST must be rejected by the verify; and a pair differing
    inside the 16-char blocking prefix is the documented miss (the
    token-level MinHash/SimHash passes own it)."""
    from erathia_market_etl_spark.plans.dedup_queries import (
        dedup_fuzzy_prefix_block,
    )

    base = "shared sixteen!! " + "x" * 40        # block prefix + filler
    t0 = base + "alpha beta gamma"               # len 73 -> bucket 2
    t1 = base + "alpha bxta gamba"               # 2 edits vs t0
    t2 = "shared sixteen!! " + "q" * 60          # len 77 -> bucket 2, far head
    t3 = "DIFFERENT prefix " + t0                # prefix differs -> miss
    rows = [(i, t, "en", "s", 0) for i, t in enumerate([t0, t1, t2, t3])]
    d = _write_docs(spark, rows, str(tmp_path))
    got = {
        (r["doc_a"], r["doc_b"]): r["prefix_edit_distance"]
        for r in dedup_fuzzy_prefix_block(spark, d).collect()
    }
    assert got == {(0, 1): _edit_distance(t0[:120], t1[:120])}, got
    assert got[(0, 1)] == 2


def test_fuzzy_prefix_block_cap_is_deterministic(spark, tmp_path):
    """An over-cap block keeps exactly the first FUZZY_BLOCK_CAP docs by
    doc_id: C(cap, 2) pairs, and no doc past the cap appears."""
    from erathia_market_etl_spark.plans.dedup_queries import (
        FUZZY_BLOCK_CAP,
        dedup_fuzzy_prefix_block,
    )

    n = FUZZY_BLOCK_CAP + 5
    text = "shared sixteen!! " + "y" * 50
    rows = [(i, text, "en", "s", 0) for i in range(n)]
    d = _write_docs(spark, rows, str(tmp_path))
    pairs = dedup_fuzzy_prefix_block(spark, d).collect()
    assert len(pairs) == FUZZY_BLOCK_CAP * (FUZZY_BLOCK_CAP - 1) // 2
    seen = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    assert max(seen) == FUZZY_BLOCK_CAP - 1  # caps keep LOWEST doc_ids


def test_phrase_search_ranking_and_workload(spark):
    """Planted corpus with hand-computable bigram frequencies: the
    self-derived workload must be the hottest top_q bigrams (total
    DESC, phrase tiebreak) and each phrase's doc ranking must order by
    occurrence count DESC with doc_id tiebreak."""
    from erathia_market_etl_spark.plans.text_queries import (
        phrase_search_frame,
    )

    rows = [
        # "a b" x3 in doc 1, x1 in doc 2; "c d" x2 in doc 2
        (1, "a b a b a b"),       # bigrams: a-b x3, b-a x2
        (2, "a b c d c d"),       # a-b x1, b-c x1, c-d x2, d-c x1
        (3, "c d x y"),           # c-d, d-x, x-y
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = phrase_search_frame(docs, top_q=2, top_k=5).collect()
    # totals: "a b"=4, "c d"=3, "b a"=2, rest 1 -> workload = {a b, c d}
    by_phrase: dict[str, list] = {}
    for r in out:
        by_phrase.setdefault(r["phrase"], []).append(r)
    assert set(by_phrase) == {"a b", "c d"}
    ab = by_phrase["a b"]
    assert [(r["doc_id"], r["n_occurrences"], r["rank"]) for r in ab] == [
        (1, 3, 1), (2, 1, 2),
    ]
    assert all(r["phrase_total"] == 4 and r["n_docs"] == 2 for r in ab)
    cd = by_phrase["c d"]
    assert [(r["doc_id"], r["n_occurrences"], r["rank"]) for r in cd] == [
        (2, 2, 1), (3, 1, 2),
    ]


def test_phrase_search_requires_adjacency(spark):
    """The positional property that distinguishes phrase search from
    bag-of-words retrieval: a document containing both words
    NON-adjacently must not match the phrase."""
    from erathia_market_etl_spark.plans.text_queries import (
        phrase_search_frame,
    )

    rows = [
        (1, "red car red car"),   # "red car" x2 (adjacent)
        (2, "red car"),           # x1
        (3, "red big car red slow car"),  # both words, never adjacent
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = phrase_search_frame(docs, top_q=1, top_k=5).collect()
    assert all(r["phrase"] == "red car" for r in out)
    assert [r["doc_id"] for r in out] == [1, 2]  # doc 3 excluded
    assert [r["n_occurrences"] for r in out] == [2, 1]


def test_phrase_search_single_corpus_pass(spark):
    """Plan pin: after the occurrence checkpoint, fit and retrieval
    both read the materialized RDD — the corpus parquet is scanned
    exactly once (at checkpoint build), and the workload join is a
    broadcast."""
    from erathia_market_etl_spark.plans.text_queries import (
        text_phrase_search,
    )

    df = text_phrase_search(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan          # corpus read happened at checkpoint
    assert plan.count("Scan ExistingRDD") == 2  # fit + probe, same RDD
    assert "BroadcastHashJoin" in plan


def test_decon_ngram_contamination_splits_and_flags(spark):
    """The contamination report must be non-vacuous on the fixture
    corpus: some train docs carry test 4-grams and some do not, the
    flag fires exactly at the DECON_CONTAMINATED_PPM threshold, and
    n_hits can never exceed n_grams."""
    from erathia_market_etl_spark.plans.text_queries import (
        DECON_CONTAMINATED_PPM,
        decon_ngram_contamination,
    )

    rows = decon_ngram_contamination(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    hit = [r for r in rows if r["n_hits"] > 0]
    assert 0 < len(hit) < len(rows)
    flagged = [r for r in rows if r["contaminated"]]
    assert 0 < len(flagged) < len(rows)
    for r in rows:
        assert 0 <= r["n_hits"] <= r["n_grams"]
        assert r["contaminated"] == (
            r["contamination_ppm"] >= DECON_CONTAMINATED_PPM
        )
        assert r["train_doc"] >= 250


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


# ---------------------------------------------------------------------------
# HTML extraction laws (operators/html.py + text_html_extract, r16 —
# VERDICT r15 item 4): each rule pinned on a hand-written document
# constructed to exercise exactly that rule, through the REAL column
# expressions (no fixture synthesis in the way).
# ---------------------------------------------------------------------------


def _extract(spark, html: str) -> dict:
    from pyspark.sql import functions as F

    from erathia_market_etl_spark.operators.html import extract_content

    sig = extract_content(F.lit(html))
    row = spark.range(1).select(
        *[v.alias(k) for k, v in sig.items()]
    ).collect()[0]
    return row.asDict()


def test_html_noise_stripped_before_block_walk(spark):
    """script/style vanish wholesale BEFORE segmentation: a '<' and a
    literal '</p>' INSIDE a script body must not open or close blocks,
    and a style element between blocks must not appear in the text."""
    out = _extract(spark, (
        '<p>twenty characters of honest paragraph text</p>'
        '<script>if (x < 2) { y = "</p>"; }</script>'
        '<style>p { color: red; }</style>'
        '<p>another honest paragraph with enough text</p>'
    ))
    assert out["n_blocks"] == 2 and out["n_kept"] == 2
    assert out["kept_text"] == (
        "twenty characters of honest paragraph text\n"
        "another honest paragraph with enough text"
    )


def test_html_nav_dropped_by_density_footer_by_length(spark):
    """The two signals fire independently: an all-links nav fails the
    ppm rule even when long; a short footer fails the length rule even
    with low density; a content paragraph passes both."""
    nav = "<nav>" + " ".join(
        f'<a href="/{i}">navigation</a>' for i in range(6)
    ) + "</nav>"
    out = _extract(spark, (
        nav
        + "<p>the actual article body text sits here with one "
          '<a href="/ref">reference</a> link inside it</p>'
        + '<footer>(c) 2026 <a href="/about">about</a></footer>'
    ))
    assert out["n_blocks"] == 3
    assert out["n_kept"] == 1
    assert out["kept_text"].startswith("the actual article body")
    # the kept paragraph's density is the reported max
    plain = ("the actual article body text sits here with one "
             "reference link inside it")
    assert out["max_kept_ppm"] == len("reference") * 1_000_000 // len(plain)
    assert out["kept_chars"] == len(plain)


def test_html_inline_tags_stripped_anchor_text_kept(spark):
    """Tag stripping keeps display text: bold/em markup and anchor
    display text survive; attributes and the tags themselves do not.
    Nested markup INSIDE an anchor counts its text, not its tags."""
    out = _extract(spark, (
        '<div class="main" id="x">some <b>bold</b> and <em>emphasized'
        '</em> words plus <a href="/y" rel="nofollow">a <b>styled</b> '
        'link</a> here</div>'
    ))
    assert out["n_kept"] == 1
    assert out["kept_text"] == (
        "some bold and emphasized words plus a styled link here"
    )
    plain = out["kept_text"]
    assert out["max_kept_ppm"] == len("a styled link") * 1_000_000 // len(plain)


def test_html_case_insensitive_tags_and_attributes(spark):
    """<P CLASS=..> ... </P> is the same block as <p>...</p>."""
    out = _extract(spark, (
        '<P CLASS="lead">uppercase tagged paragraph with plenty of '
        "text</P><SCRIPT>var z = 1;</SCRIPT>"
    ))
    assert out["n_blocks"] == 1 and out["n_kept"] == 1
    assert out["kept_text"].startswith("uppercase tagged paragraph")


def test_html_empty_block_reads_all_link_and_drops(spark):
    """A block whose plain text is empty gets ppm = 1e6 (all-link by
    convention) and can never pass the keep rule."""
    out = _extract(spark, "<p></p><p>   </p>")
    assert out["n_blocks"] == 2 and out["n_kept"] == 0
    assert out["kept_text"] == "" and out["max_kept_ppm"] == 0


def test_html_extract_query_oracle_and_block_census(spark, tmp_path):
    """The full synthesized-page query on planted docs: 6 blocks per
    doc (script gone), nav/h1/footer never kept, and the DuckDB twin
    hash-matches on the planted table — including the 10-word minimum
    and a doc with single-char words (shortest legal paragraphs)."""
    from erathia_market_etl_spark.plans.text_queries import (
        TEXT_HTML_EXTRACT_ORACLE,
        text_html_extract,
    )
    from erathia_market_etl_spark.testing import compare_query

    rows = [
        (0, " ".join(f"word{i}" for i in range(10)), "en", "s", 1),
        (7, " ".join("abcdefghij"[i % 10] for i in range(25)), "en", "s", 1),
        (123456, " ".join(f"t{i * 13 % 97}longish" for i in range(100)),
         "en", "s", 1),
    ]
    d = _write_docs(spark, rows, str(tmp_path))
    out = {r["doc_id"]: r.asDict() for r in text_html_extract(spark, d).collect()}
    assert set(out) == {0, 7, 123456}
    for r in out.values():
        assert r["n_blocks"] == 6
        assert r["n_kept"] <= 3  # only paragraphs can survive
        for line in filter(None, r["kept_text"].split("\n")):
            assert len(line) >= 20 and "<" not in line
    # doc 7: all words are single chars, paragraphs are 3-7 words =
    # 5-13 plain chars < 20 -> everything drops
    assert out[7]["n_kept"] == 0 and out[7]["kept_text"] == ""
    r = compare_query(
        "text_html_extract", text_html_extract(spark, d),
        TEXT_HTML_EXTRACT_ORACLE, d,
    )
    assert r.ok, r
