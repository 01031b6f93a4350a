"""Text-analysis queries over the documents table (extension surface).

The text pipeline a 100 TB pre-training corpus run needs: token
statistics, language-ID, quality scoring/gating, repetition and PII
signals, fingerprinting (whole-doc, min-shingle, winnowed k-gram),
decontamination, and BM25 lexical retrieval. Everything is built-in
Catalyst expressions (operators/text.py) except the winnowing core —
a sanctioned narrow Arrow boundary — and every query carries an exact
DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as TX
from ..operators.similarity import round6
from ..sources.parquet_io import adaptive_partitions, load_table
from .registry import query
from .stage_cache import session_stage

_MARKER_SQL = {
    lang: "(" + ", ".join(f"'{w}'" for w in words) + ")"
    for lang, words in TX.LANG_MARKERS.items()
}


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           LENGTH(text) AS n_chars,
           CAST(list_sum(list_transform(string_split(text, ' '),
                                        w -> CAST(LENGTH(w) AS BIGINT))) AS BIGINT)
               AS sum_token_chars,
           FLOOR(CAST(list_sum(list_transform(string_split(text, ' '),
                                              w -> CAST(LENGTH(w) AS BIGINT))) AS DOUBLE)
                 / len(string_split(text, ' ')) * 1000000 + 0.5) / 1000000 AS avg_token_len,
           len(regexp_extract_all(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens, all
    JVM-side (aggregate/transform HOFs, regexp_count)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        F.length(t).alias("n_chars"),
        TX.sum_token_chars(t).alias("sum_token_chars"),
        round6(TX.sum_token_chars(t).cast("double") / TX.token_count(t)).alias("avg_token_len"),
        TX.bpe_ish_token_count(t).cast("int").alias("n_bpe_tokens"),
    )


@query(
    "text_language_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang AS labeled_lang,
               len(list_filter(string_split(text, ' '), w -> w IN {_MARKER_SQL['en']})) AS score_en,
               len(list_filter(string_split(text, ' '), w -> w IN {_MARKER_SQL['de']})) AS score_de,
               len(list_filter(string_split(text, ' '), w -> w IN {_MARKER_SQL['es']})) AS score_es,
               len(list_filter(string_split(text, ' '), w -> w IN {_MARKER_SQL['fr']})) AS score_fr,
               len(list_filter(string_split(text, ' '), w -> w IN {_MARKER_SQL['zh']})) AS score_zh
        FROM documents
    )
    SELECT doc_id, labeled_lang, score_en, score_de, score_es, score_fr, score_zh,
           CASE
             WHEN score_en >= score_de AND score_en >= score_es
                  AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
             WHEN score_de >= score_en AND score_de >= score_es
                  AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
             WHEN score_es >= score_en AND score_es >= score_de
                  AND score_es >= score_fr AND score_es >= score_zh THEN 'es'
             WHEN score_fr >= score_en AND score_fr >= score_de
                  AND score_fr >= score_es AND score_fr >= score_zh THEN 'fr'
             ELSE 'zh'
           END AS predicted_lang
    FROM scored
    ORDER BY doc_id
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language marker-token hit counts with a
    fixed-precedence argmax (deterministic ties on both engines).

    r17 (guide §1.2/§2.3): the token array is projected ONCE and all
    five marker filters read it — the previous shape re-split the text
    inside every score expression (five tokenize passes per row). The
    query is one map-only scan: no shuffle, no sort. An Arrow
    one-pass kernel was ALSO measured and rejected: 0.67-0.70 s vs
    0.37-0.40 s for the HOF formulations at sf0.1 — the marker sets are
    tiny, so the JVM↔Python round-trip costs more than the five
    interpreted filter walks it saves (OPTIMIZATION_r17.md)."""
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        TX.tokens(F.col("text")).alias("_toks"),
    )
    scores = TX.language_scores_from_tokens(F.col("_toks"))
    df = tokd.select(
        "doc_id",
        "labeled_lang",
        *[scores[lang].alias(f"score_{lang}") for lang in TX.LANG_ORDER],
    )
    score_cols = {lang: F.col(f"score_{lang}") for lang in TX.LANG_ORDER}
    return df.withColumn(
        "predicted_lang", TX.predicted_language(score_cols)
    )


@query(
    "text_fingerprint",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents),
    sh AS (
        SELECT doc_id, text,
               CASE WHEN len(toks) >= 3 THEN
                   list_transform(generate_series(1, len(toks) - 2),
                                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE [] END AS shingles
        FROM t
    )
    SELECT doc_id,
           md5(TRIM(LOWER(text))) AS content_fingerprint,
           COALESCE(list_min(list_transform(shingles, s -> md5('fp|' || s))), '')
               AS shingle_fingerprint
    FROM sh
    ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-content md5 plus a min-shingle-hash
    fingerprint (the winnowing idea: min of uniform hashes over rolling
    3-gram shingles).

    Shaped as explode → codegen'd MIN hash-aggregate, NOT
    array_min(transform(...)) — lambda HOFs run interpreted outside
    whole-stage codegen and measured ~2.5× slower here (the MinHash
    lesson, operators/dedup.py). The content md5 is computed once per
    doc BEFORE the explode and rides the shingle rows into the grouping
    key; map-side partial MIN collapses the exchange to one row per
    doc. explode_outer + min-ignores-nulls keeps short documents
    (< 3 tokens) as '' exactly like the oracle's COALESCE.

    The shingle build + per-shingle md5 all run BEFORE the group-by's
    first exchange, so fan_out rebalances small scans (8.3x at sf0.1:
    4.25 s -> 0.51 s) and the token array is projected once instead of
    re-splitting text at every lambda reference (shingles_from_tokens
    docstring)."""
    from ..operators.dedup import shingles_from_tokens
    from ..sources.parquet_io import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents")).withColumn(
        "_toks", TX.tokens(F.col("text"))
    )
    sh = shingles_from_tokens(F.col("_toks"), 3)
    exploded = docs.select(
        "doc_id",
        TX.fingerprint_md5(F.col("text")).alias("content_fingerprint"),
        F.explode_outer(sh).alias("s"),
    )
    return (
        exploded.groupBy("doc_id", "content_fingerprint")
        .agg(
            F.coalesce(
                F.min(F.md5(F.concat(F.lit("fp|"), F.col("s")))), F.lit("")
            ).alias("shingle_fingerprint")
        )
        .select("doc_id", "content_fingerprint", "shingle_fingerprint")
    )


# DuckDB twin of the winnowing gram hash (operators/text.py:winnow_doc):
# polynomial over codepoints mod 2^64 — HUGEINT products/sums are exact,
# one final % 2^64 equals numpy's uint64 wraparound, ord() == Python
# codepoints, and MIN compares the same uint64 values. Base/k/w come
# from operators.text (single source of truth) so a parameter change
# cannot silently fork the oracle; cross-engine equality of the hash
# itself is pinned in tests/test_winnowing.py.
_WINNOW_P64 = 2 ** 64
_WINNOW_GRAM_HASH_SQL = "(" + " + ".join(
    f"CAST(ord(substr(text, i + {j}, 1)) AS HUGEINT)"
    f" * {pow(TX.WINNOW_BASE, TX.WINNOW_K - 1 - j, _WINNOW_P64)}"
    for j in range(TX.WINNOW_K)
) + f") % {_WINNOW_P64}"

_WINNOW_GRAMS_CTE = f"""
    grams AS (
        SELECT doc_id AS doc, i AS pos, {_WINNOW_GRAM_HASH_SQL} AS h
        FROM documents,
             UNNEST(generate_series(1, length(text) - {TX.WINNOW_K - 1})) AS u(i)
        WHERE length(text) >= {TX.WINNOW_K}
    )
"""
_WINNOW_WIN_SQL = (
    f"ROWS BETWEEN CURRENT ROW AND {TX.WINNOW_W - 1} FOLLOWING"
)


@query(
    "text_winnowing_fingerprints",
    oracle=f"""
    WITH {_WINNOW_GRAMS_CTE}
    SELECT DISTINCT doc,
           CAST(MIN(h) OVER (PARTITION BY doc ORDER BY pos
                             {_WINNOW_WIN_SQL})
                AS VARCHAR) AS fingerprint
    FROM grams
    ORDER BY doc, fingerprint
    """,
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed k-gram (rolling-hash) fingerprints, MOSS-style: k=8 char
    grams, min hash per window of 5 consecutive gram hashes, distinct per
    doc. Robust near-dup fingerprints with guaranteed match coverage.
    r6: the gram hash is the vectorized codepoint polynomial mod 2^64
    (decimal-string fingerprints), replacing per-position md5."""
    from ..operators.text import winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs, "text", "doc_id")


STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it")
# the [a-zA-Z] class as an explicit char set for translate()-based
# counting (see _gate_frame's n_alpha)
_ASCII_ALPHA = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
)
_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

GATE_MIN_TOKENS = 10
GATE_MAX_TOKENS = 2000
GATE_MIN_MEAN_LEN = 3.0   # chars per token, inclusive
GATE_MAX_MEAN_LEN = 15.0
GATE_MIN_STOPWORD = 0.02
GATE_MIN_ALPHA = 0.6
GATE_MAX_DUP_BG = 0.10

# gate-rule CTE chain carrying (doc_id, source, text) through so both
# the gate oracle and the funnel oracle share one rule definition
_GATE_SQL_CTE = f"""
    t AS (
        SELECT doc_id, source, text,
               LENGTH(text) AS n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               string_split(text, ' ') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id, source, text, n_chars, n_tokens,
               CASE WHEN n_tokens >= 2 THEN len(list_distinct(
                   list_transform(generate_series(1, n_tokens - 1),
                                  i -> toks[i] || ' ' || toks[i + 1])))
                    ELSE 0 END AS n_distinct_bg,
               n_tokens - 1 AS n_bg,
               len(list_filter(toks, w -> w IN ({_SW_SQL}))) AS n_sw,
               len(regexp_extract_all(text, '[a-zA-Z]')) AS n_alpha
        FROM t
    ),
    f AS (
        SELECT doc_id, source, text, n_tokens,
               (n_tokens BETWEEN {GATE_MIN_TOKENS} AND {GATE_MAX_TOKENS}) AS len_ok,
               CASE WHEN n_tokens > 0 THEN
                   FLOOR(CAST(n_chars AS DOUBLE) / n_tokens * 1000000 + 0.5) / 1000000
                       BETWEEN {GATE_MIN_MEAN_LEN} AND {GATE_MAX_MEAN_LEN}
               ELSE FALSE END AS mean_len_ok,
               CASE WHEN n_tokens > 0 THEN
                   FLOOR(CAST(n_sw AS DOUBLE) / n_tokens * 1000000 + 0.5) / 1000000
                       >= {GATE_MIN_STOPWORD}
               ELSE FALSE END AS stopword_ok,
               CASE WHEN n_chars > 0 THEN
                   FLOOR(CAST(n_alpha AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000
                       >= {GATE_MIN_ALPHA}
               ELSE FALSE END AS alpha_ok,
               CASE WHEN n_bg > 0 THEN
                   FLOOR((1.0e0 - CAST(n_distinct_bg AS DOUBLE) / n_bg) * 1000000 + 0.5)
                       / 1000000 <= {GATE_MAX_DUP_BG}
               ELSE TRUE END AS rep_ok
        FROM s
    ),
    gated AS (
        SELECT doc_id, source, text, n_tokens,
               len_ok, mean_len_ok, stopword_ok, alpha_ok, rep_ok,
               (len_ok AND mean_len_ok AND stopword_ok AND alpha_ok AND rep_ok)
                   AS keep
        FROM f
    )
"""

TEXT_QUALITY_GATE_ORACLE = f"""
    WITH {_GATE_SQL_CTE}
    SELECT doc_id, n_tokens, len_ok, mean_len_ok, stopword_ok, alpha_ok, rep_ok,
           keep
    FROM gated
    ORDER BY doc_id
    """


@query(
    "text_quality_signals",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS toks, LENGTH(text) AS n_chars
        FROM documents
    )
    SELECT doc_id,
           n_chars,
           len(toks) AS n_tokens,
           FLOOR(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
                 / n_chars * 1000000 + 0.5) / 1000000 AS punct_ratio,
           FLOOR(CAST(len(list_filter(toks, w -> w IN ({_SW_SQL}))) AS DOUBLE)
                 / len(toks) * 1000000 + 0.5) / 1000000 AS stopword_ratio,
           FLOOR(CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS DOUBLE)
                 / n_chars * 1000000 + 0.5) / 1000000 AS alpha_ratio
    FROM t
    WHERE n_chars > 0
    ORDER BY doc_id
    """,
)
def text_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals of a pre-training filter: punctuation
    density, stopword ratio (natural-language-ness), alphabetic ratio.
    All regexp/array built-ins - the classifier thresholding these runs
    as a plain filter downstream."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = TX.tokens(F.col("text"))
    n_chars = F.length("text").cast("double")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        round6(F.regexp_count(F.col("text"), F.lit("[^a-zA-Z0-9 ]")) / n_chars)
            .alias("punct_ratio"),
        round6(F.size(F.filter(toks, lambda w: F.array_contains(sw, w)))
               / F.size(toks).cast("double")).alias("stopword_ratio"),
        round6(F.regexp_count(F.col("text"), F.lit("[a-zA-Z]")) / n_chars)
            .alias("alpha_ratio"),
    )


_REP_TOP_BG = 0.06  # flag if top bigram >= 6% of all bigrams
_REP_DUP_BG = 0.10  # flag if >= 10% of bigram occurrences are repeats


@query(
    "text_repetition_signals",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    bg AS (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
        FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE len(toks) >= 2
    ),
    cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
    agg AS (
        SELECT doc_id, MAX(c) AS top_bigram_cnt, SUM(c) AS n_bigrams,
               COUNT(*) AS n_distinct
        FROM cnt GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(top_bigram_cnt AS BIGINT) AS top_bigram_cnt,
           FLOOR(CAST(top_bigram_cnt AS DOUBLE) / n_bigrams * 1000000 + 0.5)
               / 1000000 AS top_bigram_ratio,
           FLOOR((1 - CAST(n_distinct AS DOUBLE) / n_bigrams) * 1000000 + 0.5)
               / 1000000 AS dup_bigram_frac,
           (FLOOR(CAST(top_bigram_cnt AS DOUBLE) / n_bigrams * 1000000 + 0.5)
               / 1000000 >= {_REP_TOP_BG}
            OR FLOOR((1 - CAST(n_distinct AS DOUBLE) / n_bigrams) * 1000000 + 0.5)
               / 1000000 >= {_REP_DUP_BG}) AS is_repetitive
    FROM agg
    ORDER BY doc_id
    """,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals: the fraction of bigram
    occurrences taken by the single most frequent bigram, and the
    fraction that are repeats of an earlier bigram (1 − distinct/total)
    — the two cheapest detectors of looping/boilerplate generation junk
    (Rae et al. 2021 §A1.3's top-n-gram and duplicate-n-gram rules,
    re-expressed over whitespace bigrams).

    Scale shape: one explode of bigram rows, then two hash aggregates
    whose keys BOTH include doc_id — (doc_id, bg) counts, then doc_id
    rollup of max/sum/count — so parallelism is per-document at any
    corpus size and map-side partial aggregation collapses the exchange
    to one row per distinct (doc, bigram). Same explode-not-HOF choice
    as text_fingerprint (lambda HOFs run interpreted outside codegen).
    Documents with < 2 tokens emit no bigrams and drop out on both
    engines (inner explode, matching the oracle's WHERE len >= 2).
    Thresholds are config; fixed here so the flag is non-vacuous on the
    fixture (82 of 500 docs flag at sf0.01). The token array is
    projected once (split re-parses text at every lambda reference
    otherwise) and fan_out rebalances small scans before the
    pre-exchange bigram build."""
    from ..sources.parquet_io import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents")).withColumn(
        "_toks", TX.tokens(F.col("text"))
    )
    toks = F.col("_toks")
    bigrams = F.transform(
        F.slice(toks, 1, F.size(toks) - 1),
        lambda w, i: F.concat(w, F.lit(" "), F.element_at(toks, i + 2)),
    )
    exploded = docs.filter(F.size(toks) >= 2).select(
        "doc_id", F.explode(bigrams).alias("bg")
    )
    per_doc = (
        exploded.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_bigram_cnt"),
            F.sum("c").alias("n_bigrams"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    )
    top_ratio = round6(
        F.col("top_bigram_cnt").cast("double") / F.col("n_bigrams")
    )
    dup_frac = round6(
        1 - F.col("n_distinct").cast("double") / F.col("n_bigrams")
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "top_bigram_cnt",
        top_ratio.alias("top_bigram_ratio"),
        dup_frac.alias("dup_bigram_frac"),
        ((top_ratio >= _REP_TOP_BG) | (dup_frac >= _REP_DUP_BG)).alias("is_repetitive"),
    )


_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"555-[0-9]{4}"


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 3 < 2
                       THEN ' contact user' || doc_id || '@mail.example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 2 = 0
                       THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS raw
        FROM documents
    ),
    s AS (
        SELECT doc_id, raw,
               regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
        FROM t
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(raw, '{_PHONE_RE}')) AS n_phones,
           LENGTH(raw) - LENGTH(scrubbed) AS n_chars_redacted,
           md5(scrubbed) AS scrubbed_md5
    FROM s
    ORDER BY doc_id
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: replace email addresses and phone-shaped digit
    runs with typed placeholder tags, reporting per-document match
    counts and the redaction's character delta — the scrub every
    pre-training corpus runs before tokenization.

    Scale shape: pure regexp built-ins, fully map-side/narrow — at
    100 TB the scrub costs exactly one scan plus the write, zero
    shuffle.

    The fixture corpus contains no natural PII, so both engines inject
    the SAME deterministic synthetic PII derived from doc_id (an email
    for doc_id % 3 < 2, a phone for even doc_id) before scrubbing —
    counts vary 0..1 per type, so the evidence covers redacted AND
    untouched documents, and the md5 of the scrubbed text pins the
    replacement extents cross-engine on 500 distinct strings. The
    regexes are restricted to the RE2 ∩ java.util.regex common subset
    (no backrefs/lookaround), so both engines match identically."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 < 2,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                     F.lit("@mail.example.com")),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(" call 555-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
        ).otherwise(""),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(raw, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(raw, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        (F.length(raw) - F.length(scrubbed)).cast("long").alias("n_chars_redacted"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# text_quality_gate: C4/Gopher-style composite keep/drop filter.
# ---------------------------------------------------------------------------

# oracle: TEXT_QUALITY_GATE_ORACLE, defined next to _SW_SQL above
# (GATE_* thresholds live beside STOPWORDS so the oracle f-string can
# reference them)


def _gate_frame(docs: DataFrame) -> DataFrame:
    """The quality-gate rule frame shared by text_quality_gate and
    pipeline_training_funnel: (doc_id, source, text, n_tokens, five
    rule booleans, keep) — entirely narrow expressions over one
    projected token array; consumers project what they need and
    Catalyst prunes the rest (the registered gate's plan carries no
    source/text columns)."""
    # r17 (guide §1.2/§2.3, the shingles_from_tokens lesson): project
    # the token array ONCE and derive every token signal from it — the
    # previous shape re-split the text inside n_tokens, the bigram
    # builder (three references), n_bg and the stopword filter.
    # Measured 0.53 s vs 0.63 s at sf0.1. An Arrow
    # one-pass kernel for the three token signals was also measured and
    # REJECTED (0.68-0.76 s — boundary cost exceeds the interpreted HOF
    # walks it saves at this signal mix; OPTIMIZATION_r17.md).
    toks = F.col("_toks")
    t = docs.select(
        "doc_id",
        "source",
        "text",
        F.length("text").alias("n_chars"),
        TX.tokens(F.col("text")).alias("_toks"),
        # count of [a-zA-Z] chars via translate-then-length: identical
        # integer to regexp_count(text, '[a-zA-Z]') (single-char class,
        # non-overlapping) without running the regex engine per char
        # (r16 — measured ~35% cheaper on the fixture corpus; the
        # DuckDB twin keeps its regexp formulation, values equal)
        (
            F.length("text")
            - F.length(F.translate(F.col("text"), _ASCII_ALPHA, ""))
        ).cast("int").alias("n_alpha"),
    ).select(
        "doc_id",
        "source",
        "text",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(_bigrams(toks))).alias("n_distinct_bg"),
        (F.size(toks) - 1).alias("n_bg"),
        TX.marker_hits_from_tokens(toks, STOPWORDS).alias("n_sw"),
        "n_alpha",
    )
    nt = F.col("n_tokens")
    len_ok = (nt >= GATE_MIN_TOKENS) & (nt <= GATE_MAX_TOKENS)
    mean_len = round6(F.col("n_chars") / nt.cast("double"))
    mean_len_ok = F.when(
        nt > 0, (mean_len >= GATE_MIN_MEAN_LEN) & (mean_len <= GATE_MAX_MEAN_LEN)
    ).otherwise(F.lit(False))
    sw_ok = F.when(
        nt > 0, round6(F.col("n_sw") / nt.cast("double")) >= GATE_MIN_STOPWORD
    ).otherwise(F.lit(False))
    alpha_ok = F.when(
        F.col("n_chars") > 0,
        round6(F.col("n_alpha") / F.col("n_chars").cast("double")) >= GATE_MIN_ALPHA,
    ).otherwise(F.lit(False))
    rep_ok = F.when(
        F.col("n_bg") > 0,
        round6(F.lit(1.0) - F.col("n_distinct_bg") / F.col("n_bg").cast("double"))
        <= GATE_MAX_DUP_BG,
    ).otherwise(F.lit(True))
    return t.select(
        "doc_id",
        "source",
        "text",
        "n_tokens",
        len_ok.alias("len_ok"),
        mean_len_ok.alias("mean_len_ok"),
        sw_ok.alias("stopword_ok"),
        alpha_ok.alias("alpha_ok"),
        rep_ok.alias("rep_ok"),
        (len_ok & mean_len_ok & sw_ok & alpha_ok & rep_ok).alias("keep"),
    )


@query("text_quality_gate", oracle=TEXT_QUALITY_GATE_ORACLE)
def text_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pre-training quality filter (C4's length/sentence
    heuristics + Gopher's repetition and symbol rules, re-expressed
    over the fixture signals): per document, boolean rules (thresholds
    are the GATE_* module constants) —

      len_ok       GATE_MIN_TOKENS ≤ n_tokens ≤ GATE_MAX_TOKENS
      mean_len_ok  mean chars/token in [GATE_MIN_MEAN_LEN,
                   GATE_MAX_MEAN_LEN] (junk/binary detector)
      stopword_ok  stopword ratio ≥ GATE_MIN_STOPWORD (language-ness)
      alpha_ok     alphabetic char ratio ≥ GATE_MIN_ALPHA
      rep_ok       duplicate-bigram fraction ≤ GATE_MAX_DUP_BG

    and keep = AND of all five (rule expressions in _gate_frame, shared
    with pipeline_training_funnel). ENTIRELY narrow: every signal is an
    array/regexp expression over the one projected token array —
    including the repetition rule, which uses 1 −
    distinct/total bigrams via array_distinct instead of the grouped
    top-bigram variant (text_repetition_signals) precisely so the gate
    adds ZERO shuffles: at 100 TB this is a map-only scan you bolt
    onto ingestion. All ratio comparisons happen on 6dp-rounded
    doubles so the booleans are engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return _gate_frame(docs).select(
        "doc_id",
        "n_tokens",
        "len_ok",
        "mean_len_ok",
        "stopword_ok",
        "alpha_ok",
        "rep_ok",
        "keep",
    )


def _bigrams(toks):
    """whitespace-bigram array: zip_with over two shifted slices."""
    n = F.size(toks)
    return F.when(n >= 2, F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )).otherwise(F.array().cast("array<string>"))


BM25_TERMS = ("data", "query", "fast")  # fixture-vocabulary query terms
BM25_K1 = 1.5
BM25_B = 0.75
BM25_TOP = 20

# fully-parenthesized scoring expression, mirrored token-for-token in
# the SQL twin; constants are exact binary fractions written as DOUBLE
# literals (e-notation in DuckDB) so no decimal-literal arithmetic
# sneaks in. idf is the RATIONAL form (N - df + 0.5)/(df + 0.5) — no
# ln(): transcendentals are not correctly-rounded and could differ
# between engines in the last ulp; +,*,/ are IEEE-exact on identical
# inputs, so the whole score is bit-reproducible.
_BM25_SQL = " + ".join(
    f"((((n - df_{t}) + 0.5e0) / (df_{t} + 0.5e0))"
    f" * (tf_{t} * 2.5e0)"
    f" / (tf_{t} + 1.5e0 * (0.25e0 + 0.75e0 * (dl / avgdl))))"
    for t in BM25_TERMS
)


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               len(string_split(LOWER(text), ' ')) AS dl,
               {", ".join(
                   f"len(list_filter(string_split(LOWER(text), ' '), "
                   f"w -> w = '{t}')) AS tf_{t}" for t in BM25_TERMS)}
        FROM documents
    ),
    s AS (
        SELECT COUNT(*) AS n,
               (CAST(SUM(dl) AS DOUBLE) / COUNT(*)) AS avgdl,
               {", ".join(
                   f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
                   for t in BM25_TERMS)}
        FROM t
    )
    SELECT doc_id, {", ".join(f"CAST(tf_{t} AS INT) AS tf_{t}" for t in BM25_TERMS)},
           FLOOR(({_BM25_SQL}) * 1000000 + 0.5) / 1000000 AS bm25
    FROM t, s
    WHERE {" + ".join(f"tf_{t}" for t in BM25_TERMS)} > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOP}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring over the corpus for a fixed query
    (BM25_TERMS: data, query, fast) — the lexical-retrieval family
    (r6). The scale shape is deliberately NOT the textbook
    explode→posting-list→join: per-document term frequencies come from
    array filters on the ONE projected token array (narrow, zero
    shuffle), corpus statistics (N, avgdl, per-term document
    frequencies) fold into a single broadcast row, scoring is pure
    arithmetic, and the top-20 cut is a TakeOrderedAndProject. Two
    passes over the corpus (stats, then score) are the only cost — at
    100 TB that is two narrow scans and one 1-row exchange, vs the
    explode shape's full token-table shuffle. Rational idf keeps every
    float op IEEE-exact cross-engine (see _BM25_SQL comment);
    deterministic tiebreak on doc_id."""
    from ..sources.parquet_io import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.split(F.lower(F.col("text")), " ")

    def tf_col(term: str):
        # NB: a 2-arg lambda would be called as (element, index) by
        # F.filter — bind the term via closure, single-arg lambda only
        return F.size(F.filter(toks, lambda w: w == F.lit(term))).alias(f"tf_{term}")

    t = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[tf_col(term) for term in BM25_TERMS],
    )
    s = t.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    score = None
    for term in BM25_TERMS:
        tf, df = F.col(f"tf_{term}"), F.col(f"df_{term}")
        part = (
            (((F.col("n") - df) + F.lit(0.5)) / (df + F.lit(0.5)))
            * (tf * F.lit(2.5))
            / (tf + F.lit(1.5) * (F.lit(0.25) + F.lit(0.75) * (F.col("dl") / F.col("avgdl"))))
        )
        score = part if score is None else score + part
    any_tf = None
    for term in BM25_TERMS:
        any_tf = F.col(f"tf_{term}") if any_tf is None else any_tf + F.col(f"tf_{term}")
    return (
        t.crossJoin(F.broadcast(s))
        .filter(any_tf > 0)
        .select(
            "doc_id",
            *[F.col(f"tf_{t}").cast("int").alias(f"tf_{t}") for t in BM25_TERMS],
            round6(score).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOP)
    )


def bm25_topk_postings(docs: DataFrame, terms: DataFrame,
                       top: int = BM25_TOP) -> DataFrame:
    """BM25 top-k for an ARBITRARY query-term TABLE — the posting-list
    shape that complements text_bm25_topk's narrow fixed-term shape.
    Choose by |Q|: a handful of terms pivot into per-term columns
    (zero shuffle); a large term set (query expansion, multi-query
    batches) can't, so this shape explodes tokens, SEMI-JOINs the
    broadcast term table immediately (the exchange carries only
    query-term hits — the posting lists — never the full token
    stream; plan-pinned in tests/test_plan_shapes.py), aggregates
    per-(doc, term) tf, attaches per-term df as a window count over
    the SAME tf subtree (one corpus explode total — see the inline
    comment) and the 1-row corpus stats by broadcast, and sums
    per-doc scores.

    Same rational-idf per-term score as text_bm25_topk (IEEE-exact
    cross-engine on identical int inputs), but the per-doc sum runs
    over MICRO-INTEGER scores: each term part is rounded once to
    integer micro-units (floor(s·10⁶ + ½) — exact, engines agree
    bit-for-bit), and longs sum associatively, so the total is
    partition-order-independent and hash-exact against the DuckDB twin
    — float summation order was the one nondeterminism that kept this
    shape tolerance-pinned-only before r7. The registered
    ``bm25_topk_postings`` query runs this over a fixed 10-term table;
    cross-shape tolerance vs text_bm25_topk stays pinned in
    tests/test_text_semantics.py (micro-rounding perturbs each 3-term
    score by < 1.5e-6)."""
    from pyspark.sql import Window

    toks = F.split(F.lower(F.col("text")), " ")
    # project the token array ONCE, then explode/size the column: a
    # single select with explode(toks) + size(toks) evaluates the split
    # twice per row (the generator input and the projection are
    # separate expression trees, outside common-subexpression reach)
    t = docs.select("doc_id", toks.alias("_toks")).select(
        "doc_id", F.explode("_toks").alias("term"),
        F.size("_toks").alias("dl"),
    )
    # distinct: a real query-expansion term table carries duplicates,
    # and a dup term row would double every hit row -> inflated tf
    hits = t.join(F.broadcast(terms.select("term").distinct()), "term")
    tf = hits.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    # per-term document frequency as a WINDOW over tf (rows are distinct
    # (doc, term), so COUNT(*) per term IS df) — NOT a groupBy(term) +
    # join back: tf is not materialized, so a second consumer re-plans
    # the whole explode subtree and the corpus gets tokenized TWICE
    # (observed in the r7 plan before this shape); the window keeps one
    # lineage — a single explode — at the cost of one tf-sized exchange
    # on term, which the posting list needs anyway
    tf_df = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    stats = docs.select(F.size(toks).alias("dl")).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    scored = (
        tf_df.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                (
                    (((F.col("n") - F.col("df")) + F.lit(0.5))
                     / (F.col("df") + F.lit(0.5)))
                    * (F.col("tf") * F.lit(BM25_K1 + 1.0))
                    / (F.col("tf") + F.lit(BM25_K1)
                       * (F.lit(1.0 - BM25_B)
                          + F.lit(BM25_B) * (F.col("dl") / F.col("avgdl"))))
                ) * F.lit(1000000.0) + F.lit(0.5)
            ).alias("micro"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.sum("micro").alias("micro_sum"),
        )
        .select(
            "doc_id",
            "n_terms_hit",
            (F.col("micro_sum").cast("double") / F.lit(1000000.0)).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(top)
    )


# The registered posting-shape query's fixed term table: ten distinct
# corpus-vocabulary terms spanning the df range (including the rare
# 'dup' so idf variance is non-trivial) plus a deliberate duplicate —
# a real query-expansion table carries dups, and the operator's
# distinct guard (and the oracle's) must absorb them.
BM25_POSTING_TERMS = (
    "join", "hash", "scan", "filter", "merge",
    "vector", "stream", "window", "sort", "dup", "join",
)

_POSTING_VALUES = ", ".join(f"('{t}')" for t in BM25_POSTING_TERMS)


@query(
    "bm25_topk_postings",
    oracle=f"""
    WITH q(term) AS (VALUES {_POSTING_VALUES}),
    qd AS (SELECT DISTINCT term FROM q),
    tok AS (
        SELECT doc_id, len(string_split(LOWER(text), ' ')) AS dl,
               unnest(string_split(LOWER(text), ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT t.doc_id, t.term, COUNT(*) AS tf, MIN(t.dl) AS dl
        FROM tok t JOIN qd USING (term)
        GROUP BY t.doc_id, t.term
    ),
    dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    st AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(len(string_split(LOWER(text), ' '))) AS DOUBLE)
                   / COUNT(*) AS avgdl
        FROM documents
    ),
    sc AS (
        SELECT tf.doc_id,
               CAST(FLOOR(
                   (((st.n - dft.df) + 0.5e0) / (dft.df + 0.5e0))
                   * (tf.tf * 2.5e0)
                   / (tf.tf + 1.5e0 * (0.25e0 + 0.75e0 * (tf.dl / st.avgdl)))
                   * 1000000 + 0.5e0) AS BIGINT) AS micro
        FROM tf JOIN dft USING (term), st
    )
    SELECT doc_id, COUNT(*) AS n_terms_hit,
           CAST(SUM(micro) AS DOUBLE) / 1000000 AS bm25
    FROM sc
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOP}
    """,
)
def bm25_topk_postings_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing run of the posting-list BM25 shape (r6 VERDICT
    item 4): the BM25 plan that actually shuffles — explode → immediate
    broadcast semi-join (only query-term hits ride the exchange) →
    per-(doc, term) tf agg → broadcast df/stats → exact micro-integer
    per-doc sum → top-k. Fixed 10-term query table (BM25_POSTING_TERMS,
    duplicate included on purpose); the DuckDB twin scores the same
    VALUES term table through the same rational-idf micro arithmetic,
    so the compare is hash-exact, not tolerance-based."""
    from ..sources.parquet_io import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    terms = spark.createDataFrame(
        [(t,) for t in BM25_POSTING_TERMS], "term string"
    )
    return bm25_topk_postings(docs, terms)


@query(
    "decon_test_train_overlap",
    oracle=f"""
    WITH {_WINNOW_GRAMS_CTE},
    fp AS (
        SELECT DISTINCT doc,
               MIN(h) OVER (PARTITION BY doc ORDER BY pos
                            {_WINNOW_WIN_SQL}) AS fingerprint
        FROM grams
    )
    SELECT t.doc AS test_doc,
           COUNT(DISTINCT tr.doc) AS n_train_docs,
           COUNT(DISTINCT t.fingerprint) AS n_shared_fingerprints
    FROM fp t JOIN fp tr ON t.fingerprint = tr.fingerprint
    WHERE t.doc < 250 AND tr.doc >= 250
    GROUP BY t.doc
    ORDER BY test_doc
    """,
)
def decon_test_train_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which held-out ('test', doc_id<250)
    documents share winnowed 8-gram fingerprints with the training
    corpus (doc_id>=250), how many training docs each collides with,
    and on how many distinct fingerprints — the report a pre-training
    pipeline runs before shipping an eval set. Join is fingerprint ⋈
    fingerprint (short uint64-decimal strings), never text ⋈ text; at 100 TB the
    fingerprint tables are the only shuffled data and the train side is
    reusable across every eval set checked."""
    from ..operators.text import winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    fp = winnowing_fingerprints(docs, "text", "doc_id")
    test = fp.filter(F.col("doc") < 250).select(
        F.col("doc").alias("test_doc"), "fingerprint"
    )
    train = fp.filter(F.col("doc") >= 250).select(
        F.col("doc").alias("train_doc"), "fingerprint"
    )
    return (
        test.join(train, "fingerprint")
        .groupBy("test_doc")
        .agg(
            F.countDistinct("train_doc").alias("n_train_docs"),
            F.countDistinct("fingerprint").alias("n_shared_fingerprints"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_training_funnel: end-to-end composition of the training-data
# surface — quality gate -> near-dup dedup -> context-window accounting.
# ---------------------------------------------------------------------------

FUNNEL_CONTEXT_LEN = 512  # tokens per training context window

# the corpus-wide LSH candidate-pair CTE the dedup family publishes —
# imported so the funnel's edges are IDENTICAL (same bands, same
# bucket caps) to dedup_minhash_lsh_pairs' on both engines
from .dedup_queries import _CANDIDATES_CTE, shared_minhash_pairs  # noqa: E402

PIPELINE_TRAINING_FUNNEL_ORACLE = f"""
    WITH RECURSIVE {_CANDIDATES_CTE},
    {_GATE_SQL_CTE},
    ge AS (SELECT doc_id, source, n_tokens FROM gated WHERE keep),
    ed AS (
        SELECT p.doc_a AS a, p.doc_b AS b
        FROM pairs p
        JOIN ge g1 ON g1.doc_id = p.doc_a
        JOIN ge g2 ON g2.doc_id = p.doc_b
    ),
    sym AS (
        SELECT a, b FROM ed
        UNION
        SELECT b AS a, a AS b FROM ed
    ),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a
    ),
    non_reps AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING MIN(b) < a),
    kept AS (
        SELECT * FROM ge
        WHERE doc_id NOT IN (SELECT doc_id FROM non_reps)
    ),
    agg_raw AS (
        SELECT source, COUNT(*) AS n_raw,
               SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS n_gated
        FROM gated GROUP BY source
    ),
    agg_kept AS (
        SELECT source, COUNT(*) AS n_kept,
               CAST(SUM(n_tokens) AS BIGINT) AS tok
        FROM kept GROUP BY source
    )
    SELECT agg_raw.source,
           CAST(agg_raw.n_raw AS BIGINT) AS n_raw,
           CAST(agg_raw.n_gated AS BIGINT) AS n_gated,
           CAST(COALESCE(agg_kept.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(agg_kept.tok, 0) AS BIGINT) AS n_tokens,
           (COALESCE(agg_kept.tok, 0) + {FUNNEL_CONTEXT_LEN - 1})
               // {FUNNEL_CONTEXT_LEN} AS n_windows
    FROM agg_raw LEFT JOIN agg_kept USING (source)
    ORDER BY agg_raw.source
    """


def _shared_gate_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel's gate frame, a session stage (plans/stage_cache.py).
    It feeds FOUR subtrees (both semi-join key sets, the raw/gated
    counts, the kept-side aggregate), so the narrow 4-column projection
    is persisted and the tokenize/regex rules run once (r16). Node-sized:
    text never enters the cache."""

    def build(stats: dict) -> DataFrame:
        gate = _gate_frame(load_table(spark, sf_dir, "documents"))
        return gate.select("doc_id", "source", "n_tokens", "keep").persist()

    return session_stage(spark, sf_dir, "funnel_gate", build)


def _funnel_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component labels over the gate-induced subgraph (candidate pairs
    whose BOTH endpoints survived the gate), a session stage."""
    from ..operators.graph import connected_components_auto

    def build(stats: dict) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        ge = _shared_gate_frame(spark, sf_dir).filter(F.col("keep"))
        ga = ge.select(F.col("doc_id").alias("doc_a"))
        gb = ge.select(F.col("doc_id").alias("doc_b"))
        ed = (
            shared_minhash_pairs(spark, sf_dir)
            .join(ga, "doc_a", "left_semi")
            .join(gb, "doc_b", "left_semi")
        )
        return connected_components_auto(
            ed, "doc_a", "doc_b",
            stats=stats, num_partitions=adaptive_partitions(docs),
        )

    return session_stage(spark, sf_dir, "funnel_components", build)


@query("pipeline_training_funnel", oracle=PIPELINE_TRAINING_FUNNEL_ORACLE)
def pipeline_training_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end TRAINING-CORPUS FUNNEL, per source: raw documents
    -> C4/Gopher quality gate (the _gate_frame rules text_quality_gate
    registers) -> NEAR-dup dedup among the gated survivors (the
    corpus-wide MinHash-LSH candidate pairs the dedup family publishes,
    restricted to edges whose BOTH endpoints survived the gate, then
    connected components via the kernel-escalating auto operator;
    representative = component-minimum doc_id — exact content dedup
    would be vacuous here: the fixture corpus carries zero byte-equal
    duplicates, only near-dups) -> token totals and the number of
    FUNNEL_CONTEXT_LEN (512)-token context windows each source fills
    when packed separately (exact integer ceil-division). One row per
    source: n_raw, n_gated, n_kept, n_tokens, n_windows — the report a
    data team reads before every training run, and the composition
    evidence that the gate, LSH, component, and packing operators
    agree on one corpus.

    Contract note: edges are computed corpus-wide (identical bucket
    caps to dedup_minhash_lsh_pairs) and THEN restricted to the
    gated-induced subgraph — a chain through a gate-dropped document
    splits into separate clusters, on both engines alike (the
    recursive-CTE oracle computes the same induced-subgraph fixpoint).

    Scale shape: the gate is the narrow map-only frame; the edge
    restriction is two keys-only semi-joins; components run on the
    (small) candidate-pair set; the final stages are two
    group-count-sized aggregates meeting in a tiny per-source join. No
    stage shuffles document text. The gate frame and the component
    labels are session stages: a warm call constructs with no job."""
    g = _shared_gate_frame(spark, sf_dir)
    ge = g.filter(F.col("keep")).select("doc_id", "source", "n_tokens")
    non_reps = (
        _funnel_labels(spark, sf_dir)
        .filter(F.col("v") != F.col("component_id"))
        .select(F.col("v").alias("doc_id"))
    )
    kept = ge.join(non_reps, "doc_id", "left_anti")
    a = g.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.col("keep").cast("long")).alias("n_gated"),
    )
    b = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("tok"),
    )
    return (
        a.join(b, "source", "left")
        .select(
            "source",
            F.col("n_raw").cast("long").alias("n_raw"),
            F.col("n_gated").cast("long").alias("n_gated"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("tok"), F.lit(0)).cast("long").alias("n_tokens"),
            F.expr(
                f"(coalesce(tok, 0) + {FUNNEL_CONTEXT_LEN - 1})"
                f" DIV {FUNNEL_CONTEXT_LEN}"
            ).alias("n_windows"),
        )
    )


# ---------------------------------------------------------------------------
# text_dedup_span_removal: exact-substring dedup (Lee et al.,
# "Deduplicating Training Data Makes Language Models Better" —
# arXiv:2107.06499 §4 removes the duplicated spans from the training
# text), bounded to fixed-length token spans so it runs as hash
# aggregates instead of a suffix array.
# ---------------------------------------------------------------------------

SPAN_K = 8  # tokens per span; spans overlap (stride 1)

TEXT_DEDUP_SPAN_REMOVAL_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    spans AS (
        SELECT doc_id, i,
               array_to_string(t[i:i + {SPAN_K - 1}], ' ') AS s
        FROM toks, UNNEST(generate_series(1, len(t) - {SPAN_K - 1})) AS u(i)
        WHERE len(t) >= {SPAN_K}
    ),
    per_span AS (
        SELECT s, COUNT(DISTINCT doc_id) AS n_docs,
               MIN(doc_id) AS keeper
        FROM spans GROUP BY s
    ),
    removal AS (
        SELECT sp.doc_id, sp.i
        FROM spans sp JOIN per_span ps ON sp.s = ps.s
        WHERE ps.n_docs >= 2 AND sp.doc_id <> ps.keeper
    ),
    dup AS (
        SELECT doc_id, list(DISTINCT i) AS starts
        FROM removal GROUP BY doc_id
    ),
    rebuilt AS (
        SELECT d.doc_id, t,
               list_filter(
                   range(1, len(t) + 1),
                   p -> len(list_filter(
                            COALESCE(dup.starts, []),
                            st -> st <= p AND p <= st + {SPAN_K - 1})) = 0
               ) AS kept
        FROM toks d LEFT JOIN dup ON d.doc_id = dup.doc_id
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
           CAST(CASE WHEN len(t) = 0 THEN 0
                     ELSE (len(t) - len(kept)) * 1000000 // len(t)
                END AS BIGINT) AS removed_ppm,
           -- COALESCE: a fully-removed doc is the EMPTY string on both
           -- engines (DuckDB's array_to_string([]) yields NULL where
           -- Spark's concat_ws yields '')
           COALESCE(array_to_string(list_transform(kept, p -> t[p]), ' '),
                    '') AS text_rewritten
    FROM rebuilt
    ORDER BY doc_id
    """


@query("text_dedup_span_removal", oracle=TEXT_DEDUP_SPAN_REMOVAL_ORACLE)
def text_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span REMOVAL (Lee et al. 2021: training text loses
    substrings long enough to be memorizable that the corpus already
    contains elsewhere): every overlapping SPAN_K (8)-token span seen
    in >= 2 distinct documents keeps exactly ONE canonical copy (the
    smallest doc_id — deterministic, so the hash compare attests the
    keep-one rule itself) and every other document drops the tokens
    those span occurrences cover. Per document: token count, removed
    count, exact-ppm removal rate, and the REWRITTEN text (so a silent
    off-by-one in span coverage breaks the hash, not just a count).

    Scale shape: spans are hashed to int64 (xxhash64) before any
    exchange (~8 B rides the shuffles; span identity, keeper election,
    and removal positions all key on the hash, so engines agree unless
    xxhash64 collides within one span's doc set, P ~ n²/2⁶⁵). Start
    positions travel THROUGH the (span, doc) aggregate as a
    collect_list — never a join back onto the corpus-sized span
    stream — so the plan is: one
    (span, doc) combine-collapsed aggregate, one span-keyed window
    (n_docs + keeper over the same collapsed subtree), one doc-keyed
    collect of removal starts, one doc-keyed left join back to
    documents; the rebuild itself is a narrow array-HOF projection
    (filter positions against the bounded per-doc starts array,
    re-join tokens). Documents shorter than SPAN_K tokens never enter
    the span stream and pass through unchanged via the left join.

    Reference parity: beyond-reference (the reference has no text
    surface); completes the flag->rewrite pair the dedup family's
    production story needs."""
    from pyspark.sql import Window

    from ..sources.parquet_io import fan_out

    docs = load_table(spark, sf_dir, "documents")
    span_hashes = F.expr(
        f"transform(sequence(1, size(t) - {SPAN_K - 1}),"
        f" i -> xxhash64(concat_ws(' ', slice(t, i, {SPAN_K}))))"
    )
    spans = (
        fan_out(docs)
        .select("doc_id", F.split(F.col("text"), " ").alias("t"))
        # pre-filter short docs: sequence(1, n) with n < 1 counts DOWN
        .filter(F.size("t") >= SPAN_K)
        .select("doc_id", F.posexplode(span_hashes).alias("pos", "s"))
        .select("doc_id", (F.col("pos") + 1).alias("i"), "s")
    )
    occ = spans.groupBy("s", "doc_id").agg(
        F.collect_list("i").alias("starts")
    )
    w = Window.partitionBy("s")
    wd = occ.withColumn("n_docs", F.count(F.lit(1)).over(w)).withColumn(
        "keeper", F.min("doc_id").over(w)
    )
    dup_starts = (
        wd.filter((F.col("n_docs") >= 2) & (F.col("doc_id") != F.col("keeper")))
        .select("doc_id", F.explode("starts").alias("i"))
        .groupBy("doc_id")
        .agg(F.collect_set("i").alias("dup_starts"))
    )
    t = F.split(F.col("text"), " ")
    starts = F.coalesce(
        F.col("dup_starts"), F.expr("array()").cast("array<int>")
    )
    kept = F.filter(
        F.sequence(F.lit(1), F.size(t)),
        lambda p: ~F.exists(
            starts, lambda st: (st <= p) & (p <= st + F.lit(SPAN_K - 1))
        ),
    )
    return (
        docs.join(dup_starts, "doc_id", "left")
        .select(
            "doc_id",
            F.size(t).cast("long").alias("n_tokens"),
            (F.size(t) - F.size(kept)).cast("long").alias("n_removed"),
            F.concat_ws(
                " ", F.transform(kept, lambda p: F.element_at(t, p))
            ).alias("text_rewritten"),
        )
        # exact integer ppm: truncating DIV over the already-computed
        # longs (a double division cast back can cross an integer
        # boundary by one correctly-rounded ULP)
        .withColumn(
            "removed_ppm",
            F.expr(
                "CAST(CASE WHEN n_tokens = 0 THEN 0 "
                "ELSE n_removed * 1000000 DIV n_tokens END AS BIGINT)"
            ),
        )
        .select("doc_id", "n_tokens", "n_removed", "removed_ppm",
                "text_rewritten")
    )
