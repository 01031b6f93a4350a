"""Sampling / splitting / shard-packing queries over the documents table
(extension surface — the ops a training-data pipeline runs between
filtering and tokenization).

Everything is deterministic arithmetic, never ``rand()``: at 100 TB a
split must be reproducible run-to-run and machine-to-machine, so the
standard trick is a multiplicative hash of the stable document id
(Knuth's 2654435761 mod 2^32) bucketed 0..99. Pure column arithmetic —
no shuffle at all for the split/mixture assignment (narrow map stage),
one partial+final agg for the mixture report, one word-count shuffle for
the vocabulary, one window sort per source for shard packing.

Reference has no sampling surface (SURVEY.md §2.7/§2.10 — absent);
these extend it per §7.3's LLM-pipeline scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.parquet_io import load_table
from .registry import query

# Knuth multiplicative hash, folded to keep every intermediate within
# int64 in BOTH engines (DuckDB errors on signed overflow; Spark wraps —
# so the expression must never overflow): (id % 100003) * 2654435761
# tops out at ~2.6e14.
_FOLD = 100003
_KNUTH = 2654435761
_MOD32 = 4294967296


def _bucket(col: F.Column, salt: int = 0) -> F.Column:
    """Deterministic 0..99 bucket of an integer id column."""
    return ((col % _FOLD) * _KNUTH + salt) % _MOD32 % 100


def _bucket_sql(col: str, salt: int = 0) -> str:
    return f"(({col} % {_FOLD}) * {_KNUTH} + {salt}) % {_MOD32} % 100"


@query(
    "text_token_frequencies",
    oracle="""
    SELECT token, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(LOWER(text), ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 100
    """,
)
def text_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: explode tokens -> count -> top 100 (the
    classic word count feeding tokenizer/vocab construction). Catalyst
    plans partial map-side aggregation before the shuffle, so the
    exchange carries one row per distinct token per task, not one per
    token occurrence; the top-k is TakeOrderedAndProject, never a
    global sort. Deterministic tiebreak on the token itself. r6: the
    split+explode+partial-count all run BEFORE the first exchange, so
    fan_out rebalances small/unsplit scans across cores (projected to
    the text column first — 1× text bytes, nothing else rides it; a
    no-op at production split counts), the same treatment the shingle
    pipelines got in r5."""
    from ..sources.parquet_io import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents").select("text"))
    return (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(100)
    )


_SHARD_BUDGET = 2048  # whitespace tokens per shard
_PACK_BLOCK = 16  # doc_ids per hierarchical block (production: ~1e6)
_CONTEXT_LEN = 512  # tokens per fixed training context window


# ---------------------------------------------------------------------------
# pack_context_windows: fixed-length context-window packing accounting.
# ---------------------------------------------------------------------------

PACK_CONTEXT_WINDOWS_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    o AS (
        SELECT doc_id, n_tokens,
               -- window SUM(BIGINT) is HUGEINT in DuckDB; BIGINT holds
               -- any physical corpus (2^63 tokens) and matches Spark
               CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING)
                    - n_tokens AS BIGINT) AS off
        FROM t
    ),
    c AS (
        SELECT doc_id, n_tokens, off,
               unnest(generate_series(off // {_CONTEXT_LEN},
                                      (off + n_tokens - 1) // {_CONTEXT_LEN}))
                   AS chunk_id
        FROM o
    )
    SELECT doc_id, chunk_id, n_tokens,
           CAST(LEAST((chunk_id + 1) * {_CONTEXT_LEN}, off + n_tokens)
                - GREATEST(chunk_id * {_CONTEXT_LEN}, off) AS BIGINT)
               AS tokens_in_window,
           (off < chunk_id * {_CONTEXT_LEN}
            OR off + n_tokens > (chunk_id + 1) * {_CONTEXT_LEN}) AS is_split
    FROM c
    ORDER BY doc_id, chunk_id
    """


@query("pack_context_windows", oracle=PACK_CONTEXT_WINDOWS_ORACLE)
def pack_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length context-window packing accounting: concatenate the
    corpus in stable doc_id order and cut it into training sequences of
    exactly _CONTEXT_LEN (512) tokens — per document, emit one row per context window
    it lands in, with the token count contributed to that window and
    whether the document is SPLIT across a window boundary. This is the
    bookkeeping a sequence-packing data loader needs (which documents
    feed sequence k; how much cross-document attention masking each
    window needs) and the batch twin of every 'pack to context length'
    step in LLM training pipelines.

    Scale shape: the global start offset per doc is the HIERARCHICAL
    running sum (same decomposition as pack_token_budget_shards —
    block-local window + tiny per-block offset table broadcast back,
    parallelism = #blocks, never one task for the whole corpus); window
    membership is then a narrow F.sequence(first, last) explode — at
    most (n_tokens // C) + 1 rows per doc, map-side, no further
    shuffle. All offset arithmetic is exact int64 (`div`, not double
    FLOOR — a double quotient loses exactness past 2^53 total tokens,
    which a 100 TB corpus EXCEEDS)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    blk = F.floor(F.col("doc_id") / _PACK_BLOCK).cast("long")
    t = docs.select("doc_id", n_tok.alias("n_tokens"), blk.alias("blk"))
    w_local = Window.partitionBy("blk").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = t.withColumn("local_cum", F.sum("n_tokens").over(w_local))
    blk_tot = local.groupBy("blk").agg(F.max("local_cum").alias("blk_tot"))
    w_off = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = blk_tot.select(
        "blk", F.coalesce(F.sum("blk_tot").over(w_off), F.lit(0)).alias("offset")
    )
    c = F.lit(_CONTEXT_LEN)
    off = F.col("offset") + F.col("local_cum") - F.col("n_tokens")
    withoff = (
        local.join(F.broadcast(offsets), "blk")
        .select("doc_id", "n_tokens", off.alias("off"))
    )
    first = F.expr(f"off DIV {_CONTEXT_LEN}")
    last = F.expr(f"(off + n_tokens - 1) DIV {_CONTEXT_LEN}")
    exploded = withoff.select(
        "doc_id", "n_tokens", "off",
        F.explode(F.sequence(first, last)).alias("chunk_id"),
    )
    return (
        exploded.select(
            "doc_id",
            "chunk_id",
            "n_tokens",
            (
                F.least((F.col("chunk_id") + 1) * c, F.col("off") + F.col("n_tokens"))
                - F.greatest(F.col("chunk_id") * c, F.col("off"))
            ).cast("long").alias("tokens_in_window"),
            (
                (F.col("off") < F.col("chunk_id") * c)
                | (F.col("off") + F.col("n_tokens") > (F.col("chunk_id") + 1) * c)
            ).alias("is_split"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@query(
    "pack_token_budget_shards",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR(CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                               ROWS UNBOUNDED PRECEDING) - n_tokens AS DOUBLE)
                      / {_SHARD_BUDGET}) AS BIGINT) AS shard_id
    FROM t
    ORDER BY source, doc_id
    """,
)
def pack_token_budget_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: within each source, docs (in stable
    doc_id order) are assigned to consecutive ~2048-token shards by
    binning the running token count — the batch formulation of sequence
    packing for training-shard layout.

    A flat ``Window.partitionBy("source")`` running sum caps
    parallelism at the number of sources — with a handful of huge
    sources at 100 TB each source's sum is ONE task (r4 VERDICT "What's
    wrong" #2). This is the exact HIERARCHICAL running sum instead:

      1. block-local running sum within ``(source, blk)`` where
         ``blk = doc_id div B`` — blk is monotone in doc_id, so
         (blk, doc_id) order == doc_id order and parallelism is
         #(source, blk) pairs, not #sources;
      2. per-block totals = MAX(local_cum) group-by (source, blk) —
         reuses the window's hash partitioning, no new exchange;
      3. per-block offsets = running sum over the one-row-per-BLOCK
         table (tiny: |corpus| / B rows), broadcast back;
      4. cum = offset + local_cum — exact int64 addition, identical to
         the flat running sum, so the oracle is unchanged.

    B is 16 here so fixtures exercise multiple blocks per source;
    production sets B ~ 1e6 (offsets table stays broadcastable — at
    10^9 docs that is 10^3 rows; past the broadcast threshold the
    offsets join degrades to a shuffle that reuses step 1's (source,
    blk) partitioning). Window-partitioning-includes-blk is pinned in
    tests/test_plan_shapes.py."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    blk = F.floor(F.col("doc_id") / _PACK_BLOCK).cast("long")
    t = docs.select(
        "doc_id", "source", n_tok.alias("n_tokens"), blk.alias("blk")
    )
    w_local = Window.partitionBy("source", "blk").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = t.withColumn("local_cum", F.sum("n_tokens").over(w_local))
    blk_tot = local.groupBy("source", "blk").agg(
        F.max("local_cum").alias("blk_tot")
    )
    w_off = Window.partitionBy("source").orderBy("blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = blk_tot.select(
        "source", "blk",
        F.coalesce(F.sum("blk_tot").over(w_off), F.lit(0)).alias("offset"),
    )
    # NULL-SAFE join keys: both engines' window PARTITION BY groups
    # NULL sources into one partition, but a plain equi-join would drop
    # those rows (NULL != NULL) where the oracle keeps them — <=> keeps
    # the two sides row-identical on null-bearing data and still plans
    # a broadcast hash join.
    joined = local.alias("L").join(
        F.broadcast(offsets).alias("O"),
        F.col("L.source").eqNullSafe(F.col("O.source"))
        & F.col("L.blk").eqNullSafe(F.col("O.blk")),
    )
    return (
        joined.select(
            F.col("L.doc_id").alias("doc_id"),
            F.col("L.source").alias("source"),
            F.col("L.n_tokens").alias("n_tokens"),
            F.floor(
                (F.col("O.offset") + F.col("L.local_cum") - F.col("L.n_tokens"))
                .cast("double") / _SHARD_BUDGET
            ).alias("shard_id"),
        )
        .orderBy("source", "doc_id")
    )


@query(
    "text_length_trim",
    oracle="""
    WITH r AS (
        SELECT doc_id, n_chars,
               PERCENT_RANK() OVER (ORDER BY n_chars, doc_id) AS pr
        FROM documents
        WHERE n_chars IS NOT NULL
    )
    SELECT doc_id, n_chars
    FROM r
    WHERE pr >= 0.05 AND pr <= 0.95
    ORDER BY doc_id
    """,
)
def text_length_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier trimming by length percentile — drop the shortest and
    longest 5% of the corpus (boilerplate stubs and concatenation junk,
    respectively). The oracle's percent_rank over the total order
    (n_chars, doc_id) is EXACT rank arithmetic: pr = (rank-1)/(n-1),
    one IEEE division on integers — but a literal percent_rank window
    is an Exchange SinglePartition over the whole corpus (one task
    sorts 100 TB; r4 VERDICT "What's wrong" #1). This is the same-rows
    distributed decomposition of that rank:

        rank(doc) = (#docs with smaller n_chars)        [below]
                  + row_number within its n_chars group  [rw]

    * ``below`` and the total ``n`` come from the tiny
      ``groupBy(n_chars).count()`` table — its cumulative-sum window IS
      single-partition, but over <= #distinct-lengths rows, then
      broadcast back;
    * ``rw`` is a window partitioned BY n_chars — parallelism =
      #distinct lengths, and only (doc_id, n_chars) ride that shuffle
      (16 bytes/row; the text payload is pruned at the scan).

    pr = (below + rw - 1)/(n - 1) reproduces percent_rank's float
    bit-for-bit (exact int64 numerator, one double division), so the
    oracle's rank arithmetic is untouched. No SinglePartition exchange
    touches the corpus — pinned in tests/test_plan_shapes.py.

    NULL n_chars is excluded EXPLICITLY on both sides (oracle WHERE +
    the filter here): engines disagree on where nulls rank
    (DuckDB percent_rank puts them last, Spark's groupBy would fold
    them into `below` via NULLS FIRST ordering while the equi-join
    dropped the rows themselves) — a length trim over docs without a
    length is undefined, so the contract removes them."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .filter(F.col("n_chars").isNotNull())
    )
    lengths = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    w_below = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    bounds = lengths.select(
        "n_chars",
        F.coalesce(F.sum("cnt").over(w_below), F.lit(0)).alias("below"),
        F.sum("cnt").over(Window.partitionBy()).alias("n_total"),
    )
    w_within = Window.partitionBy("n_chars").orderBy("doc_id")
    pr = F.when(F.col("n_total") == 1, F.lit(0.0)).otherwise(
        (F.col("below") + F.col("rw") - 1).cast("double")
        / (F.col("n_total") - 1).cast("double")
    )
    return (
        docs.withColumn("rw", F.row_number().over(w_within))
        .join(F.broadcast(bounds), "n_chars")
        .withColumn("pr", pr)
        .filter((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


_STRATA = {"src0": 90, "src1": 50, "src2": 10}  # per-stratum keep-rate (%)
_STRATA_SALT = 104729


@query(
    "sample_stratified_by",
    oracle=f"""
    WITH t AS (
        SELECT source,
               CASE source WHEN 'src0' THEN 90 WHEN 'src1' THEN 50
                           WHEN 'src2' THEN 10 END AS rate_pct,
               {_bucket_sql('doc_id', _STRATA_SALT)} AS b
        FROM documents
        WHERE source IN ('src0', 'src1', 'src2')
    )
    SELECT source, rate_pct,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN b < rate_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM t
    GROUP BY source, rate_pct
    ORDER BY source
    """,
)
def sample_stratified_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with explicit per-stratum fractions
    ('downsample web to 10%, keep books at 90%') — the deterministic
    hash-bucket formulation, NOT df.stat.sampleBy: at 100 TB a sample
    must be reproducible run-to-run, machine-to-machine, and under any
    repartitioning, and sampleBy's seeded rand() is none of those
    (its draw order follows partition layout — r3 VERDICT item 1a).
    The keep decision is a narrow map-side expression; only the
    per-stratum report aggregates. Machine-independence pinned in
    tests/test_sampling.py."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.coalesce(
        *[F.when(F.col("source") == s, F.lit(r)) for s, r in _STRATA.items()]
    )
    b = _bucket(F.col("doc_id"), salt=_STRATA_SALT)
    return (
        docs.filter(F.col("source").isin(*_STRATA))
        .select("source", rate.alias("rate_pct"), b.alias("b"))
        .groupBy("source", "rate_pct")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("b") < F.col("rate_pct"), 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


@query(
    "agg_freq_items",
    oracle="""
    WITH c AS (
        SELECT source AS frequent_source, COUNT(*) AS cnt
        FROM documents GROUP BY source
    ),
    t AS (SELECT COUNT(*) AS n FROM documents)
    SELECT frequent_source, cnt, TRUE AS in_sketch
    FROM c, t
    WHERE cnt > 0.04 * n
    ORDER BY frequent_source
    """,
)
def agg_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries style frequent-items sketch (df.stat.freqItems): one
    pass, fixed memory, returns a superset of the items with frequency
    > support. Sketch contents differ per engine, so the oracled output
    is the sketch's CONTRACT, not its raw state: the exact frequent
    items (cnt > support·N, fully SQL) each tagged ``in_sketch`` =
    does Spark's sketch contain it. The superset guarantee says every
    flag must be TRUE — the oracle pins the literal; a sketch that
    under-reports goes red on the hash (r3 VERDICT item 1b: rows-only
    entries must self-evidence accuracy)."""
    docs = load_table(spark, sf_dir, "documents")
    sketch = docs.stat.freqItems(["source"], support=0.04)  # 1 row: array column
    exact = (
        docs.groupBy(F.col("source").alias("frequent_source"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("n", F.sum("cnt").over(Window.partitionBy()))
        .filter(F.col("cnt") > 0.04 * F.col("n"))
    )
    return (
        exact.crossJoin(F.broadcast(sketch))
        .select(
            "frequent_source",
            "cnt",
            F.array_contains("source_freqItems", F.col("frequent_source")).alias("in_sketch"),
        )
        .orderBy("frequent_source")
    )


# ---------------------------------------------------------------------------
# sample_temperature_mixture: temperature-based data-mixing weights.
# ---------------------------------------------------------------------------

# Temperature tau = 0.5, i.e. weight = n_tokens^0.5 = sqrt(n_tokens).
# tau is FIXED at 0.5 deliberately: sqrt is IEEE-754 correctly rounded
# on both engines (bit-identical cross-engine), while a general
# pow(x, tau) is NOT — the micro-integer quantization below could then
# flip at a FLOOR boundary and break the hash compare. A production
# caller wanting other taus pays with a tolerance contract instead.
MIXTURE_TOKEN_BUDGET = 1_000_000  # reporting budget (tokens)

SAMPLE_TEMPERATURE_MIXTURE_ORACLE = f"""
    WITH t AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT source, n_docs, n_tokens,
               CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS w_micro
        FROM t
    ),
    tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS total FROM w)
    SELECT source, n_docs, n_tokens, w_micro,
           CAST(w_micro AS DOUBLE) / CAST(total AS DOUBLE) AS p_sample,
           CAST(w_micro AS DOUBLE) / CAST(total AS DOUBLE)
               * {MIXTURE_TOKEN_BUDGET} AS exp_tokens,
           CAST(w_micro AS DOUBLE) / CAST(total AS DOUBLE)
               * {MIXTURE_TOKEN_BUDGET} / n_tokens AS epochs
    FROM w CROSS JOIN tot
    ORDER BY source
    """


@query("sample_temperature_mixture", SAMPLE_TEMPERATURE_MIXTURE_ORACLE, local=True)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weighting (the Gopher / LLaMA data-mix
    recipe): per source, weight = n_tokens^tau with tau = 0.5, so
    small sources are UPsampled relative to proportional mixing and
    large ones capped; report each source's sampling probability, its
    expected token draw for a MIXTURE_TOKEN_BUDGET (1M)-token training
    budget, and the implied epoch count (>1 means that source repeats
    — the overfit/dedup-sensitivity signal a mixing design reviews).

    Exactness: weights are quantized ONCE to micro-integers
    (floor(sqrt(n_tokens)·10⁶ + ½) — sqrt is correctly rounded so the
    input to FLOOR is bit-identical cross-engine), the normalizer is
    an exact BIGINT sum (order-free), and every downstream double op
    is a single correctly-rounded multiply/divide — the whole row is
    hash-exact without any tolerance. Scale: ONE group-count-sized
    aggregate with map-side partial collapse; the normalizer is a
    one-row broadcast back onto #sources rows. Nothing else touches
    the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long")
        .alias("n_tokens"),
    )
    w = t.withColumn(
        "w_micro",
        F.floor(
            F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long"),
    )
    tot = w.agg(F.sum("w_micro").cast("long").alias("total"))
    p = F.col("w_micro").cast("double") / F.col("total").cast("double")
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_docs", "n_tokens", "w_micro",
            p.alias("p_sample"),
            (p * MIXTURE_TOKEN_BUDGET).alias("exp_tokens"),
            (p * MIXTURE_TOKEN_BUDGET / F.col("n_tokens")).alias("epochs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# sample_leakage_safe_splits: split assignment hashed on the NEAR-DUP
# COMPONENT, not the document.
# ---------------------------------------------------------------------------

def _leakage_safe_oracle() -> str:
    from .dedup_queries import _CANDIDATES_CTE

    gid = "COALESCE(c.gid, d.doc_id)"
    return f"""
    WITH RECURSIVE {_CANDIDATES_CTE},
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
        SELECT a AS doc_id,
               CASE WHEN MIN(b) < a THEN MIN(b) ELSE a END AS gid
        FROM reach GROUP BY a
    )
    SELECT d.doc_id,
           {gid} AS group_id,
           {_bucket_sql(gid)} AS bucket,
           CASE WHEN {_bucket_sql(gid)} < 80 THEN 'train'
                WHEN {_bucket_sql(gid)} < 90 THEN 'validation'
                ELSE 'test' END AS split
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ORDER BY d.doc_id
    """


@query("sample_leakage_safe_splits", _leakage_safe_oracle(), local=True)
def sample_leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/validation/test assignment that cannot leak near-
    duplicates across splits: hash the near-dup COMPONENT id (LSH
    candidate pairs → connected components; singletons are their own
    group), not the document id. A doc-id-hashed split puts ~20% of
    each duplicate cluster's members outside train — the classic
    contamination path (Lee et al. 2021 measured test-set dup rates;
    group-wise splitting is the fix every serious pipeline applies).
    Same Knuth bucket arithmetic (``_bucket``) and 80/10/10 cut as a
    plain doc-id split, so the two differ ONLY in what gets hashed —
    the leakage-safety is isolated and auditable.

    At scale: the component labels are the dedup pipeline's existing
    byproduct (amortized); this query adds one keys-only left join and
    the narrow bucket arithmetic. Invariant pinned in
    tests/test_sampling.py: every candidate pair lands in ONE split,
    and the fixture contains pairs whose doc-id buckets straddle a cut
    — the naive split provably leaks where this one does not."""
    from .dedup_queries import shared_pair_components

    docs = load_table(spark, sf_dir, "documents")
    comp = shared_pair_components(spark, sf_dir).select(
        F.col("v").alias("doc_id"), F.col("component_id").alias("gid")
    )
    gid = F.coalesce(F.col("gid"), F.col("doc_id"))
    bucket = _bucket(gid)
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            gid.alias("group_id"),
            bucket.alias("bucket"),
            F.when(bucket < 80, F.lit("train"))
            .when(bucket < 90, F.lit("validation"))
            .otherwise(F.lit("test")).alias("split"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# sample_k_per_group: deterministic fixed-size per-group sample.
# ---------------------------------------------------------------------------

SAMPLE_K_PER_GROUP = 5
_KPG_SALT = 60013


SAMPLE_K_PER_GROUP_ORACLE = f"""
    WITH h AS (
        SELECT source, doc_id,
               {_bucket_sql('doc_id', _KPG_SALT)} AS hkey
        FROM documents
    ),
    r AS (
        SELECT source, doc_id, hkey,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY hkey, doc_id) AS rn
        FROM h
    )
    SELECT source, doc_id, hkey, rn
    FROM r WHERE rn <= {SAMPLE_K_PER_GROUP}
    ORDER BY source, rn
    """


@query("sample_k_per_group", SAMPLE_K_PER_GROUP_ORACLE, local=True)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size sample of SAMPLE_K_PER_GROUP (5)
    documents per source — the "give me k examples from every stratum"
    primitive (eval-set construction, per-source spot checks, UI
    previews). Rows are ordered within each group by the salted
    deterministic hash bucket (``_bucket`` with its own salt), so the
    sample is uniform-ish, REPRODUCIBLE across runs and engines (rand() is lint-banned), and STABLE under corpus
    growth in the sense that a document's sort key never changes —
    only boundary membership can shift.

    Plan: one window per source ordered by (hkey, doc_id); the rn <= k
    predicate pushes INTO the window sort as WindowGroupLimit (pinned
    in tests/test_plan_shapes.py) — each map task keeps a running
    top-k per group BEFORE the exchange, so the shuffle carries
    ~k rows per (task, group), not the corpus."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", _bucket(F.col("doc_id"), _KPG_SALT).alias("hkey")
    )
    w = Window.partitionBy("source").orderBy("hkey", "doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_K_PER_GROUP)
        .select("source", "doc_id", "hkey", "rn")
        .orderBy("source", "rn")
    )


# ---------------------------------------------------------------------------
# sample_quota_allocation: Hamilton largest-remainder budget allocation.
# ---------------------------------------------------------------------------

QUOTA_BUDGET = 997  # docs to sample corpus-wide (prime: real remainders)

SAMPLE_QUOTA_ALLOCATION_ORACLE = f"""
    WITH w AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS weight
        FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(SUM(weight) AS BIGINT) AS total FROM w),
    base AS (
        SELECT w.source, w.weight,
               CAST(w.weight * {QUOTA_BUDGET} // t.total AS BIGINT) AS floor_q,
               CAST(w.weight * {QUOTA_BUDGET} % t.total AS BIGINT) AS rem
        FROM w, t
    ),
    leftover AS (
        SELECT CAST({QUOTA_BUDGET} - SUM(floor_q) AS BIGINT) AS l FROM base
    ),
    ranked AS (
        SELECT source, weight, floor_q, rem,
               ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
        FROM base
    )
    SELECT r.source, r.weight, r.floor_q, r.rem,
           CAST(r.floor_q + CASE WHEN r.rk <= l.l THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM ranked r, leftover l
    ORDER BY r.source
    """


@query("sample_quota_allocation", SAMPLE_QUOTA_ALLOCATION_ORACLE, local=True)
def sample_quota_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton (largest-remainder) apportionment of a fixed sampling
    budget across corpus strata, weighted by total characters — the
    'give every source its exact proportional share of a 997-doc eval
    set' allocator. Proportional quotas are fractional; naive rounding
    breaks Σquota == budget, and per-stratum float division isn't even
    cross-engine stable. Hamilton is the classic integer-exact fix:
    floor_q = weight·B DIV total, then the L = B − Σfloor leftover
    units go to the L largest remainders (weight·B mod total,
    source-asc tiebreak) — every column BIGINT, the oracle hash-exact,
    and the Σquota == B / |quota − exact share| < 1 laws pinned in
    tests. (Same algorithm as US-House seat apportionment 1852-1900 —
    the alabama-paradox caveat is irrelevant for a fixed budget.)

    Scale shape: one map-side-combinable (source, Σchars) aggregate is
    the only full-data pass; the total is a broadcast scalar; the
    remainder rank is a SinglePartition window over the STRATUM table
    (bounded by the source vocabulary, not the corpus). The downstream
    sampler feeding on these quotas is sample_k_per_group with k =
    quota."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("weight")
    )
    return quota_frame(w, QUOTA_BUDGET)


def quota_frame(w: DataFrame, budget: int) -> DataFrame:
    """Core of sample_quota_allocation over any (source, weight) frame
    — split out so planted exact-share / leftover / tie tests can pin
    the Hamilton arithmetic directly.

    Guards total > 0 with a named error (r10 ADVICE): an all-zero or
    empty strata frame would otherwise surface as an unhelpful ANSI
    DIV-by-zero deep in the quota expression."""
    t = w.agg(F.sum("weight").cast("long").alias("total"))
    total_row = t.first()
    if total_row is None or not total_row["total"]:
        raise ValueError(
            "quota_frame needs at least one stratum with weight > 0 "
            f"(got total={None if total_row is None else total_row['total']})"
        )
    base = w.crossJoin(F.broadcast(t)).select(
        "source",
        "weight",
        F.expr(f"weight * {budget} DIV total").cast("long")
        .alias("floor_q"),
        F.expr(f"weight * {budget} % total").cast("long").alias("rem"),
    )
    leftover = base.agg(
        (F.lit(budget) - F.sum("floor_q")).cast("long").alias("l")
    )
    rk = F.row_number().over(
        Window.orderBy(F.col("rem").desc(), "source")
    )
    return (
        base.withColumn("rk", rk)
        .crossJoin(F.broadcast(leftover))
        .select(
            "source",
            "weight",
            "floor_q",
            "rem",
            (
                F.col("floor_q")
                + F.when(F.col("rk") <= F.col("l"), 1).otherwise(0)
            ).cast("long").alias("quota"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# sample_systematic_interval: systematic (every k-th) sampling in a
# deterministic hash order.
# ---------------------------------------------------------------------------

SYSTEMATIC_K = 7  # keep every 7th document

SAMPLE_SYSTEMATIC_ORACLE = f"""
    WITH h AS (
        -- ord composes (bucket, doc_id) into one sort key; identical
        -- to the Spark side's lexicographic (bkt, doc_id) order while
        -- doc_id < 1e6 (true at every fixture SF; the Spark side's
        -- two-column order has no such envelope)
        SELECT doc_id, source,
               {_bucket_sql('doc_id', 104729)} * 1000000 + doc_id AS ord
        FROM documents
    ),
    r AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (ORDER BY ord) AS rn
        FROM h
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN rn % {SYSTEMATIC_K} = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(MIN(CASE WHEN rn % {SYSTEMATIC_K} = 1 THEN doc_id END)
                AS BIGINT) AS first_kept_doc
    FROM r
    GROUP BY source
    ORDER BY source
    """


@query("sample_systematic_interval", SAMPLE_SYSTEMATIC_ORACLE, local=True)
def sample_systematic_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYSTEMATIC sampling — keep every SYSTEMATIC_K-th document in a
    deterministic pseudo-random order (the salted Knuth bucket, with
    doc_id composed in as the total-order tiebreak): the
    equal-interval design survey statisticians use when a stream
    should be thinned at an exact 1/k rate — unlike the Bernoulli
    hash-bucket splits (sample_stratified_by), the kept count per k
    consecutive ordered rows is EXACTLY one, so the rate holds in
    every window, not just in expectation. The hash order stands in
    for the 'random start' of textbook systematic sampling while
    staying reproducible run-to-run.

    Interval sampling needs a GLOBAL rank, but never a global sort:
    the rank is decomposed hierarchically (the pack_token_budget_shards
    pattern) with the hash BUCKET as the natural block — a per-bucket
    row_number (100-way parallel) plus each bucket's offset from the
    tiny post-aggregate count table broadcast back. The only
    single-partition window runs over the 100-row bucket-count frame
    (lint R2's sanctioned shape). Report: per source, total, kept, and
    the first kept doc as the phase witness."""
    docs = load_table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"), salt=104729)
    base = docs.select("doc_id", "source", b.alias("bkt"))
    w_local = Window.partitionBy("bkt").orderBy("doc_id")
    local = base.select(
        "doc_id", "source", "bkt",
        F.row_number().over(w_local).alias("local_rn"),
    )
    counts = base.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
    w_off = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "bkt", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("off")
    )
    r = local.join(F.broadcast(offsets), "bkt").select(
        "doc_id", "source",
        (F.col("off") + F.col("local_rn")).alias("rn"),
    )
    kept = F.when(F.col("rn") % SYSTEMATIC_K == 1, 1).otherwise(0)
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.min(
                F.when(F.col("rn") % SYSTEMATIC_K == 1, F.col("doc_id"))
            ).cast("long").alias("first_kept_doc"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# exp_assignment_srm: deterministic experiment assignment + sample-ratio
# -mismatch audit.
# ---------------------------------------------------------------------------

# (variant, weight in percent) — weights sum to 100; CASE arms below
# carve [0, 100) into contiguous bucket ranges in this order.
EXP_VARIANTS = (("control", 50), ("treat_a", 25), ("treat_b", 25))


def _exp_variant_case(bucket: str) -> str:
    """Engine-portable CASE mapping a [0,100) bucket onto variants."""
    arms, lo = [], 0
    for name, w in EXP_VARIANTS[:-1]:
        lo += w
        arms.append(f"WHEN ({bucket}) < {lo} THEN '{name}'")
    return ("CASE " + " ".join(arms)
            + f" ELSE '{EXP_VARIANTS[-1][0]}' END")


def _exp_srm_oracle() -> str:
    from .sketch_queries import _hash32_sql

    bucket = f"({_hash32_sql('user_id')}) % 100"
    weights = " UNION ALL ".join(
        f"SELECT '{name}' AS variant, {w} AS weight_pct"
        for name, w in EXP_VARIANTS
    )
    return f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    assigned AS (
        SELECT user_id, {_exp_variant_case(bucket)} AS variant FROM users
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM users),
    w AS ({weights}),
    obs AS (
        SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_assigned
        FROM assigned GROUP BY variant
    )
    SELECT w.variant, w.weight_pct,
           COALESCE(obs.n_assigned, 0) AS n_assigned,
           COALESCE(obs.n_assigned, 0) * 1000000 // n.n_users
               AS observed_ppm,
           CAST(POWER(100 * COALESCE(obs.n_assigned, 0)
                      - n.n_users * w.weight_pct, 2) AS BIGINT)
               * 1000000 // (100 * n.n_users * w.weight_pct)
               AS chi2_micro
    FROM w LEFT JOIN obs ON w.variant = obs.variant CROSS JOIN n
    ORDER BY w.variant
    """


EXP_ASSIGNMENT_SRM_ORACLE = _exp_srm_oracle()


@query("exp_assignment_srm", EXP_ASSIGNMENT_SRM_ORACLE, local=True)
def exp_assignment_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic experiment (A/B/n) assignment plus the
    SAMPLE-RATIO-MISMATCH audit every experimentation platform runs
    before trusting a readout: each distinct user hashes into a
    [0, 100) bucket via the engine-portable integer avalanche
    (plans/sketch_queries.py — identical bit-for-bit on both engines;
    NEVER rand(), which the scale lint bans and which would unbalance
    re-runs), buckets carve into weighted variants (50/25/25), and the
    per-variant Pearson chi-square contribution is reported in exact
    integer MICRO-units:

        chi2_i = (obs_i - n*w_i/100)^2 / (n*w_i/100)
               = (100*obs_i - n*w_i)^2 / (100*n*w_i)

    — all-integer multiply-then-DIV, no float crosses the engine
    boundary. A platform alerts when the summed statistic exceeds the
    chi-square critical value; the per-variant contributions are the
    diagnostic view that localizes which arm leaks.

    Scale shape: one DISTINCT on user_id (map-side combinable), one
    narrow hash projection, one 3-group aggregate, and a broadcast of
    the 3-row weight table — nothing else. At 100 TB assignment stays
    a pure map (the hash rides into any downstream join or filter);
    the audit is group-count-sized. (100*obs)^2 stays inside int64 up
    to ~10^8 users per variant; beyond that the standard move is the
    DECIMAL/HUGEINT upgrade, noted not needed at fixture SFs."""
    from .sketch_queries import _hash32_spark_sql

    bucket = f"({_hash32_spark_sql('user_id')}) % 100"
    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("variant", F.expr(_exp_variant_case(bucket)))
    )
    n = users.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    w = spark.createDataFrame(
        list(EXP_VARIANTS), "variant string, weight_pct long"
    )
    obs = users.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned")
    )
    return (
        w.join(obs, "variant", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "variant",
            "weight_pct",
            F.coalesce(F.col("n_assigned"), F.lit(0)).cast("long")
            .alias("n_assigned"),
            F.expr("COALESCE(n_assigned, 0) * 1000000 DIV n_users")
            .cast("long").alias("observed_ppm"),
            F.expr(
                "CAST(POWER(100 * COALESCE(n_assigned, 0)"
                " - n_users * weight_pct, 2) AS BIGINT)"
                " * 1000000 DIV (100 * n_users * weight_pct)"
            ).cast("long").alias("chi2_micro"),
        )
        .orderBy("variant")
    )


# ---------------------------------------------------------------------------
# exp_variant_conversion: the experiment readout on top of the
# deterministic assignment.
# ---------------------------------------------------------------------------

def _exp_conversion_oracle() -> str:
    from .sketch_queries import _hash32_sql

    bucket = f"({_hash32_sql('user_id')}) % 100"
    return f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    assigned AS (
        SELECT user_id, {_exp_variant_case(bucket)} AS variant FROM users
    ),
    conv AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    arms AS (
        SELECT a.variant,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(COUNT(c.user_id) AS BIGINT) AS n_converted
        FROM assigned a LEFT JOIN conv c ON a.user_id = c.user_id
        GROUP BY a.variant
    ),
    ctrl AS (
        SELECT n_converted * 1000000 // n_users AS ctrl_ppm FROM arms
        WHERE variant = 'control'
    )
    SELECT arms.variant, arms.n_users, arms.n_converted,
           arms.n_converted * 1000000 // arms.n_users AS conversion_ppm,
           arms.n_converted * 1000000 // arms.n_users - ctrl.ctrl_ppm
               AS uplift_ppm
    FROM arms CROSS JOIN ctrl
    ORDER BY arms.variant
    """


EXP_VARIANT_CONVERSION_ORACLE = _exp_conversion_oracle()


@query("exp_variant_conversion", EXP_VARIANT_CONVERSION_ORACLE, local=True)
def exp_variant_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experiment READOUT on top of exp_assignment_srm's
    deterministic arms: per variant, users, purchase converters,
    exact-ppm conversion, and uplift vs the control arm — the A/B/n
    summary table. (The fixture's hash arms are orthogonal to behavior
    by construction, so uplift hovers near zero — the point attested
    is the exact accounting, not a causal effect.)

    Scale shape: assignment stays the pure avalanche-hash map; the
    converter set is one DISTINCT on (user) after a type filter
    (map-side combinable); arms fold in one LEFT-join + 3-group
    aggregate; the control row rides back as a 1-row broadcast cross
    join (the bm25 corpus-stats pattern). All-integer ppm."""
    from .sketch_queries import _hash32_spark_sql

    bucket = f"({_hash32_spark_sql('user_id')}) % 100"
    ev = load_table(spark, sf_dir, "events")
    assigned = (
        ev.select("user_id").distinct()
        .withColumn("variant", F.expr(_exp_variant_case(bucket)))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("cu"))
        .distinct()
    )
    arms = (
        assigned.join(conv, assigned["user_id"] == F.col("cu"), "left")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.count("cu").cast("long").alias("n_converted"),
        )
    )
    ctrl = arms.filter(F.col("variant") == "control").select(
        F.expr("n_converted * 1000000 DIV n_users").alias("ctrl_ppm")
    )
    return (
        arms.crossJoin(F.broadcast(ctrl))
        .select(
            "variant",
            "n_users",
            "n_converted",
            F.expr("n_converted * 1000000 DIV n_users").cast("long")
            .alias("conversion_ppm"),
            (
                F.expr("n_converted * 1000000 DIV n_users")
                - F.col("ctrl_ppm")
            ).cast("long").alias("uplift_ppm"),
        )
        .orderBy("variant")
    )
