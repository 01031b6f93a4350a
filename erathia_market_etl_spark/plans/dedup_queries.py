"""Deduplication queries over documents (extension surface).

exact-hash dedup, MinHash-LSH candidate generation, and n-gram-Jaccard
verification — the standard near-dup stack for pre-training corpora,
expressed as pure DataFrame pipelines (operators/dedup.py) with exact
DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    DEFAULT_MAX_BUCKET,
    N_MINHASH,
    N_SIMHASH_BITS,
    N_SIMHASH_BLOCKS,
    SIMHASH_HAMMING_MAX,
    candidate_pairs_from_bands,
    exact_dedup_groups,
    jaccard,
    minhash_band_table,
    shingles_from_tokens,
    simhash_near_pairs,
)
from ..operators.similarity import round6
from ..operators.text import tokens
from ..sources.parquet_io import adaptive_partitions, fan_out, load_table
from .registry import query
from .stage_cache import session_stage


def shared_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-wide MinHash (doc, band_idx, band_key) band table over
    ``documents``, a session stage (plans/stage_cache.py) PERSISTED
    memory-and-disk (r12): dedup_minhash_lsh_pairs,
    dedup_corpus_representatives, pipeline_training_funnel and the
    cluster/bucket-stats/split siblings all start from it with identical
    parameters (3-gram shingles, 8-hash signature, 4 bands of 2). The
    cap window / bucket collect / pair expansion stay LIVE in every
    consumer plan, so the WindowGroupLimit and shuffle pins keep their
    teeth."""
    from pyspark import StorageLevel

    def build(stats: dict) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        bands = minhash_band_table(docs, "text", "doc_id")
        return bands.persist(StorageLevel.MEMORY_AND_DISK)

    return session_stage(spark, sf_dir, "minhash_bands", build)


def shared_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs over the shared band table, with the default
    bucket cap and no per-query signature recompute."""
    return candidate_pairs_from_bands(shared_minhash_bands(spark, sf_dir))


def shared_pair_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component labels over ``shared_minhash_pairs``, a
    session stage: the component rounds run EAGERLY (checkpointed, so
    no extra persist) at plan construction, once per session for the
    two consumers that cluster the full candidate-pair set
    (dedup_cluster_components, dedup_corpus_representatives). The
    funnel clusters the gate-induced subgraph, a different edge set:
    its own stage, _funnel_labels."""
    from ..operators.graph import connected_components_auto

    def build(stats: dict) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return connected_components_auto(
            shared_minhash_pairs(spark, sf_dir), "doc_a", "doc_b",
            stats=stats, num_partitions=adaptive_partitions(docs),
        )

    return session_stage(spark, sf_dir, "pair_components", build)

# shared SQL fragments for the oracle twins ---------------------------------

_SHINGLES_CTE = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN
                   list_transform(generate_series(1, len(t) - 2),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
               ELSE [] END AS s
        FROM toks
    )
"""

def _rot_hash(j: int) -> str:
    if j == 0:
        return "md5('mh|' || x)"
    return f"substr(md5('mh|' || x), {4*j+1}) || substr(md5('mh|' || x), 1, {4*j})"


_SIG_SQL = ", ".join(
    f"list_min(list_transform(s, x -> {_rot_hash(j)})) AS h{j}" for j in range(N_MINHASH)
)
_BANDS_SQL = ", ".join(f"md5('{b}|' || h{2*b} || h{2*b+1}) AS band{b}" for b in range(4))
_BAND_UNION = "\n        UNION ALL\n".join(
    f"        SELECT doc_id, {b} AS band_idx, band{b} AS band_key FROM banded"
    for b in range(4)
)

_BANDS_CTE = f"""
    {_SHINGLES_CTE},
    sig AS (SELECT doc_id, {_SIG_SQL} FROM sh WHERE len(s) > 0),
    banded AS (SELECT doc_id, {_BANDS_SQL} FROM sig),
    bands AS (
{_BAND_UNION}
    )
"""

# the hot-bucket cap (operators/dedup.py:cap_bucket_members) mirrored in
# SQL: deterministic first-K-by-id per bucket via QUALIFY row_number
_CANDIDATES_CTE = f"""
    {_BANDS_CTE},
    capped AS (
        SELECT doc_id, band_idx, band_key FROM bands
        QUALIFY row_number() OVER (PARTITION BY band_idx, band_key
                                   ORDER BY doc_id) <= {DEFAULT_MAX_BUCKET}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped a JOIN capped b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id
    )
"""


@query(
    "dedup_exact_hash",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS representative_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    ORDER BY content_hash
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle on the content hash; representative =
    min(doc_id). At 100 TB: hash the bytes, never the parsed row."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "text", "doc_id")


@query(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {_CANDIDATES_CTE}
    SELECT doc_a, doc_b FROM pairs
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: 3-gram shingles -> 8-element minhash
    (lexicographic min of md5 — engine-portable) -> 4 bands of 2 ->
    self-equi-join on band key. Catches Jaccard ≳ 0.5 pairs; the only
    shuffle is the band-key join."""
    return shared_minhash_pairs(spark, sf_dir)


# SimHash oracle fragments --------------------------------------------------

_BITSUMS_SQL = ", ".join(
    f"SUM(2 * ((h >> {j}) & 1) - 1) AS b{j}" for j in range(N_SIMHASH_BITS)
)
_FP_SQL = " + ".join(
    f"(CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
    for j in range(N_SIMHASH_BITS)
)
_BLOCK_W = N_SIMHASH_BITS // N_SIMHASH_BLOCKS
_BLOCK_UNION = "\n        UNION ALL\n".join(
    f"        SELECT doc, fingerprint, {b} AS block_idx,"
    f" (fingerprint >> {b * _BLOCK_W}) & {(1 << _BLOCK_W) - 1} AS block_key FROM fp"
    for b in range(N_SIMHASH_BLOCKS)
)

_SIMHASH_CTE = f"""
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    hashed AS (
        SELECT doc_id, CAST('0x' || substr(md5('sh|' || t), 1, {N_SIMHASH_BITS // 4}) AS BIGINT) AS h
        FROM tok
    ),
    sums AS (SELECT doc_id, {_BITSUMS_SQL} FROM hashed GROUP BY doc_id),
    fp AS (SELECT doc_id AS doc, {_FP_SQL} AS fingerprint FROM sums)
"""


@query(
    "dedup_simhash_near_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    blocks AS (
{_BLOCK_UNION}
    ),
    capped AS (
        SELECT doc, fingerprint, block_idx, block_key FROM blocks
        QUALIFY row_number() OVER (PARTITION BY block_idx, block_key
                                   ORDER BY doc) <= {DEFAULT_MAX_BUCKET}
    )
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
           bit_count(xor(a.fingerprint, b.fingerprint)) AS hamming
    FROM capped a JOIN capped b
      ON a.block_idx = b.block_idx AND a.block_key = b.block_key
    WHERE a.doc < b.doc
      AND bit_count(xor(a.fingerprint, b.fingerprint)) <= {SIMHASH_HAMMING_MAX}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3) via pigeonhole LSH: 4 blocks
    of 12 bits — any pair within hamming 3 shares an exact block, so
    candidates come from block-bucket grouping and are verified with
    bit_count(a XOR b). Same one-shuffle bucket-expansion shape as
    MinHash banding."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, "text", "doc_id")


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_CANDIDATES_CTE}
    SELECT p.doc_a, p.doc_b,
           FLOOR(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                 / len(list_distinct(sa.s || sb.s)) * 1000000 + 0.5) / 1000000
               AS jaccard_3gram
    FROM pairs p
    JOIN sh sa ON sa.doc_id = p.doc_a
    JOIN sh sb ON sb.doc_id = p.doc_b
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / len(list_distinct(sa.s || sb.s)) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup verification: exact distinct-set Jaccard computed ONLY on
    LSH candidates (never all-pairs), thresholded at 0.5. The expensive
    O(n²) stage is bounded by the LSH collision rate."""
    docs = load_table(spark, sf_dir, "documents")
    # shingles are hashed to int64 BEFORE the join-back: the verify then
    # shuffles ~8 bytes per shingle instead of the ~3-word string (and
    # array_intersect compares longs, not strings). Jaccard is a pure
    # set-cardinality ratio, so each engine may hash with its own
    # function (DuckDB keeps strings) — the ratio is identical unless
    # xxhash64 collides within one document pair's shingle sets
    # (P ≈ n²/2⁶⁵ — negligible, and a collision would only perturb one
    # pair's ratio).
    sh = (
        fan_out(docs)
        .withColumn("_toks", tokens(F.col("text")))
        .select(
            "doc_id",
            F.transform(
                shingles_from_tokens(F.col("_toks"), 3), lambda x: F.xxhash64(x)
            ).alias("s"),
        )
    )
    pairs = shared_minhash_pairs(spark, sf_dir)
    # evaluate the (array_intersect/array_union) Jaccard ONCE as a
    # column, then filter/round on it — filter(jc)+select(round6(jc))
    # would compute the set expression twice per candidate pair
    jc = jaccard(F.col("sa.s"), F.col("sb.s"))
    return (
        pairs.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn("_jc", jc)
        .filter(F.col("_jc") >= 0.5)
        .select("doc_a", "doc_b", round6(F.col("_jc")).alias("jaccard_3gram"))
    )


@query(
    "dedup_incremental_new_docs",
    oracle="""
    WITH corpus AS (
        SELECT DISTINCT md5(trim(lower(text))) AS fp
        FROM documents WHERE doc_id < 250
    ),
    incoming AS (
        SELECT doc_id, md5(trim(lower(text))) AS fp
        FROM documents WHERE doc_id >= 250
    )
    SELECT i.doc_id, i.fp
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = i.fp)
    ORDER BY i.doc_id
    """,
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: fingerprint the incoming batch and
    anti-join against the existing corpus's fingerprint set — the
    day-2 operation of every dedup pipeline (full re-dedup of 100 TB
    per ingest is a non-starter; the fingerprint table is ~64 bytes/doc
    and the anti-join shuffles only fingerprints, not text). Here the
    'corpus' is doc_id < 250 and the 'batch' is the rest, split for
    reproducibility."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.trim(F.lower(F.col("text")))).alias("fp")
    corpus = docs.filter(F.col("doc_id") < 250).select(fp).distinct()
    incoming = docs.filter(F.col("doc_id") >= 250).select("doc_id", fp)
    return (
        incoming.join(corpus, "fp", "left_anti")
        .select("doc_id", "fp")
    )


@query(
    "dedup_cluster_components",
    oracle=f"""
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
    )
    SELECT a AS doc_id,
           CASE WHEN MIN(b) < a THEN MIN(b) ELSE a END AS component_id
    FROM reach
    GROUP BY a
    ORDER BY doc_id
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH candidate pairs as edges,
    connected components via the kernel-ESCALATING auto operator
    (operators/graph.py, r7): min-label propagation runs first and on
    dense dup-cluster graphs (this corpus: 4 rounds at every SF) is
    the entire cost — one labels-sized shuffle + one action per round,
    zero selection overhead; only if its round budget exhausts
    (chain-shaped structure) the graph is contracted through the
    partial labels and handed to the r6 alternating
    large-star/small-star kernel (Kiveris et al. SoCC'14), keeping
    total rounds ≤ budget + O(log² n) regardless of diameter.
    Component id = canonical (minimum) doc — 'keep one per cluster' is
    then a filter on doc_id == component_id. Oracle computes the same
    fixpoint with a recursive CTE (transitive closure + per-vertex
    min); labels are kernel-independent, so the oracle is unchanged."""
    return (
        shared_pair_components(spark, sf_dir)
        .select(F.col("v").alias("doc_id"), "component_id")
    )


@query(
    "dedup_corpus_representatives",
    oracle=f"""
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
    non_reps AS (
        SELECT a AS doc_id FROM reach GROUP BY a HAVING MIN(b) < a
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM non_reps)
    ORDER BY d.doc_id
    """,
)
def dedup_corpus_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable end of the near-dup pipeline: the DEDUPED CORPUS —
    every document except non-representative near-dup cluster members
    (representative = minimum doc_id per connected component, the same
    canonical label dedup_cluster_components assigns). The other dedup
    queries emit pairs/components/stats for audit; this one emits what a
    training pipeline actually feeds the tokenizer. Shape: LSH pairs →
    kernel-selecting connected components (r7, see
    dedup_cluster_components) → filter members ≠ label → LEFT ANTI join
    back to documents. The anti-join is a sort-merge on doc_id by design —
    on a heavily-duplicated corpus (web crawls routinely dedup away
    most of the data) the non-representative side is NOT small, so a
    broadcast hint would be a scale bug; SMJ shuffles only 8-byte keys
    plus the projected columns, never text payloads."""
    docs = load_table(spark, sf_dir, "documents")
    non_reps = (
        shared_pair_components(spark, sf_dir)
        .filter(F.col("v") != F.col("component_id"))
        .select(F.col("v").alias("doc_id"))
    )
    return (
        docs.join(non_reps, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
    )
