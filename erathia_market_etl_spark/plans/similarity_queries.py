"""Similarity-search queries over the embeddings table (extension
surface): brute-force cosine top-k (baseline, HOF and Arrow-vectorized
forms), IVF cell-probed top-k (single-query, batch multi-query, and
the production k-means path's quality contract), banded sign-LSH
near-dup pairs with recall/overflow audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import (
    N_SIGN_BANDS,
    SIGN_BITS_PER_BAND,
    cosine,
    round6,
    sign_band_near_pairs,
    sign_band_table,
)
from ..sources.parquet_io import load_table
from .registry import query

QUERY_VEC_ID = 0  # fixture row used as the search query
TOP_K = 10

_COSINE_SQL = """
    list_sum(list_transform(list_zip({a}, {b}),
             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
    / (SQRT(list_sum(list_transform(list_zip({a}, {a}),
             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))))
       * SQRT(list_sum(list_transform(list_zip({b}, {b}),
             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))))
"""


def _query_vector(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("query_vec")
    )


def collect_query_embedding(
    emb: DataFrame, vec_id: int = QUERY_VEC_ID
) -> list[float]:
    """The ONE sanctioned driver-side collect in the similarity family
    (r10 VERDICT item 5): fetch the single query vector that ships in
    a UDF closure / literal array. ``limit(2)`` bounds the transfer
    structurally and the length check turns the implicit "this collect
    is bounded" into an enforced contract — a duplicated or missing
    query id fails loudly instead of silently scoring against an
    arbitrary row. tests/test_similarity.py pins both failure modes."""
    rows = (
        emb.filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .limit(2)
        .collect()
    )
    if len(rows) != 1:
        raise ValueError(
            f"query vector vec_id={vec_id}: expected exactly one row, "
            f"got {len(rows)}"
        )
    return [float(x) for x in rows[0]["embedding"]]


@query(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, e.label,
           FLOOR(({_COSINE_SQL.format(a='e.embedding', b='q.query_vec')})
                 * 1000000 + 0.5) / 1000000 AS cosine_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT {TOP_K}
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the 1-row query vector, score
    every embedding with zip_with/aggregate HOFs (JVM-side, no UDF),
    TakeOrderedAndProject for the top k. Full-scan but perfectly
    parallel — the correctness baseline for any ANN variant."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir)
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", "label",
            round6(cosine(F.col("embedding"), F.col("query_vec"))).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


@query(
    "sim_topk_vectorized",
    oracle=f"""
    WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, e.label,
           FLOOR(({_COSINE_SQL.format(a='e.embedding', b='q.query_vec')})
                 * 1000000 + 0.5) / 1000000 AS cosine_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT {TOP_K}
    """,
)
def sim_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k through the Arrow-vectorized pandas-UDF scorer
    (one numpy matmul per batch) instead of per-row HOF folds — same
    semantics and oracle as sim_topk_bruteforce, ~BLAS throughput on
    wide vectors. The one-row query vector collects driver-side and
    ships in the UDF closure."""
    from ..operators.similarity import vectorized_cosine_udf

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = collect_query_embedding(emb)
    scorer = vectorized_cosine_udf(qvec)
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", round6(scorer(F.col("embedding"))).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


N_CENTROIDS = 16
N_PROBE = 4


def _ivf_centroids(emb: DataFrame, n_centroids: int = N_CENTROIDS,
                   id_col: str = "vec_id", vec_col: str = "embedding"):
    """Bounded, length-checked collect of the fixture-centroid rows
    (``vec_id < n_centroids`` — the deterministic oracle-reproducible
    centroid convention), sorted by cid: (cids int64[], C float64[][]).
    The ``limit(n+1)`` bounds the transfer structurally and a result
    larger than ``n_centroids`` rows fails loudly (duplicate ids) — the
    collect_query_embedding contract pattern. r16: the centroids used
    to fold into a broadcast row scored by interpreted transform/
    array_max HOFs per vector; they are a driver-sized constant, so
    they now ship in the Arrow scorers' closures
    (operators/similarity.py: cell_argmax_udf / probe_order_udf, which
    replay the HOF tree's exact IEEE op order in vectorized numpy)."""
    import numpy as np

    rows = (
        emb.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .limit(n_centroids + 1)
        .collect()
    )
    if len(rows) > n_centroids:
        raise ValueError(
            f"centroid rows: expected at most {n_centroids} "
            f"(ids < {n_centroids}), got {len(rows)} — duplicate ids?"
        )
    rows.sort(key=lambda r: r[0])
    cids = np.asarray([int(r[0]) for r in rows], dtype=np.int64)
    C = np.asarray([[float(x) for x in r[1]] for r in rows],
                   dtype=np.float64)
    return cids, C


_IVF_CTE = f"""
    cent AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        WHERE vec_id < {N_CENTROIDS}
    ),
    scored AS (
        SELECT e.vec_id, e.label, e.embedding, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ({_COSINE_SQL.format(a='e.embedding', b='c.cvec')}) DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (SELECT vec_id, label, embedding, cid FROM scored WHERE rn = 1),
    probes AS (SELECT cid FROM scored WHERE vec_id = {QUERY_VEC_ID} AND rn <= {N_PROBE})
"""


@query(
    "sim_topk_ivf",
    oracle=f"""
    WITH {_IVF_CTE},
    q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT cells.vec_id, cells.label,
           FLOOR(({_COSINE_SQL.format(a='cells.embedding', b='q.query_vec')})
                 * 1000000 + 0.5) / 1000000 AS cosine_sim
    FROM cells JOIN probes ON cells.cid = probes.cid CROSS JOIN q
    WHERE cells.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine_sim DESC, cells.vec_id
    LIMIT {TOP_K}
    """,
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest of 16 coarse
    centroids, then search only the query's 4 nearest cells (~nprobe/K
    of the data). Centroids here are the first 16 vectors —
    deterministic and oracle-reproducible; production swaps in k-means
    centroids, the cell/probe plumbing is identical. At scale the cell
    table is written partitioned by cid, so probing prunes partitions.

    Assignment is shuffle-free: the 16 centroids fold into ONE
    broadcast row (sort_array(collect_list(struct))), each vector
    scores them inside a transform() HOF, and the argmin is
    array_max over (score, -cid) structs — ties break to the lowest
    cid exactly like the oracle's ROW_NUMBER (score DESC, cid ASC).
    The old formulation exploded N x 16 rows through a shuffle +
    window sort just to pick that max; this one is a narrow map stage."""
    from ..operators.similarity import cell_argmax_udf, probe_order_udf

    emb = load_table(spark, sf_dir, "embeddings")
    cids, C = _ivf_centroids(emb)
    cell = cell_argmax_udf(cids, C)
    cells = emb.select(
        "vec_id", "label", "embedding",
        cell(F.col("embedding")).alias("cid"),
    )
    # probe order = score DESC, cid ASC (the old sort_array(desc)
    # semantics); the full-sort scorer runs on the ONE query row only
    order = probe_order_udf(cids, C)
    probes = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(
            F.explode(
                F.slice(order(F.col("embedding")), 1, N_PROBE)
            ).alias("cid")
        )
    )
    q = _query_vector(spark, sf_dir)
    return (
        cells.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", "label",
            round6(cosine(F.col("embedding"), F.col("query_vec"))).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


N_BATCH_QUERIES = 8  # deterministic query set: vec_id < 8


@query(
    "sim_topk_batch",
    oracle=f"""
    WITH {_IVF_CTE},
    qs AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
           WHERE vec_id < {N_BATCH_QUERIES}),
    probes_b AS (
        SELECT vec_id AS qid, cid FROM scored
        WHERE vec_id < {N_BATCH_QUERIES} AND rn <= {N_PROBE}
    ),
    cand AS (
        SELECT q.qid, c.vec_id, c.label,
               FLOOR(({_COSINE_SQL.format(a='c.embedding', b='q.qvec')})
                     * 1000000 + 0.5) / 1000000 AS cosine_sim
        FROM cells c
        JOIN probes_b p ON c.cid = p.cid
        JOIN qs q ON q.qid = p.qid
        WHERE c.vec_id <> q.qid
    )
    SELECT qid, vec_id, label, cosine_sim FROM cand
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY cosine_sim DESC, vec_id
    ) <= {TOP_K}
    ORDER BY qid, cosine_sim DESC, vec_id
    """,
)
def sim_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH ANN retrieval — top-k (TOP_K=10) per query over a query
    SET (N_BATCH_QUERIES=8 deterministic query vectors, vec_id < 8)
    through the IVF cell path. This is the shape
    real retrieval pipelines run (r5 VERDICT item 3): the single-query
    family never exercises k-PER-GROUP scoring, because its global
    top-k is a TakeOrderedAndProject; here the cut is a rank window
    partitioned by query id.

    Plan: one shared shuffle-free IVF assignment over the corpus
    (the Arrow cell_argmax_udf scorer over the _ivf_centroids collect —
    r16, ex the _ivf_scored HOF stage), the per-query probe lists join
    their query vectors
    into ONE small (qid, cid, qvec) table that BROADCASTS onto the
    cell table (each vector lives in exactly one cell, so a corpus
    vector is scored once per probing query, never duplicated within
    one query), exact cosine per surviving (query, candidate) pair,
    then ROW_NUMBER per qid with the two-phase WindowGroupLimit (rule
    R5) bounding every partition map-side. At scale: candidates =
    nprobe/K of the corpus per query; the only exchange after
    assignment is the rank window's hash(qid) over ALREADY
    rank-limited partial rows. Scoring a much larger query set batches
    the same way — the broadcast table grows as #queries x nprobe and
    the window key cardinality grows with it."""
    from ..operators.similarity import cell_argmax_udf, probe_order_udf

    emb = load_table(spark, sf_dir, "embeddings")
    cids, C = _ivf_centroids(emb)
    cell = cell_argmax_udf(cids, C)
    cells = emb.select(
        "vec_id", "label", "embedding",
        cell(F.col("embedding")).alias("cid"),
    )
    order = probe_order_udf(cids, C)
    probes = (
        emb.filter(F.col("vec_id") < N_BATCH_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.explode(
                F.slice(order(F.col("embedding")), 1, N_PROBE)
            ).alias("cid"),
        )
    )
    qs = emb.filter(F.col("vec_id") < N_BATCH_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    probe_q = probes.join(qs, "qid")
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    from ..operators.similarity import pairwise_cosine_udf

    return (
        cells.join(F.broadcast(probe_q), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", "label",
            round6(
                pairwise_cosine_udf()(F.col("embedding"), F.col("qvec"))
            ).alias("cosine_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


IVF_NPROBE = 4
IVF_RECALL_FLOOR = 0.3   # measured 0.4 (sf0.001) / 0.5 (sf0.01) @ nprobe=4
IVF_BALANCE_CEIL = 0.25  # measured max cell fraction 0.074 / 0.086 (k=16)


# Corpus fingerprint that keys the frozen measured-value constants in
# the contract-class oracles below (r12 VERDICT item 4): the k-means /
# PQ state is not SQL-reproducible, but it IS deterministic per
# dataset (seeded hash-ordered sample + driver Lloyd — verified
# bit-identical across shuffle-partition layouts 8 and 17), so the
# oracle pins the MEASURED integers per frozen fixture, dispatched on
# a content signature. An unknown corpus yields NULLs -> a loud hash
# mismatch, never a silent pass.
_EMB_FINGERPRINT_CTE = """
    fp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(ABS(embedding[1]) * 1000000 + 0.5)
                             AS BIGINT)) AS BIGINT) AS sig
        FROM embeddings
    )"""

# sig values of the three driver fixtures (TESTDATA.md) plus the
# synthetic sf1 decade-step corpus (tools/gen_scale_step.py --gen
# --full — 4 cyclically dimension-rotated replicas of the sf0.1
# embeddings; r13 VERDICT item 3: a corpus the fixtures' generator
# never produced, so the contract class is attested beyond the two
# shipped data distributions):
_EMB_SIG_SF0001 = 50598792    # sf0.001 (500 vectors)
_EMB_SIG_SF001 = 51001045     # sf0.01  (500 vectors)
_EMB_SIG_SF01 = 196981349     # sf0.1   (2000 vectors)
_EMB_SIG_SF1SYN = 797541686   # .scalecheck/sf1 (8000 vectors)

# RE-MEASUREMENT PROCEDURE (r13 ADVICE: the pinned integers are
# per-row doubles quantized via FLOOR(x*1e6+0.5) — deterministic
# across partition layouts (verified at shuffle.partitions 8/17/32),
# but a Spark/JVM/numpy upgrade could move a value one ULP across a
# rounding boundary and hard-fail a previously-green row with a VALUE
# mismatch; that is the deliberate loud-fail design, and this is how
# to diagnose it as an environment bump rather than an engine
# regression). For each frozen corpus: (1) recompute sig with the
# _EMB_FINGERPRINT_CTE SQL in DuckDB over embeddings.parquet — if sig
# moved, the CORPUS changed, regenerate or re-pin; (2) run
# sim_ivf_cell_quality / sim_pq_quality twice under
# different spark.sql.shuffle.partitions and confirm the measured
# integers agree run-to-run — if they do but differ from the pinned
# value, it is an environment bump: re-pin the integers in ONE commit
# that cites the component upgrade, leaving the threshold BOOLEANS
# (the semantic contract) untouched. Booleans are pinned per corpus
# too (not blanket TRUE): e.g. PQ recall_ok is genuinely FALSE on the
# synthetic sf1 corpus — the 100-vector shortlist is a 4x smaller
# corpus fraction there, the expected ANN recall/scale trade — so the
# oracle records the measured verdict instead of asserting quality
# that does not hold.


def _sig_case(values: dict[int, int]) -> str:
    arms = " ".join(
        f"WHEN sig = {sig} THEN {v}" for sig, v in values.items()
    )
    return f"CAST(CASE {arms} END AS BIGINT)"


def _sig_case_bool(values: dict[int, bool]) -> str:
    arms = " ".join(
        f"WHEN sig = {sig} THEN {'TRUE' if v else 'FALSE'}"
        for sig, v in values.items()
    )
    return f"CAST(CASE {arms} END AS BOOLEAN)"


@query(
    "sim_ivf_cell_quality",
    oracle=f"""
    WITH {_EMB_FINGERPRINT_CTE}
    SELECT n AS n_vectors,
           {N_CENTROIDS} AS k,
           {IVF_NPROBE} AS n_probe,
           CAST(16 AS BIGINT) AS n_cells,
           {_sig_case({_EMB_SIG_SF0001: 74000, _EMB_SIG_SF001: 86000,
                       _EMB_SIG_SF01: 71000, _EMB_SIG_SF1SYN: 65750})}
               AS balance_ppm,
           {_sig_case({_EMB_SIG_SF0001: 4, _EMB_SIG_SF001: 5,
                       _EMB_SIG_SF01: 6, _EMB_SIG_SF1SYN: 7})}
               AS recall_hits,
           TRUE AS cells_ok,
           TRUE AS balance_ok,
           TRUE AS recall_ok
    FROM fp
    """,
)
def sim_ivf_cell_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality contract for the PRODUCTION IVF path — sampled-k-means
    centroids (kmeans_centroids) + broadcast cell assignment
    (assign_cells) — in the sim_band_recall / agg_approx_sketches style
    (r4 VERDICT "What's missing" #1: that path had local-only
    evidence). The k-means result is not SQL-reproducible, so the
    oracle pins the path's CONTRACT instead of its state — and, since
    r13, the MEASURED integers too (balance_ppm, recall_hits,
    n_cells), frozen per fixture and dispatched on a corpus content
    fingerprint (r12 VERDICT item 4 — values, not just threshold
    booleans):

      * n_vectors — the assigned-cells table preserves cardinality,
        hash-checked against the exact DuckDB COUNT(*) (the broadcast
        assignment is 1:1, no dropped/duplicated rows);
      * cells_ok — assignment actually partitions the space (2..k
        distinct cells used);
      * balance_ok — no cell captures more than {IVF_BALANCE_CEIL:.0%}
        of the corpus (uniform would be 1/k ≈ 6%; a zero-norm-centroid
        NaN capture or a collapsed k-means would trip this);
      * recall_ok — IVF top-{TOP_K} at nprobe={IVF_NPROBE} recovers
        ≥ {IVF_RECALL_FLOOR:.0%} of the exact brute-force top-{TOP_K}
        for the standard query vector (measured headroom above).

    Determinism: the k-means sample is hash-ordered with a fixed seed
    (partition-layout-independent), Lloyd is driver numpy, probes are
    argsort over the already-driver-side centroid list — so every run
    produces the same booleans. Scale: centroid fit is O(sample), the
    only corpus-wide stages are the narrow broadcast assignment, one
    groupBy(cid) for sizes, and the brute-force audit pass (the same
    audit cost sim_band_recall pays)."""
    import numpy as np

    from ..operators.similarity import assign_cells, kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, k=N_CENTROIDS, iters=5, seed=7)
    cells = assign_cells(spark, emb, cents)

    C = np.asarray(cents, dtype=np.float64)
    q = _query_vector(spark, sf_dir)
    qvec = np.asarray(collect_query_embedding(emb), dtype=np.float64)
    cscore = (C @ qvec) / (np.linalg.norm(C, axis=1) * np.linalg.norm(qvec))
    probes = [int(i) for i in np.argsort(-cscore)[:IVF_NPROBE]]

    def topk(df):
        return (
            df.filter(F.col("vec_id") != QUERY_VEC_ID)
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                cosine(F.col("embedding"), F.col("query_vec")).alias("cs"),
            )
            .orderBy(F.desc("cs"), F.asc("vec_id"))
            .limit(TOP_K)
            .select("vec_id")
        )

    sizes = cells.groupBy("cid").agg(F.count(F.lit(1)).alias("sz"))
    stats = sizes.agg(
        F.sum("sz").alias("n_vectors"),
        F.count(F.lit(1)).alias("n_cells"),
        F.max("sz").alias("max_sz"),
    )
    hits = (
        topk(emb).join(topk(cells.filter(F.col("cid").isin(probes))), "vec_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # measured-value columns (r12 VERDICT item 4): the cell sizes and
    # shortlist hits are exact integers and the k-means path is
    # deterministic (hash-ordered seeded sample, driver Lloyd), so the
    # oracle pins the VALUES per frozen fixture, not just the booleans
    balance_ppm = F.expr("(max_sz * 1000000) DIV n_vectors").cast("long")
    return stats.crossJoin(hits).select(
        F.col("n_vectors").cast("bigint").alias("n_vectors"),
        F.lit(N_CENTROIDS).alias("k"),
        F.lit(IVF_NPROBE).alias("n_probe"),
        F.col("n_cells").cast("bigint").alias("n_cells"),
        balance_ppm.alias("balance_ppm"),
        F.col("n_hits").cast("bigint").alias("recall_hits"),
        ((F.col("n_cells") >= 2) & (F.col("n_cells") <= N_CENTROIDS)).alias("cells_ok"),
        (balance_ppm <= F.lit(int(IVF_BALANCE_CEIL * 1_000_000))).alias("balance_ok"),
        ((F.col("n_hits") / TOP_K) >= IVF_RECALL_FLOOR).alias("recall_ok"),
    )


MAX_SIGN_BUCKET = 256  # hot-bucket cap, mirrored in both oracles below


def _band_bits_sql(v: str, band: int, bits: int = SIGN_BITS_PER_BAND) -> str:
    return "||".join(
        f"(CASE WHEN {v}[{band * bits + i + 1}] > 0 THEN '1' ELSE '0' END)"
        for i in range(bits)
    )


# one SELECT per band, UNION ALL — DuckDB twin of sign_band_table
_SIGN_BANDS_CTE = "sbands AS (" + " UNION ALL ".join(
    f"SELECT vec_id, {b} AS band_idx, "
    f"{_band_bits_sql('embedding', b)} AS band_key FROM embeddings"
    for b in range(N_SIGN_BANDS)
) + ")"


def _banded_pairs_oracle(threshold: float) -> str:
    """DuckDB twin of sign_band_near_pairs at a given cosine threshold."""
    return f"""
    WITH {_SIGN_BANDS_CTE},
    capped AS (
        SELECT vec_id, band_idx, band_key FROM sbands
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY band_idx, band_key ORDER BY vec_id
        ) <= {MAX_SIGN_BUCKET}
    ),
    cand AS (
        SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        FROM capped x
        JOIN capped y
          ON x.band_idx = y.band_idx AND x.band_key = y.band_key
         AND x.vec_id < y.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           FLOOR(({_COSINE_SQL.format(a='a.embedding', b='b2.embedding')})
                 * 1000000 + 0.5) / 1000000 AS cosine_sim
    FROM cand c
    JOIN embeddings a  ON a.vec_id  = c.vec_a
    JOIN embeddings b2 ON b2.vec_id = c.vec_b
    WHERE ({_COSINE_SQL.format(a='a.embedding', b='b2.embedding')}) >= {threshold}
    ORDER BY vec_a, vec_b
    """


@query("sim_near_dup_pairs", oracle=_banded_pairs_oracle(0.9))
def sim_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via BANDED sign-LSH — the embedding
    analog of MinHash-LSH dedup. Round 2's single fixed 8-bit bucket
    self-join was Θ(N²/256) at scale (r2 VERDICT "What's wrong" #3);
    this is the bounded replacement: 32 hyperplanes in 4 bands of 8,
    capped buckets (max {MAX_SIGN_BUCKET} members, deterministic by
    vec_id), in-bucket pair expansion O(cap²) worst case, exact cosine
    verify on the joined-back embeddings. Truncation is reported by
    sim_bucket_stats — never silent. See
    operators/similarity.py:sign_band_near_pairs for the plan-shape
    rationale."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sign_band_near_pairs(
        emb, threshold=0.9, max_bucket=MAX_SIGN_BUCKET
    )


@query(
    "sim_band_recall",
    oracle=f"""
    WITH {_SIGN_BANDS_CTE},
    qb AS (
        SELECT band_idx, band_key FROM sbands WHERE vec_id = {QUERY_VEC_ID}
    ),
    cand AS (
        SELECT DISTINCT s.vec_id
        FROM sbands s JOIN qb ON s.band_idx = qb.band_idx
                             AND s.band_key = qb.band_key
        WHERE s.vec_id <> {QUERY_VEC_ID}
    ),
    q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    topk AS (
        SELECT e.vec_id
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> {QUERY_VEC_ID}
        ORDER BY ({_COSINE_SQL.format(a='e.embedding', b='q.query_vec')}) DESC, e.vec_id
        LIMIT {TOP_K}
    )
    SELECT {TOP_K} AS k,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM topk t JOIN cand c ON c.vec_id = t.vec_id) AS n_hits,
           FLOOR((SELECT COUNT(*) FROM topk t JOIN cand c ON c.vec_id = t.vec_id)
                 / {TOP_K} * 1000000 + 0.5) / 1000000 AS recall
    """,
)
def sim_band_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k accuracy contract for the banded-LSH candidate
    generator (same theme as agg_approx_sketches: an approximation
    ships with an oracled measurement of its own quality). Candidates =
    vectors sharing ≥1 of the query's 4 sign bands; ground truth =
    exact brute-force top-{TOP_K}; output = candidate count, hit count,
    recall — so band recall on the live corpus is driver-checked every
    rotation instead of assumed from the hyperplane math. On random
    fixture embeddings recall is genuinely low (0.1 at sf0.01 — 32
    random hyperplanes separate near-orthogonal vectors aggressively); on
    near-dup-bearing corpora it approaches 1 (tests/test_similarity.py
    plants those). At scale both sides are one band-table probe of the
    query's 4 buckets + one brute-force pass for the audit."""
    emb = load_table(spark, sf_dir, "embeddings")
    bands = sign_band_table(emb)
    qb = bands.filter(F.col("vec_id") == QUERY_VEC_ID).select("band_idx", "band_key")
    cand = (
        bands.join(F.broadcast(qb), ["band_idx", "band_key"])
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id")
        .distinct()
    )
    q = _query_vector(spark, sf_dir)
    topk = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine(F.col("embedding"), F.col("query_vec")).alias("cs"))
        .orderBy(F.desc("cs"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id")
    )
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hits = topk.join(cand, "vec_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_cand.crossJoin(n_hits)
        .select(
            F.lit(TOP_K).alias("k"),
            "n_candidates",
            "n_hits",
            round6(F.col("n_hits") / TOP_K).alias("recall"),
        )
    )


SIMILAR_THRESHOLD = 0.4


@query("sim_similar_pairs", oracle=_banded_pairs_oracle(SIMILAR_THRESHOLD))
def sim_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same banded-LSH pipeline as sim_near_dup_pairs at a similar-pair
    threshold (0.4) instead of the near-dup 0.9. Exists because the
    fixture embeddings are random (max pairwise cosine ≈ 0.51 at
    sf0.01), so the 0.9 query's green row is correctly-empty = vacuous
    evidence (r3 VERDICT item 3): this variant emits actual rows
    through the identical band → cap → pair-expand → join-back →
    exact-verify path, so the driver exercises the pair-emitting code
    end-to-end every round. Synthetic known-near-dup coverage of the
    0.9 path itself lives in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sign_band_near_pairs(
        emb, threshold=SIMILAR_THRESHOLD, max_bucket=MAX_SIGN_BUCKET
    )


@query(
    "sim_bucket_stats",
    oracle=f"""
    WITH {_SIGN_BANDS_CTE},
    sizes AS (
        SELECT band_idx, band_key, COUNT(*) AS sz
        FROM sbands GROUP BY band_idx, band_key
    )
    SELECT band_idx,
           COUNT(*) AS n_buckets,
           MAX(sz) AS max_bucket_size,
           CAST(SUM(CASE WHEN sz > {MAX_SIGN_BUCKET} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overflow_buckets,
           CAST(SUM(CASE WHEN sz > {MAX_SIGN_BUCKET} THEN sz - {MAX_SIGN_BUCKET} ELSE 0 END) AS BIGINT)
               AS n_dropped_members
    FROM sizes
    GROUP BY band_idx
    ORDER BY band_idx
    """,
)
def sim_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-band bucket-size profile + truncation accounting — the
    overflow-reporting twin of sim_near_dup_pairs: per band, bucket count,
    the largest bucket, and exactly what the {MAX_SIGN_BUCKET}-cap
    would drop, so skew degrades recall visibly. Two hash aggregations
    over the (id, band) table; embeddings never shuffle."""
    from ..operators.dedup import lsh_bucket_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucket_stats(
        sign_band_table(emb), ["band_idx", "band_key"], MAX_SIGN_BUCKET
    )


# ---------------------------------------------------------------------------
# emb_label_centroids: distributed per-group embedding centroids.
# ---------------------------------------------------------------------------

EMB_DIM = 64  # fixture embedding dimensionality

EMB_LABEL_CENTROIDS_ORACLE = f"""
    WITH e AS (
        SELECT label, u.i - 1 AS pos,
               CAST(embedding[u.i] AS DOUBLE) AS val
        FROM embeddings,
             (SELECT unnest(generate_series(1, {EMB_DIM})) AS i) u
        WHERE len(embedding) = {EMB_DIM}
    ),
    m AS (
        SELECT label, pos,
               CAST(SIGN(val) * FLOOR(ABS(val) * 1000000 + 0.5e0) AS BIGINT)
                   AS micro
        FROM e
    )
    SELECT label, pos,
           COUNT(*) AS n_vectors,
           CAST(SUM(micro) AS DOUBLE) / COUNT(*) / 1000000 AS centroid
    FROM m
    GROUP BY label, pos
    ORDER BY label, pos
    """


@query("emb_label_centroids", oracle=EMB_LABEL_CENTROIDS_ORACLE)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, one row per (label, dimension) —
    the distributed vector-mean every embedding pipeline needs (IVF /
    k-means initialization from real group structure, per-source corpus
    drift monitoring, class prototypes). Shape: posexplode the
    embedding (narrow, 64 rows/vector), quantize each element ONCE to
    exact micro-integers (sign-aware floor(|x|·10⁶ + ½) on the
    float→double widened value — engines agree bit-for-bit), then ONE
    hash aggregation on (label, pos): partial aggregation collapses
    each partition to ≤ #labels × 64 rows before the exchange, so the
    shuffle is group-count-sized regardless of corpus size, and long
    sums are associative — the mean is partition-order-independent and
    hash-exact against the DuckDB twin (same trick as
    bm25_topk_postings; a raw double SUM would be last-ulp
    nondeterministic). Output stays scalar-columned (label, pos,
    n_vectors, centroid) per the registry's no-complex-top-level
    contract; consumers needing array centroids re-assemble with
    array_agg over pos."""
    emb = load_table(spark, sf_dir, "embeddings")
    val = F.col("val").cast("double")
    micro = (
        F.signum(val) * F.floor(F.abs(val) * F.lit(1000000.0) + F.lit(0.5))
    ).cast("long")
    e = (
        emb.filter(F.size("embedding") == EMB_DIM)
        .select("label", F.posexplode("embedding").alias("pos", "val"))
        .select("label", "pos", micro.alias("micro"))
    )
    return (
        e.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (F.sum("micro").cast("double") / F.count(F.lit(1)) / F.lit(1000000.0))
            .alias("centroid"),
        )
    )


# ---------------------------------------------------------------------------
# sim_pq_quality: product-quantization quality contract.
# ---------------------------------------------------------------------------

PQ_SHORTLIST = 100       # ADC shortlist size fed to exact re-rank
PQ_RECALL_FLOOR = 0.5    # re-ranked recall@10 (measured 0.6-0.9)
PQ_DISTORTION_CEIL = 0.8  # quantization MSE / sample variance (measured ~0.55)
PQ_CODES_FLOOR = 0.5     # distinct codes / n (measured 1.0)

SIM_PQ_QUALITY_ORACLE = f"""
    WITH {_EMB_FINGERPRINT_CTE}
    SELECT n AS n_vectors,
           8 AS n_sub, 16 AS k,
           {_sig_case({_EMB_SIG_SF0001: 548060, _EMB_SIG_SF001: 545112,
                       _EMB_SIG_SF01: 581354, _EMB_SIG_SF1SYN: 605557})}
               AS distortion_ppm,
           {_sig_case({_EMB_SIG_SF0001: 9, _EMB_SIG_SF001: 6,
                       _EMB_SIG_SF01: 6, _EMB_SIG_SF1SYN: 2})}
               AS recall_hits,
           TRUE AS codes_ok,
           TRUE AS distortion_ok,
           {_sig_case_bool({_EMB_SIG_SF0001: True, _EMB_SIG_SF001: True,
                            _EMB_SIG_SF01: True, _EMB_SIG_SF1SYN: False})}
               AS recall_ok
    FROM fp
    """


@query("sim_pq_quality", oracle=SIM_PQ_QUALITY_ORACLE)
def sim_pq_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality contract for the product-quantization ANN path
    (operators/similarity.py: pq_codebooks + pq_assign + pq_adc_topk)
    in the sim_ivf_cell_quality style — PQ state (codebooks, codes) is
    not SQL-reproducible, so the oracle pins the path's CONTRACT, plus
    (r13) the MEASURED integers distortion_ppm and recall_hits frozen
    per fixture behind the corpus fingerprint (r12 VERDICT item 4):

      * n_vectors — encoding preserves cardinality, hash-checked
        against the exact DuckDB COUNT(*) (pq_assign is a 1:1 narrow
        map);
      * codes_ok — the quantizer actually discriminates: distinct
        8-nibble codes ≥ PQ_CODES_FLOOR (0.5) of the corpus (measured:
        every fixture vector gets a unique code);
      * distortion_ok — mean squared reconstruction error ≤
        PQ_DISTORTION_CEIL (0.8) × the sample-estimated data variance
        (measured ≈ 0.55 — 8×16 codebooks halve the energy of 64-dim
        vectors while compressing 32× to 8 bytes);
      * recall_ok — the PRODUCTION retrieval shape (ADC shortlist of
        PQ_SHORTLIST (100) over codes only, exact re-rank of the
        shortlist) recovers ≥ PQ_RECALL_FLOOR (0.5) of the exact L2
        top-10 for the standard query vector (measured 0.6-0.9).

    Determinism: codebooks come from the hash-ordered bounded sample
    (partition-layout-independent), Lloyd is driver numpy, ADC LUTs
    are driver floats — the booleans are identical every run. Scale:
    the corpus-wide stages are the narrow encode, one small aggregate
    over (8-byte) codes, and the shortlist re-rank joins; raw vectors
    are only read by the encode scan and the |shortlist|-sized
    re-rank."""
    from ..operators.similarity import (
        _kmeans_sample,
        _sq_l2,
        pq_adc_topk,
        pq_assign,
        pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # ONE bounded collect shared by codebook training and the variance
    # bound (pq_codebooks would otherwise re-run the identical
    # hash-ordered sample job)
    S = _kmeans_sample(emb, 2048, 11, "vec_id", "embedding")
    books = pq_codebooks(emb, sample=S)
    n_sub, k = len(books), len(books[0])
    # per-row reconstruction error rides the encode projection itself
    # (pq_assign err_col — the chosen centroid's distance IS the
    # subspace minimum, so no re-derivation from the packed code), and
    # the whole encode is the Arrow pandas_udf batch kernel (r16 —
    # pq_assign's docstring records that the codegen'd literal-chain
    # rewrite was measured and REJECTED for py4j construction cost;
    # values bit-identical to the old interpreted transform/array_max
    # HOFs — same IEEE op order)
    codes = pq_assign(spark, emb, books, err_col="recon_err").select(
        "vec_id", "embedding", "pq_code", "recon_err"
    )

    # sample-estimated variance bound (deterministic, driver-side)
    var_bound = float(((S - S.mean(axis=0)) ** 2).sum(axis=1).mean())

    # quantized to micro ints PER ROW before the sum (r12 VERDICT
    # item 4): each row's error is a deterministic row-wise double, and
    # the summed LONGs are exact/associative, so the aggregate is
    # bit-stable under any partition layout (a double AVG would not be)
    err_micro = F.floor(
        F.col("recon_err") * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    stats = codes.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct("pq_code").alias("n_codes"),
        F.sum(err_micro).alias("err_micro_sum"),
    )

    # production retrieval: ADC shortlist over codes -> exact re-rank
    q = collect_query_embedding(emb)
    qlit = F.array(*[F.lit(float(x)) for x in q])
    others = codes.filter(F.col("vec_id") != QUERY_VEC_ID)
    short = pq_adc_topk(others, q, books, top=PQ_SHORTLIST)
    # re-rank reads the RAW embeddings table, not the codes frame: the
    # shortlist only needs (vec_id, embedding), and probing emb avoids
    # re-executing the encode subtree a third time in this one plan
    # (value-identical — pinned by the join key)
    rerank = (
        emb.join(short.select("vec_id"), "vec_id", "left_semi")
        .select("vec_id", _sq_l2(F.col("embedding"), qlit).alias("d2"))
        .orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id")
    )
    exact = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", _sq_l2(F.col("embedding"), qlit).alias("d2"))
        .orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id")
    )
    hits = rerank.join(exact, "vec_id").agg(F.count(F.lit(1)).alias("n_hits"))

    # distortion_ppm = round(mse / var_bound * 1e6): err_micro_sum/n is
    # mse in micro units; var_bound is a driver float off the same
    # deterministic hash-ordered sample — so the ppm is the SAME
    # integer every run, and the oracle pins its VALUE (not just the
    # threshold boolean) per frozen fixture (r12 VERDICT item 4)
    distortion_ppm = F.floor(
        F.col("err_micro_sum") / F.col("n_vectors") / F.lit(var_bound)
        + F.lit(0.5)
    ).cast("long")
    return stats.crossJoin(hits).select(
        F.col("n_vectors").cast("bigint").alias("n_vectors"),
        F.lit(n_sub).alias("n_sub"),
        F.lit(k).alias("k"),
        distortion_ppm.alias("distortion_ppm"),
        F.col("n_hits").cast("bigint").alias("recall_hits"),
        ((F.col("n_codes") / F.col("n_vectors")) >= PQ_CODES_FLOOR)
        .alias("codes_ok"),
        (distortion_ppm <= F.lit(int(PQ_DISTORTION_CEIL * 1_000_000)))
        .alias("distortion_ok"),
        ((F.col("n_hits") / TOP_K) >= PQ_RECALL_FLOOR).alias("recall_ok"),
    )
