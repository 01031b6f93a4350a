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
    sign_bucket,
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

_BUCKET_SQL = "||".join(
    f"(CASE WHEN {{v}}[{i + 1}] > 0 THEN '1' ELSE '0' END)" for i in range(8)
)


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


LSH_BUCKET_ORACLE = f"""
    WITH q AS (SELECT embedding AS query_vec,
                      {_BUCKET_SQL.format(v='embedding')} AS qbucket
               FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, e.label,
           FLOOR(({_COSINE_SQL.format(a='e.embedding', b='q.query_vec')})
                 * 1000000 + 0.5) / 1000000 AS cosine_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> {QUERY_VEC_ID}
      AND {_BUCKET_SQL.format(v='e.embedding')} = q.qbucket
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT {TOP_K}
    """


@query("sim_topk_lsh_bucket", LSH_BUCKET_ORACLE, local=True)
def sim_topk_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: score only vectors in the query's sign-bit LSH
    bucket (~1/256 of the data). At scale, write the table partitioned by
    bucket and this filter becomes partition pruning — the scan itself
    shrinks 256×."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir).select(
        "query_vec", sign_bucket(F.col("query_vec")).alias("qbucket")
    )
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("bucket", sign_bucket(F.col("embedding")))
        .join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
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
        .orderBy("qid", F.desc("cosine_sim"), F.asc("vec_id"))
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
# sim_ivf_cell_quality / sim_pq_quality / sim_ivfpq_topk twice under
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
    ).orderBy("vec_a", "vec_b")


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
    ).orderBy("vec_a", "vec_b")


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
        .orderBy("label", "pos")
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


# ---------------------------------------------------------------------------
# sim_ivfpq_topk: the composed IVF + PQ retrieval pipeline — the ANN
# shape that actually runs at 100 TB (FAISS IVFPQ / SPANN family:
# coarse cells prune the corpus, 8-byte codes prune the scan, exact
# re-rank fixes the shortlist). Local-only.
# ---------------------------------------------------------------------------

IVFPQ_SHORTLIST = 64      # ADC shortlist fed to exact re-rank
# recall@10 vs in-cell exact L2 — measured 1.0 / 0.8 / 0.6 at
# sf0.001 / sf0.01 / sf0.1 (within-cell neighbors are mutually close,
# so 8x16 codebooks discriminate them more coarsely than the
# corpus-wide sim_pq_quality scan; the re-ranked shortlist still
# recovers a solid majority of the exact in-cell top-10)
IVFPQ_RECALL_FLOOR = 0.5

SIM_IVFPQ_TOPK_ORACLE = f"""
    WITH {{ivf_cte}},
    {{fingerprint_cte}}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
           {{n_probe}} AS n_probe, 8 AS n_sub, 16 AS k,
           {IVFPQ_SHORTLIST} AS shortlist,
           (SELECT {{recall_case}} FROM fp) AS recall_hits,
           TRUE AS shortlist_bounded,
           (SELECT {{recall_ok_case}} FROM fp) AS recall_ok
    FROM cells JOIN probes ON cells.cid = probes.cid
    WHERE cells.vec_id <> {{query_vec_id}}
    """


def _ivfpq_oracle() -> str:
    # recall_hits values measured r13 (deterministic per fixture —
    # repeat-run verified), pinned behind the corpus fingerprint like
    # the sim_pq_quality oracle
    return SIM_IVFPQ_TOPK_ORACLE.format(
        ivf_cte=_IVF_CTE,
        n_probe=N_PROBE,
        query_vec_id=QUERY_VEC_ID,
        fingerprint_cte=_EMB_FINGERPRINT_CTE,
        recall_case=_sig_case(
            {_EMB_SIG_SF0001: 10, _EMB_SIG_SF001: 8, _EMB_SIG_SF01: 6,
             _EMB_SIG_SF1SYN: 2}
        ),
        recall_ok_case=_sig_case_bool(
            {_EMB_SIG_SF0001: True, _EMB_SIG_SF001: True,
             _EMB_SIG_SF01: True, _EMB_SIG_SF1SYN: False}
        ),
    )


@query("sim_ivfpq_topk", _ivfpq_oracle(), local=True)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed retrieval, one contract row. The pipeline: the
    deterministic 16-cell coarse quantizer (same argmax-over-broadcast
    assignment as sim_topk_ivf), probe the query's N_PROBE (4) nearest
    cells, ADC-scan ONLY the probed cells' 8-byte PQ codes for an
    IVFPQ_SHORTLIST (64) shortlist, exact-L2 re-rank the shortlist,
    return top-10.

    The oracle pins the IVF half HASH-EXACTLY: n_candidates counts the
    probed-cell population through the full coarse assignment
    (argmax of 16 cosines per vector, ROW_NUMBER ties) recomputed
    independently by DuckDB — an engine-drift canary for the whole
    cell/probe pipeline. The PQ half (codebooks, codes, ADC) is not
    SQL-reproducible state, so it is pinned as the measured
    recall_ok contract (>= IVFPQ_RECALL_FLOOR (0.5) of the IN-CELL exact-L2
    top-10 — the PQ stage's own loss, separated from the IVF cell-miss
    loss that sim_topk_ivf already evidences) plus shortlist_bounded
    (the shortlist genuinely prunes: IVFPQ_SHORTLIST < n_candidates,
    so recall_ok is non-vacuous) — and, since r13, the measured
    recall_hits INTEGER itself, frozen per fixture behind the corpus
    fingerprint (the sim_pq_quality pattern; r12 VERDICT item 4).

    Scale shape: at 100 TB the codes table is encoded offline
    corpus-wide (pq_assign's narrow map) and written partitioned by
    cell id, so probing prunes partitions and the ADC scan reads
    8 bytes/vector from N_PROBE/N_CENTROIDS of the corpus; raw vectors
    are read only by the |shortlist| re-rank. Here the encode runs on
    the probed candidates only — retrieval-identical, and the full-
    corpus encode path is already attested by sim_pq_quality."""
    from ..operators.similarity import (
        _sq_l2,
        pq_adc_topk,
        pq_assign,
        pq_codebooks,
    )

    from ..operators.similarity import cell_argmax_udf, probe_order_udf

    emb = load_table(spark, sf_dir, "embeddings")
    cids, C = _ivf_centroids(emb)
    cells = emb.select(
        "vec_id", "embedding",
        cell_argmax_udf(cids, C)(F.col("embedding")).alias("cid"),
    )
    probes = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(
            F.explode(
                F.slice(probe_order_udf(cids, C)(F.col("embedding")),
                        1, N_PROBE)
            ).alias("cid")
        )
    )
    cand = (
        cells.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "embedding")
    )
    books = pq_codebooks(emb)
    codes = pq_assign(spark, cand, books).select(
        "vec_id", "embedding", "pq_code"
    )
    q = collect_query_embedding(emb)
    qlit = F.array(*[F.lit(float(x)) for x in q])
    short = pq_adc_topk(codes, q, books, top=IVFPQ_SHORTLIST)
    # re-rank probes the pre-encode candidate frame — the shortlist
    # only needs (vec_id, embedding), so the encode subtree executes
    # exactly once (for the ADC scan), not twice
    rerank = (
        cand.join(short.select("vec_id"), "vec_id", "left_semi")
        .select("vec_id", _sq_l2(F.col("embedding"), qlit).alias("d2"))
        .orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id")
    )
    incell_exact = (
        cand.select("vec_id", _sq_l2(F.col("embedding"), qlit).alias("d2"))
        .orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id")
    )
    hits = rerank.join(incell_exact, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    ncand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    return ncand.crossJoin(hits).select(
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.lit(N_PROBE).alias("n_probe"),
        F.lit(len(books)).alias("n_sub"),
        F.lit(len(books[0])).alias("k"),
        F.lit(IVFPQ_SHORTLIST).alias("shortlist"),
        # measured-value column (r13, the sim_pq_quality pattern): the
        # shortlist∩in-cell-exact hit count is a deterministic integer
        # per fixture — the oracle pins its VALUE behind the corpus
        # fingerprint, not just the >= floor boolean
        F.col("n_hits").cast("bigint").alias("recall_hits"),
        (F.lit(IVFPQ_SHORTLIST) < F.col("n_candidates"))
        .alias("shortlist_bounded"),
        ((F.col("n_hits") / TOP_K) >= IVFPQ_RECALL_FLOOR).alias("recall_ok"),
    )


# ---------------------------------------------------------------------------
# dedup_semantic_cells: SemDeDup (Abbas et al. 2023, arXiv:2303.09540 —
# semantic deduplication via k-means cluster bucketing).
# r9: the cell count is now the paper's ~sqrt(n) regime by default
# (VERDICT r8 item 3 — at sf0.1 the fixed-16-cell configuration's
# 128-doc cap was BINDING, ~312 members/cell, silently dropping
# candidate pairs), and the output carries per-cell cap-slack
# accounting the way sim_bucket_stats accounts bucket overflow.
# ---------------------------------------------------------------------------

SEM_CELL_CAP = 128  # deterministic per-cell candidate cap (by vec_id)
SEM_MIN_CELLS = 16  # floor: tiny fixtures keep >= the retrieval cell count
# fixture-calibrated like SIMILAR_THRESHOLD: the fixture embeddings are
# random (max observed within-cell cosine ~0.47-0.49 across SFs), so the
# paper's ~0.95 near-dup threshold would make every green row vacuous;
# 0.4 keeps a real keep/drop population on both engines at every SF.
SEM_DUP_THRESHOLD = 0.4

# k = max(16, floor(sqrt(n))) on BOTH engines. DuckDB's SQRT is
# IEEE-correctly-rounded, so FLOOR(SQRT(n)) == Python math.isqrt(n) for
# any n < 2^52 (a perfect square's sqrt is exact; a non-square's
# correctly-rounded sqrt cannot cross the next integer boundary).
DEDUP_SEMANTIC_CELLS_ORACLE = f"""
    WITH k AS (
        SELECT GREATEST({SEM_MIN_CELLS},
                        CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS k
        FROM embeddings
    ),
    cent AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        WHERE vec_id < (SELECT k FROM k)
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ({_COSINE_SQL.format(a='e.embedding', b='c.cvec')}) DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (SELECT vec_id, embedding, cid FROM scored WHERE rn = 1),
    counted AS (
        SELECT cid, vec_id, embedding,
               CAST(COUNT(*) OVER (PARTITION BY cid) AS BIGINT) AS cell_n
        FROM cells
    ),
    capped AS (
        SELECT cid, vec_id, embedding, cell_n FROM counted
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY cid ORDER BY vec_id
        ) <= {SEM_CELL_CAP}
    )
    SELECT x.cid, x.vec_id AS vec_a, y.vec_id AS vec_b,
           FLOOR(({_COSINE_SQL.format(a='x.embedding', b='y.embedding')})
                 * 1000000 + 0.5) / 1000000 AS cosine_sim,
           x.cell_n,
           x.cell_n > {SEM_CELL_CAP} AS truncated
    FROM capped x
    JOIN capped y ON x.cid = y.cid AND x.vec_id < y.vec_id
    WHERE ({_COSINE_SQL.format(a='x.embedding', b='y.embedding')})
          >= {SEM_DUP_THRESHOLD}
    ORDER BY vec_a, vec_b
    """


def semantic_cell_pairs(
    emb: DataFrame, n_cells: int, cap: int = SEM_CELL_CAP
) -> DataFrame:
    """Core SemDeDup pass over a (vec_id, embedding, ...) frame:
    nearest-of-``n_cells`` coarse assignment (first-n_cells vectors as
    centroids — deterministic; production swaps in `kmeans_centroids`),
    deterministic per-cell cap, within-cell exact-cosine pairs, with
    per-cell cap-slack accounting (``cell_n`` = pre-cap population;
    ``truncated`` = the cap bound, so this cell's pair list is a
    SAMPLE, not the full set — the sim_bucket_stats overflow-accounting
    convention). Separated from the query wrapper so the planted-pair
    test in tests/test_similarity.py can prove the cell-count knob's
    recall effect on a crafted corpus."""
    from pyspark.sql import Window

    from ..operators.similarity import cell_argmax_udf

    cids, C = _ivf_centroids(emb, n_centroids=n_cells)
    cells = emb.select(
        "vec_id", "embedding",
        cell_argmax_udf(cids, C)(F.col("embedding")).alias("cid"),
    )
    # pre-cap population as a K-CELLS-sized aggregate broadcast back
    # (an unordered count window above the row_number would block the
    # two-phase WindowGroupLimit pushdown the R5 lint pins; partial
    # aggregation collapses each partition to <= k rows pre-exchange)
    counts = cells.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("cell_n")
    )
    rn = F.row_number().over(Window.partitionBy("cid").orderBy("vec_id"))
    capped = (
        cells.withColumn("rn", rn)
        .filter(F.col("rn") <= cap)
        .join(F.broadcast(counts), "cid")
    )
    a = capped.select(
        "cid", F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"), "cell_n",
    )
    b = capped.select(
        "cid", F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
    )
    from ..operators.similarity import pairwise_cosine_udf

    # Arrow pairwise verify (r16): one vectorized batch, bit-identical
    # to the old interpreted cosine folds; projected once, then
    # filtered/rounded on the column (a filter(cs)+select(round6(cs))
    # pair would run the scorer twice)
    cs = pairwise_cosine_udf()(F.col("emb_a"), F.col("emb_b"))
    return (
        a.join(b, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("_cs", cs)
        .filter(F.col("_cs") >= SEM_DUP_THRESHOLD)
        .select(
            "cid", "vec_a", "vec_b",
            round6(F.col("_cs")).alias("cosine_sim"),
            "cell_n", (F.col("cell_n") > cap).alias("truncated"),
        )
        .orderBy("vec_a", "vec_b")
    )


@query("dedup_semantic_cells", DEDUP_SEMANTIC_CELLS_ORACLE, local=True)
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: semantic near-dup pairs via k-means cell bucketing —
    assign every embedding to its nearest coarse centroid (the
    shuffle-free Arrow argmax scorer shared with the IVF retrieval
    path — r16, ex the `_ivf_scored` broadcast-row HOF stage), cap each cell at SEM_CELL_CAP (128) members
    deterministically, then emit within-cell pairs with exact cosine
    >= SEM_DUP_THRESHOLD (0.4) plus per-cell cap-slack accounting
    (cell_n, truncated). Complements the banded sign-LSH pass
    (`sim_near_dup_pairs`): LSH candidates are recall-bounded by random
    hyperplanes, cluster bucketing by the learned partition — the
    published SemDeDup result is that cluster-local comparison finds
    the semantic duplicates LSH misses at equal cost. Downstream, the
    pairs feed the same `connected_components_auto` -> representative
    anti-join as the MinHash stack.

    Cell count (r9, VERDICT r8 item 3): k = max(SEM_MIN_CELLS,
    isqrt(n)) — the paper's k ~ sqrt(n) regime, so the EXPECTED cell
    population is ~sqrt(n) and the 128-cap stays slack as the corpus
    grows. The previous fixed 16 cells had the cap BINDING at sf0.1
    (~312 members/cell): cost stayed bounded but candidate PAIRS were
    silently dropped — a recall cliff every further decade. n comes
    from one COUNT action (scalar result, R4-bounded like the
    iterative kernels' .first() probes).

    At 100 TB: assignment is a narrow map (centroids ride one
    broadcast row); the only shuffle is the cell-keyed self-join of
    (vec_id, cid, embedding) projections; pair expansion is bounded
    O(cap²) per cell with truncation deterministic (lowest vec_ids
    kept) AND accounted (a truncated=true row marks the cell's pair
    list as a sample) — a mega-cluster costs 128 rows, never |cell|²."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    n_cells = max(SEM_MIN_CELLS, math.isqrt(emb.count()))
    return semantic_cell_pairs(emb, n_cells)


# ---------------------------------------------------------------------------
# emb_random_projection: Johnson-Lindenstrauss sign projection 64 -> 16.
# ---------------------------------------------------------------------------

JL_DIM = 16

def _jl_sign_sql(pos: str, j: str, spark_side: bool,
                 dim: int = JL_DIM) -> str:
    """±1 sign of projection cell (pos, j): low bit of the shared
    32-bit avalanche over the cell index — deterministic, engine-
    portable, and never materialized as a matrix."""
    from .sketch_queries import _hash32_spark_sql, _hash32_sql

    h = (_hash32_spark_sql if spark_side else _hash32_sql)(
        f"({pos}) * {dim} + ({j})"
    )
    return f"(1 - 2 * (({h}) % 2))"


EMB_RANDOM_PROJECTION_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, u.i - 1 AS pos,
               CAST(SIGN(CAST(embedding[u.i] AS DOUBLE))
                    * FLOOR(ABS(CAST(embedding[u.i] AS DOUBLE))
                            * 1000000 + 0.5e0) AS BIGINT) AS micro
        FROM embeddings,
             (SELECT unnest(generate_series(1, 64)) AS i) u
        WHERE len(embedding) = 64
    ),
    cells AS (
        SELECT e.vec_id, j.j,
               e.micro * {_jl_sign_sql('e.pos', 'j.j', spark_side=False)}
                   AS term
        FROM e, (SELECT unnest(generate_series(0, {JL_DIM - 1})) AS j) j
    )
    SELECT vec_id, j, CAST(SUM(term) AS BIGINT) AS proj_micro
    FROM cells
    GROUP BY vec_id, j
    ORDER BY vec_id, j
    """


@query("emb_random_projection", EMB_RANDOM_PROJECTION_ORACLE, local=True)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction 64 -> JL_DIM (16)
    by a deterministic ±1 sign matrix (Achlioptas 2003's database-
    friendly projection): cell sign (i, j) is the low bit of the shared
    32-bit avalanche over i*16+j, so the matrix is NEVER materialized
    or broadcast — each executor recomputes signs as column arithmetic.
    Elements are micro-quantized once (the emb_label_centroids idiom),
    so every projected coordinate is an exact ±micro long SUM and the
    DuckDB twin is hash-exact. The twin deliberately uses a DIFFERENT
    formulation (explicit 64x16 cell expansion + GROUP BY) than the
    Spark side (16 conditional SUMs in ONE vec_id aggregation over the
    64 posexploded rows — map-side combinable, no j-expansion ever
    rides a shuffle): identical integers from independent shapes.

    This is the standard cheap pre-step in front of every distance
    operator in this package — at 100 TB, projecting 64-d floats to
    16 dims cuts ANN/LSH/SemDeDup shuffle bytes 4x while preserving
    pairwise distances within the JL envelope (distance-correlation
    pin in tests/test_similarity.py). Output long rows (vec_id, j,
    proj_micro) per the registry's scalar-column contract."""
    emb = load_table(spark, sf_dir, "embeddings")
    return jl_projection_rows(emb).orderBy("vec_id", "j")


def jl_projection_rows(emb: DataFrame, dim: int = JL_DIM) -> DataFrame:
    """(vec_id, j, proj_micro) JL projection rows of an embeddings
    frame — the shared kernel behind emb_random_projection and the
    JL-shortlist retrieval composition below."""
    val = F.col("val").cast("double")
    micro = (
        F.signum(val) * F.floor(F.abs(val) * F.lit(1000000.0) + F.lit(0.5))
    ).cast("long")
    e = (
        emb.filter(F.size("embedding") == 64)
        .select("vec_id", F.posexplode("embedding").alias("pos", "val"))
        .select("vec_id", "pos", micro.alias("micro"))
    )
    sums = e.groupBy("vec_id").agg(*[
        F.sum(
            F.col("micro")
            * F.expr(_jl_sign_sql("pos", str(j), spark_side=True, dim=dim))
        ).cast("long").alias(f"p{j}")
        for j in range(dim)
    ])
    stack = ", ".join(f"{j}, p{j}" for j in range(dim))
    return sums.select(
        "vec_id",
        F.expr(f"stack({dim}, {stack}) AS (j, proj_micro)"),
    ).select("vec_id", F.col("j").cast("long").alias("j"), "proj_micro")


# ---------------------------------------------------------------------------
# sim_topk_jl_rerank: JL-shortlist retrieval — the third pruning
# composition next to IVF and IVF+PQ.
# ---------------------------------------------------------------------------

JL_RETRIEVAL_DIM = 32   # retrieval wants finer geometry than the 16-d
                        # compression default (measured recall below)
JL_SHORTLIST = 128

SIM_TOPK_JL_RERANK_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, u.i - 1 AS pos,
               CAST(SIGN(CAST(embedding[u.i] AS DOUBLE))
                    * FLOOR(ABS(CAST(embedding[u.i] AS DOUBLE))
                            * 1000000 + 0.5e0) AS BIGINT) AS micro
        FROM embeddings,
             (SELECT unnest(generate_series(1, 64)) AS i) u
        WHERE len(embedding) = 64
    ),
    proj AS (
        SELECT e.vec_id, j.j,
               CAST(SUM(e.micro
                        * {_jl_sign_sql('e.pos', 'j.j', spark_side=False,
                                        dim=JL_RETRIEVAL_DIM)})
                    AS BIGINT) AS p
        FROM e, (SELECT unnest(generate_series(0, {JL_RETRIEVAL_DIM - 1}))
                 AS j) j
        GROUP BY e.vec_id, j.j
    ),
    qp AS (SELECT j, p FROM proj WHERE vec_id = {QUERY_VEC_ID}),
    dist AS (
        SELECT proj.vec_id,
               CAST(SUM((proj.p - qp.p) * (proj.p - qp.p)) AS BIGINT) AS d2
        FROM proj JOIN qp ON proj.j = qp.j
        WHERE proj.vec_id <> {QUERY_VEC_ID}
        GROUP BY proj.vec_id
    ),
    short AS (
        SELECT vec_id, d2 FROM dist ORDER BY d2, vec_id
        LIMIT {JL_SHORTLIST}
    ),
    q AS (SELECT embedding AS query_vec FROM embeddings
          WHERE vec_id = {QUERY_VEC_ID})
    SELECT s.vec_id, e.label,
           FLOOR(({_COSINE_SQL.format(a='e.embedding', b='q.query_vec')})
                 * 1000000 + 0.5) / 1000000 AS cosine_sim
    FROM short s JOIN embeddings e ON s.vec_id = e.vec_id CROSS JOIN q
    ORDER BY cosine_sim DESC, s.vec_id
    LIMIT {TOP_K}
    """


@query("sim_topk_jl_rerank", SIM_TOPK_JL_RERANK_ORACLE, local=True)
def sim_topk_jl_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL-shortlist retrieval: project corpus + query to
    JL_RETRIEVAL_DIM (32) exact-integer coordinates
    (jl_projection_rows — the hash-derived ±1 matrix, never
    materialized), take the JL_SHORTLIST (128) nearest candidates by
    EXACT integer projected L2, then exact-cosine re-rank the raw
    vectors to TOP_K. d'=32 is the measured knee on the fixtures
    (random near-equidistant vectors, the adversarial case for any
    pruner): recall@10 vs brute force is 0.8/0.6 at sf0.001/0.01 with
    (32, 128) vs 0.3/0.5 with the 16-d compression default —
    comparable to the IVFPQ composition's measured 1.0/0.8/0.6. The third pruning composition in this
    package next to IVF (coarse cells) and IVF+PQ (cells + ADC codes):
    JL trades the train-a-codebook step for a data-independent
    projection — nothing to fit, nothing to drift, the right first cut
    when the corpus distribution shifts faster than codebooks retrain.

    Unlike the PQ compositions (recall-measured), EVERY stage here is
    integer- or correctly-rounded-exact, so the WHOLE retrieval is
    hash-attested against DuckDB — shortlist membership included.

    Scale shape: the projection is one map-side-combinable vec_id
    aggregation (32 longs per vector — 2x narrower than the raw
    vectors on any downstream exchange); distances join the 32-row
    broadcast query projection (shuffle-free scoring); the shortlist
    is TakeOrderedAndProject; the re-rank joins the 128-row broadcast
    shortlist against the vector store and touches 128 raw vectors
    total. max|p| <= 64e6, so the squared-distance sum is <= ~1e18 —
    inside int64 on both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    proj = jl_projection_rows(
        emb, dim=JL_RETRIEVAL_DIM
    ).localCheckpoint()  # query + corpus reads
    qp = proj.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        "j", F.col("proj_micro").alias("qp")
    )
    dist = (
        proj.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qp), "j")
        .groupBy("vec_id")
        .agg(
            F.sum(
                (F.col("proj_micro") - F.col("qp"))
                * (F.col("proj_micro") - F.col("qp"))
            ).cast("long").alias("d2")
        )
    )
    short = dist.orderBy("d2", "vec_id").limit(JL_SHORTLIST)
    q = _query_vector(spark, sf_dir)
    return (
        emb.join(F.broadcast(short.select("vec_id")), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            round6(cosine(F.col("embedding"), F.col("query_vec")))
            .alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


# ---------------------------------------------------------------------------
# emb_int8_quantization: scalar int8 embedding-compression audit.
# ---------------------------------------------------------------------------

EMB_INT8_QUANTIZATION_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, u.i AS pos1,
               CAST(embedding[u.i] AS DOUBLE) AS x
        FROM embeddings,
             (SELECT unnest(generate_series(1, {{dim}})) AS i) u
        WHERE len(embedding) = {{dim}}
    ),
    s AS (SELECT vec_id, MAX(ABS(x)) AS s FROM e GROUP BY vec_id),
    q AS (
        SELECT e.vec_id, e.pos1, e.x, s.s,
               CASE WHEN s.s = 0 THEN 0
                    ELSE CAST(SIGN(e.x)
                              * FLOOR(ABS(e.x) * 127 / s.s + 0.5e0)
                              AS BIGINT)
               END AS q
        FROM e JOIN s USING (vec_id)
    )
    SELECT vec_id,
           CAST(FLOOR(MAX(s) * 1000000 + 0.5e0) AS BIGINT) AS scale_micro,
           CAST(SUM(q) AS BIGINT) AS code_sum,
           CAST(SUM(pos1 * q) AS BIGINT) AS code_checksum,
           CAST(COUNT(CASE WHEN ABS(q) = 127 THEN 1 END) AS BIGINT)
               AS n_maxed,
           CAST(SUM(CAST(FLOOR(ABS(x - q * s / 127) * 1000000000 + 0.5e0)
                         AS BIGINT)) AS BIGINT) AS err_nano_sum
    FROM q
    GROUP BY vec_id
    ORDER BY vec_id
    """.format(dim=64)


@query("emb_int8_quantization", EMB_INT8_QUANTIZATION_ORACLE, local=True)
def emb_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization audit over the embedding corpus — the
    4x-compression step (float32 -> int8, per-vector absmax scale)
    every large vector store applies before indexing, with the
    round-trip accounting that tells you whether it was safe: per
    vector the quantization scale, an order-sensitive code checksum
    (Σ (i+1)·q_i — detects any permutation/corruption of the code
    bytes, not just value drift), the count of saturated codes, and
    the total absolute reconstruction error in exact nano units.

    Exactness: q_i = SIGN(x)·FLOOR(|x|·127/s + 0.5) is two correctly-
    rounded IEEE ops and a FLOOR — bit-identical cross-engine; every
    reported statistic is then integer arithmetic over the q_i (the
    reconstruction term FLOOR(|x - q·s/127|·1e9 + 0.5) quantizes each
    per-element error BEFORE the sum, so summation order is
    irrelevant). Zero-vector guard: s = 0 -> all codes 0.

    Scale shape: ENTIRELY narrow — scale, codes, checksums, and error
    all fold per row with array higher-order functions (no explode, no
    shuffle of any kind before the presentation sort); at 100 TB this
    is a map-only pass at parquet-scan speed. The oracle formulation
    unnests (the single-node spelling); Spark never does."""
    emb = load_table(spark, sf_dir, "embeddings")
    return int8_quantization_frame(emb, dim=64)


def int8_quantization_frame(emb: DataFrame, dim: int) -> DataFrame:
    """Core of emb_int8_quantization over any (vec_id, embedding)
    frame — split out so planted hand-vector / zero-vector tests can
    pin the code and error arithmetic directly.

    Evaluation discipline: xd / s / q are materialized as REAL columns
    in staged projections instead of inlined expression trees — four
    output aggregates referencing an inlined q would each re-evaluate
    the whole when+signum+floor chain per element (and s's array_max
    inside every lambda step), a ~dim× constant-factor blowup measured
    at 3.4× wall on the fixture. CollapseProject keeps the stages
    separate because q/s are referenced more than once and are
    non-cheap, so each computes exactly once per row."""
    zero = F.lit(0).cast("long")
    staged = (
        emb.filter(F.size("embedding") == dim)
        .select(
            "vec_id",
            F.transform(F.col("embedding"), lambda v: v.cast("double"))
            .alias("xd"),
        )
        .select(
            "vec_id",
            "xd",
            F.array_max(F.transform("xd", lambda v: F.abs(v))).alias("s"),
        )
        .select(
            "vec_id",
            "xd",
            "s",
            F.transform(
                "xd",
                lambda v: F.when(
                    F.col("s") == 0, zero
                ).otherwise(
                    (
                        F.signum(v)
                        * F.floor(F.abs(v) * 127 / F.col("s") + F.lit(0.5))
                    ).cast("long")
                ),
            ).alias("q"),
        )
    )
    s = F.col("s")
    code_sum = F.aggregate(F.col("q"), zero, lambda acc, x: acc + x)
    checksum = F.aggregate(
        F.transform("q", lambda x, i: (i + 1) * x),
        zero,
        lambda acc, x: acc + x,
    )
    n_maxed = F.aggregate(
        F.transform(
            "q",
            lambda x: F.when(F.abs(x) == 127, F.lit(1).cast("long"))
            .otherwise(zero),
        ),
        zero,
        lambda acc, x: acc + x,
    )
    err_sum = F.aggregate(
        F.zip_with(
            "xd",
            "q",
            lambda x, qq: F.floor(
                F.abs(x - qq * s / 127) * 1000000000 + F.lit(0.5)
            ).cast("long"),
        ),
        zero,
        lambda acc, x: acc + x,
    )
    return staged.select(
        "vec_id",
        F.floor(s * 1000000 + F.lit(0.5)).cast("long").alias("scale_micro"),
        code_sum.alias("code_sum"),
        checksum.alias("code_checksum"),
        n_maxed.alias("n_maxed"),
        err_sum.alias("err_nano_sum"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# emb_kmeans_lloyd: fully-distributed exact-integer Lloyd k-means.
# ---------------------------------------------------------------------------

K_CLUSTERS = 8     # Lloyd cluster count (first-K deterministic seeding)
LLOYD_ROUNDS = 2   # unrolled assign->update cycles before the report


def _lloyd_oracle() -> str:
    """Chained-CTE DuckDB twin of emb_kmeans_lloyd: the same
    LLOYD_ROUNDS assign->update cycles unrolled as (a{r}, m{r}, cn{r},
    c{r}) CTE blocks — the BPE-merges / pagerank unrolling idiom."""
    k, dim = K_CLUSTERS, 64
    blocks = [f"""
    pts AS (
        SELECT vec_id, u.i - 1 AS pos,
               CAST(SIGN(CAST(embedding[u.i] AS DOUBLE))
                    * FLOOR(ABS(CAST(embedding[u.i] AS DOUBLE))
                            * 1000000 + 0.5e0) AS BIGINT) AS v
        FROM embeddings,
             (SELECT unnest(generate_series(1, {dim})) AS i) u
        WHERE len(embedding) = {dim}
    ),
    c0 AS (SELECT vec_id AS cid, pos, v AS c FROM pts WHERE vec_id < {k})"""]
    prev = "c0"
    for r in range(1, LLOYD_ROUNDS + 1):
        blocks.append(f"""
    a{r} AS (
        SELECT p.vec_id, c.cid,
               CAST(SUM((p.v - c.c) * (p.v - c.c)) AS BIGINT) AS d
        FROM pts p JOIN {prev} c ON p.pos = c.pos
        GROUP BY p.vec_id, c.cid
    ),
    m{r} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY d, cid
                   ) AS rn
            FROM a{r}
        ) WHERE rn = 1
    ),
    cn{r} AS (
        SELECT m.cid, p.pos,
               CAST(SUM(p.v) // COUNT(*) AS BIGINT) AS c
        FROM m{r} m JOIN pts p USING (vec_id)
        GROUP BY m.cid, p.pos
    ),
    c{r} AS (
        SELECT o.cid, o.pos, COALESCE(n.c, o.c) AS c
        FROM {prev} o LEFT JOIN cn{r} n
          ON o.cid = n.cid AND o.pos = n.pos
    )""")
        prev = f"c{r}"
    return f"""
    WITH {','.join(blocks)},
    af AS (
        SELECT p.vec_id, c.cid,
               CAST(SUM((p.v - c.c) * (p.v - c.c)) AS BIGINT) AS d
        FROM pts p JOIN {prev} c ON p.pos = c.pos
        GROUP BY p.vec_id, c.cid
    ),
    mf AS (
        SELECT vec_id, cid, d FROM (
            SELECT vec_id, cid, d,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY d, cid
                   ) AS rn
            FROM af
        ) WHERE rn = 1
    ),
    sums AS (
        SELECT cid,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(d // 1000000) AS BIGINT) AS inertia_div1e6
        FROM mf GROUP BY cid
    ),
    chk AS (
        SELECT cid, CAST(SUM((pos + 1) * c) AS BIGINT) AS centroid_checksum
        FROM {prev} GROUP BY cid
    )
    SELECT s.cid, s.n_members, s.inertia_div1e6, k.centroid_checksum
    FROM sums s JOIN chk k USING (cid)
    ORDER BY s.cid
    """


EMB_KMEANS_LLOYD_ORACLE = _lloyd_oracle()


@query("emb_kmeans_lloyd", EMB_KMEANS_LLOYD_ORACLE, local=True)
def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-DISTRIBUTED Lloyd k-means over the embedding corpus,
    LLOYD_ROUNDS (2) unrolled assign→update cycles + a final
    assignment, every number an exact integer so the chained-CTE
    DuckDB twin is hash-exact — the full-corpus training loop
    complementing `kmeans_centroids`' bounded-sample driver path (the
    IVF coarse quantizer trains on a collected sample; THIS is the
    shape you run when the model must see every row).

    Exactness: elements micro-quantized once (the emb_label_centroids
    idiom); assignment argmin on exact squared-L2 BIGINTs with a
    (d, cid) tie order; centroid update SUM DIV count — both engines
    truncate integer division toward zero (verified on negatives);
    empty clusters keep their previous centroid (COALESCE in both
    formulations). Overflow envelope: per-pair d ≤ 64·(2e6)² ≈ 2.6e14
    ≪ 2^63; the reported inertia pre-scales each vector's d DIV 1e6
    BEFORE summing (order-free), keeping the sum in-range to ~3e10
    vectors.

    Scale shape per round: assignment is NARROW — the K×64 centroid
    table folds to ONE broadcast row and each vector scans it with
    array HOFs (no K-way row expansion, no shuffle); the update is a
    posexplode keyed (cid, pos) whose map-side combine collapses every
    task to ≤ K·64 partial rows — the only thing that crosses the wire
    is K·64·#tasks partials, independent of corpus size. The rounds
    are a STATIC unrolled plan (no driver-side convergence loop —
    fixed-round Lloyd, the pagerank/BPE discipline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd_frame(emb, dim=64)


def kmeans_lloyd_frame(
    emb: DataFrame,
    dim: int,
    k: int = K_CLUSTERS,
    rounds: int = LLOYD_ROUNDS,
) -> DataFrame:
    """Core of emb_kmeans_lloyd over any (vec_id, embedding) frame —
    split out so planted two-cluster and duplicate-seed (empty-cluster
    COALESCE) tests can drive the Lloyd dynamics directly."""
    micro = lambda v: (  # noqa: E731
        F.signum(v.cast("double"))
        * F.floor(F.abs(v.cast("double")) * 1000000 + F.lit(0.5))
    ).cast("long")
    pts = emb.filter(F.size("embedding") == dim).select(
        "vec_id",
        F.transform("embedding", lambda v: micro(v)).alias("m"),
    )
    # centroid table (cid, pos, c) -> one-row broadcast of
    # array<struct<cid, cm: array<long>>> sorted by cid
    cent_tbl = pts.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"),
        F.posexplode("m").alias("pos", "c"),
    )

    def cents_row(tbl: DataFrame) -> DataFrame:
        per_cid = tbl.groupBy("cid").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("cm")
        )
        return per_cid.agg(
            F.sort_array(F.collect_list(F.struct("cid", "cm"))).alias("cents")
        )

    def assign(points: DataFrame, crow: DataFrame) -> DataFrame:
        dist_structs = F.transform(
            F.col("cents"),
            lambda cc: F.struct(
                F.aggregate(
                    F.zip_with(
                        cc["cm"],
                        F.col("m"),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("d"),
                cc["cid"].alias("cid"),
            ),
        )
        return points.crossJoin(F.broadcast(crow)).select(
            "vec_id", "m", F.array_min(dist_structs).alias("best")
        ).select(
            "vec_id",
            "m",
            F.col("best.cid").alias("cid"),
            F.col("best.d").alias("d"),
        )

    for _ in range(rounds):
        assigned = assign(pts, cents_row(cent_tbl))
        newc = (
            assigned.select("cid", F.posexplode("m").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.expr("sum(v) DIV count(*)").cast("long").alias("c"))
        )
        cent_tbl = (
            cent_tbl.alias("o")
            .join(newc.alias("n"), ["cid", "pos"], "left")
            .select(
                "cid",
                "pos",
                F.coalesce(F.col("n.c"), F.col("o.c")).alias("c"),
            )
        )

    final = assign(pts, cents_row(cent_tbl))
    sums = final.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(F.expr("d DIV 1000000")).cast("long").alias("inertia_div1e6"),
    )
    chk = cent_tbl.groupBy("cid").agg(
        F.sum((F.col("pos") + 1) * F.col("c")).cast("long")
        .alias("centroid_checksum")
    )
    return (
        sums.join(F.broadcast(chk), "cid")
        .select("cid", "n_members", "inertia_div1e6", "centroid_checksum")
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# emb_rank_normalize: per-dimension rank (quantile) normalization of
# the embedding matrix.
# ---------------------------------------------------------------------------

EMB_RANK_NORMALIZE_ORACLE = """
    WITH cells AS (
        SELECT vec_id, i AS dim, embedding[i] AS val
        FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS u(i)
    ),
    n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
    ranked AS (
        SELECT vec_id, dim,
               RANK() OVER (PARTITION BY dim ORDER BY val) AS rk
        FROM cells
    ),
    norm AS (
        SELECT vec_id, dim,
               CAST((rk - 1) * 1000000 // (n_vecs - 1) AS BIGINT) AS r_ppm
        FROM ranked, n
    )
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           CAST(SUM(r_ppm) AS BIGINT) AS sum_ppm,
           CAST(MIN(r_ppm) AS BIGINT) AS min_ppm,
           CAST(MAX(r_ppm) AS BIGINT) AS max_ppm,
           CAST(SUM(dim * r_ppm) AS BIGINT) AS checksum_weighted
    FROM norm
    GROUP BY vec_id
    ORDER BY vec_id
    """


@query("emb_rank_normalize", EMB_RANK_NORMALIZE_ORACLE, local=True)
def emb_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension RANK (quantile) normalization of the embedding
    matrix — the heavy-tail-robust feature prep (each dimension's
    values are replaced by their rank position scaled to [0, 1e6] ppm)
    applied before distance computations when raw activations have
    wildly different per-dimension scales. RANK() gives ties an equal
    value on both engines (no tiebreak nondeterminism to pin), and the
    ppm scaling is truncating integer division, so the per-vector
    report — dims, sum/min/max of normalized values, and an
    ORDER-SENSITIVE checksum Σ dim·r_ppm that breaks if any dimension's
    ranks land on the wrong vector — is hash-exact.

    Plan: posexplode to (vec, dim, val) cells, ONE window pass
    partitioned by dim (64 partitions of n rows — at 100 TB this is
    the standard per-dimension sort, and a dimension is the natural
    parallel unit; a skew-prone variant would range-partition within
    dim), then one vec-keyed reassembly aggregate. Only (id, dim,
    long) triples ride the two exchanges."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_vecs = emb.count()  # bounded scalar: one count, reused as literal
    cells = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "val")
    w = Window.partitionBy("dim").orderBy("val")
    ranked = cells.select(
        "vec_id", "dim", F.rank().over(w).alias("rk")
    )
    norm = ranked.select(
        "vec_id",
        "dim",
        # rk is INT; widen BEFORE the ppm scale-up — at sf1 (8000 vecs)
        # rk*1e6 tops 2^31 and ANSI mode turns the silent wrap into an
        # ARITHMETIC_OVERFLOW (caught by the r15 full-registry sf1
        # sweep; sub-2147-vec fixtures never tripped it)
        F.expr(
            f"(CAST(rk AS BIGINT) - 1) * 1000000 DIV ({n_vecs} - 1)"
        ).alias("r_ppm"),
    )
    return (
        norm.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            F.sum("r_ppm").cast("long").alias("sum_ppm"),
            F.min("r_ppm").cast("long").alias("min_ppm"),
            F.max("r_ppm").cast("long").alias("max_ppm"),
            F.sum(F.col("dim") * F.col("r_ppm")).cast("long")
            .alias("checksum_weighted"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# emb_pca_power_iteration: top principal direction via two distributed
# power-iteration rounds.
# ---------------------------------------------------------------------------

PCA_ROUNDS = 2        # THE CONTRACT: round-2 accounting state
PCA_V_SCALE = 1000    # renormalized integer coordinate scale per round
PCA_D_SHRINK = 1_000_000  # dot products truncate by 1e6 before re-multiply


def _pca_round_cte(r: int) -> str:
    p = r - 1
    return f"""
    d{r} AS (
        SELECT e.vec_id,
               CAST(SUM(e.micro * v{p}.v) AS BIGINT) // {PCA_D_SHRINK} AS d
        FROM e JOIN v{p} ON e.pos = v{p}.pos
        GROUP BY e.vec_id
    ),
    r{r} AS (
        SELECT e.pos, CAST(SUM(e.micro * d{r}.d) AS BIGINT) AS raw
        FROM e JOIN d{r} ON e.vec_id = d{r}.vec_id
        GROUP BY e.pos
    ),
    m{r} AS (SELECT MAX(ABS(raw)) AS mx FROM r{r}),
    v{r} AS (
        SELECT pos,
               COALESCE((raw * {PCA_V_SCALE}) // NULLIF(mx, 0), 0) AS v
        FROM r{r} CROSS JOIN m{r}
    )"""


EMB_PCA_POWER_ITERATION_ORACLE = (
    f"""
    WITH raw_e AS (
        SELECT vec_id, u.i - 1 AS pos,
               CAST(embedding[u.i] AS DOUBLE) AS val
        FROM embeddings,
             (SELECT unnest(generate_series(1, {EMB_DIM})) AS i) u
        WHERE len(embedding) = {EMB_DIM}
    ),
    e AS (
        SELECT vec_id, pos,
               CAST(SIGN(val) * FLOOR(ABS(val) * 1000000 + 0.5e0) AS BIGINT)
                   AS micro
        FROM raw_e
    ),
    v0 AS (SELECT unnest(generate_series(0, {EMB_DIM - 1})) AS pos,
                  {PCA_V_SCALE} AS v),"""
    + ",".join(_pca_round_cte(r) for r in range(1, PCA_ROUNDS + 1))
    + f"""
    SELECT v1.pos AS pos, CAST(v1.v AS BIGINT) AS v1,
           CAST(v{PCA_ROUNDS}.v AS BIGINT) AS v2
    FROM v1 JOIN v{PCA_ROUNDS} ON v1.pos = v{PCA_ROUNDS}.pos
    ORDER BY pos
    """
)


@query("emb_pca_power_iteration", EMB_PCA_POWER_ITERATION_ORACLE, local=True)
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PRINCIPAL DIRECTION of the embedding cloud via two
    distributed POWER-ITERATION rounds on the (uncentered) second
    moment: v' ∝ Σᵢ xᵢ (xᵢ·v) — the matrix-free formulation that never
    materializes the 64x64 Gram matrix, just two corpus passes per
    round (the streaming-PCA / randomized-SVD building block; centering
    is the documented upgrade — subtract emb_label_centroids' global
    mean first, identical plan shape). ROUNDS=2 IS THE CONTRACT (the
    pagerank/HITS/Lloyd precedent): the output is the round-1 and
    round-2 renormalized integer coordinate vectors, attested
    bit-for-bit by a DuckDB unrolled-CTE twin, and v2 != v1 on the
    fixtures (the iteration demonstrably moves; planted-dominant-
    direction recovery pinned in tests/test_similarity.py).

    All-INT64 by construction: elements quantize once to micro ints;
    each round's dot products truncate by 1e6 (deterministic,
    identical on both engines — power iteration is robust to this
    fixed-point shrink) so the re-multiply sum stays ≤ ~n·3e6·2e5;
    renormalization divides by the max |coordinate| back onto a ±1000
    integer scale (truncate-toward-zero DIV on both engines, zero-max
    guarded). Beyond ~1e9 vectors the re-multiply sum outgrows int64 —
    the standard DECIMAL/HUGEINT upgrade, noted not needed at fixture
    SFs.

    Scale shape: per round, ONE broadcast of the 64-row v table onto
    the melted (vec_id, pos, micro) frame + a vec-keyed combinable
    SUM, then ONE vec-keyed join back + a pos-keyed combinable SUM
    (64 output rows); the max is a 64-row fold. Nothing wider than
    (vec_id, long) crosses an exchange; round depth is fixed."""
    emb = load_table(spark, sf_dir, "embeddings")
    val = F.col("val").cast("double")
    micro = (
        F.signum(val) * F.floor(F.abs(val) * F.lit(1000000.0) + F.lit(0.5))
    ).cast("long")
    e = (
        emb.filter(F.size("embedding") == EMB_DIM)
        .select("vec_id", F.posexplode("embedding").alias("pos", "val"))
        .select("vec_id", "pos", micro.alias("micro"))
        .localCheckpoint()  # feeds two joins per round
    )
    v = spark.range(EMB_DIM).select(
        F.col("id").cast("int").alias("pos"),
        F.lit(PCA_V_SCALE).cast("long").alias("v"),
    )
    rounds = []
    for _ in range(PCA_ROUNDS):
        d = (
            e.join(F.broadcast(v), "pos")
            .groupBy("vec_id")
            .agg(
                (F.sum(F.col("micro") * F.col("v")).cast("long"))
                .alias("_dd")
            )
            .select(
                "vec_id", F.expr(f"_dd DIV {PCA_D_SHRINK}").alias("d")
            )
        )
        raw = (
            e.join(d, "vec_id")
            .groupBy("pos")
            .agg(F.sum(F.col("micro") * F.col("d")).cast("long").alias("raw"))
        )
        mx = raw.agg(F.max(F.abs(F.col("raw"))).alias("mx"))
        v = (
            raw.crossJoin(F.broadcast(mx))
            .select(
                "pos",
                F.coalesce(
                    F.expr(f"(raw * {PCA_V_SCALE}) DIV NULLIF(mx, 0)"),
                    F.lit(0),
                ).cast("long").alias("v"),
            )
        )
        rounds.append(v)
    return (
        rounds[0].select("pos", F.col("v").alias("v1"))
        .join(rounds[-1].select("pos", F.col("v").alias("v2")), "pos")
        .select(F.col("pos").cast("long").alias("pos"), "v1", "v2")
        .orderBy("pos")
    )
