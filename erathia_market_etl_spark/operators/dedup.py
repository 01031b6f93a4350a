"""Deduplication operators: exact, normalized, and MinHash-LSH near-dup.

Design for 100 TB (SURVEY.md §7.3): everything is expressed as DataFrame
transformations whose only shuffles are (a) the groupBy on the content
hash for exact dedup and (b) the self-equi-join on LSH band keys for
near-dup — both key-partitioned, AQE-skew-tolerant, and free of any
driver-side collection. Signatures use cross-engine hashing: md5 hex
strings compared lexicographically (min of uniform hashes is a valid
MinHash), so the DuckDB oracle computes the identical pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens

N_MINHASH = 8  # signature length
N_BANDS = 4    # rows-per-band = 2 -> catches jaccard ≳ 0.5 pairs

# Hot-bucket cap (r1 VERDICT "What's wrong", perf audit): a degenerate
# corpus (thousands of identical/near-empty docs) collapses into ONE
# LSH bucket, and an uncapped collect_list + O(bucket²) pair expansion
# is a single-task OOM at scale. Buckets are truncated to this many
# members, deterministically by id. Truncation is NOT silent:
# lsh_bucket_stats reports overflowing buckets and dropped-member counts
# (the registered `sim_bucket_stats` query), and every oracle mirrors
# the cap.
DEFAULT_MAX_BUCKET = 256


def cap_bucket_members(df: DataFrame, key_cols: list[str], order_col: str,
                       max_bucket: int = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Keep the first ``max_bucket`` members of each bucket, ordered by
    ``order_col`` (deterministic, engine-portable: the DuckDB twin is
    QUALIFY row_number() OVER (PARTITION BY keys ORDER BY ord) <= K).

    At scale: the window's sort shares one hash exchange with the
    downstream groupBy on the same keys (Catalyst reuses the
    partitioning), so the cap costs a per-partition sort — O(n log n)
    and spillable — instead of the O(n²) in-memory pair blowup it
    prevents."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_bucket)
        .drop("_rk")
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a PRE-PROJECTED token-array column.
    Callers should materialize ``split(text, ' ')`` as a real column
    first: the gram lambda references the array 3n+2 times, and an
    inline ``split`` expression is re-parsed at every reference (the
    multi-reference case CollapseProject refuses to inline — measured
    28% of text_fingerprint's runtime). Guarded: Spark's
    sequence(1, 0) yields [1, 0] (descending!) where DuckDB's
    generate_series(1, 0) is empty — short documents must
    short-circuit to an empty array.
    DuckDB twin:
        CASE WHEN len(toks) >= n THEN
          list_transform(generate_series(1, len(toks)-n+1),
                         i -> toks[i] || ' ' || ... )
        ELSE [] END
    """
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(n)]
    )
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)), gram),
    ).otherwise(F.array().cast("array<string>"))


def rotated(h: Column, j: int) -> Column:
    """Hash function j of the rotate-one-hash MinHash scheme: the md5
    hex string rotated left by 4·j chars. Rotations of a uniform 128-bit
    hash give k effectively-independent orderings at 1/k the hashing
    cost, and lexicographic min over uniform hex strings is a valid
    MinHash. DuckDB twin: substr(h, 4j+1) || substr(h, 1, 4j)."""
    if j == 0:
        return h
    return F.concat(F.substring(h, 4 * j + 1, 32), F.substring(h, 1, 4 * j))


def minhash_signature_cols(k: int = N_MINHASH) -> list[Column]:
    """Aggregate expressions computing the k-element signature from a
    per-shingle md5 column ``h``: MIN(rotate_j(h)) as h{j}.

    Expressed as plain MIN aggregates over an exploded (doc, shingle-md5)
    table rather than array higher-order functions on purpose: HOF
    lambdas (transform/array_min) are excluded from whole-stage codegen,
    so the array formulation runs interpreted — measured 8-15x slower on
    bench. MIN over codegen'd string rotations gets map-side partial
    aggregation, so the shuffle carries one row per (doc, partition).
    DuckDB twin per element:
        min(substr(md5('mh|'||s), {4j+1}) || substr(md5('mh|'||s), 1, {4j}))."""
    return [F.min(rotated(F.col("h"), j)).alias(f"h{j}") for j in range(k)]


def band_key_array(n_bands: int = N_BANDS) -> Column:
    """LSH banding over signature columns h0..h7: hash consecutive
    signature pairs into band keys. Each h{j} is referenced exactly once,
    so Catalyst may collapse projections without duplicating work.
    Equal band key => candidate pair. DuckDB twin: md5('b|' || h_{2b} || h_{2b+1})."""
    rows_per_band = N_MINHASH // n_bands
    keys = []
    for b in range(n_bands):
        parts = [F.lit(f"{b}|")] + [
            F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        keys.append(F.md5(F.concat(*parts)))
    return F.array(*keys)


N_SIMHASH_BITS = 48   # bits of the fingerprint (md5-prefix derived)
N_SIMHASH_BLOCKS = 4  # pigeonhole blocks -> catches hamming <= 3 exactly
SIMHASH_HAMMING_MAX = 3


def simhash_blocks(fp: Column, nbits: int = N_SIMHASH_BITS,
                   nblocks: int = N_SIMHASH_BLOCKS) -> Column:
    """Split the fingerprint into nblocks bit-ranges for pigeonhole LSH:
    two fingerprints within hamming distance nblocks-1 share at least one
    exact block. DuckDB twin: (fp >> lo) & mask per block."""
    width = nbits // nblocks
    mask = (1 << width) - 1
    return F.array(*[
        F.shiftright(fp, b * width).bitwiseAND(F.lit(mask)) for b in range(nblocks)
    ])


def jaccard(a: Column, b: Column) -> Column:
    """Distinct-set Jaccard over shingle arrays.
    DuckDB twin: len(list_intersect(a, b)) / len(list_distinct(a || b))
    (list_intersect is distinct-valued)."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content hash: one shuffle on the md5 key. Returns
    one row per distinct content with the representative (min id) and
    multiplicity."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("representative_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def pair_array(docs: Column) -> Column:
    """All (a, b) pairs with a < b from a SORTED id array — nested
    index-aware transform + slice. NOTE (r17): HOF lambdas are
    CodegenFallback, so this runs interpreted and allocates a struct
    per pair. For plain-long buckets that is still CHEAPER than an
    Arrow kernel (measured — see candidate_pairs_from_bands); the
    struct+hamming SimHash tail is the one that moved to numpy
    (expand_fp_pairs, pinned equal in tests/test_pair_expansion.py)."""
    return F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + 2, F.size(docs)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def expand_fp_pairs(buckets: DataFrame, max_hamming: int,
                    docs_col: str = "docs") -> DataFrame:
    """SimHash variant of expand_id_pairs: buckets carry
    array<struct<doc, fingerprint>>; output is the exploded
    (doc_a, doc_b, hamming) stream pre-filtered to
    hamming <= max_hamming. The xor runs on the whole pair batch;
    popcount is np.unpackbits over the xor bytes (endianness-neutral —
    same integer as Spark's bit_count(a ^ b) for the non-negative
    48-bit fingerprints). Same result set as the replaced
    explode(pair_array(struct)) + bit_count filter; per-pair struct
    allocation and the interpreted transform walk are gone."""
    import numpy as np

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_h = [], [], []
            for members in pdf[docs_col].to_numpy():
                n = len(members)
                docs = np.fromiter(
                    (m["doc"] for m in members), dtype=np.int64, count=n
                )
                fps = np.fromiter(
                    (m["fingerprint"] for m in members), dtype=np.int64,
                    count=n,
                )
                order = np.argsort(docs)  # ids unique within a bucket
                docs, fps = docs[order], fps[order]
                ia, ib = np.triu_indices(n, 1)
                x = fps[ia] ^ fps[ib]
                h = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1) \
                    .sum(axis=1).astype(np.int32)
                keep = h <= max_hamming
                out_a.append(docs[ia][keep])
                out_b.append(docs[ib][keep])
                out_h.append(h[keep])
            a = np.concatenate(out_a) if out_a else np.empty(0, np.int64)
            b = np.concatenate(out_b) if out_b else np.empty(0, np.int64)
            h = np.concatenate(out_h) if out_h else np.empty(0, np.int32)
            yield pd.DataFrame({"doc_a": a, "doc_b": b, "hamming": h})

    return buckets.select(docs_col).mapInPandas(
        gen, "doc_a bigint, doc_b bigint, hamming int"
    )


def simhash_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """doc_id -> 48-bit SimHash fingerprint, as ONE Arrow mapInPandas
    pass (r16): tokenize, md5-prefix hash, and the per-bit ±1 sums all
    happen in vectorized numpy inside the batch — no token explode, no
    48-column aggregate, no shuffle at all (each document's fingerprint
    is a pure per-row function). Integer-exact twin of the old
    explode + codegen-aggregate formulation (and of the DuckDB oracle):
    hash = first 6 md5 bytes of 'sh|'||token big-endian, bit j of the
    fingerprint set iff 2·ones_j − n_tokens > 0 ⟺ Σ(2·bit_j − 1) > 0.
    NULL text yields no row (the old explode dropped those docs);
    empty text hashes its one empty token, as split(' ') always yields
    a non-empty array. tests/simhash.py keeps the explode + aggregate
    formulation as the reference this is pinned equal to."""
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..sources.parquet_io import fan_out

    shifts = np.arange(N_SIMHASH_BITS, dtype=np.int64)

    max_chunk_tokens = 200_000

    def doc_fingerprint_sliced(toks: list, md5) -> int:
        # r16 ADVICE guard: ONE pathological document with millions of
        # tokens used to be processed as a single chunk, so the
        # transient (tokens x 48) bit matrix could exhaust worker
        # memory. Accumulate the per-bit ones counts over fixed-size
        # token slices instead (bit sums are associative — identical
        # integers), keeping memory O(max_chunk_tokens) per document.
        ones = np.zeros(N_SIMHASH_BITS, dtype=np.int64)
        for s in range(0, len(toks), max_chunk_tokens):
            sl = toks[s:s + max_chunk_tokens]
            hs = np.fromiter(
                (
                    int.from_bytes(
                        md5(b"sh|" + tok.encode("utf-8")).digest()[:6], "big"
                    )
                    for tok in sl
                ),
                dtype=np.int64,
                count=len(sl),
            )
            ones += ((hs[:, None] >> shifts) & 1).sum(axis=0)
        pos = (2 * ones - len(toks)) > 0
        return int((pos.astype(np.int64) << shifts).sum())

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            out_ids: list = []
            fps: list[int] = []
            # chunk by documents so the transient (tokens x 48) bit
            # matrix stays ~tens of MB regardless of Arrow batch size
            ids = pdf[id_col].to_numpy()
            texts = pdf[text_col].to_numpy()
            start = 0
            while start < len(ids):
                tok_lists, chunk_ids, tok_total = [], [], 0
                i = start
                while i < len(ids) and tok_total < max_chunk_tokens:
                    t = texts[i]
                    if t is not None:
                        toks = t.split(" ")
                        if len(toks) >= max_chunk_tokens:
                            # oversized document: bounded slice-wise
                            # accumulation, never a tokens x 48 matrix
                            out_ids.append(ids[i])
                            fps.append(doc_fingerprint_sliced(toks, md5))
                        else:
                            tok_lists.append(toks)
                            chunk_ids.append(ids[i])
                            tok_total += len(toks)
                    i += 1
                start = i
                if not tok_lists:
                    continue
                counts = np.fromiter(
                    (len(t) for t in tok_lists), dtype=np.int64,
                    count=len(tok_lists),
                )
                hs = np.fromiter(
                    (
                        int.from_bytes(
                            md5(b"sh|" + tok.encode("utf-8")).digest()[:6],
                            "big",
                        )
                        for toks in tok_lists
                        for tok in toks
                    ),
                    dtype=np.int64,
                    count=int(counts.sum()),
                )
                bits = ((hs[:, None] >> shifts) & 1).astype(np.int32)
                offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
                ones = np.add.reduceat(bits, offsets, axis=0)
                pos = (2 * ones - counts[:, None]) > 0
                chunk_fps = (pos.astype(np.int64) << shifts).sum(axis=1)
                out_ids.extend(chunk_ids)
                fps.extend(int(x) for x in chunk_fps)
            yield pd.DataFrame(
                {
                    "doc": pd.Series(out_ids, dtype="int64"),
                    "fingerprint": pd.Series(fps, dtype="int64"),
                }
            )

    return (
        fan_out(df.select(F.col(id_col), F.col(text_col)))
        .mapInPandas(fn, "doc bigint, fingerprint bigint")
    )


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str,
                       max_hamming: int = SIMHASH_HAMMING_MAX,
                       max_bucket: int = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Near-dup pairs with hamming(fp_a, fp_b) <= max_hamming via
    pigeonhole LSH: 4 blocks of 12 bits — any pair within hamming 3
    shares >= 1 exact block, so candidates come from block-bucket
    grouping (same shape as MinHash banding: one shuffle, in-bucket
    expansion, no self-join recompute) and are then verified exactly.
    Block buckets are truncated to ``max_bucket`` members (see
    cap_bucket_members; overflow reported by lsh_bucket_stats, as in
    sim_bucket_stats)."""
    fp = simhash_table(df, text_col, id_col)
    blocks = fp.select(
        "doc", "fingerprint",
        F.posexplode(simhash_blocks(F.col("fingerprint"))).alias("block_idx", "block_key"),
    )
    blocks = cap_bucket_members(blocks, ["block_idx", "block_key"], "doc", max_bucket)
    # r17 (guide §4.2): pair expansion + hamming verify in one Arrow
    # pass — the explode(pair_array(struct)) + bit_count tail ran
    # interpreted and was the single biggest slice of this query
    # (+0.30 s of 0.84 s at sf0.1). The bucket collect and its shared
    # exchange with the cap window are unchanged; results are
    # set-identical (tests/test_pair_expansion.py pins kernel ==
    # pair_array + bit_count on the same buckets).
    grouped = (
        blocks.groupBy("block_idx", "block_key")
        .agg(F.collect_list(F.struct("doc", "fingerprint")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    return expand_fp_pairs(grouped, max_hamming).distinct()


def minhash_band_table(df: DataFrame, text_col: str, id_col: str,
                       n: int = 3) -> DataFrame:
    """(doc, band_idx, band_key) LSH band table: explode shingles -> one
    md5 per shingle -> groupBy(doc) MIN-rotations signature -> band keys.
    Shared by candidate generation and the bucket-stats probe."""
    from ..sources.parquet_io import fan_out

    hashed = (
        fan_out(df)
        .withColumn("_toks", tokens(F.col(text_col)))
        .select(
            F.col(id_col).alias("doc"),
            F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("s"),
        )
        .select("doc", F.md5(F.concat(F.lit("mh|"), F.col("s"))).alias("h"))
    )
    sig = hashed.groupBy("doc").agg(*minhash_signature_cols())
    return sig.select("doc", F.posexplode(band_key_array()).alias("band_idx", "band_key"))


def candidate_pairs_from_bands(
    bands: DataFrame, max_bucket: int = DEFAULT_MAX_BUCKET
) -> DataFrame:
    """Doc pairs sharing ≥1 LSH band, over a prebuilt (doc, band_idx,
    band_key) band table (``minhash_band_table``). The signature stage
    is computed ONCE per session and shared across its consumers
    (plans/dedup_queries.shared_minhash_bands); the cap window, bucket
    collect, pair expansion, and distinct stay LIVE in every consumer's
    plan (the WindowGroupLimit and exchange-inventory pins keep
    watching them). Pairs come from collect_list per bucket, NOT a band
    self-join: one shuffle on the band key, and buckets are truncated
    to ``max_bucket`` members first (cap_bucket_members), so the
    in-bucket expansion is O(max_bucket²) worst case even on a
    degenerate corpus. Overflow is reported by lsh_bucket_stats (the
    sim_bucket_stats query) — no silent truncation."""
    bands = cap_bucket_members(bands, ["band_idx", "band_key"], "doc", max_bucket)
    # r17 note: an Arrow (mapInPandas numpy-triu) pair expansion was
    # measured here and REJECTED — alternating same-session A/B at
    # sf0.1: JVM tail min 0.444 s vs Arrow 0.508 s. Plain-long pair
    # emission is cheap enough that the Python boundary costs more
    # than the interpreted transform it replaces; the struct+popcount
    # SimHash tail is the one that pays (see simhash_near_pairs).
    return (
        bands.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
        .filter(F.size("docs") > 1)
        .select(F.explode(pair_array(F.col("docs"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def lsh_bucket_stats(bands: DataFrame, key_cols: list[str],
                     max_bucket: int = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Per-band bucket-size profile + truncation accounting for a band
    table: how many buckets exist, the largest, and exactly what the
    ``max_bucket`` cap would drop. This is the 'logged overflow count'
    companion to cap_bucket_members — run it whenever the cap might
    bite (skewed/degenerate corpora) to quantify the recall cost."""
    idx = key_cols[0]
    sizes = bands.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("sz"))
    over = F.col("sz") > max_bucket
    return (
        sizes.groupBy(idx)
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("sz").alias("max_bucket_size"),
            F.sum(F.when(over, 1).otherwise(0)).alias("n_overflow_buckets"),
            F.sum(F.when(over, F.col("sz") - max_bucket).otherwise(0)).alias("n_dropped_members"),
        )
    )
