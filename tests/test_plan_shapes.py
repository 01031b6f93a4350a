"""Physical-plan regression tests (SURVEY.md §4): the optimizations the
engine's scale story depends on must be visible in the executed plan —
filter pushdown into the parquet scan, column pruning, broadcast hash
joins for star dims, TakeOrderedAndProject for top-k, and partition
pruning on the hive-partitioned silver fact. A plan that silently
regresses to a shuffle join or a full-column scan would still pass the
value-equality oracles; these tests pin the plan itself."""

from __future__ import annotations

import re

import pytest

from erathia_market_etl_spark.plans import all_queries

from .conftest import SF_T2

QUERIES = all_queries()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def final_plan_of(df) -> str:
    """Execute, then read the AQE-final plan (codegen annotations and
    runtime join choices only appear after execution). collect() drives
    the DataFrame's own QueryExecution — a write would plan a fresh one."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_silver_clean_pushes_filters_to_scan(spark):
    df = QUERIES["silver_clean_fact"](spark, SF_T2)
    plan = plan_of(df)
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert pushed, f"no PushedFilters in plan:\n{plan}"
    # the quantity predicate reaches the parquet reader; the key
    # IS NOT NULL predicates are constant-folded away entirely because
    # the fixture schema marks those columns non-nullable - correct
    # (cheaper than pushing), so assert they don't survive as a
    # residual Filter above the scan either
    assert "Not(EqualTo(l_quantity,0.0))" in pushed.group(1)
    assert "isnotnull(l_orderkey" not in plan.lower()


def hint_count(df) -> int:
    """Number of broadcast HINTS surviving into the optimized logical
    plan (`rightHint=(strategy=broadcast)` markers). A hint bypasses
    autoBroadcastJoinThreshold AND AQE's size check, so it is only
    legitimate on fixed-cardinality dims (region 5 rows, nation 25);
    r9's verdict found forced hints on the SF-scaling customer/part/
    supplier tables — works at sf0.1, OOMs at 100 TB."""
    return df._jdf.queryExecution().optimizedPlan().toString().count(
        "strategy=broadcast"
    )


def test_q1_prunes_columns_and_broadcasts_dims(spark):
    df = QUERIES["q1_net_revenue_by_nation"](spark, SF_T2)
    plan = plan_of(df)
    # all three joins broadcast at this SF - the fact side never shuffles
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # ...but only the bounded nation dim is HINTED; customer and orders
    # broadcast because the size threshold says so (r10, VERDICT r9
    # item 1) and will legitimately shuffle at cluster scale
    assert hint_count(df) == 1, "only nation may carry a broadcast hint"
    # lineitem scan reads exactly the 4 referenced columns
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in schema.group(1).split(",")}
    assert cols == {"l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"}


def test_topk_uses_take_ordered_not_global_sort(spark):
    # O4: ORDER BY + LIMIT plans as per-partition heaps and a driver
    # merge of k rows, never a global sort
    df = QUERIES["q3_top_customers"](spark, SF_T2)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan


def test_q3_filter_pushed_through_join(spark):
    # c_mktsegment = 'BUILDING' must reach the customer scan, not sit
    # above the join
    df = QUERIES["q3_top_customers"](spark, SF_T2)
    plan = plan_of(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("EqualTo(c_mktsegment,BUILDING)" in p for p in pushed), plan


def test_q3_join_chain_is_all_broadcast_topk(spark):
    """q3's intended shape, pinned after its r6 bench drift was
    root-caused to cross-round timing noise (r7: two back-to-back
    idle-machine bench runs moved UNTOUCHED queries ±30-65%, and the
    fixtures are regenerated every round) rather than a plan change:
    this test makes any FUTURE genuine plan regression — an AQE
    threshold flip to sort-merge on the lineitem⋈orders side, a lost
    TakeOrderedAndProject — fail loudly instead of reading as more
    wobble."""
    df = QUERIES["q3_top_customers"](spark, SF_T2)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # r10: customer is threshold-broadcast, not hinted — nation only
    assert hint_count(df) == 1, "only nation may carry a broadcast hint"


def test_q2_q4_q5_broadcast_without_scaling_hints(spark):
    """The other three star headliners after the r10 hint fix: every
    join still plans as broadcast at fixture SF (values and local plans
    unchanged), but the only surviving HINTS are on the
    fixed-cardinality region/nation dims — part (q2/q4), customer and
    supplier (q5) are threshold-broadcast, free to shuffle at 100 TB."""
    q2 = QUERIES["q2_monthly_price_history"](spark, SF_T2)
    assert hint_count(q2) == 0, "q2: part/orders must be unhinted"
    assert plan_of(q2).count("BroadcastHashJoin") == 2

    q4 = QUERIES["q4_part_popularity"](spark, SF_T2)
    assert hint_count(q4) == 0, "q4: part must be unhinted"
    assert plan_of(q4).count("BroadcastHashJoin") == 1

    q5 = QUERIES["q5_regional_local_supplier_volume"](spark, SF_T2)
    # region (5 rows) + the nation⋈region output (≤25 rows) only
    assert hint_count(q5) == 2, "q5: only region/nation hints allowed"
    plan5 = plan_of(q5)
    assert plan5.count("BroadcastHashJoin") == 5, plan5
    assert "SortMergeJoin" not in plan5 and "ShuffledHashJoin" not in plan5


def test_sim_topk_ivf_all_broadcast_no_data_shuffle(spark):
    """sim_topk_ivf's intended shape, pinned after its r8 +19.6% bench
    drift (0.907 -> 1.085 s) got the q3 treatment in r9: the r7->r8
    source diff never touched the query's subtree (_ivf_scored and
    sim_topk_ivf were byte-identical; the adjacent commits 57782c2 and
    e463d28 changed only the PQ re-rank sourcing), and an isolated
    exec-only 8-run band at sf0.1 measured 0.737-1.1 s — bracketing
    both round values, so the level is environment, not plan. The
    shape any regression must not lose: centroid fold to ONE broadcast
    row, probes broadcast into a BroadcastHashJoin on cid, and a
    TakeOrderedAndProject top-k; the only Exchange is the
    SinglePartition centroid collect_list (16 rows) — the corpus never
    rides a hash exchange."""
    plan = plan_of(QUERIES["sim_topk_ivf"](spark, SF_T2))
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # r16: the centroid fold (a SinglePartition collect_list feeding an
    # interpreted transform/array_max HOF per corpus row) became a
    # bounded driver collect whose Arrow argmax scorer ships the
    # centroids in its closure — cell assignment shows up as
    # ArrowEvalPython and the plan carries NO exchange at all besides
    # the broadcast of the tiny probe list; the corpus still never
    # rides a hash exchange
    assert "ArrowEvalPython" in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line and "BroadcastExchange" not in line:
            raise AssertionError(plan)


def test_whole_stage_codegen_covers_relational_path(spark):
    df = QUERIES["q1_net_revenue_by_nation"](spark, SF_T2)
    plan = final_plan_of(df)
    # '*(n)' prefixes are WholeStageCodegen stage markers in treeString;
    # the aggregate and the join chain must both be inside codegen stages
    assert "isFinalPlan=true" in plan
    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan
    assert re.search(r"\*\(\d+\) BroadcastHashJoin", plan), plan


def test_partition_pruning_on_hive_fact(spark, tmp_path):
    """A year/month predicate over the partitioned silver fact must scan
    only matching partitions (PartitionFilters), not all of them."""
    from pyspark.sql import functions as F

    from erathia_market_etl_spark.generator.bronze import generate_bronze
    from erathia_market_etl_spark.pipeline import run_silver

    work = str(tmp_path)
    generate_bronze(f"{work}/bronze", weeks=5)
    run_silver(spark, f"{work}/bronze", f"{work}/silver")
    fact = spark.read.parquet(f"{work}/silver/fact_sales")
    one_month = fact.filter((F.col("year") == 1168) & (F.col("month") == 3))
    plan = plan_of(one_month)
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "year" in pf.group(1) and "month" in pf.group(1), plan
    # and the partition columns are NOT in the data-filter list
    assert "PushedFilters: []" in plan or "year" not in re.search(
        r"PushedFilters: \[([^\]]*)\]", plan
    ).group(1)


def test_exact_dedup_single_shuffle(spark):
    df = QUERIES["dedup_exact_hash"](spark, SF_T2)
    plan = plan_of(df)
    # content-hash dedup is one exchange for the groupBy - nothing else
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) <= 1, plan


def test_length_trim_no_single_partition_over_corpus(spark):
    """text_length_trim's rank decomposition (r4 VERDICT #1): the
    per-row rank window must partition by n_chars (distributed), and
    the only SinglePartition exchange allowed is the one feeding the
    tiny distinct-lengths cumulative sum — i.e. every SinglePartition
    subtree aggregates BEFORE exchanging; none may sit directly over
    the documents scan."""
    df = QUERIES["text_length_trim"](spark, SF_T2)
    plan = plan_of(df)
    assert re.search(
        r"row_number\(\) windowspecdefinition\(n_chars#\d+", plan
    ), plan
    lines = plan.splitlines()
    sp = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    assert len(sp) <= 1, plan
    for i in sp:
        below = "\n".join(lines[i + 1:])
        agg_pos = below.find("HashAggregate")
        scan_pos = below.find("FileScan")
        assert 0 <= agg_pos < scan_pos, (
            f"SinglePartition exchange not fed by an aggregate:\n{plan}"
        )


def test_pack_shards_running_sum_is_hierarchical(spark):
    """pack_token_budget_shards (r4 VERDICT #2): the corpus running-sum
    window must partition by (source, blk) — parallelism scales with
    block count, not #sources — and any source-only exchange may only
    carry the per-BLOCK table (aggregated before exchanging)."""
    df = QUERIES["pack_token_budget_shards"](spark, SF_T2)
    plan = plan_of(df)
    assert re.search(
        r"windowspecdefinition\(source#\d+, blk#\d+L?, doc_id#\d+", plan
    ), plan
    lines = plan.splitlines()
    src_only = [
        i for i, ln in enumerate(lines)
        if re.search(r"Exchange hashpartitioning\(source#\d+, \d+\)", ln)
    ]
    for i in src_only:
        below = "\n".join(lines[i + 1:])
        agg_pos = below.find("HashAggregate")
        scan_pos = below.find("FileScan")
        assert 0 <= agg_pos < scan_pos, (
            f"source-only exchange not fed by the per-block aggregate:\n{plan}"
        )


def test_lsh_pipelines_minimal_shuffle_inventory(spark):
    """The LSH candidate generators must keep their minimal exchange
    set — in particular the cap window and the bucket groupBy share ONE
    hash exchange on the band keys (Catalyst reuses the partitioning).
    A regression that re-shuffles between cap and collect_list doubles
    the biggest exchange at 100 TB."""
    from erathia_market_etl_spark.operators.dedup import (
        candidate_pairs_from_bands,
        minhash_band_table,
    )
    from erathia_market_etl_spark.operators.similarity import sign_band_near_pairs
    from erathia_market_etl_spark.plans import stage_cache as sc
    from erathia_market_etl_spark.sources.parquet_io import load_table

    # stages persisted by earlier tests would be substituted into these
    # plans by Spark's cache manager, and their exchanges counted too
    for key in list(sc._STAGES):
        sc.evict(key)
    docs = load_table(spark, SF_T2, "documents")
    pairs = candidate_pairs_from_bands(minhash_band_table(docs, "text", "doc_id"))
    hash_ex = [ln for ln in plan_of(pairs).splitlines()
               if "Exchange hashpartitioning" in ln]
    # (doc) signature agg + (band_idx, band_key) shared window/groupBy +
    # (doc_a, doc_b) distinct — the fan_out round-robin is separate
    assert len(hash_ex) <= 3, "\n".join(hash_ex)

    emb = load_table(spark, SF_T2, "embeddings")
    band_pairs = sign_band_near_pairs(emb)
    hash_ex = [ln for ln in plan_of(band_pairs).splitlines()
               if "Exchange hashpartitioning" in ln]
    # (band_idx, band_key) shared + (vec_a, vec_b) distinct; the verify
    # joins must ride BroadcastExchange, not extra shuffles
    assert len(hash_ex) <= 2, "\n".join(hash_ex)


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_lsh_pairs", "sim_similar_pairs"],
)
def test_rank_limits_push_map_side_group_limit(spark, name):
    """Every rank-limit window in the registry must plan a PARTIAL
    WindowGroupLimit: each map task keeps only k rows per group BEFORE
    the window's exchange. This is what makes the LSH bucket caps safe
    on degenerate corpora (an all-identical corpus collapses into one
    bucket; the partial limit caps it at 256 rows per map task instead
    of N rows in one sort). Losing the pushdown (e.g. by switching
    row_number to a non-rank function or adding a second window column)
    would still pass the value oracles."""
    plan = plan_of(QUERIES[name](spark, SF_T2))
    assert re.search(r"WindowGroupLimit .*, Partial", plan), name
    assert re.search(r"WindowGroupLimit .*, Final", plan), name


def test_batch_ann_broadcasts_probes_and_limits_window(spark):
    """sim_topk_batch (r5 VERDICT item 3): the (qid, cid, qvec) probe
    table must attach to the cell table via BROADCAST (the corpus-wide
    cell side never shuffles to be scored), and the per-query rank cut
    must be a two-phase WindowGroupLimit on hash(qid) — the only
    exchange after IVF assignment, carrying already-rank-limited rows."""
    plan = plan_of(QUERIES["sim_topk_batch"](spark, SF_T2))
    assert "BroadcastHashJoin" in plan, plan
    assert re.search(r"WindowGroupLimit .*, Partial", plan), plan
    assert re.search(r"WindowGroupLimit .*, Final", plan), plan
    # after assignment, the only hash exchange is the window's hash(qid)
    hash_ex = [ln for ln in plan.splitlines()
               if "Exchange hashpartitioning" in ln]
    assert len(hash_ex) == 1 and "qid" in hash_ex[0], "\n".join(hash_ex)


def test_skew_salted_exchanges_carry_the_salt(spark):
    """skew_salted_type_profile (r5 VERDICT item 4): the salted shapes
    must actually plan — the two-phase aggregation's first exchange and
    the fact-side join exchange both hash on (event_type, __salt), and
    the dim attaches through a SortMergeJoin keyed on the salt (the
    too-big-to-broadcast regime salting exists for). Salt-invariance of
    the VALUES is the oracle's job; this pins that the salt spread the
    hot keys over reducers instead of being optimized away."""
    plan = plan_of(QUERIES["skew_salted_type_profile"](spark, SF_T2))
    salted_ex = [
        ln for ln in plan.splitlines()
        if re.search(r"Exchange hashpartitioning\(event_type#\d+, __salt#\d+", ln)
    ]
    assert len(salted_ex) >= 2, plan  # salted agg phase 1 + join, both sides
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert len(smj) == 1 and "__salt" in smj[0], plan


def test_bm25_is_two_narrow_scans_no_token_shuffle(spark):
    """text_bm25_topk (r6): lexical retrieval WITHOUT the textbook
    explode->posting-list shuffle — per-doc tf from array filters, the
    corpus stats folded to one broadcast row, top-k a
    TakeOrderedAndProject. No hash exchange may appear anywhere: the
    only exchanges are fan_out's round-robin rebalance and the 1-row
    stats SinglePartition (fed by its partial aggregate, rule R2)."""
    plan = plan_of(QUERIES["text_bm25_topk"](spark, SF_T2))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_bm25_postings_explode_feeds_broadcast_join_once(spark):
    """bm25_topk_postings (r7): the posting-list BM25 shape's scale
    contract — (1) the corpus is exploded exactly ONCE (per-term df is
    a window over the same tf subtree; a groupBy+join-back df would
    silently re-plan the explode and tokenize the corpus twice), and
    (2) the explode feeds the broadcast term join DIRECTLY — no
    exchange may sit between them, so only query-term hits (the
    posting lists) ever ride a wide exchange, never the full token
    stream. Top-k stays a TakeOrderedAndProject."""
    plan = plan_of(QUERIES["bm25_topk_postings"](spark, SF_T2))
    lines = plan.splitlines()
    assert plan.count("Generate explode") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    i_gen = next(i for i, ln in enumerate(lines) if "Generate explode" in ln)
    # the explode's consumer side: the nearest BroadcastHashJoin printed
    # above it is its join parent (the streamed child prints directly
    # under its join); nothing between them may be a shuffle
    i_bhj = max(
        i for i, ln in enumerate(lines)
        if "BroadcastHashJoin" in ln and i < i_gen
    )
    between = lines[i_bhj + 1:i_gen]
    assert not any("Exchange hashpartitioning" in ln for ln in between), plan


def test_pq_adc_scan_is_narrow_topk(spark):
    """PQ ADC retrieval (r7, re-pinned r16): the scoring scan must be a
    pure projection over the 8-byte code column feeding a
    TakeOrderedAndProject, with NO exchange of any kind — since the r16
    Arrow encode the codebooks ship inside the pandas_udf closure, so
    the old codebook-build BroadcastExchange is gone too and the whole
    encode+score plan is scan → ArrowEvalPython → project → top-k. If
    scoring ever grows a shuffle, PQ's whole point — scans that never
    touch raw vectors — is gone."""
    from pyspark.sql import functions as F

    from erathia_market_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_assign,
        pq_codebooks,
    )
    from erathia_market_etl_spark.sources.parquet_io import load_table

    emb = load_table(spark, SF_T2, "embeddings")
    books = pq_codebooks(emb)
    codes = pq_assign(spark, emb, books)
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    plan = plan_of(pq_adc_topk(codes.filter(F.col("vec_id") != 0), q, books))
    assert "TakeOrderedAndProject" in plan, plan
    assert "ArrowEvalPython" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_emb_centroids_single_group_sized_exchange(spark):
    """emb_label_centroids (r7, queued): ONE hashpartitioning exchange
    — the (label, pos) aggregate — fed by a map-side partial aggregate,
    so the shuffle carries at most #labels × 64 rows per partition
    regardless of corpus size."""
    from erathia_market_etl_spark.plans.similarity_queries import (
        emb_label_centroids,
    )

    plan = plan_of(emb_label_centroids(spark, SF_T2))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_window_running_total_single_window_pass(spark):
    """window_running_total's intended shape, pinned after its r7 bench
    drift (+39% on an untouched plan — the same idle-machine
    run-to-run noise band q3's r7 root-cause documented; the executed
    plan was re-read in r8 and is byte-equal in shape to the r6 one):
    a 4-column pruned events scan, a NARROW cents projection, exactly
    ONE hash exchange (user_id) into ONE Window node computing BOTH
    running aggregates in a single pass, and no other exchange. A
    regression to two Window nodes (one per aggregate — double sort),
    an extra exchange, or a full-column scan would still pass the value
    oracle; it fails here."""
    from erathia_market_etl_spark.plans.event_windows import (
        window_running_total,
    )

    plan = plan_of(window_running_total(spark, SF_T2))
    assert plan.count("Window ") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange") == 1, plan
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in schema.group(1).split(",")}
    assert cols == {"event_id", "ts", "user_id", "value"}, cols
    # both running aggregates ride ONE windowspecdefinition pass
    w_node = next(ln for ln in plan.splitlines() if "Window " in ln)
    assert "sum(" in w_node and "count(1)" in w_node, w_node


def test_funnel_reuses_user_partitioning(spark):
    """Every join and aggregate in the ordered funnel keys on user_id;
    the plan must contain no cartesian/broadcast-nested-loop join and
    no join on any other key."""
    from erathia_market_etl_spark.plans.temporal_queries import (
        funnel_ordered_conversion,
    )

    plan = plan_of(funnel_ordered_conversion(spark, SF_T2))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # all equi-joins key on user_id
    for m in re.finditer(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
                         r" \[([a-z_#0-9]+)\]", plan):
        assert m.group(1).startswith("user_id"), m.group(0)


def test_aqe_skew_join_split_fires(spark):
    """AQE skew-handling rehearsal (r10 VERDICT item 6): q1-q5 now
    trust AQE (not forced hints) for the too-big-to-broadcast regime,
    and operators/skew.py covers MANUAL salting — this pins that
    Spark's AUTOMATIC path actually fires. A planted hot key (~90% of
    rows) under a lowered skewedPartitionFactor/threshold must come
    back from execution with OptimizeSkewedJoin having split the hot
    partition: the final adaptive plan's SortMergeJoin is annotated
    skew=true. SCALE.md cites this test instead of asserting the
    behavior."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        # force the sort-merge regime and make the skew detector's
        # thresholds reachable at fixture scale (defaults target
        # multi-GB partitions)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "256KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128KB")

        # the payload must be non-constant (a literal pad would be
        # constant-folded away, and the pruned hot partition then
        # compresses below any reachable threshold) and the downstream
        # consumer must NOT require the join's hash partitioning (a
        # groupBy on the join key makes OptimizeSkewedJoin decline the
        # split — it would force an extra shuffle); a global aggregate
        # keeps the join stage free to split
        fact = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 100)
            .cast("long")
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(100).select(F.col("id").alias("k"))
        joined = fact.join(dim, "k").agg(
            F.count(F.lit(1)).alias("n"), F.min("payload").alias("m")
        )
        plan = final_plan_of(joined)
        smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
        assert smj, plan
        assert any("skew=true" in ln for ln in smj), plan
        assert "skewed" in plan  # AQEShuffleRead actually split the hot partition
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_shared_minhash_band_stage_is_cached_and_live_capped(spark):
    """r12 (VERDICT r11 item 7): the corpus-wide MinHash signature
    stage is computed once per (session, sf_dir) and persisted —
    dedup_minhash_lsh_pairs, dedup_corpus_representatives and
    pipeline_training_funnel used to EACH recompute the
    shingle→md5→signature pipeline inside one bench run. Pins:
    (a) the shared accessor memoizes (identical DataFrame object);
    (b) consumer plans read the stage through InMemoryTableScan;
    (c) the cap window stays LIVE above the cache (two-phase
        WindowGroupLimit still in the consumer plan — the cache must
        never swallow the R5-pinned stage);
    (d) the shared-path values equal a fresh uncached pipeline's."""
    from erathia_market_etl_spark.operators.dedup import (
        candidate_pairs_from_bands,
        minhash_band_table,
    )
    from erathia_market_etl_spark.plans.dedup_queries import (
        shared_minhash_bands,
        shared_minhash_pairs,
    )
    from erathia_market_etl_spark.sources.parquet_io import load_table

    b1 = shared_minhash_bands(spark, SF_T2)
    b2 = shared_minhash_bands(spark, SF_T2)
    assert b1 is b2  # memoized, not rebuilt
    assert b1.storageLevel.useMemory  # persisted

    plan = plan_of(shared_minhash_pairs(spark, SF_T2))
    assert "InMemoryTableScan" in plan
    assert re.search(r"WindowGroupLimit .*, Partial", plan)
    assert re.search(r"WindowGroupLimit .*, Final", plan)

    docs = load_table(spark, SF_T2, "documents")
    fresh = sorted(map(tuple, candidate_pairs_from_bands(
        minhash_band_table(docs, "text", "doc_id")).collect()))
    shared = sorted(map(tuple, shared_minhash_pairs(spark, SF_T2).collect()))
    assert fresh == shared

    # and the component labels over those pairs are memoized the same
    # way (r12: the eager checkpointed iterations run once per session
    # for the three full-pair-set consumers)
    from erathia_market_etl_spark.plans.dedup_queries import (
        shared_pair_components,
    )

    c1 = shared_pair_components(spark, SF_T2)
    c2 = shared_pair_components(spark, SF_T2)
    assert c1 is c2


def test_shared_band_cache_evicts_beyond_cap(spark, tmp_path, caplog):
    """The session stage cache holds at most MAX_KEYS (session, sf_dir)
    keys: past the cap the oldest key is evicted with ALL its stages —
    its persisted band table and gate frame are both unpersisted and no
    stage of that key remains (a long-lived session sweeping many
    directories must not accumulate persisted corpora). Each eviction
    is reported on the cache logger."""
    import logging

    from erathia_market_etl_spark.plans import stage_cache as sc
    from erathia_market_etl_spark.plans.dedup_queries import (
        shared_minhash_bands,
    )
    from erathia_market_etl_spark.plans.text_queries import (
        _shared_gate_frame,
    )

    dirs = []
    for i in range(sc.MAX_KEYS + 1):
        d = str(tmp_path / f"sf{i}")
        spark.createDataFrame(
            [(1, "srcA", f"alpha beta gamma {i}")],
            "doc_id long, source string, text string",
        ).write.parquet(f"{d}/documents.parquet")
        dirs.append(d)
    keys = [sc.stage_key(spark, d) for d in dirs]

    try:
        bands = shared_minhash_bands(spark, dirs[0])
        gate = _shared_gate_frame(spark, dirs[0])
        assert bands.is_cached and gate.is_cached
        with caplog.at_level(logging.DEBUG, logger=sc.log.name):
            for d in dirs[1:]:
                shared_minhash_bands(spark, d)
        assert len(sc._STAGES) <= sc.MAX_KEYS
        assert keys[0] not in sc._STAGES
        assert not bands.storageLevel.useMemory
        assert not gate.storageLevel.useMemory
        evicted = [r.getMessage() for r in caplog.records
                   if r.getMessage().startswith("evict")]
        assert any("minhash_bands" in m for m in evicted), evicted
        assert any("funnel_gate" in m for m in evicted), evicted
    finally:
        for k in keys:
            sc.evict(k)


def _jobs_in_group(spark, group: str, fn) -> int:
    """Run ``fn()`` under job group ``group``; return the number of Spark
    jobs the group launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_construction_launches_no_eager_jobs(spark, caplog):
    """Session stages make plan construction job-free once warm: after a
    first (cold or warm) call, a second pipeline_training_funnel
    construction launches NO Spark job — its gate frame and its
    gate-induced component labels are served from the stage cache — and
    dedup_corpus_representatives launches at most one (the schema
    inference of its ``documents`` scan)."""
    import logging
    import uuid

    run = uuid.uuid4().hex
    names = ("pipeline_training_funnel", "dedup_corpus_representatives")
    _jobs_in_group(
        spark, f"cold-{run}",
        lambda: [QUERIES[n](spark, SF_T2).count() for n in names],
    )
    with caplog.at_level(logging.DEBUG, logger="erathia_market_etl_spark.cache"):
        funnel_jobs = _jobs_in_group(
            spark, f"warm-funnel-{run}",
            lambda: QUERIES["pipeline_training_funnel"](spark, SF_T2),
        )
        reps_jobs = _jobs_in_group(
            spark, f"warm-reps-{run}",
            lambda: QUERIES["dedup_corpus_representatives"](spark, SF_T2),
        )
    assert funnel_jobs == 0
    assert reps_jobs <= 1
    hits = {r.getMessage().split()[1] for r in caplog.records
            if r.getMessage().startswith("hit")}
    assert {"funnel_gate", "funnel_components", "pair_components"} <= hits


def test_warm_funnel_rows_equal_cold_rows_and_oracle(spark):
    """Reusing the funnel's stages is value-invisible: the warm call's
    rows equal those of a cold call made after the cache is cleared,
    and both match the DuckDB oracle."""
    from erathia_market_etl_spark.plans import all_oracles
    from erathia_market_etl_spark.plans import stage_cache as sc
    from erathia_market_etl_spark.testing import compare_query

    name = "pipeline_training_funnel"
    oracle = all_oracles()[name]
    key = sc.stage_key(spark, SF_T2)
    funnel = QUERIES[name]
    funnel(spark, SF_T2)  # make sure the stages exist
    warm = funnel(spark, SF_T2)
    warm_rows = [tuple(r) for r in warm.collect()]
    assert compare_query(name, warm, oracle, SF_T2).ok

    sc.evict(key)
    assert key not in sc._STAGES
    cold = funnel(spark, SF_T2)
    assert "funnel_components" in sc._STAGES[key]  # rebuilt
    assert [tuple(r) for r in cold.collect()] == warm_rows
    assert compare_query(name, cold, oracle, SF_T2).ok
