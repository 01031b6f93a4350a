"""Connected-components operator: crafted graphs where the expected
components are known by construction (the oracle query covers the
fixture path; this pins the algorithm itself)."""

from __future__ import annotations

import pytest

from erathia_market_etl_spark.operators.graph import (
    connected_components_auto,
    connected_components_star,
)

KERNELS = [
    connected_components_star,
    connected_components_auto,
]


def _cc(spark, edges, kernel=connected_components_auto, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = kernel(df, "src", "dst", **kw)
    rows = out.collect()
    got = {r["v"]: r["component_id"] for r in rows}
    assert len(rows) == len(got), "duplicate vertex rows"
    return got


@pytest.mark.parametrize("kernel", KERNELS)
def test_two_components_and_chain(spark, kernel):
    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds)
    # plus a separate triangle 10-11-12
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
    got = _cc(spark, edges, kernel)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


@pytest.mark.parametrize("kernel", KERNELS)
def test_cycle_and_duplicate_edges(spark, kernel):
    # cycles and repeated/reversed edges must not loop or double-count
    edges = [(5, 6), (6, 7), (7, 5), (6, 5), (5, 6)]
    got = _cc(spark, edges, kernel)
    assert got == {5: 5, 6: 5, 7: 5}


@pytest.mark.parametrize("kernel", KERNELS)
def test_self_loops_keep_singletons(spark, kernel):
    # a vertex with only a self-loop is its own singleton component in
    # BOTH kernels (the star kernel filters self-edges but must not
    # drop the vertex)
    edges = [(1, 2), (9, 9), (2, 2)]
    got = _cc(spark, edges, kernel)
    assert got == {1: 1, 2: 1, 9: 9}


def test_long_chain_converges(spark):
    # 12-vertex path: worst-case diameter for plain min-propagation
    edges = [(i, i + 1) for i in range(100, 111)]
    got = _cc(spark, edges)
    assert set(got.values()) == {100}
    assert len(got) == 12


def test_kernels_agree_on_random_graphs(spark):
    """Both kernels must produce identical labels on arbitrary graphs;
    ground truth is a pure-Python union-find. Deterministic seeds, a
    mix of sparse (forest-ish) and dense (clustered) regimes."""
    import random

    for seed, n, m in [(1, 24, 14), (2, 30, 55), (3, 18, 40)]:
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]  # self-loops included on purpose
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        touched = set()
        for a, b in edges:
            touched.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in touched}

        star = _cc(spark, edges, connected_components_star)
        auto = _cc(spark, edges, connected_components_auto)
        assert star == want, f"star kernel wrong for seed {seed}"
        assert auto == want, f"auto kernel wrong for seed {seed}"


def test_star_raises_on_exhausted_iterations(spark):
    # a non-star-forest edge set at loop exit would emit conflicting
    # labels — the kernel must fail loudly, never silently corrupt
    # (min-label degrades to one consistent unconverged row instead)
    edges = [(i, i + 1) for i in range(500, 540)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(df, "src", "dst", max_iter=2).collect()


def test_star_collapses_path_in_log_rounds(spark):
    """The r5 VERDICT item 1 pin: on a planted 128-vertex path —
    diameter 127, the adversarial shape for min-label propagation —
    the alternating-star kernel must converge CORRECTLY within a
    logarithmic round budget that provably round-bounds min-label
    (which needs ~one round per hop and hits the same cap with wrong
    labels still in flight)."""
    n = 128
    edges = [(1000 + i, 1000 + i + 1) for i in range(n - 1)]
    cap = 12  # >> log2(128)=7 rounds of star, << the ~127 min-label needs

    stats: dict = {}
    got = _cc(spark, edges, connected_components_star, max_iter=cap, stats=stats)
    assert got == {1000 + i: 1000 for i in range(n)}  # correct at the cap
    assert stats["rounds"] <= 10, stats

    # min-label is still propagating when the same budget runs out (the
    # O(diameter) bound), so the auto kernel has to escalate
    auto_stats: dict = {}
    auto = _cc(spark, edges, escalate_after=cap, stats=auto_stats)
    assert auto_stats["kernel"] == "minlabel+star", auto_stats
    assert auto == got


def test_auto_kernel_stays_minlabel_on_dense(spark):
    """Kernel escalation (r6 VERDICT item 1), dense half: on dup-cluster
    graphs — here three planted cliques, the near-clique shape LSH
    candidate pairs produce — min-label converges inside the escalation
    budget, so the auto kernel must finish WITHOUT ever invoking the
    star kernel (its whole cost = the cheap labels-only rounds), with
    labels exact."""
    edges = []
    for base in (100, 300, 500):
        members = [base + i for i in range(8)]
        edges += [(a, b) for a in members for b in members if a < b]
    stats: dict = {}
    got = _cc(spark, edges, connected_components_auto, stats=stats)
    want = {base + i: base for base in (100, 300, 500) for i in range(8)}
    assert got == want
    assert stats["kernel"] == "minlabel", stats
    assert stats["star_rounds"] == 0, stats
    assert stats["rounds"] <= 4, stats


def test_auto_kernel_escalates_chain_to_star(spark):
    """The other half: a planted 128-vertex path (diameter 127) blows
    the min-label escalation budget, so the auto kernel MUST hand the
    contracted graph to the alternating-star kernel — the r5
    diameter-robustness guarantee survives kernel selection — and
    still converge correctly within escalate_after + O(log² n) total
    rounds (min-label alone would need ~127)."""
    n = 128
    edges = [(2000 + i, 2000 + i + 1) for i in range(n - 1)]
    stats: dict = {}
    got = _cc(spark, edges, connected_components_auto, max_iter=12, stats=stats)
    assert got == {2000 + i: 2000 for i in range(n)}
    assert stats["kernel"] == "minlabel+star", stats
    assert stats["star_rounds"] >= 1, stats
    assert stats["rounds"] <= 16, stats


def test_auto_kernel_boundary_convergence_skips_star(spark, monkeypatch):
    """r7 ADVICE (low): a graph whose min-label fixed point lands
    EXACTLY on round escalate_after makes a change in its last budget
    round, so _minlabel_rounds cannot observe convergence — but every
    surviving edge then joins same-label vertices, the contracted edge
    set is empty, and the labels are already the exact answer. The auto
    kernel must detect this with one isEmpty probe and return them
    WITHOUT paying the star kernel's canonicalize persist + prepass
    checkpoint + per-round actions on zero edges. Monkeypatching the
    star kernel to raise proves it is never invoked."""
    from erathia_market_etl_spark.operators import graph as G

    def boom(*a, **k):
        raise AssertionError("star kernel invoked on empty contraction")

    monkeypatch.setattr(G, "connected_components_star", boom)
    # path 0-1-2: round 1 (the free aggregation round) leaves
    # lbl(2) = 1; round 2 fixes it — the last change lands exactly on
    # the escalate_after = 2 budget boundary, converged stays False
    stats: dict = {}
    got = _cc(
        spark, [(0, 1), (1, 2)], G.connected_components_auto,
        escalate_after=2, stats=stats,
    )
    assert got == {0: 0, 1: 0, 2: 0}
    assert stats["kernel"] == "minlabel", stats
    assert stats["star_rounds"] == 0, stats
    assert stats["rounds"] == 2, stats


def test_star_prepass_reuses_canon_exchange(spark):
    """The star kernel's small-star prepass must ride the
    canonicalize+dedup exchange: with canon persisted pre-partitioned
    on hi, the prepass groupBy(hi) and join(hi) may add NO new
    exchange — only the final (hi, lo) dedup shuffles. If a Spark
    upgrade stops honoring cached REPARTITION_BY_COL layout here, the
    edge table shuffles twice per invocation and the fusion comment in
    connected_components_star is a lie. The plan is built through the
    KERNEL'S OWN builders (_canonicalize + _small_star_plan, r6
    ADVICE) so the pin cannot drift from the shipped prepass shape."""
    from pyspark.sql import functions as F

    from erathia_market_etl_spark.operators.graph import (
        _canonicalize,
        _small_star_plan,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    canon = None
    try:
        canon = _canonicalize(
            spark.range(200).select(
                (F.col("id") + 1).alias("src"), (F.col("id") % 7).alias("dst")
            ),
            "src",
            "dst",
        )
        canon.count()
        pre = _small_star_plan(canon)
        plan = pre._jdf.queryExecution().executedPlan().toString()
        ensure = [
            ln for ln in plan.splitlines()
            if "Exchange" in ln and "ENSURE_REQUIREMENTS" in ln
        ]
        # exactly one requirement-driven exchange: the final (hi, lo)
        # dedup; groupBy(hi) and join(hi) reuse the cached layout
        assert len(ensure) == 1 and "hi" in ensure[0] and "lo" in ensure[0], plan
    finally:
        if canon is not None:
            canon.unpersist()  # even on assert failure: no cache leak
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_cached_edge_partitioning_survives_into_join(spark):
    """The connected-components kernels persist the edge table
    pre-partitioned on the join key INSTEAD of localCheckpoint (which
    drops outputPartitioning). Pin the planner behavior that makes that
    worthwhile: under sort-merge (the at-scale shape, labels too big to
    broadcast), the cached side joins with NO new exchange — only the
    labels side shuffles. If a Spark upgrade stops honoring cached
    partitioning, this fails and the operator should be rethought."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.range(100).select(
            F.col("id").alias("a"), (F.col("id") + 1).alias("b")
        )
        sym = edges.distinct().repartition("b").persist()
        sym.count()
        labels = spark.range(100).select(
            F.col("id").alias("v"), F.col("id").alias("lbl")
        )
        j = sym.join(labels, sym["b"] == labels["v"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        ensure = [
            ln for ln in plan.splitlines()
            if "Exchange" in ln and "ENSURE_REQUIREMENTS" in ln
        ]
        # exactly one requirement-driven exchange: the labels side (v);
        # the cached edge side must reuse its REPARTITION_BY_COL layout
        assert len(ensure) == 1 and "v#" in ensure[0], plan
        sym.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_auto_kernel_property_random_graphs(spark):
    """Hypothesis property: on arbitrary random graphs — spanning the
    sparse/forest, dense/clustered, and chain-heavy regimes, self-loops
    and duplicate/reversed edges included — the escalating auto kernel
    must always equal a pure-Python union-find, regardless of which
    escalation path it takes. Complements the fixed-seed three-kernel
    pin with generative coverage of the routing boundary."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=6, deadline=None)
    @given(st.data())
    def run(data):
        n = data.draw(st.integers(min_value=2, max_value=40))
        m = data.draw(st.integers(min_value=1, max_value=70))
        edges = [
            (data.draw(st.integers(0, n - 1)), data.draw(st.integers(0, n - 1)))
            for _ in range(m)
        ]
        # sometimes append a planted chain so escalation actually fires
        if data.draw(st.booleans()):
            base = n + 10
            edges += [(base + i, base + i + 1) for i in range(25)]
        parent = list(range(max(max(a, b) for a, b in edges) + 1))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        touched = set()
        for a, b in edges:
            touched.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in touched}
        got = _cc(spark, edges, connected_components_auto, escalate_after=3)
        assert got == want

    run()


def test_fixture_lsh_graph_routes_minlabel(spark):
    """The bench-reclaim property (r6 VERDICT item 1), pinned on the
    REAL pipeline input: the fixture corpus's MinHash-LSH candidate
    graph is dense dup clusters, so the registered dedup pipelines'
    auto kernel must finish inside the min-label budget — never paying
    a star round. If LSH parameters or the corpus shape ever change
    this, the kernel still returns exact labels (the oracle stays
    green) but dedup_corpus_representatives' bench cost jumps; fail
    HERE first with the routing stats in hand."""
    from erathia_market_etl_spark.operators.dedup import (
        candidate_pairs_from_bands,
        minhash_band_table,
    )
    from erathia_market_etl_spark.sources.parquet_io import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = candidate_pairs_from_bands(minhash_band_table(docs, "text", "doc_id"))
    stats: dict = {}
    out = connected_components_auto(pairs, "doc_a", "doc_b", stats=stats)
    assert out.count() > 0
    assert stats["kernel"] == "minlabel", stats
    assert stats["rounds"] <= 6, stats
