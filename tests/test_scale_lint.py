"""Registry-wide scale lint: every registered batch query's physical
plan is checked against the shapes that kill a 100 TB run, not just the
handful individually pinned in test_plan_shapes.py.

Rules (each a named check so failures read like a lint report):

  R1  no CartesianProduct — an all-pairs join over table-sized inputs
      is quadratic at any scale. (BroadcastNestedLoopJoin is allowed:
      the registry uses it only to attach broadcast 1-row/centroid
      tables, and R2 bounds what may feed a broadcast.)
  R2  every Exchange SinglePartition is fed by aggregates on ALL of its
      scan branches — i.e. single-partition data is always a
      pre-aggregated tiny table (distinct-lengths counts, 1-row stats),
      never a raw corpus/fact scan (the r4 text_length_trim failure
      shape, generalized). Subtree-aware since r6 (r5 VERDICT item 2):
      the check walks the exchange's indentation-scoped subtree and
      requires an Aggregate ANCESTOR on the path to every FileScan in
      it, so a multi-branch plan cannot slip a raw-scan branch past the
      lint behind an aggregated sibling (the flattened-text
      false-negative is gone; test_r2_catches_multibranch_raw_scan
      pins the lint itself against that shape).
  R3  no BatchEvalPython — row-at-a-time Python UDFs are banned
      repo-wide (SURVEY.md §2.10 policy); Arrow boundaries
      (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas /
      FlatMapGroupsInPandasWithState) are the sanctioned exceptions.
  R4  no rand()/randn() in the plan — sampling and splits must be
      deterministic hash arithmetic (reproducible under any partition
      layout; r3 VERDICT on sampleBy).
  R5  every WindowGroupLimit is two-phase (Partial before the exchange
      AND Final after) — the map-side phase is what bounds low-
      cardinality partition keys and degenerate LSH buckets (the 256
      cap); a half-fired pushdown would silently
      revert to one task sorting a whole group. Named queries are
      pinned in test_plan_shapes.py; this catches any FUTURE
      rank-limit window added to the registry.
  R6  (below) every Sort/Window-fed SinglePartition exchange carries a
      bounded-grain justification.
  R7  (below) no registered query ends in a global Sort without a
      limit: results carry no row order, so a presentation sort is a
      range shuffle that re-runs the whole upstream for nothing.

Streaming entries (stream_*) execute during construction
(Trigger.AvailableNow into a memory sink), so the returned DataFrame is
a sink read with no lineage to lint; their plan shapes are covered by
the batch analogs here plus tests/test_streaming.py. Only R7, which
reads the root of the returned frame, builds them (at sf0.001).

The lint reads the pre-AQE executedPlan at sf0.01 — shape rules only,
nothing statistics-dependent is asserted. Caveat: PLAN CONSTRUCTION is
not free for every query — the eager-construction entries
(dedup_cluster_components / dedup_corpus_representatives run their
checkpointed component iterations; sim_ivf_cell_quality its bounded
k-means collect) execute while the fixture builds, which is the bulk
of this module's runtime.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from erathia_market_etl_spark.plans import all_queries

from .conftest import SF_SMOKE, SF_T2

# the scale-lint rules are policy for EVERY query shape the repo ships
ALL_QUERIES = all_queries()
BATCH = [n for n in ALL_QUERIES if not n.startswith("stream_")]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark) -> dict[str, str]:
    return {name: _plan(ALL_QUERIES[name](spark, SF_T2)) for name in BATCH}


def test_r1_no_cartesian_product(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"cartesian product in: {bad}"


def _node_depth(line: str) -> int:
    """Tree depth of a plan line = offset where the operator text starts
    (after the ' :+-' box-drawing prefix). Operator text never begins
    with one of those characters ('*(n) ...', letters, '(')."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


def _unaggregated_scans_below_single_partition(plan: str) -> bool:
    """True iff some Exchange SinglePartition has a FileScan in its
    subtree with NO Aggregate on the exchange→scan ancestor path."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        d0 = _node_depth(ln)
        # ancestor stack within the subtree: (depth, is_aggregate)
        stack: list[tuple[int, bool]] = []
        for sub in lines[i + 1:]:
            d = _node_depth(sub)
            if d <= d0:
                break  # left the exchange's subtree
            while stack and stack[-1][0] >= d:
                stack.pop()
            if "FileScan" in sub and not any(is_agg for _, is_agg in stack):
                return True
            stack.append((d, "Aggregate" in sub))  # Hash/ObjectHash/Sort
    return False


def test_r2_single_partition_only_after_aggregate(plans):
    bad = [n for n, p in plans.items()
           if _unaggregated_scans_below_single_partition(p)]
    assert not bad, f"SinglePartition exchange over unaggregated scan in: {bad}"


def test_r2_catches_multibranch_raw_scan(spark):
    # The lint's own pin (r5 VERDICT item 2): a two-branch plan whose
    # FIRST branch aggregates while the SECOND is a raw corpus scan,
    # under a global-sort window's SinglePartition exchange. The old
    # flattened-text rule false-negatived here (first 'Aggregate' index
    # < first 'FileScan' index); the subtree walk must flag it.
    from pyspark.sql import Window

    raw = (
        spark.read.parquet(f"{SF_T2}/documents.parquet")
        .select(F.col("doc_id").alias("x"))
    )
    aggd = raw.groupBy().agg(F.min("x").alias("x"))
    bad = aggd.unionByName(raw).withColumn(
        "rn", F.row_number().over(Window.orderBy("x"))
    )
    plan = _plan(bad)
    assert "Exchange SinglePartition" in plan  # shape is as constructed
    assert _unaggregated_scans_below_single_partition(plan)
    # and the aggregated-only variant stays clean (no false positive)
    ok = aggd.withColumn("rn", F.row_number().over(Window.orderBy("x")))
    assert not _unaggregated_scans_below_single_partition(_plan(ok))


def test_r3_no_row_at_a_time_python_udf(plans):
    bad = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not bad, f"row-at-a-time Python UDF in: {bad}"


def test_r4_no_rand_in_plan(plans):
    bad = [n for n, p in plans.items() if "rand(" in p or "randn(" in p]
    assert not bad, f"nondeterministic rand() in: {bad}"


def test_r5_window_group_limits_are_two_phase(plans):
    import re

    bad: list[str] = []
    for name, plan in plans.items():
        if "WindowGroupLimit" not in plan:
            continue
        n_partial = len(re.findall(r"WindowGroupLimit .*, Partial", plan))
        n_final = len(re.findall(r"WindowGroupLimit .*, Final", plan))
        if n_partial != n_final or n_partial == 0:
            bad.append(f"{name} (partial={n_partial}, final={n_final})")
    assert not bad, f"half-fired WindowGroupLimit pushdown in: {bad}"


def test_no_unbounded_driver_collects_in_package():
    """R4 (source-level, r7): driver materialization in the engine
    package must stay BOUNDED — the scale story's "one sanctioned
    collect" claim, enforced. Allowed: ``.first()`` (one row by
    construction: query vectors, convergence flags) and ``.collect()``
    within three lines after a ``.limit(`` (the bounded k-means/PQ
    sample). ``app.py`` is whitelisted wholesale — it is the
    reference's interactive report viewer, driver-side display by
    design (SURVEY §3.3), and so is ``testing.py`` — it deliberately
    mirrors the round driver's own toPandas comparison at driver SFs.
    Elsewhere ``.toPandas()`` is banned outright (it materializes
    unboundedly AND forgets Arrow batching limits). Any new collect
    site must either be provably bounded in this shape or consciously
    added here with a reason."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "erathia_market_etl_spark"
    offenders = []
    for p in sorted(pkg.rglob("*.py")):
        if p.name in ("app.py", "testing.py"):
            continue
        lines = p.read_text().splitlines()
        for i, ln in enumerate(lines):
            if ".toPandas()" in ln:
                offenders.append(f"{p.name}:{i+1} toPandas")
            if ".collect()" in ln:
                window = "\n".join(lines[max(0, i - 3):i + 1])
                if ".limit(" not in window:
                    offenders.append(f"{p.name}:{i+1} unbounded collect")
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# R6 (r12, VERDICT r11 item 2): grain-aware single-partition order.
# R2 blesses ANY SinglePartition exchange whose scans are aggregated —
# but an aggregate's grain can itself scale with the data (customers,
# documents, users), and a global Sort/Window over such a grain is one
# task sorting billions of rows at 100 TB (the r11 finding: three
# NTILE(4) global windows over the customer grain).
# R6 closes that hole: every Exchange SinglePartition whose parent
# chain is a Sort or Window NODE (exact node-name match — a global
# SortAggregate is a 1-row reduction, not a sort) must carry a
# justification below naming the BOUNDED grain that rides it, keyed by
# a regex on the site's ancestor text so the justification pins the
# SPECIFIC sort/window columns, not the query wholesale: a regressed
# query that re-grows a data-scaling global sort fails even though its
# name is in the table (a customer-grain NTILE shape is the pinned
# true positive in test_r6_catches_data_scaling_grain_ntile).
# ---------------------------------------------------------------------------


def _node_name(line: str) -> str:
    """Physical-plan node name of a line: strip the tree-drawing prefix
    and the WholeStageCodegen '*(n) ' marker, take the leading
    identifier. 'SortAggregate' stays distinct from 'Sort'."""
    import re

    s = re.sub(r"^\*\(\d+\) ", "", line.strip().lstrip(" :+-"))
    m = re.match(r"[A-Za-z_][A-Za-z0-9_]*", s)
    return m.group(0) if m else ""


def _single_partition_order_sites(plan: str) -> list[str]:
    """One ancestor-chain string per Exchange SinglePartition whose
    nearest two ancestors include a Sort or Window node — i.e. the
    data actually gets globally ORDERED in one task, not just reduced
    (global partial+final aggregates are R2's business)."""
    lines = plan.splitlines()
    sites: list[str] = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        d0 = _node_depth(ln)
        ancestors: list[str] = []
        dd = d0
        for j in range(i - 1, -1, -1):
            dj = _node_depth(lines[j])
            if dj < dd:
                ancestors.append(lines[j].strip())
                dd = dj
            if len(ancestors) >= 2:
                break
        if any(_node_name(a) in ("Sort", "Window") for a in ancestors):
            sites.append(" || ".join(ancestors))
    return sites


# query -> [(site regex, bounded-grain justification)]. A flagged site
# must match one of its query's regexes; queries absent from the table
# may not have ANY Sort/Window-fed SinglePartition exchange.
R6_BOUNDED_GRAIN: dict[str, list[tuple[str, str]]] = {
    "agg_freq_items": [(
        r"sum\(cnt#\d+L\) windowspecdefinition\(specifiedwindowframe",
        "global total over the distinct-(type,value) COUNT table — "
        "grain = distinct value domain, bounded (SURVEY freq-items "
        "support threshold makes the value table tiny by definition)",
    )],
    "pack_context_windows": [(
        r"Sort \[blk#\d+L ASC",
        "hierarchical running-sum block offsets — block grain is "
        "corpus_size/block_rows, fixed fan-in per level",
    )],
    "text_length_trim": [(
        r"Sort \[n_chars#\d+L ASC",
        "cumulative below-offsets over the distinct-length count "
        "table — lengths are domain-bounded (docs cap out; the r4 "
        "VERDICT #1 decomposition)",
    )],
    "events_peak_concurrency": [(
        r"Sort \[_blk#\d+L ASC",
        "sweep-line carry offsets over the per-MINUTE-block delta-sum "
        "table — grain = observation span in minutes (time-domain "
        "bounded, ~43k/month), never the session count; the rank.py "
        "block discipline applied to the running concurrency sum",
    )],
}


def test_r6_single_partition_order_on_bounded_grain(plans):
    import re

    bad: list[str] = []
    for name, plan in plans.items():
        sites = _single_partition_order_sites(plan)
        if not sites:
            continue
        allowed = R6_BOUNDED_GRAIN.get(name, [])
        for site in sites:
            if not any(re.search(rx, site) for rx, _ in allowed):
                bad.append(f"{name}: {site[:160]}")
    assert not bad, (
        "Sort/Window-fed SinglePartition exchange with no bounded-grain "
        f"justification (R6_BOUNDED_GRAIN): {bad}"
    )


def test_r6_catches_data_scaling_grain_ntile(spark):
    """The lint's own pin: an NTILE(4) global-order window directly
    over a customer-grain aggregate (the pre-r12 RFM shape) must be
    flagged by the site detector. R2 sanctions this plan (the scan is
    aggregated); R6 exists precisely for it."""
    from pyspark.sql import Window

    rfm = (
        spark.read.parquet(f"{SF_T2}/orders.parquet")
        .groupBy("o_custkey")
        .agg(F.max("o_orderdate").alias("last_order"))
    )
    prefix = rfm.withColumn(
        "r_q",
        F.ntile(4).over(Window.orderBy(F.desc("last_order"), "o_custkey")),
    )
    plan = _plan(prefix)
    sites = _single_partition_order_sites(plan)
    assert sites, "customer-grain NTILE shape must produce an R6 site"
    # and a SortAggregate-parented exchange stays exempt (node-name
    # match, not substring: a global SortAggregate is a 1-row reduction)
    assert _node_name("+- SortAggregate(key=[], functions=[first(x)])") == (
        "SortAggregate"
    )
    assert _node_name("*(3) Sort [v#67L ASC NULLS FIRST], false, 0") == "Sort"


# ---------------------------------------------------------------------------
# R7: no presentation sort. The oracle compare hashes rows
# order-insensitively, so a registered query promises a row set, not a row order. A
# global Sort reached from the root through only Project/Filter nodes
# (no limit above it) orders the result for no reader, and Spark runs it
# as a range shuffle: a sampling job over the whole upstream, then the
# upstream again. Sorts under a limit (TakeOrderedAndProject) and the
# local sorts that feed windows are not terminal global sorts.
# ---------------------------------------------------------------------------

# query -> why its result must stay globally sorted. Starts empty.
R7_SORTED_RESULT: dict[str, str] = {}


def _unlimited_global_sort(plan: str) -> bool:
    """True iff the plan's root chain, below AdaptiveSparkPlan and
    through Project/Filter only, reaches a global Sort node
    (``Sort [...], true, n``)."""
    for line in plan.splitlines():
        name = _node_name(line)
        if name in ("AdaptiveSparkPlan", "Project", "Filter"):
            continue
        return name == "Sort" and ", true, " in line
    return False


def test_r7_no_global_sort_without_limit(spark, plans):
    streams = {
        name: _plan(ALL_QUERIES[name](spark, SF_SMOKE))
        for name in ALL_QUERIES
        if name.startswith("stream_")
    }
    bad = [
        n for n, p in {**plans, **streams}.items()
        if n not in R7_SORTED_RESULT and _unlimited_global_sort(p)
    ]
    assert not bad, f"global Sort with no limit above it in: {bad}"


def test_r7_catches_presentation_sort(spark):
    """The lint's own pin: a terminal orderBy is flagged, also under a
    Project or Filter; the same sort under a limit, and the local sort
    a window runs, are not."""
    from pyspark.sql import Window

    raw = spark.read.parquet(f"{SF_T2}/documents.parquet").select(
        F.col("doc_id").alias("x"), "source"
    )
    assert _unlimited_global_sort(_plan(raw.orderBy("x")))
    assert _unlimited_global_sort(
        _plan(raw.orderBy("x").filter(F.col("x") > 3).select("x"))
    )
    assert not _unlimited_global_sort(_plan(raw.orderBy("x").limit(5)))
    assert not _unlimited_global_sort(_plan(raw))
    windowed = raw.withColumn(
        "rn", F.row_number().over(Window.partitionBy("source").orderBy("x"))
    )
    assert not _unlimited_global_sort(_plan(windowed))
