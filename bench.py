"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Each query executes fully via the noop sink (no collect — measures the
engine, not driver-side materialization).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from erathia_market_etl_spark.config import EngineConfig
from erathia_market_etl_spark.plans import all_queries, local_queries
from erathia_market_etl_spark.session import get_spark

# Drift-history policy: per-query root-cause narratives for past bench
# drifts live in BASELINE.md ("Bench noise-band evidence") — one-line
# pointers here. Standing finding recorded there: sub-second cross-round
# deltas WITHOUT a plan change are measurement noise (fixtures
# regenerate per round; idle-machine run-to-run band is ±30-65%); the
# plan pins in tests/test_plan_shapes.py are the regression gate.
HEADLINE = [
    "q1_net_revenue_by_nation",   # r7 first-query JIT premium -> untimed warmup (BASELINE.md)
    "q2_monthly_price_history",
    "q3_top_customers",           # r6 drift = noise; plan pinned (BASELINE.md)
    "q4_part_popularity",
    "silver_clean_fact",
    "agg_rollup",
    "window_running_total",       # r7 drift = noise; plan pinned (BASELINE.md)
    "tumbling_hourly_stats",
    "session_window_stats",
    "dedup_exact_hash",
    "dedup_minhash_lsh_pairs",    # r7 watch, recovered r8 (BASELINE.md)
    "dedup_simhash_near_pairs",   # r7 watch, recovered r8 (BASELINE.md)
    "sim_topk_bruteforce",
    "sim_topk_vectorized",        # r7 watch, recovered r8 (BASELINE.md)
    "sim_topk_ivf",               # r8 drift = noise; plan pinned r9 (BASELINE.md)
    "text_token_stats",
    "text_language_id",
    # r4 VERDICT "Next round" #4: the expensive end of the registry —
    # the heaviest end-to-end pipeline (LSH -> iterative components ->
    # anti-join) and the pair-emitting banded-LSH path — carry perf
    # evidence from r5 on.
    "dedup_corpus_representatives",
    "sim_similar_pairs",
    # r6: the vectorized winnowing core (the text surface's heaviest
    # per-byte kernel) and the batch multi-query ANN shape carry perf
    # evidence from r6 on
    "text_winnowing_fingerprints",
    "sim_topk_batch",
    # r7: the round's two registrations — the composite quality gate
    # (map-only C4/Gopher filter) and the posting-list BM25 shape (the
    # BM25 plan that actually shuffles) — carry perf evidence from r7 on
    "text_quality_gate",
    "bm25_topk_postings",
    # r8: the round's two heavyweight registrations — the end-to-end
    # training funnel (gate -> induced-LSH components -> window
    # accounting, the registry's integration pipeline) and the PQ
    # quality contract (codebook fit + narrow encode + ADC retrieval) —
    # carry perf evidence from r8 on. The round's other two
    # registrations stay off the headline set deliberately:
    # media_bmp_real_resize is Arrow/mapInPandas-codec-bound and
    # stream_incremental_new_docs is state-store-setup-bound — neither
    # measures a plan shape the scale story depends on.
    "pipeline_training_funnel",
    "sim_pq_quality",
]

# timed from query construction, not just the noop write — see the
# timer-placement comment in main(). The r8 additions both do eager
# work while the plan is built (the funnel's checkpointed component
# rounds; PQ's bounded codebook-sample collect), so an exec-only timer
# would miss most of their cost.
CONSTRUCTION_TIMED = {
    "dedup_corpus_representatives",
    "sim_similar_pairs",
    "pipeline_training_funnel",
    "sim_pq_quality",
    # r17 (VERDICT r16 item 7): the r16 IVF rewrite moved the centroid
    # collect from execution (a SinglePartition collect_list exchange in
    # every run) into query construction (one bounded 16-row collect).
    # Timing these exec-only would leave that real cost outside the
    # window; construction-inclusive keeps the vs-baseline ratios honest
    # (expect a small one-time uptick on these two rows — the frozen
    # baseline timed them exec-only, see BASELINE.md).
    "sim_topk_ivf",
    "sim_topk_batch",
}

# Tier 2 (r11, VERDICT r10 item 4): the 25-query headline list above
# predates the r8-r10 families, so the level-meter missed whole
# registry regions. One representative each for graph analytics
# (fixed-point PageRank: the iterative-join shape), temporal joins
# (as-of: sort-merge-free window formulation), SCD2 compaction
# (gaps-and-islands), plus the streaming maintenance-sink re-run
# (foreachBatch state append + merge-on-read), timed the same
# min-of-3 way but reported SEPARATELY — the frozen BASELINE_BENCH
# comparisons stay on the original set only. All tier-2 rows are
# construction-inclusive (the pagerank iterations and the streaming
# run do eager work outside the final noop write).
TIER2 = [
    "asof_click_to_purchase",
    "graph_pagerank_influence",
    "scd2_user_tier_history",
    "stream_rollup_maintenance",  # special-cased runner below
    # r12 (VERDICT r11 item 4): one multimodal representative (the
    # Arrow/mapInPandas decode+feature path) and one sketch
    # representative (mergeable HLL register algebra) so the
    # level-meter spans every shipped family; first numbers r12, join
    # the frozen tier-2 bar at the next freeze.
    "media_feature_extract",
    "agg_hll_registers",
    # r12 session 2: the grouped block-rank / block-prefix-sum kernel
    # flagships (concentration mart + sweep-line concurrency) — first
    # numbers this round, join the frozen bar at the next freeze.
    "mart_revenue_gini",
    "events_peak_concurrency",
]


def _tier2_queries():
    """Tier-2 callables that are not queries: the streaming maintenance
    sink, a closure over a throwaway state dir. Every other tier-2 name
    resolves through all_queries(), then local_queries(), in main()."""
    import shutil
    import tempfile

    def stream_rollup_maintenance(spark, sf_dir):
        # one AvailableNow maintenance run: stage the event log as a
        # file stream, append per-batch day-rollup state slices, then
        # return the merge-on-read serving state (the full sink
        # lifecycle, not just the batch analog)
        from erathia_market_etl_spark.streaming.event_stream import (
            read_rollup_state,
            stream_events,
            streaming_rollup_append,
        )

        work = tempfile.mkdtemp(prefix="bench_stream_")
        try:
            state = os.path.join(work, "state")
            streaming_rollup_append(
                stream_events(spark, sf_dir), state,
                checkpoint=os.path.join(work, "ckpt"),
            )
            # materialize the merged serving state within the timed
            # region, then hand back a trivially-writable frame
            n = read_rollup_state(spark, state).count()
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return spark.range(n)

    return {"stream_rollup_maintenance": stream_rollup_maintenance}


# Host-calibration probe (r10, VERDICT r9 item 3): r9's bench sat in a
# persistent ~1.3-1.5x whole-machine inflation band for the entire round
# (every query including six hard-pinned untouched plan shapes moved
# +20-70% uniformly), which made cross-round totals unreadable and had
# to be argued from uniformity instead of measured. This probe times a
# fixed single-threaded, BLAS-free numpy kernel (element-wise
# multiply/add/sqrt + sum over 20M float64 — FPU + memory-bandwidth
# bound, no OpenBLAS thread-count variance) min-of-5 immediately before
# the headline loop, so every BENCH_r*.json carries a machine-attested
# host-speed sample taken at measurement time. PROBE_REF_SEC is the
# r10 anchor: min over 4×(5-run) sessions on the quiet round-10 host
# (load <0.2; per-session mins 0.130-0.151, i.e. a ±8% session band —
# coarser than the 1.3-1.5x inflation it is built to flag, which is the
# resolution that matters). host_factor = probe/ref > 1 means the host
# was slow when THIS bench ran; value_probe_normalized divides the raw
# total by host_factor. Raw stays the headline metric — the normalized
# figure exists to separate machine drift from plan drift.
PROBE_REF_SEC = 0.130

# The round driver records BENCH_r{N}.json from the LAST 2000 BYTES of
# this script's stdout and json-parses what it finds there. r13's JSON
# line outgrew that window when two tier-2 queries joined (the line hit
# ~2600 bytes), so the committed artifact carried a byte-truncated
# `tail` (q1's timing cut off) and `parsed: null` — VERDICT r13 item 2.
# Fix: the FULL payload is always written to BENCH_FULL.json next to
# this script, and the stdout line is kept under the window by compact
# separators plus dropping the per-query RATIO maps (re-derivable from
# `queries` x BASELINE_BENCH.json, and present in BENCH_FULL.json)
# before ever touching the raw per-query TIMINGS — every timed query
# incl. q1 stays in the parsed driver artifact.
STDOUT_BUDGET = 1900  # leave margin for stray progress-bar bytes
# Dropped cumulatively, least-valuable first, until the line fits. r16's
# round failed on exactly this: the band keys added in the interrupted
# build round (tier2_vs_band/tier2_over_band/tier2_band_context) grew
# the compact line to 1903-1904B and only the two ratio maps were
# droppable, so emit_result raised and both driver runs exited rc=1
# (VERDICT r16 item 1). Every key here is re-derivable from
# BENCH_FULL.json; the headline `queries` map is NEVER droppable — the
# driver's per-query comparison reads it from the stdout line.
_DROPPABLE = (
    "vs_baseline",          # re-derivable: queries x BASELINE_BENCH.json
    "tier2_vs_baseline",    # re-derivable: queries_tier2 x BASELINE_TIER2
    "tier2_vs_band",        # re-derivable: queries_tier2 x bands
    "tier2_band_context",   # re-derivable: calibration + tier2_over_band
    "tier2_over_band",      # re-derivable: tier2_vs_band classes
    "queries_tier2",        # raw tier-2 timings: drop only as last resort
)


DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def bench_artifact_name(sf_dir: str) -> str:
    """Canonical artifact for the default sf dir, suffixed otherwise.
    realpath before comparing (r14 ADVICE): a relative or symlinked
    spelling of the default dir must still write the CANONICAL
    artifact — gen_scale_step's bench_totals fold reads only the
    canonical names, so a suffixed twin would silently drop the
    totals from the round artifact."""
    if os.path.realpath(sf_dir) == os.path.realpath(DEFAULT_SF_DIR):
        return "BENCH_FULL.json"
    basename = os.path.basename(os.path.realpath(sf_dir)).replace(".", "")
    return f"BENCH_FULL_{basename}.json"


def emit_result(out: dict, root: str, artifact: str = "BENCH_FULL.json") -> str:
    """Write the full payload to the artifact file and return the
    stdout line (full payload if it fits, else with ratio maps
    dropped). Non-default SF dirs get their own artifact name (the
    localcheck suffix convention) so an sf1 decade-step bench never
    overwrites the canonical sf0.1 artifact."""
    with open(os.path.join(root, artifact), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    line_obj = dict(out)
    line_obj["full"] = artifact
    for key in ("",) + _DROPPABLE:
        line_obj.pop(key, None)
        line = json.dumps(line_obj, separators=(",", ":"))
        if len(line) <= STDOUT_BUDGET:
            return line
    # fail HERE, at bench time, not in the driver's 2000-byte stdout
    # tail (r14 ADVICE: the fallback used to return the oversized line
    # and only the CI worst-case test guarded the budget — a HEADLINE/
    # TIER2 growth spurt would have produced a truncated driver
    # artifact at runtime). The full payload is already on disk.
    raise RuntimeError(
        f"bench stdout line {len(line)}B exceeds the {STDOUT_BUDGET}B "
        f"driver window even with ratio maps dropped; shrink the "
        f"headline sets or add droppable keys (full payload written "
        f"to {artifact})"
    )


def _calibration_probe() -> float:
    import numpy as np

    a = np.arange(20_000_000, dtype=np.float64)
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        np.sqrt(a * 1.000001 + 1.5).sum()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(EngineConfig(app_name="erathia-bench"))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup
    # python-worker warmup: the first pandas UDF of a session pays Arrow
    # daemon spin-up (~seconds); steady-state throughput is what we measure
    from erathia_market_etl_spark.operators.similarity import vectorized_cosine_udf

    scorer = vectorized_cosine_udf([1.0, 1.0])
    spark.range(10_000).selectExpr(
        "array(cast(id as float), cast(1 as float)) AS v"
    ).select(scorer("v")).write.mode("overwrite").format("noop").save()

    # Min-of-3 for EVERY headline query (r5 VERDICT item 6). The old
    # EXTRA_RUNS set grew one query at a time as JIT/GC wobble was
    # observed per-round (LSH codegen r3, token_stats/language_id r5,
    # q4 r5 — each a no-code-change 1.3-3x outlier in a min-of-2
    # sample); uniform 3 runs costs ~20 s of bench time and removes
    # the per-round judgment call entirely.
    N_RUNS = 3

    registry = all_queries()

    # Throwaway untimed execution of the first headline plan (r7 VERDICT
    # item 4): q1 is the flagship canary AND runs first in the timed
    # loop, so it alone absorbed whatever first-query premium survives
    # min-of-3 (C2 JIT keeps recompiling the join/agg codegen paths
    # through the first few executions; the generic JVM warmup above
    # exercises none of the scan/broadcast/agg operators). One extra
    # ~1 s run makes the flagship's timing convention identical to every
    # later query's — its r7 +25% drift on an untouched, plan-pinned
    # shape was exactly this premium plus the documented ±30-65%
    # idle-machine run-to-run noise (see the q3 note above).
    registry[HEADLINE[0]](spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()

    probe_sec = _calibration_probe()

    timings: dict[str, float] = {}
    for name in HEADLINE:
        # min of N executions: first run absorbs one-off costs (parquet
        # footer reads, codegen compilation, page-cache faults) that are
        # amortized noise on a long-lived cluster; min measures the
        # engine's steady-state plan execution.
        # Timer placement: baseline-comparable queries keep the r1
        # convention (time the noop write only) so vs_baseline ratios
        # stay apples-to-apples — construction costs a flat ~0.3-0.5 s
        # of driver-side file-listing round-trips that the frozen
        # baseline also excluded. The r5 additions are timed
        # CONSTRUCTION-INCLUSIVE instead: dedup_corpus_representatives
        # runs its checkpointed component iterations eagerly while the
        # plan is built, so an exec-only timer would report ~0.2 s for
        # a ~2.5 s pipeline (measured); sim_similar_pairs gets the same
        # treatment so the two new rows share one convention.
        best = float("inf")
        include_construction = name in CONSTRUCTION_TIMED
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            df = registry[name](spark, sf_dir)
            if not include_construction:
                t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    # tier 2: same min-of-3, construction-inclusive, reported apart —
    # never folded into `value` or the vs_baseline ratios (the frozen
    # baseline never timed these shapes)
    tier2_fns = _tier2_queries()
    local = {n: fn for n, (fn, _) in local_queries().items()}
    tier2: dict[str, float] = {}
    for name in TIER2:
        fn = tier2_fns.get(name) or registry.get(name) or local[name]
        best = float("inf")
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        tier2[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    host_factor = probe_sec / PROBE_REF_SEC
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "calibration": {
            "probe_sec": round(probe_sec, 4),
            "probe_ref_sec": PROBE_REF_SEC,
            "host_factor": round(host_factor, 3),
        },
        "value_probe_normalized": round(total / host_factor, 3),
        "queries_tier2": tier2,
        "tier2_total": round(sum(tier2.values()), 3),
    }

    # tier-2 vs the frozen r11 tier-2 bar (BASELINE_TIER2.json, r12 —
    # VERDICT r11 item 4); ratios only over queries the bar has frozen,
    # so the r12 additions report raw numbers until the next freeze
    tier2_baseline_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BASELINE_TIER2.json"
    )
    if os.path.exists(tier2_baseline_path):
        with open(tier2_baseline_path) as f:
            t2_base = json.load(f)
        if t2_base.get("sf") == sf:
            base_q = t2_base.get("queries", {})
            out["tier2_vs_baseline"] = {
                name: round(t / base_q[name], 3)
                for name, t in tier2.items()
                if base_q.get(name)
            }
            shared = [n for n in tier2 if base_q.get(n)]
            if shared:
                out["tier2_vs_baseline_total"] = round(
                    sum(tier2[n] for n in shared)
                    / sum(base_q[n] for n in shared), 3
                )
            # r16 (VERDICT r15 item 5): self-classifying drift bands.
            # The frozen bars were cut min-of-3 inside warmed bench
            # sessions, so an isolated or loaded-context reading lands
            # over-bar on unchanged code every few rounds and triggers
            # a manual band-protocol adjudication (r9/r12/r13/r15).
            # BASELINE_TIER2.json now records each query's isolated
            # 8-run band (tools/band_protocol.py: fresh session, one
            # warm-up, construction-inclusive; floor=min,
            # ceiling=max-excluding-run-1 since run 1 carries the JIT
            # premium). A reading classifies mechanically:
            #   under_floor — faster than the isolated floor (warmed
            #                 bench context; expected, fine)
            #   in_band     — inside [floor, ceiling]: context noise,
            #                 no escalation
            #   over_band   — above the ceiling: genuine drift
            #                 candidate, run the 8-run protocol
            # Escalation precondition (first same-session observation:
            # a host_factor-1.223 run classified two queries over_band
            # that re-read under_floor/in_band minutes later at 1.009):
            # over_band readings escalate only from a quiet probe
            # (host_factor <= 1.1, the r9 rule) — a loaded-probe
            # over_band is re-read quiet first. tier2_band_context
            # records which case a consumer is looking at.
            bands = t2_base.get("bands", {}).get("queries", {})
            if bands:
                vs_band: dict[str, dict] = {}
                for name, t in tier2.items():
                    band = bands.get(name)
                    if not band:
                        continue
                    if t < band["floor"]:
                        cls = "under_floor"
                    elif t <= band["ceiling"]:
                        cls = "in_band"
                    else:
                        cls = "over_band"
                    vs_band[name] = {
                        "vs_median": round(t / band["median"], 3),
                        "class": cls,
                    }
                out["tier2_vs_band"] = vs_band
                out["tier2_over_band"] = sorted(
                    n for n, v in vs_band.items() if v["class"] == "over_band"
                )
                out["tier2_band_context"] = {
                    "host_factor": round(host_factor, 3),
                    "quiet_probe": host_factor <= 1.1,
                    "escalate": bool(out["tier2_over_band"])
                    and host_factor <= 1.1,
                }

    # per-query ratio vs the frozen round-1 baseline (BASELINE_BENCH.json,
    # VERDICT r1 #7) — only meaningful at the baseline's scale factor
    baseline_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BASELINE_BENCH.json"
    )
    if os.path.exists(baseline_path):
        with open(baseline_path) as f:
            baseline = json.load(f)
        if baseline.get("sf") == sf:
            base_q = baseline.get("queries", {})
            out["vs_baseline"] = {
                name: round(t / base_q[name], 3)
                for name, t in timings.items()
                if base_q.get(name)
            }
            # apples-to-apples: ratio over the SHARED query set only —
            # r5 added headline entries the frozen baseline never timed
            # (and retired one), so total/baseline.value would compare
            # different workloads
            shared = [n for n in timings if base_q.get(n)]
            if shared:
                out["vs_baseline_total"] = round(
                    sum(timings[n] for n in shared)
                    / sum(base_q[n] for n in shared), 3
                )

    print(emit_result(out, os.path.dirname(os.path.abspath(__file__)),
                      bench_artifact_name(sf_dir)))
    spark.stop()


if __name__ == "__main__":
    main()
