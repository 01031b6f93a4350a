"""Benchmark harness: the bench query set at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, "cores": 4}

Every row is what a caller of ``queries()[name](spark, sf_dir)`` pays:
plan construction (file listing, schema reads, eager jobs) plus a full
execution through the noop sink (no collect — measures the engine, not
driver-side materialization), min over 3 runs.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from erathia_market_etl_spark.config import EngineConfig
from erathia_market_etl_spark.plans import all_queries
from erathia_market_etl_spark.session import get_spark

# One row per shipped family: the relational marts, windows, dedup,
# similarity, text, the heavyweight pipelines (LSH -> components ->
# anti-join, the training funnel, PQ), graph, temporal joins, media
# decode and the block-rank kernels. Every name is a registered driver
# query.
QUERIES = [
    "q1_net_revenue_by_nation",
    "q2_monthly_price_history",
    "q3_top_customers",
    "q4_part_popularity",
    "silver_clean_fact",
    "agg_rollup",
    "window_running_total",
    "tumbling_hourly_stats",
    "session_window_stats",
    "dedup_exact_hash",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_near_pairs",
    "sim_topk_bruteforce",
    "sim_topk_vectorized",
    "sim_topk_ivf",
    "text_token_stats",
    "text_language_id",
    "dedup_corpus_representatives",
    "sim_similar_pairs",
    "text_winnowing_fingerprints",
    "sim_topk_batch",
    "text_quality_gate",
    "bm25_topk_postings",
    "pipeline_training_funnel",
    "sim_pq_quality",
    "asof_click_to_purchase",
    "graph_pagerank_influence",
    "media_feature_extract",
    "mart_revenue_gini",
    "events_peak_concurrency",
]

# The round driver records BENCH_r{N}.json from the LAST 2000 BYTES of
# this script's stdout and json-parses what it finds there. The FULL
# payload is always written to BENCH_FULL.json next to this script, and
# the stdout line is kept under the window by compact separators plus
# dropping the per-query ratio map (re-derivable from `queries` x
# BASELINE_BENCH.json) — never the raw per-query timings, which the
# driver's per-query comparison reads from the stdout line.
STDOUT_BUDGET = 1900  # leave margin for stray progress-bar bytes
_DROPPABLE = ("vs_baseline",)


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
    dropped). Non-default SF dirs get their own artifact name so an sf1
    decade-step bench never overwrites the canonical sf0.1 artifact."""
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
    # and only the CI worst-case test guarded the budget — a QUERIES
    # growth spurt would have produced a truncated driver artifact at
    # runtime). The full payload is already on disk.
    raise RuntimeError(
        f"bench stdout line {len(line)}B exceeds the {STDOUT_BUDGET}B "
        f"driver window even with ratio maps dropped; shrink the "
        f"bench query set or add droppable keys (full payload written "
        f"to {artifact})"
    )


def time_query(fn, spark, sf_dir: str, runs: int = 3) -> float:
    """Min over ``runs`` of ``fn(spark, sf_dir)`` construction plus its
    noop write. The first run absorbs one-off costs (parquet footer
    reads, codegen compilation, page-cache faults); the min is the
    steady state a long-lived session pays per call."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(EngineConfig(app_name="erathia-bench"))
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup
    # python-worker warmup: the first pandas UDF of a session pays Arrow
    # daemon spin-up (~seconds); steady-state throughput is what we measure
    from erathia_market_etl_spark.operators.similarity import vectorized_cosine_udf

    scorer = vectorized_cosine_udf([1.0, 1.0])
    spark.range(10_000).selectExpr(
        "array(cast(id as float), cast(1 as float)) AS v"
    ).select(scorer("v")).write.mode("overwrite").format("noop").save()

    registry = all_queries()

    # One untimed run of the first row (r7 VERDICT item 4): C2 keeps
    # recompiling the scan/join/agg codegen paths through the first few
    # executions, and the generic warmup above exercises none of them,
    # so without this q1 alone would absorb that premium.
    time_query(registry[QUERIES[0]], spark, sf_dir, runs=1)

    timings = {
        name: round(time_query(registry[name], spark, sf_dir), 3)
        for name in QUERIES
    }
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cores": cores,
    }

    # per-query ratio vs the frozen bar (BASELINE_BENCH.json) — only
    # when it was cut at this scale factor on this many cores
    baseline_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BASELINE_BENCH.json"
    )
    if os.path.exists(baseline_path):
        with open(baseline_path) as f:
            baseline = json.load(f)
        if baseline.get("sf") == sf and baseline.get("cores") == cores:
            base_q = baseline.get("queries", {})
            out["vs_baseline"] = {
                name: round(t / base_q[name], 3)
                for name, t in timings.items()
                if base_q.get(name)
            }
            # ratio over the SHARED query set only, so a row added after
            # the freeze never compares different workloads
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
