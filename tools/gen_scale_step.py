"""Decade-up scale-step harness (r13, VERDICT r12 item 5).

Synthesizes an **sf1** (one decade above the largest driver fixture)
for the three tables the steepest-scaling queries touch, then times
those queries at sf0.1 vs sf1 — the third-decade row of SCALE.md's
"Measured scaling" table. The synthesis follows the driver fixtures'
own measured scaling law (every entity table grows 10x per decade):

  * lineitem / events: 10 key-shifted replicas (order/part/user/event
    ids offset by replica x max+1) — entity cardinality grows 10x,
    baskets and per-user event streams stay intact, so basket-bounded
    expansions and per-user windows keep their real shapes;
  * documents: 10 replicas with per-replica WORD-ROTATED text — the
    token multiset is preserved (per-row scan cost identical to real
    docs) while 3-gram shingle sets diverge (near-dup structure does
    NOT collapse into 10x artificial duplicates, which would melt the
    LSH caps and measure the wrong thing).

Output lands in .scalecheck/sf1/ (gitignored scratch). Every leg runs
on the default EngineConfig (4 GiB driver).

`--full` additionally synthesizes the REST of the star schema
(region/nation copied — bounded dims; customer/supplier/part/orders
key-shifted x10 with replica-consistent foreign keys so every join
lands inside its own replica; embeddings x4 — the fixtures' own
measured decade growth for that table — with per-replica cyclic
dimension rotation, which preserves norms and within-replica pairwise
structure while decorrelating replicas, so near-dup structure does not
collapse into artificial exact duplicates), which makes
`.scalecheck/sf1` a complete fixture dir the FULL bench can run
against:

    SPARK_GRAFT_SF_DIR=$REPO/.scalecheck/sf1 python bench.py

Usage: python tools/gen_scale_step.py          # synthesize + time
       python tools/gen_scale_step.py --gen    # synthesize only
       python tools/gen_scale_step.py --gen --full  # whole star schema
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
DST = os.path.join(REPO, ".scalecheck", "sf1")
REPLICAS = 10


def _round() -> int:
    """Current round = newest committed CORRECTNESS round + 1."""
    import glob
    import re

    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
        if (m := re.search(r"r(\d+)", os.path.basename(p)))
    ]
    return max(rounds, default=0) + 1


def _write_artifact(section: str | None = None,
                    payload: dict | None = None) -> None:
    """Merge one leg's results into SCALESTEP_r{N}.json (VERDICT r13
    item 6: the decade-step evidence was a hand-run whose results lived
    only in SCALE.md prose — making each leg write the per-round
    artifact means it cannot silently go stale as queries are added).
    Sections accumulate across invocations of the same round: `timings` from the steep-query leg, `compare` from
    the exactness leg, and `bench_totals` folded in from the
    BENCH_FULL twins whenever both SFs have been benched. Each total
    keeps the core count it ran on; the decade ratio `d3` is written
    only when both ran on the same count."""
    rnd = _round()
    path = os.path.join(REPO, f"SCALESTEP_r{rnd:02d}.json")
    data = {}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    if section is not None:
        data[section] = payload
    data["_meta"] = {"round": rnd, "src": SRC, "dst": DST,
                     "replicas": REPLICAS}
    totals = {}
    for tag, name in (("sf0.1", "BENCH_FULL.json"),
                      ("sf1", "BENCH_FULL_sf1.json")):
        p = os.path.join(REPO, name)
        if os.path.exists(p):
            try:
                with open(p) as f:
                    art = json.load(f)
            except ValueError:
                continue
            totals[tag] = {"value": art.get("value"),
                           "cores": art.get("cores")}
    lo, hi = totals.get("sf0.1"), totals.get("sf1")
    if (lo and hi and lo["value"] and hi["value"] and lo["cores"]
            and lo["cores"] == hi["cores"]):
        totals["d3"] = round(hi["value"] / lo["value"], 2)
    if totals:
        data["bench_totals"] = totals
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    print("ARTIFACT " + path, flush=True)


def generate() -> None:
    import duckdb

    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    mx = {
        k: con.sql(s).fetchone()[0]
        for k, s in {
            "ok": f"SELECT MAX(l_orderkey)+1 FROM '{SRC}/lineitem.parquet'",
            "pk": f"SELECT MAX(l_partkey)+1 FROM '{SRC}/lineitem.parquet'",
            "ev": f"SELECT MAX(event_id)+1 FROM '{SRC}/events.parquet'",
            "us": f"SELECT MAX(user_id)+1 FROM '{SRC}/events.parquet'",
            "dc": f"SELECT MAX(doc_id)+1 FROM '{SRC}/documents.parquet'",
        }.items()
    }
    r = f"(SELECT unnest(generate_series(0,{REPLICAS - 1})) AS i) r"
    con.sql(f"""
        COPY (
          SELECT l_orderkey + r.i*{mx['ok']} AS l_orderkey,
                 l_partkey + r.i*{mx['pk']} AS l_partkey,
                 * EXCLUDE (l_orderkey, l_partkey, i)
          FROM '{SRC}/lineitem.parquet', {r}
        ) TO '{DST}/lineitem.parquet' (FORMAT PARQUET)
    """)
    con.sql(f"""
        COPY (
          SELECT event_id + r.i*{mx['ev']} AS event_id,
                 user_id + r.i*{mx['us']} AS user_id,
                 * EXCLUDE (event_id, user_id, i)
          FROM '{SRC}/events.parquet', {r}
        ) TO '{DST}/events.parquet' (FORMAT PARQUET)
    """)
    con.sql(f"""
        COPY (
          WITH t AS (SELECT *, string_split(text, ' ') AS toks
                     FROM '{SRC}/documents.parquet'),
          reps AS (SELECT unnest(generate_series(0,{REPLICAS - 1})) AS i)
          -- rotation offset 1 + (i*7919) % (len-1) lands in [1, len-1],
          -- never 0 mod len: the plain (i % len) offset was a NO-OP
          -- whenever i % len == 0 (all 2-token docs at even replicas,
          -- 3-token docs at replicas 3/6/9, ...), silently producing
          -- byte-identical replica texts — exactly the artificial
          -- near-dup collapse the rotation exists to avoid (r13 ADVICE)
          SELECT doc_id + reps.i*{mx['dc']} AS doc_id,
                 CASE WHEN reps.i = 0 OR len(toks) < 2 THEN text
                      ELSE list_aggregate(
                             list_concat(
                               toks[1 + (1 + (reps.i * 7919) % (len(toks) - 1)):],
                               toks[:(1 + (reps.i * 7919) % (len(toks) - 1))]),
                             'string_agg', ' ')
                 END AS text,
                 lang, source, n_chars
          FROM t, reps
        ) TO '{DST}/documents.parquet' (FORMAT PARQUET)
    """)
    tables = ["lineitem", "events", "documents"]
    if "--full" in sys.argv:
        generate_rest(con, mx, r)
        tables += ["region", "nation", "customer", "supplier", "part",
                   "orders", "embeddings"]
    for t in tables:
        n = con.sql(f"SELECT COUNT(*) FROM '{DST}/{t}.parquet'").fetchone()[0]
        print(f"generated {t}: {n} rows")


EMB_REPLICAS = 4  # embeddings measured 4x per decade in the fixtures


def generate_rest(con, mx: dict, r: str) -> None:
    """The remaining star-schema tables, replica-consistent FKs."""
    for t in ("region", "nation"):  # bounded dims: copy
        con.sql(f"""
            COPY (SELECT * FROM '{SRC}/{t}.parquet')
            TO '{DST}/{t}.parquet' (FORMAT PARQUET)
        """)
    mx["ck"] = con.sql(
        f"SELECT MAX(c_custkey)+1 FROM '{SRC}/customer.parquet'"
    ).fetchone()[0]
    mx["sk"] = con.sql(
        f"SELECT MAX(s_suppkey)+1 FROM '{SRC}/supplier.parquet'"
    ).fetchone()[0]
    mx["vk"] = con.sql(
        f"SELECT MAX(vec_id)+1 FROM '{SRC}/embeddings.parquet'"
    ).fetchone()[0]
    con.sql(f"""
        COPY (
          SELECT c_custkey + r.i*{mx['ck']} AS c_custkey,
                 * EXCLUDE (c_custkey, i)
          FROM '{SRC}/customer.parquet', {r}
        ) TO '{DST}/customer.parquet' (FORMAT PARQUET)
    """)
    con.sql(f"""
        COPY (
          SELECT s_suppkey + r.i*{mx['sk']} AS s_suppkey,
                 * EXCLUDE (s_suppkey, i)
          FROM '{SRC}/supplier.parquet', {r}
        ) TO '{DST}/supplier.parquet' (FORMAT PARQUET)
    """)
    con.sql(f"""
        COPY (
          SELECT p_partkey + r.i*{mx['pk']} AS p_partkey,
                 * EXCLUDE (p_partkey, i)
          FROM '{SRC}/part.parquet', {r}
        ) TO '{DST}/part.parquet' (FORMAT PARQUET)
    """)
    con.sql(f"""
        COPY (
          SELECT o_orderkey + r.i*{mx['ok']} AS o_orderkey,
                 o_custkey + r.i*{mx['ck']} AS o_custkey,
                 * EXCLUDE (o_orderkey, o_custkey, i)
          FROM '{SRC}/orders.parquet', {r}
        ) TO '{DST}/orders.parquet' (FORMAT PARQUET)
    """)
    # lineitem needs replica-consistent l_suppkey too: regenerate it
    # over the --full run (the base generate() shifted order/part only)
    if con.sql(
        f"SELECT COUNT(*) FROM (DESCRIBE SELECT * FROM "
        f"'{SRC}/lineitem.parquet') WHERE column_name='l_suppkey'"
    ).fetchone()[0]:
        con.sql(f"""
            COPY (
              SELECT l_orderkey + r.i*{mx['ok']} AS l_orderkey,
                     l_partkey + r.i*{mx['pk']} AS l_partkey,
                     l_suppkey + r.i*{mx['sk']} AS l_suppkey,
                     * EXCLUDE (l_orderkey, l_partkey, l_suppkey, i)
              FROM '{SRC}/lineitem.parquet', {r}
            ) TO '{DST}/lineitem.parquet' (FORMAT PARQUET)
        """)
    er = f"(SELECT unnest(generate_series(0,{EMB_REPLICAS - 1})) AS i) r"
    con.sql(f"""
        COPY (
          SELECT vec_id + r.i*{mx['vk']} AS vec_id,
                 CASE WHEN r.i = 0 THEN embedding
                      ELSE list_concat(embedding[1 + r.i*16:],
                                       embedding[:r.i*16])
                 END AS embedding,
                 label
          FROM '{SRC}/embeddings.parquet', {er}
        ) TO '{DST}/embeddings.parquet' (FORMAT PARQUET)
    """)


def run_timings() -> None:
    from bench import time_query
    from erathia_market_etl_spark.config import EngineConfig
    from erathia_market_etl_spark.plans.dedup_queries import (
        dedup_minhash_lsh_pairs,
    )
    from erathia_market_etl_spark.plans.graph_queries import (
        graph_pagerank_influence,
    )
    from erathia_market_etl_spark.plans.relational import agg_stats_profile
    from erathia_market_etl_spark.plans.text_queries import (
        text_language_id,
        text_quality_gate,
    )
    from erathia_market_etl_spark.session import get_spark

    queries = [
        graph_pagerank_influence,
        dedup_minhash_lsh_pairs,
        agg_stats_profile,
        text_quality_gate,
        text_language_id,
    ]
    spark = get_spark(EngineConfig(app_name="scale-step"))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    out: dict[str, dict] = {}
    for sf_dir, tag in [(SRC, "sf0.1"), (DST, "sf1")]:
        for fn in queries:
            best = time_query(fn, spark, sf_dir)
            out.setdefault(fn.__name__, {})[tag] = round(best, 3)
            print("DONE", fn.__name__, tag, round(best, 3), flush=True)
    for v in out.values():
        v["d3"] = round(v["sf1"] / v["sf0.1"], 1)
    print("SCALESTEP " + json.dumps(out))
    _write_artifact("timings", {
        "queries": out,
        "worst_d3": max(v["d3"] for v in out.values()),
        "total_sf01": round(sum(v["sf0.1"] for v in out.values()), 3),
        "total_sf1": round(sum(v["sf1"] for v in out.values()), 3),
    })
    spark.stop()


# The scale-SENSITIVE exactness classes: exact-money accumulation,
# int64 envelopes (gini, pagerank fixed-point), bucket
# caps, window ties, uint64 wraparound (winnowing), iterative
# convergence. The fingerprint-dispatched contract oracles (sim_pq /
# sim_ivf) JOIN the sweep in r14: this synthetic corpus's
# fingerprint and measured integers are pinned as a third arm in each
# CASE (VERDICT r13 item 3 — _EMB_SIG_SF1SYN in plans/
# similarity_queries.py), so they now hash-attest here instead of
# returning their unknown-corpus NULLs.
COMPARE_NAMES = [
    "q1_net_revenue_by_nation", "q2_monthly_price_history",
    "q3_top_customers", "agg_rollup", "agg_exact_percentiles",
    "window_running_total", "session_window_stats",
    "events_peak_concurrency", "dedup_minhash_lsh_pairs",
    "sim_near_dup_pairs", "text_winnowing_fingerprints",
    "bm25_topk_postings", "pack_token_budget_shards",
    "text_length_trim", "dedup_cluster_components",
    "graph_pagerank_influence", "scd2_dimension_merge",
    "agg_approx_sketches", "mart_revenue_gini",
    # contract class, third-fingerprint-pinned r14
    "sim_pq_quality", "sim_ivf_cell_quality",
]


def run_compare() -> None:
    """Driver-exact oracle compare (same compare_query as CORRECTNESS)
    of the scale-sensitive classes at the synthetic sf1 —
    attests that EXACTNESS, not just speed, survives the decade step.
    r13 measured: 20/20 hash-exact (incl. 4.5M winnowing fingerprints,
    303k capped LSH pairs, 1M-row running totals, the 160k-row
    pagerank fixed-point, and the Gini int64 envelope)."""
    from erathia_market_etl_spark.config import EngineConfig
    from erathia_market_etl_spark.plans import all_oracles, all_queries
    from erathia_market_etl_spark.session import get_spark
    from erathia_market_etl_spark.testing import compare_query

    queries, oracles = all_queries(), all_oracles()
    items = [(n, queries[n], oracles[n]) for n in COMPARE_NAMES]
    spark = get_spark(EngineConfig(app_name="sf1-compare"))
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    for name, fn, oracle in items:
        try:
            r = compare_query(name, fn(spark, DST), oracle, DST)
            ok = (
                r.spark_rows == r.oracle_rows
                and r.columns_match
                and r.hash_match
            )
            out[name] = {"ok": ok, "rows": r.spark_rows}
        except Exception as e:  # noqa: BLE001 - record, keep sweeping
            out[name] = {"ok": False, "err": f"{type(e).__name__}: {e}"}
        print(("OK " if out[name]["ok"] else "FAIL ") + name, flush=True)
    print("SF1COMPARE " + json.dumps(out))
    _write_artifact("compare", {
        "green": sum(1 for v in out.values() if v["ok"]),
        "total": len(out),
        "fails": sorted(n for n, v in out.items() if not v["ok"]),
        "queries": out,
    })
    spark.stop()


if __name__ == "__main__":
    if "--artifact" in sys.argv:
        # refresh-only: fold the BENCH_FULL twins' totals into the
        # round artifact without regenerating or re-timing (the sf1
        # bench usually runs AFTER the compare leg wrote the artifact)
        _write_artifact()
    else:
        generate()
        if "--compare" in sys.argv:
            run_compare()
        elif "--gen" not in sys.argv:
            run_timings()
