"""Dump .explain('formatted') for the bench query set into plans/<round>/.

Usage: python tools/dump_plans.py [--dir rNN] <suffix> [query ...]
  --dir   output round directory under plans/ (default r16)
  suffix  e.g. "before" / "after" — files land at plans/<dir>/<name>_<suffix>.txt
  query   optional subset; default = QUERIES from bench.py

Construction-eager queries (funnel, components, pagerank) execute jobs
while the plan is built; this tool only needs the FINAL frame's plan, so
it pays that construction once per query.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import QUERIES
from erathia_market_etl_spark.config import EngineConfig
from erathia_market_etl_spark.plans import all_queries, local_queries
from erathia_market_etl_spark.session import get_spark

_PLANS_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"
)


def main() -> None:
    argv = list(sys.argv[1:])
    round_dir = "r16"
    if argv and argv[0] == "--dir":
        round_dir = argv[1]
        argv = argv[2:]
    out_dir = os.path.join(_PLANS_ROOT, round_dir)
    suffix = argv[0] if argv else "before"
    names = argv[1:] or QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(EngineConfig(app_name="erathia-plan-dump"))
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    local = {n: fn for n, (fn, _) in local_queries().items()}
    for name in names:
        fn = registry.get(name) or local.get(name)
        if fn is None:
            print(f"SKIP {name}: not found")
            continue
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"WROTE {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
