"""Command-line entry point — the reference's ``main.py`` workflow
(menu choices 1-5: generate bronze / process silver / aggregate gold /
full pipeline / view reports) as subcommands on one Spark engine.

Usage:
    python -m erathia_market_etl_spark.app bronze  --work /tmp/erathia --weeks 104
    python -m erathia_market_etl_spark.app silver  --work /tmp/erathia
    python -m erathia_market_etl_spark.app gold    --work /tmp/erathia
    python -m erathia_market_etl_spark.app full    --work /tmp/erathia --weeks 104
    python -m erathia_market_etl_spark.app report  --work /tmp/erathia [--mart NAME]
"""

from __future__ import annotations

import argparse
import os

from .config import EngineConfig, SimulationConfig
from .generator.bronze import generate_bronze
from .pipeline import run_gold, run_silver
from .session import get_spark


def _dirs(work: str) -> tuple[str, str, str]:
    return (
        os.path.join(work, "bronze"),
        os.path.join(work, "silver"),
        os.path.join(work, "gold"),
    )


def main(argv: list[str] | None = None, spark=None) -> int:
    """CLI entry. ``spark`` injects an existing session (tests); when
    None a session is created and stopped here, like the reference's
    per-step init_spark/stop (main.py:146-162)."""
    ap = argparse.ArgumentParser(prog="erathia-market-etl-spark")
    ap.add_argument("command", choices=["bronze", "silver", "gold", "full", "report"])
    ap.add_argument("--work", required=True, help="pipeline working directory")
    ap.add_argument("--weeks", type=int, default=None)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--col-rate", type=float, default=None,
                    help="cost-of-living rate (ref main.py:82-89 validation)")
    ap.add_argument("--wealth-tax", type=float, default=None)
    # G3 decision-odds knobs (ref main.py:66-71 prompts)
    ap.add_argument("--vip-buy", type=float, default=None)
    ap.add_argument("--vip-sell", type=float, default=None)
    ap.add_argument("--unit-buy", type=float, default=None)
    ap.add_argument("--unit-sell", type=float, default=None)
    ap.add_argument("--mart", default=None, help="report: mart table to print")
    ap.add_argument("--filter", dest="filter_", default=None, metavar="COL=VALUE",
                    help="report drill-down: equality filter on a mart "
                         "column (ref main.py:296-330)")
    ap.add_argument("--distinct", default=None, metavar="COL",
                    help="report: print the DISTINCT values of a mart "
                         "column (the reference's drill-down menu source)")
    args = ap.parse_args(argv)

    cfg = SimulationConfig()
    if args.seed is not None:
        cfg.seed = args.seed
    # parameter validation with fallback-to-defaults (ref main.py:82-89)
    if args.col_rate is not None:
        if 0.0 <= args.col_rate <= 1.0:
            cfg.cost_of_living_rate = args.col_rate
        else:
            print(f"invalid --col-rate {args.col_rate}, using default "
                  f"{cfg.cost_of_living_rate}")
    if args.wealth_tax is not None:
        if 0.0 <= args.wealth_tax <= 1.0:
            cfg.wealth_tax_rate = args.wealth_tax
        else:
            print(f"invalid --wealth-tax {args.wealth_tax}, using default "
                  f"{cfg.wealth_tax_rate}")
    # decision odds: apply the requested values, then the reference's
    # combined check — if either class's buy+sell exceeds 1.0, the WHOLE
    # parameter set reverts to defaults, including cost-of-living and
    # wealth-tax (ref main.py:82-89 returns the full default dict, not
    # just the four odds)
    defaults = SimulationConfig()
    for flag, attr in (("vip_buy", "vip_buy_chance"),
                       ("vip_sell", "vip_sell_chance"),
                       ("unit_buy", "unit_buy_chance"),
                       ("unit_sell", "unit_sell_chance")):
        v = getattr(args, flag)
        if v is not None:
            setattr(cfg, attr, v)
    if not cfg.odds_valid():
        print("ERROR: Sum of BUY and SELL chances cannot exceed 1.0. "
              "Using defaults.")
        for attr in ("vip_buy_chance", "vip_sell_chance",
                     "unit_buy_chance", "unit_sell_chance",
                     "cost_of_living_rate", "wealth_tax_rate"):
            setattr(cfg, attr, getattr(defaults, attr))
    if args.weeks is not None and args.weeks <= 0:
        print(f"invalid --weeks {args.weeks}, using default {cfg.default_weeks}")
        args.weeks = None

    bronze, silver, gold = _dirs(args.work)

    if args.command == "bronze":
        stats = generate_bronze(bronze, weeks=args.weeks, cfg=cfg)
        print(f"bronze written: {stats}")
        return 0

    owns_session = spark is None
    if owns_session:
        spark = get_spark(EngineConfig(app_name="erathia-market-etl-cli"))
    try:
        if args.command == "silver":
            print(f"silver counts: {run_silver(spark, bronze, silver)}")
        elif args.command == "gold":
            marts = run_gold(spark, silver, gold)
            print(f"gold marts written: {sorted(marts)}")
        elif args.command == "full":
            stats = generate_bronze(bronze, weeks=args.weeks, cfg=cfg)
            counts = run_silver(spark, bronze, silver)
            marts = run_gold(spark, silver, gold)
            print(f"bronze: {stats}\nsilver: {counts}\nmarts: {sorted(marts)}")
        elif args.command == "report":
            marts = run_gold(spark, silver)
            names = sorted(marts)
            if args.mart is None:
                print("available marts (ref main.py:263 dm_%% discovery):")
                for n in names:
                    print(f"  {n}")
            elif args.mart not in marts:
                print(f"unknown mart {args.mart}; choose from {names}")
                return 2
            else:
                df = marts[args.mart]
                if args.distinct is not None:
                    # drill-down menu source (ref main.py:304: SELECT
                    # DISTINCT "Resource Name" ... ORDER BY 1)
                    if args.distinct not in df.columns:
                        print(f"unknown column {args.distinct!r}; "
                              f"columns: {df.columns}")
                        return 2
                    for row in (df.select(args.distinct).distinct()
                                .orderBy(args.distinct).collect()):
                        print(row[0])
                    return 0
                if args.filter_ is not None:
                    # parameterized equality drill-down (ref main.py:326:
                    # WHERE "Resource Name" = ? ORDER BY "Year","Month")
                    col, sep, value = args.filter_.partition("=")
                    if not sep:
                        print(f"bad --filter {args.filter_!r}; "
                              f"expected COL=VALUE")
                        return 2
                    if col not in df.columns:
                        print(f"unknown column {col!r}; columns: {df.columns}")
                        return 2
                    from pyspark.sql import functions as F
                    df = df.filter(F.col(col) == F.lit(value))
                    if {"Year", "Month"} <= set(df.columns):
                        df = df.orderBy("Year", "Month")
                df.show(100, truncate=False)
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
