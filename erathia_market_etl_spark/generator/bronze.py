"""Bronze layer writer: dimensions, calendar, and the chunk-appended
partitioned fact (ref: src/bronze_generator.py:376-487, SURVEY.md §2.1
S4/S5, §2.11 G11-G12).

Driver-side pyarrow writes, like the reference: the simulator is
sequential (see simulate.py), its output is small relative to what Spark
consumes downstream, and chunked flushing (G12) bounds memory for long
runs. Dims land as one parquet file each; the fact accumulates under
Hive ``year=/month=`` directories so Spark and DuckDB both recover the
partition columns on read (S6).
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import SimulationConfig
from ..pipeline import DIM_SCHEMAS, FACT_SALES_SCHEMA
from .definitions import customers, factions, product_categories, products, towns
from .simulate import MarketSimulator, Trade

FACT_PARTITION_COLS = ["year", "month"]


def calendar_rows(cfg: SimulationConfig) -> list[dict]:
    """One row per day in [start_date, end_date]. Python's
    ``date.weekday()`` is Mon=0..Sun=6 — the pandas convention the
    reference uses (is_weekend = {5,6}; SURVEY.md §7.5 #1 — Spark-side
    equivalents must use F.weekday, never F.dayofweek). The year column
    and date_key carry the lore offset (technical 2000 -> lore 1168)."""
    start = dt.date.fromisoformat(cfg.start_date)
    end = dt.date.fromisoformat(cfg.end_date)
    rows = []
    d = start
    while d <= end:
        lore_year = d.year + cfg.lore_year_offset
        date_key = lore_year * 10000 + d.month * 100 + d.day
        rows.append(
            {
                "date_key": date_key,
                "lore_date_str": f"{lore_year:04d}-{d.month:02d}-{d.day:02d}",
                "day_of_week": d.weekday(),
                "month": d.month,
                "day": d.day,
                "year": lore_year,
                "is_weekend": d.weekday() in (5, 6),
            }
        )
        d += dt.timedelta(days=1)
    return rows


def write_dimensions(out_dir: str, cfg: SimulationConfig) -> dict[str, int]:
    """All six dims, one parquet file each (S4), each written with its
    declared schema (``pipeline.DIM_SCHEMAS``). dim_product drops the
    denormalized category_name/tier_level before persisting — the
    snowflake stays normalized (ref: bronze_generator.py:425-427)."""
    os.makedirs(out_dir, exist_ok=True)
    dims: dict[str, list[dict]] = {
        "dim_faction": [
            {"faction_key": k, "faction_name": n} for k, n in factions()
        ],
        "dim_town": [
            {"town_key": k, "town_name": n, "faction_key": f} for k, n, f in towns()
        ],
        "dim_customer": [
            {
                "customer_key": c.key,
                "customer_name": c.name,
                "customer_segment": c.segment,
                "unit_tier": c.unit_tier,
                "base_income": c.base_income,
                "faction_key": c.faction_key,
            }
            for c in customers()
        ],
        "dim_product_category": [
            {"category_key": k, "category_name": c, "tier_level": t}
            for k, c, t in product_categories()
        ],
        "dim_product": [
            {
                "product_key": p.key,
                "product_name": p.name,
                "base_value_gold": p.base_value_gold,
                "category_key": p.category_key,
            }
            for p in products()
        ],
        "dim_date": calendar_rows(cfg),
    }
    for name, rows in dims.items():
        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(DIM_SCHEMAS[name]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(rows) for name, rows in dims.items()}


def _fact_rows(trades: list[Trade]) -> list[dict]:
    """Trade -> fact_sales row; partition year/month parsed from the
    smart key's digits (G11)."""
    rows = []
    for t in trades:
        rows.append(
            {
                "trade_key": t.trade_key,
                "date_key": t.date_key,
                "transaction_type": t.transaction_type,
                "customer_key": t.customer_key,
                "product_key": t.product_key,
                "town_key": t.town_key,
                "quantity": t.quantity,
                "gold_per_unit": t.gold_per_unit,
                "gold_total": t.gold_total,
                "current_gold_balance": t.current_gold_balance,
                "year": t.date_key // 10000,
                "month": (t.date_key // 100) % 100,
            }
        )
    return rows


def generate_bronze(
    out_dir: str,
    weeks: int | None = None,
    cfg: SimulationConfig | None = None,
) -> dict:
    """Full bronze build: dims + seeded simulation with chunked fact
    appends every ``chunk_size_weeks`` (G12). Returns row-count stats."""
    cfg = cfg or SimulationConfig()
    weeks = weeks or cfg.default_weeks
    dim_counts = write_dimensions(out_dir, cfg)

    cal = calendar_rows(cfg)
    sim = MarketSimulator(
        date_keys=[r["date_key"] for r in cal],
        town_keys=[k for k, _, _ in towns()],  # global draw (ref :313,340)
        seed=cfg.seed,
        col_rate=cfg.cost_of_living_rate,
        wealth_tax=cfg.wealth_tax_rate,
        vip_buy=cfg.vip_buy_chance,
        vip_sell=cfg.vip_sell_chance,
        unit_buy=cfg.unit_buy_chance,
        unit_sell=cfg.unit_sell_chance,
    )
    fact_dir = os.path.join(out_dir, "fact_sales")
    os.makedirs(fact_dir, exist_ok=True)
    buffer: list[Trade] = []
    n_rows = 0
    chunk_id = 0
    for w, trades in sim.run_weeks(weeks):
        buffer.extend(trades)
        if (w + 1) % cfg.chunk_size_weeks == 0:
            n_rows += _flush_fact(fact_dir, buffer, chunk_id)
            buffer, chunk_id = [], chunk_id + 1
    if buffer:
        n_rows += _flush_fact(fact_dir, buffer, chunk_id)
    return {"dims": dim_counts, "fact_rows": n_rows, "weeks": weeks}


def _flush_fact(fact_dir: str, trades: list[Trade], chunk_id: int) -> int:
    """Append one chunk into the Hive-partitioned fact dir (S5)."""
    rows = _fact_rows(trades)
    if not rows:
        return 0
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(FACT_SALES_SCHEMA))
    pq.write_to_dataset(
        table,
        root_path=fact_dir,
        partition_cols=FACT_PARTITION_COLS,
        basename_template=f"chunk{chunk_id}-{{i}}.parquet",
    )
    return len(rows)
