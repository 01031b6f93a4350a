"""Nested-JSON definitions source (SURVEY.md §2.1 S1/S2).

The reference loads its game-definitions JSON driver-side and flattens
it imperatively (bronze_generator.py:29-36, 63-140). This module does
the same job Spark-side: write the definitions as one nested JSON
document, read it with ``spark.read.json(multiLine=True)``, and flatten
with ``explode`` + ``posexplode`` — the idiomatic pattern for any
nested-config-to-dimensions ingestion. Surrogate keys are assigned from
element positions, so they're deterministic and identical to the
driver-side builders in generator/definitions.py (tests assert the
round-trip).

At scale the same plan ingests directories of large JSON documents; the
explode runs distributed and nothing collects to the driver.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..generator.definitions import (
    CATEGORY_TIERS,
    FACTION_NAMES,
    N_FACTIONS,
    UNITS_PER_FACTION,
    customers,
    products,
)


def write_definitions_json(path: str) -> str:
    """Materialize the game definitions as ONE nested JSON document
    (the reference's data_definitions/game_definitions.json shape:
    factions containing unit/hero arrays, product categories containing
    product arrays)."""
    cust = customers()
    units_by_faction: dict[str, list[dict]] = {}
    heroes: list[dict] = []
    fnames = {100 + i: FACTION_NAMES[i] for i in range(N_FACTIONS)}
    for c in cust:
        if c.segment == "Standard":
            units_by_faction.setdefault(fnames[c.faction_key], []).append(
                {"name": c.name, "tier": c.unit_tier, "cost": c.base_income}
            )
        else:
            heroes.append({"name": c.name, "faction": fnames[c.faction_key],
                           "income": c.base_income})
    cats: dict[tuple[str, str], list[dict]] = {}
    for p in products():
        cats.setdefault((p.category_name, p.tier_level), []).append(
            {"name": p.name, "base_value_gold": p.base_value_gold}
        )
    doc = {
        "factions": [
            {"name": fnames[100 + i], "units": units_by_faction[fnames[100 + i]]}
            for i in range(N_FACTIONS)
        ],
        "heroes": heroes,
        "categories": [
            {"category": c, "tier": t, "products": cats[(c, t)]}
            for c, t in CATEGORY_TIERS
        ],
        "town_names": [{"prefix_grid": 16, "suffix_grid": 16}],
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f)
    return path


def read_definitions(spark: SparkSession, path: str) -> DataFrame:
    """S1: the nested document as a single-row DataFrame with
    array<struct> columns."""
    return spark.read.json(path, multiLine=True)


def dim_faction_from_json(defs: DataFrame) -> DataFrame:
    """S2: position-keyed faction dim (keys from 100, like
    bronze_generator.py:19)."""
    return (
        defs.select(F.posexplode("factions").alias("pos", "f"))
        .select(
            (F.lit(100) + F.col("pos")).cast("int").alias("faction_key"),
            F.col("f.name").alias("faction_name"),
        )
    )


def dim_product_from_json(defs: DataFrame) -> DataFrame:
    """S2: products flattened from categories; product keys follow
    document order from 1000, category keys from 200. Two nested
    explodes; the running product index is a window over the exploded
    positions (no driver loop)."""
    from pyspark.sql import Window

    exploded = (
        defs.select(F.posexplode("categories").alias("cat_pos", "c"))
        .select(
            "cat_pos",
            F.col("c.category").alias("category_name"),
            F.col("c.tier").alias("tier_level"),
            F.posexplode("c.products").alias("prod_pos", "p"),
        )
    )
    w = Window.orderBy("cat_pos", "prod_pos")
    return exploded.select(
        (F.lit(1000) + F.row_number().over(w) - 1).cast("int").alias("product_key"),
        F.col("p.name").alias("product_name"),
        F.col("p.base_value_gold").alias("base_value_gold"),
        (F.lit(200) + F.col("cat_pos")).cast("int").alias("category_key"),
    )


def dim_customer_from_json(defs: DataFrame) -> DataFrame:
    """S2: units (per-faction arrays) + heroes unioned into the customer
    dim, keys assigned by document position from 5000 — heroes follow
    all units, as in the driver-side builder."""
    from pyspark.sql import Window

    units = (
        defs.select(F.posexplode("factions").alias("f_pos", "f"))
        .select("f_pos", F.posexplode("f.units").alias("u_pos", "u"))
        .select(
            F.lit(0).alias("block"),
            (F.col("f_pos") * UNITS_PER_FACTION + F.col("u_pos")).alias("pos"),
            F.col("u.name").alias("customer_name"),
            F.lit("Standard").alias("customer_segment"),
            F.col("u.tier").cast("int").alias("unit_tier"),
            F.col("u.cost").alias("base_income"),
            (F.lit(100) + F.col("f_pos")).cast("int").alias("faction_key"),
        )
    )
    fname_to_key = defs.select(F.posexplode("factions").alias("pos", "f")).select(
        F.col("f.name").alias("faction"),
        (F.lit(100) + F.col("pos")).cast("int").alias("fk"),
    )
    hero_rows = (
        defs.select(F.posexplode("heroes").alias("h_pos", "h"))
        .join(F.broadcast(fname_to_key), F.col("h.faction") == F.col("faction"))
        .select(
            F.lit(1).alias("block"),
            F.col("h_pos").alias("pos"),
            F.col("h.name").alias("customer_name"),
            F.lit("VIP").alias("customer_segment"),
            F.lit(0).alias("unit_tier"),
            F.col("h.income").alias("base_income"),
            F.col("fk").alias("faction_key"),
        )
    )
    w = Window.orderBy("block", "pos")
    return (
        units.unionByName(hero_rows)
        .withColumn("customer_key", (F.lit(5000) + F.row_number().over(w) - 1).cast("int"))
        .select(
            "customer_key", "customer_name", "customer_segment",
            "unit_tier", "base_income", "faction_key",
        )
    )
