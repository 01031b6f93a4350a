"""Column-profile semantics on a planted frame with real nulls and
duplicates (the fixtures are null-free, so the null accounting would
otherwise only ever be exercised at zero)."""

from __future__ import annotations


def test_equi_depth_splits_duplicated_values(spark):
    """The case a per-value histogram cannot handle: 10 copies of value
    1 and 5 copies of value 2 into 3 buckets must split INSIDE the
    run of 1s — populations stay maximally equal and the boundary
    buckets overlap in value range."""
    from erathia_market_etl_spark.plans.profile_queries import (
        equi_depth_frame,
    )

    rows = [(1, i, 0) for i in range(10)] + [(2, i, 0) for i in range(5)]
    df = spark.createDataFrame(rows, "v long, k1 long, k2 long")
    got = [tuple(r) for r in equi_depth_frame(df, buckets=3).collect()]
    assert got == [
        (0, 5, 1, 1, 5),
        (1, 5, 1, 1, 5),
        (2, 5, 2, 2, 10),
    ]


def test_equi_depth_population_and_conservation_laws(spark):
    """On a skewed random multiset: bucket populations differ by at
    most one row, buckets are value-ordered, and row/sum totals are
    conserved."""
    import random

    from erathia_market_etl_spark.plans.profile_queries import (
        equi_depth_frame,
    )

    rng = random.Random(41)
    vals = [rng.choice([1, 2, 2, 3, 5, 5, 5, 8, 13]) for _ in range(997)]
    rows = [(v, i, 0) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "v long, k1 long, k2 long")
    got = [r.asDict() for r in equi_depth_frame(df, buckets=7).collect()]
    sizes = [r["n_rows"] for r in got]
    assert max(sizes) - min(sizes) <= 1
    assert sum(sizes) == len(vals)
    assert sum(r["sum_v"] for r in got) == sum(vals)
    for a, b in zip(got, got[1:]):
        assert a["hi"] <= b["lo"]   # value-ordered buckets


def test_weighted_median_matches_bruteforce_and_uses_weights(spark):
    """agg_weighted_median must equal the pure-Python lower weighted
    median per flag at sf0.001, and on a planted frame where volume
    concentrates on high prices it must differ from the UNWEIGHTED
    median (the weights must actually matter)."""
    from erathia_market_etl_spark.plans.profile_queries import (
        agg_weighted_median,
    )

    sf = "/root/testdata/sf0.001"
    got = {r["flag"]: r["weighted_median_cents"]
           for r in agg_weighted_median(spark, sf).collect()}
    pdf = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .toPandas()
    )
    import math

    for flag, grp in pdf.groupby("l_returnflag"):
        rows = sorted(
            (math.floor(p * 100 + 0.5), int(q))
            for p, q in zip(grp["l_extendedprice"], grp["l_quantity"])
        )
        w_total = sum(q for _, q in rows)
        cum = 0
        for cents, q in rows:
            cum += q
            if 2 * cum >= w_total:
                assert got[flag] == cents, flag
                break

    # planted: prices 1..5 cents each qty 1, plus price 5 with qty 95
    # -> unweighted median 4 (of {1,2,3,4,5,5}), weighted median 5
    import datetime as dt

    planted = spark.createDataFrame(
        [(i, i, 1, i, 1.0, float(i) / 100, 0.0, 0.0, "N", "O",
          dt.date(2024, 3, 1)) for i in range(1, 6)]
        + [(6, 6, 1, 1, 95.0, 0.05, 0.0, 0.0, "N", "O",
            dt.date(2024, 3, 1))],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber long, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate date",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        planted.write.parquet(f"{d}/lineitem.parquet")
        row = agg_weighted_median(spark, d).collect()[0]
        assert row["weighted_median_cents"] == 5
        assert row["total_qty"] == 100


def test_k_anonymity_counts_planted_cells(spark, tmp_path):
    """privacy_k_anonymity on a planted table: 3 cells of sizes
    6/2/1 at k=5 -> 2 risky cells, 3 risky rows of 9."""
    from erathia_market_etl_spark.plans.profile_queries import (
        privacy_k_anonymity,
    )

    rows = (
        [(i, f"u{i}", 1, 0.0, "AUTO") for i in range(6)]
        + [(10, "a", 1, 0.0, "BLDG"), (11, "b", 1, 0.0, "BLDG")]
        + [(20, "c", 2, 0.0, "AUTO")]
    )
    df = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    )
    p = str(tmp_path / "sf")
    df.write.parquet(f"{p}/customer.parquet")
    r = privacy_k_anonymity(spark, p).collect()[0]
    assert (r["n_cells"], r["n_rows"], r["min_cell"]) == (3, 9, 1)
    assert (r["risky_cells"], r["risky_rows"]) == (2, 3)
    assert r["risky_share_ppm"] == 3 * 1_000_000 // 9
