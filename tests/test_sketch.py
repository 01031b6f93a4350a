"""HLL register-algebra semantics: the merge law, estimator equality
against a pure-Python reference, and the rho bit-length idiom.

Cross-engine parity (Spark vs DuckDB) for agg_hll_registers runs in
tests/test_oracle_parity.py::test_queued_queries_match; these tests pin
the SEMANTICS against an independent plain-Python HLL so a shared
cross-engine bug cannot hide (the gap-fill precedent, commit faaed24).
"""

from __future__ import annotations

from erathia_market_etl_spark.plans.sketch_queries import (
    _EST_NUM,
    _MOD32,
    _RHO_MAX,
    _W_MOD,
    HLL_M,
    hll_registers_frame,
)


def _h32(x: int) -> int:
    x %= _MOD32
    x = ((x >> 16) ^ x) * 0x45D9F3B % _MOD32
    x = ((x >> 16) ^ x) * 0x45D9F3B % _MOD32
    return (x >> 16) ^ x


def _py_hll(keys) -> tuple[int, int, int]:
    """(nonzero_registers, harmonic_scaled, est_distinct) of a key set."""
    regs = [0] * HLL_M
    for k in keys:
        h = _h32(k)
        idx, w = h // _W_MOD, h % _W_MOD
        rho = _RHO_MAX if w == 0 else _RHO_MAX - w.bit_length()
        regs[idx] = max(regs[idx], rho)
    s = sum(1 << (_RHO_MAX - r) for r in regs)
    return (
        sum(1 for r in regs if r > 0),
        s,
        _EST_NUM // (s * 1_000_000),
    )


def test_registers_match_python_reference_per_group(spark):
    """Every output column equals the plain-Python HLL, per group AND
    for the merged 'all' row — including overlapping groups, where the
    merge law (max per register == registers of the union) is exactly
    what makes the 'all' estimate deduplicate across groups."""
    ga = list(range(1, 701))          # 700 keys
    gb = list(range(400, 1101))       # 701 keys, overlaps ga on 400..700
    rows = [("a", k) for k in ga] + [("b", k) for k in gb]
    df = spark.createDataFrame(rows, "grp string, x long")
    got = {r["grp"]: r.asDict() for r in hll_registers_frame(df).collect()}

    for grp, keys in (("a", ga), ("b", gb), ("all", set(ga) | set(gb))):
        nz, s, est = _py_hll(keys)
        row = got[grp]
        assert row["nonzero_registers"] == nz, grp
        assert row["zero_registers"] == HLL_M - nz, grp
        assert row["harmonic_scaled"] == s, grp
        assert row["est_distinct"] == est, grp
        assert row["exact_distinct"] == len(set(keys)), grp

    # non-vacuity: the merged estimate must sit near the UNION's
    # cardinality (1100), far below the per-group sum (1401) — the
    # dedup-across-groups property that motivates shipping registers
    union_n = len(set(ga) | set(gb))
    assert abs(got["all"]["est_distinct"] - union_n) / union_n < 0.25
    assert got["all"]["est_distinct"] < len(ga) + len(gb) - 150


def test_estimator_error_envelope(spark):
    """The m=64 estimator's relative error stays inside ~3 standard
    errors (1.04/sqrt(64) ~ 13%) across three decades of cardinality —
    the contract that makes the sketch usable, pinned on the exact
    integers the engines produce (pure-Python twin, no Spark run
    needed beyond the reference equality above)."""
    for n in (100, 1_000, 10_000, 100_000):
        _, _, est = _py_hll(range(1, n + 1))
        assert abs(est - n) / n < 0.40, (n, est)


def test_rho_bitlength_idiom(spark):
    """The LENGTH(BIN(w)) rho computation equals Python's bit_length
    across the boundary values (1, 2, powers, w_max) and the w=0 case
    maps to RHO_MAX."""
    ws = [0, 1, 2, 3, 4, 7, 8, (1 << 25) - 1, 1 << 25, _W_MOD - 1]
    rows = spark.sql(
        "SELECT w, CASE WHEN w % {m} = 0 THEN {rm} "
        "ELSE {rm} - LENGTH(BIN(w % {m})) END AS rho "
        "FROM VALUES {vals} AS t(w)".format(
            m=_W_MOD,
            rm=_RHO_MAX,
            vals=", ".join(f"({w})" for w in ws),
        )
    ).collect()
    for r in rows:
        w = r["w"]
        expected = _RHO_MAX if w == 0 else _RHO_MAX - w.bit_length()
        assert r["rho"] == expected, (w, r["rho"], expected)


