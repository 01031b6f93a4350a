"""Pin the bench stdout contract against the driver's tail window.

The round driver snapshots the LAST 2000 BYTES of bench.py's stdout
into BENCH_r{N}.json and json-parses what it finds there. r13's JSON
line outgrew the window (VERDICT r13 item 2: byte-truncated `tail`,
`parsed: null`, q1's timing unrecoverable). These tests build the
payload exactly as bench.main() does — every QUERIES row populated with
worst-case-width values, the baseline ratio map full — and pin that
emit_result() (a) always fits the window, (b) never drops a raw timing,
and (c) persists the complete payload to BENCH_FULL.json. They also pin
the one timer every row goes through and that every row is a
registered query.
"""

from __future__ import annotations

import json

import bench


def _worst_case_payload() -> dict:
    # EVERY key bench.main() can emit, over the LIVE bench query set,
    # with worst-case number widths (4-char integer parts are far beyond
    # any real run). r16's version of this test omitted keys the real
    # run emitted, so it passed at 1897B while the real line was 1903B
    # and the driver runs crashed (VERDICT r16 item 1). Any new key
    # added to main()'s payload MUST be added here too — that is what
    # makes this test the contract.
    return {
        "metric": "headline_queries_total_wall",
        "value": 99999.999,
        "unit": "sec",
        "queries": {name: 9999.999 for name in bench.QUERIES},
        "sf": 0.1,
        "cores": 9999,
        "vs_baseline": {name: 99.999 for name in bench.QUERIES},
        "vs_baseline_total": 99.999,
    }


def test_worst_case_payload_covers_every_emitted_key():
    """Parse bench.main's source for the literal payload keys it writes
    (out = {...} plus out[...] = assignments) and require each to be in
    the worst-case payload — a new emit key that is not also added to
    _worst_case_payload() would make the budget test under-cover again
    exactly as in r16."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(bench.main))
    emitted: set[str] = set()
    for node in ast.walk(tree):
        # out = { "k": ... }  (the initial payload literal)
        if isinstance(node, ast.Assign) and isinstance(node.value, ast.Dict):
            targets = [t.id for t in node.targets if isinstance(t, ast.Name)]
            if "out" in targets:
                emitted.update(
                    k.value for k in node.value.keys
                    if isinstance(k, ast.Constant) and isinstance(k.value, str)
                )
        # out["k"] = ...  (conditional additions)
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if (isinstance(t, ast.Subscript)
                        and isinstance(t.value, ast.Name)
                        and t.value.id == "out"
                        and isinstance(t.slice, ast.Constant)
                        and isinstance(t.slice.value, str)):
                    emitted.add(t.slice.value)
    assert emitted, "failed to find bench.main's payload keys"
    missing = emitted - set(_worst_case_payload())
    assert not missing, (
        f"bench.main emits keys not covered by the worst-case budget "
        f"test: {sorted(missing)} — add them to _worst_case_payload() "
        f"(and to _DROPPABLE if the line no longer fits)"
    )


def test_stdout_line_fits_driver_tail_window(tmp_path):
    out = _worst_case_payload()
    line = bench.emit_result(out, str(tmp_path))
    assert len(line) <= bench.STDOUT_BUDGET, (
        f"bench stdout line is {len(line)} bytes > {bench.STDOUT_BUDGET}; "
        "the driver's 2000-byte tail would truncate it (the r13 failure). "
        "Trim the payload or extend _DROPPABLE — never the raw timings."
    )
    parsed = json.loads(line)
    # every timed query's raw seconds must survive, q1 included
    assert set(parsed["queries"]) == set(bench.QUERIES)
    for key in ("metric", "value", "unit", "sf", "cores",
                "vs_baseline_total"):
        assert key in parsed, key
    assert parsed["full"] == "BENCH_FULL.json"


def test_every_bench_row_is_a_registered_query():
    """Each row resolves through the driver registry, so a bench row
    can never keep unregistered package code alive the way the
    streaming-sink closure once did."""
    from erathia_market_etl_spark.plans import all_queries

    assert len(bench.QUERIES) == len(set(bench.QUERIES))
    registered = set(all_queries())
    assert set(bench.QUERIES) <= registered, sorted(
        set(bench.QUERIES) - registered)


def test_time_query_includes_construction():
    """The one timer counts plan construction, not just the write: a
    query whose construction sleeps 50 ms and whose noop write costs
    nothing still times at >= 50 ms, once per run."""
    import time

    calls = []

    class _Chain:
        def __getattr__(self, _name):
            return self

        def __call__(self, *_args):
            return self

    def slow_to_build(spark, sf_dir):
        calls.append((spark, sf_dir))
        time.sleep(0.05)
        return _Chain()

    best = bench.time_query(slow_to_build, "spark", "sf_dir", runs=2)
    assert best >= 0.05
    assert calls == [("spark", "sf_dir")] * 2


def test_full_payload_persisted_lossless(tmp_path):
    out = _worst_case_payload()
    bench.emit_result(out, str(tmp_path))
    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert full == out  # ratio maps dropped from stdout live here


def test_small_payload_passes_through_untrimmed(tmp_path):
    out = {"metric": "m", "value": 1.0, "unit": "sec",
           "queries": {"q1_net_revenue_by_nation": 0.5}, "sf": 0.1,
           "vs_baseline": {"q1_net_revenue_by_nation": 0.25}}
    parsed = json.loads(bench.emit_result(out, str(tmp_path)))
    assert parsed["vs_baseline"] == {"q1_net_revenue_by_nation": 0.25}


def test_oversized_line_fails_loudly_at_bench_time(tmp_path):
    """r14 ADVICE: if the payload exceeds the driver window even after
    every droppable key is gone, emit_result must RAISE — returning
    the oversized line would let the driver's 2000-byte tail produce
    a silently-truncated artifact at runtime. The full payload still
    lands on disk before the raise."""
    import pytest

    out = _worst_case_payload()
    out["queries"]["x_pad"] = "y" * (bench.STDOUT_BUDGET + 1)
    with pytest.raises(RuntimeError, match="driver window"):
        bench.emit_result(out, str(tmp_path))
    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert full == out


def test_artifact_names_normalize_equivalent_dir_spellings(tmp_path):
    """r14 ADVICE: a symlinked/relative/trailing-slash spelling of the
    default sf dir must write the CANONICAL artifact name — the
    gen_scale_step bench_totals fold only reads the canonical names."""
    import os

    for spelling in (
        bench.DEFAULT_SF_DIR,
        bench.DEFAULT_SF_DIR + "/",
        "/root/testdata/../testdata/sf0.1",
    ):
        assert bench.bench_artifact_name(spelling) == "BENCH_FULL.json"
    link = tmp_path / "sf_default_link"
    os.symlink(bench.DEFAULT_SF_DIR, link)
    assert bench.bench_artifact_name(str(link)) == "BENCH_FULL.json"
    assert bench.bench_artifact_name("/root/testdata/sf1") == \
        "BENCH_FULL_sf1.json"


def test_scale_step_ratio_needs_one_core_count(tmp_path, monkeypatch):
    """The sf1/sf0.1 bench ratio is only a scaling figure when both
    totals ran on the same core count; otherwise each total is kept
    with its own count and no ratio is written."""
    from tools import gen_scale_step

    monkeypatch.setattr(gen_scale_step, "REPO", str(tmp_path))
    for name, value, cores in (("BENCH_FULL.json", 20.0, 4),
                               ("BENCH_FULL_sf1.json", 40.0, 32)):
        (tmp_path / name).write_text(
            json.dumps({"value": value, "cores": cores}))
    gen_scale_step._write_artifact()
    (artifact,) = tmp_path.glob("SCALESTEP_r*.json")
    totals = json.loads(artifact.read_text())["bench_totals"]
    assert totals == {"sf0.1": {"value": 20.0, "cores": 4},
                      "sf1": {"value": 40.0, "cores": 32}}

    (tmp_path / "BENCH_FULL_sf1.json").write_text(
        json.dumps({"value": 40.0, "cores": 4}))
    gen_scale_step._write_artifact()
    assert json.loads(artifact.read_text())["bench_totals"]["d3"] == 2.0
