"""Ordered-funnel and cohort-retention semantics on planted event
sequences. Cross-engine parity runs in test_oracle_parity's queued
sweep; these pin the SEMANTICS — strict ordering, the conversion
window's boundary behavior, and users who must NOT convert."""

from __future__ import annotations

import datetime as dt

from erathia_market_etl_spark.plans.temporal_queries import (
    FUNNEL_WINDOW_SECONDS,
    funnel_ordered_conversion,
)

T0 = dt.datetime(2024, 1, 1)


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [
            (i, T0 + dt.timedelta(seconds=s), uid, et, 1.0, "{}")
            for i, (uid, et, s) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    p = str(tmp_path / "sf")
    df.write.parquet(p + "/events.parquet")
    return p


def test_funnel_strict_order_and_window(spark, tmp_path):
    """One user per semantic branch:
    u1 full conversion inside the windows (known deltas);
    u2 purchase BEFORE the first view only -> stops at click;
    u3 click exactly AT t1 (strict >) and again past the window -> view only;
    u4 click exactly at t1 + window (inclusive <=) -> converts stage 2;
    u5 no view at all -> not in the funnel."""
    w = FUNNEL_WINDOW_SECONDS
    rows = [
        # u1: view@0, click@100, purchase@250
        (1, "view", 0), (1, "click", 100), (1, "purchase", 250),
        # u2: purchase@0 (ignored: before view), view@50, click@80
        (2, "purchase", 0), (2, "view", 50), (2, "click", 80),
        # u3: view@0, click@0 (ties t1 - excluded by strict >),
        #     click@w+1 past the window
        (3, "view", 0), (3, "click", 0), (3, "click", w + 1),
        # u4: view@0, click exactly at the inclusive window edge
        (4, "view", 0), (4, "click", w),
        # u5: click/purchase but never a view
        (5, "click", 10), (5, "purchase", 20),
    ]
    out = {
        r["stage"]: (r["users"], r["seconds_to_here"])
        for r in funnel_ordered_conversion(
            spark, _write_events(spark, tmp_path, rows)
        ).collect()
    }
    assert out["view"][0] == 4          # u1..u4 (u5 never enters)
    assert out["click"][0] == 3         # u1, u2, u4 (u3 blocked twice)
    assert out["purchase"][0] == 1      # u1 only (u2's purchase pre-view)
    # mean seconds from funnel entry: click = (100 + 30 + w)/3, purchase = 250
    assert out["click"][1] == (100 + 30 + w) // 3
    assert out["purchase"][1] == 250


def test_funnel_matches_python_reference_generative(spark, tmp_path):
    """Generative equality of the windowed ordered funnel against a
    pure-Python earliest-qualifying walker over random per-user event
    streams (types shuffled, windows straddled)."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from erathia_market_etl_spark.plans.temporal_queries import (
        FUNNEL_STAGES,
        FUNNEL_WINDOW_SECONDS,
        funnel_ordered_conversion,
    )

    t0 = dt.datetime(2024, 1, 1)
    w = FUNNEL_WINDOW_SECONDS

    @settings(max_examples=4, deadline=None)
    @given(st.data())
    def run(data):
        n = data.draw(st.integers(3, 28))
        rows = []
        for eid in range(n):
            uid = data.draw(st.integers(1, 4))
            sec = data.draw(st.sampled_from(
                [0, 1, 50, w - 1, w, w + 1, 2 * w, 3 * w + 7]
            ))
            et = data.draw(st.sampled_from(
                list(FUNNEL_STAGES) + ["error"]
            ))
            rows.append((eid, t0 + dt.timedelta(seconds=sec), uid, et,
                         1.0, "{}"))

        # python reference
        by_user: dict[int, list] = {}
        for eid, ts, uid, et, _v, _p in rows:
            by_user.setdefault(uid, []).append((ts, eid, et))
        stats = {s: [0, 0] for s in FUNNEL_STAGES}  # users, sum_seconds
        for uid, seq in by_user.items():
            seq.sort()
            t1 = min((ts for ts, _e, et in seq if et == "view"),
                     default=None)
            if t1 is None:
                continue
            stats["view"][0] += 1
            t2 = min((ts for ts, _e, et in seq
                      if et == "click" and t1 < ts
                      <= t1 + dt.timedelta(seconds=w)), default=None)
            if t2 is None:
                continue
            stats["click"][0] += 1
            stats["click"][1] += int((t2 - t1).total_seconds())
            t3 = min((ts for ts, _e, et in seq
                      if et == "purchase" and t2 < ts
                      <= t2 + dt.timedelta(seconds=w)), default=None)
            if t3 is None:
                continue
            stats["purchase"][0] += 1
            stats["purchase"][1] += int((t3 - t1).total_seconds())

        sub = str(tmp_path / f"f{abs(hash(tuple(rows))) % 10**9}")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).write.parquet(sub + "/events.parquet")
        got = {r["stage"]: (r["users"], r["seconds_to_here"])
               for r in funnel_ordered_conversion(spark, sub).collect()}
        for stage in FUNNEL_STAGES:
            users, total = stats[stage]
            want_sec = 0 if stage == "view" or users == 0 \
                else total // users
            assert got[stage] == (users, want_sec), stage

    run()
