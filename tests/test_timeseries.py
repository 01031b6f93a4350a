"""Semantic pins for the time-series operators on PLANTED events.

Oracle parity (tests/test_oracle_parity.py) proves Spark and DuckDB
agree at the fixture SF; these tests prove the operators mean what
they claim on inputs constructed to exercise the claims: OHLC/TWAP
must attribute ties and weights exactly, and the sweep-line
concurrency must match brute force.
"""

from __future__ import annotations

import datetime as dt


def test_ohlc_planted_with_timestamp_tie(spark, tmp_path):
    """Hand-checkable candle: open/close pick the first/last tick under
    (ts, event_id) — including a same-timestamp tie where event_id
    decides — and high/low are plain extremes."""
    import datetime as dt

    from erathia_market_etl_spark.plans.event_windows import ohlc_hourly

    t0 = dt.datetime(2024, 2, 1, 9, 0, 0)

    def ev(eid, sec, price):
        return (eid, t0 + dt.timedelta(seconds=sec), 1, "trade",
                float(price), "{}")

    rows = [
        ev(2, 0, 10.00),   # same ts as eid 1 -> eid 1 is the true open
        ev(1, 0, 11.00),
        ev(3, 60, 25.50),  # high
        ev(4, 120, 5.25),  # low
        ev(5, 3599, 20.00),  # close
        ev(6, 3600, 99.0),   # next hour
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    p = str(tmp_path / "sf")
    df.write.parquet(p + "/events.parquet")
    out = {str(r["hour_start"]): r.asDict()
           for r in ohlc_hourly(spark, p).collect()}
    c = out["2024-02-01 09:00:00"]
    assert (c["open_cents"], c["high_cents"], c["low_cents"],
            c["close_cents"], c["n_ticks"]) == (1100, 2550, 525, 2000, 5)
    assert out["2024-02-01 10:00:00"]["open_cents"] == 9900


def test_twap_density_bias_and_exact_weights(spark, tmp_path):
    """The reason TWAP exists: a price level sampled densely must NOT
    dominate. One tick at 1.00 held 23h then two ticks at 2.00 held
    0.5h each -> TWAP 104 cents where the naive mean of ticks is 166.
    Weights are exact: the holding clock runs tick->next-tick and
    last-tick->midnight."""
    import datetime as dt

    from erathia_market_etl_spark.plans.event_windows import twap_daily

    t0 = dt.datetime(2024, 2, 1)
    rows = [
        (1, t0, 1, "trade", 1.00, "{}"),
        (2, t0 + dt.timedelta(hours=23), 1, "trade", 2.00, "{}"),
        (3, t0 + dt.timedelta(hours=23, minutes=30), 1, "trade", 2.00, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    p = str(tmp_path / "sf")
    df.write.parquet(p + "/events.parquet")
    r = twap_daily(spark, p).collect()[0]
    h = 3600 * 1_000_000
    assert r["held_total_us"] == 24 * h       # full day covered
    assert r["cents_us"] == 100 * 23 * h + 200 * h
    assert r["twap_cents"] == (100 * 23 + 200) // 24   # == 104
    assert r["twap_cents"] != (100 + 200 + 200) // 3   # naive mean 166


def test_peak_concurrency_matches_bruteforce_on_random_intervals(spark):
    """peak_concurrency_frame (r12) must equal the pure-Python sweep
    line on random interval sets — including exact start/end ties
    (the delta-DESC rule: starts before ends, touching intervals are
    concurrent) and midnight-crossing sessions whose carry rides into
    the next day's blocks."""
    import random

    from erathia_market_etl_spark.plans.event_windows import (
        peak_concurrency_frame,
    )

    rng = random.Random(1207)
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    sessions = []
    for _ in range(300):
        start = base + dt.timedelta(minutes=rng.randrange(0, 5 * 1440))
        dur = rng.choice([1, 30, 90, 600, 1440])  # minutes; some cross days
        sessions.append((start, start + dt.timedelta(minutes=dur)))
    # exact-tie cluster: one ends exactly when two start
    t = base + dt.timedelta(minutes=777)
    sessions += [(t - dt.timedelta(minutes=10), t), (t, t + dt.timedelta(minutes=5)),
                 (t, t + dt.timedelta(minutes=9))]

    df = spark.createDataFrame(sessions, "s timestamp, e timestamp")
    got = {r["day"]: (r["peak_concurrent"], r["sessions_started"],
                      r["sessions_ended"])
           for r in peak_concurrency_frame(df).collect()}

    # brute force: global sweep, starts before ends at equal ts
    deltas = [(s, 1) for s, _ in sessions] + [(e, -1) for _, e in sessions]
    deltas.sort(key=lambda x: (x[0], -x[1]))
    conc, want = 0, {}
    for ts, d in deltas:
        conc += d
        day = ts.date()
        peak, st, en = want.get(day, (0, 0, 0))
        want[day] = (max(peak, conc), st + (d == 1), en + (d == -1))
    assert got == want
