"""Retention cohorts + sequential funnel (operators/behavior.py).

Hand-computed values on tiny frames.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nebula_importer_spark.operators.behavior import funnel_steps, retention_cohorts

DAY = 86400


def _events(spark, rows):
    """rows: (user_id, event_type, epoch_sec[, micros])"""
    data = []
    for r in rows:
        u, t, sec = r[0], r[1], r[2]
        us = r[3] if len(r) > 3 else 0
        data.append((u, t, sec * 1_000_000 + us))
    return spark.createDataFrame(
        data, "user_id long, event_type string, _us long"
    ).select(
        "user_id", "event_type",
        (F.col("_us").cast("double") / 1_000_000).cast("timestamp").alias("ts"),
    )


def test_retention_cohorts_values(spark):
    ev = _events(
        spark,
        [
            # user 1: days 0, 1, 3 (duplicate events on day 0 collapse)
            (1, "view", 10), (1, "click", 20), (1, "view", DAY + 5), (1, "view", 3 * DAY),
            # user 2: days 1, 2 → cohort day 1
            (2, "view", DAY + 1), (2, "view", 2 * DAY + 1),
        ],
    )
    got = {
        (r["cohort_day"], r["day_offset"]): r["n_users"]
        for r in retention_cohorts(ev).collect()
    }
    assert got == {(0, 0): 1, (0, 1): 1, (0, 3): 1, (1, 0): 1, (1, 1): 1}


def test_retention_cohorts_max_offset(spark):
    ev = _events(spark, [(1, "view", 0), (1, "view", 9 * DAY)])
    got = retention_cohorts(ev, max_offset_days=5).collect()
    assert {(r["cohort_day"], r["day_offset"]) for r in got} == {(0, 0)}


def test_funnel_sequential_order_enforced(spark):
    ev = _events(
        spark,
        [
            # user 1 completes in order
            (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
            # user 2: click BEFORE view, no click after → stops at view
            (2, "click", 5), (2, "view", 10), (2, "purchase", 20),
            # user 3: never views → contributes nothing
            (3, "click", 1), (3, "purchase", 2),
        ],
    )
    got = {r["step"]: r["n_users"] for r in funnel_steps(ev, ["view", "click", "purchase"]).collect()}
    assert got == {"view": 2, "click": 1, "purchase": 1}


def test_funnel_same_timestamp_counts(spark):
    # chained-min semantics use >=: a click in the same microsecond as the
    # view counts (ties sort view first because step_idx orders them)
    ev = _events(spark, [(1, "view", 10, 500), (1, "click", 10, 500)])
    got = {r["step"]: r["n_users"] for r in funnel_steps(ev, ["view", "click"]).collect()}
    assert got == {"view": 1, "click": 1}


def test_funnel_earliest_completion_is_greedy_optimal(spark):
    # view@10; clicks at 5 (too early) and 15; purchase at 12 (< t2=15) only
    # → purchase NOT completed: the 12 purchase precedes the first valid click
    ev = _events(
        spark,
        [(1, "view", 10), (1, "click", 5), (1, "click", 15), (1, "purchase", 12)],
    )
    got = {r["step"]: r["n_users"] for r in funnel_steps(ev, ["view", "click", "purchase"]).collect()}
    assert got == {"view": 1, "click": 1, "purchase": 0}


def test_funnel_rejects_bad_steps(spark):
    ev = _events(spark, [(1, "view", 0)])
    with pytest.raises(ValueError):
        funnel_steps(ev, [])
    with pytest.raises(ValueError):
        funnel_steps(ev, ["a", "a"])


def test_funnel_zero_rows_for_uncompleted_steps(spark):
    ev = _events(spark, [(1, "view", 0)])
    got = {r["step"]: r["n_users"] for r in funnel_steps(ev, ["view", "click"]).collect()}
    assert got == {"view": 1, "click": 0}


def test_rolling_active_users_window_and_dedup(spark):
    from nebula_importer_spark.operators.behavior import rolling_active_users

    ev = _events(
        spark,
        [
            # user 1 active days 0 and 2 (twice on day 2 — dedup), user 2 day 2
            (1, "view", 10), (1, "view", 2 * DAY), (1, "click", 2 * DAY + 5),
            (2, "view", 2 * DAY),
            # user 3 active day 10 only → outside the 7-day window of day 2
            (3, "view", 10 * DAY),
        ],
    )
    got = {r["day"]: r["n_users"] for r in rolling_active_users(ev, window_days=7).collect()}
    # day 0: u1; day 2: u1 (counted once) + u2; day 10: u3 only (day 2 is 8 days back)
    assert got == {0: 1, 2: 2, 10: 1}


def test_rolling_active_users_window_one_is_dau(spark):
    from nebula_importer_spark.operators.behavior import rolling_active_users

    ev = _events(spark, [(1, "view", 10), (2, "view", 20), (1, "view", DAY)])
    got = {r["day"]: r["n_users"] for r in rolling_active_users(ev, window_days=1).collect()}
    assert got == {0: 2, 1: 1}


def _attr_df(spark, rows):
    from datetime import datetime, timezone

    data = [
        (
            u,
            datetime.fromtimestamp(ts, tz=timezone.utc).replace(tzinfo=None),
            t,
            i,
        )
        for u, ts, t, i in rows
    ]
    return spark.createDataFrame(
        data, "user_id long, ts timestamp, event_type string, event_id long"
    )


def test_attribution_models_and_remainder(spark):
    from nebula_importer_spark.operators.behavior import attribution

    # user 1: three touches then a purchase; linear split 333333 each,
    # remainder 1 ppm pinned to the FIRST touch
    rows = [
        (1, 100, "click", 10),
        (1, 200, "view", 11),
        (1, 300, "click", 12),
        (1, 400, "purchase", 13),
        (1, 5000, "click", 14),  # outside any conversion window
    ]
    out = attribution(
        _attr_df(spark, rows),
        conversion_type="purchase",
        touch_types=["click", "view"],
        window_sec=600,
    ).collect()
    got = {r.touch_id: r.asDict() for r in out}
    assert set(got) == {10, 11, 12}
    assert all(r["n_touches"] == 3 for r in got.values())
    assert [got[i]["credit_first_ppm"] for i in (10, 11, 12)] == [
        1_000_000, 0, 0,
    ]
    assert [got[i]["credit_last_ppm"] for i in (10, 11, 12)] == [
        0, 0, 1_000_000,
    ]
    assert [got[i]["credit_linear_ppm"] for i in (10, 11, 12)] == [
        333334, 333333, 333333,
    ]
    assert got[10]["gap_us"] == 300 * 1_000_000


def test_attribution_window_boundary_and_instant(spark):
    from nebula_importer_spark.operators.behavior import attribution

    rows = [
        (1, 0, "click", 1),       # exactly window away -> included
        (1, 600, "purchase", 2),
        (2, 50, "click", 3),
        (2, 50, "purchase", 4),   # same instant -> included
        (3, 100, "purchase", 5),  # organic: no touches -> absent
        (4, 700, "click", 6),     # touch AFTER conversion -> excluded
        (4, 650, "purchase", 7),
    ]
    out = attribution(
        _attr_df(spark, rows),
        conversion_type="purchase",
        touch_types=["click"],
        window_sec=600,
    ).collect()
    got = {(r.conversion_id, r.touch_id) for r in out}
    assert got == {(2, 1), (4, 3)}


def test_attribution_multi_conversion_same_user(spark):
    from nebula_importer_spark.operators.behavior import attribution

    # one touch feeds both conversions within its window
    rows = [
        (1, 100, "click", 1),
        (1, 200, "purchase", 2),
        (1, 300, "purchase", 3),
    ]
    out = attribution(
        _attr_df(spark, rows),
        conversion_type="purchase",
        touch_types=["click"],
        window_sec=600,
    ).collect()
    assert {(r.conversion_id, r.touch_id) for r in out} == {(2, 1), (3, 1)}
    assert all(r.credit_linear_ppm == 1_000_000 for r in out)


def test_attribution_random_parity(spark):
    import random
    from collections import defaultdict

    from nebula_importer_spark.operators.behavior import attribution

    rng = random.Random(2024)
    rows = []
    eid = 0
    for _ in range(300):
        eid += 1
        rows.append(
            (
                rng.randrange(5),
                rng.randrange(0, 4000),
                rng.choice(["click", "view", "purchase", "error"]),
                eid,
            )
        )
    window = 500
    out = attribution(
        _attr_df(spark, rows).repartition(7),
        conversion_type="purchase",
        touch_types=["click", "view"],
        window_sec=window,
    ).collect()
    # python model
    by_user = defaultdict(list)
    for u, ts, t, i in rows:
        by_user[u].append((ts, t, i))
    expect = {}
    for u, evs in by_user.items():
        convs = [(ts, i) for ts, t, i in evs if t == "purchase"]
        touches = [(ts, t, i) for ts, t, i in evs if t in ("click", "view")]
        for cts, cid in convs:
            q = sorted(
                (ts, i, t)
                for ts, t, i in touches
                if 0 <= cts - ts <= window
            )
            n = len(q)
            for rk, (ts, tid, tt) in enumerate(q, 1):
                lin = 10**6 // n + (10**6 - n * (10**6 // n) if rk == 1 else 0)
                expect[(cid, tid)] = (
                    u, tt, (cts - ts) * 10**6, n,
                    10**6 if rk == 1 else 0,
                    10**6 if rk == n else 0,
                    lin,
                )
    got = {
        (r.conversion_id, r.touch_id): (
            r.user, r.touch_type, r.gap_us, r.n_touches,
            r.credit_first_ppm, r.credit_last_ppm, r.credit_linear_ppm,
        )
        for r in out
    }
    assert got == expect


def test_attribution_validation(spark):
    from nebula_importer_spark.operators.behavior import attribution

    df = _attr_df(spark, [(1, 0, "click", 1)])
    with pytest.raises(ValueError, match="not in input"):
        attribution(
            df, user_col="zzz", conversion_type="p", touch_types=["c"],
            window_sec=10,
        )
    with pytest.raises(ValueError, match="touch_types"):
        attribution(
            df, conversion_type="p", touch_types=[], window_sec=10
        )
    with pytest.raises(ValueError, match="must not be a touch"):
        attribution(
            df, conversion_type="c", touch_types=["c"], window_sec=10
        )
    with pytest.raises(ValueError, match="below 1 microsecond"):
        attribution(
            df, conversion_type="p", touch_types=["c"], window_sec=0
        )


def _py_km(pairs, scale=10**6):
    """Integer-recurrence KM model."""
    from collections import defaultdict

    good = [(t, e) for t, e in pairs if t is not None and e is not None]
    d = defaultdict(int)
    c = defaultdict(int)
    for t, e in good:
        (d if e else c)[t] += 1
    times = sorted(set(d) | set(c))
    n = len(good)
    s = scale
    out = []
    for t in times:
        if d[t] > 0:
            m = s * (n - d[t])
            s = (m - m % n) // n
            out.append((t, n, d[t], c[t], s))
        n -= d[t] + c[t]
    return out


def test_kaplan_meier_textbook_curve(spark):
    from nebula_importer_spark.operators.behavior import kaplan_meier

    # classic: 10 subjects, events at 2 (x2), 5; censor at 3
    pairs = (
        [(2, 1), (2, 1), (3, 0), (5, 1)]
        + [(9, 0)] * 6
    )
    df = spark.createDataFrame(pairs, "duration long, event long")
    rows = kaplan_meier(df).collect()
    got = [
        (r.t, r.n_risk, r.n_events, r.n_censored, r.survival_micro)
        for r in rows
    ]
    # t=2: S = 8/10 = 0.8; t=5: risk 7 (censor at 3 dropped), S = 0.8*6/7
    assert got[0] == (2, 10, 2, 0, 800000)
    assert got[1] == (5, 7, 1, 0, 800000 * 6 // 7)
    assert got == _py_km(pairs)


def test_kaplan_meier_all_censored_and_ties(spark):
    from nebula_importer_spark.operators.behavior import kaplan_meier

    cens = spark.createDataFrame(
        [(5, 0), (7, 0)], "duration long, event long"
    )
    assert kaplan_meier(cens).count() == 0  # no event times
    # event + censor tie at t: both in the risk set (events-first rule)
    tie = spark.createDataFrame(
        [(3, 1), (3, 0), (9, 1)], "duration long, event long"
    )
    got = [
        (r.t, r.n_risk, r.n_events, r.n_censored, r.survival_micro)
        for r in kaplan_meier(tie).collect()
    ]
    assert got == [(3, 3, 1, 1, 666666), (9, 1, 1, 0, 0)]


def test_kaplan_meier_random_parity(spark):
    import random

    from nebula_importer_spark.operators.behavior import kaplan_meier

    rng = random.Random(777)
    pairs = [
        (rng.randrange(0, 40), rng.randrange(0, 2)) for _ in range(500)
    ]
    df = spark.createDataFrame(
        pairs, "duration long, event long"
    ).repartition(7)
    got = [
        (r.t, r.n_risk, r.n_events, r.n_censored, r.survival_micro)
        for r in kaplan_meier(df).collect()
    ]
    assert got == _py_km(pairs)
    # survival is nonincreasing
    surv = [g[4] for g in got]
    assert surv == sorted(surv, reverse=True)


def test_kaplan_meier_validation(spark):
    from nebula_importer_spark.operators.behavior import kaplan_meier

    df = spark.createDataFrame([(1, 1)], "duration long, event long")
    with pytest.raises(ValueError, match="not in input"):
        kaplan_meier(df, duration_col="zzz")
    with pytest.raises(ValueError, match="scale"):
        kaplan_meier(df, scale=0)
    neg = spark.createDataFrame([(-1, 1)], "duration long, event long")
    with pytest.raises(ValueError, match=">= 0"):
        kaplan_meier(neg)
    bad = spark.createDataFrame([(1, 2)], "duration long, event long")
    with pytest.raises(ValueError, match="event flags"):
        kaplan_meier(bad)


def _py_gini(masses, scale=10**6):
    xs = sorted(masses)
    n = len(xs)
    tot = sum(xs)
    if n == 0 or tot == 0:
        return (n, tot, None)
    num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
    return (n, tot, num * scale // (n * tot))


def test_gini_inequality_closed_and_parity(spark):
    import random

    from nebula_importer_spark.operators.behavior import gini_inequality

    # all-equal masses: exactly 0
    eq = spark.createDataFrame(
        [(u, i) for u in range(10) for i in range(5)], "user_id long, i long"
    )
    r0 = gini_inequality(eq).collect()[0]
    assert (r0.n_keys, r0.total, r0.gini_micro) == (10, 50, 0)

    # one key owns everything among n keys: G = 1 - 1/n exactly
    mono = spark.createDataFrame(
        [(0, i) for i in range(96)] + [(u, 0) for u in range(1, 4)],
        "user_id long, i long",
    )
    # keys 1..3 have mass 1 each, key 0 has 96: compare against model
    rm = gini_inequality(mono).collect()[0]
    assert (rm.n_keys, rm.total, rm.gini_micro) == _py_gini([96, 1, 1, 1])

    rng = random.Random(8)
    rows = []
    masses = {}
    for u in range(60):
        m = rng.randrange(1, 50)
        masses[u] = m
        rows += [(u, i) for i in range(m)]
    rows.append((None, 0))
    df = spark.createDataFrame(rows, "user_id long, i long").repartition(6)
    r = gini_inequality(df).collect()[0]
    assert (r.n_keys, r.total, r.gini_micro) == _py_gini(
        list(masses.values())
    )

    # weighted mode equals expanding the weights
    wdf = spark.createDataFrame(
        [(u, m) for u, m in masses.items()], "user_id long, w long"
    )
    rw = gini_inequality(wdf, weight_col="w").collect()[0]
    assert (rw.n_keys, rw.total, rw.gini_micro) == _py_gini(
        list(masses.values())
    )


def test_gini_inequality_validation(spark):
    import pytest

    from nebula_importer_spark.operators.behavior import gini_inequality

    df = spark.createDataFrame([(1, -2)], "user_id long, w long")
    with pytest.raises(ValueError, match="not in input"):
        gini_inequality(df, key_col="zz")
    with pytest.raises(ValueError, match="negative mass"):
        gini_inequality(df, weight_col="w")
    empty = spark.createDataFrame([], "user_id long, w long")
    r = gini_inequality(empty).collect()[0]
    assert (r.n_keys, r.total, r.gini_micro) == (0, 0, None)
