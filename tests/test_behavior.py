"""Funnel / cohort-retention semantics (operators/behavior.py)."""

from __future__ import annotations

import datetime as dt

import pytest

from datawarehousefinal_spark.operators.behavior import (
    cohort_retention,
    event_funnel,
)


def _ts(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


@pytest.fixture(scope="module")
def funnel_events(spark):
    rows = [
        # u1 completes the full funnel in order
        (1, _ts(1), "signup"), (1, _ts(2), "click"), (1, _ts(3), "purchase"),
        # u2 clicks BEFORE signing up: click must not count
        (2, _ts(1), "click"), (2, _ts(2), "signup"),
        # u3 purchase before click: stops at click
        (3, _ts(1), "signup"), (3, _ts(2), "purchase"), (3, _ts(3), "click"),
        # u4 never signs up
        (4, _ts(1), "click"), (4, _ts(2), "purchase"),
        # u5: same-timestamp step must NOT count (strictly after)
        (5, _ts(1), "signup"), (5, _ts(1), "click"),
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")


def test_event_funnel_order_semantics(funnel_events):
    out = {
        r["step_name"]: r["n_users"]
        for r in event_funnel(
            funnel_events, "user_id", "ts", "event_type",
            ["signup", "click", "purchase"],
        ).collect()
    }
    # signup: u1, u2, u3, u5
    assert out == {"signup": 4, "click": 2, "purchase": 1}


def test_event_funnel_single_exchange(funnel_events):
    from datawarehousefinal_spark.plans.audit import physical_plan

    df = event_funnel(
        funnel_events, "user_id", "ts", "event_type",
        ["signup", "click", "purchase"],
    )
    plan = physical_plan(df)
    # k window steps + the per-user groupBy all share the user-key
    # partitioning: exactly one user-key exchange in the event path
    # (the final single-row stack aggregate adds its own 1-row exchange)
    assert plan.count("Exchange hashpartitioning(user_id") <= 1, plan


def test_event_funnel_rejects_empty_steps(funnel_events):
    with pytest.raises(ValueError):
        event_funnel(funnel_events, "user_id", "ts", "event_type", [])


def test_cohort_retention_triangle(spark):
    rows = [
        # cohort week 0 (2024-01-01 is epoch day 19723, week 2817)
        (1, _ts(1)), (1, _ts(8)),   # active weeks 0 and +1
        (2, _ts(2)),                # active week 0 only
        # later cohort: first seen next week
        (3, _ts(9)), (3, _ts(22)),  # active +0 and +2
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r["cohort_period"], r["offset"]): r["n_users"]
        for r in cohort_retention(df, "user_id", "ts", period_days=7).collect()
    }
    cohorts = sorted({c for c, _ in out})
    assert len(cohorts) == 2 and cohorts[1] == cohorts[0] + 1
    c0, c1 = cohorts
    assert out[(c0, 0)] == 2      # u1, u2
    assert out[(c0, 1)] == 1      # u1 the next week
    assert out[(c1, 0)] == 1      # u3
    assert out[(c1, 2)] == 1      # u3 two weeks on
    # multiple same-week events count a user once
    assert sum(n for (c, o), n in out.items() if c == c0 and o == 0) == 2


def test_event_funnel_quoted_step_names(spark):
    """Step names are plan literals, not interpolated SQL — a quote (or
    any other character) in a step name must not break the unpivot."""
    from pyspark.sql import functions as F

    rows = [
        (1, "2024-01-01 00:00:00", "it's a start"),
        (1, "2024-01-01 01:00:00", 'then "end"'),
        (2, "2024-01-01 00:30:00", "it's a start"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string, event_type string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    out = {r["step_name"]: r["n_users"] for r in event_funnel(
        df, "user_id", "ts", "event_type", ["it's a start", 'then "end"']
    ).collect()}
    assert out == {"it's a start": 2, 'then "end"': 1}


def test_event_funnel_conversion_window_semantics(spark):
    from datawarehousefinal_spark.operators.behavior import event_funnel
    from datetime import datetime

    rows = [
        # u1 converts within window: signup 00:00, click 01:00
        (1, datetime(2024, 1, 1, 0), "signup"),
        (1, datetime(2024, 1, 1, 1), "click"),
        # u2 clicks 10h after signup: outside the 6h window
        (2, datetime(2024, 1, 1, 0), "signup"),
        (2, datetime(2024, 1, 1, 10), "click"),
        # u3: greedy-from-first — the FIRST signup (00:00) misses the
        # window; the later signup (09:00) would have qualified but the
        # greedy scan anchors on the first occurrence
        (3, datetime(2024, 1, 1, 0), "signup"),
        (3, datetime(2024, 1, 1, 9), "signup"),
        (3, datetime(2024, 1, 1, 10), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r["step_name"]: r["n_users"] for r in
           event_funnel(df, "user_id", "ts", "event_type",
                        ["signup", "click"], max_gap_hours=6).collect()}
    assert out == {"signup": 3, "click": 1}
    # unbounded: all three click-after-signup users count
    out2 = {r["step_name"]: r["n_users"] for r in
            event_funnel(df, "user_id", "ts", "event_type",
                         ["signup", "click"]).collect()}
    assert out2 == {"signup": 3, "click": 3}


def test_top_event_paths_order_and_ties(spark):
    import datetime as dt

    from datawarehousefinal_spark.operators.behavior import top_event_paths

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1: a>b>c (plus a 4th event that must be ignored)
        (1, "a", t(1), 10), (1, "b", t(2), 11), (1, "c", t(3), 12),
        (1, "d", t(4), 13),
        # user 2: same opening a>b>c
        (2, "a", t(1), 20), (2, "b", t(2), 21), (2, "c", t(3), 22),
        # user 3: tie on ts at minute 1 -> event_id breaks it: b then a
        (3, "b", t(1), 30), (3, "a", t(1), 31), (3, "c", t(2), 32),
        # user 4: short history -> 2-step path
        (4, "a", t(1), 40), (4, "b", t(2), 41),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts", "event_id"])
    out = top_event_paths(df, "user_id", "event_type", "ts", "event_id").collect()
    got = [(r["path"], r["n_users"]) for r in out]
    assert got == [("a>b>c", 2), ("a>b", 1), ("b>a>c", 1)]



def test_conversion_attribution_epochs_and_carries(spark):
    import datetime as dt

    from datawarehousefinal_spark.operators.behavior import (
        conversion_attribution,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        # user 1: view, click, PURCHASE, error, view, PURCHASE, PURCHASE
        (1, ts(0), "view", 1),
        (1, ts(1), "click", 2),
        (1, ts(2), "purchase", 3),
        (1, ts(3), "error", 4),     # not a touch: ignored
        (1, ts(4), "view", 5),
        (1, ts(5), "purchase", 6),
        (1, ts(6), "purchase", 7),  # back-to-back: no touches in epoch
        # user 2: purchase with no history at all
        (2, ts(0), "purchase", 8),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "event_id"])
    out = {
        r["conversion_id"]: r
        for r in conversion_attribution(
            df, "user_id", "ts", "event_type", "event_id"
        ).collect()
    }
    assert set(out) == {3, 6, 7, 8}
    a = out[3]
    assert a["first_touch_type"] == "view" and a["last_touch_type"] == "click"
    assert a["n_touches"] == 2
    b = out[6]  # second epoch: only the view at t+4 (error doesn't count)
    assert b["first_touch_type"] == "view" and b["last_touch_type"] == "view"
    assert b["first_touch_ts"] == ts(4) and b["n_touches"] == 1
    c = out[7]  # immediate repeat purchase: empty epoch
    assert c["first_touch_type"] is None and c["n_touches"] == 0
    assert out[8]["first_touch_type"] is None and out[8]["n_touches"] == 0


def test_funnel_step_timing_needs_two_steps(funnel_events):
    from datawarehousefinal_spark.operators.behavior import funnel_step_timing

    with pytest.raises(ValueError, match="at least two steps"):
        funnel_step_timing(
            funnel_events, "user_id", "ts", "event_type", ["signup"]
        )
