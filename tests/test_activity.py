"""Unit tests for activity analytics (cumulative users, new-vs-returning)
and the sliding-window streaming aggregation."""

from __future__ import annotations

from datetime import datetime

import pytest

from datawarehousefinal_spark.operators.analytics import (
    cumulative_new_users,
    new_vs_returning_daily,
)


def _events(spark):
    rows = [
        # user, ts: u1 active d1+d2, u2 active d1, u3 first seen d2,
        # u3 again d3, u1 twice on d1 (dup activity same day)
        (1, datetime(2024, 1, 1, 9)),
        (1, datetime(2024, 1, 1, 17)),
        (2, datetime(2024, 1, 1, 12)),
        (1, datetime(2024, 1, 2, 8)),
        (3, datetime(2024, 1, 2, 9)),
        (3, datetime(2024, 1, 3, 9)),
    ]
    return spark.createDataFrame(rows, ["user_id", "ts"])


def test_cumulative_new_users(spark):
    out = {
        str(r["day"]): r
        for r in cumulative_new_users(_events(spark), "user_id", "ts").collect()
    }
    assert out["2024-01-01"]["n_new_users"] == 2
    assert out["2024-01-01"]["cum_users"] == 2
    assert out["2024-01-02"]["n_new_users"] == 1
    assert out["2024-01-02"]["cum_users"] == 3
    assert "2024-01-03" not in out  # no first-time users that day


def test_new_vs_returning_daily(spark):
    out = {
        str(r["day"]): r
        for r in new_vs_returning_daily(_events(spark), "user_id", "ts").collect()
    }
    # d1: u1, u2 both new (dup same-day activity counted once)
    assert out["2024-01-01"]["n_new_users"] == 2
    assert out["2024-01-01"]["n_returning_users"] == 0
    # d2: u3 new, u1 returning
    assert out["2024-01-02"]["n_new_users"] == 1
    assert out["2024-01-02"]["n_returning_users"] == 1
    # d3: u3 returning
    assert out["2024-01-03"]["n_new_users"] == 0
    assert out["2024-01-03"]["n_returning_users"] == 1


def test_sliding_window_counts_overlap(spark, tmp_path):
    from datawarehousefinal_spark.streaming.pipeline import (
        read_parquet_stream,
        run_to_memory,
        sliding_window_counts,
    )

    df = _events(spark)
    src = str(tmp_path / "src")
    df.repartition(2).write.parquet(src)
    stream = read_parquet_stream(spark, src, df.schema)
    counts = sliding_window_counts(
        stream, "ts", "2 days", "1 day", watermark="36500 days"
    )
    run_to_memory(counts, "t_sliding_unit", "complete")
    rows = {str(r["w_start"]): r for r in spark.table("t_sliding_unit").collect()}
    # every event is in two windows; window starting 2024-01-01 covers d1+d2
    assert rows["2024-01-01"]["n_events"] == 5
    # window starting 2023-12-31 covers only d1
    assert rows["2023-12-31"]["n_events"] == 3
    # w_end is always start + 2 days
    for r in rows.values():
        assert (r["w_end"] - r["w_start"]).days == 2


def test_phrase_search_exact_positions(spark):
    from datawarehousefinal_spark.operators.textstats import phrase_search

    rows = [
        (1, "full table scan on the table scan path"),   # 2 matches
        (2, "scan table then table  scan again"),         # 1 (multi-space)
        (3, "table of scans"),                            # 0
        (4, "TABLE SCAN uppercase"),                      # 1 (lowercased)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["n_matches"] for r in
           phrase_search(df, "doc_id", "text", ["table", "scan"]).collect()}
    assert out == {1: 2, 2: 1, 4: 1}


def test_phrase_search_three_words_and_repeats(spark):
    from datawarehousefinal_spark.operators.textstats import phrase_search

    rows = [(1, "go go go stop"), (2, "go stop go")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["n_matches"] for r in
           phrase_search(df, "doc_id", "text", ["go", "go"]).collect()}
    assert out == {1: 2}  # overlapping "go go" at pos 0 and 1


def test_grouped_exact_median(spark):
    from datawarehousefinal_spark.operators.analytics import (
        grouped_exact_median,
    )

    rows = (
        [("a", v) for v in [1, 3, 5, 7]]       # even: lower median 3
        + [("b", v) for v in [10, 20, 30]]     # odd: 20
        + [("c", v) for v in [2, 2, 2, 9]]     # ties: 2
    )
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r["g"]: r["median"] for r in
           grouped_exact_median(df, ["g"], "v").collect()}
    assert out == {"a": 3, "b": 20, "c": 2}


def test_ivm_join_delta_equals_full_join(spark):
    from datawarehousefinal_spark.operators.incremental import ivm_join_delta

    a = spark.createDataFrame(
        [(k, f"a{k}") for k in range(20)], ["k", "va"]
    )
    b = spark.createDataFrame(
        [(k % 7, f"b{k}") for k in range(15)], ["k", "vb"]
    )
    base_a, delta_a = a.filter("k % 3 != 0"), a.filter("k % 3 = 0")
    base_b, delta_b = b.filter("vb < 'b8'"), b.filter("vb >= 'b8'")
    full = a.join(b, "k")
    incr = base_a.join(base_b, "k").unionByName(
        ivm_join_delta(base_a, delta_a, base_b, delta_b, ["k"])
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, incr.collect())
    )


def test_max_drawdown_known_series(spark):
    from datawarehousefinal_spark.operators.timeseries import max_drawdown

    rows = [
        ("g1", 1, 10.0), ("g1", 2, 15.0), ("g1", 3, 7.0),  # dd 8 from 15
        ("g1", 4, 20.0), ("g1", 5, 18.0),                  # dd 2 from 20
        ("g2", 1, 5.0), ("g2", 2, 6.0),                    # dd 0
    ]
    df = spark.createDataFrame(rows, ["g", "t", "v"])
    out = {r["group"]: r for r in max_drawdown(df, "g", "t", "v").collect()}
    assert out["g1"]["max_drawdown"] == 8.0
    assert out["g1"]["peak_value"] == 20.0
    assert out["g2"]["max_drawdown"] == 0.0


def test_cm_sketch_merge_and_never_undercounts(spark):
    from datawarehousefinal_spark.operators.sketches import (
        cm_build_store,
        cm_merge,
        cm_point_estimates,
    )

    rows = [(f"u{i % 5}",) for i in range(50)]  # u0..u4, 10 each
    df = spark.createDataFrame(rows, ["u"])
    a = df.limit(20)
    full = cm_build_store(df, "u")
    merged = cm_merge(
        cm_build_store(a, "u"), cm_build_store(df.exceptAll(a), "u")
    )
    # merge == rebuild, cell for cell
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, merged.collect())
    )
    items = df.select("u").distinct()
    est = {r["u"]: r["est"] for r in
           cm_point_estimates(full, items, "u").collect()}
    for u in est:
        assert est[u] >= 10  # never undercounts


def test_event_transition_probs_known_sequence(spark):
    from datetime import datetime

    from datawarehousefinal_spark.operators.analytics import (
        event_transition_probs,
    )

    rows = [
        (1, datetime(2024, 1, 1, 0), "a", 1),
        (1, datetime(2024, 1, 1, 1), "b", 2),
        (1, datetime(2024, 1, 1, 2), "a", 3),
        (1, datetime(2024, 1, 1, 3), "c", 4),
        (2, datetime(2024, 1, 1, 0), "a", 5),
        (2, datetime(2024, 1, 1, 1), "b", 6),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "event_id"])
    out = {(r["from_type"], r["to_type"]): r for r in
           event_transition_probs(df, "user_id", "ts", "event_type",
                                  "event_id").collect()}
    assert out[("a", "b")]["n"] == 2
    assert out[("a", "c")]["n"] == 1
    assert out[("a", "b")]["p"] == 2 / 3
    assert out[("b", "a")]["n"] == 1
    assert ("c", "a") not in out  # c is terminal within user 1


def test_concurrent_intervals_sweep(spark):
    from datetime import date

    from datawarehousefinal_spark.operators.timeseries import (
        concurrent_intervals_daily,
    )

    rows = [
        (date(2024, 1, 1), date(2024, 1, 3)),
        (date(2024, 1, 2), date(2024, 1, 2)),
        (date(2024, 1, 10), date(2024, 1, 10)),
    ]
    df = spark.createDataFrame(rows, ["s", "e"])
    out = {str(r["day"]): r["n_open"] for r in
           concurrent_intervals_daily(df, "s", "e").collect()}
    # boundary days only: 1/1 (1 open), 1/2 (2), 1/3 (1 after -1 at 1/3),
    # 1/10 (1); 1/4 and 1/11 close to zero and are filtered
    assert out == {"2024-01-01": 1, "2024-01-02": 2,
                   "2024-01-03": 1, "2024-01-10": 1}


def test_phrase_search_rejects_empty_phrase(spark):
    from datawarehousefinal_spark.operators.textstats import phrase_search

    df = spark.createDataFrame([(1, "table scan")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="non-empty"):
        phrase_search(df, "doc_id", "text", [])
