"""Sketch-store tests: HLL estimate accuracy, append-equals-rebuild
exactness, rollup merging, and KLL rank-error tolerance."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.sketches import (
    hll_append,
    hll_build_store,
    hll_rollup,
    kll_build_store,
    kll_quantiles,
)
from datawarehousefinal_spark.sources.testdata import load_table


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "user_id", "value", F.to_date("ts").alias("day")
    )


def test_hll_store_estimates_within_error_bound(spark, sf_dir):
    ev = _events(spark, sf_dir)
    store = hll_build_store(ev, "user_id", ["day"], lgk=12)
    exact = {
        r["day"]: r["d"]
        for r in ev.groupBy("day")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for r in store.collect():
        assert abs(r["distinct_est"] - exact[r["day"]]) <= max(
            3, 0.05 * exact[r["day"]]
        ), f"day {r['day']}: est {r['distinct_est']} vs exact {exact[r['day']]}"


def test_hll_append_equals_rebuild_exactly(spark, sf_dir):
    ev = _events(spark, sf_dir)
    old = ev.filter(F.dayofmonth("day") <= 15)
    new = ev.filter(F.dayofmonth("day") > 15)
    appended = hll_append(
        hll_build_store(old, "user_id", ["day"]),
        hll_build_store(new, "user_id", ["day"]),
        ["day"],
    )
    rebuilt = hll_build_store(ev, "user_id", ["day"])
    a = {r["day"]: (r["distinct_est"], r["n_rows"]) for r in appended.collect()}
    b = {r["day"]: (r["distinct_est"], r["n_rows"]) for r in rebuilt.collect()}
    assert a == b


def test_hll_rollup_matches_global_estimate(spark, sf_dir):
    ev = _events(spark, sf_dir)
    store = hll_build_store(ev, "user_id", ["day"])
    rolled = hll_rollup(store, []).collect()[0]
    direct = (
        ev.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("long"))
        .collect()[0][0]
    )
    assert rolled["distinct_est"] == direct
    exact = ev.select("user_id").distinct().count()
    assert abs(rolled["distinct_est"] - exact) <= max(3, 0.05 * exact)


def test_kll_quantiles_within_rank_error(spark, sf_dir):
    ev = _events(spark, sf_dir)
    store = kll_build_store(ev, "value", ["day"])
    q = kll_quantiles(store, [0.5, 0.99]).collect()[0]
    vals = sorted(
        r["value"] for r in ev.select("value").collect() if r["value"] is not None
    )

    def rank(v):
        import bisect

        return bisect.bisect_left(vals, v) / len(vals)

    assert abs(rank(q["q_50"]) - 0.5) < 0.05
    assert abs(rank(q["q_99"]) - 0.99) < 0.05
    assert q["n_rows"] == len(vals)


def test_kll_store_merge_stable_under_split(spark, sf_dir):
    ev = _events(spark, sf_dir)
    whole = kll_quantiles(kll_build_store(ev, "value", ["day"]), [0.5]).collect()[0]
    # partition the SAME rows differently: by day-half instead of day
    halves = ev.withColumn("h", (F.dayofmonth("day") <= 15).cast("int"))
    other = kll_quantiles(kll_build_store(halves, "value", ["h"]), [0.5]).collect()[0]
    vals = sorted(
        r["value"] for r in ev.select("value").collect() if r["value"] is not None
    )
    import bisect

    for est in (whole["q_50"], other["q_50"]):
        assert abs(bisect.bisect_left(vals, est) / len(vals) - 0.5) < 0.05


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters
# ---------------------------------------------------------------------------

def _zipf_df(spark, n_values=200, n_rows=5000):
    """Deterministic Zipf-ish stream: value i appears ~n_rows/(i+1) times,
    shuffled by a hash so heavy values are spread across partitions."""
    rows = []
    i = 0
    while len(rows) < n_rows and i < n_values:
        rows.extend([f"v{i:03d}"] * max(n_rows // (2 * (i + 1)), 1))
        i += 1
    rows = rows[:n_rows]
    df = spark.createDataFrame([(v,) for v in rows], "value string")
    # deterministic scatter so each partition sees a mixed stream
    return (
        df.withColumn("h", F.xxhash64("value", F.monotonically_increasing_id()))
        .repartition(8, "h")
        .drop("h")
    )


def test_heavy_hitters_matches_exact_topk(spark):
    from datawarehousefinal_spark.operators.sketches import heavy_hitters_exact

    df = _zipf_df(spark)
    got = heavy_hitters_exact(df, "value", k=10, summary_size=64).collect()
    want = (
        df.groupBy("value")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "value")
        .limit(10)
        .collect()
    )
    assert [(r["value"], r["cnt"]) for r in got] == [
        (r["value"], r["cnt"]) for r in want
    ]


def test_mg_summary_bound_under_truncation(spark):
    """Forced truncation (summary_size << distinct): merged MG weights
    undercount, and by no more than n/(m+1) — the public MG bound."""
    from datawarehousefinal_spark.operators.sketches import misra_gries_summaries

    df = _zipf_df(spark, n_values=500, n_rows=4000).coalesce(2)
    m = 32
    merged = {
        r["value"]: r["w"]
        for r in misra_gries_summaries(df, "value", m)
        .groupBy("value")
        .agg(F.sum("mg_weight").alias("w"))
        .collect()
    }
    true = {
        r["value"]: r["cnt"]
        for r in df.groupBy("value").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n = sum(true.values())
    assert merged, "summaries must be non-empty"
    for v, w in merged.items():
        assert w <= true[v], f"MG must undercount ({v})"
    for v, c in true.items():
        assert c - merged.get(v, 0) <= n / (m + 1) + 1e-9, f"bound violated ({v})"


def test_mg_no_truncation_is_exact(spark):
    from datawarehousefinal_spark.operators.sketches import misra_gries_summaries

    df = _zipf_df(spark, n_values=30, n_rows=1000)
    merged = {
        r["value"]: r["w"]
        for r in misra_gries_summaries(df, "value", 4096)
        .groupBy("value")
        .agg(F.sum("mg_weight").alias("w"))
        .collect()
    }
    true = {
        r["value"]: r["cnt"]
        for r in df.groupBy("value").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert merged == true


def test_kmv_merge_equals_rebuild_and_accuracy(spark):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.sketches import (
        kmv_build_store,
        kmv_estimate,
        kmv_merge,
    )

    df = spark.range(0, 5000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        (F.col("id") % 1700).alias("v"),  # 1700 distinct values overall
    )
    store = kmv_build_store(df, ["g"], "v", k=64)
    merged = kmv_merge(store.withColumn("g", F.lit("ALL")), ["g"], k=64)
    direct = kmv_build_store(
        df.withColumn("g", F.lit("ALL")), ["g"], "v", k=64
    )
    m = merged.collect()[0]
    d = direct.collect()[0]
    assert m["kmv"] == d["kmv"] and m["n_seen"] == d["n_seen"]

    est = kmv_estimate(direct, k=64).collect()[0]["distinct_est"]
    assert abs(est - 1700) / 1700 < 0.35  # ~1/sqrt(62) ≈ 13% rse; 0.35 safe

    # exact regime: fewer than k distinct -> exact count served
    small = kmv_build_store(
        spark.range(0, 40).select(F.lit("s").alias("g"), F.col("id").alias("v")),
        ["g"], "v", k=64,
    )
    s = kmv_estimate(small, k=64).collect()[0]
    assert s["n_seen"] == 40 and s["distinct_est"] == 40.0


def test_kmv_ignores_null_values(spark):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.sketches import (
        kmv_build_store,
        kmv_estimate,
    )

    df = spark.createDataFrame(
        [("g", 1), ("g", None), ("g", 2), ("g", None)],
        "g string, v int",
    )
    r = kmv_estimate(kmv_build_store(df, ["g"], "v", k=8), k=8).collect()[0]
    assert r["n_seen"] == 2 and r["distinct_est"] == 2.0

def test_bloom_merge_equals_rebuild_membership_and_estimate(spark):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.sketches import (
        bloom_build_store,
        bloom_contains_literal,
        bloom_estimate,
        bloom_merge,
        bloom_probe_positions,
    )

    m_bits, k = 2048, 4
    df = spark.range(0, 3000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        (F.col("id") % 900).alias("v"),  # 900 distinct items overall
    )
    store = bloom_build_store(df, ["g"], "v", m_bits, k)
    merged = bloom_merge(store.withColumn("g", F.lit("ALL")), ["g"])
    direct = bloom_build_store(
        df.withColumn("g", F.lit("ALL")), ["g"], "v", m_bits, k
    )
    mr, dr = merged.collect()[0], direct.collect()[0]
    assert mr["bits"] == dr["bits"] and mr["bits_set"] == dr["bits_set"]

    # no false negatives: every inserted item tests present
    probe_in = bloom_probe_positions(123, m_bits, k)  # 123 < 900 -> inserted
    probe_out = bloom_probe_positions("never-inserted", m_bits, k)
    flags = direct.select(
        bloom_contains_literal(F.col("bits"), probe_in).alias("has_in"),
        bloom_contains_literal(F.col("bits"), probe_out).alias("has_out"),
    ).collect()[0]
    assert flags["has_in"] is True
    # 900 items * 4 hashes in 2048 bits -> fill ~0.83; an absent probe CAN
    # false-positive, so only assert the positive direction above and the
    # estimate below.

    est = bloom_estimate(direct, m_bits, k).collect()[0]
    assert est["bits_set"] <= m_bits
    assert abs(est["distinct_est"] - 900) / 900 < 0.25

    # Python probe positions == engine positions (same md5 arithmetic)
    eng = (
        spark.range(123, 124)
        .select(F.col("id").alias("v"))
        .withColumn("__j", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
    )
    from datawarehousefinal_spark.operators.sketches import _bloom_pos

    eng_pos = sorted(
        {r[0] for r in eng.select(_bloom_pos("v", "__j", 42, m_bits)).collect()}
    )
    assert eng_pos == probe_in


def test_bloom_ignores_null_items_and_saturation_guard(spark):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.sketches import (
        bloom_build_store,
        bloom_estimate,
    )

    df = spark.createDataFrame(
        [("g", 1), ("g", None), ("g", 2)], "g string, v int"
    )
    r = bloom_build_store(df, ["g"], "v", 64, 2).collect()[0]
    assert 1 <= r["bits_set"] <= 4  # two items x two hashes, minus collisions

    # saturation: tiny filter, many items -> every bit set -> NULL estimate
    big = spark.range(0, 500).select(
        F.lit("g").alias("g"), F.col("id").alias("v")
    )
    sat = bloom_estimate(
        bloom_build_store(big, ["g"], "v", 8, 2), 8, 2
    ).collect()[0]
    assert sat["bits_set"] == 8 and sat["distinct_est"] is None


def test_kmv_overlap_exact_regime_and_estimate(spark):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.sketches import (
        kmv_build_store,
        kmv_overlap,
    )

    # exact regime: both groups under k -> sketches ARE the sets, so the
    # overlap "estimates" are the true Jaccard/union/intersection
    df = spark.createDataFrame(
        [("a", v) for v in range(30)] + [("b", v) for v in range(20, 50)],
        "g string, v int",
    )
    store = kmv_build_store(df, ["g"], "v", k=64)
    a = store.filter("g = 'a'").select(
        F.col("kmv").alias("ka"), F.col("n_seen").alias("n_a")
    )
    b = store.filter("g = 'b'").select(
        F.col("kmv").alias("kb"), F.col("n_seen").alias("n_b")
    )
    r = kmv_overlap(a.crossJoin(b), "ka", "kb", k=64).collect()[0]
    assert r["est_union"] == 50.0
    assert abs(r["est_jaccard"] - 10 / 50) < 1e-12
    assert abs(r["est_intersection"] - 10.0) < 1e-9

    # estimated regime: overlapping ranges, k well under distinct count
    big = spark.createDataFrame(
        [("a", v) for v in range(0, 1000)]
        + [("b", v) for v in range(500, 1500)],
        "g string, v int",
    )
    st = kmv_build_store(big, ["g"], "v", k=64)
    aa = st.filter("g = 'a'").select(F.col("kmv").alias("ka"))
    bb = st.filter("g = 'b'").select(F.col("kmv").alias("kb"))
    e = kmv_overlap(aa.crossJoin(bb), "ka", "kb", k=64).collect()[0]
    # true: union 1500, intersection 500, J = 1/3; KMV rse ~ 1/sqrt(62)
    assert abs(e["est_union"] - 1500) / 1500 < 0.4
    assert abs(e["est_jaccard"] - 1 / 3) < 0.2


def test_cm_rollup_equals_direct_build(spark):
    from datawarehousefinal_spark.operators.sketches import (
        cm_build_store,
        cm_rollup,
    )

    # 3 coarse groups x 4 sub-partitions, skewed values
    df = spark.range(0, 6000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 12).cast("string").alias("sub"),
        (F.col("id") % 97).alias("v"),
    )
    daily = cm_build_store(df, "v", part_cols=["g", "sub"])
    rolled = cm_rollup(daily, ["g"])
    direct = cm_build_store(df, "v", part_cols=["g"])
    # CM merge is exactly linear: the rolled-up store must be
    # cell-for-cell IDENTICAL to one built directly at the coarse grain.
    assert rolled.exceptAll(direct).count() == 0
    assert direct.exceptAll(rolled).count() == 0


def test_cm_grouped_point_estimates_never_undercount(spark):
    from datawarehousefinal_spark.operators.sketches import (
        cm_build_store,
        cm_point_estimates,
    )

    df = spark.range(0, 4000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        # decoupled from g (id%2 and id%50 share parity)
        (F.floor(F.col("id") / 2) % 50).alias("v"),
    )
    store = cm_build_store(df, "v", part_cols=["g"])
    items = df.select("g", "v").distinct()
    est = cm_point_estimates(store, items, "v", group_cols=["g"])
    exact = df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("exact"))
    joined = est.join(exact, ["g", "v"]).collect()
    assert len(joined) == 100  # every (g, v) tracked
    # the CM guarantee, per group: min-of-cells never undercounts
    assert all(r["est"] >= r["exact"] for r in joined)


def test_kll_grouped_quantiles_within_rank_error(spark):
    from datawarehousefinal_spark.operators.sketches import (
        kll_build_store,
        kll_quantiles,
    )

    # two groups with DIFFERENT distributions so a cross-group leak
    # would blow the rank check: g0 uniform 0..999, g1 uniform 0..99
    df = spark.range(0, 8000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        (F.col("id") % 4).cast("string").alias("sub"),
        F.when(F.col("id") % 2 == 0, (F.col("id") % 1000))
        .otherwise(F.col("id") % 100)
        .cast("double")
        .alias("v"),
    )
    store = kll_build_store(df, "v", ["g", "sub"])
    out = {
        r["g"]: r
        for r in kll_quantiles(store, [0.5, 0.95], group_cols=["g"]).collect()
    }
    rows = df.collect()
    for g, lo_hi in {"0": 1000, "1": 100}.items():
        vals = sorted(r["v"] for r in rows if r["g"] == g)
        n = len(vals)
        assert out[g]["n_rows"] == n
        for q, col in ((0.5, "q_50"), (0.95, "q_95")):
            est = out[g][col]
            rank = sum(1 for v in vals if v <= est) / n
            assert abs(rank - q) < 0.05, (g, col, est, rank)
        # sanity: the per-group estimate reflects ITS distribution
        assert out[g]["q_95"] <= lo_hi
