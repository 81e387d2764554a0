import pytest


def test_drift_report_identity_and_shift(spark):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.profile import drift_report

    base = spark.range(0, 2000).select(
        (F.col("id") % 100).cast("double").alias("v"),
        F.when(F.col("id") % 10 < 7, "a").otherwise("b").alias("c"),
    )
    # identical snapshots: psi == 0 exactly (smoothing never kicks in on
    # matching non-empty buckets)
    same = {r["col_name"]: r for r in drift_report(
        base, base, numeric_cols=["v"], categorical_cols=["c"]
    ).collect()}
    assert abs(same["v"]["psi"]) < 1e-12
    assert abs(same["c"]["psi"]) < 1e-12
    assert same["v"]["n_old"] == same["v"]["n_new"] == 2000
    # shifted numeric + flipped category mix: both PSIs cross the
    # major-shift threshold
    shifted = spark.range(0, 2000).select(
        (F.col("id") % 100 + 60).cast("double").alias("v"),
        F.when(F.col("id") % 10 < 2, "a").otherwise("b").alias("c"),
    )
    moved = {r["col_name"]: r for r in drift_report(
        base, shifted, numeric_cols=["v"], categorical_cols=["c"]
    ).collect()}
    assert moved["v"]["psi"] > 0.25
    assert moved["c"]["psi"] > 0.25
    # a category present only in the NEW snapshot still yields finite psi
    novel = spark.range(0, 2000).select(
        (F.col("id") % 100).cast("double").alias("v"),
        F.lit("z").alias("c"),
    )
    import math
    nv = {r["col_name"]: r for r in drift_report(
        base, novel, numeric_cols=["v"], categorical_cols=["c"]
    ).collect()}
    assert math.isfinite(nv["c"]["psi"]) and nv["c"]["psi"] > 1.0


# ---------------------------------------------------------------------------
# Snapshot diff
# ---------------------------------------------------------------------------


def test_snapshot_diff_classifies_all_statuses(spark):
    from datawarehousefinal_spark.operators.profile import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        ["k", "s", "v"],
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40), (5, "e", 50)],
        ["k", "s", "v"],
    )
    rows = {r["k"]: r for r in snapshot_diff(old, new, ["k"]).collect()}
    assert rows[1]["status"] == "unchanged" and rows[1]["n_changed_cols"] == 0
    assert rows[2]["status"] == "changed" and rows[2]["n_changed_cols"] == 1
    assert rows[3]["status"] == "removed"
    assert rows[4]["status"] == "changed", "NULL -> value must count as change"
    assert rows[5]["status"] == "added"


def test_snapshot_diff_scoped_compare_cols(spark):
    from datawarehousefinal_spark.operators.profile import snapshot_diff

    old = spark.createDataFrame([(1, "a", 10)], ["k", "s", "v"])
    new = spark.createDataFrame([(1, "a", 99)], ["k", "s", "v"])
    row = snapshot_diff(old, new, ["k"], compare_cols=["s"]).collect()[0]
    assert row["status"] == "unchanged", "v is out of scope"


def test_snapshot_diff_plan_single_join_no_bnlj(spark, sf_dir):
    from datawarehousefinal_spark.operators.profile import snapshot_diff
    from datawarehousefinal_spark.plans.audit import physical_plan
    from datawarehousefinal_spark.sources.testdata import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    plan = physical_plan(snapshot_diff(o, o.limit(10), ["o_orderkey"]))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_column_entropy_report_known_values(spark):
    from datawarehousefinal_spark.operators.profile import column_entropy_report
    import math

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("c", None)],
        "k string, v int",
    )
    out = {r["column"]: r for r in column_entropy_report(df, ["k", "v"]).collect()}
    # k: p = [.5,.25,.25] over 4 non-null -> 1.5 bits
    assert out["k"]["n_values"] == 4 and out["k"]["n_distinct"] == 3
    assert abs(out["k"]["entropy"] - 1.5) < 1e-9
    # v: 3 distinct uniform over 3 non-null -> log2(3)
    assert out["v"]["n_values"] == 3 and out["v"]["n_distinct"] == 3
    assert abs(out["v"]["entropy"] - math.log2(3)) < 1e-9


def test_embedding_profile_flags_and_norms(spark):
    from datawarehousefinal_spark.operators.profile import embedding_profile

    rows = [
        (1, [3.0, 4.0]),            # norm 5
        (2, [0.0, 0.0]),            # norm 0
        (3, None),                  # null
        (4, [1.0]),                 # wrong dim
        (5, [float("nan"), 1.0]),   # non-finite
        (6, [float("inf"), 1.0]),   # non-finite
    ]
    df = spark.createDataFrame(rows, "id long, embedding array<float>")
    r = embedding_profile(df, "embedding", 2).first()
    assert r["n_vectors"] == 6
    assert r["n_null"] == 1
    assert r["n_wrong_dim"] == 1
    assert r["n_nonfinite"] == 2
    assert abs(r["avg_norm"] - 2.5) < 1e-9
    assert r["min_norm"] == 0.0 and abs(r["max_norm"] - 5.0) < 1e-9


def test_histogram_and_drift_reject_zero_bins(spark):
    from datawarehousefinal_spark.operators.profile import (
        drift_report,
        value_histogram,
    )

    df = spark.range(0, 10).selectExpr("cast(id as double) as v")
    with pytest.raises(ValueError, match="bins must be >= 1"):
        value_histogram(df, "v", bins=0)
    with pytest.raises(ValueError, match="bins must be >= 1"):
        drift_report(df, df, numeric_cols=["v"], bins=0)
