"""Data-quality expectations (operators/quality.py): planted violations,
single-scan row rules, empty-input edges."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.quality import (
    dq_report,
    foreign_key_report,
    row_rule_report,
    unique_report,
)
from datawarehousefinal_spark.plans.audit import physical_plan


@pytest.fixture(scope="module")
def fact(spark):
    rows = [
        (1, 10, 5.0, "a"),
        (2, 10, -1.0, "b"),     # negative value
        (3, 11, 2.0, None),     # null tag
        (3, 11, 3.0, "c"),      # duplicate (k1, k2)
        (4, 99, 1.0, "d"),      # orphan fk (99 not in dim)
        (5, None, 1.0, "e"),    # null fk: NOT an orphan by contract
    ]
    return spark.createDataFrame(rows, "k1 long, fk long, v double, tag string")


@pytest.fixture(scope="module")
def dim(spark):
    return spark.createDataFrame([(10,), (11,)], "id long")


def test_row_rules_single_scan(fact):
    rep = row_rule_report(
        fact,
        {
            "negative_v": F.col("v") < 0,
            "null_tag": F.col("tag").isNull(),
        },
    )
    out = {r["check"]: r["n_violations"] for r in rep.collect()}
    assert out == {"negative_v": 1, "null_tag": 1}
    # all rules fold into ONE aggregate over one scan: a single
    # single-partition exchange, no join, no second scan (executed AQE
    # plans repeat the initial plan below a marker — count the final only)
    plan = physical_plan(rep).split("== Initial Plan ==")[0]
    assert plan.count("Scan") == 1, plan


def test_unique_report_counts_extras(fact):
    out = unique_report(fact, "pk", ["k1", "fk"]).collect()[0]
    assert (out["check"], out["n_violations"]) == ("pk", 1)


def test_unique_report_empty_input_is_zero(spark):
    df = spark.createDataFrame([], "k long")
    out = unique_report(df, "pk", ["k"]).collect()[0]
    assert out["n_violations"] == 0


def test_foreign_key_ignores_null_keys(fact, dim):
    out = foreign_key_report(fact, "fk_dim", "fk", dim, "id").collect()[0]
    assert (out["check"], out["n_violations"]) == ("fk_dim", 1)  # only id 99


def test_dq_report_union_shape(fact, dim):
    rep = dq_report(
        fact,
        row_rules={"negative_v": F.col("v") < 0},
        unique_keys={"pk": ["k1", "fk"]},
        foreign_keys={"fk_dim": ("fk", dim, "id")},
    )
    out = {r["check"]: r["n_violations"] for r in rep.collect()}
    assert out == {"negative_v": 1, "pk": 1, "fk_dim": 1}


def test_dq_report_requires_rules(fact):
    with pytest.raises(ValueError):
        dq_report(fact)


def test_row_rules_quoted_names_and_odd_columns(spark):
    """Rule names are literals (quote-safe); profiled column names never
    enter identifiers (dot-safe)."""
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.profile import profile_table
    from datawarehousefinal_spark.operators.quality import row_rule_report

    df = spark.createDataFrame([(1, None), (2, 5)], ["a", "b"])
    out = {r["check"]: r["n_violations"] for r in row_rule_report(
        df, {"b isn't null": F.col("b").isNull(), 'a "big"': F.col("a") > 1}
    ).collect()}
    assert out == {"b isn't null": 1, 'a "big"': 1}

    odd = df.withColumnRenamed("a", "weird.col'name")
    prof = {r["column"]: r["n_nulls"] for r in profile_table(odd).collect()}
    assert prof == {"weird.col'name": 0, "b": 1}


def test_row_rule_report_needs_a_rule(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="at least one rule"):
        row_rule_report(df, {})
    with pytest.raises(ValueError, match="at least one rule"):
        dq_report(df)
