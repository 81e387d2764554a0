"""Skew operators: result equality with the plain join/aggregate on a
deliberately skewed fixture, plus plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.skew import (
    salted_join,
    two_stage_distinct_count,
)


@pytest.fixture(scope="module")
def skewed(spark):
    """90% of rows share one hot key."""
    base = spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("HOT"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 97).cast("string")))
        .alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
        F.col("id"),
    )
    return base


@pytest.fixture(scope="module")
def lookup(spark):
    rows = [("HOT", "hot-group")] + [(f"k{i}", f"group-{i % 5}") for i in range(97)]
    return spark.createDataFrame(rows, ["k", "grp"])


def test_salted_join_equals_plain_join(spark, skewed, lookup):
    plain = skewed.join(lookup, "k").groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    salted = salted_join(skewed, lookup, ["k"], num_salts=8).groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_two_stage_distinct_count_equals_count_distinct(spark, skewed):
    plain = {
        (r["k"], r["d"])
        for r in skewed.groupBy("k")
        .agg(F.countDistinct("v").alias("d"))
        .collect()
    }
    got = {
        (r["k"], r["n_distinct"])
        for r in two_stage_distinct_count(skewed, ["k"], "v").collect()
    }
    assert got == plain


def test_two_stage_distinct_count_excludes_nulls(spark):
    df = spark.createDataFrame(
        [("g", 1), ("g", 2), ("g", None), ("h", None)],
        "k string, v int",
    )
    got = {
        r["k"]: r["n_distinct"]
        for r in two_stage_distinct_count(df, ["k"], "v").collect()
    }
    plain = {
        r["k"]: r["d"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("d")).collect()
    }
    assert got == plain == {"g": 2, "h": 0}
