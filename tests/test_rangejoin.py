"""Bucketized range join: parity with the naive BETWEEN join, plan shape,
the wide-interval guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.rangejoin import bucketize_range_join
from datawarehousefinal_spark.plans import assert_no_cartesian


@pytest.fixture(scope="module")
def pts_bands(spark):
    pts = spark.range(0, 2000).select(
        F.col("id").alias("pid"), (F.col("id") % 997).cast("double").alias("p")
    )
    bands = spark.createDataFrame(
        [(i, float(i * 50), float(i * 50 + 74.5)) for i in range(25)],
        ["band_id", "lo", "hi"],
    )
    return pts, bands


def test_matches_naive_between_join(spark, pts_bands):
    pts, bands = pts_bands
    naive = {
        (r["pid"], r["band_id"])
        for r in pts.join(
            bands, (F.col("p") >= F.col("lo")) & (F.col("p") <= F.col("hi"))
        ).collect()
    }
    got = {
        (r["pid"], r["band_id"])
        for r in bucketize_range_join(pts, bands, "p", "lo", "hi", 50.0).collect()
    }
    assert got == naive and len(got) > 0


def test_plan_is_hash_join_not_nested_loop(spark, pts_bands):
    pts, bands = pts_bands
    out = bucketize_range_join(pts, bands, "p", "lo", "hi", 50.0)
    assert_no_cartesian(out)


def test_collision_raises(spark, pts_bands):
    pts, bands = pts_bands
    with pytest.raises(ValueError, match="collide"):
        bucketize_range_join(
            pts, bands.withColumnRenamed("band_id", "pid"), "p", "lo", "hi", 50.0
        )


def test_degenerate_interval_error_by_default(spark, pts_bands):
    pts, bands = pts_bands
    wide = bands.unionByName(
        bands.sparkSession.createDataFrame(
            [(99, 0.0, 1e12)], ["band_id", "lo", "hi"]
        )
    )
    with pytest.raises(ValueError, match="buckets at"):
        bucketize_range_join(
            pts, wide, "p", "lo", "hi", 50.0, max_buckets_per_interval=100
        )
