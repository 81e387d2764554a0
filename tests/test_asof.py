"""As-of join unit tests: backward semantics, unmatched keys, collisions."""

from __future__ import annotations

import datetime as dt

import pytest

from datawarehousefinal_spark.operators.asof import asof_join


def _ts(h):
    return dt.datetime(2024, 1, 1, h, 0, 0)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "a"), (1, _ts(12), "b"), (2, _ts(8), "c"), (3, _ts(9), "d"),
         (1, _ts(11), "e")],
        ["k", "ts", "x"],
    )
    right = spark.createDataFrame(
        [(1, _ts(9), 100.0), (1, _ts(11), 200.0), (2, _ts(23), 300.0)],
        ["k", "ts", "v"],
    )
    return left, right


def test_backward_matches_most_recent_prior(spark, frames):
    left, right = frames
    out = {(r["k"], r["x"]): r["v"] for r in asof_join(left, right, ["k"], "ts").collect()}
    # "e" sits exactly on a right timestamp: the interval is closed
    assert out == {(1, "a"): 100.0, (1, "b"): 200.0, (2, "c"): None, (3, "d"): None,
                   (1, "e"): 200.0}


def test_left_rows_always_survive(spark, frames):
    left, right = frames
    assert asof_join(left, right, ["k"], "ts").count() == left.count()


def test_column_collision_raises(spark, frames):
    left, right = frames
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right.withColumnRenamed("v", "x"), ["k"], "ts")
