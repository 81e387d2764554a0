"""SCD2 operators: version collapse semantics and point-in-time lookup."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.scd import scd2_from_history


def _ts(d):
    return dt.datetime(2024, 1, d, 0, 0, 0)


@pytest.fixture(scope="module")
def history(spark):
    # user 1: a -> a -> b -> b -> a   => versions a, b, a
    # user 2: x (single)              => one current version
    # user 3: NULL -> NULL -> y       => NULL run collapses, then y
    rows = [
        (1, "a", _ts(1)), (1, "a", _ts(2)), (1, "b", _ts(3)),
        (1, "b", _ts(4)), (1, "a", _ts(5)),
        (2, "x", _ts(1)),
        (3, None, _ts(1)), (3, None, _ts(2)), (3, "y", _ts(3)),
    ]
    return spark.createDataFrame(rows, ["uid", "attr", "ts"])


def test_version_collapse(spark, history):
    scd = scd2_from_history(history, ["uid"], ["attr"], "ts")
    rows = sorted(
        ((r["uid"], r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
         for r in scd.collect()),
        key=lambda t: (t[0], t[1] or "", t[2]),
    )
    assert rows == [
        (1, "a", _ts(1), _ts(3), False),
        (1, "a", _ts(5), None, True),
        (1, "b", _ts(3), _ts(5), False),
        (2, "x", _ts(1), None, True),
        (3, None, _ts(1), _ts(3), False),
        (3, "y", _ts(3), None, True),
    ]


def test_one_current_version_per_key(spark, history):
    scd = scd2_from_history(history, ["uid"], ["attr"], "ts")
    cur = scd.filter(F.col("is_current")).groupBy("uid").count().collect()
    assert all(r["count"] == 1 for r in cur)


def test_apply_changes_upsert_delete_latest_wins(spark):
    from datawarehousefinal_spark.operators.scd import apply_changes

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        ["k", "status", "price"],
    )
    changes = spark.createDataFrame(
        [
            (2, "U", 1, "b2", 21.0),   # update
            (3, "U", 1, "c2", 31.0),   # superseded by the later delete
            (3, "D", 2, None, None),   # delete wins (higher seq)
            (5, "I", 1, "e", 50.0),    # insert
            (5, "U", 2, "e2", 51.0),   # later image of the same key
        ],
        ["k", "op", "seq", "status", "price"],
    )
    out = apply_changes(base, changes, ["k"], op_col="op", seq_col="seq")
    rows = {r["k"]: (r["status"], r["price"]) for r in out.collect()}
    assert rows == {
        1: ("a", 10.0),
        2: ("b2", 21.0),
        4: ("d", 40.0),
        5: ("e2", 51.0),
    }
    assert out.columns == base.columns


def test_apply_changes_without_seq_is_single_image(spark):
    from datawarehousefinal_spark.operators.scd import apply_changes

    base = spark.createDataFrame([(1, "a")], ["k", "v"])
    changes = spark.createDataFrame([(1, "D", None), (2, "I", "b")],
                                    ["k", "op", "v"])
    out = apply_changes(base, changes, ["k"], op_col="op")
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows == {2: "b"}


def test_extract_changes_minimal_and_roundtrip(spark):
    from datawarehousefinal_spark.operators.scd import (
        apply_changes,
        extract_changes,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        ["k", "s", "m"],
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged -> no change row
         (2, "b2", 20.0),       # update
         (3, "c", None),        # unchanged incl. NULL attr (null-safe)
         (5, "e", 50.0)],       # insert; key 4 deleted
        ["k", "s", "m"],
    )
    ch = extract_changes(old, new, ["k"])
    ops = {r["k"]: r["op"] for r in ch.collect()}
    assert ops == {2: "U", 4: "D", 5: "I"}  # minimal: 1 and 3 absent

    applied = apply_changes(old, ch, ["k"])
    got = sorted((r["k"], r["s"], r["m"]) for r in applied.collect())
    want = sorted((r["k"], r["s"], r["m"]) for r in new.collect())
    assert got == want


def test_extract_apply_identity_randomized(spark):
    """apply(old, extract(old, new)) == new on seeded random snapshot
    pairs with NULL attributes, overlapping/disjoint keys, and
    composite keys — the differential pin for the CDC pair beyond the
    single handcrafted case."""
    import random

    from datawarehousefinal_spark.operators.scd import (
        apply_changes,
        extract_changes,
    )

    rng = random.Random(31)

    def snapshot(keys):
        return [
            (
                k,
                rng.choice(["x", "y", None]),
                rng.choice([None, round(rng.uniform(0, 100), 2)]),
            )
            for k in keys
        ]

    for trial in range(4):
        universe = list(range(30))
        old_keys = sorted(rng.sample(universe, rng.randint(0, 25)))
        new_keys = sorted(rng.sample(universe, rng.randint(0, 25)))
        old = spark.createDataFrame(
            snapshot(old_keys) or [(None, None, None)],
            "k int, s string, m double",
        ).filter("k IS NOT NULL")
        new = spark.createDataFrame(
            snapshot(new_keys) or [(None, None, None)],
            "k int, s string, m double",
        ).filter("k IS NOT NULL")
        ch = extract_changes(old, new, ["k"])
        applied = apply_changes(old, ch, ["k"])
        got = sorted(map(tuple, applied.collect()))
        want = sorted(map(tuple, new.collect()))
        assert got == want, f"trial {trial}: {got} != {want}"
