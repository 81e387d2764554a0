"""The two materialization primitives: ``local_result`` returns the
same rows and schema as its source with no lineage and no blocks, and
``materialized`` always releases what it pinned."""

from __future__ import annotations

import math

import pytest

from datawarehousefinal_spark.materialize import local_result, materialized


def _persisted_rdd_ids(spark) -> set[int]:
    jsc = spark.sparkContext._jsc
    return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}


def _typed_frame(spark):
    """Two rows over every awkward type: decimal, date, timestamp,
    array, map, struct, NULL, NaN and -0.0, built by a real plan (not
    already a local relation)."""
    return spark.range(2).selectExpr(
        "CASE WHEN id = 0 THEN CAST(1234.56 AS DECIMAL(18,2)) END AS dec",
        "CASE WHEN id = 0 THEN DATE'2024-02-29' END AS d",
        "CASE WHEN id = 0 THEN TIMESTAMP'2024-02-29 12:34:56.789012' END AS ts",
        "CASE WHEN id = 0 THEN array(1, NULL, 3) END AS arr",
        "CASE WHEN id = 0 THEN map('a', 1.5D, 'b', CAST(NULL AS DOUBLE)) END AS m",
        "named_struct('k', id, 's', CASE WHEN id = 1 THEN 'x' END) AS st",
        "CAST(NULL AS STRING) AS none",
        "CAST('NaN' AS DOUBLE) AS nan",
        "CAST('-0.0' AS DOUBLE) AS negz",
        "id",
    )


def test_local_result_round_trips_values_and_schema(spark):
    src = _typed_frame(spark)
    expected = src.collect()
    assert math.isnan(expected[0]["nan"])
    assert math.copysign(1.0, expected[0]["negz"]) == -1.0
    before = _persisted_rdd_ids(spark)

    out = local_result(src)

    assert out.schema == src.schema
    # repr is exact where == is not: NaN != NaN, and -0.0 == 0.0
    assert repr(out.collect()) == repr(expected)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    assert _persisted_rdd_ids(spark) == before
    # a frame that is local already comes back as it is
    assert local_result(out) is out


@pytest.mark.parametrize("checkpoint", [False, True])
def test_materialized_releases_on_exit(spark, checkpoint):
    before = _persisted_rdd_ids(spark)
    df = spark.range(100).selectExpr("id", "id % 7 AS k")
    with materialized(df, checkpoint=checkpoint) as pinned:
        assert pinned.groupBy("k").count().count() == 7
        assert _persisted_rdd_ids(spark) - before
    assert not _persisted_rdd_ids(spark) - before


def test_materialized_releases_when_the_block_raises(spark):
    before = _persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError):
        with materialized(spark.range(10), checkpoint=True):
            raise RuntimeError("boom")
    assert not _persisted_rdd_ids(spark) - before
