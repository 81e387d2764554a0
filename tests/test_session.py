"""Session factory behavior: generated code is compiled once per session,
and ``scoped_shuffle_partitions`` always restores the session value."""

from __future__ import annotations

import pytest

from datawarehousefinal_spark import queries as Q
from datawarehousefinal_spark.session import scoped_shuffle_partitions

# The batch faces of the etl_star benchmark workload, in its list order.
_ETL_STAR = [
    "csv_repair_roundtrip", "filter_split_union", "dim_build_surrogate",
    "scd2_user_event_history", "parquet_sink_roundtrip",
    "linreg_trend_forecast", "exact_dedup", "centroid_cosine_matrix",
    "rebalanced_mix",
]

_KEY = "spark.sql.shuffle.partitions"


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (driver and local executors)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run(spark, sf_dir: str, name: str) -> None:
    Q.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def test_generated_code_is_compiled_once(spark, sf_dir):
    for name in _ETL_STAR:
        _run(spark, sf_dir, name)
    before = _compiles(spark)
    for name in _ETL_STAR:
        _run(spark, sf_dir, name)
    assert _compiles(spark) - before == 0


def test_repeat_call_compiles_nothing(spark, sf_dir):
    # AQE numbers whole-stage codegen stages in planning order, which can
    # differ between calls: the stage ID must stay out of the class name.
    _run(spark, sf_dir, "share_of_parent_rollup")
    before = _compiles(spark)
    _run(spark, sf_dir, "share_of_parent_rollup")
    assert _compiles(spark) - before == 0


def test_scoped_shuffle_partitions_restores_on_exit(spark):
    prev = spark.conf.get(_KEY)
    with scoped_shuffle_partitions(spark, 3):
        assert spark.conf.get(_KEY) == "3"
    assert spark.conf.get(_KEY) == prev


def test_scoped_shuffle_partitions_restores_on_raise(spark):
    prev = spark.conf.get(_KEY)
    with pytest.raises(RuntimeError, match="inside"):
        with scoped_shuffle_partitions(spark, 3):
            assert spark.conf.get(_KEY) == "3"
            raise RuntimeError("inside")
    assert spark.conf.get(_KEY) == prev


def test_scoped_shuffle_partitions_none_changes_nothing(spark):
    prev = spark.conf.get(_KEY)
    with scoped_shuffle_partitions(spark, None):
        assert spark.conf.get(_KEY) == prev
    assert spark.conf.get(_KEY) == prev
