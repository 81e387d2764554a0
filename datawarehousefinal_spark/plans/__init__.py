"""Plan-shape auditing: assertions over the physical plan that pin each
operator's scale contract (broadcasts, pruning, partial aggregation, no
cartesian joins)."""

from datawarehousefinal_spark.plans.audit import (  # noqa: F401
    assert_broadcast_join,
    assert_columns_pruned,
    assert_max_shuffles,
    assert_no_cartesian,
    assert_no_python_udf,
    assert_partial_aggregation,
    assert_whole_stage_codegen,
    count_node,
    exchange_count,
    physical_plan,
    scan_read_schemas,
)
