"""Physical-plan audit utilities.

The 100 TB contract of every operator in this engine is a *plan shape*,
not a wall-clock number: dims broadcast, filters reach the parquet scan,
aggregations partial-combine map-side, candidate joins are bucketed (never
cartesian), hot paths stay inside whole-stage codegen. These helpers turn
those contracts into assertions so tests pin the shape, not just the rows.

Everything reads the *executed* (physical) plan — the same text
``df.explain("formatted")`` prints — via the JVM ``queryExecution``;
nothing here runs the query.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The physical plan as text (pre-AQE final plan; runtime re-plans by
    AQE — e.g. sort-merge→broadcast conversions — can only improve on the
    shapes asserted here)."""
    return df._jdf.queryExecution().executedPlan().toString()


def scan_read_schemas(df: DataFrame) -> list[str]:
    """Every ``ReadSchema`` struct string in the plan, one per file scan —
    the ground truth for column pruning."""
    return re.findall(r"ReadSchema: (struct<[^\n]*)", physical_plan(df))


def count_node(df: DataFrame, node: str) -> int:
    return physical_plan(df).count(node)


def assert_no_cartesian(df: DataFrame) -> None:
    """No CartesianProduct / BroadcastNestedLoopJoin anywhere — the
    operator never degenerates to all-pairs."""
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, "plan contains CartesianProduct"
    assert "BroadcastNestedLoopJoin" not in plan, (
        "plan contains BroadcastNestedLoopJoin"
    )


def assert_broadcast_join(df: DataFrame, min_count: int = 1) -> None:
    """At least ``min_count`` BroadcastHashJoin — small sides really
    broadcast instead of shuffling the big side."""
    n = count_node(df, "BroadcastHashJoin")
    assert n >= min_count, f"expected >= {min_count} BroadcastHashJoin, found {n}"


def assert_partial_aggregation(df: DataFrame) -> None:
    """Aggregation partial-combines map-side before the exchange (the
    ``partial_*`` mode HashAggregate) — shuffles carry one row per
    (partition, key), not per input row."""
    plan = physical_plan(df)
    assert re.search(r"partial_\w+\(", plan) or "isDistinct" in plan, (
        "no map-side partial aggregation found"
    )


def assert_columns_pruned(
    df: DataFrame, banned: list[str], scan_hint: str | None = None
) -> None:
    """None of ``banned`` columns survive to any file scan (optionally only
    scans whose text contains ``scan_hint``): the projection was pushed
    down, the scan reads only what the query needs."""
    schemas = scan_read_schemas(df)
    if scan_hint is not None:
        plan = physical_plan(df)
        schemas = [
            s for s in schemas
            if scan_hint in plan[max(0, plan.find(s) - 400): plan.find(s)]
        ] or schemas
    for s in schemas:
        for col in banned:
            assert f"{col}:" not in s, f"column {col} not pruned from scan: {s}"


def assert_whole_stage_codegen(df: DataFrame, min_stages: int = 1) -> None:
    """The hot path compiles to whole-stage-codegen (no interpreted
    row-at-a-time eval, no Python evals in the plan). ``toString`` marks
    codegen'd operators with a ``*(stageId)`` prefix."""
    plan = physical_plan(df)
    stages = {m_ for m_ in re.findall(r"\*\((\d+)\)", plan)}
    assert len(stages) >= min_stages, (
        f"expected >= {min_stages} codegen stages, found {len(stages)}"
    )


def assert_no_python_udf(df: DataFrame) -> None:
    """Nothing in the plan round-trips rows through Python — Batch/Arrow
    eval nodes only appear when a Python UDF survived into the hot path."""
    plan = physical_plan(df)
    for node in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert node not in plan, f"plan contains {node}"


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges) — the
    scale-determining number of a plan."""
    plan = physical_plan(df)
    return len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)", plan))


def assert_max_shuffles(df: DataFrame, n: int) -> None:
    found = exchange_count(df)
    assert found <= n, f"plan has {found} shuffle exchanges, budget {n}"
