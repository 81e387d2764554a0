"""Sequence-packing tests: distributed prefix sum vs the single-window
truth and sequential-fill chunk invariants."""

from __future__ import annotations

import pytest

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.packing import (
    budgeted_chunks,
    chunk_stats,
    distributed_cumsum,
)


def test_distributed_cumsum_matches_global_window(spark):
    rng = random.Random(3)
    rows = [(i, rng.randint(1, 500)) for i in range(5000)]
    df = spark.createDataFrame(rows, ["id", "v"]).repartition(13)
    got = {
        r["id"]: r["cum"]
        for r in distributed_cumsum(df, ["id"], "v", "cum", num_partitions=8).collect()
    }
    truth = {
        r["id"]: r["cum"]
        for r in df.withColumn(
            "cum", F.sum("v").over(Window.orderBy("id"))
        ).collect()
    }
    assert got == truth


def test_budgeted_chunks_sequential_fill_invariants(spark):
    rng = random.Random(9)
    rows = [(i, rng.randint(1, 300)) for i in range(2000)]
    df = spark.createDataFrame(rows, ["id", "toks"])
    budget = 1000
    packed = budgeted_chunks(df, "id", "toks", budget).collect()
    assert len(packed) == 2000  # every doc assigned exactly once
    by_chunk: dict[int, int] = {}
    for r in packed:
        by_chunk[r["chunk_id"]] = by_chunk.get(r["chunk_id"], 0) + r["toks"]
    max_doc = max(t for _, t in rows)
    # sequential fill: a chunk holds >= its budget's start..end span minus
    # what spilled in; it can overflow by at most one document's tokens
    for cid, total in by_chunk.items():
        assert total <= budget + max_doc, (cid, total)
    # chunk ids are the contiguous prefix 0..n
    cids = sorted(by_chunk)
    assert cids == list(range(len(cids)))
    # every chunk except possibly the last is at least budget-full when
    # combined with the overflow convention: starts are < budget boundary
    stats = chunk_stats(
        budgeted_chunks(df, "id", "toks", budget), "toks"
    ).collect()
    assert sum(r["total_tokens"] for r in stats) == sum(t for _, t in rows)


def test_budgeted_chunks_strands_no_cache(spark):
    """The prefix sum must not pin anything in the block manager: the
    range-bucket ids are literal-frozen (pure row functions), so no
    materialization needs persisting — two back-to-back packing calls
    leave the persistent-RDD registry exactly as they found it."""
    # Compare ID SETS, not sizes: in a full-suite run the async
    # ContextCleaner may unpersist an earlier test's leftover blocks at
    # any moment, so size equality is racy — what this test owns is
    # "packing adds nothing", i.e. no NEW ids may remain afterwards.
    jsc = spark.sparkContext._jsc
    before = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}
    rows = [(i, (i * 37) % 211 + 1) for i in range(3000)]
    df = spark.createDataFrame(rows, ["id", "toks"])
    for _ in range(2):
        budgeted_chunks(df, "id", "toks", 1000).count()
    after = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}
    stranded = after - before
    assert not stranded, f"stranded cached RDDs: {stranded}"


def test_range_bucket_plan_two_phase_above_clamp(spark):
    """Above the adaptive clamp the prefix sum keeps the two-phase
    distributed shape (partition-local windows over __pid + broadcast
    offsets join) — the 100 TB contract. 3M narrow rows exceed both the
    stats byte clamp and the fused-count row clamp."""
    df = spark.range(3_000_000).withColumn("v", F.lit(1))
    out = distributed_cumsum(df, ["id"], "v", "cum")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(__pid" in plan, plan[:2000]
    # spot-check values at the bucket seams against the closed form
    got = {r["id"]: r["cum"] for r in out.where(F.col("id") % 499999 == 0).collect()}
    assert got == {i: i + 1 for i in got}


def test_range_bucket_plan_collapses_for_tiny_frames(spark):
    """Below the clamp the two-phase apparatus must collapse to ONE
    plain window: no probe job artifacts (__pid), no broadcast join —
    and the values still match the global-window truth."""
    rows = [(i, (i * 7) % 100 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "v"])
    out = distributed_cumsum(df, ["id"], "v", "cum")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__pid" not in plan, plan[:2000]
    truth = {
        r["id"]: r["cum"]
        for r in df.withColumn(
            "cum", F.sum("v").over(Window.orderBy("id"))
        ).collect()
    }
    assert {r["id"]: r["cum"] for r in out.collect()} == truth


def test_distributed_cumsum_rejects_mismatched_column_lists(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["id", "a", "b"])
    with pytest.raises(ValueError, match="must match"):
        distributed_cumsum(df, ["id"], ["a", "b"], ["cum_a"])
