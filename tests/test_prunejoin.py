"""Bloom semi-join pruning: exactness under false positives, actual row
reduction, and the broadcast plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.prunejoin import (
    bloom_prune,
    bloom_prune_join,
)
from datawarehousefinal_spark.sources.testdata import load_table


def _fact_keys(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
    )
    return li, keys


def test_bloom_prune_join_equals_plain_join(spark, sf_dir):
    li, keys = _fact_keys(spark, sf_dir)
    plain = li.join(keys, li["l_orderkey"] == keys["o_orderkey"]).agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_extendedprice").alias("s")
    ).collect()[0]
    bloomed = bloom_prune_join(li, keys, "l_orderkey", "o_orderkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_extendedprice").alias("s")
    ).collect()[0]
    assert (plain["n"], plain["s"]) == (bloomed["n"], bloomed["s"])


def test_bloom_prune_join_exact_even_when_bloom_saturates(spark, sf_dir):
    # bits=2: nearly every bucket occupied, prune passes almost everything
    # — the exact join must still produce the identical result.
    li, keys = _fact_keys(spark, sf_dir)
    plain = li.join(keys, li["l_orderkey"] == keys["o_orderkey"]).count()
    bloomed = bloom_prune_join(li, keys, "l_orderkey", "o_orderkey", bits=2).count()
    assert plain == bloomed


def test_bloom_prune_reduces_rows_for_selective_keys(spark, sf_dir):
    li, keys = _fact_keys(spark, sf_dir)
    pruned = bloom_prune(li, keys, "l_orderkey", "o_orderkey", bits=1 << 20)
    n_fact, n_pruned = li.count(), pruned.count()
    n_match = li.join(keys, li["l_orderkey"] == keys["o_orderkey"], "left_semi").count()
    assert n_match <= n_pruned < n_fact, (
        f"prune must keep all {n_match} matches and drop rows ({n_pruned}/{n_fact})"
    )


def test_bloom_prune_never_false_negative_tiny_bits(spark):
    keys = spark.createDataFrame([(i,) for i in range(0, 100, 7)], ["k"])
    fact = spark.createDataFrame([(i, i * 10) for i in range(100)], ["k", "v"])
    truth = {r["k"] for r in fact.join(keys, "k", "left_semi").collect()}
    survived = {
        r["k"] for r in bloom_prune(fact, keys, "k", "k", bits=4).collect()
    }
    assert truth <= survived


def test_bloom_prune_plan_broadcasts_bucket_set(spark, sf_dir):
    from datawarehousefinal_spark.plans.audit import physical_plan

    li, keys = _fact_keys(spark, sf_dir)
    plan = physical_plan(bloom_prune(li, keys, "l_orderkey", "o_orderkey"))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan
