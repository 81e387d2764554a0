"""Bucketed co-located joins: the write-once-shuffle-never contract,
asserted on the physical plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehousefinal_spark.plans import exchange_count, physical_plan
from datawarehousefinal_spark.sources.bucketing import read_table, write_bucketed
from datawarehousefinal_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("bucketed")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    write_bucketed(
        orders, "b_orders", ["o_orderkey"], 8,
        sort_cols=["o_orderkey"], path=str(d / "orders"),
    )
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", ["o_orderkey"], 8,
        sort_cols=["o_orderkey"], path=str(d / "lineitem"),
    )
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_cobucketed_join_is_shuffle_free(spark, bucketed_tables):
    t_orders, t_lineitem = bucketed_tables
    joined = read_table(spark, t_orders).join(
        read_table(spark, t_lineitem), "o_orderkey"
    )
    # both sides expose HashPartitioning from the bucketed layout: the
    # join itself introduces NO shuffle exchange
    assert exchange_count(joined) == 0, physical_plan(joined)


def test_bucketed_groupby_on_key_is_shuffle_free(spark, bucketed_tables):
    t_orders, _ = bucketed_tables
    agg = (
        read_table(spark, t_orders)
        .groupBy("o_orderkey")
        .agg(F.sum("o_totalprice").alias("s"))
    )
    assert exchange_count(agg) == 0, physical_plan(agg)


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed_tables):
    t_orders, t_lineitem = bucketed_tables
    bucketed = (
        read_table(spark, t_orders)
        .join(read_table(spark, t_lineitem), "o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice") + F.col("l_extendedprice")).alias("s"),
        )
        .collect()[0]
    )
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    plain = (
        orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice") + F.col("l_extendedprice")).alias("s"),
        )
        .collect()[0]
    )
    assert bucketed["n"] == plain["n"]
    assert abs(bucketed["s"] - plain["s"]) < 1e-6 * abs(plain["s"])
