"""S4/S6 JDBC scan + sink driven against a REAL database: the Derby
embedded engine that ships inside pyspark's jars (the same bundled-derby
trick Spark itself uses for its default Hive metastore). No network, no
external service — but a genuine JDBC driver, so the partitioned-read
and batched-write paths execute for real instead of being no-DB-gated."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehousefinal_spark.sources.readers import read_jdbc
from datawarehousefinal_spark.sources.testdata import load_table
from datawarehousefinal_spark.sources.writers import write_jdbc

PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "db"
    return f"jdbc:derby:{db};create=true"


def _orders_slice(spark, sf_dir, n=500):
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
        .limit(n)
    )


def test_jdbc_roundtrip_partitioned(spark, sf_dir, derby_url):
    src = _orders_slice(spark, sf_dir)
    write_jdbc(src, derby_url, "orders_rt", mode="overwrite", properties=PROPS)

    bounds = src.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).first()
    back = read_jdbc(
        spark,
        derby_url,
        "orders_rt",
        properties=PROPS,
        partition_column="o_orderkey",
        num_partitions=4,
        lower_bound=int(bounds["lo"]),
        upper_bound=int(bounds["hi"]) + 1,
    )
    # partitioned scan: 4 concurrent range-predicate connections
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == src.count()
    # value-level equality (orderkey is unique, so a keyed compare is exact)
    diff = (
        src.withColumnRenamed("o_totalprice", "p_src")
        .join(back.withColumnRenamed("o_totalprice", "p_back"),
              ["o_orderkey"], "full")
        .filter(
            F.col("p_src").isNull()
            | F.col("p_back").isNull()
            | (F.abs(F.col("p_src") - F.col("p_back")) > 1e-9)
        )
    )
    assert diff.count() == 0


def test_jdbc_append_mode_accumulates(spark, sf_dir, derby_url):
    src = _orders_slice(spark, sf_dir, n=100)
    write_jdbc(src, derby_url, "orders_app", mode="overwrite", properties=PROPS)
    write_jdbc(src, derby_url, "orders_app", mode="append", properties=PROPS)
    back = read_jdbc(spark, derby_url, "orders_app", properties=PROPS)
    assert back.count() == 200


def test_jdbc_query_pushdown(spark, sf_dir, derby_url):
    """S4's query form: dbtable can be a derived-table subquery, so the
    predicate runs inside the database, not in Spark."""
    src = _orders_slice(spark, sf_dir)
    # Derby maps StringType to CLOB (not comparable to literals);
    # createTableColumnTypes — passed through the writer's option dict —
    # pins a comparable VARCHAR DDL type instead.
    write_jdbc(
        src,
        derby_url,
        "orders_q",
        mode="overwrite",
        properties={**PROPS, "createTableColumnTypes": "o_orderstatus VARCHAR(4)"},
    )
    n_open = src.filter(F.col("o_orderstatus") == "O").count()
    # Spark writes quoted (case-sensitive) identifiers, so the pushed-down
    # SQL must quote them too.
    back = read_jdbc(
        spark,
        derby_url,
        "(SELECT * FROM orders_q WHERE \"o_orderstatus\" = 'O') q",
        properties=PROPS,
    )
    assert back.count() == n_open
