"""The TPC-H query shapes adapted to the fixture's columns, with decimal-
exact money.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.sources.testdata import load_table


# Shared decimal-exact money expressions. Inputs carry <=2 decimals and
# fit decimal(12,2); (1 - discount) / (1 + tax) fit decimal(4,2). The
# products are exact at scale 4/6 on BOTH engines (Spark decimal(17,4) /
# (22,6); DuckDB (17,4) / (22,6)) — far inside the 38-digit cap, so no
# precision-loss rounding can diverge; the oracle replays the same casts.
# (Functions, not module constants: Column construction needs an active
# SparkContext, and this module imports before any session exists.)
def _ep():
    return F.col("l_extendedprice").cast("decimal(12,2)")


def _disc_f():
    return (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")


def _tax_f():
    return (F.lit(1) + F.col("l_tax")).cast("decimal(4,2)")


_EP_SQL = "CAST(l_extendedprice AS DECIMAL(12,2))"


_DISC_SQL = "CAST(1 - l_discount AS DECIMAL(4,2))"


_TAX_SQL = "CAST(1 + l_tax AS DECIMAL(4,2))"


@query(
    "pricing_summary_report",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum({_EP_SQL}) AS DOUBLE) AS sum_base_price,
           CAST(sum({_EP_SQL} * {_DISC_SQL}) AS DOUBLE) AS sum_disc_price,
           CAST(sum({_EP_SQL} * {_DISC_SQL} * {_TAX_SQL}) AS DOUBLE)
             AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*)
             AS avg_qty,
           CAST(sum({_EP_SQL}) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*)
             AS avg_disc,
           count(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY 1, 2
    """,
)
def pricing_summary_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H Q1 pricing summary over the lineitem fixture: one
    wide aggregate grouped by the 6-combination (returnflag, linestatus)
    key. The canonical map-side-combine workload — at 100 TB this is a
    full scan feeding partial aggregates with a 6-row shuffle, the best
    possible shape; the ship-date filter pushes to the parquet scan.
    All money sums accumulate in exact decimals (merge-order-invariant)
    and serve as doubles; averages are one division of exact values."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    qty = F.col("l_quantity").cast("decimal(12,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(_ep()).cast("double").alias("sum_base_price"),
        F.sum(_ep() * _disc_f()).cast("double").alias("sum_disc_price"),
        F.sum(_ep() * _disc_f() * _tax_f()).cast("double").alias("sum_charge"),
        (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        (F.sum(_ep()).cast("double") / F.count(F.lit(1))).alias("avg_price"),
        (
            F.sum(F.col("l_discount").cast("decimal(4,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "regional_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(sum({_EP_SQL} * {_DISC_SQL}) AS DOUBLE) AS revenue,
           count(*)::BIGINT AS n_lineitems
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
                   AND c.c_nationkey = s.s_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def regional_supplier_volume_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H Q5 local-supplier-volume join: 6 tables, with the
    non-equi twist that the CUSTOMER's nation must equal the SUPPLIER's
    nation. Plan shape for 100 TB: region⋈nation⋈supplier collapses to
    one small broadcast side that maps each lineitem to its supplier
    nation with zero shuffle; the fact-to-fact lineitem⋈orders join
    shuffles on orderkey; customer broadcasts onto the result and the
    same-nation predicate applies as a post-join filter. Revenue is
    decimal-exact."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    supp_asia = (
        supp.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation["n_regionkey"] == region["r_regionkey"],
                ).select("n_nationkey", "n_name")
            ),
            supp["s_nationkey"] == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(F.broadcast(supp_asia), li["l_suppkey"] == F.col("s_suppkey"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(_ep() * _disc_f()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "order_frequency_histogram",
    oracle="""
    WITH per AS (
      SELECT o_custkey, count(*)::BIGINT AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT n_orders, count(*)::BIGINT AS n_customers
    FROM per GROUP BY 1
    """,
)
def order_frequency_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies: how many customers placed exactly k
    orders — the engagement-distribution headline (and the input Good-
    Turing style estimators read). Two map-side-combined aggregates."""
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return per.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "shipping_priority_topk",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(sum({_EP_SQL} * {_DISC_SQL}) AS DOUBLE) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-07-01'
      AND l.l_shipdate > TIMESTAMP '1998-07-01'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def shipping_priority_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): the 10 highest-revenue orders from
    BUILDING-segment customers that were placed before the cutoff but
    still have lineitems shipping after it — the unshipped-backlog
    triage query. 100 TB shape: both filters push to the parquet scans
    (segment on customer, dates on orders/lineitem), the filtered
    customer keys broadcast onto orders, and the one real shuffle is
    the fact-to-fact lineitem⋈orders join on orderkey followed by a
    partially-aggregated groupBy on the SAME key (no second exchange —
    the join output is already hash-partitioned by orderkey). Revenue
    accumulates in exact decimals; the top-10 ORDER BY runs on the
    decimal-exact value with the orderkey tie-break, then serves
    doubles."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    cutoff = F.lit("1998-07-01").cast("timestamp")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(
            orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(_ep() * _disc_f()).alias("__rev_d"))
        .orderBy(F.desc("__rev_d"), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.col("__rev_d").cast("double").alias("revenue"),
            "orderdate",
            "o_orderpriority",
        )
    )


@query(
    "late_shipment_priority_counts",
    oracle="""
    SELECT o.o_orderpriority,
           count(*)::BIGINT AS n_orders,
           sum(CASE WHEN EXISTS (
                 SELECT 1 FROM lineitem l
                 WHERE l.l_orderkey = o.o_orderkey
                   AND l.l_shipdate > o.o_orderdate + INTERVAL 365 DAY
               ) THEN 1 ELSE 0 END)::BIGINT AS n_late_orders,
           CAST(sum(CASE WHEN EXISTS (
                 SELECT 1 FROM lineitem l
                 WHERE l.l_orderkey = o.o_orderkey
                   AND l.l_shipdate > o.o_orderdate + INTERVAL 365 DAY
               ) THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS late_share
    FROM orders o
    GROUP BY 1
    """,
)
def late_shipment_priority_counts_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q4 shape (order priority checking), adapted to the
    fixture's columns (no commitdate; "late" = any lineitem shipping
    more than a year after the order date): per priority class, how
    many orders have at least one late lineitem. The EXISTS is the
    canonical LEFT SEMI join — at 100 TB the semi join shuffles only
    (orderkey, orderdate) pairs against the lineitem keys and
    deduplicates on the build side, never materializing the multi-
    lineitem fan-out. Counts are exact; the share is one division of
    exact counts."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
    )
    total = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        total.join(F.broadcast(late), "o_orderpriority", "left")
        .select(
            "o_orderpriority",
            "n_orders",
            F.coalesce("n_late_orders", F.lit(0)).alias("n_late_orders"),
            (
                F.coalesce("n_late_orders", F.lit(0)).cast("double")
                / F.col("n_orders")
            ).alias("late_share"),
        )
    )


@query(
    "nation_trade_volume",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
           CAST(sum({_EP_SQL} * {_DISC_SQL}) AS DOUBLE) AS revenue,
           count(*)::BIGINT AS n_lineitems
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
       OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def nation_trade_volume_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade between two nations
    — revenue per (supplier nation, customer nation, ship year) for
    both directions of the NATION_1↔NATION_2 pair. 100 TB shape: the
    nation-filtered supplier side broadcasts onto lineitem (map-side
    elimination of ~96% of lineitems before any shuffle), the
    nation-filtered customer side broadcasts onto orders likewise, and
    the one shuffle is the surviving-fact join on orderkey; the final
    aggregate is a handful of (nation, nation, year) groups. Revenue is
    decimal-exact; year is calendar arithmetic on raw timestamps."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey", "l_suppkey", "l_shipdate",
            "l_extendedprice", "l_discount",
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.sum(_ep() * _disc_f()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "market_share_report",
    oracle=f"""
    WITH base AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
             {_EP_SQL} * {_DISC_SQL} AS vol,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN region r ON nc.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    SELECT order_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_2'
                         THEN vol ELSE CAST(0 AS DECIMAL(17,4)) END)
                AS DOUBLE)
             / CAST(sum(vol) AS DOUBLE) AS mkt_share,
           CAST(sum(CASE WHEN supp_nation = 'NATION_2'
                         THEN vol ELSE CAST(0 AS DECIMAL(17,4)) END)
                AS DOUBLE) AS nation_volume,
           CAST(sum(vol) AS DOUBLE) AS total_volume
    FROM base GROUP BY 1
    """,
)
def market_share_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_2's share of PROMO-part
    revenue sold into ASIA-region customers, per order year. 100 TB
    shape: part(type) and the region→nation→customer climb reduce to
    broadcast maps applied before the single orderkey shuffle; both
    numerator and denominator accumulate in the SAME exact-decimal
    aggregate pass (a conditional sum, not two scans), and the share is
    one double division at the serve boundary."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    asia_nations = nation.join(
        F.broadcast(region),
        nation["n_regionkey"] == region["r_regionkey"],
    ).select("n_nationkey")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(asia_nations),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.year("o_orderdate").alias("order_year"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount",
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    vol = _ep() * _disc_f()
    zero = F.lit("0").cast("decimal(17,4)")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("order_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(
                    zero
                )
            ).alias("__nat_d"),
            F.sum(vol).alias("__tot_d"),
        )
        .select(
            "order_year",
            (
                F.col("__nat_d").cast("double")
                / F.col("__tot_d").cast("double")
            ).alias("mkt_share"),
            F.col("__nat_d").cast("double").alias("nation_volume"),
            F.col("__tot_d").cast("double").alias("total_volume"),
        )
    )


@query(
    "returned_items_topk",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(sum({_EP_SQL} * {_DISC_SQL}) AS DOUBLE) AS lost_revenue,
           count(*)::BIGINT AS n_returned_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    ORDER BY lost_revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def returned_items_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned items): the 20 customers who returned the
    most revenue in 1997 — the churn-risk escalation list. 100 TB
    shape: the returnflag and date filters push to the scans, lineitem
    ⋈ orders shuffles on orderkey, the customer attach shuffles on
    custkey (customer is NOT broadcast — at scale it's a fact-sized
    dim; the aggregate keys on custkey so the attach and the groupBy
    share the exchange), and nation broadcasts last onto the 20-row
    cut... in fact onto the aggregate, which is still per-customer —
    the TakeOrderedAndProject cut happens on the decimal-exact revenue
    with the custkey tie-break."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    agg = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.sum(_ep() * _disc_f()).alias("__rev_d"),
            F.count(F.lit(1)).alias("n_returned_items"),
        )
    )
    return (
        agg.join(cust, agg["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .orderBy(F.desc("__rev_d"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "nation",
            F.col("__rev_d").cast("double").alias("lost_revenue"),
            "n_returned_items",
        )
    )


@query(
    "promo_revenue_share",
    oracle=f"""
    SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
           CAST(sum(CASE WHEN p.p_type = 'PROMO'
                         THEN {_EP_SQL} * {_DISC_SQL}
                         ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
             AS promo_revenue,
           CAST(sum({_EP_SQL} * {_DISC_SQL}) AS DOUBLE) AS total_revenue,
           CAST(sum(CASE WHEN p.p_type = 'PROMO'
                         THEN {_EP_SQL} * {_DISC_SQL}
                         ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
             / CAST(sum({_EP_SQL} * {_DISC_SQL}) AS DOUBLE)
             AS promo_share
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)
def promo_revenue_share_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): PROMO-type parts' share of monthly
    revenue. 100 TB shape: the partkey→type map is the broadcast dim
    (at extreme part cardinality AQE would flip it to a shuffle join —
    the plan is declared, not hand-scheduled), numerator and
    denominator ride one conditional-decimal aggregate pass, months are
    calendar strings off the raw timestamp, and the share is one double
    division at the serve boundary."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    vol = _ep() * _disc_f()
    zero = F.lit("0").cast("decimal(17,4)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)
            ).alias("__promo_d"),
            F.sum(vol).alias("__tot_d"),
        )
        .select(
            "ship_month",
            F.col("__promo_d").cast("double").alias("promo_revenue"),
            F.col("__tot_d").cast("double").alias("total_revenue"),
            (
                F.col("__promo_d").cast("double")
                / F.col("__tot_d").cast("double")
            ).alias("promo_share"),
        )
    )


@query(
    "top_supplier_per_quarter",
    oracle=f"""
    WITH rev AS (
      SELECT year(l_shipdate)::VARCHAR || '-Q'
               || quarter(l_shipdate)::VARCHAR AS ship_quarter,
             l_suppkey,
             sum({_EP_SQL} * {_DISC_SQL}) AS rev_d
      FROM lineitem GROUP BY 1, 2
    ),
    mx AS (
      SELECT ship_quarter, max(rev_d) AS mx_d FROM rev GROUP BY 1
    )
    SELECT r.ship_quarter, s.s_suppkey, s.s_name,
           CAST(r.rev_d AS DOUBLE) AS revenue
    FROM rev r
    JOIN mx ON r.ship_quarter = mx.ship_quarter AND r.rev_d = mx.mx_d
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    """,
)
def top_supplier_per_quarter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier), generalized to every quarter: the
    supplier(s) with the maximum revenue in each ship quarter. The
    max-equality join is EXACT because revenue never leaves decimal
    until the serve cast — the cross-engine trap Q15 sets (double
    revenue ties diverging by 1 ulp) cannot occur, and genuine ties
    surface as multiple rows on both engines identically. 100 TB
    shape: one partial-aggregated shuffle on (quarter, suppkey), a
    window-max over the per-quarter slice (here a self-join against
    the 1-row-per-quarter max frame — broadcast), supplier names
    broadcast last."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    rev = (
        li.groupBy(
            F.concat(
                F.year("l_shipdate").cast("string"),
                F.lit("-Q"),
                F.quarter("l_shipdate").cast("string"),
            ).alias("ship_quarter"),
            "l_suppkey",
        )
        .agg(F.sum(_ep() * _disc_f()).alias("__rev_d"))
    )
    mx = (
        rev.groupBy(F.col("ship_quarter").alias("__mx_q"))
        .agg(F.max("__rev_d").alias("__mx_d"))
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        rev.join(
            F.broadcast(mx),
            (F.col("ship_quarter") == F.col("__mx_q"))
            & (F.col("__rev_d") == F.col("__mx_d")),
        )
        .select("ship_quarter", "l_suppkey", "__rev_d")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "ship_quarter",
            "s_suppkey",
            "s_name",
            F.col("__rev_d").cast("double").alias("revenue"),
        )
    )


@query(
    "discounted_revenue_filtered",
    oracle=f"""
    SELECT CAST(sum({_EP_SQL} * {_DISC_SQL}) AS DOUBLE) AS revenue,
           count(*)::BIGINT AS n_lineitems
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def discounted_revenue_filtered_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): total revenue under an
    OR-of-ANDs brand/size/quantity predicate — the disjunctive-filter
    join the optimizer has to split correctly. 100 TB shape: the brand
    disjunction's common supersets (brand IN set, size <= 50) push into
    the part scan; the part side broadcasts; the per-branch conjuncts
    evaluate post-join inside whole-stage codegen; result is a 1-row
    exact aggregate."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    joined = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    b = F.col("p_brand")
    sz = F.col("p_size")
    q = F.col("l_quantity")
    pred = (
        ((b == "Brand#1") & sz.between(1, 15) & q.between(1, 20))
        | ((b == "Brand#2") & sz.between(10, 30) & q.between(10, 30))
        | ((b == "Brand#3") & sz.between(20, 50) & q.between(20, 40))
    )
    return joined.filter(pred).agg(
        F.sum(_ep() * _disc_f()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@query(
    "important_parts_revenue",
    oracle=f"""
    WITH pr AS (
      SELECT l_partkey,
             sum({_EP_SQL} * {_DISC_SQL}) AS rev_d,
             count(*)::BIGINT AS n_lineitems
      FROM lineitem GROUP BY 1
    ),
    t AS (SELECT sum(rev_d) AS tot_d FROM pr)
    SELECT pr.l_partkey AS partkey,
           CAST(pr.rev_d AS DOUBLE) AS revenue,
           pr.n_lineitems
    FROM pr, t
    WHERE pr.rev_d * 2000 > t.tot_d
    """,
)
def important_parts_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): the parts whose revenue
    exceeds 0.05% of TOTAL revenue — a HAVING clause against a global
    scalar aggregate. The threshold compare is CROSS-MULTIPLIED
    (``rev × 2000 > total``), so both engines compare exact decimals —
    no fraction-of-total double ever exists to diverge. 100 TB shape:
    one partially-aggregated shuffle on partkey; the global total
    re-aggregates the PER-PART frame (never rescans lineitem) into a
    1-row scalar that cross-joins back as a broadcast (bounded by
    construction, plan-sweep allowlisted)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    pr = li.groupBy("l_partkey").agg(
        F.sum(_ep() * _disc_f()).alias("__rev_d"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )
    tot = pr.agg(F.sum("__rev_d").alias("__tot_d"))
    return (
        pr.crossJoin(F.broadcast(tot))
        .filter(F.col("__rev_d") * F.lit(2000) > F.col("__tot_d"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("__rev_d").cast("double").alias("revenue"),
            "n_lineitems",
        )
    )


@query(
    "supplier_part_breadth",
    oracle="""
    SELECT p.p_brand, p.p_size,
           count(DISTINCT l.l_suppkey)::BIGINT AS n_suppliers,
           count(*)::BIGINT AS n_lineitems
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000
    )
    GROUP BY 1, 2
    """,
)
def supplier_part_breadth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many distinct
    suppliers can ship each (brand, size), excluding a supplier
    blacklist — the reference's complaint filter re-expressed as the
    low-balance list the fixture can compute. The NOT IN is a LEFT ANTI
    join against the blacklist (broadcast — it's a filtered dim), then
    the part attributes broadcast onto the surviving lineitems, and the
    distinct-supplier count runs as Spark's standard two-stage distinct
    aggregate (partial on (brand,size,suppkey), final on (brand,size)).
    Exact integer counts only — nothing to quantize."""
    blacklist = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000)
        .select("s_suppkey")
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    return (
        li.join(
            F.broadcast(blacklist),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "large_quantity_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_d
      FROM lineitem GROUP BY 1
      HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_totalprice AS totalprice,
           CAST(b.qty_d AS DOUBLE) AS sum_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def large_quantity_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large volume customers): the orders whose total
    lineitem quantity exceeds 250 units, with their customers — the
    aggregate-HAVING-then-semi-join-back shape. 100 TB shape: the
    quantity aggregate partially combines map-side and shuffles on
    orderkey; the survivors (a tiny fraction — the HAVING is the
    filter) BROADCAST back onto orders, so the big table is never
    shuffled; the customer attach shuffles only the surviving orders.
    Quantities accumulate in exact decimals; o_totalprice is a raw
    input value passed through untouched."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("__qty_d"))
        .filter(F.col("__qty_d") > 250)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            F.col("__qty_d").cast("double").alias("sum_qty"),
        )
    )


@query(
    "promo_heavy_suppliers",
    oracle="""
    WITH promo AS (
      SELECT l.l_suppkey,
             sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS qty_d
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_type = 'PROMO' AND year(l.l_shipdate) = 1997
      GROUP BY 1
      HAVING sum(CAST(l.l_quantity AS DECIMAL(12,2))) > 500
    )
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation,
           CAST(pr.qty_d AS DOUBLE) AS promo_qty
    FROM promo pr
    JOIN supplier s ON pr.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
)
def promo_heavy_suppliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): the suppliers who
    moved more than 500 units of PROMO-type parts in 1997 — the
    qualify-by-aggregate-then-join-the-dim chain (the fixture has no
    partsupp, so availability becomes shipped volume). 100 TB shape:
    the PROMO part keys broadcast onto the date-pruned lineitem scan
    (both filters pushed), the per-supplier aggregate partially
    combines before its one shuffle, and the handful of qualifying
    suppliers joins the supplier/nation dims broadcast-side."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate") == 1997)
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    promo = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("__qty_d"))
        .filter(F.col("__qty_d") > 500)
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        promo.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            "nation",
            F.col("__qty_d").cast("double").alias("promo_qty"),
        )
    )


@query(
    "sole_late_supplier_blame",
    oracle="""
    WITH per_order AS (
      SELECT l.l_orderkey,
             count(DISTINCT l.l_suppkey) AS n_supp,
             count(DISTINCT CASE
               WHEN l.l_shipdate > o.o_orderdate + INTERVAL 1400 DAY
               THEN l.l_suppkey END) AS n_late,
             max(CASE
               WHEN l.l_shipdate > o.o_orderdate + INTERVAL 1400 DAY
               THEN l.l_suppkey END) AS sole_suppkey
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name,
           count(*)::BIGINT AS n_blamed_orders
    FROM per_order po
    JOIN supplier s ON po.sole_suppkey = s.s_suppkey
    WHERE po.n_supp > 1 AND po.n_late = 1
    GROUP BY 1, 2
    ORDER BY n_blamed_orders DESC, s.s_suppkey
    LIMIT 20
    """,
)
def sole_late_supplier_blame_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): for each
    multi-supplier order where EXACTLY ONE supplier shipped very late
    (>1400 days after the order date — the fixture's p90 lateness),
    blame that supplier; rank suppliers by blamed-order count. The
    correlated EXISTS/NOT-EXISTS pair is re-expressed as ONE per-order
    aggregate — n_supp, n_late, and the argmax-when-sole in a single
    pass — which is the shape that actually scales: no correlated
    rescans, one orderkey shuffle shared by the join and the groupBy,
    and the blame count aggregates a frame that already has one row
    per order. Integer counts; top-20 tie-broken on suppkey."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 1400 DAYS"
    )
    per_order = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias(
                "n_late"
            ),
            F.max(F.when(late, F.col("l_suppkey"))).alias("sole_suppkey"),
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .groupBy("sole_suppkey")
        .agg(F.count(F.lit(1)).alias("n_blamed_orders"))
        .join(
            F.broadcast(supp),
            F.col("sole_suppkey") == F.col("s_suppkey"),
        )
        .orderBy(F.desc("n_blamed_orders"), "s_suppkey")
        .limit(20)
        .select("s_suppkey", "s_name", "n_blamed_orders")
    )


@query(
    "dormant_rich_customers",
    oracle="""
    WITH pos AS (
      SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS bal_sum,
             count(*)::BIGINT AS n_pos
      FROM customer WHERE c_acctbal > 0
    ),
    dormant AS (
      SELECT c.c_custkey, c.c_nationkey,
             CAST(c.c_acctbal AS DECIMAL(12,2)) AS bal_d
      FROM customer c, pos
      WHERE CAST(c.c_acctbal AS DECIMAL(12,2)) * pos.n_pos > pos.bal_sum
        AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01'
        )
    )
    SELECT n.n_name AS nation,
           count(*)::BIGINT AS n_customers,
           CAST(sum(d.bal_d) AS DOUBLE) AS total_acctbal
    FROM dormant d
    JOIN nation n ON d.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def dormant_rich_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): customers with an
    above-average positive balance and NO orders since 2000-01-01
    (every fixture customer has SOME order, so Q22's "never ordered"
    becomes dormancy after a cutoff), grouped by nation. Two classic
    shapes in one face: the above-average filter is a 1-row scalar
    broadcast whose compare is CROSS-MULTIPLIED into exact decimals
    (``bal × n_pos > bal_sum`` — the mean itself is never computed, so
    no engine-specific division rounding exists), and the dormancy is
    a LEFT ANTI join against the date-pruned orders scan. 100 TB
    shape: the anti join shuffles custkeys only (the date filter
    pushed into the orders scan first); the nation rollup broadcasts
    the dim."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").cast("decimal(12,2)").alias("__bal_d"),
    )
    pos = cust.filter(F.col("__bal_d") > 0).agg(
        F.sum("__bal_d").alias("__bal_sum"),
        F.count(F.lit(1)).alias("__n_pos"),
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
        )
        .select("o_custkey")
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(F.col("__bal_d") * F.col("__n_pos") > F.col("__bal_sum"))
        .join(
            recent,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("__bal_d").cast("double").alias("total_acctbal"),
        )
    )


@query(
    "small_quantity_part_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey,
             sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_sum,
             count(*)::BIGINT AS n_items
      FROM lineitem GROUP BY 1
    )
    SELECT p.p_brand,
           count(*)::BIGINT AS n_small_items,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS small_qty_revenue
    FROM lineitem l
    JOIN pa ON l.l_partkey = pa.l_partkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(12,2)) * pa.n_items * 5 < pa.qty_sum
    GROUP BY 1
    """,
)
def small_quantity_part_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lineitems whose
    quantity is below 20% of their part's average quantity, revenue
    rolled up per brand — the PER-GROUP correlated scalar subquery
    (each row compared against its own group's aggregate), the shape
    Q11's single global scalar doesn't cover. The threshold compare is
    cross-multiplied (``qty × n × 5 < qty_sum``) so both engines
    compare exact decimals — the per-part average is never computed as
    a division. 100 TB shape: the per-part aggregate and the join-back
    both key on partkey — ONE shuffle partitioning serves both sides
    (no broadcast needed at any part cardinality); the brand dim
    broadcasts onto the small-quantity survivors; the final rollup is
    25 groups."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("decimal(12,2)").alias("__qty_d"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("__ep_d"),
    )
    pa = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.sum("__qty_d").alias("__qty_sum"),
        F.count(F.lit(1)).alias("__n_items"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(pa, F.col("l_partkey") == F.col("__pk"))
        .filter(
            F.col("__qty_d") * F.col("__n_items") * F.lit(5)
            < F.col("__qty_sum")
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_items"),
            F.sum("__ep_d").cast("double").alias("small_qty_revenue"),
        )
    )


@query(
    "forecast_revenue_change",
    oracle=f"""
    SELECT CAST(sum({_EP_SQL} * CAST(l_discount AS DECIMAL(4,2)))
                AS DOUBLE) AS potential_revenue,
           count(*)::BIGINT AS n_lineitems
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def forecast_revenue_change_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the revenue that would be
    recovered by eliminating mid-band discounts on small-quantity
    lineitems — the PURE scan-aggregate, no join at all. Its whole
    point at 100 TB is the scan: both range predicates push into the
    parquet reader (row-group min/max pruning does the skipping), the
    projection reads three columns, and the plan is one whole-stage-
    codegen'd partial aggregate into a 1-row final — the I/O-bound
    lower bound every other query's cost sits on top of. Discount and
    quantity filter on raw input doubles (identical on both engines);
    the money product accumulates in exact decimals."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount"
    )
    return (
        li.filter(
            F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_ep() * F.col("l_discount").cast("decimal(4,2)"))
            .cast("double")
            .alias("potential_revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "product_profit_report",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
           CAST(sum({_EP_SQL} * {_DISC_SQL} * 10
                    - CAST(l.l_quantity AS DECIMAL(12,2))
                      * CAST(p.p_retailprice AS DECIMAL(12,2)))
                AS DOUBLE) / 10 AS profit,
           count(*)::BIGINT AS n_lineitems
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%blue%'
    GROUP BY 1, 2
    """,
)
def product_profit_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product type profit), adapted: profit on 'blue' parts
    per supplier nation and order year, with unit cost proxied as 10%
    of the part's retail price (the fixture has no partsupp/
    supplycost). 100 TB shape: the name filter cuts part to a sliver
    that BROADCASTS onto lineitem first (map-side elimination before
    any shuffle), supplier→nation is a second broadcast map, and the
    one real shuffle is the orderkey join to pick up the year; the
    final rollup is (nation × year). The profit expression —
    revenue minus cost — is a DIFFERENCE of exact decimals computed
    per row BEFORE aggregation (cancellation-safe: decimal subtraction
    is exact, and the sum folds exact decimals; the only double is the
    serve cast). DuckDB's /10 on DECIMAL keeps exact scale; Spark
    divides the same exact decimal by a literal 10 — both yield the
    identical exact quotient at scale 6."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%blue%"))
        .select(
            "p_partkey",
            F.col("p_retailprice").cast("decimal(12,2)").alias("__rp_d"),
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("order_year")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    profit_term = _ep() * _disc_f() * F.lit(10) - (
        F.col("l_quantity").cast("decimal(12,2)") * F.col("__rp_d")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", "order_year")
        .agg(
            (F.sum(profit_term).cast("double") / F.lit(10)).alias(
                "profit"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )
