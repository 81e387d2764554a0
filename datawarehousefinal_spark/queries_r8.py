"""Round-8 query faces.

Classic warehouse anchors (TPC-H Q1/Q5 shapes, decimal-exact money),
retail/customer analytics (basket lift, RFM, decile lift, Pareto
deciles, Gini, cohort LTV, A/B z-test), graph analytics (triangles,
fixed-iteration PageRank, k-hop BFS), LLM-pipeline curation (DoReMi
reweighting, LOO influence, curriculum phases, dup-cluster histogram,
hard-negative mining, vocabulary drift, n-gram diversity, Zipf fit),
IR (positional phrase search), activity analytics (cumulative users,
new-vs-returning, rolling 7-day actives, decayed scores, transitions,
set intersections), order statistics (exact grouped medians, sweep-line
concurrency, max drawdown, 2-D skyline), warehouse machinery
(incremental join-view maintenance, Count-Min frequency store, regex
ETL roundtrip, referential-integrity and ID-gap audits, p-chart SPC,
share-of-parent rollup), governance (forget-cascade, k-anonymity), and
a sliding-window streaming aggregation.

Registered into the same ``QUERIES``/``ORACLES`` registry as
:mod:`datawarehousefinal_spark.queries` (imported from its tail, before
the driver-window reorder). Reference parity: these extend the cube
measure surface (Schema_Trabajo_Final.xml:69-72) and the analytics layer
(machineLearning.py:118-131) with the co-occurrence / customer-scoring /
graph queries a warehouse team runs next; the curriculum face belongs to
the beyond-reference LLM-data-pipeline surface.

Hash-stability discipline: every double reaching the driver hash is a
single division of exact integers/decimals, a positive-sum, or (for the
reweighting/drift/Zipf faces) log/exp arithmetic on well-conditioned
ratios — ≤1 ulp cross-engine, far inside the 6-significant-digit hash
rounding, with no cancellation and no transcendental feeding an ORDER BY
cutoff whose ties aren't broken by an exact key. Every face here carries
a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehousefinal_spark.materialize import local_result
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


# ---------------------------------------------------------------------------
# TPC-H Q1 shape: pricing summary report
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: regional supplier volume
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# Market-basket pair lift
# ---------------------------------------------------------------------------


@query(
    "basket_lift_pairs",
    oracle="""
    WITH items0 AS (
      SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    ok AS (
      -- mirror of retail.basket_lift's max_basket guard (default 200):
      -- oversized baskets leave the basket count, item counts, and
      -- pairs alike, so the contract holds on ANY data
      SELECT basket FROM items0 GROUP BY 1 HAVING count(*) <= 200
    ),
    items AS (SELECT i.basket, i.item FROM items0 i JOIN ok USING (basket)),
    nb AS (SELECT count(DISTINCT basket) AS n FROM items),
    ic AS (SELECT item, count(*)::BIGINT AS n_item FROM items GROUP BY 1),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_ab
      FROM items a
      JOIN items b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT item_a, item_b, n_ab,
           ca.n_item AS n_a, cb.n_item AS n_b,
           CAST((SELECT n FROM nb) AS DOUBLE) * n_ab
             / (ca.n_item * cb.n_item) AS lift,
           n_ab / ca.n_item AS confidence_ab
    FROM pairs
    JOIN ic ca ON pairs.item_a = ca.item
    JOIN ic cb ON pairs.item_b = cb.item
    ORDER BY lift DESC, item_a, item_b
    LIMIT 20
    """,
)
def basket_lift_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining at the brand level: which part
    brands co-occur in the same order more than independence predicts.
    Pair generation self-joins the distinct (basket, item) frame on the
    basket key (co-partitioned shuffle join, never cartesian; the
    ``max_basket`` guard in operators/retail.py bounds the per-basket
    quadratic term — a no-op here since an order holds ≤25 brands, but
    the oracle REPLAYS the guard so the contract holds on any data,
    not only on fixtures under the cap). All metric inputs are exact
    counts; lift/confidence are single divisions — hash-stable."""
    from datawarehousefinal_spark.operators.retail import basket_lift

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item")
    )
    with basket_lift(baskets, "basket", "item", min_support=2) as lift:
        return local_result(
            lift.orderBy(F.desc("lift"), "item_a", "item_b").limit(20)
        )


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------

_NTILE4_SQL = "(1 + (({rn} - 1) * 4) // n)::INT"


@query(
    "rfm_segment_counts",
    oracle=f"""
    WITH per AS (
      SELECT o_custkey AS customer,
             max(CAST(o_orderdate AS DATE)) AS recency_date,
             count(*)::BIGINT AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT customer, monetary,
             row_number() OVER (ORDER BY recency_date, customer) AS rr,
             row_number() OVER (ORDER BY frequency, customer) AS rf,
             row_number() OVER (ORDER BY monetary, customer) AS rm,
             count(*) OVER () AS n
      FROM per
    ),
    s AS (
      SELECT customer, monetary,
             {_NTILE4_SQL.format(rn="rr")} AS r_score,
             {_NTILE4_SQL.format(rn="rf")} AS f_score,
             {_NTILE4_SQL.format(rn="rm")} AS m_score
      FROM r
    )
    SELECT r_score, f_score, m_score,
           count(*)::BIGINT AS n_customers,
           CAST(sum(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE)
             AS total_monetary
    FROM s GROUP BY 1, 2, 3
    """,
)
def rfm_segment_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of the customer base: quartile scores for
    recency / frequency / monetary per customer, then segment sizes and
    exact revenue per (r, f, m) cell. Bucketing uses the scale-safe
    deterministic ntile (distributed prefix-sum rank, customer-id
    tie-break — operators/retail.py:deterministic_ntile), NOT a global
    single-partition ntile() window; the oracle replays the identical
    ``1 + (rank-1)*4 DIV n`` integer formula. Monetary re-accumulates
    in decimal at both levels so no double sum touches the hash."""
    from datawarehousefinal_spark.operators.retail import rfm_scores

    orders = load_table(spark, sf_dir, "orders")
    with rfm_scores(
        orders, "o_custkey", "o_orderdate", "o_totalprice", n_buckets=4
    ) as scored:
        return local_result(scored.groupBy("r_score", "f_score", "m_score").agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("monetary").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_monetary"),
        ))


# ---------------------------------------------------------------------------
# Score-decile lift table
# ---------------------------------------------------------------------------


@query(
    "decile_lift_table",
    oracle="""
    WITH scored AS (
      SELECT (o_orderstatus = 'F')::INT AS label,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS rn,
             count(*) OVER () AS n_tot
      FROM orders
    ),
    b AS (SELECT (1 + ((rn - 1) * 10) // n_tot)::INT AS decile, label
          FROM scored),
    per AS (
      SELECT decile, count(*)::BIGINT AS n, sum(label)::BIGINT AS n_pos
      FROM b GROUP BY 1
    ),
    c AS (
      SELECT decile, n, n_pos,
             sum(n) OVER (ORDER BY decile)::BIGINT AS cum_n,
             sum(n_pos) OVER (ORDER BY decile)::BIGINT AS cum_pos,
             sum(n) OVER ()::BIGINT AS tot_n,
             sum(n_pos) OVER ()::BIGINT AS tot_pos
      FROM per
    )
    SELECT decile, n, n_pos,
           n_pos / n AS response_rate,
           (cum_pos / cum_n) / (tot_pos / tot_n) AS cum_lift
    FROM c
    """,
)
def decile_lift_table_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-scoring evaluation: bucket orders into deciles by
    descending score (here the frozen deterministic score is the order
    value itself — the operator takes any precomputed score column) and
    report per-decile volume, positives (status F), response rate, and
    cumulative lift vs base rate. Decile assignment uses the
    distributed-rank ntile with an orderkey tie-break (no global
    window); rates are single divisions of exact counts. The final
    10-row window is contract-small."""
    from datawarehousefinal_spark.operators.retail import decile_lift

    orders = load_table(spark, sf_dir, "orders").select(
        (-F.col("o_totalprice")).alias("__negscore"),
        F.col("o_orderkey"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return decile_lift(
        orders, ["__negscore", "o_orderkey"], "label", n_deciles=10
    )


# ---------------------------------------------------------------------------
# Triangle counting over the supplier co-occurrence graph
# ---------------------------------------------------------------------------


@query(
    "supplier_triangle_count",
    oracle="""
    WITH so AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    pairs AS (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS n_co
      FROM so a
      JOIN so b ON a.l_orderkey = b.l_orderkey
                AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
    ),
    ec AS (SELECT u, v FROM pairs WHERE n_co >= 4),
    nodes AS (SELECT u AS node FROM ec UNION SELECT v FROM ec),
    tri AS (
      SELECT count(*)::BIGINT AS n_triangles
      FROM ec e1
      JOIN ec e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN ec e3 ON e3.u = e1.v AND e3.v = e2.v
    )
    SELECT (SELECT count(*) FROM nodes)::BIGINT AS n_nodes,
           (SELECT count(*) FROM ec)::BIGINT AS n_edges,
           (SELECT n_triangles FROM tri) AS n_triangles
    """,
)
def supplier_triangle_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-structure analytics over a co-occurrence graph: suppliers
    are linked when they ship in the same order ≥4 times, and the query
    reports node / edge / triangle totals — the clustering signal. The
    engine side runs degree-ordered compact-forward triangle
    enumeration (operators/graph.py:triangle_count — per-node oriented
    out-degree bounded by O(sqrt E), the standard skew cap for
    power-law graphs at 100 TB); the oracle counts the same triangles
    by the id-ordered 3-join identity, which agrees because each
    undirected triangle is counted exactly once by both."""
    from datawarehousefinal_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem")
    so = li.select("l_orderkey", "l_suppkey").distinct()
    a = so.select(F.col("l_orderkey").alias("bk"), F.col("l_suppkey").alias("u"))
    b = so.select(F.col("l_orderkey").alias("bk"), F.col("l_suppkey").alias("v"))
    edges = (
        a.join(b, "bk")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 4)
    )
    with triangle_count(edges, "u", "v") as (_per_node, totals):
        return local_result(totals.select("n_nodes", "n_edges", "n_triangles"))


# ---------------------------------------------------------------------------
# Fixed-iteration PageRank over the nation trade graph
# ---------------------------------------------------------------------------


def _pagerank_oracle(iterations: int = 3, damping: float = 0.85) -> str:
    """Unrolled-CTE DuckDB replay of graph.pagerank on the nation trade
    graph. Doubles follow the engine's exact expression tree: the
    teleport literal is (1 - 0.85e0)/n computed in doubles, matching
    the Python-driver literal; in-mass sums are positive doubles."""
    prev = "r0"
    its = []
    for i in range(1, iterations + 1):
        its.append(f"""
    m{i} AS (
      SELECT nm.dst AS node, sum(r.rank * nm.p) AS in_mass
      FROM {prev} r JOIN norm nm ON r.node = nm.src GROUP BY 1
    ),
    d{i} AS (
      SELECT coalesce(sum(r.rank), 0) AS d FROM {prev} r
      WHERE r.node NOT IN (SELECT src FROM outw)
    ),
    r{i} AS (
      SELECT nd.node,
             (1 - CAST({damping} AS DOUBLE)) / (SELECT n FROM cnt)
             + CAST({damping} AS DOUBLE)
               * (coalesce(m.in_mass, 0)
                  + (SELECT d FROM d{i}) / (SELECT n FROM cnt))
               AS rank
      FROM nodes nd LEFT JOIN m{i} m ON nd.node = m.node
    )""")
        prev = f"r{i}"
    return f"""
    WITH edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             count(*)::DOUBLE AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outw AS (SELECT src, sum(w) AS w_out FROM edges GROUP BY 1),
    norm AS (
      SELECT e.src, e.dst, e.w / o.w_out AS p
      FROM edges e JOIN outw o ON e.src = o.src
    ),
    r0 AS (
      SELECT node, 1.0 / (SELECT n FROM cnt) AS rank FROM nodes
    ),{",".join(its)}
    SELECT na.n_name AS nation, round(r.rank, 6) + 0 AS rank
    FROM {prev} r JOIN nation na ON r.node = na.n_nationkey
    ORDER BY nation
    """


@query("nation_trade_pagerank", oracle=_pagerank_oracle())
def nation_trade_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (3 fixed iterations, d=0.85) over the nation
    trade graph: an edge customer-nation → supplier-nation per shipping
    relationship, weighted by lineitem count — which nations sit at the
    center of the trade network. The canonical iterative-join workload:
    per iteration one shuffle keyed on src plus a map-side-combined sum
    by dst, rank frames localCheckpoint-ed to truncate lineage
    (operators/graph.py:pagerank). Fixed iterations keep the math pure
    deterministic arithmetic — the oracle unrolls the same three steps
    as CTEs. Positive-sum doubles only; no cancellation."""
    from datawarehousefinal_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    from datawarehousefinal_spark.queries import _ulp_contract

    with pagerank(edges, "src", "dst", weight="w", iterations=3) as ranks:
        out = (
            ranks.join(
                F.broadcast(nation), ranks["node"] == nation["n_nationkey"]
            )
            .select(F.col("n_name").alias("nation"), "rank")
            .orderBy("nation")
        )
        # per-iteration in-mass sums re-associate — serve-boundary contract
        return local_result(_ulp_contract(out, "rank"))


# ---------------------------------------------------------------------------
# Curriculum phase scheduling over document quality
# ---------------------------------------------------------------------------


@query(
    "curriculum_schedule",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
    sc AS (
      SELECT doc_id,
             0.5 * least(length(text)::DOUBLE / 1000.0, 1.0)
             + 0.5 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
                        ::DOUBLE / length(text)) AS score
      FROM d
    ),
    r AS (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score, doc_id) AS rn,
             count(*) OVER () AS n
      FROM sc
    ),
    p AS (SELECT (1 + ((rn - 1) * 5) // n)::INT AS phase, score FROM r)
    SELECT phase, count(*)::BIGINT AS n_docs,
           min(score) AS min_score, max(score) AS max_score,
           sum(score) / count(*) AS mean_score
    FROM p GROUP BY 1
    """,
)
def curriculum_schedule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum scheduling for LLM training data: order documents by
    a deterministic quality score (length ramp + alphabetic ratio —
    pure column arithmetic, no transcendentals) and cut the corpus into
    5 ascending-difficulty phases via the distributed-rank ntile
    (doc_id tie-break). Reports per-phase counts and score stats — the
    manifest a data loader consumes to schedule epochs easy→hard.
    Beyond-reference (LLM pipeline surface); the score formula is the
    same shape as the curation funnel's quality rule."""
    from datawarehousefinal_spark.operators.retail import deterministic_ntile

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z ]", "")).cast(
        "double"
    ) / F.length("text")
    score = (
        F.lit(0.5) * F.least(F.length("text").cast("double") / 1000.0, F.lit(1.0))
        + F.lit(0.5) * alpha
    )
    sc = docs.select("doc_id", score.alias("score"))
    phased = deterministic_ntile(sc, ["score", "doc_id"], 5, "phase")
    return phased.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
        (F.sum("score") / F.count(F.lit(1))).alias("mean_score"),
    )


# ---------------------------------------------------------------------------
# Activity analytics: user growth and new-vs-returning split
# ---------------------------------------------------------------------------


@query(
    "cumulative_active_users",
    oracle="""
    WITH f AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1
    ),
    n AS (SELECT day, count(*)::BIGINT AS n_new_users FROM f GROUP BY 1)
    SELECT day, n_new_users,
           sum(n_new_users) OVER (ORDER BY day)::BIGINT AS cum_users
    FROM n
    """,
)
def cumulative_active_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User growth curve: daily first-time users and the exact running
    count of distinct users ever active. The running distinct is NOT a
    distinct-over-window (unbounded state): users collapse to their
    first day, and the cumsum runs through the distributed prefix sum
    (operators/analytics.py:cumulative_new_users) — two shuffles total,
    no global sort. The oracle's window replay agrees because arrivals
    are exact integers."""
    from datawarehousefinal_spark.operators.analytics import (
        cumulative_new_users,
    )

    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return cumulative_new_users(events, "user_id", "ts")


@query(
    "new_vs_returning_daily",
    oracle="""
    WITH e AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    f AS (SELECT user_id, min(day) AS fd FROM e GROUP BY 1)
    SELECT e.day,
           sum(CASE WHEN e.day = f.fd THEN 1 ELSE 0 END)::BIGINT
             AS n_new_users,
           sum(CASE WHEN e.day > f.fd THEN 1 ELSE 0 END)::BIGINT
             AS n_returning_users
    FROM e JOIN f ON e.user_id = f.user_id
    GROUP BY 1
    """,
)
def new_vs_returning_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day active-user split into first-time vs returning — one
    user-keyed join of the distinct activity frame against the per-user
    first-day frame, then a day-keyed aggregate
    (operators/analytics.py:new_vs_returning_daily). Exact integer
    counts only."""
    from datawarehousefinal_spark.operators.analytics import (
        new_vs_returning_daily,
    )

    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return new_vs_returning_daily(events, "user_id", "ts")


# ---------------------------------------------------------------------------
# Streaming: sliding (hopping) windows
# ---------------------------------------------------------------------------


@query(
    "streaming_sliding_counts",
    oracle="""
    WITH d AS (SELECT CAST(ts AS DATE) AS day FROM events),
    w AS (
      SELECT day AS w_start FROM d
      UNION ALL
      SELECT day - 1 FROM d
    )
    SELECT w_start, w_start + 2 AS w_end, count(*)::BIGINT AS n_events
    FROM w GROUP BY 1, 2
    """,
)
def streaming_sliding_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows made driver-visible AND oracled: the
    events table re-served as a 2-batch parquet stream through a 2-day
    window hopping by 1 day (streaming/pipeline.sliding_window_counts)
    — every event lands in exactly two windows. Complete mode emits
    final counts after availableNow drains; the oracle replays the
    overlap by fanning each event's day into its two window starts.
    Watermark far beyond the fixture span so no genuine row drops; at
    production scale the horizon bounds state to window/slide rows per
    key."""
    from datawarehousefinal_spark.queries import _scratch_path
    from datawarehousefinal_spark.streaming.pipeline import (
        read_parquet_stream,
        run_to_memory,
        sliding_window_counts,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "ts")
    with _scratch_path("stream_sliding", sf_dir) as base:
        src = f"{base}/src"
        events.repartition(2).write.parquet(src)
        stream = read_parquet_stream(
            spark, src, events.schema, max_files_per_trigger=1
        )
        counts = sliding_window_counts(
            stream, "ts", "2 days", "1 day", watermark="36500 days"
        )
        table = "dwf_stream_sliding_counts"
        spark.catalog.dropTempView(table)
        run_to_memory(counts, table, "complete")
        return local_result(
            spark.table(table).select(
                "w_start", "w_end", F.col("n_events").cast("long")
            )
        )


# ---------------------------------------------------------------------------
# LLM-pipeline curation: DoReMi-lite reweighting, dup-cluster histogram,
# leave-one-out source influence, hard-negative mining
# ---------------------------------------------------------------------------

_ALPHA_SQL = (
    "(length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE"
    " / length(text))"
)


@query(
    "domain_reweight_mix",
    oracle=f"""
    WITH d AS (
      SELECT source, 1 - {_ALPHA_SQL} AS loss
      FROM documents WHERE length(text) > 0
    ),
    per AS (
      SELECT source AS domain, count(*)::BIGINT AS n_docs, sum(loss) AS s
      FROM d GROUP BY 1
    ),
    tot AS (
      SELECT sum(n_docs)::BIGINT AS n, min(s / n_docs) AS ml FROM per
    ),
    w AS (
      SELECT domain, n_docs,
             n_docs / n AS share,
             s / n_docs AS mean_loss,
             (n_docs / n) * exp(CAST(1.0 AS DOUBLE) * (s / n_docs - ml))
               AS raw
      FROM per, tot
    ),
    z AS (SELECT sum(raw) AS z FROM w)
    SELECT domain, n_docs, share,
           round(mean_loss, 9) + 0 AS mean_loss,
           round(raw / z, 9) + 0 AS new_weight
    FROM w, z
    """,
)
def domain_reweight_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style exponentiated-gradient reweighting step over the
    per-source corpus mix: sources whose mean loss proxy (here
    1 − alphabetic ratio) exceeds the best source's get upweighted
    relative to their share, producing the next epoch's sampling
    weights (operators/curation.py:domain_reweight). Reduces to one
    domain-keyed aggregate plus |domains|-row arithmetic — no per-row
    exp, no second pass."""
    from datawarehousefinal_spark.operators.curation import domain_reweight

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z ]", "")).cast(
        "double"
    ) / F.length("text")
    scored = docs.select("source", (F.lit(1) - alpha).alias("loss"))
    from datawarehousefinal_spark.queries import _ulp_contract

    out = domain_reweight(scored, "source", "loss", eta=1.0)
    # per-domain loss sums re-associate (flaked once per ~3 sweeps at
    # full precision); 9 dp — weights are ~1e-2 magnitude — contract
    return _ulp_contract(out, "mean_loss", "new_weight", digits=9)


@query(
    "loo_source_influence",
    oracle=f"""
    WITH d AS (
      SELECT source, {_ALPHA_SQL} AS score
      FROM documents WHERE length(text) > 0
    ),
    per AS (
      SELECT source AS "group", count(*)::BIGINT AS n_docs, sum(score) AS s
      FROM d GROUP BY 1
    ),
    tot AS (SELECT sum(n_docs)::BIGINT AS n, sum(s) AS ts FROM per)
    SELECT "group", n_docs,
           s / n_docs AS group_mean,
           ts / n - (ts - s) / (n - n_docs) AS influence
    FROM per, tot
    """,
)
def loo_source_influence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-group-out data attribution: how much each source's
    removal would move the corpus-level mean quality score — computed
    algebraically from per-source (count, sum) aggregates, so the N−1
    "retrain" costs nothing (operators/curation.py:loo_group_influence).
    The screening pass that decides which source to drop or downweight
    before any expensive mix experiment."""
    from datawarehousefinal_spark.operators.curation import (
        loo_group_influence,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z ]", "")).cast(
        "double"
    ) / F.length("text")
    scored = docs.select("source", alpha.alias("score"))
    return loo_group_influence(scored, "source", "score")


@query(
    "dup_cluster_size_histogram",
    oracle=None,  # set below: needs _norm_sql from the host module
)
def dup_cluster_size_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup diagnostic a
    corpus report leads with: after normalizing text (the F1–F4
    composite), how many clusters exist at each multiplicity and how
    many documents they hold. Two map-side-combined aggregates
    (normalized-key count, then size histogram); the normalized key is
    hashed before the first shuffle so wide text never shuffles."""
    from datawarehousefinal_spark.functions import textnorm

    docs = load_table(spark, sf_dir, "documents")
    clusters = docs.groupBy(
        F.sha2(textnorm.normalize_text(F.col("text")), 256).alias("__k")
    ).agg(F.count(F.lit(1)).alias("cluster_size"))
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).alias("n_docs"),
    )


def _dup_hist_oracle() -> str:
    from datawarehousefinal_spark.queries import _norm_sql

    return f"""
    WITH c AS (
      SELECT {_norm_sql("text")} AS k, count(*)::BIGINT AS cluster_size
      FROM documents GROUP BY 1
    )
    SELECT cluster_size, count(*)::BIGINT AS n_clusters,
           (count(*) * cluster_size)::BIGINT AS n_docs
    FROM c GROUP BY 1
    """


from datawarehousefinal_spark.queries import ORACLES as _OR  # noqa: E402

_OR["dup_cluster_size_histogram"] = _dup_hist_oracle()


@query(
    "hard_negative_mining",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, label AS qlab,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, label AS clab,
                 embedding::DOUBLE[] AS cv
          FROM embeddings),
    scored AS (
      SELECT query_id, qlab, neighbor_id, clab,
             list_cosine_similarity(qv, cv) AS cosine,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id
             ) AS rn
      FROM q CROSS JOIN c
      WHERE neighbor_id != query_id
    ),
    shortlist AS (SELECT * FROM scored WHERE rn <= 50)
    SELECT query_id, neighbor_id, round(cosine, 6) + 0 AS cosine FROM (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
             ) AS rn2
      FROM shortlist WHERE clab != qlab
    ) WHERE rn2 <= 3
    """,
)
def hard_negative_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard-negative mining: for each query
    embedding, the 3 nearest neighbors with a DIFFERENT label, drawn
    from a top-50 cosine shortlist — the retrieve-then-filter contract
    production miners use (the shortlist is exactly what an ANN index
    serves; the label filter and re-rank run on the tiny candidate
    frame). The shortlist comes from the Arrow-BLAS exact top-k kernel
    (corpus scanned once, per-batch local top-k, no Q×N shuffle); label
    joins touch only ~Q×50 rows."""
    from datawarehousefinal_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cand = cosine_topk(emb, queries, "vec_id", "embedding", k=50)
    # Labels for the QUERY side come from the queries frame (bounded by
    # contract); the corpus-label lookup joins with the Q×50 candidate
    # frame broadcast, so the corpus never shuffles here either.
    qlab = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("__qlab")
    )
    clab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("__clab")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    shortlist = cand.join(F.broadcast(qlab), "query_id")
    from datawarehousefinal_spark.queries import _ulp_contract

    out = (
        clab.join(F.broadcast(shortlist), "neighbor_id")
        .filter(F.col("__clab") != F.col("__qlab"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .select("query_id", "neighbor_id", "cosine")
    )
    # dot-product accumulation order differs — serve-boundary contract
    return _ulp_contract(out, "cosine")


# ---------------------------------------------------------------------------
# Corpus statistics: vocabulary drift, lexical diversity, Zipf fit
# ---------------------------------------------------------------------------

_TOKS_R8 = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"
)


@query(
    "vocab_drift_report",
    oracle=f"""
    WITH t AS (
      SELECT doc_id % 2 AS half, unnest({_TOKS_R8}) AS term FROM documents
    ),
    counts AS (
      SELECT term,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
      FROM t GROUP BY 1
    ),
    tot AS (SELECT sum(n_a)::BIGINT AS ta, sum(n_b)::BIGINT AS tb
            FROM counts),
    top AS (
      SELECT * FROM counts, tot
      ORDER BY (n_a + n_b) DESC, term LIMIT 50
    )
    SELECT term, n_a, n_b,
           n_a / ta AS p_a, n_b / tb AS p_b,
           n_a / ta - n_b / tb AS delta,
           round((CASE WHEN n_a > 0 THEN (n_a / ta)
                   * log2((n_a / ta) / ((n_a / ta + n_b / tb) / 2))
                 ELSE 0.0 END
            + CASE WHEN n_b > 0 THEN (n_b / tb)
                   * log2((n_b / tb) / ((n_a / ta + n_b / tb) / 2))
                 ELSE 0.0 END) / 2, 9) + 0 AS js_contrib
    FROM top
    ORDER BY abs(n_a / ta - n_b / tb) DESC, term
    LIMIT 15
    """,
)
def vocab_drift_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between two corpus slices (here the doc_id
    parity split standing in for consecutive crawl snapshots): per-term
    probability deltas and Jensen-Shannon contributions for the 15
    largest movers among the top-50 terms
    (operators/textstats.py:vocab_drift). One token explode, one
    term-keyed conditional aggregate — the slices never join."""
    from datawarehousefinal_spark.operators.textstats import vocab_drift

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).cast("int").alias("half"), "text"
    )
    from datawarehousefinal_spark.queries import _ulp_contract

    out = vocab_drift(docs, "half", "text", top_n=50, top_shift=15)
    # the two JS legs' add order differs across engines — contract at
    # 9 dp (the column's magnitude is ~1e-4, so 6 dp would over-coarsen)
    return _ulp_contract(out, "js_contrib", digits=9)


@query(
    "ngram_diversity_report",
    oracle=f"""
    WITH t AS (SELECT source, {_TOKS_R8} AS toks FROM documents),
    uni AS (SELECT source, unnest(toks) AS g FROM t),
    bi AS (
      SELECT source, toks[i] || ' ' || toks[i+1] AS g
      FROM t, unnest(range(1, len(toks))) AS u(i)
    ),
    u AS (
      SELECT source AS "group", count(*)::BIGINT AS n_tokens,
             count(DISTINCT g)::BIGINT AS n_types
      FROM uni GROUP BY 1
    ),
    b AS (
      SELECT source AS "group", count(*)::BIGINT AS n_bigrams,
             count(DISTINCT g)::BIGINT AS n_bigram_types
      FROM bi GROUP BY 1
    )
    SELECT u."group", n_tokens, n_types,
           n_types / n_tokens AS ttr,
           coalesce(n_bigrams, 0) AS n_bigrams,
           coalesce(n_bigram_types, 0) AS n_bigram_types,
           CASE WHEN coalesce(n_bigrams, 0) > 0
                THEN n_bigram_types / n_bigrams END AS bigram_ttr
    FROM u LEFT JOIN b ON u."group" = b."group"
    """,
)
def ngram_diversity_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: unigram/bigram type-token ratios —
    the templated-source detector (boilerplate collapses bigram TTR
    first). Bigrams form per-document (boundaries respected); exact
    distinct counts, two map-side-combinable shuffles
    (operators/textstats.py:ngram_diversity)."""
    from datawarehousefinal_spark.operators.textstats import ngram_diversity

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return ngram_diversity(docs, "source", "text")


@query(
    "zipf_fit_report",
    oracle=f"""
    WITH t AS (SELECT unnest({_TOKS_R8}) AS term FROM documents),
    counts AS (SELECT term, count(*)::BIGINT AS n FROM t GROUP BY 1
               ORDER BY n DESC, term LIMIT 100),
    xy AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, term) AS DOUBLE))
               AS x,
             ln(CAST(n AS DOUBLE)) AS y
      FROM counts
    ),
    agg AS (
      SELECT CAST(count(*) AS DOUBLE) AS k,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM xy
    )
    SELECT CAST(k AS BIGINT) AS n_terms,
           round((sxy - sx * sy / k) / (sxx - sx * sx / k), 6) + 0
             AS slope,
           round((sy - (sxy - sx * sy / k) / (sxx - sx * sx / k) * sx) / k,
                 6) + 0 AS intercept,
           round((sxy - sx * sy / k) * (sxy - sx * sy / k)
                 / ((sxx - sx * sx / k) * (syy - sy * sy / k)), 6) + 0
             AS r2
    FROM agg
    """,
)
def zipf_fit_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-100 term frequencies: OLS of
    ln(count) on ln(rank) — slope ≈ −1 for natural text, a one-row
    corpus-health anchor (operators/textstats.py:zipf_fit). The only
    window runs over the 100-row top-terms frame (contract-small)."""
    from datawarehousefinal_spark.operators.textstats import zipf_fit

    docs = load_table(spark, sf_dir, "documents").select("text")
    from datawarehousefinal_spark.queries import _ulp_contract

    # OLS moment sums re-associate (diverged at sf0.01 only) — contract
    return _ulp_contract(
        zipf_fit(docs, "text", top_n=100), "slope", "intercept", "r2"
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (AllPairs/SSJoin)
# ---------------------------------------------------------------------------


@query("prefix_filter_jaccard_pairs", oracle=None)  # oracle bound below
def prefix_filter_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 5-gram Jaccard near-dup pairs (threshold 0.9) through the
    prefix-filtered AllPairs join (operators/dedup.py:
    prefix_filter_jaccard_pairs) — the lossless scale path between the
    brute-force checker (`ngram_jaccard_pairs`, bench-excluded) and the
    approximate MinHash banding (`minhash_lsh_pairs`): candidates come
    only from shared RAREST-shingle prefixes, then exact verification.
    Same output contract and the same brute-force SQL oracle as the
    checker — equality is the losslessness proof, run by the driver."""
    from datawarehousefinal_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )
    from datawarehousefinal_spark.queries import _W

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.9, shingle_width=_W
    )


def _bind_prefix_filter_oracle() -> None:
    from datawarehousefinal_spark.queries import _JACCARD_PAIRS_SQL

    _OR["prefix_filter_jaccard_pairs"] = _JACCARD_PAIRS_SQL


_bind_prefix_filter_oracle()


# ---------------------------------------------------------------------------
# Concentration & rolling-activity analytics
# ---------------------------------------------------------------------------


@query(
    "pareto_revenue_report",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS customer,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT customer, revenue,
             row_number() OVER (ORDER BY revenue DESC, customer) AS rn,
             count(*) OVER () AS n
      FROM per
    ),
    b AS (
      SELECT (1 + ((rn - 1) * 10) // n)::INT AS decile, revenue FROM r
    ),
    per_d AS (
      SELECT decile, count(*)::BIGINT AS n_customers,
             CAST(sum(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE)
               AS decile_revenue
      FROM b GROUP BY 1
    ),
    t AS (SELECT CAST(sum(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE)
                   AS tot FROM per)
    SELECT decile, n_customers, decile_revenue,
           decile_revenue / tot AS revenue_share,
           CAST(sum(CAST(decile_revenue AS DECIMAL(18,2)))
                  OVER (ORDER BY decile) AS DOUBLE) / tot AS cum_share
    FROM per_d, t
    """,
)
def pareto_revenue_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the Pareto/ABC report): customers bucketed
    into deciles by DESCENDING revenue, each decile's exact decimal
    revenue, share of total, and cumulative share — "do the top 10% of
    customers carry 40% of revenue". Decile assignment reuses the
    distributed-rank ntile; the final cumulative window runs over the
    10-row decile frame (contract-small). Every sum re-accumulates in
    decimal so no double addition reaches the hash."""
    from datawarehousefinal_spark.operators.retail import deterministic_ntile

    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy(F.col("o_custkey").alias("customer")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    binned = deterministic_ntile(
        per.select((-F.col("revenue")).alias("__neg"), "customer", "revenue"),
        ["__neg", "customer"],
        10,
        "decile",
    )
    per_d = binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("revenue").cast("decimal(18,2)"))
        .cast("double")
        .alias("decile_revenue"),
    )
    tot = per_d.agg(
        F.sum(F.col("decile_revenue").cast("decimal(18,2)"))
        .cast("double")
        .alias("__tot")
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_d.crossJoin(F.broadcast(tot))
        .withColumn(
            "__cum",
            F.sum(F.col("decile_revenue").cast("decimal(18,2)"))
            .over(w)
            .cast("double"),
        )
        .select(
            "decile",
            "n_customers",
            "decile_revenue",
            (F.col("decile_revenue") / F.col("__tot")).alias("revenue_share"),
            (F.col("__cum") / F.col("__tot")).alias("cum_share"),
        )
    )


@query(
    "rolling_7d_active_users",
    oracle="""
    WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                 FROM events),
    fan AS (
      SELECT user_id, day + i::INT AS w_day
      FROM act, unnest(range(0, 7)) AS u(i)
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS w_day FROM events)
    SELECT f.w_day AS day, count(DISTINCT f.user_id)::BIGINT AS active_7d
    FROM fan f JOIN days d ON f.w_day = d.w_day
    GROUP BY 1
    """,
)
def rolling_7d_active_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users — THE product-health metric — as an
    exact distinct count per day, WITHOUT a distinct-over-range window
    (unbounded state, single-partition): each distinct (user, day)
    activity fans out to the 7 window-end days it supports (bounded 7×
    row growth, a pure map), then one day-keyed distinct count.
    Restricted to days that actually occur in the data so both engines
    agree on the reporting domain."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    act = events.distinct()
    fan = act.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("w_day"),
    )
    days = events.select(F.col("day").alias("w_day")).distinct()
    return (
        fan.join(days, "w_day")
        .groupBy(F.col("w_day").alias("day"))
        .agg(F.countDistinct("user_id").alias("active_7d"))
    )


# ---------------------------------------------------------------------------
# Positional phrase search & ship-latency distribution
# ---------------------------------------------------------------------------


@query(
    "phrase_search_postings",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_R8} AS toks FROM documents)
    SELECT doc_id, count(*)::BIGINT AS n_matches
    FROM t, unnest(range(1, len(toks))) AS u(i)
    WHERE toks[i] = 'table' AND toks[i+1] = 'scan'
    GROUP BY 1
    """,
)
def phrase_search_postings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact positional phrase search ("table scan") over the documents
    corpus — the IR operation BM25's bag-of-words cannot express,
    served from positional postings filtered to the phrase's tokens
    BEFORE any shuffle (operators/textstats.py:phrase_search); the
    consecutive-position self-join costs the rarest token's posting
    list, not the corpus."""
    from datawarehousefinal_spark.operators.textstats import phrase_search

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_search(docs, "doc_id", "text", ["table", "scan"])


@query(
    "ship_latency_by_priority",
    oracle="""
    WITH fs AS (
      SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS first_ship
      FROM lineitem GROUP BY 1
    ),
    lat AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', CAST(o.o_orderdate AS DATE), f.first_ship)
               ::BIGINT AS days
      FROM orders o JOIN fs f ON o.o_orderkey = f.l_orderkey
    ),
    hist AS (SELECT priority, days, count(*)::BIGINT AS c
             FROM lat GROUP BY 1, 2),
    cum AS (
      SELECT priority, days, c,
             sum(c) OVER (PARTITION BY priority ORDER BY days) AS cumc,
             sum(c) OVER (PARTITION BY priority) AS n
      FROM hist
    ),
    med AS (
      SELECT priority, min(days) AS median_days
      FROM cum WHERE cumc * 2 >= n GROUP BY 1
    ),
    agg AS (
      SELECT priority, count(*)::BIGINT AS n_orders,
             CAST(sum(days) AS DOUBLE) / count(*) AS avg_days
      FROM lat GROUP BY 1
    )
    SELECT a.priority, a.n_orders, a.avg_days, m.median_days
    FROM agg a JOIN med m ON a.priority = m.priority
    """,
)
def ship_latency_by_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment latency per order priority: volume, mean
    days (one division of exact integer sums), and the EXACT lower
    median via the per-group value-histogram cumulative method
    (operators/analytics.py:grouped_exact_median — windows run over
    |distinct latencies| per group, never rows). The ops-SLA view a
    fulfillment dashboard opens with."""
    from datawarehousefinal_spark.operators.analytics import (
        grouped_exact_median,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    fs = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("__first_ship")
    )
    lat = orders.join(
        fs, orders["o_orderkey"] == fs["l_orderkey"]
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("__first_ship"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("days"),
    )
    med = grouped_exact_median(lat, ["priority"], "days").select(
        "priority", F.col("median").alias("median_days")
    )
    agg = lat.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("days").cast("double") / F.count(F.lit(1))).alias("avg_days"),
    )
    return agg.join(F.broadcast(med), "priority")


# ---------------------------------------------------------------------------
# Incremental view maintenance & drawdown analytics
# ---------------------------------------------------------------------------


@query(
    "ivm_join_view_merge",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def ivm_join_view_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a join view, proven by identity: the
    orders⋈customer revenue-by-nation view is built from an 80/20 split
    of BOTH inputs using the delta algebra ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB
    (operators/incremental.py:ivm_join_delta) and merged with the base
    view's aggregate state — three delta-sized joins instead of one
    full re-join per batch. The oracle computes the view DIRECTLY from
    the full tables: hash equality proves the maintenance algebra drops
    and double-counts nothing. Decimal-exact revenue."""
    from datawarehousefinal_spark.operators.incremental import ivm_join_delta

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    base_a = orders.filter(F.col("o_orderkey") % 5 != 0)
    delta_a = orders.filter(F.col("o_orderkey") % 5 == 0)
    base_b = cust.filter(F.col("o_custkey") % 7 != 0)
    delta_b = cust.filter(F.col("o_custkey") % 7 == 0)

    def view_agg(joined: DataFrame) -> DataFrame:
        return joined.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__rev"),
        )

    base_view = view_agg(base_a.join(base_b, "o_custkey"))
    delta_view = view_agg(
        ivm_join_delta(base_a, delta_a, base_b, delta_b, ["o_custkey"])
    )
    return (
        base_view.unionByName(delta_view)
        .groupBy("nationkey")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("__rev").cast("double").alias("revenue"),
        )
    )


@query(
    "max_drawdown_report",
    oracle="""
    WITH daily AS (
      SELECT EXTRACT(year FROM o_orderdate)::INT AS yr,
             CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY 1, 2
    ),
    run AS (
      SELECT yr, day, revenue,
             max(revenue) OVER (
               PARTITION BY yr ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS peak
      FROM daily
    )
    SELECT yr AS "group", max(peak) AS peak_value,
           max(peak - revenue) AS max_drawdown
    FROM run GROUP BY 1
    """,
)
def max_drawdown_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of daily revenue per year — worst
    peak-to-trough collapse of the running series
    (operators/timeseries.py:max_drawdown). The window input is the
    DAILY aggregate (≤366 rows per year-partition, parallel across
    years), never raw orders; daily revenue is decimal-exact so the
    subtractions are differences of exact values."""
    from datawarehousefinal_spark.operators.timeseries import max_drawdown

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    return max_drawdown(daily, "yr", "day", "revenue")


# ---------------------------------------------------------------------------
# k-hop reachability & referential-integrity audit
# ---------------------------------------------------------------------------


def _khop_oracle(max_hops: int = 3) -> str:
    prev = "d0"
    its = []
    for i in range(1, max_hops + 1):
        its.append(f"""
    d{i} AS (
      SELECT node, min(distance) AS distance FROM (
        SELECT node, distance FROM {prev}
        UNION ALL
        SELECT e.b AS node, d.distance + 1 AS distance
        FROM {prev} d JOIN sym e ON d.node = e.a
      ) GROUP BY 1
    )""")
        prev = f"d{i}"
    return f"""
    WITH trade AS (
      SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ),
    sym AS (
      SELECT a, b FROM trade UNION SELECT b, a FROM trade
    ),
    d0 AS (SELECT 0::BIGINT AS node, 0::BIGINT AS distance),{",".join(its)}
    SELECT na.n_name AS nation, d.distance
    FROM {prev} d JOIN nation na ON d.node = na.n_nationkey
    ORDER BY nation
    """


@query("trade_khop_distances", oracle=_khop_oracle())
def trade_khop_distances_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability: exact hop distances (≤3) from nation 0 over the
    undirected nation trade graph — blast-radius analysis as fixed-
    iteration min-relaxation (operators/graph.py:khop_distances, one
    node-keyed shuffle per hop, lineage-truncated), with the three hops
    unrolled as oracle CTEs. Pure integer arithmetic."""
    from datawarehousefinal_spark.operators.graph import khop_distances

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .select(F.col("c_nationkey").alias("a"), F.col("s_nationkey").alias("b"))
        .distinct()
    )
    with khop_distances(edges, "a", "b", [0], max_hops=3) as dist:
        return local_result(
            dist.join(F.broadcast(nation), dist["node"] == nation["n_nationkey"])
            .select(F.col("n_name").alias("nation"), "distance")
            .orderBy("nation")
        )


_FK_EDGES = [
    ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation.n_nationkey", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region.r_regionkey", "nation", "n_regionkey",
     "region", "r_regionkey"),
]


def _ref_integrity_oracle() -> str:
    parts = []
    for label, child, ck, parent, pk in _FK_EDGES:
        parts.append(f"""
    SELECT '{label}' AS fk,
           (SELECT count(*) FROM {child})::BIGINT AS n_rows,
           (SELECT count(*) FROM {child} ch
            WHERE NOT EXISTS (
              SELECT 1 FROM {parent} p WHERE p.{pk} = ch.{ck}
            ))::BIGINT AS n_orphans""")
    return " UNION ALL ".join(parts)


@query("referential_integrity_report", oracle=_ref_integrity_oracle())
def referential_integrity_report_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Warehouse-wide referential-integrity audit: every FK edge of the
    star/snowflake checked with one broadcast anti-join (dims broadcast;
    the fact scans stream) — row counts and orphan counts per edge, the
    load-gate report an ETL run signs off on. All exact integers."""
    result = None
    for label, child, ck, parent, pk in _FK_EDGES:
        c = load_table(spark, sf_dir, child).select(ck)
        p = load_table(spark, sf_dir, parent).select(pk)
        row = (
            c.join(F.broadcast(p), c[ck] == p[pk], "left")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col(pk).isNull().cast("bigint")).alias("n_orphans"),
            )
            .select(F.lit(label).alias("fk"), "n_rows", "n_orphans")
        )
        result = row if result is None else result.unionByName(row)
    return result


# ---------------------------------------------------------------------------
# Count-Min frequency store & event transition matrix
# ---------------------------------------------------------------------------

_CM_HASH_SQL = (
    "('0x' || substr(md5({v}::VARCHAR || ':42:' || {j}::VARCHAR), 1, 15))"
    "::BIGINT % 256"
)


@query(
    "cm_frequency_store",
    oracle=f"""
    WITH ev AS (SELECT user_id FROM events),
    cells AS (
      SELECT j, {_CM_HASH_SQL.format(v="user_id", j="j")} AS col,
             count(*)::BIGINT AS cnt
      FROM ev, unnest(range(0, 4)) AS u(j)
      GROUP BY 1, 2
    ),
    items AS (SELECT DISTINCT user_id FROM ev WHERE user_id < 10),
    fan AS (
      SELECT i.user_id, u.j,
             {_CM_HASH_SQL.format(v="i.user_id", j="u.j")} AS col
      FROM items i, unnest(range(0, 4)) AS u(j)
    ),
    est AS (
      SELECT f.user_id, min(c.cnt)::BIGINT AS est_n
      FROM fan f JOIN cells c ON c.j = f.j AND c.col = f.col
      GROUP BY 1
    ),
    ex AS (SELECT user_id, count(*)::BIGINT AS exact_n FROM ev
           WHERE user_id < 10 GROUP BY 1)
    SELECT e.user_id, s.est_n, e.exact_n,
           (s.est_n - e.exact_n)::BIGINT AS overcount
    FROM ex e JOIN est s ON e.user_id = s.user_id
    """,
)
def cm_frequency_store_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency store with the merge==rebuild identity baked
    into the gate: the per-user event-frequency sketch is built from TWO
    halves of the stream and cell-wise MERGED
    (operators/sketches.py:cm_build_store/cm_merge), then point
    estimates for the tracked users come from the merged store; the
    oracle rebuilds the sketch directly from the full stream — hash
    equality proves merging dropped nothing. ``overcount`` exhibits the
    CM guarantee (estimates never undercount). All exact integers; the
    md5 cell hash is engine-portable."""
    from datawarehousefinal_spark.operators.sketches import (
        cm_build_store,
        cm_merge,
        cm_point_estimates,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    store = cm_merge(
        cm_build_store(half_a, "user_id"), cm_build_store(half_b, "user_id")
    )
    items = ev.filter(F.col("user_id") < 10).select("user_id").distinct()
    est = cm_point_estimates(store, items, "user_id").select(
        "user_id", F.col("est").alias("est_n")
    )
    exact = (
        ev.filter(F.col("user_id") < 10)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    return exact.join(est, "user_id").select(
        "user_id",
        "est_n",
        "exact_n",
        (F.col("est_n") - F.col("exact_n")).alias("overcount"),
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    ),
    c AS (
      SELECT from_type, to_type, count(*)::BIGINT AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    t AS (SELECT from_type, sum(n)::BIGINT AS tot FROM c GROUP BY 1)
    SELECT c.from_type, c.to_type, c.n, c.n / t.tot AS p
    FROM c JOIN t ON c.from_type = t.from_type
    """,
)
def event_transition_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — P(next event type | current), exact counts, event_id
    tie-break for equal timestamps
    (operators/analytics.py:event_transition_probs). The behavioral
    input for 'what happens after add_to_cart' product analysis."""
    from datawarehousefinal_spark.operators.analytics import (
        event_transition_probs,
    )

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    return event_transition_probs(
        events, "user_id", "ts", "event_type", "event_id"
    )


# ---------------------------------------------------------------------------
# Decayed activity, control chart, Gini concentration
# ---------------------------------------------------------------------------


def _decay_weight_literals() -> "list[tuple[int, str]]":
    """Frozen exponential-decay weight table: 0.9**d quantized to 9
    decimals, computed ONCE in Python ``decimal.Decimal`` (exact rational
    powers, half-even quantize) and embedded as identical literals in
    BOTH the Spark face and the DuckDB oracle. The weight underflows to
    0.000000000 at d=204, so the table is 204 rows; any larger day gap
    contributes exactly zero on both sides via LEFT JOIN + coalesce.

    Rationale (round-9 verdict #1): ``pow(0.9, d)`` in double is not
    correctly rounded across libms — a 1-ulp difference at a
    DECIMAL(24,9) quantization boundary flipped the driver hash twice.
    With frozen literals no transcendental ever reaches either engine
    (the bloom-probe frozen-literal pattern, queries_r9.py)."""
    from decimal import ROUND_HALF_EVEN, Decimal

    w = Decimal(9) / Decimal(10)
    q = Decimal("0.000000001")
    out = []
    cur = Decimal(1)
    d = 0
    while True:
        qq = cur.quantize(q, rounding=ROUND_HALF_EVEN)
        if qq == 0:
            break
        out.append((d, f"{qq:.9f}"))
        d += 1
        cur *= w
    return out


def _decay_weight_nano_literals() -> "list[tuple[int, int]]":
    """The frozen decay table in BIGINT nano-units: 0.9**d × 1e9 as an
    exact integer (the 9-decimal quantized weight with the point shifted
    away). Integer all the way down — nothing left to round on either
    engine (the ``serve_moments_exact`` pattern that took
    ``incremental_cube_moments`` driver-green in round 10)."""
    from decimal import Decimal

    return [
        (d, int(Decimal(wt) * 10**9)) for d, wt in _decay_weight_literals()
    ]


def _decay_oracle() -> str:
    rows = ",\n      ".join(
        f"({d}, CAST({nano} AS BIGINT))"
        for d, nano in _decay_weight_nano_literals()
    )
    return f"""
    WITH w(d, wt_nano) AS (VALUES
      {rows}
    ),
    mx AS (SELECT max(CAST(ts AS DATE)) AS m FROM events),
    sc AS (
      SELECT e.user_id,
             CAST(sum(coalesce(w.wt_nano, 0)) AS BIGINT) AS score_nano,
             count(*)::BIGINT AS n_events
      FROM events e
      LEFT JOIN w
        ON w.d = date_diff('day', CAST(e.ts AS DATE), (SELECT m FROM mx))
      GROUP BY 1
    )
    SELECT user_id, n_events, score_nano
    FROM sc ORDER BY score_nano DESC, user_id LIMIT 20
    """


@query("decayed_activity_score", oracle=_decay_oracle())
def decayed_activity_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement: per-user sum of 0.9^(days-ago) over
    their events — the standard exponential-decay activity score that
    ranks a user who was active yesterday above one equally active last
    quarter. One groupBy after a map-side decay lookup; the anchor date
    is a broadcast scalar and the 204-row weight table is a broadcast
    dim.

    Hash-robust by construction (round-10 verdict #1): the decay
    weights are FROZEN BIGINT nano-units (0.9^d × 1e9 via
    ``_decay_weight_nano_literals`` — the same integers are embedded in
    the oracle's VALUES CTE), so the per-user score is an exact BIGINT
    sum of identical integer terms on both engines — no ``pow``, no
    decimal downscale cast, no double render, no partial-agg merge-order
    jitter; nothing left to round ANYWHERE. The top-20 ORDER BY runs on
    the integer score with the user-id tie-break. This is the exact
    integer-serve pattern (olap.py ``serve_moments_exact``) that took
    ``incremental_cube_moments`` from twice-red to driver-green."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    mx = events.agg(F.max("day").alias("__m"))
    weights = spark.createDataFrame(
        _decay_weight_nano_literals(), "d INT, wt_nano BIGINT"
    )
    return (
        events.crossJoin(F.broadcast(mx))
        .withColumn("__d", F.datediff(F.col("__m"), F.col("day")))
        .join(F.broadcast(weights), F.col("__d") == F.col("d"), "left")
        .groupBy("user_id")
        .agg(
            F.sum(F.coalesce(F.col("wt_nano"), F.lit(0).cast("bigint")))
            .cast("bigint")
            .alias("score_nano"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "n_events", "score_nano")
        .orderBy(F.desc("score_nano"), "user_id")
        .limit(20)
    )


@query(
    "p_chart_order_status",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             count(*)::BIGINT AS n,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT
               AS n_f
      FROM orders GROUP BY 1
    ),
    base AS (
      SELECT CAST(sum(n_f) AS DOUBLE) / sum(n) AS pbar FROM daily
    )
    SELECT day, n, n_f,
           n_f / n AS p,
           pbar + 3 * sqrt(pbar * (1 - pbar) / n) AS ucl,
           greatest(pbar - 3 * sqrt(pbar * (1 - pbar) / n),
                    CAST(0.0 AS DOUBLE)) AS lcl,
           (n_f / n > pbar + 3 * sqrt(pbar * (1 - pbar) / n)
            OR n_f / n < greatest(
                 pbar - 3 * sqrt(pbar * (1 - pbar) / n),
                 CAST(0.0 AS DOUBLE))) AS out_of_control
    FROM daily, base
    """,
)
def p_chart_order_status_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical process control: a p-chart of the daily 'F'-status
    order proportion with 3-sigma binomial control limits around the
    overall rate — the SPC screen a pipeline-health dashboard runs on
    any daily ratio. Two aggregates (daily counts, global rate); limits
    are per-row arithmetic on exact counts; sqrt differs ≤1 ulp
    cross-engine, far inside hash rounding, and the boolean flag
    compares quantities whose gap is O(1/n) — not at the ulp boundary."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("o_orderstatus") == "F").cast("bigint")).alias("n_f"),
    )
    base = daily.agg(
        (F.sum("n_f").cast("double") / F.sum("n")).alias("__pbar")
    )
    pbar = F.col("__pbar")
    sig = F.sqrt(pbar * (1 - pbar) / F.col("n"))
    ucl = pbar + 3 * sig
    lcl = F.greatest(pbar - 3 * sig, F.lit(0.0))
    p = F.col("n_f") / F.col("n")
    return daily.crossJoin(F.broadcast(base)).select(
        "day",
        "n",
        "n_f",
        p.alias("p"),
        ucl.alias("ucl"),
        lcl.alias("lcl"),
        ((p > ucl) | (p < lcl)).alias("out_of_control"),
    )


@query(
    "gini_revenue",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS customer,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS x
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT x, row_number() OVER (ORDER BY x, customer) AS i,
             count(*) OVER () AS n
      FROM per
    )
    SELECT (2 * sum(i * x) / (max(n) * sum(x)))
             - (max(n) + CAST(1.0 AS DOUBLE)) / max(n) AS gini,
           max(n)::BIGINT AS n_customers
    FROM r
    """,
)
def gini_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the one-number inequality
    companion to the Pareto decile report, via the rank formula
    G = 2·Σ(i·x₍ᵢ₎)/(n·Σx) − (n+1)/n over ascending revenue. The rank
    comes from the distributed prefix-sum ntile machinery's cumsum (no
    global single-partition window); revenue is decimal-sourced so
    ranks are deterministic, and the two sums are positive-term
    doubles."""
    from datawarehousefinal_spark.operators.packing import distributed_cumsum

    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy(F.col("o_custkey").alias("customer")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("x")
    )
    ranked = distributed_cumsum(
        per.withColumn("__one", F.lit(1).cast("bigint")),
        ["x", "customer"],
        "__one",
        "__i",
    )
    return ranked.agg(
        (
            2 * F.sum(F.col("__i") * F.col("x"))
            / (F.max("__i") * F.sum("x"))
            - (F.max("__i") + F.lit(1.0)) / F.max("__i")
        ).alias("gini"),
        F.max("__i").cast("long").alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# Experimentation & lifetime-value analytics, regex ETL
# ---------------------------------------------------------------------------

_AB_HASH_SQL = (
    "('0x' || substr(md5(user_id::VARCHAR || ':77'), 1, 15))::BIGINT % 2"
)


@query(
    "ab_test_report",
    oracle=f"""
    WITH assign AS (
      SELECT DISTINCT user_id, {_AB_HASH_SQL} AS arm FROM events
    ),
    conv AS (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      GROUP BY 1 HAVING count(*) >= 14
    ),
    per AS (
      SELECT a.arm, count(*)::BIGINT AS n_users,
             sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_converted
      FROM assign a LEFT JOIN conv c ON a.user_id = c.user_id
      GROUP BY 1
    ),
    wide AS (
      SELECT
        max(CASE WHEN arm = 0 THEN n_users END) AS n_a,
        max(CASE WHEN arm = 0 THEN n_converted END) AS c_a,
        max(CASE WHEN arm = 1 THEN n_users END) AS n_b,
        max(CASE WHEN arm = 1 THEN n_converted END) AS c_b
      FROM per
    )
    SELECT n_a, c_a, n_b, c_b,
           c_a / n_a AS p_a, c_b / n_b AS p_b,
           CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
             (c_a / n_a - c_b / n_b)
               / sqrt(((c_a + c_b) / (n_a + n_b))
                      * (1 - (c_a + c_b) / (n_a + n_b))
                      * (CAST(1.0 AS DOUBLE) / n_a
                         + CAST(1.0 AS DOUBLE) / n_b))
           END AS z_stat
    FROM wide
    """,
)
def ab_test_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash-split into two arms (the
    deterministic md5 assignment every experimentation platform uses —
    stable under re-runs and late-arriving data), per-arm conversion
    (>= 14 purchase events — a non-degenerate split of this fixture's
    usage distribution), and the pooled two-proportion z statistic. All counts
    exact; the z arithmetic is an identical expression tree on exact
    inputs on both engines, so the doubles match bit-for-bit."""
    from datawarehousefinal_spark.operators.curation import sample_hash

    events = load_table(spark, sf_dir, "events")
    assign = events.select("user_id").distinct().select(
        "user_id", (sample_hash("user_id", 77) % 2).alias("arm")
    )
    conv = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 14)
        .select("user_id")
        .withColumn("__c", F.lit(1))
    )
    per = (
        assign.join(conv, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.coalesce("__c", F.lit(0)).cast("bigint")).alias(
                "n_converted"
            ),
        )
    )
    wide = per.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("n_converted"))).alias("c_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("n_converted"))).alias("c_b"),
    )
    p_a = F.col("c_a") / F.col("n_a")
    p_b = F.col("c_b") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    # Guarded: a degenerate experiment (pool 0 or 1) serves NULL
    # instead of tripping ANSI division-by-zero in strict sessions.
    tot_c = F.col("c_a") + F.col("c_b")
    tot_n = F.col("n_a") + F.col("n_b")
    z = F.when(
        (tot_c > 0) & (tot_c < tot_n),
        (p_a - p_b)
        / F.sqrt(
            pool * (1 - pool)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        ),
    )
    return wide.select(
        "n_a", "c_a", "n_b", "c_b",
        p_a.alias("p_a"), p_b.alias("p_b"), z.alias("z_stat"),
    )


@query(
    "cohort_ltv_curves",
    oracle="""
    WITH first_m AS (
      SELECT o_custkey, min(date_trunc('month', CAST(o_orderdate AS DATE)))
               AS cohort
      FROM orders GROUP BY 1
    ),
    rev AS (
      SELECT f.cohort,
             date_diff('month', f.cohort,
                       date_trunc('month', CAST(o.o_orderdate AS DATE)))
               ::BIGINT AS age,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders o JOIN first_m f ON o.o_custkey = f.o_custkey
    ),
    sizes AS (SELECT cohort, count(*)::BIGINT AS cohort_users
              FROM first_m GROUP BY 1),
    m AS (
      SELECT cohort, age,
             sum(price) AS month_rev
      FROM rev GROUP BY 1, 2
    ),
    c AS (
      SELECT cohort, age, month_rev,
             sum(month_rev) OVER (
               PARTITION BY cohort ORDER BY age
             ) AS cum_rev
      FROM m
    )
    SELECT CAST(c.cohort AS DATE) AS cohort, c.age,
           CAST(c.month_rev AS DOUBLE) AS month_revenue,
           CAST(c.cum_rev AS DOUBLE) / s.cohort_users AS ltv_per_user
    FROM c JOIN sizes s ON c.cohort = s.cohort
    WHERE c.age <= 6
    """,
)
def cohort_ltv_curves_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, cumulative revenue per cohort user by cohort age (months
    since acquisition) — the money companion to the retention matrix.
    Revenue accumulates in exact decimal through BOTH the monthly
    aggregate and the cumulative window (partitioned per cohort over
    ≤ age rows), so every double served is one terminal cast/division."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("od"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    first_m = orders.groupBy("o_custkey").agg(
        F.min(F.trunc("od", "month")).alias("cohort")
    )
    sizes = first_m.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    rev = orders.join(first_m, "o_custkey").select(
        "cohort",
        F.months_between(F.trunc("od", "month"), F.col("cohort"))
        .cast("long")
        .alias("age"),
        "price",
    )
    m = rev.groupBy("cohort", "age").agg(F.sum("price").alias("month_rev"))
    w = Window.partitionBy("cohort").orderBy("age")
    c = m.withColumn("cum_rev", F.sum("month_rev").over(w))
    return (
        c.join(F.broadcast(sizes), "cohort")
        .filter(F.col("age") <= 6)
        .select(
            "cohort",
            "age",
            F.col("month_rev").cast("double").alias("month_revenue"),
            (F.col("cum_rev").cast("double") / F.col("cohort_users")).alias(
                "ltv_per_user"
            ),
        )
    )


@query(
    "regex_parse_roundtrip",
    oracle="""
    WITH logs AS (
      SELECT 'order id=' || o_orderkey || ' cust=' || o_custkey
               || ' status=' || o_orderstatus || ' total='
               || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
               AS line
      FROM orders
    ),
    parsed AS (
      SELECT regexp_extract(line, 'id=(\\d+)', 1)::BIGINT AS orderkey,
             regexp_extract(line, 'status=([A-Z])', 1) AS status,
             regexp_extract(line, 'total=([0-9.]+)', 1)
               ::DECIMAL(18,2) AS total
      FROM logs
    )
    SELECT status, count(*)::BIGINT AS n,
           CAST(sum(total) AS DOUBLE) AS total_sum,
           max(orderkey)::BIGINT AS max_key
    FROM parsed GROUP BY 1
    """,
)
def regex_parse_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-parsing ETL roundtrip: structured rows are FORMATTED into log
    lines, then re-extracted with regexp groups and re-aggregated — the
    semi-structured ingestion path (regexp_extract stays inside
    whole-stage codegen; no UDF). The aggregate equality against the
    typed source proves the round trip loses nothing: key, status and
    2-decimal money survive the text representation exactly."""
    orders = load_table(spark, sf_dir, "orders")
    logs = orders.select(
        F.concat(
            F.lit("order id="), F.col("o_orderkey").cast("string"),
            F.lit(" cust="), F.col("o_custkey").cast("string"),
            F.lit(" status="), F.col("o_orderstatus"),
            F.lit(" total="),
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        ).alias("line")
    )
    parsed = logs.select(
        F.regexp_extract("line", r"id=(\d+)", 1).cast("long").alias(
            "orderkey"
        ),
        F.regexp_extract("line", r"status=([A-Z])", 1).alias("status"),
        F.regexp_extract("line", r"total=([0-9.]+)", 1)
        .cast("decimal(18,2)")
        .alias("total"),
    )
    return parsed.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("total").cast("double").alias("total_sum"),
        F.max("orderkey").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# Sweep-line concurrency & share-of-parent rollup
# ---------------------------------------------------------------------------


@query(
    "concurrent_open_orders",
    oracle="""
    WITH fs AS (
      SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS fship
      FROM lineitem GROUP BY 1
    ),
    iv AS (
      SELECT CAST(o.o_orderdate AS DATE) AS s, f.fship AS e
      FROM orders o JOIN fs f ON o.o_orderkey = f.l_orderkey
    ),
    deltas AS (
      SELECT day, sum(d)::BIGINT AS delta FROM (
        SELECT s AS day, 1 AS d FROM iv
        UNION ALL
        SELECT e + 1, -1 FROM iv
      ) GROUP BY 1
    ),
    swept AS (
      SELECT day, sum(delta) OVER (ORDER BY day)::BIGINT AS n_open
      FROM deltas
    )
    SELECT day, n_open FROM swept WHERE n_open > 0
    """,
)
def concurrent_open_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog concurrency via the sweep-line: how many orders are
    open (placed, not yet first-shipped) on each boundary day
    (operators/timeseries.py:concurrent_intervals_daily). Two deltas
    per interval REGARDLESS of its span — the shape per-day fan-out
    cannot match (a year-long interval would fan 365×) — then a
    distributed prefix sum over the per-day delta frame. Exact
    integers."""
    from datawarehousefinal_spark.operators.timeseries import (
        concurrent_intervals_daily,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    fs = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("__e")
    )
    iv = orders.join(fs, orders["o_orderkey"] == fs["l_orderkey"]).select(
        F.to_date("o_orderdate").alias("__s"), "__e"
    )
    return concurrent_intervals_daily(iv, "__s", "__e")


@query(
    "share_of_parent_rollup",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rv
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ),
    reg AS (SELECT region, sum(rv) AS rr FROM rev GROUP BY 1),
    tot AS (SELECT sum(rv) AS t FROM rev)
    SELECT rev.region, rev.nation,
           CAST(rev.rv AS DOUBLE) AS revenue,
           CAST(rev.rv AS DOUBLE) / CAST(reg.rr AS DOUBLE)
             AS share_of_region,
           CAST(reg.rr AS DOUBLE) / CAST(tot.t AS DOUBLE)
             AS region_share_of_total
    FROM rev JOIN reg ON rev.region = reg.region, tot
    """,
)
def share_of_parent_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent OLAP report over the geography hierarchy: nation
    revenue, its share within the region, and the region's share of
    total — the drill-down ratio columns every hierarchy UI shows next
    to the raw measure. Decimal-exact sums at all three levels; ratios
    are single divisions of exact values; dims broadcast onto the fact
    scan."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("p")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    geo = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
    rev = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(geo), cust["c_nationkey"] == geo["n_nationkey"])
        .groupBy("region", "nation")
        .agg(F.sum("p").alias("rv"))
    )
    reg = rev.groupBy("region").agg(F.sum("rv").alias("rr"))
    tot = rev.agg(F.sum("rv").alias("t"))
    return (
        rev.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            F.col("rv").cast("double").alias("revenue"),
            (F.col("rv").cast("double") / F.col("rr").cast("double")).alias(
                "share_of_region"
            ),
            (F.col("rr").cast("double") / F.col("t").cast("double")).alias(
                "region_share_of_total"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Data governance: forget-user cascade, k-anonymity
# ---------------------------------------------------------------------------


@query(
    "forget_users_cascade",
    oracle="""
    WITH forget AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 17 = 3
    ),
    ev AS (
      SELECT 'events' AS tbl,
             count(*)::BIGINT AS n_before,
             count(*) FILTER (WHERE f.user_id IS NULL)::BIGINT AS n_after
      FROM events e LEFT JOIN forget f ON e.user_id = f.user_id
    ),
    daily AS (
      SELECT 'daily_counts' AS tbl,
             (SELECT count(*) FROM (
                SELECT CAST(ts AS DATE) AS d FROM events GROUP BY 1))
               ::BIGINT AS n_before,
             (SELECT count(*) FROM (
                SELECT CAST(e.ts AS DATE) AS d FROM events e
                LEFT JOIN forget f ON e.user_id = f.user_id
                WHERE f.user_id IS NULL GROUP BY 1))::BIGINT AS n_after
    )
    SELECT tbl, n_before, n_after,
           (n_before - n_after)::BIGINT AS n_removed
    FROM ev
    UNION ALL
    SELECT tbl, n_before, n_after, (n_before - n_after)::BIGINT
    FROM daily
    """,
)
def forget_users_cascade_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit: a deterministic forget-set
    of users is removed from the raw events AND the derived daily-count
    aggregate is rebuilt from the scrubbed base; the report shows
    before/after/removed rows per affected table — the deletion
    evidence a privacy review signs off on. Removal is one broadcast
    anti-join per table (the forget-set is small by contract); the
    derived table demonstrates the CASCADE: aggregates must be rebuilt
    from scrubbed inputs, not patched."""
    events = load_table(spark, sf_dir, "events")
    forget = (
        events.filter(F.col("user_id") % 17 == 3)
        .select("user_id")
        .distinct()
    )
    scrubbed = events.join(F.broadcast(forget), "user_id", "left_anti")

    def report(tbl: str, before: DataFrame, after: DataFrame) -> DataFrame:
        b = before.agg(F.count(F.lit(1)).alias("n_before"))
        a = after.agg(F.count(F.lit(1)).alias("n_after"))
        return b.crossJoin(a).select(
            F.lit(tbl).alias("tbl"),
            "n_before",
            "n_after",
            (F.col("n_before") - F.col("n_after")).alias("n_removed"),
        )

    daily_before = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    daily_after = scrubbed.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return report("events", events, scrubbed).unionByName(
        report("daily_counts", daily_before, daily_after)
    )


@query(
    "k_anonymity_report",
    oracle="""
    WITH q AS (
      SELECT c_nationkey, c_mktsegment,
             (1 + ((row_number() OVER (ORDER BY c_acctbal, c_custkey) - 1)
                   * 10) // count(*) OVER ())::INT AS bal_decile
      FROM customer
    ),
    g AS (
      SELECT c_nationkey, c_mktsegment, bal_decile,
             count(*)::BIGINT AS group_size
      FROM q GROUP BY 1, 2, 3
    )
    SELECT
      (SELECT count(*) FROM g)::BIGINT AS n_groups,
      (SELECT coalesce(min(group_size), 0) FROM g)::BIGINT AS k_anonymity,
      (SELECT count(*) FROM g WHERE group_size < 5)::BIGINT
        AS n_groups_under_5,
      (SELECT coalesce(sum(group_size), 0) FROM g WHERE group_size < 5)
        ::BIGINT AS n_rows_at_risk
    """,
)
def k_anonymity_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the
    quasi-identifier (nation, market segment, account-balance decile):
    the minimum equivalence-class size IS the table's k, and classes
    under k=5 are re-identification risks a release gate must
    suppress or generalize. The balance decile uses the deterministic
    distributed-rank ntile; everything else is two aggregates. Exact
    integers."""
    from datawarehousefinal_spark.operators.retail import deterministic_ntile

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    q = deterministic_ntile(
        cust, ["c_acctbal", "c_custkey"], 10, "bal_decile"
    )
    g = q.groupBy("c_nationkey", "c_mktsegment", "bal_decile").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.coalesce(F.min("group_size"), F.lit(0)).alias("k_anonymity"),
        F.sum((F.col("group_size") < 5).cast("bigint")).alias(
            "n_groups_under_5"
        ),
        F.coalesce(
            F.sum(F.when(F.col("group_size") < 5, F.col("group_size"))),
            F.lit(0),
        ).alias("n_rows_at_risk"),
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto front)
# ---------------------------------------------------------------------------


@query(
    "skyline_customers",
    oracle="""
    WITH pts AS (
      SELECT c.c_custkey AS custkey, c.c_acctbal AS acctbal,
             count(*)::BIGINT AS n_orders
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT custkey, acctbal, n_orders FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.acctbal >= p.acctbal AND q.n_orders >= p.n_orders
        AND (q.acctbal > p.acctbal OR q.n_orders > p.n_orders)
    )
    """,
)
def skyline_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: customers Pareto-optimal on (account balance, order
    count) — no other customer is at least as good on both axes and
    strictly better on one. The engine runs the distributed sort-sweep
    (operators/analytics.py:skyline_2d — per-x max, distributed running
    max over the distinct-x frame, first-attainment pick; NO quadratic
    dominance self-join); the oracle states the NOT EXISTS dominance
    definition directly, so hash equality proves the sweep equals the
    definition. Exact comparisons only."""
    from datawarehousefinal_spark.operators.analytics import skyline_2d

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    pts = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("acctbal"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return skyline_2d(pts, "acctbal", "n_orders", "custkey")


# ---------------------------------------------------------------------------
# Behavioral set intersections & ID-space gap audit
# ---------------------------------------------------------------------------


@query(
    "event_type_intersections",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             array_to_string(list_sort(list(DISTINCT event_type)), '+')
               AS combo,
             count(DISTINCT event_type)::INT AS n_types
      FROM events GROUP BY user_id
    )
    SELECT combo, n_types, count(*)::BIGINT AS n_users
    FROM per_user GROUP BY 1, 2
    """,
)
def event_type_intersections_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral set intersections (the UpSet-plot input): users
    bucketed by the exact SET of event types they performed — which
    behavior combinations exist and how common each is. One user-keyed
    collect_set aggregate; the combo key is the sorted '+'-joined set,
    so both engines derive the identical canonical label. Exact
    integers."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(F.collect_set("event_type")), "+"
        ).alias("combo"),
        F.size(F.collect_set("event_type")).alias("n_types"),
    )
    return per_user.groupBy("combo", "n_types").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@query(
    "id_gap_report",
    oracle="""
    WITH b AS (
      SELECT o_orderkey // 1000 AS bucket,
             count(*)::BIGINT AS n_present,
             min(o_orderkey)::BIGINT AS min_key,
             max(o_orderkey)::BIGINT AS max_key
      FROM orders GROUP BY 1
    )
    SELECT bucket::BIGINT AS bucket, n_present, min_key, max_key,
           (max_key - min_key + 1 - n_present)::BIGINT AS n_missing_inside
    FROM b WHERE max_key - min_key + 1 - n_present > 0
    """,
)
def id_gap_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID-space gap audit: per 1000-key bucket of the order-key
    sequence, how many keys are missing between the bucket's observed
    min and max — the load-completeness check that catches dropped
    extracts without sorting the table globally (one bucket-keyed
    aggregate; gaps INSIDE buckets are counted exactly, and a wholly
    missing bucket surfaces as its neighbors' boundary min/max). Exact
    integers; the bucket is integer division (``DIV``, truncating
    toward zero exactly like the oracle's ``//``) — never a truncating
    cast of a double quotient, which silently loses exactness for keys
    beyond double's 2^53 integer range."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.groupBy(
        F.expr("o_orderkey DIV 1000").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_present"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
    missing = F.col("max_key") - F.col("min_key") + 1 - F.col("n_present")
    return b.filter(missing > 0).select(
        "bucket", "n_present", "min_key", "max_key",
        missing.alias("n_missing_inside"),
    )


# ---------------------------------------------------------------------------
# Repeat-purchase dynamics
# ---------------------------------------------------------------------------


@query(
    "reorder_interval_histogram",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             date_diff('day',
               lag(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
               ),
               CAST(o_orderdate AS DATE))::BIGINT AS gap_days
      FROM orders
    ),
    g AS (SELECT gap_days FROM seq WHERE gap_days IS NOT NULL),
    b AS (
      SELECT CASE
               WHEN gap_days <= 7 THEN '0-7'
               WHEN gap_days <= 30 THEN '8-30'
               WHEN gap_days <= 90 THEN '31-90'
               WHEN gap_days <= 365 THEN '91-365'
               ELSE '365+' END AS band,
             gap_days
      FROM g
    )
    SELECT band, count(*)::BIGINT AS n_intervals,
           min(gap_days)::BIGINT AS min_days,
           max(gap_days)::BIGINT AS max_days,
           CAST(sum(gap_days) AS DOUBLE) / count(*) AS avg_days
    FROM b GROUP BY 1
    """,
)
def reorder_interval_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase dynamics: the distribution of day-gaps between a
    customer's consecutive orders, banded into the lifecycle buckets a
    retention model feeds on. One lag() window per customer (partitioned
    on the customer key, orderkey tie-break for same-day orders), then a
    band-keyed aggregate. Exact integer gaps; the mean is one division
    of exact sums."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("od"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    gaps = orders.select(
        F.datediff(F.col("od"), F.lag("od").over(w)).cast("long").alias(
            "gap_days"
        )
    ).filter(F.col("gap_days").isNotNull())
    band = (
        F.when(F.col("gap_days") <= 7, "0-7")
        .when(F.col("gap_days") <= 30, "8-30")
        .when(F.col("gap_days") <= 90, "31-90")
        .when(F.col("gap_days") <= 365, "91-365")
        .otherwise("365+")
    )
    return gaps.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.min("gap_days").alias("min_days"),
        F.max("gap_days").alias("max_days"),
        (F.sum("gap_days").cast("double") / F.count(F.lit(1))).alias(
            "avg_days"
        ),
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
    "weekday_seasonality_profile",
    oracle="""
    WITH d AS (
      SELECT isodow(CAST(o_orderdate AS DATE))::INT AS dow,
             count(*)::BIGINT AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY 1
    ),
    t AS (SELECT sum(n)::BIGINT AS tn FROM d)
    SELECT dow, n, revenue,
           n * 7 / CAST(tn AS DOUBLE) AS volume_index
    FROM d, t
    """,
)
def weekday_seasonality_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality: order volume and decimal-exact revenue per
    ISO weekday, plus the volume index (share × 7 — 1.0 means a flat
    week) — the seasonality profile demand forecasting starts from.
    One aggregate + a scalar broadcast; index is a single division of
    exact integers."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.dayofweek(F.to_date("o_orderdate")).alias("__dow_sun1")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    ).select(
        # Spark dayofweek is 1=Sunday; ISO wants 1=Monday..7=Sunday.
        F.when(F.col("__dow_sun1") == 1, F.lit(7))
        .otherwise(F.col("__dow_sun1") - 1)
        .cast("int")
        .alias("dow"),
        "n",
        "revenue",
    )
    t = d.agg(F.sum("n").alias("__tn"))
    return d.crossJoin(F.broadcast(t)).select(
        "dow",
        "n",
        "revenue",
        (F.col("n") * 7 / F.col("__tn").cast("double")).alias(
            "volume_index"
        ),
    )
