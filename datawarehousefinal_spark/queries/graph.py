"""Graph analytics over the fixture's trade and supply relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehousefinal_spark.materialize import local_result
from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.sources.testdata import load_table


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
                  + (SELECT d FROM d{i}) / (SELECT n FROM cnt)) AS rank
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
    SELECT na.n_name AS nation, r.rank AS rank
    FROM {prev} r JOIN nation na ON r.node = na.n_nationkey
    ORDER BY nation
    """


@query(
    "nation_trade_pagerank",
    oracle=_pagerank_oracle(),
    # per-iteration in-mass sums re-associate — serve-boundary contract
    round_cols=("rank",),
)
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

    with pagerank(edges, "src", "dst", weight="w", iterations=3) as ranks:
        out = (
            ranks.join(
                F.broadcast(nation), ranks["node"] == nation["n_nationkey"]
            )
            .select(F.col("n_name").alias("nation"), "rank")
            .orderBy("nation")
        )
        return local_result(out)


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
