"""Cube measures, rollups and aggregate-table maintenance (the reference's
Mondrian measures, Schema_Trabajo_Final.xml:69-90).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehousefinal_spark.materialize import local_result
from datawarehousefinal_spark.operators import olap
from datawarehousefinal_spark.operators.relation import Rel
from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.queries._shared import _movimientos_star
from datawarehousefinal_spark.sources.testdata import fixture_views, load_table


@query(
    "movements_by_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS anio,
           count(*) AS cantidad_movimientos,
           avg(o_totalprice) AS promedio_medida
    FROM orders
    GROUP BY 1
    ORDER BY anio
    """,
)
def movements_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 cube measures by the top level of the Fecha hierarchy
    (count + avg per year — Schema_Trabajo_Final.xml:69-72,87-90)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").alias("anio"))
        .agg(
            F.count(F.lit(1)).alias("cantidad_movimientos"),
            F.avg("o_totalprice").alias("promedio_medida"),
        )
        .orderBy("anio")
    )


_NATION_SEGMENT_ORACLE = """
    SELECT n.n_name AS nacionalidad,
           c.c_mktsegment AS segmento,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """


@query(
    "cube_measures_by_dims",
    oracle=_NATION_SEGMENT_ORACLE,
    # engines hash-partition groups differently → avg re-associates
    round_cols=("promedio_medida",),
)
def cube_measures_by_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 over a 2-dim slice of the star join (J3 Mondrian slice/dice).

    Counts the fact FK like Mondrian's count(id_persona), as one SQL
    statement over the Movimientos star. Dims broadcast; the fact table
    shuffles once, on the grouping keys.
    """
    return _movimientos_star(spark, sf_dir).derive(
        "SELECT nacionalidad, segmento,"
        " count(o_custkey) AS cantidad_movimientos,"
        " avg(o_totalprice) AS promedio_medida"
        " FROM {rel} GROUP BY nacionalidad, segmento"
    ).df()


@query(
    "sql_cube_measures",
    oracle=_NATION_SEGMENT_ORACLE,
    round_cols=("promedio_medida",),
)
def sql_cube_measures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql SERVING path of the Mondrian surface (SURVEY §7 P5's
    second half): the star is registered as a view, the cube as a SQL view
    over it (olap.register_star_views), and the result is read back with
    plain SQL — what a BI client connected over Thrift would run. Same
    cells as cube_measures_by_dims, via the declarative layer; views are
    lazy, so Catalyst still broadcasts dims and prunes columns through
    them."""
    from datawarehousefinal_spark.operators.olap import register_star_views

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    star = (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left"
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .select(
            F.col("n_name").alias("nacionalidad"),
            F.col("c_mktsegment").alias("segmento"),
            "o_custkey",
            "o_totalprice",
        )
    )
    register_star_views(
        spark,
        star,
        name="star_movimientos",
        cubes={
            "v_cube_movimientos": (
                ["nacionalidad", "segmento"],
                "o_custkey",
                "o_totalprice",
            )
        },
    )
    out = spark.sql(
        "SELECT nacionalidad, segmento, cantidad_movimientos, promedio_medida "
        "FROM v_cube_movimientos"
    )
    return out


@query(
    "hierarchy_rollup",
    oracle="""
    SELECT r.r_name AS provincia, n.n_name AS canton,
           count(s.s_suppkey) AS cantidad_movimientos,
           avg(s.s_acctbal) AS promedio_medida
    FROM supplier s
    LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    # rollup grand-total cells re-associate the avg — contract
    round_cols=("promedio_medida",),
)
def hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: hierarchy rollup with hasAll grand total — the Frontera
    Provincia>Canton>Jefatura drilldown (Schema_Trabajo_Final.xml:14-25)
    over the region>nation>supplier stand-in chain."""
    from datawarehousefinal_spark.operators.olap import rollup_measures

    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    star = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey, "left"
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
    out = rollup_measures(
        star.select(
            F.col("r_name").alias("provincia"),
            F.col("n_name").alias("canton"),
            "s_suppkey",
            "s_acctbal",
        ),
        hierarchy=["provincia", "canton"],
        count_col="s_suppkey",
        avg_col="s_acctbal",
    ).withColumnsRenamed({"promedio_edades": "promedio_medida"})
    return out


@query(
    "cube_all_measures",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(o_orderkey) AS cantidad_movimientos,
           avg(o_totalprice) AS promedio_medida
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_all_measures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (dice): every dim-combination cell via cube() — one Expand +
    HashAggregate, not 2^n re-scans."""
    orders = load_table(spark, sf_dir, "orders")
    return olap.cube_all(
        orders, ["o_orderstatus", "o_orderpriority"], "o_orderkey", "o_totalprice"
    ).withColumnsRenamed({"promedio_edades": "promedio_medida"})


@query(
    "pivot_year_status",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS anio,
           (count(*) FILTER (WHERE o_orderstatus = 'F'))::BIGINT AS "F",
           (count(*) FILTER (WHERE o_orderstatus = 'O'))::BIGINT AS "O",
           (count(*) FILTER (WHERE o_orderstatus = 'P'))::BIGINT AS "P"
    FROM orders GROUP BY anio
    """,
)
def pivot_year_status_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/A1 crosstab: movement count by year x status in the matrix
    layout a cube client renders (operators/olap.pivot_measure; Mondrian
    two-dim slice, Schema_Trabajo_Final.xml:56-91). Explicit member list
    keeps it one groupBy pass with fixed schema."""
    from datawarehousefinal_spark.operators.olap import pivot_measure

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "anio", F.year("o_orderdate").cast("int")
    )
    return pivot_measure(orders, "anio", "o_orderstatus", ["F", "O", "P"], "o_orderkey")


@query(
    "json_props_rollup",
    oracle="""
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           avg(CAST(json_extract_string(props, '$.k') AS INTEGER))::DOUBLE
             AS avg_k,
           sum(CAST(json_extract_string(props, '$.k') AS INTEGER))::BIGINT
             AS sum_k,
           max(CAST(json_extract_string(props, '$.k') AS INTEGER))::INTEGER
             AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_props_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column surface: the events fixture carries a JSON
    ``props`` string; parse it ONCE per row with ``from_json`` under a
    declared schema (single codegen'd parse feeding every extracted
    field — ``get_json_object`` would re-parse the document per path)
    and roll up per event type. Missing/malformed keys become NULL and
    drop out of the aggregates on both engines."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.withColumn("__p", F.from_json("props", "k INT"))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.avg("__p.k").alias("avg_k"),
        F.sum("__p.k").cast("long").alias("sum_k"),
        F.max("__p.k").alias("max_k"),
    )


@query(
    "incremental_cube_merge",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS anio,
           o_orderstatus,
           count(o_totalprice)::BIGINT AS cantidad_movimientos,
           avg(o_totalprice) AS promedio_edades
    FROM orders GROUP BY 1, 2
    """,
    # the merged halves' avg re-associates the sum — contract
    round_cols=("promedio_edades",),
)
def incremental_cube_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for the serving cube: the measure
    state (count + sum per cell — the associative decomposition) is
    built separately over two halves of the fact, merged state-to-state
    (|groups|-row frames; fact rows never re-aggregate), and served as
    the cube's count/avg measures. The oracle is the DIRECT aggregation
    over the whole table — hash-equality proves merge(state(A),
    state(B)) ≡ state(A ∪ B) exactly. This is the nightly-ingest shape
    at 100 TB: aggregate only the new partition, merge the tiny states."""
    from datawarehousefinal_spark.operators.olap import (
        measure_state,
        merge_measure_state,
        serve_measures,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("anio"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderkey",
    )
    half_a = orders.filter(F.col("o_orderkey") % 2 == 0)
    half_b = orders.filter(F.col("o_orderkey") % 2 == 1)
    state = measure_state(half_a, ["anio", "o_orderstatus"], "o_totalprice")
    delta = measure_state(half_b, ["anio", "o_orderstatus"], "o_totalprice")
    return serve_measures(merge_measure_state(state, delta))


@query(
    "incremental_cube_moments",
    oracle="""
    WITH c AS (
      -- exact integer cents per order: DECIMAL(18,2) * 100 is exact,
      -- HUGEINT (128-bit) arithmetic from here on — no doubles, no
      -- engine-defined decimal rescaling anywhere near the hash
      SELECT CAST(year(o_orderdate) AS INTEGER) AS anio,
             o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT)
               AS cents,
             o_totalprice
      FROM orders
    ),
    s AS (
      SELECT anio, o_orderstatus,
             count(*)::BIGINT AS n,
             sum(cents) AS s1,
             sum(cents * cents) AS s2,
             min(o_totalprice) AS min_medida,
             max(o_totalprice) AS max_medida
      FROM c GROUP BY 1, 2
    )
    SELECT anio, o_orderstatus,
           n AS cantidad_movimientos,
           CAST((s1 * 10000) // n AS BIGINT) AS promedio_micro,
           CAST(((n * s2 - s1 * s1) * 100) // (n * n) AS BIGINT)
             AS varianza_micro,
           min_medida, max_medida
    FROM s
    """,
)
def incremental_cube_moments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`incremental_cube_merge` generalized to second moments: the
    (n, Σx, Σx², min, max) state is built over two halves of the fact,
    merged component-wise, and served as count/mean/var_pop/min/max.
    Hash-equality against the direct whole-table aggregation proves the
    full moment decomposition merges exactly — variance included, the
    measure a count/sum-only state cannot serve.

    Hermetic-hash hardening (the last r8 driver flake class): mean and
    variance are served as BIGINT micro-units via
    ``serve_moments_exact`` — decimal integer arithmetic plus one
    nonnegative integral division on each side, so NO IEEE double
    reaches the hashed derived measures (min/max pass raw input doubles
    through order-invariant folds only), and the tiny result is a
    ``local_result``, so it carries zero lineage for any later driver
    pass to re-execute differently."""
    from datawarehousefinal_spark.operators.olap import (
        merge_moment_state,
        moment_state,
        serve_moments_exact,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("anio"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderkey",
    )
    half_a = orders.filter(F.col("o_orderkey") % 2 == 0)
    half_b = orders.filter(F.col("o_orderkey") % 2 == 1)
    state = moment_state(half_a, ["anio", "o_orderstatus"], "o_totalprice")
    delta = moment_state(half_b, ["anio", "o_orderstatus"], "o_totalprice")
    return local_result(serve_moments_exact(merge_moment_state(state, delta)))


@query(
    "grouping_sets_measures",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS anio,
           o_orderstatus,
           o_orderpriority,
           CAST(grouping(year(o_orderdate)) AS INT) AS g_anio,
           CAST(grouping(o_orderstatus) AS INT) AS g_o_orderstatus,
           CAST(grouping(o_orderpriority) AS INT) AS g_o_orderpriority,
           count(o_custkey) AS cantidad_movimientos,
           avg(o_totalprice) AS promedio_medida
    FROM orders
    GROUP BY GROUPING SETS (
      (year(o_orderdate), o_orderstatus),
      (o_orderstatus, o_orderpriority),
      ()
    )
    """,
)
def grouping_sets_measures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (olap.grouping_sets_measures): two
    overlapping drill paths (year x status, status x priority) plus the
    grand total in ONE Expand+aggregate pass — the OLAP shape
    cube/rollup can't express. grouping() flags disambiguate aggregated
    NULLs portably."""
    from datawarehousefinal_spark.operators.olap import grouping_sets_measures

    (orders,) = fixture_views(spark, sf_dir, "orders")
    return grouping_sets_measures(
        Rel(
            spark,
            "SELECT year(o_orderdate) AS anio, o_orderstatus, "
            f"o_orderpriority, o_custkey, o_totalprice FROM {orders}",
        ),
        [["anio", "o_orderstatus"], ["o_orderstatus", "o_orderpriority"], []],
        "o_custkey",
        "o_totalprice",
    )


@query(
    "melt_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, value
    FROM (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS DOUBLE) AS l_quantity,
             CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
             CAST(l_discount AS DOUBLE) AS l_discount,
             CAST(l_tax AS DOUBLE) AS l_tax
      FROM lineitem WHERE l_orderkey % 31 = 0
    )
    UNPIVOT (value FOR measure IN
             (l_quantity, l_extendedprice, l_discount, l_tax))
    """,
)
def melt_measures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General wide→long melt (unpivot.melt → Spark's native unpivot,
    one map-side Expand): four lineitem measures normalize into
    (measure, value) pairs, replayed by DuckDB's independent UNPIVOT —
    two engines' unpivot semantics proven identical value-for-value."""
    from datawarehousefinal_spark.operators.unpivot import melt

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 31 == 0
    )
    return melt(
        li,
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


@query(
    "aggregate_routing",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS anio,
           count(o_totalprice)::BIGINT AS cantidad_movimientos,
           avg(o_totalprice) AS promedio_edades
    FROM orders GROUP BY 1
    """,
    # re-aggregated avg re-associates the sum — serve-boundary contract
    round_cols=("promedio_edades",),
)
def aggregate_routing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-table navigation (olap.route_to_aggregate — the
    Mondrian AggName/AggPattern mechanism, Schema_Trabajo_Final.xml's
    serving layer, done with mergeable states): two pre-aggregate
    states exist — (anio, status, priority) fine and (anio, status)
    coarse — and a year-level measure request must route to the COARSE
    one (runtime-guarded) and still serve the exact fact-level
    count/avg, because measure states re-aggregate associatively. The
    oracle computes the same answer straight from the fact table —
    proving the navigator never changes answers, only cost."""
    from datawarehousefinal_spark.operators.olap import (
        measure_state,
        route_to_aggregate,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("anio"),
        "o_orderstatus",
        "o_orderpriority",
        "o_totalprice",
    )
    preaggs = {
        "agg_fine": (
            measure_state(
                orders,
                ["anio", "o_orderstatus", "o_orderpriority"],
                "o_totalprice",
            ),
            ["anio", "o_orderstatus", "o_orderpriority"],
        ),
        "agg_coarse": (
            measure_state(orders, ["anio", "o_orderstatus"], "o_totalprice"),
            ["anio", "o_orderstatus"],
        ),
    }
    chosen, served = route_to_aggregate(preaggs, ["anio"])
    if chosen != "agg_coarse":
        raise RuntimeError(f"navigator picked {chosen}, expected agg_coarse")
    return served


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
