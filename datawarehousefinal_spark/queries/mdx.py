"""MDX front door: Mondrian client query text translated onto the cube
plans, plus the aggregate advisor.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession

from datawarehousefinal_spark.materialize import local_result
from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.operators.relation import Rel
from datawarehousefinal_spark.queries._shared import (
    _movimientos_star,
    _scratch_path,
)
from datawarehousefinal_spark.sources.testdata import fixture_views


_MDX_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos], [Measures].[Promedio Medida]}
       ON COLUMNS,
       NON EMPTY CROSSJOIN(
         {[Fecha].[Anio].Members},
         {[Persona].[Nacionalidad].[NATION_1],
          [Persona].[Nacionalidad].[NATION_2]}
       ) ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


def _movimientos_cube(spark: SparkSession, sf_dir: str):
    """The reference's cube declaration, Spark-side: the Movimientos
    cube over the orders star (Schema_Trabajo_Final.xml:56-91 mapped to
    the fixture: Fecha from o_orderdate, Persona.Nacionalidad through
    customer→nation, Cliente.Segmento from c_mktsegment; measures =
    count(fk) "Cantidad Movimientos" + avg "Promedio Medida")."""
    from datawarehousefinal_spark.operators.mdx import CubeDef

    return CubeDef(
        name="Movimientos",
        star_builder=lambda: _movimientos_star(spark, sf_dir),
        levels={
            "Fecha.Anio": "anio",
            "Fecha.Mes": "mes",
            "Fecha.Dia": "dia",
            "Persona.Nacionalidad": "nacionalidad",
            "Cliente.Segmento": "segmento",
        },
        # Mondrian hierarchy order (Schema_Trabajo_Final.xml:2-13):
        # a Mes member is keyed (anio, mes), a Dia member (anio, mes,
        # dia) — the ancestor chain a client drilling the Fecha
        # hierarchy expects.
        hierarchies={"Fecha": ["Anio", "Mes", "Dia"]},
        # Mes cycles 1..12 under Anio — what makes a below-top
        # PARALLELPERIOD (month-over-month) shift computable. Dia is
        # ragged (days-per-month) and deliberately declares nothing.
        period_lengths={"Fecha.Mes": 12},
        measures={
            "Cantidad Movimientos": (
                "count", "o_custkey", "cantidad_movimientos",
            ),
            "Promedio Medida": ("avg", "o_totalprice", "promedio_medida"),
        },
    )


@query(
    "mdx_cube_query",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           n.n_name AS nacionalidad,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND n.n_name IN ('NATION_1', 'NATION_2')
    GROUP BY 1, 2
    """,
)
def mdx_cube_query_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MDX FRONT DOOR (operators/mdx.py): the exact query text a
    Mondrian BI client would send — measures on COLUMNS, a CROSSJOIN of
    a level drilldown and an explicit member dice on ROWS, a slicer in
    WHERE — parsed and translated onto the same star/groupBy plan the
    hand-written cube faces use. Closes SURVEY §3.3's re-expression:
    the Mondrian surface is now served at the query-language level, not
    just the operator level (Schema_Trabajo_Final.xml:56-91; the
    round-9 verdict's last missing item). The oracle is the equivalent
    SQL — hash equality proves the translation, member/slicer
    semantics included. 100 TB shape: identical to the cube faces —
    slicer and member filters reach the scans through the broadcast
    star, one shuffle on the grouping keys."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(_movimientos_cube(spark, sf_dir), _MDX_STATEMENT)


_MDX_ROLLUP_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos], [Measures].[Promedio Medida]}
       ON COLUMNS,
       CROSSJOIN(
         {[Fecha].[(All)], [Fecha].[Anio].Members},
         {[Persona].[Nacionalidad].[(All)],
          [Persona].[Nacionalidad].Members}
       ) ON ROWS
FROM [Movimientos]
"""


@query(
    "mdx_rollup_query",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           n.n_name AS nacionalidad,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS (
      (year(o.o_orderdate), n.n_name),
      (year(o.o_orderdate)),
      (n.n_name),
      ()
    )
    """,
    # subtotal cells re-associate the avg across engines — contract
    round_cols=("promedio_medida",),
)
def mdx_rollup_query_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MDX front door's hasAll direction: every reference hierarchy
    declares ``hasAll="true"`` (Schema_Trabajo_Final.xml:3,16,30,38,46),
    and this face queries those grand-total members THROUGH THE QUERY
    LANGUAGE — a crossjoin of two {(All), Level.Members} sets, which
    the translator expands to the 2×2 grouping-set lattice (leaf
    cells, both one-dim subtotals, grand total) executed as ONE
    Expand + HashAggregate pass (operators/mdx.py). The oracle is the
    equivalent GROUPING SETS SQL — hash equality proves the lattice
    expansion, NULL-member convention included."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(_movimientos_cube(spark, sf_dir), _MDX_ROLLUP_STATEMENT)


_MDX_ENVIOS_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos], [Measures].[Promedio Medida]}
       ON COLUMNS,
       NON EMPTY CROSSJOIN(
         {[Fecha].[Anio].Members},
         {[Proveedor].[Nacion].Members}
       ) ON ROWS
FROM [Envios]
WHERE ([Pieza].[Marca].[Brand#1], [Pieza].[Marca].[Brand#2])
"""


def _envios_cube(spark: SparkSession, sf_dir: str):
    """The reference's SECOND cube (Schema_Trabajo_Final.xml declares
    two structurally-identical cubes, Emigrantes + Inmigrantes, over
    different fact tables): Envios over the lineitem star — Fecha from
    l_shipdate, Proveedor.Nacion through supplier→nation, Pieza.Marca
    from part — with the same count + avg measure pair. Proves the
    front door is cube-generic, not a hard-coded translation of one
    star."""
    from datawarehousefinal_spark.operators.mdx import CubeDef

    def star_builder():
        li, p, s, n = fixture_views(
            spark, sf_dir, "lineitem", "part", "supplier", "nation"
        )
        return Rel(spark, f"""SELECT /*+ BROADCAST(p, s, n) */
  year(l.l_shipdate) AS anio, month(l.l_shipdate) AS mes,
  dayofmonth(l.l_shipdate) AS dia, p.p_brand AS marca, n.n_name AS nacion,
  l.l_orderkey, l.l_quantity
FROM {li} l
LEFT JOIN {p} p ON l.l_partkey = p.p_partkey
LEFT JOIN {s} s ON l.l_suppkey = s.s_suppkey
LEFT JOIN {n} n ON s.s_nationkey = n.n_nationkey""")

    return CubeDef(
        name="Envios",
        star_builder=star_builder,
        levels={
            "Fecha.Anio": "anio",
            "Fecha.Mes": "mes",
            "Fecha.Dia": "dia",
            "Pieza.Marca": "marca",
            "Proveedor.Nacion": "nacion",
        },
        hierarchies={"Fecha": ["Anio", "Mes", "Dia"]},
        period_lengths={"Fecha.Mes": 12},
        measures={
            "Cantidad Movimientos": (
                "count", "l_orderkey", "cantidad_movimientos",
            ),
            "Promedio Medida": ("avg", "l_quantity", "promedio_medida"),
        },
    )


@query(
    "mdx_second_cube_query",
    oracle="""
    SELECT CAST(year(l.l_shipdate) AS INTEGER) AS anio,
           n.n_name AS nacion,
           count(l.l_orderkey) AS cantidad_movimientos,
           avg(l.l_quantity) AS promedio_medida
    FROM lineitem l
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_brand IN ('Brand#1', 'Brand#2')
    GROUP BY 1, 2
    """,
)
def mdx_second_cube_query_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MDX front door's SECOND cube — the reference schema declares
    two cubes over different fact tables, and this face queries the
    lineitem-fact Envios cube through the same parser/translator
    (operators/mdx.py) with a multi-member slicer, proving the front
    door is declaration-driven: a new CubeDef is the entire cost of
    serving a new cube. Same plan shape as every cube face: slicer and
    dims broadcast, one shuffle on the grouping keys."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(_envios_cube(spark, sf_dir), _MDX_ENVIOS_STATEMENT)


_MDX_MONTH_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos], [Measures].[Promedio Medida]}
       ON COLUMNS,
       NON EMPTY {[Fecha].[Mes].Members} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_month_drilldown",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           CAST(month(o.o_orderdate) AS INTEGER) AS mes,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1, 2
    """,
)
def mdx_month_drilldown_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDX month drilldown with HIERARCHY-AWARE member keys (round-10
    verdict #5): ``[Fecha].[Mes].Members`` on the Movimientos cube
    groups by the ancestor chain (anio, mes) — the Mondrian semantics
    of drilling one level below year on the reference's 3-deep Fecha
    hierarchy (Schema_Trabajo_Final.xml:2-13) — never by the bare
    month column, which would merge same-named months across years.
    The oracle is the equivalent multi-column SQL; hash equality
    proves the chain expansion, slicer included. 100 TB shape:
    identical to every cube face — the slicer pushes through the
    broadcast star, one shuffle on (anio, mes), map-side partial
    aggregation."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_MONTH_STATEMENT
    )


_MDX_DAY_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos]} ON COLUMNS,
       NON EMPTY {[Fecha].[Dia].Members} ON ROWS
FROM [Envios]
WHERE ([Pieza].[Marca].[Brand#1])
"""


@query(
    "mdx_day_drilldown",
    oracle="""
    SELECT CAST(year(l.l_shipdate) AS INTEGER) AS anio,
           CAST(month(l.l_shipdate) AS INTEGER) AS mes,
           CAST(day(l.l_shipdate) AS INTEGER) AS dia,
           count(l.l_orderkey) AS cantidad_movimientos
    FROM lineitem l
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#1'
    GROUP BY 1, 2, 3
    """,
)
def mdx_day_drilldown_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full 3-level Fecha climb (round-10 verdict stretch #7):
    ``[Fecha].[Dia].Members`` on the SECOND (lineitem-fact Envios)
    cube groups by the complete ancestor chain (anio, mes, dia),
    proving ``CubeDef.level_chain`` is depth-generic and
    cube-generic — day grain is the leaf of the reference's Mondrian
    time dimension (Schema_Trabajo_Final.xml:2-13). Count-only
    measure: the day-grain hash is pure exact integers. Same scale
    shape: slicer through the broadcast star, one shuffle on the
    chain."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(_envios_cube(spark, sf_dir), _MDX_DAY_STATEMENT)


_MDX_CALC_STATEMENT = """
WITH MEMBER [Measures].[Medida Total] AS
     '[Measures].[Promedio Medida] * [Measures].[Cantidad Movimientos]'
SELECT {[Measures].[Cantidad Movimientos], [Measures].[Medida Total]}
       ON COLUMNS,
       {[Fecha].[Anio].Members} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_calculated_member",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) * count(o.o_custkey) AS medida_total
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1
    """,
)
def mdx_calculated_member_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WITH MEMBER`` calculated measures through the MDX front door
    (operators/mdx.py): the classic Mondrian quoted-expression syntax
    defines ``[Medida Total] = [Promedio Medida] * [Cantidad
    Movimientos]`` and the translator evaluates it AFTER aggregation
    (solve-order-0) as a post-agg projection — exactly one aggregation
    pass, the calculation never re-scans the fact. The oracle computes
    the identical ``avg * count`` formula so both engines share the
    same double rounding story (hash at 6 significant digits). 100 TB
    shape: unchanged from every cube face — slicer through the
    broadcast star, one shuffle on anio, plus a zero-cost projection."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(_movimientos_cube(spark, sf_dir), _MDX_CALC_STATEMENT)


_MDX_TOPCOUNT_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos]} ON COLUMNS,
       TOPCOUNT({[Pieza].[Marca].Members}, 5,
                [Measures].[Cantidad Movimientos]) ON ROWS
FROM [Envios]
"""


@query(
    "mdx_topcount",
    oracle="""
    SELECT p.p_brand AS marca,
           count(l.l_orderkey) AS cantidad_movimientos
    FROM lineitem l
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    ORDER BY cantidad_movimientos DESC, marca
    LIMIT 5
    """,
)
def mdx_topcount_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TOPCOUNT`` on the rows axis: the 5 brands ranking highest by
    the count measure on the lineitem-fact Envios cube, ties broken by
    the grouping column ascending so both engines pick the same cut
    (documented divergence from Mondrian's unspecified tie order; the
    ranking measure is an exact BIGINT count, so the comparison itself
    can never diverge). Plan: one shuffle to the brand aggregate, then
    a TakeOrderedAndProject over brand-count-many rows — at 100 TB the
    top-n never sorts the fact, only the (tiny) aggregate."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(_envios_cube(spark, sf_dir), _MDX_TOPCOUNT_STATEMENT)


_MDX_FILTER_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos], [Measures].[Promedio Medida]}
       ON COLUMNS,
       FILTER({[Persona].[Nacionalidad].Members},
              [Measures].[Cantidad Movimientos] > 600) ON ROWS
FROM [Movimientos]
"""


_NATION_OVER_600_ORACLE = """
    SELECT n.n_name AS nacionalidad,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    HAVING count(o.o_custkey) > 600
    """


@query(
    "mdx_filter_having",
    oracle=_NATION_OVER_600_ORACLE,
    # fact-path avg re-associates at sf0.01's multi-split scan — contract
    round_cols=("promedio_medida",),
)
def mdx_filter_having_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``FILTER`` on the rows axis is a post-aggregation HAVING: keep
    the nationality members whose movement count exceeds a threshold.
    The condition compares an exact BIGINT count with an integer
    literal — engine-identical, no boundary rounding can flip a row in
    or out. Plan: the HAVING filters group-count-many rows after the
    single aggregation shuffle; at 100 TB it never touches the fact a
    second time."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(_movimientos_cube(spark, sf_dir), _MDX_FILTER_STATEMENT)


_MDX_CHILDREN_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos]} ON COLUMNS,
       {[Fecha].[Anio].[1997].Children} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[MACHINERY])
"""


@query(
    "mdx_children_drilldown",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           CAST(month(o.o_orderdate) AS INTEGER) AS mes,
           count(o.o_custkey) AS cantidad_movimientos
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'MACHINERY'
      AND year(o.o_orderdate) = 1997
    GROUP BY 1, 2
    """,
)
def mdx_children_drilldown_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``[member].Children`` — THE drill-down gesture of every OLAP
    client: expanding year 1997 yields its months, keyed by the full
    (anio, mes) ancestor chain and diced to the parent member. The
    member literal ``[1997]`` is coerced to an exact integer predicate
    against the INT level column (never a string-vs-int engine cast).
    Plan: the parent dice applies at the scan edge BEFORE aggregation
    (a Filter directly over the fact scan — on a date-partitioned
    fact it becomes partition pruning, so drilling into one year
    reads one year)."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_CHILDREN_STATEMENT
    )


_MONTH_BUILDING_ORACLE = """
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           CAST(month(o.o_orderdate) AS INTEGER) AS mes,
           count(o.o_custkey) AS cantidad_movimientos,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
             / count(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1, 2
    """


@query(
    "mdx_aggregate_navigator",
    # avg via the rollup's EXACT decimal sum-state: the oracle mirrors
    # the serve contract (one exact decimal sum → one correctly-rounded
    # double → one division) so the hash is partitioning-independent —
    # plain avg() sums doubles in scan order, which differs from any
    # re-associated sum by an ulp (the r12 incremental-rollup red).
    oracle=_MONTH_BUILDING_ORACLE,
)
def mdx_aggregate_navigator_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGGREGATE TABLES + NAVIGATOR (operators/aggnav.py) — Mondrian's
    production answer to big facts (its ``<AggName>`` declarations, the
    natural companion of the reference's cube schema,
    Schema_Trabajo_Final.xml:56-91), Spark-first: the month-grain
    rollup of the Movimientos star is materialized ONCE to parquet with
    MERGEABLE measure states (count cells, and sum+count pairs so avg
    re-folds as sum/count — never an average of averages), and the
    month-drilldown MDX statement is answered from that rollup. Two
    tables are offered; the navigator must route to the SMALLER
    covering grain (month, 3 columns) over the finer day-grain decoy
    (4 columns). The oracle aggregates the raw fact directly — hash
    equality proves the rollup path is LOSSLESS, so routing is a pure
    optimization. 100 TB story: a (anio, mes, segmento) rollup of a
    100 TB fact is a few thousand rows; every dashboard drill at or
    above month grain reads kilobytes, and materialization costs one
    map-side-combined shuffle, amortized over every routed query."""
    from datawarehousefinal_spark.operators.aggnav import materialize_aggregate
    from datawarehousefinal_spark.operators.mdx import mdx_query

    cube = _movimientos_cube(spark, sf_dir)
    with _scratch_path("mdx_aggnav", sf_dir) as path:
        rollup = materialize_aggregate(
            cube,
            ["Fecha.Mes", "Cliente.Segmento"],
            path=path,
            name="agg_mes_segmento",
        )
        # finer decoy (kept in-memory): also covers the query — the
        # navigator must still pick the smaller month-grain table
        decoy = materialize_aggregate(
            cube, ["Fecha.Dia", "Cliente.Segmento"], name="agg_dia_segmento"
        )
        out = mdx_query(
            dataclasses.replace(cube, aggregates=[decoy, rollup]),
            _MDX_MONTH_STATEMENT,
        )
        return local_result(out)


@query(
    "incremental_aggregate_rollup",
    # avg serve contract = exact decimal sum → double → divide (see
    # mdx_aggregate_navigator): this face's merged rollup re-associates
    # the sum (even-day half + odd-day half), which under double
    # addition differed from the oracle's scan-order avg() by one ulp
    # in 49/79 cells — the r12 driver red. Decimal states make
    # merge ≡ rebuild bit-identical, not approximately hashed.
    oracle=_MONTH_BUILDING_ORACLE,
)
def incremental_aggregate_rollup_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL rollup maintenance (operators/aggnav.py:
    ingest_into_aggregate) — the streaming-OLAP ingest pattern: the
    month-grain aggregate table is materialized from the even-day half
    of the star, then the odd-day half arrives as a batch and FOLDS
    into the existing cells (states are commutative monoids: counts
    and sums re-sum — so the same (anio, mes, segmento) cell
    accumulates contributions from both halves; the fact is never
    re-read). The month-drilldown MDX statement is answered from the
    merged table — routed explicitly, loud if the navigator were to
    fall back — and the oracle aggregates the FULL raw fact: hash
    equality IS merge≡rebuild at the query level. 100 TB: ingest cost
    is O(batch + touched cells); in production the merged cells land
    as a MERGE INTO / partition overwrite on the lakehouse rollup."""
    from datawarehousefinal_spark.operators.aggnav import (
        ingest_into_aggregate,
        materialize_aggregate,
    )
    from datawarehousefinal_spark.operators.mdx import mdx_query

    cube = _movimientos_cube(spark, sf_dir)
    star = cube.star_builder()
    base = star.derive("SELECT * FROM {rel} WHERE dia % 2 = 0")
    delta = star.derive("SELECT * FROM {rel} WHERE dia % 2 = 1")
    rollup = materialize_aggregate(
        cube,
        ["Fecha.Mes", "Cliente.Segmento"],
        source=base,
        name="agg_mes_segmento",
    )
    merged = ingest_into_aggregate(cube, rollup, delta)

    def unrouted():
        raise RuntimeError(
            "navigator failed to route to the merged rollup — the face "
            "would silently prove nothing"
        )

    return mdx_query(
        dataclasses.replace(
            cube, aggregates=[merged], star_builder=unrouted
        ),
        _MDX_MONTH_STATEMENT,
    )


_MDX_BOTTOMCOUNT_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos]} ON COLUMNS,
       BOTTOMCOUNT({[Pieza].[Marca].Members}, 5,
                   [Measures].[Cantidad Movimientos]) ON ROWS
FROM [Envios]
"""


@query(
    "mdx_bottomcount",
    oracle="""
    SELECT p.p_brand AS marca,
           count(l.l_orderkey) AS cantidad_movimientos
    FROM lineitem l
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    ORDER BY cantidad_movimientos ASC, marca
    LIMIT 5
    """,
)
def mdx_bottomcount_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``BOTTOMCOUNT`` — TOPCOUNT's ascending twin (the "worst
    performers" dashboard gesture): the 5 brands ranking LOWEST by the
    count measure on the lineitem-fact Envios cube, same deterministic
    grouping-column tie-break as TopCount. One Mondrian divergence is
    documented at the operator (operators/mdx.py module docstring):
    Mondrian ranks EMPTY cells first unless NON EMPTY intervenes; this
    translator's aggregate never materializes empty cells, so
    BottomCount here ranks only existing members — the NON-EMPTY
    reading, which is the one an analyst wants. Plan: one shuffle to
    the brand aggregate, then a TakeOrderedAndProject (ascending) over
    brand-count-many rows — the fact is never sorted."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(_envios_cube(spark, sf_dir), _MDX_BOTTOMCOUNT_STATEMENT)


_MDX_ORDER_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos], [Measures].[Promedio Medida]}
       ON COLUMNS,
       ORDER(FILTER({[Persona].[Nacionalidad].Members},
                    [Measures].[Cantidad Movimientos] > 600),
             [Measures].[Promedio Medida], BDESC) ON ROWS
FROM [Movimientos]
"""


@query(
    "mdx_order_members",
    oracle=_NATION_OVER_600_ORACLE,
    # fact-path avg re-associates at sf0.01's multi-split scan — contract
    round_cols=("promedio_medida",),
)
def mdx_order_members_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ORDER`` over a ``FILTER`` — the everyday BI axis sort
    ("members above threshold, best average first"), proving wrapper
    NESTING executes innermost-first (HAVING, then sort). ORDER is a
    pure presentation sort of the aggregated cells (it never changes
    the SET), so the oracle pins the set + values while the driver's
    order-insensitive hash ignores row order BY DESIGN; the sort
    itself — BDESC with the grouping-column tie-break — is pinned by
    tests/test_mdx.py::test_mdx_order_sorts_rows. The B-variants
    coincide with plain ASC/DESC here because a wrapped axis is always
    single-grain (mixed-grain wrapping raises). Plan: the sort runs
    over group-count-many aggregated rows after the single shuffle —
    at 100 TB ordering a dashboard axis costs nothing."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(_movimientos_cube(spark, sf_dir), _MDX_ORDER_STATEMENT)


_MDX_NAMED_SET_STATEMENT = """
WITH SET [Segmentos Clave] AS
     '{[Cliente].[Segmento].[BUILDING], [Cliente].[Segmento].[MACHINERY]}'
SELECT {[Measures].[Cantidad Movimientos], [Measures].[Promedio Medida]}
       ON COLUMNS,
       CROSSJOIN({[Fecha].[Anio].Members}, [Segmentos Clave]) ON ROWS
FROM [Movimientos]
"""


@query(
    "mdx_named_set_crossjoin",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           c.c_mktsegment AS segmento,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    GROUP BY 1, 2
    """,
)
def mdx_named_set_crossjoin_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WITH SET`` named sets — the reusable-selection idiom of every
    saved BI report: the segment set is declared once and referenced by
    name inside a CROSSJOIN branch. The reference splices the declared
    set's AST at parse time, so the translated plan — member dice
    BEFORE aggregation, one shuffle on (anio, segmento) — is
    hash-identical to writing the set inline; the oracle proves exactly
    that against the raw star. Unknown and twice-declared names raise;
    wrapper functions inside a set body raise (rows-axis-only)."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_NAMED_SET_STATEMENT
    )


_MDX_HEAD_TAIL_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos]} ON COLUMNS,
       TAIL(HEAD({[Fecha].[Anio].Members}, 4), 2) ON ROWS
FROM [Movimientos]
"""


@query(
    "mdx_head_tail_years",
    oracle="""
    WITH per AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
             count(o.o_custkey) AS cantidad_movimientos
      FROM orders o
      GROUP BY 1
    )
    SELECT anio, cantidad_movimientos
    FROM per ORDER BY anio LIMIT 2 OFFSET 2
    """,
)
def mdx_head_tail_years_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``HEAD``/``TAIL`` natural-order cuts, NESTED (innermost-first:
    Head takes the first 4 years in member order, Tail keeps that
    prefix's last 2 — i.e. years 3-4, the classic windowing gesture
    over a member axis). Natural member order for value-keyed levels
    is the grouping key ascending, so both engines agree exactly and
    the oracle is LIMIT/OFFSET over the ordered year aggregate. Plan:
    each cut is a TakeOrderedAndProject over year-count-many aggregated
    rows — the fact is never sorted."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_HEAD_TAIL_STATEMENT
    )


_MDX_YOY_STATEMENT = """
WITH MEMBER [Measures].[Crecimiento Anual] AS
     '[Measures].[Cantidad Movimientos] -
      ([Measures].[Cantidad Movimientos], PARALLELPERIOD([Fecha].[Anio], 1))'
SELECT {[Measures].[Cantidad Movimientos], [Measures].[Crecimiento Anual]}
       ON COLUMNS,
       {[Fecha].[Mes].Members} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_parallelperiod_yoy",
    oracle="""
    WITH per AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
             CAST(month(o.o_orderdate) AS INTEGER) AS mes,
             count(o.o_custkey) AS cantidad_movimientos
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY 1, 2
    )
    SELECT a.anio, a.mes, a.cantidad_movimientos,
           a.cantidad_movimientos - b.cantidad_movimientos
             AS crecimiento_anual
    FROM per a
    LEFT JOIN per b ON b.anio = a.anio - 1 AND b.mes = a.mes
    """,
)
def mdx_parallelperiod_yoy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARALLELPERIOD — time intelligence through the MDX front door:
    the year-over-year movement change per (anio, mes) cell, the
    calculated member subtracting the measure at the SAME month one
    year earlier (``([Measures].[X], PARALLELPERIOD([Fecha].[Anio],
    1))``). Executes as ONE aggregation of the slicer-filtered star
    plus a LEFT self-join of the month-grain AGGREGATE on (anio-1,
    mes) — cell×cell, never a second fact scan; first-year cells have
    no prior period, so the YoY column is NULL there on both engines
    (MDX empty-cell ≡ SQL NULL arithmetic — exact BIGINT counts
    otherwise, nothing to round). 100 TB: the self-join touches
    months×segments-many rows, kilobytes; at that scale time
    intelligence is free once the cube cells exist."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(_movimientos_cube(spark, sf_dir), _MDX_YOY_STATEMENT)


_MDX_SUBSELECT_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos], [Measures].[Promedio Medida]}
       ON COLUMNS,
       {[Fecha].[Anio].Members} ON ROWS
FROM (SELECT {[Cliente].[Segmento].[BUILDING],
              [Cliente].[Segmento].[MACHINERY]} ON COLUMNS
      FROM (SELECT {[Persona].[Nacionalidad].[PERU],
                    [Persona].[Nacionalidad].[CHINA],
                    [Persona].[Nacionalidad].[JAPAN]} ON ROWS
            FROM [Movimientos]))
"""


@query(
    "mdx_subselect_slice",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      AND n.n_name IN ('PERU', 'CHINA', 'JAPAN')
    GROUP BY 1
    """,
)
def mdx_subselect_slice_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-selects — the slice-restriction shape Excel-style pivot
    clients emit instead of slicers: a NESTED ``FROM (SELECT ... FROM
    (SELECT ... FROM [Movimientos]))`` restricts the cube to two
    segments AND three nationalities before the outer year query
    aggregates. Axis placement inside a sub-select is
    presentation-only (one restriction sits ON COLUMNS, one ON ROWS —
    both just filter); nesting composes by AND. All restrictions apply
    BEFORE aggregation — the same visual-totals semantics, and the
    same scan-edge filter placement, as slicers: at 100 TB both IN
    filters push through the broadcast star into the fact scan, and
    the year aggregate shuffles only the surviving slice."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_SUBSELECT_STATEMENT
    )


_MDX_MOM_STATEMENT = """
WITH MEMBER [Measures].[Crecimiento Mensual] AS
     '[Measures].[Cantidad Movimientos] -
      ([Measures].[Cantidad Movimientos], PARALLELPERIOD([Fecha].[Mes], 1))'
SELECT {[Measures].[Cantidad Movimientos],
        [Measures].[Crecimiento Mensual]} ON COLUMNS,
       {[Fecha].[Mes].Members} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_parallelperiod_mom",
    oracle="""
    WITH per AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
             CAST(month(o.o_orderdate) AS INTEGER) AS mes,
             count(o.o_custkey) AS cantidad_movimientos
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY 1, 2
    )
    SELECT a.anio, a.mes, a.cantidad_movimientos,
           a.cantidad_movimientos - b.cantidad_movimientos
             AS crecimiento_mensual
    FROM per a
    LEFT JOIN per b
      ON b.anio = CASE WHEN a.mes = 1 THEN a.anio - 1 ELSE a.anio END
     AND b.mes  = CASE WHEN a.mes = 1 THEN 12 ELSE a.mes - 1 END
    """,
)
def mdx_parallelperiod_mom_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARALLELPERIOD one level below the hierarchy top — month-over-
    month through the MDX front door: the movement-count change per
    (anio, mes) cell vs the PREVIOUS month, January's prior month being
    the previous year's December. The Fecha hierarchy declares Mes as a
    fixed 1..12 cycle (``CubeDef.period_lengths`` — the reference's Mes
    level, Schema_Trabajo_Final.xml:6-9), so the translator linearizes
    the shift to ``anio*12 + (mes-1) - 1`` and the wrap is plain
    integer arithmetic on the aggregate self-join — no CASE ladder, no
    second fact scan; the oracle spells the identical wrap as a CASE
    join key, and first-month cells (Jan 1995 here) are NULL on both
    engines. 100 TB: identical to the YoY face — the self-join touches
    months-many aggregate cells, kilobytes; time intelligence is free
    once the cube cells exist."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(_movimientos_cube(spark, sf_dir), _MDX_MOM_STATEMENT)


_MDX_YOY_DICED_STATEMENT = """
WITH MEMBER [Measures].[Crecimiento Anual] AS
     '[Measures].[Cantidad Movimientos] -
      ([Measures].[Cantidad Movimientos], PARALLELPERIOD([Fecha].[Anio], 1))'
SELECT {[Measures].[Cantidad Movimientos],
        [Measures].[Crecimiento Anual]} ON COLUMNS,
       {[Fecha].[Anio].[1997]} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_parallelperiod_yoy_diced",
    oracle="""
    WITH per AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
             count(o.o_custkey) AS cantidad_movimientos
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY 1
    )
    SELECT a.anio, a.cantidad_movimientos,
           a.cantidad_movimientos - b.cantidad_movimientos
             AS crecimiento_anual
    FROM per a
    LEFT JOIN per b ON b.anio = a.anio - 1
    WHERE a.anio = 1997
    """,
)
def mdx_parallelperiod_yoy_diced_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARALLELPERIOD with the shifted level DICED — the
    single-period-with-growth shape every BI dashboard emits ("show
    1997 and its YoY"): the rows axis picks one year, and the growth
    member still subtracts 1996. Mondrian evaluates the shifted tuple
    against the CUBE, not the axis selection, so the translator builds
    the self-join's right side from a re-aggregation WITHOUT the dice
    on the shifted column (operators/mdx.py, the "pp" entry of
    _TI_FAMILIES; the segment slicer stays applied — the prior period
    lives in the same slicer context). The oracle mirrors this exactly: the per-year
    CTE is NOT filtered to 1997, only the outer SELECT is. Before the
    round-12 fix this shape served a silent NULL. 100 TB: the diced
    case costs one extra scan+agg of the sliced fact — the price of a
    correct answer, and the cells remain broadcastable."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_YOY_DICED_STATEMENT
    )


_MDX_YTD_STATEMENT = """
WITH MEMBER [Measures].[Acumulado Anual] AS
     'SUM(PERIODSTODATE([Fecha].[Anio]), [Measures].[Cantidad Movimientos])'
SELECT {[Measures].[Cantidad Movimientos],
        [Measures].[Acumulado Anual]} ON COLUMNS,
       {[Fecha].[Mes].Members} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_periodstodate_ytd",
    oracle="""
    WITH per AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
             CAST(month(o.o_orderdate) AS INTEGER) AS mes,
             count(o.o_custkey) AS cantidad_movimientos
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY 1, 2
    )
    SELECT anio, mes, cantidad_movimientos,
           sum(cantidad_movimientos) OVER (
             PARTITION BY anio ORDER BY mes
           )::BIGINT AS acumulado_anual
    FROM per
    """,
)
def mdx_periodstodate_ytd_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERIODSTODATE — the running-total (YTD) gesture through the MDX
    front door: per (anio, mes) cell, the movement count accumulated
    from January of that year to the cell's month
    (``SUM(PERIODSTODATE([Fecha].[Anio]), [Measures].[X])``). Executes
    as ONE aggregation of the slicer-filtered star plus a WINDOW over
    the month-grain cells (partition anio, order mes, running sum) —
    the translator emits exactly the ``SUM() OVER (PARTITION BY anio
    ORDER BY mes)`` the oracle spells, so hash equality proves the
    translation including the year-boundary reset. Exact BIGINT
    arithmetic end-to-end. 100 TB: the window runs over months-many
    aggregate cells, kilobytes — running totals are free once the cube
    cells exist."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(_movimientos_cube(spark, sf_dir), _MDX_YTD_STATEMENT)


_MDX_YTD_DICED_STATEMENT = """
WITH MEMBER [Measures].[Acumulado Anual] AS
     'SUM(PERIODSTODATE([Fecha].[Anio]), [Measures].[Cantidad Movimientos])'
SELECT {[Measures].[Acumulado Anual]} ON COLUMNS,
       {[Fecha].[Mes].[6]} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_periodstodate_diced",
    oracle="""
    WITH per AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
             CAST(month(o.o_orderdate) AS INTEGER) AS mes,
             count(o.o_custkey) AS cantidad_movimientos
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY 1, 2
    ),
    ytd AS (
      SELECT anio, mes,
             sum(cantidad_movimientos) OVER (
               PARTITION BY anio ORDER BY mes
             )::BIGINT AS acumulado_anual
      FROM per
    )
    SELECT anio, mes, acumulado_anual FROM ytd WHERE mes = 6
    """,
)
def mdx_periodstodate_diced_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERIODSTODATE with the ORDERING level diced — "June, year to
    date": the rows axis picks one month, and the accumulated column
    still sums January through June. The tuple reads the CUBE, not the
    axis selection (the same Mondrian semantics as the diced
    PARALLELPERIOD face): the translator computes the window over a
    re-aggregation WITHOUT the month dice and LEFT-joins it back onto
    the axis cells; the oracle mirrors this by windowing the undiced
    CTE and filtering OUTSIDE. Before round 12 this shape did not
    exist; a naive post-dice window would serve June's bare count as
    its own "running total" — silently wrong. 100 TB: one extra
    scan+agg of the sliced fact in the diced case, cells stay
    kilobytes."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_YTD_DICED_STATEMENT
    )


_MDX_MOVING_AVG_STATEMENT = """
WITH MEMBER [Measures].[Movil Trimestral] AS
     'AVG(LASTPERIODS(3, [Fecha].[Mes].CurrentMember),
          [Measures].[Cantidad Movimientos])'
SELECT {[Measures].[Cantidad Movimientos],
        [Measures].[Movil Trimestral]} ON COLUMNS,
       {[Fecha].[Mes].Members} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_lastperiods_moving_avg",
    oracle="""
    WITH per AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
             CAST(month(o.o_orderdate) AS INTEGER) AS mes,
             count(o.o_custkey) AS cantidad_movimientos
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY 1, 2
    )
    SELECT anio, mes, cantidad_movimientos,
           avg(cantidad_movimientos) OVER (
             ORDER BY anio * 12 + (mes - 1)
             RANGE BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS movil_trimestral
    FROM per
    """,
)
def mdx_lastperiods_moving_avg_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LASTPERIODS — the trailing-window gesture through the MDX front
    door: per (anio, mes) cell, the 3-month moving average of the
    movement count (``AVG(LASTPERIODS(3, [Fecha].[Mes].CurrentMember),
    [Measures].[X])``). Executes as ONE aggregation of the
    slicer-filtered star plus a RANGE window over the month-grain cells
    ordered by the linearized period key ``anio*12 + (mes-1)`` — the
    window crosses December→January by plain integer range, and a
    calendar gap consumes its slot without contributing (Mondrian
    empty-period semantics; a ROWS frame would silently reach too far
    back). The oracle spells the identical window. The average divides
    an exact integer sum by an exact count, so the doubles agree
    bit-for-bit. 100 TB: months-many cells, kilobytes — rolling
    analytics are free once the cube cells exist."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_MOVING_AVG_STATEMENT
    )


_MDX_RANGE_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos],
        [Measures].[Promedio Medida]} ON COLUMNS,
       {[Fecha].[Anio].[1996]:[Fecha].[Anio].[1999]} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_member_range_years",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND year(o.o_orderdate) BETWEEN 1996 AND 1999
    GROUP BY 1
    """,
)
def mdx_member_range_years_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The colon range operator — ``{[Fecha].[Anio].[1996]:[Fecha].
    [Anio].[1999]}``, the year-span gesture every time-axis report
    uses. The parser expands the range to explicit members (parse-time,
    integer-keyed, loud on mixed levels / reversed bounds), so
    execution sees an ordinary member dice: the BETWEEN lands in the
    fact scan through the star's broadcast joins, and the aggregate
    shuffles only the surviving slice — at 100 TB a four-year range
    over a partitioned fact prunes to four year-partitions before any
    I/O."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(_movimientos_cube(spark, sf_dir), _MDX_RANGE_STATEMENT)


_MDX_SUBSELECT_WHERE_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos],
        [Measures].[Promedio Medida]} ON COLUMNS,
       {[Fecha].[Anio].Members} ON ROWS
FROM (SELECT {[Cliente].[Segmento].[BUILDING],
              [Cliente].[Segmento].[MACHINERY]} ON COLUMNS
      FROM [Movimientos]
      WHERE ([Persona].[Nacionalidad].[PERU]))
"""


@query(
    "mdx_subselect_where",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      AND n.n_name = 'PERU'
    GROUP BY 1
    """,
)
def mdx_subselect_where_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-select WHERE — the last sub-select shape pivot clients emit
    (previously a loud refusal, now served): the inner WHERE is one
    more pre-aggregation restriction, AND-composed with the sub-select
    axis items, same visual-totals semantics as every other dice. Both
    filters reach the fact scan through the broadcast star; the outer
    year aggregate shuffles only the doubly-restricted slice."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_SUBSELECT_WHERE_STATEMENT
    )


_MDX_DRILLTHROUGH_STATEMENT = """
DRILLTHROUGH
SELECT {[Measures].[Cantidad Movimientos]} ON COLUMNS,
       {[Fecha].[Anio].[1997]} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_drillthrough_cell",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           CAST(month(o.o_orderdate) AS INTEGER) AS mes,
           CAST(day(o.o_orderdate) AS INTEGER) AS dia,
           n.n_name AS nacionalidad,
           c.c_mktsegment AS segmento,
           o.o_custkey, o.o_totalprice
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND year(o.o_orderdate) = 1997
    """,
)
def mdx_drillthrough_cell_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRILLTHROUGH — the cell-audit gesture: double-clicking the
    (1997, BUILDING) cell returns the FACT ROWS behind it (level
    columns + measure source columns), not an aggregate. Every
    pre-aggregation restriction (the year dice, the segment slicer)
    filters the star; nothing aggregates, nothing shuffles — the whole
    query is a filtered scan through the broadcast star, which is why
    drillthrough stays interactive at 100 TB (partition pruning on the
    diced year + predicate pushdown do the work; MAXROWS would
    short-circuit the scan via CollectLimit)."""
    from datawarehousefinal_spark.operators.mdx import mdx_drillthrough

    return mdx_drillthrough(
        _movimientos_cube(spark, sf_dir), _MDX_DRILLTHROUGH_STATEMENT
    )


_MDX_NAV_PRUNED_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos],
        [Measures].[Promedio Medida]} ON COLUMNS,
       CROSSJOIN({[Fecha].[Anio].[1997]},
                 {[Persona].[Nacionalidad].Members}) ON ROWS
FROM [Movimientos]
"""


@query(
    "mdx_navigator_partition_pruned",
    # avg serve contract = exact decimal sum → double → divide (see
    # mdx_aggregate_navigator): rollup-served avg
    # re-associates the sum across cells, so the oracle mirrors the
    # partitioning-independent exact-decimal formula.
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           n.n_name AS nacionalidad,
           count(o.o_custkey) AS cantidad_movimientos,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
             / count(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE year(o.o_orderdate) = 1997
    GROUP BY 1, 2
    """,
)
def mdx_navigator_partition_pruned_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The aggregate navigator over a YEAR-PARTITIONED rollup — the
    full production storage story in one face: the (anio, nacionalidad)
    rollup is materialized to parquet ``partitionBy(anio)``
    (aggnav.materialize_aggregate partition_by), the navigator routes
    the year-diced dashboard query to it, and a RUNTIME GUARD requires
    the dice to reach the scan as a PartitionFilter (pruning to ONE
    year-partition, zero I/O on the rest) — not a post-scan filter.
    The oracle recomputes the same cells from the raw fact, so hash
    equality proves the route+prune returned the exact fact-path
    answer. At 100 TB this compounds the two layout levers: the rollup
    collapses the fact to cells, the partitioning makes a diced read
    touch only the diced cells' files. Result is a ``local_result`` so
    the driver's hash pass never re-reads the scratch rollup."""
    from datawarehousefinal_spark.operators.aggnav import materialize_aggregate
    from datawarehousefinal_spark.operators.mdx import mdx_query
    from datawarehousefinal_spark.plans.audit import physical_plan

    cube = _movimientos_cube(spark, sf_dir)
    with _scratch_path("agg_nav_part", sf_dir) as path:
        agg = materialize_aggregate(
            cube,
            ["Fecha.Anio", "Persona.Nacionalidad"],
            path=path,
            partition_by="Fecha.Anio",
        )
        out = mdx_query(
            dataclasses.replace(cube, aggregates=[agg]),
            _MDX_NAV_PRUNED_STATEMENT,
        )
        plan = physical_plan(out)
        # bracket-scoped check: "anio" must appear INSIDE the
        # PartitionFilters list itself — a substring scan past the bracket
        # would false-pass on an empty list followed by
        # PushedFilters/ReadSchema text that also mentions the column
        import re as _re

        pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        if pf is None or "anio" not in pf.group(1):
            raise RuntimeError(
                "year dice did not prune the partitioned rollup at the scan"
            )
        return local_result(out)


_MDX_CLOSING_STATEMENT = """
WITH MEMBER [Measures].[Vs Cierre] AS
     '[Measures].[Cantidad Movimientos] -
      ([Measures].[Cantidad Movimientos], CLOSINGPERIOD([Fecha].[Mes]))'
SELECT {[Measures].[Cantidad Movimientos], [Measures].[Vs Cierre]}
       ON COLUMNS,
       {[Fecha].[Mes].Members} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_closingperiod_vs_yearend",
    oracle="""
    WITH per AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
             CAST(month(o.o_orderdate) AS INTEGER) AS mes,
             count(o.o_custkey) AS cantidad_movimientos
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY 1, 2
    )
    SELECT anio, mes, cantidad_movimientos,
           cantidad_movimientos - first_value(cantidad_movimientos)
             OVER (PARTITION BY anio ORDER BY mes DESC) AS vs_cierre
    FROM per
    """,
)
def mdx_closingperiod_vs_yearend_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CLOSINGPERIOD — the "vs year-end" gesture through the MDX front
    door: each (anio, mes) cell shows its movement count and the gap to
    the SAME YEAR'S closing month (``([Measures].[X],
    CLOSINGPERIOD([Fecha].[Mes]))``). Executes as ONE aggregation of
    the slicer-filtered star plus ``max_by(measure, mes)`` over a
    window partitioned by anio — the oracle spells the identical
    boundary as ``first_value() OVER (PARTITION BY anio ORDER BY mes
    DESC)``. Exact BIGINT differences, nothing to round. 100 TB:
    months-many cells, kilobytes."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_CLOSING_STATEMENT
    )


_MDX_EXCEPT_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos],
        [Measures].[Promedio Medida]} ON COLUMNS,
       CROSSJOIN({[Fecha].[Anio].Members},
                 EXCEPT({[Persona].[Nacionalidad].Members},
                        {[Persona].[Nacionalidad].[PERU],
                         [Persona].[Nacionalidad].[CHINA]})) ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_except_members",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           n.n_name AS nacionalidad,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND (n.n_name IS NULL OR n.n_name NOT IN ('PERU', 'CHINA'))
    GROUP BY 1, 2
    """,
)
def mdx_except_members_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT — set subtraction on the rows axis: every nationality
    EXCEPT two, crossed with years ("everyone but our two home
    markets", the exclusion gesture every BI tool's member picker
    emits). Over ``.Members`` the exclusion compiles to a NOT-IN dice
    applied BEFORE aggregation, with NULL-keyed members explicitly
    preserved (a bare SQL ``NOT IN`` silently drops them — the oracle
    spells ``IS NULL OR NOT IN``, and hash equality proves the
    translator got the three-valued logic right). At 100 TB the NOT-IN
    lands in the fact scan alongside the slicer; the aggregate shuffles
    only the surviving slice."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_EXCEPT_STATEMENT
    )


_MDX_TOPPERCENT_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos]} ON COLUMNS,
       TOPPERCENT({[Persona].[Nacionalidad].Members}, 60,
                  [Measures].[Cantidad Movimientos]) ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_toppercent_pareto",
    oracle="""
    WITH agg AS (
      SELECT n.n_name AS nacionalidad,
             count(o.o_custkey) AS cantidad_movimientos
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY 1
    ), cut AS (
      SELECT *,
             coalesce(sum(cantidad_movimientos) OVER (
               ORDER BY cantidad_movimientos DESC, nacionalidad
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS prefix_sum,
             sum(cantidad_movimientos) OVER () AS total_sum
      FROM agg
    )
    SELECT nacionalidad, cantidad_movimientos
    FROM cut
    WHERE prefix_sum < 0.6 * total_sum
    """,
)
def mdx_toppercent_pareto_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOPPERCENT — the Pareto cut through the MDX front door: the
    nationalities that together make up 60% of BUILDING-segment
    movements ("which markets are most of our volume"). Mondrian's
    contract: sort descending by the measure, keep the SHORTEST prefix
    whose running total reaches the percentage, INCLUDING the member
    that crosses it — a member survives iff the sum of everything
    before it is still below the threshold. The translator compiles
    this to two window functions over the aggregated cells (running
    prefix sum in measure-desc/key-asc order + grand total) and one
    filter (operators/mdx.py compile_select); the oracle spells the
    identical windows. Ties break by the grouping key ascending (the
    same documented determinism TOPCOUNT uses); counts are exact
    BIGINT and 0.6*total is the same IEEE double on both engines —
    nothing to round. 100 TB: the windows see group-count-many
    aggregated cells (25 nations), never the fact — the Pareto cut is
    free once the cube cells exist."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_TOPPERCENT_STATEMENT
    )


_MDX_DESCENDANTS_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos]} ON COLUMNS,
       DESCENDANTS([Fecha].[Anio].[1996], [Fecha].[Dia]) ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_descendants_days",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           CAST(month(o.o_orderdate) AS INTEGER) AS mes,
           CAST(day(o.o_orderdate) AS INTEGER) AS dia,
           count(o.o_custkey) AS cantidad_movimientos
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND year(o.o_orderdate) = 1996
    GROUP BY 1, 2, 3
    """,
)
def mdx_descendants_days_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCENDANTS — Children generalized to ANY deeper level:
    ``DESCENDANTS([Fecha].[Anio].[1996], [Fecha].[Dia])`` drills one
    year straight to day grain, SKIPPING the month level on the way
    down (the calendar-heatmap gesture; Children can only step one
    level). The translator reuses Children's machinery — group by the
    target level's full ancestor chain (anio, mes, dia), dice the
    anchor's column to the member — so the answer is keyed exactly as
    a Mondrian client drilling the Fecha hierarchy expects, and the
    anchor must sit at the hierarchy top (a leaf-value member path is
    only unique there; deeper anchors are loud). Exact BIGINT counts.
    100 TB: the year dice lands in the fact scan (partition-prunable
    when the fact is date-partitioned), one shuffle at day grain —
    identical to the hand-written drill."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_DESCENDANTS_STATEMENT
    )


_MDX_SET_SLICER_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos],
        [Measures].[Promedio Medida]} ON COLUMNS,
       {[Persona].[Nacionalidad].Members} ON ROWS
FROM [Movimientos]
WHERE {[Fecha].[Anio].[1996]:[Fecha].[Anio].[1997], [Fecha].[Anio].[1999]}
"""


@query(
    "mdx_set_slicer_years",
    oracle="""
    SELECT n.n_name AS nacionalidad,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE year(o.o_orderdate) IN (1996, 1997, 1999)
    GROUP BY 1
    """,
    # the unioned years' rows aggregate in engine-specific order — contract
    round_cols=("promedio_medida",),
)
def mdx_set_slicer_years_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET slicer — the multi-select WHERE pivot clients emit when a
    user checks several filter boxes: ``WHERE {[1996]:[1997], [1999]}``
    (a member range AND an extra member in one slicer set) restricts
    the cube to the UNION of the named years before aggregation.
    Members of one level OR into a single IN dice; filtering rows to
    the union slice is exactly Mondrian's aggregated-slicer answer for
    every aggregator this cube model has — including avg, whose sum
    and count both come from the union's rows (the oracle's plain
    ``year IN (...)`` + ``avg`` pins that it is NOT an avg of per-year
    avgs). Mixed-level slicer sets (a cross-column disjunction) are a
    loud MdxError. 100 TB: the IN dice reaches the fact scan like any
    slicer — a three-year slice reads three years' partitions."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_SET_SLICER_STATEMENT
    )


def _movimientos_dc_cube(spark: SparkSession, sf_dir: str):
    """The Movimientos cube extended with a Mondrian distinct-count
    measure ("Clientes Distintos" = exact distinct customers). A
    SEPARATE fixture from _movimientos_cube on purpose:
    aggregate tables store states for EVERY cube measure, so adding a
    (non-mergeable) distinct-count to the shared cube would change the
    stored state schema of every existing navigator/ingest face."""
    from datawarehousefinal_spark.operators.mdx import CubeDef

    base = _movimientos_cube(spark, sf_dir)
    return CubeDef(
        name=base.name,
        star_builder=base.star_builder,
        levels=dict(base.levels),
        hierarchies=dict(base.hierarchies),
        period_lengths=dict(base.period_lengths),
        measures={
            **base.measures,
            "Clientes Distintos": (
                "distinct-count", "o_custkey", "clientes_distintos",
            ),
        },
    )


_MDX_DISTINCT_COUNT_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos],
        [Measures].[Clientes Distintos]} ON COLUMNS,
       {[Fecha].[Anio].Members} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_distinct_count_measure",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           count(o.o_custkey) AS cantidad_movimientos,
           count(DISTINCT o.o_custkey) AS clientes_distintos
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1
    """,
)
def mdx_distinct_count_measure_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mondrian's ``aggregator="distinct-count"`` — exact distinct
    customers per year alongside the movement count ("how many
    DIFFERENT clients", the dashboard measure plain counts can't
    fake: a repeat customer counts once). On the fact path Spark's
    two-phase ``count(DISTINCT)`` answers (partial distinct map-side,
    one exchange); the aggregate-table path is the interesting
    semantics — distinct states are NOT mergeable (two months' customer
    sets overlap), so the navigator (operators/aggnav.py) serves a
    distinct-count query from a rollup only at EXACT grain, falls back
    to the fact otherwise, and incremental ingest refuses the cube
    loudly (all pinned by tests/test_aggnav.py). 100 TB: distinct-count
    is the measure that forces a fact pass at new grains — precompute
    the dashboard grains as exact-grain rollups, or switch to the
    mergeable HLL sketch store (operators/sketches.py) where ±1% is
    acceptable."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_dc_cube(spark, sf_dir), _MDX_DISTINCT_COUNT_STATEMENT
    )


_MDX_COMPOUND_SLICER_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos],
        [Measures].[Promedio Medida]} ON COLUMNS,
       {[Persona].[Nacionalidad].Members} ON ROWS
FROM [Movimientos]
WHERE {([Fecha].[Anio].[1996], [Cliente].[Segmento].[BUILDING]),
       ([Fecha].[Anio].[1997], [Cliente].[Segmento].[MACHINERY])}
"""


@query(
    "mdx_compound_slicer",
    oracle="""
    SELECT n.n_name AS nacionalidad,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE (year(o.o_orderdate) = 1996 AND c.c_mktsegment = 'BUILDING')
       OR (year(o.o_orderdate) = 1997 AND c.c_mktsegment = 'MACHINERY')
    GROUP BY 1
    """,
    # the OR legs' rows aggregate in engine-specific order — contract
    round_cols=("promedio_medida",),
)
def mdx_compound_slicer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOUND slicer — ``WHERE {(tuple), (tuple)}``, the shape Excel
    emits when a user multi-selects across two filter fields ("1996
    BUILDING plus 1997 MACHINERY, together"): an OR of per-tuple ANDs
    applied BEFORE aggregation, Mondrian's compound-slicer contract.
    The oracle spells the identical OR-of-ANDs — hash equality pins
    that it is NOT the conjunctive (1996 OR 1997) AND (BUILDING OR
    MACHINERY) wrong answer, which would also count 1996 MACHINERY
    rows. Tuples must span the same levels (ragged sets are loud), a
    tuple can't repeat a level, and time intelligence over a column
    the disjunction filters refuses loudly (the cube-context recompute
    cannot drop one leg of an OR). 100 TB: the OR-of-ANDs pushes into
    the fact scan like any slicer — Parquet row-group stats prune on
    both legs' year ranges."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_COMPOUND_SLICER_STATEMENT
    )


_MDX_RANK_STATEMENT = """
WITH MEMBER [Measures].[Puesto] AS
     'RANK([Persona].[Nacionalidad].CurrentMember,
           [Persona].[Nacionalidad].Members,
           [Measures].[Cantidad Movimientos])'
SELECT {[Measures].[Cantidad Movimientos], [Measures].[Puesto]} ON COLUMNS,
       {[Persona].[Nacionalidad].Members} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_rank_league_table",
    oracle="""
    WITH per AS (
      SELECT n.n_name AS nacionalidad,
             count(o.o_custkey) AS cantidad_movimientos
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY 1
    )
    SELECT nacionalidad, cantidad_movimientos,
           CAST(rank() OVER (ORDER BY cantidad_movimientos DESC)
                AS INTEGER) AS puesto
    FROM per
    """,
)
def mdx_rank_league_table_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK — the league-table gesture through the MDX front door:
    every nationality with its movement count AND its 1-based rank
    among all nationalities ("where does each market stand").
    Mondrian's 3-arg Rank sorts the set descending by the measure;
    equal values share a rank (competition ranking), which is exactly
    SQL ``RANK()`` — the oracle's window. The translator compiles the
    member to ``rank()`` over the aggregated cells (operators/mdx.py
    _rank_window), partitioned by any grouping columns outside the
    ranked level's chain; a dice on the ranked level re-ranks over the
    UNDICED aggregation and joins back (a single picked year still
    reports its rank among all years — cube context, pinned by test).
    100 TB: the window sees group-count-many cells, never the fact —
    ranking is free once the cube cells exist."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(_movimientos_cube(spark, sf_dir), _MDX_RANK_STATEMENT)


_MDX_CUSTOM_GROUP_STATEMENT = """
WITH MEMBER [Persona].[Nacionalidad].[Bloque Andino] AS
     'AGGREGATE({[Persona].[Nacionalidad].[NATION_1],
                 [Persona].[Nacionalidad].[NATION_2],
                 [Persona].[Nacionalidad].[NATION_3]})'
SELECT {[Measures].[Cantidad Movimientos],
        [Measures].[Promedio Medida]} ON COLUMNS,
       {[Persona].[Nacionalidad].[Bloque Andino],
        [Persona].[Nacionalidad].[NATION_4],
        [Persona].[Nacionalidad].[NATION_5]} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_custom_group_member",
    oracle="""
    SELECT CASE WHEN n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
                THEN 'Bloque Andino' ELSE n.n_name END AS nacionalidad,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3',
                       'NATION_4', 'NATION_5')
    GROUP BY 1
    """,
    # the group's avg re-associates across engines at sf0.1 — contract
    round_cols=("promedio_medida",),
)
def mdx_custom_group_member_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom AGGREGATE members — ``WITH MEMBER [Dim].[Level].[Name] AS
    'AGGREGATE({members})'``, the custom-group gesture every pivot tool
    exposes ("fold these three markets into one 'Bloque Andino' row"):
    three nationalities fold into one synthetic member alongside two
    bare ones. The translator compiles the group to a PRE-aggregation
    column remap (``CASE col IN (...) THEN 'Name' ELSE col``) after the
    member dice — one Catalyst projection, no union, and correct for
    EVERY aggregator because the raw rows aggregate under the new key
    (the avg column pins that: it is the average over the group's raw
    rows, never an average of member averages — the oracle's CASE +
    plain avg is exactly that). Overlapping groups, .Members mixes,
    and numeric-keyed levels refuse loudly; the navigator refuses to
    route distinct-count queries with groups (merged cells would
    re-fold overlapping distinct sets — tests/test_mdx.py). 100 TB:
    the remap is a map-side expression on the already-diced slice —
    custom groups cost nothing over the plain dice."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_CUSTOM_GROUP_STATEMENT
    )


_MDX_MEDIAN_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos],
        [Measures].[Mediana Medida]} ON COLUMNS,
       {[Fecha].[Anio].Members} ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_median_measure",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           count(o.o_custkey) AS cantidad_movimientos,
           median(o.o_totalprice) AS mediana_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1
    """,
)
def mdx_median_measure_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MEDIAN as a cube measure — the robust center a mean can't
    give when order values are skewed ("typical order value per
    year"). Spark's sort-based exact ``median`` interpolates exactly
    like DuckDB's ``median``/``quantile_cont(0.5)``, so the oracle is
    a plain median — hash equality at 6 significant digits. Like
    distinct-count, median is NON-mergeable (a median of cell medians
    is wrong — the aggnav tests pin a case where the re-fold would say
    52.5 against a true 20), so the navigator serves it from a rollup
    only at EXACT grain, falls back to the fact otherwise, and
    incremental ingest refuses the cube, pointing at the KLL sketch
    store for the mergeable approximate alternative. 100 TB: exact
    medians force a per-group sort — precompute dashboard grains as
    exact-grain rollups, or accept ±ε from the KLL rollup
    (operators/sketches.py) that merges at any grain."""
    from datawarehousefinal_spark.operators.mdx import CubeDef, mdx_query

    base = _movimientos_cube(spark, sf_dir)
    cube = CubeDef(
        name=base.name,
        star_builder=base.star_builder,
        levels=dict(base.levels),
        hierarchies=dict(base.hierarchies),
        period_lengths=dict(base.period_lengths),
        measures={
            **base.measures,
            "Mediana Medida": ("median", "o_totalprice", "mediana_medida"),
        },
    )
    return mdx_query(cube, _MDX_MEDIAN_STATEMENT)


_ADVISOR_WORKLOAD = [
    """SELECT {[Measures].[Cantidad Movimientos]} ON COLUMNS,
       {[Fecha].[Anio].Members} ON ROWS FROM [Movimientos]""",
    """SELECT {[Measures].[Promedio Medida]} ON COLUMNS,
       {[Persona].[Nacionalidad].Members} ON ROWS FROM [Movimientos]
       WHERE ([Cliente].[Segmento].[BUILDING])""",
    """SELECT {[Measures].[Cantidad Movimientos]} ON COLUMNS,
       {[Fecha].[Mes].Members} ON ROWS FROM [Movimientos]""",
]


@query(
    "aggregate_advisor_stats",
    oracle="""
    SELECT 'anio' AS grain,
           (SELECT count(DISTINCT year(o_orderdate)) FROM orders)
             AS cells,
           CAST(1 AS INTEGER) AS n_covers
    UNION ALL
    SELECT 'anio,mes',
           (SELECT count(DISTINCT (year(o_orderdate), month(o_orderdate)))
            FROM orders),
           CAST(2 AS INTEGER)
    UNION ALL
    SELECT 'nacionalidad,segmento',
           (SELECT count(DISTINCT (n.n_name, c.c_mktsegment))
            FROM orders o
            LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey),
           CAST(1 AS INTEGER)
    """,
)
def aggregate_advisor_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aggregate ADVISOR (operators/aggnav.recommend_aggregates) —
    Mondrian AggGen's role: given the MDX queries a deployment runs,
    pick the rollup grains worth materializing. Candidates are each
    query's requirement set; coverage is decided by the navigator's
    own choose_aggregate (so a recommendation can never be refused at
    query time — the non-mergeable and custom-group rules apply
    automatically); every candidate's cell count comes from ONE
    aggregation pass over the star; selection is the
    Harinarayan/Rajaraman/Ullman greedy. This face serves the
    recommendations for a three-query workload as (grain, cells,
    n_covers) rows — the oracle recomputes each grain's exact distinct
    cell count and the statically-known coverage, pinning the
    candidate derivation, the hierarchy-chain expansion ([Fecha].[Mes]
    → (anio, mes)), and the one-pass counting. The greedy ORDER and
    savings are pinned by tests/test_aggnav.py (order depends on
    fact-row arithmetic, not new data facts). 100 TB: the advisor
    costs one fact pass regardless of workload size; what it buys is
    every dashboard pass reading kilobyte rollups."""
    from datawarehousefinal_spark.operators.aggnav import (
        recommend_aggregates,
    )

    cube = _movimientos_cube(spark, sf_dir)
    recs = recommend_aggregates(cube, _ADVISOR_WORKLOAD, max_tables=3)
    return spark.createDataFrame(
        [
            (",".join(r.grain), r.cells, len(r.covers))
            for r in recs
        ],
        "grain string, cells bigint, n_covers int",
    )


_MDX_FILTER_BOOL_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos],
        [Measures].[Promedio Medida]} ON COLUMNS,
       FILTER({[Persona].[Nacionalidad].Members},
              [Measures].[Promedio Medida] > 250000 AND
              [Measures].[Cantidad Movimientos] > 100 OR
              [Measures].[Promedio Medida] < 230000) ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[BUILDING])
"""


@query(
    "mdx_filter_boolean",
    oracle="""
    SELECT n.n_name AS nacionalidad,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1
    HAVING avg(o.o_totalprice) > 250000 AND count(o.o_custkey) > 100
        OR avg(o.o_totalprice) < 230000
    """,
)
def mdx_filter_boolean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER with a BOOLEAN condition — ``a > x AND b < y OR c < z``,
    the compound HAVING every real report builder reaches for
    ("expensive AND busy markets, or outright cheap ones" — thresholds
    chosen to keep 8 of 25 nations at the driver's sf0.01, so the
    boolean genuinely discriminates). The condition parses as a tree
    of comparisons under AND/OR with the SQL precedence (AND binds
    tighter — the oracle's bare HAVING relies on DuckDB applying the
    identical precedence, so hash equality pins the parse, not just
    the arithmetic), compiles to one boolean Column over the
    aggregated cells, and composes with calculated members and the
    other wrappers. Parenthesized boolean groups and arithmetic
    sub-expressions disambiguate by backtracking (pinned by unit
    tests). 100 TB: a HAVING over group-count-many cells — free."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_FILTER_BOOL_STATEMENT
    )


_ADVISOR_ROUTE_WORKLOAD = [
    # the month drilldown a dashboard refreshes constantly ...
    """
    SELECT {[Measures].[Cantidad Movimientos],
            [Measures].[Promedio Medida]} ON COLUMNS,
           {[Fecha].[Mes].Members} ON ROWS
    FROM [Movimientos]
    WHERE ([Cliente].[Segmento].[BUILDING])
    """,
    # ... and the coarser year view (covered by the same month pick)
    """
    SELECT {[Measures].[Cantidad Movimientos]} ON COLUMNS,
           {[Fecha].[Anio].Members} ON ROWS
    FROM [Movimientos]
    WHERE ([Cliente].[Segmento].[BUILDING])
    """,
]


@query(
    "advisor_materialized_route",
    # avg via the rollup's exact decimal sum-state (see module docstring)
    oracle=_MONTH_BUILDING_ORACLE,
)
def advisor_materialized_route_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Mondrian AggGen loop end-to-end (aggnav.
    materialize_recommended): advisor picks → parquet rollups →
    ``CubeDef.aggregates`` registration → plain front-door
    ``mdx_query`` answers the workload's month drilldown from the
    picks. Loud if the route falls back to the fact (the face would
    silently prove nothing). 100 TB: this is the full BI serving
    story — ONE advisor pass (a single wide count-distinct aggregate
    over the star) + one materialization shuffle per pick buys every
    future dashboard query a kilobyte rollup read instead of a fact
    scan. Result is a ``local_result`` so the driver's hash pass never
    re-reads the scratch rollups."""
    from datawarehousefinal_spark.operators.aggnav import (
        materialize_recommended,
    )
    from datawarehousefinal_spark.operators.mdx import mdx_query
    from datawarehousefinal_spark.plans.audit import physical_plan

    cube = _movimientos_cube(spark, sf_dir)
    with _scratch_path("advisor_route", sf_dir) as path:
        tables = materialize_recommended(
            cube,
            _ADVISOR_ROUTE_WORKLOAD,
            max_tables=2,
            path_prefix=path,
        )
        if not tables:
            raise RuntimeError("advisor recommended nothing for the workload")
        out = mdx_query(cube, _ADVISOR_ROUTE_WORKLOAD[0])
        plan = physical_plan(out)
        if "parquet" not in plan.lower():
            raise RuntimeError(
                "front-door query did not route to the materialized "
                "recommendation — the face would silently prove nothing"
            )
        return local_result(out)


_MDX_CLIENT_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos], [Measures].[Promedio Medida]}
       DIMENSION PROPERTIES MEMBER_UNIQUE_NAME ON COLUMNS,
       NON EMPTY {[Persona].[Nacionalidad].Members}
       DIMENSION PROPERTIES MEMBER_CAPTION, MEMBER_UNIQUE_NAME ON ROWS
FROM [Movimientos]
WHERE ([Cliente].[Segmento].[MACHINERY])
"""


@query(
    "mdx_client_shapes",
    oracle="""
    SELECT n.n_name AS nacionalidad,
           count(o.o_custkey) AS cantidad_movimientos,
           avg(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment = 'MACHINERY'
    GROUP BY 1
    """,
    # fact-path avg: engines may re-associate the sum — contract
    round_cols=("promedio_medida",),
)
def mdx_client_shapes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact decorated statement a BI client emits — ``NON EMPTY``
    plus ``DIMENSION PROPERTIES`` on both axes — answered through the
    plain front door and hash-matched against undecorated SQL: both
    decorations are documented no-ops (operators/mdx.py — groupBy
    never fabricates empty cells; intrinsic properties ARE the member
    key columns), and this face pins that at the driver gate, not
    only in unit tests. This is the first statement an Excel
    connection sends after a drag-drop, i.e. the likeliest parse
    failure a real client would have hit."""
    from datawarehousefinal_spark.operators.mdx import mdx_query

    out = mdx_query(_movimientos_cube(spark, sf_dir), _MDX_CLIENT_STATEMENT)
    return out
