"""Round-11 query faces.

The round-10 verdict's MDX direction (next-round items #5 and stretch
#7): hierarchy-aware member keys on the MDX front door. Mondrian keys a
child level's members by their ancestor chain — a client drilling
``[Fecha].[Mes].Members`` expects (Anio, Mes) cells, not bare months
that merge January 1997 with January 1998 — and the reference's Fecha
hierarchy is 3-deep (Anio > Mes > Dia, Schema_Trabajo_Final.xml:2-13).
``CubeDef.hierarchies`` now declares that order and the translator
groups by the chain (operators/mdx.py:level_chain); these faces prove
it at the query-language level against multi-column SQL oracles:

- ``mdx_month_drilldown`` — the first thing a real cube user hits
  after year grain: month members keyed (anio, mes).
- ``mdx_day_drilldown`` — the full 3-level climb to Dia on the second
  (lineitem-fact Envios) cube: day members keyed (anio, mes, dia),
  proving the chain logic is depth- and cube-generic.

Registered into the same ``QUERIES``/``ORACLES`` registry as
:mod:`datawarehousefinal_spark.queries` (imported from its tail, before
the driver-window reorder — these land after the frozen round-11 window
and enter the rotation next round).

Hash-stability discipline (module contract, same as queries_r8/r9/r10):
counts are exact BIGINT; the avg measure is a single division of an
order-invariant double sum by an exact count, the same serve shape the
driver-green ``mdx_cube_query`` uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehousefinal_spark.materialize import local_result
from datawarehousefinal_spark.queries import query

# ---------------------------------------------------------------------------
# MDX hierarchy drilldowns
# ---------------------------------------------------------------------------

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
    from datawarehousefinal_spark.queries_r10 import _movimientos_cube

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
    from datawarehousefinal_spark.queries_r10 import _envios_cube

    return mdx_query(_envios_cube(spark, sf_dir), _MDX_DAY_STATEMENT)


# ---------------------------------------------------------------------------
# MDX language depth: WITH MEMBER, TopCount, Filter, Children
# ---------------------------------------------------------------------------

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
    from datawarehousefinal_spark.queries_r10 import _movimientos_cube

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
    from datawarehousefinal_spark.queries_r10 import _envios_cube

    return mdx_query(_envios_cube(spark, sf_dir), _MDX_TOPCOUNT_STATEMENT)


_MDX_FILTER_STATEMENT = """
SELECT {[Measures].[Cantidad Movimientos], [Measures].[Promedio Medida]}
       ON COLUMNS,
       FILTER({[Persona].[Nacionalidad].Members},
              [Measures].[Cantidad Movimientos] > 600) ON ROWS
FROM [Movimientos]
"""


@query(
    "mdx_filter_having",
    oracle="""
    SELECT n.n_name AS nacionalidad,
           count(o.o_custkey) AS cantidad_movimientos,
           round(avg(o.o_totalprice), 6) + 0 AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    HAVING count(o.o_custkey) > 600
    """,
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
    from datawarehousefinal_spark.queries_r10 import _movimientos_cube

    from datawarehousefinal_spark.queries import _ulp_contract

    # fact-path avg re-associates at sf0.01's multi-split scan — contract
    return _ulp_contract(
        mdx_query(_movimientos_cube(spark, sf_dir), _MDX_FILTER_STATEMENT),
        "promedio_medida",
    )


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
    from datawarehousefinal_spark.queries_r10 import _movimientos_cube

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_CHILDREN_STATEMENT
    )


# ---------------------------------------------------------------------------
# Aggregate tables + navigator (Mondrian AggTable semantics, Spark-first)
# ---------------------------------------------------------------------------


@query(
    "mdx_aggregate_navigator",
    # avg via the rollup's EXACT decimal sum-state: the oracle mirrors
    # the serve contract (one exact decimal sum → one correctly-rounded
    # double → one division) so the hash is partitioning-independent —
    # plain avg() sums doubles in scan order, which differs from any
    # re-associated sum by an ulp (the r12 incremental-rollup red).
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           CAST(month(o.o_orderdate) AS INTEGER) AS mes,
           count(o.o_custkey) AS cantidad_movimientos,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
             / count(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1, 2
    """,
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
    from datawarehousefinal_spark.operators.aggnav import (
        materialize_aggregate,
        mdx_query_navigated,
    )
    from datawarehousefinal_spark.queries import _scratch_path
    from datawarehousefinal_spark.queries_r10 import _movimientos_cube

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
        out = mdx_query_navigated(
            cube, _MDX_MONTH_STATEMENT, [decoy, rollup]
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
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS anio,
           CAST(month(o.o_orderdate) AS INTEGER) AS mes,
           count(o.o_custkey) AS cantidad_movimientos,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
             / count(o.o_totalprice) AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1, 2
    """,
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
        choose_aggregate,
        ingest_into_aggregate,
        materialize_aggregate,
        reagg_expr,
    )
    from datawarehousefinal_spark.operators.mdx import (
        execute_select,
        parse_mdx,
    )
    from datawarehousefinal_spark.queries_r10 import _movimientos_cube

    cube = _movimientos_cube(spark, sf_dir)
    star = cube.star_builder()
    base = star.filter(F.col("dia") % 2 == 0)
    delta = star.filter(F.col("dia") % 2 == 1)
    rollup = materialize_aggregate(
        cube,
        ["Fecha.Mes", "Cliente.Segmento"],
        source=base,
        name="agg_mes_segmento",
    )
    merged = ingest_into_aggregate(cube, rollup, delta)
    sel = parse_mdx(_MDX_MONTH_STATEMENT, cube)
    chosen = choose_aggregate(cube, sel, [merged])
    if chosen is None:
        raise RuntimeError(
            "navigator failed to route to the merged rollup — the face "
            "would silently prove nothing"
        )
    return execute_select(
        sel, cube, chosen.table, lambda m: reagg_expr(cube, m)
    )


# ---------------------------------------------------------------------------
# MDX ranking/sorting completions: BottomCount, Order
# ---------------------------------------------------------------------------

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
    from datawarehousefinal_spark.queries_r10 import _envios_cube

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
    oracle="""
    SELECT n.n_name AS nacionalidad,
           count(o.o_custkey) AS cantidad_movimientos,
           round(avg(o.o_totalprice), 6) + 0 AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    HAVING count(o.o_custkey) > 600
    """,
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
    from datawarehousefinal_spark.queries_r10 import _movimientos_cube

    from datawarehousefinal_spark.queries import _ulp_contract

    # fact-path avg re-associates at sf0.01's multi-split scan — contract
    return _ulp_contract(
        mdx_query(_movimientos_cube(spark, sf_dir), _MDX_ORDER_STATEMENT),
        "promedio_medida",
    )


# ---------------------------------------------------------------------------
# MDX named sets + natural-order cuts: WITH SET, Head, Tail
# ---------------------------------------------------------------------------

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
    from datawarehousefinal_spark.queries_r10 import _movimientos_cube

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
    from datawarehousefinal_spark.queries_r10 import _movimientos_cube

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_HEAD_TAIL_STATEMENT
    )


# ---------------------------------------------------------------------------
# MDX time intelligence: PARALLELPERIOD (year-over-year)
# ---------------------------------------------------------------------------

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
    from datawarehousefinal_spark.queries_r10 import _movimientos_cube

    return mdx_query(_movimientos_cube(spark, sf_dir), _MDX_YOY_STATEMENT)


# ---------------------------------------------------------------------------
# MDX sub-selects: FROM (SELECT ... FROM [Cube])
# ---------------------------------------------------------------------------

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
    from datawarehousefinal_spark.queries_r10 import _movimientos_cube

    return mdx_query(
        _movimientos_cube(spark, sf_dir), _MDX_SUBSELECT_STATEMENT
    )
