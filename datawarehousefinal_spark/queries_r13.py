"""Round-13 query faces.

Two end-to-end faces pinning this round's additions at the driver
gate:

- ``advisor_materialized_route`` — the FULL Mondrian AggGen loop in
  one gesture (``aggnav.materialize_recommended``): the advisor reads
  a two-query workload, picks rollup grains, the picks materialize to
  parquet and register on ``CubeDef.aggregates``, and the plain
  front-door ``mdx_query`` — no special entry point — answers the
  workload from the picks. A runtime guard asserts the routed plan
  reads the rollup parquet; the oracle recomputes the same cells from
  the raw fact, so hash equality proves the advisor→materialize→route
  loop is lossless.
- ``mdx_client_shapes`` — the EXACT decorated statement a BI client
  emits (Excel/Pentaho drag-drop): ``NON EMPTY`` on the rows axis plus
  ``DIMENSION PROPERTIES MEMBER_CAPTION, MEMBER_UNIQUE_NAME`` on both
  axes. Both decorations are documented no-ops in this translator
  (groupBy never fabricates empty cells; intrinsic properties are the
  member key columns), so the decorated query must hash-match the
  plain SQL oracle — the two most common client-emitted parse shapes,
  proven at the driver gate rather than only in unit tests.

Registered into the same ``QUERIES``/``ORACLES`` registry as
:mod:`datawarehousefinal_spark.queries` (imported from its tail,
before the driver-window reorder — these land after the frozen
round-13 window and enter the rotation next round).

Hash-stability discipline: the avg measure serves through the
rollup's EXACT decimal sum-state (aggnav), so the oracle mirrors the
``CAST(sum(CAST(x AS DECIMAL(20,4))) AS DOUBLE)/count(x)`` contract —
partitioning-independent, no rounding needed; the fact-path face
rounds per the _ulp_contract convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datawarehousefinal_spark.materialize import local_result
from datawarehousefinal_spark.queries import query

# ---------------------------------------------------------------------------
# Advisor → materialize → front-door route, end to end
# ---------------------------------------------------------------------------

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
    from datawarehousefinal_spark.queries import _scratch_path
    from datawarehousefinal_spark.queries_r10 import _movimientos_cube

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


# ---------------------------------------------------------------------------
# Client-emitted decorations: NON EMPTY + DIMENSION PROPERTIES
# ---------------------------------------------------------------------------

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
    # fact-path avg: serve-boundary rounding per the _ulp_contract
    # convention (engines may re-associate the sum)
    oracle="""
    SELECT n.n_name AS nacionalidad,
           count(o.o_custkey) AS cantidad_movimientos,
           round(avg(o.o_totalprice), 6) + 0 AS promedio_medida
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment = 'MACHINERY'
    GROUP BY 1
    """,
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
    from datawarehousefinal_spark.queries import _ulp_contract
    from datawarehousefinal_spark.queries_r10 import _movimientos_cube

    out = mdx_query(_movimientos_cube(spark, sf_dir), _MDX_CLIENT_STATEMENT)
    return _ulp_contract(out, "promedio_medida")
