"""The serving path as SQL: the fixture-view registry, the per-call views
that stand in for DataFrame inputs, member values bound as parameters
(never pasted into SQL text), and the statements the benchmark's MDX
faces compile to."""

from __future__ import annotations

import dataclasses
import os
import re
import subprocess
import sys
import threading

import duckdb
import pandas as pd
import pytest

from datawarehousefinal_spark import queries as Q
from datawarehousefinal_spark.operators.mdx import (
    CubeDef,
    compile_mdx,
    mdx_query,
)
from datawarehousefinal_spark.operators.olap import grouping_sets_measures
from datawarehousefinal_spark.sources.testdata import (
    FIXTURE_VIEW_PREFIX,
    fixture_views,
)

_OLAP_FACES = (
    "mdx_cube_query", "mdx_rollup_query", "cube_measures_by_dims",
    "grouping_sets_measures", "incremental_aggregate_rollup",
)


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _count(spark, view: str) -> int:
    return spark.sql(f"SELECT count(*) AS n FROM {view}").collect()[0]["n"]


def _write_nation(path: str, n: int) -> None:
    pd.DataFrame(
        {"n_nationkey": range(n), "n_name": [f"N{i}" for i in range(n)]}
    ).to_parquet(path, index=False)


# -- fixture-view registry ---------------------------------------------------


def test_fixture_view_resolves_once_and_reads_rows(spark, sf_dir):
    (first,) = fixture_views(spark, sf_dir, "nation")
    (again,) = fixture_views(spark, sf_dir, "nation")
    assert first == again
    assert first.strip("`").startswith(FIXTURE_VIEW_PREFIX)
    want = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    assert _count(spark, first) == want


def test_overwritten_fixture_file_is_resolved_again(spark, tmp_path):
    sf = str(tmp_path)
    _write_nation(f"{sf}/nation.parquet", 3)
    (old,) = fixture_views(spark, sf, "nation")
    assert _count(spark, old) == 3
    _write_nation(f"{sf}/nation.parquet", 5)
    (new,) = fixture_views(spark, sf, "nation")
    assert new != old
    assert _count(spark, new) == 5


def test_changed_parquet_conf_gets_a_new_view(spark, sf_dir):
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    (plain,) = fixture_views(spark, sf_dir, "region")
    spark.conf.set(key, "false" if before == "true" else "true")
    try:
        (flipped,) = fixture_views(spark, sf_dir, "region")
    finally:
        spark.conf.set(key, before)
    assert flipped != plain
    assert fixture_views(spark, sf_dir, "region") == [plain]


def test_new_session_never_reads_another_sessions_view(spark, sf_dir):
    (mine,) = fixture_views(spark, sf_dir, "nation")
    other = spark.newSession()
    assert mine.strip("`") not in _temp_views(other)
    (theirs,) = fixture_views(other, sf_dir, "nation")
    assert theirs != mine
    assert _count(other, theirs) == _count(spark, mine)


_RESTART = """
import sys
from datawarehousefinal_spark.session import get_spark
from datawarehousefinal_spark.sources.testdata import fixture_views

sf = sys.argv[1]
spark = get_spark(app_name="restart-a", master="local[1]", shuffle_partitions=1)
(first,) = fixture_views(spark, sf, "nation")
spark.stop()
spark = get_spark(app_name="restart-b", master="local[1]", shuffle_partitions=1)
(again,) = fixture_views(spark, sf, "nation")
assert again != first, (first, again)
print(spark.sql(f"SELECT count(*) FROM {again}").collect()[0][0])
spark.stop()
"""


def test_restarted_session_registers_its_own_views(spark, sf_dir):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _RESTART, sf_dir],
        capture_output=True, text=True, timeout=300, cwd=root, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    (nation,) = fixture_views(spark, sf_dir, "nation")
    assert int(out.stdout.split()[-1]) == _count(spark, nation)


def test_sql_self_join_of_one_fixture_table(spark, sf_dir):
    (orders,) = fixture_views(spark, sf_dir, "orders")
    got = spark.sql(
        f"SELECT count(*) AS n FROM {orders} a "
        f"JOIN {orders} b ON a.o_orderkey = b.o_orderkey"
    ).collect()[0]["n"]
    assert got == _count(spark, orders)


def test_warm_construct_starts_no_job(spark, sf_dir):
    sc = spark.sparkContext
    for face in _OLAP_FACES:
        Q.QUERIES[face](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        group = f"warm-construct-{face}"
        sc.setJobGroup(group, group)
        try:
            Q.QUERIES[face](spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], face


def test_olap_faces_leave_only_fixture_views(spark, sf_dir):
    before = _temp_views(spark)
    for face in _OLAP_FACES:
        Q.QUERIES[face](spark, sf_dir).collect()
    left = _temp_views(spark) - before
    assert all(v.startswith(FIXTURE_VIEW_PREFIX) for v in left), left


# -- per-call views ------------------------------------------------------------


def test_interleaved_grouping_sets_read_their_own_input(spark):
    frames = [
        spark.createDataFrame(
            [(k, k * 10 + i, float(i)) for i in range(k)],
            "k int, fk int, m double",
        )
        for k in range(1, 7)
    ]
    before = _temp_views(spark)
    results: dict[int, dict] = {}

    def serve(i: int) -> None:
        for _ in range(3):
            out = grouping_sets_measures(frames[i], [["k"], []], "fk", "m")
            results[i] = {
                r["k"]: r["cantidad_movimientos"] for r in out.collect()
            }

    # more threads than the host's 4 cores, so statements interleave
    threads = [
        threading.Thread(target=serve, args=(i,)) for i in range(len(frames))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    for i, k in enumerate(range(1, 7)):
        assert results[i] == {None: k, k: k}
    assert _temp_views(spark) == before


# -- member values are parameters --------------------------------------------

_HOSTILE = [
    "it's", "back`tick", "back\\slash", ":name", "what?", "{}",
    "new\nline", "x') OR 1=1 --",
]
_ROWS = [
    (name, seg, float(10 * i + j))
    for i, name in enumerate([*_HOSTILE, "plain"])
    for j, seg in enumerate([*_HOSTILE, "plain"])
    if (i + j) % 3 != 1
]
_PDF = pd.DataFrame(_ROWS, columns=["pais", "seg", "medida"])


def _hostile_cube(spark) -> CubeDef:
    return CubeDef(
        name="Hostile",
        star_builder=lambda: spark.createDataFrame(
            _PDF, "pais string, seg string, medida double"
        ),
        levels={"Persona.Pais": "pais", "Cliente.Seg": "seg"},
        measures={
            "Cantidad": ("count", "medida", "n"),
            "Total": ("sum", "medida", "sum_medida"),
        },
    )


def _duck(sql: str, params: list) -> list[tuple]:
    con = duckdb.connect()
    con.register("star", _PDF)
    return sorted(con.execute(sql, params).fetchall())


@pytest.mark.parametrize("slicer", _HOSTILE, ids=range(len(_HOSTILE)))
def test_hostile_members_slicer_and_rows_dice(spark, slicer):
    picks = [m for m in _HOSTILE if m != slicer]
    rows = ", ".join(f"[Persona].[Pais].[{m}]" for m in picks)
    got = mdx_query(
        _hostile_cube(spark),
        f"""SELECT {{[Measures].[Cantidad], [Measures].[Total]}} ON COLUMNS,
                   {{{rows}}} ON ROWS
            FROM [Hostile]
            WHERE ([Cliente].[Seg].[{slicer}])""",
    )
    want = _duck(
        "SELECT pais, count(medida), sum(medida) FROM star WHERE seg = ? "
        f"AND pais IN ({', '.join('?' * len(picks))}) GROUP BY pais",
        [slicer, *picks],
    )
    assert want  # the fixture gives every slicer cells to find
    assert sorted(tuple(r) for r in got.collect()) == want


def test_hostile_members_except_and_set_slicer(spark):
    drop = _HOSTILE[::2]
    keep = _HOSTILE[1::2]
    got = mdx_query(
        _hostile_cube(spark),
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "EXCEPT({[Persona].[Pais].Members}, {"
        + ", ".join(f"[Persona].[Pais].[{m}]" for m in drop)
        + "}) ON ROWS FROM [Hostile] WHERE {"
        + ", ".join(f"[Cliente].[Seg].[{m}]" for m in keep)
        + "}",
    )
    want = _duck(
        "SELECT pais, count(medida) FROM star "
        f"WHERE pais NOT IN ({', '.join('?' * len(drop))}) "
        f"AND seg IN ({', '.join('?' * len(keep))}) GROUP BY pais",
        [*drop, *keep],
    )
    assert sorted(tuple(r) for r in got.collect()) == want


def test_member_values_never_reach_sql_text(spark):
    rows = ", ".join(f"[Persona].[Pais].[{m}]" for m in _HOSTILE)
    rel, params = compile_mdx(
        _hostile_cube(spark),
        f"SELECT {{[Measures].[Cantidad]}} ON COLUMNS, {{{rows}}} ON ROWS "
        "FROM [Hostile]",
    )
    assert sorted(params.values()) == sorted(_HOSTILE)
    for m in _HOSTILE:
        assert m not in rel.sql


# -- golden statements -------------------------------------------------------
# The SQL the benchmark's three MDX faces run, as a Mondrian SQL log would
# show it; fixture view names lose their per-process suffix.

_GOLDEN = {
    "mdx_cube_query": (
        """SELECT `anio`, `nacionalidad`, count(`o_custkey`) AS `cantidad_movimientos`, avg(`o_totalprice`) AS `promedio_medida`
FROM (
SELECT /*+ BROADCAST(c, n) */
  year(o.o_orderdate) AS anio, month(o.o_orderdate) AS mes,
  dayofmonth(o.o_orderdate) AS dia, n.n_name AS nacionalidad,
  c.c_mktsegment AS segmento, o.o_custkey, o.o_totalprice
FROM `orders` o
LEFT JOIN `customer` c ON o.o_custkey = c.c_custkey
LEFT JOIN `nation` n ON c.c_nationkey = n.n_nationkey
)
WHERE `segmento` IN (:m0) AND `nacionalidad` IN (:m1, :m2)
GROUP BY `anio`, `nacionalidad`""",
        {"m0": "BUILDING", "m1": "NATION_1", "m2": "NATION_2"},
    ),
    "mdx_rollup_query": (
        """SELECT `anio`, `nacionalidad`, count(`o_custkey`) AS `cantidad_movimientos`, avg(`o_totalprice`) AS `promedio_medida`
FROM (
SELECT /*+ BROADCAST(c, n) */
  year(o.o_orderdate) AS anio, month(o.o_orderdate) AS mes,
  dayofmonth(o.o_orderdate) AS dia, n.n_name AS nacionalidad,
  c.c_mktsegment AS segmento, o.o_custkey, o.o_totalprice
FROM `orders` o
LEFT JOIN `customer` c ON o.o_custkey = c.c_custkey
LEFT JOIN `nation` n ON c.c_nationkey = n.n_nationkey
)
GROUP BY GROUPING SETS ((`anio`, `nacionalidad`), (`anio`), (`nacionalidad`), ())""",
        {},
    ),
    "incremental_aggregate_rollup": (
        """SELECT `anio`, `mes`, sum(`cantidad_movimientos__cnt`) AS `cantidad_movimientos`, CAST(sum(`promedio_medida__sum`) AS DOUBLE) / sum(`promedio_medida__cnt`) AS `promedio_medida`
FROM (
SELECT `anio`, `mes`, `segmento`, sum(`cantidad_movimientos__cnt`) AS `cantidad_movimientos__cnt`, sum(`promedio_medida__sum`) AS `promedio_medida__sum`, sum(`promedio_medida__cnt`) AS `promedio_medida__cnt`
FROM (
SELECT `anio`, `mes`, `segmento`, `cantidad_movimientos__cnt`, `promedio_medida__sum`, `promedio_medida__cnt` FROM (
SELECT `anio`, `mes`, `segmento`, count(`o_custkey`) AS `cantidad_movimientos__cnt`, sum(CAST(`o_totalprice` AS DECIMAL(20,4))) AS `promedio_medida__sum`, count(`o_totalprice`) AS `promedio_medida__cnt`
FROM (
SELECT * FROM (
SELECT /*+ BROADCAST(c, n) */
  year(o.o_orderdate) AS anio, month(o.o_orderdate) AS mes,
  dayofmonth(o.o_orderdate) AS dia, n.n_name AS nacionalidad,
  c.c_mktsegment AS segmento, o.o_custkey, o.o_totalprice
FROM `orders` o
LEFT JOIN `customer` c ON o.o_custkey = c.c_custkey
LEFT JOIN `nation` n ON c.c_nationkey = n.n_nationkey
) WHERE dia % 2 = 0
)
GROUP BY `anio`, `mes`, `segmento`
)
UNION ALL
SELECT `anio`, `mes`, `segmento`, `cantidad_movimientos__cnt`, `promedio_medida__sum`, `promedio_medida__cnt` FROM (
SELECT `anio`, `mes`, `segmento`, count(`o_custkey`) AS `cantidad_movimientos__cnt`, sum(CAST(`o_totalprice` AS DECIMAL(20,4))) AS `promedio_medida__sum`, count(`o_totalprice`) AS `promedio_medida__cnt`
FROM (
SELECT * FROM (
SELECT /*+ BROADCAST(c, n) */
  year(o.o_orderdate) AS anio, month(o.o_orderdate) AS mes,
  dayofmonth(o.o_orderdate) AS dia, n.n_name AS nacionalidad,
  c.c_mktsegment AS segmento, o.o_custkey, o.o_totalprice
FROM `orders` o
LEFT JOIN `customer` c ON o.o_custkey = c.c_custkey
LEFT JOIN `nation` n ON c.c_nationkey = n.n_nationkey
) WHERE dia % 2 = 1
)
GROUP BY `anio`, `mes`, `segmento`
)
)
GROUP BY `anio`, `mes`, `segmento`
)
WHERE `segmento` IN (:m0)
GROUP BY `anio`, `mes`""",
        {"m0": "BUILDING"},
    ),
}


def _compiled(spark, sf_dir: str, face: str):
    """The statement ``face`` runs, rebuilt the way the face builds it."""
    from datawarehousefinal_spark.operators.aggnav import (
        ingest_into_aggregate,
        materialize_aggregate,
    )
    from datawarehousefinal_spark.queries import mdx as faces

    cube = faces._movimientos_cube(spark, sf_dir)
    if face == "mdx_cube_query":
        return compile_mdx(cube, faces._MDX_STATEMENT)
    if face == "mdx_rollup_query":
        return compile_mdx(cube, faces._MDX_ROLLUP_STATEMENT)
    star = cube.star_builder()
    rollup = materialize_aggregate(
        cube, ["Fecha.Mes", "Cliente.Segmento"],
        source=star.derive("SELECT * FROM {rel} WHERE dia % 2 = 0"),
    )
    merged = ingest_into_aggregate(
        cube, rollup, star.derive("SELECT * FROM {rel} WHERE dia % 2 = 1")
    )
    return compile_mdx(
        dataclasses.replace(cube, aggregates=[merged]),
        faces._MDX_MONTH_STATEMENT,
    )


@pytest.mark.parametrize("face", sorted(_GOLDEN))
def test_golden_statement(spark, sf_dir, face):
    rel, params = _compiled(spark, sf_dir, face)
    text = re.sub(
        rf"`{FIXTURE_VIEW_PREFIX}(\w+?)_\d+`", r"`\1`", rel.sql
    )
    want_sql, want_params = _GOLDEN[face]
    assert text == want_sql
    assert params == want_params
    assert rel.frames == ()
