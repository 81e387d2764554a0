"""Seeded differential fuzz for the MDX translator.

The per-face oracles exercise fixed statements; the drift risk is in the
COMBINATIONS — a wrapper over a crossjoin over a diced hierarchy under a
slicer. This suite generates seeded random query specs, renders each
spec TWICE — as MDX text through the full parse/translate/execute path,
and as DuckDB SQL written directly from the spec (an independent
implementation of the intended semantics, never derived from the
parser's output) — and requires row-set agreement. A translator bug in
filter placement, hierarchy keying, grouping, wrapper ordering, or
calculated-member arithmetic cannot hide behind the fixed fixtures.

Seeded (not hypothesis): each example spins Spark jobs, so the suite
pins a deterministic battery instead of shrinking adversarially — the
repo convention for engine-involving fuzz (see test_fuzz_differential).
"""

from __future__ import annotations

import math
import random

import duckdb
import pandas as pd
import pytest

from datawarehousefinal_spark.operators.mdx import CubeDef, mdx_query

# -- fixed seeded star --------------------------------------------------------

_RNG = random.Random(20260816)
_ROWS = [
    (
        _RNG.choice([2023, 2024, 2025]),
        _RNG.choice([1, 2, 3, 4]),
        _RNG.choice(["A", "B", "C"]),
        _RNG.choice(["X", "Y"]),
        round(_RNG.uniform(1, 100), 1),
    )
    for _ in range(40)
]
_PDF = pd.DataFrame(_ROWS, columns=["anio", "mes", "pais", "seg", "medida"])

_MEASURES = {
    "Cantidad": ("count", "medida", "n"),
    "Total": ("sum", "medida", "sum_medida"),
    "Promedio": ("avg", "medida", "avg_medida"),
    "Minimo": ("min", "medida", "min_medida"),
    "Maximo": ("max", "medida", "max_medida"),
}
_SQL_AGG = {
    "Cantidad": "count(medida)",
    "Total": "sum(medida)",
    "Promedio": "avg(medida)",
    "Minimo": "min(medida)",
    "Maximo": "max(medida)",
}

# rows-axis shapes: (mdx set, group cols, extra where-clauses)
_SHAPES = [
    ("{[Fecha].[Anio].Members}", ["anio"], []),
    ("{[Fecha].[Mes].Members}", ["anio", "mes"], []),
    (
        "CROSSJOIN({[Fecha].[Anio].Members}, {[Persona].[Pais].Members})",
        ["anio", "pais"],
        [],
    ),
    (
        "CROSSJOIN({[Fecha].[Anio].Members}, "
        "{[Persona].[Pais].[A], [Persona].[Pais].[B]})",
        ["anio", "pais"],
        ["pais IN ('A', 'B')"],
    ),
    (
        "{[Fecha].[Anio].[2023]:[Fecha].[Anio].[2024]}",
        ["anio"],
        ["anio BETWEEN 2023 AND 2024"],
    ),
    ("{[Persona].[Pais].Members}", ["pais"], []),
    ("{[Fecha].[Mes].[2]}", ["anio", "mes"], ["mes = 2"]),
]


def _cube(spark):
    return CubeDef(
        name="Fuzz",
        star_builder=lambda: spark.createDataFrame(_PDF),
        levels={
            "Fecha.Anio": "anio",
            "Fecha.Mes": "mes",
            "Persona.Pais": "pais",
            "Cliente.Seg": "seg",
        },
        measures=dict(_MEASURES),
        hierarchies={"Fecha": ["Anio", "Mes"]},
        period_lengths={"Fecha.Mes": 12},
    )


def _gen_spec(seed: int) -> dict:
    rng = random.Random(seed)
    measures = rng.sample(sorted(_MEASURES), rng.randint(1, 3))
    calc = None
    if rng.random() < 0.5:
        a, b = rng.sample(sorted(_MEASURES), 2)
        op = rng.choice(["+", "-", "*"])
        calc = (a, op, b)
    shape = rng.choice(_SHAPES)
    slicer = rng.choice([None, "X", "Y"])
    wrapper = None
    if rng.random() < 0.5:
        kind = rng.choice([
            "topcount", "bottomcount", "head", "tail", "filter",
            "toppercent", "bottompercent", "topsum", "bottomsum",
            "filter_bool",
        ])
        if kind in ("topcount", "bottomcount"):
            wrapper = (kind, rng.randint(1, 4), rng.choice(measures))
        elif kind in ("head", "tail"):
            wrapper = (kind, rng.randint(1, 4))
        elif kind in ("toppercent", "bottompercent"):
            # rank by the COUNT measure: running sums stay exact
            # integers on both engines (a double-sum window could
            # round differently at an exact-threshold boundary)
            wrapper = (kind, rng.choice([30, 55, 80]), "Cantidad")
        elif kind in ("topsum", "bottomsum"):
            wrapper = (kind, rng.choice([5, 12, 25]), "Cantidad")
        elif kind == "filter_bool":
            m1, m2 = rng.sample(sorted(_MEASURES), 2)
            wrapper = (
                "filter_bool", m1, rng.choice([10, 40]),
                rng.choice(["AND", "OR"]), m2, rng.choice([5, 60]),
            )
        else:
            wrapper = ("filter", rng.choice(measures), rng.choice([10, 40, 60]))
    return {
        "measures": measures,
        "calc": calc,
        "shape": shape,
        "slicer": slicer,
        "wrapper": wrapper,
    }


def _render_mdx(spec: dict) -> str:
    cols = [f"[Measures].[{m}]" for m in spec["measures"]]
    with_clause = ""
    if spec["calc"]:
        a, op, b = spec["calc"]
        with_clause = (
            f"WITH MEMBER [Measures].[Extra] AS "
            f"'[Measures].[{a}] {op} [Measures].[{b}]' "
        )
        cols.append("[Measures].[Extra]")
    rows = spec["shape"][0]
    w = spec["wrapper"]
    if w:
        if w[0] in (
            "topcount", "bottomcount",
            "toppercent", "bottompercent", "topsum", "bottomsum",
        ):
            rows = f"{w[0].upper()}({rows}, {w[1]}, [Measures].[{w[2]}])"
        elif w[0] in ("head", "tail"):
            rows = f"{w[0].upper()}({rows}, {w[1]})"
        elif w[0] == "filter_bool":
            _t, m1, v1, op, m2, v2 = w
            rows = (
                f"FILTER({rows}, [Measures].[{m1}] > {v1} {op} "
                f"[Measures].[{m2}] < {v2})"
            )
        else:
            rows = f"FILTER({rows}, [Measures].[{w[1]}] > {w[2]})"
    q = (
        f"{with_clause}SELECT {{{', '.join(cols)}}} ON COLUMNS, "
        f"{rows} ON ROWS FROM [Fuzz]"
    )
    if spec["slicer"]:
        q += f" WHERE ([Cliente].[Seg].[{spec['slicer']}])"
    return q


def _render_sql(spec: dict) -> str:
    """The INDEPENDENT rendering: intended semantics straight from the
    spec. Dices and slicers filter BEFORE aggregation; wrappers act on
    the aggregated cells; hierarchy levels group by their chain."""
    _set, gcols, dices = spec["shape"]
    where = list(dices)
    if spec["slicer"]:
        where.append(f"seg = '{spec['slicer']}'")
    sel = list(gcols)
    for m in spec["measures"]:
        sel.append(f"{_SQL_AGG[m]} AS {_MEASURES[m][2]}")
    if spec["calc"]:
        a, op, b = spec["calc"]
        sel.append(f"({_SQL_AGG[a]}) {op} ({_SQL_AGG[b]}) AS extra")
    w = spec["wrapper"]
    if w and w[0] in ("toppercent", "bottompercent", "topsum", "bottomsum"):
        # independent rendering of the cut: nested window query — the
        # wrapper measure aggregates alongside (it need not be on the
        # COLUMNS axis), the outer SELECT projects only the axis
        inner = list(sel) + [f"{_SQL_AGG[w[2]]} AS wm"]
        base = f"SELECT {', '.join(inner)} FROM star"
        if where:
            base += " WHERE " + " AND ".join(where)
        base += f" GROUP BY {', '.join(gcols)}"
        d = "DESC" if w[0].startswith("top") else "ASC"
        keys = ", ".join(gcols)
        out = list(gcols) + [_MEASURES[m][2] for m in spec["measures"]]
        if spec["calc"]:
            out.append("extra")
        thresh = (
            f"{w[1] / 100.0} * tot"
            if w[0].endswith("percent")
            else str(w[1])
        )
        return (
            f"WITH agg AS ({base}), cut AS ("
            f"SELECT *, coalesce(sum(wm) OVER (ORDER BY wm {d}, {keys} "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
            f"AS prev, sum(wm) OVER () AS tot FROM agg) "
            f"SELECT {', '.join(out)} FROM cut WHERE prev < {thresh}"
        )
    sql = f"SELECT {', '.join(sel)} FROM star"
    if where:
        sql += " WHERE " + " AND ".join(where)
    sql += f" GROUP BY {', '.join(gcols)}"
    if w:
        if w[0] == "filter":
            sql += f" HAVING {_SQL_AGG[w[1]]} > {w[2]}"
        elif w[0] == "filter_bool":
            _t, m1, v1, op, m2, v2 = w
            sql += (
                f" HAVING {_SQL_AGG[m1]} > {v1} {op} "
                f"{_SQL_AGG[m2]} < {v2}"
            )
        elif w[0] in ("topcount", "bottomcount"):
            d = "DESC" if w[0] == "topcount" else "ASC"
            keys = ", ".join(gcols)
            sql += f" ORDER BY {_SQL_AGG[w[2]]} {d}, {keys} LIMIT {w[1]}"
        else:
            d = "ASC" if w[0] == "head" else "DESC"
            keys = ", ".join(f"{c} {d}" for c in gcols)
            sql += f" ORDER BY {keys} LIMIT {w[1]}"
    return sql


def _norm(rows) -> list:
    out = []
    for r in rows:
        t = []
        for v in r:
            if isinstance(v, float):
                t.append(round(v, 6) if math.isfinite(v) else repr(v))
            else:
                t.append(v)
        out.append(tuple(t))
    return sorted(out, key=repr)


@pytest.mark.parametrize("seed", range(100, 140))
def test_mdx_translator_agrees_with_independent_sql(spark, seed):
    spec = _gen_spec(seed)
    mdx = _render_mdx(spec)
    sql = _render_sql(spec)

    got_df = mdx_query(_cube(spark), mdx)
    got = _norm([tuple(r) for r in got_df.collect()])

    con = duckdb.connect()
    try:
        con.register("star", _PDF)
        want = _norm(con.execute(sql).fetchall())
    finally:
        con.close()

    assert got == want, (
        f"seed {seed}\nMDX: {mdx}\nSQL: {sql}\ngot {got}\nwant {want}"
    )


# -- time-intelligence battery -----------------------------------------------
# The pp/ptd/lp attach paths (aggregate self-joins, windows, and the
# diced-cube-context recompute) are the newest machinery; this battery
# fuzzes them against independently-written SQL self-joins/windows.

_TI_KINDS = ["yoy", "mom", "ytd", "roll", "open", "close", "rank"]


def _gen_ti_spec(seed: int) -> dict:
    rng = random.Random(seed)
    kind = rng.choice(_TI_KINDS)
    return {
        "kind": kind,
        # rank ranks by the COUNT measure only: a double-sum tie that
        # differs in the last ulp between engines would swap ranks
        "measure": "Cantidad" if kind == "rank" else rng.choice(
            ["Total", "Cantidad"]
        ),
        "slicer": rng.choice([None, "X", "Y"]),
        # None = {Mes.Members}; int = dice {[Fecha].[Mes].[k]} — the
        # cube-context shape (the shifted/windowed value must still be
        # computed over the undiced aggregation)
        "dice_mes": rng.choice([None, None, 1, 2, 3]),
        "n": rng.randint(2, 3),  # lag / window width where applicable
    }


def _render_ti_mdx(spec: dict) -> str:
    m = spec["measure"]
    k = spec["kind"]
    n = spec["n"]
    if k == "yoy":
        body = (
            f"'[Measures].[{m}] - ([Measures].[{m}], "
            f"PARALLELPERIOD([Fecha].[Anio], 1))'"
        )
    elif k == "mom":
        body = (
            f"'[Measures].[{m}] - ([Measures].[{m}], "
            f"PARALLELPERIOD([Fecha].[Mes], {n}))'"
        )
    elif k == "ytd":
        body = f"'SUM(PERIODSTODATE([Fecha].[Anio]), [Measures].[{m}])'"
    elif k == "roll":
        body = (
            f"'AVG(LASTPERIODS({n}, [Fecha].[Mes].CurrentMember), "
            f"[Measures].[{m}])'"
        )
    elif k == "rank":
        body = (
            f"'RANK([Fecha].[Mes].CurrentMember, "
            f"[Fecha].[Mes].Members, [Measures].[{m}])'"
        )
    else:
        fn = "OPENINGPERIOD" if k == "open" else "CLOSINGPERIOD"
        body = (
            f"'[Measures].[{m}] - "
            f"([Measures].[{m}], {fn}([Fecha].[Mes]))'"
        )
    rows = (
        "{[Fecha].[Mes].Members}"
        if spec["dice_mes"] is None
        else f"{{[Fecha].[Mes].[{spec['dice_mes']}]}}"
    )
    q = (
        f"WITH MEMBER [Measures].[Ti] AS {body} "
        f"SELECT {{[Measures].[{m}], [Measures].[Ti]}} ON COLUMNS, "
        f"{rows} ON ROWS FROM [Fuzz]"
    )
    if spec["slicer"]:
        q += f" WHERE ([Cliente].[Seg].[{spec['slicer']}])"
    return q


def _render_ti_sql(spec: dict) -> str:
    m = spec["measure"]
    agg = _SQL_AGG[m]
    alias = _MEASURES[m][2]
    k = spec["kind"]
    n = spec["n"]
    where = f"WHERE seg = '{spec['slicer']}'" if spec["slicer"] else ""
    per = (
        f"SELECT anio, mes, {agg} AS {alias} FROM star {where} "
        "GROUP BY anio, mes"
    )
    if k == "yoy":
        core = (
            f"SELECT a.anio, a.mes, a.{alias}, "
            f"a.{alias} - b.{alias} AS ti FROM per a "
            f"LEFT JOIN per b ON b.anio = a.anio - 1 AND b.mes = a.mes"
        )
    elif k == "mom":
        core = (
            f"SELECT a.anio, a.mes, a.{alias}, "
            f"a.{alias} - b.{alias} AS ti FROM per a LEFT JOIN per b "
            f"ON b.anio * 12 + (b.mes - 1) = a.anio * 12 + (a.mes - 1) - {n}"
        )
    elif k == "ytd":
        core = (
            f"SELECT anio, mes, {alias}, sum({alias}) OVER ("
            f"PARTITION BY anio ORDER BY mes) AS ti FROM per"
        )
    elif k == "roll":
        core = (
            f"SELECT anio, mes, {alias}, avg({alias}) OVER ("
            f"ORDER BY anio * 12 + (mes - 1) "
            f"RANGE BETWEEN {n - 1} PRECEDING AND CURRENT ROW) AS ti "
            f"FROM per"
        )
    elif k == "rank":
        core = (
            f"SELECT anio, mes, {alias}, rank() OVER ("
            f"ORDER BY {alias} DESC) AS ti FROM per"
        )
    else:
        d = "ASC" if k == "open" else "DESC"
        core = (
            f"SELECT anio, mes, {alias}, {alias} - first_value({alias}) "
            f"OVER (PARTITION BY anio ORDER BY mes {d}) AS ti FROM per"
        )
    sql = f"WITH per AS ({per}) {core}"
    if spec["dice_mes"] is not None:
        # the dice applies to the AXIS, never to the time-intel input —
        # filter OUTSIDE the join/window (the cube-context semantics)
        sql = f"SELECT * FROM ({sql}) WHERE mes = {spec['dice_mes']}"
    return sql


@pytest.mark.parametrize("seed", range(500, 530))
def test_mdx_time_intelligence_agrees_with_independent_sql(spark, seed):
    spec = _gen_ti_spec(seed)
    mdx = _render_ti_mdx(spec)
    sql = _render_ti_sql(spec)

    got = _norm([tuple(r) for r in mdx_query(_cube(spark), mdx).collect()])
    con = duckdb.connect()
    try:
        con.register("star", _PDF)
        want = _norm(con.execute(sql).fetchall())
    finally:
        con.close()

    assert got == want, (
        f"seed {seed} spec {spec}\nMDX: {mdx}\nSQL: {sql}\n"
        f"got {got}\nwant {want}"
    )


# -- every time-intelligence family in one query -----------------------------
# YoY, YTD, a 2-month rolling sum, a closing-period value and a rank ride
# one SELECT: the families attach one after another onto the same
# aggregate, and the diced ones share the cube-context re-aggregations.

_MULTI_TI_MEMBERS = (
    "WITH MEMBER [Measures].[Yoy] AS '[Measures].[Total] - "
    "([Measures].[Total], PARALLELPERIOD([Fecha].[Anio], 1))' "
    "MEMBER [Measures].[Ytd] AS "
    "'SUM(PERIODSTODATE([Fecha].[Anio]), [Measures].[Total])' "
    "MEMBER [Measures].[Roll] AS "
    "'SUM(LASTPERIODS(2, [Fecha].[Mes].CurrentMember), "
    "[Measures].[Cantidad])' "
    "MEMBER [Measures].[Cierre] AS "
    "'([Measures].[Total], CLOSINGPERIOD([Fecha].[Mes]))' "
    "MEMBER [Measures].[Puesto] AS 'RANK([Fecha].[Mes].CurrentMember, "
    "[Fecha].[Mes].Members, [Measures].[Cantidad])' "
)


def _render_multi_ti_mdx(dice_mes, slicer) -> str:
    rows = (
        "{[Fecha].[Mes].Members}"
        if dice_mes is None
        else f"{{[Fecha].[Mes].[{dice_mes}]}}"
    )
    q = (
        f"{_MULTI_TI_MEMBERS}SELECT {{[Measures].[Total], "
        "[Measures].[Cantidad], [Measures].[Yoy], [Measures].[Ytd], "
        "[Measures].[Roll], [Measures].[Cierre], [Measures].[Puesto]} "
        f"ON COLUMNS, {rows} ON ROWS FROM [Fuzz]"
    )
    if slicer:
        q += f" WHERE ([Cliente].[Seg].[{slicer}])"
    return q


def _render_multi_ti_sql(dice_mes, slicer) -> str:
    where = f"WHERE seg = '{slicer}'" if slicer else ""
    sql = (
        "WITH per AS (SELECT anio, mes, sum(medida) AS sum_medida, "
        f"count(medida) AS n FROM star {where} GROUP BY anio, mes) "
        "SELECT a.anio, a.mes, a.sum_medida, a.n, "
        "a.sum_medida - b.sum_medida AS yoy, "
        "sum(a.sum_medida) OVER (PARTITION BY a.anio ORDER BY a.mes) "
        "AS ytd, "
        "sum(a.n) OVER (ORDER BY a.anio * 12 + (a.mes - 1) "
        "RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS roll, "
        "first_value(a.sum_medida) OVER (PARTITION BY a.anio "
        "ORDER BY a.mes DESC) AS cierre, "
        "rank() OVER (ORDER BY a.n DESC) AS puesto "
        "FROM per a LEFT JOIN per b ON b.anio = a.anio - 1 "
        "AND b.mes = a.mes"
    )
    if dice_mes is not None:
        # every family reads the cube: the dice filters the result only
        sql = f"SELECT * FROM ({sql}) WHERE mes = {dice_mes}"
    return sql


_MULTI_TI_CASES = [
    (dice, slicer) for dice in (None, 2, 3) for slicer in (None, "X")
]


@pytest.mark.parametrize("dice_mes,slicer", _MULTI_TI_CASES)
def test_mdx_all_time_intelligence_families_in_one_query(
    spark, dice_mes, slicer
):
    mdx = _render_multi_ti_mdx(dice_mes, slicer)
    sql = _render_multi_ti_sql(dice_mes, slicer)
    got = _norm([tuple(r) for r in mdx_query(_cube(spark), mdx).collect()])
    con = duckdb.connect()
    try:
        con.register("star", _PDF)
        want = _norm(con.execute(sql).fetchall())
    finally:
        con.close()
    assert got, f"empty result\nMDX: {mdx}"
    assert got == want, (
        f"MDX: {mdx}\nSQL: {sql}\ngot {got}\nwant {want}"
    )


# -- custom-group battery ------------------------------------------------------
# WITH MEMBER [Dim].[Level].[Name] AS 'AGGREGATE({...})' — the remap
# must agree with an independently-written CASE ... GROUP BY, under
# random group compositions, bare-member mixes, slicers and wrappers.


def _gen_cg_spec(seed: int) -> dict:
    rng = random.Random(seed)
    countries = ["A", "B", "C"]
    group = rng.sample(countries, rng.randint(1, 2))
    bare = [c for c in countries if c not in group]
    if rng.random() < 0.5 and len(bare) > 1:
        bare = rng.sample(bare, 1)
    return {
        "group": sorted(group),
        "bare": sorted(bare),
        "measures": rng.sample(["Cantidad", "Total", "Promedio"], 2),
        "slicer": rng.choice([None, "X", "Y"]),
        "top": rng.choice([None, 1, 2]),
    }


def _render_cg_mdx(spec: dict) -> str:
    members = ", ".join(
        f"[Persona].[Pais].[{v}]" for v in spec["group"]
    )
    rows_items = ["[Persona].[Pais].[Grupo]"] + [
        f"[Persona].[Pais].[{v}]" for v in spec["bare"]
    ]
    rows = "{" + ", ".join(rows_items) + "}"
    if spec["top"]:
        rows = f"TOPCOUNT({rows}, {spec['top']}, [Measures].[Cantidad])"
    cols = ", ".join(f"[Measures].[{m}]" for m in spec["measures"])
    q = (
        f"WITH MEMBER [Persona].[Pais].[Grupo] AS "
        f"'AGGREGATE({{{members}}})' "
        f"SELECT {{{cols}}} ON COLUMNS, {rows} ON ROWS FROM [Fuzz]"
    )
    if spec["slicer"]:
        q += f" WHERE ([Cliente].[Seg].[{spec['slicer']}])"
    return q


def _render_cg_sql(spec: dict) -> str:
    gvals = ", ".join(f"'{v}'" for v in spec["group"])
    allvals = ", ".join(
        f"'{v}'" for v in spec["group"] + spec["bare"]
    )
    remap = (
        f"CASE WHEN pais IN ({gvals}) THEN 'Grupo' ELSE pais END"
    )
    sel = [f"{remap} AS pais"] + [
        f"{_SQL_AGG[m]} AS {_MEASURES[m][2]}" for m in spec["measures"]
    ]
    where = [f"pais IN ({allvals})"]
    if spec["slicer"]:
        where.append(f"seg = '{spec['slicer']}'")
    sql = (
        f"SELECT {', '.join(sel)} FROM star "
        f"WHERE {' AND '.join(where)} GROUP BY 1"
    )
    if spec["top"]:
        sql += (
            f" ORDER BY count(medida) DESC, 1 LIMIT {spec['top']}"
        )
    return sql


@pytest.mark.parametrize("seed", range(700, 715))
def test_mdx_custom_groups_agree_with_independent_sql(spark, seed):
    spec = _gen_cg_spec(seed)
    mdx = _render_cg_mdx(spec)
    sql = _render_cg_sql(spec)
    got = _norm([tuple(r) for r in mdx_query(_cube(spark), mdx).collect()])
    con = duckdb.connect()
    try:
        con.register("star", _PDF)
        want = _norm(con.execute(sql).fetchall())
    finally:
        con.close()
    assert got == want, (
        f"seed {seed} spec {spec}\nMDX: {mdx}\nSQL: {sql}\n"
        f"got {got}\nwant {want}"
    )


# -- compound-slicer battery ---------------------------------------------------
# WHERE {(tuple), (tuple)} — the OR-of-ANDs must agree with the
# independently-written SQL disjunction for random tuple sets.


def _gen_cs_spec(seed: int) -> dict:
    rng = random.Random(seed)
    n_tuples = rng.randint(1, 3)
    tuples = []
    seen = set()
    while len(tuples) < n_tuples:
        t = (rng.choice([2023, 2024, 2025]), rng.choice(["X", "Y"]))
        if t not in seen:
            seen.add(t)
            tuples.append(t)
    return {
        "tuples": tuples,
        "measures": rng.sample(["Cantidad", "Total", "Minimo"], 2),
        "shape": rng.choice(
            [
                ("{[Persona].[Pais].Members}", ["pais"]),
                ("{[Fecha].[Mes].Members}", ["anio", "mes"]),
            ]
        ),
    }


def _render_cs_mdx(spec: dict) -> str:
    cols = ", ".join(f"[Measures].[{m}]" for m in spec["measures"])
    tuples = ", ".join(
        f"([Fecha].[Anio].[{a}], [Cliente].[Seg].[{s}])"
        for a, s in spec["tuples"]
    )
    return (
        f"SELECT {{{cols}}} ON COLUMNS, {spec['shape'][0]} ON ROWS "
        f"FROM [Fuzz] WHERE {{{tuples}}}"
    )


def _render_cs_sql(spec: dict) -> str:
    gcols = spec["shape"][1]
    sel = list(gcols) + [
        f"{_SQL_AGG[m]} AS {_MEASURES[m][2]}" for m in spec["measures"]
    ]
    legs = " OR ".join(
        f"(anio = {a} AND seg = '{s}')" for a, s in spec["tuples"]
    )
    return (
        f"SELECT {', '.join(sel)} FROM star WHERE {legs} "
        f"GROUP BY {', '.join(gcols)}"
    )


@pytest.mark.parametrize("seed", range(800, 815))
def test_mdx_compound_slicers_agree_with_independent_sql(spark, seed):
    spec = _gen_cs_spec(seed)
    mdx = _render_cs_mdx(spec)
    sql = _render_cs_sql(spec)
    got = _norm([tuple(r) for r in mdx_query(_cube(spark), mdx).collect()])
    con = duckdb.connect()
    try:
        con.register("star", _PDF)
        want = _norm(con.execute(sql).fetchall())
    finally:
        con.close()
    assert got == want, (
        f"seed {seed} spec {spec}\nMDX: {mdx}\nSQL: {sql}\n"
        f"got {got}\nwant {want}"
    )
