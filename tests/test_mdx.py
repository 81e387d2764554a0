"""MDX front-door tests: parser subset, error loudness, and semantic
equivalence of the translated plan against hand-written aggregations."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.mdx import (
    CubeDef,
    MdxError,
    mdx_query,
    parse_mdx,
)


def _toy_cube(spark):
    def star_builder():
        return spark.createDataFrame(
            [
                (2024, 1, "AR", "A", 10.0),
                (2024, 1, "BR", "A", 30.0),
                (2024, 2, "AR", "B", 20.0),
                (2025, 1, "AR", "A", 40.0),
                (2025, 2, "CL", "B", 50.0),
            ],
            "anio int, mes int, pais string, seg string, medida double",
        )

    return CubeDef(
        name="Toy",
        star_builder=star_builder,
        levels={
            "Fecha.Anio": "anio",
            "Fecha.Mes": "mes",
            "Persona.Pais": "pais",
            "Cliente.Seg": "seg",
        },
        measures={
            "Cantidad": ("count", "medida", "n"),
            "Promedio": ("avg", "medida", "avg_medida"),
            "Total": ("sum", "medida", "sum_medida"),
        },
    )


def test_parse_members_crossjoin_slicer(spark):
    cube = _toy_cube(spark)
    sel = parse_mdx(
        """
        SELECT {[Measures].[Cantidad], [Measures].[Total]} ON COLUMNS,
               NON EMPTY CROSSJOIN({[Fecha].[Anio].Members},
                                   {[Persona].[Pais].[AR],
                                    [Persona].[Pais].[BR]}) ON ROWS
        FROM [Toy]
        WHERE ([Cliente].[Seg].[A])
        """,
        cube,
    )
    assert sel.columns == ["Cantidad", "Total"]
    assert sel.group_cols == ["anio", "pais"]
    assert sel.member_filters == {"pais": ["AR", "BR"]}
    assert sel.slicer_filters == {"seg": ["A"]}
    assert sel.grouping_sets == [["anio", "pais"]]


def test_mdx_query_matches_hand_written(spark):
    cube = _toy_cube(spark)
    got = mdx_query(
        cube,
        """
        SELECT {[Measures].[Cantidad], [Measures].[Promedio]} ON COLUMNS,
               {[Fecha].[Anio].Members} ON ROWS
        FROM [Toy]
        """,
    )
    expect = (
        cube.star_builder()
        .groupBy("anio")
        .agg(
            F.count("medida").alias("n"),
            F.avg("medida").alias("avg_medida"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_mdx_member_dice_and_slicer_semantics(spark):
    cube = _toy_cube(spark)
    rows = mdx_query(
        cube,
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               CROSSJOIN({[Fecha].[Anio].Members},
                         {[Persona].[Pais].[AR]}) ON ROWS
        FROM [Toy] WHERE ([Cliente].[Seg].[A])
        """,
    ).collect()
    # AR+A rows: (2024, 10.0) and (2025, 40.0)
    assert sorted((r["anio"], r["pais"], r["sum_medida"]) for r in rows) == [
        (2024, "AR", 10.0),
        (2025, "AR", 40.0),
    ]


def test_mdx_multi_level_same_set(spark):
    cube = _toy_cube(spark)
    rows = mdx_query(
        cube,
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               CROSSJOIN({[Fecha].[Anio].Members},
                         {[Fecha].[Mes].Members}) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {(r["anio"], r["mes"]) for r in rows} == {
        (2024, 1), (2024, 2), (2025, 1), (2025, 2),
    }


@pytest.mark.parametrize(
    "bad",
    [
        "SELECT {[Measures].[Nope]} ON COLUMNS, {[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, {[Fecha].[Quarter].Members} ON ROWS FROM [Toy]",
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, {[Fecha].[Anio].Members} ON ROWS FROM [OtherCube]",
        "SELECT {[Fecha].[Anio].Members} ON COLUMNS, {[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, {[Fecha].[Anio].Members} ON ROWS FROM [Toy] WHERE ([Cliente].[Seg].Members)",
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, {[Fecha].[Anio].Members} ON ROWS FROM [Toy] trailing",
    ],
)
def test_mdx_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        parse_mdx(bad, _toy_cube(spark))


def test_mdx_face_registered():
    import __spark_entry__ as m

    qs, os_ = m.queries(), m.oracle_sql()
    assert "mdx_cube_query" in qs and "mdx_cube_query" in os_


def test_mdx_all_member_expands_to_grouping_sets(spark):
    cube = _toy_cube(spark)
    rows = mdx_query(
        cube,
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Fecha].[(All)], [Fecha].[Anio].Members} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {(r["anio"], r["sum_medida"]) for r in rows}
    # per-year cells plus the hasAll grand total (NULL year)
    assert got == {(2024, 60.0), (2025, 90.0), (None, 150.0)}


def test_mdx_crossjoined_all_lattice(spark):
    cube = _toy_cube(spark)
    rows = mdx_query(
        cube,
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               CROSSJOIN({[Fecha].[(All)], [Fecha].[Anio].Members},
                         {[Persona].[Pais].[(All)],
                          [Persona].[Pais].Members}) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    cells = {(r["anio"], r["pais"]): r["n"] for r in rows}
    # full 2x2 grouping-set lattice: (anio,pais), (anio), (pais), ()
    assert cells[(None, None)] == 5          # grand total
    assert cells[(2024, None)] == 3          # year subtotal
    assert cells[(None, "AR")] == 3          # country subtotal
    assert cells[(2024, "AR")] == 2          # leaf cell


def test_mdx_all_only_set_is_grand_total(spark):
    cube = _toy_cube(spark)
    rows = mdx_query(
        cube,
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               {[Fecha].[(All)]} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert len(rows) == 1 and rows[0]["n"] == 5


def test_mdx_all_respects_slicer_visual_totals(spark):
    cube = _toy_cube(spark)
    rows = mdx_query(
        cube,
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Fecha].[(All)], [Fecha].[Anio].Members} ON ROWS
        FROM [Toy] WHERE ([Cliente].[Seg].[A])
        """,
    ).collect()
    got = {(r["anio"], r["sum_medida"]) for r in rows}
    # seg=A rows: (2024, 10+30), (2025, 40); All totals the slice
    assert got == {(2024, 40.0), (2025, 40.0), (None, 80.0)}


def test_mdx_members_absorbs_explicit_member_of_same_level(spark):
    # a set is a UNION: .Members + an explicit member of the same level
    # must NOT collapse to a dice on the explicit member
    cube = _toy_cube(spark)
    rows = mdx_query(
        cube,
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               {[Fecha].[Anio].Members, [Fecha].[Anio].[2024]} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {r["anio"] for r in rows} == {2024, 2025}


def test_mdx_duplicate_level_across_sets_is_loud(spark):
    with pytest.raises(MdxError):
        parse_mdx(
            """
            SELECT {[Measures].[Cantidad]} ON COLUMNS,
                   CROSSJOIN({[Fecha].[(All)], [Fecha].[Anio].Members},
                             {[Fecha].[Anio].[2024]}) ON ROWS
            FROM [Toy]
            """,
            _toy_cube(spark),
        )


def test_mdx_unknown_dimension_all_is_loud(spark):
    with pytest.raises(MdxError):
        parse_mdx(
            """
            SELECT {[Measures].[Cantidad]} ON COLUMNS,
                   {[Tyop].[(All)], [Fecha].[Anio].Members} ON ROWS
            FROM [Toy]
            """,
            _toy_cube(spark),
        )


def _hier_cube(spark):
    """The toy cube with a declared 3-level Fecha hierarchy (Anio >
    Mes > Dia) — the reference's Mondrian time-dimension shape."""
    def star_builder():
        return spark.createDataFrame(
            [
                (2024, 1, 5, "AR", 10.0),
                (2024, 1, 6, "BR", 30.0),
                (2024, 2, 5, "AR", 20.0),
                (2025, 1, 5, "AR", 40.0),
                (2025, 2, 7, "CL", 50.0),
            ],
            "anio int, mes int, dia int, pais string, medida double",
        )

    return CubeDef(
        name="Toy",
        star_builder=star_builder,
        levels={
            "Fecha.Anio": "anio",
            "Fecha.Mes": "mes",
            "Fecha.Dia": "dia",
            "Persona.Pais": "pais",
        },
        measures={
            "Cantidad": ("count", "medida", "n"),
            "Total": ("sum", "medida", "sum_medida"),
        },
        hierarchies={"Fecha": ["Anio", "Mes", "Dia"]},
    )


def test_mdx_hierarchy_month_members_keyed_by_year(spark):
    # [Fecha].[Mes].Members must yield (anio, mes) cells — January 2024
    # and January 2025 are DIFFERENT members
    rows = mdx_query(
        _hier_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               {[Fecha].[Mes].Members} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {(r["anio"], r["mes"]): r["n"] for r in rows}
    assert got == {
        (2024, 1): 2, (2024, 2): 1, (2025, 1): 1, (2025, 2): 1,
    }


def test_mdx_hierarchy_day_members_full_chain(spark):
    rows = mdx_query(
        _hier_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Fecha].[Dia].Members} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert set(rows[0].asDict()) == {"anio", "mes", "dia", "sum_medida"}
    got = {(r["anio"], r["mes"], r["dia"]): r["sum_medida"] for r in rows}
    assert got[(2024, 1, 5)] == 10.0 and got[(2025, 2, 7)] == 50.0
    assert len(got) == 5


def test_mdx_hierarchy_member_dice_filters_leaf_only(spark):
    # dicing {[Fecha].[Mes].[1]} filters mes=1 but still groups by the
    # chain — one cell per (year, January)
    rows = mdx_query(
        _hier_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Fecha].[Mes].[1]} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {(r["anio"], r["mes"]): r["sum_medida"] for r in rows}
    assert got == {(2024, 1): 40.0, (2025, 1): 40.0}


def test_mdx_hierarchy_all_plus_child_level_lattice(spark):
    # {(All), Mes.Members}: leaf cells at (anio, mes) plus the single
    # All cell — no intermediate (anio) subtotal (the set names only
    # those two member collections)
    rows = mdx_query(
        _hier_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               {[Fecha].[(All)], [Fecha].[Mes].Members} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    cells = {(r["anio"], r["mes"]): r["n"] for r in rows}
    assert cells[(None, None)] == 5
    assert cells[(2024, 1)] == 2
    assert len(cells) == 5  # 4 leaf cells + All


def test_mdx_hierarchy_chain_overlap_is_loud(spark):
    # Anio.Members x Mes.Members: Mes's chain includes anio — the same
    # hierarchy on two axis sets, a Mondrian error (and silently wrong
    # under naive single-column keys)
    with pytest.raises(MdxError):
        parse_mdx(
            """
            SELECT {[Measures].[Cantidad]} ON COLUMNS,
                   CROSSJOIN({[Fecha].[Anio].Members},
                             {[Fecha].[Mes].Members}) ON ROWS
            FROM [Toy]
            """,
            _hier_cube(spark),
        )


def test_mdx_hierarchy_undeclared_level_is_loud(spark):
    cube = _hier_cube(spark)
    cube.levels["Fecha.Quarter"] = "mes"  # level exists, not in chain
    with pytest.raises(MdxError):
        parse_mdx(
            """
            SELECT {[Measures].[Cantidad]} ON COLUMNS,
                   {[Fecha].[Quarter].Members} ON ROWS
            FROM [Toy]
            """,
            cube,
        )


def test_mdx_empty_input_emits_no_all_cell(spark):
    # the documented NON EMPTY decision: a slicer that empties the
    # star emits ZERO rows — including the hasAll grand-total cell
    # (Spark's Expand + HashAggregate has no input groups), so
    # NON EMPTY is a true no-op on every reachable plan
    cube = _hier_cube(spark)
    rows = mdx_query(
        cube,
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               {[Fecha].[(All)], [Fecha].[Anio].Members} ON ROWS
        FROM [Toy] WHERE ([Persona].[Pais].[XX])
        """,
    ).collect()
    assert rows == []


def test_mdx_non_hierarchy_dims_keep_single_column_keys(spark):
    # Persona declares no hierarchy: Pais members stay single-column
    rows = mdx_query(
        _hier_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               {[Persona].[Pais].Members} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert set(rows[0].asDict()) == {"pais", "n"}
    assert {r["pais"] for r in rows} == {"AR", "BR", "CL"}


def test_mdx_drilldown_faces_registered():
    import __spark_entry__ as m

    qs, os_ = m.queries(), m.oracle_sql()
    for face in ("mdx_month_drilldown", "mdx_day_drilldown"):
        assert face in qs and face in os_


def test_mdx_duplicate_measure_is_loud(spark):
    with pytest.raises(MdxError):
        parse_mdx(
            """
            SELECT {[Measures].[Cantidad], [Measures].[Cantidad]}
                   ON COLUMNS,
                   {[Fecha].[Anio].Members} ON ROWS
            FROM [Toy]
            """,
            _toy_cube(spark),
        )


# -- round-11 extensions: WITH MEMBER, TopCount, Filter, Children ------------


def test_mdx_calculated_member_quoted_and_bare(spark):
    cube = _toy_cube(spark)
    for body in (
        "'[Measures].[Total] / [Measures].[Cantidad]'",
        "[Measures].[Total] / [Measures].[Cantidad]",
    ):
        rows = mdx_query(
            cube,
            f"""
            WITH MEMBER [Measures].[Ticket Medio] AS {body}
            SELECT {{[Measures].[Cantidad], [Measures].[Ticket Medio]}}
                   ON COLUMNS,
                   {{[Fecha].[Anio].Members}} ON ROWS
            FROM [Toy]
            """,
        ).collect()
        got = {r["anio"]: (r["n"], r["ticket_medio"]) for r in rows}
        assert got == {2024: (3, 20.0), 2025: (2, 45.0)}


def test_mdx_calculated_member_arithmetic_and_chaining(spark):
    # a calc member referencing an earlier calc member, with literals,
    # parens and unary minus
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[Doble] AS [Measures].[Total] * 2
             MEMBER [Measures].[Ajuste] AS ([Measures].[Doble] + 10) - -5
        SELECT {[Measures].[Ajuste]} ON COLUMNS,
               {[Fecha].[Anio].Members} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {r["anio"]: r["ajuste"] for r in rows}
    assert got == {2024: 60.0 * 2 + 15, 2025: 90.0 * 2 + 15}


@pytest.mark.parametrize(
    "bad",
    [
        # collides with a base measure
        "WITH MEMBER [Measures].[Cantidad] AS 1 "
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        # references an unknown measure
        "WITH MEMBER [Measures].[X] AS [Measures].[Nope] "
        "SELECT {[Measures].[X]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        # forward reference (definition-order scoping)
        "WITH MEMBER [Measures].[A] AS [Measures].[B] "
        "MEMBER [Measures].[B] AS 1 "
        "SELECT {[Measures].[A]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        # WITH without MEMBER
        "WITH SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        # calc member never aggregates anything
        "WITH MEMBER [Measures].[K] AS 1 "
        "SELECT {[Measures].[K]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
    ],
)
def test_mdx_calculated_member_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_toy_cube(spark), bad)


def test_mdx_topcount_with_deterministic_ties(spark):
    # pais totals: AR=70, BR=30, CL=50 → top2 = AR, CL
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               TOPCOUNT({[Persona].[Pais].Members}, 2,
                        [Measures].[Total]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {(r["pais"], r["sum_medida"]) for r in rows} == {
        ("AR", 70.0), ("CL", 50.0),
    }
    # tie at the cut: counts AR=3, BR=1, CL=1 → top2 keeps BR (asc name)
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               TOPCOUNT({[Persona].[Pais].Members}, 2,
                        [Measures].[Cantidad]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {r["pais"] for r in rows} == {"AR", "BR"}


def test_mdx_topcount_measure_not_on_columns(spark):
    # ranking measure needs aggregating even when not projected
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               TOPCOUNT({[Persona].[Pais].Members}, 1,
                        [Measures].[Total]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["pais"], r["n"]) for r in rows] == [("AR", 3)]
    assert rows[0].asDict().keys() == {"pais", "n"}


def test_mdx_filter_is_post_aggregation_having(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               FILTER({[Persona].[Pais].Members},
                      [Measures].[Total] >= 50) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {(r["pais"], r["sum_medida"]) for r in rows} == {
        ("AR", 70.0), ("CL", 50.0),
    }


def test_mdx_filter_on_calculated_expression(spark):
    # ratio condition: avg-per-row = Total/Cantidad > 25
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               FILTER({[Persona].[Pais].Members},
                      [Measures].[Total] / [Measures].[Cantidad] > 25)
                   ON ROWS
        FROM [Toy]
        """,
    ).collect()
    # per-pais avgs: AR=23.33, BR=30, CL=50
    assert {r["pais"] for r in rows} == {"BR", "CL"}


def test_mdx_topcount_of_filter_nests_innermost_first(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               TOPCOUNT(FILTER({[Persona].[Pais].Members},
                               [Measures].[Total] < 60),
                        1, [Measures].[Total]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    # filter drops AR(70); top-1 of {BR:30, CL:50} = CL
    assert [(r["pais"], r["sum_medida"]) for r in rows] == [("CL", 50.0)]


@pytest.mark.parametrize(
    "bad",
    [
        # wrapper inside a crossjoin branch
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "CROSSJOIN(TOPCOUNT({[Persona].[Pais].Members}, 2, "
        "[Measures].[Cantidad]), {[Fecha].[Anio].Members}) ON ROWS "
        "FROM [Toy]",
        # wrapper over an All-lattice mixes grains
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "TOPCOUNT({[Persona].[(All)], [Persona].[Pais].Members}, 2, "
        "[Measures].[Cantidad]) ON ROWS FROM [Toy]",
        # non-integer count
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "TOPCOUNT({[Persona].[Pais].Members}, 2.5, "
        "[Measures].[Cantidad]) ON ROWS FROM [Toy]",
        # unknown ranking measure
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "TOPCOUNT({[Persona].[Pais].Members}, 2, [Measures].[Nope]) "
        "ON ROWS FROM [Toy]",
        # bad comparison operator arity
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "FILTER({[Persona].[Pais].Members}, [Measures].[Cantidad]) "
        "ON ROWS FROM [Toy]",
    ],
)
def test_mdx_wrapper_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_toy_cube(spark), bad)


def test_mdx_children_drills_one_level_with_parent_dice(spark):
    rows = mdx_query(
        _hier_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               {[Fecha].[Anio].[2024].Children} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {(r["anio"], r["mes"]): r["n"] for r in rows}
    assert got == {(2024, 1): 2, (2024, 2): 1}


def test_mdx_children_of_two_parents_union(spark):
    rows = mdx_query(
        _hier_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               {[Fecha].[Anio].[2024].Children,
                [Fecha].[Anio].[2025].Children} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {(r["anio"], r["mes"]) for r in rows} == {
        (2024, 1), (2024, 2), (2025, 1), (2025, 2),
    }


def test_mdx_members_absorbs_children_restriction(spark):
    # {Mes.Members, Anio.[2024].Children} is a union = all months
    rows = mdx_query(
        _hier_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               {[Fecha].[Mes].Members,
                [Fecha].[Anio].[2024].Children} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {(r["anio"], r["mes"]) for r in rows} == {
        (2024, 1), (2024, 2), (2025, 1), (2025, 2),
    }


@pytest.mark.parametrize(
    "bad",
    [
        # Children on a dimension without a declared hierarchy
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Persona].[Pais].[AR].Children} ON ROWS FROM [Toy]",
        # Children of the hierarchy leaf
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Dia].[5].Children} ON ROWS FROM [Toy]",
        # Children mixed with an explicit dice of the child level
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Anio].[2024].Children, [Fecha].[Mes].[1]} ON ROWS "
        "FROM [Toy]",
    ],
)
def test_mdx_children_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_hier_cube(spark), bad)


def test_mdx_integer_members_coerce_by_schema(spark):
    # [Fecha].[Anio].[2024] dices an INT column with an int predicate —
    # coerced at execution from the COLUMN's type, never the member's
    # spelling (parse keeps the raw text)
    sel = parse_mdx(
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Anio].[2024]} ON ROWS FROM [Toy] "
        "WHERE ([Fecha].[Mes].[1])",
        _hier_cube(spark),
    )
    assert sel.member_filters == {"anio": ["2024"]}
    assert sel.slicer_filters == {"mes": ["1"]}
    rows = mdx_query(
        _hier_cube(spark),
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Anio].[2024]} ON ROWS FROM [Toy] "
        "WHERE ([Fecha].[Mes].[1])",
    ).collect()
    assert [(r["anio"], r["n"]) for r in rows] == [(2024, 2)]


def test_mdx_digit_member_on_string_level_stays_string(spark):
    # a digit-named member of a STRING level must filter as a string —
    # a spelling-based coercion would cast the whole column (an ANSI
    # runtime crash on any non-numeric value like 'ABC')
    def star_builder():
        return spark.createDataFrame(
            [("123", 1.0), ("ABC", 2.0), ("123", 3.0)],
            "codigo string, medida double",
        )

    cube = CubeDef(
        name="Zonas",
        star_builder=star_builder,
        levels={"Zona.Codigo": "codigo"},
        measures={"Cantidad": ("count", "medida", "n")},
    )
    rows = mdx_query(
        cube,
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Zona].[Codigo].[123]} ON ROWS FROM [Zonas]",
    ).collect()
    assert [(r["codigo"], r["n"]) for r in rows] == [("123", 2)]


def test_mdx_nonnumeric_member_on_int_level_is_loud(spark):
    with pytest.raises(MdxError):
        mdx_query(
            _hier_cube(spark),
            "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
            "{[Fecha].[Anio].[not_a_year]} ON ROWS FROM [Toy]",
        ).collect()


def test_mdx_calc_alias_collision_is_loud(spark):
    # [A B] and [A_B] collapse to the same snake_case output column
    with pytest.raises(MdxError):
        parse_mdx(
            "WITH MEMBER [Measures].[A B] AS 1 "
            "MEMBER [Measures].[A_B] AS 2 "
            "SELECT {[Measures].[Cantidad], [Measures].[A B], "
            "[Measures].[A_B]} ON COLUMNS, "
            "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
            _toy_cube(spark),
        )
    # ... and a calc member shadowing a grouping column is equally loud
    with pytest.raises(MdxError):
        parse_mdx(
            "WITH MEMBER [Measures].[Anio] AS [Measures].[Cantidad] "
            "SELECT {[Measures].[Anio]} ON COLUMNS, "
            "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
            _toy_cube(spark),
        )


def test_mdx_all_only_axis_emits_no_row_on_empty_input(spark):
    # the degenerate all-only axis must run as GROUPING SETS (()) — a
    # keyed group emitting zero rows on empty input — not a global
    # aggregate fabricating an All cell
    def empty_star():
        return spark.createDataFrame(
            [], "anio int, mes int, pais string, seg string, medida double"
        )

    cube = CubeDef(
        name="Toy",
        star_builder=empty_star,
        levels={"Fecha.Anio": "anio"},
        measures={"Cantidad": ("count", "medida", "n")},
    )
    rows = mdx_query(
        cube,
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "NON EMPTY {[Fecha].[(All)]} ON ROWS FROM [Toy]",
    ).collect()
    assert rows == []
    # non-empty input still yields the single grand-total cell
    rows2 = mdx_query(
        _toy_cube(spark),
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[(All)]} ON ROWS FROM [Toy]",
    ).collect()
    assert len(rows2) == 1 and rows2[0]["n"] == 5


def test_mdx_case_mixed_members_absorb(spark):
    # .Members and an explicit member of the same level written in a
    # different case must still merge into one level selection
    rows = mdx_query(
        _toy_cube(spark),
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Anio].Members, [fecha].[anio].[2024]} ON ROWS "
        "FROM [Toy]",
    ).collect()
    assert {r["anio"] for r in rows} == {2024, 2025}


def test_mdx_children_below_hierarchy_top_is_loud(spark):
    # [Fecha].[Mes].[6] names a different June per year — drilling it
    # would merge children across ancestors; must refuse
    with pytest.raises(MdxError, match="ambiguous"):
        parse_mdx(
            "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
            "{[Fecha].[Mes].[1].Children} ON ROWS FROM [Toy]",
            _hier_cube(spark),
        )


def test_mdx_bottomcount_ascending_with_ties(spark):
    # pais totals: AR=70, BR=30, CL=50 → bottom2 = BR, CL
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               BOTTOMCOUNT({[Persona].[Pais].Members}, 2,
                           [Measures].[Total]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {(r["pais"], r["sum_medida"]) for r in rows} == {
        ("BR", 30.0), ("CL", 50.0),
    }
    # tie at the cut: counts AR=3, BR=1, CL=1 → bottom1 keeps BR
    # (ascending grouping-column tie-break, same rule as TopCount)
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               BOTTOMCOUNT({[Persona].[Pais].Members}, 1,
                           [Measures].[Cantidad]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [r["pais"] for r in rows] == ["BR"]


def test_mdx_order_sorts_rows(spark):
    # BDESC by Total: AR(70), CL(50), BR(30) — collect order IS the pin
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               ORDER({[Persona].[Pais].Members},
                     [Measures].[Total], BDESC) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [r["pais"] for r in rows] == ["AR", "CL", "BR"]
    # default direction is ASC; ties (Cantidad BR=1, CL=1) break by the
    # grouping column ascending
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               ORDER({[Persona].[Pais].Members},
                     [Measures].[Cantidad]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [r["pais"] for r in rows] == ["BR", "CL", "AR"]


def test_mdx_order_by_calc_expression_over_filter(spark):
    # nesting: FILTER first (HAVING), then ORDER by a ratio expression
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               ORDER(FILTER({[Persona].[Pais].Members},
                            [Measures].[Total] >= 50),
                     [Measures].[Total] / [Measures].[Cantidad],
                     DESC) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    # survivors: AR(70, avg 23.3), CL(50, avg 50) → CL first under DESC
    assert [r["pais"] for r in rows] == ["CL", "AR"]


@pytest.mark.parametrize(
    "bad",
    [
        # ORDER direction must be one of the four keywords
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "ORDER({[Persona].[Pais].Members}, [Measures].[Cantidad], "
        "SIDEWAYS) ON ROWS FROM [Toy]",
        # ORDER over an All-lattice mixes grains
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "ORDER({[Persona].[(All)], [Persona].[Pais].Members}, "
        "[Measures].[Cantidad]) ON ROWS FROM [Toy]",
        # ORDER inside a crossjoin branch
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "CROSSJOIN(ORDER({[Persona].[Pais].Members}, "
        "[Measures].[Cantidad]), {[Fecha].[Anio].Members}) ON ROWS "
        "FROM [Toy]",
        # ORDER by an unknown measure
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "ORDER({[Persona].[Pais].Members}, [Measures].[Nope]) "
        "ON ROWS FROM [Toy]",
        # BOTTOMCOUNT shares TOPCOUNT's integer-count contract
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "BOTTOMCOUNT({[Persona].[Pais].Members}, 0, "
        "[Measures].[Cantidad]) ON ROWS FROM [Toy]",
    ],
)
def test_mdx_order_bottomcount_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_toy_cube(spark), bad)


def test_mdx_ranking_faces_registered():
    from datawarehousefinal_spark import queries as Q

    for name in ("mdx_bottomcount", "mdx_order_members"):
        assert name in Q.QUERIES and name in Q.ORACLES


def test_mdx_named_set_splices_like_inline(spark):
    named = mdx_query(
        _toy_cube(spark),
        """
        WITH SET [Americas] AS '{[Persona].[Pais].[AR],
                                 [Persona].[Pais].[BR]}'
        SELECT {[Measures].[Total]} ON COLUMNS,
               CROSSJOIN({[Fecha].[Anio].Members}, [Americas]) ON ROWS
        FROM [Toy]
        """,
    )
    inline = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               CROSSJOIN({[Fecha].[Anio].Members},
                         {[Persona].[Pais].[AR],
                          [Persona].[Pais].[BR]}) ON ROWS
        FROM [Toy]
        """,
    )
    assert sorted(map(tuple, named.collect())) == sorted(
        map(tuple, inline.collect())
    )


def test_mdx_named_set_in_wrapper_and_chained(spark):
    # a set referencing an earlier set, used inside TOPCOUNT
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH SET [Paises] AS '{[Persona].[Pais].Members}'
             SET [Ranked] AS '[Paises]'
        SELECT {[Measures].[Total]} ON COLUMNS,
               TOPCOUNT([Ranked], 1, [Measures].[Total]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["pais"], r["sum_medida"]) for r in rows] == [("AR", 70.0)]


def test_mdx_with_mixes_member_and_set(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[Doble] AS '[Measures].[Total] * 2'
             SET [Americas] AS '{[Persona].[Pais].[AR]}'
        SELECT {[Measures].[Doble]} ON COLUMNS,
               [Americas] ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["pais"], r["doble"]) for r in rows] == [("AR", 140.0)]


def test_mdx_head_tail_natural_order(spark):
    # Head default count is 1: first pais in member order
    rows = mdx_query(
        _toy_cube(spark),
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "HEAD({[Persona].[Pais].Members}) ON ROWS FROM [Toy]",
    ).collect()
    assert [r["pais"] for r in rows] == ["AR"]
    # Tail(Head(set, 2), 1) = the 2nd member
    rows = mdx_query(
        _toy_cube(spark),
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "TAIL(HEAD({[Persona].[Pais].Members}, 2), 1) ON ROWS FROM [Toy]",
    ).collect()
    assert [r["pais"] for r in rows] == ["BR"]


@pytest.mark.parametrize(
    "bad",
    [
        # unknown named set
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, [Nope] ON ROWS "
        "FROM [Toy]",
        # declared twice
        "WITH SET [X] AS '{[Persona].[Pais].[AR]}' "
        "SET [X] AS '{[Persona].[Pais].[BR]}' "
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, [X] ON ROWS "
        "FROM [Toy]",
        # wrapper inside a set body (rows-axis-only)
        "WITH SET [X] AS 'TOPCOUNT({[Persona].[Pais].Members}, 1, "
        "[Measures].[Cantidad])' "
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, [X] ON ROWS "
        "FROM [Toy]",
        # forward reference (definition-order scoping)
        "WITH SET [A] AS '[B]' SET [B] AS '{[Persona].[Pais].[AR]}' "
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, [A] ON ROWS "
        "FROM [Toy]",
        # multi-segment path where a set is expected
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "[Persona].[Pais].[AR] ON ROWS FROM [Toy]",
        # HEAD count must be >= 1
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "HEAD({[Persona].[Pais].Members}, 0) ON ROWS FROM [Toy]",
        # WITH with no declarations
        "WITH SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Persona].[Pais].Members} ON ROWS FROM [Toy]",
    ],
)
def test_mdx_named_set_head_tail_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_toy_cube(spark), bad)


def test_mdx_named_set_head_tail_faces_registered():
    from datawarehousefinal_spark import queries as Q

    for name in ("mdx_named_set_crossjoin", "mdx_head_tail_years"):
        assert name in Q.QUERIES and name in Q.ORACLES


def test_mdx_parallelperiod_yoy(spark):
    # per (anio, pais): 2024 AR=30 (10+20), 2024 BR=30, 2025 AR=40,
    # 2025 CL=50; YoY = total - prior-year same pais
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[YoY] AS
             '[Measures].[Total] -
              ([Measures].[Total], PARALLELPERIOD([Fecha].[Anio], 1))'
        SELECT {[Measures].[Total], [Measures].[YoY]} ON COLUMNS,
               CROSSJOIN({[Fecha].[Anio].Members},
                         {[Persona].[Pais].Members}) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {(r["anio"], r["pais"]): (r["sum_medida"], r["yoy"]) for r in rows}
    assert got[(2024, "AR")] == (30.0, None)  # no prior year → NULL
    assert got[(2025, "AR")] == (40.0, 10.0)
    assert got[(2025, "CL")] == (50.0, None)  # CL absent in 2024
    assert got[(2024, "BR")] == (30.0, None)


def test_mdx_parallelperiod_lag2_and_filter(spark):
    # the shifted tuple works inside FILTER too (drop cells with no
    # 2-year-old prior period → none here, so 0 rows survive)
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               FILTER({[Fecha].[Anio].Members},
                      ([Measures].[Total],
                       PARALLELPERIOD([Fecha].[Anio], 2)) > 0) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert rows == []


@pytest.mark.parametrize(
    "bad",
    [
        # below-top-level shift (Mes is keyed (anio, mes) on the
        # hierarchy cube — routed to _hier_cube by the Mes marker)
        "WITH MEMBER [Measures].[M] AS '([Measures].[Cantidad], "
        "PARALLELPERIOD([Fecha].[Mes], 1))' "
        "SELECT {[Measures].[M]} ON COLUMNS, "
        "{[Fecha].[Mes].Members} ON ROWS FROM [Toy]",
        # shifted column not on the rows axis
        "WITH MEMBER [Measures].[M] AS '([Measures].[Cantidad], "
        "PARALLELPERIOD([Fecha].[Anio], 1))' "
        "SELECT {[Measures].[M]} ON COLUMNS, "
        "{[Persona].[Pais].Members} ON ROWS FROM [Toy]",
        # non-integer level key
        "WITH MEMBER [Measures].[M] AS '([Measures].[Cantidad], "
        "PARALLELPERIOD([Persona].[Pais], 1))' "
        "SELECT {[Measures].[M]} ON COLUMNS, "
        "{[Persona].[Pais].Members} ON ROWS FROM [Toy]",
        # All-lattice mixes grains
        "WITH MEMBER [Measures].[M] AS '([Measures].[Cantidad], "
        "PARALLELPERIOD([Fecha].[Anio], 1))' "
        "SELECT {[Measures].[M]} ON COLUMNS, "
        "{[Fecha].[(All)], [Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        # calculated member inside the tuple
        "WITH MEMBER [Measures].[C] AS '[Measures].[Cantidad] * 2' "
        "MEMBER [Measures].[M] AS '([Measures].[C], "
        "PARALLELPERIOD([Fecha].[Anio], 1))' "
        "SELECT {[Measures].[M]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        # lag must be a positive integer
        "WITH MEMBER [Measures].[M] AS '([Measures].[Cantidad], "
        "PARALLELPERIOD([Fecha].[Anio], 0))' "
        "SELECT {[Measures].[M]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        # tuple without PARALLELPERIOD
        "WITH MEMBER [Measures].[M] AS '([Measures].[Cantidad], "
        "[Measures].[Total])' "
        "SELECT {[Measures].[M]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
    ],
)
def test_mdx_parallelperiod_errors_are_loud(spark, bad):
    cube = (
        _hier_cube(spark)
        if "PARALLELPERIOD([Fecha].[Mes]" in bad
        else _toy_cube(spark)
    )
    with pytest.raises(MdxError):
        mdx_query(cube, bad).collect()


def test_mdx_parallelperiod_face_registered():
    from datawarehousefinal_spark import queries as Q

    assert "mdx_parallelperiod_yoy" in Q.QUERIES
    assert "mdx_parallelperiod_yoy" in Q.ORACLES


def test_mdx_subselect_restricts_slice(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Fecha].[Anio].Members} ON ROWS
        FROM (SELECT {[Persona].[Pais].[AR]} ON COLUMNS FROM [Toy])
        """,
    ).collect()
    assert {(r["anio"], r["sum_medida"]) for r in rows} == {
        (2024, 30.0), (2025, 40.0),
    }


def test_mdx_subselect_nested_and_axis_agnostic(spark):
    # nested sub-selects AND together; axis placement is cosmetic
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               {[Persona].[Pais].Members} ON ROWS
        FROM (SELECT {[Fecha].[Anio].[2024]} ON ROWS
              FROM (SELECT {[Cliente].[Seg].[A]} ON 0 FROM [Toy]))
        """,
    ).collect()
    # 2024 & seg A: AR(10), BR(30)
    assert {(r["pais"], r["n"]) for r in rows} == {("AR", 1), ("BR", 1)}


def test_mdx_subselect_members_and_all_restrict_nothing(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               {[Fecha].[Anio].Members} ON ROWS
        FROM (SELECT CROSSJOIN({[Persona].[Pais].Members},
                               {[Fecha].[(All)]}) ON COLUMNS FROM [Toy])
        """,
    ).collect()
    assert {r["anio"] for r in rows} == {2024, 2025}


def test_mdx_subselect_composes_with_outer_where(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               {[Fecha].[Anio].Members} ON ROWS
        FROM (SELECT {[Persona].[Pais].[AR],
                      [Persona].[Pais].[CL]} ON COLUMNS FROM [Toy])
        WHERE ([Cliente].[Seg].[B])
        """,
    ).collect()
    # (AR|CL) & seg B: 2024 AR(20), 2025 CL(50)
    assert {(r["anio"], r["n"]) for r in rows} == {(2024, 1), (2025, 1)}


@pytest.mark.parametrize(
    "bad",
    [
        # malformed WHERE inside a sub-select (.Members is not a
        # slicer member; the supported WHERE shape has its own test)
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS "
        "FROM (SELECT {[Persona].[Pais].[AR]} ON COLUMNS FROM [Toy] "
        "WHERE ([Cliente].[Seg].Members))",
        # Children inside a sub-select
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Persona].[Pais].Members} ON ROWS "
        "FROM (SELECT {[Fecha].[Anio].[2024].Children} ON COLUMNS "
        "FROM [Toy])",
        # wrapper inside a sub-select set
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Persona].[Pais].Members} ON ROWS "
        "FROM (SELECT TOPCOUNT({[Fecha].[Anio].Members}, 1, "
        "[Measures].[Cantidad]) ON COLUMNS FROM [Toy])",
        # wrong cube name in the innermost FROM
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Persona].[Pais].Members} ON ROWS "
        "FROM (SELECT {[Fecha].[Anio].[2024]} ON COLUMNS FROM [Nope])",
        # bad axis keyword
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Persona].[Pais].Members} ON ROWS "
        "FROM (SELECT {[Fecha].[Anio].[2024]} ON PAGES FROM [Toy])",
    ],
)
def test_mdx_subselect_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_toy_cube(spark), bad)


def test_mdx_subselect_face_registered():
    from datawarehousefinal_spark import queries as Q

    assert "mdx_subselect_slice" in Q.QUERIES
    assert "mdx_subselect_slice" in Q.ORACLES


def test_mdx_head_tail_over_all_only_axis_is_loud(spark):
    with pytest.raises(MdxError, match="member order"):
        parse_mdx(
            "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
            "HEAD({[Fecha].[(All)]}, 1) ON ROWS FROM [Toy]",
            _toy_cube(spark),
        )


def test_mdx_subselect_measures_item_validated_and_ignored(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               {[Fecha].[Anio].Members} ON ROWS
        FROM (SELECT {[Measures].[Total], [Persona].[Pais].[AR]}
              ON COLUMNS FROM [Toy])
        """,
    ).collect()
    # the measure item restricts nothing; the AR member does
    assert {(r["anio"], r["n"]) for r in rows} == {(2024, 2), (2025, 1)}
    with pytest.raises(MdxError, match="unknown measure"):
        mdx_query(
            _toy_cube(spark),
            "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
            "{[Fecha].[Anio].Members} ON ROWS "
            "FROM (SELECT {[Measures].[Nope]} ON COLUMNS FROM [Toy])",
        )


def test_mdx_parallelperiod_tuple_order_reversed(spark):
    # Mondrian accepts (PARALLELPERIOD(...), [Measures].[M]) too
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[Prior] AS
             '(PARALLELPERIOD([Fecha].[Anio], 1), [Measures].[Total])'
        SELECT {[Measures].[Prior]} ON COLUMNS,
               {[Fecha].[Anio].Members} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {r["anio"]: r["prior"] for r in rows}
    assert got == {2024: None, 2025: 60.0}


# -- round-12: Head/Tail order preservation, PARALLELPERIOD context ----------


def test_mdx_head_over_order_preserves_ordered_set(spark):
    # totals per pais: AR=70, CL=50, BR=30. HEAD(ORDER(set, Total,
    # DESC), 2) = the first 2 of the ORDERED set {AR, CL} — not the 2
    # smallest-keyed members {AR, BR} a key re-sort would pick.
    rows = mdx_query(
        _toy_cube(spark),
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "HEAD(ORDER({[Persona].[Pais].Members}, [Measures].[Total], "
        "DESC), 2) ON ROWS FROM [Toy]",
    ).collect()
    assert [(r["pais"], r["sum_medida"]) for r in rows] == [
        ("AR", 70.0),
        ("CL", 50.0),
    ]


def test_mdx_tail_over_order_preserves_ordered_set(spark):
    # TAIL(ORDER(set, Total, DESC), 1) = the LAST member of the ordered
    # set — the smallest total (BR), not the largest-keyed member (CL)
    rows = mdx_query(
        _toy_cube(spark),
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "TAIL(ORDER({[Persona].[Pais].Members}, [Measures].[Total], "
        "DESC), 1) ON ROWS FROM [Toy]",
    ).collect()
    assert [(r["pais"], r["sum_medida"]) for r in rows] == [("BR", 30.0)]


def test_mdx_tail_presents_set_order_not_reversed(spark):
    # Mondrian Tail returns the last n IN THE SET'S ORDER: natural
    # order AR,BR,CL → Tail 2 = [BR, CL], never the reversed [CL, BR]
    rows = mdx_query(
        _toy_cube(spark),
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "TAIL({[Persona].[Pais].Members}, 2) ON ROWS FROM [Toy]",
    ).collect()
    assert [r["pais"] for r in rows] == ["BR", "CL"]


def test_mdx_parallelperiod_shifted_dice_reads_cube(spark):
    # rows dice {[Fecha].[Anio].[2025]} with a YoY member: Mondrian
    # evaluates the shifted tuple against the CUBE, so 2025 AR still
    # finds 2024 AR (=30) even though the axis excludes 2024 — the
    # pre-fix plan aggregated AFTER the dice and served a silent NULL
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[YoY] AS
             '[Measures].[Total] -
              ([Measures].[Total], PARALLELPERIOD([Fecha].[Anio], 1))'
        SELECT {[Measures].[Total], [Measures].[YoY]} ON COLUMNS,
               CROSSJOIN({[Fecha].[Anio].[2025]},
                         {[Persona].[Pais].Members}) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {r["pais"]: (r["sum_medida"], r["yoy"]) for r in rows}
    assert got["AR"] == (40.0, 10.0)
    assert got["CL"] == (50.0, None)  # CL absent in 2024: truly empty
    assert set(got) == {"AR", "CL"}  # the axis dice still applies


def test_mdx_parallelperiod_slicer_on_other_dim_applies_to_prior(spark):
    # the slicer context (seg=A) applies to the prior period too:
    # AR seg-A totals are 2024=10, 2025=40 → YoY 2025 = 30 (not
    # 40-30=10, which would use the unsliced prior year)
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[YoY] AS
             '[Measures].[Total] -
              ([Measures].[Total], PARALLELPERIOD([Fecha].[Anio], 1))'
        SELECT {[Measures].[YoY]} ON COLUMNS,
               CROSSJOIN({[Fecha].[Anio].[2025]},
                         {[Persona].[Pais].[AR]}) ON ROWS
        FROM [Toy]
        WHERE ([Cliente].[Seg].[A])
        """,
    ).collect()
    assert [(r["anio"], r["pais"], r["yoy"]) for r in rows] == [
        (2025, "AR", 30.0)
    ]


def _mom_cube(spark):
    """Hierarchy cube with a declared 12-month cycle — the below-top
    PARALLELPERIOD (month-over-month) support surface."""
    def star_builder():
        return spark.createDataFrame(
            [
                (2024, 12, 10.0),
                (2025, 1, 40.0),
                (2025, 2, 20.0),
            ],
            "anio int, mes int, medida double",
        )

    return CubeDef(
        name="Toy",
        star_builder=star_builder,
        levels={"Fecha.Anio": "anio", "Fecha.Mes": "mes"},
        measures={"Total": ("sum", "medida", "sum_medida")},
        hierarchies={"Fecha": ["Anio", "Mes"]},
        period_lengths={"Fecha.Mes": 12},
    )


def test_mdx_parallelperiod_mom_wraps_year(spark):
    # month-over-month across the year boundary: January 2025's prior
    # month is December 2024 (anio*12+(mes-1)-1 linearization)
    rows = mdx_query(
        _mom_cube(spark),
        """
        WITH MEMBER [Measures].[MoM] AS
             '[Measures].[Total] -
              ([Measures].[Total], PARALLELPERIOD([Fecha].[Mes], 1))'
        SELECT {[Measures].[Total], [Measures].[MoM]} ON COLUMNS,
               {[Fecha].[Mes].Members} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {(r["anio"], r["mes"]): r["mom"] for r in rows}
    assert got[(2024, 12)] is None
    assert got[(2025, 1)] == 30.0  # 40 - 10, wrapped into 2024
    assert got[(2025, 2)] == -20.0


def test_mdx_parallelperiod_mom_diced_month_reads_cube(spark):
    # dice to January cells only: the prior-month cell (Dec 2024) is
    # excluded by the mes dice — a chain column — and must still be
    # found by the re-aggregated shifted-period context
    rows = mdx_query(
        _mom_cube(spark),
        """
        WITH MEMBER [Measures].[MoM] AS
             '[Measures].[Total] -
              ([Measures].[Total], PARALLELPERIOD([Fecha].[Mes], 1))'
        SELECT {[Measures].[MoM]} ON COLUMNS,
               {[Fecha].[Mes].[1]} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["anio"], r["mes"], r["mom"]) for r in rows] == [
        (2025, 1, 30.0)
    ]


def test_mdx_parallelperiod_undeclared_period_is_loud(spark):
    # _hier_cube declares no period for Mes → the below-top shift
    # refuses loudly instead of fabricating wrap arithmetic
    with pytest.raises(MdxError, match="period"):
        mdx_query(
            _hier_cube(spark),
            "WITH MEMBER [Measures].[M] AS '([Measures].[Total], "
            "PARALLELPERIOD([Fecha].[Mes], 1))' "
            "SELECT {[Measures].[M]} ON COLUMNS, "
            "{[Fecha].[Mes].Members} ON ROWS FROM [Toy]",
        ).collect()


def test_mdx_subselect_unknown_dimension_all_is_loud(spark):
    with pytest.raises(MdxError, match="unknown dimension"):
        mdx_query(
            _toy_cube(spark),
            "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
            "{[Fecha].[Anio].Members} ON ROWS "
            "FROM (SELECT {[Nope].[(All)]} ON COLUMNS FROM [Toy])",
        ).collect()


def test_mdx_parallelperiod_r12_faces_registered():
    from datawarehousefinal_spark import queries as Q

    for name in ("mdx_parallelperiod_mom", "mdx_parallelperiod_yoy_diced"):
        assert name in Q.QUERIES
        assert name in Q.ORACLES


# -- round-12: PERIODSTODATE (running totals / YTD) ---------------------------


def test_mdx_periodstodate_running_total(spark):
    rows = mdx_query(
        _mom_cube(spark),
        """
        WITH MEMBER [Measures].[Acumulado] AS
             'SUM(PERIODSTODATE([Fecha].[Anio]), [Measures].[Total])'
        SELECT {[Measures].[Total], [Measures].[Acumulado]} ON COLUMNS,
               {[Fecha].[Mes].Members} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {(r["anio"], r["mes"]): r["acumulado"] for r in rows}
    # _mom_cube data: (2024,12)=10, (2025,1)=40, (2025,2)=20 — the
    # running sum RESETS at the year boundary (anchor partition)
    assert got == {(2024, 12): 10.0, (2025, 1): 40.0, (2025, 2): 60.0}


def test_mdx_periodstodate_diced_month_reads_cube(spark):
    # dice to February cells: the running sum still includes January
    # (the ordering-column dice is excluded from the window input)
    rows = mdx_query(
        _mom_cube(spark),
        """
        WITH MEMBER [Measures].[Acumulado] AS
             'SUM(PERIODSTODATE([Fecha].[Anio]), [Measures].[Total])'
        SELECT {[Measures].[Acumulado]} ON COLUMNS,
               {[Fecha].[Mes].[2]} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["anio"], r["mes"], r["acumulado"]) for r in rows] == [
        (2025, 2, 60.0)
    ]


def test_mdx_periodstodate_partitions_by_other_dims(spark):
    # a non-hierarchy rows dimension joins the window PARTITION: each
    # pais accumulates independently within its year
    rows = mdx_query(
        _hier_cube(spark),
        """
        WITH MEMBER [Measures].[Acumulado] AS
             'SUM(PERIODSTODATE([Fecha].[Anio]), [Measures].[Total])'
        SELECT {[Measures].[Acumulado]} ON COLUMNS,
               CROSSJOIN({[Fecha].[Mes].Members},
                         {[Persona].[Pais].Members}) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {(r["anio"], r["mes"], r["pais"]): r["acumulado"] for r in rows}
    # AR in 2024: Jan 10+20? no — (2024,1,5,AR,10), (2024,2,5,AR,20):
    # Jan=10, Feb cumulative 30; BR only Jan=30; 2025 AR Jan=40, CL Feb=50
    assert got[(2024, 1, "AR")] == 10.0
    assert got[(2024, 2, "AR")] == 30.0
    assert got[(2024, 1, "BR")] == 30.0
    assert got[(2025, 1, "AR")] == 40.0
    assert got[(2025, 2, "CL")] == 50.0


@pytest.mark.parametrize(
    "bad",
    [
        # anchor chain not on the rows axis
        "WITH MEMBER [Measures].[A] AS "
        "'SUM(PERIODSTODATE([Fecha].[Anio]), [Measures].[Total])' "
        "SELECT {[Measures].[A]} ON COLUMNS, "
        "{[Persona].[Pais].Members} ON ROWS FROM [Toy]",
        # no deeper hierarchy level on the axis to order the sum
        "WITH MEMBER [Measures].[A] AS "
        "'SUM(PERIODSTODATE([Fecha].[Anio]), [Measures].[Total])' "
        "SELECT {[Measures].[A]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        # unknown anchor level
        "WITH MEMBER [Measures].[A] AS "
        "'SUM(PERIODSTODATE([Fecha].[Quarter]), [Measures].[Total])' "
        "SELECT {[Measures].[A]} ON COLUMNS, "
        "{[Fecha].[Mes].Members} ON ROWS FROM [Toy]",
        # calculated member inside PERIODSTODATE
        "WITH MEMBER [Measures].[C] AS '[Measures].[Total] * 2' "
        "MEMBER [Measures].[A] AS "
        "'SUM(PERIODSTODATE([Fecha].[Anio]), [Measures].[C])' "
        "SELECT {[Measures].[A]} ON COLUMNS, "
        "{[Fecha].[Mes].Members} ON ROWS FROM [Toy]",
        # All-lattice mixes grains
        "WITH MEMBER [Measures].[A] AS "
        "'SUM(PERIODSTODATE([Fecha].[Anio]), [Measures].[Total])' "
        "SELECT {[Measures].[A]} ON COLUMNS, "
        "{[Fecha].[(All)], [Fecha].[Mes].Members} ON ROWS FROM [Toy]",
    ],
)
def test_mdx_periodstodate_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_hier_cube(spark), bad).collect()


# -- round-12: LASTPERIODS, member ranges, sub-select WHERE -------------------


def _lp_cube(spark):
    """Month cube with a calendar GAP (no Feb 2025) and a year boundary
    — the two shapes a trailing window must survive."""
    def star_builder():
        return spark.createDataFrame(
            [
                (2024, 11, 10.0),
                (2024, 12, 20.0),
                (2025, 1, 30.0),
                (2025, 3, 40.0),
            ],
            "anio int, mes int, medida double",
        )

    return CubeDef(
        name="Toy",
        star_builder=star_builder,
        levels={"Fecha.Anio": "anio", "Fecha.Mes": "mes"},
        measures={"Total": ("sum", "medida", "sum_medida")},
        hierarchies={"Fecha": ["Anio", "Mes"]},
        period_lengths={"Fecha.Mes": 12},
    )


def test_mdx_lastperiods_moving_average(spark):
    rows = mdx_query(
        _lp_cube(spark),
        """
        WITH MEMBER [Measures].[Movil3] AS
             'AVG(LASTPERIODS(3, [Fecha].[Mes].CurrentMember),
                  [Measures].[Total])'
        SELECT {[Measures].[Total], [Measures].[Movil3]} ON COLUMNS,
               {[Fecha].[Mes].Members} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {(r["anio"], r["mes"]): r["movil3"] for r in rows}
    assert got[(2024, 11)] == 10.0
    assert got[(2024, 12)] == 15.0  # avg(10, 20)
    assert got[(2025, 1)] == 20.0  # avg(10,20,30): wraps the year
    # RANGE frame: Feb 2025 is ABSENT — Jan stays in March's window,
    # the missing month contributes nothing (Mondrian empty period);
    # a ROWS frame would wrongly reach back to December
    assert got[(2025, 3)] == 35.0  # avg(30, 40)


def test_mdx_lastperiods_sum_and_diced(spark):
    # SUM flavor; dice to January — the window still reads Nov/Dec 2024
    rows = mdx_query(
        _lp_cube(spark),
        """
        WITH MEMBER [Measures].[Suma3] AS
             'SUM(LASTPERIODS(3, [Fecha].[Mes].CurrentMember),
                  [Measures].[Total])'
        SELECT {[Measures].[Suma3]} ON COLUMNS,
               {[Fecha].[Mes].[1]} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["anio"], r["mes"], r["suma3"]) for r in rows] == [
        (2025, 1, 60.0)
    ]


def test_mdx_lastperiods_top_level_and_partition(spark):
    # anchor at the hierarchy top (trailing 2-year window) with a
    # second dimension partitioning independently
    rows = mdx_query(
        _hier_cube(spark),
        """
        WITH MEMBER [Measures].[Suma2a] AS
             'SUM(LASTPERIODS(2, [Fecha].[Anio].CurrentMember),
                  [Measures].[Total])'
        SELECT {[Measures].[Suma2a]} ON COLUMNS,
               CROSSJOIN({[Fecha].[Anio].Members},
                         {[Persona].[Pais].Members}) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {(r["anio"], r["pais"]): r["suma2a"] for r in rows}
    # AR: 2024=30 (10+20), 2025=40 → 2025 window = 70; BR only 2024=30
    assert got[(2024, "AR")] == 30.0
    assert got[(2025, "AR")] == 70.0
    assert got[(2024, "BR")] == 30.0
    assert got[(2025, "CL")] == 50.0


@pytest.mark.parametrize(
    "bad",
    [
        # AVG composes with LASTPERIODS only
        "WITH MEMBER [Measures].[A] AS "
        "'AVG(PERIODSTODATE([Fecha].[Anio]), [Measures].[Total])' "
        "SELECT {[Measures].[A]} ON COLUMNS, "
        "{[Fecha].[Mes].Members} ON ROWS FROM [Toy]",
        # count must be a positive integer
        "WITH MEMBER [Measures].[A] AS "
        "'AVG(LASTPERIODS(0, [Fecha].[Mes].CurrentMember), "
        "[Measures].[Total])' "
        "SELECT {[Measures].[A]} ON COLUMNS, "
        "{[Fecha].[Mes].Members} ON ROWS FROM [Toy]",
        # needs .CurrentMember
        "WITH MEMBER [Measures].[A] AS "
        "'AVG(LASTPERIODS(3, [Fecha].[Mes]), [Measures].[Total])' "
        "SELECT {[Measures].[A]} ON COLUMNS, "
        "{[Fecha].[Mes].Members} ON ROWS FROM [Toy]",
        # window key column not on the axis
        "WITH MEMBER [Measures].[A] AS "
        "'AVG(LASTPERIODS(3, [Fecha].[Mes].CurrentMember), "
        "[Measures].[Total])' "
        "SELECT {[Measures].[A]} ON COLUMNS, "
        "{[Persona].[Pais].Members} ON ROWS FROM [Toy]",
    ],
)
def test_mdx_lastperiods_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_hier_cube(spark), bad).collect()


def test_mdx_member_range_expands(spark):
    rows = mdx_query(
        _toy_cube(spark),
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "{[Fecha].[Anio].[2024]:[Fecha].[Anio].[2025]} ON ROWS FROM [Toy]",
    ).collect()
    assert {(r["anio"], r["sum_medida"]) for r in rows} == {
        (2024, 60.0),
        (2025, 90.0),
    }
    # a range that selects a strict subset actually dices
    rows = mdx_query(
        _toy_cube(spark),
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "{[Fecha].[Anio].[2024]:[Fecha].[Anio].[2024]} ON ROWS FROM [Toy]",
    ).collect()
    assert [(r["anio"], r["sum_medida"]) for r in rows] == [(2024, 60.0)]


def test_mdx_member_range_in_subselect(spark):
    rows = mdx_query(
        _toy_cube(spark),
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Persona].[Pais].Members} ON ROWS "
        "FROM (SELECT {[Fecha].[Anio].[2025]:[Fecha].[Anio].[2026]} "
        "ON COLUMNS FROM [Toy])",
    ).collect()
    assert {(r["pais"], r["n"]) for r in rows} == {("AR", 1), ("CL", 1)}


@pytest.mark.parametrize(
    "bad",
    [
        # mixed levels
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "{[Fecha].[Anio].[2024]:[Fecha].[Mes].[2]} ON ROWS FROM [Toy]",
        # reversed
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "{[Fecha].[Anio].[2025]:[Fecha].[Anio].[2024]} ON ROWS FROM [Toy]",
        # non-integer members
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "{[Persona].[Pais].[AR]:[Persona].[Pais].[CL]} ON ROWS FROM [Toy]",
        # absurd width
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "{[Fecha].[Anio].[0]:[Fecha].[Anio].[99999]} ON ROWS FROM [Toy]",
    ],
)
def test_mdx_member_range_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        parse_mdx(bad, _toy_cube(spark))


def test_mdx_subselect_where_restricts(spark):
    # WHERE inside a sub-select composes with its axis items (both
    # restrict before aggregation) — previously a loud refusal
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Fecha].[Anio].Members} ON ROWS
        FROM (SELECT {[Persona].[Pais].[AR]} ON COLUMNS
              FROM [Toy]
              WHERE ([Cliente].[Seg].[A]))
        """,
    ).collect()
    # AR + seg A rows: (2024, 10.0), (2025, 40.0)
    assert sorted((r["anio"], r["sum_medida"]) for r in rows) == [
        (2024, 10.0),
        (2025, 40.0),
    ]


# -- round-12: DRILLTHROUGH ---------------------------------------------------


def test_mdx_drillthrough_returns_fact_rows(spark):
    from datawarehousefinal_spark.operators.mdx import mdx_drillthrough

    rows = mdx_drillthrough(
        _toy_cube(spark),
        """
        DRILLTHROUGH
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Fecha].[Anio].[2024]} ON ROWS
        FROM [Toy]
        WHERE ([Cliente].[Seg].[A])
        """,
    ).collect()
    # 2024 + seg A fact rows: (2024,1,AR,A,10) and (2024,1,BR,A,30)
    got = sorted((r["anio"], r["mes"], r["pais"], r["seg"], r["medida"])
                 for r in rows)
    assert got == [
        (2024, 1, "AR", "A", 10.0),
        (2024, 1, "BR", "A", 30.0),
    ]


def test_mdx_drillthrough_maxrows_caps(spark):
    from datawarehousefinal_spark.operators.mdx import mdx_drillthrough

    rows = mdx_drillthrough(
        _toy_cube(spark),
        "DRILLTHROUGH MAXROWS 2 "
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
    ).collect()
    assert len(rows) == 2


@pytest.mark.parametrize(
    "bad",
    [
        # calculated member has no row-level meaning
        "DRILLTHROUGH WITH MEMBER [Measures].[D] AS "
        "'[Measures].[Total] * 2' "
        "SELECT {[Measures].[D]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        # wrappers have no row-level meaning
        "DRILLTHROUGH SELECT {[Measures].[Total]} ON COLUMNS, "
        "TOPCOUNT({[Fecha].[Anio].Members}, 1, [Measures].[Total]) "
        "ON ROWS FROM [Toy]",
        # MAXROWS must be positive
        "DRILLTHROUGH MAXROWS 0 "
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        # missing SELECT
        "DRILLTHROUGH {[Fecha].[Anio].Members}",
    ],
)
def test_mdx_drillthrough_errors_are_loud(spark, bad):
    from datawarehousefinal_spark.operators.mdx import mdx_drillthrough

    with pytest.raises(MdxError):
        mdx_drillthrough(_toy_cube(spark), bad).collect()


def test_mdx_subselect_unknown_level_all_is_loud(spark):
    # [Fecha].[NoSuchLevel].[(All)] — the 3-segment form must validate
    # the LEVEL, not just the dimension (review finding, round 12)
    with pytest.raises(MdxError, match="unknown level"):
        mdx_query(
            _toy_cube(spark),
            "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
            "{[Persona].[Pais].Members} ON ROWS "
            "FROM (SELECT {[Fecha].[NoSuchLevel].[(All)]} ON COLUMNS "
            "FROM [Toy])",
        ).collect()


# -- round-12: OPENINGPERIOD / CLOSINGPERIOD ----------------------------------


def test_mdx_opening_closing_period(spark):
    rows = mdx_query(
        _mom_cube(spark),
        """
        WITH MEMBER [Measures].[VsApertura] AS
             '[Measures].[Total] -
              ([Measures].[Total], OPENINGPERIOD([Fecha].[Mes]))'
        MEMBER [Measures].[Cierre] AS
             '([Measures].[Total], CLOSINGPERIOD([Fecha].[Mes]))'
        SELECT {[Measures].[Total], [Measures].[VsApertura],
                [Measures].[Cierre]} ON COLUMNS,
               {[Fecha].[Mes].Members} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {
        (r["anio"], r["mes"]): (r["vsapertura"], r["cierre"]) for r in rows
    }
    # _mom_cube data: (2024,12)=10, (2025,1)=40, (2025,2)=20.
    # 2024's only month is its own opening AND closing; 2025 opens at
    # January (40) and closes at February (20)
    assert got[(2024, 12)] == (0.0, 10.0)
    assert got[(2025, 1)] == (0.0, 20.0)
    assert got[(2025, 2)] == (-20.0, 20.0)


def test_mdx_boundary_period_diced_reads_cube(spark):
    # dice to February: the opening period (January) is outside the
    # dice and must still be found
    rows = mdx_query(
        _mom_cube(spark),
        """
        WITH MEMBER [Measures].[VsApertura] AS
             '[Measures].[Total] -
              ([Measures].[Total], OPENINGPERIOD([Fecha].[Mes]))'
        SELECT {[Measures].[VsApertura]} ON COLUMNS,
               {[Fecha].[Mes].[2]} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["anio"], r["mes"], r["vsapertura"]) for r in rows] == [
        (2025, 2, -20.0)
    ]


@pytest.mark.parametrize(
    "bad",
    [
        # anchor column not on the rows axis
        "WITH MEMBER [Measures].[A] AS '([Measures].[Total], "
        "CLOSINGPERIOD([Fecha].[Mes]))' "
        "SELECT {[Measures].[A]} ON COLUMNS, "
        "{[Persona].[Pais].Members} ON ROWS FROM [Toy]",
        # calculated member inside the tuple
        "WITH MEMBER [Measures].[C] AS '[Measures].[Total] * 2' "
        "MEMBER [Measures].[A] AS '([Measures].[C], "
        "OPENINGPERIOD([Fecha].[Mes]))' "
        "SELECT {[Measures].[A]} ON COLUMNS, "
        "{[Fecha].[Mes].Members} ON ROWS FROM [Toy]",
        # All-lattice mixes grains
        "WITH MEMBER [Measures].[A] AS '([Measures].[Total], "
        "CLOSINGPERIOD([Fecha].[Mes]))' "
        "SELECT {[Measures].[A]} ON COLUMNS, "
        "{[Fecha].[(All)], [Fecha].[Mes].Members} ON ROWS FROM [Toy]",
    ],
)
def test_mdx_boundary_period_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_hier_cube(spark), bad).collect()


# -- round-12: EXCEPT ---------------------------------------------------------


def test_mdx_except_members_excludes(spark):
    rows = mdx_query(
        _toy_cube(spark),
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "EXCEPT({[Persona].[Pais].Members}, {[Persona].[Pais].[BR]}) "
        "ON ROWS FROM [Toy]",
    ).collect()
    assert {(r["pais"], r["sum_medida"]) for r in rows} == {
        ("AR", 70.0),
        ("CL", 50.0),
    }


def test_mdx_except_explicit_list_subtracts(spark):
    rows = mdx_query(
        _toy_cube(spark),
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "CROSSJOIN({[Fecha].[Anio].Members}, "
        "EXCEPT({[Persona].[Pais].[AR], [Persona].[Pais].[BR]}, "
        "{[Persona].[Pais].[BR]})) ON ROWS FROM [Toy]",
    ).collect()
    assert {(r["anio"], r["pais"]) for r in rows} == {
        (2024, "AR"),
        (2025, "AR"),
    }


def test_mdx_except_in_subselect_via_named_set(spark):
    # EXCEPT inside a WITH SET body splices like any set
    rows = mdx_query(
        _toy_cube(spark),
        "WITH SET [SinBR] AS "
        "'EXCEPT({[Persona].[Pais].Members}, {[Persona].[Pais].[BR]})' "
        "SELECT {[Measures].[Total]} ON COLUMNS, [SinBR] ON ROWS "
        "FROM [Toy]",
    ).collect()
    assert {r["pais"] for r in rows} == {"AR", "CL"}


def test_mdx_except_navigator_requires_excluded_col_in_grain(spark):
    from datawarehousefinal_spark.operators.aggnav import (
        choose_aggregate,
        materialize_aggregate,
    )

    cube = _toy_cube(spark)
    years_only = materialize_aggregate(cube, ["Fecha.Anio"])
    sel = parse_mdx(
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "CROSSJOIN({[Fecha].[Anio].Members}, "
        "EXCEPT({[Persona].[Pais].Members}, {[Persona].[Pais].[BR]})) "
        "ON ROWS FROM [Toy]",
        cube,
    )
    # pais is excluded-on AND grouped-by: the year-grain table cannot
    # serve it
    assert choose_aggregate(cube, sel, [years_only]) is None


@pytest.mark.parametrize(
    "bad",
    [
        # removed members span two levels
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "EXCEPT({[Persona].[Pais].Members}, "
        "{[Persona].[Pais].[AR], [Fecha].[Anio].[2024]}) ON ROWS "
        "FROM [Toy]",
        # first argument is a crossjoin
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "EXCEPT(CROSSJOIN({[Fecha].[Anio].Members}, "
        "{[Persona].[Pais].Members}), {[Persona].[Pais].[AR]}) ON ROWS "
        "FROM [Toy]",
        # removes members of a level the set does not select
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "EXCEPT({[Fecha].[Anio].Members}, {[Persona].[Pais].[AR]}) "
        "ON ROWS FROM [Toy]",
        # empties an explicit member list
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "EXCEPT({[Persona].[Pais].[AR]}, {[Persona].[Pais].[AR]}) "
        "ON ROWS FROM [Toy]",
        # .Members in the removal set
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "EXCEPT({[Persona].[Pais].Members}, {[Persona].[Pais].Members}) "
        "ON ROWS FROM [Toy]",
    ],
)
def test_mdx_except_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_toy_cube(spark), bad).collect()


def test_mdx_except_preserves_null_member(spark):
    # NULL-keyed members are real members; excluding [B] keeps them
    def star():
        return spark.createDataFrame(
            [(2024, "AR", 10.0), (2024, None, 7.0), (2024, "BR", 3.0)],
            "anio int, pais string, medida double",
        )

    cube = CubeDef(
        name="Toy",
        star_builder=star,
        levels={"Fecha.Anio": "anio", "Persona.Pais": "pais"},
        measures={"Total": ("sum", "medida", "sum_medida")},
    )
    rows = mdx_query(
        cube,
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "EXCEPT({[Persona].[Pais].Members}, {[Persona].[Pais].[BR]}) "
        "ON ROWS FROM [Toy]",
    ).collect()
    assert {(r["pais"], r["sum_medida"]) for r in rows} == {
        ("AR", 10.0),
        (None, 7.0),
    }


# ---------------------------------------------------------------------------
# TOPPERCENT / TOPSUM / BOTTOMPERCENT / BOTTOMSUM — the Pareto cut
# ---------------------------------------------------------------------------
# toy data per pais (no slicer): AR 10+20+40=70, CL 50, BR 30; total 150


def test_mdx_toppercent_shortest_covering_prefix(spark):
    # desc order AR 70, CL 50, BR 30; 60% of 150 = 90 — AR alone (70)
    # is short, AR+CL (120) crosses: keep AR and CL, in set order
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               TOPPERCENT({[Persona].[Pais].Members}, 60,
                          [Measures].[Total]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["pais"], r["sum_medida"]) for r in rows] == [
        ("AR", 70.0), ("CL", 50.0),
    ]


def test_mdx_toppercent_includes_crossing_member(spark):
    # 40% of 150 = 60 > AR's 70? no: AR crosses (0 < 60), CL's prefix
    # is 70 (not < 60) — exactly the crossing member survives
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               TOPPERCENT({[Persona].[Pais].Members}, 40,
                          [Measures].[Total]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["pais"], r["sum_medida"]) for r in rows] == [("AR", 70.0)]


def test_mdx_topsum_absolute_threshold(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               TOPSUM({[Persona].[Pais].Members}, 80,
                      [Measures].[Total]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["pais"], r["sum_medida"]) for r in rows] == [
        ("AR", 70.0), ("CL", 50.0),
    ]


def test_mdx_topsum_threshold_above_total_keeps_all(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               TOPSUM({[Persona].[Pais].Members}, 1000,
                      [Measures].[Total]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["pais"], r["sum_medida"]) for r in rows] == [
        ("AR", 70.0), ("CL", 50.0), ("BR", 30.0),
    ]


def test_mdx_bottompercent_ascending_twin(spark):
    # asc order BR 30, CL 50, AR 70; 40% of 150 = 60 — BR (prefix 0)
    # and CL (prefix 30) survive, AR (prefix 80) does not
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               BOTTOMPERCENT({[Persona].[Pais].Members}, 40,
                             [Measures].[Total]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["pais"], r["sum_medida"]) for r in rows] == [
        ("BR", 30.0), ("CL", 50.0),
    ]


def test_mdx_head_over_toppercent_preserves_order(spark):
    # HEAD cuts the TOPPERCENT set's prevailing (measure-desc) order,
    # not the natural key order
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               HEAD(TOPPERCENT({[Persona].[Pais].Members}, 100,
                               [Measures].[Total]), 2) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["pais"], r["sum_medida"]) for r in rows] == [
        ("AR", 70.0), ("CL", 50.0),
    ]


def test_mdx_toppercent_total_is_current_set(spark):
    # an inner FILTER changes the set, hence the total the percentage
    # reads — Mondrian's "total of the given set" contract: filtering
    # AR out leaves CL 50 + BR 30 = 80; 60% of 80 = 48 → CL crosses it
    # alone (prefix 0 < 48), BR's prefix 50 is not < 48 → exactly CL.
    # (Against the UNFILTERED total 150 the threshold would be 90 and
    # BR would survive too — the test pins which total is read.)
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               TOPPERCENT(FILTER({[Persona].[Pais].Members},
                                 [Measures].[Total] < 60), 60,
                          [Measures].[Total]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["pais"], r["sum_medida"]) for r in rows] == [("CL", 50.0)]


def test_mdx_toppercent_negative_cells_are_loud(spark):
    def star():
        return spark.createDataFrame(
            [(2024, "AR", -5.0), (2024, "BR", 30.0)],
            "anio int, pais string, medida double",
        )

    cube = CubeDef(
        name="Toy",
        star_builder=star,
        levels={"Fecha.Anio": "anio", "Persona.Pais": "pais"},
        measures={"Total": ("sum", "medida", "sum_medida")},
    )
    df = mdx_query(
        cube,
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "TOPPERCENT({[Persona].[Pais].Members}, 50, [Measures].[Total]) "
        "ON ROWS FROM [Toy]",
    )
    with pytest.raises(Exception, match="running-prefix"):
        df.collect()


@pytest.mark.parametrize(
    "bad",
    [
        # zero / negative / >100 thresholds
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "TOPPERCENT({[Persona].[Pais].Members}, 0, [Measures].[Total]) "
        "ON ROWS FROM [Toy]",
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "TOPPERCENT({[Persona].[Pais].Members}, 101, [Measures].[Total]) "
        "ON ROWS FROM [Toy]",
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "TOPSUM({[Persona].[Pais].Members}, 0, [Measures].[Total]) "
        "ON ROWS FROM [Toy]",
        # unknown ranking measure
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "TOPPERCENT({[Persona].[Pais].Members}, 50, [Measures].[Nope]) "
        "ON ROWS FROM [Toy]",
        # mixed-grain: percent cut over an (All) lattice
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "TOPPERCENT({[Persona].[(All)], [Persona].[Pais].Members}, 50, "
        "[Measures].[Total]) ON ROWS FROM [Toy]",
        # wrapper inside a CROSSJOIN branch
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "CROSSJOIN(TOPPERCENT({[Persona].[Pais].Members}, 50, "
        "[Measures].[Total]), {[Fecha].[Anio].Members}) "
        "ON ROWS FROM [Toy]",
    ],
)
def test_mdx_toppercent_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_toy_cube(spark), bad).collect()


# ---------------------------------------------------------------------------
# DESCENDANTS — Children generalized to any deeper level
# ---------------------------------------------------------------------------


def test_mdx_descendants_skips_intermediate_level(spark):
    rows = mdx_query(
        _hier_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               DESCENDANTS([Fecha].[Anio].[2024], [Fecha].[Dia]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {(r["anio"], r["mes"], r["dia"]): r["sum_medida"] for r in rows} == {
        (2024, 1, 5): 10.0, (2024, 1, 6): 30.0, (2024, 2, 5): 20.0,
    }


def test_mdx_descendants_one_step_equals_children(spark):
    desc = mdx_query(
        _hier_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               DESCENDANTS([Fecha].[Anio].[2024], [Fecha].[Mes]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    children = mdx_query(
        _hier_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Fecha].[Anio].[2024].Children} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert sorted(map(tuple, desc)) == sorted(map(tuple, children))


def test_mdx_descendants_at_own_level_is_the_member(spark):
    rows = mdx_query(
        _hier_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               DESCENDANTS([Fecha].[Anio].[2024], [Fecha].[Anio]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["anio"], r["sum_medida"]) for r in rows] == [(2024, 60.0)]


def test_mdx_descendants_in_crossjoin_branch(spark):
    rows = mdx_query(
        _hier_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               CROSSJOIN(DESCENDANTS([Fecha].[Anio].[2024], [Fecha].[Mes]),
                         {[Persona].[Pais].[AR]}) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {(r["anio"], r["mes"], r["pais"]) for r in rows} == {
        (2024, 1, "AR"), (2024, 2, "AR"),
    }


@pytest.mark.parametrize(
    "bad",
    [
        # anchor below the hierarchy top (leaf-value member ambiguous)
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "DESCENDANTS([Fecha].[Mes].[1], [Fecha].[Dia]) ON ROWS FROM [Toy]",
        # target above the anchor
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "DESCENDANTS([Fecha].[Dia].[5], [Fecha].[Anio]) ON ROWS FROM [Toy]",
        # target in another dimension
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "DESCENDANTS([Fecha].[Anio].[2024], [Persona].[Pais]) "
        "ON ROWS FROM [Toy]",
        # a genuine drill on a dimension without a declared hierarchy
        # (target at the anchor's OWN level needs no hierarchy — it
        # degenerates to the member itself)
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "DESCENDANTS([Persona].[Pais].[AR], [Persona].[Ciudad]) "
        "ON ROWS FROM [Toy]",
        # flag arguments are out of scope
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "DESCENDANTS([Fecha].[Anio].[2024], [Fecha].[Dia], LEAVES) "
        "ON ROWS FROM [Toy]",
        # mixing a DESCENDANTS drill with an explicit dice of the
        # target level (a union, not a conjunction)
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "{DESCENDANTS([Fecha].[Anio].[2024], [Fecha].[Mes])} "
        "ON ROWS FROM [Toy]",
    ],
)
def test_mdx_descendants_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_hier_cube(spark), bad).collect()


def test_mdx_descendants_union_of_two_anchors(spark):
    # two DESCENDANTS of the same target level union their parents —
    # via a named set splice (braces accept members only)
    rows = mdx_query(
        _hier_cube(spark),
        """
        WITH SET [Ambos] AS
             'CROSSJOIN(DESCENDANTS([Fecha].[Anio].[2024], [Fecha].[Mes]),
                        {[Persona].[Pais].[AR], [Persona].[Pais].[BR]})'
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               [Ambos] ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {(r["anio"], r["mes"], r["pais"]) for r in rows} == {
        (2024, 1, "AR"), (2024, 1, "BR"), (2024, 2, "AR"),
    }


# ---------------------------------------------------------------------------
# SET slicer — WHERE {m1, m2, ...} multi-select
# ---------------------------------------------------------------------------


def test_mdx_set_slicer_unions_members(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Fecha].[Anio].Members} ON ROWS
        FROM [Toy]
        WHERE {[Persona].[Pais].[AR], [Persona].[Pais].[BR]}
        """,
    ).collect()
    assert {(r["anio"], r["sum_medida"]) for r in rows} == {
        (2024, 60.0), (2025, 40.0),
    }


def test_mdx_set_slicer_avg_reads_union_slice(spark):
    # avg over the union slice = avg of ALL rows in the union (sum and
    # count both come from the union's rows), not an avg of avgs
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Promedio]} ON COLUMNS,
               {[Fecha].[Anio].Members} ON ROWS
        FROM [Toy]
        WHERE {[Persona].[Pais].[AR], [Persona].[Pais].[BR]}
        """,
    ).collect()
    got = {(r["anio"]): r["avg_medida"] for r in rows}
    assert got == {2024: 20.0, 2025: 40.0}


def test_mdx_set_slicer_range_expands(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Cantidad]} ON COLUMNS,
               {[Persona].[Pais].Members} ON ROWS
        FROM [Toy]
        WHERE {[Fecha].[Anio].[2024]:[Fecha].[Anio].[2025]}
        """,
    ).collect()
    assert {(r["pais"], r["n"]) for r in rows} == {
        ("AR", 3), ("BR", 1), ("CL", 1),
    }


def test_mdx_set_slicer_mixed_levels_is_loud(spark):
    with pytest.raises(MdxError, match="ONE level"):
        mdx_query(
            _toy_cube(spark),
            """
            SELECT {[Measures].[Total]} ON COLUMNS,
                   {[Persona].[Pais].Members} ON ROWS
            FROM [Toy]
            WHERE {[Fecha].[Anio].[2024], [Fecha].[Mes].[1]}
            """,
        )


# ---------------------------------------------------------------------------
# COMPOUND (tuple-set) slicer — WHERE {(mA, mB), (mC, mD)}
# ---------------------------------------------------------------------------


def test_mdx_compound_slicer_or_of_ands(spark):
    # (2024, A) rows: 10, 30 ; (2025, B) rows: 50 — the OR of ANDs;
    # a conjunctive (2024 OR 2025) AND (A OR B) wrong answer would
    # also include (2024, B)'s 20 and (2025, A)'s 40
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Persona].[Pais].Members} ON ROWS
        FROM [Toy]
        WHERE {([Fecha].[Anio].[2024], [Cliente].[Seg].[A]),
               ([Fecha].[Anio].[2025], [Cliente].[Seg].[B])}
        """,
    ).collect()
    assert {(r["pais"], r["sum_medida"]) for r in rows} == {
        ("AR", 10.0), ("BR", 30.0), ("CL", 50.0),
    }


def test_mdx_compound_slicer_single_column_degenerates(spark):
    sel = parse_mdx(
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Persona].[Pais].Members} ON ROWS
        FROM [Toy]
        WHERE {([Fecha].[Anio].[2024]), ([Fecha].[Anio].[2025])}
        """,
        _toy_cube(spark),
    )
    assert sel.slicer_filters == {"anio": ["2024", "2025"]}
    assert sel.slicer_disjunction == []


def test_mdx_compound_slicer_navigator_requires_columns(spark):
    from datawarehousefinal_spark.operators.aggnav import (
        choose_aggregate,
        materialize_aggregate,
        mdx_query_navigated,
    )

    cube = _toy_cube(spark)
    q = """
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Persona].[Pais].Members} ON ROWS
        FROM [Toy]
        WHERE {([Fecha].[Anio].[2024], [Cliente].[Seg].[A]),
               ([Fecha].[Anio].[2025], [Cliente].[Seg].[B])}
    """
    sel = parse_mdx(q, cube)
    # a table missing a disjunction column cannot cover
    missing = materialize_aggregate(
        cube, ["Fecha.Anio", "Persona.Pais"], name="missing_seg"
    )
    assert choose_aggregate(cube, sel, [missing]) is None
    covering = materialize_aggregate(
        cube, ["Fecha.Anio", "Persona.Pais", "Cliente.Seg"], name="cov"
    )
    assert choose_aggregate(cube, sel, [covering]).name == "cov"
    got = mdx_query_navigated(cube, q, [covering])
    want = mdx_query(cube, q)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_mdx_compound_slicer_time_intel_other_column_ok(spark):
    # YoY shifts anio; the compound slicer filters (pais, seg) only —
    # the prior-period context keeps the disjunction applied, like any
    # slicer. 2025 AR+A cells: 40; 2024 (AR,A)+(BR,A)... wait BR is
    # seg A too: (2024 AR A 10) + (2024 BR A 30); (CL, B) adds 2025's
    # 50. YoY(2025) = n(2025) - n(2024) over the OR slice.
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[Crecimiento] AS
             '[Measures].[Cantidad] -
              ([Measures].[Cantidad], PARALLELPERIOD([Fecha].[Anio], 1))'
        SELECT {[Measures].[Cantidad], [Measures].[Crecimiento]} ON COLUMNS,
               {[Fecha].[Anio].Members} ON ROWS
        FROM [Toy]
        WHERE {([Persona].[Pais].[AR], [Cliente].[Seg].[A]),
               ([Persona].[Pais].[CL], [Cliente].[Seg].[B])}
        """,
    ).collect()
    got = {r["anio"]: (r["n"], r["crecimiento"]) for r in rows}
    # AR+A rows: (2024,10),(2025,40); CL+B rows: (2025,50)
    assert got == {2024: (1, None), 2025: (2, 1)}


@pytest.mark.parametrize(
    "bad",
    [
        # ragged tuples
        """SELECT {[Measures].[Total]} ON COLUMNS,
           {[Persona].[Pais].Members} ON ROWS FROM [Toy]
           WHERE {([Fecha].[Anio].[2024], [Cliente].[Seg].[A]),
                  ([Fecha].[Anio].[2025])}""",
        # a tuple repeating a level
        """SELECT {[Measures].[Total]} ON COLUMNS,
           {[Persona].[Pais].Members} ON ROWS FROM [Toy]
           WHERE {([Fecha].[Anio].[2024], [Fecha].[Anio].[2025])}""",
        # mixing bare members with tuples
        """SELECT {[Measures].[Total]} ON COLUMNS,
           {[Persona].[Pais].Members} ON ROWS FROM [Toy]
           WHERE {([Fecha].[Anio].[2024], [Cliente].[Seg].[A]),
                  [Cliente].[Seg].[B]}""",
    ],
)
def test_mdx_compound_slicer_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_toy_cube(spark), bad).collect()


def test_mdx_compound_slicer_time_intel_same_column_is_loud(spark):
    with pytest.raises(MdxError, match="cannot drop one leg"):
        mdx_query(
            _toy_cube(spark),
            """
            WITH MEMBER [Measures].[Crecimiento] AS
                 '[Measures].[Cantidad] -
                  ([Measures].[Cantidad],
                   PARALLELPERIOD([Fecha].[Anio], 1))'
            SELECT {[Measures].[Crecimiento]} ON COLUMNS,
                   {[Fecha].[Anio].Members} ON ROWS
            FROM [Toy]
            WHERE {([Fecha].[Anio].[2024], [Cliente].[Seg].[A]),
                   ([Fecha].[Anio].[2025], [Cliente].[Seg].[B])}
            """,
        ).collect()


# ---------------------------------------------------------------------------
# RANK — the league-table calculated member
# ---------------------------------------------------------------------------


def test_mdx_rank_by_measure_desc(spark):
    # totals per pais: AR 70, CL 50, BR 30 → ranks 1, 2, 3
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[Puesto] AS
             'RANK([Persona].[Pais].CurrentMember,
                   [Persona].[Pais].Members, [Measures].[Total])'
        SELECT {[Measures].[Total], [Measures].[Puesto]} ON COLUMNS,
               {[Persona].[Pais].Members} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {(r["pais"], r["puesto"]) for r in rows} == {
        ("AR", 1), ("CL", 2), ("BR", 3),
    }


def test_mdx_rank_ties_share_rank(spark):
    def star():
        return spark.createDataFrame(
            [(2024, "AR", 10.0), (2024, "BR", 10.0), (2024, "CL", 5.0)],
            "anio int, pais string, medida double",
        )

    cube = CubeDef(
        name="Toy",
        star_builder=star,
        levels={"Fecha.Anio": "anio", "Persona.Pais": "pais"},
        measures={"Total": ("sum", "medida", "sum_medida")},
    )
    rows = mdx_query(
        cube,
        """
        WITH MEMBER [Measures].[Puesto] AS
             'RANK([Persona].[Pais].CurrentMember,
                   [Persona].[Pais].Members, [Measures].[Total])'
        SELECT {[Measures].[Puesto]} ON COLUMNS,
               {[Persona].[Pais].Members} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    # competition ranking: two firsts, the next is rank 3
    assert {(r["pais"], r["puesto"]) for r in rows} == {
        ("AR", 1), ("BR", 1), ("CL", 3),
    }


def test_mdx_rank_diced_member_reads_cube(spark):
    # axis picks CL only; its rank is still among ALL countries (2)
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[Puesto] AS
             'RANK([Persona].[Pais].CurrentMember,
                   [Persona].[Pais].Members, [Measures].[Total])'
        SELECT {[Measures].[Puesto]} ON COLUMNS,
               {[Persona].[Pais].[CL]} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["pais"], r["puesto"]) for r in rows] == [("CL", 2)]


def test_mdx_rank_partitions_by_other_axis_dims(spark):
    # rank years WITHIN each pais: AR has 2024=30 (10+20), 2025=40 →
    # 2025 first; CL has only 2025
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[Puesto] AS
             'RANK([Fecha].[Anio].CurrentMember,
                   [Fecha].[Anio].Members, [Measures].[Total])'
        SELECT {[Measures].[Puesto]} ON COLUMNS,
               CROSSJOIN({[Fecha].[Anio].Members},
                         {[Persona].[Pais].[AR], [Persona].[Pais].[CL]})
               ON ROWS
        FROM [Toy]
        """,
    ).collect()
    got = {(r["anio"], r["pais"]): r["puesto"] for r in rows}
    assert got == {(2024, "AR"): 2, (2025, "AR"): 1, (2025, "CL"): 1}


def test_mdx_rank_slicer_context_applies(spark):
    # a slicer outside the chain stays applied: seg=A totals are
    # AR 10+40=50, BR 30 → AR first, BR second (CL has no A rows)
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[Puesto] AS
             'RANK([Persona].[Pais].CurrentMember,
                   [Persona].[Pais].Members, [Measures].[Total])'
        SELECT {[Measures].[Puesto]} ON COLUMNS,
               {[Persona].[Pais].Members} ON ROWS
        FROM [Toy]
        WHERE ([Cliente].[Seg].[A])
        """,
    ).collect()
    assert {(r["pais"], r["puesto"]) for r in rows} == {
        ("AR", 1), ("BR", 2),
    }


def test_mdx_rank_in_filter_wrapper(spark):
    # "keep the top-2-ranked" spelled via FILTER over the rank member
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[Puesto] AS
             'RANK([Persona].[Pais].CurrentMember,
                   [Persona].[Pais].Members, [Measures].[Total])'
        SELECT {[Measures].[Total]} ON COLUMNS,
               FILTER({[Persona].[Pais].Members},
                      [Measures].[Puesto] < 3) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {(r["pais"], r["sum_medida"]) for r in rows} == {
        ("AR", 70.0), ("CL", 50.0),
    }


@pytest.mark.parametrize(
    "bad",
    [
        # set of a DIFFERENT level
        """WITH MEMBER [Measures].[P] AS
           'RANK([Persona].[Pais].CurrentMember,
                 [Fecha].[Anio].Members, [Measures].[Total])'
           SELECT {[Measures].[P]} ON COLUMNS,
           {[Persona].[Pais].Members} ON ROWS FROM [Toy]""",
        # ranked level absent from the rows axis
        """WITH MEMBER [Measures].[P] AS
           'RANK([Persona].[Pais].CurrentMember,
                 [Persona].[Pais].Members, [Measures].[Total])'
           SELECT {[Measures].[P]} ON COLUMNS,
           {[Fecha].[Anio].Members} ON ROWS FROM [Toy]""",
        # 2-arg set-order form
        """WITH MEMBER [Measures].[P] AS
           'RANK([Persona].[Pais].CurrentMember,
                 [Persona].[Pais].Members)'
           SELECT {[Measures].[P]} ON COLUMNS,
           {[Persona].[Pais].Members} ON ROWS FROM [Toy]""",
        # unknown ordering measure
        """WITH MEMBER [Measures].[P] AS
           'RANK([Persona].[Pais].CurrentMember,
                 [Persona].[Pais].Members, [Measures].[Nope])'
           SELECT {[Measures].[P]} ON COLUMNS,
           {[Persona].[Pais].Members} ON ROWS FROM [Toy]""",
        # All-lattice
        """WITH MEMBER [Measures].[P] AS
           'RANK([Persona].[Pais].CurrentMember,
                 [Persona].[Pais].Members, [Measures].[Total])'
           SELECT {[Measures].[P]} ON COLUMNS,
           {[Persona].[(All)], [Persona].[Pais].Members} ON ROWS
           FROM [Toy]""",
    ],
)
def test_mdx_rank_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_toy_cube(spark), bad).collect()


# ---------------------------------------------------------------------------
# Custom AGGREGATE members — calculated members on dimension levels
# ---------------------------------------------------------------------------


def test_mdx_custom_group_folds_members(spark):
    # AR 70 + BR 30 fold into 'Mercosur' 100; CL 50 stays bare
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Persona].[Pais].[Mercosur] AS
             'AGGREGATE({[Persona].[Pais].[AR], [Persona].[Pais].[BR]})'
        SELECT {[Measures].[Total], [Measures].[Cantidad]} ON COLUMNS,
               {[Persona].[Pais].[Mercosur], [Persona].[Pais].[CL]}
               ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {(r["pais"], r["sum_medida"], r["n"]) for r in rows} == {
        ("Mercosur", 100.0, 4), ("CL", 50.0, 1),
    }


def test_mdx_custom_group_avg_is_over_raw_rows(spark):
    # avg over the group = avg of the RAW underlying rows (100/4), not
    # an avg of member avgs ((70/3 + 30)/2)
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Persona].[Pais].[Mercosur] AS
             'AGGREGATE({[Persona].[Pais].[AR], [Persona].[Pais].[BR]})'
        SELECT {[Measures].[Promedio]} ON COLUMNS,
               {[Persona].[Pais].[Mercosur]} ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["pais"], r["avg_medida"]) for r in rows] == [
        ("Mercosur", 25.0),
    ]


def test_mdx_custom_group_member_face_matches_oracle_sf01(spark, bench_sf_dir):
    """At sf0.1 the group's avg sums in a different order on each engine
    (Spark 254424.91982191041, DuckDB ...027 for Bloque Andino); the
    face's round contract must absorb that."""
    import __spark_entry__ as entrymod
    from tests.oracle_harness import compare

    name = "mdx_custom_group_member"
    r = compare(
        spark, bench_sf_dir, entrymod.queries()[name], entrymod.oracle_sql()[name]
    )
    assert r["ok"], r


def test_mdx_custom_group_in_slicer_expands(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Persona].[Pais].[Mercosur] AS
             'AGGREGATE({[Persona].[Pais].[AR], [Persona].[Pais].[BR]})'
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Fecha].[Anio].Members} ON ROWS
        FROM [Toy]
        WHERE ([Persona].[Pais].[Mercosur])
        """,
    ).collect()
    assert {(r["anio"], r["sum_medida"]) for r in rows} == {
        (2024, 60.0), (2025, 40.0),
    }


def test_mdx_custom_group_in_subselect_expands(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Persona].[Pais].[Mercosur] AS
             'AGGREGATE({[Persona].[Pais].[AR], [Persona].[Pais].[BR]})'
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Fecha].[Anio].Members} ON ROWS
        FROM (SELECT {[Persona].[Pais].[Mercosur]} ON COLUMNS
              FROM [Toy])
        """,
    ).collect()
    assert {(r["anio"], r["sum_medida"]) for r in rows} == {
        (2024, 60.0), (2025, 40.0),
    }


def test_mdx_custom_group_crossjoin_and_wrapper(spark):
    # groups compose with crossjoins and post-agg wrappers
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Persona].[Pais].[Mercosur] AS
             'AGGREGATE({[Persona].[Pais].[AR], [Persona].[Pais].[BR]})'
        SELECT {[Measures].[Total]} ON COLUMNS,
               TOPCOUNT(CROSSJOIN({[Fecha].[Anio].Members},
                        {[Persona].[Pais].[Mercosur],
                         [Persona].[Pais].[CL]}), 2,
                        [Measures].[Total]) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["anio"], r["pais"], r["sum_medida"]) for r in rows] == [
        (2024, "Mercosur", 60.0), (2025, "CL", 50.0),
    ]


def test_mdx_custom_group_navigator_routes_and_matches(spark):
    from datawarehousefinal_spark.operators.aggnav import (
        materialize_aggregate,
        mdx_query_navigated,
    )

    cube = _toy_cube(spark)
    q = """
        WITH MEMBER [Persona].[Pais].[Mercosur] AS
             'AGGREGATE({[Persona].[Pais].[AR], [Persona].[Pais].[BR]})'
        SELECT {[Measures].[Total], [Measures].[Promedio]} ON COLUMNS,
               {[Persona].[Pais].[Mercosur], [Persona].[Pais].[CL]}
               ON ROWS
        FROM [Toy]
    """
    agg = materialize_aggregate(cube, ["Persona.Pais"], name="by_pais")
    got = mdx_query_navigated(cube, q, [agg])
    want = mdx_query(cube, q)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


@pytest.mark.parametrize(
    "bad",
    [
        # group + the level's .Members in one set
        """WITH MEMBER [Persona].[Pais].[G] AS
           'AGGREGATE({[Persona].[Pais].[AR]})'
           SELECT {[Measures].[Total]} ON COLUMNS,
           {[Persona].[Pais].[G], [Persona].[Pais].Members} ON ROWS
           FROM [Toy]""",
        # bare member also inside the group
        """WITH MEMBER [Persona].[Pais].[G] AS
           'AGGREGATE({[Persona].[Pais].[AR]})'
           SELECT {[Measures].[Total]} ON COLUMNS,
           {[Persona].[Pais].[G], [Persona].[Pais].[AR]} ON ROWS
           FROM [Toy]""",
        # overlapping groups
        """WITH MEMBER [Persona].[Pais].[G] AS
           'AGGREGATE({[Persona].[Pais].[AR]})'
           MEMBER [Persona].[Pais].[H] AS
           'AGGREGATE({[Persona].[Pais].[AR], [Persona].[Pais].[BR]})'
           SELECT {[Measures].[Total]} ON COLUMNS,
           {[Persona].[Pais].[G], [Persona].[Pais].[H]} ON ROWS
           FROM [Toy]""",
        # body member of another level
        """WITH MEMBER [Persona].[Pais].[G] AS
           'AGGREGATE({[Fecha].[Anio].[2024]})'
           SELECT {[Measures].[Total]} ON COLUMNS,
           {[Persona].[Pais].[G]} ON ROWS FROM [Toy]""",
        # group shadowing its own member
        """WITH MEMBER [Persona].[Pais].[AR] AS
           'AGGREGATE({[Persona].[Pais].[AR], [Persona].[Pais].[BR]})'
           SELECT {[Measures].[Total]} ON COLUMNS,
           {[Persona].[Pais].[AR]} ON ROWS FROM [Toy]""",
        # numeric level column (execution-time type gate)
        """WITH MEMBER [Fecha].[Anio].[G] AS
           'AGGREGATE({[Fecha].[Anio].[2024]})'
           SELECT {[Measures].[Total]} ON COLUMNS,
           {[Fecha].[Anio].[G]} ON ROWS FROM [Toy]""",
        # EXCEPT over a set containing a group
        """WITH MEMBER [Persona].[Pais].[G] AS
           'AGGREGATE({[Persona].[Pais].[AR]})'
           SELECT {[Measures].[Total]} ON COLUMNS,
           EXCEPT({[Persona].[Pais].[G], [Persona].[Pais].[CL]},
                  {[Persona].[Pais].[CL]}) ON ROWS FROM [Toy]""",
    ],
)
def test_mdx_custom_group_errors_are_loud(spark, bad):
    with pytest.raises(MdxError):
        mdx_query(_toy_cube(spark), bad).collect()


def test_mdx_custom_group_hierarchy_level_is_loud(spark):
    # a hierarchy CHILD level is chain-keyed — remapping one chain
    # column would corrupt the member key
    with pytest.raises(MdxError, match="chain-keyed"):
        mdx_query(
            _hier_cube(spark),
            """
            WITH MEMBER [Fecha].[Mes].[H1] AS
                 'AGGREGATE({[Fecha].[Mes].[1]})'
            SELECT {[Measures].[Total]} ON COLUMNS,
                   {[Fecha].[Mes].[H1]} ON ROWS FROM [Toy]
            """,
        )


def test_mdx_custom_group_distinct_count_skips_rollup(spark):
    # a distinct-count query with a custom group must NOT route to a
    # rollup even at exact grain: the remap merges grain cells
    from datawarehousefinal_spark.operators.aggnav import (
        choose_aggregate,
        materialize_aggregate,
        mdx_query_navigated,
    )

    def star():
        return spark.createDataFrame(
            [
                ("AR", "C1", 1.0), ("AR", "C2", 1.0),
                ("BR", "C1", 1.0), ("CL", "C3", 1.0),
            ],
            "pais string, cliente string, medida double",
        )

    cube = CubeDef(
        name="Toy",
        star_builder=star,
        levels={"Persona.Pais": "pais"},
        measures={
            "Clientes": ("distinct-count", "cliente", "clientes"),
        },
    )
    q = """
        WITH MEMBER [Persona].[Pais].[Mercosur] AS
             'AGGREGATE({[Persona].[Pais].[AR], [Persona].[Pais].[BR]})'
        SELECT {[Measures].[Clientes]} ON COLUMNS,
               {[Persona].[Pais].[Mercosur]} ON ROWS
        FROM [Toy]
    """
    agg = materialize_aggregate(cube, ["Persona.Pais"], name="by_pais")
    sel = parse_mdx(q, cube)
    assert choose_aggregate(cube, sel, [agg]) is None
    rows = mdx_query_navigated(cube, q, [agg]).collect()
    # C1 appears in both AR and BR: the true group distinct is 2, the
    # state re-fold would say 3
    assert [(r["pais"], r["clientes"]) for r in rows] == [("Mercosur", 2)]


# ---------------------------------------------------------------------------
# Review fixes: RANK under sub-selects, custom anchors, zero-total cuts
# ---------------------------------------------------------------------------


def test_mdx_rank_within_subselect_subcube(spark):
    # a sub-select defines the SUBCUBE and .Members shrinks with it:
    # overall ranks are AR 1, CL 2, BR 3; inside the {CL, BR} subcube
    # CL ranks 1 and BR 2 — NOT their cube-wide 2 and 3
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[Puesto] AS
             'RANK([Persona].[Pais].CurrentMember,
                   [Persona].[Pais].Members, [Measures].[Total])'
        SELECT {[Measures].[Puesto]} ON COLUMNS,
               {[Persona].[Pais].Members} ON ROWS
        FROM (SELECT {[Persona].[Pais].[CL], [Persona].[Pais].[BR]}
              ON COLUMNS FROM [Toy])
        """,
    ).collect()
    assert {(r["pais"], r["puesto"]) for r in rows} == {
        ("CL", 1), ("BR", 2),
    }


def test_mdx_rank_dice_inside_subselect_ranks_subcube(spark):
    # dice AND sub-select together: the recompute drops the axis dice
    # but keeps the subcube — BR picked out of the {CL, BR} subcube
    # still ranks 2nd IN THE SUBCUBE (its cube-wide rank is 3)
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[Puesto] AS
             'RANK([Persona].[Pais].CurrentMember,
                   [Persona].[Pais].Members, [Measures].[Total])'
        SELECT {[Measures].[Puesto]} ON COLUMNS,
               {[Persona].[Pais].[BR]} ON ROWS
        FROM (SELECT {[Persona].[Pais].[CL], [Persona].[Pais].[BR]}
              ON COLUMNS FROM [Toy])
        """,
    ).collect()
    assert [(r["pais"], r["puesto"]) for r in rows] == [("BR", 2)]


def test_mdx_parallelperiod_reads_past_subselect(spark):
    # the coordinate-shift families keep their existing contract: a
    # sub-select restricted to 2025 does NOT hide 2024 from YoY (the
    # shifted tuple reads the cube, SSAS/Mondrian sub-select behavior)
    rows = mdx_query(
        _toy_cube(spark),
        """
        WITH MEMBER [Measures].[Crecimiento] AS
             '[Measures].[Cantidad] -
              ([Measures].[Cantidad], PARALLELPERIOD([Fecha].[Anio], 1))'
        SELECT {[Measures].[Cantidad], [Measures].[Crecimiento]}
               ON COLUMNS,
               {[Fecha].[Anio].Members} ON ROWS
        FROM (SELECT {[Fecha].[Anio].[2025]} ON COLUMNS FROM [Toy])
        """,
    ).collect()
    # 2025 has 2 movements, 2024 has 3 → growth -1, not NULL
    assert [(r["anio"], r["n"], r["crecimiento"]) for r in rows] == [
        (2025, 2, -1),
    ]


def test_mdx_custom_group_drill_anchor_is_loud(spark):
    for drill in (
        "{[Fecha].[Anio].[G].Children}",
        "DESCENDANTS([Fecha].[Anio].[G], [Fecha].[Dia])",
    ):
        with pytest.raises(MdxError, match="cannot anchor"):
            mdx_query(
                _hier_cube(spark),
                f"""
                WITH MEMBER [Fecha].[Anio].[G] AS
                     'AGGREGATE({{[Fecha].[Anio].[2024]}})'
                SELECT {{[Measures].[Total]}} ON COLUMNS,
                       {drill} ON ROWS FROM [Toy]
                """,
            ).collect()


def test_mdx_toppercent_zero_total_keeps_first_member(spark):
    # count(medida) over an all-NULL column: every cell is 0, the
    # threshold is 0, and the stop-at-crossing contract keeps exactly
    # the FIRST member of the set order — never an empty set
    def star():
        return spark.createDataFrame(
            [(2024, "AR", None), (2024, "BR", None)],
            "anio int, pais string, medida double",
        )

    cube = CubeDef(
        name="Toy",
        star_builder=star,
        levels={"Fecha.Anio": "anio", "Persona.Pais": "pais"},
        measures={"Cantidad": ("count", "medida", "n")},
    )
    rows = mdx_query(
        cube,
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "TOPPERCENT({[Persona].[Pais].Members}, 60, "
        "[Measures].[Cantidad]) ON ROWS FROM [Toy]",
    ).collect()
    assert [(r["pais"], r["n"]) for r in rows] == [("AR", 0)]


# ---------------------------------------------------------------------------
# FILTER with boolean AND/OR conditions
# ---------------------------------------------------------------------------
# per-pais totals: AR 70 (n=3), CL 50 (n=1), BR 30 (n=1)


def test_mdx_filter_and_condition(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               FILTER({[Persona].[Pais].Members},
                      [Measures].[Total] > 40 AND
                      [Measures].[Cantidad] < 2) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert [(r["pais"], r["sum_medida"]) for r in rows] == [("CL", 50.0)]


def test_mdx_filter_or_condition(spark):
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               FILTER({[Persona].[Pais].Members},
                      [Measures].[Total] > 60 OR
                      [Measures].[Total] < 40) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {(r["pais"], r["sum_medida"]) for r in rows} == {
        ("AR", 70.0), ("BR", 30.0),
    }


def test_mdx_filter_and_binds_tighter_than_or(spark):
    # A OR B AND C parses as A OR (B AND C): keeps AR (70>60) plus
    # rows with total<60 AND n=1 → CL and BR. A left-to-right
    # (A OR B) AND C misparse would drop AR (its n is 3).
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               FILTER({[Persona].[Pais].Members},
                      [Measures].[Total] > 60 OR
                      [Measures].[Total] < 60 AND
                      [Measures].[Cantidad] = 1) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    assert {r["pais"] for r in rows} == {"AR", "CL", "BR"}


def test_mdx_filter_paren_groups_boolean_and_arithmetic(spark):
    # boolean parens flip the precedence; arithmetic parens still work
    rows = mdx_query(
        _toy_cube(spark),
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               FILTER({[Persona].[Pais].Members},
                      ([Measures].[Total] > 60 OR
                       [Measures].[Total] < 60) AND
                      ([Measures].[Cantidad] + 1) > 2) ON ROWS
        FROM [Toy]
        """,
    ).collect()
    # (true OR ...) AND n+1>2 → only AR has n=3
    assert [(r["pais"], r["sum_medida"]) for r in rows] == [("AR", 70.0)]


def test_mdx_filter_boolean_errors_are_loud(spark):
    for bad in (
        # dangling OR
        "FILTER({[Persona].[Pais].Members}, [Measures].[Total] > 1 OR)",
        # comparison chain without a boolean op
        "FILTER({[Persona].[Pais].Members}, "
        "[Measures].[Total] > 1 [Measures].[Cantidad] < 2)",
    ):
        with pytest.raises(MdxError):
            mdx_query(
                _toy_cube(spark),
                f"SELECT {{[Measures].[Total]}} ON COLUMNS, {bad} "
                "ON ROWS FROM [Toy]",
            ).collect()


# -- round-13: DIMENSION PROPERTIES (the other always-emitted client shape) ---


def test_mdx_dimension_properties_is_a_noop(spark):
    # Excel/Pentaho decorate nearly every axis with DIMENSION PROPERTIES
    # MEMBER_CAPTION[, MEMBER_UNIQUE_NAME]; intrinsic properties are
    # served by the member key columns already, so the decorated query
    # must equal the bare one exactly — on BOTH axes, with NON EMPTY too
    cube = _toy_cube(spark)
    bare = mdx_query(
        cube,
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
    )
    decorated = mdx_query(
        cube,
        "SELECT {[Measures].[Cantidad]} "
        "DIMENSION PROPERTIES MEMBER_UNIQUE_NAME ON COLUMNS, "
        "NON EMPTY {[Fecha].[Anio].Members} "
        "DIMENSION PROPERTIES MEMBER_CAPTION, PARENT_UNIQUE_NAME "
        "ON ROWS FROM [Toy]",
    )
    assert sorted(map(tuple, decorated.collect())) == sorted(
        map(tuple, bare.collect())
    )
    # the bare PROPERTIES spelling parses too
    short = mdx_query(
        cube,
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} PROPERTIES MEMBER_CAPTION ON ROWS "
        "FROM [Toy]",
    )
    assert sorted(map(tuple, short.collect())) == sorted(
        map(tuple, bare.collect())
    )


def test_mdx_custom_member_property_is_loud(spark):
    cube = _toy_cube(spark)
    with pytest.raises(MdxError, match="custom member property"):
        parse_mdx(
            "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
            "{[Fecha].[Anio].Members} "
            "DIMENSION PROPERTIES [Fecha].[Anio].[MyProp] ON ROWS "
            "FROM [Toy]",
            cube,
        )
    with pytest.raises(MdxError, match="custom member property"):
        parse_mdx(
            "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
            "{[Fecha].[Anio].Members} "
            "DIMENSION PROPERTIES NOT_A_PROPERTY ON ROWS FROM [Toy]",
            cube,
        )


# -- parser and planner guards: one malformed query per MdxError branch -------


def _guard_cube(spark, kind):
    toy, hier = _toy_cube(spark), _hier_cube(spark)
    return {
        "toy": toy,
        "hier": hier,
        # a one-level hierarchy: its top level is also its leaf
        "leaf": dataclasses.replace(toy, hierarchies={"Persona": ["Pais"]}),
        # Dia is a declared level outside the declared hierarchy
        "anio_mes": dataclasses.replace(
            hier, hierarchies={"Fecha": ["Anio", "Mes"]}
        ),
        "bad_agg": dataclasses.replace(
            toy, measures={"Total": ("mode", "medida", "m")}
        ),
    }[kind]


_SEL = "SELECT {[Measures].[Total]} ON COLUMNS, "


@pytest.mark.parametrize(
    "kind,bad,match",
    [
        pytest.param(
            "leaf",
            _SEL + "{[Persona].[Pais].[AR].Children} ON ROWS FROM [Toy]",
            "leaf of its hierarchy",
            id="children_of_leaf",
        ),
        pytest.param(
            "anio_mes",
            _SEL + "DESCENDANTS([Fecha].[Dia].[5], [Fecha].[Mes]) "
            "ON ROWS FROM [Toy]",
            r"\[Fecha\]\.\[Dia\] is not in the declared hierarchy",
            id="descendants_anchor_off_hierarchy",
        ),
        pytest.param(
            "hier",
            _SEL + "DESCENDANTS([Fecha].[Anio].[2024], [Fecha].[Semana]) "
            "ON ROWS FROM [Toy]",
            r"\[Fecha\]\.\[Semana\] is not in the declared hierarchy",
            id="descendants_target_off_hierarchy",
        ),
        pytest.param(
            "hier",
            _SEL + "DESCENDANTS([Fecha].[Anio], [Fecha].[Mes]) "
            "ON ROWS FROM [Toy]",
            "DESCENDANTS needs a .* anchor",
            id="descendants_anchor_not_member",
        ),
        pytest.param(
            "hier",
            _SEL + "DESCENDANTS([Fecha].[Anio].[2024], [Fecha].[Mes].[1]) "
            "ON ROWS FROM [Toy]",
            "DESCENDANTS target must be",
            id="descendants_target_is_member",
        ),
        pytest.param(
            "bad_agg",
            _SEL + "{[Persona].[Pais].Members} ON ROWS FROM [Toy]",
            "unsupported aggregator 'mode'",
            id="unsupported_aggregator",
        ),
        pytest.param(
            "toy",
            _SEL + "{[Persona].[Pais].Members} ON ROWS FROM [Toy] ~",
            "unexpected character",
            id="unexpected_character",
        ),
        pytest.param(
            "toy",
            "SELECT {[Measures].[Total]} ON ROWS, "
            "{[Persona].[Pais].Members} ON COLUMNS FROM [Toy]",
            "expected 'COLUMNS', got 'ROWS'",
            id="axis_keyword_out_of_order",
        ),
        pytest.param(
            "toy",
            _SEL + "{[Persona].[Pais].Parent} ON ROWS FROM [Toy]",
            "Members, Children or CurrentMember, got 'Parent'",
            id="unknown_member_function",
        ),
        pytest.param(
            "toy",
            "WITH MEMBER [Measures].[A] AS '[Persona].[Pais] * 2' "
            "SELECT {[Measures].[A]} ON COLUMNS, "
            "{[Persona].[Pais].Members} ON ROWS FROM [Toy]",
            "expected a .Measures...Name. reference",
            id="calc_operand_not_a_measure",
        ),
        pytest.param(
            "hier",
            "WITH MEMBER [Measures].[A] AS '([Measures].[Total] * 2, "
            "PARALLELPERIOD([Fecha].[Anio], 1))' "
            "SELECT {[Measures].[A]} ON COLUMNS, "
            "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
            "a tuple must pair",
            id="tuple_of_expression",
        ),
        pytest.param(
            "hier",
            "WITH MEMBER [Measures].[A] AS "
            "'SUM(PERIODSTODATE([Fecha].[Anio].[2024]), [Measures].[Total])' "
            "SELECT {[Measures].[A]} ON COLUMNS, "
            "{[Fecha].[Mes].Members} ON ROWS FROM [Toy]",
            "PERIODSTODATE needs a",
            id="periodstodate_of_member",
        ),
        pytest.param(
            "toy",
            "WITH MEMBER [Measures].[R] AS 'RANK([Persona].[Pais].Members, "
            "[Persona].[Pais].Members, [Measures].[Total])' "
            "SELECT {[Measures].[R]} ON COLUMNS, "
            "{[Persona].[Pais].Members} ON ROWS FROM [Toy]",
            "RANK's first argument",
            id="rank_without_currentmember",
        ),
        pytest.param(
            "hier",
            "WITH MEMBER [Measures].[A] AS "
            "'(CLOSINGPERIOD([Fecha].[Mes].[1]), [Measures].[Total])' "
            "SELECT {[Measures].[A]} ON COLUMNS, "
            "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
            "OPENINGPERIOD/CLOSINGPERIOD needs a",
            id="closingperiod_of_member",
        ),
        pytest.param(
            "hier",
            "WITH MEMBER [Measures].[A] AS "
            "'(PARALLELPERIOD([Fecha].[Anio].[2024], 1), [Measures].[Total])' "
            "SELECT {[Measures].[A]} ON COLUMNS, "
            "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
            "PARALLELPERIOD needs a",
            id="parallelperiod_of_member",
        ),
        pytest.param(
            "toy",
            _SEL + "EXCEPT({[Persona].[Pais].Members}, "
            "CROSSJOIN({[Persona].[Pais].[AR]}, {[Fecha].[Anio].[2024]})) "
            "ON ROWS FROM [Toy]",
            "EXCEPT's second argument",
            id="except_removes_a_crossjoin",
        ),
        pytest.param(
            "toy",
            _SEL + "{[Persona].[Pais].[AR].[X]} ON ROWS FROM [Toy]",
            "rows axis items must be",
            id="rows_item_four_segments",
        ),
        pytest.param(
            "toy",
            "WITH MEMBER [Persona].[Pais].[G] AS "
            "'AGGREGATE({[Persona].[Pais].[AR]})' "
            "MEMBER [Persona].[Pais].[G] AS "
            "'AGGREGATE({[Persona].[Pais].[BR]})' "
            + _SEL + "{[Persona].[Pais].[G]} ON ROWS FROM [Toy]",
            "declared twice",
            id="custom_member_declared_twice",
        ),
        pytest.param(
            "toy",
            "WITH MEMBER [Persona].[Pais].[G] AS "
            "'AGGREGATE({[Persona].[Pais].[AR]}) [x]' "
            + _SEL + "{[Persona].[Pais].[G]} ON ROWS FROM [Toy]",
            "trailing tokens in custom member body",
            id="custom_member_trailing_tokens",
        ),
        pytest.param(
            "toy",
            "WITH MEMBER [Persona].[Pais].[G] AS "
            "'AGGREGATE({[Persona].[Pais].[AR], [Persona].[Pais].[AR]})' "
            + _SEL + "{[Persona].[Pais].[G]} ON ROWS FROM [Toy]",
            r"AGGREGATE body names \[AR\] twice",
            id="aggregate_body_repeats_member",
        ),
        pytest.param(
            "toy",
            _SEL + "{[Persona].[Pais].Members} DIMENSION PROPERTIES 5 "
            "ON ROWS FROM [Toy]",
            "expects a property name",
            id="dimension_properties_number",
        ),
        pytest.param(
            "toy",
            "WITH MEMBER [Measures].[A].Members AS '1' "
            + _SEL + "{[Persona].[Pais].Members} ON ROWS FROM [Toy]",
            "WITH MEMBER declares",
            id="with_member_of_members",
        ),
        pytest.param(
            "toy",
            "WITH MEMBER [Persona].[A] AS '1' "
            + _SEL + "{[Persona].[Pais].Members} ON ROWS FROM [Toy]",
            "two-segment WITH MEMBER",
            id="with_member_outside_measures",
        ),
        pytest.param(
            "toy",
            "WITH MEMBER [Measures].[A] AS "
            "'[Measures].[Total] [Measures].[Total]' "
            "SELECT {[Measures].[A]} ON COLUMNS, "
            "{[Persona].[Pais].Members} ON ROWS FROM [Toy]",
            "trailing tokens in calculated member body",
            id="calc_body_trailing_tokens",
        ),
        pytest.param(
            "toy",
            "WITH SET S AS '{[Persona].[Pais].Members}' "
            + _SEL + "{[Persona].[Pais].Members} ON ROWS FROM [Toy]",
            "WITH SET needs a",
            id="with_set_unbracketed_name",
        ),
        pytest.param(
            "toy",
            "WITH SET [S] AS '{[Persona].[Pais].Members} [x]' "
            + _SEL + "[S] ON ROWS FROM [Toy]",
            "trailing tokens in named set body",
            id="named_set_trailing_tokens",
        ),
        pytest.param(
            "toy",
            "SELECT CROSSJOIN({[Measures].[Total]}, {[Measures].[Cantidad]}) "
            "ON COLUMNS, {[Persona].[Pais].Members} ON ROWS FROM [Toy]",
            "COLUMNS axis must be",
            id="columns_axis_crossjoin",
        ),
        pytest.param(
            "toy",
            _SEL + "{[Fecha].[Anio].Members} ON ROWS FROM [Toy] "
            "WHERE {([Persona].[Pais].Members)}",
            "slicer-tuple members",
            id="slicer_tuple_of_members",
        ),
        pytest.param(
            "toy",
            "WITH MEMBER [Persona].[Pais].[G] AS "
            "'AGGREGATE({[Persona].[Pais].[AR], [Persona].[Pais].[BR]})' "
            + _SEL + "{[Fecha].[Anio].Members} ON ROWS FROM [Toy] "
            "WHERE {([Persona].[Pais].[G], [Cliente].[Seg].[A])}",
            "inside a compound-slicer tuple",
            id="slicer_tuple_custom_member",
        ),
        pytest.param(
            "toy",
            _SEL + "{[Fecha].[Anio].Members} ON ROWS FROM [Toy] "
            "WHERE {[Persona].[Pais].Members}",
            "set-slicer members",
            id="set_slicer_of_members",
        ),
        pytest.param(
            "hier",
            "WITH MEMBER [Measures].[C] AS '[Measures].[Total] * 2' "
            "MEMBER [Measures].[A] AS 'SUM(LASTPERIODS(2, "
            "[Fecha].[Anio].CurrentMember), [Measures].[C])' "
            "SELECT {[Measures].[A]} ON COLUMNS, "
            "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
            "LASTPERIODS aggregates BASE measures only",
            id="lastperiods_of_calc_member",
        ),
        pytest.param(
            "hier",
            "WITH MEMBER [Measures].[A] AS 'SUM(LASTPERIODS(2, "
            "[Fecha].[Anio].CurrentMember), [Measures].[Total])' "
            "SELECT {[Measures].[A]} ON COLUMNS, "
            "{[Fecha].[(All)], [Fecha].[Anio].Members} ON ROWS FROM [Toy]",
            "LASTPERIODS needs a single-grain rows axis",
            id="lastperiods_over_all_lattice",
        ),
        pytest.param(
            "hier",
            "WITH MEMBER [Measures].[A] AS 'SUM(LASTPERIODS(2, "
            "[Fecha].[Dia].CurrentMember), [Measures].[Total])' "
            "SELECT {[Measures].[A]} ON COLUMNS, "
            "{[Fecha].[Dia].Members} ON ROWS FROM [Toy]",
            "more than one level below the hierarchy top",
            id="lastperiods_two_levels_down",
        ),
        pytest.param(
            "hier",
            "WITH MEMBER [Measures].[A] AS 'SUM(LASTPERIODS(2, "
            "[Persona].[Pais].CurrentMember), [Measures].[Total])' "
            "SELECT {[Measures].[A]} ON COLUMNS, "
            "{[Persona].[Pais].Members} ON ROWS FROM [Toy]",
            "LASTPERIODS needs integer-keyed levels",
            id="lastperiods_string_level",
        ),
        pytest.param(
            "hier",
            "WITH MEMBER [Measures].[A] AS "
            "'([Measures].[Total], PARALLELPERIOD([Fecha].[Dia], 1))' "
            "SELECT {[Measures].[A]} ON COLUMNS, "
            "{[Fecha].[Dia].Members} ON ROWS FROM [Toy]",
            "shifts more than one level below",
            id="parallelperiod_two_levels_down",
        ),
    ],
)
def test_mdx_guard_errors_are_loud(spark, kind, bad, match):
    with pytest.raises(MdxError, match=match):
        mdx_query(_guard_cube(spark, kind), bad).collect()
