"""Aggregate-table + navigator tests: mergeable-state re-aggregation
equals the fact path for every aggregator, the navigator picks the
smallest covering rollup and falls back to the fact, and parquet-backed
rollups serve without touching the fact."""

from __future__ import annotations

import dataclasses

import pytest

from datawarehousefinal_spark.operators.aggnav import (
    choose_aggregate,
    grain_columns,
    materialize_aggregate,
)
from datawarehousefinal_spark.operators.mdx import (
    CubeDef,
    MdxError,
    mdx_query,
    parse_mdx,
)


def _cube(spark):
    """Toy cube with every supported aggregator and UNEVEN group sizes,
    so an average-of-averages shortcut produces a DIFFERENT number than
    the correct sum/count re-fold (the classic aggregate-table bug)."""

    def star_builder():
        return spark.createDataFrame(
            [
                (2024, 1, "AR", 10.0),
                (2024, 1, "AR", 20.0),
                (2024, 1, "BR", 90.0),
                (2024, 2, "AR", 40.0),
                (2025, 1, "BR", 50.0),
                (2025, 2, "AR", 60.0),
                (2025, 2, "AR", 80.0),
            ],
            "anio int, mes int, pais string, medida double",
        )

    return CubeDef(
        name="Toy",
        star_builder=star_builder,
        levels={
            "Fecha.Anio": "anio",
            "Fecha.Mes": "mes",
            "Persona.Pais": "pais",
        },
        hierarchies={"Fecha": ["Anio", "Mes"]},
        measures={
            "Cantidad": ("count", "medida", "n"),
            "Total": ("sum", "medida", "sum_medida"),
            "Promedio": ("avg", "medida", "avg_medida"),
            "Minimo": ("min", "medida", "min_medida"),
            "Maximo": ("max", "medida", "max_medida"),
        },
    )


_ALL_MEASURES_BY_YEAR = """
SELECT {[Measures].[Cantidad], [Measures].[Total], [Measures].[Promedio],
        [Measures].[Minimo], [Measures].[Maximo]} ON COLUMNS,
       {[Fecha].[Anio].Members} ON ROWS
FROM [Toy]
"""


def _sorted_rows(df):
    # None-safe ordering: grouping-set All cells carry NULL keys
    return sorted(
        map(tuple, df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def test_reagg_matches_direct_for_all_aggregators(spark):
    cube = _cube(spark)
    agg = materialize_aggregate(cube, ["Fecha.Mes", "Persona.Pais"])
    got = mdx_query(
        dataclasses.replace(cube, aggregates=[agg]), _ALL_MEASURES_BY_YEAR
    )
    want = mdx_query(cube, _ALL_MEASURES_BY_YEAR)
    assert _sorted_rows(got) == _sorted_rows(want)
    # the avg is the correct 2024 value 40.0 (160/4), NOT the
    # average-of-cell-averages (15+90+40)/3
    by_year = {r["anio"]: r["avg_medida"] for r in got.collect()}
    assert by_year[2024] == pytest.approx(40.0)


def test_navigator_picks_smallest_covering(spark):
    cube = _cube(spark)
    fine = materialize_aggregate(
        cube, ["Fecha.Mes", "Persona.Pais"], name="fine"
    )
    coarse = materialize_aggregate(cube, ["Fecha.Anio"], name="coarse")
    sel = parse_mdx(
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        cube,
    )
    assert choose_aggregate(cube, sel, [fine, coarse]).name == "coarse"
    # month grain: only the fine table covers
    sel2 = parse_mdx(
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Mes].Members} ON ROWS FROM [Toy]",
        cube,
    )
    assert choose_aggregate(cube, sel2, [fine, coarse]).name == "fine"


def test_navigator_requires_filter_columns_in_grain(spark):
    cube = _cube(spark)
    years_only = materialize_aggregate(cube, ["Fecha.Anio"])
    # slicer on pais: the year-grain table cannot apply it pre-re-agg
    sel = parse_mdx(
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy] "
        "WHERE ([Persona].[Pais].[AR])",
        cube,
    )
    assert choose_aggregate(cube, sel, [years_only]) is None
    # ... and the navigated query silently answers from the fact
    q = (
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy] "
        "WHERE ([Persona].[Pais].[AR])"
    )
    got = mdx_query(dataclasses.replace(cube, aggregates=[years_only]), q)
    want = mdx_query(cube, q)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_member_dice_routes_and_filters_before_reagg(spark):
    cube = _cube(spark)
    agg = materialize_aggregate(cube, ["Fecha.Anio", "Persona.Pais"])
    q = (
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "CROSSJOIN({[Fecha].[Anio].Members}, {[Persona].[Pais].[AR]}) "
        "ON ROWS FROM [Toy]"
    )
    got = mdx_query(dataclasses.replace(cube, aggregates=[agg]), q)
    want = mdx_query(cube, q)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_all_lattice_through_rollup(spark):
    cube = _cube(spark)
    agg = materialize_aggregate(cube, ["Fecha.Mes", "Persona.Pais"])
    q = (
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "CROSSJOIN({[Fecha].[(All)], [Fecha].[Anio].Members}, "
        "{[Persona].[Pais].[(All)], [Persona].[Pais].Members}) ON ROWS "
        "FROM [Toy]"
    )
    got = mdx_query(dataclasses.replace(cube, aggregates=[agg]), q)
    want = mdx_query(cube, q)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_topcount_and_calc_member_through_rollup(spark):
    cube = _cube(spark)
    agg = materialize_aggregate(cube, ["Persona.Pais"])
    q = (
        "WITH MEMBER [Measures].[Ticket] AS "
        "'[Measures].[Total] / [Measures].[Cantidad]' "
        "SELECT {[Measures].[Ticket]} ON COLUMNS, "
        "TOPCOUNT({[Persona].[Pais].Members}, 1, [Measures].[Ticket]) "
        "ON ROWS FROM [Toy]"
    )
    got = mdx_query(dataclasses.replace(cube, aggregates=[agg]), q)
    want = mdx_query(cube, q)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_parquet_rollup_serves_without_the_fact(spark, tmp_path):
    cube = _cube(spark)
    agg = materialize_aggregate(
        cube,
        ["Fecha.Mes", "Persona.Pais"],
        path=str(tmp_path / "agg_mes_pais"),
    )
    # the rollup is smaller than the fact and lives in parquet
    assert agg.table.count() < cube.star_builder().count()
    got = mdx_query(
        dataclasses.replace(cube, aggregates=[agg]), _ALL_MEASURES_BY_YEAR
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in plan.lower()
    # the toy fact is an in-memory LocalTableScan; a navigated plan
    # must not contain it
    assert "LocalTableScan" not in plan
    assert _sorted_rows(got) == _sorted_rows(
        mdx_query(cube, _ALL_MEASURES_BY_YEAR)
    )


def test_grain_columns_expand_hierarchy_chain(spark):
    cube = _cube(spark)
    assert grain_columns(cube, ["Fecha.Mes"]) == ("anio", "mes")
    assert grain_columns(cube, ["Fecha.Mes", "Fecha.Anio"]) == (
        "anio",
        "mes",
    )
    with pytest.raises(MdxError):
        grain_columns(cube, ["Fecha"])
    with pytest.raises(MdxError):
        grain_columns(cube, [])


def test_aggnav_face_registered():
    import __spark_entry__ as m

    qs, os_ = m.queries(), m.oracle_sql()
    assert "mdx_aggregate_navigator" in qs
    assert "mdx_aggregate_navigator" in os_


# -- incremental rollup maintenance ------------------------------------------


def test_ingest_merge_equals_full_rebuild(spark):
    from datawarehousefinal_spark.operators.aggnav import (
        ingest_into_aggregate,
    )

    cube = _cube(spark)
    star = cube.star_builder()
    # overlapping cells: both halves contribute to (2024, 1, AR)
    base = star.filter("medida <= 40.0")
    delta = star.filter("medida > 40.0")
    rollup = materialize_aggregate(
        cube, ["Fecha.Mes", "Persona.Pais"], source=base
    )
    merged = ingest_into_aggregate(cube, rollup, delta)
    full = materialize_aggregate(cube, ["Fecha.Mes", "Persona.Pais"])
    assert sorted(merged.table.columns) == sorted(full.table.columns)
    got = _sorted_rows(merged.table.select(*sorted(merged.table.columns)))
    want = _sorted_rows(full.table.select(*sorted(full.table.columns)))
    assert got == want


def test_ingest_handles_new_and_untouched_cells(spark):
    from datawarehousefinal_spark.operators.aggnav import (
        ingest_into_aggregate,
    )
    from pyspark.sql import functions as F

    cube = _cube(spark)
    star = cube.star_builder()
    base = star.filter(F.col("anio") == 2024)
    delta = star.filter(F.col("anio") == 2025)  # entirely new cells
    rollup = materialize_aggregate(cube, ["Fecha.Anio"], source=base)
    merged = ingest_into_aggregate(cube, rollup, delta)
    rows = {r["anio"]: r.asDict() for r in merged.table.collect()}
    # untouched 2024 cell unchanged, new 2025 cell present
    assert rows[2024]["n__cnt"] == 4 and rows[2025]["n__cnt"] == 3
    assert rows[2024]["min_medida__min"] == 10.0
    assert rows[2025]["max_medida__max"] == 80.0


def test_ingest_empty_delta_is_identity(spark):
    from datawarehousefinal_spark.operators.aggnav import (
        ingest_into_aggregate,
    )

    cube = _cube(spark)
    star = cube.star_builder()
    rollup = materialize_aggregate(cube, ["Fecha.Anio"])
    merged = ingest_into_aggregate(cube, rollup, star.filter("anio < 0"))
    got = _sorted_rows(merged.table.select(*sorted(merged.table.columns)))
    want = _sorted_rows(rollup.table.select(*sorted(rollup.table.columns)))
    assert got == want


def test_incremental_rollup_face_registered():
    import __spark_entry__ as m

    qs, os_ = m.queries(), m.oracle_sql()
    assert "incremental_aggregate_rollup" in qs
    assert "incremental_aggregate_rollup" in os_


# -- round-12: navigator through the front door -------------------------------


def test_front_door_routes_through_registered_aggregates(spark, tmp_path):
    # Mondrian's deployment shape: aggregates are declared ON the cube,
    # and plain mdx_query — no special entry point — answers a covered
    # query from the rollup
    cube = _cube(spark)
    agg = materialize_aggregate(
        cube,
        ["Fecha.Mes", "Persona.Pais"],
        path=str(tmp_path / "agg_front_door"),
    )
    baseline = _sorted_rows(mdx_query(cube, _ALL_MEASURES_BY_YEAR))
    cube.aggregates.append(agg)
    routed = mdx_query(cube, _ALL_MEASURES_BY_YEAR)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in plan.lower()  # reads the rollup file ...
    assert "LocalTableScan" not in plan  # ... never the in-memory fact
    assert _sorted_rows(routed) == baseline


def test_front_door_falls_back_when_nothing_covers(spark, tmp_path):
    cube = _cube(spark)
    cube.aggregates.append(
        materialize_aggregate(
            cube, ["Fecha.Anio"], path=str(tmp_path / "agg_years")
        )
    )
    # slicer on pais is outside the year grain: the fact must answer
    q = (
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy] "
        "WHERE ([Persona].[Pais].[AR])"
    )
    routed = mdx_query(cube, q)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan.lower()  # never the (non-covering) rollup
    bare = _cube(spark)  # no aggregates registered
    assert _sorted_rows(routed) == _sorted_rows(mdx_query(bare, q))


def test_partitioned_rollup_prunes_at_the_scan(spark, tmp_path):
    # production layout: rollup partitioned by the top time level — a
    # year-diced query must PRUNE to the diced partition at the scan
    cube = _cube(spark)
    agg = materialize_aggregate(
        cube,
        ["Fecha.Mes", "Persona.Pais"],
        path=str(tmp_path / "agg_part"),
        partition_by="Fecha.Anio",
    )
    q = (
        "SELECT {[Measures].[Total], [Measures].[Promedio]} ON COLUMNS, "
        "{[Fecha].[Mes].Members} ON ROWS FROM [Toy] "
        "WHERE ([Fecha].[Anio].[2024])"
    )
    got = mdx_query(dataclasses.replace(cube, aggregates=[agg]), q)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the dice reached the partition column, not just a post-scan filter
    import re as _re

    pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "2024" in pf
    assert _sorted_rows(got) == _sorted_rows(mdx_query(cube, q))


def test_partitioned_rollup_requires_path_and_top_level(spark, tmp_path):
    cube = _cube(spark)
    with pytest.raises(MdxError, match="storage property"):
        materialize_aggregate(
            cube, ["Fecha.Mes"], partition_by="Fecha.Anio"
        )
    with pytest.raises(MdxError, match="ancestor chain"):
        materialize_aggregate(
            cube,
            ["Fecha.Mes"],
            path=str(tmp_path / "x"),
            partition_by="Fecha.Mes",
        )
    with pytest.raises(MdxError, match="not part of the"):
        materialize_aggregate(
            cube,
            ["Persona.Pais"],
            path=str(tmp_path / "y"),
            partition_by="Fecha.Anio",
        )


def test_partitioned_rollup_ingest_still_merges(spark, tmp_path):
    # the mergeable-state algebra is layout-independent: ingest into a
    # partitioned rollup equals a full rebuild
    from datawarehousefinal_spark.operators.aggnav import (
        ingest_into_aggregate,
    )

    cube = _cube(spark)
    full = cube.star_builder()
    old = full.filter("anio = 2024")
    delta = full.filter("anio = 2025")
    agg = materialize_aggregate(
        cube,
        ["Fecha.Mes"],
        path=str(tmp_path / "agg_ing"),
        partition_by="Fecha.Anio",
        source=old,
    )
    merged = ingest_into_aggregate(cube, agg, delta)
    rebuilt = materialize_aggregate(cube, ["Fecha.Mes"], source=full)
    assert _sorted_rows(merged.table.select(*sorted(merged.table.columns))) == \
        _sorted_rows(rebuilt.table.select(*sorted(rebuilt.table.columns)))


def test_time_intelligence_through_rollup(spark):
    # PARALLELPERIOD / PERIODSTODATE evaluate over re-folded rollup
    # states exactly as over the fact — including the diced
    # cube-context recompute, which re-aggregates the ROLLUP (all
    # cells present; dices are query-time)
    cube = _cube(spark)
    cube2 = _cube(spark)
    cube2.period_lengths["Fecha.Mes"] = 12
    cube.period_lengths["Fecha.Mes"] = 12
    agg = materialize_aggregate(cube, ["Fecha.Mes"])
    for q in (
        """
        WITH MEMBER [Measures].[YoY] AS
             '[Measures].[Total] -
              ([Measures].[Total], PARALLELPERIOD([Fecha].[Anio], 1))'
        SELECT {[Measures].[Total], [Measures].[YoY]} ON COLUMNS,
               {[Fecha].[Mes].Members} ON ROWS FROM [Toy]
        """,
        """
        WITH MEMBER [Measures].[Acum] AS
             'SUM(PERIODSTODATE([Fecha].[Anio]), [Measures].[Total])'
        SELECT {[Measures].[Acum]} ON COLUMNS,
               {[Fecha].[Mes].[2]} ON ROWS FROM [Toy]
        """,
    ):
        got = mdx_query(dataclasses.replace(cube, aggregates=[agg]), q)
        want = mdx_query(cube2, q)
        assert _sorted_rows(got) == _sorted_rows(want), q


# ---------------------------------------------------------------------------
# distinct-count measures — the non-mergeable aggregator
# ---------------------------------------------------------------------------


def _dc_cube(spark):
    """Cube with a distinct-count measure whose value sets OVERLAP
    across cells (customer C1 appears in both months of 2024), so a
    sum-of-cell-distincts shortcut gives a DIFFERENT (wrong) number
    than the true year-grain distinct."""

    def star_builder():
        return spark.createDataFrame(
            [
                (2024, 1, "C1", 10.0),
                (2024, 1, "C2", 20.0),
                (2024, 2, "C1", 30.0),
                (2024, 2, "C3", 40.0),
                (2025, 1, "C2", 50.0),
            ],
            "anio int, mes int, cliente string, medida double",
        )

    return CubeDef(
        name="Toy",
        star_builder=star_builder,
        levels={"Fecha.Anio": "anio", "Fecha.Mes": "mes"},
        hierarchies={"Fecha": ["Anio", "Mes"]},
        measures={
            "Cantidad": ("count", "medida", "n"),
            "Clientes": ("distinct-count", "cliente", "clientes_distintos"),
        },
    )


def test_distinct_count_fact_path(spark):
    rows = mdx_query(
        _dc_cube(spark),
        "SELECT {[Measures].[Clientes]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
    ).collect()
    # 2024 touches C1,C2,C3 (C1 in both months counts ONCE) — the
    # sum-of-monthly-distincts wrong answer would be 4
    assert {(r["anio"], r["clientes_distintos"]) for r in rows} == {
        (2024, 3), (2025, 1),
    }


def test_distinct_count_navigator_exact_grain_serves(spark):
    cube = _dc_cube(spark)
    agg = materialize_aggregate(cube, ["Fecha.Anio"], name="by_year")
    q = (
        "SELECT {[Measures].[Cantidad], [Measures].[Clientes]} ON "
        "COLUMNS, {[Fecha].[Anio].Members} ON ROWS FROM [Toy]"
    )
    sel = parse_mdx(q, cube)
    assert choose_aggregate(cube, sel, [agg]).name == "by_year"
    got = mdx_query(dataclasses.replace(cube, aggregates=[agg]), q)
    want = mdx_query(cube, q)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_distinct_count_navigator_refuses_coarser_grain(spark):
    cube = _dc_cube(spark)
    fine = materialize_aggregate(
        cube, ["Fecha.Mes"], name="by_month"
    )  # grain (anio, mes)
    q = (
        "SELECT {[Measures].[Clientes]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]"
    )
    sel = parse_mdx(q, cube)
    # year query over a month-grain table would re-fold overlapping
    # distinct sets — the navigator must fall back to the fact
    assert choose_aggregate(cube, sel, [fine]) is None
    got = mdx_query(dataclasses.replace(cube, aggregates=[fine]), q)
    assert {(r["anio"], r["clientes_distintos"]) for r in got.collect()} == {
        (2024, 3), (2025, 1),
    }
    # a measure WITHOUT distinct-count still routes to the same table
    sel2 = parse_mdx(
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        cube,
    )
    assert choose_aggregate(cube, sel2, [fine]).name == "by_month"


def test_distinct_count_navigator_refuses_all_lattice(spark):
    cube = _dc_cube(spark)
    agg = materialize_aggregate(cube, ["Fecha.Anio"], name="by_year")
    sel = parse_mdx(
        "SELECT {[Measures].[Clientes]} ON COLUMNS, "
        "{[Fecha].[(All)], [Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        cube,
    )
    # the () grouping set needs a re-fold across years — fact only
    assert choose_aggregate(cube, sel, [agg]) is None


def test_distinct_count_ingest_is_loud(spark):
    from datawarehousefinal_spark.operators.aggnav import (
        ingest_into_aggregate,
    )

    cube = _dc_cube(spark)
    agg = materialize_aggregate(cube, ["Fecha.Anio"])
    delta = spark.createDataFrame(
        [(2025, 2, "C9", 5.0)],
        "anio int, mes int, cliente string, medida double",
    )
    with pytest.raises(MdxError, match="not mergeable"):
        ingest_into_aggregate(cube, agg, delta)


def test_distinct_count_exact_grain_with_dice_and_slicer(spark):
    cube = _dc_cube(spark)
    agg = materialize_aggregate(cube, ["Fecha.Mes"], name="by_month")
    # month-grain query (exact grain) diced to one year still serves
    # from the rollup: filters select cells, no re-fold happens
    q = (
        "SELECT {[Measures].[Clientes]} ON COLUMNS, "
        "{[Fecha].[Anio].[2024].Children} ON ROWS FROM [Toy]"
    )
    sel = parse_mdx(q, cube)
    assert choose_aggregate(cube, sel, [agg]).name == "by_month"
    got = mdx_query(dataclasses.replace(cube, aggregates=[agg]), q)
    want = mdx_query(cube, q)
    assert _sorted_rows(got) == _sorted_rows(want)


# ---------------------------------------------------------------------------
# median measures — the second non-mergeable aggregator
# ---------------------------------------------------------------------------


def _med_cube(spark):
    """Cube with a median measure whose cell medians do NOT combine:
    2024's months hold [10, 20] and [90] — the month-median re-fold
    ("median of medians") would say 52.5, the true year median is 20."""

    def star_builder():
        return spark.createDataFrame(
            [
                (2024, 1, 10.0),
                (2024, 1, 20.0),
                (2024, 2, 90.0),
                (2025, 1, 40.0),
            ],
            "anio int, mes int, medida double",
        )

    return CubeDef(
        name="Toy",
        star_builder=star_builder,
        levels={"Fecha.Anio": "anio", "Fecha.Mes": "mes"},
        hierarchies={"Fecha": ["Anio", "Mes"]},
        measures={
            "Cantidad": ("count", "medida", "n"),
            "Mediana": ("median", "medida", "mediana_medida"),
        },
    )


def test_median_fact_path(spark):
    rows = mdx_query(
        _med_cube(spark),
        "SELECT {[Measures].[Mediana]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
    ).collect()
    assert {(r["anio"], r["mediana_medida"]) for r in rows} == {
        (2024, 20.0), (2025, 40.0),
    }


def test_median_navigator_exact_grain_serves(spark):
    cube = _med_cube(spark)
    agg = materialize_aggregate(cube, ["Fecha.Anio"], name="by_year")
    q = (
        "SELECT {[Measures].[Cantidad], [Measures].[Mediana]} ON "
        "COLUMNS, {[Fecha].[Anio].Members} ON ROWS FROM [Toy]"
    )
    sel = parse_mdx(q, cube)
    assert choose_aggregate(cube, sel, [agg]).name == "by_year"
    got = mdx_query(dataclasses.replace(cube, aggregates=[agg]), q)
    want = mdx_query(cube, q)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_median_navigator_refuses_coarser_grain(spark):
    cube = _med_cube(spark)
    fine = materialize_aggregate(cube, ["Fecha.Mes"], name="by_month")
    q = (
        "SELECT {[Measures].[Mediana]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]"
    )
    sel = parse_mdx(q, cube)
    # the median-of-medians re-fold would answer 52.5 for 2024
    assert choose_aggregate(cube, sel, [fine]) is None
    got = mdx_query(dataclasses.replace(cube, aggregates=[fine]), q)
    assert {(r["anio"], r["mediana_medida"]) for r in got.collect()} == {
        (2024, 20.0), (2025, 40.0),
    }


def test_median_ingest_is_loud(spark):
    from datawarehousefinal_spark.operators.aggnav import (
        ingest_into_aggregate,
    )

    cube = _med_cube(spark)
    agg = materialize_aggregate(cube, ["Fecha.Anio"])
    delta = spark.createDataFrame(
        [(2025, 2, 5.0)], "anio int, mes int, medida double"
    )
    with pytest.raises(MdxError, match="not mergeable"):
        ingest_into_aggregate(cube, agg, delta)


# ---------------------------------------------------------------------------
# aggregate advisor — greedy view selection over an MDX workload
# ---------------------------------------------------------------------------


def _advisor_workload():
    return [
        # year grain (2 queries want it — high benefit, tiny table)
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        # month × pais grain (fine)
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "CROSSJOIN({[Fecha].[Mes].Members}, {[Persona].[Pais].Members}) "
        "ON ROWS FROM [Toy]",
        # pais grain with a year slicer: requirement {anio, pais}
        "SELECT {[Measures].[Total]} ON COLUMNS, "
        "{[Persona].[Pais].Members} ON ROWS FROM [Toy] "
        "WHERE ([Fecha].[Anio].[2024])",
    ]


def test_advisor_recommends_covering_grains(spark):
    from datawarehousefinal_spark.operators.aggnav import (
        recommend_aggregates,
    )

    cube = _cube(spark)
    recs = recommend_aggregates(
        cube, _advisor_workload(), max_tables=3
    )
    grains = [r.grain for r in recs]
    # greedy order by marginal saving over the 7-row toy fact
    # (5 distinct fine cells, 4 (anio,pais) cells, 2 years):
    # ("anio",) first (2 queries × (7-2) = 10), then the fine grain
    # (queries 2+3, 2 × (7-5) = 4), then ("anio","pais") (query 3,
    # 5-4 = 1)
    assert grains == [
        ("anio",), ("anio", "mes", "pais"), ("anio", "pais"),
    ]
    assert set(recs[0].covers) == {0, 1}
    # covers = every query the table COULD answer (the navigator's
    # coverage), not just the ones it newly serves: the fine grain
    # covers the year queries too
    assert set(recs[1].covers) == {0, 1, 2, 3}
    # every recommended table really routes through the navigator:
    # each query routes via at least one of its covering tables
    from datawarehousefinal_spark.operators.aggnav import AggTable

    for i, q in enumerate(_advisor_workload()):
        sel = parse_mdx(q, cube)
        stubs = [
            AggTable(name=f"s{j}", grain=r.grain, table=None)
            for j, r in enumerate(recs)
            if i in r.covers
        ]
        assert stubs and choose_aggregate(cube, sel, stubs) is not None


def test_advisor_cell_counts_and_savings(spark):
    from datawarehousefinal_spark.operators.aggnav import (
        recommend_aggregates,
    )

    cube = _cube(spark)
    recs = recommend_aggregates(cube, _advisor_workload(), max_tables=3)
    by_grain = {r.grain: r for r in recs}
    # toy star: 7 rows; distinct (anio)=2, (anio,pais)=4, fine=5
    assert by_grain[("anio",)].cells == 2
    assert by_grain[("anio", "pais")].cells == 4
    assert by_grain[("anio", "mes", "pais")].cells == 5
    # marginal savings at selection time (see greedy order above)
    assert by_grain[("anio",)].saving == 10
    assert by_grain[("anio", "mes", "pais")].saving == 4
    assert by_grain[("anio", "pais")].saving == 1


def test_advisor_max_tables_and_determinism(spark):
    from datawarehousefinal_spark.operators.aggnav import (
        recommend_aggregates,
    )

    cube = _cube(spark)
    one = recommend_aggregates(cube, _advisor_workload(), max_tables=1)
    assert len(one) == 1 and one[0].grain == ("anio",)
    again = recommend_aggregates(cube, _advisor_workload(), max_tables=3)
    assert [r.grain for r in again] == [
        r.grain
        for r in recommend_aggregates(
            cube, _advisor_workload(), max_tables=3
        )
    ]


def test_advisor_respects_non_mergeable_exact_grain(spark):
    # a distinct-count query is covered ONLY by its exact grain: the
    # finer (anio, mes) candidate covers the count query but NOT the
    # distinct query at (anio,) — coverage is choose_aggregate itself
    from datawarehousefinal_spark.operators.aggnav import (
        recommend_aggregates,
    )

    cube = _dc_cube(spark)
    workload = [
        "SELECT {[Measures].[Clientes]} ON COLUMNS, "
        "{[Fecha].[Anio].Members} ON ROWS FROM [Toy]",
        "SELECT {[Measures].[Cantidad]} ON COLUMNS, "
        "{[Fecha].[Mes].Members} ON ROWS FROM [Toy]",
    ]
    recs = recommend_aggregates(cube, workload, max_tables=3)
    by_grain = {r.grain: r for r in recs}
    assert by_grain[("anio",)].covers == (0,)
    assert by_grain[("anio", "mes")].covers == (1,)


def test_advisor_materialized_picks_serve_the_workload(spark):
    # end-to-end: materialize what the advisor says, register on the
    # cube, and every workload query answers identically to the fact
    from datawarehousefinal_spark.operators.aggnav import (
        materialize_aggregate,
        recommend_aggregates,
    )

    cube = _cube(spark)
    recs = recommend_aggregates(cube, _advisor_workload(), max_tables=2)
    tables = [
        materialize_aggregate(
            cube,
            [
                next(
                    spec
                    for spec, col in {
                        "Fecha.Anio": "anio",
                        "Fecha.Mes": "mes",
                        "Persona.Pais": "pais",
                    }.items()
                    if col == c
                )
                for c in r.grain
            ],
            name=f"rec_{i}",
        )
        for i, r in enumerate(recs)
    ]
    for q in _advisor_workload():
        got = mdx_query(dataclasses.replace(cube, aggregates=tables), q)
        want = mdx_query(cube, q)
        assert _sorted_rows(got) == _sorted_rows(want)


# -- round-13: advisor → materialize → register, one gesture ------------------


def test_materialize_recommended_end_to_end(spark, tmp_path):
    from datawarehousefinal_spark.operators.aggnav import (
        materialize_recommended,
    )

    cube = _cube(spark)
    workload = [
        _ALL_MEASURES_BY_YEAR,
        """
        SELECT {[Measures].[Total]} ON COLUMNS,
               {[Fecha].[Mes].Members} ON ROWS FROM [Toy]
        """,
    ]
    baselines = [_sorted_rows(mdx_query(_cube(spark), q)) for q in workload]
    tables = materialize_recommended(
        cube, workload, max_tables=2, path_prefix=str(tmp_path / "recs")
    )
    # picks are registered on the cube (Mondrian <AggName> shape) ...
    assert tables and cube.aggregates == tables
    for q, want in zip(workload, baselines):
        routed = mdx_query(cube, q)
        plan = routed._jdf.queryExecution().executedPlan().toString()
        # ... and the workload then provably routes to the rollup files
        assert "parquet" in plan.lower()
        assert "LocalTableScan" not in plan
        assert _sorted_rows(routed) == want
