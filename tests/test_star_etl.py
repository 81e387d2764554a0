"""Golden end-to-end star ETL test (SURVEY.md §5.2-5.3): synthesize the
reference's 25-column ESI shape (FIXTURES.md §1), run the full
union → clean → dimension build + FK attach → filter_split → denormalize
pipeline, and assert the warehouse invariants the reference never tested:

- dimension cardinalities == distinct natural-key combos
- surrogate keys dense and unique
- zero orphan FKs in either fact table
- |fact_emigrante| + |fact_inmigrante| == |cleaned input| (null-safe split)
- denormalized width/row preservation
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehousefinal_spark.functions.cleaning import (
    sentinel_to_null,
    spanish_month_number,
)
from datawarehousefinal_spark.functions.dates import concat_date_nonpadded
from datawarehousefinal_spark.functions.textnorm import normalize_text
from datawarehousefinal_spark.operators.dataset import denormalize, union_with_provenance
from datawarehousefinal_spark.operators.star import filter_split, union_sources
from datawarehousefinal_spark.operators.surrogate import (
    attach_surrogate_key,
    build_dimension,
)

MONTHS = ["enero", "febrero", "marzo", "abril", "mayo", "junio"]
SEXES = ["Hombre", "Mujer"]
NACS = ["Ecuatoriana", "Estados Unidos de América", "Perú"]
VIAS = ["Vía Aérea", "Vía terrestre", "  VÍA MARITIMO "]
JEFS = [("  Quito  ", "Pichincha", "Quito"), ("Huaquillas", "El Oro", "Huaquillas")]
OCUS = [("Profesionales", "Ingeniero de Sistemas"), ("Estudiantes", "Estudiante")]


def _yearly_source(spark, year: int, n: int):
    rows = []
    for i in range(n):
        jef = JEFS[i % 2]
        ocu = OCUS[i % 2]
        rows.append(
            (
                # tip_movi with dirty case/padding; every 9th row NULL to
                # exercise the null-routing of the filter split
                (None if i % 9 == 0 else ["entrada", " ENTRADA ", "salida", "Salida"][i % 4]),
                year,
                MONTHS[i % len(MONTHS)],
                (i % 28) + 1,
                SEXES[i % 2],
                NACS[i % 3],
                VIAS[i % 3],
                jef[0], jef[1], jef[2],
                ocu[0], ocu[1],
                # edad: numeric string with the reference's sentinel mixed in
                ("sin especificar" if i % 7 == 0 else str(18 + (i % 60))),
            )
        )
    return spark.createDataFrame(
        rows,
        [
            "tip_movi", "anio_movi", "mes_movi", "dia_movi",
            "sex_migr", "nac_migr", "via_tran",
            "jef_migr", "pro_jefm", "can_jefm",
            "ocu_class", "ocu_migr", "edad",
        ],
    )


# (dimension name, natural keys, surrogate-key column)
DIM_SPECS = [
    ("dim_persona", ["sex_migr", "nac_migr"], "id_persona"),
    ("dim_transporte", ["via_tran"], "id_transporte"),
    ("dim_frontera", ["jef_migr", "pro_jefm", "can_jefm"], "id_frontera"),
    ("dim_ocupacion", ["ocu_class", "ocu_migr"], "id_ocupacion"),
    ("dim_fecha", ["anio_movi", "mes_movi", "dia_movi", "fecha_completa"], "id_fecha"),
]


@pytest.fixture(scope="module")
def star(spark):
    sources = [_yearly_source(spark, y, 120) for y in (2018, 2019, 2020)]
    raw = union_sources(sources)

    cleaned = (
        raw.withColumn("tip_movi", normalize_text("tip_movi"))
        .withColumn("via_tran", normalize_text("via_tran"))
        .withColumn("jef_migr", F.trim("jef_migr"))
        .withColumn("edad", sentinel_to_null("edad").cast("int"))
        .withColumn("mes_movi", spanish_month_number("mes_movi"))
        .withColumn(
            "fecha_completa",
            concat_date_nonpadded("anio_movi", "mes_movi", "dia_movi"),
        )
    ).cache()

    dims, fact = {}, cleaned
    for name, keys, id_col in DIM_SPECS:
        dims[name] = build_dimension(cleaned, keys, id_col)
        fact = attach_surrogate_key(fact, dims[name], keys, id_col)
    fact = fact.select(*[s[2] for s in DIM_SPECS], "edad", "tip_movi")
    entrada, salida = filter_split(fact, F.col("tip_movi") == "entrada")
    return {
        "raw": raw,
        "cleaned": cleaned,
        "dims": dims,
        "fact_inmigrante": entrada.drop("tip_movi"),
        "fact_emigrante": salida.drop("tip_movi"),
    }


def test_dim_cardinalities(star):
    cleaned, dims = star["cleaned"], star["dims"]
    for name, keys, _ in DIM_SPECS:
        expected = cleaned.select(*keys).distinct().count()
        assert dims[name].count() == expected, name


def test_surrogate_keys_dense_unique(star):
    for name, _, id_col in DIM_SPECS:
        dim = star["dims"][name]
        ids = sorted(r[id_col] for r in dim.select(id_col).collect())
        assert ids == list(range(1, len(ids) + 1)), name


def test_no_orphan_fks(star):
    for fact_name in ("fact_inmigrante", "fact_emigrante"):
        fact = star[fact_name]
        n = fact.count()
        for name, _, id_col in DIM_SPECS:
            dim = star["dims"][name]
            joined = fact.join(dim.select(id_col), id_col, "inner").count()
            assert joined == n, (fact_name, name)


def test_split_partitions_input(star):
    n_in = star["cleaned"].count()
    n_e = star["fact_emigrante"].count()
    n_i = star["fact_inmigrante"].count()
    assert n_e + n_i == n_in
    # NULL tip_movi rows route to the false (emigrante) branch
    n_null = star["cleaned"].filter(F.col("tip_movi").isNull()).count()
    assert n_null > 0
    assert n_e >= n_null


def test_denormalized_dataset_shape(star):
    dims = {name: (star["dims"][name], id_col) for name, _, id_col in DIM_SPECS}
    wide = union_with_provenance(
        {
            "fact_inmigrante": denormalize(star["fact_inmigrante"], dims),
            "fact_emigrante": denormalize(star["fact_emigrante"], dims),
        }
    )
    assert wide.count() == star["cleaned"].count()
    # prefix-aliased dim columns all present (machineLearning.py:104-110)
    for expected in (
        "dim_persona_sex_migr", "dim_persona_nac_migr",
        "dim_transporte_via_tran", "dim_frontera_jef_migr",
        "dim_frontera_pro_jefm", "dim_frontera_can_jefm",
        "dim_ocupacion_ocu_migr", "dim_fecha_fecha_completa",
        "source_fact",
    ):
        assert expected in wide.columns, expected
    # no NULL dim attributes: every FK resolved (left joins hit)
    miss = wide.filter(F.col("dim_persona_sex_migr").isNull()).count()
    assert miss == 0


def test_cleaning_normalized_tip_movi_domain(star):
    vals = {
        r["tip_movi"]
        for r in star["cleaned"].select("tip_movi").distinct().collect()
    }
    assert vals == {"entrada", "salida", None}


def test_route_to_aggregate_picks_coarsest_and_errors_on_miss(spark):
    import pytest
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.olap import (
        measure_state,
        route_to_aggregate,
    )

    fact = spark.createDataFrame(
        [("2020", "a", 1.0), ("2020", "b", 3.0), ("2021", "a", 5.0)],
        ["y", "s", "m"],
    )
    pre = {
        "fine": (measure_state(fact, ["y", "s"], "m"), ["y", "s"]),
        "coarse": (measure_state(fact, ["y"], "m"), ["y"]),
    }
    name, served = route_to_aggregate(pre, ["y"])
    assert name == "coarse"
    got = {r["y"]: (r["cantidad_movimientos"], r["promedio_edades"])
           for r in served.collect()}
    assert got == {"2020": (2, 2.0), "2021": (1, 5.0)}

    # a finer-only catalog still serves correctly (re-aggregation)
    name2, served2 = route_to_aggregate({"fine": pre["fine"]}, ["y"])
    assert name2 == "fine"
    got2 = {r["y"]: (r["cantidad_movimientos"], r["promedio_edades"])
            for r in served2.collect()}
    assert got2 == got

    with pytest.raises(ValueError, match="no pre-aggregate covers"):
        route_to_aggregate(pre, ["s", "zzz"])
