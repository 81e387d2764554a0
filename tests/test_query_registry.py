"""The ``@query`` registry's serve-boundary float contract: ``round_cols``
rounds the Spark result and wraps the DuckDB oracle, on a toy face."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.errors import AnalysisException

from datawarehousefinal_spark import queries as Q

TOY_ORACLE = """
    WITH t AS (SELECT 1 AS k, -1e-7::DOUBLE AS x, 2.718281828::DOUBLE AS y)
    SELECT k, x, y FROM t
"""


@pytest.fixture
def register():
    """``Q.query`` for toy faces, taken out of the registry afterwards."""
    names = []

    def reg(name, **kw):
        names.append(name)
        return Q.query(name, **kw)

    yield reg
    for name in names:
        Q.QUERIES.pop(name, None)
        Q.ORACLES.pop(name, None)


def _toy(spark, sf_dir):
    """Toy face."""
    return spark.createDataFrame(
        [(1, -1e-7, 2.718281828)], "k int, x double, y double"
    )


def test_contract_rounds_both_sides(spark, register):
    face = register("__toy", oracle=TOY_ORACLE, round_cols=("x", "y"))(_toy)
    assert face is Q.QUERIES["__toy"]
    assert face is not _toy and face.__wrapped__ is _toy
    assert face.__name__ == "_toy" and face.__doc__ == "Toy face."
    assert face.__module__ == __name__

    row = tuple(face(spark, "unused").collect()[0])
    con = duckdb.connect()
    try:
        duck = con.execute(Q.ORACLES["__toy"]).fetchone()
        described = con.execute(f"DESCRIBE {Q.ORACLES['__toy']}").fetchall()
        # DuckDB keeps the sign of a rounded-away negative; "+ 0" drops it.
        neg = con.execute("SELECT round(-1e-7::DOUBLE, 6)").fetchone()[0]
    finally:
        con.close()
    assert [d[0] for d in described] == ["k", "x", "y"]
    assert math.copysign(1, neg) == -1
    assert row == duck == (1, 0.0, 2.718282)
    assert repr(row[1]) == repr(duck[1]) == "0.0"


def test_digits_reach_both_sides(spark, register):
    face = register(
        "__toy_digits", oracle=TOY_ORACLE, round_cols=("y",), digits=2
    )(_toy)
    assert face(spark, "unused").collect()[0].y == 2.72
    assert duckdb.execute(Q.ORACLES["__toy_digits"]).fetchone()[2] == 2.72


def test_no_contract_registers_the_function_itself(register):
    assert register("__toy_plain", oracle="SELECT 1 AS k")(_toy) is _toy
    assert Q.QUERIES["__toy_plain"] is _toy
    assert Q.ORACLES["__toy_plain"] == "SELECT 1 AS k"


def test_contract_on_a_missing_column_fails_loudly(spark, register):
    face = register("__toy_missing", round_cols=("nope",))(_toy)
    with pytest.raises(AnalysisException):
        face(spark, "unused")
