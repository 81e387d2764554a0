"""Registry-wide oracle type-discipline sweep.

The round-11 postmortem of `partition_overwrite_roundtrip` (driver-red four
rounds running while the local replica stayed green) traced to its oracle
serving a DuckDB HUGEINT: `sum(col)` over a BIGINT column widens to HUGEINT,
which crosses the driver's typed fetch as pandas float64 ("147709.0") while
Spark serves int64 ("147709") — a value-hash divergence invisible to a
`fetchall()`-based local harness (HUGEINT → Python int). A registry-wide
DuckDB DESCRIBE audit found exactly one such oracle; this test IS that
audit, run on every pytest pass, so the class can never re-enter the
registry. The fix convention is the registry's own: `sum(x)::BIGINT`.

DESCRIBE only plans the query (no execution), so the sweep covers all ~280
oracles in a few seconds. The same sweep checks each face's float contract:
every column named in ``@query(round_cols=...)`` must be a DOUBLE column of
the wrapped oracle.
"""

from __future__ import annotations

import inspect

import duckdb
import pytest

from datawarehousefinal_spark.queries import ORACLES, QUERIES
from tests.conftest import SF_DIR
from tests.oracle_harness import duckdb_connect

BANNED = {"HUGEINT", "UHUGEINT"}


@pytest.fixture(scope="module")
def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb_connect(SF_DIR)
    yield con
    con.close()


def test_no_oracle_serves_hugeint(duck):
    offenders = []
    for name, sql in ORACLES.items():
        cols = duck.execute(f"DESCRIBE {sql}").fetchall()
        bad = [(c[0], c[1]) for c in cols if c[1].upper() in BANNED]
        if bad:
            offenders.append((name, bad))
    assert not offenders, (
        "oracles serving HUGEINT/UHUGEINT (driver pandas fetch renders these "
        "as float64 and the value hash diverges from Spark's int64 — cast "
        "`::BIGINT`): " + repr(offenders)
    )


def _round_cols(face) -> tuple[str, ...]:
    """The ``round_cols`` a face was registered with: ``@query`` wraps only
    contracted faces, and the wrapper's closure holds the columns."""
    if not hasattr(face, "__wrapped__"):
        return ()
    return inspect.getclosurevars(face).nonlocals["round_cols"]


def test_contract_columns_are_oracle_doubles(duck):
    contracts = {n: _round_cols(f) for n, f in QUERIES.items()}
    contracts = {n: cols for n, cols in contracts.items() if cols}
    assert contracts
    offenders = []
    for name, cols in contracts.items():
        assert name in ORACLES, f"{name} declares round_cols but no oracle"
        described = duck.execute(f"DESCRIBE {ORACLES[name]}").fetchall()
        types = {r[0]: r[1] for r in described}
        bad = [(c, types.get(c)) for c in cols if types.get(c) != "DOUBLE"]
        if bad:
            offenders.append((name, bad))
    assert not offenders, (
        "round_cols must name DOUBLE columns of the wrapped oracle: "
        + repr(offenders)
    )
