"""Construct-count gate: building an olap_cube face's plan is a fixed
number of py4j round trips, counted on a warm session.

Each serving face compiles to one ``spark.sql`` statement over the
fixture views, so its construct cost is a handful of JVM calls: the
Parquet-conf lookups of the registry, the statement itself, a schema
read where member values need coercing, and the ``@query`` float
contract's rounding. A plan built one Column at a time costs a call per
expression node (416 for ``mdx_cube_query`` before the SQL compile), so
one reintroduced Column builder breaks the budget. py4j's frees of
garbage-collected proxies (``m d`` commands, sent whenever Python's
collector runs) are not counted. A face whose count falls should lower
its budget.
"""

from __future__ import annotations

import py4j.clientserver as cs
import py4j.protocol as proto

from datawarehousefinal_spark import queries as Q

# py4j calls to build each face's DataFrame, warm (PySpark 4.1.2)
BUDGET = {
    "mdx_cube_query": 22,
    "mdx_rollup_query": 26,
    "cube_measures_by_dims": 26,
    "grouping_sets_measures": 6,
    "incremental_aggregate_rollup": 14,
}
_FREE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME


def _construct_calls(spark, sf_dir: str, face: str) -> int:
    calls = 0
    send = cs.ClientServerConnection.send_command

    def counting(conn, command, *args, **kwargs):
        nonlocal calls
        if not command.startswith(_FREE):
            calls += 1
        return send(conn, command, *args, **kwargs)

    cs.ClientServerConnection.send_command = counting
    try:
        Q.QUERIES[face](spark, sf_dir)
    finally:
        cs.ClientServerConnection.send_command = send
    return calls


def test_olap_faces_construct_within_budget(spark, sf_dir):
    for face in BUDGET:
        Q.QUERIES[face](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    got = {face: _construct_calls(spark, sf_dir, face) for face in BUDGET}
    over = {f: (n, BUDGET[f]) for f, n in got.items() if n > BUDGET[f]}
    assert not over, f"py4j calls (got, budget) over budget: {over}"
