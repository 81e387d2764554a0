"""Machine-speed probes: fixed workloads whose time moves only with the
machine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.sources.testdata import load_table


@query(
    "bench_calibration",
    oracle="""
    SELECT count(*)::BIGINT AS n_rows,
           CAST(sum((i * i) % 97) AS BIGINT) AS checksum
    FROM range(0, 100000000) t(i)
    """,
)
def bench_calibration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Machine-speed probe, NOT a workload face: a fixed 100M-row
    arithmetic-only aggregate over ``spark.range`` — no I/O, no Python,
    no shuffle beyond the final single-partition partial-agg merge —
    whose wall time moves ONLY with the machine (JIT'd whole-stage
    codegen throughput). bench.py divides the common-set ratio by this
    face's round-over-round ratio to produce a drift-adjusted number,
    so a slow sandbox week no longer reads as a code regression (the
    r7→r8 adjudication, now measured instead of argued). The checksum
    is exact integer arithmetic, so the face doubles as a (trivially)
    oracled registry entry rather than an unchecked side channel."""
    return spark.range(0, 100_000_000).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("id") * F.col("id")) % 97).cast("bigint").alias(
            "checksum"
        ),
    )


@query(
    "bench_calibration_io",
    oracle="""
    WITH g AS (
      SELECT l_orderkey % 1024 AS grp,
             count(*) AS n,
             sum((l_partkey * l_suppkey) % 97)::BIGINT AS c
      FROM lineitem GROUP BY 1
    )
    SELECT count(*)::BIGINT AS n_groups,
           sum(n)::BIGINT AS n_rows,
           sum(c)::BIGINT AS checksum
    FROM g
    """,
)
def bench_calibration_io_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Machine-speed probe #2 (scan + shuffle), NOT a workload face: a
    grouped aggregate over the largest table — parquet scan, map-side
    partial agg, a 1024-key Exchange, merge — whose wall time moves
    with the I/O + shuffle + memory subsystems the codegen-only probe
    (:func:`bench_calibration_q`) cannot see. The round-11 adjudication
    showed why one probe is not enough: every "regression" clustered in
    untouched shuffle/Arrow-bound files because a slow box's disk and
    memory lag its ALU — with both probes in BENCH_LOCAL the
    round-over-round drift splits into a codegen component and an I/O
    component, and tail-face adjudication becomes measurement instead
    of argument. Exact integer arithmetic end-to-end, so the face is a
    (trivially) oracled registry entry rather than an unchecked side
    channel. Same-sf comparison only, like every bench number."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy((F.col("l_orderkey") % 1024).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_partkey") * F.col("l_suppkey")) % 97)
        .cast("bigint")
        .alias("c"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.sum("c").cast("bigint").alias("checksum"),
    )
