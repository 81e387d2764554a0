"""Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).

One parquet file per table under ``/root/testdata/sf{0.001,0.01,0.1}``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Session confs that change how Parquet physical types map to Spark types,
# so a schema inferred under one setting is wrong under another.
_PARQUET_TYPE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_schemas: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers each file's schema once.

    Inference runs a one-task job to read the footer on every call; a read
    with a known schema runs none. Only the ``StructType`` is kept, never
    the frame, so every call still builds a fresh relation with new
    attribute ids (a self-join of two loads of one table keeps working).
    The key is the file's identity and the confs read at call time, so an
    overwritten file or a changed conf infers again.
    """
    try:
        st = os.stat(path)
    except FileNotFoundError:
        key = None  # not cached: Spark raises its own PATH_NOT_FOUND below
    else:
        key = (
            os.path.realpath(path),
            st.st_mtime_ns,
            st.st_size,
            st.st_ino,
            tuple(spark.conf.get(c) for c in _PARQUET_TYPE_CONFS),
        )
    schema = _schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _schemas[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # events.parquet's ts column has shipped in two physical layouts across
    # fixture generations: INT64 TIMESTAMP(NANOS) (which Spark only reads
    # with nanosAsLong set, surfacing long nanos) and TIMESTAMP(MICROS,
    # isAdjustedToUTC=false) (which surfaces as timestamp_ntz). Normalize
    # both to a session-zone TimestampType so every downstream operator and
    # oracle sees one stable type. The conf is runtime-settable and must be
    # applied HERE (not only in our session factory) because the harness may
    # hand us a vanilla SparkSession it built itself.
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The ntz branch below reinterprets naive micros via the SESSION
        # zone — on a vanilla harness-built session with a non-UTC zone the
        # ntz fixtures would decode to different instants than the nanos
        # fixtures (zone-independent epoch micros). Pin UTC here, not just
        # in our session factory, so both layouts agree on any session.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_type == "bigint":
            # long nanos — truncate to micros with INTEGER division (a
            # float divide loses precision at 2026-epoch nanos: doubles
            # have 53-bit mantissas, ulp ≈ 0.25 µs), the same thing
            # DuckDB's TIMESTAMP_NS → TIMESTAMP cast does.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Naive micros: reinterpret the wall-clock value in the session
            # zone (UTC, session.py) — identical instants, LTZ type.
            df = df.withColumn("ts", F.to_timestamp("ts"))
    return df
