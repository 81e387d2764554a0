"""Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).

One parquet file per table under ``/root/testdata/sf{0.001,0.01,0.1}``.
:func:`load_table` builds a DataFrame; :func:`fixture_views` names the
session temp views that SQL statements read the same tables through.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from datawarehousefinal_spark.operators.relation import ident

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
# (JVM session, file key) -> the name of the temp view over that file
_views: dict[tuple, str] = {}
FIXTURE_VIEW_PREFIX = "__fixture_"
_view_ids = itertools.count()


def _file_key(spark: SparkSession, path: str, confs: tuple | None = None):
    """The identity of the fixture file at ``path`` under the session's
    Parquet type confs, or None when the file is missing."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None  # not cached: Spark raises its own PATH_NOT_FOUND
    if confs is None:
        conf = spark.conf
        confs = tuple(conf.get(c) for c in _PARQUET_TYPE_CONFS)
    return (
        os.path.realpath(path), st.st_mtime_ns, st.st_size, st.st_ino, confs
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers each file's schema once.

    Inference runs a one-task job to read the footer on every call; a read
    with a known schema runs none. Only the ``StructType`` is kept, never
    the frame, so every call still builds a fresh relation with new
    attribute ids (a self-join of two loads of one table keeps working).
    The key is the file's identity and the confs read at call time, so an
    overwritten file or a changed conf infers again.
    """
    key = _file_key(spark, path)
    schema = _schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _schemas[key] = df.schema
    return df


def _pin_confs(spark: SparkSession, name: str) -> None:
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The fixture table ``name`` as a fresh DataFrame: every call builds
    a new relation, so Column-reference self-joins of two loads work."""
    _pin_confs(spark, name)
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


def fixture_views(spark: SparkSession, sf_dir: str, *names: str) -> list[str]:
    """Backtick-quoted names of session temp views over the fixture
    tables ``names``, for SQL statements to read.

    Each file is resolved (read with :func:`load_table`, registered as a
    view) once per JVM session, and looked up by the same key as the
    schema cache: an overwritten file or a changed Parquet type conf
    registers a new view. Only the resolved relation is kept, never rows
    or a query plan. A new or restarted session is a new JVM session
    object, so it registers its own views and never reads a view another
    session holds. Two ``spark.table`` reads of one view share attribute
    ids, which breaks Column-reference self-joins; SQL self-joins are
    fine, because table aliases re-instance the relation.
    """
    for name in names:
        _pin_confs(spark, name)
    conf = spark.conf
    confs = tuple(conf.get(c) for c in _PARQUET_TYPE_CONFS)
    session = spark._jsparkSession._target_id
    out = []
    for name in names:
        path = f"{sf_dir}/{name}.parquet"
        key = _file_key(spark, path, confs)
        view = _views.get((session, key)) if key is not None else None
        if view is None:
            view = f"{FIXTURE_VIEW_PREFIX}{name}_{next(_view_ids)}"
            load_table(spark, sf_dir, name).createOrReplaceTempView(view)
            if key is not None:
                _views[(session, key)] = view
        out.append(ident(view))
    return out
