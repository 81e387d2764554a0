"""Typed readers — the engine's scan operators (SURVEY.md §2.1 S1-S5).

The reference reads six yearly CSVs with a declared 25-field schema
(etl_final.ktr:606-921), falls back across encodings with per-file separators
(Datos/preprocessing.py:91-121), repairs malformed rows through a second parse
pass (Datos/preprocessing.py:152-187), and reads Parquet caches column-pruned
(deeplearning/etl_to_tensor.py:29). Spark equivalents below; chunking and
encoding-fallback loops disappear because the scan is distributed and
per-file options are explicit.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from datawarehousefinal_spark.materialize import materialized

_CORRUPT_COL = "_corrupt_record"


@contextmanager
def _corrupt_split(scan: DataFrame) -> Iterator[tuple[DataFrame, DataFrame]]:
    """``(good_rows, corrupt_raw_lines)`` of a PERMISSIVE scan with a
    corrupt-record column, valid inside the block. Spark disallows
    filtering on the corrupt column of an uncached scan, so the scan is
    persisted for the block and released on exit."""
    with materialized(scan) as df:
        yield (
            df.filter(F.col(_CORRUPT_COL).isNull()).drop(_CORRUPT_COL),
            df.filter(F.col(_CORRUPT_COL).isNotNull()).select(
                F.col(_CORRUPT_COL).alias("raw_line")
            ),
        )


def read_csv_typed(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType,
    sep: str = ",",
    encoding: str = "UTF-8",
    header: bool = True,
    quote: str = '"',
) -> DataFrame:
    """S1/S2: typed CSV scan with an explicit declared schema.

    Mirrors the reference CsvInput steps (header, sep, quote, fixed schema —
    etl_final.ktr:631-907). Declaring the schema skips Spark's inference pass
    (one less full read) and keeps types stable across files.
    """
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("sep", sep)
        .option("quote", quote)
        .option("encoding", encoding)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


@contextmanager
def read_csv_with_repair(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType,
    sep: str = ",",
    encoding: str = "UTF-8",
    header: bool = True,
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """S3: permissive scan that splits off malformed rows for repair.

    The reference's ``rowFixer`` re-parses rows whose field count differs
    from the header (Datos/preprocessing.py:152-187). Distributed version:
    read PERMISSIVE with a corrupt-record column and yield
    ``(good_rows, corrupt_raw_lines)``. Callers can re-parse the corrupt
    lines with ``from_csv`` under a different dialect and union back.

    A context manager: both frames read one cached scan, which is
    released when the block exits, so materialize what you need inside
    it (``with read_csv_with_repair(...) as (good, bad): ...``).
    """
    schema_with_corrupt = StructType(
        list(schema.fields) + [StructField(_CORRUPT_COL, StringType(), True)]
    )
    df = (
        spark.read.schema(schema_with_corrupt)
        .option("header", header)
        .option("sep", sep)
        .option("encoding", encoding)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT_COL)
        .csv(path)
    )
    with _corrupt_split(df) as split:
        yield split


def repair_rows(bad: DataFrame, schema: StructType, sep: str = ",") -> DataFrame:
    """Re-parse corrupt raw lines under an alternate separator (S3 phase 2)."""
    opts = {"sep": sep, "mode": "PERMISSIVE"}
    parsed = bad.select(
        F.from_csv(F.col("raw_line"), schema.simpleString(), opts).alias("r")
    ).select("r.*")
    return parsed


#: The reference's retry order (Datos/preprocessing.py:91-121) collapses
#: to two strict probes: utf-8, then iso-8859-1. Its longer chain
#: (latin-1 → iso-8859-1 → cp1252) is an illusion — latin-1/iso-8859-1
#: strictly decode ANY byte sequence, so nothing after the first Latin
#: codec is ever reached. iso-8859-1 is the name Spark's CSV charset
#: whitelist accepts (latin-1/cp1252 are mapped onto it below; cp1252's
#: extra printables live in the 0x80-0x9F block and surface as control
#: chars under iso-8859-1 — the same bytes the reference produced).
ENCODING_FALLBACK_CHAIN = ("utf-8", "iso-8859-1")

#: Python codec name → Spark CSV charset-whitelist name.
_SPARK_CHARSET = {
    "utf-8": "utf-8",
    "latin-1": "iso-8859-1",
    "latin1": "iso-8859-1",
    "iso-8859-1": "iso-8859-1",
    "cp1252": "iso-8859-1",
}


def detect_encoding(
    raw: bytes, encodings: tuple[str, ...] = ENCODING_FALLBACK_CHAIN
) -> str:
    """First encoding in ``encodings`` that strictly decodes ``raw``.

    The tail of a truncated probe can split a multi-byte sequence, which
    would false-fail utf-8 on a perfectly valid file — trim up to 3
    trailing continuation bytes, AND the dangling lead byte they (or the
    probe cut) left behind, before the strict decode. Without the lead
    trim, any probe ending exactly on a complete multi-byte character
    would strip its continuations, leave the bare lead, and false-fail
    (found by the hypothesis roundtrip property).
    """
    trimmed = raw
    for _ in range(3):
        if trimmed and trimmed[-1] & 0b1100_0000 == 0b1000_0000:
            trimmed = trimmed[:-1]
        else:
            break
    if trimmed and trimmed[-1] & 0b1100_0000 == 0b1100_0000:
        trimmed = trimmed[:-1]
    for enc in encodings:
        try:
            trimmed.decode(enc)
            return enc
        except UnicodeDecodeError:
            continue
    return encodings[-1]


def read_csv_encoding_fallback(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType,
    sep: str = ",",
    header: bool = True,
    quote: str = '"',
    encodings: tuple[str, ...] = ENCODING_FALLBACK_CHAIN,
    probe_bytes: int = 65536,
) -> tuple[DataFrame, dict[str, str]]:
    """S2: per-file encoding fallback chain, the reference's
    utf-8 → latin-1 → iso-8859-1 → cp1252 retry loop
    (Datos/preprocessing.py:91-121) restructured for a distributed scan.

    Spark's CSV reader never *fails* on a wrong encoding — it silently
    produces mojibake — so the try/except shape cannot run inside the
    scan. Instead the first ``probe_bytes`` of each file are probed with
    strict codecs in chain order (decode errors show up in the first
    few KB of any real Latin-text file), files are grouped by winning
    encoding, and ONE typed distributed scan per encoding group is
    unioned — the probe reads KBs per file; the data path stays a normal
    parallel scan with the declared schema.

    Returns ``(df, {file: encoding})`` so ingest logs can record what was
    chosen, like the reference's per-file printouts. Local filesystem
    paths (globs allowed); for object stores, probe with the store's
    range-read API instead.
    """
    import glob as _glob

    patterns = [path] if isinstance(path, str) else list(path)
    files = sorted({f for p in patterns for f in _glob.glob(p)} )
    if not files:
        raise FileNotFoundError(f"no CSV files match {patterns}")
    chosen: dict[str, str] = {}
    for f in files:
        with open(f, "rb") as fh:
            chosen[f] = detect_encoding(fh.read(probe_bytes), encodings)
    groups: dict[str, list[str]] = {}
    for f, enc in chosen.items():
        groups.setdefault(enc, []).append(f)
    parts = [
        read_csv_typed(
            spark,
            fs,
            schema,
            sep=sep,
            encoding=_SPARK_CHARSET.get(enc, enc),
            header=header,
            quote=quote,
        )
        for enc, fs in sorted(groups.items())
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df, chosen


def read_jsonl(
    spark: SparkSession, path: str | list[str], schema: StructType
) -> DataFrame:
    """JSON-Lines scan with a DECLARED schema (pair of
    :func:`~datawarehousefinal_spark.sources.writers.write_jsonl`).

    The schema is required, not inferred: inference is a second full read
    of the data, and on a 100 TB corpus the one-pass declared-schema scan
    is the only acceptable plan. Unused JSON keys are never materialized
    (Spark prunes parsed fields to the declared/selected set)."""
    return spark.read.schema(schema).json(path)


@contextmanager
def read_jsonl_with_repair(
    spark: SparkSession, path: str | list[str], schema: StructType
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """The JSONL twin of :func:`read_csv_with_repair` (S3's rowFixer
    contract for the other line-delimited format): PERMISSIVE scan with
    a corrupt-record column; yields ``(good_rows, corrupt_raw_lines)``
    so callers can re-parse the corrupt lines under a repair rule
    (:func:`repair_json_rows`) and union back — instead of FAILFAST
    killing a 100 TB job for one bad line or DROPMALFORMED silently
    losing rows. Same block-scoped cached scan as the CSV variant."""
    schema_with_corrupt = StructType(
        list(schema.fields) + [StructField(_CORRUPT_COL, StringType(), True)]
    )
    df = (
        spark.read.schema(schema_with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT_COL)
        .json(path)
    )
    with _corrupt_split(df) as split:
        yield split


def repair_json_rows(
    bad: DataFrame, schema: StructType, strip_prefix: str = r"^[^{]*"
) -> DataFrame:
    """Re-parse corrupt raw JSON lines after a repair rewrite (phase 2 of
    the rowFixer contract). The default rule strips any leading
    non-``{`` garbage — the log-shipper-prefix corruption class; pass a
    different regex for other dialects. Lines that STILL fail to parse
    come back as all-NULL rows (count them against a threshold rather
    than silently dropping)."""
    fixed = bad.select(
        F.regexp_replace(F.col("raw_line"), strip_prefix, "").alias("__line")
    )
    return fixed.select(
        F.from_json(F.col("__line"), schema).alias("r")
    ).select("r.*")


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S5: parquet scan (Catalyst prunes columns/filters pushed down)."""
    return spark.read.parquet(path)


def read_parquet_pruned(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """S5 column-pruned variant (deeplearning/etl_to_tensor.py:29).

    The ``.select`` reaches the scan: `.explain` shows ReadSchema with only
    the requested columns.
    """
    return spark.read.parquet(path).select(*columns)


def read_parquet_evolving(
    spark: SparkSession,
    path: str | list[str],
    required: dict[str, str] | None = None,
) -> DataFrame:
    """Parquet scan across batches whose schemas EVOLVED — the lakehouse
    reality: tonight's writer added a column yesterday's files lack.

    ``mergeSchema=true`` unions the per-file footers into one schema
    (files missing a column yield NULLs for it — footer-level metadata
    only, no data rewrite, so the merge cost is per-FILE not per-row and
    the scan itself stays a plain pruned columnar read). ``required``
    maps column → Spark type DDL for columns that must exist even if NO
    batch has them yet (added with NULL lit + cast), so downstream plans
    compile against the target schema regardless of which batches have
    landed.
    """
    df = spark.read.option("mergeSchema", "true").parquet(
        *(path if isinstance(path, list) else [path])
    )
    for col, dtype in (required or {}).items():
        if col not in df.columns:
            df = df.withColumn(col, F.lit(None).cast(dtype))
    return df


def read_jdbc(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """S4: JDBC scan (pd.read_sql_query / read_sql_table equivalents,
    machineLearning.py:160,235). Partitioned read when bounds are given so
    the scan parallelizes instead of funneling through one connection."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table_or_query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
        )
    return reader.load()


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — predicate pushdown and column pruning work exactly as
    for parquet (Catalyst data-source v2; ORC carries its own stripe
    min/max + optional bloom indexes)."""
    return spark.read.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: str | None = None,
) -> DataFrame:
    """XML scan (Spark 4 native, the merged spark-xml). Pass an
    explicit ``schema`` DDL in production — schema inference reads the
    data twice and, at 100 TB, once is already the dominant cost; XML
    is an ingest format to land into parquet, not to query in place."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
