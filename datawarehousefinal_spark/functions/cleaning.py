"""Value cleaning / remapping (SURVEY.md §2.7 F6-F8, F15).

The reference maps sentinel strings to NULL (ValueMapper `edad`,
etl_final.ktr:3529-3562), Spanish month names to numbers (etl_final.ktr:
2669-2746), and ~230 occupation titles to 7 classes through a normalized
dictionary (Datos/preprocessing.py:39-64,209-301). Literal maps stay as
codegen'd expressions; the big dictionary becomes a broadcast-joined lookup
table — the scalable shape of "apply a dict to a column".
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehousefinal_spark.functions.textnorm import normalize_text

# F7: the reference's 12-entry Spanish month map (etl_final.ktr:2683-2732).
SPANISH_MONTHS: dict[str, int] = {
    "enero": 1,
    "febrero": 2,
    "marzo": 3,
    "abril": 4,
    "mayo": 5,
    "junio": 6,
    "julio": 7,
    "agosto": 8,
    "septiembre": 9,
    "octubre": 10,
    "noviembre": 11,
    "diciembre": 12,
}

# F6: the reference's NULL sentinel (etl_final.ktr:3540-3548).
SENTINEL_UNSPECIFIED = "sin especificar"


def sentinel_to_null(col: Column | str, sentinel: str = SENTINEL_UNSPECIFIED) -> Column:
    """F6: map a sentinel value to NULL, pass everything else through."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == sentinel, F.lit(None)).otherwise(c)


def map_literal(col: Column | str, mapping: dict) -> Column:
    """F7: literal-map lookup as a codegen'd `create_map` expression.
    Unmapped values yield NULL (Kettle ValueMapper default)."""
    c = F.col(col) if isinstance(col, str) else col
    m = F.create_map(*[F.lit(x) for x in chain.from_iterable(mapping.items())])
    return m[c]


def spanish_month_number(col: Column | str) -> Column:
    """F7 applied: enero→1 … diciembre→12 (cast int — the reference's
    BigNumber(38,0) holds only 1-12, SURVEY.md §1.2)."""
    return map_literal(col, SPANISH_MONTHS).cast("int")


def category_lookup_df(spark: SparkSession, mapping: dict[str, list[str]]) -> DataFrame:
    """F8 phase 1: turn a category→values dict into a normalized lookup
    DataFrame (value_norm, category) — the reference's reverse dict
    (Datos/preprocessing.py:24-37) as a broadcastable table."""
    rows = [(value, category) for category, values in mapping.items() for value in values]
    lookup = spark.createDataFrame(rows, "value string, category string")
    return lookup.select(
        normalize_text("value").alias("value_norm"), "category"
    ).dropDuplicates(["value_norm"])


def apply_category_map(
    df: DataFrame,
    col: str,
    lookup: DataFrame,
    out_col: str,
) -> DataFrame:
    """F8 phase 2: broadcast-join the lookup onto a (normalized) column.

    Values the lookup can't classify stay in place (normalized), as in
    the reference (Datos/preprocessing.py:58-62). At any scale the
    lookup is tiny → broadcast; the big side never moves.
    """
    norm = normalize_text(col).alias("__norm")
    joined = df.withColumn("__norm", norm).join(
        F.broadcast(lookup), F.col("__norm") == lookup["value_norm"], "left"
    )
    mapped = F.coalesce("category", "__norm")
    return joined.withColumn(out_col, mapped).drop("__norm", "value_norm", "category")


def unmapped_report(df: DataFrame, col: str, lookup: DataFrame) -> DataFrame:
    """F8 data-quality report: distinct normalized values with no category
    (the reference prints these after ETL, Datos/preprocessing.py:63-64,
    325-327). left_anti join — nothing shuffles but the distinct values."""
    norm_vals = df.select(normalize_text(col).alias("value_norm")).distinct()
    return norm_vals.join(F.broadcast(lookup), "value_norm", "left_anti")
