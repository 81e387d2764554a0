"""Analytic dataset assembly (SURVEY.md §2.3 J1/J2, §2.4 U2, §2.8 C1/C3).

The reference denormalizes fact ⟕ all dims with ``<dim>_<col>`` aliased
columns (build_fact_query, machineLearning.py:101-125), unions the two fact
datasets with a provenance column (:161-164), and caches the result as
snappy parquet keyed by the fact-table list (:132-173).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def denormalize(
    fact: DataFrame,
    dims: dict[str, tuple[DataFrame, str]],
) -> DataFrame:
    """J1: star denormalization with prefix-aliased dim columns.

    ``dims`` maps dim name → (DataFrame, join id column). Every dim column
    except the id is exported as ``<dim>_<col>`` exactly like
    build_fact_query (machineLearning.py:104-110). All joins broadcast:
    the fact never moves.
    """
    out = fact
    for dim_name, (dim, id_col) in dims.items():
        aliased = dim.select(
            id_col,
            *[
                F.col(c).alias(f"{dim_name}_{c}")
                for c in dim.columns
                if c != id_col
            ],
        )
        out = out.join(F.broadcast(aliased), id_col, "left")
    return out


def union_with_provenance(frames: dict[str, DataFrame], col: str = "source_fact") -> DataFrame:
    """U2: concat the per-fact datasets, tagging provenance
    (machineLearning.py:161-164)."""
    tagged = [df.withColumn(col, F.lit(name)) for name, df in frames.items()]
    out = tagged[0]
    for df in tagged[1:]:
        out = out.unionByName(df)
    return out


def load_or_build_dataset(
    spark: SparkSession,
    cache_dir: str,
    cache_key: str,
    build_fn,
) -> DataFrame:
    """C3: parquet-cache-or-build keyed by the fact list
    (machineLearning.py:132-173)."""
    path = os.path.join(cache_dir, f"dataset_{cache_key}.parquet")
    # Probe for a COMPLETE cache (_SUCCESS marker), not just the directory:
    # an interrupted writer leaves a partial dir that a bare read would
    # happily serve. The local-path check keeps the miss path quiet (no
    # analyzer exception); on an object store this would be a head request.
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return spark.read.parquet(path)
    df = build_fn()
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)
    return spark.read.parquet(path)


def drop_columns_by_predicate(df: DataFrame, predicate) -> DataFrame:
    """P4: drop every column whose NAME satisfies ``predicate`` — the
    reference drops id-prefixed/provenance columns this way
    (machineLearning.py:271-276, 424-428)."""
    return df.drop(*[c for c in df.columns if predicate(c)])


def dropna_subset(df: DataFrame, subset: list[str]) -> DataFrame:
    """P8: drop rows with NULL in the target column(s)
    (deeplearning.py:53; deeplearning/etl_to_tensor.py:32)."""
    return df.na.drop(subset=subset)


def fillna_zero(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """P9: fill NULLs with 0 (post-one-hot fill, deeplearning.py:77)."""
    return df.na.fill(0) if cols is None else df.na.fill(0, subset=cols)
