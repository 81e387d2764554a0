"""Star-schema ETL core (SURVEY.md §3.1): union of yearly sources and the
null-safe filter split into the two fact tables.

Together with the dimension build and FK attach of surrogate.py this is
the batch re-expression of etl_final.ktr's whole dataflow (hops
:494-605). The entrada/salida FilterRows split keeps Kettle's null
routing: condition-false INCLUDING NULL goes to the false branch
(SURVEY.md §7.4).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame


def union_sources(dfs: list[DataFrame]) -> DataFrame:
    """U1: append-union of the yearly inputs by column name
    (Kettle funnel semantics, etl_final.ktr:555-589)."""
    return reduce(lambda a, b: a.unionByName(b), dfs)


def filter_split(df: DataFrame, condition: Column) -> tuple[DataFrame, DataFrame]:
    """P6: Kettle FilterRows two-way split with exact null routing.

    True branch: condition holds. False branch: condition is false OR
    null — Kettle routes null-condition rows to the false hop
    (etl_final.ktr:2625-2668), so the complement must be null-safe:
    ``~cond | cond.isNull()``. Invariant: |true| + |false| == |input|.
    """
    true_df = df.filter(condition)
    false_df = df.filter(~condition | condition.isNull())
    return true_df, false_df
