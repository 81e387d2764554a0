"""Batch surrogate-key machinery — the Spark-first replacement for Kettle's
CombinationLookup (SURVEY.md §2.3 J4, §7.1).

The reference assigns dimension surrogate keys row-at-a-time: per incoming
row, look the natural-key combo up in Postgres (9999-entry cache), INSERT
with ``max(id)+1`` on miss, commit every 100 rows (etl_final.ktr:2747-3009).
That is inherently sequential and makes key *values* depend on arrival
order.

Batch design (deterministic, shuffle-minimal):

1. **build**: ``distinct`` natural keys → ``row_number`` over a
   deterministic natural-key ordering → dense keys 1..n. One shuffle on the
   natural keys (the distinct), one single-partition pass for the global
   row_number — acceptable because dimension *distinct* cardinality is tiny
   relative to fact volume even at 100 TB (dims are the small side of a
   star by definition).
2. **merge**: incremental loads take only the *new* combos
   (``left_anti`` against the existing dim) and extend from ``max(id)``.
3. **attach**: facts get their FK via broadcast join on the natural keys —
   the fact side never shuffles.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def build_dimension(src: DataFrame, natural_keys: list[str], id_col: str) -> DataFrame:
    """J4 phase 1: distinct natural-key combos with dense surrogate keys.

    Keys are ordered by the natural keys (NULLS FIRST to match SQL
    row_number default) so repeated runs over the same data produce the
    same ids — unlike the reference's arrival-order keys (SURVEY.md §7.1).
    """
    distinct = src.select(*natural_keys).distinct()
    order = [F.col(k).asc_nulls_first() for k in natural_keys]
    w = Window.orderBy(*order)
    return distinct.withColumn(id_col, F.row_number().over(w).cast("long")).select(
        id_col, *natural_keys
    )


def merge_dimension(
    existing: DataFrame, src: DataFrame, natural_keys: list[str], id_col: str
) -> DataFrame:
    """J4 incremental merge: append only unseen natural-key combos,
    numbering from max(existing id) — batch equivalent of the reference's
    insert-on-miss, minus the per-row round trips.

    The anti-join is NULL-SAFE (``eqNullSafe`` per key): ``build_dimension``
    deliberately keys NULL-bearing combos, and Kettle's CombinationLookup
    matches NULL as a value — a plain column-list anti-join would treat
    such combos as forever-unseen and append a duplicate with a fresh id
    on every incremental run."""
    src_keys = src.select(*natural_keys).distinct().alias("__src")
    ex = existing.alias("__ex")
    null_safe = reduce(
        and_,
        [F.col(f"__src.{k}").eqNullSafe(F.col(f"__ex.{k}")) for k in natural_keys],
    )
    new_keys = src_keys.join(ex, null_safe, "left_anti").select(*natural_keys)
    max_id = existing.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("m"))
    order = [F.col(k).asc_nulls_first() for k in natural_keys]
    numbered = new_keys.withColumn(
        "__rn", F.row_number().over(Window.orderBy(*order)).cast("long")
    )
    appended = numbered.crossJoin(F.broadcast(max_id)).select(
        (F.col("__rn") + F.col("m")).alias(id_col), *natural_keys
    )
    return existing.select(id_col, *natural_keys).unionByName(appended)


def attach_surrogate_key(
    fact: DataFrame, dim: DataFrame, natural_keys: list[str], id_col: str
) -> DataFrame:
    """J4 phase 2: put the FK onto the fact rows via broadcast left join on
    the natural keys. The (huge) fact side stays in place.

    NULL-SAFE like the rest of the dimension contract: ``build_dimension``
    deliberately keys NULL-bearing combos, so the lookup matches NULL as a
    value (``eqNullSafe`` keys still hash-join) — a plain column-list join
    would leave every such fact row with an orphan NULL FK."""
    d = F.broadcast(dim.select(id_col, *natural_keys)).alias("__dim")
    f = fact.alias("__fact")
    cond = reduce(
        and_,
        [
            F.col(f"__fact.{k}").eqNullSafe(F.col(f"__dim.{k}"))
            for k in natural_keys
        ],
    )
    return f.join(d, cond, "left").select(
        "__fact.*", F.col(f"__dim.{id_col}").alias(id_col)
    )
