"""Skew-mitigation operators: explicit salting for the cases AQE can't fix.

The session factory enables AQE skew-join handling (session.py), which
splits oversized sort-merge partitions at runtime — that is the first
line of defense and needs no code. Explicit salting remains the right
tool when:

- a *shuffled* join has a handful of hot keys and the other side is too
  big to broadcast but small enough to replicate ``num_salts`` times
  (:func:`salted_join`);
- an aggregation's combine step still concentrates one huge group on one
  reducer — e.g. ``collect_list``/``count_distinct``-style state that
  partial aggregation cannot shrink (:func:`two_stage_distinct_count`,
  where the value itself is the salt).

Plain ``count/sum/min/max`` aggregations do NOT need salting in Spark:
hash aggregation partial-combines map-side, so a skewed key contributes
one row per map partition regardless of its row count. These helpers are
for the residual cases, and each documents the cost it pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def salted_join(
    big: DataFrame,
    replicated: DataFrame,
    on: list[str],
    num_salts: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Join a skew-keyed ``big`` frame against ``replicated`` by salting.

    ``big`` rows get a uniform random salt in [0, num_salts); ``replicated``
    is exploded once per salt value, and the join runs on ``on + [salt]`` —
    a hot key's rows now spread over ``num_salts`` reducers instead of one.

    Cost: ``replicated`` is shuffled ``num_salts``× larger — use only when
    it is far smaller than ``big`` yet above the broadcast threshold
    (below it, ``F.broadcast`` makes salting pointless). Row-level results
    are identical to the plain inner join (the salt explode multiplies
    only the replicated side, and each big row matches exactly its own
    salt).
    """
    b = big.withColumn(_SALT, (F.rand(seed) * num_salts).cast("int"))
    r = replicated.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    return b.join(r, on + [_SALT]).drop(_SALT)


def two_stage_distinct_count(
    df: DataFrame,
    group_cols: list[str],
    distinct_col: str,
) -> DataFrame:
    """Exact distinct count per group without a single-reducer hot spot.

    Stage 1 dedups on ``(group, value)`` — that shuffle hashes on BOTH
    columns, so a hot group's distinct state spreads across reducers by
    value; stage 2 counts survivors per group, which partial-combines
    map-side. No salt column is needed: the value itself is the salt.
    Equivalent values to ``countDistinct`` — including its NULL rules:
    ``count(col)`` in stage 2 skips the (deduped) NULL row, while groups
    whose values are ALL NULL still surface with n_distinct = 0. For
    approximate needs use ``approx_count_distinct`` (HLL, one pass).

    Output: ``group_cols..., n_distinct``.
    """
    deduped = df.select(*group_cols, distinct_col).dropDuplicates(
        [*group_cols, distinct_col]
    )
    return deduped.groupBy(*group_cols).agg(
        F.count(F.col(distinct_col)).alias("n_distinct")
    )


def key_skew_profile(
    df: DataFrame, key_col: str, top_n: int = 10
) -> DataFrame:
    """The diagnostic you run BEFORE choosing a join strategy: per-key
    frequency profile of a prospective join/shuffle key — the ``top_n``
    heaviest keys with their counts, share of all rows, and the ratio of
    each key to the mean key load (``skew_factor``; the max row's factor
    is the headline number that says whether AQE skew splitting or
    explicit salting is warranted).

    One map-side-combined groupBy; the global (row, key) totals come
    from a single-row aggregate over the per-key counts cross-joined
    back — |keys| rows, never the input. TakeOrderedAndProject caps the
    output at ``top_n``.

    Output: ``key (string), cnt, share, skew_factor`` ordered by cnt
    desc, key.
    """
    counts = df.groupBy(
        F.col(key_col).cast("string").alias("key")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("__rows"), F.count(F.lit(1)).alias("__keys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "cnt",
            (F.col("cnt") / F.col("__rows")).alias("share"),
            (F.col("cnt") * F.col("__keys") / F.col("__rows")).alias(
                "skew_factor"
            ),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(top_n)
    )
