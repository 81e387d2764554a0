"""As-of (point-in-time) join — a custom operator Spark lacks natively.

For each left row, attach the most recent right row with the same key
whose timestamp is <= the left timestamp — the standard time-series
enrichment (latest snapshot / last-known-value join). Semantics match
pandas ``merge_asof`` and DuckDB ``ASOF JOIN`` (the oracle).

Implementation is pure JVM — union both sides with a tag and carry the
right row forward with ``last(struct, ignorenulls=True)`` over a per-key
ordered window:

- ONE hash shuffle on the key (the same an equi-join would pay), then a
  per-partition sort — no Python, no per-group invocation overhead. A
  ``cogroup().applyInPandas`` + ``pd.merge_asof`` formulation is the
  obvious alternative but pays ~per-group pandas setup costs, which
  dominate when keys are many and groups small (measured ~25× slower on
  the events fixture).
- The right row's value columns travel inside ONE struct, so
  ``last(..., ignorenulls)`` picks a whole row atomically — per-column
  ``last`` would stitch together values from different right rows
  whenever right columns contain NULLs.
- Ties: a right row at exactly the left timestamp matches (closed
  interval), implemented by ordering the union on (ts, tag) with the
  right side sorted before left rows at equal timestamps.

Skewed keys are the caveat (a hot key's window sorts on one reducer) —
the same caveat every keyed window has; pre-split hot keys if needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """As-of join ``left`` to ``right`` on ``key_cols`` at ``ts_col``.

    Left rows always survive (left-join semantics); unmatched rows carry
    NULLs. Right timestamps should be unique per key (with equal
    timestamps "most recent" is ill-defined and engines disagree on the
    tie-break; this implementation picks the last in (ts, input-order)).

    Output schema: every left column, then every non-key, non-ts right
    column.
    """
    right_value_cols = [c for c in right.columns if c not in key_cols and c != ts_col]
    clash = set(right_value_cols) & set(left.columns)
    if clash:
        raise ValueError(
            f"right value columns collide with left columns: {sorted(clash)}; "
            f"rename before joining"
        )

    # Right rows sort before left rows at equal ts, so `last` over the
    # preceding frame sees them.
    left_tag, right_tag = 1, 0
    rv = F.struct(*[F.col(c) for c in right_value_cols])
    l2 = left.select(
        *key_cols,
        F.col(ts_col).alias("__ts"),
        F.lit(left_tag).alias("__tag"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(
            right.select(rv.alias("__rv")).schema["__rv"].dataType
        ).alias("__rv"),
    )
    r2 = right.select(
        *key_cols,
        F.col(ts_col).alias("__ts"),
        F.lit(right_tag).alias("__tag"),
        F.lit(None).cast(
            left.select(
                F.struct(*[F.col(c) for c in left.columns]).alias("__l")
            ).schema["__l"].dataType
        ).alias("__l"),
        rv.alias("__rv"),
    )
    u = l2.unionByName(r2)

    w = (
        Window.partitionBy(*key_cols)
        .orderBy("__ts", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last("__rv", ignorenulls=True).over(w)
    out = u.withColumn("__m", carried).filter(F.col("__tag") == left_tag)
    return out.select(
        "__l.*", *[F.col(f"__m.{c}").alias(c) for c in right_value_cols]
    )
