"""Slowly-changing-dimension (SCD type 2) operators.

The reference's dimensions are type 1 — Kettle CombinationLookup
overwrites in place and history is lost (etl_final.ktr:2747+). Type 2 is
the warehouse-standard upgrade: each natural key keeps a row per
attribute VERSION with a validity interval, so facts can join to the
attribute values that were true at fact time.

The operators are pure window/column algebra — one shuffle on the
natural key, no state, exactly re-playable in SQL (DuckDB oracle).
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_from_history(
    df: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """Collapse an event/change log into SCD2 version rows.

    For each key (ordered by ``ts_col``) a new version starts at every
    row whose attributes differ from the previous row's (null-safely —
    NULL→value and value→NULL are changes, NULL→NULL is not). Versions
    carry ``valid_from`` (their first timestamp), ``valid_to`` (the next
    version's start, NULL while current) and ``is_current``.

    Repeated identical attribute rows collapse into their version;
    output is one row per (key, version).
    """
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    changed = reduce(
        or_,
        [
            ~F.col(c).eqNullSafe(F.lag(c).over(w))
            for c in attr_cols
        ],
    ) | F.row_number().over(w).eqNullSafe(1)
    versions = (
        df.select(*key_cols, *attr_cols, F.col(ts_col))
        .withColumn("__new_version", changed)
        .filter(F.col("__new_version"))
        .drop("__new_version")
    )
    wv = Window.partitionBy(*key_cols).orderBy(ts_col)
    return (
        versions.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead("valid_from").over(wv))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(ts_col)
    )


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
) -> DataFrame:
    """Apply a CDC changeset to a snapshot (the MERGE/upsert primitive —
    the write side of the CDC pair whose read side is the snapshot-diff
    operator).

    ``changes`` carries ``op_col`` ∈ {'I','U','D'} plus the base's
    columns; 'I' and 'U' both upsert (full-row image), 'D' deletes the
    key. With ``seq_col`` set, only the LATEST change per key applies.
    Equal-seq ties break on op-name DESCENDING — 'U' > 'I' > 'D' — so
    an update beats an insert, and a DELETE LOSES every equal-seq tie
    (a same-seq delete+update resolves to the update). That is a
    documented arbitrary total order, not a semantic claim: a CDC feed
    should never emit duplicate ``(key, seq)`` pairs; if yours can,
    de-duplicate or re-sequence upstream rather than relying on this
    collation. Output schema == base schema.

    Scale shape: one window over the changeset (small relative to the
    snapshot by CDC's nature), one key anti-join against the base — AQE
    broadcasts it when the changeset is small, shuffles both sides on
    the key otherwise — and a union. The snapshot is never collected,
    never windowed globally.
    """
    order = [F.col(seq_col).desc()] if seq_col else []
    w = Window.partitionBy(*key_cols).orderBy(*order, F.col(op_col).desc())
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    upserts = latest.filter(F.col(op_col) != "D").select(*base.columns)
    survivors = base.join(
        latest.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    return survivors.unionByName(upserts)


def extract_changes(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Derive the CDC changeset that turns snapshot ``old`` into ``new``
    — the read side of the pair whose write side is
    :func:`apply_changes`: ``apply_changes(old, extract_changes(old,
    new)) ≡ new`` exactly (pinned by test and by the oracled round-trip
    query). 'I' rows are keys only in ``new``, 'D' rows keys only in
    ``old``, 'U' rows keys present in both whose non-key columns differ
    null-safely; unchanged rows emit nothing, so the changeset is
    minimal.

    One co-partitioned full-outer join on the key — the same single
    shuffle as the snapshot-diff summary, but emitting the full-row
    images a downstream MERGE needs. Both snapshots must share the
    ``old`` schema; 'D' rows carry NULL attributes (only the key
    matters to a delete).
    """
    attr_cols = [c for c in old.columns if c not in key_cols]
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in old.columns]
    )
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in old.columns]
    )
    cond = [
        o[f"__o_{k}"].eqNullSafe(n[f"__n_{k}"]) for k in key_cols
    ]
    joined = o.join(n, cond, "full_outer")
    in_old = reduce(
        or_, [o[f"__o_{k}"].isNotNull() for k in key_cols]
    )
    in_new = reduce(
        or_, [n[f"__n_{k}"].isNotNull() for k in key_cols]
    )
    changed = (
        reduce(
            or_,
            [
                ~o[f"__o_{c}"].eqNullSafe(n[f"__n_{c}"])
                for c in attr_cols
            ],
        )
        if attr_cols
        else F.lit(False)
    )
    op = (
        F.when(~in_old, F.lit("I"))
        .when(~in_new, F.lit("D"))
        .when(changed, F.lit("U"))
    )
    return (
        joined.withColumn(op_col, op)
        .filter(F.col(op_col).isNotNull())
        .select(
            F.col(op_col),
            *[
                F.coalesce(n[f"__n_{k}"], o[f"__o_{k}"]).alias(k)
                for k in key_cols
            ],
            *[
                F.when(
                    F.col(op_col) != "D", n[f"__n_{c}"]
                ).alias(c)
                for c in attr_cols
            ],
        )
    )
