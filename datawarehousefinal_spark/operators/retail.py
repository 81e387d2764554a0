"""Retail / customer-analytics operators: market-basket pair lift, RFM
segmentation, and score-decile lift tables.

These generalize the reference's cube-measure analytics (Mondrian measure
surface, Schema_Trabajo_Final.xml:69-72; machineLearning.py:118-131 class
balance reporting) to the co-occurrence / customer-scoring queries a
warehouse team runs next: which items sell together (support/lift), which
customers matter (RFM), and whether a propensity score actually ranks
conversions (decile lift). All three are pure DataFrame compositions —
no UDFs, no driver loops — and every ordering that feeds a bucket
assignment is made total with an id tie-break so results are
deterministic and SQL-replayable.

Scale notes (100 TB):
- Basket pairs explode per-basket item COMBINATIONS, so cost is
  sum(k_i choose 2) over baskets — bounded by the largest basket, not
  the table. A ``max_basket`` guard drops degenerate baskets (the same
  guard MinHash banding uses for hot buckets) so one pathological order
  cannot produce a quadratic straggler task.
- RFM / ntile bucketing avoids the global single-partition window via
  ``packing.distributed_cumsum`` (partition-local windows + broadcast
  prefix offsets), the same machinery as quantile_rank_normalize.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datawarehousefinal_spark.materialize import materialized


def basket_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket: int = 200,
) -> DataFrame:
    """Distinct co-occurring item pairs per basket, item_a < item_b.

    Self-join on the basket key with an inequality on the item — Spark
    plans this as a shuffle hash join on ``basket_col`` (co-partitioned,
    no cartesian); pair volume is quadratic only in the ITEMS OF ONE
    BASKET, and baskets over ``max_basket`` distinct items are excluded
    before the self-join rather than allowed to straggle (see
    :func:`basket_lift` for how the exclusion keeps the metric
    denominators consistent).

    Output: one row per (basket, item_a, item_b).
    """
    items = baskets.select(basket_col, item_col).distinct()
    return _pairs_from_items(
        _cap_baskets(items, basket_col, max_basket), basket_col, item_col
    )


def _cap_baskets(
    items: DataFrame, basket_col: str, max_basket: int
) -> DataFrame:
    """Drop baskets holding more than ``max_basket`` distinct items from
    a distinct (basket, item) frame — the quadratic-straggler guard."""
    sizes = items.groupBy(basket_col).agg(F.count(F.lit(1)).alias("__bsz"))
    return items.join(
        sizes.filter(F.col("__bsz") <= max_basket).select(basket_col),
        basket_col,
    )


def _pairs_from_items(
    items: DataFrame, basket_col: str, item_col: str
) -> DataFrame:
    """Pair enumeration over an already-distinct, already-capped
    (basket, item) frame — split out so :func:`basket_lift` can
    materialize that frame once and feed every consumer (basket count,
    item counts, pairs) without re-running the upstream join or the
    :func:`_cap_baskets` guard per consumer."""
    a = items.select(basket_col, F.col(item_col).alias("item_a"))
    b = items.select(basket_col, F.col(item_col).alias("item_b"))
    return a.join(b, basket_col).filter(F.col("item_a") < F.col("item_b"))


@contextmanager
def basket_lift(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket: int = 200,
) -> Iterator[DataFrame]:
    """Pairwise association metrics over baskets: support counts,
    confidence and lift per co-occurring item pair.

    lift(a,b) = P(a,b) / (P(a) P(b)) = n * n_ab / (n_a * n_b) with n =
    basket count. All counts are exact integers from two aggregates
    (pair counts, item counts); the ratios are single divisions of
    exact integers — deterministic regardless of partial-agg merge
    order, so the result is hash-stable and DuckDB-replayable.

    Baskets over ``max_basket`` distinct items are excluded from the
    WHOLE analysis — basket count, item counts, and pairs alike — so
    the cap changes every probability's denominator consistently
    instead of silently deflating pair supports against item totals
    that still include the dropped baskets. Replay the guard in any
    external oracle as a ``HAVING count(*) <= max_basket`` pre-filter
    on the distinct (basket, item) frame.

    Yields item_a, item_b, n_ab, n_a, n_b, lift, confidence_ab, lazy
    over the basket checkpoints, which are released on exit.
    """
    # Materialize the capped distinct (basket, item) frame ONCE: three
    # consumers (basket count, item counts, pair self-join) would
    # otherwise each re-run the upstream source join and the size
    # filter. The pre-cap distinct frame is checkpointed too so the
    # size aggregate and the filter probe share one upstream run.
    with (
        materialized(
            baskets.select(basket_col, item_col).distinct(), checkpoint=True
        ) as items,
        materialized(
            _cap_baskets(items, basket_col, max_basket), checkpoint=True
        ) as ok,
    ):
        n_baskets = ok.select(basket_col).distinct().count()
        item_counts = ok.groupBy(item_col).agg(
            F.count(F.lit(1)).alias("__n_item")
        )
        pair_counts = (
            _pairs_from_items(ok, basket_col, item_col)
            .groupBy("item_a", "item_b")
            .agg(F.count(F.lit(1)).alias("n_ab"))
            .filter(F.col("n_ab") >= min_support)
        )
        ca = item_counts.select(
            F.col(item_col).alias("item_a"), F.col("__n_item").alias("n_a")
        )
        cb = item_counts.select(
            F.col(item_col).alias("item_b"), F.col("__n_item").alias("n_b")
        )
        yield (
            pair_counts.join(F.broadcast(ca), "item_a")
            .join(F.broadcast(cb), "item_b")
            .select(
                "item_a",
                "item_b",
                "n_ab",
                "n_a",
                "n_b",
                (
                    F.lit(float(n_baskets))
                    * F.col("n_ab")
                    / (F.col("n_a") * F.col("n_b"))
                ).alias("lift"),
                (F.col("n_ab") / F.col("n_a")).alias("confidence_ab"),
            )
        )


def deterministic_ntile(
    df: DataFrame,
    order_cols: list[str],
    n_buckets: int,
    out_col: str,
    n_rows: int | None = None,
) -> DataFrame:
    """Assign each row to one of ``n_buckets`` equal-frequency buckets
    (1-based) by its exact rank in the total order ``order_cols`` —
    the scale-safe stand-in for ``ntile(k) OVER (ORDER BY ...)``.

    ``order_cols`` must be a unique key (append an id column): the rank
    is then well-defined and the bucket formula
    ``1 + floor((rank - 1) * k / n)`` is pure integer arithmetic —
    deterministic, merge-order-free, and replayable in SQL as
    ``1 + (row_number() OVER (ORDER BY ...) - 1) * k // n`` (NOT SQL's
    ntile(), whose remainder distribution differs; both sides of the
    oracle use this same formula).

    Scale shape: a global window would sort the table in ONE task;
    here the rank comes from ``distributed_cumsum`` over unit weights
    (range-bucketed local windows + a broadcast offset table), so the
    only global structure is the tiny per-bucket offset frame.
    """
    from datawarehousefinal_spark.operators.packing import distributed_cumsum

    ranked = distributed_cumsum(
        df.withColumn("__one", F.lit(1).cast("bigint")),
        order_cols,
        "__one",
        "__rank",
    )
    # Callers bucketing the SAME frame on several metrics pass n_rows
    # once instead of paying one count() action per metric.
    n = n_rows if n_rows is not None else df.count()
    # Integer DIV, not floor(double /): exact for any rank/bucket count.
    bucket = F.expr(
        f"CAST(1 + ((`__rank` - 1) * {n_buckets}) DIV {n} AS INT)"
    )
    return ranked.withColumn(out_col, bucket).drop("__one", "__rank")


@contextmanager
def rfm_scores(
    orders: DataFrame,
    customer_col: str,
    date_col: str,
    amount_col: str,
    n_buckets: int = 4,
) -> Iterator[DataFrame]:
    """Per-customer RFM scoring: recency (latest order date), frequency
    (order count), monetary (exact decimal revenue sum), each bucketed
    1..k by :func:`deterministic_ntile` with the customer id as the
    tie-break, so equal metric values resolve identically on the Spark
    and oracle sides.

    Higher score = better customer on every axis (most recent date,
    highest frequency, highest spend → bucket k).

    Yields: customer, recency_date, frequency, monetary, r_score,
    f_score, m_score. A context manager: the yielded frame reads a
    per-customer checkpoint released on exit.
    """
    # Checkpoint the per-customer aggregate: three metric bucketings
    # each walk the lineage several times (range-boundary sample +
    # window + join-back), and without materialization the orders scan
    # and groupBy re-execute ~9x. One row per customer — distributed,
    # bounded by the dimension size, not the fact table.
    with materialized(
        orders.groupBy(F.col(customer_col).alias("customer"))
        .agg(
            F.max(F.to_date(date_col)).alias("recency_date"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col(amount_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        ),
        checkpoint=True,
    ) as per_cust:
        n = per_cust.count()
        scored = deterministic_ntile(
            per_cust, ["recency_date", "customer"], n_buckets, "r_score", n_rows=n
        )
        scored = deterministic_ntile(
            scored, ["frequency", "customer"], n_buckets, "f_score", n_rows=n
        )
        yield deterministic_ntile(
            scored, ["monetary", "customer"], n_buckets, "m_score", n_rows=n
        )


def decile_lift(
    scored: DataFrame,
    score_cols: list[str],
    label_col: str,
    n_deciles: int = 10,
) -> DataFrame:
    """Score-decile lift table — the standard propensity-model
    evaluation: bucket rows into deciles by descending score (decile 1
    = best-scored), report per-decile volume, positives, response rate,
    and cumulative lift vs the base rate.

    ``score_cols`` is the DESCENDING-score total order (caller supplies
    e.g. ``[F.desc(score), id]`` column names pre-negated or a
    descending surrogate); deterministic given a unique order. All
    inputs to the rates are exact integer counts; divisions happen once
    at the end — hash-stable.

    Output per decile: decile, n, n_pos, response_rate, cum_lift.
    """
    binned = deterministic_ntile(scored, score_cols, n_deciles, "decile")
    per = binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label_col).cast("bigint")).alias("n_pos"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per.withColumn("__cum_n", F.sum("n").over(w))
        .withColumn("__cum_pos", F.sum("n_pos").over(w))
        .withColumn("__tot_n", F.sum("n").over(tot))
        .withColumn("__tot_pos", F.sum("n_pos").over(tot))
        .select(
            "decile",
            "n",
            "n_pos",
            (F.col("n_pos") / F.col("n")).alias("response_rate"),
            (
                (F.col("__cum_pos") / F.col("__cum_n"))
                / (F.col("__tot_pos") / F.col("__tot_n"))
            ).alias("cum_lift"),
        )
    )
