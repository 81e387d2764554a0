"""Bucketized range join — points into intervals without a nested loop.

``points JOIN intervals ON p BETWEEN lo AND hi`` has no equi-key, so
Spark plans it as BroadcastNestedLoopJoin (or worse, CartesianProduct):
every point × every interval. The standard fix is to discretize the
range dimension into fixed-width buckets, explode each interval over the
buckets it spans, equi-join point-bucket to interval-bucket, and keep the
exact BETWEEN as a post-filter — the join becomes a hash join whose
candidate set is only the intervals overlapping the point's bucket.

Bucket width tunes candidate density: ~the median interval width is a
good default (each interval explodes to O(1) buckets and each point
meets O(density) candidates). Degenerate inputs (an interval spanning
the whole domain) explode to many buckets — ``max_buckets_per_interval``
refuses them loudly instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucketize_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
    max_buckets_per_interval: int = 10_000,
) -> DataFrame:
    """Inner equi-join of ``points`` to every interval containing them.

    Output: all point columns + all interval columns, one row per
    (point, containing interval); uncontained points drop. Intervals are
    treated as closed: lo <= p <= hi. Intervals spanning >=
    ``max_buckets_per_interval`` buckets are refused loudly.
    """
    clash = set(points.columns) & set(intervals.columns)
    if clash:
        raise ValueError(
            f"point/interval column names collide: {sorted(clash)}; rename "
            f"before joining"
        )
    p_bucket = F.floor(F.col(point_col) / bucket_width).cast("long")
    lo_b = F.floor(F.col(lo_col) / bucket_width).cast("long")
    hi_b = F.floor(F.col(hi_col) / bucket_width).cast("long")
    is_wide = (hi_b - lo_b) >= F.lit(max_buckets_per_interval)

    # the guard must be LOUD: silently dropping an interval's matches
    # makes the join quietly incomplete. The check is one tiny action
    # over the (dim-sized) intervals frame.
    if intervals.filter(is_wide).limit(1).count():
        raise ValueError(
            f"interval(s) span >= {max_buckets_per_interval} buckets at "
            f"width {bucket_width}; widen bucket_width"
        )
    exploded = intervals.withColumn(
        "__bucket", F.explode(F.sequence(lo_b, hi_b))
    )
    contained: Column = (F.col(point_col) >= F.col(lo_col)) & (
        F.col(point_col) <= F.col(hi_col)
    )
    return (
        points.withColumn("__bucket", p_bucket)
        .join(exploded, "__bucket")
        .filter(contained)
        .drop("__bucket")
    )
