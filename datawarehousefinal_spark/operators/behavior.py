"""Event-behavior analytics — ordered funnels and cohort retention.

The two staple clickstream analyses a warehouse serves (every product
analytics stack — Mondrian dashboards included — ends up asking them):
"how many users completed signup → click → purchase, in order?" and
"of the users first seen in week W, how many were active k weeks later?"

Scale shapes:

* ``event_funnel``: every per-step timestamp is a conditional ``min``
  window over the SAME ``partitionBy(user)`` — k steps = k Window
  expressions over ONE exchange (step k's min is conditioned on being
  after step k-1's min, which is a plain column by then). The report is
  then one small aggregate. No joins, no k passes over the events.
* ``cohort_retention``: one distinct over (user, period) — the only
  shuffle carrying event-volume data — then a min-window for the cohort
  and a count per (cohort, offset). |users|×|periods| rows after the
  distinct, tiny at any scale.

Both are pure codegen and exactly SQL-replayable (oracled in
queries/retail.py). Period arithmetic uses integer epoch-days / 7 so both
engines agree on week boundaries (no locale-dependent ``weekofyear``).

Reference scope: beyond-reference analytics in the A-section family
(SURVEY.md §2.5's value-counts / daily-counts generalized to ordered
behavior).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def event_funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    max_gap_hours: int | None = None,
) -> DataFrame:
    """Ordered-funnel report: for each step prefix, how many users
    completed it IN ORDER (step i's event strictly after the user's
    first step-(i-1) event).

    ``max_gap_hours`` adds the CONVERSION-WINDOW variant every product
    analytics tool ships: step i must also land within that many hours
    of the user's first step-(i-1) event. Semantics are the standard
    greedy-from-first-occurrence scan (a user whose early signup missed
    the window does not get credit for a later signup that would have
    made it) — deterministic, one window pass, and exactly what the
    SQL oracle replays.

    Output: ``step (int, 1-based), step_name, n_users`` — n_users is
    non-increasing by construction.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    w = Window.partitionBy(user_col)
    cur = df.select(user_col, ts_col, type_col)
    prev_t = None
    t_cols = []
    for i, s in enumerate(steps):
        cond = F.col(type_col) == F.lit(s)
        if prev_t is not None:
            cond = cond & F.col(prev_t).isNotNull() & (
                F.col(ts_col) > F.col(prev_t)
            )
            if max_gap_hours is not None:
                cond = cond & (
                    F.col(ts_col)
                    <= F.col(prev_t)
                    + F.expr(f"INTERVAL {int(max_gap_hours)} HOURS")
                )
        t = f"__t{i}"
        cur = cur.withColumn(t, F.min(F.when(cond, F.col(ts_col))).over(w))
        prev_t = t
        t_cols.append(t)
    per_user = cur.groupBy(user_col).agg(
        *[F.max(t).alias(t) for t in t_cols]
    )
    counts = per_user.agg(
        *[F.count(F.col(t)).cast("long").alias(f"__n{i}") for i, t in enumerate(t_cols)]
    )
    from datawarehousefinal_spark.operators.unpivot import unpivot_single_row

    return unpivot_single_row(
        counts,
        [(i + 1, s, F.col(f"__n{i}")) for i, s in enumerate(steps)],
        ["step", "step_name", "n_users"],
    )


def funnel_step_timing(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Time-to-convert per funnel transition: among users who completed
    step i, the count plus avg/median/max seconds from their first
    step-(i-1) event to their first qualifying step-i event — the
    "WHERE does the funnel stall" report that the count-only funnel
    can't answer.

    Same single-exchange shape as :func:`event_funnel` (k conditional
    min windows over one user partition); gaps are integer epoch-second
    differences so both engines agree exactly, and the median is the
    exact interpolated percentile over the per-user gaps (|converters|
    rows — tiny after the per-user collapse).

    Output: ``step (2-based transition index), step_name, n_converted,
    avg_gap_s, median_gap_s, max_gap_s``.
    """
    if len(steps) < 2:
        raise ValueError("timing needs at least two steps")
    w = Window.partitionBy(user_col)
    cur = df.select(user_col, ts_col, type_col)
    prev_t = None
    t_cols = []
    for i, s in enumerate(steps):
        cond = F.col(type_col) == F.lit(s)
        if prev_t is not None:
            cond = cond & F.col(prev_t).isNotNull() & (
                F.col(ts_col) > F.col(prev_t)
            )
        t = f"__t{i}"
        cur = cur.withColumn(t, F.min(F.when(cond, F.col(ts_col))).over(w))
        prev_t = t
        t_cols.append(t)
    per_user = cur.groupBy(user_col).agg(
        *[F.max(t).alias(t) for t in t_cols]
    )
    # integer epoch-MICROsecond difference scaled to seconds: exact and
    # engine-agreed (unix_micros ≙ DuckDB epoch_us — the module-wide
    # convention; whole-second unix_timestamp would truncate fractional
    # event times differently than epoch())
    gaps = per_user.select(
        *[
            (
                (
                    F.unix_micros(F.col(t_cols[i]))
                    - F.unix_micros(F.col(t_cols[i - 1]))
                )
                / F.lit(1000000.0)
            ).alias(f"__g{i}")
            for i in range(1, len(t_cols))
        ]
    )
    stats = gaps.agg(
        *[
            agg
            for i in range(1, len(t_cols))
            for agg in (
                F.count(F.col(f"__g{i}")).cast("long").alias(f"__n{i}"),
                F.avg(f"__g{i}").alias(f"__avg{i}"),
                F.expr(f"percentile(__g{i}, 0.5)").alias(f"__med{i}"),
                F.max(f"__g{i}").alias(f"__max{i}"),
            )
        ]
    )
    from datawarehousefinal_spark.operators.unpivot import unpivot_single_row

    return unpivot_single_row(
        stats,
        [
            (
                i + 1,
                steps[i],
                F.col(f"__n{i}"),
                F.col(f"__avg{i}"),
                F.col(f"__med{i}"),
                F.col(f"__max{i}"),
            )
            for i in range(1, len(steps))
        ],
        ["step", "step_name", "n_converted", "avg_gap_s",
         "median_gap_s", "max_gap_s"],
    )


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    period_days: int = 7,
) -> DataFrame:
    """Cohort retention triangle: users bucketed by their first-activity
    period, counted in every later period they were active.

    Output: ``cohort_period (int, epoch-day / period_days), offset
    (periods since cohort), n_users`` — ``offset 0`` row is the cohort
    size.
    """
    # floor division (not cast-truncation) so the Spark and SQL replicas
    # agree sign-independently; epoch-day // 7 = ISO-agnostic week index.
    period = F.floor(
        F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01").cast("date"))
        / period_days
    ).cast("int")
    active = df.select(
        F.col(user_col), period.alias("__p")
    ).distinct()
    w = Window.partitionBy(user_col)
    with_cohort = active.withColumn("__c", F.min("__p").over(w))
    return (
        with_cohort.groupBy(
            F.col("__c").alias("cohort_period"),
            (F.col("__p") - F.col("__c")).alias("offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def top_event_paths(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    tiebreak_col: str,
    depth: int = 3,
    k: int = 10,
) -> DataFrame:
    """Journey analysis: the ``k`` most common opening event paths — each
    user's FIRST ``depth`` events (by time, deterministically
    tie-broken) concatenated into a path string, counted across users.
    The "how do sessions start" report product analytics asks right
    after the funnel.

    Scale shape: one ``partitionBy(user)`` window ranks events (the
    row_number cut keeps ``depth`` rows per user BEFORE anything else
    happens — WindowGroupLimit prunes map-side), one groupBy(user)
    assembles the path from ≤``depth`` rows via an ordered in-group
    sort (``array_sort`` of (rank, type) structs — no relying on
    collect_list order, which Spark does not guarantee), and the path
    count is a tiny aggregate. Users with fewer than ``depth`` events
    contribute their shorter path.

    Output: ``path, n_users`` — top ``k`` by (n_users desc, path).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    ranked = (
        df.select(user_col, type_col, ts_col, tiebreak_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= depth)
    )
    paths = ranked.groupBy(user_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__rn", F.col(type_col).alias("t")))
                ),
                lambda s: s["t"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(k)
    )


def conversion_attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("view", "click"),
) -> DataFrame:
    """First/last-touch conversion attribution — for every conversion
    event, which touch opened the path and which one closed it: the
    FIRST and LAST touch event since the user's previous conversion
    (or stream start). The third staple clickstream analysis next to
    the ordered funnel and cohort retention.

    Shape: one exchange on the user id. The conversion epoch (count of
    PRIOR conversions) is a running sum over the user window; the
    first/last-touch carries are ignore-null ``first``/``last`` frames
    over (user, epoch) — a refinement of the user hash partitioning,
    so Catalyst satisfies the second window's distribution without a
    new shuffle (one extra in-partition sort at most). Events that are
    neither touch nor conversion (e.g. errors) ride along untouched.

    Output, one row per conversion event: ``user_col, conversion_id,
    conversion_ts, first_touch_type, first_touch_ts, last_touch_type,
    last_touch_ts, n_touches (long)`` — NULL touches / 0 when the
    conversion had no preceding touch in its epoch.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    is_conv = (F.col(type_col) == conversion_type).cast("int")
    prior = w.rowsBetween(Window.unboundedPreceding, -1)
    touch_t = F.when(
        F.col(type_col).isin(*touch_types), F.col(type_col)
    )
    touch_ts = F.when(
        F.col(type_col).isin(*touch_types), F.col(ts_col)
    )
    ev = df.select(
        user_col, ts_col, type_col, tiebreak_col
    ).withColumn(
        "__epoch", F.coalesce(F.sum(is_conv).over(prior), F.lit(0))
    )
    w2 = Window.partitionBy(user_col, "__epoch").orderBy(
        ts_col, tiebreak_col
    )
    upto = w2.rowsBetween(Window.unboundedPreceding, 0)
    before = w2.rowsBetween(Window.unboundedPreceding, -1)
    # One select so Catalyst collapses the five carries into two Window
    # nodes (one per frame) instead of a withColumn chain of five.
    attributed = ev.select(
        "*",
        F.first(touch_t, ignorenulls=True).over(upto).alias("first_touch_type"),
        F.first(touch_ts, ignorenulls=True).over(upto).alias("first_touch_ts"),
        F.last(touch_t, ignorenulls=True).over(before).alias("last_touch_type"),
        F.last(touch_ts, ignorenulls=True).over(before).alias("last_touch_ts"),
        F.coalesce(
            F.sum(touch_t.isNotNull().cast("long")).over(before), F.lit(0)
        ).cast("long").alias("n_touches"),
    )
    return attributed.filter(F.col(type_col) == conversion_type).select(
        user_col,
        F.col(tiebreak_col).alias("conversion_id"),
        F.col(ts_col).alias("conversion_ts"),
        "first_touch_type",
        "first_touch_ts",
        "last_touch_type",
        "last_touch_ts",
        "n_touches",
    )
