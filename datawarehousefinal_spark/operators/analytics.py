"""Relational analytics operators (SURVEY.md §2.5 A4-A9, §2.6 W1-W3,
§2.2 P7) — the dataframe-shaped pieces of the reference's ML layer,
re-expressed as distributed column operations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def daily_counts(df: DataFrame, ts_col: str, out_date: str = "fecha") -> DataFrame:
    """A4: rows per day (machineLearning.py:599). One shuffle on the date."""
    return (
        df.groupBy(F.to_date(ts_col).alias(out_date))
        .agg(F.count(F.lit(1)).alias("movement_count"))
    )


def value_counts(df: DataFrame, col: str) -> DataFrame:
    """A5: class distribution, descending (machineLearning.py:92-93)."""
    return df.groupBy(col).agg(F.count(F.lit(1)).alias("count")).orderBy(
        F.desc("count"), col
    )


def balanced_class_weights(df: DataFrame, label_col: str) -> DataFrame:
    """A6: sklearn compute_class_weight('balanced') as a dataframe:
    weight_c = n_samples / (n_classes * count_c) (machineLearning.py:80-98).

    Two tiny aggregates + a broadcast of one row; no per-class driver loop.
    """
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("count"))
    totals = counts.agg(
        F.sum("count").alias("n_samples"), F.count(F.lit(1)).alias("n_classes")
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        label_col,
        "count",
        (F.col("n_samples") / (F.col("n_classes") * F.col("count"))).alias("weight"),
    )


def attach_class_weights(df: DataFrame, label_col: str) -> DataFrame:
    """A6+M9: put the balanced weight on every row (the estimator's
    ``weightCol``). Broadcast join — the big side never moves."""
    weights = balanced_class_weights(df, label_col).select(label_col, "weight")
    return df.join(F.broadcast(weights), label_col, "left")


def top_n_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list, n: int
) -> DataFrame:
    """A7/W3: n rows per group by a deterministic ordering
    (the reference samples 10/cluster, machineLearning.py:376-382; use
    ``F.rand(seed)`` in ``order_cols`` for its sampling flavor)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def exclude_years(df: DataFrame, date_col: str, years: list[int]) -> DataFrame:
    """P7: year-exclusion filter (machineLearning.py:592-595). The predicate
    pushes to the parquet scan when date_col is a plain column."""
    return df.filter(~F.year(date_col).isin(years))


def time_ordered_split(
    df: DataFrame, order_col: str, train_fraction: float = 0.8
) -> tuple[DataFrame, DataFrame]:
    """W2: positional 80/20 split of a time-ordered frame
    (machineLearning.py:611-615). row_number over the order vs a broadcast
    total-count — no driver round trip.

    Meant for already-aggregated series (daily counts): the global window
    is single-partition, fine at series cardinality, wrong for raw facts.
    """
    w = Window.orderBy(order_col)
    counted = df.withColumn("__rn", F.row_number().over(w)).crossJoin(
        F.broadcast(df.agg(F.count(F.lit(1)).alias("__total")))
    )
    # Explicit floor: cast("long") truncates while SQL CAST(x AS BIGINT)
    # rounds — keep both this and any oracle on floor() semantics.
    split_at = F.floor(F.col("__total") * train_fraction).cast("long")
    train = counted.filter(F.col("__rn") <= split_at).drop("__rn", "__total")
    test = counted.filter(F.col("__rn") > split_at).drop("__rn", "__total")
    return train, test


def distinct_count(df: DataFrame, col: str) -> DataFrame:
    """A9: exact category cardinality."""
    return df.agg(F.countDistinct(col).alias("n_distinct"))


def grouped_ntile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n: int = 4,
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-group quantile binning: equal-count ``ntile(n)`` buckets of
    ``value_col`` WITHIN each group — the feature-discretization
    companion of the ML scaling ops, and the shape that scales: the
    window partitions on the group key, so every group bins in parallel
    (a GLOBAL exact ntile would need a total order — single-partition
    window, the classic scale trap; at 100 TB bin globally with
    approx-percentile boundaries instead and keep this exact form for
    grouped features). Pass tie-breaker ``order_cols`` so equal values
    order deterministically — required for oracle-exact replay.

    Output: input columns + ``bucket`` (1-based int).
    """
    order = [F.col(value_col), *[F.col(c) for c in order_cols]]
    w = Window.partitionBy(group_col).orderBy(*order)
    return df.withColumn("bucket", F.ntile(n).over(w))


def zscore_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    threshold: float = 2.0,
) -> DataFrame:
    """Per-group z-score outlier report: rows whose value deviates more
    than ``threshold`` sample standard deviations from their group mean,
    rolled up to ``group_col, n_outliers, max_abs_z``.

    Two map-side-combined aggregations over the group key (moments, then
    the outlier rollup) joined by that same key — groups with zero
    spread (stddev 0/NULL) produce no outliers rather than a division
    blow-up.
    """
    stats = df.groupBy(group_col).agg(
        F.avg(value_col).alias("__mu"),
        F.stddev_samp(value_col).alias("__sd"),
    )
    z = (F.col(value_col) - F.col("__mu")) / F.col("__sd")
    return (
        df.join(stats, group_col)
        .filter(F.col("__sd") > 0)
        .withColumn("__z", z)
        .filter(F.abs("__z") > threshold)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_outliers"),
            F.max(F.abs("__z")).alias("max_abs_z"),
        )
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    out_col: str | None = None,
    approx: bool = True,
) -> DataFrame:
    """Winsorize a numeric column: clamp values below the ``lower`` and
    above the ``upper`` percentile — the standard outlier treatment
    before scaling/regression (the robust companion of the ML layer's
    StandardScaler). NULL values pass through as NULL (they are missing,
    not small — without the guard, ``greatest(NULL, qlo)`` would
    silently rewrite them to the lower cut).

    The two cut points are ONE single-row percentile aggregate broadcast
    onto the rows (the bounded scalar-broadcast pattern of
    ``class_weights``/``value_histogram``); the clamp itself is pure
    column arithmetic. ``approx=True`` (the default — this is the
    100 TB path) uses ``approx_percentile`` (Greenwald-Khanna sketch:
    constant-memory mergeable state, map-side combined). Pass
    ``approx=False`` only when the cuts feed an oracle comparison:
    EXACT ``percentile`` buffers every value of the column on the one
    reducer that merges the final aggregation state — the same
    single-machine trap as exact countDistinct, and the scale-killer at
    the 100 TB target.
    """
    # ONE array-percentile aggregate: two scalar percentile aggregates
    # would each keep their own copy of the aggregation state (on the
    # exact path, that is every value of the column — twice). Built from
    # column objects, not an interpolated SQL string, so column names
    # with dots/quotes/backticks resolve like everywhere else.
    pcts = F.array(F.lit(float(lower)), F.lit(float(upper)))
    agg = (
        F.percentile_approx(F.col(value_col), pcts)
        if approx
        else F.percentile(F.col(value_col), pcts)
    )
    q = df.agg(agg.alias("__q")).select(
        F.col("__q")[0].cast("double").alias("__qlo"),
        F.col("__q")[1].cast("double").alias("__qhi"),
    )
    clamped = F.when(
        F.col(value_col).isNotNull(),
        F.least(
            F.greatest(F.col(value_col).cast("double"), F.col("__qlo")),
            F.col("__qhi"),
        ),
    )
    return (
        df.crossJoin(F.broadcast(q))
        .withColumn(out_col or value_col, clamped)
        .drop("__qlo", "__qhi")
    )


def grouped_linreg(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group ordinary-least-squares fit y ~ a·x + b, closed form —
    ONE map-side-combined aggregate fits every group's model at once
    (slope/intercept/r² from the classic sufficient statistics
    n, Σx, Σy, Σxy, Σx², Σy²). This is how "a regression per key" scales:
    a million groups cost exactly one shuffle of six numbers each, vs.
    a million pyspark.ml fits costing a job each.

    Degenerate groups (zero x-variance) emit NULL slope/intercept/r²
    rather than ±inf; r² is NULL when y has zero variance (the fit is
    exact but the ratio is 0/0). Callers should keep |x| small (e.g.
    days since the series start, not epoch days) — the closed form
    subtracts same-magnitude products, so huge x magnitudes lose
    precision in ANY engine.

    Output: ``group_cols..., n, slope, intercept, r2``.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sx2"),
        F.sum(y * y).alias("__sy2"),
    )
    n = F.col("n").cast("double")
    ssx = F.col("__sx2") - F.col("__sx") * F.col("__sx") / n
    ssy = F.col("__sy2") - F.col("__sy") * F.col("__sy") / n
    sxy = F.col("__sxy") - F.col("__sx") * F.col("__sy") / n
    slope = F.when(ssx > 0, sxy / ssx)
    intercept = F.when(ssx > 0, (F.col("__sy") - slope * F.col("__sx")) / n)
    r2 = F.when((ssx > 0) & (ssy > 0), (sxy * sxy) / (ssx * ssy))
    return agg.select(
        *group_cols,
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def quantile_rank_normalize(
    df: DataFrame, value_col: str, out_col: str = "q"
) -> DataFrame:
    """Exact quantile (rank) normalization of a numeric column to [0, 1]
    — the preprocessing transform that makes any distribution uniform
    (sklearn's QuantileTransformer with averaged tie ranks: q =
    (midrank − 1) / (n − 1); a constant column maps to 0.5; NULLs pass
    through as NULL).

    Scale shape — this is the part naive implementations get wrong: a
    global ``percent_rank`` window is ONE task holding the whole table.
    Here the table first collapses to its VALUE HISTOGRAM (one map-side
    combined aggregate), the cumulative count over that histogram runs
    through the distributed two-phase prefix sum (packing.
    distributed_cumsum — partition-local windows + a broadcast offset
    table, never a global single-partition sort), and the per-value
    quantile joins back on the value key. Cost: two shuffles regardless
    of row count, and the only ordered structure is the histogram.

    Output: input columns + ``out_col``.
    """
    from datawarehousefinal_spark.operators.packing import distributed_cumsum

    vals = df.filter(F.col(value_col).isNotNull())
    hist = vals.groupBy(value_col).agg(
        F.count(F.lit(1)).cast("double").alias("__cnt")
    )
    cum = distributed_cumsum(hist, [value_col], "__cnt", "__cum")
    n = vals.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    midrank = F.col("__cum") - (F.col("__cnt") - 1) / 2
    qcol = F.when(
        F.col("__n") > 1, (midrank - 1) / (F.col("__n") - 1)
    ).otherwise(F.lit(0.5))
    qmap = cum.crossJoin(F.broadcast(n)).select(
        value_col, qcol.alias(out_col)
    )
    return df.join(qmap, [value_col], "left")


def grouped_quantile_normalize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    out_col: str = "q",
) -> DataFrame:
    """Per-group exact quantile normalization — the segment-aware
    variant of :func:`quantile_rank_normalize` (normalize a feature
    WITHIN its cohort so segments with different scales become
    comparable). Same averaged-tie contract: q = (midrank − 1)/(n − 1)
    within the group, 0.5 for single-value groups, NULL passthrough.

    Scale shape: the per-group value HISTOGRAM (one map-side-combined
    aggregate) is windowed per group — many groups parallelize
    naturally, and the window input is |group's distinct values|, not
    its rows — then joins back on (group, value). The global variant's
    distributed prefix sum is unnecessary here: the group key IS the
    partitioning.
    """
    vals = df.filter(F.col(value_col).isNotNull())
    hist = vals.groupBy(*group_cols, value_col).agg(
        F.count(F.lit(1)).cast("double").alias("__cnt")
    )
    w = Window.partitionBy(*group_cols).orderBy(value_col)
    cum = hist.withColumn(
        "__cum", F.sum("__cnt").over(w)
    ).withColumn(
        "__n", F.sum("__cnt").over(Window.partitionBy(*group_cols))
    )
    midrank = F.col("__cum") - (F.col("__cnt") - 1) / 2
    qcol = F.when(
        F.col("__n") > 1, (midrank - 1) / (F.col("__n") - 1)
    ).otherwise(F.lit(0.5))
    qmap = cum.select(*group_cols, value_col, qcol.alias(out_col))
    return df.join(qmap, [*group_cols, value_col], "left")


def chi2_independence(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, plus Cramer's V effect size — the standard "are these two
    dimensions related" screen a profiling pass runs before modeling
    (NULL categories count as regular levels, matching crosstab
    semantics).

    Scale shape: ONE map-side-combined aggregate reduces the table to
    |A|x|B| observed cells; marginals derive from that tiny frame and
    broadcast back onto it; everything after the first shuffle is
    arithmetic on cell counts. No pivot, no driver-side contingency
    matrix.

    The statistic uses the algebraically exact identity
    ``chi2 = n * (Σ_observed O²/(ra·cb) − 1)``: summing (O−E)²/E only
    over OBSERVED cells understates chi2 whenever any (a,b) combination
    is absent (each structural zero contributes E to the true Pearson
    sum), while the identity needs only observed cells — the zero
    cells' contribution is folded into the −1 term. Pinned against a
    structural-zero table in tests/test_operators.py.

    Output (single row): ``chi2, dof, n, cramers_v``.
    """
    a = F.coalesce(F.col(col_a).cast("string"), F.lit(" null"))
    b = F.coalesce(F.col(col_b).cast("string"), F.lit(" null"))
    cells = df.groupBy(a.alias("__a"), b.alias("__b")).agg(
        F.count(F.lit(1)).cast("double").alias("__o")
    )
    row_m = cells.groupBy("__a").agg(F.sum("__o").alias("__ra"))
    col_m = cells.groupBy("__b").agg(F.sum("__o").alias("__cb"))
    tot = cells.agg(
        F.sum("__o").alias("__n"),
        F.countDistinct("__a").cast("double").alias("__ka"),
        F.countDistinct("__b").cast("double").alias("__kb"),
    )
    joined = (
        cells.join(F.broadcast(row_m), "__a")
        .join(F.broadcast(col_m), "__b")
        .crossJoin(F.broadcast(tot))
    )
    chi2 = F.first("__n") * (
        F.sum(
            F.col("__o") * F.col("__o") / (F.col("__ra") * F.col("__cb"))
        )
        - F.lit(1.0)
    )
    return joined.agg(
        chi2.alias("chi2"),
        ((F.first("__ka") - 1) * (F.first("__kb") - 1))
        .cast("int")
        .alias("dof"),
        F.first("__n").cast("long").alias("n"),
        F.sqrt(
            chi2
            / (
                F.first("__n")
                * F.least(F.first("__ka") - 1, F.first("__kb") - 1)
            )
        ).alias("cramers_v"),
    )


def collapse_rare_categories(
    df: DataFrame,
    col: str,
    min_count: int,
    other_label: str = "__OTHER__",
    out_col: str | None = None,
) -> DataFrame:
    """Tail-category collapse — the vocabulary-truncation / OOV-bucket
    op every feature pipeline and tokenizer build runs: values of
    ``col`` seen fewer than ``min_count`` times map to ``other_label``;
    the rest pass through. Bounds downstream cardinality (one-hot
    widths, vocab tables, per-category aggregates) without dropping
    rows. NULL categories land in the OOV bucket too (a NULL never
    matches the keep-list join) — the unknown-safe default.

    The per-value count frame is |distinct values| rows — it broadcasts
    back onto the corpus, which never shuffles (the same bounded-count
    contract as value_counts).
    """
    out_col = out_col or col
    keep = (
        df.groupBy(F.col(col).alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= F.lit(min_count))
        .select("__v")
    )
    return (
        df.join(F.broadcast(keep), df[col] == keep["__v"], "left")
        .withColumn(
            out_col,
            F.when(F.col("__v").isNotNull(), F.col(col)).otherwise(
                F.lit(other_label)
            ),
        )
        .drop("__v")
    )


def cumulative_new_users(
    events: DataFrame, user_col: str, ts_col: str, out_day: str = "day"
) -> DataFrame:
    """Daily new-user counts and the running total of distinct users
    ever seen — the growth curve every activity dashboard opens with.

    Exact running distinct-count without any distinct-over-window state:
    each user collapses to their FIRST active day (one user-keyed
    aggregate), the per-day arrivals aggregate from that, and the
    cumulative sum runs through the distributed two-phase prefix sum
    (packing.distributed_cumsum — no global single-partition window).
    All counts exact integers.

    Output: day, n_new_users, cum_users.
    """
    from datawarehousefinal_spark.operators.packing import distributed_cumsum

    first = events.groupBy(user_col).agg(
        F.min(F.to_date(ts_col)).alias(out_day)
    )
    daily = first.groupBy(out_day).agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    return distributed_cumsum(
        daily, [out_day], "n_new_users", "cum_users"
    ).select(
        out_day, "n_new_users", F.col("cum_users").cast("long").alias("cum_users")
    )


def new_vs_returning_daily(
    events: DataFrame, user_col: str, ts_col: str
) -> DataFrame:
    """Per-day split of the active-user base into first-time and
    returning users — the companion view to :func:`cumulative_new_users`.

    Shape: distinct (user, day) activity joins the per-user first-day
    frame on the user key (both sides shuffle on user_id once; the
    first-day side is |users|, not |events|), then a day-keyed count
    aggregate. No windows at all.

    Output: day, n_new_users, n_returning_users.
    """
    e = events.select(
        F.col(user_col).alias("__u"), F.to_date(ts_col).alias("day")
    )
    first = e.groupBy("__u").agg(F.min("day").alias("__fd"))
    active = e.distinct()
    return (
        active.join(first, "__u")
        .groupBy("day")
        .agg(
            F.sum((F.col("day") == F.col("__fd")).cast("bigint")).alias(
                "n_new_users"
            ),
            F.sum((F.col("day") > F.col("__fd")).cast("bigint")).alias(
                "n_returning_users"
            ),
        )
    )


def grouped_exact_median(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Exact lower median of an integer-valued column per group: the
    smallest value whose cumulative count reaches half the group — a
    deterministic, SQL-replayable contract (no interpolation, so no
    float arithmetic at all for integer inputs).

    Scale shape: the table collapses to its per-group VALUE HISTOGRAM
    first (map-side combined), and the cumulative window runs over
    distinct values within each group — |distinct values|, not rows;
    groups parallelize naturally.

    Output: group_cols + ``median`` (same type as ``value_col``).
    """
    hist = df.groupBy(*group_cols, value_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    w_cum = Window.partitionBy(*group_cols).orderBy(value_col)
    w_all = Window.partitionBy(*group_cols)
    cum = hist.withColumn("__cum", F.sum("__c").over(w_cum)).withColumn(
        "__n", F.sum("__c").over(w_all)
    )
    return (
        cum.filter(F.col("__cum") * 2 >= F.col("__n"))
        .groupBy(*group_cols)
        .agg(F.min(value_col).alias("median"))
    )


def event_transition_probs(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next = b | current = a) with exact counts — the
    behavioral-model input for "what do users do after X" product
    questions.

    One lead() window per user (partitioned on the user key — parallel,
    input bounded by a user's history; ``tiebreak_col`` makes
    equal-timestamp ordering total so the matrix is deterministic),
    then a (from, to)-keyed count and a broadcast join against per-from
    totals. Probabilities are single divisions of exact counts.

    Output: from_type, to_type, n, p.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    nxt = events.select(
        F.col(type_col).alias("from_type"),
        F.lead(type_col).over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = nxt.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("__tot"))
    return counts.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n") / F.col("__tot")).alias("p"),
    )


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
) -> DataFrame:
    """2-D skyline (Pareto front, maximize both axes): the rows no
    other row weakly dominates — multi-criteria shortlisting ("best
    customers by balance AND order volume", "docs best on quality AND
    length") without collapsing the axes into one arbitrary score.

    The quadratic dominance self-join is avoided with the classic
    sort-sweep, distributed: per distinct x, only the max-y rows can
    survive; a row survives iff its y strictly exceeds the running max
    of y over all STRICTLY-larger x (``packing.distributed_cummax``
    over the distinct-x frame — never a global single-partition
    window). Ties on both axes all survive (neither dominates —
    dominance requires strict improvement in one axis). Exact
    comparisons only; deterministic and SQL-replayable via the
    NOT EXISTS dominance definition.

    Output: the input's (id, x, y) rows on the skyline.
    """
    from datawarehousefinal_spark.operators.packing import distributed_cummax

    per_x = df.groupBy(F.col(x_col).alias("__x")).agg(
        F.max(F.col(y_col)).alias("__maxy")
    )
    # Running max over strictly larger x: order by x DESC and lag the
    # running max by excluding the current row — done by computing the
    # inclusive cummax, then taking the PREVIOUS value via a second
    # pass: inclusive cummax over (-x) minus self is just the cummax of
    # the predecessor row, which equals the inclusive cummax of x' > x
    # because per_x has one row per x.
    ordered = per_x.withColumn("__negx", -F.col("__x"))
    inc = distributed_cummax(ordered, ["__negx"], "__maxy", "__inc")
    # Survivor criterion. Let inc(x) = max of __maxy over all x' >= x
    # (the inclusive descending-x running max above). x survives iff
    # __maxy(x) STRICTLY exceeds every larger x's __maxy — i.e.
    # __maxy == __inc AND x is the first (largest-x) attainment of
    # that inc value. inc is monotone (nondecreasing as x falls), so
    # rows sharing an inc value form one contiguous run whose largest-x
    # row is exactly where inc jumped — and a jump requires
    # __maxy == __inc there. Hence "largest x per inc value" picks the
    # true first attainment, and no lag/window over the distinct-x
    # frame is needed.
    first_attain = inc.groupBy("__inc").agg(F.max("__x").alias("__x_at"))
    sky_x = (
        inc.join(F.broadcast(first_attain), "__inc")
        .filter(
            (F.col("__maxy") == F.col("__inc"))
            & (F.col("__x") == F.col("__x_at"))
        )
        .select("__x", "__maxy")
    )
    return df.join(
        sky_x,
        (F.col(x_col) == F.col("__x")) & (F.col(y_col) == F.col("__maxy")),
    ).select(id_col, x_col, y_col)
