"""Relational and statistical analytics over the fixture facts
(machineLearning.py's reporting layer and beyond).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.sources.testdata import load_table


@query(
    "daily_counts",
    oracle="""
    SELECT CAST(ts AS DATE) AS fecha, count(*) AS movement_count
    FROM events GROUP BY 1
    """,
)
def daily_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: rows per day (machineLearning.py:599)."""
    from datawarehousefinal_spark.operators.analytics import daily_counts

    return daily_counts(load_table(spark, sf_dir, "events"), "ts")


@query(
    "value_counts",
    oracle="""
    SELECT event_type, count(*) AS count FROM events GROUP BY 1
    """,
)
def value_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: class distribution (machineLearning.py:92-93)."""
    from datawarehousefinal_spark.operators.analytics import value_counts

    return value_counts(load_table(spark, sf_dir, "events"), "event_type")


@query(
    "class_weights",
    oracle="""
    WITH c AS (SELECT event_type, count(*) AS count FROM events GROUP BY 1),
         t AS (SELECT sum(count) AS n_samples, count(*) AS n_classes FROM c)
    SELECT c.event_type, c.count,
           CAST(t.n_samples AS DOUBLE) / (t.n_classes * c.count) AS weight
    FROM c, t
    """,
)
def class_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: balanced class weights n/(k*count_c) (machineLearning.py:80-98)."""
    from datawarehousefinal_spark.operators.analytics import balanced_class_weights

    return balanced_class_weights(load_table(spark, sf_dir, "events"), "event_type")


@query(
    "top_n_per_group",
    oracle="""
    SELECT event_id, event_type, value FROM (
        SELECT event_id, event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id) AS rn
        FROM events
    ) WHERE rn <= 5
    """,
)
def top_n_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/W3: deterministic top-5 per group (per-cluster sampling shape,
    machineLearning.py:376-382)."""
    from datawarehousefinal_spark.operators.analytics import top_n_per_group

    events = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return top_n_per_group(
        events, ["event_type"], [F.desc("value"), F.col("event_id")], 5
    )


@query(
    "year_exclusion",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS anio, count(*) AS n
    FROM orders WHERE year(o_orderdate) NOT IN (1996, 1998)
    GROUP BY 1
    """,
)
def year_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: year-exclusion filter before aggregation (the reference drops
    2020, machineLearning.py:592-595)."""
    from datawarehousefinal_spark.operators.analytics import exclude_years

    orders = load_table(spark, sf_dir, "orders")
    return (
        exclude_years(orders, "o_orderdate", [1996, 1998])
        .groupBy(F.year("o_orderdate").alias("anio"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "time_split_train",
    oracle="""
    WITH d AS (SELECT CAST(ts AS DATE) AS fecha, count(*) AS movement_count
               FROM events GROUP BY 1),
         n AS (SELECT d.*, row_number() OVER (ORDER BY fecha) AS rn,
                      count(*) OVER () AS total
               FROM d)
    SELECT fecha, movement_count FROM n
    WHERE rn <= CAST(floor(total * 0.8) AS BIGINT)
    """,
)
def time_split_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: positional 80/20 time split, train side
    (machineLearning.py:611-615)."""
    from datawarehousefinal_spark.operators.analytics import (
        daily_counts,
        time_ordered_split,
    )

    d = daily_counts(load_table(spark, sf_dir, "events"), "ts")
    train, _test = time_ordered_split(d, "fecha", 0.8)
    return train


@query(
    "distinct_count",
    oracle="SELECT count(DISTINCT user_id) AS n_distinct FROM events",
)
def distinct_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: exact distinct cardinality (nunique, machineLearning.py:433)."""
    from datawarehousefinal_spark.operators.analytics import distinct_count

    return distinct_count(load_table(spark, sf_dir, "events"), "user_id")


@query(
    "max_anchor",
    oracle="SELECT CAST(max(ts) AS DATE) AS last_date FROM events",
)
def max_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: max-date forecast anchor (machineLearning.py:630)."""
    events = load_table(spark, sf_dir, "events")
    return events.agg(F.max(F.to_date("ts")).alias("last_date"))


@query(
    "ordered_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def ordered_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/W4: deterministic ORDER BY + LIMIT (TakeOrderedAndProject —
    per-partition top-k then merge, no global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderkey", "o_totalprice").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    ).limit(10)


@query(
    "seeded_sample_100",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY md5(o_orderkey::VARCHAR || ':42'), o_orderkey
    LIMIT 100
    """,
)
def seeded_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: exact-n seeded sample (machineLearning.py:146-147), via the
    HASH-ordered sampler (curation.deterministic_sample_exact): the 100
    smallest md5(id:seed) rows — a pure function of (ids, seed), so
    DuckDB replays the exact row set and the driver hash-checks it
    (a rand-ordered sample's order is Spark-internal and can never be
    oracled)."""
    from datawarehousefinal_spark.operators.curation import (
        deterministic_sample_exact,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return deterministic_sample_exact(orders, "o_orderkey", 100)


_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", count(*)::BIGINT AS n_total,
        (count(*) - count({c}))::BIGINT AS n_nulls,
        count(DISTINCT {c})::BIGINT AS n_distinct,
        min({c})::VARCHAR AS min_value, max({c})::VARCHAR AS max_value
        FROM orders"""
    for c in sorted(_PROFILE_COLS)
)


@query("table_profile", oracle=_PROFILE_ORACLE)
def table_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the orders table — per-column null count,
    exact distinct cardinality, and min/max — computed in ONE aggregation
    pass (operators/profile.py; the generalization of the reference's
    ad-hoc data-quality printouts, Datos/preprocessing.py:150,
    machineLearning.py:92-96). The oracle is a per-column UNION ALL
    generated from the same column list."""
    from datawarehousefinal_spark.operators.profile import profile_table

    orders = load_table(spark, sf_dir, "orders")
    # approx=False ONLY because this feeds the DuckDB oracle's exact
    # count(DISTINCT ...); production profiling keeps the approx default
    # (HLL sketches - no Expand row replication).
    return profile_table(orders, list(_PROFILE_COLS))


@query(
    "correlation_matrix",
    oracle="""
    SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b,
           corr(l_discount, l_extendedprice) AS corr
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', 'l_quantity',
           corr(l_discount, l_quantity) FROM lineitem
    UNION ALL
    SELECT 'l_discount', 'l_tax',
           corr(l_discount, l_tax) FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', 'l_quantity',
           corr(l_extendedprice, l_quantity) FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', 'l_tax',
           corr(l_extendedprice, l_tax) FROM lineitem
    UNION ALL
    SELECT 'l_quantity', 'l_tax',
           corr(l_quantity, l_tax) FROM lineitem
    """,
    # moment-buffer folds re-associate — serve-boundary contract
    round_cols=("corr",),
)
def correlation_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem measures — all six
    pairs as aggregates in ONE scan (constant moment-buffer state per
    pair), unpivoted to the long upper triangle. The bivariate companion
    of table_profile's single-pass discipline."""
    from datawarehousefinal_spark.operators.profile import correlation_matrix

    li = load_table(spark, sf_dir, "lineitem")
    out = correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
    return out


@query(
    "rolling_daily_stats",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, n,
           CAST(SUM(n) OVER w AS BIGINT) AS rolling_sum,
           AVG(n) OVER w AS rolling_avg
    FROM daily
    WINDOW w AS (
      PARTITION BY event_type
      ORDER BY (day - DATE '1970-01-01')
      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
    )
    """,
)
def rolling_daily_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling count per event_type. Aggregates to
    |types| x |days| rows FIRST (map-side combine), then runs the RANGE
    window over that tiny frame — the window never sees raw events."""
    from datawarehousefinal_spark.operators.timeseries import rolling_daily_stats

    events = load_table(spark, sf_dir, "events")
    return rolling_daily_stats(events, "event_type", "ts", window_days=7)


@query(
    "ewma_daily_value",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    )
    SELECT a.event_type, a.day,
           max(CASE WHEN b.day = a.day THEN b.v END) AS v,
           sum(b.v * pow(0.7, date_diff('day', b.day, a.day)))
             / sum(pow(0.7, date_diff('day', b.day, a.day))) AS ewma
    FROM daily a
    JOIN daily b
      ON a.event_type = b.event_type
     AND b.day <= a.day AND b.day >= a.day - 29
    GROUP BY 1, 2
    """,
    # banded weighted sums re-associate — serve-boundary contract
    round_cols=("v", "ewma"),
)
def ewma_daily_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated 30-day EWMA (alpha=0.3) of the daily event value per
    type (timeseries.ewma_daily) — aggregate-first banded self-join; the
    band cap is both the scale guard and the double-overflow guard (see
    operator docstring)."""
    from datawarehousefinal_spark.operators.timeseries import ewma_daily

    events = load_table(spark, sf_dir, "events")
    out = ewma_daily(events, "event_type", "ts", "value", 0.3, 30)
    return out


@query(
    "gap_fill_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, avg(value) AS v
      FROM events
      WHERE (day(CAST(ts AS DATE)) % 3) = 1
      GROUP BY 1, 2
    ),
    bounds AS (SELECT event_type, min(d) d0, max(d) d1 FROM daily GROUP BY 1),
    spine AS (
      SELECT event_type,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ),
    j AS (
      SELECT s.event_type, s.d, daily.v
      FROM spine s LEFT JOIN daily
        ON daily.event_type = s.event_type AND daily.d = s.d
    ),
    w AS (
      SELECT event_type, d, v,
        last_value(v IGNORE NULLS) OVER wp AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
          OVER wp AS pd,
        first_value(v IGNORE NULLS) OVER wn AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
          OVER wn AS nd
      FROM j
      WINDOW
        wp AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wn AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, d,
      CASE WHEN v IS NOT NULL THEN v
           WHEN pv IS NULL THEN nv
           WHEN nv IS NULL THEN pv
           ELSE pv + (nv - pv) * date_diff('day', pd, d)
                               / date_diff('day', pd, nd) END AS v,
      v IS NOT NULL AS was_observed
    FROM w
    """,
    # daily avg + interpolation arithmetic re-associate — contract
    round_cols=("v",),
)
def gap_fill_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample + linear interpolation: the per-type daily value series is
    deliberately sparsified (every third calendar day) and then densified
    over each type's own date range, holes filled by linear interpolation
    between the neighboring observations (nearest-value fill at the
    edges). Spine + one window sort per group, all codegen — the classic
    sensor/metric gap-fill a feature pipeline needs, oracle-exact."""
    from datawarehousefinal_spark.operators.timeseries import gap_fill_interpolate

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.filter(F.dayofmonth(F.to_date("ts")) % 3 == 1)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.avg("value").alias("v"))
    )
    out = gap_fill_interpolate(daily, "event_type", "d", "v")
    return out


@query(
    "value_histogram",
    oracle="""
    WITH s AS (
      SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo,
             CAST(max(o_totalprice) AS DOUBLE) AS hi
      FROM orders
    ),
    b AS (
      SELECT CAST(CASE WHEN s.hi <= s.lo THEN 1
                  ELSE least(floor((CAST(o_totalprice AS DOUBLE) - s.lo)
                                   / ((s.hi - s.lo) / 10)) + 1, 10)
                  END AS INTEGER) AS bucket,
             s.lo, s.hi
      FROM orders, s
      WHERE o_totalprice IS NOT NULL
    )
    SELECT bucket,
           min(lo + (bucket - 1) * ((hi - lo) / 10)) AS lo,
           min(lo + bucket * ((hi - lo) / 10)) AS hi,
           count(*)::BIGINT AS n
    FROM b GROUP BY bucket
    """,
)
def value_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width 10-bucket histogram of order totals: single-row
    min/max broadcast onto the rows, arithmetic bucket assignment, one
    tiny groupBy — identical floor((v-lo)/w) arithmetic on both engines,
    oracle-exact."""
    from datawarehousefinal_spark.operators.profile import value_histogram

    orders = load_table(spark, sf_dir, "orders")
    return value_histogram(orders, "o_totalprice", bins=10)


@query(
    "dq_violations",
    oracle="""
    SELECT 'discount_over_5pct' AS "check",
           count(*) FILTER (WHERE l_discount > 0.05)::BIGINT AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'negative_price',
           count(*) FILTER (WHERE l_extendedprice < 0)::BIGINT FROM lineitem
    UNION ALL
    SELECT 'null_shipdate',
           count(*) FILTER (WHERE l_shipdate IS NULL)::BIGINT FROM lineitem
    UNION ALL
    SELECT 'unique_lineitem_pk', coalesce(sum(n - 1), 0)::BIGINT
    FROM (SELECT count(*) AS n FROM lineitem
          GROUP BY l_orderkey, l_linenumber) t
    UNION ALL
    SELECT 'fk_orderkey', count(*)::BIGINT
    FROM lineitem l
    WHERE l_orderkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    """,
)
def dq_violations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over the fact load
    (operators/quality.py): three row rules share ONE scan, plus a
    uniqueness groupBy on the line-item PK and a broadcast anti-join FK
    check against orders — the lazy union report an ingest job actions
    once before publishing. Oracle-exact."""
    from datawarehousefinal_spark.operators.quality import dq_report

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return dq_report(
        li,
        row_rules={
            "null_shipdate": F.col("l_shipdate").isNull(),
            "discount_over_5pct": F.col("l_discount") > 0.05,
            "negative_price": F.col("l_extendedprice") < 0,
        },
        unique_keys={"unique_lineitem_pk": ["l_orderkey", "l_linenumber"]},
        foreign_keys={"fk_orderkey": ("l_orderkey", orders, "o_orderkey")},
    )


@query(
    "winsorized_stats",
    oracle="""
    WITH q AS (
      SELECT quantile_cont(l_extendedprice, 0.01) AS qlo,
             quantile_cont(l_extendedprice, 0.99) AS qhi
      FROM lineitem
    )
    SELECT l_returnflag,
           count(*)::BIGINT AS n,
           avg(least(greatest(CAST(l_extendedprice AS DOUBLE), qlo), qhi))
             AS avg_price,
           min(least(greatest(CAST(l_extendedprice AS DOUBLE), qlo), qhi))
             AS min_price,
           max(least(greatest(CAST(l_extendedprice AS DOUBLE), qlo), qhi))
             AS max_price
    FROM lineitem, q
    GROUP BY 1
    """,
)
def winsorized_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized price statistics: the 1st/99th exact interpolated
    percentiles (one single-row aggregate, broadcast) clamp the price
    column, then per-flag moments aggregate over the clamped values —
    the standard outlier treatment before model fitting. Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the interpolated
    definition, so the clamp is oracle-exact. ``approx=False`` ONLY
    because this entry feeds the oracle gate — production winsorizing
    keeps the default sketch percentiles (exact ``percentile`` buffers
    the whole column on one reducer)."""
    from datawarehousefinal_spark.operators.analytics import winsorize

    li = load_table(spark, sf_dir, "lineitem")
    w = winsorize(li, "l_extendedprice", 0.01, 0.99, approx=False)
    return w.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("l_extendedprice").alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@query(
    "quartile_binning",
    oracle="""
    WITH b AS (
      SELECT event_type, value,
             ntile(4) OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS bucket
      FROM events
    )
    SELECT event_type, CAST(bucket AS INTEGER) AS bucket,
           count(*)::BIGINT AS n, avg(value) AS avg_value
    FROM b GROUP BY 1, 2
    """,
    round_cols=("avg_value",),
)
def quartile_binning_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type equal-count quartiles of the event value (feature
    discretization) rolled up to bucket sizes + means. The window
    partitions on the group key — every group bins in parallel; event_id
    tie-breaks equal values for oracle-exact replay. avg_value carries a
    re-associated double sum — serve-boundary contract (found red at
    sf0.01 in r14's inherited-tree verify: one ulp on one bucket's avg,
    bucket membership itself count-exact)."""
    from datawarehousefinal_spark.operators.analytics import grouped_ntile

    events = load_table(spark, sf_dir, "events")
    binned = grouped_ntile(
        events, "event_type", "value", n=4, order_cols=("event_id",)
    )
    return binned.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("value").alias("avg_value"),
    )


@query(
    "outlier_report",
    oracle="""
    WITH s AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
      FROM events GROUP BY 1
    )
    SELECT e.event_type, count(*)::BIGINT AS n_outliers,
           max(abs((value - mu) / sd)) AS max_abs_z
    FROM events e JOIN s ON e.event_type = s.event_type
    WHERE sd > 0 AND abs((value - mu) / sd) > 2
    GROUP BY 1
    """,
)
def outlier_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier report (|z| > 2 against the group's own
    moments): two map-side-combined aggregations joined on the group
    key; zero-spread groups emit nothing rather than dividing by zero."""
    from datawarehousefinal_spark.operators.analytics import zscore_outliers

    events = load_table(spark, sf_dir, "events")
    return zscore_outliers(events, "event_type", "value", threshold=2.0)


@query(
    "drift_report_orders",
    oracle="""
    WITH o AS (SELECT o_totalprice, o_orderstatus FROM orders
               WHERE o_orderdate < DATE '1996-01-01'),
         nw AS (SELECT o_totalprice, o_orderstatus FROM orders
                WHERE o_orderdate >= DATE '1996-01-01'),
         b AS (SELECT min(o_totalprice)::DOUBLE AS lo,
                      max(o_totalprice)::DOUBLE AS hi FROM o),
         obn AS (SELECT CASE WHEN hi <= lo THEN 1
                             ELSE LEAST(CAST(floor((o_totalprice::DOUBLE - lo)
                                              / ((hi - lo) / 10)) AS INTEGER) + 1,
                                        10) END AS bk,
                        count(*) AS c
                 FROM o, b WHERE o_totalprice IS NOT NULL GROUP BY 1),
         nbn AS (SELECT CASE WHEN hi <= lo THEN 1
                             ELSE LEAST(CAST(floor((o_totalprice::DOUBLE - lo)
                                              / ((hi - lo) / 10)) AS INTEGER) + 1,
                                        10) END AS bk,
                        count(*) AS c
                 FROM nw, b WHERE o_totalprice IS NOT NULL GROUP BY 1),
         jn AS (SELECT COALESCE(obn.c, 0)::DOUBLE AS co,
                       COALESCE(nbn.c, 0)::DOUBLE AS cn
                FROM obn FULL JOIN nbn ON obn.bk = nbn.bk),
         tn AS (SELECT sum(co) AS t_o, sum(cn) AS t_n FROM jn),
         num AS (SELECT 'o_totalprice' AS col_name, 'numeric' AS kind,
                        sum((GREATEST(cn / t_n, 1e-6) - GREATEST(co / t_o, 1e-6))
                            * ln(GREATEST(cn / t_n, 1e-6)
                                 / GREATEST(co / t_o, 1e-6))) AS psi,
                        CAST(sum(co) AS BIGINT) AS n_old,
                        CAST(sum(cn) AS BIGINT) AS n_new
                 FROM jn, tn),
         obc AS (SELECT o_orderstatus AS bk, count(*) AS c FROM o
                 WHERE o_orderstatus IS NOT NULL GROUP BY 1),
         nbc AS (SELECT o_orderstatus AS bk, count(*) AS c FROM nw
                 WHERE o_orderstatus IS NOT NULL GROUP BY 1),
         jc AS (SELECT COALESCE(obc.c, 0)::DOUBLE AS co,
                       COALESCE(nbc.c, 0)::DOUBLE AS cn
                FROM obc FULL JOIN nbc ON obc.bk = nbc.bk),
         tc AS (SELECT sum(co) AS t_o, sum(cn) AS t_n FROM jc),
         cat AS (SELECT 'o_orderstatus' AS col_name, 'categorical' AS kind,
                        sum((GREATEST(cn / t_n, 1e-6) - GREATEST(co / t_o, 1e-6))
                            * ln(GREATEST(cn / t_n, 1e-6)
                                 / GREATEST(co / t_o, 1e-6))) AS psi,
                        CAST(sum(co) AS BIGINT) AS n_old,
                        CAST(sum(cn) AS BIGINT) AS n_new
                 FROM jc, tc)
    SELECT col_name, kind, psi, n_old, n_new
    FROM (SELECT * FROM num UNION ALL SELECT * FROM cat)
    """,
    # PSI's per-bucket term sum re-associates — serve-boundary contract
    round_cols=("psi",),
)
def drift_report_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift monitoring (operators/profile.drift_report): PSI of
    the order-price distribution and the status mix between pre-1996
    orders (the reference window) and the rest (the actual) — equal-width
    buckets from the OLD snapshot's bounds, eps-smoothed proportions, one
    row per column. DuckDB replays the identical bucket math and PSI sum,
    so the whole drift pipeline is hash-checked. The status mix shifts
    hugely across the date split (F dominates early years), the price
    distribution barely — the report must quantify both."""
    from datawarehousefinal_spark.operators.profile import drift_report

    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1996-01-01").cast("date")
    old = orders.filter(F.col("o_orderdate") < cut)
    new = orders.filter(F.col("o_orderdate") >= cut)
    out = drift_report(
        old,
        new,
        numeric_cols=["o_totalprice"],
        categorical_cols=["o_orderstatus"],
        bins=10,
    )
    return out


@query(
    "rolling_anomaly_report",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, day, n,
             avg(n) OVER w AS baseline_avg,
             stddev_samp(n) OVER w AS baseline_std,
             count(n) OVER w AS nb
      FROM daily
      WINDOW w AS (
        PARTITION BY event_type
        ORDER BY (day - DATE '1970-01-01')
        RANGE BETWEEN 14 PRECEDING AND 1 PRECEDING
      )
    )
    SELECT event_type, day, n, baseline_avg,
           baseline_std,
           (n - baseline_avg) / baseline_std AS z
    FROM s
    WHERE nb >= 3 AND baseline_std > 0
      AND abs((n - baseline_avg) / baseline_std) > 2
    """,
    # stddev moment folds re-associate — serve-boundary contract
    round_cols=("baseline_std", "z"),
)
def rolling_anomaly_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-baseline anomaly days per event_type (timeseries.
    rolling_anomaly_report): |z| > 2 against the prior 14 days' own
    mean/std, current day excluded. Aggregate-first; the window sees
    |types| x |days| rows only."""
    from datawarehousefinal_spark.operators.timeseries import (
        rolling_anomaly_report,
    )

    events = load_table(spark, sf_dir, "events")
    out = rolling_anomaly_report(
        events, "event_type", "ts", threshold=2.0, baseline_days=14
    )
    return out


@query(
    "column_entropy_report",
    oracle="""
    SELECT 'o_custkey' AS "column", count(o_custkey)::BIGINT AS n_values,
           count(DISTINCT o_custkey)::BIGINT AS n_distinct,
           entropy(o_custkey) AS entropy FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(o_orderpriority)::BIGINT,
           count(DISTINCT o_orderpriority)::BIGINT,
           entropy(o_orderpriority) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(o_orderstatus)::BIGINT,
           count(DISTINCT o_orderstatus)::BIGINT,
           entropy(o_orderstatus) FROM orders
    """,
    # entropy's sum(c*log2 c) re-associates — serve-boundary contract
    round_cols=("entropy",),
)
def column_entropy_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column Shannon entropy + cardinalities (profile.
    column_entropy_report) — near-constant columns and near-keys both
    hide inside n_distinct alone. Melt + one map-side-combined frequency
    groupBy; entropy folds as log2(n) - sum(c*log2 c)/n, matching
    DuckDB's entropy() bit-for-bit under the 6-sig-digit gate."""
    from datawarehousefinal_spark.operators.profile import (
        column_entropy_report,
    )

    orders = load_table(spark, sf_dir, "orders")
    out = column_entropy_report(
        orders, ["o_custkey", "o_orderpriority", "o_orderstatus"]
    )
    return out


@query(
    "group_sample_exact",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || ':21'), 1, 15)
                        )::BIGINT, doc_id) AS rn
      FROM documents) t
    WHERE rn <= 5
    """,
)
def group_sample_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-5-per-source deterministic sample (curation.
    group_sample_exact): smallest md5 keys win within each group —
    balanced selection, engine-replayed value-for-value."""
    from datawarehousefinal_spark.operators.curation import group_sample_exact

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return group_sample_exact(docs, "doc_id", "source", 5, seed=21)


@query(
    "day_over_day_change",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, n,
           lag(n) OVER w AS prev_n,
           (n - lag(n) OVER w)::BIGINT AS delta,
           (n - lag(n) OVER w)::DOUBLE / lag(n) OVER w AS pct_change
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    QUALIFY lag(n) OVER w IS NOT NULL
    """,
)
def day_over_day_change_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day deltas per event_type: aggregate-first daily counts,
    one lag window over the |types| x |days| frame; first day per type
    (no prior observation) is excluded rather than emitting NULL
    deltas."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("n").over(w)
    return (
        daily.select(
            "event_type",
            "day",
            "n",
            prev.alias("prev_n"),
            (F.col("n") - prev).cast("long").alias("delta"),
            ((F.col("n") - prev) / prev).alias("pct_change"),
        )
        .filter(F.col("prev_n").isNotNull())
    )


_ENTITY_THRESH = int(0.3 * (1 << 60))  # same arithmetic as sample_hash


@query(
    "entity_sample_events",
    oracle=f"""
    SELECT user_id, count(*)::BIGINT AS n_events
    FROM events
    WHERE CAST(concat('0x', substr(md5(user_id::VARCHAR || ':42'),
               1, 15)) AS BIGINT) < {_ENTITY_THRESH}
    GROUP BY 1
    """,
)
def entity_sample_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-complete sampling (curation.entity_sample): ~30% of USERS
    keep ALL their events (row sampling shreds sessions; the hash
    decides per entity, map-only, join-consistent across tables at the
    same seed) — the per-user event counts of the kept set replay
    exactly, and every kept user's count equals their full-table count
    by construction."""
    from datawarehousefinal_spark.operators.curation import entity_sample

    events = load_table(spark, sf_dir, "events").select("user_id")
    return entity_sample(events, "user_id", 0.3, seed=42).groupBy(
        "user_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))


@query(
    "stratified_sample_exact",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || ':13'),
                                        1, 15))::BIGINT, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS cnt
      FROM documents) t
    WHERE rn <= ceil(cnt * 0.2)
    """,
)
def stratified_sample_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-fraction stratified sample (curation.
    stratified_sample_exact): every language keeps exactly
    ceil(20% · stratum) docs by smallest md5 key — the deterministic,
    SQL-replayable upgrade of C2's binomial ``sampleBy``
    (machineLearning.py:366 train_test_split stratify). The md5 ORDER
    is what the oracle replays, so the selection is value-identical
    across engines."""
    from datawarehousefinal_spark.operators.curation import (
        stratified_sample_exact,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample_exact(docs, "doc_id", "lang", 0.2, seed=13)


@query(
    "grouped_quantile_normalize",
    oracle="""
    WITH src AS (
      SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice
      FROM lineitem WHERE l_orderkey % 11 = 0
    ),
    hist AS (
      SELECT l_returnflag, l_extendedprice,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM src WHERE l_extendedprice IS NOT NULL
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_returnflag, l_extendedprice, cnt,
             sum(cnt) OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS c,
             sum(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM hist
    ),
    qmap AS (
      SELECT l_returnflag, l_extendedprice,
             CASE WHEN n > 1 THEN ((c - (cnt - 1) / 2) - 1) / (n - 1)
                  ELSE 0.5 END AS q
      FROM cum
    )
    SELECT s.l_orderkey, s.l_linenumber, s.l_returnflag,
           s.l_extendedprice, qmap.q
    FROM src s LEFT JOIN qmap USING (l_returnflag, l_extendedprice)
    """,
)
def grouped_quantile_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-aware quantile normalization (analytics.
    grouped_quantile_normalize): line prices normalized WITHIN their
    return-flag cohort — per-group value histogram windows (input =
    distinct values per group, never raw rows) joined back on
    (group, value); the oracle replays histogram/cumsum/midrank per
    group."""
    from datawarehousefinal_spark.operators.analytics import (
        grouped_quantile_normalize,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 11 == 0
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    return grouped_quantile_normalize(
        li, ["l_returnflag"], "l_extendedprice"
    )


@query(
    "quantile_rank_normalize",
    oracle="""
    WITH src AS (
      SELECT l_orderkey, l_linenumber, l_quantity
      FROM lineitem WHERE l_orderkey % 7 = 0
    ),
    v AS (SELECT l_quantity FROM src WHERE l_quantity IS NOT NULL),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
    hist AS (
      SELECT l_quantity, CAST(count(*) AS DOUBLE) AS cnt FROM v GROUP BY 1
    ),
    cum AS (
      SELECT l_quantity, cnt, sum(cnt) OVER (ORDER BY l_quantity) AS cum
      FROM hist
    ),
    qmap AS (
      SELECT l_quantity,
             CASE WHEN n > 1 THEN ((cum - (cnt - 1) / 2) - 1) / (n - 1)
                  ELSE 0.5 END AS q
      FROM cum, n
    )
    SELECT s.l_orderkey, s.l_linenumber, s.l_quantity, qmap.q
    FROM src s LEFT JOIN qmap USING (l_quantity)
    """,
)
def quantile_rank_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantile normalization (analytics.quantile_rank_normalize)
    of order-line quantities — heavy ties exercise the averaged
    mid-rank; the cumulative count runs through the DISTRIBUTED prefix
    sum over the value histogram (never a global single-partition
    percent_rank), and the oracle replays histogram/cumsum/midrank
    value-for-value."""
    from datawarehousefinal_spark.operators.analytics import (
        quantile_rank_normalize,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 7 == 0
    ).select("l_orderkey", "l_linenumber", "l_quantity")
    return quantile_rank_normalize(li, "l_quantity", out_col="q")


@query(
    "imputation_value_report",
    oracle="""
    SELECT 'value' AS column_name,
           count(*)::BIGINT AS n_total,
           count(*) FILTER (WHERE value IS NULL)::BIGINT AS n_nulls,
           avg(value) AS mean_value,
           quantile_cont(value, 0.5) AS median_value
    FROM events
    UNION ALL
    SELECT 'o_totalprice', count(*)::BIGINT,
           count(*) FILTER (WHERE o_totalprice IS NULL)::BIGINT,
           avg(o_totalprice), quantile_cont(o_totalprice, 0.5)
    FROM orders
    """,
)
def imputation_value_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The imputation VALUES report — the oracle-checkable face of M1
    (machineLearning.py's SimpleImputer preprocessing): per numeric
    column, null counts plus the mean and exact median an imputer would
    fill with. One aggregate per table (exact interpolated percentile,
    engine-identical to quantile_cont); the ML pipeline's imputer stage
    consumes these same statistics, so the fill values themselves are
    now hash-verified, not just structurally exercised."""
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")

    def report(df: DataFrame, col: str) -> DataFrame:
        return df.agg(
            F.lit(col).alias("column_name"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(F.col(col).isNull().cast("long")).alias("n_nulls"),
            F.avg(col).alias("mean_value"),
            F.expr(f"percentile({col}, 0.5)").alias("median_value"),
        )

    return report(events, "value").unionByName(
        report(orders, "o_totalprice")
    )


@query(
    "benford_digit_report",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(o_totalprice
                        / power(10, floor(log10(o_totalprice))))
                  AS INTEGER) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY 1),
    t AS (SELECT sum(n) AS total FROM c)
    SELECT digit, n,
           CAST(n AS DOUBLE) / total AS observed_p,
           log10(1.0 + 1.0 / digit) AS expected_p
    FROM c, t
    """,
)
def benford_digit_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit profile of order totals —
    the classic synthetic-data / fraud / unit-mixing screen a profiling
    pass runs over monetary measures: observed digit shares against the
    log10(1 + 1/d) law. One map-side-combined aggregate over a pure
    column expression; the single-row total broadcasts back."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    counts = orders.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = counts.agg(F.sum("n").alias("__total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        (F.col("n").cast("double") / F.col("__total")).alias("observed_p"),
        F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")).alias(
            "expected_p"
        ),
    )


@query(
    "chi2_independence_report",
    oracle="""
    WITH cells AS (
      SELECT coalesce(o_orderstatus, ' null') AS a,
             coalesce(o_orderpriority, ' null') AS b,
             CAST(count(*) AS DOUBLE) AS o
      FROM orders GROUP BY 1, 2
    ),
    rm AS (SELECT a, sum(o) AS ra FROM cells GROUP BY 1),
    cm AS (SELECT b, sum(o) AS cb FROM cells GROUP BY 1),
    tot AS (
      SELECT sum(o) AS n,
             CAST(count(DISTINCT a) AS DOUBLE) AS ka,
             CAST(count(DISTINCT b) AS DOUBLE) AS kb
      FROM cells
    )
    SELECT any_value(n) * (sum(o * o / (ra * cb)) - 1.0) AS chi2,
           CAST((any_value(ka) - 1) * (any_value(kb) - 1) AS INTEGER) AS dof,
           CAST(any_value(n) AS BIGINT) AS n,
           sqrt(any_value(n) * (sum(o * o / (ra * cb)) - 1.0)
                / (any_value(n)
                   * least(any_value(ka) - 1, any_value(kb) - 1))) AS cramers_v
    FROM cells JOIN rm USING (a) JOIN cm USING (b), tot
    """,
    # the cell-term sum re-associates (flaked once per ~2 sweeps at
    # full precision — thread-order dependent) — contract
    round_cols=("chi2", "cramers_v"),
)
def chi2_independence_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen (analytics.chi2_independence):
    order status vs priority — the dimensional-relatedness check a
    profiling pass runs before cube design or feature selection. The
    contingency reduction happens in one map-side-combined aggregate;
    the oracle replays the identical cells/marginals/statistic."""
    from datawarehousefinal_spark.operators.analytics import chi2_independence

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority"
    )
    out = chi2_independence(orders, "o_orderstatus", "o_orderpriority")
    return out


@query(
    "grouped_trend_fits",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    t0 AS (SELECT min(day) AS d0 FROM daily),
    pts AS (
      SELECT event_type,
             CAST(day - d0 AS DOUBLE) AS x,
             CAST(n AS DOUBLE) AS y
      FROM daily, t0
    )
    SELECT event_type, count(*)::BIGINT AS n,
           regr_slope(y, x) AS slope,
           regr_intercept(y, x) AS intercept,
           regr_r2(y, x) AS r2
    FROM pts GROUP BY 1
    """,
    # closed-form moment sums re-associate — serve-boundary contract
    round_cols=("slope", "intercept", "r2"),
)
def grouped_trend_fits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS in one aggregate (analytics.grouped_linreg): a
    daily-volume trend line PER event type — the many-models-at-once
    generalization of the M12 single regression
    (machineLearning.py:630-663). x is days since the series start
    (small magnitudes keep the closed form stable); the oracle fits the
    SAME points through DuckDB's independent regr_slope/intercept/r2
    implementation, cross-validating the formula itself."""
    from datawarehousefinal_spark.operators.analytics import grouped_linreg

    events = load_table(spark, sf_dir, "events").select("event_type", "ts")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    d0 = daily.agg(F.min("day").alias("__d0"))
    pts = daily.join(F.broadcast(d0)).select(
        "event_type",
        F.datediff("day", "__d0").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
    )
    out = grouped_linreg(pts, ["event_type"], "x", "y")
    return out


@query(
    "daily_value_percentiles",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           count(value)::BIGINT AS n,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           quantile_cont(value, 0.99) AS p99
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def daily_value_percentiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily P50/P95/P99 of the event value — the canonical
    observability rollup (latency/size percentile bands per day). EXACT
    interpolated percentiles via Spark's ``percentile`` aggregate,
    engine-identical to DuckDB's quantile_cont; one map-side-combined
    group per day (the per-day sort inside the aggregate is bounded by
    the busiest single day, the same bound every percentile system
    accepts — switch to approx_percentile for sketch-mergeable
    accuracy/cost at extreme per-day volumes)."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("value").cast("long").alias("n"),
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )


@query(
    "seasonal_dow_forecast",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    means AS (
      SELECT event_type, CAST(isodow(day) AS INTEGER) AS isodow,
             avg(n) AS predicted
      FROM daily GROUP BY 1, 2
    ),
    anchor AS (SELECT max(day) AS a FROM daily),
    future AS (
      SELECT CAST(unnest(generate_series(
               a + INTERVAL 1 DAY, a + INTERVAL 14 DAY,
               INTERVAL 1 DAY)) AS DATE) AS day
      FROM anchor
    )
    SELECT m.event_type, f.day,
           CAST(isodow(f.day) AS INTEGER) AS isodow, m.predicted
    FROM future f
    JOIN means m ON CAST(isodow(f.day) AS INTEGER) = m.isodow
    """,
)
def seasonal_dow_forecast_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast (timeseries.seasonal_dow_forecast): 14
    days of per-event-type predictions from historical ISO-weekday mean
    daily counts — the weekly-shape complement of the M12 linear trend
    forecaster (machineLearning.py:630-663 forecasts level; volume
    series also need weekday seasonality). Observed-day means, global
    anchor, horizon broadcast-joined; the engine replays the identical
    frame."""
    from datawarehousefinal_spark.operators.timeseries import (
        seasonal_dow_forecast,
    )

    events = load_table(spark, sf_dir, "events").select("event_type", "ts")
    return seasonal_dow_forecast(
        events, "ts", ["event_type"], horizon_days=14
    )


@query(
    "key_skew_profile",
    oracle="""
    WITH c AS (
      SELECT l_suppkey::VARCHAR AS key, count(*) AS cnt
      FROM lineitem GROUP BY 1
    ),
    t AS (SELECT sum(cnt) AS rows_, count(*) AS keys_ FROM c)
    SELECT key, cnt, cnt / rows_ AS share,
           cnt * keys_ / rows_ AS skew_factor
    FROM c, t ORDER BY cnt DESC, key LIMIT 10
    """,
)
def key_skew_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (skew.key_skew_profile) on the lineitem
    supplier key — the measurement that decides between plain shuffle,
    AQE skew splitting, and explicit salting. One map-side-combined
    groupBy + a broadcast single-row totals join."""
    from datawarehousefinal_spark.operators.skew import key_skew_profile

    li = load_table(spark, sf_dir, "lineitem")
    return key_skew_profile(li, "l_suppkey", top_n=10)


@query(
    "cusum_change_point",
    oracle="""
    WITH daily AS (
      SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS n
      FROM events GROUP BY event_type, ts::DATE
    ),
    walk AS (
      SELECT event_type, day, n,
             row_number() OVER w AS rk,
             sum(n) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS tot,
             count(*) OVER (PARTITION BY event_type) AS days
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    s AS (
      SELECT *, CAST(cum AS DOUBLE)
                  - rk * (CAST(tot AS DOUBLE) / days) AS sstat
      FROM walk WHERE rk < days
    ),
    pk AS (
      SELECT *, row_number() OVER (
        PARTITION BY event_type ORDER BY abs(sstat) DESC, day
      ) AS pkr FROM s
    )
    SELECT event_type, day AS change_day, sstat AS cusum_peak,
           days::BIGINT AS n_days,
           CAST(cum AS DOUBLE) / rk AS mean_before,
           CAST(tot - cum AS DOUBLE) / (days - rk) AS mean_after
    FROM pk WHERE pkr = 1
    """,
)
def cusum_change_point_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift localization per event type: the day where the
    cumulative deviation from the series mean peaks. The walk uses an
    exact integer running sum minus rank × one fixed double mean — no
    reassociating float accumulation — so the oracle (and any
    repartitioning) replays the peak choice exactly."""
    from datawarehousefinal_spark.operators.timeseries import (
        cusum_change_point,
    )

    events = load_table(spark, sf_dir, "events")
    return cusum_change_point(events, "event_type", "ts")


@query(
    "max_drawdown_report",
    oracle="""
    WITH daily AS (
      SELECT EXTRACT(year FROM o_orderdate)::INT AS yr,
             CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY 1, 2
    ),
    run AS (
      SELECT yr, day, revenue,
             max(revenue) OVER (
               PARTITION BY yr ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS peak
      FROM daily
    )
    SELECT yr AS "group", max(peak) AS peak_value,
           max(peak - revenue) AS max_drawdown
    FROM run GROUP BY 1
    """,
)
def max_drawdown_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of daily revenue per year — worst
    peak-to-trough collapse of the running series
    (operators/timeseries.py:max_drawdown). The window input is the
    DAILY aggregate (≤366 rows per year-partition, parallel across
    years), never raw orders; daily revenue is decimal-exact so the
    subtractions are differences of exact values."""
    from datawarehousefinal_spark.operators.timeseries import max_drawdown

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    return max_drawdown(daily, "yr", "day", "revenue")


_FK_EDGES = [
    ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation.n_nationkey", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region.r_regionkey", "nation", "n_regionkey",
     "region", "r_regionkey"),
]


def _ref_integrity_oracle() -> str:
    parts = []
    for label, child, ck, parent, pk in _FK_EDGES:
        parts.append(f"""
    SELECT '{label}' AS fk,
           (SELECT count(*) FROM {child})::BIGINT AS n_rows,
           (SELECT count(*) FROM {child} ch
            WHERE NOT EXISTS (
              SELECT 1 FROM {parent} p WHERE p.{pk} = ch.{ck}
            ))::BIGINT AS n_orphans""")
    return " UNION ALL ".join(parts)


@query("referential_integrity_report", oracle=_ref_integrity_oracle())
def referential_integrity_report_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Warehouse-wide referential-integrity audit: every FK edge of the
    star/snowflake checked with one broadcast anti-join (dims broadcast;
    the fact scans stream) — row counts and orphan counts per edge, the
    load-gate report an ETL run signs off on. All exact integers."""
    result = None
    for label, child, ck, parent, pk in _FK_EDGES:
        c = load_table(spark, sf_dir, child).select(ck)
        p = load_table(spark, sf_dir, parent).select(pk)
        row = (
            c.join(F.broadcast(p), c[ck] == p[pk], "left")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col(pk).isNull().cast("bigint")).alias("n_orphans"),
            )
            .select(F.lit(label).alias("fk"), "n_rows", "n_orphans")
        )
        result = row if result is None else result.unionByName(row)
    return result


@query(
    "p_chart_order_status",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             count(*)::BIGINT AS n,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT
               AS n_f
      FROM orders GROUP BY 1
    ),
    base AS (
      SELECT CAST(sum(n_f) AS DOUBLE) / sum(n) AS pbar FROM daily
    )
    SELECT day, n, n_f,
           n_f / n AS p,
           pbar + 3 * sqrt(pbar * (1 - pbar) / n) AS ucl,
           greatest(pbar - 3 * sqrt(pbar * (1 - pbar) / n),
                    CAST(0.0 AS DOUBLE)) AS lcl,
           (n_f / n > pbar + 3 * sqrt(pbar * (1 - pbar) / n)
            OR n_f / n < greatest(
                 pbar - 3 * sqrt(pbar * (1 - pbar) / n),
                 CAST(0.0 AS DOUBLE))) AS out_of_control
    FROM daily, base
    """,
)
def p_chart_order_status_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical process control: a p-chart of the daily 'F'-status
    order proportion with 3-sigma binomial control limits around the
    overall rate — the SPC screen a pipeline-health dashboard runs on
    any daily ratio. Two aggregates (daily counts, global rate); limits
    are per-row arithmetic on exact counts; sqrt differs ≤1 ulp
    cross-engine, far inside hash rounding, and the boolean flag
    compares quantities whose gap is O(1/n) — not at the ulp boundary."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("o_orderstatus") == "F").cast("bigint")).alias("n_f"),
    )
    base = daily.agg(
        (F.sum("n_f").cast("double") / F.sum("n")).alias("__pbar")
    )
    pbar = F.col("__pbar")
    sig = F.sqrt(pbar * (1 - pbar) / F.col("n"))
    ucl = pbar + 3 * sig
    lcl = F.greatest(pbar - 3 * sig, F.lit(0.0))
    p = F.col("n_f") / F.col("n")
    return daily.crossJoin(F.broadcast(base)).select(
        "day",
        "n",
        "n_f",
        p.alias("p"),
        ucl.alias("ucl"),
        lcl.alias("lcl"),
        ((p > ucl) | (p < lcl)).alias("out_of_control"),
    )


@query(
    "k_anonymity_report",
    oracle="""
    WITH q AS (
      SELECT c_nationkey, c_mktsegment,
             (1 + ((row_number() OVER (ORDER BY c_acctbal, c_custkey) - 1)
                   * 10) // count(*) OVER ())::INT AS bal_decile
      FROM customer
    ),
    g AS (
      SELECT c_nationkey, c_mktsegment, bal_decile,
             count(*)::BIGINT AS group_size
      FROM q GROUP BY 1, 2, 3
    )
    SELECT
      (SELECT count(*) FROM g)::BIGINT AS n_groups,
      (SELECT coalesce(min(group_size), 0) FROM g)::BIGINT AS k_anonymity,
      (SELECT count(*) FROM g WHERE group_size < 5)::BIGINT
        AS n_groups_under_5,
      (SELECT coalesce(sum(group_size), 0) FROM g WHERE group_size < 5)
        ::BIGINT AS n_rows_at_risk
    """,
)
def k_anonymity_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the
    quasi-identifier (nation, market segment, account-balance decile):
    the minimum equivalence-class size IS the table's k, and classes
    under k=5 are re-identification risks a release gate must
    suppress or generalize. The balance decile uses the deterministic
    distributed-rank ntile; everything else is two aggregates. Exact
    integers."""
    from datawarehousefinal_spark.operators.retail import deterministic_ntile

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    q = deterministic_ntile(
        cust, ["c_acctbal", "c_custkey"], 10, "bal_decile"
    )
    g = q.groupBy("c_nationkey", "c_mktsegment", "bal_decile").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.coalesce(F.min("group_size"), F.lit(0)).alias("k_anonymity"),
        F.sum((F.col("group_size") < 5).cast("bigint")).alias(
            "n_groups_under_5"
        ),
        F.coalesce(
            F.sum(F.when(F.col("group_size") < 5, F.col("group_size"))),
            F.lit(0),
        ).alias("n_rows_at_risk"),
    )


@query(
    "skyline_customers",
    oracle="""
    WITH pts AS (
      SELECT c.c_custkey AS custkey, c.c_acctbal AS acctbal,
             count(*)::BIGINT AS n_orders
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT custkey, acctbal, n_orders FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.acctbal >= p.acctbal AND q.n_orders >= p.n_orders
        AND (q.acctbal > p.acctbal OR q.n_orders > p.n_orders)
    )
    """,
)
def skyline_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: customers Pareto-optimal on (account balance, order
    count) — no other customer is at least as good on both axes and
    strictly better on one. The engine runs the distributed sort-sweep
    (operators/analytics.py:skyline_2d — per-x max, distributed running
    max over the distinct-x frame, first-attainment pick; NO quadratic
    dominance self-join); the oracle states the NOT EXISTS dominance
    definition directly, so hash equality proves the sweep equals the
    definition. Exact comparisons only."""
    from datawarehousefinal_spark.operators.analytics import skyline_2d

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    pts = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("acctbal"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return skyline_2d(pts, "acctbal", "n_orders", "custkey")


@query(
    "id_gap_report",
    oracle="""
    WITH b AS (
      SELECT o_orderkey // 1000 AS bucket,
             count(*)::BIGINT AS n_present,
             min(o_orderkey)::BIGINT AS min_key,
             max(o_orderkey)::BIGINT AS max_key
      FROM orders GROUP BY 1
    )
    SELECT bucket::BIGINT AS bucket, n_present, min_key, max_key,
           (max_key - min_key + 1 - n_present)::BIGINT AS n_missing_inside
    FROM b WHERE max_key - min_key + 1 - n_present > 0
    """,
)
def id_gap_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID-space gap audit: per 1000-key bucket of the order-key
    sequence, how many keys are missing between the bucket's observed
    min and max — the load-completeness check that catches dropped
    extracts without sorting the table globally (one bucket-keyed
    aggregate; gaps INSIDE buckets are counted exactly, and a wholly
    missing bucket surfaces as its neighbors' boundary min/max). Exact
    integers; the bucket is integer division (``DIV``, truncating
    toward zero exactly like the oracle's ``//``) — never a truncating
    cast of a double quotient, which silently loses exactness for keys
    beyond double's 2^53 integer range."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.groupBy(
        F.expr("o_orderkey DIV 1000").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_present"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
    missing = F.col("max_key") - F.col("min_key") + 1 - F.col("n_present")
    return b.filter(missing > 0).select(
        "bucket", "n_present", "min_key", "max_key",
        missing.alias("n_missing_inside"),
    )


@query(
    "mad_outlier_report",
    oracle="""
    WITH v AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    h1 AS (SELECT event_type, value, count(*)::BIGINT AS c
           FROM v GROUP BY 1, 2),
    c1 AS (
      SELECT event_type, value,
             sum(c) OVER (PARTITION BY event_type ORDER BY value) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM h1
    ),
    med AS (
      SELECT event_type, min(value) AS med FROM c1
      WHERE cum * 2 >= n GROUP BY 1
    ),
    d AS (
      SELECT v.event_type, abs(v.value - m.med) AS dev, m.med
      FROM v JOIN med m USING (event_type)
    ),
    h2 AS (SELECT event_type, dev, count(*)::BIGINT AS c
           FROM d GROUP BY 1, 2),
    c2 AS (
      SELECT event_type, dev,
             sum(c) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM h2
    ),
    mad AS (
      SELECT event_type, min(dev) AS mad FROM c2
      WHERE cum * 2 >= n GROUP BY 1
    )
    SELECT d.event_type,
           count(*)::BIGINT AS n_rows,
           min(d.med) AS median_value,
           min(md.mad) AS mad_value,
           sum(CASE WHEN d.dev > 3 * md.mad THEN 1 ELSE 0 END)::BIGINT
             AS n_outliers
    FROM d JOIN mad md USING (event_type)
    GROUP BY 1
    """,
)
def mad_outlier_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event type: exact lower median of the
    value, the MAD (lower median of |x − median|), and how many rows sit
    beyond the classic 3×MAD fence — the quality gate that survives the
    heavy tails that wreck a mean/stddev z-score. Both medians use the
    value-histogram cumulative method (analytics.grouped_exact_median —
    windows over |distinct values| per group, never rows; no
    interpolation, so no new floats: every hashed double is a raw input
    value, an |x − med| single subtraction, or an exact count)."""
    from datawarehousefinal_spark.operators.analytics import (
        grouped_exact_median,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    med = grouped_exact_median(ev, ["event_type"], "value").withColumnRenamed(
        "median", "__med"
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "__dev", F.abs(F.col("value") - F.col("__med"))
    )
    mad = grouped_exact_median(
        dev.select("event_type", "__dev"), ["event_type"], "__dev"
    ).withColumnRenamed("median", "__mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("__med").alias("median_value"),
            F.min("__mad").alias("mad_value"),
            F.sum(
                (F.col("__dev") > 3 * F.col("__mad")).cast("bigint")
            ).alias("n_outliers"),
        )
    )


@query(
    "ks_drift_report",
    oracle="""
    WITH v AS (
      SELECT o_totalprice AS val, (o_orderkey % 2 = 0) AS is_a FROM orders
    ),
    h AS (
      SELECT val,
             sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS cb
      FROM v GROUP BY 1
    ),
    c AS (
      SELECT sum(ca) OVER (ORDER BY val)::BIGINT AS cum_a,
             sum(cb) OVER (ORDER BY val)::BIGINT AS cum_b
      FROM h
    ),
    t AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM h),
    m AS (
      SELECT max(abs(cum_a * (SELECT nb FROM t)
                     - cum_b * (SELECT na FROM t)))::BIGINT AS d_num
      FROM c
    )
    SELECT (SELECT na FROM t) AS n_a,
           (SELECT nb FROM t) AS n_b,
           d_num,
           CAST(d_num AS DOUBLE)
             / ((SELECT na FROM t) * (SELECT nb FROM t)) AS d_stat,
           CAST(d_num AS DOUBLE)
             / ((SELECT na FROM t) * (SELECT nb FROM t))
             > 1.36 * sqrt(((SELECT na FROM t) + (SELECT nb FROM t))
                           / (1.0 * (SELECT na FROM t)
                              * (SELECT nb FROM t))) AS drifted
    FROM m
    """,
)
def ks_drift_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test between the even- and
    odd-orderkey halves of the order-price distribution — the
    distribution-shift gate (training-vs-serving, last-month-vs-this-
    month) that PSI bucketing approximates and KS answers exactly. The
    statistic D = max|ECDF_a − ECDF_b| is found by EXACT INTEGER
    maximization: collapse to the pooled value histogram (map-side
    combined), cumulative (ca, cb) via the distributed two-phase prefix
    sum (packing.distributed_cumsum — no global single-partition
    window), then maximize |ca·nb − cb·na| in BIGINT; ONE double
    division serves D, and the α=0.05 verdict compares against the
    1.36·sqrt((na+nb)/(na·nb)) critical value. Cross-engine-safe: the
    argmax value is exact, so no ulp can move the reported maximum."""
    from datawarehousefinal_spark.operators.packing import distributed_cumsum

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("val"),
        (F.col("o_orderkey") % 2 == 0).alias("is_a"),
    )
    h = orders.groupBy("val").agg(
        F.sum(F.col("is_a").cast("bigint")).alias("ca"),
        F.sum((~F.col("is_a")).cast("bigint")).alias("cb"),
    )
    # ONE two-phase pass cumulates both halves (was: two chained passes,
    # the second one's boundary sample re-running the first's whole chain)
    c = distributed_cumsum(h, ["val"], ["ca", "cb"], ["cum_a", "cum_b"])
    t = h.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    m = (
        c.crossJoin(F.broadcast(t))
        .agg(
            F.max(
                F.abs(
                    F.col("cum_a") * F.col("nb")
                    - F.col("cum_b") * F.col("na")
                )
            ).alias("d_num")
        )
    )
    d_stat = F.col("d_num").cast("double") / (F.col("na") * F.col("nb"))
    crit = F.lit(1.36) * F.sqrt(
        (F.col("na") + F.col("nb"))
        / (F.lit(1.0) * F.col("na") * F.col("nb"))
    )
    return (
        m.crossJoin(F.broadcast(t))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            "d_num",
            d_stat.alias("d_stat"),
            (d_stat > crit).alias("drifted"),
        )
    )
