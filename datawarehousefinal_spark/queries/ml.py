"""ML layer: regression, classification, clustering and model selection
(machineLearning.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehousefinal_spark.materialize import local_result
from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.sources.testdata import load_table


@query(
    "knn_label_vote",
    oracle="""
    WITH q AS (
        SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 50
    ), scored AS (
        SELECT q.qid, e.vec_id AS nid, e.label,
               list_cosine_similarity(e.embedding::DOUBLE[],
                                      q.embedding::DOUBLE[]) AS cos
        FROM embeddings e, q WHERE e.vec_id != q.qid
    ), topk AS (
        SELECT qid, label FROM (
            SELECT qid, label,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cos DESC, nid) AS rn
            FROM scored) WHERE rn <= 5
    )
    SELECT qid AS query_id, label AS pred_label FROM (
        SELECT qid, label,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY count(*) DESC, label) AS rn2
        FROM topk GROUP BY qid, label) WHERE rn2 = 1
    """,
)
def knn_label_vote_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote classification over the labeled embedding corpus:
    exact cosine top-5 neighbors for the first 50 vectors, most frequent
    neighbor label wins (ties to the smallest label). The nearest-neighbor
    retrieval applied: same broadcast-queries / corpus-in-place plan as
    cosine_topk, plus a tiny vote aggregate."""
    from datawarehousefinal_spark.operators.similarity import knn_classify

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    return knn_classify(emb, queries, "vec_id", "embedding", "label", k=5)


@query(
    "linreg_trend_forecast",
    oracle="""
    WITH d AS (SELECT CAST(ts AS DATE) AS fecha, count(*)::DOUBLE AS y
               FROM events GROUP BY 1),
         n AS (SELECT fecha, y, row_number() OVER (ORDER BY fecha) AS rn,
                      count(*) OVER () AS total FROM d),
         train AS (SELECT fecha, y FROM n
                   WHERE rn <= CAST(floor(total * 0.8) AS BIGINT)),
         s AS (SELECT regr_slope(y, x) AS slope, avg(x) AS xbar, avg(y) AS ybar
               FROM (SELECT y, CAST(fecha - DATE '0001-01-01' + 1 AS DOUBLE) AS x
                     FROM train)),
         last AS (SELECT max(fecha) AS last_date FROM d),
         future AS (SELECT CAST(unnest(generate_series(last_date + 1,
                                last_date + 365, INTERVAL 1 DAY)) AS DATE) AS fecha
                    FROM last)
    SELECT fecha,
           ybar + slope
           * (CAST(fecha - DATE '0001-01-01' + 1 AS DOUBLE) - xbar) AS yhat
    FROM future, s
    """,
    # regression moment sums re-associate — serve-boundary contract
    round_cols=("yhat",),
)
def linreg_trend_forecast_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 (closed form): daily-count linear trend fitted on the 80% time
    split, extrapolated 365 days (machineLearning.py:607-637). Slope via
    covar_pop/var_pop aggregates == SQL regr_slope, so the whole forecast
    hash-matches DuckDB."""
    from datawarehousefinal_spark.ml.pipelines import linear_trend_forecast
    from datawarehousefinal_spark.operators.analytics import daily_counts

    d = daily_counts(load_table(spark, sf_dir, "events"), "ts")
    out = linear_trend_forecast(
        d, "fecha", "movement_count", horizon_days=365
    )
    return out


@query("ml_regression_forecast")  # no SQL oracle: iterative WLS solver
def ml_regression_forecast_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 (Spark ML): LinearRegression on (ordinal, month, day) features,
    365-day forecast (machineLearning.py:575-637). Rows-only driver check
    (horizon rows); structural assertions live in tests/test_ml.py."""
    from datawarehousefinal_spark.ml.pipelines import regression_forecast
    from datawarehousefinal_spark.operators.analytics import daily_counts

    d = daily_counts(load_table(spark, sf_dir, "events"), "ts")
    return regression_forecast(d, "fecha", "movement_count")["forecast"]


@query("kmeans_cluster_sizes")  # no SQL oracle: iterative clustering
def kmeans_cluster_sizes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M6 end-to-end: preprocess (impute + scale + one-hot via the M5
    pipeline) then KMeans k=3 over events, reporting cluster sizes
    (machineLearning.py:307-374). Rows-only driver check (k rows);
    determinism comes from the fixed seed."""
    from datawarehousefinal_spark.ml.pipelines import fit_kmeans, fit_preprocess

    events = load_table(spark, sf_dir, "events").select(
        "value", "event_type"
    )
    with fit_preprocess(events) as (_model, feats):
        _km, pred = fit_kmeans(feats, k=3)
        return local_result(
            pred.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("cluster")
        )


@query("rf_confusion_matrix")  # no SQL oracle: iterative ensemble training
def rf_confusion_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8-M11 end-to-end: the classification surface of the reference's
    biggest analytics block (machineLearning.py:433-553) made
    driver-visible. Label-encode event_type (M4), preprocess value +
    calendar features through the M1-M5 pipeline, attach balanced class
    weights (M9), train the zoo's seeded RandomForest (M8), and report the
    confusion matrix (M11) as (label, prediction, n). Rows-only driver
    check: the fixed seed + deterministic feature frame give stable
    predictions; accuracy-level assertions live in tests/test_ml.py."""
    from datawarehousefinal_spark.ml.pipelines import (
        classifier_zoo,
        confusion_matrix_df,
        fit_preprocess,
        label_encode,
    )
    from datawarehousefinal_spark.operators.analytics import attach_class_weights

    events = (
        load_table(spark, sf_dir, "events")
        .select(
            "value",
            "event_type",
            F.hour("ts").alias("hour"),
            F.dayofweek("ts").alias("dow"),
        )
    )
    _enc, labeled = label_encode(events, "event_type", "label")
    with fit_preprocess(
        labeled.drop("event_type"), exclude=("label",)
    ) as (_model, feats):
        weighted = attach_class_weights(feats, "label")
        rf = classifier_zoo(weight_col="weight")["RandomForest"]
        pred = rf.fit(weighted).transform(weighted)
        return local_result(confusion_matrix_df(pred))


@query(
    "stratified_split_train",
    oracle="""
    WITH t AS (
      SELECT event_id, event_type,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY ('0x' || substr(md5(event_id::VARCHAR || ':42'),
                                        1, 15))::BIGINT, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
      FROM events
    )
    SELECT event_type AS label,
           count(CASE WHEN rn <= ceil(cnt * 0.8) THEN 1 END)::BIGINT
             AS n_train,
           count(CASE WHEN rn > ceil(cnt * 0.8) THEN 1 END)::BIGINT
             AS n_test
    FROM t GROUP BY 1 ORDER BY 1
    """,
)
def stratified_split_train_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: stratified 80/20 split over events by event_type
    (machineLearning.py:407-431's train_test_split(stratify=y)), served
    with the DETERMINISTIC exact-fraction sampler (curation.
    stratified_sample_exact — every class keeps exactly ceil(0.8·n)
    rows by smallest md5 key) so the split is a pure function of
    (event_id, seed) and the oracle replays it value-for-value
    (hash-gated since round 7; the seeded ``sampleBy`` variant —
    binomial per-class counts — stays covered by
    tests/test_operators.py). Reported as per-label
    (label, n_train, n_test): a compact stable frame instead of 100K
    sampled rows. Served by curation.stratified_split_exact — train
    flag and complement come out of ONE window pass (the anti-join
    formulation re-shuffled the whole table a second time for a bit
    the window rank already knew)."""
    from datawarehousefinal_spark.operators.curation import (
        stratified_split_exact,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    split = stratified_split_exact(events, "event_id", "event_type", 0.8, seed=42)
    return (
        split.groupBy(F.col("event_type").alias("label"))
        .agg(
            F.count(F.when(F.col("is_train"), 1)).alias("n_train"),
            F.count(F.when(~F.col("is_train"), 1)).alias("n_test"),
        )
        .orderBy("label")
    )


@query("pca_components")  # no SQL oracle: iterative eigensolver
def pca_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 driver entry: PCA over the M1-M5 preprocessed events features,
    reporting the sign-normalized loading matrix + explained-variance
    ratios (machineLearning.py:392-397's components_ /
    explained_variance_ratio_). Rows-only driver check (k x feature_dim
    rows — a fixed, seed-independent shape); numeric assertions
    (orthonormality, variance ordering) live in tests/test_ml.py."""
    from datawarehousefinal_spark.ml.pipelines import fit_preprocess, pca_loadings

    events = load_table(spark, sf_dir, "events").select("value", "event_type")
    with fit_preprocess(events) as (_model, feats):
        # the loadings frame is createDataFrame'd from model
        # coefficients, independent of feats
        return pca_loadings(feats, k=2)


@query("cv_grid_search")  # no SQL oracle: iterative CV training
def cv_grid_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 driver entry: 3-fold seeded grid-search CV
    (machineLearning.py:484-553's GridSearchCV(cv=3,
    scoring='accuracy')) over the zoo's LogisticRegression with the
    reference's translated regParam grid, reported as one row per grid
    point (params, avg_metric). Rows-only driver check (|grid| rows);
    fold assignment is seed-deterministic. Spark parallelizes each fit
    AND runs grid points concurrently (parallelism=9, one slot per
    fold-model: |grid|=3 x folds=3)."""
    from datawarehousefinal_spark.ml.pipelines import (
        classifier_zoo,
        cv_metrics_table,
        default_param_grids,
        fit_preprocess,
        grid_search_cv,
        label_encode,
    )

    events = load_table(spark, sf_dir, "events").select(
        "value",
        "event_type",
        F.hour("ts").alias("hour"),
        F.dayofweek("ts").alias("dow"),
    )
    _enc, labeled = label_encode(events, "event_type", "label")
    # CV re-scans the features per fold x grid point: pin them
    with fit_preprocess(
        labeled.drop("event_type"), exclude=("label",)
    ) as (_model, feats):
        zoo = classifier_zoo(weight_col=None)
        lr = zoo["LogisticRegression"]
        grid = default_param_grids(zoo)["LogisticRegression"]
        # parallelism ≈ |grid| x folds: every fold-model is independent,
        # and each individual LR fit underuses the cluster on this data
        # size — overlapping them is the whole point of a CV fleet.
        cv_model = grid_search_cv(feats, lr, grid, folds=3, parallelism=9)
    return cv_metrics_table(cv_model, spark)


@query("embedding_tabular_classifier")  # no SQL oracle: iterative training
def embedding_tabular_classifier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13 capability closure made driver-visible: the reference's torch
    embedding tabular classifier (deeplearning/model.py:5-32,
    deeplearning/train.py:10-79) as one-hot → embedding-bottleneck MLP
    (ml.pipelines.embedding_tabular_classifier). Calendar categoricals
    (hour, dow — the cardinality-bounded columns an embedding table is
    for) + the value numeric predict event_type on a deterministic 10%
    hash-sample of events (training is iterative; the sample bounds
    bench cost the way the reference's batch loader bounds epochs).
    Reports the confusion matrix (label, prediction, n); accuracy-level
    assertions live in tests/test_ml.py."""
    from datawarehousefinal_spark.ml.pipelines import (
        confusion_matrix_df,
        embedding_tabular_classifier,
    )

    # coalesce: the sample is ~1% of a fact partition's width — iterative
    # fits schedule their per-iteration tasks over the partition count, so
    # size partitions to the sampled data, not to the source layout.
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.pmod(F.xxhash64("event_id"), F.lit(10)) == 0)
        .select(
            "value",
            "event_type",
            F.hour("ts").cast("string").alias("hour"),
            F.dayofweek("ts").cast("string").alias("dow"),
        )
        .coalesce(4)
    )
    _model, pred = embedding_tabular_classifier(
        events,
        categorical=["hour", "dow"],
        numeric=["value"],
        label_col="event_type",
        emb_dim=8,
        hidden=(32,),
        max_iter=40,
    )
    return confusion_matrix_df(pred)


@query("rbf_svc_approx")  # no SQL oracle: iterative training
def rbf_svc_approx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 gap closure made driver-visible: the reference zoo's kernel
    SVC (machineLearning.py:459) as random-Fourier-features + LinearSVC
    one-vs-rest (ml.pipelines.rbf_svc_approx — the kernel trick without
    the n^2 kernel matrix no cluster could hold). Preprocessed calendar/
    value features on a deterministic 10% hash-sample of events; reports
    the confusion matrix (label, prediction, n). The
    beats-linear-on-a-ring proof lives in tests/test_ml.py."""
    from datawarehousefinal_spark.ml.pipelines import (
        confusion_matrix_df,
        fit_preprocess,
        label_encode,
        rbf_svc_approx,
    )

    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.pmod(F.xxhash64("event_id"), F.lit(10)) == 0)
        .select(
            "value",
            "event_type",
            F.hour("ts").alias("hour"),
            F.dayofweek("ts").alias("dow"),
        )
        .coalesce(4)  # size partitions to the sample (see above)
    )
    _enc, labeled = label_encode(events, "event_type", "label")
    with fit_preprocess(
        labeled.drop("event_type"), exclude=("label",)
    ) as (_model, feats):
        _ovr, transform_fn = rbf_svc_approx(
            feats, n_components=64, gamma=0.5, max_iter=30
        )
        return local_result(confusion_matrix_df(transform_fn(feats)))


@query(
    "knn_label_propagation",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id % 20 = 0),
         c AS (SELECT vec_id AS neighbor_id, label, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE vec_id % 20 <> 0),
    nbrs AS (
      SELECT query_id, neighbor_id, label FROM (
        SELECT q.query_id, c.neighbor_id, c.label,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                          c.neighbor_id
               ) AS rn
        FROM q CROSS JOIN c) WHERE rn <= 5
    ),
    votes AS (
      SELECT query_id, label, count(*)::BIGINT AS votes
      FROM nbrs GROUP BY query_id, label
    )
    SELECT query_id AS vec_id, label, votes FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY votes DESC, label
      ) AS rn FROM votes
    ) WHERE rn = 1
    """,
)
def knn_label_propagation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised auto-labeling: every 20th vector plays the
    unlabeled batch; each takes the majority label of its 5 nearest
    labeled neighbors by exact cosine (votes DESC, smaller label on
    ties — integer-only tie-break, so the hash is float-order-immune;
    the float influence is the neighbor RANKING, the same contract
    cosine_topk already proves)."""
    from datawarehousefinal_spark.operators.similarity import (
        knn_label_propagation,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    unlabeled = emb.filter(F.col("vec_id") % 20 == 0).drop("label")
    labeled = emb.filter(F.col("vec_id") % 20 != 0)
    return knn_label_propagation(
        labeled, unlabeled, "vec_id", "embedding", "label", k=5
    )
