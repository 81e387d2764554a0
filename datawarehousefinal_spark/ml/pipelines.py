"""Spark ML pipelines mirroring the reference's sklearn analytics layer
(SURVEY.md §2.9 M1-M12; machineLearning.py:271-653).

Everything here is the distributed re-expression of the reference's
in-process sklearn flow:

- **M1-M5** preprocessing: mean/most-frequent imputation + standard scaling
  of numerics, unknown-safe one-hot of categoricals, assembled into one
  Spark ML ``Vector`` column (``ColumnTransformer``+``Pipeline``,
  machineLearning.py:287-305, 441-445).
- **M6/M7** clustering: the final KMeans fit (machineLearning.py:371-374)
  and sign-normalized PCA loadings (:392-397).
- **M8-M10** classification: the reference's model zoo (minus its MLP) with balanced
  class weights (:433-462) and 3-fold grid-search CV (:484-553).
- **M11** metrics: the confusion matrix (:479-481).
- **M12** regression forecast: daily-count trend extrapolation 365 days
  out (:575-637), plus a closed-form simple-linear-trend variant whose
  output is exactly SQL-expressible (DuckDB ``regr_slope``) for the
  oracle gate.

Scale notes: every estimator here is ``pyspark.ml`` (JVM, distributed);
feature transforms are column expressions; the only driver-side values are
model coefficients and scan metrics (O(k) scalars, not data).
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from typing import Any

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    LinearSVC,
    LogisticRegression,
    MultilayerPerceptronClassifier,
    OneVsRest,
    RandomForestClassifier,
)
from pyspark.ml.clustering import KMeans
from pyspark.ml.evaluation import (
    MulticlassClassificationEvaluator,
    RegressionEvaluator,
)
from pyspark.ml.feature import (
    PCA,
    Imputer,
    OneHotEncoder,
    SQLTransformer,
    StandardScaler,
    StringIndexer,
    VectorAssembler,
)
from pyspark.ml.functions import vector_to_array
from pyspark.ml.regression import LinearRegression
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datawarehousefinal_spark.functions.dates import future_dates, proleptic_ordinal
from datawarehousefinal_spark.materialize import materialized
from datawarehousefinal_spark.operators.analytics import time_ordered_split

SEED = 42

NUMERIC_TYPES = {"int", "bigint", "smallint", "tinyint", "double", "float", "decimal"}


def split_feature_types(
    df: DataFrame, exclude: tuple[str, ...] = ()
) -> tuple[list[str], list[str]]:
    """Numeric vs categorical feature partition — the Spark equivalent of
    the reference's ``select_dtypes(int64/float64)`` vs ``object`` split
    (machineLearning.py:281-282, 435-436)."""
    numeric, categorical = [], []
    for name, dtype in df.dtypes:
        if name in exclude:
            continue
        base = dtype.split("(")[0]
        if base in NUMERIC_TYPES:
            numeric.append(name)
        elif base == "string":
            categorical.append(name)
    return numeric, categorical


def label_encode(
    df: DataFrame, col: str, out_col: str | None = None
) -> tuple[Any, DataFrame]:
    """M4: label encoding with an unknown-safe bucket — the reference's
    ``LabelEncoder`` + manual unknown→0 (deeplearning/preprocessing.py:
    29-38; etl_to_tensor.py:47-62). ``StringIndexer(handleInvalid='keep')``
    routes unseen categories to the trailing index at transform time.
    Returns (fitted indexer model, transformed df)."""
    out_col = out_col or f"{col}_idx"
    model = StringIndexer(
        inputCol=col, outputCol=out_col, handleInvalid="keep"
    ).fit(df)
    return model, model.transform(df)


def impute_most_frequent(df: DataFrame, cols: list[str]) -> DataFrame:
    """M1 (categorical half): most-frequent imputation — sklearn
    ``SimpleImputer(strategy='most_frequent')`` (machineLearning.py:293).
    One aggregate computes every column's mode; one literal fillna after.
    """
    if not cols:
        return df
    modes = df.agg(*[F.mode(c).alias(c) for c in cols]).first()
    return df.na.fill({c: modes[c] for c in cols if modes[c] is not None})


def _impute_numeric(numeric: list[str]) -> list[Any]:
    """Stages that mean-impute ``numeric`` and assemble it into
    ``__num_raw``. The Imputer keeps each column's type, so an int column
    is filled with its truncated mean; the filled columns then reach the
    assembler as doubles, because given other types it casts them into
    columns named after its random uid, and every call then compiles new
    code."""
    imputed = [f"__imp_{c}" for c in numeric]
    doubles = [f"__dbl_{c}" for c in numeric]
    casts = ", ".join(
        f"CAST(`{i}` AS DOUBLE) AS `{d}`" for i, d in zip(imputed, doubles)
    )
    return [
        Imputer(strategy="mean", inputCols=numeric, outputCols=imputed),
        SQLTransformer(statement=f"SELECT *, {casts} FROM __THIS__"),
        VectorAssembler(inputCols=doubles, outputCol="__num_raw"),
    ]


def build_preprocessor(
    numeric: list[str],
    categorical: list[str],
    output_col: str = "features",
) -> Pipeline:
    """M1-M5: the reference's ColumnTransformer as a Spark ML Pipeline
    (machineLearning.py:287-305).

    - numeric → ``Imputer(mean)`` → ``StandardScaler`` (with mean centering,
      matching sklearn's default)
    - categorical → ``StringIndexer(handleInvalid='keep')`` →
      ``OneHotEncoder(dropLast=True)``: the indexer's 'keep' bucket is the
      last index, so dropping the last slot makes unseen categories encode
      as all-zeros — exact parity with sklearn's
      ``OneHotEncoder(handle_unknown='ignore')`` (machineLearning.py:294).
    - everything assembled into one ``features`` vector (M5).

    Categorical most-frequent imputation is a separate data pass — apply
    :func:`impute_most_frequent` before fitting when NULLs are expected.
    """
    stages: list[Any] = []
    assemble_inputs: list[str] = []
    if numeric:
        stages += _impute_numeric(numeric)
        stages.append(
            StandardScaler(
                inputCol="__num_raw",
                outputCol="__num_scaled",
                withMean=True,
                withStd=True,
            )
        )
        assemble_inputs.append("__num_scaled")
    for c in categorical:
        stages.append(
            StringIndexer(
                inputCol=c, outputCol=f"__idx_{c}", handleInvalid="keep"
            )
        )
        stages.append(
            OneHotEncoder(
                inputCol=f"__idx_{c}", outputCol=f"__ohe_{c}", dropLast=True
            )
        )
        assemble_inputs.append(f"__ohe_{c}")
    stages.append(VectorAssembler(inputCols=assemble_inputs, outputCol=output_col))
    return Pipeline(stages=stages)


@contextmanager
def fit_preprocess(
    df: DataFrame,
    exclude: tuple[str, ...] = (),
    output_col: str = "features",
) -> Iterator[tuple[PipelineModel, DataFrame]]:
    """Fit the M1-M5 pipeline on ``df`` and yield (model, transformed df
    with the ``features`` column and intermediates dropped).

    A context manager. The imputed input is persisted for the fit (each
    estimator stage scans it); the features are transformed from that
    cache and persisted too, because every consumer (KMeans iterations,
    CV folds, evaluators) re-scans them. Both are released on exit.
    """
    numeric, categorical = split_feature_types(df, exclude)
    with materialized(impute_most_frequent(df, categorical)) as filled:
        model = build_preprocessor(numeric, categorical, output_col).fit(filled)
        out = model.transform(filled)
        helpers = [c for c in out.columns if c.startswith("__")]
        with materialized(out.drop(*helpers)) as feats:
            feats.count()
            yield model, feats


# ---------------------------------------------------------------------------
# M6/M7 — clustering
# ---------------------------------------------------------------------------

def fit_kmeans(
    df: DataFrame,
    k: int = 3,
    features_col: str = "features",
    seed: int = SEED,
    prediction_col: str = "cluster",
):
    """M6 final model: k=3 (machineLearning.py:371-374). Returns
    (model, predictions df)."""
    model = KMeans(
        k=k, seed=seed, featuresCol=features_col, predictionCol=prediction_col
    ).fit(df)
    return model, model.transform(df)


def pca_loadings(
    df: DataFrame, k: int = 2, features_col: str = "features"
) -> DataFrame:
    """M7 made driver-reportable: the fitted PCA loading matrix plus
    explained-variance ratios as a long-format frame
    (machineLearning.py:392-397's ``pca.components_`` /
    ``explained_variance_ratio_``).

    An eigenvector's sign is arbitrary (±v span the same axis, and which
    sign the solver emits can depend on iteration order), so each
    component is SIGN-NORMALIZED: flipped so its largest-|loading| entry
    is positive — the standard convention for comparable loadings.
    Model coefficients are O(k·d) driver-side scalars by nature (the fit
    itself is the distributed part), so ``createDataFrame`` here is not
    a collect smell.

    Output: ``component (1-based int), feature_idx (int), loading
    (double), explained_variance (double)``.
    """
    import numpy as np

    model = PCA(k=k, inputCol=features_col, outputCol="__pca").fit(df)
    pc = model.pc.toArray()  # (n_features, k)
    ev = model.explainedVariance.toArray()
    rows = []
    for j in range(k):
        col = pc[:, j]
        sign = 1.0 if col[int(np.argmax(np.abs(col)))] >= 0 else -1.0
        for fi in range(pc.shape[0]):
            rows.append((j + 1, fi, float(sign * col[fi]), float(ev[j])))
    return df.sparkSession.createDataFrame(
        rows,
        "component int, feature_idx int, loading double, explained_variance double",
    )


# ---------------------------------------------------------------------------
# M8-M10 — classification
# ---------------------------------------------------------------------------

def classifier_zoo(
    weight_col: str | None = "weight",
    features_col: str = "features",
    label_col: str = "label",
) -> dict[str, Any]:
    """M8/M9: the reference's model dict (machineLearning.py:457-462)
    without its MLP, with balanced class weights as ``weightCol`` (its
    ``class_weight`` dict; attach via
    ``operators.analytics.attach_class_weights``).

    Gap vs sklearn, by design (SURVEY.md §7.5): SVC is linear-only
    (``LinearSVC`` wrapped in ``OneVsRest`` for multiclass — Spark has no
    RBF kernel)."""
    w = {"weightCol": weight_col} if weight_col else {}
    svc = LinearSVC(featuresCol=features_col, labelCol=label_col, **w)
    zoo: dict[str, Any] = {
        "RandomForest": RandomForestClassifier(
            seed=SEED, featuresCol=features_col, labelCol=label_col, **w
        ),
        "LogisticRegression": LogisticRegression(
            maxIter=1000, featuresCol=features_col, labelCol=label_col, **w
        ),
        "SVM": OneVsRest(
            classifier=svc,
            featuresCol=features_col,
            labelCol=label_col,
            **w,
        ),
    }
    return zoo


def default_param_grids(zoo: dict[str, Any]) -> dict[str, list]:
    """M10: the reference's hyperparameter grids (machineLearning.py:489-521)
    translated — sklearn ``C`` is inverse regularization, so C ∈ {0.1,1,10}
    becomes ``regParam`` ∈ {10,1,0.1}; RBF has no Spark equivalent so the
    SVM grid is the linear half."""
    grids: dict[str, list] = {}
    if "RandomForest" in zoo:
        rf = zoo["RandomForest"]
        grids["RandomForest"] = (
            ParamGridBuilder()
            .addGrid(rf.numTrees, [50, 100])
            .addGrid(rf.maxDepth, [5, 10, 20])
            .build()
        )
    if "LogisticRegression" in zoo:
        lr = zoo["LogisticRegression"]
        grids["LogisticRegression"] = (
            ParamGridBuilder().addGrid(lr.regParam, [10.0, 1.0, 0.1]).build()
        )
    if "SVM" in zoo:
        svc = zoo["SVM"].getClassifier()
        grids["SVM"] = (
            ParamGridBuilder().addGrid(svc.regParam, [10.0, 1.0]).build()
        )
    return grids


def grid_search_cv(
    train: DataFrame,
    estimator: Any,
    param_grid: list,
    label_col: str = "label",
    folds: int = 3,
    parallelism: int = 4,
    seed: int = SEED,
):
    """M10: ``GridSearchCV(cv=3, scoring='accuracy')``
    (machineLearning.py:536) as a Spark ``CrossValidator``. Returns the
    fitted CrossValidatorModel (``bestModel``, ``avgMetrics``)."""
    evaluator = MulticlassClassificationEvaluator(
        labelCol=label_col, metricName="accuracy"
    )
    cv = CrossValidator(
        estimator=estimator,
        estimatorParamMaps=param_grid,
        evaluator=evaluator,
        numFolds=folds,
        parallelism=parallelism,
        seed=seed,
    )
    return cv.fit(train)


def cv_metrics_table(cv_model: Any, spark) -> DataFrame:
    """M10 report: one row per grid point — the flattened param map and
    its cross-validated mean metric (sklearn ``cv_results_``,
    machineLearning.py:536-553's best-params printout generalized).
    O(grid) driver-side scalars; the fits themselves were distributed."""
    rows = []
    for pm, m in zip(cv_model.getEstimatorParamMaps(), cv_model.avgMetrics):
        desc = ", ".join(
            f"{p.name}={v}"
            for p, v in sorted(pm.items(), key=lambda kv: kv[0].name)
        )
        rows.append((desc, float(m)))
    return spark.createDataFrame(rows, "params string, avg_metric double")


# ---------------------------------------------------------------------------
# M11 — metrics
# ---------------------------------------------------------------------------

def confusion_matrix_df(
    pred: DataFrame, label_col: str = "label", prediction_col: str = "prediction"
) -> DataFrame:
    """M11: confusion matrix as a (label, prediction, n) frame — one
    distributed aggregate, pivot at render time if a grid is wanted."""
    return (
        pred.groupBy(
            F.col(label_col).alias("label"),
            F.col(prediction_col).alias("prediction"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "prediction")
    )


# ---------------------------------------------------------------------------
# M12 — regression trend forecast
# ---------------------------------------------------------------------------

def _date_features(df: DataFrame, date_col: str) -> DataFrame:
    """ordinal_date / month / day feature block
    (machineLearning.py:603-605, 633-635), as doubles: given other
    types, VectorAssembler casts them into columns named after its
    random uid, and every call then compiles new code."""
    return df.withColumns(
        {
            "ordinal_date": proleptic_ordinal(date_col).cast("double"),
            "month": F.month(date_col).cast("double"),
            "day": F.dayofmonth(date_col).cast("double"),
        }
    )


def regression_forecast(
    daily: DataFrame,
    date_col: str = "fecha",
    y_col: str = "movement_count",
    horizon_days: int = 365,
    train_fraction: float = 0.8,
) -> dict[str, Any]:
    """M12: the reference's forecast flow (machineLearning.py:575-637):
    daily counts → (ordinal, month, day) features → positional 80/20 time
    split → LinearRegression → MSE/R² on the test tail → predict the next
    ``horizon_days``.

    Returns {"model", "mse", "r2", "forecast"}; ``forecast`` is a
    (fecha, yhat) DataFrame of ``horizon_days`` rows."""
    feats = _date_features(daily, date_col)
    train, test = time_ordered_split(feats, date_col, train_fraction)
    assembler = VectorAssembler(
        inputCols=["ordinal_date", "month", "day"], outputCol="features"
    )
    lr = LinearRegression(featuresCol="features", labelCol=y_col)
    model = lr.fit(assembler.transform(train))

    pred = model.transform(assembler.transform(test))
    mse = RegressionEvaluator(
        labelCol=y_col, predictionCol="prediction", metricName="mse"
    ).evaluate(pred)
    r2 = RegressionEvaluator(
        labelCol=y_col, predictionCol="prediction", metricName="r2"
    ).evaluate(pred)

    last = daily.agg(F.max(date_col).alias("last_date"))
    future = _date_features(
        future_dates(daily.sparkSession, last, horizon_days), "fecha"
    )
    forecast = model.transform(assembler.transform(future)).select(
        "fecha", F.col("prediction").alias("yhat")
    )
    return {"model": model, "mse": mse, "r2": r2, "forecast": forecast}


def linear_trend_forecast(
    daily: DataFrame,
    date_col: str = "fecha",
    y_col: str = "movement_count",
    horizon_days: int = 365,
    train_fraction: float = 0.8,
) -> DataFrame:
    """M12, closed form: simple linear regression of the daily count on the
    proleptic ordinal, fitted on the 80% time-ordered train split with
    plain aggregates (slope = covar_pop/var_pop), extrapolated over the
    next ``horizon_days``.

    Numerically this predicts ``ȳ + slope·(x − x̄)`` — centering avoids the
    catastrophic cancellation of an explicit intercept at ordinal ~7e5 —
    and it is exactly what DuckDB's ``regr_slope``/``avg`` compute, so the
    whole forecast is oracle-checkable (unlike the multi-feature Spark ML
    path, which is iterative-solver territory). Output: (fecha, yhat).
    """
    feats = daily.select(
        F.col(date_col).alias("fecha"),
        F.col(y_col).cast("double").alias("y"),
    ).withColumn("x", proleptic_ordinal("fecha").cast("double"))
    train, _ = time_ordered_split(feats, "fecha", train_fraction)
    stats = train.agg(
        (F.covar_pop("y", "x") / F.var_pop("x")).alias("slope"),
        F.avg("x").alias("xbar"),
        F.avg("y").alias("ybar"),
    )
    last = daily.agg(F.max(date_col).alias("last_date"))
    future = future_dates(daily.sparkSession, last, horizon_days)
    return future.crossJoin(F.broadcast(stats)).select(
        "fecha",
        (
            F.col("ybar")
            + F.col("slope")
            * (proleptic_ordinal("fecha").cast("double") - F.col("xbar"))
        ).alias("yhat"),
    )


# ---------------------------------------------------------------------------
# S10-analog — feature cache (parquet feature table)
# ---------------------------------------------------------------------------

def write_feature_cache(
    df: DataFrame,
    path: str,
    features_col: str = "features",
    keep_cols: tuple[str, ...] = (),
) -> None:
    """Persist an assembled feature frame as a snappy-parquet feature
    table — the engine's analog of the reference's torch tensor cache
    (deeplearning/etl_to_tensor.py:84-87 saves ``(X_num, X_cat, y)``
    tensors; SURVEY.md §2.1 S10 maps it to "Parquet feature table +
    VectorAssembler").

    The ML ``Vector`` column round-trips through parquet natively (the
    VectorUDT is stored as its struct encoding and reads back as a
    vector), so downstream estimators can ``fit`` straight off the
    reloaded table without re-running the preprocessing pipeline — the
    same skip-the-upstream-work contract the tensor cache gives the
    reference. ``keep_cols`` selects id/label columns to carry alongside.
    """
    cols = [*keep_cols, features_col]
    df.select(*cols).write.mode("overwrite").parquet(path, compression="snappy")


def read_feature_cache(spark, path: str) -> DataFrame:
    """Load a feature table written by :func:`write_feature_cache`; the
    ``features`` column comes back as an ML ``Vector``, estimator-ready."""
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# M13 — embedding tabular classifier (capability closure of the torch path)
# ---------------------------------------------------------------------------

def embedding_tabular_classifier(
    df: DataFrame,
    categorical: list[str],
    numeric: list[str],
    label_col: str,
    emb_dim: int = 16,
    hidden: tuple[int, ...] = (64, 32),
    max_iter: int = 100,
    seed: int = SEED,
) -> tuple[PipelineModel, DataFrame]:
    """M13: the reference's torch embedding tabular classifier
    (deeplearning/model.py:5-32 ``DWEmbeddingClassifier``,
    deeplearning/train.py:10-79) re-expressed with public Spark ML parts.

    The torch model is per-categorical ``nn.Embedding(cardinality+1,
    emb_dim)`` lookups concatenated with the numerics, feeding a ReLU
    MLP. A linear layer applied to a ONE-HOT input *is* an embedding
    lookup (row i of the weight matrix is category i's embedding), so
    the same function class is: unknown-safe one-hot per categorical
    (``dropLast=False`` — the 'keep' bucket gets its own slot, matching
    the reference's +1 unknown embedding row) + imputed/scaled numerics,
    into a ``MultilayerPerceptronClassifier`` whose FIRST hidden layer
    is the embedding bottleneck, sized ``emb_dim * len(categorical) +
    len(numeric)`` — the width the torch concat produces — followed by
    the classifier stack (the reference's 256→128, scaled by
    ``hidden``). Trained end-to-end with L-BFGS like the torch model's
    AdamW loop trains embeddings and classifier jointly; labels are
    StringIndexer-encoded (deeplearning/fit_encoders.py's
    LabelEncoder).

    Distributed-by-construction: every stage is pyspark.ml (JVM); the
    driver holds only the weight vectors. Returns ``(fitted pipeline,
    predictions on df)`` — predictions carry ``label`` and
    ``prediction`` for the M11 metrics helpers.
    """
    stages: list[Any] = []
    assemble: list[str] = []
    if numeric:
        stages += _impute_numeric(numeric)
        stages.append(
            StandardScaler(
                inputCol="__num_raw",
                outputCol="__num_scaled",
                withMean=True,
                withStd=True,
            )
        )
        assemble.append("__num_scaled")
    for c in categorical:
        stages.append(
            StringIndexer(inputCol=c, outputCol=f"__idx_{c}", handleInvalid="keep")
        )
        stages.append(
            OneHotEncoder(inputCol=f"__idx_{c}", outputCol=f"__ohe_{c}", dropLast=False)
        )
        assemble.append(f"__ohe_{c}")
    stages.append(VectorAssembler(inputCols=assemble, outputCol="__etc_features"))
    label_stage = StringIndexer(
        inputCol=label_col, outputCol="label", handleInvalid="keep"
    ).fit(df)
    n_classes = len(label_stage.labels)
    # input width = Σ(cardinality+1) one-hot slots + numerics; known only
    # after the indexers fit, so fit the feature pipeline first, then the
    # MLP. The feature frame is persisted across the L-BFGS iterations
    # (each scans it) and released before returning; the returned
    # predictions re-derive features lazily from ``df`` — no cache leak.
    feature_model = Pipeline(stages=stages).fit(df)
    with materialized(
        label_stage.transform(feature_model.transform(df))
    ) as feats:
        input_dim = feats.select("__etc_features").head()["__etc_features"].size
        bottleneck = emb_dim * len(categorical) + len(numeric)
        layers = [input_dim, bottleneck, *hidden, n_classes]
        mlp = MultilayerPerceptronClassifier(
            seed=seed,
            maxIter=max_iter,
            layers=layers,
            featuresCol="__etc_features",
            labelCol="label",
        ).fit(feats)
    model = PipelineModel(stages=[*feature_model.stages, label_stage, mlp])
    pred = model.transform(df)
    helpers = [c for c in pred.columns if c.startswith("__")]
    return model, pred.drop(*helpers)


# ---------------------------------------------------------------------------
# M8 gap closure — RBF-kernel SVC via random Fourier features
# ---------------------------------------------------------------------------

def random_fourier_features(
    df: DataFrame,
    features_col: str = "features",
    out_col: str = "rff",
    n_components: int = 100,
    gamma: float = 1.0,
    seed: int = SEED,
) -> DataFrame:
    """Rahimi-Recht random Fourier feature map approximating the RBF
    kernel ``k(x,y) = exp(-gamma * ||x-y||^2)``: ``z(x) = sqrt(2/D) *
    cos(W x + b)`` with ``W ~ N(0, 2*gamma)`` entries and ``b ~
    U[0, 2pi)``, so ``z(x)·z(y) -> k(x,y)`` as D grows ("Random
    Features for Large-Scale Kernel Machines", NeurIPS 2007).

    W and b are driver-generated from ``seed`` (D x d floats — KBs) and
    closed over into one Arrow-batched ``pandas_udf``: the projection is
    a numpy matmul per batch (BLAS), map-only, no shuffle — the same
    vectorized-kernel pattern as operators.kernels. The output is an ML
    ``Vector`` column, estimator-ready.
    """
    import numpy as np
    import pandas as pd
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.functions import pandas_udf

    input_dim = df.select(features_col).head()[features_col].size
    rng = np.random.default_rng(seed)
    w = rng.normal(0.0, np.sqrt(2.0 * gamma), size=(input_dim, n_components))
    b = rng.uniform(0.0, 2.0 * np.pi, size=n_components)
    scale = np.sqrt(2.0 / n_components)

    @pandas_udf("array<double>")
    def rff(xs):  # type: ignore[no-untyped-def]  # scalar pandas_udf
        mat = np.vstack(xs.to_numpy())           # (batch, d)
        z = scale * np.cos(mat @ w + b)          # (batch, D) — one BLAS call
        return pd.Series(list(z))

    arr = vector_to_array(F.col(features_col))
    return df.withColumn(out_col, array_to_vector(rff(arr)))


def rbf_svc_approx(
    train: DataFrame,
    features_col: str = "features",
    label_col: str = "label",
    n_components: int = 100,
    gamma: float = 1.0,
    reg_param: float = 0.01,
    max_iter: int = 50,
    seed: int = SEED,
):
    """M8 gap closure: the reference zoo's kernel ``SVC()``
    (machineLearning.py:459 — sklearn's default RBF kernel) approximated
    with public techniques Spark can distribute: the
    :func:`random_fourier_features` lift followed by ``LinearSVC`` in
    ``OneVsRest`` — a linear separator in RFF space approximates the
    RBF-kernel separator, without the kernel matrix no cluster could
    materialize (n^2 entries at corpus scale).

    Returns ``(ovr_model, transform_fn)`` where ``transform_fn(df)``
    applies the SAME frozen feature map (same seed → same W, b) and the
    fitted model — use it for test/serving frames.
    """
    # Persist the lifted frame across the fit: every L-BFGS iteration of
    # every one-vs-rest binary model rescans its input, and without the
    # persist each rescan re-runs the Arrow projection kernel. Released
    # before returning; parallelism=4 overlaps the independent binary
    # fits (each underuses the cluster at post-lift widths).
    with materialized(random_fourier_features(
        train, features_col, "__rff", n_components, gamma, seed
    )) as lifted:
        svc = LinearSVC(
            featuresCol="__rff",
            labelCol=label_col,
            regParam=reg_param,
            maxIter=max_iter,
        )
        ovr = OneVsRest(
            classifier=svc,
            featuresCol="__rff",
            labelCol=label_col,
            parallelism=4,
        ).fit(lifted)

    def transform_fn(df: DataFrame) -> DataFrame:
        out = ovr.transform(
            random_fourier_features(
                df, features_col, "__rff", n_components, gamma, seed
            )
        )
        return out.drop("__rff")

    return ovr, transform_fn
