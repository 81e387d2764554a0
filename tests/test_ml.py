"""Structural tests for the Spark ML layer (SURVEY.md §2.9 M1-M12,
§5.4: no hash comparison for iterative/float estimators — assert
structural properties: silhouette range, non-empty clusters, finite R²,
vector shapes, metric identities)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datawarehousefinal_spark.ml.pipelines import (
    classification_metrics,
    classifier_zoo,
    confusion_matrix_df,
    default_param_grids,
    drop_ml_id_columns,
    fit_kmeans,
    fit_preprocess,
    grid_search_cv,
    impute_most_frequent,
    kmeans_scan,
    linear_trend_forecast,
    pca_project_2d,
    per_class_auc,
    regression_forecast,
    split_feature_types,
)
from datawarehousefinal_spark.operators.analytics import attach_class_weights


@pytest.fixture(scope="module")
def blobs(spark):
    """Three well-separated numeric blobs + a categorical column + nulls."""
    rows = []
    for i in range(150):
        blob = i % 3
        rows.append(
            (
                i,
                blob * 10.0 + (i % 7) * 0.1,
                blob * -5.0 + (i % 5) * 0.1,
                ["red", "green", "blue"][blob] if i % 11 else None,
                blob,
            )
        )
    df = spark.createDataFrame(rows, ["id", "x1", "x2", "color", "label"])
    # a few numeric nulls for the imputer
    return df.withColumn(
        "x1", F.when(F.col("id") % 13 == 0, None).otherwise(F.col("x1"))
    )


def test_split_feature_types(blobs):
    numeric, categorical = split_feature_types(blobs, exclude=("id", "label"))
    assert numeric == ["x1", "x2"]
    assert categorical == ["color"]


def test_drop_ml_id_columns(spark):
    df = spark.createDataFrame(
        [(1, 2, "f", "2018/6/27", 3.0)],
        ["id_persona", "id_fecha", "source_fact", "dim_fecha_fecha_completa", "x"],
    )
    assert drop_ml_id_columns(df).columns == ["x"]


def test_impute_most_frequent(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), (None,), (None,)], ["c"]
    )
    out = impute_most_frequent(df, ["c"])
    assert out.filter(F.col("c").isNull()).count() == 0
    assert out.filter(F.col("c") == "a").count() == 4


def test_preprocess_shapes_and_nulls(blobs):
    with fit_preprocess(blobs, exclude=("id", "label")) as (_model, out):
        assert "features" in out.columns
        first = out.select("features").first()["features"]
        # 2 scaled numerics + 3 one-hot slots (3 seen colors, keep-bucket dropped)
        assert first.size == 5
        assert out.count() == blobs.count()  # imputation drops nothing


def test_onehot_unknown_is_all_zeros(spark, blobs):
    with fit_preprocess(blobs, exclude=("id", "label")) as (model, _):
        unseen = spark.createDataFrame(
            [(99, 0.0, 0.0, "magenta", 0)], ["id", "x1", "x2", "color", "label"]
        )
        vec = model.transform(unseen).select("features").first()["features"]
        # the one-hot slots (indices 2..4) must all be zero for an unseen color
        assert all(vec[i] == 0.0 for i in (2, 3, 4))


def test_kmeans_scan_structupe(blobs):
    with fit_preprocess(blobs, exclude=("id", "label")) as (_model, feats):
        scan = kmeans_scan(feats, k_values=range(2, 5))
        assert [s["k"] for s in scan] == [2, 3, 4]
        for s in scan:
            assert -1.0 <= s["silhouette"] <= 1.0
            assert s["inertia"] >= 0.0
        # three planted blobs → k=3 silhouette beats k=2
        by_k = {s["k"]: s["silhouette"] for s in scan}
        assert by_k[3] > by_k[2]


def test_fit_kmeans_clusters_nonempty(blobs):
    with fit_preprocess(blobs, exclude=("id", "label")) as (_model, feats):
        _km, pred = fit_kmeans(feats, k=3)
        sizes = {r["cluster"]: r["count"] for r in pred.groupBy("cluster").count().collect()}
        assert len(sizes) == 3
        assert all(v > 0 for v in sizes.values())
        # planted blobs are separable → clusters align with blobs (mean-imputed
        # rows may drift off their blob, so demand near- not exact purity)
        purity = (
            pred.groupBy("label", "cluster").count()
            .groupBy("label").agg(F.max("count").alias("m"))
            .agg(F.sum("m")).first()[0]
        )
        assert purity >= 0.95 * pred.count()


def test_pca_projection(blobs):
    with fit_preprocess(blobs, exclude=("id", "label")) as (_model, feats):
        out = pca_project_2d(feats)
        row = out.select("PC1", "PC2").first()
        assert math.isfinite(row["PC1"]) and math.isfinite(row["PC2"])
        assert out.count() == blobs.count()


def test_classifier_zoo_trains_and_separates(blobs):
    with fit_preprocess(blobs, exclude=("id", "label")) as (_model, feats):
        weighted = attach_class_weights(feats, "label")
        zoo = classifier_zoo(weight_col="weight", mlp_layers=[5, 16, 3])
        assert set(zoo) == {
            "RandomForest", "LogisticRegression", "SVM", "DeepLearning_MLP"
        }
        for name, est in zoo.items():
            fitted = est.fit(weighted)
            pred = fitted.transform(weighted)
            acc = classification_metrics(pred)["accuracy"]
            assert acc >= 0.9, (name, acc)  # blobs are trivially separable


def test_grid_search_cv(blobs):
    with fit_preprocess(blobs, exclude=("id", "label")) as (_model, feats):
        weighted = attach_class_weights(feats, "label")
        zoo = classifier_zoo(weight_col="weight")
        lr = zoo["LogisticRegression"]
        grids = default_param_grids(zoo)
        assert len(grids["RandomForest"]) == 6  # 2 numTrees x 3 maxDepth
        cvm = grid_search_cv(weighted, lr, grids["LogisticRegression"], folds=3)
        assert len(cvm.avgMetrics) == 3
        assert max(cvm.avgMetrics) >= 0.9
        assert cvm.bestModel is not None


def test_metrics_identities(spark):
    pred = spark.createDataFrame(
        [(0.0, 0.0), (0.0, 0.0), (1.0, 1.0), (1.0, 0.0), (2.0, 2.0)],
        ["label", "prediction"],
    )
    m = classification_metrics(pred)
    assert m["accuracy"] == pytest.approx(4 / 5)
    cm = confusion_matrix_df(pred)
    assert cm.agg(F.sum("n")).first()[0] == 5
    diag = cm.filter(F.col("label") == F.col("prediction")).agg(F.sum("n")).first()[0]
    assert diag == 4


def test_per_class_auc(blobs):
    with fit_preprocess(blobs, exclude=("id", "label")) as (_model, feats):
        zoo = classifier_zoo(weight_col=None)
        pred = zoo["LogisticRegression"].fit(feats).transform(feats)
        aucs = per_class_auc(pred, "label")
        assert set(aucs) == {0, 1, 2}
        for c, auc in aucs.items():
            assert 0.0 <= auc <= 1.0
            assert auc >= 0.99  # separable blobs → near-perfect ROC


def test_regression_forecast_structupe(spark):
    # clean linear series: y = 100 + 2*t over 100 days
    base = spark.range(0, 100).select(
        F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int")).alias("fecha"),
        (100 + 2 * F.col("id")).cast("double").alias("movement_count"),
    )
    out = regression_forecast(base, horizon_days=30)
    assert math.isfinite(out["mse"])
    assert out["r2"] == pytest.approx(1.0, abs=1e-6)
    fc = out["forecast"].orderBy("fecha").collect()
    assert len(fc) == 30
    # trend continues: day 100 -> y ≈ 300
    assert fc[0]["yhat"] == pytest.approx(300.0, rel=1e-3)


def test_linear_trend_forecast_closed_form(spark):
    base = spark.range(0, 50).select(
        F.date_add(F.lit("2021-01-01").cast("date"), F.col("id").cast("int")).alias("fecha"),
        (10 + 3 * F.col("id")).cast("double").alias("movement_count"),
    )
    fc = linear_trend_forecast(base, horizon_days=10).orderBy("fecha").collect()
    assert len(fc) == 10
    # perfectly linear input → exact extrapolation: day 50 -> 160
    assert fc[0]["yhat"] == pytest.approx(160.0, rel=1e-9)
    assert fc[9]["yhat"] == pytest.approx(187.0, rel=1e-9)


def test_label_encode_unknown_safe(spark):
    """M4: unseen categories at transform time route to the trailing
    'keep' bucket instead of failing."""
    from datawarehousefinal_spark.ml.pipelines import label_encode

    train = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",)], ["cat"]
    )
    model, encoded = label_encode(train, "cat")
    idx = {r["cat"]: r["cat_idx"] for r in encoded.collect()}
    assert idx["a"] == 0.0  # most frequent first
    assert set(idx.values()) == {0.0, 1.0, 2.0}
    unseen = spark.createDataFrame([("zzz",), ("a",)], ["cat"])
    out = {r["cat"]: r["cat_idx"] for r in model.transform(unseen).collect()}
    assert out["a"] == idx["a"]
    assert out["zzz"] == 3.0  # the keep bucket


def test_feature_cache_roundtrip(spark, blobs, tmp_path):
    """S10 analog: the assembled Vector column survives a parquet
    roundtrip and a KMeans fits straight off the reloaded table."""
    from pyspark.ml.linalg import VectorUDT

    from datawarehousefinal_spark.ml.pipelines import (
        read_feature_cache,
        write_feature_cache,
    )

    path = str(tmp_path / "feature_cache")
    with fit_preprocess(blobs, exclude=("id", "label")) as (_model, feats):
        write_feature_cache(feats, path, keep_cols=("id", "label"))

    reloaded = read_feature_cache(spark, path)
    assert set(reloaded.columns) == {"id", "label", "features"}
    assert isinstance(reloaded.schema["features"].dataType, VectorUDT)
    assert reloaded.count() == blobs.count()
    # estimator-ready with no re-preprocessing
    model, clustered = fit_kmeans(reloaded, k=3)
    assert clustered.select("cluster").distinct().count() == 3


def test_embedding_tabular_classifier_learns_categorical_signal(spark):
    """M13 closure: a label decided BY the categorical column is only
    learnable through the embedding path (the single numeric is noise) —
    the one-hot→bottleneck first layer must carry the signal, like the
    torch model's nn.Embedding lookups (deeplearning/model.py:5-32)."""
    from datawarehousefinal_spark.ml.pipelines import (
        embedding_tabular_classifier,
    )

    cats = ["ant", "bee", "cat", "dog", "elk"]
    rows = [
        (i, cats[i % 5], float((i * 7) % 11) / 11.0, cats[i % 5])
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["id", "animal", "noise", "target"])
    model, pred = embedding_tabular_classifier(
        df, categorical=["animal"], numeric=["noise"], label_col="target",
        emb_dim=4, hidden=(16,), max_iter=60,
    )
    acc = pred.filter(F.col("label") == F.col("prediction")).count() / 500
    assert acc >= 0.95
    # the fitted pipeline transforms a fresh frame end-to-end, unknown-safe
    fresh = spark.createDataFrame(
        [(0, "ant", 0.5, "ant"), (1, "UNSEEN", 0.5, "bee")],
        ["id", "animal", "noise", "target"],
    )
    out = model.transform(fresh)
    assert out.count() == 2 and "prediction" in out.columns


def test_rbf_svc_approx_beats_linear_on_ring(spark):
    """A ring-vs-center labeling is the canonical linearly-inseparable
    fixture: LinearSVC cannot beat ~2/3 (majority class), the RFF lift
    (machineLearning.py:459's kernel SVC, Rahimi-Recht construction)
    must separate it."""
    import math as _m

    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.classification import LinearSVC

    from datawarehousefinal_spark.ml.pipelines import rbf_svc_approx

    rows = []
    for i in range(600):
        r = 0.5 if i % 3 else 2.0          # 2/3 inner disk, 1/3 outer ring
        theta = 2 * _m.pi * ((i * 37) % 600) / 600.0
        jr = r + 0.05 * ((i * 13) % 7 - 3) / 3.0
        rows.append((jr * _m.cos(theta), jr * _m.sin(theta), 0.0 if i % 3 else 1.0))
    df = spark.createDataFrame(rows, ["x", "y", "label"]).coalesce(2)
    feats = VectorAssembler(
        inputCols=["x", "y"], outputCol="features"
    ).transform(df).persist()

    linear = LinearSVC(featuresCol="features", labelCol="label").fit(feats)
    lin_acc = (
        linear.transform(feats).filter(F.col("label") == F.col("prediction")).count()
        / 600
    )

    _model, transform_fn = rbf_svc_approx(
        feats, n_components=100, gamma=1.0, reg_param=0.01
    )
    rff_acc = (
        transform_fn(feats).filter(F.col("label") == F.col("prediction")).count()
        / 600
    )
    assert rff_acc >= 0.95, f"rff_acc={rff_acc}"
    assert rff_acc > lin_acc + 0.2, f"lin={lin_acc} rff={rff_acc}"
    feats.unpersist()
