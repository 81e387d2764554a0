"""Similarity-search tests: exact top-k sanity, IVF recall on clustered
vectors (the realistic embedding geometry), and plan shape."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.similarity import (
    build_ivf_index,
    cosine_topk,
    ivf_topk,
)
from datawarehousefinal_spark.sources.testdata import load_table
from tests.test_loaders import _jobs_during


def _clustered_vectors(spark, n_clusters=8, per_cluster=40, dim=16, seed=7):
    """Synthetic clustered corpus: unit-ish centers + small noise — the
    geometry real embeddings have (the parquet fixture is near-random, so
    recall there says nothing about IVF's design point)."""
    rng = random.Random(seed)
    centers = [
        [rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(per_cluster):
            rows.append(
                (vid, [x + rng.gauss(0, 0.05) for x in c], ci)
            )
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding", "cluster"])


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_cosine_topk_self_is_best_when_included(spark):
    corpus = _clustered_vectors(spark)
    queries = corpus.filter(F.col("vec_id") < 5)
    top1 = cosine_topk(corpus, queries, "vec_id", "embedding", k=1, exclude_self=False)
    for r in top1.collect():
        assert r["neighbor_id"] == r["query_id"]
        assert abs(r["cosine"] - 1.0) < 1e-12


def test_cosine_topk_shape_and_order(spark):
    corpus = _clustered_vectors(spark)
    queries = corpus.filter(F.col("vec_id") < 5)
    out = cosine_topk(corpus, queries, "vec_id", "embedding", k=7)
    rows = out.collect()
    assert len(rows) == 5 * 7
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["cosine"])
    # neighbors within a tight cluster → very high cosine
    for q, scores in by_q.items():
        assert max(scores) > 0.99


def test_ivf_recall_on_clustered_corpus(spark):
    corpus = _clustered_vectors(spark)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)  # one per cluster
    exact = _topk_sets(cosine_topk(corpus, queries, "vec_id", "embedding", k=5))
    assigned, centroids = build_ivf_index(corpus, "vec_id", "embedding", 8)
    approx = _topk_sets(
        ivf_topk(assigned, centroids, queries, "vec_id", "embedding", k=5, nprobe=2)
    )
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    # clustered geometry: the true neighbors share the query's partition
    assert hits / total >= 0.9, (hits, total)


def test_ivf_candidate_join_is_hash_not_cartesian(spark):
    corpus = _clustered_vectors(spark)
    assigned, centroids = build_ivf_index(corpus, "vec_id", "embedding", 8)
    queries = corpus.filter(F.col("vec_id") < 3)
    out = ivf_topk(assigned, centroids, queries, "vec_id", "embedding", 5, 2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the corpus-side candidate join must be a broadcast hash join on the
    # centroid id — never a cartesian scan of the corpus
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def _near_dup_corpus(spark, n=120, dim=16, planted=15, seed=11):
    """Random base vectors plus `planted` near-parallel copies (tiny noise,
    cosine ~0.999) whose pair ids are known."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    truth = set()
    for j in range(planted):
        base = rows[j][1]
        dup_id = n + j
        rows.append((dup_id, [x + rng.gauss(0, 0.01) for x in base]))
        truth.add((j, dup_id))
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), truth


def test_embedding_exact_pairs_match_planted(spark):
    from datawarehousefinal_spark.operators.similarity import embedding_pairs_exact

    corpus, truth = _near_dup_corpus(spark)
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_pairs_exact(corpus, "vec_id", "embedding", 0.95).collect()
    }
    assert got == truth


def test_hyperplane_lsh_full_recall_on_planted_and_exact_precision(spark):
    from datawarehousefinal_spark.operators.similarity import (
        embedding_pairs_exact,
        hyperplane_lsh_near_dupes,
    )

    corpus, truth = _near_dup_corpus(spark)
    lsh = hyperplane_lsh_near_dupes(
        corpus, "vec_id", "embedding", dim=16, threshold=0.95
    )
    got = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    # planted near-parallel pairs: per-band miss ~(1-0.986^2), all-8-band
    # miss ~4e-13 — full recall is deterministic for test purposes
    assert got == truth
    # precision is exact by construction: every emitted pair verified
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_pairs_exact(corpus, "vec_id", "embedding", 0.95).collect()
    }
    assert got <= exact


def test_hyperplane_lsh_plan_bucketed(spark):
    from datawarehousefinal_spark.operators.similarity import (
        hyperplane_lsh_near_dupes,
    )
    from datawarehousefinal_spark.plans import assert_no_cartesian, assert_no_python_udf

    corpus, _ = _near_dup_corpus(spark)
    lsh = hyperplane_lsh_near_dupes(
        corpus, "vec_id", "embedding", dim=16, threshold=0.95
    )
    assert_no_cartesian(lsh)
    assert_no_python_udf(lsh)


def test_hyperplane_lsh_matches_exact_truth_at_dims_16_and_64(spark):
    """The Arrow sign-bit kernel at a narrow and a wide dimension: the
    verified pairs are the planted truth, scored as the exact-cosine
    ground truth scores them."""
    from datawarehousefinal_spark.operators.similarity import (
        embedding_pairs_exact,
        hyperplane_lsh_near_dupes,
    )

    for dim in (16, 64):
        corpus, truth = _near_dup_corpus(spark, dim=dim)
        exact = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_pairs_exact(
                corpus, "vec_id", "embedding", 0.95
            ).collect()
        }
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in hyperplane_lsh_near_dupes(
                corpus, "vec_id", "embedding", dim=dim, threshold=0.95
            ).collect()
        }
        assert set(got) == set(exact) == truth, dim
        assert got == exact, dim


def test_plan_builds_run_no_probe_job(spark, sf_dir):
    """Building cosine_topk starts exactly one job, the collect of the
    queries; building hyperplane_lsh_near_dupes starts none."""
    from datawarehousefinal_spark.operators.similarity import (
        hyperplane_lsh_near_dupes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    assert _jobs_during(
        spark,
        lambda: cosine_topk(emb, queries, "vec_id", "embedding", k=5),
    ) == 1
    assert _jobs_during(
        spark,
        lambda: hyperplane_lsh_near_dupes(
            emb, "vec_id", "embedding", dim=64, threshold=0.45
        ),
    ) == 0


def test_knn_classify_recovers_cluster_labels(spark):
    """On a cleanly clustered corpus every query's 5 nearest neighbors are
    its own cluster-mates, so the vote must return the true label."""
    from datawarehousefinal_spark.operators.similarity import knn_classify

    corpus = _clustered_vectors(spark)
    queries = corpus.filter(F.col("vec_id") % 37 == 0)
    pred = knn_classify(corpus, queries, "vec_id", "embedding", "cluster", k=5)
    truth = {r["vec_id"]: r["cluster"] for r in queries.collect()}
    got = {r["query_id"]: r["pred_label"] for r in pred.collect()}
    assert got == truth


def test_knn_classify_tie_breaks_to_smallest_label(spark):
    """2-2 vote split (k=4) must deterministically pick the smaller label."""
    from datawarehousefinal_spark.operators.similarity import knn_classify

    # query at origin-ish; two neighbors of label 9 and two of label 3,
    # all equidistant by symmetry
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.01], 9),
        (2, [1.0, -0.01], 9),
        (3, [0.99, 0.0], 3),
        (4, [1.01, 0.0], 3),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    pred = knn_classify(
        df, df.filter(F.col("vec_id") == 0), "vec_id", "embedding", "label", k=4
    )
    assert pred.collect()[0]["pred_label"] == 3


def _numpy_topk(corpus_rows, query_rows, k, exclude_self):
    """Per-query reference: every corpus vector scored by exact cosine,
    ordered by (-cosine, neighbor_id), first ``k`` kept."""
    import numpy as np

    out = {}
    for qid, qv in query_rows:
        q = np.asarray(qv, dtype=np.float64)
        scored = []
        for nid, cv in corpus_rows:
            if exclude_self and nid == qid:
                continue
            c = np.asarray(cv, dtype=np.float64)
            scored.append(
                (-float(c @ q / (np.linalg.norm(c) * np.linalg.norm(q))), nid)
            )
        out[qid] = [(nid, -neg) for neg, nid in sorted(scored)[:k]]
    return out


def _topk_lists(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine"]))
    return {q: sorted(v, key=lambda t: (-t[1], t[0])) for q, v in out.items()}


def _assert_topk_matches_reference(corpus, queries, k, exclude_self):
    def rows(df):
        return [(r["vec_id"], r["embedding"]) for r in df.collect()]

    want = _numpy_topk(rows(corpus), rows(queries), k, exclude_self)
    got = _topk_lists(
        cosine_topk(corpus, queries, "vec_id", "embedding", k, exclude_self)
    )
    assert set(got) == set(want)
    for q in want:
        assert [n for n, _ in got[q]] == [n for n, _ in want[q]], q
        for (_, a), (_, b) in zip(got[q], want[q]):
            assert abs(a - b) < 1e-12, q


def test_cosine_topk_matches_numpy_reference(spark, sf_dir):
    """The Arrow matmul kernel against a per-row numpy top-k, on the
    fixture embeddings (dim 64), on clustered dim-16 vectors, and on small
    integer vectors with three copies each, whose cosines tie exactly, so
    k cuts through tie groups that only the neighbor-id order settles."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _assert_topk_matches_reference(emb, emb.filter(F.col("vec_id") < 10), 5, True)
    clustered = _clustered_vectors(spark)
    _assert_topk_matches_reference(
        clustered, clustered.filter(F.col("vec_id") < 5), 5, True
    )
    rng = random.Random(3)
    base = [[rng.randint(-3, 3) for _ in range(8)] for _ in range(30)]
    rows = [(3 * i + c, [float(x) for x in v]) for i, v in enumerate(base) for c in range(3)]
    ties = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = ties.filter(F.col("vec_id") % 7 == 0)
    for k, exclude_self in ((4, True), (4, False), (8, True)):
        _assert_topk_matches_reference(ties, queries, k, exclude_self)
    empty = ties.filter(F.lit(False))
    assert cosine_topk(ties, empty, "vec_id", "embedding", 5).collect() == []


def test_ivf_index_append_matches_quantizer_assignment(spark, sf_dir):
    """Appended rows must land in the same cell the fitted quantizer
    would assign (same squared-L2 argmin), and the unioned index serves
    ivf_topk unchanged."""
    from datawarehousefinal_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    id_col = emb.columns[0]
    vec_col = [c for c in emb.columns if c != id_col][0]
    assigned, centroids = build_ivf_index(emb, id_col, vec_col, num_partitions=4)
    truth = {r[id_col]: r["__centroid"] for r in assigned.collect()}

    batch = emb.limit(40)
    appended = ivf_index_append(centroids, batch, id_col, vec_col)
    got = {r[id_col]: r["__centroid"] for r in appended.collect()}
    assert got == {k: truth[k] for k in got}

    # the union (stored ∪ appended schema) serves unchanged
    union = assigned.unionByName(appended).dropDuplicates([id_col])
    queries = emb.limit(3)
    out = ivf_topk(union, centroids, queries, id_col, vec_col, k=5, nprobe=2)
    rows = out.collect()
    assert len(rows) == 15
    assert all(-1.0001 <= r["cosine"] <= 1.0001 for r in rows)


# ---------------------------------------------------------------------------
# Embedding centroids
# ---------------------------------------------------------------------------


def test_embedding_centroids_known_values(spark):
    from datawarehousefinal_spark.operators.similarity import (
        centroid_pairwise_cosine,
        embedding_centroids,
    )

    df = spark.createDataFrame(
        [
            (1, "a", [1.0, 0.0]),
            (2, "a", [3.0, 0.0]),
            (3, "b", [0.0, 2.0]),
            (4, "c", [1.0, 1.0]),
        ],
        ["id", "label", "vec"],
    )
    cents = embedding_centroids(df, "vec", "label")
    rows = {r["label"]: r for r in cents.collect()}
    assert rows["a"]["centroid"] == [2.0, 0.0] and rows["a"]["n_vectors"] == 2
    assert rows["b"]["centroid"] == [0.0, 2.0]
    cos = {
        (r["label_a"], r["label_b"]): r["cosine"]
        for r in centroid_pairwise_cosine(cents, "label").collect()
    }
    assert abs(cos[("a", "b")]) < 1e-12  # orthogonal
    assert abs(cos[("a", "c")] - 2 ** -0.5) < 1e-12
    assert len(cos) == 3


def test_embedding_centroids_ignore_null_vectors(spark):
    from datawarehousefinal_spark.operators.similarity import embedding_centroids

    df = spark.createDataFrame(
        [(1, "a", [2.0, 2.0]), (2, "a", None)],
        "id int, label string, vec array<double>",
    )
    row = embedding_centroids(df, "vec", "label").collect()[0]
    assert row["centroid"] == [2.0, 2.0] and row["n_vectors"] == 1


def test_semantic_dedup_keep_rule_and_injected_pairs(spark):
    from datawarehousefinal_spark.operators.similarity import (
        embedding_pairs_exact,
        semantic_dedup_keep,
    )

    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.01]),   # ~dup of 1 -> dropped (neighbor 1 < 2)
        (3, [0.0, 1.0]),
        (4, [0.01, 1.0]),   # ~dup of 3 -> dropped
        (5, [0.7, 0.7]),    # ~45deg from both axes: below 0.99 to all
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup_keep(df, "vec_id", "embedding", 0.999).collect()
    )
    assert kept == [1, 3, 5]
    # scale path: identical keep logic over an injected pair list
    pairs = embedding_pairs_exact(df, "vec_id", "embedding", 0.999)
    kept2 = sorted(
        r["vec_id"]
        for r in semantic_dedup_keep(
            df, "vec_id", "embedding", 0.999, pairs=pairs
        ).collect()
    )
    assert kept2 == kept


def test_prototypicality_prune_drops_most_prototypical(spark):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.similarity import (
        prototypicality_prune,
    )

    # One cluster at +x, one at +y; within each, vectors at increasing
    # angles off the centroid. The ones CLOSEST to the centroid drop.
    vecs = [
        (0, [1.0, 0.0]), (1, [0.98, 0.2]), (2, [0.9, 0.44]), (3, [0.7, 0.71]),
        (10, [0.0, 1.0]), (11, [0.2, 0.98]), (12, [0.44, 0.9]),
    ]
    corpus = spark.createDataFrame(vecs, ["vid", "vec"])
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["__centroid", "__cvec"]
    )
    out = prototypicality_prune(corpus, cents, "vid", "vec", drop_frac=0.25)
    rows = {r["vid"]: r for r in out.collect()}
    # cluster 0 has 4 members -> ceil(1.0)=1 dropped: vid 0 (cos=1) goes
    # cluster 1 has 3 members -> ceil(0.75)=1 dropped: vid 10 goes
    assert set(rows) == {1, 2, 3, 11, 12}
    assert rows[1]["cluster"] == 0 and rows[11]["cluster"] == 1
    # prototypicality ordering survives in the output
    assert rows[1]["prototypicality"] > rows[2]["prototypicality"]

    import pytest

    with pytest.raises(ValueError):
        prototypicality_prune(corpus, cents, "vid", "vec", drop_frac=1.0)


def test_knn_label_propagation_majority_and_ties(spark):
    from datawarehousefinal_spark.operators.similarity import (
        knn_label_propagation,
    )

    # Labeled: two tight groups on the x and y axes; unlabeled points
    # sit near each group -> take that group's label.
    labeled = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 7), (2, [0.99, 0.1], 7), (3, [0.98, 0.15], 7),
            (4, [0.0, 1.0], 3), (5, [0.1, 0.99], 3),
        ],
        ["vid", "vec", "lab"],
    )
    unlabeled = spark.createDataFrame(
        [(100, [0.97, 0.05]), (101, [0.05, 0.97])], ["vid", "vec"]
    )
    out = {
        r["vid"]: (r["lab"], r["votes"])
        for r in knn_label_propagation(
            labeled, unlabeled, "vid", "vec", "lab", k=3
        ).collect()
    }
    assert out[100] == (7, 3)  # all three x-axis neighbors
    assert out[101][0] == 3 and out[101][1] == 2  # 2 of top-3 are y-axis

    # 2-vs-2 vote tie at k=4 -> smaller label wins deterministically
    out_tie = {
        r["vid"]: r["lab"]
        for r in knn_label_propagation(
            labeled, unlabeled, "vid", "vec", "lab", k=4
        ).collect()
    }
    assert out_tie[101] == 3  # 2 votes label 3, 2 votes label 7 -> 3
