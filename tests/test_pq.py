"""Product-quantization ANN (operators/pq.py): determinism, recall vs
exact L2, and the candidates-are-ids-only plan discipline."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.pq import (
    pq_encode,
    pq_topk,
    pq_topk_rerank,
    train_pq_codebooks,
)
from datawarehousefinal_spark.operators.similarity import as_double_array
from datawarehousefinal_spark.plans.audit import physical_plan
from datawarehousefinal_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def books(emb):
    return train_pq_codebooks(emb, "embedding", m=8, codes=256, sample_rows=500)


@pytest.fixture(scope="module")
def exact(emb):
    rows = emb.select("vec_id", as_double_array("embedding").alias("v")).collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.stack([np.array(r["v"]) for r in rows])
    return ids, X


def _exact_topk(ids, X, qid, k):
    qv = X[ids == qid][0]
    d = ((X - qv) ** 2).sum(axis=1)
    d[ids == qid] = np.inf
    return set(ids[np.argsort(d)[:k]].tolist())


def test_train_deterministic_and_shaped(emb):
    b1 = train_pq_codebooks(emb, "embedding", m=8, codes=16, sample_rows=400)
    b2 = train_pq_codebooks(emb, "embedding", m=8, codes=16, sample_rows=400)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2)  # seeded rng + sorted sample


def test_train_rejects_bad_m(emb):
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(emb, "embedding", m=7)


def test_encode_is_one_arrow_pass(emb, books):
    enc = pq_encode(emb, "vec_id", "embedding", books)
    rows = enc.collect()
    assert len(rows) == emb.count()
    assert all(len(r["codes"]) == 8 for r in rows)
    assert all(0 <= c < 256 for r in rows for c in r["codes"])
    plan = physical_plan(enc)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan  # encode never shuffles


def test_raw_adc_recall_floor(spark, emb, books, exact):
    """Raw ADC (no re-rank) recall@10 on random 64-dim vectors with
    m=8/256 codes measured ≈ 0.59; assert a safe floor so a kernel
    regression (wrong table math, transposed codes) fails loudly."""
    ids, X = exact
    enc = pq_encode(emb, "vec_id", "embedding", books)
    queries = emb.filter(F.col("vec_id") < 20)
    res = pq_topk(enc, queries, "vec_id", "embedding", books, k=10).collect()
    assert len(res) == 20 * 10
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = np.mean(
        [len(_exact_topk(ids, X, q, 10) & by_q[q]) / 10 for q in range(20)]
    )
    assert recall >= 0.4, f"raw ADC recall@10 collapsed: {recall}"


def test_rerank_recall_near_exact(spark, emb, books, exact):
    """ADC shortlist + exact re-rank (rerank=50) measured recall@10 ≈
    0.995 on the fixtures — assert ≥ 0.9."""
    ids, X = exact
    enc = pq_encode(emb, "vec_id", "embedding", books)
    queries = emb.filter(F.col("vec_id") < 20)
    res = pq_topk_rerank(
        enc, emb, queries, "vec_id", "embedding", books, k=10, rerank=50
    ).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = np.mean(
        [len(_exact_topk(ids, X, q, 10) & by_q[q]) / 10 for q in range(20)]
    )
    assert recall >= 0.9, f"re-ranked recall@10: {recall}"
    # exact tier distances must agree with numpy ground truth
    r0 = [r for r in res if r["query_id"] == 0]
    qv = X[ids == 0][0]
    for r in r0:
        nv = X[ids == r["neighbor_id"]][0]
        assert abs(r["dist"] - ((qv - nv) ** 2).sum()) < 1e-9


def test_rerank_plan_no_cartesian(emb, books):
    df = pq_topk_rerank(
        pq_encode(emb, "vec_id", "embedding", books),
        emb,
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        books,
        k=5,
        rerank=20,
    )
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    # the exact tier re-joins by id: hash join against the corpus side
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_pq_recon_error_exact_fixture(spark):
    from datawarehousefinal_spark.operators.pq import pq_recon_error

    # Two 4-dim vectors, m=2 subspaces of 2 dims, 2 codes per book.
    books = [
        [[0.0, 0.0], [1.0, 1.0]],
        [[2.0, 2.0], [0.0, 0.0]],
    ]
    df = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 2.0, 2.0]),  # exact codebook hit -> 0 error
            (2, [1.0, 0.0, 0.0, 1.0]),  # s0: min(1, 1)=1; s1: min(9, 1)=1
        ],
        ["vid", "vec"],
    )
    out = {r["vid"]: r for r in pq_recon_error(df, "vid", "vec", books).collect()}
    assert out[1]["sq_err"] == 0.0 and out[1]["max_sub_err"] == 0.0
    assert out[2]["sq_err"] == 2.0 and out[2]["max_sub_err"] == 1.0
