"""Product quantization (PQ) — memory-bounded approximate nearest neighbor.

The scale problem this solves: exact ANN over an `array<float>` column
keeps d×8 bytes per vector flowing through every scoring pass (dim 64 →
512 B/vector; 10B vectors → 5 TB just of vectors). PQ (Jégou, Douze,
Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
the index family behind FAISS IVF-PQ) splits each vector into ``m``
subvectors, learns a small codebook per subspace, and stores each vector
as ``m`` one-byte codes: dim 64, m=8 → 8 B/vector, a 64× compression, and
distance evaluation becomes ``m`` table lookups instead of ``d``
multiplies (asymmetric distance computation, ADC).

Spark mapping — each stage is the tool Spark documents for its shape:

- **train**: driver-side seeded numpy Lloyd's over a bounded sample
  (codebooks are m×k×dsub ≈ kilobytes — the classic "small model, big
  transform" split; FAISS trains on samples the same way).
- **encode**: one Arrow-batched ``mapInPandas`` pass over the corpus —
  per-batch argmin against the broadcast codebooks is a BLAS matmul, and
  only (id, m codes) comes out. Embarrassingly parallel, never shuffles.
- **search**: per-query lookup tables (m×k floats — built once on the
  driver for the small broadcast query set, same contract as
  ``cosine_topk``), one ``mapInPandas`` over the CODES (not the vectors)
  emitting per-partition local top-k, then a global top-k window over
  ~partitions×Q×k candidate rows. The corpus vectors are never read at
  search time — that is the entire point at 100 TB.

Determinism: seeded rng + a sorted-sample training set make codebooks,
codes, and top-k reproducible run-to-run (the registered query is a
rows-only driver check; recall vs exact L2 is asserted in
tests/test_pq.py). At 100 TB, replace the ``orderBy(id).limit(n)``
training sample with ``df.sample(fraction, seed)`` — noted inline.

Reference scope: beyond-reference scale machinery (the reference has no
vector search; SURVEY.md §2.9's ML surface stops at sklearn KMeans/PCA).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from datawarehousefinal_spark.operators.similarity import as_double_array


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str,
    m: int = 8,
    codes: int = 16,
    sample_rows: int = 4096,
    seed: int = 42,
    iters: int = 12,
) -> np.ndarray:
    """Learn PQ codebooks: ``(m, codes, dim/m)`` float64 array.

    Seeded numpy Lloyd's per subspace over a deterministic sample
    (``orderBy`` first column + ``limit`` — swap for
    ``corpus.sample(fraction, seed)`` when the corpus is too large to
    sort a prefix of; training only needs a representative few thousand
    rows either way). Empty clusters keep their previous centroid (the
    standard Lloyd's fallback) so the codebook shape is always full.
    """
    first_col = corpus.columns[0]
    rows = (
        corpus.select(F.col(first_col), as_double_array(vec_col).alias("__v"))
        .orderBy(first_col)
        .limit(sample_rows)
        .collect()
    )
    X = np.asarray([r["__v"] for r in rows], dtype=np.float64)
    n, d = X.shape
    if d % m != 0:
        raise ValueError(f"vector dim {d} not divisible by m={m} subspaces")
    if n < codes:
        raise ValueError(f"training sample ({n}) smaller than codebook ({codes})")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, codes, dsub), dtype=np.float64)
    for s in range(m):
        sub = np.ascontiguousarray(X[:, s * dsub : (s + 1) * dsub])
        cent = sub[rng.choice(n, size=codes, replace=False)].copy()
        for _ in range(iters):
            # ||x-c||^2 = ||c||^2 - 2 x·c  (+ ||x||^2, constant per row)
            d2 = (cent**2).sum(axis=1)[None, :] - 2.0 * sub @ cent.T
            assign = d2.argmin(axis=1)
            for c in range(codes):
                pts = sub[assign == c]
                if len(pts):
                    cent[c] = pts.mean(axis=0)
        books[s] = cent
    return books


def pq_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
) -> DataFrame:
    """Encode the corpus: ``(id_col, codes array<int>)``, one nearest
    codebook entry per subspace. One Arrow pass, argmin via matmul, no
    shuffle; the output is the ~d×8/m-fold smaller searchable index."""
    m, k, dsub = codebooks.shape
    out_schema = StructType(
        [corpus.schema[id_col], StructField("codes", ArrayType(IntegerType()))]
    )
    books = np.ascontiguousarray(codebooks)
    cnorm = (books**2).sum(axis=2)  # (m, k)

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
            out = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                sub = X[:, s * dsub : (s + 1) * dsub]
                d2 = cnorm[s][None, :] - 2.0 * sub @ books[s].T
                out[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(out)})

    base = corpus.select(F.col(id_col), as_double_array(vec_col).alias("__v"))
    return base.mapInPandas(encode, schema=out_schema)


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
    k: int = 5,
) -> DataFrame:
    """ADC top-k: for each query, the ``k`` encoded corpus vectors other
    than itself with the smallest table-approximated squared L2 distance.

    ``queries`` must be small (collected to build the m×k lookup tables —
    the same broadcast-side contract as ``cosine_topk``); ``encoded`` is
    scanned once, vectors never touched. Per batch the distance of every
    (query, code-row) pair is ``m`` table gathers summed — numpy fancy
    indexing over the codes matrix — and only per-partition local top-k
    survives to the global window (a global top-k row is necessarily a
    local top-k row of its batch).

    Output: ``query_id, neighbor_id, pq_dist`` (ascending = nearest),
    ties broken on neighbor id.
    """
    m = codebooks.shape[0]
    qrows = [
        (r[id_col], r["__v"])
        for r in queries.select(
            F.col(id_col), as_double_array(vec_col).alias("__v")
        ).collect()
    ]
    id_type = encoded.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("query_id", id_type),
            StructField("neighbor_id", id_type),
            StructField("pq_dist", DoubleType()),
        ]
    )
    spark = encoded.sparkSession
    if not qrows:
        return spark.createDataFrame([], out_schema)
    qids, _Q, tables = _adc_lookup_tables(qrows, codebooks)

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        srange = np.arange(m)
        for pdf in it:
            if pdf.empty:
                continue
            C = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            ids = pdf[id_col].to_numpy()
            out_q, out_n, out_d = [], [], []
            for qi, qid in enumerate(qids):
                dist = tables[qi][srange[None, :], C].sum(axis=1)
                dist = np.where(ids == qid, np.inf, dist)
                top = min(k, len(dist))
                # The global window breaks ties on (pq_dist, neighbor_id);
                # the local cut must apply the SAME tie-break or which
                # tied candidate survives would depend on partitioning
                # (identical vectors produce bit-equal ADC distances).
                # argpartition finds the k-th distance in O(n); every
                # entry tied with it is kept for the id-ordered cut.
                part = np.argpartition(dist, top - 1)[:top]
                kth = dist[part].max()
                cand = np.flatnonzero(dist <= kth)
                order = cand[np.lexsort((ids[cand], dist[cand]))[:top]]
                out_q.extend([qid] * top)
                out_n.extend(ids[order])
                out_d.extend(dist[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "pq_dist": out_d}
            )

    cand = encoded.mapInPandas(score, schema=out_schema)
    cand = cand.filter(~F.col("pq_dist").eqNullSafe(float("inf")))
    w = Window.partitionBy("query_id").orderBy("pq_dist", "neighbor_id")
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "pq_dist")
    )


def _adc_lookup_tables(
    qrows, codebooks: np.ndarray
) -> tuple[list, np.ndarray, np.ndarray]:
    """(query ids, query matrix, per-query m×k distance tables).
    T[q, s, c] = ||q_s − C[s, c]||² — includes the ||q_s||² term (constant
    per query) so pq_dist is the actual approximated squared distance,
    comparable across queries."""
    m, kc, dsub = codebooks.shape
    books = np.ascontiguousarray(codebooks)
    qids = [r[0] for r in qrows]
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    tables = np.empty((len(qids), m, kc), dtype=np.float64)
    for s in range(m):
        qs = Q[:, s * dsub : (s + 1) * dsub]
        tables[:, s, :] = (
            (qs**2).sum(axis=1)[:, None]
            + (books[s] ** 2).sum(axis=1)[None, :]
            - 2.0 * qs @ books[s].T
        )
    return qids, Q, tables


def pq_topk_rerank(
    encoded: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
    k: int = 5,
    rerank: int = 50,
) -> DataFrame:
    """ADC shortlist + exact re-rank — the standard two-tier PQ search
    (FAISS ``IndexRefineFlat``): :func:`pq_topk` retrieves ``rerank``
    candidates per query from the codes alone, then ONLY those Q×rerank
    rows re-join the corpus by id for an exact squared-L2 re-score, and
    the true top-``k`` of the re-scored shortlist is returned.

    This recovers most of the recall quantization loses (measured on the
    sf0.001 embeddings: raw ADC recall@10 ≈ 0.59, re-ranked ≈ 1.0 at
    rerank=50) while still never scanning corpus vectors — the exact tier
    touches ``rerank`` vectors per query via a hash join on id, the same
    candidates-are-ids-only discipline as the LSH operators.

    Output: ``query_id, neighbor_id, dist`` (exact squared L2, ascending).
    """
    shortlist = pq_topk(
        encoded, queries, id_col, vec_col, codebooks, k=rerank
    ).select("query_id", "neighbor_id")
    return _exact_rerank(shortlist, corpus, queries, id_col, vec_col, k)


def _exact_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact squared-L2 re-score of a (query_id, neighbor_id) shortlist:
    hash joins by id (the query side broadcasts — small by contract),
    zip_with/aggregate HOF distance, top-k window."""
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("__nv")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("__qv")
    )
    scored = (
        shortlist.join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with("__qv", "__nv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "dist")
    )


def pq_recon_error(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """Quantization-quality gate: per-vector squared reconstruction
    error of a FROZEN PQ codebook — Σ over subspaces of the distance to
    the nearest code. The number every PQ deployment watches: recon
    error creeping up means the corpus has drifted off the codebook's
    training distribution and recall is about to follow (re-train and
    re-encode when it does). Companion to the recall gate
    (`ann_recall_report`), which measures the symptom; this measures
    the cause.

    Pure deterministic serving arithmetic (the frozen-artifact split),
    as a MAP-ONLY Arrow kernel — the same ``mapInPandas`` shape as
    :func:`pq_encode`, because dense codebook distances are exactly
    what vectorized float64 batches are for (the earlier
    explode + broadcast-join + two-aggregate formulation materialized
    N×m×256 rows and shuffled twice for row-local arithmetic; a
    Catalyst higher-order-function rewrite kept the shuffles out but
    paid interpreted per-element evaluation). Bit-exact contract with
    the DuckDB oracle's sequential replay: per code the distance is
    the LEFT FOLD ``((t0+t1)+t2)+...`` of ``(a−c)²`` terms — explicit
    chained elementwise adds, never ``np.sum`` (whose pairwise
    blocking reassociates) and never the expanded ``v·v − 2v·c + c·c``
    form (which cancels catastrophically near zero-distance codes,
    exactly where a drift gate must be precise); the per-vector rollup
    is the same explicit fold in subspace order; min/max are
    order-exact. No join, no shuffle beyond one round-robin exchange
    that spreads a small corpus's single parquet split across the
    cluster (at 100 TB the scan already has thousands of splits and
    the rebalance is a no-op).

    Output: ``id_col, sq_err (double, Σ of subspace minima),
    max_sub_err (double, worst single subspace)``.
    """
    books = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)
    m, _k, dsub = books.shape
    out_schema = StructType(
        [
            corpus.schema[id_col],
            StructField("sq_err", DoubleType()),
            StructField("max_sub_err", DoubleType()),
        ]
    )

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            d2min = np.empty((len(X), m), dtype=np.float64)
            for s in range(m):
                sub = X[:, s * dsub : (s + 1) * dsub]
                t = sub[:, None, :] - books[s][None, :, :]
                t *= t  # (B, k, dsub) squared terms
                d2 = t[:, :, 0]
                for j in range(1, dsub):  # left fold, oracle order
                    d2 = d2 + t[:, :, j]
                d2min[:, s] = d2.min(axis=1)
            sq = d2min[:, 0]
            for s in range(1, m):  # left fold over subspaces
                sq = sq + d2min[:, s]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "sq_err": sq,
                    "max_sub_err": d2min.max(axis=1),
                }
            )

    spark = corpus.sparkSession
    base = corpus.select(
        F.col(id_col), as_double_array(vec_col).alias("__v")
    ).repartition(spark.sparkContext.defaultParallelism)
    return base.mapInPandas(score, schema=out_schema)
