"""Embedding search: exact and approximate top-k, IVF/PQ indexes and their
quality gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.sources.testdata import load_table


def _centroid_values_sql(cents: list[list[float]]) -> str:
    """Render frozen centroids as a DuckDB VALUES table ``(cid, cvec)``.
    The literals are the SAME rounded decimals the Spark face uses
    (operators/frozen_ann.py), so both engines score identical params."""
    rows = ", ".join(
        f"({i}, [{', '.join(repr(v) for v in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"(VALUES {rows}) AS c(cid, cvec)"


def _frozen_centroids_df(spark: SparkSession, cents: list[list[float]]) -> DataFrame:
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], ["__centroid", "__cvec"]
    )


@query(
    "cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
               FROM embeddings)
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT q.query_id, c.neighbor_id,
               list_cosine_similarity(q.qv, c.cv) AS cosine,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.neighbor_id
               ) AS rn
        FROM q CROSS JOIN c
        WHERE c.neighbor_id != q.query_id
    ) WHERE rn <= 5
    """,
    # BLAS and DuckDB sum the dot product in different orders: contract
    round_cols=("cosine",),
)
def cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for 10 query vectors over the whole
    embeddings table — the ANN ground-truth path. The operator's one job
    while the plan is built is the collect of the 10 query vectors."""
    from datawarehousefinal_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    return out


def _ivf_topk_oracle() -> str:
    from datawarehousefinal_spark.operators.frozen_ann import IVF_CENTROIDS_16

    return f"""
    WITH c AS (SELECT * FROM {_centroid_values_sql(IVF_CENTROIDS_16)}),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
      SELECT vec_id, v, cid FROM (
        SELECT vec_id, v, cid,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY list_inner_product(cvec, cvec)
                            - 2 * list_inner_product(v, cvec), cid
               ) AS rn
        FROM v, c) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
    probes AS (
      SELECT qid, qv, cid FROM (
        SELECT q.qid, q.qv, c.cid,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY list_inner_product(q.qv, c.cvec)
                            / sqrt(list_inner_product(c.cvec, c.cvec)) DESC,
                          c.cid
               ) AS rn
        FROM q, c) WHERE rn <= 4
    ),
    cand AS (
      SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
             list_inner_product(a.v, p.qv)
               / (sqrt(list_inner_product(a.v, a.v))
                  * sqrt(list_inner_product(p.qv, p.qv))) AS cosine
      FROM probes p JOIN assign a ON a.cid = p.cid
      WHERE a.vec_id != p.qid
    )
    SELECT query_id, neighbor_id, cosine FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rn FROM cand
    ) WHERE rn <= 5
    """


@query("ivf_topk", oracle=_ivf_topk_oracle())
def ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned approximate top-5 (the 100 TB scale path), now
    hash-gated via FROZEN-QUANTIZER serving (round-6 verdict ask): the
    16 coarse centroids are the committed artifact
    operators/frozen_ann.IVF_CENTROIDS_16 (seeded KMeans training stays
    in tests/test_similarity.py); the face assigns the corpus to cells
    with ivf_index_append's argmin-L2 and serves nprobe=4 exact-cosine
    top-5 — every step deterministic arithmetic the oracle replays over
    the identical centroid literals (assignment, centroid-cosine probe
    ranking, candidate cosine, (cosine DESC, id) tie-break)."""
    from datawarehousefinal_spark.operators.frozen_ann import IVF_CENTROIDS_16
    from datawarehousefinal_spark.operators.similarity import (
        ivf_index_append,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _frozen_centroids_df(spark, IVF_CENTROIDS_16)
    assigned = ivf_index_append(centroids, emb, "vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(assigned, centroids, queries, "vec_id", "embedding", k=5, nprobe=4)


def _pq_ann_oracle() -> str:
    """DuckDB replay of the full PQ pipeline over the frozen codebooks
    (operators/frozen_ann.PQ_CODEBOOKS): per-subspace argmin encode, ADC
    table distance (exact squared sub-distances summed over the codes),
    (dist, id)-tie-broken 50-shortlist, exact squared-L2 re-rank, top-5.
    Same decimal literals on both engines; sub-vector s of v is the
    1-based inclusive slice v[s*8+1 : s*8+8]."""
    from datawarehousefinal_spark.operators.frozen_ann import PQ_CODEBOOKS

    rows = ", ".join(
        f"({s}, {c}, [{', '.join(repr(v) for v in cvec)}]::DOUBLE[])"
        for s, book in enumerate(PQ_CODEBOOKS)
        for c, cvec in enumerate(book)
    )
    return f"""
    WITH cb AS (SELECT * FROM (VALUES {rows}) AS t(s, code, cvec)),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    enc AS (
      SELECT vec_id, s, code FROM (
        SELECT v.vec_id, cb.s, cb.code,
               row_number() OVER (
                 PARTITION BY v.vec_id, cb.s
                 ORDER BY list_inner_product(cb.cvec, cb.cvec)
                   - 2 * list_inner_product(
                       v.v[cb.s * 8 + 1 : cb.s * 8 + 8], cb.cvec),
                   cb.code
               ) AS rn
        FROM v, cb) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
    adc AS (
      SELECT q.qid, e.vec_id AS nid,
             sum(
               list_inner_product(q.qv[e.s * 8 + 1 : e.s * 8 + 8],
                                  q.qv[e.s * 8 + 1 : e.s * 8 + 8])
               - 2 * list_inner_product(
                   q.qv[e.s * 8 + 1 : e.s * 8 + 8], cb.cvec)
               + list_inner_product(cb.cvec, cb.cvec)
             ) AS pq_dist
      FROM q, enc e JOIN cb ON cb.s = e.s AND cb.code = e.code
      WHERE e.vec_id != q.qid
      GROUP BY 1, 2
    ),
    shortlist AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid ORDER BY pq_dist, nid) AS rn
        FROM adc) WHERE rn <= 50
    ),
    rerank AS (
      SELECT s.qid AS query_id, s.nid AS neighbor_id,
             list_inner_product(x.v, x.v)
               - 2 * list_inner_product(x.v, y.qv)
               + list_inner_product(y.qv, y.qv) AS dist
      FROM shortlist s
      JOIN v x ON s.nid = x.vec_id
      JOIN q y ON s.qid = y.qid
    )
    SELECT query_id, neighbor_id, dist FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY dist, neighbor_id
      ) AS rn FROM rerank
    ) WHERE rn <= 5
    """


# rerank distance accumulation order differs — contract
@query("pq_ann_topk", oracle=_pq_ann_oracle(), round_cols=("dist",))
def pq_ann_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-rank (the memory-bounded
    100 TB scale path, FAISS IVF-PQ's code layout), hash-gated since
    round 7 via FROZEN-CODEBOOK serving (round-6 verdict ask): the
    (8, 256, 8) codebooks are the committed artifact
    operators/frozen_ann.PQ_CODEBOOKS (seeded Lloyd's training stays in
    tests/test_pq.py); the face runs one Arrow encode pass (64-dim
    float vectors → 8 one-byte codes, 64× compression), ADC shortlist
    over the CODES only, exact squared-L2 re-score of the Q×50
    shortlist ids — all deterministic arithmetic the oracle replays
    over the identical codebook literals. Recall ≥0.9 vs exact
    (measured ≈0.995) stays asserted in tests/test_pq.py."""
    import numpy as np

    from datawarehousefinal_spark.operators.frozen_ann import PQ_CODEBOOKS
    from datawarehousefinal_spark.operators.pq import pq_encode, pq_topk_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    books = np.asarray(PQ_CODEBOOKS, dtype=np.float64)
    encoded = pq_encode(emb, "vec_id", "embedding", books)
    queries = emb.filter(F.col("vec_id") < 10)
    out = pq_topk_rerank(
        encoded, emb, queries, "vec_id", "embedding", books, k=5, rerank=50
    )
    return out


def _ivf_append_oracle() -> str:
    from datawarehousefinal_spark.operators.frozen_ann import IVF_CENTROIDS_4

    return f"""
    WITH c AS (SELECT * FROM {_centroid_values_sql(IVF_CENTROIDS_4)}),
    b AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id % 2 = 1
    ),
    d AS (
      SELECT vec_id, cid,
             list_inner_product(cvec, cvec)
               - 2 * list_inner_product(v, cvec) AS d2
      FROM b, c
    ),
    a AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM d
    )
    SELECT cid AS __centroid, count(*)::BIGINT AS n
    FROM a WHERE rn = 1 GROUP BY 1 ORDER BY 1
    """


@query("ivf_append_assignments", oracle=_ivf_append_oracle())
def ivf_append_assignments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance made driver-visible, now under
    the hash gate via FROZEN-QUANTIZER serving (round-6 verdict ask):
    the coarse centroids are a committed artifact
    (operators/frozen_ann.IVF_CENTROIDS_4 — trained by seeded KMeans in
    tests, frozen here like a model-registry version), and the face
    assigns the odd-id embedding batch against them with
    similarity.ivf_index_append — no refit, no touch of stored rows —
    reporting per-cell counts. Assignment is pure argmin-L2 arithmetic,
    which the oracle replays value-for-value over the identical centroid
    literals (the ||v||² term drops under argmin on both sides). The
    TRAINING path stays covered by tests/test_similarity.py."""
    from datawarehousefinal_spark.operators.frozen_ann import IVF_CENTROIDS_4
    from datawarehousefinal_spark.operators.similarity import ivf_index_append

    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    centroids = _frozen_centroids_df(spark, IVF_CENTROIDS_4)
    appended = ivf_index_append(centroids, batch, "vec_id", "embedding")
    return (
        appended.groupBy(F.col("__centroid").cast("int").alias("__centroid"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("__centroid")
    )


@query(
    "embedding_quality_report",
    oracle="""
    WITH h AS (
      SELECT embedding IS NULL AS is_null,
             embedding IS NOT NULL AND len(embedding) <> 64 AS wrong_dim,
             embedding IS NOT NULL AND len(embedding) = 64
               AND len(list_filter(embedding,
                     x -> isnan(x) OR abs(x) = 'inf'::FLOAT)) > 0
               AS nonfinite,
             sqrt(list_aggregate(
               list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               'sum')) AS norm
      FROM embeddings
    )
    SELECT count(*)::BIGINT AS n_vectors,
           sum(CASE WHEN is_null THEN 1 ELSE 0 END)::BIGINT AS n_null,
           sum(CASE WHEN wrong_dim THEN 1 ELSE 0 END)::BIGINT
             AS n_wrong_dim,
           sum(CASE WHEN nonfinite THEN 1 ELSE 0 END)::BIGINT
             AS n_nonfinite,
           avg(CASE WHEN NOT is_null AND NOT wrong_dim AND NOT nonfinite
                    THEN norm END) AS avg_norm,
           min(CASE WHEN NOT is_null AND NOT wrong_dim AND NOT nonfinite
                    THEN norm END) AS min_norm,
           max(CASE WHEN NOT is_null AND NOT wrong_dim AND NOT nonfinite
                    THEN norm END) AS max_norm
    FROM h
    """,
)
def embedding_quality_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column pre-flight health (profile.embedding_profile):
    NULL / wrong-dim / non-finite vector counts and the L2-norm
    distribution of the healthy rest — one HOF aggregate, vectors never
    shuffle. The oracle replays the per-element arithmetic with the
    same double casts."""
    from datawarehousefinal_spark.operators.profile import embedding_profile

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_profile(emb, "embedding", 64)


@query(
    "centroid_cosine_matrix",
    oracle="""
    WITH x AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS pos,
             embedding
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    c AS (
      SELECT label, pos, avg(CAST(embedding[pos] AS DOUBLE)) AS v
      FROM x GROUP BY label, pos
    ),
    cent AS (SELECT label, list(v ORDER BY pos) AS vec FROM c GROUP BY label)
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(list_dot_product(a.vec, b.vec)
                / (sqrt(list_dot_product(a.vec, a.vec))
                   * sqrt(list_dot_product(b.vec, b.vec))) AS DOUBLE)
             AS cosine
    FROM cent a JOIN cent b ON a.label < b.label
    """,
)
def centroid_cosine_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class-separation diagnostic: per-label centroids
    (dimension-exploded two-stage avg — shuffle key is label×dim, tiny
    and uniform at any corpus size) and the cosine between every
    centroid pair (label-count² broadcast pair, small by contract).
    Oracle replays the same mean/dot arithmetic with DuckDB list
    functions; double rounding differences sit far below the 6-sig-digit
    compare."""
    from datawarehousefinal_spark.operators.similarity import (
        centroid_pairwise_cosine,
        embedding_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = embedding_centroids(emb, "embedding", "label")
    return centroid_pairwise_cosine(cents, "label")


def _proto_prune_oracle() -> str:
    from datawarehousefinal_spark.operators.frozen_ann import IVF_CENTROIDS_16

    return f"""
    WITH c AS (SELECT * FROM {_centroid_values_sql(IVF_CENTROIDS_16)}),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
      SELECT vec_id, v, cid, cvec FROM (
        SELECT vec_id, v, cid, cvec,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY list_inner_product(cvec, cvec)
                            - 2 * list_inner_product(v, cvec), cid
               ) AS rn
        FROM v, c) WHERE rn = 1
    ),
    pro AS (
      SELECT vec_id, cid,
             list_inner_product(v, cvec)
               / (sqrt(list_inner_product(v, v))
                  * sqrt(list_inner_product(cvec, cvec))) AS prototypicality
      FROM assign
    ),
    rk AS (
      SELECT vec_id, cid, prototypicality,
             row_number() OVER (
               PARTITION BY cid ORDER BY prototypicality DESC, vec_id
             ) AS rn,
             count(*) OVER (PARTITION BY cid) AS cnt
      FROM pro
    )
    SELECT vec_id, cid::INTEGER AS cluster, prototypicality
    FROM rk WHERE rn > ceil(cnt * 0.25)
    """


@query("prototypicality_prune_keep", oracle=_proto_prune_oracle())
def prototypicality_prune_keep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4-style prototypicality pruning (Sorscher et al. 2022; Tirumala
    et al. 2023) over the frozen coarse quantizer: assign every embedding
    to its nearest frozen centroid (operators/frozen_ann.IVF_CENTROIDS_16
    — training stays in tests, serving is pure arithmetic), rank each
    cluster by cosine-to-centroid, DROP the most-prototypical 25% per
    cluster, keep the rest. The oracle replays assignment (argmin-L2,
    cid tie-break), the cosine, the (proto DESC, id) rank, and the
    ceil-based drop count over the identical centroid literals."""
    from datawarehousefinal_spark.operators.frozen_ann import IVF_CENTROIDS_16
    from datawarehousefinal_spark.operators.similarity import (
        prototypicality_prune,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _frozen_centroids_df(spark, IVF_CENTROIDS_16)
    return prototypicality_prune(emb, centroids, "vec_id", "embedding", 0.25)


def _ann_recall_oracle() -> str:
    """Composes the two existing replayable paths: exact brute-force
    top-5 as ground truth, frozen-quantizer IVF top-5 as the candidate,
    recall@5 per query. CTE bodies may carry their own WITH in DuckDB,
    so the IVF oracle nests verbatim — one source of truth per path."""
    return f"""
    WITH approx AS ({_ivf_topk_oracle()}),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(
                   q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                   c.vec_id
               ) AS rn
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
      ) WHERE rn <= 5
    )
    SELECT e.query_id,
           count(a.neighbor_id)::BIGINT AS n_hit,
           count(a.neighbor_id) / 5.0 AS recall
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


@query("ann_recall_report", oracle=_ann_recall_oracle())
def ann_recall_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate: recall@5 of the frozen-quantizer IVF path
    against the exact brute-force ground truth, per query — the
    measurement every production ANN deployment runs before trusting an
    index (and after every quantizer refresh). Both paths are the
    registered deterministic serving faces (`ivf_topk`,
    `cosine_topk`), so the recall numbers are exact fractions the
    oracle replays bit-for-bit."""
    from datawarehousefinal_spark.operators.frozen_ann import IVF_CENTROIDS_16
    from datawarehousefinal_spark.operators.similarity import (
        cosine_topk,
        ivf_index_append,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    centroids = _frozen_centroids_df(spark, IVF_CENTROIDS_16)
    assigned = ivf_index_append(centroids, emb, "vec_id", "embedding")
    approx = ivf_topk(
        assigned, centroids, queries_df, "vec_id", "embedding", k=5, nprobe=4
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    exact = cosine_topk(emb, queries_df, "vec_id", "embedding", k=5)
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hit"),
            (
                F.sum(F.coalesce("__hit", F.lit(0))) / F.lit(5.0)
            ).alias("recall"),
        )
    )


def _pq_recon_oracle() -> str:
    from datawarehousefinal_spark.operators.frozen_ann import PQ_CODEBOOKS

    rows = ", ".join(
        f"({s}, {c}, [{', '.join(repr(v) for v in cvec)}]::DOUBLE[])"
        for s, book in enumerate(PQ_CODEBOOKS)
        for c, cvec in enumerate(book)
    )
    return f"""
    WITH cb AS (SELECT * FROM (VALUES {rows}) AS t(s, code, cvec)),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    subs AS (
      SELECT vec_id, s, v[s * 8 + 1 : s * 8 + 8] AS sub
      FROM v, (SELECT unnest(range(8)) AS s)
    ),
    scored AS (
      SELECT vec_id, subs.s, code,
             list_sum(list_transform(range(8),
               i -> (sub[i + 1] - cvec[i + 1])
                      * (sub[i + 1] - cvec[i + 1]))) AS d2
      FROM subs JOIN cb ON cb.s = subs.s
    ),
    mins AS (
      SELECT vec_id, s, d2 FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, s ORDER BY d2, code
        ) AS rn FROM scored
      ) WHERE rn = 1
    )
    SELECT vec_id, sum(d2) AS sq_err,
           max(d2) AS max_sub_err
    FROM mins GROUP BY vec_id
    """


@query(
    "pq_recon_error_report",
    oracle=_pq_recon_oracle(),
    # subspace distance folds re-associate — contract
    round_cols=("sq_err", "max_sub_err"),
)
def pq_recon_error_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ drift gate: per-vector squared reconstruction error of the
    frozen codebooks (operators/frozen_ann.PQ_CODEBOOKS) — recon error
    creeping up means the corpus drifted off the codebook's training
    distribution; recall follows. Deterministic serving arithmetic: the
    oracle replays the identical subspace slices, left-fold Σ(a−c)²
    distances, (d2, code) argmin, and per-vector rollup."""
    from datawarehousefinal_spark.operators.frozen_ann import PQ_CODEBOOKS
    from datawarehousefinal_spark.operators.pq import pq_recon_error

    emb = load_table(spark, sf_dir, "embeddings")
    out = pq_recon_error(emb, "vec_id", "embedding", PQ_CODEBOOKS)
    return out


@query(
    "hard_negative_mining",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, label AS qlab,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, label AS clab,
                 embedding::DOUBLE[] AS cv
          FROM embeddings),
    scored AS (
      SELECT query_id, qlab, neighbor_id, clab,
             list_cosine_similarity(qv, cv) AS cosine,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id
             ) AS rn
      FROM q CROSS JOIN c
      WHERE neighbor_id != query_id
    ),
    shortlist AS (SELECT * FROM scored WHERE rn <= 50)
    SELECT query_id, neighbor_id, cosine FROM (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
             ) AS rn2
      FROM shortlist WHERE clab != qlab
    ) WHERE rn2 <= 3
    """,
    # dot-product accumulation order differs — serve-boundary contract
    round_cols=("cosine",),
)
def hard_negative_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard-negative mining: for each query
    embedding, the 3 nearest neighbors with a DIFFERENT label, drawn
    from a top-50 cosine shortlist — the retrieve-then-filter contract
    production miners use (the shortlist is exactly what an ANN index
    serves; the label filter and re-rank run on the tiny candidate
    frame). The shortlist comes from the Arrow-BLAS exact top-k kernel
    (corpus scanned once, per-batch local top-k, no Q×N shuffle); label
    joins touch only ~Q×50 rows."""
    from datawarehousefinal_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cand = cosine_topk(emb, queries, "vec_id", "embedding", k=50)
    # Labels for the QUERY side come from the queries frame (bounded by
    # contract); the corpus-label lookup joins with the Q×50 candidate
    # frame broadcast, so the corpus never shuffles here either.
    qlab = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("__qlab")
    )
    clab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("__clab")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    shortlist = cand.join(F.broadcast(qlab), "query_id")

    out = (
        clab.join(F.broadcast(shortlist), "neighbor_id")
        .filter(F.col("__clab") != F.col("__qlab"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .select("query_id", "neighbor_id", "cosine")
    )
    return out
