"""Embedding similarity search — exact cosine top-k and an IVF-partitioned
approximate path.

Beyond-reference scale operators (SURVEY.md §7 P7): the reference has no
vector search; a training-data pipeline needs nearest-neighbor retrieval
over an embedding column. Two tiers, mirroring FAISS's Flat vs IVF-Flat:

- :func:`cosine_topk` — exact brute force. The small query set is
  collected once and each corpus batch is scored against all of it in one
  Arrow-batched BLAS matmul, which keeps only its local top-k per query;
  the corpus never shuffles, and the final per-query top-k window sees
  ~partitions × Q × k rows. This is the ground truth and is the right
  plan whenever |queries| is small.
- :func:`build_ivf_index` / :func:`ivf_topk` — the 100 TB path. A KMeans
  coarse quantizer assigns every corpus vector to a centroid partition
  (the index build is one ML fit + one transform); a query probes only its
  ``nprobe`` nearest centroids, so the scored candidate set shrinks by
  ~``nprobe/num_partitions`` while recall stays high for clustered
  (real-embedding) corpora. Probes join candidates through a broadcast
  hash join on the centroid id — the corpus stays in place.

All cosine math is done in DOUBLE regardless of the stored vector type
(the fixtures store ``array<float>``) so results are reproducible against
external engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot_product(a: Column, b: Column) -> Column:
    """Elementwise product + fold as higher-order functions — no UDF,
    but CodegenFallback (interpreted per element), so it suits the small
    or candidate-sized inputs it scores here."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: for each query vector the ``k`` most similar
    corpus vectors.

    ``queries`` must be small: building the plan collects them to the
    driver (the one job this call starts), and they ship to the workers as
    a closure literal. ``corpus`` can be arbitrary size — it is scanned
    once and scored in place. One Arrow-batched ``mapInPandas`` scores
    each corpus batch against ALL queries in a single BLAS matmul and
    emits only its LOCAL top-k per query, so the final window sees
    ~partitions × Q × k candidate rows instead of Q × N.

    Output: ``query_id, neighbor_id, cosine`` (double), ``k`` rows per
    query, ties broken on neighbor id.
    """
    scored = _cosine_scores_arrow(corpus, queries, id_col, vec_col, k, exclude_self)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def _cosine_scores_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    exclude_self: bool,
) -> DataFrame:
    """Arrow kernel for :func:`cosine_topk`: per-batch BLAS matmul +
    LOCAL top-k, returning the candidate frame (query_id, neighbor_id,
    cosine) for the global top-k window. Local top-k is sound because a
    global top-k row is necessarily a top-k row of its own batch."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    qrows = queries.select(
        F.col(id_col), as_double_array(vec_col).alias("__qv")
    ).collect()
    id_type = corpus.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("query_id", id_type),
            StructField("neighbor_id", id_type),
            StructField("cosine", DoubleType()),
        ]
    )
    spark = corpus.sparkSession
    if not qrows:
        return spark.createDataFrame([], out_schema)
    qids = [r[0] for r in qrows]
    Q = np.stack([np.asarray(r["__qv"], dtype=np.float64) for r in qrows])
    qn = np.linalg.norm(Q, axis=1)

    import pandas as pd

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["__cv"].values]
            )
            nid = pdf["neighbor_id"].values
            cn = np.linalg.norm(M, axis=1)
            S = (M @ Q.T) / np.outer(cn, qn)
            out = {"query_id": [], "neighbor_id": [], "cosine": []}
            for qi, qid in enumerate(qids):
                s = S[:, qi]
                mask = nid != qid if exclude_self else np.ones(len(nid), bool)
                idx = np.flatnonzero(mask)
                if len(idx) == 0:
                    continue
                # top-k by (-cosine, neighbor_id): lexsort keys are applied
                # last-key-major
                order = idx[np.lexsort((nid[idx], -s[idx]))][:k]
                out["query_id"].extend([qid] * len(order))
                out["neighbor_id"].extend(nid[order])
                out["cosine"].extend(s[order])
            yield pd.DataFrame(out)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("__cv"),
    )
    return c.mapInPandas(gen, out_schema)


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """kNN majority-vote classification over a labeled embedding corpus:
    each query's ``k`` nearest neighbors by exact cosine vote with their
    labels; the most frequent label wins (ties to the smallest label —
    deterministic).

    Plan shape: :func:`cosine_topk` (queries broadcast, corpus scanned in
    place) produces Q×k rows; the label join attaches ``label_col`` by
    neighbor id (the Q×k side is the small one — it broadcasts); the vote
    is a Q×distinct-label aggregate + a row_number window, all tiny.

    Output: ``query_id, pred_label``.
    """
    topk = cosine_topk(corpus, queries, id_col, vec_col, k)
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__lbl")
    )
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "__lbl")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__c"), "__lbl")
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("query_id", F.col("__lbl").alias("pred_label"))
    )


def embedding_pairs_exact(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Embedding-cosine near-dup GROUND TRUTH: every pair with cosine >=
    ``threshold``, by exhaustive comparison.

    Deliberately quadratic — the correctness anchor for
    :func:`hyperplane_lsh_near_dupes` (same role brute-force
    ``ngram_jaccard_pairs`` plays for MinHash-LSH; bench-excluded, never
    the scale path). One side broadcasts, so keep it to corpora that fit
    a broadcast; at scale use the LSH path and sample-audit recall.

    Output: ``id_a, id_b, cosine`` (id_a < id_b).
    """
    a = corpus.select(
        F.col(id_col).alias("id_a"), as_double_array(vec_col).alias("__va")
    ).withColumn("__na", l2_norm(F.col("__va")))
    b = corpus.select(
        F.col(id_col).alias("id_b"), as_double_array(vec_col).alias("__vb")
    ).withColumn("__nb", l2_norm(F.col("__vb")))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            dot_product(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def hyperplane_lsh_near_dupes(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float,
    num_bits: int = 64,
    rows_per_band: int = 8,
    max_bucket: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup at scale: random-hyperplane (SimHash-for-
    angles, Charikar 2002) LSH blocking + exact cosine verification.

    Each vector gets ``num_bits`` sign bits — bit i is ``dot(v, r_i) >= 0``
    for a seeded Gaussian hyperplane ``r_i`` — banded ``rows_per_band``
    bits per band. Two vectors at angle θ agree on a bit with probability
    1 - θ/π, so near-parallel pairs (near-dups) collide in some band with
    overwhelming probability, while random pairs mostly don't. Candidates
    come from bucket self-joins strictly within (band, key) with a
    ``max_bucket`` skew guard; exact cosine then keeps only true pairs —
    100% precision, probabilistic recall tuned for NEAR-DUPS.

    Band keys must be WIDE: with the default 8 bands × 8 bits, a random
    pair (bit agreement ~0.5) collides in a band with p = 0.5^8 ≈ 0.4% —
    the blocking prunes ~99.6% of pairs per band — while a near-dup at
    cosine 0.99 (bit agreement ≈ 0.986) misses all 8 bands with p ≈
    (1 - 0.986^8)^8 ≈ 1.6e-8. Narrow bands (the MinHash banding reflex;
    2-bit keys give only 4 buckets) would collide nearly everything and
    degenerate to brute force. Borderline pairs far below near-dup
    similarity (e.g. cosine ~0.5, agreement ~0.67) have low recall by
    design — this is a near-DUP detector, not a range search.

    The hyperplanes are driver-generated literals (num_bits × dim floats —
    bytes, not data); shuffles touch only (band, key, id) rows, and
    verification happens on the candidate set alone. This is the same
    shape as ``minhash_lsh_pairs``.

    The sign bits of a batch come from one Arrow-batched numpy matmul
    (``mapInPandas``), so the kernel runs at BLAS speed.

    Output: ``id_a, id_b, cosine`` (id_a < id_b).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    planes = np.random.RandomState(seed).normal(size=(num_bits, dim))
    vecs = corpus.select(
        F.col(id_col), as_double_array(vec_col).alias("__v")
    ).withColumn("__n", l2_norm(F.col("__v")))
    out_schema = StructType(
        list(vecs.schema.fields)
        + [StructField("__bits", ArrayType(IntegerType()))]
    )

    def gen(batches):
        for pdf in batches:
            M = np.stack(pdf["__v"].values).astype(np.float64)
            bits = (M @ planes.T >= 0).astype(np.int32)
            pdf = pdf.copy()
            pdf["__bits"] = list(bits)
            yield pdf

    sig = vecs.mapInPandas(gen, out_schema)
    num_bands = num_bits // rows_per_band
    entries = []
    for bnd in range(num_bands):
        key = F.lit(0)
        for j in range(rows_per_band):
            key = key * 2 + F.col("__bits")[bnd * rows_per_band + j]
        entries.append(F.struct(F.lit(bnd).alias("band"), key.alias("key")))
    # Candidate generation is ID-ONLY: the vectors must not ride through
    # the band explode, the bucket-count shuffle, and both self-join sides
    # (that would move ~2*num_bands copies of every vector). Vectors are
    # re-joined by id for verification on the (sparse) candidate set —
    # the same shape minhash_near_dupes uses for document text.
    keyed = sig.select(
        id_col, F.explode(F.array(*entries)).alias("__e")
    ).select(
        id_col, F.col("__e.band").alias("band"), F.col("__e.key").alias("key")
    )
    sized = keyed.withColumn(
        "__c", F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
    ).filter(F.col("__c") <= max_bucket)
    a = sized.select(F.col(id_col).alias("id_a"), "band", "key")
    b = sized.select(F.col(id_col).alias("id_b"), "band", "key")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = vecs.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    vb = vecs.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            dot_product(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def build_ivf_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    num_partitions: int = 16,
    seed: int = 42,
    max_iter: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """IVF index build: KMeans coarse quantizer over the corpus.

    Returns ``(assigned, centroids)``: the corpus with a ``__centroid``
    partition id and a precomputed ``__norm`` (so probes never recompute
    corpus norms — a vector probed by q queries would otherwise pay its
    norm q times), and a tiny (num_partitions)-row centroid table. At
    scale, fit the quantizer on a sample (`corpus.sample(...)`) — the
    transform that assigns partitions is a single distributed pass either
    way; and persist ``assigned`` partitioned by ``__centroid`` so probes
    prune files at scan time.

    ``max_iter`` defaults LOW (8, vs Spark's 20): a coarse quantizer only
    needs rough Voronoi cells — recall comes from ``nprobe``, not from a
    converged clustering — and each extra iteration is a full corpus pass
    at build time (FAISS trains IVF quantizers the same way: few
    iterations over a sample).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = corpus.select(
        F.col(id_col), as_double_array(vec_col).alias("__arr")
    ).withColumn("__features", array_to_vector("__arr"))
    model = KMeans(
        k=num_partitions,
        seed=seed,
        maxIter=max_iter,
        featuresCol="__features",
        predictionCol="__centroid",
    ).fit(vecs)
    assigned = model.transform(vecs).select(
        id_col,
        F.col("__arr").alias(vec_col),
        "__centroid",
        l2_norm(F.col("__arr")).alias("__norm"),
    )
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        ["__centroid", "__cvec"],
    )
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate cosine top-k over an IVF index: each query scores only
    the vectors assigned to its ``nprobe`` closest centroids, itself
    excluded.

    Plan shape: queries × centroids is a tiny broadcast cross product;
    the (query, centroid) probe list broadcasts onto the assigned corpus
    (broadcast hash join on ``__centroid`` — the corpus never shuffles);
    exact cosine + per-query top-k run on the reduced candidate set.

    Output: ``query_id, neighbor_id, cosine`` — same contract as
    :func:`cosine_topk`, approximate recall (exact when every true
    neighbor lives in a probed partition; raise ``nprobe`` to trade
    compute for recall).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("__qv"),
    ).withColumn("__qn", l2_norm(F.col("__qv")))

    # Probe ranking is by cosine to the centroid (dot / centroid norm —
    # the query norm is constant per query so it can't change the order);
    # a raw dot product would bias probes toward long centroids.
    probe_scores = q.crossJoin(F.broadcast(centroids)).withColumn(
        "__cdist",
        dot_product(F.col("__qv"), F.col("__cvec")) / l2_norm(F.col("__cvec")),
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("__cdist"), "__centroid")
    probes = (
        probe_scores.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "__qv", "__qn", "__centroid")
    )

    have_norm = "__norm" in assigned.columns
    cand = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        "__centroid",
        *(["__norm"] if have_norm else []),
    ).join(F.broadcast(probes), "__centroid")
    neighbor_norm = (
        F.col("__norm") if have_norm else l2_norm(as_double_array("__cv"))
    )
    scored = cand.withColumn(
        "cosine",
        dot_product(as_double_array("__cv"), F.col("__qv"))
        / (neighbor_norm * F.col("__qn")),
    )
    scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def ivf_index_append(
    centroids: DataFrame,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign a NEW embedding batch to the existing IVF coarse quantizer
    — incremental index maintenance (the ANN face of the incremental
    dedup stores): a growing corpus appends each ingest's assignments to
    the stored index WITHOUT refitting KMeans or touching prior rows.

    One broadcast cross of the batch against the tiny centroid table +
    an argmin window per vector — map-side work only; the batch never
    shuffles on anything but its own rows. Output rows have exactly the
    stored-index schema (``id, vec, __centroid, __norm``), so
    ``stored.unionByName(ivf_index_append(...))`` — or a parquet append
    partitioned by ``__centroid`` — IS the updated index, and
    :func:`ivf_topk` serves it unchanged. Quantizer drift is the
    documented trade (FAISS appends to a fixed coarse quantizer the same
    way): refit on a sample when the cell-size histogram degrades.

    Assignment metric is squared L2 to the centroid (what the KMeans
    fit minimizes), tie-broken on centroid id — deterministic,
    partitioning-independent.
    """
    v = batch.select(
        F.col(id_col), as_double_array(vec_col).alias("__arr")
    )
    scored = v.crossJoin(F.broadcast(centroids)).withColumn(
        "__d2",
        F.aggregate(
            F.zip_with(
                F.col("__arr"), F.col("__cvec"), lambda a, c: (a - c) * (a - c)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    w = Window.partitionBy(id_col).orderBy("__d2", "__centroid")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            F.col("__arr").alias(vec_col),
            "__centroid",
            l2_norm(F.col("__arr")).alias("__norm"),
        )
    )


def embedding_centroids(
    df: DataFrame, vec_col: str, label_col: str
) -> DataFrame:
    """Per-label mean vector (class centroid) over an embedding column —
    the embedding-space diagnostic base (class separation, drift of a
    source's centroid, IVF seeding sanity).

    Dimension-exploded two-stage aggregation: ``posexplode`` the vector,
    partial-combined ``avg`` per ``(label, pos)`` — the shuffle key is
    (label × dimension), uniform and tiny regardless of corpus size —
    then per-label reassembly of the ordered dimension array. All
    column expressions; vector math in double (see module header).

    Output: ``label_col, n_vectors (long), centroid (array<double>)``.
    """
    x = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(label_col),
        F.posexplode(as_double_array(vec_col)).alias("__pos", "__v"),
    )
    c = x.groupBy(label_col, "__pos").agg(
        F.avg("__v").alias("__v"), F.count(F.lit(1)).alias("__n")
    )
    return c.groupBy(label_col).agg(
        F.max("__n").cast("long").alias("n_vectors"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__v"))),
            lambda s: s["__v"],
        ).alias("centroid"),
    )


def centroid_pairwise_cosine(centroids: DataFrame, label_col: str) -> DataFrame:
    """Cosine similarity between every pair of label centroids
    (``label_a < label_b``). The centroid frame has one row per label —
    SMALL BY CONTRACT — so the inequality self-pair is a broadcast
    nested-loop over label-count² rows, the same bounded pattern as
    fuzzy_closest_match. Output: ``label_a, label_b, cosine (double)``.
    """
    a = centroids.select(
        F.col(label_col).alias("label_a"), F.col("centroid").alias("__ca")
    )
    b = centroids.select(
        F.col(label_col).alias("label_b"), F.col("centroid").alias("__cb")
    )
    ca, cb = F.col("__ca"), F.col("__cb")
    cos = dot_product(ca, cb) / (l2_norm(ca) * l2_norm(cb))
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", cos.cast("double").alias("cosine"))
    )


def semantic_dedup_keep(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """SemDeDup-style greedy semantic dedup: drop any row that has a
    SMALLER-id neighbor at cosine >= ``threshold``; keep the rest.

    The rule is single-pass over the pair list (drop ``id_b`` of every
    pair, since pairs are emitted with ``id_a < id_b``) — deterministic,
    order-free, and embarrassingly parallel, unlike the survivor-aware
    greedy which is inherently sequential. It can over-drop chains
    (u~v, v~w drops both v and w) — the documented trade for a
    shuffle-once plan; cluster-canonical keep lives in
    ``dedup_survivors`` (connected components) when transitive keep-one
    semantics are wanted.

    Pairs come from the exact quadratic ground truth
    (:func:`embedding_pairs_exact`); the keep step is an id-only
    DISTINCT (small: the dropped fraction) anti-joined against the
    corpus, which itself never shuffles.
    """
    pairs = embedding_pairs_exact(corpus, id_col, vec_col, threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return corpus.join(losers, id_col, "left_anti")


def prototypicality_prune(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    drop_frac: float = 0.25,
) -> DataFrame:
    """D4-style prototypicality pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws"; Tirumala et al. 2023, "D4"): assign every
    vector to its nearest cluster centroid, score it by cosine to that
    centroid (its *prototypicality*), and DROP the ``drop_frac`` most
    prototypical vectors of each cluster — the ones nearest the cluster
    mean carry the least marginal information, so pruning them first
    beats random pruning at equal budget. Keeps the rest.

    ``centroids`` is a frozen quantizer artifact (``__centroid,
    __cvec`` — same contract as :func:`ivf_topk`; see
    operators/frozen_ann.py for the committed instance): training is
    iterative and lives outside the serving path, so pruning itself is
    pure deterministic arithmetic.

    Plan shape: one broadcast argmin assignment pass
    (:func:`ivf_index_append` — the corpus never shuffles for
    assignment), then one shuffle on the cluster id for the per-cluster
    rank window. Cluster sizes are ~n/k BY DESIGN (D4 practice grows k
    with the corpus precisely so clusters stay executor-sized), so the
    per-cluster sort is bounded; with a deliberately tiny k over a huge
    corpus, swap the window for the grouped histogram-rank machinery
    (analytics.grouped quantile normalization) — same keep rule.

    Drop count per cluster is ``ceil(drop_frac * n_cluster)`` (ranked by
    prototypicality DESC, id-tie-broken) — exact, partitioning-
    independent. Output (kept rows only): ``id_col, cluster (int),
    prototypicality (double)``.
    """
    if not 0.0 <= drop_frac < 1.0:
        raise ValueError("drop_frac must be in [0, 1)")
    assigned = ivf_index_append(centroids, corpus, id_col, vec_col)
    pro = assigned.join(F.broadcast(centroids), "__centroid").withColumn(
        "prototypicality",
        dot_product(F.col(vec_col), F.col("__cvec"))
        / (F.col("__norm") * l2_norm(F.col("__cvec"))),
    )
    w = Window.partitionBy("__centroid").orderBy(
        F.desc("prototypicality"), F.col(id_col)
    )
    wc = Window.partitionBy("__centroid")
    return (
        pro.withColumn("__rn", F.row_number().over(w))
        .withColumn("__cnt", F.count(F.lit(1)).over(wc))
        .filter(
            F.col("__rn")
            > F.ceil(F.col("__cnt") * F.lit(float(drop_frac)))
        )
        .select(
            id_col,
            F.col("__centroid").cast("int").alias("cluster"),
            F.col("prototypicality").cast("double"),
        )
    )


def knn_label_propagation(
    labeled: DataFrame,
    unlabeled: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """Semi-supervised auto-labeling: each unlabeled vector takes the
    majority label among its ``k`` nearest labeled neighbors by exact
    cosine — the label-propagation step every weak-supervision pipeline
    runs to extend a small seed set of human labels over a large corpus.

    Vote ties break toward the SMALLER label value — integer-only
    tie-break, so the result is partitioning- and float-order-
    independent (the only float influence is the neighbor RANKING,
    which is the same deterministic contract :func:`cosine_topk`
    already proves against its oracle).

    Plan shape: the labeled corpus is scanned once by the top-k kernel
    (``unlabeled`` is the broadcast query side — bound it per batch;
    at scale chunk the unlabeled stream, or serve candidates from the
    IVF index via :func:`ivf_topk` and apply the same vote). The
    neighbor list (|unlabeled| × k rows) broadcasts back onto
    ``labeled`` for the label join — the big side never shuffles.

    ``labeled`` and ``unlabeled`` must carry disjoint ``id_col`` values
    (self-matches are not excluded across frames).

    Output: ``id_col, <label_col> (neighbor-majority label), votes
    (long)`` — one row per unlabeled vector.
    """
    nbrs = cosine_topk(
        labeled, unlabeled, id_col, vec_col, k=k, exclude_self=False
    )
    votes = (
        labeled.select(
            F.col(id_col).alias("neighbor_id"), F.col(label_col)
        )
        .join(F.broadcast(nbrs), "neighbor_id")
        .groupBy("query_id", label_col)
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.col(label_col)
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("query_id").alias(id_col),
            F.col(label_col),
            F.col("votes").cast("long"),
        )
    )
