"""Corpus deduplication: exact, n-gram, MinHash/SimHash, line-level and
embedding near-duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehousefinal_spark.materialize import local_result, materialized
from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.queries._shared import (
    _JACCARD_PAIRS_SQL,
    _norm_sql,
    _SHINGLES_SQL,
    _W,
)
from datawarehousefinal_spark.sources.testdata import load_table


@query(
    "incremental_components_merge",
    oracle="""
    WITH RECURSIVE e1 AS (
      SELECT c_custkey AS a, c_custkey + 3 AS b
      FROM customer WHERE c_custkey % 9 = 0
    ),
    e2 AS (
      SELECT c_custkey AS a, c_custkey + 6 AS b
      FROM customer WHERE c_custkey % 18 = 0
    ),
    p AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2),
    edges AS (
      SELECT a AS src, b AS dst FROM p
      UNION ALL
      SELECT b, a FROM p
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    )
    SELECT id, min(r) AS component FROM reach GROUP BY id
    """,
)
def incremental_components_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup registry maintenance (graph.
    incremental_components): historical edges collapse to their
    spanning-star ASSIGNMENT (|nodes| rows — the history is never
    re-read), a new edge batch folds in, and the merged labels must
    equal the from-scratch closure over the FULL edge history — which
    is exactly what the oracle's recursive CTE computes. Append ≡
    rebuild, the same mergeability contract as the BM25/minhash append
    operators."""
    from datawarehousefinal_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    e1 = cust.filter(F.col("c_custkey") % 9 == 0).select(
        F.col("c_custkey").alias("id_a"),
        (F.col("c_custkey") + 3).alias("id_b"),
    )
    e2 = cust.filter(F.col("c_custkey") % 18 == 0).select(
        F.col("c_custkey").alias("id_a"),
        (F.col("c_custkey") + 6).alias("id_b"),
    )
    with connected_components(e1) as assignments, incremental_components(
        assignments, e2
    ) as merged:
        return local_result(merged)


@query(
    "entity_resolution_clusters",
    oracle="""
    WITH RECURSIVE ent AS (
      SELECT c_custkey AS id, md5(c_custkey::VARCHAR) AS name
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey + 10000000,
             substr(md5(c_custkey::VARCHAR), 1, 31)
      FROM customer WHERE c_custkey % 30 = 0
    ),
    p AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM ent a JOIN ent b
        ON a.id < b.id
       AND abs(length(a.name) - length(b.name)) <= 1
       AND levenshtein(a.name, b.name) <= 1
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL
      SELECT id_b, id_a FROM p
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ),
    comp AS (SELECT id, min(r) AS root FROM reach GROUP BY id)
    SELECT root AS canonical_id, count(*)::BIGINT AS n_members
    FROM comp GROUP BY 1
    """,
)
def entity_resolution_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end — the composition the fuzzy stack
    exists for: banded all-pairs edit-distance edges
    (fuzzy.fuzzy_pairs_blocked, lossless length-band self-join) feed
    connected components, and each cluster reports its canonical
    (min) id + size. Fixture: md5-derived entity names with planted
    one-char-truncated twins (md5 keeps unrelated names far apart, so
    the linkage is exactly the planted twin set — but the oracle
    recomputes pairs + recursive closure from scratch either way)."""
    from datawarehousefinal_spark.operators.fuzzy import fuzzy_pairs_blocked
    from datawarehousefinal_spark.operators.graph import connected_components

    customer = load_table(spark, sf_dir, "customer")
    base = customer.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("id"),
        F.md5(F.col("c_custkey").cast("string")).alias("name"),
    )
    twins = customer.filter(F.col("c_custkey") % 30 == 0).select(
        (F.col("c_custkey") + 10000000).alias("id"),
        F.substring(
            F.md5(F.col("c_custkey").cast("string")), 1, 31
        ).alias("name"),
    )
    ents = base.unionByName(twins)
    pairs = fuzzy_pairs_blocked(ents, "id", "name", max_distance=1)
    with connected_components(pairs) as comp:
        return local_result(
            comp.groupBy(F.col("component").alias("canonical_id")).agg(
                F.count(F.lit(1)).cast("long").alias("n_members")
            )
        )


@query(
    "exact_dedup",
    oracle=f"""
    WITH inp AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000, '  ' || upper(text) || ' ' FROM documents
        WHERE doc_id < 50
    ), ranked AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn,
               count(*)     OVER (PARTITION BY norm) AS n_copies
        FROM (SELECT doc_id, {_norm_sql('text')} AS norm FROM inp)
    )
    SELECT doc_id, n_copies FROM ranked WHERE rn = 1
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on sha2(normalized text), keep-first by doc_id.
    Duplicates are injected deterministically (padded/uppercased copies of
    doc_id<50 at doc_id+10000) since the fixture has no exact dupes."""
    from datawarehousefinal_spark.operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" ")).alias("text"),
    )
    return exact_dedup(docs.unionByName(dupes), "text", ["doc_id"]).select(
        "doc_id", "n_copies"
    )


@query("ngram_jaccard_pairs", oracle=_JACCARD_PAIRS_SQL)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact 5-gram Jaccard near-dup pairs (threshold 0.9) —
    the ground-truth path the LSH variant is checked against."""
    from datawarehousefinal_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.9, shingle_width=_W)


# Transitive closure of the Jaccard pairs: both component algorithms
# answer to it.
_COMPONENTS_SQL = f"""
    WITH RECURSIVE p AS (
        SELECT id_a, id_b FROM ({_JACCARD_PAIRS_SQL}) jp
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM p
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM p
    ),
    reach(id, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    )
    SELECT id AS doc_id, min(r)::BIGINT AS component
    FROM reach GROUP BY id
    """


@query("near_dup_components", oracle=_COMPONENTS_SQL)
def near_dup_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup cluster resolution (operators/graph.
    connected_components): pair lists under-merge without the closure
    (A~B, B~C must put A and C in one cluster). Edges come from the
    MinHash-LSH scale path — whose pair set the driver already verifies
    equal to the SQL-expressible Jaccard ground truth
    (`minhash_lsh_pairs` green vs _JACCARD_PAIRS_SQL) — and the oracle
    replays the closure as a DuckDB recursive CTE. Component = min doc_id
    in the cluster: deterministic, engine-portable."""
    from datawarehousefinal_spark.operators.dedup import minhash_near_dupes
    from datawarehousefinal_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dupes(
        docs, "doc_id", "text", 0.9, 16, 8, 2, _W, "xxhash64"
    ).select("id_a", "id_b")
    with connected_components(pairs) as comp:
        return local_result(comp.select(
            F.col("id").alias("doc_id"), F.col("component").cast("long")
        ))


@query("near_dup_components_stars", oracle=_COMPONENTS_SQL)
def near_dup_components_stars_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as `near_dup_components`, resolved by the
    large-star/small-star contraction (graph.connected_components_stars)
    instead of min-label propagation — the O(log² n)-round variant for
    graphs whose diameter min-label can't afford. Shares the recursive-CTE
    oracle, so the driver proves both algorithms produce the identical
    closure."""
    from datawarehousefinal_spark.operators.dedup import minhash_near_dupes
    from datawarehousefinal_spark.operators.graph import connected_components_stars

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dupes(
        docs, "doc_id", "text", 0.9, 16, 8, 2, _W, "xxhash64"
    ).select("id_a", "id_b")
    with connected_components_stars(pairs) as comp:
        return local_result(comp.select(
            F.col("id").alias("doc_id"), F.col("component").cast("long")
        ))


@query("minhash_lsh_pairs", oracle=_JACCARD_PAIRS_SQL)
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact Jaccard verification. Shares
    the brute-force oracle: signatures are a FIXED function of the text
    (seeded xxhash64 + affine family — no run-to-run randomness), so the
    candidate set, hence the verified output, is deterministic; it equals
    the brute-force pairs whenever LSH recall is complete, which holds here
    by a huge margin (fixture near-dups at width 14 all have J≥0.92;
    per-pair miss p=(1-J²)^8 < 4e-7). The plan is banded-bucket joins,
    never all-pairs."""
    from datawarehousefinal_spark.operators.dedup import minhash_near_dupes

    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dupes(
        docs,
        "doc_id",
        "text",
        threshold=0.9,
        num_hashes=16,
        bands=8,
        rows_per_band=2,
        shingle_width=_W,
        hash_mode="xxhash64",
    )


@query(
    "incremental_exact_dedup",
    oracle=f"""
    WITH store AS (
        SELECT DISTINCT {_norm_sql('text')} AS norm
        FROM documents WHERE doc_id % 2 = 0
    ), batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 100000, '  ' || upper(text) || ' '
        FROM documents WHERE doc_id % 2 = 0 AND doc_id < 100
        UNION ALL
        SELECT doc_id + 200000, upper(text) || '  '
        FROM documents WHERE doc_id % 2 = 1 AND doc_id < 40
    ), ranked AS (
        SELECT doc_id, norm,
               row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
        FROM (SELECT doc_id, {_norm_sql('text')} AS norm FROM batch)
    )
    SELECT r.doc_id FROM ranked r
    WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM store s WHERE s.norm = r.norm)
    """,
)
def incremental_exact_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-based incremental exact dedup — the daily-ingest workflow: an
    existing corpus (even doc_ids) is represented only by its content-hash
    store; the new batch (odd doc_ids + injected normalized copies of both
    halves) dedups against the store plus itself without reading corpus
    text. Cross-batch copies hit the store, within-batch copies lose
    keep-first, originals survive."""
    from datawarehousefinal_spark.operators.incremental import (
        exact_store,
        incremental_exact_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    cross_dups = corpus.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" ")).alias("text"),
    )
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    batch_dups = odd.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    batch = odd.unionByName(cross_dups).unionByName(batch_dups)
    store = exact_store(corpus, "text")
    survivors, _delta = incremental_exact_dedup(batch, store, "text", ["doc_id"])
    return survivors.select("doc_id")


# Shared oracle for the two incremental-store identity reports: the
# replayable facts are the exact corpus/batch split counts; the three
# booleans are identities the Spark face COMPUTES by comparing real
# frames (batch-applied store vs rebuilt-from-scratch store, survivor ⊆
# batch, store row per corpus doc) and the oracle asserts — the same
# merge==rebuild pattern that oracled the KMV/HLL/KLL sketch stores and
# incremental_components_merge (xxhash64 itself has no SQL twin, but the
# store algebra does).
_INCR_STORE_ORACLE = """
    SELECT
      (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)::BIGINT
        AS n_corpus_docs,
      (SELECT count(*) FROM documents WHERE doc_id % 2 = 1)::BIGINT
        AS n_batch_docs,
      true AS store_covers_corpus,
      true AS append_equals_rebuild,
      true AS survivors_subset_of_batch
    """


def _incr_store_report(
    corpus: DataFrame,
    batch: DataFrame,
    store: DataFrame,
    survivors: DataFrame,
    delta: DataFrame,
    resig: DataFrame,
) -> DataFrame:
    """Assemble the one-row identity report both incremental dedup faces
    serve: exact split counts plus three computed invariants —
    ``store ⊎ delta ≡ rebuild(corpus ∪ survivors)`` (signatures are
    per-document functions, so applying a batch to a store must equal
    rebuilding from scratch over the surviving corpus — catches drift
    between signature generation, delta construction, and survivor
    logic), survivors ⊆ batch, and one store row per corpus doc.

    The merge≡rebuild check is served through its algebraic reduction
    (the round-9 perf ask): with ``store := sig(corpus)`` built in this
    same job from the same deterministic xxhash64 signature function,
    ``store ⊎ delta ≡ sig(corpus) ⊎ sig(survivors)`` holds iff
    ``delta ≡ sig(survivors)`` — so ``resig`` is the signature store
    over the SURVIVORS ONLY (no corpus-sized second signature pass),
    and the multiset compare is two one-row checksum aggregates
    (``count`` + two independently-seeded ``bit_xor(xxhash64(*cols))``
    folds + an exact-decimal ``sum(xxhash64)`` fold, the graph.py
    fingerprint pattern extended) joined null-safely — no store-sized
    ``exceptAll`` shuffle. The sum fold exists because XOR alone is
    blind to EVEN-multiplicity divergences (R,R vs S,S cancels under
    every seed); the sum is multiplicity-sensitive (2·R ≠ 2·S exactly,
    accumulated in decimal(38,0) so no overflow wrap), so a divergence
    must defeat count, two seeded XORs, AND the exact sum
    simultaneously — engineered-collision territory, not drift. All
    comparisons stay lazy aggregates; the single-row frames compose
    via the bounded scalar-broadcast cross join."""
    cols = sorted(store.columns)

    def _chk(df: DataFrame, tag: str) -> DataFrame:
        h = F.xxhash64(*cols)
        return df.select(*cols).agg(
            F.count(F.lit(1)).alias(f"__n{tag}"),
            F.bit_xor(h).alias(f"__x{tag}"),
            F.bit_xor(
                F.xxhash64(*cols, F.lit(0x9E3779B9))
            ).alias(f"__y{tag}"),
            F.sum(h.cast("decimal(38,0)")).alias(f"__s{tag}"),
        )

    ca = _chk(delta, "a")
    cb = _chk(resig, "b")
    stray = (
        survivors.select("doc_id")
        .join(batch.select("doc_id"), "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("__stray"))
    )
    nc = corpus.agg(F.count(F.lit(1)).alias("n_corpus_docs"))
    nb = batch.agg(F.count(F.lit(1)).alias("n_batch_docs"))
    ns = store.agg(F.count(F.lit(1)).alias("__ns"))
    return (
        nc.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(ca))
        .crossJoin(F.broadcast(cb))
        .crossJoin(F.broadcast(stray))
        .select(
            "n_corpus_docs",
            "n_batch_docs",
            (F.col("__ns") == F.col("n_corpus_docs")).alias(
                "store_covers_corpus"
            ),
            (
                (F.col("__na") == F.col("__nb"))
                & F.col("__xa").eqNullSafe(F.col("__xb"))
                & F.col("__ya").eqNullSafe(F.col("__yb"))
                & F.col("__sa").eqNullSafe(F.col("__sb"))
            ).alias("append_equals_rebuild"),
            (F.col("__stray") == F.lit(0)).alias(
                "survivors_subset_of_batch"
            ),
        )
    )


@query("incremental_minhash_dedup", oracle=_INCR_STORE_ORACLE)
def incremental_minhash_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-based incremental NEAR-dup dedup in the PRODUCTION ingest
    shape: the first half of the corpus is the existing store (its
    signatures stand in for the parquet signature table a daily pipeline
    would read — built here because the driver can't pre-materialize
    state), and the second half ingests against it. Candidates come from
    banded batch×store bucket joins; verification is signature-estimated
    Jaccard — corpus text is never re-read, and the ingest cost is
    O(batch), not O(corpus).

    Served as the ORACLED store-identity report (_incr_store_report):
    the driver hash pins merge==rebuild over deterministic xxhash64
    signatures via its survivors-only reduction (see the report's
    docstring), plus survivor containment and store coverage, against
    exact replayable split counts. The pairwise-unique survivor
    contract AND the empty-store bootstrap path stay asserted in
    tests/test_incremental.py."""
    from datawarehousefinal_spark.operators.incremental import (
        incremental_minhash_dedup,
        minhash_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    # The store is scanned several times by the ingest pass (banding +
    # verification sides) and by the identity compare; persist it — in
    # production it would be a parquet table, read, not recomputed.
    with materialized(minhash_store(
        corpus, "doc_id", "text", num_hashes=16, shingle_width=_W
    )) as store, incremental_minhash_dedup(
        batch, store, "doc_id", "text",
        threshold=0.9, num_hashes=16, shingle_width=_W,
    ) as (survivors, delta):
        resig = minhash_store(
            survivors.select("doc_id", "text"),
            "doc_id", "text", num_hashes=16, shingle_width=_W,
        )
        return local_result(
            _incr_store_report(corpus, batch, store, survivors, delta, resig)
        )


@query("incremental_simhash_dedup", oracle=_INCR_STORE_ORACLE)
def incremental_simhash_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash variant of the store-based incremental dedup, in the
    same PRODUCTION ingest shape as ``incremental_minhash_dedup``: the
    store is one 64-bit fingerprint per document (16 bytes — the most
    compact store) built from the corpus half, ingest candidates come
    from shared block-combination keys over DISTINCT batch × store
    fingerprints, verification is one bit_count(xor) per candidate, and
    the within-batch tier uses the direct dropped-id formulation
    (dedup.simhash_dropped_ids — no pair materialization).

    Served as the ORACLED store-identity report, same contract as the
    MinHash face: merge==rebuild over deterministic xxhash64
    fingerprints via the survivors-only reduction (see
    ``_incr_store_report``), survivor containment, store coverage. The
    hamming-unique survivor contract and the empty-store bootstrap path
    stay asserted in tests/test_incremental.py."""
    from datawarehousefinal_spark.operators.incremental import (
        incremental_simhash_dedup,
        simhash_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    with materialized(
        simhash_store(corpus, "doc_id", "text", shingle_width=_W)
    ) as store, incremental_simhash_dedup(
        batch, store, "doc_id", "text", max_hamming=8, shingle_width=_W,
    ) as (survivors, delta):
        resig = simhash_store(
            survivors.select("doc_id", "text"), "doc_id", "text",
            shingle_width=_W,
        )
        return local_result(
            _incr_store_report(corpus, batch, store, survivors, delta, resig)
        )


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id, list_min(list_transform({_SHINGLES_SQL}, s -> md5(s)))
             AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: min-md5 over character shingles (a
    1-permutation MinHash) — cross-engine reproducible blocking key."""
    from datawarehousefinal_spark.operators.textstats import doc_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", doc_fingerprint("text", shingle_width=_W).alias("fingerprint")
    )


@query(
    "embedding_near_dup_pairs",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_cosine_similarity(a.embedding::DOUBLE[],
                                  b.embedding::DOUBLE[]) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                 b.embedding::DOUBLE[]) >= 0.45
    """,
)
def embedding_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup GROUND TRUTH: exhaustive pairs with
    cosine >= 0.45 — the correctness anchor for the hyperplane-LSH scale
    path (bench-excluded, like ngram_jaccard_pairs)."""
    from datawarehousefinal_spark.operators.similarity import embedding_pairs_exact

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_pairs_exact(emb, "vec_id", "embedding", 0.45)


@query(
    "semantic_dedup_keep",
    oracle="""
    SELECT a.vec_id, a.label FROM embeddings a
    WHERE NOT EXISTS (
        SELECT 1 FROM embeddings b
        WHERE b.vec_id < a.vec_id
          AND list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]) >= 0.45
    )
    """,
)
def semantic_dedup_keep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style greedy semantic dedup (similarity.
    semantic_dedup_keep): drop any vector with a smaller-id neighbor at
    cosine >= 0.45, keep the rest. Pairs here come from the exact
    ground-truth path so the oracle can replay the rule (NOT EXISTS);
    at scale the identical keep logic runs over the LSH pair list —
    bench-excluded for the same reason embedding_near_dup_pairs is."""
    from datawarehousefinal_spark.operators.similarity import (
        semantic_dedup_keep,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_keep(emb, "vec_id", "embedding", 0.45).select(
        "vec_id", "label"
    )


def _lsh_near_dups_oracle() -> str:
    """DuckDB replay of the ENTIRE hyperplane-LSH pipeline: the seeded
    hyperplanes are regenerated from the same frozen RandomState(42)
    the Spark face uses (legacy-frozen numpy generator — bit-stable) and
    inlined as full-precision literals (repr round-trips float64), so
    sign bits, band keys, skew-guarded bucket self-join, and the exact
    cosine verify are all replayed value-for-value."""
    import numpy as np

    planes = np.random.RandomState(42).normal(size=(64, 64))
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in row)}]::DOUBLE[])"
        for i, row in enumerate(planes)
    )
    return f"""
    WITH p AS (SELECT * FROM (VALUES {rows}) AS t(bit, plane)),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bits AS (
      SELECT vec_id, bit,
             CASE WHEN list_inner_product(v, plane) >= 0 THEN 1 ELSE 0 END AS b
      FROM v, p
    ),
    keys AS (
      SELECT vec_id, bit // 8 AS band,
             sum(b * (1 << (7 - (bit % 8))))::BIGINT AS key
      FROM bits GROUP BY 1, 2
    ),
    sized AS (
      SELECT vec_id, band, key,
             count(*) OVER (PARTITION BY band, key) AS c
      FROM keys
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM (SELECT * FROM sized WHERE c <= 1000) a
      JOIN (SELECT * FROM sized WHERE c <= 1000) b USING (band, key)
      WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, list_cosine_similarity(x.v, y.v) AS cosine
    FROM cand JOIN v x ON id_a = x.vec_id JOIN v y ON id_b = y.vec_id
    WHERE list_cosine_similarity(x.v, y.v) >= 0.45
    """


@query("embedding_lsh_near_dups", oracle=_lsh_near_dups_oracle())
def embedding_lsh_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup at scale: random-hyperplane LSH blocking
    (64 seeded sign bits, 8 eight-bit bands, skew-guarded bucket
    self-join) + exact cosine verify at 0.45. Hash-gated since round 7
    (round-6 verdict ask): the hyperplanes are a frozen seeded artifact,
    so the whole pipeline is deterministic arithmetic the oracle replays
    end-to-end — sign bits, band keys, bucket join, cosine verify.
    Recall vs exact ground truth is additionally measured in
    tests/test_similarity.py: near-dup pairs (cosine >= ~0.95) recall
    ~1-1.6e-8 and 100% precision by construction; far-below-threshold
    borderline pairs are pruned by design (near-dup detector, not range
    search). The sign bits come from one Arrow-batched BLAS matmul per
    batch; the operator runs no job while the plan is built."""
    from datawarehousefinal_spark.operators.similarity import (
        hyperplane_lsh_near_dupes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return hyperplane_lsh_near_dupes(
        emb, "vec_id", "embedding", dim=64, threshold=0.45
    )


@query("simhash_near_dupes", oracle=_JACCARD_PAIRS_SQL)
def simhash_near_dupes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 64-bit fingerprints with block-combination candidate
    generation, VERIFIED with exact n-gram Jaccard — the same
    candidates→verify shape as `minhash_lsh_pairs`, which lets it share
    the brute-force Jaccard oracle (round-6 ask: this operator is fully
    deterministic xxhash arithmetic, so it deserves a hash gate, not a
    rows-only check). Candidate recall is GUARANTEED for hamming <= 8
    (combo_size <= num_blocks - max_hamming pigeonhole), so the verified
    output is exactly the J >= 0.9 pairs whose fingerprints lie within
    hamming 8: always a subset of the exact-Jaccard pair set, and equal
    to it only while every J >= 0.9 pair is within hamming 8. That holds
    at sf0.001 (28/28) and sf0.01 (25/25). At sf0.1 it does not: 3 of the
    254 J >= 0.9 pairs lie at hamming 9-11 ((170, 3680) J 0.929 h 11,
    (1103, 2466) J 0.905 h 9, (3765, 4331) J 0.951 h 9), so the face
    returns 251 pairs. SimHash distance only approximates Jaccard; a
    wider max_hamming trades candidates for that recall.
    combo_size auto-scales with the distinct-fingerprint count
    (Manku-style sizing), and the max_bucket skew guard is loud.
    tests/test_dedup.py asserts full recall on the raw hamming-pair
    surface, and at sf0.1 that every missed pair lies beyond hamming
    8."""
    from datawarehousefinal_spark.operators.dedup import (
        jaccard_for_pairs,
        simhash_near_dupes,
    )

    docs = load_table(spark, sf_dir, "documents")
    cand = simhash_near_dupes(
        docs, "doc_id", "text", max_hamming=8, shingle_width=_W
    ).select("id_a", "id_b")
    scored = jaccard_for_pairs(cand, docs, "doc_id", "text", shingle_width=_W)
    return scored.filter(F.col("jaccard") >= 0.9)


_BOILER = "subscribe to our newsletter for free updates"


@query(
    "line_dedup_boilerplate",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN text || chr(10) || '{_BOILER}'
                  ELSE text END AS text
      FROM documents WHERE text IS NOT NULL
    ),
    s AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM d),
    l AS (SELECT doc_id, unnest(range(1, len(arr) + 1)) AS pos, arr FROM s),
    l2 AS (SELECT doc_id, pos, arr[pos] AS line FROM l),
    k AS (
      SELECT doc_id, pos, line,
             count(*) OVER (
               PARTITION BY CASE WHEN length(line) >= 1 THEN 'h' || line
                            ELSE 'u:' || doc_id || ':' || pos END
             ) AS cnt,
             length(line) >= 1 AS elig
      FROM l2
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_lines,
           count(*) FILTER (WHERE NOT elig OR cnt < 2)::BIGINT AS n_kept,
           coalesce(
             string_agg(line, chr(10) ORDER BY pos)
               FILTER (WHERE NOT elig OR cnt < 2),
             '') AS text_out
    FROM k GROUP BY doc_id
    """,
)
def line_dedup_boilerplate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style corpus line dedup in boilerplate-removal mode
    (keep="none"): every fifth document gets a planted newsletter footer
    line, and the operator strips EVERY copy because the line's corpus
    count crosses min_repeat. Two uniform-key shuffles (sha2(line)
    window, then the per-document reassembly groupBy); the oracle
    replays the split/count/reassemble with string_split + a windowed
    count + ordered string_agg. The reference has no corpus-level text
    operator (its fuzzy step is row-local, etl_final.ktr:3608-3645) —
    this is beyond-reference training-pipeline surface."""
    from datawarehousefinal_spark.operators.dedup import line_dedup

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit("\n" + _BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return line_dedup(
        planted, "doc_id", "text", keep="none", min_repeat=2
    )


@query(
    "dedup_survivors",
    oracle=f"""
    WITH RECURSIVE p AS (
        SELECT id_a, id_b FROM ({_JACCARD_PAIRS_SQL}) jp
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM p
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM p
    ),
    reach(id, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ),
    comp AS (SELECT id, min(r) AS root FROM reach GROUP BY id)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    WHERE c.id IS NULL OR c.root = d.doc_id
    """,
)
def dedup_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-keep near-dup removal — the curation artifact users
    actually ship: MinHash-LSH pairs -> connected components -> keep the
    min-id representative per cluster (plus every untouched doc). The
    non-representative set is small relative to the corpus (it is the
    removed fraction), so the final LEFT ANTI join broadcasts under AQE;
    the corpus itself never shuffles in that step. Oracle replays the
    closure as a recursive CTE over SQL-exact Jaccard pairs."""
    from datawarehousefinal_spark.operators.dedup import minhash_near_dupes
    from datawarehousefinal_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dupes(
        docs, "doc_id", "text", 0.9, 16, 8, 2, _W, "xxhash64"
    ).select("id_a", "id_b")
    with connected_components(pairs) as comp:
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias("doc_id")
        )
        return local_result(docs.join(losers, "doc_id", "left_anti").select(
            "doc_id", "lang", "source"
        ))


@query(
    "incremental_line_dedup_batch",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN text || chr(10) || '{_BOILER}'
                  ELSE text END AS text,
             CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS batch
      FROM documents WHERE text IS NOT NULL
    ),
    s AS (SELECT doc_id, batch, string_split(text, chr(10)) AS arr FROM d),
    l AS (
      SELECT doc_id, batch, unnest(range(1, len(arr) + 1)) AS pos, arr
      FROM s
    ),
    l2 AS (SELECT doc_id, batch, pos, arr[pos] AS line FROM l),
    k AS (
      SELECT doc_id, batch, pos, line,
             row_number() OVER (
               PARTITION BY CASE WHEN length(line) >= 1 THEN 'h' || line
                            ELSE 'u:' || doc_id || ':' || pos END
               ORDER BY batch, doc_id, pos
             ) AS rn,
             length(line) >= 1 AS elig
      FROM l2
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_lines,
           count(*) FILTER (WHERE NOT elig OR rn = 1)::BIGINT AS n_kept,
           coalesce(
             string_agg(line, chr(10) ORDER BY pos)
               FILTER (WHERE NOT elig OR rn = 1),
             '') AS text_out
    FROM k WHERE batch = 1 GROUP BY doc_id
    """,
)
def incremental_line_dedup_batch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental C4 line dedup: even-keyed documents are the already-
    ingested corpus (line-hash store), odd-keyed documents the tonight
    batch — every fifth document carries the planted footer, so the
    batch drops every copy of a footer the store has seen and keeps the
    first occurrence of lines new tonight. Sequenced batches equal one
    global keep-first with batch-then-id ordering, which is exactly what
    the oracle replays (row_number over batch, doc_id, pos restricted to
    batch 1)."""
    from datawarehousefinal_spark.operators.incremental import (
        incremental_line_dedup,
        line_store,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit("\n" + _BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    old = planted.filter(F.col("doc_id") % 2 == 0)
    batch = planted.filter(F.col("doc_id") % 2 != 0)
    cleaned, _delta = incremental_line_dedup(
        batch, line_store(old, "text"), "doc_id", "text"
    )
    return cleaned


@query(
    "repeated_span_report",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         t -> t <> '') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    i AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks) - 7, 1) + 1)) AS pos
      FROM d WHERE len(toks) >= 1
    ),
    g AS (
      SELECT doc_id, pos, array_to_string(toks[pos:pos+7], ' ') AS gram
      FROM i
    ),
    c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram),
    p AS (
      SELECT doc_id, pos FROM g JOIN c USING (gram) WHERE cnt >= 2
    ),
    w1 AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       IS NULL
                  OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     > 8
                  THEN 1 ELSE 0 END AS brk
      FROM p
    ),
    w2 AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM w1
    )
    SELECT doc_id,
           CAST(island AS INTEGER) AS span_id,
           min(pos)::BIGINT AS start_tok,
           (max(pos) + 7)::BIGINT AS end_tok,
           (max(pos) + 8 - min(pos))::BIGINT AS n_tokens,
           count(*)::BIGINT AS n_shingles
    FROM w2 GROUP BY doc_id, island
    """,
)
def repeated_span_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup basis (Lee et al. 2022 re-expressed for
    Spark): maximal corpus-repeated 8-token spans per document via
    shingle-hash counts + a gaps-and-islands window — the planted
    near-dup pairs in the corpus surface as real shared spans, no
    synthetic plant needed. Oracle groups by the gram STRING (identical
    equality semantics to xxhash64 modulo 2^-64 collisions) and replays
    the same island arithmetic."""
    from datawarehousefinal_spark.operators.dedup import repeated_span_report

    docs = load_table(spark, sf_dir, "documents")
    return repeated_span_report(docs, "doc_id", "text", w=8)


def _dup_hist_oracle() -> str:

    return f"""
    WITH c AS (
      SELECT {_norm_sql("text")} AS k, count(*)::BIGINT AS cluster_size
      FROM documents GROUP BY 1
    )
    SELECT cluster_size, count(*)::BIGINT AS n_clusters,
           (count(*) * cluster_size)::BIGINT AS n_docs
    FROM c GROUP BY 1
    """


@query(
    "dup_cluster_size_histogram",
    oracle=_dup_hist_oracle(),
)
def dup_cluster_size_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup diagnostic a
    corpus report leads with: after normalizing text (the F1–F4
    composite), how many clusters exist at each multiplicity and how
    many documents they hold. Two map-side-combined aggregates
    (normalized-key count, then size histogram); the normalized key is
    hashed before the first shuffle so wide text never shuffles."""
    from datawarehousefinal_spark.functions import textnorm

    docs = load_table(spark, sf_dir, "documents")
    clusters = docs.groupBy(
        F.sha2(textnorm.normalize_text(F.col("text")), 256).alias("__k")
    ).agg(F.count(F.lit(1)).alias("cluster_size"))
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).alias("n_docs"),
    )


@query("prefix_filter_jaccard_pairs", oracle=_JACCARD_PAIRS_SQL)
def prefix_filter_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 5-gram Jaccard near-dup pairs (threshold 0.9) through the
    prefix-filtered AllPairs join (operators/dedup.py:
    prefix_filter_jaccard_pairs) — the lossless scale path between the
    brute-force checker (`ngram_jaccard_pairs`, bench-excluded) and the
    approximate MinHash banding (`minhash_lsh_pairs`): candidates come
    only from shared RAREST-shingle prefixes, then exact verification.
    Same output contract and the same brute-force SQL oracle as the
    checker — equality is the losslessness proof, run by the driver."""
    from datawarehousefinal_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.9, shingle_width=_W
    )
