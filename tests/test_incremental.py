"""Incremental (store-based) dedup tests: exact semantics against a
hand-computable fixture, the survivors-are-pairwise-unique contract,
idempotency against the grown store, and non-quadratic plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.incremental import (
    exact_store,
    incremental_exact_dedup,
    incremental_minhash_dedup,
    minhash_store,
)
from datawarehousefinal_spark.sources.testdata import load_table

W = 14  # shingle width tuned for the synthetic corpus (see queries.py)
K = 16  # signature slots used throughout the tests


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Exact path
# ---------------------------------------------------------------------------

def test_incremental_exact_semantics(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], ["doc_id", "text"]
    )
    store = exact_store(corpus, "text")
    batch = spark.createDataFrame(
        [
            (10, "  ALPHA "),   # normalized dup of store doc 1 -> dropped
            (11, "gamma"),      # new -> survives
            (12, "Gamma"),      # within-batch dup of 11 -> dropped
            (13, "delta"),      # new -> survives
        ],
        ["doc_id", "text"],
    )
    survivors, delta = incremental_exact_dedup(batch, store, "text", ["doc_id"])
    assert {r["doc_id"] for r in survivors.collect()} == {11, 13}
    assert delta.count() == 2

    # idempotency: the same batch against the grown store yields nothing
    grown = store.unionByName(delta)
    again, delta2 = incremental_exact_dedup(batch, grown, "text", ["doc_id"])
    assert again.count() == 0
    assert delta2.count() == 0


def test_incremental_exact_null_text_groups_once(spark):
    store = exact_store(
        spark.createDataFrame([(1, "alpha")], ["doc_id", "text"]), "text"
    )
    batch = spark.createDataFrame(
        [(10, None), (11, None), (12, "beta")], ["doc_id", "text"]
    )
    survivors, delta = incremental_exact_dedup(batch, store, "text", ["doc_id"])
    # NULL texts form one group (matching exact_dedup / SQL PARTITION BY):
    # first NULL row survives, second collapses.
    assert {r["doc_id"] for r in survivors.collect()} == {10, 12}
    grown = store.unionByName(delta)
    again, _ = incremental_exact_dedup(batch, grown, "text", ["doc_id"])
    assert again.count() == 0


# ---------------------------------------------------------------------------
# Near-dup path
# ---------------------------------------------------------------------------

def _split_halves(docs):
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    mid = ids[len(ids) // 2]
    return docs.filter(F.col("doc_id") < mid), docs.filter(F.col("doc_id") >= mid)


def test_incremental_minhash_contract(spark, sf_dir):
    """Survivors ∪ store must contain no near-dup pair the detector can
    see, and every dropped doc must have a real near neighbor."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus, batch = _split_halves(docs)
    # Bootstrap: dedup the corpus itself against an EMPTY store (the store
    # contract requires an already-deduplicated corpus; batch 0 creates it).
    empty = minhash_store(corpus, "doc_id", "text", K, W).limit(0)
    with incremental_minhash_dedup(
        corpus, empty, "doc_id", "text",
        threshold=0.9, num_hashes=K, shingle_width=W,
    ) as (_, store), incremental_minhash_dedup(
        batch, store, "doc_id", "text",
        threshold=0.9, num_hashes=K, shingle_width=W,
    ) as (survivors, delta):
        surv_ids = {r["doc_id"] for r in survivors.select("doc_id").collect()}
        delta_ids = {r["doc_id"] for r in delta.select("doc_id").collect()}
        # the grown store: store ∪ delta signatures
        sigs = store.unionByName(delta).toPandas().set_index("doc_id")
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    dropped = batch_ids - surv_ids
    assert dropped, "fixture's planted near-dup clusters should span the split"
    assert delta_ids == surv_ids

    # Brute-force estimated Jaccard over ALL signature pairs of the grown
    # store: no surviving pair may reach the threshold.
    cols = [f"h{j}" for j in range(K)]
    ids = list(sigs.index)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            est = sum(sigs.loc[a, c] == sigs.loc[b, c] for c in cols) / K
            assert est < 0.9, f"grown store contains near-dup pair {a},{b}"

    # every dropped doc has a near neighbor among the grown store or the
    # smaller-id batch docs (the greedy-drop justification)
    bsig = minhash_store(batch, "doc_id", "text", K, W).toPandas().set_index("doc_id")
    for d in dropped:
        pool = [i for i in sigs.index] + [i for i in bsig.index if i < d]
        best = max(
            sum(bsig.loc[d, c] == (sigs if p in sigs.index else bsig).loc[p, c]
                for c in cols) / K
            for p in pool if p != d
        )
        assert best >= 0.9, f"doc {d} was dropped without a near neighbor"


def test_incremental_minhash_idempotent(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus, batch = _split_halves(docs)
    store = minhash_store(corpus, "doc_id", "text", K, W)
    # Re-ingesting duplicate COPIES of the already-ingested batch (new ids,
    # same text) must drop every one of them against the grown store.
    copies = batch.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with incremental_minhash_dedup(
        batch, store, "doc_id", "text",
        threshold=0.9, num_hashes=K, shingle_width=W,
    ) as (_, delta), incremental_minhash_dedup(
        copies, store.unionByName(delta), "doc_id", "text",
        threshold=0.9, num_hashes=K, shingle_width=W,
    ) as (again, delta2):
        assert again.count() == 0
        assert delta2.count() == 0


def test_incremental_minhash_plan_not_quadratic(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus, batch = _split_halves(docs)
    store = minhash_store(corpus, "doc_id", "text", K, W)
    from datawarehousefinal_spark.plans.audit import assert_no_cartesian

    with incremental_minhash_dedup(
        batch, store, "doc_id", "text",
        threshold=0.9, num_hashes=K, shingle_width=W,
    ) as (survivors, _):
        assert_no_cartesian(survivors)


# ---------------------------------------------------------------------------
# SimHash store
# ---------------------------------------------------------------------------

def test_incremental_simhash_contract(spark, sf_dir):
    """Same contract as the minhash store, hamming metric: survivors ∪
    store contain no pair within max_hamming, every dropped batch doc has
    a real near fingerprint among the store or smaller-id batch docs."""
    from datawarehousefinal_spark.operators.incremental import (
        incremental_simhash_dedup,
        simhash_store,
    )

    H = 8  # matches the registered simhash query's threshold
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus, batch = _split_halves(docs)
    from datawarehousefinal_spark.operators.incremental import empty_simhash_store

    with incremental_simhash_dedup(
        corpus, empty_simhash_store(corpus, "doc_id"), "doc_id", "text",
        max_hamming=H, shingle_width=W,
    ) as (_, store), incremental_simhash_dedup(
        batch, store, "doc_id", "text", max_hamming=H, shingle_width=W,
    ) as (survivors, delta):
        surv_ids = {r["doc_id"] for r in survivors.select("doc_id").collect()}
        delta_ids = {r["doc_id"] for r in delta.select("doc_id").collect()}
        grown = {
            r["doc_id"]: r["simhash"] for r in store.unionByName(delta).collect()
        }
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    dropped = batch_ids - surv_ids
    assert dropped, "planted near-dup clusters should span the split"
    assert delta_ids == surv_ids

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    ids = sorted(grown)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            assert ham(grown[a], grown[b]) > H, f"near pair {a},{b} survived"

    bfp = {
        r["doc_id"]: r["simhash"]
        for r in simhash_store(batch, "doc_id", "text", W).collect()
    }
    for d in dropped:
        pool = {**grown, **{i: f for i, f in bfp.items() if i < d}}
        best = min(ham(bfp[d], f) for i, f in pool.items() if i != d)
        assert best <= H, f"doc {d} dropped without a near fingerprint"


def test_incremental_simhash_idempotent_and_not_quadratic(spark, sf_dir):
    from datawarehousefinal_spark.operators.incremental import (
        incremental_simhash_dedup,
        simhash_store,
    )
    from datawarehousefinal_spark.plans.audit import assert_no_cartesian

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus, batch = _split_halves(docs)
    store = simhash_store(corpus, "doc_id", "text", W)
    copies = batch.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with incremental_simhash_dedup(
        batch, store, "doc_id", "text", max_hamming=8, shingle_width=W,
    ) as (survivors, delta), incremental_simhash_dedup(
        copies, store.unionByName(delta), "doc_id", "text",
        max_hamming=8, shingle_width=W,
    ) as (again, delta2):
        assert_no_cartesian(survivors)
        assert again.count() == 0
        assert delta2.count() == 0


# ---------------------------------------------------------------------------
# Incremental line dedup
# ---------------------------------------------------------------------------


def test_incremental_line_dedup_equals_global_keep_first(spark):
    from datawarehousefinal_spark.operators.dedup import line_dedup
    from datawarehousefinal_spark.operators.incremental import (
        incremental_line_dedup,
        line_store,
    )

    b0 = spark.createDataFrame(
        [(1, "alpha\nFOOTER\nbeta"), (2, "FOOTER\ngamma")], ["id", "text"]
    )
    b1 = spark.createDataFrame(
        [(3, "delta\nFOOTER"), (4, "delta\nepsilon"), (5, "NEWLINE\nNEWLINE")],
        ["id", "text"],
    )
    store = line_store(b0, "text")
    cleaned, delta = incremental_line_dedup(b1, store, "id", "text")
    got = {r["id"]: r["text_out"] for r in cleaned.collect()}
    # global keep-first over b0 then b1 (ids ordered across batches)
    glob = line_dedup(
        b0.unionByName(b1), "id", "text", keep="first"
    )
    want = {r["id"]: r["text_out"] for r in glob.collect() if r["id"] >= 3}
    assert got == want
    # delta holds exactly the hashes of lines newly kept in b1
    new_lines = {"delta", "NEWLINE", "epsilon"}
    assert delta.count() == len(new_lines)


def test_incremental_line_dedup_bootstrap_empty_store(spark):
    from datawarehousefinal_spark.operators.dedup import line_dedup
    from datawarehousefinal_spark.operators.incremental import (
        incremental_line_dedup,
        line_store,
    )

    b = spark.createDataFrame(
        [(1, "x\ny"), (2, "y\nz")], ["id", "text"]
    )
    empty = line_store(b.limit(0), "text")
    cleaned, delta = incremental_line_dedup(b, empty, "id", "text")
    want = {
        r["id"]: r["text_out"]
        for r in line_dedup(b, "id", "text", keep="first").collect()
    }
    got = {r["id"]: r["text_out"] for r in cleaned.collect()}
    assert got == want
    assert delta.count() == 3  # x, y, z


def test_incremental_line_dedup_store_append_chains(spark):
    from datawarehousefinal_spark.operators.incremental import (
        incremental_line_dedup,
        line_store,
    )

    b0 = spark.createDataFrame([(1, "a\nb")], ["id", "text"])
    b1 = spark.createDataFrame([(2, "b\nc")], ["id", "text"])
    b2 = spark.createDataFrame([(3, "c\na\nd")], ["id", "text"])
    store = line_store(b0, "text")
    c1, d1 = incremental_line_dedup(b1, store, "id", "text")
    store = store.unionByName(d1)
    c2, d2 = incremental_line_dedup(b2, store, "id", "text")
    assert c1.collect()[0]["text_out"] == "c"
    assert c2.collect()[0]["text_out"] == "d"
