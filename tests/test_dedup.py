"""Dedup operator tests: LSH completeness vs brute force, SimHash recall,
exact-dedup invariants, and non-quadratic plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_near_dupes,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dupes,
)
from datawarehousefinal_spark.sources.testdata import load_table

W = 14  # shingle width tuned for the synthetic corpus (see queries.py)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _pair_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_minhash_equals_brute_force(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    truth = _pair_set(ngram_jaccard_pairs(docs, "doc_id", "text", 0.9, W))
    lsh = _pair_set(
        minhash_near_dupes(docs, "doc_id", "text", 0.9, 16, 8, 2, W, "xxhash64")
    )
    assert truth, "fixture should contain planted near-dup pairs"
    assert lsh == truth


def test_minhash_md5_mode_equals_brute_force(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    truth = _pair_set(ngram_jaccard_pairs(docs, "doc_id", "text", 0.9, W))
    lsh = _pair_set(minhash_near_dupes(docs, "doc_id", "text", 0.9, 16, 8, 2, W, "md5"))
    assert lsh == truth


def test_simhash_identical_texts_collide(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "an entirely different document about spark plans")],
        ["id", "text"],
    )
    fps = {r["id"]: r["simhash"] for r in simhash(df, "id", "text", 5).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_simhash_recall_on_planted_pairs(spark, sf_dir):
    """Measured recall at the SHIPPED parameters (queries.py registers
    max_hamming=8, combo_size=2): every Jaccard-planted pair measures
    hamming <= 7 on this fixture, and block-combination candidate recall is
    guaranteed for hamming <= 8, so recall must be complete."""
    docs = _docs(spark, sf_dir)
    truth = _pair_set(ngram_jaccard_pairs(docs, "doc_id", "text", 0.9, W))
    found = _pair_set(
        simhash_near_dupes(docs, "doc_id", "text", 8, W, combo_size=2)
    )
    assert truth
    assert truth <= found


def test_simhash_guarantee_param_validation(spark):
    df = spark.createDataFrame([(1, "abc")], ["id", "text"])
    import pytest

    with pytest.raises(ValueError, match="recall guarantee"):
        simhash_near_dupes(df, "id", "text", max_hamming=3, num_blocks=4, combo_size=2)


def test_lsh_banding_param_validation(spark):
    import pytest

    df = spark.createDataFrame([(1, "abcdefgh")], ["id", "text"])
    sig = minhash_signature(df, "id", "text", num_hashes=8)
    with pytest.raises(ValueError, match="signature"):
        lsh_candidate_pairs(sig, "id", bands=8, rows_per_band=2)


def test_exact_dedup_invariants(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.lit(" "), F.upper("text")).alias("text"),
    )
    inp = docs.unionByName(dupes)
    out = exact_dedup(inp, "text", ["doc_id"])
    rows = out.collect()
    # every group's kept row is its minimum doc_id → no injected id survives
    assert all(r["doc_id"] < 10000 for r in rows)
    # group sizes partition the input
    assert sum(r["n_copies"] for r in rows) == inp.count()
    # idempotent
    again = exact_dedup(out.drop("n_copies"), "text", ["doc_id"])
    assert again.count() == out.count()


def test_lsh_plan_is_bucketed_not_quadratic(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sig = minhash_signature(docs, "doc_id", "text", 16, W)
    cand = lsh_candidate_pairs(sig, "doc_id", 8, 2)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_mega_duplicate_cluster_survives_skew_guard(spark):
    """A heavily-duplicated text (larger than max_bucket would have allowed
    under per-document banding) must still come out fully connected: the
    banding runs on distinct fingerprints, so the skew guard can't drop
    exact-duplicate clusters — the primary dedup target."""
    from datawarehousefinal_spark.operators.dedup import simhash_near_dupes

    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [(i, base) for i in range(40)]  # one 40-copy cluster
    rows += [(100 + i, f"unique document number {i} with its own words {i}")
             for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # exact_pair_cap=10 forces the star path; max_bucket=5 would have
    # silently dropped the cluster under per-document banding
    out = simhash_near_dupes(
        docs, "doc_id", "text", max_hamming=3, max_bucket=5, exact_pair_cap=10
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    # star pairs: rep 0 connected to every other member
    for i in range(1, 40):
        assert (0, i) in pairs, f"member {i} disconnected"
    assert all(r["hamming"] == 0 for r in out if r["id_a"] == 0 and r["id_b"] < 40)


def test_simhash_small_identical_groups_emit_all_pairs(spark):
    from datawarehousefinal_spark.operators.dedup import simhash_near_dupes

    rows = [(1, "identical content here"), (2, "identical content here"),
            (3, "identical content here"), (4, "completely different words entirely")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = simhash_near_dupes(docs, "doc_id", "text", max_hamming=2)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= pairs


def test_simhash_cross_cluster_expansion_capped_by_reps(spark):
    """Two near-identical mega-clusters produce rep-level cross pairs, not
    |A|x|B| member pairs — mirroring the hamming-0 cap."""
    from datawarehousefinal_spark.operators.dedup import simhash_near_dupes

    t1 = "shared boilerplate text repeated across the corpus " * 4
    t2 = t1[:-10] + "slightly!!"  # near-dup of t1, different fingerprint
    rows = [(i, t1) for i in range(15)] + [(100 + i, t2) for i in range(15)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = simhash_near_dupes(
        docs, "doc_id", "text", max_hamming=12, combo_size=2,
        exact_pair_cap=10,
    ).collect()
    cross = [(r["id_a"], r["id_b"]) for r in out if r["hamming"] > 0]
    # reps are min ids: 0 and 100 — at most rep-level cross pairs
    assert len(cross) <= 1, cross
    for a, b in cross:
        assert a == 0 and b == 100
    # every member still reachable via its rep (hamming-0 star pairs)
    star = {(r["id_a"], r["id_b"]) for r in out if r["hamming"] == 0}
    for i in range(1, 15):
        assert (0, i) in star
        assert (100, 100 + i) in star


def test_auto_combo_size_ladder():
    """Manku-style key sizing: bigger distinct-fingerprint populations get
    wider combo keys. Boundary values from the docstring ladder at
    max_hamming=8, max_bucket=1000."""
    from datawarehousefinal_spark.operators.dedup import _auto_combo_size

    assert _auto_combo_size(5_000, 8, 1000) == 2
    assert _auto_combo_size(400_000, 8, 1000) == 2
    assert _auto_combo_size(1_000_000, 8, 1000) == 3
    assert _auto_combo_size(50_000_000, 8, 1000) == 4
    assert _auto_combo_size(1_000_000_000, 8, 1000) == 5


def test_simhash_crowding_raises_loudly_then_auto_scales(spark):
    """The round-3 scale-recall cliff, reproduced at 50K DISTINCT
    fingerprints: 2-block keys at max_hamming=8 are ~13 bits (~7K buckets),
    so a tight max_bucket would have silently dropped most banding entries
    and degraded recall to the hamming-0 tier. The operator must instead
    (a) RAISE loudly when combo_size is forced too narrow, and (b) widen
    the keys itself under auto combo_size so planted near-pairs surface."""
    import random

    import pytest

    from datawarehousefinal_spark.operators.dedup import (
        simhash_near_dupes_from_fingerprints,
    )

    rng = random.Random(42)
    n = 50_000
    fps = [(i, rng.getrandbits(63)) for i in range(n)]
    planted = []
    for k in range(20):
        src_id, src_fp = fps[k * 1000]
        flipped = src_fp
        for b in rng.sample(range(63), 3):  # hamming exactly 3
            flipped ^= 1 << b
        fps.append((n + k, flipped))
        planted.append((src_id, n + k))
    fp_df = spark.createDataFrame(fps, ["doc_id", "simhash"]).persist()

    # (a) forced-narrow keys: ~7 distinct fps per bucket on average, so a
    # max_bucket of 5 drops the vast majority of entries -> loud error.
    with pytest.raises(RuntimeError, match="skew guard"):
        simhash_near_dupes_from_fingerprints(
            fp_df, "doc_id", max_hamming=8, max_bucket=5, combo_size=2
        ).collect()

    # (b) auto combo_size widens to 3-block keys (~17.5 bits) for this
    # population and the planted hamming-3 pairs all surface.
    out = simhash_near_dupes_from_fingerprints(
        fp_df, "doc_id", max_hamming=8, max_bucket=5
    )
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    for a, b in planted:
        assert (min(a, b), max(a, b)) in pairs, f"planted pair {(a, b)} lost"
    fp_df.unpersist()


def test_ngram_coverage_shapes_agree(spark, sf_dir):
    """window and join formulations must produce identical reports (the
    join shape exists for boilerplate-gram skew; semantics are one)."""
    from datawarehousefinal_spark.operators.dedup import ngram_coverage

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = sorted(map(tuple, ngram_coverage(docs, "doc_id", "text", via="window").collect()))
    b = sorted(map(tuple, ngram_coverage(docs, "doc_id", "text", via="join").collect()))
    assert a == b and len(a) > 0
    # planted near-dups must surface with high coverage
    top = max(r[3] for r in a)
    assert top >= 0.9


def test_ngram_coverage_auto_shape_switch(spark, sf_dir):
    """via='auto' probes max gram doc-frequency and flips to the join
    shape (AQE-splittable) when a gram is hot enough to serialize one
    window task — and the chosen shape shows in the physical plan."""
    from datawarehousefinal_spark.operators.dedup import ngram_coverage

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # Uniform corpus, generous threshold: auto keeps the window shape.
    win = ngram_coverage(
        docs, "doc_id", "text", via="auto",
        hot_gram_df=10**9, probe_fraction=1.0,
    )
    assert "Window" in plan(win)
    # Same corpus, threshold of 1: every shared gram counts as hot —
    # auto must pick the join shape (no Window operator in the plan).
    join = ngram_coverage(
        docs, "doc_id", "text", via="auto",
        hot_gram_df=1, probe_fraction=1.0,
    )
    assert "Window" not in plan(join)
    # and the two auto outcomes agree value-for-value
    assert sorted(map(tuple, win.collect())) == sorted(map(tuple, join.collect()))


# ---------------------------------------------------------------------------
# Line-level dedup (C4 / boilerplate removal)
# ---------------------------------------------------------------------------

_LINED = [
    (1, "unique alpha\nSUBSCRIBE NOW\nunique beta"),
    (2, "SUBSCRIBE NOW\nunique gamma"),
    (3, "unique delta\nSUBSCRIBE NOW"),
    (4, "\nunique epsilon\n"),
    (5, "\nunique zeta"),
]


def _line_rows(spark, keep, **kw):
    from datawarehousefinal_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(_LINED, ["id", "text"])
    out = line_dedup(df, "id", "text", keep=keep, **kw)
    return {r["id"]: r for r in out.collect()}


def test_line_dedup_keep_first(spark):
    rows = _line_rows(spark, "first")
    # Only the (1, pos=1) copy of the repeated line survives.
    assert rows[1]["text_out"] == "unique alpha\nSUBSCRIBE NOW\nunique beta"
    assert rows[2]["text_out"] == "unique gamma"
    assert rows[3]["text_out"] == "unique delta"
    assert (rows[2]["n_lines"], rows[2]["n_kept"]) == (2, 1)


def test_line_dedup_keep_none_drops_all_copies(spark):
    rows = _line_rows(spark, "none")
    assert rows[1]["text_out"] == "unique alpha\nunique beta"
    assert rows[2]["text_out"] == "unique gamma"
    assert rows[3]["text_out"] == "unique delta"


def test_line_dedup_short_lines_always_kept(spark):
    # Empty lines repeat across docs 4 and 5 but are below min_line_chars
    # — structure, not duplication; both documents keep them verbatim.
    rows = _line_rows(spark, "none")
    assert rows[4]["text_out"] == "\nunique epsilon\n"
    assert rows[5]["text_out"] == "\nunique zeta"
    assert rows[4]["n_lines"] == 3 and rows[4]["n_kept"] == 3


def test_line_dedup_doc_fully_dropped_yields_empty_text(spark):
    from datawarehousefinal_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, "same line"), (2, "same line")], ["id", "text"]
    )
    rows = {r["id"]: r for r in line_dedup(df, "id", "text", keep="none").collect()}
    assert rows[1]["text_out"] == "" and rows[2]["text_out"] == ""
    assert rows[1]["n_kept"] == 0


def test_line_dedup_plan_has_no_python_udf(spark):
    from datawarehousefinal_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(_LINED, ["id", "text"])
    plan = line_dedup(df, "id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# Repeated-span report
# ---------------------------------------------------------------------------


def test_repeated_span_merges_overlapping_shingles(spark):
    from datawarehousefinal_spark.operators.dedup import repeated_span_report

    shared = "one two three four five six"  # 6 tokens, shared verbatim
    df = spark.createDataFrame(
        [
            (1, f"{shared} unique tail here for doc one"),
            (2, f"prefix words then {shared} and more after"),
        ],
        ["id", "text"],
    )
    out = repeated_span_report(df, "id", "text", w=3)
    rows = {r["id"]: r for r in out.collect()}
    # doc 1: shingles at pos 1..4 are shared (the 6-token run) -> one span
    assert rows[1]["span_id"] == 1
    assert (rows[1]["start_tok"], rows[1]["end_tok"]) == (1, 6)
    assert rows[1]["n_tokens"] == 6 and rows[1]["n_shingles"] == 4
    # doc 2: the same run sits at pos 4..9
    assert (rows[2]["start_tok"], rows[2]["end_tok"]) == (4, 9)


def test_repeated_span_splits_distant_islands(spark):
    from datawarehousefinal_spark.operators.dedup import repeated_span_report

    a = "alpha beta gamma"
    b = "delta epsilon zeta"
    filler = " ".join(f"f{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, f"{a} {filler} {b}"),
            (2, f"{b} other words {a}"),
        ],
        ["id", "text"],
    )
    out = repeated_span_report(df, "id", "text", w=3)
    spans = [r for r in out.collect() if r["id"] == 1]
    assert len(spans) == 2, "far-apart repeats must be separate spans"
    assert {(s["n_tokens"]) for s in spans} == {3}


def test_repeated_span_same_doc_repetition_counts(spark):
    from datawarehousefinal_spark.operators.dedup import repeated_span_report

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam unique1 unique2 unique3")], ["id", "text"]
    )
    out = repeated_span_report(df, "id", "text", w=2).collect()
    # "spam spam" occurs 4 times within the doc -> duplicated
    assert len(out) == 1 and out[0]["start_tok"] == 1


def test_repeated_span_clean_corpus_empty(spark):
    from datawarehousefinal_spark.operators.dedup import repeated_span_report

    df = spark.createDataFrame(
        [(1, "totally unique words here"), (2, "other distinct content now")],
        ["id", "text"],
    )
    assert repeated_span_report(df, "id", "text", w=3).count() == 0


def test_prefix_filter_matches_brute_force(spark):
    """AllPairs prefix filtering is lossless: identical pair set and
    jaccard values to the brute-force path on a planted near-dup mix."""
    from datawarehousefinal_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    base = [
        (i, f"the quick brown fox jumps over the lazy dog number {i} "
            f"with some extra unique filler text {i * 7919}")
        for i in range(30)
    ]
    # near-dup copies of docs 0-4 (small suffix change)
    dups = [
        (100 + i, base[i][1] + " tail") for i in range(5)
    ]
    df = spark.createDataFrame(base + dups, ["doc_id", "text"])
    brute = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.5, shingle_width=5
        ).collect()
    }
    fast = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(
            df, "doc_id", "text", threshold=0.5, shingle_width=5
        ).collect()
    }
    assert set(fast) == set(brute)
    assert len(fast) >= 5  # the planted dups must be found
    for k in brute:
        assert fast[k] == brute[k], k


def test_simhash_near_dupes_sf01_misses_only_beyond_max_hamming(
    spark, bench_sf_dir
):
    """The registered face checks SimHash candidates against exact Jaccard,
    so it returns the J >= 0.9 pairs within its max_hamming=8. At sf0.1 its
    exact-Jaccard oracle has 254 pairs and the face 251: the face's pairs
    are all true pairs, and each pair it misses has fingerprints more than
    8 bits apart, out of reach by construction rather than lost."""
    import __spark_entry__ as entrymod
    from datawarehousefinal_spark.queries import _W
    from tests.oracle_harness import duckdb_connect

    face = _pair_set(entrymod.queries()["simhash_near_dupes"](spark, bench_sf_dir))
    oracle_sql = entrymod.oracle_sql()["simhash_near_dupes"]
    oracle = {
        (a, b)
        for a, b, _ in duckdb_connect(bench_sf_dir).execute(oracle_sql).fetchall()
    }
    assert face <= oracle
    missed = oracle - face
    ids = {i for pair in missed for i in pair}
    docs = _docs(spark, bench_sf_dir).filter(F.col("doc_id").isin(list(ids)))
    fps = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text", _W).collect()}
    far = {
        (a, b): bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1") for a, b in missed
    }
    assert all(h > 8 for h in far.values()), far
