"""Benchmark-decontamination operator tests: flagging and empty-document
hygiene."""

from __future__ import annotations

from datawarehousefinal_spark.operators.contamination import (
    benchmark_grams,
    contamination_report,
    word_ngrams,
)

BENCH_TEXT = "the quick brown fox jumps over the lazy dog tonight"


def _frames(spark):
    bench = spark.createDataFrame([(100, BENCH_TEXT)], ["doc_id", "text"])
    train = spark.createDataFrame(
        [
            # embeds a full 8-gram run of the benchmark sentence
            (1, "intro text " + BENCH_TEXT + " and more trailing words"),
            (2, "completely unrelated content about spark dataframes"),
            (3, None),
        ],
        ["doc_id", "text"],
    )
    return bench, train


def test_contamination_flags_only_overlapping_doc(spark):
    bench, train = _frames(spark)
    grams = benchmark_grams(bench, "text")
    rep = contamination_report(train, grams, "doc_id", "text").collect()
    assert [r["doc_id"] for r in rep] == [1]
    assert rep[0]["n_hits"] >= 1
    assert rep[0]["n_grams"] > rep[0]["n_hits"]


def test_short_document_whole_run_gram(spark):
    df = spark.createDataFrame([(1, "only three tokens")], ["i", "t"])
    grams = df.select(word_ngrams("t", 8).alias("g")).first()["g"]
    assert grams == ["only three tokens"]


def test_empty_and_whitespace_docs_have_no_grams(spark):
    """Token-less documents must NOT share a degenerate '' gram — one
    empty-ish row in the benchmark set would otherwise flag every empty
    training doc as contaminated."""
    df = spark.createDataFrame([(1, ""), (2, "   \t  "), (3, "real text")], ["i", "t"])
    rows = {r["i"]: r["g"] for r in
            df.select("i", word_ngrams("t", 8).alias("g")).collect()}
    assert rows[1] == [] and rows[2] == []
    assert rows[3] == ["real text"]
    bench = spark.createDataFrame([(100, "")], ["doc_id", "text"])
    train = spark.createDataFrame([(1, ""), (2, "clean words here")], ["doc_id", "text"])
    rep = contamination_report(
        train, benchmark_grams(bench, "text"), "doc_id", "text", min_hits=1
    ).collect()
    assert rep == []  # nothing flags against an empty-only benchmark


def test_min_hits_zero_reports_clean_docs(spark):
    """min_hits=0 includes zero-hit documents (left-join semantics) — the
    old inner-join formulation silently behaved like min_hits=1."""
    bench, train = _frames(spark)
    rep = contamination_report(
        train, benchmark_grams(bench, "text"), "doc_id", "text", min_hits=0
    ).collect()
    by_id = {r["doc_id"]: r for r in rep}
    assert set(by_id) == {1, 2}  # doc 3 (NULL text) still excluded
    assert by_id[2]["n_hits"] == 0 and by_id[2]["n_grams"] > 0
    assert by_id[1]["n_hits"] >= 1


def test_contamination_single_scan_of_train(spark):
    """The report must shingle the corpus exactly once: one scan of the
    train relation in the physical plan (round-3 finding: the totals
    branch re-tokenized the whole corpus)."""
    import tempfile

    from datawarehousefinal_spark.plans.audit import count_node, physical_plan

    with tempfile.TemporaryDirectory() as d:
        bench, train = _frames(spark)
        train.write.mode("overwrite").parquet(f"{d}/train")
        train_pq = spark.read.parquet(f"{d}/train")
        rep = contamination_report(
            train_pq, benchmark_grams(bench, "text"), "doc_id", "text"
        )
        plan = physical_plan(rep)
        assert plan.lower().count(f"{d}/train".lower()) <= 1, plan
        assert count_node(rep, "BroadcastHashJoin") >= 1
