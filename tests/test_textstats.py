"""Semantic unit tests for the text-analysis operators (the oracle tests
in test_queries_oracle.py cover cross-engine reproducibility; these cover
the intended behavior on handcrafted inputs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.textstats import (
    doc_fingerprint,
    doc_stats,
    language_id,
    quality_score,
    top_terms,
)
from datawarehousefinal_spark.sources.testdata import load_table


def test_doc_stats_handcrafted(spark):
    df = spark.createDataFrame(
        [(1, "Hello world. How are you? Fine!"), (2, "one")], ["id", "text"]
    )
    rows = {r["id"]: r for r in doc_stats(df, "id", "text").collect()}
    assert rows[1]["n_tokens"] == 6
    assert rows[1]["n_sentences"] == 3
    assert rows[2]["n_tokens"] == 1
    assert rows[2]["n_chars"] == 3
    assert rows[2]["avg_token_len"] == 3.0


def test_language_id_clear_cases(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is happy with food"),
            (2, "el gato esta en la casa y no quiere salir por la noche"),
            (3, "der Hund ist mit den Kindern auf der Wiese und das Wetter"),
            (4, "xyzzy plugh qwerty"),
        ],
        ["id", "text"],
    )
    out = {r["id"]: r["lang"] for r in df.select(
        "id", language_id("text").alias("lang")).collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "de"
    assert out[4] == "und"


def test_quality_score_ordering(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and it is fine " * 10),
            (2, "@@@@ #### $$$$ %%%%"),
        ],
        ["id", "text"],
    )
    out = {r["id"]: r["q"] for r in df.select(
        "id", quality_score("text").alias("q")).collect()}
    assert 0.0 <= out[2] < out[1] <= 1.0


def test_doc_fingerprint_stability_and_discrimination(spark):
    df = spark.createDataFrame(
        [(1, "a long enough document about spark plans"),
         (2, "a long enough document about spark plans"),
         (3, "something else entirely different here")],
        ["id", "text"],
    )
    fps = {r["id"]: r["fp"] for r in df.select(
        "id", doc_fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_top_terms_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "b a"), (2, "a b c")], ["id", "text"]
    )
    rows = top_terms(df, "text", 2).collect()
    assert [(r["term"], r["n"]) for r in rows] == [("a", 2), ("b", 2)]


def test_source_mix_shares_and_totals(spark):
    from datawarehousefinal_spark.operators.textstats import source_mix

    df = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "d e", "s1"), (3, "f", "s2")],
        ["id", "text", "source"],
    )
    rows = {r["source"]: r for r in source_mix(df, "source", "text").collect()}
    assert rows["s1"]["n_docs"] == 2 and rows["s1"]["total_tokens"] == 5
    assert rows["s2"]["n_docs"] == 1 and rows["s2"]["total_tokens"] == 1
    assert abs(rows["s1"]["token_share"] - 5 / 6) < 1e-12
    assert abs(sum(r["token_share"] for r in rows.values()) - 1.0) < 1e-12


def test_repetition_stats_flags_boilerplate(spark):
    from datawarehousefinal_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam spam ham"),
            (2, "every token in this perfectly varied sentence differs"),
            (3, None),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert set(rows) == {1, 2}  # null text excluded
    assert rows[1]["n_tokens"] == 10 and rows[1]["n_distinct"] == 2
    assert rows[1]["top_token_frac"] == 0.9
    assert rows[2]["distinct_ratio"] == 1.0
    assert rows[2]["top_token_frac"] == rows[2]["n_tokens"] ** -1


def test_chunk_documents_overlap_semantics(spark):
    import pytest
    from datawarehousefinal_spark.operators.textstats import chunk_documents

    rows = [
        (1, "abcdefghij"),   # len 10: chunks of 6, stride 4 -> starts 1,5
        (2, "abc"),          # shorter than a chunk: single chunk
        (3, None),           # NULL text: one NULL chunk, doc not dropped
        (4, ""),             # empty text: one empty chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_id"], r["chunk_id"]): r["chunk_text"]
        for r in chunk_documents(df, "doc_id", "text", 6, 2).collect()
    }
    assert out[(1, 1)] == "abcdef"
    assert out[(1, 2)] == "efghij"          # 2-char overlap carried
    assert out[(2, 1)] == "abc"
    assert out[(3, 1)] is None
    assert out[(4, 1)] == ""
    assert len(out) == 5
    # every character of doc 1 is covered by some chunk (no start past
    # len-overlap: a further chunk would add only already-covered chars)
    assert out[(1, 1)][: 6 - 2] + out[(1, 2)] == "abcdefghij"
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", 5, 5)


def test_chunk_documents_is_shuffle_free(spark, sf_dir):
    from datawarehousefinal_spark.operators.textstats import chunk_documents
    from datawarehousefinal_spark.plans.audit import assert_max_shuffles

    docs = load_table(spark, sf_dir, "documents")
    assert_max_shuffles(chunk_documents(docs, "doc_id", "text"), 0)


def test_bm25_index_path_matches_adhoc(spark, sf_dir):
    """The build-once/query-many index path must rank identically to the
    self-contained two-pass operator."""
    from datawarehousefinal_spark.operators.textstats import (
        bm25_build_index,
        bm25_topk,
        bm25_topk_from_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    terms = ["hash", "join", "broadcast"]
    adhoc = [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk(docs, "doc_id", "text", terms, k=10).collect()
    ]
    postings, doclens = bm25_build_index(docs, "doc_id", "text")
    indexed = [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_from_index(
            postings, doclens, "doc_id", terms, k=10
        ).collect()
    ]
    assert adhoc == indexed
    assert len(adhoc) == 10
    scores = [s for _, s in adhoc]
    assert scores == sorted(scores, reverse=True)


def test_bm25_index_append_equals_rebuild(spark, sf_dir):
    """Appending a batch to the index (tokenizing only the batch) must
    reproduce the from-scratch rebuild exactly — every BM25 statistic is
    a mergeable state over disjoint doc sets. dedup_ids=True makes
    at-least-once ingest idempotent."""
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.textstats import (
        bm25_build_index,
        bm25_index_append,
        bm25_topk_from_index,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    p, d = bm25_build_index(base, "doc_id", "text")
    p2, d2 = bm25_index_append(p, d, batch, "doc_id", "text")
    fp, fd = bm25_build_index(docs, "doc_id", "text")
    assert sorted(map(tuple, p2.collect())) == sorted(map(tuple, fp.collect()))
    assert sorted(map(tuple, d2.collect())) == sorted(map(tuple, fd.collect()))
    terms = ["hash", "join", "broadcast"]
    merged = [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_from_index(p2, d2, "doc_id", terms, k=10).collect()
    ]
    rebuilt = [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_from_index(fp, fd, "doc_id", terms, k=10).collect()
    ]
    assert merged == rebuilt and len(merged) == 10
    # replaying the SAME batch with dedup_ids=True changes nothing
    p3, d3 = bm25_index_append(p2, d2, batch, "doc_id", "text", dedup_ids=True)
    assert d3.count() == d2.count()
    assert p3.count() == p2.count()


# ---------------------------------------------------------------------------
# Gopher repetition signals
# ---------------------------------------------------------------------------


def test_dup_ngram_stats_known_values(spark):
    from datawarehousefinal_spark.operators.textstats import dup_ngram_stats

    # "ab cd ab cd ab" → 2-grams: "ab cd"(x2), "cd ab"(x2) → dup chars =
    # (2-1)*5 + (2-1)*5 = 10; top = 2*5 = 10; chars = 14.
    df = spark.createDataFrame([(1, "ab cd ab cd ab"), (2, "x y z")], ["id", "t"])
    rows = {r["id"]: r for r in dup_ngram_stats(df, "id", "t", ns=(2,)).collect()}
    assert rows[1]["n_chars"] == 14
    assert abs(rows[1]["frac_dup_2gram_chars"] - 10 / 14) < 1e-12
    assert abs(rows[1]["frac_top_2gram_chars"] - 10 / 14) < 1e-12
    # no repeated 2-gram in doc 2
    assert rows[2]["frac_dup_2gram_chars"] == 0.0
    assert abs(rows[2]["frac_top_2gram_chars"] - 3 / 5) < 1e-12


def test_dup_ngram_stats_short_doc_whole_run_gram(spark):
    from datawarehousefinal_spark.operators.textstats import dup_ngram_stats

    # Fewer tokens than n → the whole token run is the single gram.
    df = spark.createDataFrame([(1, "ab cd")], ["id", "t"])
    row = dup_ngram_stats(df, "id", "t", ns=(5,)).collect()[0]
    assert row["frac_dup_5gram_chars"] == 0.0
    assert abs(row["frac_top_5gram_chars"] - 5 / 5) < 1e-12


def test_dup_ngram_stats_empty_doc_zero_fracs(spark):
    from datawarehousefinal_spark.operators.textstats import dup_ngram_stats

    df = spark.createDataFrame([(1, "   "), (2, "")], ["id", "t"])
    rows = {r["id"]: r for r in dup_ngram_stats(df, "id", "t", ns=(2,)).collect()}
    assert rows[1]["frac_dup_2gram_chars"] == 0.0
    assert rows[2]["frac_top_2gram_chars"] == 0.0
    assert len(rows) == 2, "token-less documents must not vanish"


def test_encoding_quality_report_flags_bad_docs(spark):
    from datawarehousefinal_spark.operators.textstats import (
        encoding_quality_report,
    )

    rows = [
        ("a", "clean ascii text"),
        ("a", "lossy � decode"),
        ("a", "mojibake donâ€™t"),
        ("b", "ctl\x01\x02chars!"),
        ("b", ""),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {r["source"]: r for r in
           encoding_quality_report(df, "source", "text").collect()}
    assert out["a"]["n_docs"] == 3
    assert out["a"]["n_replacement_docs"] == 1
    assert out["a"]["n_mojibake_docs"] == 1
    assert out["b"]["n_replacement_docs"] == 0
    # "ctl\x01\x02chars!" = 11 chars, 2 control
    assert abs(out["b"]["avg_control_ratio"] - (2 / 11) / 2) < 1e-9
    assert abs(out["b"]["avg_ascii_ratio"] - (9 / 11 + 0.0) / 2) < 1e-9
    assert out["a"]["avg_control_ratio"] == 0.0


def test_sentence_stats_segmentation_and_edges(spark):
    from datawarehousefinal_spark.operators.textstats import sentence_stats

    df = spark.createDataFrame(
        [
            (1, "One two. Three!  Four?"),
            (2, "no terminator at all"),
            (3, "..."),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in sentence_stats(df, "doc_id", "text").collect()}
    assert out[1]["n_sentences"] == 3
    assert out[1]["max_sentence_chars"] == 7  # "One two"
    assert abs(out[1]["avg_sentence_chars"] - (7 + 5 + 4) / 3) < 1e-12
    assert out[2]["n_sentences"] == 1
    assert out[3]["n_sentences"] == 0 and out[3]["avg_sentence_chars"] is None
    assert out[4]["n_sentences"] == 0


def test_sentence_stats_null_text_is_null_not_negative(spark):
    from datawarehousefinal_spark.operators.textstats import sentence_stats

    df = spark.createDataFrame([(1, None), (2, "Hi.")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in sentence_stats(df, "doc_id", "text").collect()}
    assert out[1]["n_sentences"] is None
    assert out[2]["n_sentences"] == 1


def test_bigram_lm_separates_in_domain_from_junk(spark):
    from datawarehousefinal_spark.operators.textstats import (
        bigram_lm_fit,
        bigram_lm_perplexity,
    )

    # train: repetitive in-domain patterns; score: one in-domain doc,
    # one out-of-domain doc with entirely unseen vocabulary
    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(20)]
        + [(100 + i, "the dog sat on the rug") for i in range(20)],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [(1, "the cat sat on the rug"), (2, "zx qv wq pk jj jj")],
        "doc_id long, text string",
    )
    model = bigram_lm_fit(train, "text")
    out = {
        r["doc_id"]: r
        for r in bigram_lm_perplexity(model, score, "doc_id", "text").collect()
    }
    assert out[1]["n_bigrams"] == 5 and out[2]["n_bigrams"] == 5
    assert out[1]["ppl"] < out[2]["ppl"]
    # ppl is exp(avg_nll) by construction
    import math
    assert abs(out[1]["ppl"] - math.exp(out[1]["avg_nll"])) < 1e-9


def test_bigram_lm_short_docs_unscored(spark):
    from datawarehousefinal_spark.operators.textstats import (
        bigram_lm_fit,
        bigram_lm_perplexity,
    )

    train = spark.createDataFrame(
        [(1, "a b c d")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(1, "a b"), (2, "one"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    model = bigram_lm_fit(train, "text")
    out = bigram_lm_perplexity(model, score, "doc_id", "text").collect()
    # only the 2-token doc carries bigram evidence
    assert {r["doc_id"] for r in out} == {1}


def test_ppl_bucket_mix_covers_all_docs_in_even_terciles(spark):
    from datawarehousefinal_spark import queries as Q

    out = {r["bucket"]: r for r in
           Q.QUERIES["ppl_bucket_mix"](spark, "/root/testdata/sf0.001").collect()}
    assert set(out) == {"head", "middle", "tail"}
    sizes = [out[b]["n_docs"] for b in ("head", "middle", "tail")]
    total = sum(sizes)
    # exact terciles: no bucket deviates by more than the tie slack
    assert max(sizes) - min(sizes) <= max(2, total // 10)
    # head is the low-perplexity (cleanest) end
    assert out["head"]["max_ppl"] <= out["tail"]["min_ppl"] + 1e-9


def test_bpe_learn_pins_fixture_merge_sequence(spark):
    from datawarehousefinal_spark.operators.textstats import bpe_learn

    # "ab" appears 5x as a word pair source: pairs (a,b) dominate; then
    # after merging, (ab, c) dominates the remainder.
    df = spark.createDataFrame(
        [(1, "abc abc abc"), (2, "abc abc xy")], "id long, text string"
    )
    merges = bpe_learn(df, "text", num_merges=3)
    # (a,b): 5, (b,c): 5 -> tie broken by pair ascending: (a,b) first;
    # then (ab,c): 5 wins over (x,y): 1... which is below min_freq=2
    assert merges == [("a", "b"), ("ab", "c")]


def test_bpe_apply_consecutive_pairs_and_word_isolation(spark):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.textstats import (
        bpe_subword_stats,
    )

    df = spark.createDataFrame(
        # "aaa" with merge (a,a): left-to-right -> [aa, a] (2 subwords);
        # "a ab" must NOT merge across the word boundary with (a,a)
        [(1, "aaa"), (2, "a a"), (3, "ab ba")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           bpe_subword_stats(df, "doc_id", "text", [("a", "a")]).collect()}
    assert out[1]["n_subwords"] == 2          # [aa, a]
    assert out[2]["n_subwords"] == 2          # words stay isolated
    assert out[3]["n_subwords"] == 4          # merge never fires
    assert abs(out[1]["fertility"] - 2.0) < 1e-12


def test_bpe_frozen_model_matches_retrained(spark, sf_dir):
    from datawarehousefinal_spark.operators.textstats import bpe_learn
    from datawarehousefinal_spark.queries import _BPE_MERGES

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    assert bpe_learn(docs, "text", num_merges=16) == _BPE_MERGES
