"""Benchmark decontamination — word-n-gram overlap between a training
corpus and an evaluation/benchmark set.

The standard LLM-training hygiene pass: any training document sharing
enough contiguous word n-grams with a benchmark document is flagged (and
usually dropped) so evaluation stays uncontaminated. Beyond-reference
scale machinery in the family of :mod:`operators.dedup` (the reference
has nothing comparable).

Scale design: the benchmark side is SMALL (benchmarks are megabytes;
corpora are terabytes), so the gram set is built once, deduplicated, and
broadcast — the corpus side is a map-only shingling pass plus one
broadcast semi-join and a per-document groupBy. The corpus is never
shuffled on anything wider than (doc id, gram text); keying on the gram
text makes the report exactly replayable in any SQL engine (the oracle
path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.dedup import _fan_out
from datawarehousefinal_spark.operators.textstats import whitespace_tokens


def word_ngrams(text_col: Column | str, n: int = 8) -> Column:
    """Distinct word ``n``-grams of a text column (array column).

    Documents shorter than ``n`` tokens contribute their whole token run
    as one gram; documents with NO tokens (empty or whitespace-only text)
    map to an EMPTY gram set — without that filter they'd all share the
    single empty-string gram and cross-match every other token-less
    document (e.g. get flagged as contaminated the moment the benchmark
    set contains one empty-ish row). Grams are space-joined token slices.
    """
    toks = whitespace_tokens(text_col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    grams = F.filter(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n)))),
        lambda g: g != F.lit(""),
    )
    return F.array_distinct(grams)


def benchmark_grams(bench: DataFrame, text_col: str, n: int = 8) -> DataFrame:
    """The deduplicated gram set of the benchmark corpus — one column
    ``gram``. Build once per benchmark, broadcast everywhere."""
    return (
        bench.filter(F.col(text_col).isNotNull())
        .select(F.explode(word_ngrams(text_col, n)).alias("gram"))
        .distinct()
    )


def contamination_report(
    train: DataFrame,
    bench_gram_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Per-training-document contamination: how many of its distinct word
    ``n``-grams appear in the benchmark gram set.

    Output: ``id_col, n_grams, n_hits`` for documents with ``n_hits >=
    min_hits``. ``n_grams`` (the document's distinct gram count) lets the
    caller threshold on a fraction instead of an absolute count. Drop
    policy is the caller's: an anti-join of the corpus against these ids.

    SINGLE-PASS: the corpus is tokenized and shingled exactly once — the
    exploded grams LEFT-join the broadcast gram set with a hit marker, and
    one groupBy produces both ``n_grams`` (all rows) and ``n_hits``
    (marker rows). The earlier two-branch formulation recomputed
    ``word_ngrams`` for the totals side, doubling the most expensive map
    stage at scale. The left join also makes ``min_hits=0`` honest: clean
    documents keep their gram rows and appear with ``n_hits = 0``. (Only
    documents with an empty gram set — empty/whitespace-only text — never
    appear, having no rows to group.)
    """
    marked = bench_gram_set.select("gram").withColumn("__hit", F.lit(1))
    grams = (
        _fan_out(train.filter(F.col(text_col).isNotNull()))
        .select(
            F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("gram")
        )
    )
    return (
        grams.join(F.broadcast(marked), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.count("__hit").cast("long").alias("n_hits"),
        )
        .filter(F.col("n_hits") >= min_hits)
        .select(id_col, "n_grams", "n_hits")
    )
