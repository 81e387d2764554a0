"""Text-analysis operators over document corpora — token/char/sentence
stats, length percentiles, top terms, language ID, quality scoring, and
content fingerprints.

Beyond-reference LLM-pipeline operators (SURVEY.md §7 P7): curating a
100 TB training corpus needs cheap, fully-distributed per-document
statistics. Design rules match operators/dedup.py: everything is a
codegen'd column expression (split/regexp/higher-order functions — no
Python UDFs), aggregates are map-side-combinable, and every operator here
is SQL-expressible so the DuckDB oracle can replay it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datawarehousefinal_spark.materialize import release
from datawarehousefinal_spark.operators.dedup import _fan_out, char_shingles

# BPE-ish tokenization: alphabetic runs, single digits, and single
# non-alnum marks — a deterministic stand-in for a subword tokenizer's
# pre-tokenization pass (GPT-2's regex splits along the same lines).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

# Tiny function-word profiles for the language-ID heuristic. Scores are
# DISTINCT stopword hits (array_intersect), so common corpus words can't
# swamp the signal. Order = tie-break priority.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "with", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "pour", "que", "une"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "für", "auf"],
}


def whitespace_tokens(col: Column | str) -> Column:
    """Lowercased whitespace tokens (array<string>), empty-safe."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(whitespace_tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Subword-ish token count via the pre-tokenizer regex."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def sentence_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.filter(F.split(c, r"[.!?]+"), lambda s: F.trim(s) != ""))


def avg_token_length(col: Column | str) -> Column:
    toks = whitespace_tokens(col)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return (total.cast("double") / F.size(toks)).alias("avg_token_len")


def doc_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document statistics frame: chars, whitespace tokens, BPE-ish
    tokens, sentences, average token length. One narrow projection
    (plus the _fan_out pass-through repartition for compact one-file
    corpora — the regex token counters are CPU-bound)."""
    return _fan_out(df).select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars"),
        token_count(text_col).cast("long").alias("n_tokens"),
        bpe_ish_token_count(text_col).cast("long").alias("n_bpe_tokens"),
        sentence_count(text_col).cast("long").alias("n_sentences"),
        avg_token_length(text_col).alias("avg_token_len"),
    )


def corpus_length_stats(
    df: DataFrame, text_col: str, probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95)
) -> DataFrame:
    """Corpus-level length distribution: min/max/avg plus exact
    interpolated percentiles (``F.percentile`` ≙ SQL ``quantile_cont``).
    At 100 TB swap ``F.percentile`` for ``percentile_approx`` — same
    column contract, bounded memory."""
    length = F.length(text_col).cast("double")
    aggs = [
        F.min(length).cast("long").alias("min_chars"),
        F.max(length).cast("long").alias("max_chars"),
        F.avg(length).alias("avg_chars"),
    ]
    for p in probs:
        aggs.append(
            F.percentile(length, F.lit(p)).alias(f"p{int(p * 100)}_chars")
        )
    return df.agg(*aggs)


def source_mix(df: DataFrame, source_col: str, text_col: str) -> DataFrame:
    """Per-source corpus curation report — the table a training-mix
    designer reads before weighting sources: document count, token total,
    mean document length, and each source's share of all corpus tokens.

    One map-side-combined groupBy over the corpus; the share is a window
    over the AGGREGATED frame (cardinality = number of sources, a handful
    of rows on one task — not a corpus-wide sort).

    Output: ``source_col, n_docs, total_tokens, avg_chars, token_share``.
    """
    per = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(text_col)).alias("total_tokens"),
        F.avg(F.length(text_col)).alias("avg_chars"),
    )
    total = F.sum("total_tokens").over(Window.partitionBy())
    return per.withColumn(
        "token_share", F.col("total_tokens").cast("double") / total
    )


def top_terms(df: DataFrame, text_col: str, n: int = 20) -> DataFrame:
    """Most frequent whitespace tokens: explode → map-side-combined count
    → per-partition top-k via TakeOrderedAndProject (orderBy+limit never
    globally sorts). Output: term, n."""
    return (
        _fan_out(df).select(F.explode(whitespace_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(n)
    )


def language_id(
    col: Column | str, profiles: dict[str, list[str]] | None = None
) -> Column:
    """Heuristic language ID: argmax of DISTINCT function-word hits per
    language profile, first-profile-wins on ties, ``und`` when nothing
    matches. Pure array_intersect arithmetic — deterministic and exactly
    replayable in SQL (the oracle's definition of correctness; a tiny
    word-list heuristic is not expected to recover provenance labels)."""
    profiles = profiles or LANG_PROFILES
    toks = whitespace_tokens(col)
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in profiles.items()
    }
    best = F.greatest(*scores.values()) if len(scores) > 1 else next(iter(scores.values()))
    expr = F.lit("und")
    for lang in reversed(list(profiles)):
        expr = F.when(
            (best > 0) & (scores[lang] == best), F.lit(lang)
        ).otherwise(expr)
    return expr


def quality_score(col: Column | str) -> Column:
    """Composite document-quality heuristic in [0, 1]:

    0.4·length_score (chars/500 capped) + 0.3·stopword signal (any
    English function words present, capped at 3 distinct) + 0.3·alpha
    ratio (alphabetic+space chars over all chars). The exact formula is
    arbitrary by nature — what matters is that it is deterministic,
    codegen'd, and SQL-replayable."""
    c = F.col(col) if isinstance(col, str) else col
    length_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    stop_hits = F.size(
        F.array_intersect(
            whitespace_tokens(c),
            F.array(*[F.lit(w) for w in LANG_PROFILES["en"]]),
        )
    )
    stop_score = F.least(stop_hits.cast("double") / F.lit(3.0), F.lit(1.0))
    alpha_chars = F.length(F.regexp_replace(c, r"[^A-Za-z ]", ""))
    alpha_ratio = F.when(F.length(c) > 0, alpha_chars / F.length(c)).otherwise(
        F.lit(0.0)
    )
    return (
        F.lit(0.4) * length_score + F.lit(0.3) * stop_score + F.lit(0.3) * alpha_ratio
    )


def doc_fingerprint(col: Column | str, shingle_width: int = 14) -> Column:
    """Content fingerprint: the minimum md5 of the document's character
    shingles — a 1-permutation MinHash usable as a cheap near-dup blocking
    key or content id. md5 (not xxhash64) so external engines reproduce it
    byte-for-byte."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_min(F.transform(char_shingles(c, shingle_width), F.md5))


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document repetition signals (the Gopher-rules family): token
    count, distinct-token count, distinct ratio, and the frequency share
    of the single most repeated token — low distinct ratio or a dominant
    token flags boilerplate/spam for the curation funnel.

    MAP-ONLY: every statistic is a function of one document's own token
    multiset, so nothing shuffles — each row sorts its token array and
    one ``F.aggregate`` run-length pass yields the distinct count and
    the max multiplicity (the previous explode → groupBy(id, token) →
    groupBy(id) shape shuffled the full token stream twice to reduce it
    straight back to one row per id). Null and token-less texts are
    excluded (no tokens to measure), matching the explode semantics.

    Output: ``id_col, n_tokens, n_distinct, distinct_ratio,
    top_token_frac``.
    """
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("distinct"),
        F.lit(0).cast("long").alias("maxrun"),
    )

    def step(acc: Column, t: Column) -> Column:
        same = acc["prev"].isNotNull() & (acc["prev"] == t)
        run = F.when(same, acc["run"] + F.lit(1)).otherwise(F.lit(1)).cast("long")
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.when(same, acc["distinct"])
            .otherwise(acc["distinct"] + F.lit(1))
            .alias("distinct"),
            F.greatest(acc["maxrun"], run).alias("maxrun"),
        )

    base = _fan_out(df.filter(F.col(text_col).isNotNull())).select(
        F.col(id_col), whitespace_tokens(text_col).alias("__toks")
    )
    scanned = base.filter(F.size("__toks") > 0).select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("n_tokens"),
        F.aggregate(
            F.array_sort("__toks"),
            acc0,
            step,
            lambda acc: F.struct(
                acc["distinct"].alias("distinct"), acc["maxrun"].alias("maxrun")
            ),
        ).alias("__st"),
    )
    ntok = F.col("n_tokens").cast("double")
    return scanned.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("__st")["distinct"].alias("n_distinct"),
        (F.col("__st")["distinct"].cast("double") / ntok).alias("distinct_ratio"),
        (F.col("__st")["maxrun"].cast("double") / ntok).alias("top_token_frac"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 500,
    overlap: int = 50,
) -> DataFrame:
    """Sliding-window document chunking (the RAG/context-window prep
    step): fixed-size character chunks with ``overlap`` characters of
    context carried between consecutive chunks.

    MAP-ONLY: start offsets are a per-row ``sequence`` (stride =
    ``chunk_size - overlap``), chunks are ``substring`` slices exploded
    with their 1-based index — no shuffle, no UDF, and exactly
    SQL-replayable. Empty texts yield one empty chunk and NULL texts one
    NULL chunk (Spark ``greatest`` skips NULLs, so the start sequence is
    always non-empty — documents never vanish silently); the final chunk
    is shorter when the text doesn't fill it. Complements :mod:`operators.packing`'s token-budget
    chunker: this one is offset-deterministic for retrieval indexing,
    that one packs token budgets for training.

    Output: ``id_col, chunk_id (int, 1-based), chunk_text``.
    """
    if overlap >= chunk_size:
        raise ValueError(f"overlap ({overlap}) must be < chunk_size ({chunk_size})")
    step = chunk_size - overlap
    c = F.col(text_col)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length(c) - overlap, F.lit(1)),
        F.lit(step),
    )
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(starts, lambda s: F.substring(c, s, F.lit(chunk_size)))
        ).alias("__pos", "chunk_text"),
    ).select(
        id_col,
        (F.col("__pos") + 1).cast("int").alias("chunk_id"),
        "chunk_text",
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance ranking of the corpus against a bag of query terms
    — the lexical retrieval companion of the embedding ANN surface
    (beyond-reference; the standard Robertson/Sparck-Jones formula with
    the Lucene ``ln(1 + (N - df + .5)/(df + .5))`` non-negative idf).

    Scale shape: tokens explode map-side and are FILTERED TO THE QUERY
    TERMS before anything shuffles, so the one (doc, term) aggregation
    carries |query| terms per doc, not the vocabulary; document
    frequencies and corpus stats are tiny aggregates broadcast onto the
    scored rows; ranking is a global top-k (sort of |matching docs|,
    LIMIT pushes the k cut into each partition). Tokenization is
    lowercase alnum-runs — exactly replayable in SQL (the oracled query
    proves it).

    Output: ``id_col, score (double)`` — top ``k`` by (score desc, id).
    """
    terms = [t.lower() for t in query_terms]
    toks = _fan_out(df).select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("__term"),
    )
    # doc length = ALL tokens (needed before the query-term filter);
    # one map-side-combined aggregate per doc computes both the length
    # and the per-query-term tfs in a single shuffle via conditional
    # aggregation instead of a second pass.
    tf_cols = [
        F.count(F.when(F.col("__term") == t, 1)).cast("double").alias(f"__tf{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("double").alias("__dl"), *tf_cols
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.count(F.when(F.col(f"__tf{i}") > 0, 1))
            .cast("double")
            .alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )
    score = None
    for i in range(len(terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("__n") - F.col(f"__df{i}") + 0.5) / (F.col(f"__df{i}") + 0.5)
        )
        tf = F.col(f"__tf{i}")
        part = idf * (
            tf * (k1 + 1.0)
            / (tf + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl")))
        )
        score = part if score is None else score + part
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select(F.col(id_col), score.alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def bm25_build_index(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Build the BM25 index: the production counterpart of the ad-hoc
    :func:`bm25_topk` (which re-tokenizes the corpus once per branch —
    fine for one query, wrong for a query WORKLOAD; this is the same
    build-once/query-many split as the incremental dedup stores).

    Returns ``(postings, doclens)``:

    * postings — ``(term, id_col, tf)``: one tokenize pass, one
      map-side-combined (term, doc) count. WRITE THIS PARTITIONED (or
      bucketed) BY TERM — then every query's term filter partition-prunes
      and only the matching posting lists are ever read.
    * doclens — ``(id_col, dl)``: derived from postings by a second tiny
      aggregate over it (no second tokenize pass).
    """
    toks = _fan_out(df).select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("term"),
    )
    postings = toks.groupBy("term", id_col).agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    doclens = postings.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    return postings, doclens


def bm25_topk_from_index(
    postings: DataFrame,
    doclens: DataFrame,
    id_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Rank documents for ``query_terms`` from a prebuilt index — the
    only corpus-sized input that moves is the matching posting lists
    (term-partition-pruned when the index is stored partitioned by
    term). Per-term idf and corpus stats are single-row/|terms|-row
    broadcast aggregates; the per-(doc, term) contribution sums in one
    map-side-combined groupBy; ranking is a global top-k
    (TakeOrderedAndProject — k rows per partition move).

    Same formula, same results as :func:`bm25_topk` (asserted in
    tests): Lucene non-negative idf, k1/b defaults.
    """
    terms = [t.lower() for t in query_terms]
    corpus = doclens.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("dl").alias("__avgdl"),
    )
    matching = postings.filter(F.col("term").isin(terms))
    dfs = matching.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("__df")
    )
    scored = (
        matching.join(F.broadcast(dfs), "term")
        .join(doclens, id_col)
        .crossJoin(F.broadcast(corpus))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    contrib = idf * (
        F.col("tf") * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum(contrib).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def bm25_index_append(
    postings: DataFrame,
    doclens: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    dedup_ids: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Append a document batch to an existing BM25 index WITHOUT
    re-tokenizing the corpus — the retrieval analog of the incremental
    dedup store appends and ``similarity.ivf_index_append``.

    Correct because every statistic :func:`bm25_topk_from_index` derives
    is a mergeable state over disjoint doc sets: tf lives per
    (term, doc) posting row; df(term) is the term's posting count;
    N and avgdl derive from doclens. With batch ids disjoint from the
    index (the ingest contract), the union of postings and doclens IS
    the from-scratch rebuild, value-for-value — hash-proven by the
    oracled ``bm25_append_topk`` registry entry. ``dedup_ids=True``
    drops batch docs whose id is already indexed (one anti-join against
    the id-only doclens projection) for at-least-once ingest pipelines.

    Cost: one tokenize pass over the BATCH only; the stored corpus
    index never moves — append the new posting rows to the
    term-partitioned store and the new doclens rows alongside.
    """
    if dedup_ids:
        batch = batch.join(doclens.select(id_col), id_col, "left_anti")
    new_p, new_d = bm25_build_index(batch, id_col, text_col)
    return postings.unionByName(new_p), doclens.unionByName(new_d)


def _word_ngrams_all(text_col: Column | str, n: int) -> Column:
    """ALL word n-grams with multiplicity (array<string>) — unlike
    :func:`contamination.word_ngrams` (distinct, hashed) this keeps every
    occurrence and the gram text, because repetition scoring needs counts
    and character lengths. Documents shorter than ``n`` tokens contribute
    their whole token run as one gram; token-less documents contribute
    none (the empty-string gram is filtered)."""
    toks = whitespace_tokens(text_col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.filter(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n)))),
        lambda g: g != F.lit(""),
    )


def _run_length_dup_stats(grams: Column) -> Column:
    """``struct(dup long, top long)`` repetition stats of a gram array,
    computed entirely within the row: ``array_sort`` groups equal grams
    into runs, then one ``F.aggregate`` pass accumulates
    ``dup = sum((run_len - 1) * len(gram))`` (each repeat occurrence
    after a run's first adds ``len(gram)``) and
    ``top = max(run_len * len(gram))``. Empty arrays yield (0, 0)."""
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("top"),
    )

    def step(acc: Column, g: Column) -> Column:
        glen = F.length(g).cast("long")
        same = acc["prev"].isNotNull() & (acc["prev"] == g)
        run = F.when(same, acc["run"] + F.lit(1)).otherwise(F.lit(1)).cast("long")
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.when(same, acc["dup"] + glen).otherwise(acc["dup"]).alias("dup"),
            F.greatest(acc["top"], run * glen).alias("top"),
        )

    return F.aggregate(
        F.array_sort(grams),
        acc0,
        step,
        lambda acc: F.struct(acc["dup"].alias("dup"), acc["top"].alias("top")),
    )


def dup_ngram_stats(
    df: DataFrame, id_col: str, text_col: str, ns: tuple[int, ...] = (2, 3)
) -> DataFrame:
    """Gopher-family repetition signals per document (Rae et al. 2021,
    public quality rules; the DataTrove/Dolma reproductions use the same
    two statistics): for each ``n`` in ``ns``,

    - ``frac_dup_{n}gram_chars``: characters in repeat occurrences of
      duplicated n-grams — ``sum((count-1) * len(gram))`` over grams the
      document repeats — divided by the document's character count, and
    - ``frac_top_{n}gram_chars``: characters claimed by the most
      dominant n-gram — ``max(count * len(gram)) / chars`` (dominance by
      covered characters, which is deterministic; "most frequent" alone
      is tie-ambiguous).

    Both are the overlap-ignoring published approximations — gram char
    spans may overlap, so fractions can exceed 1 for degenerate
    repetition, which is exactly the signal (Gopher cuts at ~0.2).

    Scale shape: MAP-ONLY. Gram counts are per-document, so there is
    nothing to shuffle: each row sorts its own gram array and run-length
    scans it (:func:`_run_length_dup_stats`) — one codegen'd projection,
    no explode, no groupBy, no join back to the spine (the previous
    explode → groupBy(id, gram) → groupBy(id) → join shape shuffled the
    full gram stream twice per ``n`` for a result that never leaves the
    row). Cost is O(k log k) per document in-task; a document's work is
    indivisible either way — per-(id, gram) keys only spread one doc's
    grams across tasks to reduce them straight back to one id key — and
    ``_fan_out`` still spreads compact one-file corpora across cores.
    SQL-replayable.

    Output: ``id_col, n_chars (long)`` + the two fraction columns
    (double, 0.0 for token-less documents) per requested ``n``.
    """
    sel = [F.col(id_col), F.length(text_col).cast("long").alias("n_chars")]
    for n in ns:
        sel.append(
            _run_length_dup_stats(_word_ngrams_all(text_col, n)).alias(f"__st{n}")
        )
    out = _fan_out(df.filter(F.col(text_col).isNotNull())).select(*sel)
    chars = F.col("n_chars")
    fracs = []
    for n in ns:
        for fam in ("dup", "top"):
            fracs.append(
                F.when(
                    chars > 0,
                    F.coalesce(F.col(f"__st{n}")[fam], F.lit(0))
                    .cast("double")
                    / chars,
                )
                .otherwise(F.lit(0.0))
                .cast("double")
                .alias(f"frac_{fam}_{n}gram_chars")
            )
    return out.select(F.col(id_col), chars, *fracs)


def encoding_quality_report(
    df: DataFrame, source_col: str, text_col: str
) -> DataFrame:
    """Per-source encoding-health report — the triage table a crawl
    curation pass starts from: how many documents carry U+FFFD
    replacement characters (lossy decode), how many show the classic
    UTF-8-as-Latin-1 mojibake marker ("â€¦"-style sequences), and the
    average control-character and printable-ASCII ratios.

    Pure column expressions (regexp_replace/length), so it partial-
    aggregates map-side and the scan reads only (source, text); nothing
    here shuffles more than |sources| rows.
    """
    src, txt = F.col(source_col), F.col(text_col)
    ln = F.length(txt)

    def _removed(pattern: str) -> Column:
        return ln - F.length(F.regexp_replace(txt, pattern, ""))

    ctrl_ratio = F.when(ln > 0, _removed(_CTRL_RE) / ln).otherwise(F.lit(0.0))
    ascii_ratio = F.when(
        ln > 0, (ln - _removed(r"[^\x20-\x7E]")) / ln
    ).otherwise(F.lit(0.0))
    return (
        df.groupBy(src.alias(source_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(txt.contains("�").cast("long"))
            .cast("long")
            .alias("n_replacement_docs"),
            F.sum(txt.contains("â€").cast("long"))
            .cast("long")
            .alias("n_mojibake_docs"),
            F.avg(ctrl_ratio).alias("avg_control_ratio"),
            F.avg(ascii_ratio).alias("avg_ascii_ratio"),
        )
        .orderBy(source_col)
    )


_CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — the classic
    "what is this document about" keyword extractor (tf·idf with
    normalized tf = tf/doclen and idf = ln(N/df); terms present in every
    document score exactly 0 and rank by term alphabetically).

    Scale shape: tokens explode map-side into ONE (doc, term) aggregate;
    doc lengths and document frequencies both derive from that
    aggregated frame (nothing re-scans raw text); N is a broadcast
    single row; the per-doc top-k runs as a WindowGroupLimit (partial
    top-k before the shuffle). The (doc,term)→term join shuffles on the
    term key like any vocabulary join — no vocabulary broadcast, no
    driver collection.

    Output: ``id_col, term, tfidf, rank`` (rank 1..k per doc, ties on
    term ascending so results are deterministic and SQL-replayable).
    """
    toks = _fan_out(df).select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("term"),
    )
    doc_term = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("double").alias("__tf")
    )
    doc_len = doc_term.groupBy(id_col).agg(F.sum("__tf").alias("__dl"))
    dfreq = doc_term.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("__df")
    )
    n_docs = doc_len.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    scored = (
        doc_term.join(doc_len, id_col)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            (
                (F.col("__tf") / F.col("__dl"))
                * F.log(F.col("__n") / F.col("__df"))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 50,
    min_pair_docs: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top term-pair collocations by pointwise mutual information over
    DOCUMENT co-occurrence — "which terms travel together" (topic
    drift / boilerplate / template detection at corpus level).
    PMI = ln(df_ab · N / (df_a · df_b)) over document frequencies.

    Scale shape — the part that keeps this from being vocabulary²: the
    candidate vocabulary is cut to the top ``vocab_size`` terms FIRST
    (deterministic df-desc/term tie-break, broadcast as a semi-join
    filter), so the per-document self-join is bounded by
    ``vocab_size``² per doc worst-case and the incidence frame carries
    ≤ ``vocab_size`` rows per doc. One doc-keyed shuffle for the pair
    join; everything after runs on |vocab|² aggregated rows at most.
    ``min_pair_docs`` keeps PMI's rare-pair divergence out.

    Output: ``term_a, term_b, n_docs, pmi`` — top ``k`` by (pmi desc,
    term_a, term_b).
    """
    toks = _fan_out(df).select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("term"),
    )
    incidence = toks.distinct()
    dfreq = incidence.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("__df")
    )
    vocab = dfreq.orderBy(F.desc("__df"), "term").limit(vocab_size)
    n_docs = df.select(id_col).distinct().agg(
        F.count(F.lit(1)).cast("double").alias("__n")
    )
    inc_v = incidence.join(F.broadcast(vocab), "term")
    a = inc_v.select(
        F.col(id_col),
        F.col("term").alias("term_a"),
        F.col("__df").alias("__dfa"),
    )
    b = inc_v.select(
        F.col(id_col),
        F.col("term").alias("term_b"),
        F.col("__df").alias("__dfb"),
    )
    pairs = (
        a.join(b, id_col)
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.first("__dfa").alias("__dfa"),
            F.first("__dfb").alias("__dfb"),
        )
        .filter(F.col("n_docs") >= min_pair_docs)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "n_docs",
            F.log(
                F.col("n_docs") * F.col("__n")
                / (F.col("__dfa") * F.col("__dfb"))
            ).alias("pmi"),
        )
    )
    return pairs.orderBy(F.desc("pmi"), "term_a", "term_b").limit(k)


def sentence_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document sentence segmentation statistics — the
    sentence-shape quality signal (a wall of unpunctuated text and a
    burst of one-word "sentences" are both extraction-failure smells
    that char/token counts miss).

    Segmentation rule, chosen for exact cross-engine replay: split on
    ``[.!?]+`` runs, trim, drop empties — no abbreviation model (this is
    a corpus-quality feature, not NLP; the same rule runs in the SQL
    oracle). All higher-order-function column expressions: zero
    shuffles, zero Python.

    Output: ``id_col, n_sentences, avg_sentence_chars,
    max_sentence_chars`` (empty/punctuation-only text → 0 sentences,
    NULL stats).
    """
    sents = F.filter(
        F.transform(
            F.split(F.col(text_col), r"[.!?]+"), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )
    lens = F.transform(sents, lambda s: F.length(s))
    # size(NULL array) is -1, not NULL — guard so NULL text reports
    # NULL stats instead of a phantom -1 sentence count
    n = F.when(F.col(text_col).isNotNull(), F.size(sents))
    return _fan_out(df).select(
        F.col(id_col),
        n.cast("long").alias("n_sentences"),
        F.when(
            n > 0,
            F.aggregate(
                lens, F.lit(0).cast("long"), lambda a, x: a + x
            ).cast("double")
            / n,
        ).alias("avg_sentence_chars"),
        F.when(n > 0, F.array_max(lens).cast("long")).alias(
            "max_sentence_chars"
        ),
    )


# ---------------------------------------------------------------------------
# Bigram language-model perplexity (CCNet-style quality filter)
# ---------------------------------------------------------------------------
# CCNet (Wenzek et al. 2020) ranks documents by the perplexity of a
# KenLM n-gram model trained on a trusted corpus; low-perplexity text is
# "clean". The Spark-first deterministic stand-in is an add-k-smoothed
# bigram model over whitespace tokens: training is two groupBy counts,
# scoring is a join — every step is a pure function of the text, so the
# whole filter replays value-for-value in the SQL oracle (no KenLM
# binary, no float model file). Beyond-reference operator (the reference
# has no corpus-quality layer at all).


def word_bigrams(col: Column | str) -> Column:
    """Adjacent whitespace-token pairs as ``array<struct<w1,w2>>``.

    ``slice``+``zip_with`` column expressions only — no explode-join,
    no Python. Documents with fewer than two tokens yield an empty
    array (they carry no bigram evidence).
    """
    toks = whitespace_tokens(col)
    n = F.size(toks)
    m = F.greatest(n - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def bigram_lm_fit(
    train: DataFrame, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit the add-k bigram model: returns lazy ``(bigrams, contexts,
    vocab)`` frames — ``(w1, w2, n_bi)``, ``(w1, n_ctx)`` and the
    single-row ``(vocab_size)`` (distinct tokens in the training
    stream). Two map-side-combining aggregations over one tokenize
    pass; nothing is collected, so the model scales with the corpus
    vocabulary, not the corpus."""
    pairs = _fan_out(train).select(
        F.explode(word_bigrams(text_col)).alias("bg")
    ).select("bg.w1", "bg.w2")
    bigrams = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n_bi")
    )
    # context totals roll up from the (already tiny) bigram count frame —
    # c(w1) = Σ_w2 c(w1,w2) by definition, so the pair stream is never
    # exploded or shuffled a second time.
    contexts = bigrams.groupBy("w1").agg(F.sum("n_bi").alias("n_ctx"))
    vocab = (
        train.select(F.explode(whitespace_tokens(text_col)).alias("t"))
        .agg(F.count_distinct("t").alias("vocab_size"))
    )
    return bigrams, contexts, vocab


def bigram_lm_perplexity(
    model: tuple[DataFrame, DataFrame, DataFrame],
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: float = 1.0,
) -> DataFrame:
    """Score documents under the fitted bigram model:
    ``P(w2|w1) = (c(w1,w2)+k) / (c(w1)+k·V)`` — unseen bigrams and
    unseen contexts degrade smoothly to the uniform floor instead of
    zero probability.

    Plan shape: explode score-side bigrams, LEFT-join the two count
    frames on their token keys (AQE broadcasts them while the model is
    small; at web-corpus vocabulary they degrade to shuffle hash joins
    on the token key — never a driver collect), cross-join the one-row
    vocab aggregate, then one per-document aggregate. Documents with
    fewer than two tokens carry no bigram evidence and are not scored.

    Output: ``id_col, n_bigrams, avg_nll, ppl`` with
    ``ppl = exp(avg_nll)``.
    """
    bigrams, contexts, vocab = model
    # collapse the score-side pair stream into the per-document bigram
    # histogram before joining: repeated bigrams (ubiquitous in natural
    # text) hit the model once and contribute n·ln p — the join and the
    # final aggregate see the compact histogram, not the raw stream.
    sb = (
        _fan_out(df)
        .select(
            F.col(id_col), F.explode(word_bigrams(text_col)).alias("bg")
        )
        .select(id_col, "bg.w1", "bg.w2")
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    scored = (
        sb.join(bigrams, ["w1", "w2"], "left")
        .join(contexts, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__lp",
            F.col("n_occ").cast("double")
            * F.log(
                (F.coalesce("n_bi", F.lit(0)) + F.lit(k))
                / (
                    F.coalesce("n_ctx", F.lit(0))
                    + F.lit(k) * F.col("vocab_size")
                )
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("n_occ").alias("n_bigrams"),
            (-F.sum("__lp") / F.sum("n_occ")).alias("avg_nll"),
        )
        .withColumn("ppl", F.exp("avg_nll"))
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training + subword segmentation (Sennrich et al. 2016)
# ---------------------------------------------------------------------------
# The standard subword-vocabulary learner, re-expressed for Spark: the
# corpus collapses ONCE to its word-frequency table (the classic BPE
# formulation trains on types weighted by counts, not the token stream),
# and every merge iteration runs over that vocabulary-sized frame — a
# 100 TB corpus costs one corpus-wide count, then K iterations whose cost
# scales with |vocab|, never with corpus size. Words are carried as
# wrapped-symbol strings "\x1e<sym>\x1f..." so applying a merge is ONE
# plain `replace` per iteration: the wrapper markers pin both symbols'
# exact boundaries (no regex, no lookaround), and consecutive/overlapping
# pair runs resolve left-to-right exactly like the reference algorithm.

_BPE_O = "\x1e"  # symbol-open marker (ASCII record separator)
_BPE_C = "\x1f"  # symbol-close marker (ASCII unit separator)


def _bpe_tok(a: str) -> str:
    return f"{_BPE_O}{a}{_BPE_C}"


def bpe_encode(col: Column | str) -> Column:
    """Wrapped-symbol encoding of a WORD: each character becomes
    ``\\x1e c \\x1f``. Pure column expressions."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(
        F.transform(
            F.split(c, ""),
            lambda ch: F.concat(F.lit(_BPE_O), ch, F.lit(_BPE_C)),
        ),
        "",
    )


def bpe_apply_merges(col: Column, merges: list[tuple[str, str]]) -> Column:
    """Fold an ordered merge list over a wrapped-symbol string — one
    ``replace`` per merge, exactly the left-to-right all-occurrences
    semantics of the reference algorithm (the wrapper markers make
    ``\\x1e a \\x1f \\x1e b \\x1f`` match ONLY a full (a, b) symbol pair,
    and each replacement re-emits wrapped ``ab`` so later merges
    compose)."""
    out = col
    for a, b in merges:
        out = F.replace(
            out, F.lit(_bpe_tok(a) + _bpe_tok(b)), F.lit(_bpe_tok(a + b))
        )
    return out


def bpe_learn(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    min_freq: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus; returns the
    ordered merge list (the tokenizer model).

    Scale shape: ONE corpus-wide tokenize + word-count aggregate, then
    every iteration is a pair-explode + map-side-combined count over the
    VOCABULARY frame followed by a single-row argmax collect (count
    desc, pair ascending — fully deterministic) and one `replace` map.
    The vocab frame is eagerly localCheckpoint-ed per iteration so
    lineage stays flat across K rounds (same discipline as the
    connected-components fixpoint); each round's checkpoint is released
    once the next one is materialized. Stops early when the best pair's
    frequency drops below ``min_freq``.
    """
    vocab = (
        _fan_out(df)
        .select(F.explode(whitespace_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(bpe_encode("w").alias("e"), "n")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str]] = []
    try:
        for _ in range(num_merges):
            syms = F.filter(
                F.transform(
                    F.split(F.col("e"), _BPE_C),
                    lambda x: F.substring(x, 2, 1_000_000_000),
                ),
                lambda x: x != "",
            )
            m = F.greatest(F.size(syms) - 1, F.lit(0))
            pairs = F.zip_with(
                F.slice(syms, 1, m),
                F.slice(syms, 2, m),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
            best = (
                vocab.select(F.explode(pairs).alias("p"), "n")
                .groupBy("p.a", "p.b")
                .agg(F.sum("n").alias("cnt"))
                .orderBy(F.desc("cnt"), "a", "b")
                .first()
            )
            if best is None or best["cnt"] < min_freq:
                break
            a, b = best["a"], best["b"]
            merges.append((a, b))
            nxt = vocab.select(
                F.replace(
                    F.col("e"),
                    F.lit(_bpe_tok(a) + _bpe_tok(b)),
                    F.lit(_bpe_tok(a + b)),
                ).alias("e"),
                "n",
            ).localCheckpoint(eager=True)
            release(vocab)
            vocab = nxt
    finally:
        release(vocab)
    return merges


def bpe_subword_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Segment every document with a FROZEN merge list and report
    ``id_col, n_words, n_subwords, fertility`` (subwords per word — the
    standard tokenizer-health metric; a rising fertility means the
    vocabulary fits the corpus badly). Pure column expressions: encode
    words, join with a space (a space can never occur inside a merge
    pattern, so merges cannot leak across word boundaries), fold the
    merge replaces, count open markers. Zero shuffles, zero Python —
    and exactly replayable in SQL, so the serving face is hash-oracled
    while training stays in pytest (the frozen_ann.py model-registry
    split)."""
    toks = whitespace_tokens(text_col)
    enc = F.array_join(
        F.transform(toks, lambda w: bpe_encode(w)), " "
    )
    seg = bpe_apply_merges(enc, merges)
    n_words = F.size(toks).cast("long")
    n_sub = (
        F.length(seg) - F.length(F.replace(seg, F.lit(_BPE_O), F.lit("")))
    ).cast("long")
    return _fan_out(df).select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sub.alias("n_subwords"),
        F.when(n_words > 0, n_sub.cast("double") / n_words).alias(
            "fertility"
        ),
    )


def vocab_drift(
    df: DataFrame,
    split_col: str,
    text_col: str,
    top_n: int = 50,
    top_shift: int = 15,
) -> DataFrame:
    """Vocabulary drift between two corpus slices — the "did the
    distribution move" screen run between crawl snapshots or mix
    versions: per-term probability under each slice, the probability
    delta, and the term's Jensen-Shannon divergence contribution, for
    the ``top_shift`` largest movers among the ``top_n``
    most-frequent terms.

    ``split_col`` must be a 0/1 integer column. One token explode feeds
    one (term)-keyed aggregate with conditional counts — no second scan,
    no join between the slices. Probabilities are single divisions of
    exact counts; the JS contribution 0.5·(p·lg(p/m) + q·lg(q/m)) is
    deterministic log arithmetic (≤1 ulp cross-engine, well inside the
    hash rounding). Terms absent from one slice contribute their full
    half-divergence (0·lg0 := 0).

    Output: term, n_a, n_b, p_a, p_b, delta, js_contrib — ordered by
    |delta| desc, term.
    """
    toks = df.select(
        F.col(split_col).alias("__half"),
        F.explode(whitespace_tokens(text_col)).alias("term"),
    )
    counts = toks.groupBy("term").agg(
        F.sum((F.col("__half") == 0).cast("bigint")).alias("n_a"),
        F.sum((F.col("__half") == 1).cast("bigint")).alias("n_b"),
    )
    totals = counts.agg(
        F.sum("n_a").alias("__ta"), F.sum("n_b").alias("__tb")
    )
    top = (
        counts.crossJoin(F.broadcast(totals))
        .orderBy(F.desc(F.col("n_a") + F.col("n_b")), "term")
        .limit(top_n)
    )
    p_a = F.col("n_a") / F.col("__ta")
    p_b = F.col("n_b") / F.col("__tb")
    m = (p_a + p_b) / 2
    js_term = (
        F.when(F.col("n_a") > 0, p_a * F.log2(p_a / m)).otherwise(F.lit(0.0))
        + F.when(F.col("n_b") > 0, p_b * F.log2(p_b / m)).otherwise(
            F.lit(0.0)
        )
    ) / 2
    return (
        top.select(
            "term",
            "n_a",
            "n_b",
            p_a.alias("p_a"),
            p_b.alias("p_b"),
            (p_a - p_b).alias("delta"),
            js_term.alias("js_contrib"),
        )
        .orderBy(F.abs(F.col("delta")).desc(), "term")
        .limit(top_shift)
    )


def ngram_diversity(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Lexical diversity per group: unigram and bigram type counts,
    token counts, and type-token ratios — the cheap proxy for "is this
    source templated/repetitive" that mix reports lead with (a
    boilerplate-heavy source shows a collapsing bigram TTR long before
    eyeballing finds it).

    One token explode; bigrams form per-document via array zip (no
    cross-document bigrams — document boundaries are real). Exact
    distinct counts keyed on (group, gram): two shuffles, both
    map-side combinable.

    Output: group, n_tokens, n_types, ttr, n_bigrams,
    n_bigram_types, bigram_ttr.
    """
    toks = whitespace_tokens(text_col)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    uni = df.select(
        F.col(group_col).alias("group"), F.explode(toks).alias("g")
    )
    bi = df.select(
        F.col(group_col).alias("group"), F.explode(bigrams).alias("g")
    )
    u = uni.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("g").alias("n_types"),
    )
    b = bi.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.countDistinct("g").alias("n_bigram_types"),
    )
    return u.join(b, "group", "left").select(
        "group",
        "n_tokens",
        "n_types",
        (F.col("n_types") / F.col("n_tokens")).alias("ttr"),
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("n_bigram_types", F.lit(0)).alias("n_bigram_types"),
        F.when(
            F.coalesce("n_bigrams", F.lit(0)) > 0,
            F.col("n_bigram_types") / F.col("n_bigrams"),
        ).alias("bigram_ttr"),
    )


def zipf_fit(df: DataFrame, text_col: str, top_n: int = 100) -> DataFrame:
    """Zipf's-law fit over the term frequency distribution: OLS of
    ln(count) on ln(rank) for the ``top_n`` most frequent terms — a
    natural corpus shows slope ≈ −1; synthetic/templated text deviates
    hard, making this a one-row corpus-health signal.

    Ranks are exact (count desc, term tie-break, computed on the
    ``top_n``-row collected-free frame via a window over ≤ top_n rows —
    contract-small); the OLS closed form runs on centered sums whose
    ~10× cancellation amplifies the ≤1-ulp cross-engine log differences
    to ~1e-13 relative — far inside the hash rounding.

    Output (1 row): n_terms, slope, intercept, r2.
    """
    counts = (
        df.select(F.explode(whitespace_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(top_n)
    )
    w = Window.orderBy(F.desc("n"), "term")
    xy = counts.withColumn("__rank", F.row_number().over(w)).select(
        F.log(F.col("__rank").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    k = F.col("k")
    ssx = F.col("sxx") - F.col("sx") * F.col("sx") / k
    ssy = F.col("syy") - F.col("sy") * F.col("sy") / k
    spxy = F.col("sxy") - F.col("sx") * F.col("sy") / k
    slope = spxy / ssx
    return agg.select(
        k.cast("bigint").alias("n_terms"),
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / k).alias("intercept"),
        (spxy * spxy / (ssx * ssy)).alias("r2"),
    )


def phrase_search(
    df: DataFrame, id_col: str, text_col: str, phrase: list[str]
) -> DataFrame:
    """Exact positional phrase search — the IR capability BM25's
    bag-of-words scoring cannot express: find documents containing the
    words of ``phrase`` CONSECUTIVELY, with match counts.

    Build: positional postings (id, pos, token) from one posexplode,
    FILTERED to the phrase's tokens before any shuffle (the phrase acts
    as its own predicate pushdown — posting lists for a handful of
    words, not the corpus). Match: k−1 self-equi-joins keyed on
    (id, pos+offset), each join side already token-filtered. At 100 TB
    this is the standard positional-index intersection: cost follows
    the RAREST phrase token's posting list.

    Output: id (named after ``id_col``), n_matches — one row per
    document containing the phrase at least once.
    """
    if not phrase:
        raise ValueError("phrase must be non-empty")
    toks = whitespace_tokens(text_col)
    postings = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(toks).alias("__pos", "__tok"),
    ).filter(F.col("__tok").isin(phrase))
    first = postings.filter(F.col("__tok") == phrase[0]).select(
        "__id", F.col("__pos").alias("__p0")
    )
    matched = first
    for k, word in enumerate(phrase[1:], start=1):
        nxt = postings.filter(F.col("__tok") == word).select(
            F.col("__id").alias("__idk"), F.col("__pos").alias(f"__p{k}")
        )
        matched = matched.join(
            nxt,
            (F.col("__id") == F.col("__idk"))
            & (F.col(f"__p{k}") == F.col("__p0") + k),
        ).drop("__idk")
    return matched.groupBy(F.col("__id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_matches")
    )
