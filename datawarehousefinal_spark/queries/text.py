"""Text statistics and retrieval: document stats, language ID, term
weighting, BM25, LM scoring and BPE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehousefinal_spark.materialize import local_result, materialized
from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.queries._shared import _TOKS_SQL
from datawarehousefinal_spark.sources.testdata import load_table


def _lang_profiles_sql() -> tuple[str, str]:
    """(scores CTE select-list, CASE expr) generated from the SAME
    LANG_PROFILES constants the Spark side uses, so they cannot drift."""
    from datawarehousefinal_spark.operators.textstats import LANG_PROFILES

    score_cols = ", ".join(
        f"len(list_intersect(toks, {words!r})) AS s_{lang}"
        for lang, words in LANG_PROFILES.items()
    )
    langs = list(LANG_PROFILES)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = f"CASE WHEN {best} = 0 THEN 'und' " + " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return score_cols, case


@query(
    "doc_stats",
    oracle=f"""
    SELECT doc_id,
           length(text)::BIGINT AS n_chars,
           len(toks)::BIGINT AS n_tokens,
           len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))::BIGINT AS n_bpe_tokens,
           len(list_filter(string_split_regex(text, '[.!?]+'),
               s -> trim(s) != ''))::BIGINT AS n_sentences,
           list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)
             AS avg_token_len
    FROM (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
    """,
)
def doc_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: chars, whitespace tokens, BPE-ish tokens,
    sentences, avg token length — pure projection, no shuffle."""
    from datawarehousefinal_spark.operators.textstats import doc_stats

    return doc_stats(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "corpus_length_stats",
    oracle="""
    SELECT min(length(text))::BIGINT AS min_chars,
           max(length(text))::BIGINT AS max_chars,
           avg(length(text)::DOUBLE) AS avg_chars,
           quantile_cont(length(text)::DOUBLE, 0.25) AS p25_chars,
           quantile_cont(length(text)::DOUBLE, 0.50) AS p50_chars,
           quantile_cont(length(text)::DOUBLE, 0.75) AS p75_chars,
           quantile_cont(length(text)::DOUBLE, 0.95) AS p95_chars
    FROM documents
    """,
)
def corpus_length_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length distribution with exact interpolated percentiles
    (swap to percentile_approx at 100 TB — same contract)."""
    from datawarehousefinal_spark.operators.textstats import corpus_length_stats

    return corpus_length_stats(load_table(spark, sf_dir, "documents"), "text")


@query(
    "top_terms",
    oracle=f"""
    SELECT term, count(*) AS n
    FROM (SELECT unnest({_TOKS_SQL}) AS term FROM documents)
    GROUP BY 1 ORDER BY n DESC, term LIMIT 20
    """,
)
def top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus terms: explode + map-side-combined count +
    TakeOrderedAndProject."""
    from datawarehousefinal_spark.operators.textstats import top_terms

    return top_terms(load_table(spark, sf_dir, "documents"), "text", 20)


def _lang_quality_oracle() -> str:
    score_cols, case = _lang_profiles_sql()
    from datawarehousefinal_spark.operators.textstats import LANG_PROFILES

    en = LANG_PROFILES["en"]
    return f"""
    WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
         s AS (SELECT doc_id, text, toks, {score_cols} FROM t)
    SELECT doc_id,
           {case} AS lang_pred,
           0.4 * least(length(text) / 500.0, 1.0)
             + 0.3 * least(len(list_intersect(toks, {en!r})) / 3.0, 1.0)
             + 0.3 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE
                      / length(text))
             AS quality
    FROM s
    """


@query("language_quality", oracle=_lang_quality_oracle())
def language_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (distinct function-word argmax) + composite
    quality score per document. The oracle replays the exact formula —
    the gate checks deterministic reproducibility, not label recovery
    (the fixture's lang column is synthetic provenance metadata)."""
    from datawarehousefinal_spark.operators.dedup import _fan_out
    from datawarehousefinal_spark.operators.textstats import (
        language_id,
        quality_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    return _fan_out(docs).select(
        "doc_id",
        language_id("text").alias("lang_pred"),
        quality_score("text").alias("quality"),
    )


def _lang_confusion_oracle() -> str:
    score_cols, case = _lang_profiles_sql()
    return f"""
    WITH t AS (SELECT lang, {_TOKS_SQL} AS toks FROM documents),
         s AS (SELECT lang, toks, {score_cols} FROM t)
    SELECT lang AS lang_true, {case} AS lang_pred, count(*)::BIGINT AS n
    FROM s GROUP BY 1, 2
    """


@query("lang_confusion", oracle=_lang_confusion_oracle())
def lang_confusion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix against the fixture's ground-truth
    ``lang`` column: (true, predicted, count) — the evaluation table a
    corpus curator reads before trusting the classifier for filtering.
    One projection + one map-side-combined groupBy over (lang,
    lang_pred)."""
    from datawarehousefinal_spark.operators.textstats import language_id

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("lang_true"),
            language_id("text").alias("lang_pred"),
        )
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "repetition_stats",
    oracle="""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    c AS (SELECT doc_id, tok, count(*) AS n FROM e GROUP BY doc_id, tok)
    SELECT doc_id,
           sum(n)::BIGINT AS n_tokens,
           count(*)::BIGINT AS n_distinct,
           (count(*)::DOUBLE / sum(n)::DOUBLE) AS distinct_ratio,
           (max(n)::DOUBLE / sum(n)::DOUBLE) AS top_token_frac
    FROM c GROUP BY doc_id
    """.format(toks=_TOKS_SQL),
)
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document
    (operators/textstats.repetition_stats): distinct-token ratio and
    top-token frequency share — the boilerplate/spam detectors of a
    curation funnel. Two-stage partial-combined aggregation."""
    from datawarehousefinal_spark.operators.textstats import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text")


_PII_ORACLE = r"""
    WITH injected AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || doc_id || '@example.com now'
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' from 10.0.' || (doc_id % 256) || '.1 today'
                     ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
             AS n_emails,
           len(regexp_extract_all(t,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
           regexp_replace(
             regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS masked
    FROM injected
    WHERE doc_id % 7 = 0 OR doc_id % 13 = 0
    """


@query("pii_scrub", oracle=_PII_ORACLE)
def pii_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (functions/pii.py): deterministically inject an email
    into every 7th document and an IPv4 into every 13th (both sides
    replay the injection), then count and mask. All codegen regexp
    expressions; patterns chosen so Java regex and RE2 agree, proven by
    the value-hash match."""
    from datawarehousefinal_spark.functions.pii import (
        count_emails,
        count_ipv4,
        scrub_pii,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1 today"),
            ),
        ).otherwise(F.lit("")),
    )
    injected = docs.select("doc_id", t.alias("t")).filter(
        (F.col("doc_id") % 7 == 0) | (F.col("doc_id") % 13 == 0)
    )
    return injected.select(
        "doc_id",
        count_emails("t").alias("n_emails"),
        count_ipv4("t").alias("n_ips"),
        scrub_pii("t").alias("masked"),
    )


@query(
    "doc_chunking",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
    c AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(length(text) - 50, 1), 450))
               AS s,
             text
      FROM d
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s)
                AS INTEGER) AS chunk_id,
           substr(text, s, 500) AS chunk_text
    FROM c
    """,
)
def doc_chunking_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking of the document corpus (500-char chunks,
    50-char overlap — the retrieval-indexing prep step): offsets from a
    per-row sequence, substring slices exploded with their index, zero
    shuffles. Oracle replays the identical offset arithmetic with
    generate_series + substr."""
    from datawarehousefinal_spark.operators.textstats import chunk_documents

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return chunk_documents(docs, "doc_id", "text", chunk_size=500, overlap=50)


_BM25_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS DOUBLE) AS dl,
             CAST(count(*) FILTER (WHERE term = 'hash') AS DOUBLE) AS tf0,
             CAST(count(*) FILTER (WHERE term = 'join') AS DOUBLE) AS tf1,
             CAST(count(*) FILTER (WHERE term = 'broadcast') AS DOUBLE) AS tf2
      FROM toks WHERE term <> '' GROUP BY 1
    ),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             CAST(count(*) FILTER (WHERE tf0 > 0) AS DOUBLE) AS df0,
             CAST(count(*) FILTER (WHERE tf1 > 0) AS DOUBLE) AS df1,
             CAST(count(*) FILTER (WHERE tf2 > 0) AS DOUBLE) AS df2
      FROM per_doc
    ),
    scored AS (
      SELECT doc_id,
        ln(1 + (n - df0 + 0.5)/(df0 + 0.5))
          * (tf0*(1.2 + 1.0)/(tf0 + 1.2*(1.0 - 0.75 + 0.75*dl/avgdl)))
        + ln(1 + (n - df1 + 0.5)/(df1 + 0.5))
          * (tf1*(1.2 + 1.0)/(tf1 + 1.2*(1.0 - 0.75 + 0.75*dl/avgdl)))
        + ln(1 + (n - df2 + 0.5)/(df2 + 0.5))
          * (tf2*(1.2 + 1.0)/(tf2 + 1.2*(1.0 - 0.75 + 0.75*dl/avgdl))) AS score
      FROM per_doc, stats
    )
    SELECT doc_id, score
    FROM scored WHERE score > 0
    ORDER BY score DESC, doc_id LIMIT 10
    """


@query(
    "pmi_collocations",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    inc AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    dfreq AS (
      SELECT term, CAST(count(*) AS DOUBLE) AS df
      FROM inc GROUP BY 1
    ),
    vocab AS (SELECT * FROM dfreq ORDER BY df DESC, term LIMIT 50),
    n AS (
      SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents
    ),
    iv AS (SELECT inc.doc_id, inc.term, vocab.df
           FROM inc JOIN vocab USING (term)),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b,
             count(*)::BIGINT AS n_docs,
             any_value(a.df) AS dfa, any_value(b.df) AS dfb
      FROM iv a JOIN iv b
        ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2
    )
    SELECT term_a, term_b, n_docs,
           ln(n_docs * n.n / (dfa * dfb)) AS pmi
    FROM pairs, n
    WHERE n_docs >= 5
    ORDER BY pmi DESC, term_a, term_b LIMIT 20
    """,
    # ln over a product of re-associated counts — contract
    round_cols=("pmi",),
)
def pmi_collocations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations (textstats.pmi_collocations): top-20 term
    pairs by document-cooccurrence PMI over the 50 highest-df terms —
    the vocabulary cut happens BEFORE the per-document pair join, so
    nothing quadratic in the vocabulary ever materializes. Same
    proven tokenization as BM25/TF-IDF; the oracle replays the
    incidence/vocab/pair/PMI pipeline value-for-value."""
    from datawarehousefinal_spark.operators.textstats import pmi_collocations

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return pmi_collocations(docs, "doc_id", "text")


@query(
    "sentence_stats",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_filter(
               list_transform(string_split_regex(text, '[.!?]+'),
                              x -> trim(x)),
               x -> x <> '') AS sents
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           len(sents)::BIGINT AS n_sentences,
           CASE WHEN len(sents) > 0 THEN
             CAST(list_sum(list_transform(sents, x -> length(x)))
                  AS DOUBLE) / len(sents)
           END AS avg_sentence_chars,
           CASE WHEN len(sents) > 0 THEN
             CAST(list_max(list_transform(sents, x -> length(x))) AS BIGINT)
           END AS max_sentence_chars
    FROM s
    """,
)
def sentence_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-shape quality signals (textstats.sentence_stats):
    per-document sentence count and length stats under the
    exactly-replayable ``[.!?]+`` segmentation — pure HOF column
    expressions, value-hashed against DuckDB's list_* replay."""
    from datawarehousefinal_spark.operators.textstats import sentence_stats

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return sentence_stats(docs, "doc_id", "text")


@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    dt AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      FROM toks WHERE term <> '' GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM dt GROUP BY 1),
    dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM dt GROUP BY 1),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM dl),
    s AS (
      SELECT dt.doc_id, dt.term, (dt.tf / dl.dl) * ln(n.n / dfreq.df) AS tfidf
      FROM dt JOIN dl USING (doc_id) JOIN dfreq USING (term), n
    ),
    r AS (
      SELECT doc_id, term, tfidf,
             CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER)
               AS rank
      FROM s
    )
    SELECT doc_id, term, tfidf, rank
    FROM r WHERE rank <= 3
    """,
    # tf/dl × ln(n/df) evaluation order differs — contract
    round_cols=("tfidf",),
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keywords (textstats.tfidf_top_terms): top-3
    characteristic terms per document — the document-side companion of
    the corpus-level top_terms report and the BM25 retrieval surface
    (same alnum-run tokenization, proven drift-free by the shared
    oracle expression). One (doc,term) aggregate feeds lengths, dfs,
    and the WindowGroupLimit top-k."""
    from datawarehousefinal_spark.operators.textstats import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(docs, "doc_id", "text", k=3)


# per-term score sum re-associates — serve-boundary contract
@query("bm25_topk", oracle=_BM25_ORACLE, round_cols=("score",))
def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval over the documents corpus for the query
    terms (hash, join, broadcast) — tokens are filtered to the query
    terms before the one (doc, term) shuffle; idf/corpus stats are a
    broadcast single row; oracle-exact against the same formula in
    DuckDB (ln-idf, k1=1.2, b=0.75)."""
    from datawarehousefinal_spark.operators.textstats import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_topk(docs, "doc_id", "text", ["hash", "join", "broadcast"], k=10)
    return out


@query("bm25_append_topk", oracle=_BM25_ORACLE, round_cols=("score",))
def bm25_append_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental BM25 index maintenance, hash-proven: the index is
    built on ~2/3 of the corpus (doc_id % 3 != 0), the last third is
    appended via ``textstats.bm25_index_append`` — tokenizing ONLY the
    batch, never re-reading the indexed corpus — and the query is
    served from the merged index. The result must hash-match the SAME
    full-corpus oracle as ``bm25_topk``: every BM25 statistic (tf, df,
    N, avgdl) is a mergeable state, so append ≡ rebuild exactly."""
    from datawarehousefinal_spark.operators.textstats import (
        bm25_build_index,
        bm25_index_append,
        bm25_topk_from_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    postings, doclens = bm25_build_index(base, "doc_id", "text")
    postings, doclens = bm25_index_append(
        postings, doclens, batch, "doc_id", "text"
    )
    out = bm25_topk_from_index(
        postings, doclens, "doc_id", ["hash", "join", "broadcast"], k=10
    )
    return out


@query(
    "gopher_repetition_report",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         t -> t <> '') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    i2 AS (
      SELECT doc_id, unnest(range(1, greatest(len(toks) - 1, 1) + 1)) AS i,
             toks
      FROM d
    ),
    g2 AS (
      SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram FROM i2
      WHERE array_to_string(toks[i:i+1], ' ') <> ''
    ),
    c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY ALL),
    a2 AS (
      SELECT doc_id,
             coalesce(sum(CASE WHEN cnt >= 2
                          THEN (cnt - 1) * length(gram) END), 0) AS dup2,
             max(cnt * length(gram)) AS top2
      FROM c2 GROUP BY doc_id
    ),
    i5 AS (
      SELECT doc_id, unnest(range(1, greatest(len(toks) - 4, 1) + 1)) AS i,
             toks
      FROM d
    ),
    g5 AS (
      SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram FROM i5
      WHERE array_to_string(toks[i:i+4], ' ') <> ''
    ),
    c5 AS (SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY ALL),
    a5 AS (
      SELECT doc_id,
             coalesce(sum(CASE WHEN cnt >= 2
                          THEN (cnt - 1) * length(gram) END), 0) AS dup5,
             max(cnt * length(gram)) AS top5
      FROM c5 GROUP BY doc_id
    )
    SELECT d.doc_id, d.n_chars,
           CAST(coalesce(coalesce(a2.dup2, 0) / nullif(d.n_chars, 0), 0) AS DOUBLE)
             AS frac_dup_2gram_chars,
           CAST(coalesce(coalesce(a2.top2, 0) / nullif(d.n_chars, 0), 0) AS DOUBLE)
             AS frac_top_2gram_chars,
           CAST(coalesce(coalesce(a5.dup5, 0) / nullif(d.n_chars, 0), 0) AS DOUBLE)
             AS frac_dup_5gram_chars,
           CAST(coalesce(coalesce(a5.top5, 0) / nullif(d.n_chars, 0), 0) AS DOUBLE)
             AS frac_top_5gram_chars
    FROM d LEFT JOIN a2 USING (doc_id) LEFT JOIN a5 USING (doc_id)
    """,
)
def gopher_repetition_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules over the corpus (dup/top n-gram character
    fractions for n=2 and n=5) — the published quality signals a
    training-data funnel cuts on, complementing repetition_stats' token
    ratios. Per-document gram counts keep every key uniform (a
    corpus-hot gram still groups per doc), and the oracle replays the
    identical slice/count/ratio arithmetic with list functions."""
    from datawarehousefinal_spark.operators.textstats import dup_ngram_stats

    docs = load_table(spark, sf_dir, "documents")
    return dup_ngram_stats(docs, "doc_id", "text", ns=(2, 5))


@query(
    "encoding_quality_report",
    oracle=r"""
    SELECT source,
           count(*) AS n_docs,
           sum(CASE WHEN contains(text, '�') THEN 1 ELSE 0 END)::BIGINT
             AS n_replacement_docs,
           sum(CASE WHEN contains(text, 'â€') THEN 1 ELSE 0 END)::BIGINT
             AS n_mojibake_docs,
           avg(CASE WHEN length(text) > 0 THEN
                 (length(text) - length(regexp_replace(text,
                   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')))::DOUBLE
                 / length(text) ELSE 0.0 END) AS avg_control_ratio,
           avg(CASE WHEN length(text) > 0 THEN
                 length(regexp_replace(text, '[^\x20-\x7E]', '', 'g'))::DOUBLE
                 / length(text) ELSE 0.0 END) AS avg_ascii_ratio
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def encoding_quality_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding-health triage (textstats.
    encoding_quality_report): U+FFFD replacement-char docs, latin-1
    mojibake marker docs, control-char and printable-ASCII ratios — all
    regexp/length column expressions, map-side combined."""
    from datawarehousefinal_spark.operators.textstats import (
        encoding_quality_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    return encoding_quality_report(docs, "source", "text")


@query(
    "heavy_hitters_terms",
    oracle=f"""
    SELECT term, count(*) AS cnt
    FROM (SELECT unnest({_TOKS_SQL}) AS term FROM documents)
    GROUP BY 1 ORDER BY cnt DESC, term LIMIT 25
    """,
)
def heavy_hitters_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass exact heavy hitters over corpus tokens
    (sketches.heavy_hitters_exact): per-task Misra-Gries summaries find
    candidates without shuffling the distinct-token long tail, then an
    exact recount restricted to the broadcast candidate set produces
    true counts. Hash-matches the full groupBy top-k whenever the k-th
    frequency exceeds n/(summary_size+1) — the oracle IS that full
    top-k, so the driver checks the exactness condition end-to-end."""
    from datawarehousefinal_spark.operators.sketches import heavy_hitters_exact
    from datawarehousefinal_spark.operators.textstats import whitespace_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(whitespace_tokens("text")).alias("term"))
    return heavy_hitters_exact(toks, "term", k=25, summary_size=4096)


# Shared DuckDB replay of the add-one bigram LM (fit on even doc_ids,
# per-doc scores for odd doc_ids) — reused by the raw-score query and the
# CCNet-style bucket-mix report so the two oracles can never drift.
_BIGRAM_LM_SCORES_CTES = f"""
    trt AS (
      SELECT {{toks}} AS l FROM documents WHERE doc_id % 2 = 0
    ),
    tb AS (
      SELECT unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2
      FROM trt
    ),
    big AS (SELECT w1, w2, count(*)::BIGINT AS n_bi FROM tb GROUP BY 1, 2),
    ctx AS (SELECT w1, count(*)::BIGINT AS n_ctx FROM tb GROUP BY 1),
    voc AS (
      SELECT count(DISTINCT t) AS v FROM (SELECT unnest(l) AS t FROM trt)
    ),
    sct AS (
      SELECT doc_id, {{toks}} AS l FROM documents WHERE doc_id % 2 = 1
    ),
    sb AS (
      SELECT doc_id, unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2
      FROM sct
    ),
    sh AS (
      SELECT doc_id, w1, w2, count(*)::BIGINT AS n_occ
      FROM sb GROUP BY 1, 2, 3
    ),
    lp AS (
      SELECT sh.doc_id, sh.n_occ,
             sh.n_occ * ln((coalesce(b.n_bi, 0) + 1.0)
                           / (coalesce(c.n_ctx, 0) + 1.0 * voc.v)) AS lp
      FROM sh
      LEFT JOIN big b ON sh.w1 = b.w1 AND sh.w2 = b.w2
      LEFT JOIN ctx c ON sh.w1 = c.w1
      CROSS JOIN voc
    ),
    scores AS MATERIALIZED (
      -- MATERIALIZED: consumers re-evaluating this CTE would re-run the
      -- parallel double sums with a different merge order; the tercile
      -- replay joins back on the computed ppl DOUBLE, so both consumers
      -- must read the SAME bits (the Spark side persists for the same
      -- reason).
      SELECT doc_id, sum(n_occ)::BIGINT AS n_bigrams,
             -sum(lp) / sum(n_occ) AS avg_nll,
             exp(-sum(lp) / sum(n_occ)) AS ppl
      FROM lp GROUP BY 1
    )
""".format(toks=_TOKS_SQL)


@query(
    "bigram_lm_perplexity",
    oracle=f"""
    WITH {_BIGRAM_LM_SCORES_CTES}
    SELECT doc_id, n_bigrams, avg_nll,
           ppl
    FROM scores
    """,
    # per-doc NLL sums re-associate — serve-boundary contract
    round_cols=("avg_nll", "ppl"),
)
def bigram_lm_perplexity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter (Wenzek et al. 2020) re-expressed
    Spark-first: an add-one-smoothed bigram model fitted on the even
    half of the corpus scores the odd half — per-document perplexity is
    the standard clean-vs-junk ranking signal for pretraining-data
    selection. Training is two map-side-combining counts over one
    tokenize pass; scoring is two left joins (AQE broadcasts the model
    while small, shuffle-hash at web-scale vocabulary) plus a single
    per-doc aggregate — no KenLM binary, no Python in the hot path, and
    the whole filter replays value-for-value in DuckDB. Beyond-reference
    operator (textstats.bigram_lm_fit / bigram_lm_perplexity)."""
    from datawarehousefinal_spark.operators.textstats import (
        bigram_lm_fit,
        bigram_lm_perplexity,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    model = bigram_lm_fit(docs.filter(F.col("doc_id") % 2 == 0), "text")
    out = bigram_lm_perplexity(
        model, docs.filter(F.col("doc_id") % 2 == 1), "doc_id", "text"
    )
    return out


@query(
    "ppl_bucket_mix",
    oracle=f"""
    WITH {_BIGRAM_LM_SCORES_CTES},
    hist AS (SELECT ppl, count(*)::DOUBLE AS cnt FROM scores GROUP BY 1),
    cum AS (
      SELECT ppl, cnt, sum(cnt) OVER (ORDER BY ppl) AS cum FROM hist
    ),
    n AS (SELECT count(*)::DOUBLE AS n FROM scores),
    qmap AS (
      SELECT ppl,
             CASE WHEN n.n > 1
                  THEN ((cum - (cnt - 1) / 2) - 1) / (n.n - 1)
                  ELSE 0.5 END AS q
      FROM cum CROSS JOIN n
    ),
    b AS (
      SELECT s.doc_id, s.n_bigrams, s.ppl,
             CASE WHEN q.q < 1.0 / 3 THEN 'head'
                  WHEN q.q < 2.0 / 3 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM scores s JOIN qmap q ON s.ppl = q.ppl
    )
    SELECT bucket, count(*)::BIGINT AS n_docs,
           sum(n_bigrams)::BIGINT AS n_bigrams_total,
           min(ppl) AS min_ppl,
           max(ppl) AS max_ppl
    FROM b GROUP BY 1
    """,
    # ppl carries re-associated NLL sums — serve-boundary contract on
    # the served extremes (bucket membership itself is count-exact)
    round_cols=("min_ppl", "max_ppl"),
)
def ppl_bucket_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020 §4.3):
    rank every scored document's LM perplexity into exact terciles and
    report each bucket's size, token mass, and perplexity range — the
    standard knob for trading data quantity against LM-judged quality
    when composing a pretraining mix. The tercile assignment reuses
    analytics.quantile_rank_normalize's scale shape (value histogram +
    distributed two-phase prefix sum + join-back — never a global
    single-partition rank window), so the split holds at corpus scale;
    bucket stats are min/max/integer-sum only, all merge-order-exact.
    Composition of bigram_lm_perplexity ∘ quantile_rank_normalize —
    the oracle replays both stages from the shared LM CTEs."""
    from datawarehousefinal_spark.operators.analytics import (
        quantile_rank_normalize,
    )
    from datawarehousefinal_spark.operators.textstats import (
        bigram_lm_fit,
        bigram_lm_perplexity,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    model = bigram_lm_fit(docs.filter(F.col("doc_id") % 2 == 0), "text")
    # persist: the rank normalization consumes `scores` twice (value
    # histogram + join-back on the computed ppl DOUBLE); without a shared
    # materialization each consumer would re-run the floating sums with a
    # different partial-merge order and the equality join-back would
    # silently drop ulp-shifted rows. One row per scored doc — bounded.
    with materialized(bigram_lm_perplexity(
        model, docs.filter(F.col("doc_id") % 2 == 1), "doc_id", "text"
    )) as scores:
        qd = quantile_rank_normalize(scores, "ppl", "__q")
        bucket = (
            F.when(F.col("__q") < F.lit(1.0 / 3), "head")
            .when(F.col("__q") < F.lit(2.0 / 3), "middle")
            .otherwise("tail")
        )
        return local_result(qd.groupBy(bucket.alias("bucket")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("n_bigrams_total"),
            F.min("ppl").alias("min_ppl"),
            F.max("ppl").alias("max_ppl"),
        ))


# Frozen BPE tokenizer model — the frozen_ann.py model-registry split:
# TRAINING is the iterative `bpe_learn` loop (exercised end-to-end by
# tests/test_textstats.py and the registered `bpe_merge_table` face);
# SEGMENTATION with a committed merge list is pure string arithmetic, so
# the serving report hash-verifies against a SQL oracle replaying the
# identical replace chain. Provenance: bpe_learn(sf0.001 documents,
# num_merges=16, min_freq=2) — regenerate with the snippet in this
# file's git history; tests pin frozen == retrained.
_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("l", "u"), ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"),
    ("a", "n"), ("c", "an"), ("s", "can"), ("c", "o"), ("co", "lu"),
    ("colu", "m"),
]


def _bpe_sql_str(s: str) -> str:
    """chr()-concat SQL literal for a wrapped-symbol string (the \\x1e /
    \\x1f markers can't ride in a plain quoted literal portably)."""
    parts = []
    for ch in s:
        if ch == "\x1e":
            parts.append("chr(30)")
        elif ch == "\x1f":
            parts.append("chr(31)")
        else:
            parts.append("'" + ch.replace("'", "''") + "'")
    return " || ".join(parts)


def _bpe_seg_sql(expr: str) -> str:
    """Nested-replace SQL applying the frozen merge chain to ``expr``."""
    from datawarehousefinal_spark.operators.textstats import _bpe_tok

    out = expr
    for a, b in _BPE_MERGES:
        pat = _bpe_sql_str(_bpe_tok(a) + _bpe_tok(b))
        rep = _bpe_sql_str(_bpe_tok(a + b))
        out = f"replace({out}, {pat}, {rep})"
    return out


@query(
    "bpe_subword_report",
    oracle=f"""
    WITH enc AS (
      SELECT doc_id,
             array_to_string(list_transform({_TOKS_SQL}, w ->
               array_to_string([chr(30) || substr(w, i, 1) || chr(31)
                                for i in generate_series(1, length(w))],
                               '')), ' ') AS e,
             len({_TOKS_SQL})::BIGINT AS n_words
      FROM documents
    ),
    seg AS (SELECT doc_id, n_words, {_bpe_seg_sql('e')} AS s FROM enc)
    SELECT doc_id, n_words,
           (length(s) - length(replace(s, chr(30), '')))::BIGINT
             AS n_subwords,
           CASE WHEN n_words > 0
                THEN (length(s) - length(replace(s, chr(30), '')))::DOUBLE
                     / n_words
           END AS fertility
    FROM seg
    """,
)
def bpe_subword_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword segmentation under the FROZEN BPE model (Sennrich et al.
    2016): per-document word count, subword count, and fertility
    (subwords/word — the tokenizer-health metric; rising fertility means
    the vocabulary fits the corpus badly). Serving is a pure column
    expression chain — wrapped-symbol encode, one `replace` per frozen
    merge, marker count — zero shuffles, zero Python, and the oracle
    replays the identical chain, so segmentation is hash-verified
    end-to-end. Training stays iterative in `bpe_merge_table` + pytest
    (the frozen_ann model-registry split)."""
    from datawarehousefinal_spark.operators.textstats import (
        bpe_subword_stats,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_subword_stats(docs, "doc_id", "text", _BPE_MERGES)


def _bpe_merge_oracle(k: int) -> str:
    """Fixed-``k`` unroll of the BPE training loop as chained CTEs —
    the same pattern that oracled the fixed-iteration PageRank: each
    round is (pair-count over the vocab, deterministic argmax with the
    ``count DESC, a, b`` tie-break, all-occurrences replace), and the
    ``WHERE cnt >= 2`` guard on every argmax replays ``bpe_learn``'s
    ``min_freq`` early stop EXACTLY — an empty round NULLs the vocab
    through ``replace``, so all later rounds yield no row, matching the
    Spark loop's ``break``. MATERIALIZED hints keep DuckDB from
    re-inlining each vocab generation into the next (the chain re-reads
    every frame several times via scalar subqueries)."""
    ctes = [
        f"""w0 AS (
      SELECT t AS w, count(*)::BIGINT AS n
      FROM (SELECT unnest({_TOKS_SQL}) AS t FROM documents)
      GROUP BY 1
    ),
    v0 AS MATERIALIZED (
      SELECT array_to_string([chr(30) || substr(w, i, 1) || chr(31)
                              for i in generate_series(1, length(w))],
                             '') AS e, n
      FROM w0
    )"""
    ]
    for i in range(k):
        ctes.append(
            f"""s{i} AS (
      SELECT list_filter(list_transform(string_split(e, chr(31)),
                                        x -> substr(x, 2)),
                         x -> x <> '') AS s, n
      FROM v{i}
    ),
    p{i} AS (
      SELECT s[u.i] AS a, s[u.i + 1] AS b, sum(n) AS cnt
      FROM s{i}, unnest(generate_series(1, len(s) - 1)) AS u(i)
      GROUP BY 1, 2
    ),
    b{i} AS MATERIALIZED (
      SELECT a, b FROM p{i} WHERE cnt >= 2 ORDER BY cnt DESC, a, b LIMIT 1
    )"""
        )
        if i < k - 1:
            ctes.append(
                f"""v{i + 1} AS MATERIALIZED (
      SELECT replace(e,
                     chr(30) || (SELECT a FROM b{i}) || chr(31)
                       || chr(30) || (SELECT b FROM b{i}) || chr(31),
                     chr(30) || (SELECT a FROM b{i})
                       || (SELECT b FROM b{i}) || chr(31)) AS e,
             n
      FROM v{i}
    )"""
            )
    sel = "\n    UNION ALL ".join(
        f'SELECT {i + 1} AS rank, a AS "left", b AS "right" FROM b{i}'
        for i in range(k)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + sel


@query("bpe_merge_table", oracle=_bpe_merge_oracle(8))
def bpe_merge_table_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING as a registered capability (the iterative
    half of the frozen-model split, same family as kmeans/cv_grid):
    learn 8 merges from the corpus and return them as
    (rank, left, right). One corpus-wide word-count collapse, then K
    vocabulary-sized pair-count iterations with a deterministic
    single-row argmax each — the merge list is a pure function of the
    corpus (count desc, pair ascending tie-break), pinned exactly by
    tests/test_textstats.py on a fixture, by frozen == retrained on
    sf0.001, and now by the fixed-k unrolled SQL oracle
    (_bpe_merge_oracle), which replays all 8 rounds — pair counts,
    argmax tie-break, all-occurrences replace, and the min_freq early
    stop — as chained CTEs."""
    from datawarehousefinal_spark.operators.textstats import bpe_learn

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe_learn(docs, "text", num_merges=8)
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    )


@query(
    "vocab_truncate_counts",
    oracle=f"""
    WITH t AS (SELECT unnest({_TOKS_SQL}) AS token FROM documents),
    c AS (SELECT token, count(*)::BIGINT AS c FROM t GROUP BY token)
    SELECT CASE WHEN c >= 920 THEN token ELSE '__OTHER__' END AS token,
           sum(c)::BIGINT AS n
    FROM c GROUP BY CASE WHEN c >= 920 THEN token ELSE '__OTHER__' END
    """,
)
def vocab_truncate_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary truncation with an OOV bucket: tokens seen < 920 times
    collapse to __OTHER__ (analytics.collapse_rare_categories — the
    bounded-cardinality contract every tokenizer build and one-hot
    pipeline needs), then the surviving vocabulary's counts. The count
    frame broadcasts back; the token stream shuffles once for each
    count. Integer/string outputs — hash-exact by construction."""
    from datawarehousefinal_spark.operators.analytics import (
        collapse_rare_categories,
    )
    from datawarehousefinal_spark.operators.textstats import (
        whitespace_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(whitespace_tokens("text")).alias("token"))
    collapsed = collapse_rare_categories(toks, "token", min_count=920)
    return collapsed.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


_TOKS_R8 = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"
)


@query(
    "vocab_drift_report",
    oracle=f"""
    WITH t AS (
      SELECT doc_id % 2 AS half, unnest({_TOKS_R8}) AS term FROM documents
    ),
    counts AS (
      SELECT term,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
      FROM t GROUP BY 1
    ),
    tot AS (SELECT sum(n_a)::BIGINT AS ta, sum(n_b)::BIGINT AS tb
            FROM counts),
    top AS (
      SELECT * FROM counts, tot
      ORDER BY (n_a + n_b) DESC, term LIMIT 50
    )
    SELECT term, n_a, n_b,
           n_a / ta AS p_a, n_b / tb AS p_b,
           n_a / ta - n_b / tb AS delta,
           (CASE WHEN n_a > 0 THEN (n_a / ta)
                 * log2((n_a / ta) / ((n_a / ta + n_b / tb) / 2))
                 ELSE 0.0 END
            + CASE WHEN n_b > 0 THEN (n_b / tb)
                 * log2((n_b / tb) / ((n_a / ta + n_b / tb) / 2))
                 ELSE 0.0 END) / 2 AS js_contrib
    FROM top
    ORDER BY abs(n_a / ta - n_b / tb) DESC, term
    LIMIT 15
    """,
    # the two JS legs' add order differs across engines — contract at
    # 9 dp (the column's magnitude is ~1e-4, so 6 dp would over-coarsen)
    round_cols=("js_contrib",),
    digits=9,
)
def vocab_drift_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between two corpus slices (here the doc_id
    parity split standing in for consecutive crawl snapshots): per-term
    probability deltas and Jensen-Shannon contributions for the 15
    largest movers among the top-50 terms
    (operators/textstats.py:vocab_drift). One token explode, one
    term-keyed conditional aggregate — the slices never join."""
    from datawarehousefinal_spark.operators.textstats import vocab_drift

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).cast("int").alias("half"), "text"
    )

    out = vocab_drift(docs, "half", "text", top_n=50, top_shift=15)
    return out


@query(
    "ngram_diversity_report",
    oracle=f"""
    WITH t AS (SELECT source, {_TOKS_R8} AS toks FROM documents),
    uni AS (SELECT source, unnest(toks) AS g FROM t),
    bi AS (
      SELECT source, toks[i] || ' ' || toks[i+1] AS g
      FROM t, unnest(range(1, len(toks))) AS u(i)
    ),
    u AS (
      SELECT source AS "group", count(*)::BIGINT AS n_tokens,
             count(DISTINCT g)::BIGINT AS n_types
      FROM uni GROUP BY 1
    ),
    b AS (
      SELECT source AS "group", count(*)::BIGINT AS n_bigrams,
             count(DISTINCT g)::BIGINT AS n_bigram_types
      FROM bi GROUP BY 1
    )
    SELECT u."group", n_tokens, n_types,
           n_types / n_tokens AS ttr,
           coalesce(n_bigrams, 0) AS n_bigrams,
           coalesce(n_bigram_types, 0) AS n_bigram_types,
           CASE WHEN coalesce(n_bigrams, 0) > 0
                THEN n_bigram_types / n_bigrams END AS bigram_ttr
    FROM u LEFT JOIN b ON u."group" = b."group"
    """,
)
def ngram_diversity_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: unigram/bigram type-token ratios —
    the templated-source detector (boilerplate collapses bigram TTR
    first). Bigrams form per-document (boundaries respected); exact
    distinct counts, two map-side-combinable shuffles
    (operators/textstats.py:ngram_diversity)."""
    from datawarehousefinal_spark.operators.textstats import ngram_diversity

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return ngram_diversity(docs, "source", "text")


@query(
    "zipf_fit_report",
    oracle=f"""
    WITH t AS (SELECT unnest({_TOKS_R8}) AS term FROM documents),
    counts AS (SELECT term, count(*)::BIGINT AS n FROM t GROUP BY 1
               ORDER BY n DESC, term LIMIT 100),
    xy AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, term) AS DOUBLE))
               AS x,
             ln(CAST(n AS DOUBLE)) AS y
      FROM counts
    ),
    agg AS (
      SELECT CAST(count(*) AS DOUBLE) AS k,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM xy
    )
    SELECT CAST(k AS BIGINT) AS n_terms,
           (sxy - sx * sy / k) / (sxx - sx * sx / k) AS slope,
           (sy - (sxy - sx * sy / k) / (sxx - sx * sx / k) * sx) / k
             AS intercept,
           (sxy - sx * sy / k) * (sxy - sx * sy / k)
           / ((sxx - sx * sx / k) * (syy - sy * sy / k)) AS r2
    FROM agg
    """,
    # OLS moment sums re-associate (diverged at sf0.01 only) — contract
    round_cols=("slope", "intercept", "r2"),
)
def zipf_fit_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-100 term frequencies: OLS of
    ln(count) on ln(rank) — slope ≈ −1 for natural text, a one-row
    corpus-health anchor (operators/textstats.py:zipf_fit). The only
    window runs over the 100-row top-terms frame (contract-small)."""
    from datawarehousefinal_spark.operators.textstats import zipf_fit

    docs = load_table(spark, sf_dir, "documents").select("text")

    return zipf_fit(docs, "text", top_n=100)


@query(
    "phrase_search_postings",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_R8} AS toks FROM documents)
    SELECT doc_id, count(*)::BIGINT AS n_matches
    FROM t, unnest(range(1, len(toks))) AS u(i)
    WHERE toks[i] = 'table' AND toks[i+1] = 'scan'
    GROUP BY 1
    """,
)
def phrase_search_postings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact positional phrase search ("table scan") over the documents
    corpus — the IR operation BM25's bag-of-words cannot express,
    served from positional postings filtered to the phrase's tokens
    BEFORE any shuffle (operators/textstats.py:phrase_search); the
    consecutive-position self-join costs the rarest token's posting
    list, not the corpus."""
    from datawarehousefinal_spark.operators.textstats import phrase_search

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_search(docs, "doc_id", "text", ["table", "scan"])
