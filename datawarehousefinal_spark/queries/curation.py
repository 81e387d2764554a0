"""Training-data curation: funnels, mixes, reweighting, packing, splits and
importance resampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehousefinal_spark.materialize import local_result
from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.queries._shared import (
    _JACCARD_PAIRS_SQL,
    _norm_sql,
    _SHINGLES_SQL,
    _TOKS_SQL,
    _W,
)
from datawarehousefinal_spark.sources.testdata import load_table


def _curation_funnel_oracle() -> str:
    """DuckDB replay of the whole curation funnel: length rule, quality
    rule (the language_quality twin formula), normalized exact dedup,
    exact-Jaccard transitive near-dup resolution (recursive-CTE
    components, min-id survivor) — per-stage counts."""
    from datawarehousefinal_spark.operators.textstats import LANG_PROFILES

    en = LANG_PROFILES["en"]
    quality = f"""
      0.4 * least(length(text) / 500.0, 1.0)
      + 0.3 * least(len(list_intersect({_TOKS_SQL}, {en!r})) / 3.0, 1.0)
      + 0.3 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE
               / length(text))
    """
    return f"""
    WITH RECURSIVE inp AS (SELECT doc_id, text FROM documents),
    len_ok AS (
      SELECT * FROM inp WHERE length(text) BETWEEN 20 AND 1000000
    ),
    rules AS (SELECT doc_id, text FROM len_ok WHERE ({quality}) >= 0.1),
    ranked AS (
      SELECT doc_id, text,
             row_number() OVER (
               PARTITION BY {_norm_sql('text')} ORDER BY doc_id
             ) AS rn
      FROM rules
    ),
    ex AS (SELECT doc_id, text FROM ranked WHERE rn = 1),
    sh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM ex),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
      WHERE c / (x.n + y.n - c) >= 0.9
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ),
    comp AS (SELECT id, min(r) AS root FROM reach GROUP BY 1),
    near AS (
      SELECT doc_id FROM ex
      WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != root)
    )
    SELECT '00_input' AS stage, count(*)::BIGINT AS n_rows FROM inp
    UNION ALL SELECT '01_length', count(*)::BIGINT FROM len_ok
    UNION ALL SELECT '02_rules', count(*)::BIGINT FROM rules
    UNION ALL SELECT '03_exact_dedup', count(*)::BIGINT FROM ex
    UNION ALL SELECT '04_near_dedup', count(*)::BIGINT FROM near
    """


@query("corpus_curation_funnel", oracle=_curation_funnel_oracle())
def corpus_curation_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation composed from the engine's own
    operators — length/quality rule filters, exact dedup, MinHash
    near-dup dedup resolved TRANSITIVELY (connected components over the
    exact-Jaccard-verified pair graph, min-id survivor per cluster),
    seeded train/val hash split — returning the per-stage funnel report
    (stage, n_rows) as a lazy union of aggregates (no driver-side
    counts). Hash-gated since round 7: every stage is deterministic and
    SQL-replayable (the near-dup pair set equals the exact-Jaccard truth
    — the `minhash_lsh_pairs` contract — and the closure replays as a
    recursive CTE). The greedy signature-store variant stays covered by
    `incremental_minhash_dedup` + tests/test_curation.py."""
    from datawarehousefinal_spark.operators.curation import curate_corpus

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with curate_corpus(
        docs, min_quality=0.1, shingle_width=_W
    ) as (_curated, report):
        return local_result(report)


def _training_e2e_oracle() -> str:
    """DuckDB replay of the WHOLE pipeline: md5 downsample → curation
    funnel (length/quality rules, normalized exact dedup, exact-Jaccard
    transitive near-dup closure) → md5 epoch order → 2048-token
    sequential-fill chunks → per-chunk report."""
    from datawarehousefinal_spark.operators.textstats import LANG_PROFILES

    en = LANG_PROFILES["en"]
    quality = f"""
      0.4 * least(length(text) / 500.0, 1.0)
      + 0.3 * least(len(list_intersect({_TOKS_SQL}, {en!r})) / 3.0, 1.0)
      + 0.3 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE
               / length(text))
    """
    thresh = int(0.5 * (1 << 60))
    return f"""
    WITH RECURSIVE samp AS (
      SELECT doc_id, text FROM documents
      WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':11'), 1, 15))::BIGINT
            < {thresh}
    ),
    len_ok AS (
      SELECT * FROM samp WHERE length(text) BETWEEN 20 AND 1000000
    ),
    rules AS (SELECT doc_id, text FROM len_ok WHERE ({quality}) >= 0.1),
    ranked AS (
      SELECT doc_id, text,
             row_number() OVER (
               PARTITION BY {_norm_sql('text')} ORDER BY doc_id
             ) AS rn
      FROM rules
    ),
    ex AS (SELECT doc_id, text FROM ranked WHERE rn = 1),
    sh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM ex),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
      WHERE c / (x.n + y.n - c) >= 0.9
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ),
    comp AS (SELECT id, min(r) AS root FROM reach GROUP BY 1),
    near AS (
      SELECT doc_id, text FROM ex
      WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != root)
    ),
    tok AS (
      SELECT doc_id, len({_TOKS_SQL})::BIGINT AS n_tokens,
             md5(doc_id::VARCHAR || ':7') AS h
      FROM near
    ),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM tok
    ),
    ch AS (
      SELECT doc_id, n_tokens,
             CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS chunk_id
      FROM c
    )
    SELECT chunk_id, count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS total_tokens
    FROM ch GROUP BY 1 ORDER BY 1
    """


@query("training_pipeline_e2e", oracle=_training_e2e_oracle())
def training_pipeline_e2e_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data pipeline as one composition of the
    engine's operators: deterministic-hash downsample → curation funnel
    (rules → exact dedup → transitive near-dup resolution via connected
    components) → seeded epoch shuffle order → 2048-token sequential-fill
    packing → per-chunk fill report (chunk_id, n_docs, total_tokens).
    Every stage is the registered operator a user would call standalone;
    this entry proves they compose. Hash-gated since round 7: every
    stage is a pure function of (ids, text, seeds) — md5 sampling,
    normalized-hash dedup, exact-Jaccard closure, md5 shuffle order,
    distributed prefix-sum packing — and the oracle replays the chain
    end-to-end in one SQL statement."""
    from datawarehousefinal_spark.operators.curation import (
        curate_corpus,
        deterministic_sample,
    )
    from datawarehousefinal_spark.operators.packing import (
        budgeted_chunks,
        chunk_stats,
    )
    from datawarehousefinal_spark.operators.textstats import whitespace_tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sampled = deterministic_sample(docs, "doc_id", 0.5, seed=11)
    with curate_corpus(
        sampled, min_quality=0.1, shingle_width=_W
    ) as (curated, _report):
        tokens = curated.select(
            "doc_id",
            F.size(whitespace_tokens("text")).cast("long").alias("n_tokens"),
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":7"))).alias("__h"),
        )
        packed = budgeted_chunks(
            tokens, "doc_id", "n_tokens", 2048, order_cols=["__h"]
        )
        return local_result(chunk_stats(packed, "n_tokens").orderBy("chunk_id"))


@query(
    "source_mix_report",
    oracle=f"""
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(len(toks))::BIGINT AS total_tokens,
           avg(length(text))::DOUBLE AS avg_chars,
           (sum(len(toks))::DOUBLE
              / sum(sum(len(toks))) OVER ())::DOUBLE AS token_share
    FROM (SELECT source, text, {_TOKS_SQL} AS toks FROM documents)
    GROUP BY source
    """,
)
def source_mix_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix curation table: per-source document count, token
    total, mean length, and share of all corpus tokens. One map-side
    combined groupBy; the share window runs over the few aggregated
    rows, never the corpus."""
    from datawarehousefinal_spark.operators.textstats import source_mix

    docs = load_table(spark, sf_dir, "documents")
    return source_mix(docs, "source", "text")


_CONTAM_N = 8


_CONTAM_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {{toks}} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_distinct(list_filter(list_transform(
               generate_series(1, greatest(len(toks) - {_CONTAM_N - 1}, 1)),
               i -> array_to_string(list_slice(toks, i, i + {_CONTAM_N - 1}), ' ')
             ), x -> x <> '')) AS grams
      FROM t
    ),
    bench AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 10 = 0
    ),
    train_g AS (
      SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 10 != 0
    )
    SELECT train_g.doc_id,
           count(*)::BIGINT AS n_grams,
           count(bench.gram)::BIGINT AS n_hits
    FROM train_g LEFT JOIN bench ON train_g.gram = bench.gram
    GROUP BY train_g.doc_id
    HAVING count(bench.gram) >= 1
    """


@query("contamination_report", oracle=_CONTAM_ORACLE.format(toks=_TOKS_SQL))
def contamination_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/contamination.py): every tenth
    document plays the benchmark set; the rest is the training corpus.
    Per-train-doc count of distinct word 8-grams shared with the
    benchmark — the standard eval-hygiene pass. Gram keys are the gram
    strings, so the whole pipeline is exactly SQL-replayable."""
    from datawarehousefinal_spark.operators.contamination import (
        benchmark_grams,
        contamination_report,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    grams = benchmark_grams(bench, "text", _CONTAM_N)
    return contamination_report(train, grams, "doc_id", "text", _CONTAM_N)


_MIX_SHARES = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


_MIX_TOTAL = 60


_MIX_SEED = 42


_MIX_SPACE = float(1 << 60)


_MIX_CASE = "CASE source " + " ".join(
    f"WHEN '{s}' THEN {share}" for s, share in _MIX_SHARES.items()
) + " ELSE 0.0 END"


_MIX_ORACLE = f"""
    WITH counts AS (
      SELECT source, count(*)::DOUBLE AS n FROM documents GROUP BY source
    ),
    thr AS (
      SELECT source,
             CAST(floor(least(1.0, {_MIX_CASE} * {float(_MIX_TOTAL)} / n)
                  * {_MIX_SPACE}) AS BIGINT) AS t
      FROM counts
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr USING (source)
    WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':{_MIX_SEED}'), 1, 15))::BIGINT < t
    """


@query("rebalanced_mix", oracle=_MIX_ORACLE)
def rebalanced_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix rebalancing (operators/curation.rebalance_sources):
    downsample sources toward declared target shares with the
    DETERMINISTIC md5 sample hash — a pure function of (id, seed), so the
    exact surviving set is engine-independent and this query oracle-checks
    value-for-value against DuckDB (rand()-based sampling could only ever
    be rows-only). Map-only over the corpus; the only aggregation is the
    per-source count broadcast back as a threshold."""
    from datawarehousefinal_spark.operators.curation import rebalance_sources

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return rebalance_sources(
        docs, "doc_id", "source", _MIX_SHARES, _MIX_TOTAL, seed=_MIX_SEED
    )


@query(
    "seeded_shuffle_rank",
    oracle="""
    SELECT (row_number() OVER (ORDER BY md5(doc_id::VARCHAR || ':7'), doc_id)
            - 1)::BIGINT AS epoch_rank,
           doc_id
    FROM documents
    WHERE doc_id % 20 = 0
    """,
)
def seeded_shuffle_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle (operators/curation.
    seeded_shuffle): global order by md5(id:seed) — a pure function of
    (id, seed), so the permutation is identical across runs, partition
    layouts, and engines, and DuckDB reproduces it value-for-value (a
    rand() shuffle could never be oracled). The explicit rank column is
    requested at serving-shard granularity (1/20th of the corpus here) —
    the rank window is a single global partition by construction."""
    from datawarehousefinal_spark.operators.curation import seeded_shuffle

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id")
    )
    shuffled = seeded_shuffle(docs, "doc_id", seed=7, rank_col="epoch_rank")
    return shuffled.select(F.col("epoch_rank").cast("long"), "doc_id")


_PACK_BUDGET = 2048


@query(
    "sequence_pack_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len({_TOKS_SQL})::BIGINT AS n_tokens,
             md5(doc_id::VARCHAR || ':7') AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(floor((cum - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS chunk_id
    FROM c
    """,
)
def sequence_pack_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training (operators/packing.budgeted_chunks):
    the corpus in seeded-shuffle epoch order is cut into 2048-token
    sequential-fill chunks — each document's chunk is where its first
    token lands. The prefix sum underneath runs as the two-phase
    distributed cumsum (partition-local windows + a broadcast offset
    table, never a global single-partition window), and the oracle
    replays the identical assignment as one DuckDB window — verifying the
    distributed machinery value-for-value."""
    from datawarehousefinal_spark.operators.packing import budgeted_chunks
    from datawarehousefinal_spark.operators.textstats import whitespace_tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(whitespace_tokens("text")).cast("long").alias("n_tokens"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":7"))).alias("__h"),
    )
    packed = budgeted_chunks(
        docs, "doc_id", "n_tokens", _PACK_BUDGET, order_cols=["__h"]
    )
    return packed.select("doc_id", "n_tokens", "chunk_id")


_COVERAGE_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {{toks}} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_distinct(list_filter(list_transform(
               generate_series(1, greatest(len(toks) - {{nm1}}, 1)),
               i -> array_to_string(list_slice(toks, i, i + {{nm1}}), ' ')
             ), x -> x <> '')) AS grams
      FROM t
    ),
    eg AS (
      SELECT doc_id, unnest(grams) AS gram FROM g
    ),
    f AS (
      SELECT gram, count(*) AS df FROM eg GROUP BY 1
    )
    SELECT eg.doc_id,
           count(*)::BIGINT AS n_grams,
           count(CASE WHEN f.df >= 2 THEN 1 END)::BIGINT AS n_shared,
           count(CASE WHEN f.df >= 2 THEN 1 END) * 1.0 / count(*) AS coverage
    FROM eg JOIN f USING (gram)
    GROUP BY 1
    HAVING count(CASE WHEN f.df >= 2 THEN 1 END) >= 1
    """


@query(
    "ngram_coverage_report",
    oracle=_COVERAGE_ORACLE.format(toks=_TOKS_SQL, nm1=_CONTAM_N - 1),
)
def ngram_coverage_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal duplicate-n-gram coverage (dedup.ngram_coverage):
    per document, how many of its distinct word 8-grams appear in at
    least one OTHER document — the diagnostic that catches stitched/
    templated documents no pairwise near-dup threshold flags. Gram keys
    are the gram strings, for exact SQL replay. Reports only docs with
    n_shared >= 1 (the interesting tail)."""
    from datawarehousefinal_spark.operators.dedup import ngram_coverage

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return ngram_coverage(
        docs, "doc_id", "text", n=_CONTAM_N, min_shared=1
    )


_TOKEN_BUDGET = 1500


_SPLIT_THRESHOLD = int(0.8 * (1 << 60))


_BAND_TARGET = 40


@query(
    "length_band_rebalance",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, n_chars,
             CAST(floor(log2(greatest(n_chars::DOUBLE, 1.0))) AS INTEGER)
               AS band
      FROM documents
    ),
    c AS (SELECT band, count(*) AS n FROM b GROUP BY 1),
    t AS (SELECT band, least({_BAND_TARGET}.0 / n, 1.0) AS frac FROM c)
    SELECT b.band, b.doc_id, b.n_chars
    FROM b JOIN t USING (band)
    WHERE ('0x' || substr(md5(b.doc_id::VARCHAR || ':13'), 1, 15))::BIGINT
          < CAST(floor(frac * {float(1 << 60)!r}) AS BIGINT)
    """,
)
def length_band_rebalance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-stratified downsampling toward a flat per-band mix
    (curation.length_band_rebalance): log2 char-length bands, md5-hash
    sampling toward ~40 expected docs per band. Map-only over the
    corpus; one band-count aggregate broadcast back as thresholds."""
    from datawarehousefinal_spark.operators.curation import (
        length_band_rebalance,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return length_band_rebalance(
        docs, "doc_id", "n_chars", _BAND_TARGET, seed=13
    )


@query(
    "token_budget_sample",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len({_TOKS_SQL})::BIGINT AS n_tokens,
             ('0x' || substr(md5(doc_id::VARCHAR || ':11'), 1, 15))::BIGINT AS k
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, source, n_tokens FROM c
    WHERE cum - n_tokens < {_TOKEN_BUDGET}
    """,
)
def token_budget_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-source token-budget fill (curation.
    token_budget_sample): hash-ordered greedy take until ~1500 tokens per
    source. The md5 sample hash makes the exact surviving set
    engine-independent, so the oracle replays it value-for-value."""
    from datawarehousefinal_spark.operators.curation import token_budget_sample
    from datawarehousefinal_spark.operators.textstats import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tokens")
    )
    return token_budget_sample(
        docs, "doc_id", "source", "n_tokens", _TOKEN_BUDGET, seed=11
    )


@query(
    "leakage_safe_split",
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
    SELECT d.doc_id,
           CASE WHEN ('0x' || substr(md5(
                  coalesce(c.root, d.doc_id)::VARCHAR || ':42'), 1, 15)
                )::BIGINT < {_SPLIT_THRESHOLD}
                THEN 'train' ELSE 'eval' END AS split
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    """,
)
def leakage_safe_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware 80/20 split (curation.leakage_safe_split): cluster
    members share their component root's hash, so a near-copy can never
    straddle train/eval. Oracle replays components (recursive CTE over
    SQL-exact Jaccard pairs) + the md5 assignment."""
    from datawarehousefinal_spark.operators.curation import leakage_safe_split
    from datawarehousefinal_spark.operators.dedup import minhash_near_dupes

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dupes(
        docs, "doc_id", "text", 0.9, 16, 8, 2, _W, "xxhash64"
    ).select("id_a", "id_b")
    with leakage_safe_split(
        docs.select("doc_id"), "doc_id", pairs, train_frac=0.8, seed=42
    ) as out:
        return local_result(out.select("doc_id", "split"))


@query(
    "weighted_sample_docs",
    oracle="""
    SELECT doc_id, n_chars FROM documents
    WHERE n_chars IS NOT NULL AND n_chars > 0
    ORDER BY ln((CAST(concat('0x',
                 substr(md5(doc_id::VARCHAR || ':42'), 1, 15)) AS BIGINT)
                 + 0.5) / 1152921504606846976.0)
             / CAST(n_chars AS DOUBLE) DESC,
             doc_id
    LIMIT 200
    """,
)
def weighted_sample_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement, 200
    documents drawn proportional to length (the quality-weighted
    mixture draw): key = ln(u)/w on md5-hash randomness, n largest win
    — a pure function of (ids, weights, seed), so DuckDB replays the
    exact row set with the same arithmetic. TakeOrderedAndProject:
    local top-n per partition, no shuffle."""
    from datawarehousefinal_spark.operators.curation import (
        weighted_sample_exact,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample_exact(docs, "doc_id", "n_chars", 200)


@query(
    "temperature_rebalanced_mix",
    oracle="""
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    t AS (
      SELECT source, n, pow(CAST(n AS DOUBLE), 0.5) AS pw,
             sum(pow(CAST(n AS DOUBLE), 0.5)) OVER () AS spw
      FROM c
    ),
    thr AS (
      SELECT source,
             CAST(floor(least(1.0, 260.0 * pw / spw / n)
                        * 1152921504606846976.0) AS BIGINT) AS thr
      FROM t
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr USING (source)
    WHERE CAST(concat('0x',
               substr(md5(d.doc_id::VARCHAR || ':42'), 1, 15)) AS BIGINT)
          < thr
    """,
)
def temperature_rebalanced_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature mix over the 20-source corpus, budget 260: head
    sources are damped toward the tail's share (the multilingual-recipe
    p^α draw), selection via the deterministic hash filter — map-only
    over the corpus, normalizer windowed over the 20-row count frame.
    Oracle replays count→pow→threshold→hash arithmetic exactly."""
    from datawarehousefinal_spark.operators.curation import (
        temperature_rebalance,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = temperature_rebalance(docs, "doc_id", "source", 0.5, 260)
    return out.select("doc_id", "source")


# Shared DuckDB replay of the DSIR scorer (target = doc_id % 10 = 0,
# 4096 md5 buckets) — reused by the raw-score query and the resampled-mix
# report so the two oracles can never drift.
_DSIR_SCORES_CTES = f"""
    docs_t AS (SELECT doc_id, {_TOKS_SQL} AS l FROM documents),
    feats AS (
      SELECT doc_id, unnest(l) AS g FROM docs_t
      UNION ALL
      SELECT doc_id, l[i] || ' ' || l[i+1] AS g
      FROM docs_t, unnest(generate_series(1, len(l) - 1)) AS u(i)
    ),
    fb AS (
      SELECT doc_id,
             ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS bucket
      FROM feats
    ),
    tc AS (
      SELECT bucket, count(*)::BIGINT AS ct_t FROM fb
      WHERE doc_id % 10 = 0 GROUP BY 1
    ),
    rc AS (SELECT bucket, count(*)::BIGINT AS ct_r FROM fb GROUP BY 1),
    hb AS (
      SELECT doc_id, bucket, count(*)::BIGINT AS n_db FROM fb GROUP BY 1, 2
    ),
    j AS (
      SELECT hb.doc_id, hb.n_db,
             hb.n_db * (
               ln((coalesce(t.ct_t, 0) + 1.0)
                  / ((SELECT sum(ct_t) FROM tc) + 4096.0))
               - ln((coalesce(r.ct_r, 0) + 1.0)
                    / ((SELECT sum(ct_r) FROM rc) + 4096.0))
             ) AS lw
      FROM hb
      LEFT JOIN tc t ON hb.bucket = t.bucket
      LEFT JOIN rc r ON hb.bucket = r.bucket
    ),
    dsir_scores AS (
      SELECT doc_id, sum(n_db)::BIGINT AS n_feats, sum(lw) AS log_weight
      FROM j GROUP BY 1
    )
"""


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH {_DSIR_SCORES_CTES}
    SELECT doc_id, n_feats, log_weight
    FROM dsir_scores
    """,
    # per-doc log-ratio sum re-associates — serve-boundary contract
    round_cols=("log_weight",),
)
def dsir_importance_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling scores (Xie et al. 2023): every
    document's hashed uni+bigram bag scored by how much likelier it is
    under the target-domain feature distribution (docs with
    doc_id % 10 = 0 standing in as the trusted target sample) than
    under the raw pool's. The 4096-bucket md5 hashing bounds both
    distributions at a constant size regardless of corpus scale, so
    they broadcast and scoring is one map-side pass over the raw
    corpus; stream totals ride in a single-row scalar-broadcast cross
    join (curation.dsir_importance). Resample on exp(log_weight) with
    the deterministic weighted sampler to build the final mix."""
    from datawarehousefinal_spark.operators.curation import dsir_importance

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 10 == 0)
    with dsir_importance(docs, target, "doc_id", "text", n_buckets=4096) as out:
        return local_result(out)


@query(
    "dsir_resampled_mix",
    oracle=f"""
    WITH {_DSIR_SCORES_CTES},
    samp AS (
      SELECT doc_id FROM dsir_scores
      ORDER BY ln((('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 15))
                   ::BIGINT + 0.5) / 1152921504606846976.0)
               / exp(log_weight) DESC, doc_id
      LIMIT 200
    ),
    cm AS (
      SELECT source, count(*)::BIGINT AS n_docs_corpus
      FROM documents GROUP BY 1
    ),
    sm AS (
      SELECT d.source, count(*)::BIGINT AS n
      FROM documents d JOIN samp ON d.doc_id = samp.doc_id GROUP BY 1
    )
    SELECT cm.source, cm.n_docs_corpus,
           coalesce(sm.n, 0)::BIGINT AS n_docs_sampled,
           cm.n_docs_corpus::DOUBLE
             / (SELECT sum(n_docs_corpus) FROM cm) AS share_corpus,
           coalesce(sm.n, 0)::DOUBLE
             / (SELECT count(*) FROM samp) AS share_sampled
    FROM cm LEFT JOIN sm ON cm.source = sm.source
    """,
)
def dsir_resampled_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DSIR selection loop closed end-to-end (Xie et al. 2023
    §2): hashed-n-gram importance scores → exact-n Efraimidis–Spirakis
    weighted draw on exp(log_weight) (deterministic md5 randomness) →
    per-source mixture report showing how importance resampling shifts
    the corpus mix toward the target domain. Every stage is a pure
    function of (ids, text, seed), so the oracle replays score, draw,
    and mix verbatim. Scale shape: scoring is the broadcast map-side
    pass, the draw is TakeOrderedAndProject (local top-n, no shuffle),
    the mix is two source-cardinality aggregates — shares attach via a
    window over the handful-of-sources frame."""
    from pyspark.sql import Window

    from datawarehousefinal_spark.operators.curation import (
        dsir_importance,
        weighted_sample_exact,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    txt = docs.select("doc_id", "text")
    with dsir_importance(
        txt, txt.filter(F.col("doc_id") % 10 == 0), "doc_id", "text", 4096
    ) as scores:
        samp = weighted_sample_exact(
            scores.withColumn("w", F.exp("log_weight")), "doc_id", "w", 200
        ).select("doc_id")
        corpus_mix = docs.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs_corpus")
        )
        samp_mix = (
            docs.join(samp, "doc_id").groupBy("source").agg(
                F.count(F.lit(1)).alias("__n_s")
            )
        )
        w_all = Window.partitionBy()
        return local_result(
            corpus_mix.join(samp_mix, "source", "left")
            .withColumn("n_docs_sampled", F.coalesce("__n_s", F.lit(0)))
            .select(
                "source",
                "n_docs_corpus",
                "n_docs_sampled",
                (
                    F.col("n_docs_corpus").cast("double")
                    / F.sum("n_docs_corpus").over(w_all)
                ).alias("share_corpus"),
                (
                    F.col("n_docs_sampled").cast("double")
                    / F.sum("n_docs_sampled").over(w_all)
                ).alias("share_sampled"),
            )
        )


@query(
    "unimax_lang_mix",
    oracle="""
    WITH counts AS (
      SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang
    ),
    c AS (SELECT lang, n_docs, n_docs * 1.5 AS cap FROM counts),
    lv AS (
      SELECT lang, n_docs, cap,
             row_number() OVER (ORDER BY cap, lang) AS rn,
             sum(cap) OVER (ORDER BY cap, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumcap,
             count(*) OVER () AS n,
             sum(cap) OVER () AS totcap
      FROM c
    ),
    lv2 AS (SELECT *, cumcap + cap * (n - rn) AS tot_at FROM lv),
    lv3 AS (
      SELECT *,
             max(CASE WHEN tot_at <= 520.0 THEN rn END) OVER () AS sat_rn,
             max(CASE WHEN tot_at <= 520.0 THEN cumcap END) OVER () AS sat_cum
      FROM lv2
    ),
    alloc AS (
      SELECT lang, n_docs, cap,
             CASE WHEN totcap <= 520.0 THEN cap
                  ELSE least(cap, (520.0 - coalesce(sat_cum, 0.0))
                                    / (n - coalesce(sat_rn, 0))) END AS a
      FROM lv3
    )
    SELECT lang, n_docs, CAST(cap AS DOUBLE) AS cap,
           CAST(a AS DOUBLE) AS alloc,
           CAST(a / n_docs AS DOUBLE) AS epochs
    FROM alloc
    """,
)
def unimax_lang_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-sampling allocation (Chung et al. 2023): spread a
    520-example budget as uniformly as possible over the language groups,
    capping every language at 1.5 epochs of its own data — closed-form
    water-filling computed entirely with window functions over the
    one-row-per-language count frame (the corpus collapses to that frame
    in one partial-agg pass; no iteration, no collect). The oracle
    replays the identical cumulative-cap windows and level algebra."""
    from datawarehousefinal_spark.operators.curation import unimax_allocation

    docs = load_table(spark, sf_dir, "documents")
    return unimax_allocation(docs, "lang", budget=520, epoch_cap=1.5)


@query(
    "curriculum_schedule",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
    sc AS (
      SELECT doc_id,
             0.5 * least(length(text)::DOUBLE / 1000.0, 1.0)
             + 0.5 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
                        ::DOUBLE / length(text)) AS score
      FROM d
    ),
    r AS (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score, doc_id) AS rn,
             count(*) OVER () AS n
      FROM sc
    ),
    p AS (SELECT (1 + ((rn - 1) * 5) // n)::INT AS phase, score FROM r)
    SELECT phase, count(*)::BIGINT AS n_docs,
           min(score) AS min_score, max(score) AS max_score,
           sum(score) / count(*) AS mean_score
    FROM p GROUP BY 1
    """,
)
def curriculum_schedule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum scheduling for LLM training data: order documents by
    a deterministic quality score (length ramp + alphabetic ratio —
    pure column arithmetic, no transcendentals) and cut the corpus into
    5 ascending-difficulty phases via the distributed-rank ntile
    (doc_id tie-break). Reports per-phase counts and score stats — the
    manifest a data loader consumes to schedule epochs easy→hard.
    Beyond-reference (LLM pipeline surface); the score formula is the
    same shape as the curation funnel's quality rule."""
    from datawarehousefinal_spark.operators.retail import deterministic_ntile

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z ]", "")).cast(
        "double"
    ) / F.length("text")
    score = (
        F.lit(0.5) * F.least(F.length("text").cast("double") / 1000.0, F.lit(1.0))
        + F.lit(0.5) * alpha
    )
    sc = docs.select("doc_id", score.alias("score"))
    phased = deterministic_ntile(sc, ["score", "doc_id"], 5, "phase")
    return phased.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
        (F.sum("score") / F.count(F.lit(1))).alias("mean_score"),
    )


_ALPHA_SQL = (
    "(length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE"
    " / length(text))"
)


@query(
    "domain_reweight_mix",
    oracle=f"""
    WITH d AS (
      SELECT source, 1 - {_ALPHA_SQL} AS loss
      FROM documents WHERE length(text) > 0
    ),
    per AS (
      SELECT source AS domain, count(*)::BIGINT AS n_docs, sum(loss) AS s
      FROM d GROUP BY 1
    ),
    tot AS (
      SELECT sum(n_docs)::BIGINT AS n, min(s / n_docs) AS ml FROM per
    ),
    w AS (
      SELECT domain, n_docs,
             n_docs / n AS share,
             s / n_docs AS mean_loss,
             (n_docs / n) * exp(CAST(1.0 AS DOUBLE) * (s / n_docs - ml)) AS raw
      FROM per, tot
    ),
    z AS (SELECT sum(raw) AS z FROM w)
    SELECT domain, n_docs, share,
           mean_loss,
           raw / z AS new_weight
    FROM w, z
    """,
    # per-domain loss sums re-associate (flaked once per ~3 sweeps at
    # full precision); 9 dp — weights are ~1e-2 magnitude — contract
    round_cols=("mean_loss", "new_weight"),
    digits=9,
)
def domain_reweight_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style exponentiated-gradient reweighting step over the
    per-source corpus mix: sources whose mean loss proxy (here
    1 − alphabetic ratio) exceeds the best source's get upweighted
    relative to their share, producing the next epoch's sampling
    weights (operators/curation.py:domain_reweight). Reduces to one
    domain-keyed aggregate plus |domains|-row arithmetic — no per-row
    exp, no second pass."""
    from datawarehousefinal_spark.operators.curation import domain_reweight

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z ]", "")).cast(
        "double"
    ) / F.length("text")
    scored = docs.select("source", (F.lit(1) - alpha).alias("loss"))

    out = domain_reweight(scored, "source", "loss", eta=1.0)
    return out


@query(
    "loo_source_influence",
    oracle=f"""
    WITH d AS (
      SELECT source, {_ALPHA_SQL} AS score
      FROM documents WHERE length(text) > 0
    ),
    per AS (
      SELECT source AS "group", count(*)::BIGINT AS n_docs, sum(score) AS s
      FROM d GROUP BY 1
    ),
    tot AS (SELECT sum(n_docs)::BIGINT AS n, sum(s) AS ts FROM per)
    SELECT "group", n_docs,
           s / n_docs AS group_mean,
           ts / n - (ts - s) / (n - n_docs) AS influence
    FROM per, tot
    """,
)
def loo_source_influence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-group-out data attribution: how much each source's
    removal would move the corpus-level mean quality score — computed
    algebraically from per-source (count, sum) aggregates, so the N−1
    "retrain" costs nothing (operators/curation.py:loo_group_influence).
    The screening pass that decides which source to drop or downweight
    before any expensive mix experiment."""
    from datawarehousefinal_spark.operators.curation import (
        loo_group_influence,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z ]", "")).cast(
        "double"
    ) / F.length("text")
    scored = docs.select("source", alpha.alias("score"))
    return loo_group_influence(scored, "source", "score")
