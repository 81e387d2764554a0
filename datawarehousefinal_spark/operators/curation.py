"""End-to-end corpus curation — the LLM-training-data pipeline composed
from this engine's own operators, the way the star-ETL composition
(operators/star.py + tests/test_star_etl.py) composes the warehouse side.

Stage order is the standard funnel (cheap row-local filters first, the
expensive pairwise stage last, on the smallest surviving set):

1. rule filters — length bounds and quality score, with the language
   prediction attached (textstats; all codegen, one pass)
2. exact dedup — content-hash keep-first (dedup.exact_dedup)
3. near-dup dedup — MinHash-LSH candidate pairs resolved to one survivor
   per connected component (graph.resolve_duplicates)
4. deterministic train/val split — seeded hash bucket on the id, so the
   assignment is reproducible across runs and engines and never needs a
   stored split table

Every stage count lands in a FUNNEL REPORT built as a lazy union of
per-stage aggregates — no driver-side ``count()``/``collect()``; the
report is one DataFrame the caller materializes once.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datawarehousefinal_spark.materialize import materialized
from datawarehousefinal_spark.operators.dedup import _fan_out, exact_dedup
from datawarehousefinal_spark.operators.textstats import (
    language_id,
    quality_score,
)


@contextmanager
def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 20,
    max_chars: int = 1_000_000,
    min_quality: float = 0.3,
    near_dup_threshold: float = 0.9,
    num_hashes: int = 16,
    bands: int = 8,
    rows_per_band: int = 2,
    shingle_width: int = 5,
    val_pct: int = 1,
    seed: int = 42,
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """Run the full curation funnel; yields ``(curated, report)``.

    The near-dup stage resolves MinHash candidate pairs through
    :func:`operators.graph.resolve_duplicates` — connected components
    over the pair graph, exactly one survivor (min id) per duplicate
    CLUSTER, so a chain A~B~C collapses to one document even when A and
    C are not near-dups themselves.

    ``curated`` is the surviving corpus with two added columns:
    ``lang_pred`` and ``split`` ('train' / 'val' by seeded hash bucket —
    ``val_pct`` of 100 buckets go to val). ``report`` is the lazy funnel
    frame ``(stage, n_rows)``, one row per stage in order.

    ``bands × rows_per_band`` must fit within ``num_hashes`` (validated
    by the banding layer with an explicit error) — lowering ``num_hashes``
    below 16 requires lowering the banding parameters with it.

    A context manager: the rule, exact-dedup and near-dedup survivors
    are persisted for the block, because each stage's frame feeds both
    the next stage and the report, and the near-dup stage scans its
    input several times. They are released on exit, so materialize
    what you need inside the block.
    """
    length_ok = docs.filter(
        (F.length(text_col) >= min_chars) & (F.length(text_col) <= max_chars)
    )
    # _fan_out: the language-ID / quality-score expressions are CPU-bound
    # higher-order functions; a compact one-file corpus would otherwise
    # score on one core (measured 4.3 s -> sub-second at sf0.1).
    scored = _fan_out(length_ok).withColumn(
        "lang_pred", language_id(text_col)
    ).withColumn(
        "__q", quality_score(text_col)
    )
    rules = scored.filter(F.col("__q") >= min_quality)

    @contextmanager
    def near_dedup(exact: DataFrame) -> Iterator[DataFrame]:
        from datawarehousefinal_spark.operators.dedup import minhash_near_dupes
        from datawarehousefinal_spark.operators.graph import resolve_duplicates

        pairs = minhash_near_dupes(
            exact,
            id_col,
            text_col,
            near_dup_threshold,
            num_hashes,
            bands,
            rows_per_band,
            shingle_width,
        ).select("id_a", "id_b")
        with resolve_duplicates(exact, pairs, id_col) as near:
            yield near

    with (
        materialized(rules.drop("__q")) as rules,
        materialized(
            exact_dedup(rules, text_col, [id_col], keep_count_col=None)
        ) as exact,
        near_dedup(exact) as near,
        materialized(near) as near,
    ):
        bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(100))
        curated = near.withColumn(
            "split", F.when(bucket < val_pct, F.lit("val")).otherwise(F.lit("train"))
        )

        stages = [
            ("00_input", docs),
            ("01_length", length_ok),
            ("02_rules", rules),
            ("03_exact_dedup", exact),
            ("04_near_dedup", near),
        ]
        report = None
        for name, frame in stages:
            row = frame.agg(F.count(F.lit(1)).alias("n_rows")).select(
                F.lit(name).alias("stage"), "n_rows"
            )
            report = row if report is None else report.unionByName(row)
        yield curated, report


# ---------------------------------------------------------------------------
# Deterministic sampling / training-mix rebalancing
# ---------------------------------------------------------------------------

# 60 bits of md5 → uniform integer in [0, 2^60). Engine-independent
# (byte-identical in DuckDB/Postgres via ('0x' || substr(md5(s),1,15))),
# so sampling decisions are exactly reproducible across engines, Spark
# versions, and partitionings — unlike rand(seed), whose stream depends
# on row order within partitions.
_HASH_SPACE = 1 << 60


def sample_hash(id_col, seed: int = 42):
    """Uniform [0, 2^60) integer derived from md5(id ':' seed)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    tagged = F.concat(c.cast("string"), F.lit(f":{seed}"))
    return F.conv(F.substring(F.md5(tagged), 1, 15), 16, 10).cast("long")


def deterministic_sample(
    df: DataFrame, id_col: str, fraction: float, seed: int = 42
) -> DataFrame:
    """Keep rows whose sample hash falls below ``fraction`` of the hash
    space — a map-only, shuffle-free Bernoulli sample that is a pure
    function of (id, seed): stable under re-runs, repartitioning, and
    engine changes, and nested (a 10% sample is a subset of the 20%
    sample at the same seed), which rand(seed) sampling guarantees none
    of."""
    threshold = int(fraction * _HASH_SPACE)
    return df.filter(sample_hash(id_col, seed) < F.lit(threshold))


def deterministic_sample_exact(
    df: DataFrame, id_col: str, n: int, seed: int = 42
) -> DataFrame:
    """Exact-``n`` deterministic sample: the ``n`` rows with the smallest
    md5(id ':' seed) keys (ties — 2^-128 events — break on the id).

    A pure function of (ids, seed): stable under re-runs, repartitioning,
    and engines — and therefore SQL-replayable (``ORDER BY md5(...)
    LIMIT n``), unlike the rand-ordered exact sample whose order no
    other engine can reproduce. Physically TakeOrderedAndProject:
    each partition keeps its local top-n, the driver merges — no
    shuffle, no full sort. Nested like :func:`deterministic_sample`:
    the top-100 is a subset of the top-200 at the same seed."""
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    return df.orderBy(key, F.col(id_col)).limit(n)


def seeded_shuffle(
    df: DataFrame,
    id_col: str,
    seed: int = 42,
    rank_col: str | None = None,
) -> DataFrame:
    """Deterministic global shuffle — the order a training run reads the
    corpus in.

    Rows are totally ordered by ``md5(id ':' seed)`` (ties — 2^-128
    events — break on the id): a pure function of (id, seed), so the
    epoch order is stable under re-runs, repartitioning, executor counts,
    and engine changes, and a new ``seed`` is a fresh epoch permutation
    with zero re-materialization. ``rand()``-based shuffles guarantee
    none of that. Cost is the one range-partitioned sort the semantics
    require — there is no cheaper global shuffle — and writers typically
    fuse it with the final sink (sorted parquet out).

    ``rank_col`` additionally materializes the explicit 0-based position
    via ``row_number`` over the same order, for consumers that need a
    shuffle index (e.g. resumable readers). The rank window runs over the
    single global order — Spark executes it as one partition — so only
    ask for it at serving-shard granularity, not over the raw corpus.
    """
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    out = df.withColumn("__shuffle_key", key)
    if rank_col is not None:
        w = Window.orderBy("__shuffle_key", id_col)
        out = out.withColumn(rank_col, F.row_number().over(w) - F.lit(1))
    return out.orderBy("__shuffle_key", id_col).drop("__shuffle_key")


def rebalance_sources(
    df: DataFrame,
    id_col: str,
    source_col: str,
    target_shares: dict[str, float],
    target_total: int,
    seed: int = 42,
) -> DataFrame:
    """Training-mix rebalancing: downsample each source toward
    ``target_shares`` (source → share of ``target_total``), keeping every
    row of sources that are already under their quota.

    One aggregation for per-source counts (a few rows — broadcast back),
    then a map-only hash filter: per-source keep-fraction
    ``min(1, share·total/count)`` applied via the deterministic sample
    hash. Expected output size per source is ``min(count, share·total)``;
    like all Bernoulli sampling the realized count varies by O(√n), which
    is what a data-mixing pass wants (exact-n would need a per-source
    sort). No shuffle of the corpus itself.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    share = F.create_map(
        *[F.lit(x) for kv in target_shares.items() for x in kv]
    )
    fractions = counts.select(
        source_col,
        F.least(
            F.lit(1.0),
            F.coalesce(share[F.col(source_col)], F.lit(0.0))
            * F.lit(float(target_total))
            / F.col("__n"),
        ).alias("__frac"),
    )
    thresholded = fractions.withColumn(
        "__thr", F.floor(F.col("__frac") * F.lit(float(_HASH_SPACE))).cast("long")
    ).drop("__frac")
    return (
        df.join(F.broadcast(thresholded), source_col)
        .filter(sample_hash(id_col, seed) < F.col("__thr"))
        .drop("__thr")
    )


def weighted_sample_exact(
    df: DataFrame, id_col: str, weight_col: str, n: int, seed: int = 42
) -> DataFrame:
    """Exact-``n`` weighted sampling WITHOUT replacement — the
    Efraimidis–Spirakis A-ES scheme (public: Inf. Proc. Letters 2006)
    on deterministic hash randomness: each row gets the key
    ``ln(u) / w`` with ``u = (sample_hash(id, seed) + 0.5) / 2^60``,
    and the ``n`` LARGEST keys win (higher weight pulls the key toward
    zero). Inclusion probability is proportional-to-weight in the
    without-replacement sense; the sample at ``n`` is nested inside the
    sample at ``n+1`` for the same seed (the key order is fixed).

    The training-data use: sample documents proportional to a quality
    or length score when building a mixture, reproducibly — a pure
    function of (ids, weights, seed), stable under re-runs and
    repartitioning, so an external engine can replay the exact row set
    (``ORDER BY ln(u)/w DESC LIMIT n``).

    Physically TakeOrderedAndProject: per-partition local top-n, driver
    merge — no shuffle, no full sort. Rows with NULL or non-positive
    weight are excluded (they cannot be drawn — A-ES is defined for
    w > 0).
    """
    u = (sample_hash(id_col, seed).cast("double") + F.lit(0.5)) / F.lit(
        float(_HASH_SPACE)
    )
    w = F.col(weight_col).cast("double")
    key = F.log(u) / w
    return (
        df.filter(w.isNotNull() & (w > 0))
        .orderBy(key.desc(), F.col(id_col))
        .limit(n)
    )


def temperature_rebalance(
    df: DataFrame,
    id_col: str,
    source_col: str,
    alpha: float,
    target_total: int,
    seed: int = 42,
) -> DataFrame:
    """Temperature-based mixture rebalancing — the multilingual /
    multi-source pretraining mix (public: the p^α sampling of the
    multilingual BERT/XLM-R recipes): target share of source ``s`` is
    ``n_s^α / Σ n^α``, so ``α=1`` keeps natural proportions, ``α=0``
    flattens to uniform, and intermediate values damp head sources
    while boosting the tail.

    Downsample-only (without-replacement engine): the per-source keep
    fraction is ``min(1, target_s / n_s)`` — a tail source whose quota
    exceeds its row count keeps every row rather than duplicating
    (upsampling is an epoch-scheduling decision, not a row transform).
    Mechanics follow :func:`rebalance_sources`: one tiny per-source
    count aggregate (the Σ n^α normalizer is a window over that
    sources-count-sized frame — single task on a handful of rows, never
    the corpus), thresholds broadcast back, then a map-only
    deterministic hash filter. No corpus shuffle; replayable by any
    engine.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    pw = F.pow(F.col("__n").cast("double"), F.lit(float(alpha)))
    norm = counts.select(
        F.col(source_col),
        F.col("__n"),
        pw.alias("__pw"),
        F.sum(pw).over(Window.partitionBy()).alias("__spw"),
    )
    frac = F.least(
        F.lit(1.0),
        F.lit(float(target_total)) * F.col("__pw") / F.col("__spw") / F.col("__n"),
    )
    thresholded = norm.select(
        source_col,
        F.floor(frac * F.lit(float(_HASH_SPACE))).cast("long").alias("__thr"),
    )
    return (
        df.join(F.broadcast(thresholded), source_col)
        .filter(sample_hash(id_col, seed) < F.col("__thr"))
        .drop("__thr")
    )


def token_budget_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    token_col: str,
    budget: int,
    seed: int = 42,
) -> DataFrame:
    """Greedy per-group token-budget fill — "give me ~N tokens from every
    source": rows are taken in deterministic ``sample_hash`` order until
    the group's running token total reaches ``budget`` (a row is kept
    while the total BEFORE it is still under budget, so every non-empty
    group yields at least one row and overshoots by at most one
    document).

    The selection is a pure function of (ids, seed, token counts): stable
    across runs, partitionings, and engines — which makes a token-budget
    mix REPRODUCIBLE, the property training-data curation actually needs.
    One window (cumulative sum) per group; the sort key is the hash, so
    no skew beyond the group sizes themselves.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(sample_hash(id_col, seed), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col).cast("long")).over(w)
    return (
        df.withColumn("__cum", cum)
        .filter(F.col("__cum") - F.col(token_col) < F.lit(int(budget)))
        .drop("__cum")
    )


@contextmanager
def leakage_safe_split(
    docs: DataFrame,
    id_col: str,
    pairs: DataFrame,
    train_frac: float = 0.8,
    seed: int = 42,
    split_col: str = "split",
) -> Iterator[DataFrame]:
    """Near-dup-aware train/eval split: every member of a near-duplicate
    cluster lands on the SAME side, killing the classic eval-leakage bug
    (a test doc whose near-copy sits in train). ``pairs`` is any
    near-dup pair list (MinHash-LSH at scale); the split key is the
    cluster representative (connected-component root, the doc itself if
    untouched), hashed with the deterministic ``sample_hash`` so the
    assignment is reproducible and engine-replayable.

    Cost: the components iteration runs over the PAIR list only (the
    removed fraction); the corpus itself sees one left join against the
    small component map and a map-only hash filter. Yields the split.
    """
    from datawarehousefinal_spark.operators.graph import connected_components

    threshold = int(train_frac * _HASH_SPACE)
    root = F.coalesce(F.col("__root"), F.col(id_col))
    with connected_components(pairs.select("id_a", "id_b")) as comp:
        roots = comp.select(
            F.col("id").alias(id_col), F.col("component").alias("__root")
        )
        yield (
            docs.join(roots, id_col, "left")
            .withColumn(
                split_col,
                F.when(
                    sample_hash(root, seed) < F.lit(threshold), F.lit("train")
                ).otherwise(F.lit("eval")),
            )
            .drop("__root")
        )


def length_band_rebalance(
    df: DataFrame,
    id_col: str,
    value_col: str,
    per_band_target: int,
    seed: int = 42,
    band_col: str = "band",
) -> DataFrame:
    """Length-stratified rebalancing: rows are banded by
    ``floor(log2(value))`` (doc length, token count, ...) and each band
    is ``sample_hash``-downsampled toward ``per_band_target`` EXPECTED
    rows — so a skewed length distribution comes out flat across bands
    instead of letting the dominant band drown the tails (short docs
    swamping long-context training data is the canonical case). Bands
    already at or under target pass through whole.

    Banding by a derived categorical (not ntile) is the scale choice: a
    global ntile needs a single-partition sort over the corpus, while
    the log band is a map-only expression. Cost: one map-side-combined
    band count, broadcast back as per-band thresholds; the corpus itself
    is filtered map-only. Engine-replayable like every sample here.

    Output: input columns plus ``band_col`` (int).
    """
    v = F.col(value_col).cast("double")
    band = F.floor(F.log2(F.greatest(v, F.lit(1.0)))).cast("int")
    banded = df.withColumn(band_col, band)
    counts = banded.groupBy(band_col).agg(F.count(F.lit(1)).alias("__n"))
    thr = counts.select(
        band_col,
        F.least(
            F.lit(float(per_band_target)) / F.col("__n"), F.lit(1.0)
        ).alias("__frac"),
    )
    return (
        banded.join(F.broadcast(thr), band_col)
        .filter(
            # explicit floor: Spark's double->long cast truncates but
            # DuckDB's rounds — floor on both sides keeps the threshold
            # bit-identical for the oracle replay
            sample_hash(id_col, seed)
            < F.floor(F.col("__frac") * F.lit(float(_HASH_SPACE))).cast("long")
        )
        .drop("__frac")
    )


def group_sample_exact(
    df: DataFrame,
    id_col: str,
    group_col: str,
    n: int,
    seed: int = 42,
) -> DataFrame:
    """Exact-``n``-per-group deterministic sample: within each group the
    ``n`` rows with the smallest md5 sample keys (ties break on id) —
    balanced few-shot/eval selection that is a pure function of
    (ids, seed), nested across n, and engine-replayable, none of which
    a rand()-ordered row_number gives you.

    One window per group ordered on the hash — the sort key is uniform,
    so no skew beyond the group sizes; groups smaller than ``n`` pass
    through whole (the SQL row_number semantics, no padding).
    """
    w = Window.partitionBy(group_col).orderBy(
        sample_hash(id_col, seed), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(n))
        .drop("__rn")
    )


def entity_sample(
    df: DataFrame,
    entity_col: str,
    fraction: float,
    seed: int = 42,
) -> DataFrame:
    """ENTITY-COMPLETE sampling: keep every row of a deterministic
    ``fraction`` of entities (users/sessions/documents) — the sampling
    contract behavioral analysis actually needs (row-level sampling
    shreds sessions and funnels: a user with half their events missing
    looks like a bouncer). The entity keeps or drops ATOMICALLY based
    on its id hash, so the sample is a pure function of (entity, seed):
    stable across re-runs and engines, nested across fractions, and
    JOIN-CONSISTENT — two tables sampled with the same entity column,
    fraction, and seed keep the SAME entities, so downstream joins
    still line up.

    Map-only (one hash filter pushed at the scan) — no shuffle, no
    distinct, no entity list materialized anywhere. Mechanically this
    IS :func:`deterministic_sample` pointed at a non-unique key — the
    atomic-per-entity semantics fall out of the hash being a function
    of the entity id alone; this alias exists so callers state the
    contract they rely on.
    """
    return deterministic_sample(df, entity_col, fraction, seed)


def stratified_sample_exact(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fraction: float,
    seed: int = 42,
) -> DataFrame:
    """EXACT-fraction stratified sample: every stratum keeps exactly
    ``ceil(fraction · |stratum|)`` rows (the smallest md5 sample keys,
    id tie-break) — the deterministic upgrade of ``sampleBy``, whose
    per-stratum counts are binomial noise. A pure function of
    (ids, seed): re-runs, repartitioning, and engines all agree, and
    the kept set is NESTED across fractions (the 10% sample is a subset
    of the 20% at the same seed).

    One window per stratum on the uniform hash key plus a same-window
    count — a single shuffle; skew is bounded by the largest stratum,
    same as any per-group operator.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    w = Window.partitionBy(strata_col).orderBy(
        sample_hash(id_col, seed), F.col(id_col)
    )
    wc = Window.partitionBy(strata_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__cnt", F.count(F.lit(1)).over(wc))
        .filter(F.col("__rn") <= F.ceil(F.col("__cnt") * F.lit(fraction)))
        .drop("__rn", "__cnt")
    )


def stratified_split_exact(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fraction: float,
    seed: int = 42,
    flag_col: str = "is_train",
) -> DataFrame:
    """EXACT-fraction stratified SPLIT: every row of ``df`` comes back
    with a boolean ``flag_col`` — true for the ``ceil(fraction · n)``
    rows per stratum that :func:`stratified_sample_exact` would keep,
    false for the complement. Same kept set, same determinism/nesting
    contract, but the complement is produced IN THE SAME window pass
    instead of an anti-join back onto the input — a split should cost
    one shuffle, not two; at corpus scale the anti-join re-shuffles the
    whole table a second time for information the window rank already
    computed.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    w = Window.partitionBy(strata_col).orderBy(
        sample_hash(id_col, seed), F.col(id_col)
    )
    wc = Window.partitionBy(strata_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__cnt", F.count(F.lit(1)).over(wc))
        .withColumn(
            flag_col,
            F.col("__rn") <= F.ceil(F.col("__cnt") * F.lit(fraction)),
        )
        .drop("__rn", "__cnt")
    )


@contextmanager
def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 4096,
) -> Iterator[DataFrame]:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how much more likely its hashed-n-gram bag is under the
    TARGET domain's feature distribution than under the raw pool's —
    ``log w(x) = Σ_f [ln p̂_target(f) − ln q̂_raw(f)]`` over the
    document's word uni+bigram features hashed into ``n_buckets``
    md5 buckets (add-one smoothing on both distributions).

    The hashing is the scale lever: both distributions are EXACTLY
    ``n_buckets`` rows no matter how big the corpora are, so they are
    deliberately ``broadcast()`` — scoring 100 TB is one map-side join
    pass, no shuffle of the raw corpus. The two stream totals ride in a
    single-row aggregate cross-joined onto the scored stream (the
    bounded scalar-broadcast pattern; attaching totals to the count
    frames instead would silently turn them into 0 for buckets the
    stream never hit). md5-derived buckets replay bit-for-bit in the
    SQL oracle (same pattern as :func:`sample_hash`).

    Output: ``id_col, n_feats, log_weight`` — one row per raw document
    with at least one token; resample with
    :func:`weighted_sample_exact` on ``exp(log_weight)`` or threshold
    on ``log_weight`` directly.

    A context manager: the yielded frame is a lazy, composable,
    never-collected plan over two frames persisted for the block (the
    per-document histogram and the target distribution) and released
    on exit, so materialize what you need inside the block.
    """
    from datawarehousefinal_spark.operators.textstats import (
        whitespace_tokens,
        word_bigrams,
    )

    def feats(df: DataFrame, with_id: bool) -> DataFrame:
        grams = F.concat(
            whitespace_tokens(text_col),
            F.transform(
                word_bigrams(text_col),
                lambda bg: F.concat_ws(" ", bg["w1"], bg["w2"]),
            ),
        )
        cols = [F.col(id_col)] if with_id else []
        exploded = _fan_out(df).select(
            *cols, F.explode(grams).alias("__g")
        )
        return exploded.withColumn(
            "bucket",
            F.conv(F.substring(F.md5("__g"), 1, 15), 16, 10).cast("long")
            % n_buckets,
        ).drop("__g")

    # One explode pass over the raw corpus, collapsed IMMEDIATELY into the
    # per-document bucket histogram — every downstream consumer (the raw
    # distribution, its total, and the scoring aggregate) derives from this
    # compact frame (≤ n_docs × n_buckets rows, in practice ~n_feats/doc),
    # so the token stream is never shuffled and never scanned twice.
    # Pinned for the block: hist has THREE lazy consumers (the scored
    # main side, the q_r broadcast build, and q_r's total inside the
    # scalar cross join), and p_t has two (broadcast build + total), so
    # unpinned one action would re-run the uni+bigram explode of the raw
    # corpus three times and of the target twice.
    with (
        materialized(
            feats(raw, with_id=True)
            .groupBy(id_col, "bucket")
            .agg(F.count(F.lit(1)).alias("n_db"))
        ) as hist,
        materialized(
            feats(target, with_id=False)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("ct_t"))
        ) as p_t,
    ):
        q_r = hist.groupBy("bucket").agg(F.sum("n_db").alias("ct_r"))
        totals = p_t.agg(F.sum("ct_t").alias("tot_t")).crossJoin(
            q_r.agg(F.sum("ct_r").alias("tot_r"))
        )
        scored = (
            hist.join(F.broadcast(p_t), "bucket", "left")
            .join(F.broadcast(q_r), "bucket", "left")
            .crossJoin(F.broadcast(totals))
            .withColumn(
                "__lw",
                F.col("n_db").cast("double")
                * (
                    F.log(
                        (F.coalesce("ct_t", F.lit(0)) + F.lit(1.0))
                        / (F.col("tot_t") + F.lit(float(n_buckets)))
                    )
                    - F.log(
                        (F.coalesce("ct_r", F.lit(0)) + F.lit(1.0))
                        / (F.col("tot_r") + F.lit(float(n_buckets)))
                    )
                ),
            )
        )
        yield scored.groupBy(id_col).agg(
            F.sum("n_db").alias("n_feats"),
            F.sum("__lw").alias("log_weight"),
        )


def unimax_allocation(
    df: DataFrame,
    group_col: str,
    budget: int,
    epoch_cap: float = 2.0,
) -> DataFrame:
    """UniMax sampling allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): spread a total example ``budget`` as UNIFORMLY as
    possible across groups (languages / sources), capping every group at
    ``epoch_cap`` passes over its own data — small groups stop at their
    epoch cap, the remaining budget water-fills uniformly over the rest.
    This is the principled alternative to temperature sampling
    (:func:`temperature_rebalance`): no tuned exponent, and no group ever
    repeats more than ``epoch_cap`` epochs.

    Closed-form water-filling, no iteration: with per-group caps
    ``cap_g = epoch_cap · n_g`` sorted ascending, the water level ``s``
    solves ``Σ min(cap_g, s) = budget``; the total-at-level function is
    piecewise linear in ``s``, so ``s`` falls out of one cumulative-sum
    window over the (tiny, one row per group) count frame. The corpus
    itself collapses to that count frame in a single partial-agg pass —
    at 100 TB the water-filling runs on rows = number of languages.
    The global window is over the group frame only (bounded by
    contract), never the corpus.

    Output, one row per group: ``group_col, n_docs (long), cap
    (double), alloc (double), epochs (double = alloc / n_docs)``.
    ``Σ alloc = min(budget, Σ cap)`` exactly (up to float division);
    draw the per-group rows with :func:`group_sample_exact` on
    ``floor(alloc)`` or weight repetition by ``epochs`` downstream.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    if epoch_cap <= 0:
        raise ValueError("epoch_cap must be positive")
    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    c = counts.withColumn(
        "cap", F.col("n_docs").cast("double") * F.lit(float(epoch_cap))
    )
    # Tiny frame: one row per group. The unpartitioned windows below are
    # deliberate (bounded by the group-count contract, like the fuzzy
    # closest-match pair frame) — cumulative cap in (cap, group) order,
    # plus frame-wide totals.
    wo = Window.orderBy("cap", group_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    lv = (
        c.withColumn("__rn", F.row_number().over(Window.orderBy("cap", group_col)))
        .withColumn("__cumcap", F.sum("cap").over(wo))
        .withColumn("__n", F.count(F.lit(1)).over(wall))
        .withColumn("__totcap", F.sum("cap").over(wall))
        # Total drawn if the water level sat exactly at THIS group's cap:
        # groups up to here saturated, the rest each at cap_this.
        .withColumn(
            "__tot_at",
            F.col("__cumcap") + F.col("cap") * (F.col("__n") - F.col("__rn")),
        )
        # Highest fully-saturated prefix: the last rank whose cap-level
        # total still fits the budget.
        .withColumn(
            "__sat_rn",
            F.max(
                F.when(F.col("__tot_at") <= F.lit(float(budget)), F.col("__rn"))
            ).over(wall),
        )
        .withColumn(
            "__sat_cum",
            F.max(
                F.when(
                    F.col("__tot_at") <= F.lit(float(budget)), F.col("__cumcap")
                )
            ).over(wall),
        )
        .withColumn(
            "__level",
            F.when(F.col("__totcap") <= F.lit(float(budget)), F.col("__totcap"))
            .otherwise(
                (F.lit(float(budget)) - F.coalesce("__sat_cum", F.lit(0.0)))
                / (F.col("__n") - F.coalesce("__sat_rn", F.lit(0)))
            ),
        )
    )
    alloc = F.when(
        F.col("__totcap") <= F.lit(float(budget)), F.col("cap")
    ).otherwise(F.least(F.col("cap"), F.col("__level")))
    return lv.select(
        group_col,
        "n_docs",
        F.col("cap").cast("double"),
        alloc.cast("double").alias("alloc"),
        (alloc / F.col("n_docs")).cast("double").alias("epochs"),
    )


def domain_reweight(
    scored: DataFrame,
    domain_col: str,
    loss_col: str,
    eta: float = 1.0,
) -> DataFrame:
    """One exponentiated-gradient step of DoReMi-style domain
    reweighting: domains whose loss exceeds the best domain's get
    upweighted relative to their corpus share, giving the next
    epoch's sampling mix (Xie et al. 2023, "DoReMi", arXiv:2305.10429 —
    the single-step deterministic form over precomputed per-example
    losses).

    new_weight_i ∝ share_i * exp(eta * (loss_i - min_loss)), normalized
    to sum 1. Everything reduces to per-domain (count, loss sum)
    aggregates — one map-side-combined shuffle on the domain key, then a
    |domains|-row frame where the exp/normalize arithmetic runs; no
    per-row exp, no skew surface. SQL-replayable: the oracle replays the
    identical expression tree (exp differs ≤1 ulp cross-engine; the
    outputs are well-conditioned ratios, far inside the driver hash's
    6-significant-digit rounding).

    Output: domain, n_docs, share, mean_loss, new_weight.
    """
    per = scored.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(loss_col).alias("__loss_sum"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("__n"), F.min(F.col("__loss_sum") / F.col("n_docs")).alias("__min_loss")
    )
    w = per.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_docs",
        (F.col("n_docs") / F.col("__n")).alias("share"),
        (F.col("__loss_sum") / F.col("n_docs")).alias("mean_loss"),
        (
            (F.col("n_docs") / F.col("__n"))
            * F.exp(
                F.lit(eta)
                * (F.col("__loss_sum") / F.col("n_docs") - F.col("__min_loss"))
            )
        ).alias("__raw"),
    )
    z = w.agg(F.sum("__raw").alias("__z"))
    return w.crossJoin(F.broadcast(z)).select(
        "domain",
        "n_docs",
        "share",
        "mean_loss",
        (F.col("__raw") / F.col("__z")).alias("new_weight"),
    )


def loo_group_influence(
    scored: DataFrame, group_col: str, score_col: str
) -> DataFrame:
    """Leave-one-group-out influence on the global mean score — the
    cheapest data-attribution diagnostic: how much does dropping each
    source move the corpus-level quality metric.

    influence_i = global_mean − mean(score | group ≠ i), computed
    entirely from per-group (count, sum) aggregates — the N-1 "retrain"
    is algebra, not a second pass. One shuffle on the group key; the
    subtraction operates on ~equal-magnitude well-conditioned means
    (absolute error ~1e-16 against influences ~1e-3).

    Output: group, n_docs, group_mean, influence.
    """
    per = scored.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(score_col).alias("__s"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("__n"), F.sum("__s").alias("__ts")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "group",
        "n_docs",
        (F.col("__s") / F.col("n_docs")).alias("group_mean"),
        (
            F.col("__ts") / F.col("__n")
            - (F.col("__ts") - F.col("__s")) / (F.col("__n") - F.col("n_docs"))
        ).alias("influence"),
    )
