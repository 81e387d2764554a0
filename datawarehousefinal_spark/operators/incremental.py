"""Incremental corpus deduplication — dedup an ingest batch against an
already-deduplicated corpus WITHOUT rescanning the corpus text.

The daily workflow at 100 TB: a corpus grows by crawl increments, and
re-running full-corpus dedup per increment is O(corpus) every day. Instead
the corpus is represented by a compact, append-only SIGNATURE STORE —
content hashes for exact dedup (32 bytes/doc), MinHash signatures for
near-dup (k longs/doc) — and each new batch dedups against the store:

- **exact**: the batch keeps first-per-content-hash within itself, then
  anti-joins the store on the hash. Shuffle volume is the batch's hashes;
  the store side is a single-column parquet scan. No corpus text is read.
- **near-dup**: batch MinHash signatures band-join the store's banded
  bucket keys (same banding as :func:`dedup.lsh_candidate_pairs`, batch ×
  store instead of self-join); candidate pairs are verified by
  SIGNATURE-ESTIMATED Jaccard — the fraction of agreeing signature slots,
  an unbiased estimator of true Jaccard (sd ≈ sqrt(J(1-J)/k); raise
  ``num_hashes`` in the store for tighter verification — k=128 gives
  ±0.03 at J=0.9). Again no corpus text is read.
- survivors' signatures are the STORE DELTA; append it and the store is
  ready for the next batch. Band keys are always derived from the stored
  signature (never materialized), so banding parameters can change without
  rebuilding the store.

Drop semantics (single-pass greedy, the standard web-dedup choice): a
batch document is dropped when it is a near-dup of ANY store document or
of any smaller-id batch document — whether or not that batch document
itself survives. Chains can over-drop (a~b, b~c, a≁c drops both b and c),
but the contract that matters holds: **no two surviving documents (store
∪ delta) are near-dups under the detector**, and the pass never needs the
iterative connected-components a clustering formulation would.

Reference scope: the reference has no dedup at all (SURVEY.md §2.3 J5 is
an unwired Levenshtein step); this module is beyond-reference scale
machinery in the same family as :mod:`operators.dedup`.

Persist lifetime: the near-dup ingest operators are context managers.
The batch signatures and the dropped ids stay persisted for the block,
``(survivors, delta)`` are lazy plans over them, and both are released
on exit, so nothing stays pinned and nothing is collected to the driver.
Write or collect what you need inside the block.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datawarehousefinal_spark.functions.textnorm import normalize_text
from datawarehousefinal_spark.materialize import materialized
from datawarehousefinal_spark.operators.dedup import (
    _auto_combo_size,
    lsh_band_buckets,
    lsh_candidate_pairs,
    minhash_signature,
    simhash,
    simhash_combo_keys,
    simhash_dropped_ids,
)

# NULL text cannot be hashed; all-NULL rows form one dedup group (matching
# exact_dedup's window semantics and SQL PARTITION BY, which group NULLs).
_NULL_KEY = "__null__"


def content_key(text_col: Column | str, normalize: bool = True) -> Column:
    """Content hash for exact dedup: sha2-256 of the (normalized) text.

    256 uniform bits — bucketing on it shuffles hash + id only, never
    full texts, and cannot skew.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    content = normalize_text(c) if normalize else c
    return F.coalesce(F.sha2(content, 256), F.lit(_NULL_KEY))


def exact_store(
    df: DataFrame, text_col: str, normalize: bool = True
) -> DataFrame:
    """Build the exact-dedup store for an existing corpus: one row per
    distinct content hash (column ``content_hash``)."""
    return df.select(
        content_key(text_col, normalize).alias("content_hash")
    ).distinct()


def incremental_exact_dedup(
    batch: DataFrame,
    store: DataFrame,
    text_col: str,
    order_cols: list[str],
    normalize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Exact-dedup a batch against a content-hash store.

    Returns ``(survivors, delta)``: the batch rows that are first of their
    content within the batch (by ``order_cols``) AND unseen in the store,
    and the store delta (their distinct ``content_hash`` rows). Append
    ``delta`` to the store before the next batch.

    Plan shape: one shuffle of the batch on the content hash (window
    keep-first), then a hash anti-join against the store's single column —
    broadcast when the store fits, shuffled-hash/SMJ beyond that; either
    way corpus text is never touched.
    """
    keyed = batch.withColumn("__key", content_key(text_col, normalize))
    w = Window.partitionBy("__key").orderBy(*order_cols)
    firsts = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    survivors = firsts.join(
        store, firsts["__key"] == store["content_hash"], "left_anti"
    )
    delta = survivors.select(F.col("__key").alias("content_hash"))
    return survivors.drop("__key"), delta


# ---------------------------------------------------------------------------
# Near-dup: MinHash signature store
# ---------------------------------------------------------------------------

def minhash_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_width: int = 5,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Build the near-dup store for an existing corpus: per-document
    MinHash signatures (``id_col``, ``h0..h{k-1}``). Roughly ``8k`` bytes
    per document — a 1B-document corpus at k=16 stores in ~128 GB, a
    broadcast-or-bucket-friendly fraction of the corpus itself."""
    return minhash_signature(
        df, id_col, text_col, num_hashes, shingle_width, hash_mode
    )


def empty_minhash_store(
    df: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """A zero-row signature store with the correct schema — the bootstrap
    input for deduplicating a corpus that has no store yet.

    Built straight from a schema literal, NOT by signing the corpus and
    ``limit(0)``-ing the result: the latter drags the whole
    shingle-explode pipeline into the lineage (and ``_fan_out``'s
    partition-count probe can eagerly execute upstream stages under AQE)
    just to produce an empty frame.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [df.schema[id_col]]
        + [StructField(f"h{j}", LongType()) for j in range(num_hashes)]
    )
    return df.sparkSession.createDataFrame([], schema)


def _est_jaccard(num_hashes: int) -> Column:
    """Estimated Jaccard from two signatures exposed as ``__a{j}``/``__b{j}``
    columns: the fraction of agreeing slots (E[agree] = J, the MinHash
    identity). One SQL string — k CASE terms in a single py4j call."""
    agree = " + ".join(
        f"(CASE WHEN __a{j} = __b{j} THEN 1 ELSE 0 END)"
        for j in range(num_hashes)
    )
    return F.expr(f"CAST({agree} AS DOUBLE) / CAST({num_hashes} AS DOUBLE)")


def _side(sig: DataFrame, id_col: str, tag: str, num_hashes: int) -> DataFrame:
    # Backtick-quote the USER-supplied id column (it may be a reserved
    # word or contain non-identifier characters); h{j} are internal names.
    return sig.selectExpr(
        f"`{id_col}` AS id_{tag}",
        *[f"h{j} AS __{tag}{j}" for j in range(num_hashes)],
    )


@contextmanager
def incremental_minhash_dedup(
    batch: DataFrame,
    store_sig: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    num_hashes: int = 16,
    bands: int = 8,
    rows_per_band: int = 2,
    shingle_width: int = 5,
    hash_mode: str = "xxhash64",
    max_bucket: int = 1000,
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """Near-dup-dedup a batch against a MinHash signature store.

    Yields ``(survivors, delta)``: batch rows that are near-dups of no
    store document and no smaller-id batch document (estimated Jaccard ≥
    ``threshold`` through banded-LSH candidates), and the survivors'
    signature rows to append to the store.

    Plan shape — never all-pairs, no corpus text:

    1. batch signatures: one shingle explode + k codegen hashes + one
       map-side-combined ``min`` groupBy (persisted: reused by both
       candidate tiers, verification, and the delta).
    2. within-batch candidates: banded self-join strictly inside
       (band, key) buckets with the ``max_bucket`` skew guard.
    3. cross candidates: batch band keys ⋈ store band keys — the store
       side is bucket-capped the same way, so a degenerate band (e.g. the
       empty-document signature) cannot quadratically explode.
    4. verification joins signatures back by id and compares slots —
       k integer equalities per candidate, all codegen.

    The store never shuffles on anything except its banded keys, and only
    (band, key, id) triples move for candidate generation.
    """
    with materialized(minhash_signature(
        batch, id_col, text_col, num_hashes, shingle_width, hash_mode
    )) as bsig:
        # -- within-batch tier (drop the larger id of each near-dup pair) -----
        # Candidates come from the canonical banded self-join (shared with the
        # full-corpus path) so the skew-guard semantics cannot drift.
        wb_cand = lsh_candidate_pairs(bsig, id_col, bands, rows_per_band, max_bucket)
        wb_dropped = (
            wb_cand.join(_side(bsig, id_col, "a", num_hashes), "id_a")
            .join(_side(bsig, id_col, "b", num_hashes), "id_b")
            .filter(_est_jaccard(num_hashes) >= threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )

        # -- cross tier (drop any batch doc near a store doc) -----------------
        # Bootstrap short-circuit: with an EMPTY store (the first-ever batch)
        # the cross tier is a no-op, but its plan still schedules a dozen
        # stages of banding/joins over zero rows — skip it entirely. The
        # isEmpty probe is one read-first-row job (instant on the local
        # bootstrap relation, one footer read on a parquet store).
        if not store_sig.isEmpty():
            # Same banding, batch × store instead of self-join; both sides carry
            # the max_bucket skew guard so a degenerate band on either side (e.g.
            # the empty-document signature) cannot quadratically explode.
            def capped_buckets(sig: DataFrame) -> DataFrame:
                b = lsh_band_buckets(sig, id_col, bands, rows_per_band)
                return b.withColumn(
                    "__n", F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
                ).filter(F.col("__n") <= max_bucket).drop("__n")

            cross_cand = (
                capped_buckets(bsig).select(F.col(id_col).alias("id_b"), "band", "key")
                .join(
                    capped_buckets(store_sig).select(
                        F.col(id_col).alias("id_a"), "band", "key"
                    ),
                    ["band", "key"],
                )
                .select("id_a", "id_b")
                .distinct()
            )
            cross_dropped = (
                cross_cand.join(_side(store_sig, id_col, "a", num_hashes), "id_a")
                .join(_side(bsig, id_col, "b", num_hashes), "id_b")
                .filter(_est_jaccard(num_hashes) >= threshold)
                .select(F.col("id_b").alias(id_col))
                .distinct()
            )

            wb_dropped = wb_dropped.unionByName(cross_dropped).distinct()
        # dropped ids feed both anti-joins: persist them for the block
        with materialized(wb_dropped) as dropped:
            yield (
                batch.join(dropped, id_col, "left_anti"),
                bsig.join(dropped, id_col, "left_anti"),
            )


# ---------------------------------------------------------------------------
# Near-dup: SimHash fingerprint store
# ---------------------------------------------------------------------------

def simhash_store(
    df: DataFrame, id_col: str, text_col: str, shingle_width: int = 5
) -> DataFrame:
    """Build the SimHash store for an existing corpus: one 64-bit
    fingerprint per document (``id_col``, ``simhash``) — 16 bytes/doc,
    the most compact of the three stores. Band keys are never stored;
    they derive from the fingerprint at query time
    (:func:`dedup.simhash_combo_keys`), so ``max_hamming``/``combo_size``
    can change without rebuilding."""
    return simhash(df, id_col, text_col, shingle_width)


def empty_simhash_store(df: DataFrame, id_col: str) -> DataFrame:
    """Zero-row SimHash store with the correct schema (bootstrap input) —
    a schema literal for the same lineage reasons as
    :func:`empty_minhash_store`."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([df.schema[id_col], StructField("simhash", LongType())])
    return df.sparkSession.createDataFrame([], schema)


@contextmanager
def incremental_simhash_dedup(
    batch: DataFrame,
    store_fp: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    shingle_width: int = 5,
    combo_size: int | None = None,
    max_bucket: int = 1000,
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """Near-dup-dedup a batch against a SimHash fingerprint store.

    Yields ``(survivors, delta)`` with the same greedy contract as
    :func:`incremental_minhash_dedup`: a batch doc is dropped when its
    fingerprint is within ``max_hamming`` bits of any store fingerprint
    or of any smaller-id batch doc; ``delta`` is the survivors'
    fingerprint rows to append to the store.

    Plan shape mirrors the minhash path — never all-pairs, no corpus
    text:

    1. batch fingerprints: one map-only pass (persisted — feeds both
       tiers, the within-batch banding, and the delta).
    2. within-batch tier: the canonical guaranteed-recall banding via the
       DIRECT dropped-id formulation (:func:`dedup.simhash_dropped_ids` —
       same combo keys and skew guard as the pair path, no member×member
       expansion): a doc drops iff it is not its fingerprint group's min
       id or a banded neighbor group has a smaller min id.
    3. cross tier: DISTINCT batch fingerprints ⋈ DISTINCT store
       fingerprints on shared combo keys (``combo_size`` auto-sized from
       the approximate distinct count of the union, so both sides key
       identically), per-side ``max_bucket`` skew guard over distinct
       fingerprints, verification = one ``bit_count(xor)`` per candidate.
       Only (fingerprint, table, key) triples move.
    """
    with materialized(simhash(batch, id_col, text_col, shingle_width)) as bfp:
        # ONE probe job resolves BOTH runtime questions — the bootstrap
        # short-circuit (is the store empty?) and the auto key width — by
        # aggregating over the tagged fingerprint union: approx distinct is
        # duplicate-insensitive so the union sizes exactly like the old
        # two-branch sizing, and a store-row counter replaces the separate
        # ``isEmpty()`` action (was: 2 jobs, each re-materializing the
        # persisted frames; now 1 — the pass still doubles as the cache
        # populator for both persisted fingerprint frames). Map-side partial
        # HLLs + a count are all that moves.
        if combo_size is None:
            store_tagged = store_fp.select(F.lit(1).alias("__s"), "simhash")
            sizing = bfp.select(F.lit(0).alias("__s"), "simhash").unionByName(
                store_tagged
            )
            row = sizing.agg(
                F.approx_count_distinct("simhash").alias("n"),
                F.sum("__s").alias("ns"),
            ).first()
            store_empty = not row["ns"]
            combo_size = _auto_combo_size(max(row["n"], 1), max_hamming, max_bucket)
        else:
            store_empty = store_fp.isEmpty()
        num_blocks = max_hamming + combo_size
        b_distinct = bfp.select("simhash").distinct()

        # -- within-batch tier (drop near-dups of smaller-id batch docs) ------
        # Direct dropped-id formulation (dedup.simhash_dropped_ids): same
        # banding, same greedy contract, about half the stages of deriving
        # the set from the pair list (no member×member expansion).
        # max_dropped_frac=None: the skew check exists to catch FORCED-narrow
        # keys, and combo_size was just auto-sized for this exact fingerprint
        # population (16x margin) — re-measuring it here would only add two
        # eager jobs per ingest.
        wb_dropped = simhash_dropped_ids(
            bfp, id_col, max_hamming=max_hamming, max_bucket=max_bucket,
            combo_size=combo_size, max_dropped_frac=None,
        )

        # -- cross tier (drop any batch doc within range of a store doc) ------
        if not store_empty:
            s_distinct = store_fp.select("simhash").distinct()

            def capped(fp_distinct: DataFrame, tag: str) -> DataFrame:
                keyed = simhash_combo_keys(fp_distinct, num_blocks, combo_size)
                return (
                    keyed.withColumn(
                        "__n", F.count(F.lit(1)).over(Window.partitionBy("table", "key"))
                    )
                    .filter(F.col("__n") <= max_bucket)
                    .select(F.col("simhash").alias(tag), "table", "key")
                )

            matched_fps = (
                capped(b_distinct, "__bf")
                .join(capped(s_distinct, "__sf"), ["table", "key"])
                .filter(
                    F.bit_count(F.expr("__bf ^ __sf")) <= F.lit(max_hamming)
                )
                .select("__bf")
                .distinct()
            )
            cross_dropped = bfp.join(
                matched_fps, bfp["simhash"] == matched_fps["__bf"]
            ).select(id_col).distinct()

            wb_dropped = wb_dropped.unionByName(cross_dropped).distinct()
        # dropped ids feed both anti-joins: persist them for the block
        with materialized(wb_dropped) as dropped:
            yield (
                batch.join(dropped, id_col, "left_anti"),
                bfp.join(dropped, id_col, "left_anti"),
            )


# ---------------------------------------------------------------------------
# Incremental line-level dedup (C4 boilerplate removal, batch-over-store)
# ---------------------------------------------------------------------------

def line_store(
    df: DataFrame, text_col: str, delim: str = "\n", min_line_chars: int = 1
) -> DataFrame:
    """Line-hash store for :func:`incremental_line_dedup`: one row per
    distinct sha2 of an ELIGIBLE line (>= ``min_line_chars``) in the
    corpus — column ``line_hash``. Short lines never enter the store
    (they are structure, exempt from dedup; see dedup.line_dedup)."""
    lines = df.filter(F.col(text_col).isNotNull()).select(
        F.explode(F.split(F.col(text_col), re.escape(delim), -1)).alias("__line")
    )
    return (
        lines.filter(F.length("__line") >= min_line_chars)
        .select(F.sha2(F.col("__line"), 256).alias("line_hash"))
        .distinct()
    )


def incremental_line_dedup(
    batch: DataFrame,
    store: DataFrame,
    id_col: str,
    text_col: str,
    delim: str = "\n",
    min_line_chars: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Line-dedup a batch against the line-hash store: every batch line
    whose hash the store knows is dropped (ALL copies — it was already
    kept once in an earlier batch), lines new in this batch keep their
    first occurrence by ``(id, position)``, and documents are
    reassembled in order. Sequencing batches through this equals one
    global ``dedup.line_dedup(keep="first")`` over the concatenated
    corpus with batch-then-id ordering — pinned by test.

    Returns ``(cleaned, delta)``: cleaned has ``id_col, n_lines,
    n_kept, text_out``; ``delta`` is the distinct ``line_hash`` set of
    the newly-kept lines — append to the store before the next batch.

    Plan shape: one window shuffle on the line hash (synthetic per-row
    keys keep ineligible lines out of any shared partition), one
    hash anti-join-style left join against the store's single column
    (broadcast when small, SMJ beyond), one reassembly groupBy(id).
    Only hashes and the batch's own lines move.
    """
    lines = batch.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), re.escape(delim), -1)).alias(
            "__pos", "__line"
        ),
    )
    eligible = F.length("__line") >= min_line_chars
    keyed = lines.withColumn(
        "__key",
        F.when(eligible, F.sha2(F.col("__line"), 256)).otherwise(
            F.concat_ws(":", F.lit("u"), F.col(id_col), F.col("__pos"))
        ),
    ).withColumn("__elig", eligible)
    w = Window.partitionBy("__key")
    ranked = keyed.withColumn(
        "__rn", F.row_number().over(w.orderBy(id_col, "__pos"))
    )
    marked = ranked.join(
        store.withColumnRenamed("line_hash", "__known"),
        ranked["__key"] == F.col("__known"),
        "left",
    )
    keep = (~F.col("__elig")) | (
        F.col("__known").isNull() & (F.col("__rn") == 1)
    )
    flagged = marked.withColumn("__keep", keep)
    cleaned = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("__keep").cast("long")).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__keep"), F.struct("__pos", "__line"))
                    )
                ),
                lambda s: s["__line"],
            ),
            delim,
        ).alias("text_out"),
    )
    delta = (
        flagged.filter(F.col("__elig") & F.col("__keep"))
        .select(F.col("__key").alias("line_hash"))
        .distinct()
    )
    return cleaned, delta


def ivm_join_delta(
    base_a: DataFrame,
    delta_a: DataFrame,
    base_b: DataFrame,
    delta_b: DataFrame,
    join_keys: list[str],
) -> DataFrame:
    """Incremental view maintenance for an inner-join view: the delta
    rows the view gains when both join inputs receive inserts — the
    standard delta algebra  ΔV = ΔA⋈B  ∪  A⋈ΔB  ∪  ΔA⋈ΔB  (old bases on
    the non-delta side so no pair is produced twice).

    This is how a warehouse keeps a join view fresh WITHOUT re-joining
    two 100 TB bases per batch: each term joins a (small) delta against
    a base, so cost follows the batch, and with the base bucketed on the
    join key the base side never reshuffles. Insert-only contract
    (deletes/updates route through the CDC operators, scd.py).

    Returns the delta VIEW rows (columns of A ⋈ B on ``join_keys``).
    """
    return (
        delta_a.join(base_b, join_keys)
        .unionByName(base_a.join(delta_b, join_keys))
        .unionByName(delta_a.join(delta_b, join_keys))
    )
