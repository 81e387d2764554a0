"""Corpus deduplication operators — exact, MinHash-LSH, SimHash, n-gram
Jaccard.

Beyond-reference scale operators (SURVEY.md §7 P7): the reference's only
fuzzy machinery is an unwired Levenshtein step (etl_final.ktr:3608-3645);
a training-data pipeline at 100 TB needs corpus-level dedup. Design rules:

- **Never all-pairs.** Candidate generation is always bucketed: exact dedup
  buckets on a content hash, MinHash on banded signature keys, SimHash on
  16-bit fingerprint chunks, n-gram Jaccard on shared shingles. The only
  shuffle over document rows is on those bucket keys.
- **Signature values come from the JVM.** Shingling (``transform`` on a
  ``sequence``) and hashing (``xxhash64``/``md5``/``sha2``) are Spark
  expressions; only the per-document reduction of MinHash and SimHash
  signatures runs in Python, as one Arrow-batched numpy kernel
  (:mod:`operators.kernels`). No row-at-a-time Python UDF anywhere.
- **Skew-guarded.** A shingle or bucket shared by half the corpus would
  quadratically explode its bucket; ``max_bucket`` drops pathological
  buckets (a standard LSH trade: an over-full bucket carries almost no
  signal anyway).

Hash modes: ``xxhash64`` (fastest, JVM) is the default; ``md5`` derives the
base hash from md5 hex, reproducible byte-for-byte in DuckDB/Postgres when
an external engine must recompute identical signatures. Both are
deterministic across runs — LSH here has no run-to-run randomness.
"""

from __future__ import annotations

import re
from itertools import combinations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datawarehousefinal_spark.functions.textnorm import normalize_text
from datawarehousefinal_spark.materialize import local_result, materialized


def _fan_out(df: DataFrame) -> DataFrame:
    """Repartition a compact source up to the cluster's parallelism.

    Spark sizes scan partitions by BYTES (maxPartitionBytes), but shingling
    + hashing is CPU-bound work that explodes ~text_len × num_hashes rows
    per input row: a few MB of documents in one parquet file become one
    partition → one core does all the hashing. Inputs that already have
    enough partitions (any real corpus) pass through untouched, so no extra
    shuffle at scale.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Partition probe via the internal InternalRow RDD: same physical
    # plan, same partition count as ``df.rdd``, but skips the
    # javaToPython conversion plan that ``df.rdd`` builds just to be
    # asked ``getNumPartitions()`` (measured 117 ms -> 73 ms per probe
    # on the bench session; the probe runs 2-4x per dedup face).
    if df._jdf.queryExecution().toRdd().getNumPartitions() < target:
        return df.repartition(target)
    return df


def char_shingles(col: Column | str, width: int = 5) -> Column:
    """Distinct character ``width``-grams of a string column (array<string>).

    Texts shorter than ``width`` contribute their whole text as the single
    shingle, so no document maps to an empty set.
    """
    c = F.col(col) if isinstance(col, str) else col
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (width - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(c, i, F.lit(width))))


def exact_dedup(
    df: DataFrame,
    text_col: str,
    order_cols: list[str],
    keep_count_col: str | None = "n_copies",
) -> DataFrame:
    """Exact dedup: one row per distinct (normalized) text, keeping the
    first row by ``order_cols`` within each duplicate group.

    Buckets on ``sha2(normalized_text)`` — the single shuffle is on the
    256-bit content hash, which is uniform by construction (no skew, no
    comparison of full texts across the cluster; only hash + the winning
    row move).
    """
    keyed = df.withColumn("__key", F.sha2(normalize_text(F.col(text_col)), 256))
    w = Window.partitionBy("__key")
    ranked = keyed.withColumn(
        "__rn", F.row_number().over(w.orderBy(*order_cols))
    )
    if keep_count_col:
        ranked = ranked.withColumn(keep_count_col, F.count(F.lit(1)).over(w))
    return ranked.filter(F.col("__rn") == 1).drop("__key", "__rn")


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------

# Universal-hash family over the Mersenne prime 2^31-1: h_j = (a_j·b + c_j)
# mod p applied to ONE base hash b per shingle. One string hash + k integer
# affine transforms (all codegen) instead of k string hashes — the standard
# minhash trick. Constants are fixed (seeded) so signatures are stable
# across runs and engines.
_MERSENNE31 = (1 << 31) - 1


def _affine_params(num_hashes: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(42)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]


def _base_hash(sh: Column, hash_mode: str) -> Column:
    """Base shingle hash reduced into [0, 2^31-1)."""
    if hash_mode == "xxhash64":
        h = F.xxhash64(sh)  # fastest; JVM-only
    elif hash_mode == "md5":
        # 60 bits of md5 as an integer — byte-identical in DuckDB/Postgres
        # (('0x' || substr(md5(s),1,15))::BIGINT) for cross-engine parity.
        h = F.conv(F.substring(F.md5(sh), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    return (h % _MERSENNE31 + _MERSENNE31) % _MERSENNE31


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_width: int = 5,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Per-document MinHash signature: columns ``h0..h{k-1}``.

    MAP-ONLY: no explode, no shuffle, no aggregation hash map. The JVM
    computes each document's shingle set and the base-hash array (the
    values that define the signature); one Arrow-batched numpy kernel
    (:func:`operators.kernels.minhash_reduce_arrow`) reduces that array to
    the ``k`` affine-transform mins. Values are identical to the classic
    two-stage build (explode + ``min`` groupBy): same base hash, same
    seeded affine family.

    NULL texts produce no signature row. This is a DELIBERATE behavior
    change from the earlier explode formulation, which emitted one row for
    NULL text (``char_shingles(NULL)`` yields ``[null]``, exploding to a
    single xxhash64-of-null row) so all NULL docs bucketed together.
    Signature stores built before the change may therefore contain
    degenerate NULL-doc signature rows; rebuild or filter them before
    comparing against newly built signatures.
    """
    from datawarehousefinal_spark.operators.kernels import minhash_reduce_arrow

    base = _fan_out(df.filter(F.col(text_col).isNotNull())).select(
        id_col,
        F.transform(
            char_shingles(text_col, shingle_width),
            lambda s: _base_hash(s, hash_mode),
        ).alias("__bh"),
    )
    return minhash_reduce_arrow(
        base, id_col, _affine_params(num_hashes), _MERSENNE31
    )


def lsh_band_buckets(
    sig: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """Explode a signature frame into (id, band, bucket-key) rows.

    Band key = md5 over that band's ``rows_per_band`` signature slots; two
    documents collide in a band iff those slots are all equal.
    """
    # signature slots are exactly h0..h{n-1} — a prefix match would
    # miscount when the id column is named e.g. 'hash_id' or 'h17'
    num_sig_cols = sum(
        1
        for f in sig.schema.fields
        if f.name != id_col and re.fullmatch(r"h\d+", f.name)
    )
    if bands * rows_per_band > num_sig_cols:
        raise ValueError(
            f"bands ({bands}) x rows_per_band ({rows_per_band}) = "
            f"{bands * rows_per_band} exceeds the {num_sig_cols} signature "
            f"columns; rebuild the signature with num_hashes >= "
            f"{bands * rows_per_band} or lower the banding parameters"
        )
    entries = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        entries.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("key"))
        )
    return sig.select(
        id_col, F.explode(F.array(*entries)).alias("__b")
    ).select(id_col, F.col("__b.band").alias("band"), F.col("__b.key").alias("key"))


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 2,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate pairs = documents sharing ≥1 LSH band bucket.

    Self-join happens strictly WITHIN (band, key) buckets — never all-pairs.
    Buckets larger than ``max_bucket`` are dropped (skew guard: a bucket
    with b members emits b²/2 pairs; an over-full bucket is a degenerate
    band carrying no similarity signal).
    """
    buckets = lsh_band_buckets(sig, id_col, bands, rows_per_band)
    sized = buckets.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
    ).filter(F.col("__n") <= max_bucket)
    a = sized.select(F.col(id_col).alias("id_a"), "band", "key")
    b = sized.select(F.col(id_col).alias("id_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_for_pairs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_width: int = 5,
) -> DataFrame:
    """Exact n-gram Jaccard for given candidate pairs.

    The corpus is semi-join-pruned to the documents that actually appear
    in a candidate pair BEFORE shingling — candidates are sparse by
    construction (LSH/banding upstream), so the shingle explode touches
    ~2·|pairs| documents instead of the whole corpus (round-7: this cut
    the verified simhash face from 8.5 s to the candidate-sized cost at
    sf0.1, and it is the 100 TB-correct shape — verification cost scales
    with the candidate set, not the corpus). Set sizes come from a tiny
    per-doc aggregate; intersections from an explode-join restricted to
    the candidate pairs (AQE broadcasts the sparse sides).
    """
    # The pair frame feeds the id-prune AND the intersection join; an
    # eager checkpoint (pairs are sparse by contract — the whole point
    # of candidate generation) stops the upstream banding pipeline from
    # running twice.
    with materialized(pairs, checkpoint=True) as pairs:
        ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .unionByName(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        # The shingle frame feeds THREE consumers (per-doc sizes + both
        # intersection-join sides); unpersisted, the scan→semi-join→
        # fan-out→explode subtree replicates per consumer in the plan (4
        # Generate nodes — each re-shingling the pruned docs). The RESULT
        # (one row per candidate pair — sparse by contract) is a local
        # result, so nothing downstream re-reads the released cache. The
        # cached frame is candidate-sized (~2·|pairs| docs of shingles),
        # never corpus-sized.
        with materialized(
            _fan_out(df.join(ids, id_col, "semi")).select(
                F.col(id_col),
                F.explode(char_shingles(text_col, shingle_width)).alias("__sh"),
            )
        ) as sh:
            sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
            a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh"))
            b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh"))
            inter = (
                pairs.join(a, "id_a")
                .join(b, ["id_b", "__sh"])
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("__c"))
            )
            na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
            nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
            return local_result(
                inter.join(na, "id_a")
                .join(nb, "id_b")
                .select(
                    "id_a",
                    "id_b",
                    (
                        F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c"))
                    ).alias("jaccard"),
                )
            )


def minhash_near_dupes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    num_hashes: int = 16,
    bands: int = 8,
    rows_per_band: int = 2,
    shingle_width: int = 5,
    hash_mode: str = "xxhash64",
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs: MinHash-LSH candidates, verified with exact
    n-gram Jaccard ≥ ``threshold``.

    Output: ``id_a, id_b, jaccard`` (id_a < id_b). 100% precision (exact
    verify); recall is the banded-LSH S-curve — with the defaults
    (16 hashes, 8 bands × 2) a J=0.9 pair is caught with
    p = 1-(1-0.9²)^8 ≈ 0.999998 (miss ≈ 1.7e-6).
    """
    sig = minhash_signature(df, id_col, text_col, num_hashes, shingle_width, hash_mode)
    cand = lsh_candidate_pairs(sig, id_col, bands, rows_per_band, max_bucket)
    scored = jaccard_for_pairs(cand, df, id_col, text_col, shingle_width)
    return scored.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    shingle_width: int = 5,
) -> DataFrame:
    """Brute-force exact Jaccard pairs over documents sharing ≥1 shingle.

    This is the ORACLE path (SQL-expressible, deterministic) — candidate
    generation joins on shared shingles, which is quadratic within a
    shingle's posting list. Fine at verification scale; at 100 TB use
    ``minhash_near_dupes`` (banded, sub-quadratic) and keep this as the
    sampled ground-truth checker.
    """
    posting = _fan_out(df).select(
        F.col(id_col), F.explode(char_shingles(text_col, shingle_width)).alias("__sh")
    )
    sizes = posting.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    a = posting.select(F.col(id_col).alias("id_a"), "__sh")
    b = posting.select(F.col(id_col).alias("id_b"), "__sh")
    inter = (
        a.join(b, "__sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_width: int = 5,
) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    Classic Charikar construction: each shingle's xxhash64 votes ±1 on each
    of the 64 bit positions; the fingerprint sets bits with positive vote
    sums. Positive vote sum on bit i ⟺ more than half the shingles have
    bit i set, so it suffices to count the set bits and compare against
    the shingle count.

    MAP-ONLY: no explode, no shuffle, no groupBy. The JVM computes each
    document's shingle set and its xxhash64 array (the values that define
    the fingerprint); one Arrow-batched numpy kernel
    (:func:`operators.kernels.simhash_reduce_arrow`) counts the bit votes.
    NULL texts produce no fingerprint row (explicit filter — see the note
    on :func:`minhash_signature` about the deliberate NULL-handling change
    vs the old explode formulation).
    """
    from datawarehousefinal_spark.operators.kernels import simhash_reduce_arrow

    base = _fan_out(df.filter(F.col(text_col).isNotNull())).select(
        F.col(id_col),
        F.transform(
            char_shingles(text_col, shingle_width), lambda s: F.xxhash64(s)
        ).alias("__hs"),
    )
    return simhash_reduce_arrow(base, id_col)


def _block_bounds(num_blocks: int) -> list[tuple[int, int]]:
    """(start_bit, width) for ``num_blocks`` near-equal slices of 64 bits."""
    base, extra = divmod(64, num_blocks)
    bounds, start = [], 0
    for b in range(num_blocks):
        width = base + (1 if b < extra else 0)
        bounds.append((start, width))
        start += width
    return bounds


def simhash_combo_keys(
    fp_df: DataFrame, num_blocks: int, combo_size: int
) -> DataFrame:
    """Explode a ``simhash`` frame into its block-combination band keys:
    ``(simhash, table, key)``, one row per ``combo_size``-subset of the
    ``num_blocks`` fingerprint blocks. Key = the combo's block values
    packed into one long (blocks total < 64 bits so any combo fits);
    ``table`` distinguishes combos. Shared by the self-join near-dup path
    and the incremental batch×store path so the key layout cannot drift
    between them (stores never materialize keys — they derive from the
    stored fingerprint, so banding parameters can change freely)."""
    # Built as ONE SQL string instead of a Python loop over Column
    # objects: C(num_blocks, combo_size) can reach 165 combos x ~5 ops
    # each, and every Column op is a py4j round-trip (~0.3 ms) — the
    # loop was the single largest construction cost of the simhash
    # faces (cProfile: 7 s cumulative per face incl. JVM wait). The SQL
    # expressions are the same shiftleft/shiftrightunsigned/& calls, so
    # key VALUES are bit-identical (exercised end-to-end by
    # tests/test_dedup.py's recall/parity tests — keys are derived
    # identically on both join sides and never persisted);
    # ``inline`` also folds the old explode+reproject into one Generate.
    bounds = _block_bounds(num_blocks)
    block_sql = [
        f"(shiftrightunsigned(simhash, {start}) & {(1 << width) - 1})"
        for start, width in bounds
    ]
    entries = []
    for t, combo in enumerate(combinations(range(num_blocks), combo_size)):
        key = "CAST(0 AS BIGINT)"
        for b in combo:
            key = f"(shiftleft({key}, {bounds[b][1]}) | {block_sql[b]})"
        entries.append(f"named_struct('table', {t}, 'key', {key})")
    return fp_df.select(
        "simhash", F.expr(f"inline(array({', '.join(entries)}))")
    )


def _auto_combo_size(
    n_distinct: int, max_hamming: int, max_bucket: int, max_combo_size: int = 6
) -> int:
    """Smallest ``combo_size`` whose combo-key space keeps expected bucket
    occupancy well under ``max_bucket``.

    With ``num_blocks = max_hamming + combo_size`` blocks, a combo key is
    ``combo_size * 64 / num_blocks`` bits wide, so a table holds
    ``2**key_bits`` buckets and a uniform fingerprint population puts
    ``n_distinct / 2**key_bits`` fingerprints in each. We require that
    expectation to sit 16× under ``max_bucket`` so the crowded tail of the
    occupancy distribution stays under the skew guard too. This is exactly
    Manku et al.'s web-scale sizing move: bigger corpora get wider keys
    (3–4 block combos) and correspondingly more combo tables — at
    ``max_hamming=8`` the ladder is combo_size 2 → ~445K distinct
    fingerprints, 3 → ~11M, 4 → ~164M, 5 → ~1.6B (each at the default
    ``max_bucket=1000``).
    """
    for cs in range(2, max_combo_size):
        key_bits = cs * 64.0 / (max_hamming + cs)
        if n_distinct * 16 <= max_bucket * (2.0 ** key_bits):
            return cs
    return max_combo_size


def simhash_near_dupes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    shingle_width: int = 5,
    max_bucket: int = 1000,
    exact_pair_cap: int = 100,
) -> DataFrame:
    """Near-dup pairs by SimHash with GUARANTEED candidate recall.

    Block-combination blocking (the scheme of Manku et al.'s web-scale
    simhash dedup): split the 64-bit fingerprint into ``num_blocks`` bit
    blocks and key each fingerprint on every ``combo_size``-subset of
    blocks. A pair within hamming ``h`` differs in at most ``h`` blocks,
    hence agrees on ≥ ``num_blocks - h``; with ``num_blocks = max_hamming
    + combo_size`` some agreeing combo collides, so every within-threshold
    pair becomes a candidate. Candidates are verified with
    ``bit_count(xor) <= max_hamming`` — 100% precision.

    Computes fingerprints with :func:`simhash`, then delegates to
    :func:`simhash_near_dupes_from_fingerprints` — see it for the banding
    semantics and the auto ``combo_size`` ladder.

    Output: ``id_a, id_b, hamming`` (id_a < id_b).
    """
    # The fingerprint frame feeds the hamming-0 tiers, the distinct-fp
    # banding, AND both expansion branches — without a persist the
    # full shingle + Arrow vote-count fingerprint pass replicates
    # once per consumer (7 scans in the physical plan). Fingerprints are
    # (id, long) — ~24 bytes/doc, MEMORY_AND_DISK never OOMs. The
    # pairs are sparse by contract, so they return as a local result.
    with materialized(simhash(df, id_col, text_col, shingle_width)) as fp:
        return local_result(simhash_near_dupes_from_fingerprints(
            fp,
            id_col,
            max_hamming=max_hamming,
            max_bucket=max_bucket,
            exact_pair_cap=exact_pair_cap,
        ))


def _auto_banding(fp: DataFrame, max_hamming: int, max_bucket: int) -> int:
    """Auto-size ``combo_size`` for simhash banding from an HLL
    distinct-fingerprint estimate (:func:`_auto_combo_size`)."""
    # Sizing needs the order of magnitude, not the exact count: one
    # shuffle-free HLL aggregate (partial-combined map-side) instead
    # of a distinct + count job. fp is persisted by callers that
    # build it; this pass populates that cache for the banding.
    n_distinct = fp.agg(
        F.approx_count_distinct("simhash").alias("n")
    ).first()["n"]
    return _auto_combo_size(max(n_distinct, 1), max_hamming, max_bucket)


def _simhash_fp_pairs(
    distinct_fp: DataFrame,
    combo_size: int,
    max_hamming: int,
    max_bucket: int,
) -> DataFrame:
    """Banded candidate generation + hamming verification over DISTINCT
    fingerprints: ``(__fa, __fb, hamming)`` with ``__fa < __fb`` and
    ``0 < hamming <= max_hamming``, banding over ``max_hamming +
    combo_size`` blocks (the minimum that keeps the recall guarantee).
    Shared by the pair-list path
    (:func:`simhash_near_dupes_from_fingerprints`) and the direct
    dropped-id path (:func:`simhash_dropped_ids`) so banding semantics —
    combo keys, skew guard — cannot drift between them."""
    keyed = simhash_combo_keys(distinct_fp, max_hamming + combo_size, combo_size)
    # The counted frame feeds both self-join branches — scanned twice
    # unpersisted. The persist is scoped: the pair output is a local
    # result (verified near-dup pairs, orders of magnitude smaller than
    # the banding entries), so nothing downstream re-reads the cache
    # after the release.
    with materialized(keyed.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("table", "key"))
    )) as counted:
        sized = counted.filter(F.col("__n") <= max_bucket)
        a = sized.select(F.col("simhash").alias("__fa"), "table", "key")
        b = sized.select(F.col("simhash").alias("__fb"), "table", "key")
        return local_result(
            a.join(b, ["table", "key"])
            .filter(F.col("__fa") < F.col("__fb"))
            .select(
                "__fa",
                "__fb",
                F.bit_count(F.expr("__fa ^ __fb")).cast("int").alias("hamming"),
            )
            # hamming-verify BEFORE the distinct: candidates failing the
            # threshold never enter the dedup shuffle (the distinct only
            # collapses pairs that collided in several combo tables).
            .filter((F.col("hamming") > 0) & (F.col("hamming") <= max_hamming))
            .distinct()
        )


def simhash_near_dupes_from_fingerprints(
    fp: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    max_bucket: int = 1000,
    exact_pair_cap: int = 100,
) -> DataFrame:
    """Banding + verification tier over a ``(id_col, simhash)`` frame.

    Banding runs over DISTINCT fingerprints, not documents. This is what
    makes the recall guarantee survive real corpora: a boilerplate page
    duplicated a million times is ONE row in every bucket, so the
    ``max_bucket`` skew guard can never throw away exactly the documents a
    dedup pass exists to catch (it trips only when > ``max_bucket``
    *distinct* fingerprints crowd one combo key — genuine key-space
    crowding, fixed by raising ``combo_size``). Identical-fingerprint
    groups (hamming 0) are emitted directly: all pairs for groups of ≤
    ``exact_pair_cap`` members, and rep→member star pairs (which still
    connect every member for keep-first dedup) beyond that — listing all
    C(n,2) pairs of a million-copy cluster is output no caller wants.
    Cross-fingerprint candidate pairs expand to all member pairs.

    **Key sizing vs corpus size.** ``combo_size`` auto-scales: one cheap
    count of the distinct fingerprints picks the smallest combo width
    whose key space keeps expected bucket occupancy 16× under
    ``max_bucket`` (see :func:`_auto_combo_size`). A fixed ``combo_size``
    too narrow for the corpus — e.g. 2-block keys (~13 bits at
    ``max_hamming=8``) over millions of distinct fingerprints — would
    crowd every bucket past ``max_bucket`` and the skew guard would
    silently degrade recall to the hamming-0 tier.

    Banding uses ``num_blocks = max_hamming + combo_size`` (the minimum
    satisfying the guarantee). Key width is ``combo_size`` blocks ≈
    ``combo_size * 64/num_blocks`` bits.

    Output: ``id_a, id_b, hamming`` (id_a < id_b).
    """
    combo_size = _auto_banding(fp, max_hamming, max_bucket)
    # members feeds several plan branches off the caller-persisted fp;
    # the branches re-run only the cheap window over the cached
    # fingerprints (an explicit members persist was measured and bought
    # nothing — exchange reuse already dedups the shuffle).
    members = fp.withColumn(
        "__rep", F.min(id_col).over(Window.partitionBy("simhash"))
    ).withColumn(
        "__gsize", F.count(F.lit(1)).over(Window.partitionBy("simhash"))
    )

    # -- hamming-0 tier: pairs within identical-fingerprint groups --------
    small = members.filter(F.col("__gsize") <= exact_pair_cap)
    sa = small.select(F.col("simhash").alias("__fp"), F.col(id_col).alias("id_a"))
    sb = small.select(F.col("simhash").alias("__fp"), F.col(id_col).alias("id_b"))
    exact_small = (
        sa.join(sb, "__fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).alias("hamming"))
    )
    exact_star = (
        members.filter(
            (F.col("__gsize") > exact_pair_cap) & (F.col(id_col) != F.col("__rep"))
        )
        .select(
            F.col("__rep").alias("id_a"),  # rep = min(id) < every member id
            F.col(id_col).alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )

    # -- cross-fingerprint tier: band DISTINCT fingerprints ---------------
    fp_pairs = _simhash_fp_pairs(
        members.select("simhash").distinct(), combo_size, max_hamming, max_bucket
    )
    # Cross-fp expansion mirrors the hamming-0 cap: members of groups
    # larger than exact_pair_cap are represented by their rep — otherwise
    # two near-identical mega-clusters (|A|x|B| member pairs) would blow
    # the output quadratically, exactly what the cap exists to prevent.
    # Every capped-group member stays reachable through its rep via the
    # hamming-0 star pairs.
    expand = members.filter(
        (F.col("__gsize") <= exact_pair_cap) | (F.col(id_col) == F.col("__rep"))
    )
    ma = expand.select(F.col("simhash").alias("__fa"), F.col(id_col).alias("__ida"))
    mb = expand.select(F.col("simhash").alias("__fb"), F.col(id_col).alias("__idb"))
    cross = (
        fp_pairs.join(ma, "__fa")
        .join(mb, "__fb")
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            "hamming",
        )
    )
    return exact_small.unionByName(exact_star).unionByName(cross)


def simhash_dropped_ids(
    fp: DataFrame,
    id_col: str,
    combo_size: int,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Ids dropped by greedy keep-smallest-id SimHash dedup, computed
    DIRECTLY — without materializing the pair list.

    The greedy contract (:mod:`operators.incremental`): a document x is
    dropped iff some document y with a smaller id has
    ``hamming(fp_x, fp_y) <= max_hamming``. That decomposes per
    fingerprint group:

    - same fingerprint: x is dropped iff it is not its group's min id;
    - different fingerprint: x is dropped iff some NEIGHBOR group (a
      banded fingerprint pair within ``max_hamming``) has min id < x.id.

    So it suffices to compute, per fingerprint, the min id over its
    banded neighbor groups — member×member pair expansion (and the
    ``exact_pair_cap`` output-capping machinery the pair formulation
    needs to survive mega-clusters) never happens. The result is EXACT
    for dedup purposes (identical dropped set to deriving it from
    :func:`simhash_near_dupes_from_fingerprints` pairs, asserted in
    tests/test_incremental.py), with roughly half the stages — this is
    the path :func:`incremental.incremental_simhash_dedup` uses for its
    within-batch tier.

    The caller sizes ``combo_size`` (the incremental path sizes it over
    batch and store together); banding and the ``max_bucket`` skew guard
    are shared with the pair path (same helper), so recall semantics
    cannot drift between the two formulations.

    Output: single column ``id_col``.
    """
    # reps doubles as the distinct-fingerprint set for banding (one row
    # per fingerprint by construction) — no separate .distinct() shuffle.
    reps = fp.groupBy("simhash").agg(F.min(id_col).alias("__m"))
    fp_pairs = _simhash_fp_pairs(
        reps.select("simhash"), combo_size, max_hamming, max_bucket
    )
    # min neighbor-group rep per fingerprint. Symmetrize with a map-only
    # explode, NOT a self-union: a union would put the whole banding
    # pipeline (explode + count window + self-join + distinct) into the
    # plan TWICE — measured 4.6s of the old 6.2s wall at bench scale —
    # while the explode reads the pair list once and emits 2 rows/pair.
    edges = fp_pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("__fa").alias("__f"), F.col("__fb").alias("__g")),
                F.struct(F.col("__fb").alias("__f"), F.col("__fa").alias("__g")),
            )
        ).alias("__e")
    ).select(F.col("__e.__f").alias("__f"), F.col("__e.__g").alias("__g"))
    neigh = (
        edges.join(
            reps.select(F.col("simhash").alias("__g"), F.col("__m").alias("__gm")),
            "__g",
        )
        .groupBy("__f")
        .agg(F.min("__gm").alias("__nm"))
    )
    return (
        fp.join(reps, "simhash")
        .join(neigh, fp["simhash"] == neigh["__f"], "left")
        .filter(
            (F.col(id_col) != F.col("__m")) | (F.col("__nm") < F.col(id_col))
        )
        .select(id_col)
    )


def _probe_max_gram_df(
    grams: DataFrame,
    id_col: str,
    probe_fraction: float,
    seed: int = 42,
) -> float:
    """Estimate the corpus-max gram doc-frequency from a deterministic
    hash-sample of DOCUMENTS (sampling docs scales every gram's df by
    ``probe_fraction`` in expectation, so a gram shared by half the
    corpus is unmissable in any non-trivial sample). One bounded job:
    explode over the sampled docs, count per gram, max — the same
    shape the real pass takes, at ``probe_fraction`` of the cost."""
    cells = 1_000_000
    cut = max(1, int(probe_fraction * cells))
    sampled = grams.filter(
        F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(cells)) < cut
    )
    row = (
        sampled.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__df"))
        .agg(F.max("__df").alias("__m"))
        .first()
    )
    return (row["__m"] or 0) * (cells / cut)


def ngram_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_shared: int = 0,
    hot_gram_df: int = 100_000,
    probe_fraction: float = 0.01,
) -> DataFrame:
    """Per-document duplicate-n-gram coverage — the corpus-internal
    diagnostic behind "remove documents mostly made of text seen
    elsewhere" (the n-gram-bucketed approximation of suffix-array
    substring dedup; pair-based near-dup detectors miss a document
    STITCHED from many sources because no single pair crosses the
    similarity threshold).

    Window shape: one gram explode (map-side), ONE gram-keyed exchange
    with the doc-frequency as an unordered count window, one per-doc
    rollup — measured ~2× faster than the aggregate-plus-join-back
    formulation (which pays the gram exchange AND a sort-merge join on
    the same key). The join shape stays for corpora with mega-hot
    boilerplate grams: AQE splits skewed JOIN partitions but not skewed
    WINDOW partitions, so a gram shared by half the corpus serializes
    one window task while the join shape spreads it. One cheap probe —
    :func:`_probe_max_gram_df` on a ``probe_fraction`` hash-sample of
    documents — picks the join shape when the estimated max gram
    doc-frequency reaches ``hot_gram_df`` (the point where one window
    task would own a partition ``hot_gram_df`` rows deep). Grams key on
    their text, for exact SQL replay. Documents with no tokens have no
    grams and are absent (consistent with the contamination operator's
    empty-doc hygiene).

    Output: ``id_col, n_grams (long), n_shared (long, grams whose
    corpus doc-frequency >= 2), coverage (double)``, filtered to
    ``n_shared >= min_shared``.
    """
    from datawarehousefinal_spark.operators.contamination import word_ngrams

    # _fan_out: the word-ngram expression is CPU-bound; a compact
    # one-file corpus would otherwise tokenize on one core (measured
    # 3.7 s -> sub-second at sf0.1 once spread over the cluster).
    grams = _fan_out(df).select(
        F.col(id_col),
        F.explode(word_ngrams(text_col, n)).alias("gram"),
    )
    if _probe_max_gram_df(grams, id_col, probe_fraction) < hot_gram_df:
        counted = grams.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
        )
    else:
        freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
        counted = grams.join(freq, "gram")
    out = (
        counted.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.count(F.when(F.col("__df") >= 2, 1)).cast("long").alias("n_shared"),
        )
        .withColumn(
            "coverage",
            (F.col("n_shared") * F.lit(1.0) / F.col("n_grams")).cast("double"),
        )
    )
    if min_shared > 0:
        out = out.filter(F.col("n_shared") >= min_shared)
    return out


# ---------------------------------------------------------------------------
# Line-level dedup (C4 / CCNet / RefinedWeb boilerplate removal)
# ---------------------------------------------------------------------------

def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delim: str = "\n",
    keep: str = "first",
    min_repeat: int = 2,
    min_line_chars: int = 1,
) -> DataFrame:
    """Corpus-wide line-level dedup — the C4/CCNet/RefinedWeb boilerplate
    step the reference's row-level pipeline has no counterpart for
    (beyond-reference scale surface, SURVEY.md §7 P7). Splits each
    document on ``delim`` (a literal, not a regex), finds lines that
    repeat across the corpus, drops the repeats, and reassembles the
    surviving text in original order.

    - ``keep="first"``: keep exactly one copy of each repeated line, the
      one with the smallest ``(id, position)`` — C4's "discard all but
      one of any span occurring more than once".
    - ``keep="none"``: drop EVERY occurrence of a line whose corpus
      count >= ``min_repeat`` — boilerplate removal (nav bars, cookie
      banners, newsletter footers repeat on every page; no copy is
      content).

    Lines shorter than ``min_line_chars`` never participate (an empty
    line or lone bullet repeating corpus-wide is structure, not
    duplication) — they are always kept.

    Scale shape: exactly two shuffles, both on uniform keys. (1) a
    window over ``sha2(line)`` — short lines get a synthetic per-row key
    so one code path serves both, and no giant "all the empty lines"
    partition ever forms; (2) the reassembly ``groupBy(id)``, whose
    per-group state is bounded by document size. No UDFs; the collected
    line array per document is the document itself, so memory is the
    same order as the input row. NULL texts are excluded (nothing to
    split) — filter or fillna upstream if they must survive.

    Output: ``id_col, n_lines (long), n_kept (long), text_out (string,
    "" when every line was dropped)``.
    """
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    lines = _fan_out(df.filter(F.col(text_col).isNotNull())).select(
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
    )
    w = Window.partitionBy("__key")
    ranked = keyed.withColumn(
        "__rn", F.row_number().over(w.orderBy(id_col, "__pos"))
    ).withColumn("__cnt", F.count(F.lit(1)).over(w))
    if keep == "first":
        keep_cond = F.col("__rn") == 1
    else:
        keep_cond = F.col("__cnt") < min_repeat
    flagged = ranked.withColumn("__keep", keep_cond)
    kept_sorted = F.array_sort(
        F.collect_list(
            F.when(F.col("__keep"), F.struct("__pos", "__line"))
        )
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("__keep").cast("long")).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(kept_sorted, lambda s: s["__line"]), delim
        ).alias("text_out"),
    )


# ---------------------------------------------------------------------------
# Repeated-span report (exact-substring dedup basis, Lee et al. 2022)
# ---------------------------------------------------------------------------

def repeated_span_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-repeated token spans per document — the distributed
    approximation of exact-substring dedup ("Deduplicating Training Data
    Makes Language Models Better", Lee et al. 2022, public): their
    suffix-array finds substrings repeated anywhere in the corpus; here
    a ``w``-token shingle is *duplicated* when its corpus occurrence
    count reaches ``min_count``, and runs of overlapping duplicated
    shingles merge into maximal spans (every repeated substring of
    length >= w is covered by such a span).

    Three uniform shuffles: (1) shingle-hash counts (xxhash64 — a
    boilerplate shingle is a hot KEY but its count is one row; the
    join-back is AQE-splittable), (2) the join of shingle positions to
    counts, (3) the per-document islands window + span groupBy.
    Gaps-and-islands: a new span starts when the next duplicated start
    position is more than ``w`` tokens past the previous one (covers
    ``[pos, pos+w-1]`` stop overlapping). All codegen column
    expressions; SQL-replayable (the oracle groups by the gram STRING —
    identical equality semantics to the hash modulo 2^-64 collisions).

    Output: ``id_col, span_id (int, 1-based per doc), start_tok,
    end_tok (1-based token indices, inclusive), n_tokens, n_shingles
    (long)`` — one row per maximal repeated span; documents with no
    repeated shingle are absent.
    """
    # Local import: textstats imports from this module (char_shingles),
    # so the top level would be a cycle — same pattern as ngram_coverage.
    from datawarehousefinal_spark.operators.textstats import (
        whitespace_tokens,
    )

    toks = whitespace_tokens(F.col(text_col))
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (w - 1), F.lit(1)))
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.xxhash64(F.concat_ws(" ", F.slice(toks, i, F.lit(w)))).alias(
                "gh"
            ),
        ),
    )
    # _fan_out: the shingle expression (per-position slice + concat +
    # xxhash) is CPU-bound — a compact one-file corpus would otherwise
    # run it on one core (measured: the sf0.1 documents scan is a single
    # partition).
    with materialized(
        _fan_out(df.filter(F.col(text_col).isNotNull()))
        .filter(F.size(toks) >= 1)
        .select(F.col(id_col), F.explode(pairs).alias("__s"))
        .select(F.col(id_col), F.col("__s.pos").alias("__pos"), F.col("__s.gh").alias("__gh"))
        # The shingle frame feeds the counts aggregate AND the join-back;
        # the two consumers' exchanges differ (agg vs join side), so
        # exchange reuse does NOT dedup the explode — unpersisted it
        # computes twice (round-6 bench finding). Scoped persist, same
        # pattern as _simhash_fp_pairs: released once the (small,
        # per-span) result is a local result.
    ) as shingled:
        counts = shingled.groupBy("__gh").agg(F.count(F.lit(1)).alias("__cnt"))
        dup = (
            shingled.join(counts, "__gh")
            .filter(F.col("__cnt") >= min_count)
            .select(id_col, "__pos")
        )
        wd = Window.partitionBy(id_col).orderBy("__pos")
        lag = F.lag("__pos").over(wd)
        brk = F.when(lag.isNull() | (F.col("__pos") - lag > w), 1).otherwise(0)
        islands = dup.withColumn(
            "__island",
            F.sum(brk).over(
                wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        return local_result(islands.groupBy(id_col, "__island").agg(
            F.min("__pos").cast("long").alias("start_tok"),
            (F.max("__pos") + (w - 1)).cast("long").alias("end_tok"),
            (F.max("__pos") + w - F.min("__pos")).cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
        ).select(
            F.col(id_col),
            F.col("__island").cast("int").alias("span_id"),
            "start_tok",
            "end_tok",
            "n_tokens",
            "n_shingles",
        ))


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    shingle_width: int = 5,
) -> DataFrame:
    """EXACT Jaccard near-dup pairs via prefix filtering — the AllPairs /
    SSJoin family (Bayardo et al. WWW'07; Chaudhuri et al. ICDE'06):
    same results as :func:`ngram_jaccard_pairs`, sub-quadratic plan.

    Why it is lossless: order every document's shingles by a GLOBAL
    canonical order (document frequency asc, shingle — rarest first) and
    keep each document's first ``|s| − ceil(t·|s|) + 1`` shingles as its
    prefix. For any pair with Jaccard ≥ t, the intersection has
    ≥ t·max(|A|,|B|) shingles; if the rarest common shingle x were
    outside A's prefix, the whole intersection would fit in A's last
    ``ceil(t·|A|) − 1`` positions — too small. So x lies in BOTH
    prefixes, and the prefix-prefix self-join finds every qualifying
    pair; exact verification then keeps only true ones. No recall loss,
    unlike MinHash banding.

    Scale shape: candidate volume is quadratic only in PREFIX posting
    lists, and prefixes hold each document's RAREST shingles — on a
    near-dup corpus those posting lists are the duplicate clusters
    themselves, not the corpus. Verification joins candidates back to
    the full shingle frame keyed on (id, shingle): |candidates| × set
    size rows, all equi-joins. The per-doc ranking window partitions on
    the document id (input = one document's shingles).

    Output: id_a, id_b, jaccard — identical contract to the brute-force
    twin, so the same SQL oracle checks both.
    """
    with materialized(
        _fan_out(df).select(
            F.col(id_col).alias("__id"),
            F.explode(char_shingles(text_col, shingle_width)).alias("__sh"),
        ),
        checkpoint=True,
    ) as sh:
        freq = sh.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
        w_rank = Window.partitionBy("__id").orderBy("__df", "__sh")
        w_size = Window.partitionBy("__id")
        prefix = (
            sh.join(freq, "__sh")
            .withColumn("__rn", F.row_number().over(w_rank))
            .withColumn("__n", F.count(F.lit(1)).over(w_size))
            .filter(
                F.col("__rn")
                <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
            )
            # df = 1 prefix shingles can never pair (singleton posting
            # list) — drop them BEFORE the self-join; on a mostly-unique
            # shingle universe this removes the bulk of the join input.
            .filter(F.col("__df") >= 2)
            .select("__id", "__sh")
        )
        with materialized(
            prefix.select(F.col("__id").alias("id_a"), "__sh")
            .join(prefix.select(F.col("__id").alias("id_b"), "__sh"), "__sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct(),
            checkpoint=True,
        ) as cand:
            # Verification touches only CANDIDATE documents: broadcast their id
            # set and semi-filter the shingle frame map-side, so the two exact-
            # intersection joins shuffle |candidate docs| × set size rows, never
            # the whole corpus.
            cand_ids = (
                cand.select(F.col("id_a").alias("__id"))
                .unionByName(cand.select(F.col("id_b").alias("__id")))
                .distinct()
            )
            sh_cand = sh.join(F.broadcast(cand_ids), "__id", "left_semi")
            sizes = sh_cand.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
            inter = (
                cand.join(
                    sh_cand.select(F.col("__id").alias("id_a"), "__sh"), "id_a"
                )
                .join(
                    sh_cand.select(
                        F.col("__id").alias("__idb"), F.col("__sh").alias("__shb")
                    ),
                    (F.col("id_b") == F.col("__idb"))
                    & (F.col("__sh") == F.col("__shb")),
                )
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("__c"))
            )
            na = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
            nb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"))
            return local_result(
                inter.join(na, "id_a")
                .join(nb, "id_b")
                .select(
                    "id_a",
                    "id_b",
                    (
                        F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c"))
                    ).alias("jaccard"),
                )
                .filter(F.col("jaccard") >= threshold)
            )
