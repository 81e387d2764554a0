"""Arrow signature kernels (operators/kernels.py) checked row for row
against plain Python references, and the direct dropped-id simhash
formulation (dedup.simhash_dropped_ids).

The kernels keep shingling + base hashing in the JVM and reduce only the
per-document hash array in Arrow numpy, so each reference here reads the
same JVM-computed hash arrays and reduces them with the textbook rule.
The edge rows cover a short text (whole-text shingle), a NULL text (no
row), repeated shingles, and a two-shingle text whose votes tie.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.dedup import (
    _base_hash,
    char_shingles,
    minhash_signature,
    simhash,
    simhash_dropped_ids,
    simhash_near_dupes_from_fingerprints,
)
from datawarehousefinal_spark.plans.audit import physical_plan
from datawarehousefinal_spark.sources.testdata import load_table

_P = (1 << 31) - 1


def _docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(900001, "ab"), (900002, None), (900003, "aaaaaa"), (900004, "abcdef")],
        "doc_id long, text string",
    )
    return docs.unionByName(edge)


def _hash_arrays(df, hash_expr) -> dict:
    """doc_id -> the JVM's per-shingle hash array (width 5)."""
    rows = df.filter(F.col("text").isNotNull()).select(
        "doc_id", F.transform(char_shingles("text", 5), hash_expr).alias("hs")
    )
    return {r["doc_id"]: r["hs"] for r in rows.collect()}


def _minhash_reference(bh: list[int], k: int) -> list[int]:
    """The seeded universal-hash family over 2^31-1, spelled out."""
    rng = random.Random(42)
    params = [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(k)]
    return [min((a * b + c) % _P for b in bh) for a, c in params]


def _simhash_reference(hs: list[int]) -> int:
    """Charikar vote: bit i set iff more than half the shingles set it."""
    fp = 0
    for i in range(64):
        ones = sum(((h & (2**64 - 1)) >> i) & 1 for h in hs)
        if 2 * ones > len(hs):
            fp |= 1 << i
    return fp - (1 << 64) if fp >= 1 << 63 else fp


def test_minhash_matches_python_reference_both_hash_modes(spark, sf_dir):
    p = _docs(spark, sf_dir)
    for mode in ("xxhash64", "md5"):
        base = _hash_arrays(p, lambda s: _base_hash(s, mode))
        got = {
            r["doc_id"]: [r[f"h{j}"] for j in range(16)]
            for r in minhash_signature(p, "doc_id", "text", 16, 5, mode).collect()
        }
        assert got == {d: _minhash_reference(bh, 16) for d, bh in base.items()}, mode
        assert 900002 not in got  # NULL text: no row
        assert len(base[900003]) == 1  # repeated shingles count once


def test_simhash_matches_python_votes(spark, sf_dir):
    p = _docs(spark, sf_dir)
    hs = _hash_arrays(p, lambda s: F.xxhash64(s))
    got = {r["doc_id"]: r["simhash"] for r in simhash(p, "doc_id", "text", 5).collect()}
    assert got == {d: _simhash_reference(h) for d, h in hs.items()}
    assert 900002 not in got
    assert len(hs[900004]) == 2  # a two-shingle doc ties on ~half its bits


def test_signature_kernels_handle_empty_input(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_signature(empty, "doc_id", "text", 16, 5).collect() == []
    assert simhash(empty, "doc_id", "text", 5).collect() == []


def test_signature_kernels_are_arrow_batched(spark, sf_dir):
    """Both signature builds reduce in one Arrow-batched MapInPandas,
    never in row-at-a-time Python."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mh = physical_plan(minhash_signature(docs, "doc_id", "text", 16, 5))
    assert "MapInPandas" in mh
    assert "BatchEvalPython" not in mh  # Arrow-batched, not row-at-a-time
    sh = physical_plan(simhash(docs, "doc_id", "text", 5))
    assert "MapInPandas" in sh
    assert "BatchEvalPython" not in sh


def test_simhash_dropped_ids_matches_pair_derivation(spark, sf_dir):
    """The direct formulation must drop EXACTLY the ids the greedy
    contract derives from the pair list: non-min ids of identical-
    fingerprint groups plus ids exceeding a banded neighbor group's min.
    Run uncapped (exact_pair_cap high) so the pair list is the full
    ground truth."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = simhash(docs, "doc_id", "text", 5).persist()
    try:
        # the pair path auto-sizes combo_size to 2 at this size
        pairs = simhash_near_dupes_from_fingerprints(
            fp, "doc_id", max_hamming=8, exact_pair_cap=10**6
        )
        expected = {r["id_b"] for r in pairs.select("id_b").distinct().collect()}
        got = {
            r["doc_id"]
            for r in simhash_dropped_ids(fp, "doc_id", 2, max_hamming=8).collect()
        }
        assert expected, "fixture should contain planted near-dups"
        assert got == expected
    finally:
        fp.unpersist()
