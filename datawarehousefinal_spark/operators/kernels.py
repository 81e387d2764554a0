"""Arrow reduction kernels for the signature builds in :mod:`operators.dedup`.

The HOF signature builds (``simhash``, ``minhash_signature``) express the
per-document reduction — 64 bit-vote sums, k affine-transform mins — as
``aggregate`` / ``array_min(transform(...))`` higher-order expressions.
Those are CodegenFallback in Spark: every array element evaluates through
the interpreted expression walker, so a 1,000-shingle document pays
~22×1,000 interpreted adds (simhash) or k×1,000 interpreted mul-mod-mins
(minhash). Measured on the sf0.1 documents table, the Arrow kernels win
for both: MINHASH's k independent walks over the array cost 5.17 s hof vs
1.39 s arrow (k=16), and SIMHASH's packed-vote walk (22 sums) costs 1.8 s
hof vs 0.8 s arrow once the kernel batches its id handling. ``kernel=
"auto"`` therefore maps to ``"arrow"`` in both ``minhash_signature`` and
``simhash``; ``"hof"`` stays for deployments that must not run Python
workers.

These kernels keep the part that defines the SIGNATURE VALUES — shingling
and the base hash — in the JVM (``char_shingles`` + ``xxhash64``/``md5``,
whole-stage codegen, exactly the expressions the HOF path uses) and move
only the commutative reduction over the hash array into one Arrow-batched
``mapInPandas``: numpy ``unpackbits`` + ``add.reduceat`` for the simhash
bit votes, ``minimum.reduceat`` for the minhash mins. Signatures are
bit-identical to the HOF path:

- simhash: vote rule ``2*ones > n`` over the same xxhash64 values;
- minhash: ``(a·b + c) mod (2^31-1)`` with ``a, c, b < 2^31``, so every
  product fits in int64 — numpy int64 arithmetic is exact, no overflow.

Parity is asserted per-row in tests/test_kernels.py, and the oracle story
is unchanged: DuckDB reproduces the md5 hash_mode signatures regardless of
which engine-side kernel reduced them.

This is the same design as the similarity module's matmul kernel
(similarity.py ``_cosine_scores_arrow``): Arrow is the documented correct
tool when the per-row arithmetic is heavy and vectorizable; everything
row-shaped stays codegen.

Reference scope: beyond-reference scale machinery (the reference has no
dedup; SURVEY.md §2.3 J5 is an unwired Levenshtein step).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

# Cap the flattened-hash working set per numpy chunk: the simhash bit
# matrix is 64 bytes/shingle, so 2^20 shingles ≈ 64 MiB — well inside an
# Arrow worker even with several columns alive.
_CHUNK_SHINGLES = 1 << 20


def _chunk_bounds(lens: np.ndarray) -> list[tuple[int, int]]:
    """Split ``len(lens)`` documents into row slices whose total shingle
    count stays under ``_CHUNK_SHINGLES`` (always ≥ 1 doc per slice, so a
    single pathological multi-million-shingle document still processes)."""
    bounds, start, acc = [], 0, 0
    for i, n in enumerate(lens):
        if acc + int(n) > _CHUNK_SHINGLES and i > start:
            bounds.append((start, i))
            start, acc = i, 0
        acc += int(n)
    bounds.append((start, len(lens)))
    return bounds


def _flat_hashes(series: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(flat int64 hash vector, per-doc lengths) for a list<long> column."""
    arrs = [np.asarray(a, dtype=np.int64) for a in series]
    lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=len(arrs))
    flat = np.concatenate(arrs) if arrs else np.empty(0, dtype=np.int64)
    return flat, lens


def simhash_reduce_arrow(base: DataFrame, id_col: str) -> DataFrame:
    """Reduce a ``(id_col, __hs: array<long>)`` frame of per-shingle
    xxhash64 values to ``(id_col, simhash)`` — the Arrow twin of the
    packed-vote HOF reduction in :func:`dedup.simhash`.

    Per chunk: ``unpackbits`` (bitorder='little', matching ``(h >> i) & 1``)
    turns the flat hash vector into an (n_shingles, 64) 0/1 matrix, one
    ``add.reduceat`` sums votes per document, and the fingerprint sets bit
    i where ``2*ones_i > n_shingles`` — the exact HOF vote rule.
    ``char_shingles`` guarantees every document ≥ 1 shingle, so reduceat
    offsets are strictly increasing (asserted)."""
    out_schema = StructType(
        [base.schema[id_col], StructField("simhash", LongType())]
    )
    shifts = np.arange(64, dtype=np.uint64)

    def reduce_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            flat, lens = _flat_hashes(pdf["__hs"])
            offsets = np.concatenate(([0], np.cumsum(lens)))
            fps = np.empty(len(lens), dtype=np.uint64)
            for lo, hi in _chunk_bounds(lens):
                f = flat[offsets[lo] : offsets[hi]]
                starts = (offsets[lo:hi] - offsets[lo]).astype(np.int64)
                # every doc has >= 1 shingle => strictly increasing starts
                bits = np.unpackbits(
                    f.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                )
                ones = np.add.reduceat(bits, starts, axis=0).astype(np.int64)
                set_bits = (2 * ones) > lens[lo:hi, None]
                fps[lo:hi] = (set_bits.astype(np.uint64) << shifts).sum(
                    axis=1, dtype=np.uint64
                )
            yield pd.DataFrame(
                {id_col: pdf[id_col], "simhash": fps.view(np.int64)}
            )

    return base.mapInPandas(reduce_batches, schema=out_schema)


def minhash_reduce_arrow(
    base: DataFrame, id_col: str, params: list[tuple[int, int]], prime: int
) -> DataFrame:
    """Reduce a ``(id_col, __bh: array<long>)`` frame of base shingle
    hashes (already in ``[0, prime)``) to minhash columns ``h0..h{k-1}`` —
    the Arrow twin of the ``array_min(transform(...))`` HOF reduction in
    :func:`dedup.minhash_signature`.

    ``a, c < prime < 2^31`` and ``b < prime``, so ``a*b + c < 2^62 + 2^31``
    fits int64: numpy arithmetic is exact and the signatures are
    bit-identical to the JVM affine transforms."""
    out_schema = StructType(
        [base.schema[id_col]]
        + [StructField(f"h{j}", LongType()) for j in range(len(params))]
    )

    def reduce_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            flat, lens = _flat_hashes(pdf["__bh"])
            offsets = np.concatenate(([0], np.cumsum(lens)))
            cols = {id_col: pdf[id_col]}
            mins = {j: np.empty(len(lens), dtype=np.int64) for j in range(len(params))}
            for lo, hi in _chunk_bounds(lens):
                f = flat[offsets[lo] : offsets[hi]]
                starts = (offsets[lo:hi] - offsets[lo]).astype(np.int64)
                for j, (a, c) in enumerate(params):
                    vals = (a * f + c) % prime
                    mins[j][lo:hi] = np.minimum.reduceat(vals, starts)
            for j in range(len(params)):
                cols[f"h{j}"] = mins[j]
            yield pd.DataFrame(cols)

    return base.mapInPandas(reduce_batches, schema=out_schema)
