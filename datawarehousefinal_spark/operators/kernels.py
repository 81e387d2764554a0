"""Arrow reduction kernels for the signature builds in :mod:`operators.dedup`.

``simhash`` and ``minhash_signature`` compute each document's shingle set
and its per-shingle hash array in the JVM (``char_shingles`` +
``xxhash64``/``md5``), so the values that define a signature never leave
Spark's expressions. Only the commutative per-document reduction over that
array runs here, as one Arrow-batched ``mapInPandas`` per operator.
Contract:

- **simhash vote rule.** Bit i of the fingerprint is set iff
  ``2 * ones_i > n``, where ``ones_i`` counts the document's shingle
  hashes with bit i set (``(h >> i) & 1``) and ``n`` is its shingle count
  — Charikar's "positive ±1 vote sum". A tie (``2 * ones_i == n``) leaves
  the bit clear.
- **minhash int64 exactness.** ``h_j = min over b of (a_j·b + c_j) mod p``
  with ``p = 2^31 - 1`` and ``a_j, c_j, b < p``, so every product is below
  ``2^62 + 2^31`` and numpy int64 arithmetic is exact: no overflow, no
  float rounding.
- **Chunking.** A batch is reduced in row slices of at most
  ``_CHUNK_SHINGLES`` flattened shingles (the simhash bit matrix costs 64
  bytes a shingle), except that a slice always holds at least one
  document, so one huge document still reduces, alone. Slicing never
  splits a document, so the result does not depend on it.
- Every input row has at least one shingle (``char_shingles`` maps a short
  text to itself; NULL texts are filtered upstream), so ``reduceat``
  offsets are strictly increasing. An empty batch yields nothing.

tests/test_kernels.py checks both kernels row for row against plain
Python references over the hash arrays the JVM computes.

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
    xxhash64 values to ``(id_col, simhash)``.

    Per chunk: ``unpackbits`` (bitorder='little', matching ``(h >> i) & 1``)
    turns the flat hash vector into an (n_shingles, 64) 0/1 matrix, one
    ``add.reduceat`` sums votes per document, and the fingerprint sets bit
    i where ``2*ones_i > n_shingles``."""
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
    hashes (already in ``[0, prime)``) to minhash columns ``h0..h{k-1}``,
    ``h_j = min((a_j*b + c_j) % prime)`` for ``params[j] = (a_j, c_j)``.
    ``a, c < prime < 2^31`` and ``b < prime``, so ``a*b + c < 2^62 + 2^31``
    fits int64: numpy arithmetic is exact."""
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
