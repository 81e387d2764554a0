"""Bloom-style semi-join pruning — the runtime-filter pattern, explicit.

Beyond-reference scale surface (SURVEY.md §7 P7): at 100 TB the dominant
cost of a selective fact–dim join is shuffling fact rows that the join
will discard. Spark's own runtime filters / DPP cover star-schema scans;
this operator makes the same reduction available for ANY key frame the
caller can express (a filtered dimension, yesterday's id delta, a dedup
survivor set):

1. Hash the membership side's keys into ``m`` buckets and ``distinct``
   them — a frame of AT MOST ``m`` small integers, broadcastable **by
   construction** no matter how large the key side is (a Bloom filter
   with k=1, realized relationally so Catalyst sees a plain broadcast
   hash join).
2. Left-semi join the fact against the broadcast bucket set on
   ``hash(key) % m`` — false positives pass (two keys can share a
   bucket), false negatives are impossible (a present key's bucket is
   present), so the prune NEVER drops a matching row.
3. Run the exact equi-join on the surviving fact rows — the final result
   is byte-identical to the unpruned join; the bloom only cut shuffle
   volume.

False-positive rate ≈ ``1 - exp(-n_distinct_keys / m)``; size ``m`` at
~8–16× the expected distinct-key count (the broadcast is 8 bytes/bucket,
so even m = 1<<24 is a ~128 MB worst case and real bucket sets are far
smaller after ``distinct``). When the key side is small enough to
broadcast whole, skip this operator and let Catalyst broadcast the join
itself — the bloom pays off exactly when the key side is too big to
broadcast but its bucket set is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucket(col, bits: int):
    return F.pmod(F.xxhash64(col), F.lit(bits))


def bloom_key_buckets(keys: DataFrame, key_col: str, bits: int) -> DataFrame:
    """The membership side's occupied bucket set: ``<= bits`` rows of one
    long column ``__bucket``. Aggregation is distinct-on-hash — uniform
    by construction, partial-combined map-side."""
    return (
        keys.filter(F.col(key_col).isNotNull())
        .select(_bucket(F.col(key_col), bits).alias("__bucket"))
        .distinct()
    )


def bloom_prune(
    fact: DataFrame, keys: DataFrame, fact_key: str, keys_key: str,
    bits: int = 1 << 20,
) -> DataFrame:
    """Fact rows whose key *may* be present in ``keys`` (no false
    negatives): a broadcast left-semi join against the occupied bucket
    set. NULL fact keys are dropped (they can never equi-join)."""
    buckets = bloom_key_buckets(keys, keys_key, bits)
    probed = fact.filter(F.col(fact_key).isNotNull()).withColumn(
        "__probe", _bucket(F.col(fact_key), bits)
    )
    return (
        probed.join(
            F.broadcast(buckets),
            probed["__probe"] == buckets["__bucket"],
            "left_semi",
        ).drop("__probe")
    )


def bloom_prune_join(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    keys_key: str,
    bits: int = 1 << 20,
) -> DataFrame:
    """Exact inner ``fact ⋈ keys`` with the fact side bloom-pruned first.
    The result equals the plain join (the exact join runs after the
    prune, and an inner join drops non-matching FACT rows anyway); only
    the shuffle volume changes."""
    pruned = bloom_prune(fact, keys, fact_key, keys_key, bits)
    return pruned.join(keys, pruned[fact_key] == keys[keys_key])
