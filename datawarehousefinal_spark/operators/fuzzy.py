"""Fuzzy matching (SURVEY.md §2.3 J5, §2.7 F14).

The reference declares a Levenshtein closest-value FuzzyMatch step (unwired
experiment, etl_final.ktr:3608-3645). Implemented properly here: for each
left row, the minimum-distance right value, with deterministic tie-breaks.

Scale shape: the right side of a fuzzy lookup is a (small) reference list →
broadcast nested-loop against it, then a per-left-row min. The left side
never shuffles. For big×big fuzzy joins, pre-bucket by a cheap blocking key
(length band, first char, or n-gram LSH from operators/dedup.py) first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fuzzy_closest(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
) -> DataFrame:
    """J5: per left row, the closest right value by Levenshtein distance.

    Output: left columns + ``match`` (closest right value) + ``distance``.
    Ties break on the match value ascending so results are deterministic.
    Each INPUT ROW yields one output row — the min window partitions on a
    synthetic row id, so identical left rows are matched independently
    rather than collapsed into one.
    """
    with_id = left.withColumn("__rid", F.monotonically_increasing_id())
    candidates = with_id.crossJoin(F.broadcast(right.select(right_col).distinct()))
    scored = candidates.withColumn(
        "distance", F.levenshtein(F.col(left_col), F.col(right_col))
    )
    w = Window.partitionBy("__rid").orderBy("distance", right_col)
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__rid")
        .withColumnRenamed(right_col, "match")
    )


def _half_keys(name_col: str):
    """The distance-1 pigeonhole block keys of a string: its floor-half
    prefix and ceil-half END-aligned suffix, each emitted at both
    admissible half lengths (own length L and partner length L−1) so
    pairs whose lengths differ by one still meet on a shared key. One
    edit — substitution, insertion, or deletion — can invalidate at most
    one of the two halves, so every pair within distance 1 shares at
    least one emitted key: the blocking is LOSSLESS. Kind tags ('p:'/
    's:') keep prefix keys from colliding with suffix keys; NULL names
    produce NULL keys, which equality joins drop (matching the
    brute-force operators' NULL semantics)."""
    name = F.col(name_col)
    L = F.length(name)
    h1 = F.floor((L - 1) / 2).cast("int")
    h2 = F.floor(L / 2).cast("int")
    s1 = F.ceil((L - 1) / 2).cast("int")
    s2 = F.ceil(L / 2).cast("int")
    return F.array_distinct(
        F.array(
            F.concat(F.lit("p:"), name.substr(F.lit(1), h1)),
            F.concat(F.lit("p:"), name.substr(F.lit(1), h2)),
            F.concat(F.lit("s:"), name.substr(L - s1 + 1, s1)),
            F.concat(F.lit("s:"), name.substr(L - s2 + 1, s2)),
        )
    )


def fuzzy_closest_blocked(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int,
) -> DataFrame:
    """Big×big scale path for :func:`fuzzy_closest` bounded at
    ``max_distance``: the same output contract (closest right value per
    left ROW, ties break on match ascending) over matches within the
    bound; left rows with no candidate inside it are dropped. Candidate
    generation is
    a length-band EQUI-JOIN instead of a broadcast nested loop, so
    NEITHER side needs to fit in memory.

    The blocking key is lossless, not heuristic: Levenshtein distance ≥
    |len(a) − len(b)|, so every admissible pair has length difference ≤
    d. With band width w = d+1, ``floor(len/w)`` of two admissible
    strings differs by at most 1 — exploding the RIGHT side into its
    band and both neighbors (3 rows, a constant factor) and equi-joining
    on the left band covers every admissible pair exactly once. The join
    shuffles on the band id like any equi-join (AQE handles band skew);
    per-pair work after the join is one ``levenshtein`` with Spark's
    built-in early-exit bound.

    Equivalence to the brute-force operator is pinned by a differential
    test (tests/test_operators.py).
    """
    if max_distance < 0:
        raise ValueError("max_distance must be >= 0")
    w_band = max_distance + 1
    lhs = left.withColumn("__rid", F.monotonically_increasing_id()).withColumn(
        "__band", F.floor(F.length(left_col) / w_band)
    )
    r_vals = right.select(right_col).distinct()
    rband = F.floor(F.length(right_col) / w_band)
    rhs = r_vals.select(
        right_col,
        F.explode(F.array(rband - 1, rband, rband + 1)).alias("__band"),
    )
    scored = (
        lhs.join(rhs, "__band")
        # cheap length pre-filter before the (more expensive) edit distance
        .filter(
            F.abs(F.length(left_col) - F.length(right_col)) <= max_distance
        )
        .withColumn(
            "distance",
            F.levenshtein(F.col(left_col), F.col(right_col), max_distance),
        )
        .filter(F.col("distance") >= 0)  # bounded levenshtein returns -1 past d
    )
    w = Window.partitionBy("__rid").orderBy("distance", right_col)
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__rid", "__band")
        .withColumnRenamed(right_col, "match")
    )


def fuzzy_pairs_blocked(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_distance: int,
) -> DataFrame:
    """ALL pairs within ``max_distance`` edits — the edge generator for
    entity resolution (pairs → connected components → canonical id).
    Same lossless length-band blocking as :func:`fuzzy_closest_blocked`,
    self-join flavor: one side keeps its band, the other explodes into
    the 3 adjacent bands, so every admissible pair meets on exactly one
    band key (bands are distinct, so no pair duplicates); ``id_a <
    id_b`` fixes orientation. Neither side broadcasts by construction.

    Output: ``id_a, id_b, distance`` (one row per unordered pair).

    Blocking strategy by distance bound: for ``max_distance == 1`` the
    block key is the LOSSLESS pigeonhole pair of half-strings — one
    edit cannot change both the (floor-half) prefix and the
    (ceil-half, end-aligned) suffix, and emitting the two admissible
    half lengths per string covers the ±1 length shift — so a corpus of
    NEAR-UNIFORM length (where a pure length band degenerates into one
    giant block and the join goes quadratic-within-block) still blocks
    on actual content. For larger bounds the length band is the block
    key; both paths verify with the bounded ``levenshtein`` and are
    differential-tested against brute force.
    """
    if max_distance < 0:
        raise ValueError("max_distance must be >= 0")
    if max_distance == 1:
        keyed = df.select(
            F.col(id_col).alias("__id"),
            F.col(name_col).alias("__n"),
            F.explode(_half_keys(name_col)).alias("__k"),
        )
        a = keyed.select(
            F.col("__id").alias("id_a"),
            F.col("__n").alias("__na"),
            "__k",
        )
        b = keyed.select(
            F.col("__id").alias("id_b"),
            F.col("__n").alias("__nb"),
            "__k",
        )
        cand = (
            a.join(b, "__k")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "__na", "__nb")
            .distinct()  # a pair can meet on both half keys
        )
        return (
            cand.filter(F.abs(F.length("__na") - F.length("__nb")) <= 1)
            .withColumn(
                "distance", F.levenshtein(F.col("__na"), F.col("__nb"), 1)
            )
            .filter(F.col("distance") >= 0)
            .select("id_a", "id_b", "distance")
        )
    w_band = max_distance + 1
    base = df.select(
        F.col(id_col).alias("id_a"),
        F.col(name_col).alias("__na"),
        F.floor(F.length(name_col) / w_band).alias("__band"),
    )
    rband = F.floor(F.length(name_col) / w_band)
    other = df.select(
        F.col(id_col).alias("id_b"),
        F.col(name_col).alias("__nb"),
        F.explode(F.array(rband - 1, rband, rband + 1)).alias("__band"),
    )
    return (
        base.join(other, "__band")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.abs(F.length("__na") - F.length("__nb")) <= max_distance
        )
        .withColumn(
            "distance",
            F.levenshtein(F.col("__na"), F.col("__nb"), max_distance),
        )
        .filter(F.col("distance") >= 0)
        .select("id_a", "id_b", "distance")
    )
