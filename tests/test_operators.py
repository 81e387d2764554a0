"""Operator regression tests for the round-1/2 defect fixes:
null-safe dimension merge and duplicate-left fuzzy matching."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.fuzzy import fuzzy_closest
from datawarehousefinal_spark.operators.surrogate import (
    build_dimension,
    merge_dimension,
)


def test_merge_dimension_null_keys_are_stable(spark):
    """A natural-key combo containing NULL must be recognized as seen on
    re-merge (Kettle CombinationLookup matches NULL as a value) — the
    round-1 null-unsafe anti-join appended a duplicate with a fresh id on
    every incremental run."""
    src = spark.createDataFrame(
        [("a", None), ("a", "x"), (None, None), ("b", "y")],
        ["k1", "k2"],
    )
    dim = build_dimension(src, ["k1", "k2"], "id_dim")
    assert dim.count() == 4

    # Re-merging the same source must be a no-op.
    merged = merge_dimension(dim, src, ["k1", "k2"], "id_dim")
    assert merged.count() == 4
    assert {r["id_dim"] for r in merged.collect()} == {1, 2, 3, 4}

    # A genuinely new combo (including a NULL-bearing one) extends from max.
    src2 = src.unionByName(
        spark.createDataFrame([("c", None), ("a", "x")], ["k1", "k2"])
    )
    merged2 = merge_dimension(dim, src2, ["k1", "k2"], "id_dim")
    assert merged2.count() == 5
    new_row = merged2.filter(F.col("k1") == "c").collect()
    assert new_row[0]["id_dim"] == 5


def test_fuzzy_closest_preserves_duplicate_left_rows(spark):
    left = spark.createDataFrame(
        [("ALGERIA",), ("ALGERIA",), ("PER",)], ["name"]
    )
    right = spark.createDataFrame(
        [("ALGERIA",), ("PERU",), ("KENYA",)], ["ref"]
    )
    out = fuzzy_closest(left, right, "name", "ref")
    rows = out.collect()
    assert len(rows) == 3  # one output row per input row, dupes kept
    matches = sorted((r["name"], r["match"], r["distance"]) for r in rows)
    assert matches == [
        ("ALGERIA", "ALGERIA", 0),
        ("ALGERIA", "ALGERIA", 0),
        ("PER", "PERU", 1),
    ]


def test_fuzzy_closest_blocked_equals_bruteforce(spark):
    """The length-band blocked join must reproduce the broadcast
    nested-loop result value-for-value (same rows, matches, distances) —
    the blocking key is lossless (|len(a)-len(b)| <= levenshtein(a,b)),
    so no admissible pair may be missed."""
    import random

    from datawarehousefinal_spark.operators.fuzzy import fuzzy_closest_blocked

    rng = random.Random(7)
    alphabet = "abcde"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 8)))
        for _ in range(120)
    ]
    left = spark.createDataFrame([(w,) for w in words[:70]], ["name"])
    right = spark.createDataFrame([(w,) for w in words[50:]], ["ref"])
    for d in (0, 1, 2):
        brute = fuzzy_closest(left, right, "name", "ref").filter(F.col("distance") <= d)
        blocked = fuzzy_closest_blocked(left, right, "name", "ref", d)
        b = sorted((r["name"], r["match"], r["distance"]) for r in brute.collect())
        k = sorted((r["name"], r["match"], r["distance"]) for r in blocked.collect())
        assert b == k, f"divergence at max_distance={d}"


def test_fuzzy_closest_blocked_is_equi_join(spark):
    """The scale path must plan as an equi-join (hash/sort-merge on the
    band key), not a nested loop: big×big is the whole point."""
    from datawarehousefinal_spark.operators.fuzzy import fuzzy_closest_blocked

    left = spark.createDataFrame([("abc",), ("abcd",)], ["name"])
    right = spark.createDataFrame([("abd",), ("xbcd",)], ["ref"])
    out = fuzzy_closest_blocked(left, right, "name", "ref", 1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan


def test_attach_surrogate_key_null_safe(spark):
    """FK attach must match NULL-bearing natural keys as values (same
    contract as build/merge): a plain column-list join would leave orphan
    NULL FKs on exactly the combos build_dimension deliberately keys."""
    from datawarehousefinal_spark.operators.surrogate import (
        attach_surrogate_key,
        build_dimension,
    )

    fact = spark.createDataFrame(
        [("a", None, 10.0), (None, None, 20.0), ("a", "x", 30.0)],
        ["k1", "k2", "m"],
    )
    dim = build_dimension(fact, ["k1", "k2"], "id_dim")
    out = attach_surrogate_key(fact, dim, ["k1", "k2"], "id_dim")
    rows = out.collect()
    assert len(rows) == 3
    assert all(r["id_dim"] is not None for r in rows), "orphan NULL FKs"
    # same combo -> same id
    by_combo = {(r["k1"], r["k2"]): r["id_dim"] for r in rows}
    assert len(set(by_combo.values())) == 3


def test_profile_table_nulls_and_approx(spark):
    from datawarehousefinal_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (None, "b")], ["x", "s"]
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["x"]["n_total"] == 4
    assert prof["x"]["n_nulls"] == 1
    assert prof["x"]["n_distinct"] == 3
    assert prof["x"]["min_value"] == "1" and prof["x"]["max_value"] == "3"
    assert prof["s"]["n_nulls"] == 1
    assert prof["s"]["n_distinct"] == 2
    from datawarehousefinal_spark.plans.audit import count_node

    # exact distincts melt cells + dedup instead of Expand-based
    # multi-countDistinct (2.7x faster, same shuffle volume) — the
    # profile may never replicate rows through Expand
    assert count_node(profile_table(df), "Expand") == 0


def test_measure_state_merge_identities(spark):
    """merge(state, empty) == state; merge handles disjoint and
    overlapping groups; serve derives avg = sum/n with NULL-for-empty."""
    from datawarehousefinal_spark.operators.olap import (
        measure_state,
        merge_measure_state,
        serve_measures,
    )
    import pyspark.sql.functions as F

    a = spark.createDataFrame(
        [("x", 10.0), ("x", 20.0), ("y", 5.0)], "g string, m double"
    )
    b = spark.createDataFrame([("y", 7.0), ("z", 1.0)], "g string, m double")
    sa = measure_state(a, ["g"], "m")
    sb = measure_state(b, ["g"], "m")
    empty = measure_state(b.filter(F.lit(False)), ["g"], "m")

    ident = {r["g"]: (r["n"], r["sum_m"]) for r in merge_measure_state(sa, empty).collect()}
    assert ident == {"x": (2, 30.0), "y": (1, 5.0)}

    served = {
        r["g"]: (r["cantidad_movimientos"], r["promedio_edades"])
        for r in serve_measures(merge_measure_state(sa, sb)).collect()
    }
    assert served == {"x": (2, 15.0), "y": (2, 6.0), "z": (1, 1.0)}


def test_winsorize_null_passthrough_and_approx(spark):
    """NULLs must stay NULL (greatest/least skip NULLs, so an unguarded
    clamp rewrites them to the lower cut), on both percentile paths."""
    from datawarehousefinal_spark.operators.analytics import winsorize

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 1000.0), (4, 50.0), (5, 60.0)],
        "id int, v double",
    )
    for approx in (False, True):
        rows = {r["id"]: r["v"] for r in winsorize(df, "v", 0.1, 0.9, approx=approx).collect()}
        assert rows[2] is None, f"approx={approx}: NULL became {rows[2]}"
        # interior values untouched
        assert rows[4] == 50.0
        assert rows[3] <= 1000.0 and rows[1] >= 10.0
    # the EXACT path interpolates, so the extremes strictly move
    exact = {r["id"]: r["v"] for r in winsorize(df, "v", 0.1, 0.9, approx=False).collect()}
    assert exact[3] < 1000.0 and exact[1] > 10.0


def test_moment_state_merge_identities(spark):
    """merge(state(A), state(B)) == state(A ∪ B) for the full moment
    decomposition (n/Σx/Σx²/min/max), and the served variance matches
    var_pop of the union."""
    from datawarehousefinal_spark.operators.olap import (
        merge_moment_state,
        moment_state,
        serve_moments_exact,
    )
    from pyspark.sql import functions as F

    rows = [("a", float(v)) for v in (1, 2, 3, 100)] + [
        ("b", float(v)) for v in (5, 5, 7)
    ]
    df = spark.createDataFrame(rows, "g string, m double")
    half_a = df.filter("m <= 4")
    half_b = df.filter("m > 4")
    merged = merge_moment_state(
        moment_state(half_a, ["g"], "m"), moment_state(half_b, ["g"], "m")
    )
    direct = moment_state(df, ["g"], "m")
    key = lambda r: (r["g"], r["n"], round(r["sum_m"], 9), round(r["sum_sq"], 9), r["min_m"], r["max_m"])
    assert sorted(map(key, merged.collect())) == sorted(map(key, direct.collect()))
    served = {r["g"]: r for r in serve_moments_exact(merged).collect()}
    truth = {
        r["g"]: r
        for r in df.groupBy("g").agg(F.var_pop("m").alias("v"), F.avg("m").alias("a")).collect()
    }
    for g in ("a", "b"):
        # micro-units truncate, so each served value is within 1e-6 below
        assert 0 <= truth[g]["v"] - served[g]["varianza_micro"] / 1e6 < 1e-6 + 1e-9
        assert 0 <= truth[g]["a"] - served[g]["promedio_micro"] / 1e6 < 1e-6 + 1e-9


def test_grouping_sets_single_expand_plan_and_sets(spark):
    """grouping_sets_measures plans ONE Expand + aggregate (not a union
    of groupBys) and emits exactly the requested sets."""
    from datawarehousefinal_spark.operators.olap import grouping_sets_measures

    df = spark.createDataFrame(
        [("a", "x", "p1", 1, 10.0), ("b", "y", "p2", 2, 20.0)],
        "k1 string, k2 string, k3 string, fk int, m double",
    )
    out = grouping_sets_measures(
        df, [["k1", "k2"], ["k2", "k3"], []], "fk", "m"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1
    rows = out.collect()
    seen_sets = {
        (r["g_k1"], r["g_k2"], r["g_k3"]) for r in rows
    }
    assert seen_sets == {(0, 0, 1), (1, 0, 0), (1, 1, 1)}
    total = [r for r in rows if r["g_k1"] == 1 and r["g_k2"] == 1][0]
    assert total["cantidad_movimientos"] == 2
    assert abs(total["promedio_medida"] - 15.0) < 1e-9


def test_grouped_linreg_exact_and_degenerate(spark):
    from datawarehousefinal_spark.operators.analytics import grouped_linreg

    rows = (
        # group g: exact line y = 2x + 1
        [("g", float(x), 2.0 * x + 1.0) for x in range(5)]
        # group h: zero x-variance -> NULL fit
        + [("h", 3.0, 1.0), ("h", 3.0, 9.0)]
        # group k: constant y -> slope 0, r2 NULL (0/0)
        + [("k", 0.0, 5.0), ("k", 1.0, 5.0), ("k", 2.0, 5.0)]
    )
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    out = {r["g"]: r for r in grouped_linreg(df, ["g"], "x", "y").collect()}
    assert abs(out["g"]["slope"] - 2.0) < 1e-12
    assert abs(out["g"]["intercept"] - 1.0) < 1e-12
    assert abs(out["g"]["r2"] - 1.0) < 1e-12
    assert out["h"]["slope"] is None and out["h"]["r2"] is None
    assert abs(out["k"]["slope"]) < 1e-12
    assert out["k"]["r2"] is None


def test_chi2_independence_known_value(spark):
    from datawarehousefinal_spark.operators.analytics import chi2_independence

    # classic 2x2: observed [[10, 20], [20, 10]] -> chi2 = 6.666...
    rows = (
        [("x", "p")] * 10 + [("x", "q")] * 20
        + [("y", "p")] * 20 + [("y", "q")] * 10
    )
    df = spark.createDataFrame(rows, ["a", "b"])
    r = chi2_independence(df, "a", "b").first()
    assert abs(r["chi2"] - 20.0 / 3.0) < 1e-9
    assert r["dof"] == 1
    assert r["n"] == 60
    assert abs(r["cramers_v"] - (20.0 / 3.0 / 60.0) ** 0.5) < 1e-9


def test_chi2_independence_nulls_are_levels(spark):
    from datawarehousefinal_spark.operators.analytics import chi2_independence

    df = spark.createDataFrame(
        [("x", "p"), ("x", None), (None, "p"), (None, None)], ["a", "b"]
    )
    r = chi2_independence(df, "a", "b").first()
    assert r["n"] == 4
    assert r["dof"] == 1
    assert abs(r["chi2"]) < 1e-9  # perfectly independent 2x2


def test_chi2_independence_structural_zeros(spark):
    """Contingency tables with ABSENT (a,b) combinations must still get
    the full Pearson statistic. Observed [[5,0],[0,5]]: E = 2.5 in all
    four cells, chi2 = 4 * (2.5)^2/2.5 = 10, V = sqrt(10/10) = 1 —
    the (O−E)²/E-over-observed-cells form returns 5.0/0.707 instead
    (each structural zero silently drops its E contribution)."""
    from datawarehousefinal_spark.operators.analytics import chi2_independence

    rows = [("x", "p")] * 5 + [("y", "q")] * 5
    df = spark.createDataFrame(rows, ["a", "b"])
    r = chi2_independence(df, "a", "b").first()
    assert abs(r["chi2"] - 10.0) < 1e-9
    assert r["dof"] == 1
    assert r["n"] == 10
    assert abs(r["cramers_v"] - 1.0) < 1e-9


def test_quantile_rank_normalize_ties_and_edges(spark):
    from datawarehousefinal_spark.operators.analytics import (
        quantile_rank_normalize,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 20.0), (4, 40.0), (5, None)],
        ["id", "v"],
    )
    out = {r["id"]: r["q"] for r in
           quantile_rank_normalize(df, "v").collect()}
    # n=4 non-null; ranks: 10->1, 20,20->midrank 2.5, 40->4; q=(r-1)/3
    assert abs(out[1] - 0.0) < 1e-12
    assert abs(out[2] - 0.5) < 1e-12
    assert abs(out[3] - 0.5) < 1e-12
    assert abs(out[4] - 1.0) < 1e-12
    assert out[5] is None

    const = spark.createDataFrame([(1, 7.0), (2, 7.0)], ["id", "v"])
    cq = {r["id"]: r["q"] for r in
          quantile_rank_normalize(const, "v").collect()}
    assert cq == {1: 0.5, 2: 0.5}


def test_melt_shape_and_nulls(spark):
    from datawarehousefinal_spark.operators.unpivot import melt

    df = spark.createDataFrame(
        [(1, 10.0, None), (2, 20.0, 5.0)], ["id", "a", "b"]
    )
    out = melt(df, ["id"], ["a", "b"]).collect()
    got = sorted((r["id"], r["measure"], r["value"]) for r in out)
    # Spark unpivot KEEPS null values (unlike DuckDB UNPIVOT's default
    # null-exclusion — the oracled fixture has no NULL measures, so the
    # two replays agree there; this pins the Spark-side contract)
    assert got == [
        (1, "a", 10.0), (1, "b", None), (2, "a", 20.0), (2, "b", 5.0)
    ]


def test_fuzzy_pairs_blocked_complete_and_unique(spark):
    from datawarehousefinal_spark.operators.fuzzy import fuzzy_pairs_blocked

    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "ab"), (4, "zzzzz"), (5, "abc")],
        ["id", "name"],
    )
    out = fuzzy_pairs_blocked(df, "id", "name", 1).collect()
    pairs = {(r["id_a"], r["id_b"]): r["distance"] for r in out}
    # brute force ground truth at d=1
    import itertools
    rows = [(1, "abc"), (2, "abd"), (3, "ab"), (4, "zzzzz"), (5, "abc")]
    def lev(a, b):
        import numpy as np
        m = np.zeros((len(a) + 1, len(b) + 1), dtype=int)
        m[:, 0] = range(len(a) + 1); m[0, :] = range(len(b) + 1)
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                m[i, j] = min(m[i-1, j] + 1, m[i, j-1] + 1,
                              m[i-1, j-1] + (a[i-1] != b[j-1]))
        return int(m[len(a), len(b)])
    want = {
        (ia, ib): lev(na, nb)
        for (ia, na), (ib, nb) in itertools.combinations(rows, 2)
        if lev(na, nb) <= 1
    }
    assert pairs == want
    assert len(out) == len(pairs)  # no duplicate pair rows


def test_fuzzy_pairs_blocked_pigeonhole_differential(spark):
    """The d=1 pigeonhole half-string path must find EXACTLY the brute
    force pair set on adversarial inputs: uniform lengths (where the
    band path degenerates), mixed lengths, empties, and one-char
    strings."""
    import itertools
    import random

    from datawarehousefinal_spark.operators.fuzzy import fuzzy_pairs_blocked

    rng = random.Random(99)
    words = [
        "".join(rng.choice("ab") for _ in range(rng.choice([0, 1, 2, 7, 8])))
        for _ in range(80)
    ]
    rows = list(enumerate(words))
    df = spark.createDataFrame(rows, ["id", "name"])

    def lev(a, b):
        if abs(len(a) - len(b)) > 1:
            return 99
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (ia, ib): lev(na, nb)
        for (ia, na), (ib, nb) in itertools.combinations(rows, 2)
        if lev(na, nb) <= 1
    }
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in fuzzy_pairs_blocked(df, "id", "name", 1).collect()
    }
    assert got == want


def test_grouped_quantile_normalize_per_group(spark):
    from datawarehousefinal_spark.operators.analytics import (
        grouped_quantile_normalize,
    )

    df = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("a", 30.0),
         ("b", 100.0), ("b", 200.0),
         ("c", 7.0),            # single-value group -> 0.5
         ("a", None)],
        ["g", "v"],
    )
    out = grouped_quantile_normalize(df, ["g"], "v")
    got = {(r["g"], r["v"]): r["q"] for r in out.collect()}
    assert got[("a", 10.0)] == 0.0
    assert got[("a", 20.0)] == 0.5
    assert got[("a", 30.0)] == 1.0
    assert got[("b", 100.0)] == 0.0 and got[("b", 200.0)] == 1.0
    assert got[("c", 7.0)] == 0.5
    assert got[("a", None)] is None


def test_collapse_rare_categories_count_and_frac(spark):
    from datawarehousefinal_spark.operators.analytics import (
        collapse_rare_categories,
    )

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1 + [(None,)],
        ["v"],
    )
    out = collapse_rare_categories(df, "v", min_count=3).groupBy("v").count()
    got = {r["v"]: r["count"] for r in out.collect()}
    # c (1 < 3) and the NULL row both land in the OOV bucket
    assert got == {"a": 5, "b": 3, "__OTHER__": 2}

    # custom label + out_col
    out2 = collapse_rare_categories(
        df, "v", min_count=3, other_label="rare", out_col="v2"
    )
    got2 = {r["v2"] for r in out2.collect()}
    assert got2 == {"a", "b", "rare"}
    # original column preserved when out_col differs
    assert "v" in out2.columns
