"""End-to-end corpus-curation funnel: monotone stage counts, stage
semantics cross-checked against the operators run standalone, split
determinism, and plan hygiene."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.curation import curate_corpus
from datawarehousefinal_spark.sources.testdata import load_table

W = 14  # shingle width tuned for the synthetic corpus (see queries/_shared.py)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )


def test_funnel_counts_monotone_and_consistent(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    with curate_corpus(
        docs, min_chars=20, min_quality=0.1, shingle_width=W
    ) as (curated, report):
        rows = {r["stage"]: r["n_rows"] for r in report.collect()}
        n_curated = curated.count()
    assert list(rows) == [
        "00_input", "01_length", "02_rules", "03_exact_dedup", "04_near_dedup"
    ]
    ordered = [rows[k] for k in sorted(rows)]
    assert ordered == sorted(ordered, reverse=True)  # funnel never grows
    assert rows["00_input"] == docs.count()
    assert n_curated == rows["04_near_dedup"]
    # the near-dup stage must actually fire on this fixture (planted dups)
    assert rows["04_near_dedup"] < rows["03_exact_dedup"]


def test_split_deterministic_and_disjoint(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    def assignment():
        with curate_corpus(
            docs, min_quality=0.1, shingle_width=W, val_pct=10
        ) as (curated, _):
            return {
                (r["doc_id"], r["split"])
                for r in curated.select("doc_id", "split").collect()
            }

    s1, s2 = assignment(), assignment()
    assert s1 == s2  # seeded hash bucket: same assignment every run
    splits = {split for _, split in s1}
    assert splits <= {"train", "val"} and "train" in splits


def test_curation_plan_not_quadratic(spark, sf_dir):
    from datawarehousefinal_spark.plans.audit import assert_no_cartesian

    docs = _docs(spark, sf_dir)
    with curate_corpus(docs, min_quality=0.1, shingle_width=W) as (curated, _):
        assert_no_cartesian(curated)


def test_deterministic_sample_nested_and_stable(spark):
    from datawarehousefinal_spark.operators.curation import deterministic_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s20 = deterministic_sample(df, "doc_id", 0.2, seed=7)
    s10 = deterministic_sample(df, "doc_id", 0.1, seed=7)
    ids20 = {r["doc_id"] for r in s20.collect()}
    ids10 = {r["doc_id"] for r in s10.collect()}
    # nested: the 10% sample is a subset of the 20% sample at one seed
    assert ids10 <= ids20
    # stable across re-evaluation and repartitioning
    again = {
        r["doc_id"]
        for r in deterministic_sample(
            df.repartition(13), "doc_id", 0.2, seed=7
        ).collect()
    }
    assert again == ids20
    # roughly the right size (Bernoulli, 2000 trials)
    assert 0.15 * 2000 < len(ids20) < 0.25 * 2000


def test_deterministic_sample_exact_nested_and_stable(spark):
    from datawarehousefinal_spark.operators.curation import (
        deterministic_sample_exact,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    top100 = {r["doc_id"] for r in
              deterministic_sample_exact(df, "doc_id", 100, seed=7).collect()}
    top200 = {r["doc_id"] for r in
              deterministic_sample_exact(df, "doc_id", 200, seed=7).collect()}
    assert len(top100) == 100 and len(top200) == 200
    # nested: the top-100 is a subset of the top-200 at one seed
    assert top100 <= top200
    # stable across repartitioning (pure function of ids + seed)
    again = {r["doc_id"] for r in
             deterministic_sample_exact(
                 df.repartition(13), "doc_id", 100, seed=7
             ).collect()}
    assert again == top100
    # a different seed is a different sample
    other = {r["doc_id"] for r in
             deterministic_sample_exact(df, "doc_id", 100, seed=8).collect()}
    assert other != top100


def test_rebalance_sources_quotas(spark):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.curation import rebalance_sources

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = rebalance_sources(
        df, "doc_id", "source", {"big": 0.5, "small": 0.5}, 200, seed=1
    )
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # big is over quota (900 -> ~100 expected); small is under its 100-row
    # quota so every one of its 100 rows is kept
    assert counts["small"] == 100
    assert 60 < counts["big"] < 140
    # sources with no declared share are dropped entirely
    out2 = rebalance_sources(df, "doc_id", "source", {"small": 1.0}, 50, seed=1)
    assert out2.filter(F.col("source") == "big").count() == 0


def test_seeded_shuffle_is_deterministic_permutation(spark):
    from datawarehousefinal_spark.operators.curation import seeded_shuffle

    df = spark.createDataFrame([(i,) for i in range(100)], ["id"])
    a = [r["id"] for r in seeded_shuffle(df, "id", seed=1).collect()]
    b = [r["id"] for r in seeded_shuffle(df.repartition(7), "id", seed=1).collect()]
    c = [r["id"] for r in seeded_shuffle(df, "id", seed=2).collect()]
    assert a == b                      # partition-layout independent
    assert sorted(a) == list(range(100))  # a permutation, nothing lost
    assert a != c                      # a new seed is a new epoch order
    assert a != list(range(100))       # actually shuffled
    ranked = seeded_shuffle(df, "id", seed=1, rank_col="rk").collect()
    assert [r["id"] for r in ranked] == a
    assert [r["rk"] for r in ranked] == list(range(100))


def test_funnel_transitive_mode_merges_chains(spark):
    """A near-dup CHAIN (A~B, B~C, but not A~C at the threshold): the
    funnel resolves the connected component and keeps exactly one
    survivor."""
    from datawarehousefinal_spark.operators.curation import curate_corpus

    base = " ".join(f"palabra{i} texto" for i in range(40))
    rows = [
        (1, "XQZWKJVY " + base[9:]),   # A ~ B (J=.936)
        (2, base),                      # B ~ C (J=.931); A ~ C J=.873 < .9
        (3, base[:-9] + " QWXZKJVY"),
        (4, "completely different content here entirely about spark"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    with curate_corpus(
        docs, min_chars=5, min_quality=0.0, near_dup_threshold=0.9,
    ) as (curated, _):
        t_ids = sorted(r["doc_id"] for r in curated.collect())
    assert t_ids == [1, 4]  # whole chain collapses to its min id


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------


def _docs_wl(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )


def test_weighted_sample_deterministic_and_exact_n(spark, sf_dir):
    from datawarehousefinal_spark.operators.curation import weighted_sample_exact

    docs = _docs_wl(spark, sf_dir)
    a = sorted(r["doc_id"] for r in weighted_sample_exact(docs, "doc_id", "n_chars", 50).collect())
    b = sorted(r["doc_id"] for r in weighted_sample_exact(docs, "doc_id", "n_chars", 50).collect())
    assert a == b and len(a) == 50


def test_weighted_sample_nested(spark, sf_dir):
    from datawarehousefinal_spark.operators.curation import weighted_sample_exact

    docs = _docs_wl(spark, sf_dir)
    small = {r["doc_id"] for r in weighted_sample_exact(docs, "doc_id", "n_chars", 30).collect()}
    big = {r["doc_id"] for r in weighted_sample_exact(docs, "doc_id", "n_chars", 60).collect()}
    assert small <= big


def test_weighted_sample_prefers_heavy_rows(spark):
    from datawarehousefinal_spark.operators.curation import weighted_sample_exact

    # 100 light rows (w=1) + 100 heavy rows (w=100): a 50-draw should be
    # dominated by heavy rows (deterministic for the fixed seed).
    rows = [(i, 1.0) for i in range(100)] + [(i + 100, 100.0) for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "w"])
    picked = [r["id"] for r in weighted_sample_exact(df, "id", "w", 50).collect()]
    heavy = sum(1 for i in picked if i >= 100)
    assert heavy >= 45, f"only {heavy}/50 draws were heavy-weight rows"


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from datawarehousefinal_spark.operators.curation import weighted_sample_exact

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)], ["id", "w"]
    )
    picked = {r["id"] for r in weighted_sample_exact(df, "id", "w", 10).collect()}
    assert picked == {1, 5}


def test_temperature_rebalance_flattens_at_alpha_zero(spark):
    from datawarehousefinal_spark.operators.curation import temperature_rebalance

    # 900 'big' rows vs 100 'small': alpha=0 targets 50/50 of budget 100.
    rows = [(i, "big") for i in range(900)] + [(900 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "src"])
    out = temperature_rebalance(df, "id", "src", 0.0, 100)
    got = {r["src"]: r["n"] for r in out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(got["big"] - 50) <= 20, got
    assert abs(got["small"] - 50) <= 20, got


def test_temperature_rebalance_alpha_one_keeps_natural_shares(spark):
    from datawarehousefinal_spark.operators.curation import temperature_rebalance

    rows = [(i, "big") for i in range(800)] + [(800 + i, "small") for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "src"])
    out = temperature_rebalance(df, "id", "src", 1.0, 500)
    got = {r["src"]: r["n"] for r in out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    # natural: 400/100 expected (Bernoulli spread allowed)
    assert abs(got["big"] - 400) <= 60, got
    assert abs(got["small"] - 100) <= 35, got


def test_temperature_rebalance_tail_kept_whole_not_upsampled(spark):
    from datawarehousefinal_spark.operators.curation import temperature_rebalance

    rows = [(i, "big") for i in range(1000)] + [(1000 + i, "tiny") for i in range(5)]
    df = spark.createDataFrame(rows, ["id", "src"])
    out = temperature_rebalance(df, "id", "src", 0.0, 400)
    got = {r["src"]: r["n"] for r in out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["tiny"] == 5, "tail source must keep every row, never duplicate"
    assert got["big"] < 1000


def test_token_budget_sample_budget_and_determinism(spark):
    from datawarehousefinal_spark.operators.curation import token_budget_sample

    rows = [(i, "s" + str(i % 3), 100 + (i % 7) * 10) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = token_budget_sample(df, "doc_id", "source", "n_tokens", 500, seed=5)
    got = out.collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r["n_tokens"])
    assert set(by_src) == {"s0", "s1", "s2"}
    for toks in by_src.values():
        assert sum(toks) - max(toks) < 500      # overshoot ≤ one doc
        assert sum(toks) >= min(500, sum(toks))  # non-empty fill
    # pure function of (ids, seed): identical on re-run
    again = token_budget_sample(df, "doc_id", "source", "n_tokens", 500, seed=5)
    assert sorted(r["doc_id"] for r in again.collect()) == sorted(
        r["doc_id"] for r in got
    )


def test_leakage_safe_split_keeps_clusters_together(spark):
    from datawarehousefinal_spark.operators.curation import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    with leakage_safe_split(docs, "doc_id", pairs) as split:
        out = {r["doc_id"]: r["split"] for r in split.collect()}
    assert len(out) == 20
    assert out[1] == out[2] == out[3]
    assert out[7] == out[8]
    assert set(out.values()) <= {"train", "eval"}


def test_length_band_rebalance_flattens_bands(spark):
    from datawarehousefinal_spark.operators.curation import length_band_rebalance

    # 800 short docs (band 3: 8-15 chars) vs 40 long (band 7: 128-255)
    rows = [(i, 10) for i in range(800)] + [(1000 + i, 200) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = length_band_rebalance(df, "doc_id", "n_chars", 50, seed=3)
    got = out.groupBy("band").count().collect()
    by_band = {r["band"]: r["count"] for r in got}
    assert by_band[7] == 40               # under target: passes whole
    assert 20 <= by_band[3] <= 90         # ~50 expected of 800
    # deterministic: re-run identical
    again = length_band_rebalance(df, "doc_id", "n_chars", 50, seed=3)
    assert sorted(r["doc_id"] for r in again.collect()) == sorted(
        r["doc_id"] for r in out.collect()
    )


def test_stratified_sample_exact_counts_and_nesting(spark):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.curation import (
        stratified_sample_exact,
    )

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("g")
    )
    s20 = stratified_sample_exact(df, "id", "g", 0.2, seed=5)
    per = {r["g"]: r["count"] for r in s20.groupBy("g").count().collect()}
    import math
    # strata sizes: g=0 -> 334, g=1/2 -> 333
    assert per == {
        "0": math.ceil(334 * 0.2),
        "1": math.ceil(333 * 0.2),
        "2": math.ceil(333 * 0.2),
    }
    # nesting: 10% sample is a subset of the 20% at the same seed
    s10 = {r["id"] for r in
           stratified_sample_exact(df, "id", "g", 0.1, seed=5).collect()}
    s20_ids = {r["id"] for r in s20.collect()}
    assert s10 <= s20_ids


def test_stratified_split_exact_matches_sample_and_partitions(spark):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.curation import (
        stratified_sample_exact,
        stratified_split_exact,
    )

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("g")
    )
    split = stratified_split_exact(df, "id", "g", 0.2, seed=5)
    # every input row comes back exactly once, flagged
    assert split.count() == 1000
    train_ids = {r["id"] for r in split.filter("is_train").collect()}
    sample_ids = {r["id"] for r in
                  stratified_sample_exact(df, "id", "g", 0.2, seed=5).collect()}
    # the train side IS the exact-fraction sample's kept set
    assert train_ids == sample_ids
    # single window pass: no join anywhere in the plan
    plan = split._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_dsir_importance_prefers_target_like_docs(spark):
    from datawarehousefinal_spark.operators.curation import dsir_importance

    # target domain: cooking text; raw pool: cooking + legal text
    cooking = [(i, "whisk the eggs and fold the flour") for i in range(10)]
    legal = [(100 + i, "the party of the first part hereby agrees")
             for i in range(10)]
    raw = spark.createDataFrame(cooking + legal, "doc_id long, text string")
    target = spark.createDataFrame(cooking[:5], "doc_id long, text string")
    with dsir_importance(raw, target, "doc_id", "text") as scores:
        out = {r["doc_id"]: r["log_weight"] for r in scores.collect()}
    assert len(out) == 20
    # every cooking doc outranks every legal doc
    assert min(out[i] for i, _ in cooking) > max(out[i] for i, _ in legal)


def test_dsir_importance_feature_counts(spark):
    from datawarehousefinal_spark.operators.curation import dsir_importance

    raw = spark.createDataFrame(
        [(1, "a b c"), (2, "a"), (3, "")], "doc_id long, text string"
    )
    target = raw.filter("doc_id = 1")
    with dsir_importance(raw, target, "doc_id", "text") as scores:
        out = {r["doc_id"]: r["n_feats"] for r in scores.collect()}
    # 3 unigrams + 2 bigrams; 1 unigram; empty docs carry no features
    assert out == {1: 5, 2: 1}


def test_dsir_resampled_mix_conserves_draw(spark):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark import queries as Q

    out = Q.QUERIES["dsir_resampled_mix"](spark, "/root/testdata/sf0.001")
    agg = out.agg(
        F.sum("n_docs_sampled"), F.sum("share_corpus"), F.sum("share_sampled")
    ).first()
    # the fixture corpus exceeds the draw size: exactly n=200 sampled
    assert agg[0] == 200
    assert abs(agg[1] - 1.0) < 1e-9 and abs(agg[2] - 1.0) < 1e-9


def test_unimax_allocation_waterfill(spark):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.operators.curation import unimax_allocation

    # caps at epoch_cap=1.0: a=10, b=20, c=100; budget 60 ->
    # a,b saturate, c gets the 30 left (hand-solved water level).
    rows = (
        [("a", i) for i in range(10)]
        + [("b", i) for i in range(20)]
        + [("c", i) for i in range(100)]
    )
    df = spark.createDataFrame(rows, ["g", "x"])
    out = {
        r["g"]: r
        for r in unimax_allocation(df, "g", budget=60, epoch_cap=1.0).collect()
    }
    assert out["a"]["alloc"] == 10.0 and out["a"]["epochs"] == 1.0
    assert out["b"]["alloc"] == 20.0
    assert out["c"]["alloc"] == 30.0 and abs(out["c"]["epochs"] - 0.3) < 1e-12

    # budget below every cap -> pure uniform split, nobody saturated
    out2 = unimax_allocation(df, "g", budget=24, epoch_cap=1.0)
    assert {r["alloc"] for r in out2.collect()} == {8.0}

    # budget above the total cap -> everyone saturates at cap
    out3 = unimax_allocation(df, "g", budget=10_000, epoch_cap=2.0)
    got = {r["g"]: r["alloc"] for r in out3.collect()}
    assert got == {"a": 20.0, "b": 40.0, "c": 200.0}
    # sum(alloc) == min(budget, sum(cap)) on the waterfilled case
    tot = (
        unimax_allocation(df, "g", budget=60, epoch_cap=1.0)
        .agg(F.sum("alloc"))
        .first()[0]
    )
    assert abs(tot - 60.0) < 1e-9


def test_unimax_allocation_validates(spark):
    import pytest

    from datawarehousefinal_spark.operators.curation import unimax_allocation

    df = spark.createDataFrame([("a", 1)], ["g", "x"])
    with pytest.raises(ValueError):
        unimax_allocation(df, "g", budget=0)
    with pytest.raises(ValueError):
        unimax_allocation(df, "g", budget=5, epoch_cap=0.0)


@pytest.mark.parametrize("fraction", [-0.1, 1.5])
def test_stratified_exact_rejects_fraction_outside_unit_interval(spark, fraction):
    from datawarehousefinal_spark.operators.curation import (
        stratified_sample_exact,
        stratified_split_exact,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "source"])
    with pytest.raises(ValueError, match="fraction"):
        stratified_sample_exact(df, "doc_id", "source", fraction)
    with pytest.raises(ValueError, match="fraction"):
        stratified_split_exact(df, "doc_id", "source", fraction)
