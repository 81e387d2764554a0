"""Plan lint over the ENTIRE query registry: every registered query's
physical plan is built at sf0.001 and checked for quadratic joins.

A CartesianProduct anywhere is an unconditional failure. A
BroadcastNestedLoopJoin is allowed only for the queries that choose it
deliberately — small-side-broadcast scoring/reference patterns whose
docstrings document the bound — so a refactor that silently degrades a
bucketed join to all-pairs fails here even if its row-level test still
passes at toy scale.
"""

from __future__ import annotations

import pytest

from datawarehousefinal_spark import queries as Q
from datawarehousefinal_spark.plans.audit import physical_plan

# Deliberate broadcast-NL users: a tiny broadcast side scored against the
# corpus (cosine scoring, inequality self-pairing, 25-name fuzzy
# reference). Each is documented at its definition.
BNLJ_ALLOWED = {
    "fuzzy_closest_match",
    "cosine_topk",
    "knn_label_vote",
    "ivf_topk",
    "embedding_near_dup_pairs",
    "embedding_lsh_near_dups",
    # semantic_dedup_keep's registered face runs over the exact
    # ground-truth pair list (bench-excluded, same role as
    # embedding_near_dup_pairs); the scale path takes LSH pairs and has
    # no BNLJ — pinned in test_similarity.py's injected-pairs test.
    "semantic_dedup_keep",
    # key_skew_profile's single-row (rows, keys) totals cross join —
    # the same bounded scalar-broadcast pattern as class_weights.
    "key_skew_profile",
    # Scalar broadcasts: a SINGLE-ROW aggregate (total count, max
    # surrogate id, regression coefficients) cross-joined onto the frame —
    # BuildRight of one row, bounded by construction. Verified against the
    # plans: every BNLJ in these queries is `BuildRight, Cross` under a
    # 1-row Aggregate subtree.
    "class_weights",
    "dim_merge_incremental",
    "linreg_trend_forecast",
    "time_split_train",
    # attach_class_weights' single-row total-count cross join (the same
    # bounded pattern as class_weights) feeding the RF training frame.
    "rf_confusion_matrix",
    # value_histogram's single-row min/max bounds cross join — the same
    # bounded scalar-broadcast pattern (BuildRight of one aggregate row).
    "value_histogram",
    # winsorized_stats' single-row percentile cut-point cross join —
    # the same bounded scalar-broadcast pattern.
    "winsorized_stats",
    # important_parts_revenue's single-row total-revenue cross join and
    # dormant_rich_customers' single-row (bal_sum, n_pos) cross join —
    # the same bounded scalar-broadcast pattern (BuildRight of one
    # aggregate row feeding a cross-multiplied threshold compare).
    "important_parts_revenue",
    "dormant_rich_customers",
    # bm25_topk's single-row corpus-stats (N, avgdl, dfs) cross join —
    # the same bounded scalar-broadcast pattern. The append variant
    # scores through the identical shape (verified: `BuildRight, Cross`
    # under the 1-row stats Aggregate) over the merged index.
    "bm25_topk",
    "bm25_append_topk",
    # drift_report_orders' PSI snapshot compare: single-row min/max
    # bucket bounds and single-row per-side totals cross-joined onto the
    # bucket counts (verified: every BNLJ is `BuildRight, Cross` under a
    # 1-row Aggregate / IdentityBroadcastMode subtree).
    "drift_report_orders",
    # centroid_cosine_matrix's label<label centroid self-pair — one row
    # per label on both sides (small by contract, like fuzzy's 25-name
    # reference side).
    "centroid_cosine_matrix",
    # ivf_index_append's num_partitions-row centroid-table cross join —
    # the same tiny-broadcast scoring pattern as ivf_topk
    # (prototypicality_prune assigns through the same helper).
    "ivf_append_assignments",
    "prototypicality_prune_keep",
    "ann_recall_report",
    # tfidf's single-row corpus-size (N) cross join and
    # quantile_rank_normalize's single-row total-count (n) cross join —
    # the same bounded scalar-broadcast pattern as class_weights
    # (BuildRight of one aggregate row).
    "tfidf_top_terms",
    "quantile_rank_normalize",
    # bigram_lm_perplexity's single-row vocab-size (V) cross join and
    # dsir_importance_weights' single-row stream-totals (tot_t, tot_r)
    # cross join — the same bounded scalar-broadcast pattern
    # (BuildRight of one aggregate row).
    "bigram_lm_perplexity",
    "dsir_importance_weights",
    "ppl_bucket_mix",
    "dsir_resampled_mix",
    # chi2's single-row totals (n, ka, kb) cross join and
    # grouped_trend_fits' single-row global-min-day (d0) broadcast join
    # — the same bounded scalar-broadcast pattern.
    "chi2_independence_report",
    "grouped_trend_fits",
    # pmi's single-row corpus-size (N) cross join and benford's
    # single-row digit-total cross join — the same bounded
    # scalar-broadcast pattern.
    "pmi_collocations",
    "benford_digit_report",
    # hll store's 'ALL' rollup row: three SINGLE-ROW global aggregates
    # (appended rollup, rebuilt rollup, exact distinct) joined on the
    # literal day='ALL' key — Catalyst folds the literal equality away
    # and plans a 1-row × 1-row BNLJ; bounded by construction.
    "hll_sketch_store_daily",
    # triangle_count's totals frame: THREE single-row global aggregates
    # (edge count, node count, triangle count) crossJoined into the
    # 1-row report — bounded scalar-broadcast by construction.
    "supplier_triangle_count",
    # domain_reweight / loo_group_influence: single-row totals frames
    # (corpus count + min-loss / grand sums, then the normalizer Z)
    # crossJoined onto the |domains|-row aggregate — bounded
    # scalar-broadcast by construction.
    "domain_reweight_mix",
    "loo_source_influence",
    # vocab_drift: the single-row (total_a, total_b) token-count frame
    # crossJoined onto the term counts — bounded scalar-broadcast.
    "vocab_drift_report",
    # pareto: the single-row grand-total revenue frame crossJoined onto
    # the 10-row decile frame — bounded scalar-broadcast.
    "pareto_revenue_report",
    # decayed activity's single-row max-date anchor and the p-chart's
    # single-row overall-rate frame — bounded scalar-broadcast.
    "decayed_activity_score",
    "p_chart_order_status",
    # share-of-parent: the single-row grand-total frame crossJoined onto
    # the 25-row nation rollup — bounded scalar-broadcast.
    "share_of_parent_rollup",
    # forget-cascade: per-table before/after 1-row aggregates
    # crossJoined into the report rows — bounded scalar-broadcast.
    "forget_users_cascade",
    # weekday profile: single-row order-total frame crossJoined onto
    # the 7-row weekday frame — bounded scalar-broadcast.
    "weekday_seasonality_profile",
    # incremental store identity reports: five SINGLE-ROW aggregates
    # (split counts, store count, mismatch count, stray count)
    # crossJoined into the 1-row report — bounded scalar-broadcast by
    # construction (_incr_store_report).
    "incremental_minhash_dedup",
    "incremental_simhash_dedup",
    # KS drift: the single-row (na, nb) totals frame crossJoined onto
    # the cumulative histogram and the 1-row argmax — bounded
    # scalar-broadcast by construction.
    "ks_drift_report",
    # kll_quantile_store: the 1-row p50/p95/p99 readout of the merged KLL
    # sketch (a global aggregate, keys=[]) crossJoined onto the events
    # for the exact-rank check — bounded scalar-broadcast (verified at
    # sf0.01 and sf0.1: the one BNLJ is `BuildRight, Cross`).
    "kll_quantile_store",
}


@pytest.mark.parametrize("name", sorted(Q.QUERIES))
def test_no_quadratic_join(spark, sf_dir, name):
    df = Q.QUERIES[name](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, f"{name}: CartesianProduct in plan"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: BroadcastNestedLoopJoin in plan (not on the allow-list)"
        )
