"""Plan-shape audits of the registered queries: the 100 TB contracts
(broadcast dims, pruned scans, partial aggregation, no cartesian blow-ups,
no Python round-trips) asserted on the physical plan itself."""

from __future__ import annotations

import __spark_entry__ as entrymod
from datawarehousefinal_spark.plans import (
    assert_broadcast_join,
    assert_columns_pruned,
    assert_max_shuffles,
    assert_no_cartesian,
    assert_no_python_udf,
    assert_partial_aggregation,
    assert_whole_stage_codegen,
    physical_plan,
    scan_read_schemas,
)


def _q(spark, sf_dir, name):
    return entrymod.queries()[name](spark, sf_dir)


def test_star_denormalized_broadcasts_every_dim(spark, sf_dir):
    df = _q(spark, sf_dir, "star_denormalized")
    assert_no_cartesian(df)
    # every dim side broadcasts — the fact table never shuffles for a join
    assert_broadcast_join(df, min_count=3)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert_no_python_udf(df)


def test_fact_fk_attach_broadcasts(spark, sf_dir):
    df = _q(spark, sf_dir, "fact_fk_attach")
    assert_no_cartesian(df)
    assert_broadcast_join(df, min_count=1)


def test_movements_by_year_partial_agg_and_pruning(spark, sf_dir):
    df = _q(spark, sf_dir, "movements_by_year")
    assert_partial_aggregation(df)
    # the measure aggregation needs orderdate/status/price columns only —
    # the wide comment/clerk columns must not reach the scan
    assert_columns_pruned(df, ["o_comment", "o_clerk"])


def test_sentinel_null_cast_is_shuffle_free(spark, sf_dir):
    df = _q(spark, sf_dir, "sentinel_null_cast")
    assert_max_shuffles(df, 0)  # pure projection: map-only at any scale
    assert_whole_stage_codegen(df)
    assert_no_python_udf(df)


def test_exact_dedup_single_shuffle(spark, sf_dir):
    # keep-first dedup is window-based: exactly one hash shuffle on the
    # content key, no joins, regardless of corpus size
    df = _q(spark, sf_dir, "exact_dedup")
    assert_no_cartesian(df)
    assert_max_shuffles(df, 1)


def test_cosine_topk_arrow_kernel_plan(spark, sf_dir):
    """The Arrow matmul kernel: one MapInPandas (vectorized,
    Arrow-batched — NOT a row-at-a-time Python UDF) that emits only
    per-partition top-k candidates, so the top-k window shuffles
    ~partitions x Q x k rows instead of Q x N."""
    df = _q(spark, sf_dir, "cosine_topk")
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "MapInPandas" in plan
    assert_max_shuffles(df, 2)


def test_doc_stats_scan_pruned(spark, sf_dir):
    df = _q(spark, sf_dir, "doc_stats")
    schemas = [s for s in scan_read_schemas(df) if "text" in s]
    assert schemas, "documents scan missing"
    assert_no_python_udf(df)


def test_minhash_lsh_no_cartesian(spark, sf_dir):
    df = _q(spark, sf_dir, "minhash_lsh_pairs")
    assert_no_cartesian(df)
    assert_no_python_udf(df)


def test_simhash_no_cartesian_no_python(spark, sf_dir):
    df = _q(spark, sf_dir, "simhash_near_dupes")
    assert_no_cartesian(df)
    assert_no_python_udf(df)


def test_hierarchy_rollup_partial_agg(spark, sf_dir):
    df = _q(spark, sf_dir, "hierarchy_rollup")
    assert_partial_aggregation(df)
    assert_no_cartesian(df)


def test_asof_join_stays_jvm(spark, sf_dir):
    df = _q(spark, sf_dir, "asof_join_last_purchase")
    assert_no_python_udf(df)
    assert_no_cartesian(df)


def test_scd2_single_key_shuffle(spark, sf_dir):
    df = _q(spark, sf_dir, "scd2_user_event_history")
    assert_no_python_udf(df)
    assert_no_cartesian(df)


def test_salted_join_no_cartesian(spark, sf_dir):
    df = _q(spark, sf_dir, "salted_skew_join_agg")
    assert_no_cartesian(df)
    assert_partial_aggregation(df)


def test_range_join_query_is_hash_join(spark, sf_dir):
    df = _q(spark, sf_dir, "range_join_price_bands")
    assert_no_cartesian(df)
    assert_no_python_udf(df)


def test_sql_cube_view_keeps_broadcast_and_partial_agg(spark, sf_dir):
    """The spark.sql serving path (register_star_views) must cost the same
    as the DataFrame path: views are lazy, so the plan behind the SQL view
    still broadcasts both dims and partially aggregates map-side — and the
    cells match the DataFrame-path query exactly."""
    df_sql = _q(spark, sf_dir, "sql_cube_measures")
    assert_broadcast_join(df_sql, min_count=2)
    assert_partial_aggregation(df_sql)
    assert_no_cartesian(df_sql)
    df_api = _q(spark, sf_dir, "cube_measures_by_dims")
    key = lambda r: (r["nacionalidad"] or "", r["segmento"] or "")
    a = sorted(df_sql.collect(), key=key)
    b = sorted(df_api.collect(), key=key)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_sequence_pack_distributed_cumsum_plan(spark, sf_dir):
    """The prefix sum behind budgeted_chunks is SIZE-ADAPTIVE: at test
    scale the corpus provably fits one bucket, so the plan must be the
    collapsed fast path — one plain window, NO __pid bucket apparatus,
    no broadcast offsets join (the r14 negative-core-scaling fix). The
    two-phase shape above the clamp is pinned by
    test_packing.test_range_bucket_plan_two_phase_above_clamp."""
    df = _q(spark, sf_dir, "sequence_pack_chunks")
    plan = physical_plan(df)
    assert "__pid" not in plan, plan[:2000]
    assert "windowspecdefinition" in plan
    assert_no_cartesian(df)


def test_fuzzy_blocked_windowgrouplimit_and_pruned(spark, sf_dir):
    """The blocked fuzzy match must pre-reduce the per-row top-1
    map-side (WindowGroupLimit before the exchange) and read only the
    two customer columns it uses."""
    df = _q(spark, sf_dir, "fuzzy_blocked_match")
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert_no_cartesian(df)
    assert_no_python_udf(df)
    for schema in scan_read_schemas(df):
        assert "c_address" not in schema and "c_comment" not in schema


def test_tfidf_top_terms_windowgrouplimit(spark, sf_dir):
    df = _q(spark, sf_dir, "tfidf_top_terms")
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert_partial_aggregation(df)
    assert_no_python_udf(df)


def test_cdc_apply_changes_partial_window_reduce(spark, sf_dir):
    """The changeset's latest-per-key must reduce map-side before its
    shuffle, and the snapshot side must not carry unused columns."""
    df = _q(spark, sf_dir, "cdc_apply_changes")
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert_no_cartesian(df)


def test_top_event_paths_rank_cut_before_assembly(spark, sf_dir):
    df = _q(spark, sf_dir, "top_event_paths")
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert_no_python_udf(df)


def test_seasonal_forecast_broadcasts_horizon(spark, sf_dir):
    df = _q(spark, sf_dir, "seasonal_dow_forecast")
    assert_broadcast_join(df)
    assert_partial_aggregation(df)
    assert_no_python_udf(df)


def test_quantile_rank_normalize_no_global_window_over_rows(spark, sf_dir):
    """The only Window nodes may run over the VALUE HISTOGRAM (bucketed
    by the distributed cumsum's range ids) or the tiny offsets frame —
    never partition the raw row stream into one task. Guard: every
    Window node must sit above an Aggregate (the histogram), which a
    naive global percent_rank over rows would not."""
    from datawarehousefinal_spark.plans import count_node

    df = _q(spark, sf_dir, "quantile_rank_normalize")
    plan = physical_plan(df)
    assert "percent_rank" not in plan
    # histogram aggregate exists and feeds the windows
    assert count_node(df, "HashAggregate") >= 2
    assert_no_python_udf(df)
