"""The benchmark's workloads: fixed mixes of registered faces.

A face is one entry of ``datawarehousefinal_spark.queries.QUERIES``,
called as ``QUERIES[name](spark, sf_dir)`` and executed with a noop write.
One client runs a workload's faces in a closed loop (the next face starts
when the previous one has finished), in an order shuffled from the seed
for every pass.

The inputs are the package's fixture tables at ``SF``, the scale its
DuckDB oracle tests use, kept in ``data/sf0.01`` (``data/sf0.001`` for the
self-test): 60k lineitems, 15k orders, 10k events, 1.5k customers, 500
documents and 500 embeddings. They are the same for every seed. Each list
is a cut of the family it names. A run pays one cold execution per face,
its verification, and one warm-up pass before any timing, and the benchmark's whole schedule
(22 runs per workload) must fit in under an hour on a 4-core box, so the
lists are short; ``LEFT_OUT`` says what was cut and why. Each list holds
several faces of similar, short latency so that the median face latency
falls among close values. ``pass_s`` is a pass's nominal wall time, rounded
up from what it takes on an idle 4-core host; with ``--seconds`` it fixes how many passes a run
times (``run.timed_passes``), the same number however busy the host is.
"""

from __future__ import annotations

SF = "0.01"

WORKLOADS: dict[str, dict] = {
    "olap_cube": {
        "why": (
            "The serving path (Mondrian cubes behind dashboards): sub-second "
            "MDX and cube queries and one aggregate-table refresh, where plan "
            "construction, the MDX parser and per-job overhead dominate."
        ),
        "pass_s": 5.0,
        "faces": [
            "mdx_cube_query", "mdx_rollup_query", "cube_measures_by_dims",
            "grouping_sets_measures", "incremental_aggregate_rollup",
        ],
    },
    "etl_star": {
        "why": (
            "The batch side of the warehouse: the ETL into the star schema "
            "(ingest with repair, cleaning, split, surrogate keys, SCD2, a "
            "parquet sink) and the ML, dedup, similarity and curation "
            "analytics that read it, where eager work and writes dominate."
        ),
        "pass_s": 10.0,
        "faces": [
            "csv_repair_roundtrip", "filter_split_union", "dim_build_surrogate",
            "scd2_user_event_history", "parquet_sink_roundtrip",
            "linreg_trend_forecast", "exact_dedup", "centroid_cosine_matrix",
            "rebalanced_mix",
        ],
    },
}

# What the workloads leave out, and why.
LEFT_OUT: dict[str, str] = {
    "ml_batch": (
        "a third workload of ML and dedup faces: its cold verification pass "
        "alone took ~30 s a run, too long for the schedule, so its layers "
        "(ml, dedup, similarity, curation) run as four faces of etl_star"
    ),
    "sf0.1": (
        "the scale of bench.py: at sf0.01 a run with its verification and "
        "timed passes fits the schedule, and the oracle tests check there"
    ),
    "mdx_custom_group_member, simhash_near_dupes": (
        "disagree with their oracles at sf0.1 (value hash; 251 vs 254 rows) "
        "but pass at sf0.01; not needed to cover their layers"
    ),
    "jdbc_roundtrip": "writes its Derby database under /tmp, outside the checkout",
    "streaming_* (and streaming.self_s)": (
        "a streaming face costs 4-9 s cold and 2.7-3.7 s warm at sf0.01, "
        "~15 s a run with its verification and timed passes, which the "
        "schedule cannot hold; without one the metric would always read 0"
    ),
    "minhash_lsh_pairs, dedup_survivors": (
        "2-4 s warm and 4-11 s cold each; exact_dedup covers the dedup "
        "layer for less"
    ),
    "entity_resolution_clusters, near_dup_components (and operators.graph.*)": (
        "the graph faces cost 3-4 s warm and 6-11 s cold, ~13 s a run, more "
        "than the schedule holds; without one the graph metrics read 0"
    ),
    "mdx_calculated_member": (
        "a third MDX face; cut to fit the schedule, the other two cover the "
        "MDX parser and query layer"
    ),
    "mdx_navigator_partition_pruned": (
        "3 s warm and 5-15 s cold; incremental_aggregate_rollup covers the "
        "aggregate navigator (operators.aggnav) for a third of that"
    ),
    "the ML faces without an oracle (cv_grid_search, rbf_svc_approx, "
    "kmeans_cluster_sizes, rf_confusion_matrix, embedding_tabular_classifier, "
    "ml_regression_forecast, pca_components)": (
        "2-14 s per warm run at sf0.01, and every face here is checked "
        "against its DuckDB oracle"
    ),
}
