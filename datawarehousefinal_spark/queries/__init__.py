"""Registry of driver-checkable queries (one per SURVEY.md §2 operator).

Each entry pairs a Spark implementation ``(spark, sf_dir) -> DataFrame``
with a DuckDB oracle SQL string over the same parquet tables. Column names
AND types are aligned on both sides (the driver hashes values after sorting
columns by name), so every computed column is explicitly aliased and cast.

Queries with no SQL-expressible oracle (minhash, streaming, ML) register
with ``oracle=None`` → the driver records a weaker rows-only check; their
real verification lives in tests/.

Faces live in one module per family (``cube``, ``mdx``, ``etl``, ...), and
a face's family is its module's name. Helpers that several families use
live in ``_shared``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Queries that exist as deliberately-brute-force ground truth for a scale
# operator (correctness gate only) — bench times the scale path instead.
BENCH_EXCLUDE: set[str] = {"ngram_jaccard_pairs", "embedding_near_dup_pairs",
                            "semantic_dedup_keep"}


def query(name: str, oracle: str | None = None,
          round_cols: tuple[str, ...] = (), digits: int = 6):
    """Register a query implementation and (optionally) its DuckDB oracle.

    ``round_cols`` is the face's serve-boundary float contract, for
    columns whose double math legitimately RE-ASSOCIATES (parallel sums,
    window recurrences, different-order dot products). Both sides round
    those columns to ``digits`` decimals, so the driver's full-precision
    hash stops depending on summation order: the registered function
    applies ``F.round`` to the face's result, and the oracle becomes
    ``SELECT * REPLACE (round(c, digits) + 0 AS c) FROM (oracle)``.
    Spark's Round (BigDecimal HALF_UP) and DuckDB's round() agree on 70k
    mixed-magnitude doubles except -0.0, which DuckDB keeps and ``+ 0``
    normalizes. Only for columns whose magnitude keeps the divergence far
    below the grid (avgs, bounded scores) — NOT raw money sums, which get
    exact DECIMAL contracts instead, because a sum's magnitude grows with
    the data until the ulp crosses any fixed grid. The decorator returns
    the registered function, so direct calls are contracted too.
    """
    if oracle is not None and round_cols:
        cols = ", ".join(f'round("{c}", {digits}) + 0 AS "{c}"'
                         for c in round_cols)
        oracle = f"SELECT * REPLACE ({cols}) FROM ({oracle})"

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        face = fn
        if round_cols:

            @functools.wraps(fn)
            def face(spark: SparkSession, sf_dir: str) -> DataFrame:
                rounded = {c: F.round(c, digits) for c in round_cols}
                return fn(spark, sf_dir).withColumns(rounded)

        QUERIES[name] = face
        if oracle is not None:
            ORACLES[name] = oracle
        return face

    return deco


# Each family module registers its faces on import.
from datawarehousefinal_spark.queries import (  # noqa: E402,F401
    calibration, cube, curation, dedup, etl, graph, mdx, ml, multimodal,
    retail, sinks, sketches, stats, streaming, text, tpch, vectors,
)
movements_by_year = cube.movements_by_year  # __spark_entry__.py calls it

# The verify driver samples the FIRST 50 registry entries in order, so
# this list pins which faces get a driver correctness row.
_DRIVER_WINDOW = [
    "incremental_aggregate_rollup", "mdx_aggregate_navigator",
    "mdx_parallelperiod_mom", "mdx_parallelperiod_yoy_diced",
    "mdx_periodstodate_ytd", "mdx_periodstodate_diced",
    "mdx_lastperiods_moving_avg", "mdx_member_range_years",
    "mdx_subselect_where", "mdx_drillthrough_cell",
    "mdx_navigator_partition_pruned", "mdx_closingperiod_vs_yearend",
    "mdx_except_members", "mdx_toppercent_pareto", "mdx_descendants_days",
    "mdx_set_slicer_years", "mdx_distinct_count_measure",
    "mdx_compound_slicer", "mdx_rank_league_table", "mdx_custom_group_member",
    "mdx_median_measure", "aggregate_advisor_stats", "mdx_filter_boolean",
    "bench_calibration_io", "aggregate_routing", "bigram_lm_perplexity",
    "bm25_append_topk", "bm25_topk", "column_entropy_report",
    "correlation_matrix", "cosine_topk", "cube_measures_by_dims",
    "drift_report_orders", "dsir_importance_weights", "ewma_daily_value",
    "grouped_trend_fits", "hard_negative_mining", "hierarchy_rollup",
    "mdx_rollup_query", "nation_trade_pagerank", "pmi_collocations",
    "ppl_bucket_mix", "pq_ann_topk", "pq_recon_error_report",
    "rolling_anomaly_report", "sql_cube_measures", "streaming_cube_counts",
    "streaming_stateful_totals", "tfidf_top_terms", "vocab_drift_report",
]


def _apply_driver_window_order() -> None:
    """Reorder QUERIES/ORACLES so `_DRIVER_WINDOW` occupies the first
    positions (dicts preserve insertion order; the driver iterates it).
    Raises on typos so a bad rotation fails at import, not silently."""
    missing = [n for n in _DRIVER_WINDOW if n not in QUERIES]
    if missing:
        raise RuntimeError(f"_DRIVER_WINDOW names unknown queries: {missing}")
    if len(set(_DRIVER_WINDOW)) != len(_DRIVER_WINDOW):
        raise RuntimeError("_DRIVER_WINDOW has duplicate names")
    order = dict.fromkeys(_DRIVER_WINDOW + list(QUERIES))
    for reg in (QUERIES, ORACLES):
        snapshot = dict(reg)
        reg.clear()
        reg.update({n: snapshot[n] for n in order if n in snapshot})


_apply_driver_window_order()
