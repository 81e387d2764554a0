"""Structured Streaming re-expressions of the engine's batch operators.

The reference is a batch ETL (Kettle transformations run on a schedule —
etl_final.ktr's yearly file loads; SURVEY.md §2.4), but the same
semantics stream naturally: an events feed replaces the periodic re-read,
watermarked windows replace the daily-counts re-aggregation (A4), and the
CDC upsert and cube maintenance become ``foreachBatch`` incremental
merges. Everything here is the micro-batch
analog of an existing batch operator, sharing its implementation where
possible so batch and streaming can't drift.

Scale notes: file-source streams list + read incrementally
(``maxFilesPerTrigger``); watermarks bound state for the windowed
aggregations and within-watermark dedup; ``foreachBatch`` reuses the
batch planner per micro-batch, so each sink keeps its batch plan shape.
Tests drive every operator with
``trigger(availableNow=True)`` against real parquet batches.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from datawarehousefinal_spark.session import scoped_shuffle_partitions


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a growing parquet directory — the streaming
    replacement for the reference's periodic yearly re-loads
    (etl_final.ktr:555-589). Schema must be declared: file streams do not
    infer (and inference at 100 TB would list every file)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """A4's daily movement counts as a watermarked streaming aggregation.

    The watermark bounds state: a window closes (and its row finalizes)
    once the event-time high-water mark passes window end + ``watermark``;
    later-arriving rows are dropped, exactly Structured Streaming's
    documented late-data contract.

    Output: ``fecha`` (window start date), ``movement_count``.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("__w"))
        .agg(F.count(F.lit(1)).alias("movement_count"))
        .select(F.to_date("__w.start").alias("fecha"), "movement_count")
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Exact dedup (keep-first) on a stream: ``dropDuplicatesWithinWatermark``
    keeps state only for ``watermark`` of event time, so duplicate keys
    arriving within the horizon collapse and state never grows unbounded —
    the streaming face of ``operators.dedup.exact_dedup``."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def session_window_counts(
    stream: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 day",
) -> DataFrame:
    """Event-time SESSION windows per key — the streaming face of the
    batch sessionization (operators/timeseries): ``F.session_window``
    opens a [ts, ts + gap) window per event and MERGES windows that
    overlap OR touch, so a session breaks only when the gap to the
    previous event EXCEEDS ``gap`` — an event landing at precisely
    ``prev + gap`` still joins the session (pinned by the gap-edge
    test). Spark maintains and merges the session state across
    micro-batches; the watermark bounds it.

    Output: ``key_col, session_start (timestamp), n_events``.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(key_col),
            F.session_window(F.col(ts_col), gap).alias("__w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("__w.start").alias("session_start"),
            "n_events",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "1 hour",
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-stream INNER join on a key plus an event-time interval —
    the attribution primitive (each left event matched to every right
    event on the same key that lands within ``max_delay`` AFTER it).

    This is Structured Streaming's documented stream-stream join
    contract: both sides are watermarked and the join carries a
    time-range condition, which is what lets Spark bound both join
    states (a buffered left row can be dropped once the right
    watermark passes ``left_ts + max_delay``). ``watermark`` trades
    state size against late-data tolerance — rows later than it are
    dropped, so set it to the pipeline's real lateness horizon.

    The right side's columns are suffixed ``_r`` (the key is emitted
    once, from the left).
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = (
        right.withWatermark(right_ts, watermark)
        .select(
            [F.col(c).alias(f"{c}_r") for c in right.columns]
        )
        .alias("r")
    )
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}_r"))
        & (F.col(f"r.{right_ts}_r") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}_r")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return l.join(r, cond, "inner").drop(f"{on}_r")


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-static enrichment — the staple "join the click stream to
    the customer dimension" shape: each micro-batch inner-joins the
    STATIC dimension (broadcast hint — Structured Streaming re-plans
    the static side per batch, no join state is kept for it, unlike the
    stream-stream interval join), then a watermarked tumbling-window
    count per dimension attribute.

    State is bounded by |windows in flight| × |attribute values| — the
    dimension's size never enters the state store. At 100 TB the static
    side stays a broadcast as long as it fits the threshold; a huge dim
    flips to a shuffled join per micro-batch, still stateless.

    Output: ``fecha (window start date), <attr_col>, n_events (long)``.
    """
    enriched = stream.join(
        F.broadcast(dim.select(key_col, attr_col)), key_col
    )
    return (
        enriched.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("__w"), F.col(attr_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            F.to_date("__w.start").alias("fecha"), attr_col, "n_events"
        )
    )


def foreach_batch_cdc_apply(
    snapshot_path: str,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming MERGE: a ``foreachBatch`` sink that applies each
    micro-batch of CDC changes (I/U/D rows) to the parquet snapshot at
    ``snapshot_path`` via the batch :func:`operators.scd.apply_changes`
    — so streaming and batch upserts share ONE merge semantics and
    can't drift. Each batch writes the merged snapshot to a NEW
    versioned directory, then flips ``snapshot_path`` — a symlink —
    onto it with one atomic ``os.rename`` of a fresh link: there is no
    instant at which ``snapshot_path`` does not resolve to a complete
    snapshot (the previous swap renamed the real dir away BEFORE the
    new one landed, so a crash between the two renames left no snapshot
    at all). The old version is pruned only after the flip. A real
    directory found at ``snapshot_path`` (the bootstrap load) is
    normalized into the versioned layout on the first batch.

    LOCAL-FILESYSTEM ONLY: ``os.rename``/``os.symlink`` semantics don't
    exist on object stores — on S3/HDFS/ABFS use a table format (Delta/
    Iceberg MERGE) whose transaction log plays exactly this role. Plain
    parquet has no transactional MERGE; the versioned-dir + atomic
    pointer flip is the honest local equivalent. The snapshot must
    exist before the stream starts (bootstrap it with the initial
    load)."""
    import os
    import shutil

    from datawarehousefinal_spark.operators.scd import apply_changes

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        snapshot = spark.read.parquet(snapshot_path)
        merged = apply_changes(
            snapshot,
            batch,
            key_cols,
            op_col=op_col,
            seq_col=seq_col,
        )
        version = f"{snapshot_path}.__v{batch_id}"
        merged.write.mode("overwrite").parquet(version)
        prev = None
        if os.path.islink(snapshot_path):
            prev = os.path.realpath(snapshot_path)
        elif os.path.isdir(snapshot_path):
            # bootstrap normalization: move the real dir into the
            # versioned layout so the pointer can flip atomically
            prev = f"{snapshot_path}.__v_bootstrap"
            os.rename(snapshot_path, prev)
        tmp_link = f"{snapshot_path}.__flip_{batch_id}"
        if os.path.lexists(tmp_link):
            os.remove(tmp_link)
        os.symlink(version, tmp_link)
        os.rename(tmp_link, snapshot_path)  # atomic pointer flip
        if prev and os.path.realpath(prev) != os.path.realpath(version):
            shutil.rmtree(prev, ignore_errors=True)

    return _apply


# State-partition count for locally-driven streaming queries. A stateful
# streaming operator keeps one state-store instance PER shuffle partition,
# and every micro-batch pays a per-instance open/commit (delta file write +
# maintenance) regardless of how little state it holds — fixed I/O that
# dwarfs the work when state is kilobytes. The count is pinned into the
# checkpoint at FIRST query start (restarts reuse the checkpointed value,
# so resume semantics never change mid-stream); it does not affect results,
# only parallelism — the watermark advances globally per micro-batch, so
# late-drop and window-emission semantics are partition-count-free. Local
# harness state is KILOBYTES: r14 measured 4 → 1 partitions as -17% over
# the ten streaming faces (3-pass min-of subset; the per-instance
# open/commit was the family's floor), and 32 → 4 was already ~8× less of
# it. A production deployment sizes this to state volume / peak throughput
# instead (e.g. total-executor-cores × 2).
STATE_PARTITIONS_LOCAL = 1


def run_to_memory(
    stream_df: DataFrame,
    table_name: str,
    output_mode: str = "append",
) -> None:
    """Drive a streaming DataFrame to completion over the data currently
    available (``trigger(availableNow=True)``) into an in-memory sink —
    the test/debug harness for every operator above. The query's state
    stores are sized by :data:`STATE_PARTITIONS_LOCAL`."""
    spark = stream_df.sparkSession
    with scoped_shuffle_partitions(spark, STATE_PARTITIONS_LOCAL):
        (
            stream_df.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def run_to_parquet(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    state_partitions: int,
    output_mode: str = "append",
) -> None:
    """Drive a streaming DataFrame over the currently-available data into
    a parquet file sink with a durable checkpoint — the PRODUCTION sink
    shape (memory sinks die with the query; a file sink + checkpoint
    survives restarts with exactly-once output via the commit log).
    Calling this again after more source files land RESUMES from the
    checkpoint: the watermark carries over, already-emitted windows are
    never re-emitted, and late rows below the persisted watermark are
    dropped — which is what makes restart-resume testable.
    ``state_partitions`` sizes the state stores at FIRST start only —
    the checkpoint pins it FOREVER (later resumes reuse the original
    count), so every caller must choose it: a local-test constant is
    never silently frozen into a production checkpoint. Local harness
    callers pass :data:`STATE_PARTITIONS_LOCAL`."""
    spark = stream_df.sparkSession
    with scoped_shuffle_partitions(spark, state_partitions):
        (
            stream_df.writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", checkpoint_path)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def foreach_batch_cube_merge(
    state_path: str,
    group_cols: list[str],
    measure_col: str,
) -> Callable[[DataFrame, int], None]:
    """Streaming incremental cube maintenance: a ``foreachBatch`` sink
    that aggregates each micro-batch into a mergeable measure state
    (:func:`operators.olap.measure_state` — (n, sum) per cell) and
    APPENDS it under ``state_path``.

    Append-only is what makes this safe without a transactional table:
    states are associative, so the serving read
    (:func:`read_cube_state`) simply merges all appended deltas — no
    batch ever rewrites the file another reader may be scanning, and a
    replayed micro-batch appends a duplicate delta rather than
    corrupting state (at-least-once, like the dim merge; exactly-once
    needs a transactional format — noted, not hidden). Each delta is
    |cells-touched-by-the-batch| rows: kilobytes for a cube, regardless
    of batch row count. A scheduled compaction job merges all deltas
    and swaps in a single file via write-new-path-then-rename.
    """
    from datawarehousefinal_spark.operators.olap import measure_state

    def _merge(batch: DataFrame, batch_id: int) -> None:
        measure_state(batch, group_cols, measure_col).write.mode(
            "append"
        ).parquet(state_path)

    return _merge


def read_cube_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Serving read for :func:`foreach_batch_cube_merge`: merge every
    appended delta state into the current cube state (one
    map-side-combined groupBy over |deltas|×|cells| tiny rows). Feed to
    :func:`operators.olap.serve_measures` for the count/avg columns."""
    raw = spark.read.parquet(state_path)
    # merge_measure_state(x, empty-x) == fold of all rows: states are
    # row-wise mergeable, so one groupBy over the union IS the fold.
    group_cols = [c for c in raw.columns if c not in ("n", "sum_m")]
    return raw.groupBy(*group_cols).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_m").alias("sum_m"),
    )


def sliding_window_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "2 days",
    slide: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Sliding (hopping) event-time windows — the overlapping variant of
    :func:`windowed_event_counts`: each event lands in window/slide
    concurrent windows (here 2), the rolling-trend view a monitoring
    dashboard reads. Same watermark-bounded state contract as the
    tumbling aggregation; state per key is window/slide rows instead of
    one, still bounded by the horizon.

    Output: ``w_start``, ``w_end`` (dates), ``n_events``.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("__w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.to_date("__w.start").alias("w_start"),
            F.to_date("__w.end").alias("w_end"),
            "n_events",
        )
    )
