"""Structured Streaming faces: windowed, stateful, deduplicating and CDC
pipelines over replayed sources.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehousefinal_spark.materialize import local_result
from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.queries._shared import _CDC_APPLY_ORACLE, _scratch_path
from datawarehousefinal_spark.sources.testdata import load_table


@query(
    "streaming_cube_counts",
    oracle="""
    SELECT event_type,
           count(value)::BIGINT AS cantidad_movimientos,
           avg(value) AS promedio_edades
    FROM events GROUP BY 1
    """,
    # per-micro-batch partial states re-associate the avg — contract
    round_cols=("promedio_edades",),
)
def streaming_cube_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end made driver-visible: the events
    table is re-served as a 3-file parquet stream, each micro-batch
    (maxFilesPerTrigger=1 → 3 genuine increments) folds into the
    mergeable cube state via the foreachBatch sink
    (streaming/pipeline.foreach_batch_cube_merge), and the serving read
    merges the appended deltas into count/avg measures. ORACLED: the
    final state must hash-match the direct batch aggregation — the
    streaming face of the incremental_cube_merge proof. State per batch
    is |cells| rows (kilobytes), independent of batch row count."""
    from datawarehousefinal_spark.operators.olap import serve_measures
    from datawarehousefinal_spark.streaming.pipeline import (
        foreach_batch_cube_merge,
        read_cube_state,
        read_parquet_stream,
    )

    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    with _scratch_path("stream_cube", sf_dir) as base:
        src, state, ckpt = f"{base}/src", f"{base}/state", f"{base}/ckpt"
        events.repartition(2).write.parquet(src)
        stream = read_parquet_stream(spark, src, events.schema, max_files_per_trigger=1)
        from datawarehousefinal_spark.streaming.pipeline import (
            STATE_PARTITIONS_LOCAL,
            scoped_shuffle_partitions,
        )

        with scoped_shuffle_partitions(spark, STATE_PARTITIONS_LOCAL):
            (
                stream.writeStream.foreachBatch(
                    foreach_batch_cube_merge(state, ["event_type"], "value")
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        return local_result(serve_measures(read_cube_state(spark, state)))


@query(
    "streaming_session_counts",
    oracle="""
    WITH m AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id, min(ts) AS session_start, count(*)::BIGINT AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def streaming_session_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time session windows made driver-visible AND oracled: the
    events table streams as 3 micro-batches through
    ``F.session_window`` per user (streaming/pipeline.
    session_window_counts — Spark merges session state across batches),
    and the drained complete-mode result must hash-match DuckDB's
    lag-based island detection with the SAME break rule: sessions
    break only when the gap EXCEEDS 30 minutes — Spark merges windows
    on touching boundaries, so an event at exactly prev + gap still
    joins the session (pinned by the gap-edge test)."""
    from datawarehousefinal_spark.streaming.pipeline import (
        read_parquet_stream,
        run_to_memory,
        session_window_counts,
    )

    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    with _scratch_path("stream_sessions", sf_dir) as base:
        src = f"{base}/src"
        events.repartition(2).write.parquet(src)
        stream = read_parquet_stream(spark, src, events.schema, max_files_per_trigger=1)
        sessions = session_window_counts(
            stream, "user_id", "ts", gap="30 minutes", watermark="36500 days"
        )
        table = "dwf_stream_session_counts"
        spark.catalog.dropTempView(table)
        run_to_memory(sessions, table, "complete")
        return local_result(spark.table(table).select(
            "user_id", "session_start", F.col("n_events").cast("long")
        ))


@query(
    "streaming_interval_join",
    oracle="""
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def streaming_interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join made driver-visible AND
    oracled: the events table re-serves as a 2-batch stream, two
    streaming branches (views, purchases) of the SAME source join on
    user within a 1-hour attribution window
    (streaming/pipeline.stream_stream_interval_join — watermarked both
    sides, time-range-bounded state), and the drained result must
    hash-match the batch interval join DuckDB computes directly. The
    watermark is set beyond the fixture's span so no pair is
    late-dropped; production sets it to the real lateness horizon."""
    from datawarehousefinal_spark.streaming.pipeline import (
        read_parquet_stream,
        run_to_memory,
        stream_stream_interval_join,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    with _scratch_path("stream_ssjoin", sf_dir) as base:
        src = f"{base}/src"
        events.repartition(2).write.parquet(src)
        stream = read_parquet_stream(spark, src, events.schema, max_files_per_trigger=1)
        views = stream.filter(F.col("event_type") == "view").select(
            "event_id", "user_id", "ts"
        )
        purchases = stream.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        joined = stream_stream_interval_join(
            views, purchases, "user_id", max_delay="1 hour", watermark="36500 days"
        )
        table = "dwf_stream_interval_join"
        spark.catalog.dropTempView(table)
        run_to_memory(joined, table, "append")
        return local_result(spark.table(table).select(
            F.col("event_id").alias("view_id"),
            F.col("event_id_r").alias("purchase_id"),
            "user_id",
        ))


@query(
    "streaming_stateful_totals",
    oracle="""
    SELECT event_type AS key,
           count(*)::BIGINT AS n,
           sum(COALESCE(value, 0)) AS total
    FROM events GROUP BY 1
    """,
    # micro-batch accumulation order re-associates the sum — contract
    round_cols=("total",),
)
def streaming_stateful_totals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming made driver-visible AND oracled: the
    events table streams as 3 micro-batches through
    ``applyInPandasWithState`` running totals (Spark-managed per-key
    state across batches, Arrow-batched compute); each batch appends the
    totals-so-far per key, so the LAST emission per key (max n) is the
    final state — which must hash-match the direct batch aggregation.
    The stateful-operator analog of streaming_cube_counts' proof."""
    from pyspark.sql import Window

    from datawarehousefinal_spark.streaming.pipeline import (
        read_parquet_stream,
        run_to_memory,
    )
    from datawarehousefinal_spark.streaming.stateful import (
        stateful_running_totals,
    )

    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    with _scratch_path("stream_state", sf_dir) as base:
        src = f"{base}/src"
        events.repartition(2).write.parquet(src)
        stream = read_parquet_stream(spark, src, events.schema, max_files_per_trigger=1)
        table = f"dwf_stateful_totals_{tag}"
        spark.catalog.dropTempView(table)
        run_to_memory(stateful_running_totals(stream, "event_type", "value"), table)
        log = spark.table(table)
        w = Window.partitionBy("key").orderBy(F.desc("n"))
        return local_result(
            log.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("key", "n", "total")
        )


@query(
    "streaming_dedup_daily_counts",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
    FROM events GROUP BY 1
    """,
)
def streaming_dedup_daily_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup made driver-visible AND oracled: the
    events table plus PLANTED replays (every 7th event duplicated) is
    re-served as a 2-batch parquet stream through
    ``dropDuplicatesWithinWatermark`` (streaming/pipeline.
    streaming_dedup — Spark keeps per-key state only for the watermark
    horizon), and the surviving rows' daily counts must hash-match the
    direct aggregation of the ORIGINAL table — every replay collapsed,
    every original kept. The watermark is set beyond the fixture's time
    span so no genuine row is late-dropped; at production scale the
    horizon bounds state exactly like the windowed aggregations'."""
    from datawarehousefinal_spark.streaming.pipeline import (
        read_parquet_stream,
        run_to_memory,
        streaming_dedup,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "ts")
    with _scratch_path("stream_dedup", sf_dir) as base:
        src = f"{base}/src"
        replays = events.filter(F.col("event_id") % 7 == 0)
        events.unionByName(replays).repartition(2).write.parquet(src)
        stream = read_parquet_stream(spark, src, events.schema, max_files_per_trigger=1)
        deduped = streaming_dedup(
            stream, ["event_id"], "ts", watermark="36500 days"
        )
        table = "dwf_stream_dedup_counts"
        spark.catalog.dropTempView(table)
        run_to_memory(deduped, table, "append")
        return local_result((
            spark.table(table)
            .groupBy(F.col("ts").cast("date").alias("day"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        ))


@query(
    "streaming_windowed_counts",
    oracle="""
    SELECT CAST(ts AS DATE) AS fecha, count(*)::BIGINT AS movement_count
    FROM events GROUP BY 1
    """,
)
def streaming_windowed_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked windowed aggregation made driver-visible AND
    oracled — A4's daily counts as a genuine event-time streaming
    aggregate (streaming/pipeline.windowed_event_counts: tumbling 1-day
    windows, watermark-bounded state), driven over a 2-batch re-serve of
    the events table. Complete output mode emits every window's final
    count after availableNow drains the source, which must hash-match
    the batch daily aggregation exactly — the streaming face of
    ``daily_counts``."""
    from datawarehousefinal_spark.streaming.pipeline import (
        read_parquet_stream,
        run_to_memory,
        windowed_event_counts,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "ts")
    with _scratch_path("stream_window", sf_dir) as base:
        src = f"{base}/src"
        events.repartition(2).write.parquet(src)
        stream = read_parquet_stream(spark, src, events.schema, max_files_per_trigger=1)
        counts = windowed_event_counts(stream, "ts", "1 day", "1 day")
        table = "dwf_stream_window_counts"
        spark.catalog.dropTempView(table)
        run_to_memory(counts, table, "complete")
        return local_result(spark.table(table).select(
            "fecha", F.col("movement_count").cast("long")
        ))


@query(
    "streaming_late_data_drop",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 DAY AS w FROM events),
    daily AS (
      SELECT CAST(ts AS DATE) AS fecha, count(*)::BIGINT AS movement_count
      FROM events GROUP BY 1
    )
    SELECT fecha, movement_count FROM daily, wm
    WHERE CAST(fecha AS TIMESTAMP) + INTERVAL 1 DAY <= w
    """,
)
def streaming_late_data_drop_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics + checkpointed restart-resume,
    hash-checked end to end. Run 1 streams the OLD half of the events
    table into a parquet file sink (append mode, durable checkpoint);
    run 2 RESUMES from that checkpoint with the recent half PLUS a
    deliberate re-serve of the oldest 4 days — thousands of late rows
    far below the persisted watermark. The final sink must equal the
    CLEAN daily counts (late duplicates dropped, nothing double-counted,
    already-emitted windows never re-emitted — the file sink's commit
    log is exactly-once across restarts) for every FINALIZED window:
    append mode emits a window once ``window.end <= watermark``
    (pinned empirically; max ts is never exactly midnight, so the
    boundary is unambiguous), leaving the last two open days unemitted
    under the 1-day watermark delay."""
    import datetime as _dt

    from datawarehousefinal_spark.streaming.pipeline import (
        STATE_PARTITIONS_LOCAL,
        read_parquet_stream,
        run_to_parquet,
        windowed_event_counts,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "ts")
    mn, mx = events.agg(
        F.min(F.to_date("ts")), F.max(F.to_date("ts"))
    ).first()
    split = mn + (mx - mn) / 2
    with _scratch_path("stream_late", sf_dir) as base:
        src, out, ck = f"{base}/src", f"{base}/out", f"{base}/ck"

        old_half = events.filter(F.to_date("ts") <= F.lit(split))
        late_and_recent = events.filter(F.to_date("ts") > F.lit(split)).unionByName(
            events.filter(F.to_date("ts") <= F.lit(mn + _dt.timedelta(days=3)))
        )

        old_half.coalesce(1).write.mode("append").parquet(src)
        counts1 = windowed_event_counts(
            read_parquet_stream(spark, src, old_half.schema), "ts", "1 day", "1 day"
        )
        run_to_parquet(counts1, out, ck, state_partitions=STATE_PARTITIONS_LOCAL)

        late_and_recent.coalesce(1).write.mode("append").parquet(src)
        counts2 = windowed_event_counts(
            read_parquet_stream(spark, src, old_half.schema), "ts", "1 day", "1 day"
        )
        run_to_parquet(counts2, out, ck, state_partitions=STATE_PARTITIONS_LOCAL)

        return local_result(spark.read.parquet(out).select(
            "fecha", F.col("movement_count").cast("long")
        ))


@query("streaming_cdc_apply", oracle=_CDC_APPLY_ORACLE)
def streaming_cdc_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE end-to-end (streaming.foreach_batch_cdc_apply →
    scd.apply_changes): the orders snapshot bootstraps to parquet, the
    SAME changeset as ``cdc_apply_changes`` arrives as two change FILES
    (updates+deletes, then inserts — disjoint key sets, so any
    micro-batching yields the same state) consumed one file per
    micro-batch through a foreachBatch upsert sink with an atomic
    staging-rename snapshot swap. The post-stream snapshot must
    hash-match the batch operator's oracle exactly — streaming and
    batch MERGE provably share one semantics.

    It returns a lazy read of its per-call snapshot dir rather than a
    ``local_result``: the snapshot is the whole orders table, which must
    not be collected to the driver."""
    from datawarehousefinal_spark.streaming.pipeline import (
        foreach_batch_cdc_apply,
        read_parquet_stream,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # The snapshot dir outlives the call (see the docstring): the JVM
    # that reads it deletes it at exit.
    snap_dir = tempfile.mkdtemp(prefix="dwf_stream_cdc_snap_")
    jpath = spark._jvm.org.apache.hadoop.fs.Path(snap_dir)
    jpath.getFileSystem(spark._jsc.hadoopConfiguration()).deleteOnExit(jpath)
    snap = f"{snap_dir}/snap"
    orders.write.parquet(snap)
    with _scratch_path("stream_cdc", sf_dir) as base:
        changes_dir, ck = f"{base}/changes", f"{base}/ck"
        batch_a = (
            orders.filter(F.col("o_orderkey") % 7 == 0)
            .select(
                "o_orderkey",
                F.lit("U").alias("op"),
                F.lit(1).alias("seq"),
                F.lit("U").alias("o_orderstatus"),
                (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
            )
            .unionByName(
                orders.filter(F.col("o_orderkey") % 11 == 0).select(
                    "o_orderkey",
                    F.lit("D").alias("op"),
                    F.lit(2).alias("seq"),
                    F.lit(None).cast("string").alias("o_orderstatus"),
                    F.lit(None).cast("double").alias("o_totalprice"),
                )
            )
        )
        batch_b = orders.filter(F.col("o_orderkey") % 13 == 0).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            F.lit("I").alias("op"),
            F.lit(1).alias("seq"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(1.0).alias("o_totalprice"),
        )
        batch_a.coalesce(1).write.mode("append").parquet(changes_dir)
        batch_b.coalesce(1).write.mode("append").parquet(changes_dir)

        stream = read_parquet_stream(
            spark, changes_dir, batch_a.schema, max_files_per_trigger=1
        )
        from datawarehousefinal_spark.streaming.pipeline import (
            STATE_PARTITIONS_LOCAL,
            scoped_shuffle_partitions,
        )

        with scoped_shuffle_partitions(spark, STATE_PARTITIONS_LOCAL):
            (
                stream.writeStream.foreachBatch(
                    foreach_batch_cdc_apply(
                        snap, ["o_orderkey"], op_col="op", seq_col="seq"
                    )
                )
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
    return spark.read.parquet(snap)


@query(
    "streaming_dim_enrich",
    oracle="""
    SELECT CAST(e.ts AS DATE) AS fecha, c.c_mktsegment,
           count(*)::BIGINT AS n_events
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY CAST(e.ts AS DATE), c.c_mktsegment
    """,
)
def streaming_dim_enrich_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment made driver-visible AND oracled: the
    event stream micro-batches broadcast-join the STATIC customer
    dimension (stateless join side — re-planned per batch, nothing in
    the state store), then watermark-bounded daily counts per market
    segment. Complete mode after availableNow drains must hash-match
    the batch join+aggregate exactly."""
    from datawarehousefinal_spark.streaming.pipeline import (
        read_parquet_stream,
        run_to_memory,
        stream_static_enrich,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    with _scratch_path("stream_enrich", sf_dir) as base:
        src = f"{base}/src"
        events.repartition(2).write.parquet(src)
        stream = read_parquet_stream(
            spark, src, events.schema, max_files_per_trigger=1
        )
        counts = stream_static_enrich(
            stream, customer, "user_id", "c_mktsegment", "ts", "1 day", "1 day"
        )
        table = "dwf_stream_dim_enrich"
        spark.catalog.dropTempView(table)
        run_to_memory(counts, table, "complete")
        return local_result(spark.table(table))


@query(
    "streaming_sliding_counts",
    oracle="""
    WITH d AS (SELECT CAST(ts AS DATE) AS day FROM events),
    w AS (
      SELECT day AS w_start FROM d
      UNION ALL
      SELECT day - 1 FROM d
    )
    SELECT w_start, w_start + 2 AS w_end, count(*)::BIGINT AS n_events
    FROM w GROUP BY 1, 2
    """,
)
def streaming_sliding_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows made driver-visible AND oracled: the
    events table re-served as a 2-batch parquet stream through a 2-day
    window hopping by 1 day (streaming/pipeline.sliding_window_counts)
    — every event lands in exactly two windows. Complete mode emits
    final counts after availableNow drains; the oracle replays the
    overlap by fanning each event's day into its two window starts.
    Watermark far beyond the fixture span so no genuine row drops; at
    production scale the horizon bounds state to window/slide rows per
    key."""
    from datawarehousefinal_spark.streaming.pipeline import (
        read_parquet_stream,
        run_to_memory,
        sliding_window_counts,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "ts")
    with _scratch_path("stream_sliding", sf_dir) as base:
        src = f"{base}/src"
        events.repartition(2).write.parquet(src)
        stream = read_parquet_stream(
            spark, src, events.schema, max_files_per_trigger=1
        )
        counts = sliding_window_counts(
            stream, "ts", "2 days", "1 day", watermark="36500 days"
        )
        table = "dwf_stream_sliding_counts"
        spark.catalog.dropTempView(table)
        run_to_memory(counts, table, "complete")
        return local_result(
            spark.table(table).select(
                "w_start", "w_end", F.col("n_events").cast("long")
            )
        )
