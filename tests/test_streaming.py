"""Structured Streaming operators driven end-to-end with
``trigger(availableNow=True)`` over real parquet batches, asserting the
streaming results equal their batch counterparts."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from datawarehousefinal_spark.streaming import (
    read_parquet_stream,
    run_to_memory,
    streaming_dedup,
    windowed_event_counts,
)

@pytest.fixture(scope="module")
def event_stream_dir(spark, sf_dir, tmp_path_factory):
    """The events table (ts converted from raw int64-nanos to timestamp by
    the loader) re-written as three parquet 'arrival batches'."""
    from datawarehousefinal_spark.sources.testdata import load_table

    d = str(tmp_path_factory.mktemp("events_stream"))
    events = load_table(spark, sf_dir, "events")
    for i in range(3):
        events.filter(F.pmod("event_id", F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(d)
    return d


def _schema(spark, sf_dir):
    from datawarehousefinal_spark.sources.testdata import load_table

    return load_table(spark, sf_dir, "events").schema


def test_windowed_counts_match_batch(spark, sf_dir, event_stream_dir):
    stream = read_parquet_stream(
        spark, event_stream_dir, _schema(spark, sf_dir), max_files_per_trigger=1
    )
    assert stream.isStreaming
    name = f"wc_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        windowed_event_counts(stream, "ts", "1 day", "1 day"), name, "complete"
    )
    got = {
        (r["fecha"], r["movement_count"])
        for r in spark.table(name).collect()
    }
    from datawarehousefinal_spark.sources.testdata import load_table

    batch = {
        (r["fecha"], r["n"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("fecha"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == batch


def test_streaming_dedup_collapses_replays(spark, sf_dir, event_stream_dir, tmp_path):
    # replay the same batch dir twice by unioning a duplicated copy
    dup_dir = str(tmp_path / "dup")
    events = spark.read.parquet(event_stream_dir)
    events.write.mode("overwrite").parquet(dup_dir)
    events.limit(200).write.mode("append").parquet(dup_dir)  # 200 replays

    stream = read_parquet_stream(spark, dup_dir, _schema(spark, sf_dir))
    name = f"dd_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        streaming_dedup(stream, ["event_id"], "ts", "30 days"), name, "append"
    )
    out = spark.table(name)
    n_distinct = events.select("event_id").distinct().count()
    assert out.count() == n_distinct
    assert out.select("event_id").distinct().count() == n_distinct


def test_stateful_running_totals_carry_across_batches(spark, sf_dir, event_stream_dir):
    """applyInPandasWithState keeps per-key state across micro-batches:
    with maxFilesPerTrigger=1 the three arrival batches process
    separately, and the LAST emission per key must equal the batch-mode
    totals over the whole directory."""
    from datawarehousefinal_spark.streaming.stateful import (
        stateful_running_totals,
    )

    stream = read_parquet_stream(
        spark, event_stream_dir, _schema(spark, sf_dir), max_files_per_trigger=1
    )
    name = f"rt_{uuid.uuid4().hex[:8]}"
    totals = stateful_running_totals(stream, "event_type", "value")
    (
        totals.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    log = spark.table(name).collect()
    assert len(log) > 0
    # last (largest-n) emission per key
    final = {}
    for r in log:
        if r["key"] not in final or r["n"] > final[r["key"]][0]:
            final[r["key"]] = (r["n"], r["total"])
    batch = {
        r["event_type"]: (r["n"], r["total"])
        for r in spark.read.parquet(event_stream_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(final) == set(batch)
    for k in batch:
        assert final[k][0] == batch[k][0], k
        assert abs(final[k][1] - batch[k][1]) < 1e-6 * max(1.0, abs(batch[k][1])), k
    # state really carried: with 3 micro-batches there must be more
    # emissions than keys
    assert len(log) > len(batch)


def test_session_window_counts_complete_mode(spark, sf_dir, event_stream_dir):
    from datawarehousefinal_spark.streaming.pipeline import session_window_counts

    stream = read_parquet_stream(spark, event_stream_dir, _schema(spark, sf_dir))
    name = f"sw_{uuid.uuid4().hex[:8]}"
    sessions = session_window_counts(stream, "user_id", "ts", gap="6 hours")
    (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    out = spark.table(name)
    rows = out.collect()
    assert len(rows) > 0
    # session event counts partition the input
    assert sum(r["n_events"] for r in rows) == spark.read.parquet(
        event_stream_dir
    ).count()


def test_foreach_batch_cube_merge_matches_batch(spark, sf_dir, event_stream_dir, tmp_path):
    """Streaming cube maintenance: per-micro-batch delta states appended
    and merged on read must equal the direct batch aggregation over all
    events — including a replayed batch being visible as at-least-once
    (counts double for replayed cells), which the test pins explicitly."""
    from datawarehousefinal_spark.operators.olap import serve_measures
    from datawarehousefinal_spark.sources.testdata import load_table
    from datawarehousefinal_spark.streaming.pipeline import (
        foreach_batch_cube_merge,
        read_cube_state,
    )

    state_path = str(tmp_path / "cube_state")
    ckpt = str(tmp_path / "ckpt_cube")
    stream = read_parquet_stream(
        spark, event_stream_dir, _schema(spark, sf_dir), max_files_per_trigger=1
    )
    (
        stream.writeStream.foreachBatch(
            foreach_batch_cube_merge(state_path, ["event_type"], "value")
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    served = {
        r["event_type"]: (r["cantidad_movimientos"], r["promedio_edades"])
        for r in serve_measures(read_cube_state(spark, state_path)).collect()
    }
    events = load_table(spark, sf_dir, "events")
    direct = {
        r["event_type"]: (r["n"], r["avg"])
        for r in events.groupBy("event_type")
        .agg(F.count("value").alias("n"), F.avg("value").alias("avg"))
        .collect()
    }
    assert set(served) == set(direct)
    for k in direct:
        assert served[k][0] == direct[k][0], k
        assert abs(served[k][1] - direct[k][1]) < 1e-9, k


def test_stream_stream_interval_join_planted_pairs(spark, tmp_path):
    """Inclusive interval bounds and key matching on a planted fixture:
    purchases at +0s, +1h (inclusive edge), +1h1s (outside), wrong user."""
    import datetime as dt

    from datawarehousefinal_spark.streaming.pipeline import (
        read_parquet_stream,
        run_to_memory,
        stream_stream_interval_join,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 10, t0, "view"),
        (2, 10, t0, "purchase"),                            # +0s: match
        (3, 10, t0 + dt.timedelta(hours=1), "purchase"),    # +1h edge: match
        (4, 10, t0 + dt.timedelta(hours=1, seconds=1), "purchase"),  # out
        (5, 11, t0 + dt.timedelta(minutes=5), "purchase"),  # wrong user
        (6, 10, t0 - dt.timedelta(seconds=1), "purchase"),  # before view
    ]
    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    df.repartition(2).write.parquet(src)
    stream = read_parquet_stream(spark, src, df.schema, max_files_per_trigger=1)
    views = stream.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = stream_stream_interval_join(
        views, purchases, "user_id", max_delay="1 hour", watermark="365 days"
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    run_to_memory(joined, name, "append")
    got = {
        (r["event_id"], r["event_id_r"])
        for r in spark.table(name).collect()
    }
    assert got == {(1, 2), (1, 3)}


def test_session_window_counts_gap_edge(spark, tmp_path):
    """Sessions merge on TOUCHING windows (an event at exactly
    prev + gap joins the session; only a strictly larger gap breaks)
    and merge across micro-batches."""
    import datetime as dt

    from datawarehousefinal_spark.streaming.pipeline import (
        read_parquet_stream,
        run_to_memory,
        session_window_counts,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (10, t0),
        (10, t0 + dt.timedelta(minutes=29, seconds=59)),  # inside: merges
        (10, t0 + dt.timedelta(minutes=59, seconds=59)),  # chains on prev
        (10, t0 + dt.timedelta(minutes=89, seconds=59)),  # exact gap: MERGES
        (10, t0 + dt.timedelta(minutes=120)),             # gap > 30min: NEW
        (11, t0),
    ]
    src = str(tmp_path / "src")
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    df.repartition(2).write.parquet(src)
    stream = read_parquet_stream(spark, src, df.schema, max_files_per_trigger=1)
    name = f"sw_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        session_window_counts(stream, "user_id", "ts", "30 minutes", "365 days"),
        name,
        "complete",
    )
    got = sorted(
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.table(name).collect()
    )
    assert got == [
        (10, t0, 4),
        (10, t0 + dt.timedelta(minutes=120), 1),
        (11, t0, 1),
    ]


def test_stream_static_enrich_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.sources.testdata import load_table
    from datawarehousefinal_spark.streaming.pipeline import (
        read_parquet_stream,
        run_to_memory,
        stream_static_enrich,
    )

    sf = "/root/testdata/sf0.001"
    events = load_table(spark, sf, "events").select("event_id", "ts", "user_id")
    customer = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    src = str(tmp_path / "src")
    events.repartition(2).write.parquet(src)
    stream = read_parquet_stream(spark, src, events.schema, max_files_per_trigger=1)
    out = stream_static_enrich(stream, customer, "user_id", "c_mktsegment")
    run_to_memory(out, "t_enrich_test", "complete")
    got = {
        (r["fecha"], r["c_mktsegment"]): r["n_events"]
        for r in spark.table("t_enrich_test").collect()
    }
    want = {
        (r["fecha"], r["c_mktsegment"]): r["n"]
        for r in events.join(customer, "user_id")
        .groupBy(F.to_date("ts").alias("fecha"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0
