"""Regression tests for load_table under a DRIVER-SHAPED session.

Round 1 lost 7 correctness rows because ``load_table`` relied on the engine's
own session factory having set ``spark.sql.legacy.parquet.nanosAsLong``; the
harness builds a vanilla SparkSession without it and the events.parquet read
throws PARQUET_TYPE_ILLEGAL. These tests strip the conf from the session
before calling ``load_table`` so that dependency can never silently return.
"""

from __future__ import annotations

import uuid

import pytest

from datawarehousefinal_spark.sources.testdata import (
    TABLES,
    _read_parquet,
    load_table,
)

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


@pytest.fixture
def vanilla_conf(spark):
    """Simulate the driver's session: the nanos conf is absent."""
    spark.conf.unset(NANOS_CONF)
    yield spark
    spark.conf.set(NANOS_CONF, "true")


def test_load_events_without_engine_conf(vanilla_conf, sf_dir):
    spark = vanilla_conf
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() > 0


def test_load_events_without_engine_conf_warm_cache(vanilla_conf, sf_dir):
    """The same driver case after an earlier load cached the events schema:
    the conf is gone again when ``load_table`` is next called."""
    spark = vanilla_conf
    load_table(spark, sf_dir, "events")
    spark.conf.unset(NANOS_CONF)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() > 0


def _jobs_during(spark, fn) -> int:
    """Run ``fn`` and return how many Spark jobs it started. Each call
    gets its own job group, because the tracker keeps a group's finished
    jobs."""
    sc = spark.sparkContext
    group = f"jobs-during-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_load_runs_no_job(spark, sf_dir):
    """Only the first read of a fixture file infers its schema (a one-task
    footer job); later reads run no job and see the same schema and rows
    as a fresh inferred read."""
    for name in TABLES:
        load_table(spark, sf_dir, name)
        assert _jobs_during(spark, lambda: load_table(spark, sf_dir, name)) == 0, name
        path = f"{sf_dir}/{name}.parquet"
        warm = _read_parquet(spark, path)
        fresh = spark.read.parquet(path)
        assert warm.schema.json() == fresh.schema.json(), name
        assert warm.exceptAll(fresh).count() == 0, name
        assert fresh.exceptAll(warm).count() == 0, name


def test_warm_loads_self_join(spark, sf_dir):
    """The cache holds a schema, not a frame: two loads of one table are
    distinct relations, so a self-join resolves both sides."""
    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation")
    pairs = a.join(b, a["n_regionkey"] == b["n_regionkey"]).select(
        a["n_nationkey"], b["n_nationkey"]
    )
    n = a.count()
    assert n < pairs.count() < n * n


def test_schema_cache_follows_the_file(spark, sf_dir, tmp_path):
    """A file overwritten at the same path is inferred again."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.copy(f"{sf_dir}/region.parquet", tmp_path / "region.parquet")
    before = load_table(spark, str(tmp_path), "region")
    assert "r_name" in before.columns
    pq.write_table(
        pa.table({"other": pa.array([1, 2, 3], pa.int32())}),
        tmp_path / "region.parquet",
    )
    after = load_table(spark, str(tmp_path), "region")
    assert after.dtypes == [("other", "int")]
    assert sorted(r["other"] for r in after.collect()) == [1, 2, 3]


def test_schema_cache_follows_the_confs(spark, sf_dir):
    """The raw ``ts`` type of events follows inferTimestampNTZ on every read,
    warm or not; ``load_table`` serves a session-zone timestamp either way."""
    path = f"{sf_dir}/events.parquet"
    saved = spark.conf.get(NTZ_CONF)
    try:
        for enabled, raw in (
            ("true", "timestamp_ntz"),
            ("false", "timestamp"),
            ("true", "timestamp_ntz"),
        ):
            spark.conf.set(NTZ_CONF, enabled)
            assert dict(_read_parquet(spark, path).dtypes)["ts"] == raw
            assert dict(load_table(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set(NTZ_CONF, saved)


def test_events_micros_match_duckdb(spark, oracle_sf_dir):
    """Integer-division nanos→micros must equal DuckDB's TIMESTAMP_NS cast
    at full microsecond grain (not just to_date)."""
    import duckdb

    df = load_table(spark, oracle_sf_dir, "events")
    spark_rows = {
        r["event_id"]: r["ts"].strftime("%Y-%m-%d %H:%M:%S.%f")
        for r in df.select("event_id", "ts").collect()
    }
    duck = duckdb.sql(
        f"SELECT event_id, CAST(ts AS TIMESTAMP) AS ts "
        f"FROM read_parquet('{oracle_sf_dir}/events.parquet')"
    ).fetchall()
    duck_rows = {eid: ts.strftime("%Y-%m-%d %H:%M:%S.%f") for eid, ts in duck}
    assert spark_rows == duck_rows


def test_write_parquet_clustered_layout(spark, sf_dir, tmp_path):
    """One file per partition dir, rows sorted by the cluster column
    inside each file (tight row-group min/max stats)."""
    import glob

    from pyspark.sql import functions as F

    from datawarehousefinal_spark.sources.writers import write_parquet_clustered

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "clustered")
    write_parquet_clustered(
        events, out, partition_by=["event_type"], cluster_by=["ts"]
    )
    part_dirs = glob.glob(f"{out}/event_type=*")
    n_types = events.select("event_type").distinct().count()
    assert len(part_dirs) == n_types
    # Range partitioning bounds total files by the shuffle partition count
    # (each directory only receives files from its contiguous task range)
    # instead of tasks x partitions.
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    all_files = glob.glob(f"{out}/event_type=*/*.parquet")
    assert 0 < len(all_files) <= n_shuffle + n_types
    for f in all_files:
        ts = [r["ts"] for r in spark.read.parquet(f).select("ts").collect()]
        assert ts == sorted(ts)  # tight row-group min/max stats
    # nothing lost in the rewrite
    assert spark.read.parquet(out).count() == events.count()


def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    import glob

    from datawarehousefinal_spark.sources.writers import compact_parquet

    events = load_table(spark, sf_dir, "events")
    frag = str(tmp_path / "fragmented")
    events.repartition(20).write.parquet(frag)
    assert len(glob.glob(f"{frag}/*.parquet")) == 20

    out = compact_parquet(spark, frag, target_partitions=2)
    assert len(glob.glob(f"{out}/*.parquet")) == 2
    assert spark.read.parquet(out).count() == events.count()


def test_compact_parquet_preserves_partition_layout(spark, sf_dir, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from datawarehousefinal_spark.sources.writers import compact_parquet

    events = load_table(spark, sf_dir, "events")
    frag = str(tmp_path / "frag_part")
    # fragmented partitioned dataset: several appends, one file each per dir
    for i in range(4):
        events.filter(F.pmod("event_id", F.lit(4)) == i).coalesce(1).write.mode(
            "append"
        ).partitionBy("event_type").parquet(frag)
    n_types = events.select("event_type").distinct().count()
    assert len(glob.glob(f"{frag}/event_type=*/*.parquet")) == 4 * n_types

    out = compact_parquet(
        spark, frag, target_partitions=n_types, partition_by=["event_type"]
    )
    # same col=value directory layout, fewer files, nothing lost
    assert len(glob.glob(f"{out}/event_type=*")) == n_types
    assert len(glob.glob(f"{out}/event_type=*/*.parquet")) < 4 * n_types
    assert spark.read.parquet(out).count() == events.count()


def test_overwrite_partitions_replaces_only_named_dirs(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite: replaying one partition's data leaves
    the other col=value directories byte-identical and undeleted."""
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.sources.writers import (
        overwrite_partitions,
        write_parquet,
    )

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "ingest")
    write_parquet(events, out, partition_by=["event_type"])
    before = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(out).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    some_type = sorted(before)[0]

    # replay that partition with only half its rows
    replay = events.filter(
        (F.col("event_type") == some_type) & (F.col("event_id") % 2 == 0)
    )
    replay_n = replay.count()
    overwrite_partitions(replay, out, ["event_type"])

    after = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(out).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert after[some_type] == replay_n
    for t, n in before.items():
        if t != some_type:
            assert after[t] == n


def test_encoding_fallback_chain(spark, tmp_path):
    """S2: a latin-1 file (bytes invalid in utf-8) and a utf-8 file read
    through one call — per-file probe picks the right codec and both
    decode to the same logical strings (Datos/preprocessing.py:91-121)."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from datawarehousefinal_spark.sources.readers import (
        detect_encoding,
        read_csv_encoding_fallback,
    )

    latin = tmp_path / "l1.csv"
    latin.write_bytes("id,name\n1,año señal\n2,café\n".encode("latin-1"))
    utf8 = tmp_path / "u8.csv"
    utf8.write_bytes("id,name\n3,año señal\n4,café\n".encode("utf-8"))
    schema = StructType(
        [StructField("id", IntegerType()), StructField("name", StringType())]
    )
    df, chosen = read_csv_encoding_fallback(
        spark, str(tmp_path / "*.csv"), schema
    )
    assert chosen[str(latin)] == "iso-8859-1"
    assert chosen[str(utf8)] == "utf-8"
    names = {r["id"]: r["name"] for r in df.collect()}
    assert names[1] == names[3] == "año señal"
    assert names[2] == names[4] == "café"
    # truncated multi-byte tail must not false-fail utf-8
    raw = "x,ñoño\n".encode("utf-8")
    assert detect_encoding(raw[:-1]) == "utf-8"


def test_jsonl_roundtrip_preserves_hostile_strings(spark, tmp_path):
    """JSONL must survive embedded newlines, quotes, tabs, unicode, and
    NULLs — the content real scraped corpora contain."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from datawarehousefinal_spark.sources.readers import read_jsonl
    from datawarehousefinal_spark.sources.writers import write_jsonl

    rows = [
        (1, 'line one\nline "two"\twith\ttabs'),
        (2, "año — señal ✓   weird line sep"),
        (3, None),
        (4, '{"not": "parsed as nested"}'),
    ]
    schema = StructType(
        [StructField("id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "jl")
    write_jsonl(df, path)
    back = {r["id"]: r["text"] for r in read_jsonl(spark, path, schema).collect()}
    assert back == dict(rows)


def test_orc_roundtrip_and_partition_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    from datawarehousefinal_spark.sources.readers import read_orc
    from datawarehousefinal_spark.sources.writers import write_orc

    df = spark.range(0, 1000).select(
        (F.col("id") % 5).cast("int").alias("part"),
        F.col("id").alias("v"),
    )
    path = str(tmp_path / "orc")
    write_orc(df, path, partition_by=["part"])
    back = read_orc(spark, path)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).first()[0] == sum(range(1000))
    pruned = back.filter(F.col("part") == 3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "part" in plan.split("PartitionFilters")[1][:80]
    assert pruned.count() == 200


def test_read_parquet_evolving_merges_and_fills(spark, tmp_path):
    from datawarehousefinal_spark.sources.readers import read_parquet_evolving

    a = spark.createDataFrame([(1, 10.0)], ["k", "v"])
    b = spark.createDataFrame([(2, 20.0, "new")], ["k", "v", "tag"])
    a.write.parquet(f"{tmp_path}/a")
    b.write.parquet(f"{tmp_path}/b")
    df = read_parquet_evolving(
        spark, [f"{tmp_path}/a", f"{tmp_path}/b"],
        required={"never_landed": "int"},
    )
    rows = {r["k"]: r for r in df.collect()}
    assert rows[1]["tag"] is None and rows[2]["tag"] == "new"
    assert all(r["never_landed"] is None for r in rows.values())
    assert dict(df.dtypes)["never_landed"] == "int"


def test_read_jsonl_with_repair_and_reparse(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from datawarehousefinal_spark.sources.readers import (
        read_jsonl_with_repair,
        repair_json_rows,
    )

    schema = StructType(
        [StructField("k", LongType()), StructField("v", StringType())]
    )
    lines = [
        '{"k": 1, "v": "a"}',
        'shipper> {"k": 2, "v": "b"}',   # repairable prefix garbage
        '{"k": 3, "v": "c"}',
        'totally broken',                 # unrepairable
    ]
    p = tmp_path / "in.jsonl"
    p.write_text("\n".join(lines) + "\n")
    with read_jsonl_with_repair(spark, str(p), schema) as (good, bad):
        assert {r["k"] for r in good.collect()} == {1, 3}
        assert bad.count() == 2
        rep = repair_json_rows(bad, schema).collect()
    by_k = {r["k"]: r["v"] for r in rep}
    assert by_k.get(2) == "b"
    # the unrepairable line parses to an all-NULL row, never disappears
    assert None in by_k


def test_json_repair_roundtrip_exercises_repair_path(spark, sf_dir):
    """The registered query must actually route rows through the repair
    pass (the in-query guard job was removed from the hot path — this
    pins the contract instead)."""
    from datawarehousefinal_spark import queries as Q
    from pyspark.sql import functions as F

    out = Q.QUERIES["json_repair_roundtrip"](spark, sf_dir)
    total_repaired = out.agg(F.sum("n_repaired")).collect()[0][0]
    assert total_repaired and total_repaired > 0
