"""Sink and scan roundtrips: each face writes through one format or layout
and reads the result back.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehousefinal_spark.materialize import local_result
from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.queries._shared import _money_sum, _scratch_path
from datawarehousefinal_spark.sources.testdata import load_table


@query(
    "csv_repair_roundtrip",
    oracle="SELECT n_nationkey, n_name FROM nation",
)
def csv_repair_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: malformed-row repair (rowFixer, Datos/preprocessing.py:152-187).
    A deterministic CSV is materialized from the nation table with every
    5th row ';'-separated (malformed under ','); the permissive scan splits
    them off, repair_rows re-parses them under ';', and the union must
    reproduce the table exactly."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from datawarehousefinal_spark.sources.readers import (
        read_csv_with_repair,
        repair_rows,
    )

    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rows = sorted((r[0], r[1]) for r in nation.collect())
    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
        ]
    )
    with _scratch_path("csv_repair", sf_dir, ".csv") as path:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("n_nationkey,n_name\n")
            for key, name in rows:
                sep = ";" if key % 5 == 0 else ","
                fh.write(f"{key}{sep}{name}\n")
        with read_csv_with_repair(spark, path, schema) as (good, bad):
            repaired = repair_rows(bad, schema, sep=";")
            return local_result(good.unionByName(repaired))


@query(
    "csv_typed_scan",
    oracle="""
    SELECT n_nationkey, CAST(n_regionkey AS INTEGER) AS n_regionkey, n_name
    FROM nation
    """,
)
def csv_typed_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2: typed CSV scan with a declared schema and per-file dialect
    options (';' separator, like the reference's per-file seps —
    etl_final.ktr:631-907; Datos/preprocessing.py:91-121). The CSV is
    materialized from the nation table, scanned back typed, and must
    hash-match the source."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from datawarehousefinal_spark.sources.readers import read_csv_typed

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_regionkey").cast("int"), "n_name"
    )
    rows = sorted((r[0], r[1], r[2]) for r in nation.collect())
    with _scratch_path("csv_typed", sf_dir, ".csv") as path:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("n_nationkey;n_regionkey;n_name\n")
            for key, rkey, name in rows:
                fh.write(f"{key};{rkey};{name}\n")
        schema = StructType(
            [
                StructField("n_nationkey", IntegerType()),
                StructField("n_regionkey", IntegerType()),
                StructField("n_name", StringType()),
            ]
        )
        return local_result(read_csv_typed(spark, path, schema, sep=";"))


@query(
    "encoding_fallback_scan",
    oracle="""
    SELECT n_nationkey, n_name || 'ñ' AS n_name_tagged FROM nation
    """,
)
def encoding_fallback_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: per-file encoding-fallback scan (sources.readers.
    read_csv_encoding_fallback — the reference's utf-8 → latin-1 retry
    loop, Datos/preprocessing.py:91-121). Two ';'-separated files are
    materialized from the nation table with every name tagged 'ñ': the
    even-key file utf-8, the odd-key file latin-1 (whose 0xF1 'ñ' bytes
    fail a strict utf-8 decode). The probe must route each file to its
    codec, the per-encoding typed scans union, and the result must
    hash-match the tagged source — a wrong codec anywhere shows up as
    mojibake in the value hash."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from datawarehousefinal_spark.sources.readers import (
        read_csv_encoding_fallback,
    )

    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rows = sorted((r[0], r[1]) for r in nation.collect())
    with _scratch_path("enc_fallback", sf_dir) as base:
        os.makedirs(base, exist_ok=True)
        files = {
            0: (os.path.join(base, "even_utf8.csv"), "utf-8"),
            1: (os.path.join(base, "odd_latin1.csv"), "latin-1"),
        }
        handles = {
            parity: open(path, "w", encoding=enc)
            for parity, (path, enc) in files.items()
        }
        try:
            for fh in handles.values():
                fh.write("n_nationkey;n_name_tagged\n")
            for key, name in rows:
                handles[key % 2].write(f"{key};{name}ñ\n")
        finally:
            for fh in handles.values():
                fh.close()
        schema = StructType(
            [
                StructField("n_nationkey", IntegerType()),
                StructField("n_name_tagged", StringType()),
            ]
        )
        df, _chosen = read_csv_encoding_fallback(
            spark, os.path.join(base, "*.csv"), schema, sep=";"
        )
        return local_result(df)


_YEAR_STATUS_TOTALS_ORACLE = """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS anio,
           o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY 1, 2
    """


@query("parquet_sink_roundtrip", oracle=_YEAR_STATUS_TOTALS_ORACLE)
def parquet_sink_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: partitioned snappy parquet sink (machineLearning.py:167-171) —
    aggregate, write partitionBy(anio) so downstream readers get partition
    pruning, read back, and hash-match the direct aggregation. partitionBy
    columns come back as the partition directory values (anio survives the
    roundtrip typed via the written string; cast back to int)."""
    from datawarehousefinal_spark.sources.writers import write_parquet

    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").alias("anio"), F.col("o_orderstatus")
        )
        .agg(
            F.count(F.lit(1)).alias("n"), _money_sum("o_totalprice").alias("total")
        )
    )
    with _scratch_path("pq_sink", sf_dir) as path:
        write_parquet(agg, path, partition_by=["anio"])
        out = spark.read.parquet(path)
        return local_result(out.select(
            F.col("anio").cast("int"), "o_orderstatus", "n", "total"
        ))


_STATUS_TOTALS_ORACLE = """
    SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY 1
    """


@query("zorder_sink_roundtrip", oracle=_STATUS_TOTALS_ORACLE)
def zorder_sink_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered parquet sink (sources/layout.py): orders written
    along the Morton curve of (o_custkey, o_totalprice) — one range
    shuffle, per-file footer stats then prune predicates on EITHER
    column (measured in tests/test_layout.py: a custkey-sorted layout
    prunes nothing for a price band; the z-layout skips ≥30% of files on
    both dimensions). The oracle hash-matches the read-back aggregate
    against the source, proving the layout move is content-preserving."""
    from datawarehousefinal_spark.sources.layout import zorder_write

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    with _scratch_path("zorder", sf_dir) as path:
        zorder_write(orders, path, ["o_custkey", "o_totalprice"], num_files=16)
        back = spark.read.parquet(path)
        return local_result(back.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"), _money_sum("o_totalprice").alias("total")
        ))


_STATUS_COUNTS_ORACLE = """
    SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1
    """


@query("csv_sink_roundtrip", oracle=_STATUS_COUNTS_ORACLE)
def csv_sink_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: CSV sink + typed re-scan (Datos/preprocessing.py:142-143)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from datawarehousefinal_spark.sources.readers import read_csv_typed
    from datawarehousefinal_spark.sources.writers import write_csv

    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with _scratch_path("csv_sink", sf_dir) as path:
        write_csv(agg, path)
        schema = StructType(
            [
                StructField("o_orderstatus", StringType()),
                StructField("n", LongType()),
            ]
        )
        return local_result(read_csv_typed(spark, path, schema))


@query("jdbc_roundtrip", oracle=_STATUS_COUNTS_ORACLE)
def jdbc_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+S6 against a REAL database: batched JDBC write of the status
    aggregate into the Derby embedded engine (bundled in pyspark's jars —
    the same jar Spark uses for its default metastore), then a
    PARTITIONED JDBC scan back (4 range-predicate connections on ``n``;
    Spark's JDBC bounds only split partitions, they never filter rows, so
    out-of-range rows land in the edge partitions). The oracle checks the
    roundtrip end-to-end against DuckDB's own aggregate."""
    from datawarehousefinal_spark.sources.readers import read_jdbc
    from datawarehousefinal_spark.sources.writers import write_jdbc

    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # One in-memory Derby database per JVM, one table per call, dropped on
    # return: nothing reaches the disk and no two JVMs share a database dir
    # (XSDB6); creating a database per call costs ~0.25 s CPU (4-core x86).
    url = "jdbc:derby:memory:dwf_jdbc;create=true"
    table = f"status_counts_{uuid.uuid4().hex}"
    props = {
        "driver": "org.apache.derby.jdbc.EmbeddedDriver",
        # Derby maps StringType to CLOB (not hashable/comparable);
        # pin a plain VARCHAR via the DDL-override option instead.
        "createTableColumnTypes": "o_orderstatus VARCHAR(4)",
    }
    write_jdbc(agg, url, table, mode="overwrite", properties=props)
    try:
        return local_result(
            read_jdbc(
                spark,
                url,
                table,
                properties={"driver": props["driver"]},
                partition_column="n",
                num_partitions=4,
                lower_bound=0,
                upper_bound=1_000_000,
            )
        )
    finally:
        conn = spark._jvm.java.sql.DriverManager.getConnection(url)
        try:
            conn.createStatement().execute(f"DROP TABLE {table}")
        finally:
            conn.close()


@query("cache_roundtrip", oracle=_STATUS_COUNTS_ORACLE)
def cache_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: parquet cache-or-build (machineLearning.py:132-173). First run
    builds + writes snappy parquet; later runs read the cache — either
    path must hash-match the direct aggregation."""
    from datawarehousefinal_spark.operators.dataset import load_or_build_dataset

    orders = load_table(spark, sf_dir, "orders")
    key = os.path.basename(sf_dir.rstrip("/"))
    with _scratch_path("cache", sf_dir) as path:
        return local_result(load_or_build_dataset(
            spark,
            path,
            f"status_counts_{key}",
            lambda: orders.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")),
        ))


@query(
    "jsonl_sink_roundtrip",
    oracle="""
    SELECT doc_id, lang, source, text FROM documents WHERE doc_id % 50 = 0
    """,
)
def jsonl_sink_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + declared-schema re-scan (sources.writers.write_jsonl /
    sources.readers.read_jsonl) — the interchange format training corpora
    ship in. The roundtrip must preserve every value byte-for-byte
    (escaping included), which the oracle checks against the original
    parquet rows."""
    from datawarehousefinal_spark.sources.readers import read_jsonl
    from datawarehousefinal_spark.sources.writers import write_jsonl

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select("doc_id", "lang", "source", "text")
    )
    with _scratch_path("jsonl_sink", sf_dir) as path:
        write_jsonl(docs, path)
        return local_result(read_jsonl(spark, path, docs.schema))


@query(
    "json_repair_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           count(*) FILTER (WHERE o_orderkey % 7 = 0)::BIGINT AS n_repaired
    FROM orders GROUP BY 1
    """,
)
def json_repair_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-JSONL repair end-to-end (readers.read_jsonl_with_repair
    + repair_json_rows — the JSONL face of the reference's rowFixer,
    Datos/preprocessing.py:152-187): orders serialize to JSON lines with
    every 7th line corrupted by a log-shipper prefix; the PERMISSIVE
    scan splits them off, the repair pass strips the prefix and
    re-parses, and the union must reproduce the FULL table (per-status
    counts/sums plus the per-status repaired-row count — proving
    corrupt routing AND lossless recovery). The repair path is
    exercised by construction (every 7th key) and verified by the
    oracle's n_repaired column — no extra guard job on the hot path
    (tests/test_loaders.py pins the nonzero repaired count)."""
    from datawarehousefinal_spark.sources.readers import (
        read_jsonl_with_repair,
        repair_json_rows,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    line = F.to_json(F.struct("o_orderkey", "o_orderstatus", "o_totalprice"))
    corrupted = orders.select(
        F.when(
            F.col("o_orderkey") % 7 == 0, F.concat(F.lit("shipper> "), line)
        )
        .otherwise(line)
        .alias("value")
    )
    schema = orders.schema
    with _scratch_path("json_repair", sf_dir) as path:
        corrupted.coalesce(4).write.mode("overwrite").text(path)
        with read_jsonl_with_repair(spark, path, schema) as (good, bad):
            repaired = repair_json_rows(bad, schema).withColumn(
                "__repaired", F.lit(1)
            )
            full = good.withColumn("__repaired", F.lit(0)).unionByName(repaired)
            return local_result(full.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                _money_sum("o_totalprice").alias("total"),
                F.sum("__repaired").cast("long").alias("n_repaired"),
            ))


@query(
    "feature_cache_roundtrip",
    oracle="""
    SELECT (1 + count(DISTINCT event_type))::INT AS feature_dim,
           count(*)::BIGINT AS n_rows
    FROM events
    """,
)
def feature_cache_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: the tensor-cache analog (deeplearning/etl_to_tensor.py:84-87)
    driven end-to-end: preprocess events through the M1-M5 pipeline,
    persist the assembled feature table as snappy parquet
    (ml/pipelines.write_feature_cache), reload it, and report
    (n_rows, feature_dim) — proving the ML Vector column round-trips
    parquet estimator-ready without re-running the pipeline. Hash-gated
    since round 7: the report is fully determined by the M1-M5 shape
    contract — feature_dim = 1 scaled numeric slot + one one-hot slot
    per seen category (StringIndexer 'keep' bucket dropped by
    OneHotEncoder dropLast) — which the oracle replays as
    1 + count(DISTINCT event_type); n_rows must survive the cache
    write/reload untouched. A dropped row, a dimension drift, or a
    corrupt Vector read breaks the hash."""
    from pyspark.ml.functions import vector_to_array

    from datawarehousefinal_spark.ml.pipelines import (
        fit_preprocess,
        read_feature_cache,
        write_feature_cache,
    )

    events = load_table(spark, sf_dir, "events").select("value", "event_type")
    with _scratch_path("feature_cache", sf_dir) as path:
        with fit_preprocess(events) as (_model, feats):
            write_feature_cache(feats, path)
        back = read_feature_cache(spark, path)
        return local_result(back.select(
            F.size(vector_to_array("features")).alias("feature_dim")
        ).groupBy("feature_dim").agg(F.count(F.lit(1)).cast("long").alias("n_rows")))


@query("compaction_roundtrip", oracle=_STATUS_TOTALS_ORACLE)
def compaction_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end-to-end (sources.writers.compact_parquet):
    orders written deliberately fragmented (64 files — the
    one-file-per-micro-batch accretion pattern of streaming sinks),
    compacted to 4 evenly-sized files in a new directory, read back, and
    the aggregate must hash-match the source — content-preserving by
    oracle, file-count reduction pinned in tests/test_loaders.py."""
    import glob as _glob

    from datawarehousefinal_spark.sources.writers import compact_parquet

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with (
        _scratch_path("compact_src", sf_dir) as path,
        _scratch_path("compact_out", sf_dir) as out_path,
    ):
        orders.repartition(64).write.mode("overwrite").parquet(path)
        out = compact_parquet(
            spark, path, target_partitions=4, out_path=out_path
        )
        n_files = len(_glob.glob(f"{out}/part-*.parquet"))
        if n_files > 4:
            raise RuntimeError(f"compaction left {n_files} files, expected <= 4")
        return local_result((
            spark.read.parquet(out)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"), _money_sum("o_totalprice").alias("total"))
        ))


@query(
    "bucketed_join_roundtrip",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def bucketed_join_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join end-to-end (sources.bucketing): orders
    and customer are written bucketed on the join key (8 buckets each,
    pre-repartitioned so every bucket is one file and the bucket-sort
    holds globally), and the fact-dim join + segment revenue rollup runs
    with the JOIN ITSELF shuffle-free — the write paid the shuffle once,
    every subsequent keyed join reads it back for free. That's the
    100 TB contract; a runtime guard fails the query if the plan ever
    re-shuffles the join inputs (≤1 Exchange total: the final segment
    aggregation)."""
    from datawarehousefinal_spark.plans import exchange_count
    from datawarehousefinal_spark.sources.bucketing import (
        read_table,
        write_bucketed,
    )

    pid = os.getpid()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    with (
        _scratch_path("bucket_orders", sf_dir) as orders_path,
        _scratch_path("bucket_customer", sf_dir) as customer_path,
    ):
        write_bucketed(
            orders.repartition(8, "o_custkey"),
            f"b_orders_{pid}",
            ["o_custkey"],
            8,
            sort_cols=["o_custkey"],
            path=orders_path,
        )
        write_bucketed(
            customer.repartition(8, "c_custkey"),
            f"b_customer_{pid}",
            ["c_custkey"],
            8,
            sort_cols=["c_custkey"],
            path=customer_path,
        )
        bo = read_table(spark, f"b_orders_{pid}")
        bc = read_table(spark, f"b_customer_{pid}")
        joined = bo.join(bc, bo.o_custkey == bc.c_custkey).groupBy(
            "c_mktsegment"
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum("o_totalprice").alias("revenue"),
        )
        n_ex = exchange_count(joined)
        if n_ex > 1:
            raise RuntimeError(
                f"bucketed join re-shuffled: {n_ex} Exchanges (expected <=1)"
            )
        return local_result(joined)


@query(
    "partition_overwrite_roundtrip",
    oracle="""
    WITH final AS (
      SELECT event_id, event_type,
             CASE WHEN event_type = 'click' THEN user_id + 1000000
                  ELSE user_id END AS user_id
      FROM events
    )
    SELECT event_type, count(*) AS n, sum(user_id)::BIGINT AS user_id_sum
    FROM final GROUP BY 1
    """,
)
def partition_overwrite_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite end-to-end (writers.
    overwrite_partitions — the idempotent periodic-load contract behind
    the reference's re-runnable yearly file loads, etl_final.ktr:555-589):
    the events table lands partitioned by event_type, then ONE partition
    ('click') is replayed with corrected rows (user_id + 1e6). The
    read-back aggregate proves the replay REPLACED that partition
    (append would double it; static overwrite would erase the others),
    and a runtime guard requires the partition filter to prune at the
    scan (PartitionFilters, not a post-scan filter). The 5-row result is
    a ``local_result``, so the returned frame has zero lineage to the
    scratch dir — nothing a later driver hash pass could re-execute
    against mutated state.

    SELF-DIAGNOSING (round-10 verdict #2, after three opaque driver
    reds): the face computes the EXPECTED per-partition (n, sum) from
    the source lineage and compares it to the read-back before serving.
    On any disagreement it raises a RuntimeError that names the
    divergence mode — doubled click rows = overwrite ran as append;
    missing partitions = static truncate; click sum lacking the +1e6
    correction = replay lost — so a red driver round reports a
    structured ``err`` naming the failure instead of a fourth opaque
    hash mismatch. The write path additionally pins the session conf
    ``partitionOverwriteMode=dynamic`` around each write (writers.py)."""
    from datawarehousefinal_spark.plans import physical_plan
    from datawarehousefinal_spark.sources.writers import overwrite_partitions

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    with _scratch_path("part_overwrite", sf_dir) as path:
        overwrite_partitions(events, path, ["event_type"])
        replay = events.filter(F.col("event_type") == "click").select(
            "event_id",
            (F.col("user_id") + 1000000).alias("user_id"),
            "event_type",
        )
        overwrite_partitions(replay, path, ["event_type"])
        back = spark.read.parquet(path)
        pruned = back.filter(F.col("event_type") == "click")
        plan = physical_plan(pruned)
        seg = plan.split("PartitionFilters", 1)
        if len(seg) < 2 or "event_type" not in seg[1][:120]:
            raise RuntimeError("partition filter did not prune at the scan")
        result = local_result(back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").alias("user_id_sum"),
        ))
        # Expected per-partition (n, sum) straight from the source: click
        # gets the +1e6-per-row correction, every other partition is
        # untouched. Both aggregates are exact integers.
        expected = {
            r["event_type"]: (
                r["n"],
                r["s"] + (1000000 * r["n"] if r["event_type"] == "click" else 0),
            )
            for r in events.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("user_id").alias("s"))
            .collect()
        }
        observed = {
            r["event_type"]: (r["n"], r["user_id_sum"]) for r in result.collect()
        }
        if observed != expected:
            pre_replay = {
                et: (n, s - (1000000 * n if et == "click" else 0))
                for et, (n, s) in expected.items()
            }
            modes = []
            ck_obs, ck_exp = observed.get("click"), expected.get("click")
            if ck_obs and ck_exp and ck_obs[0] == 2 * ck_exp[0]:
                modes.append("click rows DOUBLED => overwrite ran as APPEND")
            missing = sorted(set(expected) - set(observed))
            if missing:
                modes.append(
                    f"partitions {missing} MISSING => static TRUNCATE overwrite"
                )
            if ck_obs and ck_obs == pre_replay.get("click"):
                modes.append(
                    "click (n,sum) matches PRE-replay source => replay LOST"
                )
            raise RuntimeError(
                "partition overwrite read-back diverged from source lineage: "
                + ("; ".join(modes) if modes else "unclassified divergence")
                + f" | observed={sorted(observed.items())}"
                + f" expected={sorted(expected.items())}"
            )
        return result


@query(
    "dynamic_partition_pruning",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT event_type,
             CASE WHEN event_type IN ('click', 'view')
                  THEN 'engagement' ELSE 'other' END AS category
      FROM events
    )
    SELECT e.event_type, count(*)::BIGINT AS n, sum(e.value) AS total_value
    FROM events e JOIN dim d USING (event_type)
    WHERE d.category = 'engagement'
    GROUP BY 1
    """,
)
def dynamic_partition_pruning_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end-to-end — Catalyst's star-schema
    scan eliminator: the fact lands partitioned by event_type, the dim
    (with its category attribute MATERIALIZED to parquet, so the filter
    is not constant-foldable) is filtered at runtime, and the fact scan
    must carry a ``dynamicpruningexpression`` partition filter — the
    dim's surviving keys prune fact partitions DURING execution, which
    at 100 TB is the difference between scanning 2 of 500 date/type
    partitions and scanning all of them. Runtime guard fails the query
    if the dynamic filter is missing from the scan."""
    from datawarehousefinal_spark.plans import physical_plan

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    )
    with _scratch_path("dpp", sf_dir) as base:
        fact_path, dim_path = f"{base}/fact", f"{base}/dim"
        events.write.mode("overwrite").partitionBy("event_type").parquet(
            fact_path
        )
        events.select("event_type").distinct().withColumn(
            "category",
            F.when(
                F.col("event_type").isin("click", "view"), "engagement"
            ).otherwise("other"),
        ).write.mode("overwrite").parquet(dim_path)

        fact = spark.read.parquet(fact_path)
        dim = spark.read.parquet(dim_path).filter(
            F.col("category") == "engagement"
        )
        joined = fact.join(dim, "event_type").groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value").alias("total_value"),
        )
        plan = physical_plan(joined)
        if "dynamicpruning" not in plan.lower():
            raise RuntimeError(
                "fact scan is not dynamically pruned (no dynamicpruning "
                "expression in the plan)"
            )
        return local_result(joined)


@query("orc_sink_roundtrip", oracle=_YEAR_STATUS_TOTALS_ORACLE)
def orc_sink_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/scan roundtrip (the parquet_sink_roundtrip contract on
    Spark's second native columnar format): aggregate, write
    partitionBy(anio) zlib ORC, read back, hash-match the direct
    aggregation. Partition values come back as directory strings — cast
    anio back to int."""
    from datawarehousefinal_spark.sources.readers import read_orc
    from datawarehousefinal_spark.sources.writers import write_orc

    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").alias("anio"), F.col("o_orderstatus"))
        .agg(F.count(F.lit(1)).alias("n"), _money_sum("o_totalprice").alias("total"))
    )
    with _scratch_path("orc_sink", sf_dir) as path:
        write_orc(agg, path, partition_by=["anio"])
        out = read_orc(spark, path)
        return local_result(out.select(F.col("anio").cast("int"), "o_orderstatus", "n", "total"))


@query(
    "shard_export_manifest",
    oracle="""
    SELECT CAST(CAST(concat('0x', substr(md5(doc_id::VARCHAR || ':17'),
                     1, 15)) AS BIGINT) % 8 AS INTEGER) AS shard,
           count(*)::BIGINT AS n_rows,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM documents GROUP BY 1
    """,
)
def shard_export_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sharded training-data export end-to-end (writers.
    write_hash_shards + shard_manifest): documents shard by the
    md5-derived id hash into 8 ``shard=k`` directories, and the manifest
    read back from the export must match DuckDB replaying the SAME hash
    assignment — proving both the shard function (pure in (id, seed),
    re-export-stable) and the partitioned roundtrip."""
    from datawarehousefinal_spark.sources.writers import (
        shard_manifest,
        write_hash_shards,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    with _scratch_path("shard_export", sf_dir) as path:
        write_hash_shards(docs, path, "doc_id", 8, seed=17)
        return local_result(shard_manifest(spark, path, "doc_id"))


@query(
    "schema_evolution_roundtrip",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<missing>'
                ELSE o_orderstatus END AS status,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           0::BIGINT AS n_clerk
    FROM orders GROUP BY 1
    """,
)
def schema_evolution_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: batch A lands without o_orderstatus,
    batch B adds it; mergeSchema unions the footers (per-file cost, not
    per-row) so A's rows read NULL status, and the `required` contract
    compiles the never-landed o_clerk column into the plan as typed
    NULLs. The aggregate proves missing-column semantics end-to-end;
    the oracle emulates the evolution with a CASE over the source view
    (the scratch files are this process's own)."""
    from datawarehousefinal_spark.sources.readers import (
        read_parquet_evolving,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    with _scratch_path("schema_evo", sf_dir) as base:
        orders.filter(F.col("o_orderkey") % 2 == 0).drop(
            "o_orderstatus"
        ).write.parquet(f"{base}/batch_a")
        orders.filter(F.col("o_orderkey") % 2 != 0).write.parquet(
            f"{base}/batch_b"
        )
        merged = read_parquet_evolving(
            spark,
            [f"{base}/batch_a", f"{base}/batch_b"],
            required={"o_clerk": "string"},
        )
        return local_result(merged.groupBy(
            F.coalesce(F.col("o_orderstatus"), F.lit("<missing>")).alias("status")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            _money_sum("o_totalprice").alias("total"),
            F.count("o_clerk").cast("long").alias("n_clerk"),
        ))


@query(
    "xml_sink_roundtrip",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS anio,
           o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY 1, 2
    """,
)
def xml_sink_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink/scan roundtrip — the parquet/ORC/CSV/JSONL roundtrip
    contract on Spark 4's native XML data source (the merged
    spark-xml), covering the legacy-feed interchange case: aggregate,
    export as row-tagged XML, read back under an EXPLICIT schema
    (inference would rescan), hash-match the direct aggregation. XML
    is an export/ingest format — the docstrings on
    sources.write_xml/read_xml say so loudly — so the face roundtrips
    an AGGREGATE (contract-small), never the fact table."""
    from datawarehousefinal_spark.sources.readers import read_xml
    from datawarehousefinal_spark.sources.writers import write_xml

    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").alias("anio"), F.col("o_orderpriority")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            _money_sum("o_totalprice").alias("total"),
        )
    )
    with _scratch_path("xml_sink", sf_dir) as path:
        write_xml(agg, path, row_tag="cell", root_tag="cube")
        out = read_xml(
            spark,
            path,
            row_tag="cell",
            schema="anio INT, o_orderpriority STRING, n BIGINT, total DOUBLE",
        )
        return local_result(out.select("anio", "o_orderpriority", "n", "total"))


@query(
    "variant_props_histogram",
    oracle="""
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) // 10
             AS k_decile,
           count(*)::BIGINT AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def variant_props_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type: the
    events ``props`` JSON is parsed ONCE into the binary variant
    encoding (``parse_json``) and fields are extracted typed
    (``variant_get``) — the engine-native path that at 100 TB replaces
    per-extraction string re-parsing (``get_json_object`` re-tokenizes
    the JSON text for every field it pulls; the variant parse is paid
    once and every extraction is a binary offset lookup). Served as a
    per-(event_type, k-decile) histogram — integer DIV buckets, exact
    counts — distinct from ``json_props_rollup``'s string-path
    aggregate face so both JSON strategies stay pinned."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    v = ev.select(
        "event_type", F.parse_json("props").alias("__v")
    ).select(
        "event_type",
        F.variant_get("__v", "$.k", "int").alias("__k"),
    )
    return (
        v.groupBy(
            "event_type",
            F.expr("__k div 10").cast("int").alias("k_decile"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
