"""SparkSession factory tuned for both local testing and cluster scale.

The reference delegates execution to Postgres + Pentaho's row-at-a-time step
engine (SURVEY.md §3-4); our equivalent of its "engine configuration" is a
SparkSession with adaptive execution on. Every knob here is a public Spark
conf.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Defaults sized for one local JVM: local[$SPARK_GRAFT_CPUS] with a 16g
# driver unless SPARK_GRAFT_DRIVER_MEM says otherwise (see get_spark).
# On a real cluster the same conf names apply; only master/memory change.
_DEFAULT_CONF: dict[str, str] = {
    # Adaptive query execution: runtime re-plan, skew-join splitting, and
    # partition coalescing — the core of "would this survive 100×".
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-partition plans that materialize a persist() too: the
    # default (false) pins every cached plan to the RAW shuffle-partition
    # count, so a kilobyte-scale cached frame (dedup fingerprints, ML
    # features, curation tiers) is stored — and re-read by every consumer
    # — as `spark.sql.shuffle.partitions` near-empty blocks, paying that
    # many tasks per scan. Partitioning only, never results; at scale the
    # same advisory-size coalescing keeps partitions ~64 MB either way.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Dimension tables in a star schema are small: let Spark broadcast
    # aggressively (dims here are <= a few MB even at sf100).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for any pandas interchange (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet: vectorized reader + pushdown are on by default; keep snappy.
    "spark.sql.parquet.compression.codec": "snappy",
    # ANSI off: the reference's Kettle casts turn bad values into NULL
    # (SURVEY.md §2.2 P1); ANSI mode would raise instead.
    "spark.sql.ansi.enabled": "false",
    # Stable timestamp behavior for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) columns (e.g. the events fixture) surface as
    # long nanos; readers re-cast to micros (sources/testdata.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Whole-stage codegen on (default, but explicit: the hot path must stay
    # inside generated JVM code, not Python).
    "spark.sql.codegen.wholeStage": "true",
    # Compile each generated class once per JVM. Spark caches compiled
    # classes in one JVM-wide LRU keyed by their full source and class
    # loader, so in local mode a whole-stage stage is compiled twice, for
    # the driver's loader and for the executor's. The default cache holds
    # 100 classes; the 9 etl_star benchmark faces need 136 at sf0.01, so
    # every pass recompiled 66-109 of them with Janino and the JIT compiled
    # them again. Calling every registered face twice at sf0.01 compiles
    # 3,458 distinct classes, which fit in 4096. A static conf: it sizes
    # the cache when the JVM first generates code. Cost at that full fill
    # on a 4-core host: Metaspace 293 MB and code cache 164 MB, against
    # 268 and 143 MB with the default cache, and 158 and 47 MB after the
    # etl_star faces alone. Only compiled code is cached, never rows or
    # plans, so no result can go stale.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # AQE numbers whole-stage stages in planning order, so with the ID in
    # the class name the same stage could get a new name, and so a new
    # class, on a repeat call: over the registry called twice, 216 classes
    # in 35 faces recompiled on the second call with the ID, 48 in 13
    # faces without it. A runtime SQL conf.
    "spark.sql.codegen.useIdInClassName": "false",
}


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int | None):
    """Temporarily set ``spark.sql.shuffle.partitions``, restoring the
    previous value on exit (no-op when ``n`` is None).

    Two classes of work want a reducer count sized to their DATA rather
    than to the session default (which is sized to the cluster):

    - **Streaming state stores**: a stateful operator keeps one state-store
      instance per shuffle partition and pays a per-instance open/commit
      every micro-batch — fixed I/O independent of state size.
    - **Iterative ML fits**: every iteration re-runs the stage DAG, so a
      kilobyte-scale training frame shuffled into ``default`` partitions
      pays ``default × iterations`` task launches for work that fits in a
      handful of tasks.

    AQE's partition coalescing solves this for one-shot batch SQL but
    cannot help a streaming query (state partitioning is pinned at first
    start) or an ``ml`` estimator's internal RDD jobs. Affects only
    parallelism, never results. Lazy plans built inside the scope but
    EXECUTED after it use the restored session value — callers must keep
    eager work (fits, ``start()``/``awaitTermination``) inside the scope.
    """
    if n is None:
        yield
        return
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def get_spark(
    app_name: str = "datawarehousefinal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) so tests and bench share one code path. ``shuffle_partitions``
    defaults to the core count locally; on a cluster you would size it to
    ~2-3× total executor cores (or rely on AQE coalescing, which is on).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Local mode: one big JVM; give the driver room for 32 concurrent tasks.
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
