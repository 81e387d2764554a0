"""The engine's two ways to materialize a frame, each in one place:
:func:`local_result` ends a computation with a lineage-free local
relation, and :func:`materialized` pins a frame for reuse inside a block
and always releases it. :func:`release` frees either kind of pin."""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def local_result(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and return its rows as a local relation.

    The rows never leave the JVM (``collectAsList`` feeds
    ``createDataFrame`` under the same schema), so values and types are
    untouched. Reserved for small results: the rows live in the driver.
    A frame that optimizes to a local relation already is returned as
    it is, without a job.
    """
    if _is_local(df):
        return df
    spark = df.sparkSession
    jdf = df._jdf
    return DataFrame(
        spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema()),
        spark,
    )


def _is_local(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def release(*dfs: DataFrame | None) -> None:
    """Free what pins each frame: its Dataset cache entry, or the blocks
    of the local checkpoint it reads. A no-op for ``None`` and for a
    frame that is neither.

    ``DataFrame.unpersist`` alone does not free a local checkpoint: the
    blocks belong to the RDD under the checkpoint's ``LogicalRDD`` and
    would stay until a JVM GC lets the ContextCleaner run.
    """
    for df in dfs:
        if df is None:
            continue
        if df.storageLevel != StorageLevel.NONE:
            df.unpersist()
            continue
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)


@contextmanager
def materialized(df: DataFrame, checkpoint: bool = False) -> Iterator[DataFrame]:
    """Pin ``df`` for the block and release it on exit.

    ``checkpoint=False`` persists (lazily filled by the first action);
    ``checkpoint=True`` runs an eager ``localCheckpoint``, which also
    truncates the lineage. A frame that is already materialized, a
    local relation or a frame the caller persisted, is used as it is
    and left alone. Work that reads the pinned frame must finish inside
    the block: return :func:`local_result` of it, not a lazy plan.
    """
    if _is_local(df) or (not checkpoint and df.storageLevel != StorageLevel.NONE):
        yield df
        return
    pinned = df.localCheckpoint(eager=True) if checkpoint else df.persist()
    try:
        yield pinned
    finally:
        release(pinned)
