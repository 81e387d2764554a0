"""Custom stateful streaming operators (applyInPandasWithState).

These cover the part of the streaming surface that watermarked built-in
aggregations can't express: arbitrary per-key state carried across
micro-batches. State is Spark-managed (checkpointed, partitioned by the
group key), the per-batch compute is Arrow-batched pandas — the documented
scale shape for custom stateful logic.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def running_totals_schema(key_type=StringType()) -> StructType:
    return StructType(
        [
            StructField("key", key_type),
            StructField("n", LongType()),
            StructField("total", DoubleType()),
        ]
    )


_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def stateful_running_totals(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    key_type=StringType(),
) -> DataFrame:
    """Per-key running (count, sum) maintained across micro-batches with
    ``applyInPandasWithState`` — the minimal custom stateful operator: the
    built-in streaming aggregation could express this exact case, but the
    state hook generalizes to logic it can't (top-k per key, decaying
    counters, fraud windows), so this is the tested template for those.

    Each micro-batch emits one row per key seen in that batch with the
    totals SO FAR (append mode ⇒ downstream sees a growing log; the last
    emission per key is the current total)."""

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({"key": [k], "n": [n], "total": [total]})

    return (
        stream.select(F.col(key_col).alias("key"), F.col(value_col))
        .groupBy("key")
        .applyInPandasWithState(
            fn,
            running_totals_schema(key_type),
            _STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
