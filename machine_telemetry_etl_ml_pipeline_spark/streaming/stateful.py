"""Custom stateful streaming operator via applyInPandasWithState —
the escape hatch for stateful semantics the built-in windowed
aggregations can't express (SURVEY §2B streaming row; brief:
"applyInPandasWithState for custom stateful operators").

The example operator keeps per-user running (count, cents-sum, max)
across micro-batches in explicit GroupState and emits the updated
totals each batch. Sums are kept in integer cents so emitted values
are exact (oracle-comparable against the batch aggregate)."""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("sum_cents", LongType()),
        StructField("max_value", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)


def _update_user_stats(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, sum_cents, max_value = state.get
    else:
        n, sum_cents, max_value = 0, 0, float("-inf")
    for pdf in pdfs:
        n += len(pdf)
        sum_cents += int(round(pdf["value"].mul(100).round().sum()))
        if len(pdf):
            max_value = max(max_value, float(pdf["value"].max()))
    state.update((n, sum_cents, max_value))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n": [n],
            "sum_value": [round(sum_cents / 100.0, 4)],
            "max_value": [max_value],
        }
    )


def running_user_stats(stream: DataFrame) -> DataFrame:
    """Per-user running totals with explicit GroupState (NoTimeout:
    state lives for the stream's lifetime; production variants set
    event-time timeouts to bound state like a watermark would)."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _update_user_stats,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
