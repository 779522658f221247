"""Window-function operators and batch time-window aggregation
(§2B extension surface; the reference's only window idiom is
DISTINCT ON, covered by operators.core.latest_per_key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ranked(
    df: DataFrame, part: str, order_col: str, descending: bool = True, tiebreak: str | None = None
) -> DataFrame:
    """row_number / rank / dense_rank over a partition. row_number over
    a non-unique sort is nondeterministic — pass a tiebreak for parity.
    Note rank/dense_rank intentionally rank on order_col ONLY (ties
    share a rank); only row_number's order includes the tiebreak."""
    o = [F.col(order_col).desc() if descending else F.col(order_col).asc()]
    if tiebreak is not None:
        o.append(F.col(tiebreak).asc())
    w_rank = Window.partitionBy(part).orderBy(o[0])
    w = Window.partitionBy(part).orderBy(*o)
    return (
        df.withColumn("row_num", F.row_number().over(w))
        .withColumn("rnk", F.rank().over(w_rank))
        .withColumn("dense_rnk", F.dense_rank().over(w_rank))
    )


def lag_lead(
    df: DataFrame, part: str, order_col: str, value_col: str, tiebreak: str | None = None
) -> DataFrame:
    order = [F.col(order_col).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(part).orderBy(*order)
    return (
        df.withColumn("prev_v", F.lag(value_col).over(w))
        .withColumn("next_v", F.lead(value_col).over(w))
    )


def running(df: DataFrame, part: str, order_col: str, value_col: str, tiebreak: str) -> DataFrame:
    """Running sum/avg with an explicit rowsBetween frame. The order key
    includes a unique tiebreak: a rows-frame over a non-unique sort is
    nondeterministic under shuffle (oracle-parity requirement)."""
    w = (
        Window.partitionBy(part)
        .orderBy(F.col(order_col).asc(), F.col(tiebreak).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("running_sum", F.sum(value_col).over(w))
        .withColumn("running_avg", F.avg(value_col).over(w))
        .withColumn("__cnt", F.count(F.lit(1)).over(w))
    )


def tumbling(df: DataFrame, ts_col: str, duration: str) -> DataFrame:
    """Batch tumbling window via window(); the streaming twin lives in
    streaming/windows.py with a watermark."""
    return df.withColumn("__w", F.window(ts_col, duration))


def sessionized(
    df: DataFrame,
    key: str,
    ts_col: str,
    gap_seconds: int,
    tiebreak: str,
    precision: str = "seconds",
) -> DataFrame:
    """Session windows by gaps-and-islands: a new session starts when
    the gap to the previous event exceeds gap_seconds; session id is the
    running count of starts. One shuffle + one sort, no state store —
    the batch analog of session_window().

    precision picks the gap comparison: "seconds" floors both
    timestamps to whole seconds (unix_timestamp) — pair with oracles
    that floor the same way; "micros" compares exact microsecond
    deltas — pair with epoch_us-based oracles. Events carry
    sub-second timestamps, so a gap in the (gap, gap+1s) band
    classifies differently under the two rules; the query and its
    oracle must use the SAME one."""
    w = Window.partitionBy(key).orderBy(F.col(ts_col).asc(), F.col(tiebreak).asc())
    prev = F.lag(ts_col).over(w)
    if precision == "micros":
        cur_t = F.unix_micros(F.col(ts_col).cast("timestamp"))
        prev_t = F.unix_micros(prev.cast("timestamp"))
        gap_over = (cur_t - prev_t) > (gap_seconds * 1_000_000)
    else:
        gap_over = (F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev)) > gap_seconds
    is_start = (prev.isNull() | gap_over).cast("int")
    return df.withColumn("session_id", F.sum(is_start).over(w))
