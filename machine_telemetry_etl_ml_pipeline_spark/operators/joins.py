"""Join operators (§2B extension surface — the reference has no joins
anywhere in /root/reference/project/db.py; SURVEY §2A end-note).

Scale posture:
- dimension tables (region/nation, and anything bounded) are broadcast
  explicitly; fact-fact joins are left to sort-merge + AQE (which also
  handles skew splitting at runtime);
- the as-of join avoids the naive key-equi + theta backtrack (quadratic
  in events-per-key) by the union+window formulation: ONE shuffle on
  the key, a single in-partition sort, and a last-non-null carry —
  linear in rows, the strategy Flink/kdb use for temporal joins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS / IN — ships only the join keys of the right side."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS."""
    return left.join(right, on=on, how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: Sequence[str],
    prefix: str = "asof_",
    right_tiebreak: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with the same
    key and right_ts <= left_ts (inclusive).

    Union+window: tag both sides, union on (key, ts), and carry the
    last-seen right payload forward with last(..., ignorenulls=True)
    over an in-partition sort. Right rows sort BEFORE left rows at
    equal ts so the inclusive (<=) semantics hold.

    right_tiebreak: payload column ordering right rows that share an
    exact (key, ts) — the SMALLEST wins (same pick as the forward
    variant), making the carried duplicate deterministic instead of
    partition-order-dependent; tied right rows sort descending so the
    last-seen carry lands on the smallest. Left rows carry NULL in the
    payload and sort after right rows by side regardless.
    """
    lcols = left.columns
    l = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),  # left after right on ties
        F.struct(*lcols).alias("__lrow"),
        *[F.lit(None).cast(right.schema[p].dataType).alias(f"__p_{p}") for p in payload],
    )
    r = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(l.schema["__lrow"].dataType).alias("__lrow"),
        *[F.col(p).alias(f"__p_{p}") for p in payload],
    )
    order = [F.col("__ts").asc(), F.col("__side").asc()]
    if right_tiebreak is not None:
        order.append(F.col(f"__p_{right_tiebreak}").desc_nulls_last())
    w = (
        Window.partitionBy("__k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).select(
        "__side",
        "__lrow",
        *[F.last(f"__p_{p}", ignorenulls=True).over(w).alias(f"{prefix}{p}") for p in payload],
    )
    out = carried.filter(F.col("__side") == 1)
    return out.select(
        *[F.col("__lrow").getField(c).alias(c) for c in lcols],
        *[F.col(f"{prefix}{p}") for p in payload],
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: Sequence[str],
    prefix: str = "next_",
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Forward as-of join: for each left row, the EARLIEST right row
    with the same key and right_ts >= left_ts (inclusive) — the
    next-reading-after lookup (fill-forward's mirror).

    Same union+window shape as asof_join, reflected: left rows sort
    BEFORE right rows at equal ts and the first non-null payload is
    taken over the FOLLOWING frame, so the inclusive (>=) semantics
    hold with one shuffle on the key.

    right_tiebreak: payload column ordering right rows that share an
    exact (key, ts) — the smallest wins, making the pick deterministic
    (found at the 10x scale probe, whose replicated copies create
    exact ts ties; without it the chosen duplicate is
    partition-order-dependent). NULL (left) rows sort last, so the
    tiebreak never outranks the ts/side order."""
    lcols = left.columns
    l = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__side"),  # left before right on ties
        F.struct(*lcols).alias("__lrow"),
        *[F.lit(None).cast(right.schema[p].dataType).alias(f"__p_{p}") for p in payload],
    )
    r = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(l.schema["__lrow"].dataType).alias("__lrow"),
        *[F.col(p).alias(f"__p_{p}") for p in payload],
    )
    order = [F.col("__ts").asc(), F.col("__side").asc()]
    if right_tiebreak is not None:
        order.append(F.col(f"__p_{right_tiebreak}").asc_nulls_last())
    w = (
        Window.partitionBy("__k")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = l.unionByName(r).select(
        "__side",
        "__lrow",
        *[F.first(f"__p_{p}", ignorenulls=True).over(w).alias(f"{prefix}{p}") for p in payload],
    )
    out = carried.filter(F.col("__side") == 0)
    return out.select(
        *[F.col("__lrow").getField(c).alias(c) for c in lcols],
        *[F.col(f"{prefix}{p}") for p in payload],
    )
