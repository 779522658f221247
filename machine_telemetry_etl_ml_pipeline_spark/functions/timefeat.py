"""Derived time features.

The reference precomputes hour/dayofweek/month/timestamp_epoch in the
CSV (schema'd at /root/reference/project/db.py:96-99) with the pandas
dayofweek convention 0=Monday. Spark's dayofweek() is 1=Sunday, so the
parity transform is (dayofweek+5)%7 (SURVEY §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dayofweek_monday0(ts_col) -> "F.Column":
    """0=Monday..6=Sunday, matching pandas Timestamp.dayofweek."""
    return ((F.dayofweek(ts_col) + F.lit(5)) % 7).cast("int")


def with_write_defaults(df: DataFrame) -> DataFrame:
    """Write-time column defaults: the reference uses Postgres DEFAULT
    CURRENT_TIMESTAMP / EXTRACT(EPOCH ...) (project/db.py:100-101);
    Spark has no append-time defaults, so the write path stamps them."""
    return df.withColumn("ts_utc", F.current_timestamp()).withColumn(
        "ts_epoch", F.unix_timestamp(F.current_timestamp()).cast("long")
    )
