"""The reference's 14 ``Database.get_*`` query methods
(/root/reference/project/db.py:187-475) as lazy DataFrame builders over
the canonical telemetry schema.

Every function takes the telemetry DataFrame and returns an unexecuted
DataFrame; the reference's client-side Python post-processing (its
``sorted(...)[:limit]`` stage, db.py:247-250, and the redundant
re-filter, db.py:347-362) is folded into the single Catalyst plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.core import (
    distinct_values,
    grouped_stats,
    latest_n,
    latest_per_key,
    range_scan,
    sort_bounded,
    stats,
    stats_columns,
    top_k_by,
)

# Columns selected by the reference's dedup queries (db.py:238-243)
_DEDUP_COLS = [
    "machineid",
    "timestamp_epoch",
    "enginetemperature",
    "humidity",
    "vibrationlevel",
    "fuelconsumption",
    "status",
]


def get_latest_telemetry(df: DataFrame, machine_id: str, limit: int = 1) -> DataFrame:
    """reference project/db.py:187-194"""
    return latest_n(df, F.col("machineid") == machine_id, "timestamp_epoch", limit)


def get_telemetry_range(df: DataFrame, machine_id: str, start_epoch: int, end_epoch: int) -> DataFrame:
    """reference project/db.py:196-202"""
    return range_scan(df, F.col("machineid") == machine_id, "timestamp_epoch", start_epoch, end_epoch)


def get_machine_list(df: DataFrame) -> DataFrame:
    """reference project/db.py:204-207"""
    return distinct_values(df, "machineid")


def get_telemetry_stats(df: DataFrame, machine_id: str | None = None) -> DataFrame:
    """reference project/db.py:209-233; the unfiltered branch adds
    COUNT(DISTINCT machineid) to the same aggregate, one scan, as the
    reference's single SELECT does (db.py:230)."""
    metrics = ["enginetemperature", "humidity", "vibrationlevel"]
    if machine_id is not None:
        return stats(df.filter(F.col("machineid") == machine_id), metrics)
    return df.agg(*stats_columns(metrics), F.countDistinct("machineid").alias("n_machines"))


def latest_per_machine(df: DataFrame) -> DataFrame:
    """DISTINCT ON (machineid) ... ORDER BY machineid, timestamp_epoch
    DESC (reference project/db.py:237-246). Tie-break on the full
    timestamp column is not available post-dedup in the reference —
    here ties break deterministically on enginetemperature desc to keep
    results stable (SURVEY §7 hard spot a)."""
    return latest_per_key(
        df.select(_DEDUP_COLS), "machineid", "timestamp_epoch", tiebreak="enginetemperature"
    )


def _ranked(df: DataFrame, metric: str, alias: str, limit: int, ascending: bool) -> DataFrame:
    dedup = latest_per_machine(df).filter(F.col(metric).isNotNull())
    out = dedup.select(
        "machineid",
        F.col(metric).alias(alias),
        "timestamp_epoch",
        "status",
    )
    return top_k_by(out, alias, limit, ascending=ascending, tiebreak="machineid")


# The 8 ranking variants (reference db.py:235-301 highest, 390-475 lowest)
def get_highest_temperature_machines(df, limit=5):
    return _ranked(df, "enginetemperature", "temperature", limit, False)


def get_highest_humidity_machines(df, limit=5):
    return _ranked(df, "humidity", "humidity_v", limit, False)


def get_highest_vibration_machines(df, limit=5):
    return _ranked(df, "vibrationlevel", "vibration", limit, False)


def get_highest_fuel_machines(df, limit=5):
    return _ranked(df, "fuelconsumption", "fuel", limit, False)


def get_lowest_temperature_machines(df, limit=5):
    return _ranked(df, "enginetemperature", "temperature", limit, True)


def get_lowest_humidity_machines(df, limit=5):
    """Adds the bounds guard humidity > 0 AND <= 100
    (reference project/db.py:417-420); NULLs sort last (db.py:430)."""
    guarded = df.filter(F.col("humidity").isNotNull() & (F.col("humidity") > 0) & (F.col("humidity") <= 100))
    return _ranked(guarded, "humidity", "humidity_v", limit, True)


def get_lowest_vibration_machines(df, limit=5):
    return _ranked(df, "vibrationlevel", "vibration", limit, True)


def get_lowest_fuel_machines(df, limit=5):
    return _ranked(df, "fuelconsumption", "fuel", limit, True)


def get_machines_by_status(df: DataFrame, status_filter: str) -> DataFrame:
    """ILIKE %filter% over latest-per-machine rows (reference
    project/db.py:307-336). The reference re-checks the filter
    client-side (db.py:347-362) — semantically redundant, folded here.
    At most one row per machine, so it sorts on one reducer."""
    dedup = latest_per_key(
        df.filter(F.col("machineid").isNotNull()).select(_DEDUP_COLS),
        "machineid",
        "timestamp_epoch",
        tiebreak="enginetemperature",
    )
    return sort_bounded(dedup.filter(F.col("status").ilike(f"%{status_filter}%")), "machineid")


def get_machine_comparison_stats(df: DataFrame) -> DataFrame:
    """GROUP BY machineid comparison aggregate ordered by avg temp desc
    (reference project/db.py:368-387)."""
    return grouped_stats(
        df,
        "machineid",
        avg_cols=["enginetemperature", "humidity", "vibrationlevel", "fuelconsumption"],
        max_cols=["enginetemperature", "humidity", "vibrationlevel", "fuelconsumption", "operatinghours"],
        order_by="avg_enginetemperature",
    )
