"""Telemetry ingest path — the Spark-first rebuild of the reference's
EP1 lifecycle (SURVEY §3): pandas read_csv -> rename -> fillna ->
execute_values INSERT (/root/reference/project/database_and_model_tools.py:37-97)
becomes a distributed schema'd scan -> declarative transforms -> one
atomic partitioned-parquet commit.

Physical layout replaces the reference's 6 btree indexes
(/root/reference/project/db.py:128-135): partition by event date
(coarse time bucket -> partition pruning for the range scans) and sort
each file by (machineid, timestamp_epoch), so the composite-index
access pattern (latest-per-machine, range scans) becomes a sorted,
pruned columnar read whose row-group min/max stats skip other
machines.

Both writers share that layout and choose their distribution:
``ingest_csv`` shuffles on ``event_date`` so each date has one writing
task; ``insert_rows``, whose batch is already on the driver, is
written by one task without a shuffle.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.timefeat import dayofweek_monday0, with_write_defaults
from .schemas import STATUS_ENCODING, TELEMETRY, TELEMETRY_FILL
from .sources.csv import read_telemetry_csv

# Reference CSV timestamp format: `9/1/2025 0:00`
# (/root/reference/project/data/machine_data_cleaned.csv:2)
CSV_TS_FORMAT = "M/d/yyyy H:mm"

_DOUBLE_COLS = [
    "enginetemperature",
    "fuelconsumption",
    "vibrationlevel",
    "humidity",
    "pressure",
    "poweroutput",
    "operatinghours",
]


def normalize_telemetry(raw: DataFrame) -> DataFrame:
    """Cast the string-typed CSV columns to the canonical schema,
    fill nulls with the reference defaults
    (database_and_model_tools.py:59-71), and (re)derive the time
    features (reference precomputes them in the CSV; deriving keeps
    dirty inputs consistent)."""
    casts = {c: F.col(c).cast("double") for c in _DOUBLE_COLS if c in raw.columns}
    df = raw.withColumns({"timestamp": F.to_timestamp("timestamp", CSV_TS_FORMAT), **casts})
    df = df.na.fill(TELEMETRY_FILL)
    status_code = F.lit(None).cast("int")
    for status, code in reversed(list(STATUS_ENCODING.items())):
        status_code = F.when(F.col("status") == status, code).otherwise(status_code)
    df = df.withColumns(
        {
            "status_encoded": status_code,
            "timestamp_epoch": F.unix_timestamp("timestamp").cast("long"),
            "hour": F.hour("timestamp").cast("int"),
            "dayofweek": dayofweek_monday0(F.col("timestamp")),
            "month": F.month("timestamp").cast("int"),
        }
    )
    df = with_write_defaults(df)
    return df.select([f.name for f in TELEMETRY.fields])


def ingest_csv(spark: SparkSession, csv_path: str, table_path: str) -> int:
    """Full EP1: scan -> normalize -> atomic partitioned append.
    Returns the ingested row count (the reference's ingest_csv
    contract, database_and_model_tools.py:37-51)."""
    raw = read_telemetry_csv(spark, csv_path)
    clean = normalize_telemetry(raw)
    write_telemetry(clean, table_path)
    # Count THIS batch, not the post-append table total — on a second
    # ingest into a non-empty table the table count would overcount the
    # reference contract (rows inserted from this CSV).
    return clean.count()


def write_telemetry(df: DataFrame, table_path: str, mode: str = "append") -> None:
    """Distributed partitioned sink (layout rationale in the module
    docstring). One atomic commit replaces the reference's psycopg2
    transaction (database_and_model_tools.py:90-96)."""
    _write_by_date(df, table_path, shuffle=True, mode=mode)


def _write_by_date(df: DataFrame, table_path: str, shuffle: bool, mode: str = "append") -> None:
    """Commit ``df`` partitioned by ``event_date``, each file sorted by
    (machineid, timestamp_epoch). ``shuffle`` repartitions on
    ``event_date``, so each date has one writing task whatever the
    input's partitioning; otherwise one task writes everything
    (``coalesce(1)``, a narrow plan), for batches small enough to have
    come from the driver. Either way a commit adds one file per date.

    The partition column leads the sort because Spark's planned write
    requires each task ordered by it: a sort that does not lead with it
    is replaced by the writer's own ``event_date`` sort, and the files
    come out unsorted."""
    dated = df.withColumn("event_date", F.to_date("timestamp"))
    dated = dated.repartition(F.col("event_date")) if shuffle else dated.coalesce(1)
    (
        dated.sortWithinPartitions("event_date", "machineid", "timestamp_epoch")
        .write.mode(mode)
        .partitionBy("event_date")
        .parquet(table_path)
    )


def insert_rows(spark: SparkSession, rows: list[dict], table_path: str) -> int:
    """Single/small-batch insert (reference insert_telemetry,
    project/db.py:153-161): the same normalize + partitioned write as
    ingest, so write-time defaults and layout stay consistent. The
    batch enters Spark as an Arrow table, a local relation, and is
    written without the ``event_date`` shuffle, which under AQE would
    run as a job of its own: one job, with no Python worker. Arrow
    types each column across the rows; a column of nulls only is typed
    as if absent, and a naive datetime is read as UTC, the session
    time zone."""
    raw = spark.createDataFrame(pa.Table.from_pylist(rows))
    given = dict(raw.dtypes)
    cols = {
        f.name: F.col(f.name) if given.get(f.name, "void") != "void" else F.lit(None).cast(f.dataType)
        for f in TELEMETRY.fields
    }
    if given.get("timestamp") == "timestamp":
        cols["timestamp"] = F.date_format("timestamp", CSV_TS_FORMAT)
    clean = normalize_telemetry(raw.select([c.alias(n) for n, c in cols.items()]))
    _write_by_date(clean, table_path, shuffle=False)
    return len(rows)
