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

Both writers share that layout and ``normalize_telemetry``.
``ingest_csv`` writes through Spark, shuffled on ``event_date`` so each
date has one writing task. ``insert_rows``, whose batch is already on
the driver, runs no Spark job: its normalization folds into a local
relation, the driver collects it and commits one file per date through
pyarrow (``commit_parquet``, which the engine's log appends share).
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone
from urllib.parse import urlsplit

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

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

# An inserted batch in the shape ``read_telemetry_csv`` gives a CSV,
# with the sensor readings typed.
_INSERT_INPUT = pa.schema(
    [
        (c, pa.float64() if c in _DOUBLE_COLS else pa.string())
        for c in ("machineid", "type", "location", "timestamp", *_DOUBLE_COLS, "status")
    ]
)
# A telemetry file as stored: ``event_date`` is its directory.
_FILE_SCHEMA = to_arrow_schema(TELEMETRY)
_TIMESTAMPS = {f.name for f in TELEMETRY.fields if f.dataType.typeName() == "timestamp"}
# Spark's directory name for a null partition value.
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class UnsupportedFilesystem(ValueError):
    """A table path's scheme has no pyarrow filesystem, so the commits
    made from the driver (log appends and inserts) cannot write there."""


def _filesystem(path: str) -> tuple[pafs.FileSystem, str]:
    """The pyarrow filesystem and in-filesystem path of a table path: a
    plain path (relative ones against the working directory, as Spark
    resolves them) or a URI such as ``file:///``."""
    uri = path if urlsplit(path).scheme else os.path.abspath(path)
    try:
        return pafs.FileSystem.from_uri(uri)
    except (pa.ArrowException, OSError) as e:
        raise UnsupportedFilesystem(f"pyarrow cannot open a filesystem for {path!r}: {e}") from e


def commit_parquet(directory: str, table: pa.Table) -> None:
    """Add ``table`` to ``directory`` as one ``part-<uuid4>.parquet``
    file, written from the driver. On a local filesystem the file is
    written under a dot-name, which Spark's listing skips, and renamed
    into place, so a concurrent reader never lists a half-written file.
    Elsewhere (object stores) rename is not atomic but a single-object
    PUT is, so the final name is written directly."""
    filesystem, directory = _filesystem(directory)
    filesystem.create_dir(directory, recursive=True)
    final = f"{directory}/part-{uuid.uuid4()}.parquet"
    if not isinstance(filesystem, pafs.LocalFileSystem):
        pq.write_table(table, final, filesystem=filesystem)
        return
    staged = f"{directory}/.{uuid.uuid4()}.parquet"
    pq.write_table(table, staged, filesystem=filesystem)
    filesystem.move(staged, final)


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
    contract, database_and_model_tools.py:37-51): the rows of THIS
    batch, not the table total, counted by the write itself, so the
    CSV is scanned once."""
    raw = read_telemetry_csv(spark, csv_path)
    clean = normalize_telemetry(raw)
    return write_telemetry(clean, table_path)


def write_telemetry(df: DataFrame, table_path: str, mode: str = "append") -> int:
    """Distributed partitioned sink (layout rationale in the module
    docstring); returns the rows written. One atomic commit replaces
    the reference's psycopg2 transaction
    (database_and_model_tools.py:90-96). The shuffle on ``event_date``
    gives each date one writing task, so a commit adds one file per
    date whatever the input's partitioning.

    The rows are counted by an observation above the shuffle: below it,
    AQE drops the observed stage from the plan when the input is empty,
    and the observation never reports. The partition column leads the
    sort because Spark's planned write requires each task ordered by
    it: a sort that does not lead with it is replaced by the writer's
    own ``event_date`` sort, and the files come out unsorted."""
    written = Observation()
    (
        df.withColumn("event_date", F.to_date("timestamp"))
        .repartition(F.col("event_date"))
        .observe(written, F.count(F.lit(1)).alias("rows"))
        .sortWithinPartitions("event_date", "machineid", "timestamp_epoch")
        .write.mode(mode)
        .partitionBy("event_date")
        .parquet(table_path)
    )
    return written.get["rows"]


def _csv_timestamp(ts):
    """A datetime as ``CSV_TS_FORMAT`` prints it: an aware one in UTC,
    the session time zone, a naive one as it reads."""
    if not isinstance(ts, datetime):
        return ts
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc)
    return f"{ts.month}/{ts.day}/{ts.year:04d} {ts.hour}:{ts.minute:02d}"


def _spark_order(row) -> tuple:
    """Sort key for (machineid, timestamp_epoch) ascending, nulls first,
    as Spark sorts."""
    m, t = row.machineid, row.timestamp_epoch
    return (m is not None, m or "", t is not None, t or 0)


def insert_rows(spark: SparkSession, rows: list[dict], table_path: str) -> int:
    """Single/small-batch insert (reference insert_telemetry,
    project/db.py:153-161) with ingest's normalization and layout, and
    no Spark job. The batch enters Spark as an Arrow table in the CSV's
    shape (a missing key is null, an unknown one is ignored, a datetime
    ``timestamp`` is formatted as the CSV writes it); over that local
    relation the normalization folds to a ``LocalTableScan``, which the
    driver collects without a job; the collect is bounded, since it
    returns the batch the caller passed in. Timestamps cross as epoch
    microseconds, since ``collect()`` would return them in the Python
    process's local time zone. Each date's rows, sorted as ingest sorts
    them, are committed as one file by ``commit_parquet``; a batch that
    spans dates becomes visible one date at a time."""
    batch = [dict(r, timestamp=_csv_timestamp(r.get("timestamp"))) for r in rows]
    clean = normalize_telemetry(spark.createDataFrame(pa.Table.from_pylist(batch, schema=_INSERT_INPUT)))
    stored = clean.select(
        *[F.unix_micros(n).alias(n) if n in _TIMESTAMPS else n for n in _FILE_SCHEMA.names],
        F.to_date("timestamp").alias("event_date"),
    )
    by_date: dict = {}
    for row in stored.collect():
        by_date.setdefault(row.event_date, []).append(row)
    for day, group in by_date.items():
        ordered = [row.asDict() for row in sorted(group, key=_spark_order)]
        commit_parquet(f"{table_path}/event_date={day or _NULL_PARTITION}", pa.Table.from_pylist(ordered, schema=_FILE_SCHEMA))
    return len(rows)
