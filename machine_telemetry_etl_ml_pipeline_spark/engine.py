"""TelemetryEngine — the drop-in facade for the reference's
``Database`` + ``DataIngestor`` classes (/root/reference/project/db.py,
project/database_and_model_tools.py): every public method a reference
user calls today exists here with the same name and argument shape,
returning lazy DataFrames instead of fetched dict-rows.

Differences by design (SURVEY §3):
- reads return un-executed DataFrames (call .collect()/.toPandas() at
  the edge) — the reference's client-side sort/slice/refilter stages
  are already folded into the plans;
- writes stamp write-time default columns (no SERIAL ids — see
  ref_surrogate_ids for the parity note). The CSV ingest writes
  through Spark's partitioned-parquet sink, shuffled on ``event_date``.
  The serve writes run no Spark job: an insert and each log append are
  committed by the driver as parquet files through pyarrow
  (``ingest.commit_parquet``, SCALE.md "Serve writes"); a root whose
  scheme pyarrow cannot open fails them with ``UnsupportedFilesystem``;
- ``execute_query`` is spark.sql over the registered views: the
  read-vs-write dispatch heuristic (db.py:55-75) disappears because
  the DataFrame/writer split makes it structural;
- reads supply the schema the engine writes each table with (the
  reference's fixed DDL, db.py:77-126), so opening a table launches no
  Spark job to read a parquet footer; the file listing still runs per
  read, so commits by other writers stay visible. A missing table
  (Spark's PATH_NOT_FOUND, so URI roots work too) reads as an empty
  frame of the same schema;
- range reads prune ``event_date`` partitions, so they open the date
  directories of the window, not every date stored;
- the ``get_*`` reads run on a clone of the caller's session with AQE
  off, so each collected read is one Spark job, not one per shuffle
  exchange; the join-free served plans gain nothing from AQE (SCALE.md
  "Served reads run without AQE"). Ingest, ``insert_telemetry``,
  ``init_db``/``execute_query`` and ``verify_database_setup`` keep the
  caller's session and its AQE. A missing table reads as a frame over
  an empty Arrow table, a local relation, so reading it starts no
  Python worker and collecting it runs no job.
"""

from __future__ import annotations

import time
from datetime import datetime, timedelta, timezone

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from . import ingest as _ingest
from .ingest import UnsupportedFilesystem, commit_parquet  # noqa: F401 -- raised by the writes
from .operators.core import local_frame
from .plans import telemetry as plans
from .schemas import PREDICTIONS, TELEMETRY_STORED, USER_QUERY_LOG
from .session import get_spark, tune_session

# Each table's schema as the engine writes it.
_STORED = {
    "telemetry": TELEMETRY_STORED,
    "user_query_log": USER_QUERY_LOG,
    "predictions": PREDICTIONS,
}


class TelemetryEngine:
    """One engine instance per storage root (the reference's singleton
    connection, db.py:15-19, becomes one SparkSession + table root)."""

    def __init__(self, root: str, spark: SparkSession | None = None):
        self.spark = tune_session(spark or get_spark("telemetry-engine"))
        self._serving = tune_session(self.spark.newSession())
        self._serving.conf.set("spark.sql.adaptive.enabled", "false")
        self.root = root.rstrip("/")
        self._paths = {
            "telemetry": f"{self.root}/telemetry",
            "user_query_log": f"{self.root}/user_query_log",
            "predictions": f"{self.root}/predictions",
        }

    # --- DDL / setup (reference init_db, db.py:77-151) -------------------

    def init_db(self) -> None:
        """Idempotent: registers the three table views if data exists;
        index DDL has no analog (layout handles it — SCALE.md)."""
        for name in self._paths:
            df = self._read_or_empty(name)
            df.createOrReplaceTempView(name)

    def _read_or_empty(self, name: str, spark: SparkSession | None = None) -> DataFrame:
        spark = spark or self.spark
        schema = _STORED[name]
        try:
            return spark.read.schema(schema).parquet(self._paths[name])
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
        return local_frame(spark, [], schema)

    def telemetry(self) -> DataFrame:
        """The telemetry table on the serving session (AQE off)."""
        return self._read_or_empty("telemetry", self._serving)

    # --- ingest (reference DataIngestor, database_and_model_tools.py) ----

    def ingest_csv(self, csv_path: str) -> int:
        return _ingest.ingest_csv(self.spark, csv_path, self._paths["telemetry"])

    def insert_telemetry(self, data: dict) -> int:
        """reference db.py:153-161"""
        return _ingest.insert_rows(self.spark, [data], self._paths["telemetry"])

    def log_user_query(
        self,
        role: str,
        query: str,
        intent: str,
        confidence: float | None = None,
        machine_id: str | None = None,
        target_time_epoch: int | None = None,
    ) -> None:
        """reference db.py:163-169: ts_epoch default + None->0.0."""
        self._append_row(
            "user_query_log",
            role=role,
            query=query,
            intent=intent,
            confidence=float(confidence or 0.0),
            machine_id=machine_id,
            target_time_epoch=target_time_epoch,
        )

    def log_prediction(
        self, machine_id: str, intent: str, numerical_answer: float | None, features: dict
    ) -> None:
        """reference db.py:171-185: numpy scalars are handled by Arrow;
        the JSONB column is a native map."""
        self._append_row(
            "predictions",
            machine_id=machine_id,
            intent=intent,
            numerical_answer=float(numerical_answer or 0.0),
            features={k: float(v) for k, v in features.items()},
        )

    def _append_row(self, name: str, **row) -> None:
        """Commit one row to a log table from the driver
        (``ingest.commit_parquet``): a parquet file written with the
        stored schema and ``ts_epoch`` stamped in whole seconds, as
        ``unix_timestamp(current_timestamp())`` would."""
        table = pa.Table.from_pylist(
            [dict(row, ts_epoch=int(time.time()))], schema=to_arrow_schema(_STORED[name])
        )
        commit_parquet(self._paths[name], table)

    # --- reads (reference get_* methods, db.py:187-475) ------------------

    def get_latest_telemetry(self, machine_id: str, limit: int = 1) -> DataFrame:
        return plans.get_latest_telemetry(self.telemetry(), machine_id, limit)

    def get_telemetry_range(self, machine_id: str, start_epoch: int, end_epoch: int) -> DataFrame:
        """The exact ``timestamp_epoch`` window, plus an ``event_date``
        partition filter. The writer derives ``event_date`` in its own
        session time zone, which is within a day of the UTC date (UTC-12
        to UTC+14), so the filter spans the UTC dates widened by one day
        each side."""
        day = timedelta(days=1)
        lo = datetime.fromtimestamp(start_epoch, timezone.utc).date() - day
        hi = datetime.fromtimestamp(end_epoch, timezone.utc).date() + day
        window = self.telemetry().filter(F.col("event_date").between(lo, hi))
        return plans.get_telemetry_range(window, machine_id, start_epoch, end_epoch)

    def get_machine_list(self) -> DataFrame:
        return plans.get_machine_list(self.telemetry())

    def get_telemetry_stats(self, machine_id: str | None = None) -> DataFrame:
        return plans.get_telemetry_stats(self.telemetry(), machine_id)

    def get_highest_temperature_machines(self, limit: int = 5) -> DataFrame:
        return plans.get_highest_temperature_machines(self.telemetry(), limit)

    def get_highest_humidity_machines(self, limit: int = 5) -> DataFrame:
        return plans.get_highest_humidity_machines(self.telemetry(), limit)

    def get_highest_vibration_machines(self, limit: int = 5) -> DataFrame:
        return plans.get_highest_vibration_machines(self.telemetry(), limit)

    def get_highest_fuel_machines(self, limit: int = 5) -> DataFrame:
        return plans.get_highest_fuel_machines(self.telemetry(), limit)

    def get_lowest_temperature_machines(self, limit: int = 5) -> DataFrame:
        return plans.get_lowest_temperature_machines(self.telemetry(), limit)

    def get_lowest_humidity_machines(self, limit: int = 5) -> DataFrame:
        return plans.get_lowest_humidity_machines(self.telemetry(), limit)

    def get_lowest_vibration_machines(self, limit: int = 5) -> DataFrame:
        return plans.get_lowest_vibration_machines(self.telemetry(), limit)

    def get_lowest_fuel_machines(self, limit: int = 5) -> DataFrame:
        return plans.get_lowest_fuel_machines(self.telemetry(), limit)

    def get_machines_by_status(self, status_filter: str) -> DataFrame:
        return plans.get_machines_by_status(self.telemetry(), status_filter)

    def get_machine_comparison_stats(self) -> DataFrame:
        return plans.get_machine_comparison_stats(self.telemetry())

    # --- SQL entry (reference execute_query, db.py:55-75) ----------------

    def execute_query(self, sql: str) -> DataFrame:
        self.init_db()
        return self.spark.sql(sql)

    # --- verification (reference verify_database_setup) ------------------

    def verify_database_setup(self) -> dict[str, int]:
        """database_and_model_tools.py:117-125: COUNT(*) per table."""
        return {name: self._read_or_empty(name).count() for name in self._paths}
