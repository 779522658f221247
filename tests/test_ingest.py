from __future__ import annotations

import os

import pyarrow.parquet as pq

from machine_telemetry_etl_ml_pipeline_spark.ingest import ingest_csv
from machine_telemetry_etl_ml_pipeline_spark.schemas import TELEMETRY


def test_normalize_schema(telemetry):
    assert [f.name for f in telemetry.schema.fields] == [f.name for f in TELEMETRY.fields]
    dtypes = dict(telemetry.dtypes)
    assert dtypes["timestamp"] == "timestamp"
    assert dtypes["enginetemperature"] == "double"
    assert dtypes["timestamp_epoch"] == "bigint"


def test_fill_defaults_applied(telemetry):
    # injected NULLs got the reference defaults (db tooling :59-71)
    assert telemetry.filter("enginetemperature = 75.0").count() >= 1
    assert telemetry.filter("humidity = 65.0").count() >= 1
    assert telemetry.filter("status = 'Unknown'").count() == 1


def test_status_encoding(telemetry):
    rows = telemetry.select("status", "status_encoded").distinct().collect()
    enc = {r.status: r.status_encoded for r in rows}
    assert enc["Active"] == 0 and enc["Fault"] == 1
    assert enc["Idle"] == 2 and enc["Maintenance"] == 3
    assert enc["Unknown"] is None


def test_time_features(telemetry):
    r = telemetry.filter("machineid = 'M001' and hour = 13").head()
    # 2025-09-01 is a Monday -> dayofweek 0 (pandas convention)
    assert r.dayofweek in (0, 1) and r.month == 9
    assert r.timestamp_epoch % 3600 == 0


def test_ingest_end_to_end(spark, telemetry_csv, tmp_path):
    table = str(tmp_path / "telemetry_tbl")
    n = ingest_csv(spark, telemetry_csv, table)
    assert n == 3 * 48 + 3  # grid + dup + 2 bounds rows
    # partitioned layout: one dir per event_date
    parts = [d for d in os.listdir(table) if d.startswith("event_date=")]
    assert len(parts) >= 2
    back = spark.read.parquet(table)
    assert back.count() == n
    assert back.filter("ts_epoch IS NULL").count() == 0  # write-time default stamped


def test_ingest_job_budget(spark, telemetry_csv, tmp_path, count_jobs):
    """The CSV is scanned once: its header read, the shuffle's map stage
    and the write; the write itself counts the rows it commits,
    duplicates included."""
    table = str(tmp_path / "telemetry_tbl")
    got = []
    assert count_jobs(lambda: got.append(ingest_csv(spark, telemetry_csv, table))) == 3
    written = sum(pq.read_metadata(os.path.join(d, f)).num_rows for d, _, fs in os.walk(table) for f in fs if f.endswith(".parquet"))
    assert got == [written] == [3 * 48 + 3]


def test_ingest_of_an_empty_csv_returns_zero(spark, tmp_path):
    csv = tmp_path / "empty.csv"
    csv.write_text("MachineID,Type,Location,Timestamp,EngineTemperature,FuelConsumption,"
                   "VibrationLevel,Humidity,Pressure,PowerOutput,OperatingHours,Status\n")
    assert ingest_csv(spark, str(csv), str(tmp_path / "telemetry_tbl")) == 0
