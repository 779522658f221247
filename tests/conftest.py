from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from machine_telemetry_etl_ml_pipeline_spark.session import get_spark

    s = get_spark("tests", master="local[8]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def shuffle_partitions(spark, monkeypatch):
    """``shuffle_partitions(n)``: every registry entry dispatched after
    the call plans with ``n`` shuffle partitions. Dispatch re-tunes the
    session from SPARK_GRAFT_SHUFFLE_PARTITIONS, so a ``spark.conf.set``
    in a test would not hold. Teardown restores the env and the
    session."""
    from machine_telemetry_etl_ml_pipeline_spark.session import tune_session

    yield lambda n: monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(n))
    monkeypatch.undo()
    tune_session(spark)


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)``: the Spark jobs launched while ``fn()`` runs,
    counted by job group."""
    sc = spark.sparkContext
    groups = itertools.count()

    def count(fn) -> int:
        group = f"test-jobs-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def telemetry_csv(tmp_path_factory) -> str:
    """Reference-shaped raw CSV (FIXTURES §A5): CamelCase headers,
    M/d/yyyy H:mm timestamps, injected NULLs, a duplicate
    (machine, hour) pair, and out-of-bounds humidity."""
    import csv

    path = tmp_path_factory.mktemp("data") / "machine_data.csv"
    header = [
        "MachineID", "Type", "Location", "Timestamp", "EngineTemperature",
        "FuelConsumption", "VibrationLevel", "Humidity", "Pressure",
        "PowerOutput", "OperatingHours", "Status",
    ]
    statuses = ["Active", "Fault", "Idle", "Maintenance"]
    rows = []
    for m in range(1, 4):
        for h in range(48):
            day, hh = 1 + h // 24, h % 24
            rows.append([
                f"M00{m}", "Loader", "Site A", f"9/{day}/2025 {hh}:00",
                70.0 + m + h % 5, 10.0 + h % 3, 3.0 + (h % 4) * 0.5,
                60.0 + h % 30, 1000.0 - h, 150.0 + h, float(h + 1),
                statuses[h % 4],
            ])
    # NULL sensor values (fill defaults) + NULL status
    rows[5][4] = ""   # EngineTemperature -> 75.0
    rows[7][7] = ""   # Humidity -> 65.0
    rows[9][11] = ""  # Status -> Unknown
    # duplicate (machine, hour) (DISTINCT-ON tie-break, SURVEY §7)
    rows.append(list(rows[0]))
    # out-of-bounds humidity (db.py:417-420 guard)
    rows.append(["M003", "Loader", "Site A", "9/2/2025 23:00", "80", "12",
                 "4", "101.5", "990", "160", "49", "Active"])
    rows.append(["M003", "Loader", "Site A", "9/3/2025 0:00", "80", "12",
                 "4", "-0.5", "990", "160", "50", "Active"])
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)
    return str(path)


@pytest.fixture(scope="session")
def telemetry(spark, telemetry_csv):
    """Normalized telemetry DataFrame via the real ingest transforms."""
    from machine_telemetry_etl_ml_pipeline_spark.ingest import normalize_telemetry
    from machine_telemetry_etl_ml_pipeline_spark.sources.csv import read_telemetry_csv

    return normalize_telemetry(read_telemetry_csv(spark, telemetry_csv)).cache()
