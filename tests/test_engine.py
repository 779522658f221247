from __future__ import annotations

import itertools

import pytest

from machine_telemetry_etl_ml_pipeline_spark.engine import TelemetryEngine

_GROUPS = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn()`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"test-engine-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _row_reads(eng):
    """Every row-returning get_* read, as builders with fixture-shaped
    arguments (building one may itself launch jobs)."""
    start = 1756684800  # 9/1/2025 0:00 UTC, the fixture's first hour
    return {
        "latest": lambda: eng.get_latest_telemetry("M002", 1),
        "range": lambda: eng.get_telemetry_range("M002", start, start + 30 * 3600),
        "machine_list": eng.get_machine_list,
        "highest_temp": eng.get_highest_temperature_machines,
        "highest_humidity": eng.get_highest_humidity_machines,
        "highest_vibration": eng.get_highest_vibration_machines,
        "highest_fuel": eng.get_highest_fuel_machines,
        "lowest_temp": eng.get_lowest_temperature_machines,
        "lowest_humidity": eng.get_lowest_humidity_machines,
        "lowest_vibration": eng.get_lowest_vibration_machines,
        "lowest_fuel": eng.get_lowest_fuel_machines,
        "by_status": lambda: eng.get_machines_by_status("maint"),
        "comparison": eng.get_machine_comparison_stats,
    }


@pytest.fixture(scope="module")
def engine(spark, telemetry_csv, tmp_path_factory):
    eng = TelemetryEngine(str(tmp_path_factory.mktemp("engine_root")), spark=spark)
    n = eng.ingest_csv(telemetry_csv)
    assert n > 0
    return eng


def test_facade_reads(engine):
    assert [r.machineid for r in engine.get_machine_list().collect()] == ["M001", "M002", "M003"]
    latest = engine.get_latest_telemetry("M002", limit=1).collect()
    assert len(latest) == 1 and latest[0].machineid == "M002"
    top = engine.get_highest_temperature_machines(limit=2).collect()
    assert len(top) == 2
    stats = engine.get_telemetry_stats().head()
    assert stats.n_machines == 3


def test_facade_status_and_comparison(engine):
    by_status = engine.get_machines_by_status("fault").collect()
    assert all("fault" in r.status.lower() for r in by_status)
    comp = engine.get_machine_comparison_stats().collect()
    assert len(comp) == 3


def test_facade_write_paths(engine):
    engine.log_user_query("operator", "hottest machine?", "regression", confidence=None)
    engine.log_prediction("M001", "regression", 81.2, {"humidity": 68.0})
    counts = engine.verify_database_setup()
    assert counts["user_query_log"] >= 1 and counts["predictions"] >= 1
    # None confidence coerced to 0.0 (reference db.py:168)
    q = engine._read_or_empty("user_query_log").head()
    assert q.confidence == 0.0 and q.ts_epoch is not None


def test_facade_insert_and_sql(engine):
    before = engine.verify_database_setup()["telemetry"]
    engine.insert_telemetry(
        {
            "machineid": "M009",
            "type": "Generator",
            "location": "Site D",
            "timestamp": "9/15/2025 4:00",
            "enginetemperature": 90.5,
            "status": "Active",
        }
    )
    after = engine.verify_database_setup()["telemetry"]
    assert after == before + 1
    got = engine.execute_query(
        "SELECT machineid, enginetemperature FROM telemetry WHERE machineid = 'M009'"
    ).collect()
    assert len(got) == 1 and got[0].enginetemperature == 90.5


# Jobs each served read kind launches on the fixture, collected. No
# read infers the parquet schema (a footer job), and no sorted read
# runs a range-sampling job: bounded results sort on one reducer.
_READ_JOB_BUDGET = {
    "latest": 1,
    "range": 2,
    "machine_list": 3,
    "highest_temp": 2,
    "lowest_humidity": 2,
    "by_status": 3,
    "comparison": 3,
    "stats": 2,
}


def test_facade_job_budget(engine, spark):
    assert _jobs(spark, engine.telemetry) == 0
    assert _jobs(spark, engine.init_db) == 0
    reads = dict(_row_reads(engine), stats=lambda: engine.get_telemetry_stats("M002"))
    got = {k: _jobs(spark, lambda: reads[k]().collect()) for k in _READ_JOB_BUDGET}
    assert not {k for k, n in got.items() if n > _READ_JOB_BUDGET[k]}, got


def test_stored_schema_round_trip(spark, telemetry_csv, tmp_path):
    """The reader supplies each table's schema instead of reading it
    from the files, so a writer that drifts from it must fail here."""
    eng = TelemetryEngine(str(tmp_path / "store"), spark=spark)
    eng.ingest_csv(telemetry_csv)
    eng.insert_telemetry({"machineid": "M009", "timestamp": "9/15/2025 4:00", "status": "Active"})
    eng.log_user_query("operator", "hottest machine?", "regression", 0.5, "M001", 1756684800)
    eng.log_prediction("M001", "regression", 81.2, {"humidity": 68.0})
    for name, path in eng._paths.items():
        assert spark.read.parquet(path).schema == eng._read_or_empty(name).schema, name


def test_empty_root_reads(spark, tmp_path):
    eng = TelemetryEngine(str(tmp_path / "store"), spark=spark)
    assert eng.verify_database_setup() == {"telemetry": 0, "user_query_log": 0, "predictions": 0}
    assert [tuple(r) for r in eng.execute_query("SELECT max(event_date) FROM telemetry").collect()] == [(None,)]
    reads = _row_reads(eng)
    assert {k: read().count() for k, read in reads.items()} == dict.fromkeys(reads, 0)
    # an ungrouped aggregate answers with one row, as in SQL
    assert [r.n for r in eng.get_telemetry_stats().collect()] == [0]


def test_uri_root_reads_like_plain_path(engine, spark):
    uri = TelemetryEngine("file://" + engine.root, spark=spark)
    assert uri.telemetry().count() == engine.telemetry().count() > 0
