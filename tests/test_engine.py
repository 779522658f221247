from __future__ import annotations

import functools

import pytest

from machine_telemetry_etl_ml_pipeline_spark.engine import TelemetryEngine
from machine_telemetry_etl_ml_pipeline_spark.plans import telemetry as plans

_START = 1756684800  # 9/1/2025 0:00 UTC, the fixture's first hour

# Every row-returning get_* read: the engine method's name, which is
# also its plans.telemetry builder's, and fixture-shaped arguments.
_READS = {
    "latest": ("get_latest_telemetry", ("M002", 1)),
    "range": ("get_telemetry_range", ("M002", _START, _START + 30 * 3600)),
    "machine_list": ("get_machine_list", ()),
    "highest_temp": ("get_highest_temperature_machines", ()),
    "highest_humidity": ("get_highest_humidity_machines", ()),
    "highest_vibration": ("get_highest_vibration_machines", ()),
    "highest_fuel": ("get_highest_fuel_machines", ()),
    "lowest_temp": ("get_lowest_temperature_machines", ()),
    "lowest_humidity": ("get_lowest_humidity_machines", ()),
    "lowest_vibration": ("get_lowest_vibration_machines", ()),
    "lowest_fuel": ("get_lowest_fuel_machines", ()),
    "by_status": ("get_machines_by_status", ("maint",)),
    "comparison": ("get_machine_comparison_stats", ()),
}
# ... and both branches of the stats read.
_ALL_READS = dict(
    _READS,
    stats=("get_telemetry_stats", ("M002",)),
    stats_all=("get_telemetry_stats", ()),
)


def _row_reads(eng, reads=_READS):
    """The reads as builders on ``eng`` (building one may itself launch
    jobs)."""
    return {k: functools.partial(getattr(eng, name), *args) for k, (name, args) in reads.items()}


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


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
# read infers the parquet schema (a footer job), no sorted read runs a
# range-sampling job, and the serving session runs without AQE, so no
# shuffle exchange becomes a query stage of its own: one job per read.
_READ_JOB_BUDGET = dict.fromkeys(
    ["latest", "range", "machine_list", "highest_temp", "lowest_humidity", "by_status", "comparison", "stats", "stats_all"],
    1,
)


def test_facade_job_budget(engine, count_jobs):
    assert count_jobs(engine.telemetry) == 0
    assert count_jobs(engine.init_db) == 0
    reads = _row_reads(engine, _ALL_READS)
    got = {k: count_jobs(lambda: reads[k]().collect()) for k in _READ_JOB_BUDGET}
    assert not {k for k, n in got.items() if n > _READ_JOB_BUDGET[k]}, got


def test_serving_session_split(spark, tmp_path):
    """The get_* reads plan on a clone of the caller's session with AQE
    off; the caller's session keeps AQE, and so does arbitrary SQL."""
    eng = TelemetryEngine(str(tmp_path / "store"), spark=spark)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    for key in ("spark.sql.session.timeZone", "spark.sql.shuffle.partitions"):
        assert eng._serving.conf.get(key) == spark.conf.get(key), key
    for kind, read in _row_reads(eng, _ALL_READS).items():
        assert "AdaptiveSparkPlan" not in _executed_plan(read()), kind
    grouped = eng.execute_query("SELECT machineid, count(*) AS n FROM telemetry GROUP BY machineid")
    assert "AdaptiveSparkPlan" in _executed_plan(grouped)


def test_serving_session_matches_caller_session(spark, telemetry_csv, tmp_path):
    """Every row-returning read and both stats branches collect the same
    rows on the serving session as the same plans over the caller's AQE
    session, before and after an insert."""
    eng = TelemetryEngine(str(tmp_path / "store"), spark=spark)
    eng.ingest_csv(telemetry_csv)

    def mismatches():
        caller = eng._read_or_empty("telemetry")
        return {
            kind
            for kind, (name, args) in _ALL_READS.items()
            if getattr(eng, name)(*args).collect() != getattr(plans, name)(caller, *args).collect()
        }

    assert mismatches() == set()
    # M002's newest reading: it moves latest, status, stats and the rankings
    eng.insert_telemetry(
        {
            "machineid": "M002",
            "timestamp": "9/3/2025 1:00",
            "enginetemperature": 99.5,
            "humidity": 5.0,
            "status": "Maintenance",
        }
    )
    assert mismatches() == set()


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
