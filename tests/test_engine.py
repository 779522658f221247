from __future__ import annotations

import functools
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import date, datetime

import pyarrow.parquet as pq
import pytest

from machine_telemetry_etl_ml_pipeline_spark import ingest
from machine_telemetry_etl_ml_pipeline_spark.engine import TelemetryEngine, UnsupportedFilesystem
from machine_telemetry_etl_ml_pipeline_spark.plans import telemetry as plans
from machine_telemetry_etl_ml_pipeline_spark.schemas import PREDICTIONS, TELEMETRY_STORED, USER_QUERY_LOG

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
    # plans over a stored file: a missing table is an empty local
    # relation, which the optimizer folds whatever the session
    eng.insert_telemetry({"machineid": "M009", "timestamp": "9/15/2025 4:00"})
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
    from the files, so a writer that drifts from it must fail here. The
    log tables are checked holding only driver-written (Arrow) files,
    then mixed with a file from Spark's writer, and their rows must read
    back exactly, the predictions map included. Telemetry holds Spark's
    ingest files and a driver-written insert file; the inserted row must
    read back as Spark's writer stores the same input."""
    eng = TelemetryEngine(str(tmp_path / "store"), spark=spark)
    eng.ingest_csv(telemetry_csv)
    t0 = int(time.time())
    eng.insert_telemetry({"machineid": "M009", "timestamp": "9/15/2025 4:00", "status": "Active"})
    eng.log_user_query("operator", "hottest machine?", "regression", 0.5, "M001", 1756684800)
    eng.log_prediction("M001", "regression", 81.2, {"humidity": 68.0, "pressure": 990.5})
    t1 = int(time.time())
    logged = {
        "user_query_log": ("operator", "hottest machine?", "regression", 0.5, "M001", 1756684800),
        "predictions": ("M001", "regression", 81.2, {"humidity": 68.0, "pressure": 990.5}),
    }
    spark_written = {
        "user_query_log": ("viewer", "coolest?", "ranking", 0.0, None, None, 7),
        "predictions": ("M002", "classification", 0.0, {}, 7),
    }

    def check():
        for name, path in eng._paths.items():
            assert spark.read.parquet(path).schema == eng._read_or_empty(name).schema, name

    check()
    for name, row in logged.items():
        (got,) = eng._read_or_empty(name).collect()
        assert tuple(got)[:-1] == row and t0 <= got.ts_epoch <= t1, name

    # timestamps compared as epoch microseconds, exact in any local zone
    exact = [f"unix_micros({n}) AS {n}" if n in ("timestamp", "ts_utc") else n for n in TELEMETRY_STORED.names]
    stored = eng._read_or_empty("telemetry").selectExpr(*exact)
    raw = dict.fromkeys(ingest._INSERT_INPUT.names)
    csv_row = spark.createDataFrame(
        [dict(raw, machineid="M009", timestamp="9/15/2025 4:00", status="Active")], ", ".join(f"{c} string" for c in raw)
    )
    spark_path = str(tmp_path / "spark_written")
    ingest.write_telemetry(ingest.normalize_telemetry(csv_row), spark_path)
    (want,) = spark.read.schema(TELEMETRY_STORED).parquet(spark_path).selectExpr(*exact).collect()
    (got,) = stored.filter("machineid = 'M009'").collect()
    stamps = ("ts_utc", "ts_epoch")
    assert {k: v for k, v in got.asDict().items() if k not in stamps} == {
        k: v for k, v in want.asDict().items() if k not in stamps
    }
    assert got.timestamp == 1757908800 * 10**6 and t0 <= got.ts_epoch <= t1
    # every row, ingested or inserted: write-time stamps and time features agree
    assert stored.filter(
        "ts_utc DIV 1000000 != ts_epoch OR timestamp DIV 1000000 != timestamp_epoch"
        " OR to_date(timestamp_micros(timestamp)) != event_date"
    ).count() == 0
    for name, schema in (("user_query_log", USER_QUERY_LOG), ("predictions", PREDICTIONS)):
        spark.createDataFrame([spark_written[name]], schema).write.mode("append").parquet(eng._paths[name])
    check()
    for name, row in logged.items():
        got = [tuple(r)[:-1] for r in eng._read_or_empty(name).collect()]
        assert sorted(got, key=repr) == sorted([row, spark_written[name][:-1]], key=repr), name


def _log_dir_files(path: str) -> list[str]:
    return sorted(os.listdir(path)) if os.path.isdir(path) else []


def test_facade_write_job_budget(spark, tmp_path, count_jobs):
    """A log append commits from the driver: no Spark job, one parquet
    file holding its row, no empty file and no staging file left. So
    does an insert: its normalization folds into a local relation, which
    the driver collects without a job."""
    eng = TelemetryEngine(str(tmp_path / "store"), spark=spark)
    appends = [
        ("user_query_log", lambda: eng.log_user_query("operator", "q", "regression", 0.9, "M001", 1)),
        ("predictions", lambda: eng.log_prediction("M001", "regression", 81.2, {"humidity": 68.0})),
    ] * 2
    for name, append in appends:
        before = _log_dir_files(eng._paths[name])
        assert count_jobs(append) == 0, name
        files = _log_dir_files(eng._paths[name])
        assert len(files) == len(before) + 1, files
        assert all(f.startswith("part-") and f.endswith(".parquet") for f in files), files
        assert [pq.read_metadata(os.path.join(eng._paths[name], f)).num_rows for f in files] == [1] * len(files)
    row = {"machineid": "M009", "timestamp": "9/15/2025 4:00", "status": "Active"}
    assert count_jobs(lambda: eng.insert_telemetry(row)) == 0
    assert eng.verify_database_setup() == {"telemetry": 1, "user_query_log": 2, "predictions": 2}


def test_concurrent_log_appends(spark, tmp_path):
    """Appends from threads get distinct files and none is lost."""
    eng = TelemetryEngine(str(tmp_path / "store"), spark=spark)

    def client(t):
        for i in range(5):
            eng.log_user_query("operator", f"q{t}-{i}", "regression", 0.9, "M001", i)

    with ThreadPoolExecutor(8) as pool:
        list(pool.map(client, range(8), timeout=120))
    files = _log_dir_files(eng._paths["user_query_log"])
    assert len(files) == 40 and all(f.startswith("part-") for f in files), files
    queries = [r.query for r in eng._read_or_empty("user_query_log").collect()]
    assert sorted(queries) == sorted(f"q{t}-{i}" for t in range(8) for i in range(5))


def test_uri_root_writes_then_reads(spark, tmp_path):
    root = tmp_path / "store"
    eng = TelemetryEngine(f"file://{root}", spark=spark)
    eng.log_user_query("operator", "q", "regression")
    eng.log_prediction("M001", "regression", None, {})
    eng.insert_telemetry({"machineid": "M009", "timestamp": "9/15/2025 4:00", "status": "Active"})
    assert eng.verify_database_setup() == {"telemetry": 1, "user_query_log": 1, "predictions": 1}
    assert TelemetryEngine(str(root), spark=spark).verify_database_setup() == eng.verify_database_setup()


def test_log_append_to_unsupported_scheme_is_named(spark):
    eng = TelemetryEngine("s3a://bucket/store", spark=spark)
    writes = {
        "user_query_log": lambda: eng.log_user_query("operator", "q", "regression"),
        "telemetry": lambda: eng.insert_telemetry({"machineid": "M009", "timestamp": "9/15/2025 4:00"}),
    }
    for table, write in writes.items():
        with pytest.raises(UnsupportedFilesystem, match=f"s3a://bucket/store/{table}"):
            write()
    assert issubclass(UnsupportedFilesystem, ValueError)


def test_telemetry_files_sorted_by_machine_and_time(spark, telemetry_csv, tmp_path):
    """Each telemetry file is sorted by (machineid, timestamp_epoch), the
    layout the machine-keyed reads prune on, after an ingest of rows in
    no order and after an insert."""
    with open(telemetry_csv) as f:
        header, *rows = f.readlines()
    random.Random(0).shuffle(rows)
    shuffled = tmp_path / "shuffled.csv"
    shuffled.write_text(header + "".join(rows))
    eng = TelemetryEngine(str(tmp_path / "store"), spark=spark)
    eng.ingest_csv(str(shuffled))
    eng.insert_telemetry({"machineid": "M000", "timestamp": "9/1/2025 5:00", "status": "Active"})
    table = eng._paths["telemetry"]
    files = [os.path.join(d, f) for d, _, fs in os.walk(table) for f in fs if f.endswith(".parquet")]
    assert len(files) >= 3
    for path in files:
        t = pq.read_table(path, columns=["machineid", "timestamp_epoch"])
        keys = list(zip(t.column("machineid").to_pylist(), t.column("timestamp_epoch").to_pylist()))
        assert keys == sorted(keys), os.path.relpath(path, table)


def test_empty_root_reads(spark, tmp_path, count_jobs):
    eng = TelemetryEngine(str(tmp_path / "store"), spark=spark)
    # a missing table reads as a local relation: no Python worker, no job
    assert _executed_plan(eng.telemetry()).startswith("LocalTableScan <empty>")
    assert count_jobs(lambda: eng.telemetry().collect()) == 0
    assert eng.verify_database_setup() == {"telemetry": 0, "user_query_log": 0, "predictions": 0}
    assert [tuple(r) for r in eng.execute_query("SELECT max(event_date) FROM telemetry").collect()] == [(None,)]
    reads = _row_reads(eng)
    assert {k: read().count() for k, read in reads.items()} == dict.fromkeys(reads, 0)
    # an ungrouped aggregate answers with one row, as in SQL
    assert [r.n for r in eng.get_telemetry_stats().collect()] == [0]


def test_uri_root_reads_like_plain_path(engine, spark):
    uri = TelemetryEngine("file://" + engine.root, spark=spark)
    assert uri.telemetry().count() == engine.telemetry().count() > 0


def _table_files(table: str) -> list[str]:
    """Every file under a table directory, relative to it."""
    return sorted(os.path.relpath(os.path.join(d, f), table) for d, _, fs in os.walk(table) for f in fs)


def test_insert_is_independent_of_the_local_time_zone(spark, tmp_path, monkeypatch):
    """``collect()`` converts timestamps in the Python process's local
    zone; the insert must store the same instants and dates in any."""
    rows = [
        {"machineid": "M001", "timestamp": "9/15/2025 2:00", "status": "Active"},
        {"machineid": "M002", "timestamp": datetime(2025, 9, 15, 23, 30), "status": "Idle"},
    ]
    cols = ["machineid", "unix_micros(timestamp)", "timestamp_epoch", "event_date"]

    def stored(zone):
        monkeypatch.setenv("TZ", zone)
        time.tzset()
        try:
            eng = TelemetryEngine(str(tmp_path / zone.replace("/", "_")), spark=spark)
            ingest.insert_rows(spark, rows, eng._paths["telemetry"])
        finally:
            monkeypatch.undo()
            time.tzset()
        return sorted(eng._read_or_empty("telemetry").selectExpr(*cols).collect())

    utc = stored("UTC")
    assert stored("America/New_York") == utc
    assert [tuple(r)[1:] for r in utc] == [
        (1757901600 * 10**6, 1757901600, date(2025, 9, 15)),
        (1757979000 * 10**6, 1757979000, date(2025, 9, 15)),
    ]


def test_insert_without_timestamp_lands_in_the_null_partition(spark, tmp_path):
    eng = TelemetryEngine(str(tmp_path / "store"), spark=spark)
    eng.insert_telemetry({"machineid": "M009", "status": "Active"})
    (path,) = _table_files(eng._paths["telemetry"])
    assert path.startswith("event_date=__HIVE_DEFAULT_PARTITION__/part-"), path
    (got,) = eng.telemetry().collect()
    assert got.machineid == "M009" and got.timestamp is None and got.event_date is None


def test_concurrent_inserts(spark, tmp_path):
    """Inserts from threads commit distinct files, none is lost and no
    staging file is left behind."""
    eng = TelemetryEngine(str(tmp_path / "store"), spark=spark)

    def client(t):
        for i in range(5):
            eng.insert_telemetry({"machineid": f"M{t}", "timestamp": f"9/{1 + i}/2025 {t}:00", "status": "Active"})

    with ThreadPoolExecutor(8) as pool:
        list(pool.map(client, range(8), timeout=300))
    files = _table_files(eng._paths["telemetry"])
    assert len(files) == 40 and all(os.path.basename(f).startswith("part-") for f in files), files
    got = sorted((r.machineid, r.timestamp_epoch) for r in eng.telemetry().collect())
    assert got == sorted((f"M{t}", _START + i * 86400 + t * 3600) for t in range(8) for i in range(5))


def test_multi_date_insert_writes_one_sorted_file_per_date(spark, tmp_path):
    eng = TelemetryEngine(str(tmp_path / "store"), spark=spark)
    rows = [
        {"machineid": m, "timestamp": f"9/{d}/2025 {h}:00"}
        for m, d, h in [("M2", 2, 5), ("M1", 1, 7), (None, 2, 3), ("M2", 1, 1), ("M1", 2, 9), ("M1", 1, 2), ("M2", 2, 0)]
    ]
    assert ingest.insert_rows(spark, rows, eng._paths["telemetry"]) == 7
    table = eng._paths["telemetry"]
    files = _table_files(table)
    assert [os.path.dirname(f) for f in files] == ["event_date=2025-09-01", "event_date=2025-09-02"], files
    keys = [
        list(zip(*pq.read_table(os.path.join(table, f), columns=["machineid", "hour"]).to_pydict().values()))
        for f in files
    ]
    assert keys == [[("M1", 2), ("M1", 7), ("M2", 1)], [(None, 3), ("M1", 9), ("M2", 0), ("M2", 5)]]
