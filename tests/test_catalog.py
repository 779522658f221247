"""sources/catalog.load_table infers each parquet file's schema once per
file status and type-mapping conf, then reads with it (no footer job)."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.schemas import TESTDATA_TABLES
from machine_telemetry_etl_ml_pipeline_spark.session import tune_session
from machine_telemetry_etl_ml_pipeline_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_warm_read_launches_no_job(spark, count_jobs):
    for t in TESTDATA_TABLES:
        load_table(spark, SF, t)
    got = {t: count_jobs(lambda: load_table(spark, SF, t)) for t in TESTDATA_TABLES}
    assert got == dict.fromkeys(TESTDATA_TABLES, 0)


def test_fresh_copy_reads_warm_after_one_cold_pass(spark, count_jobs, tmp_path):
    """Each file infers once: no read changes a type-mapping conf and
    with it the memo key of the tables read before it."""
    for t in TESTDATA_TABLES:
        shutil.copy(f"{SF}/{t}.parquet", tmp_path / f"{t}.parquet")
    s = tune_session(spark.newSession())
    for t in TESTDATA_TABLES:
        load_table(s, str(tmp_path), t)
    got = {t: count_jobs(lambda: load_table(s, str(tmp_path), t)) for t in TESTDATA_TABLES}
    assert got == dict.fromkeys(TESTDATA_TABLES, 0)


def test_reads_set_no_conf(spark):
    s = tune_session(spark.newSession())
    before = s.conf.getAll
    for t in TESTDATA_TABLES:
        load_table(s, SF, t)
    assert s.conf.getAll == before


def test_first_read_of_a_fresh_copy_infers(spark, count_jobs, tmp_path):
    shutil.copy(f"{SF}/nation.parquet", tmp_path / "nation.parquet")
    assert count_jobs(lambda: load_table(spark, str(tmp_path), "nation")) >= 1


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    table = pq.read_table(f"{SF}/nation.parquet")
    pq.write_table(table, tmp_path / "nation.parquet")
    assert dict(load_table(spark, str(tmp_path), "nation").dtypes)["n_regionkey"] == "int"
    i = table.schema.get_field_index("n_regionkey")
    retyped = table.set_column(i, "n_regionkey", table.column(i).cast(pa.int64()))
    pq.write_table(retyped, tmp_path / "nation.parquet")
    df = load_table(spark, str(tmp_path), "nation")
    assert dict(df.dtypes)["n_regionkey"] == "bigint"
    assert df.agg(F.sum("n_regionkey")).first()[0] == pc.sum(table["n_regionkey"]).as_py()


def test_type_mapping_confs_are_part_of_the_key(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2], "b": pa.array([b"x", b"yz"], pa.binary())}),
                   tmp_path / "blob.parquet")
    conf = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(conf)
    try:
        got = {}
        for value in ("false", "true", "false"):
            spark.conf.set(conf, value)
            got.setdefault(value, set()).add(dict(load_table(spark, str(tmp_path), "blob").dtypes)["b"])
    finally:
        spark.conf.set(conf, prev)
    assert got == {"false": {"binary"}, "true": {"string"}}


def _events_with_ts(unit: str, lo: int, hi: int) -> pa.Table:
    """sf0.001 events with four rows moved onto the edges of the
    [lo, hi] epoch-second window, ts stored as TIMESTAMP(unit)."""
    table = pq.read_table(f"{SF}/events.parquet")
    us = pc.cast(table["ts"], pa.int64()).to_pylist()
    edges = [lo * 1_000_000 - 1, lo * 1_000_000, hi * 1_000_000 + 999_999, (hi + 1) * 1_000_000]
    us[: len(edges)] = edges
    ts = pa.array(us, pa.timestamp("us")).cast(pa.timestamp(unit))
    return table.set_column(table.schema.get_field_index("ts"), "ts", ts)


def test_legacy_nanos_layout_reads_like_micros(spark, tmp_path):
    ts = pq.read_table(f"{SF}/events.parquet", columns=["ts"])["ts"]
    s = sorted(pc.cast(ts, pa.int64()).to_pylist())
    lo, hi = s[len(s) // 4] // 1_000_000, s[3 * len(s) // 4] // 1_000_000
    for unit in ("us", "ns"):
        (tmp_path / unit).mkdir()
        pq.write_table(_events_with_ts(unit, lo, hi), tmp_path / unit / "events.parquet",
                       version="2.6", coerce_timestamps=None)
    assert pq.read_schema(tmp_path / "ns" / "events.parquet").field("ts").type == pa.timestamp("ns")

    def rows(unit):
        df = load_table(spark, str(tmp_path / unit), "events", ts_range=(lo, hi))
        # the micros copy reads as TIMESTAMP_NTZ, the nanos branch as
        # TIMESTAMP; the session zone is UTC, so the cast keeps the instant
        return sorted(df.select("event_id", F.unix_micros(F.col("ts").cast("timestamp"))).collect())

    micros = rows("us")
    ids = {r[0] for r in micros}
    first_ids = pq.read_table(tmp_path / "us" / "events.parquet")["event_id"][:4].to_pylist()
    assert [i in ids for i in first_ids] == [False, True, True, False]
    assert rows("ns") == micros  # cold: infers the raw-nanos bigint layout
    assert rows("ns") == micros  # warm: the memoized schema
    assert dict(load_table(spark, str(tmp_path / "ns"), "events").dtypes)["ts"] == "timestamp"


def test_directories_and_missing_paths_read_without_the_memo(spark, count_jobs, tmp_path):
    (tmp_path / "dir.parquet").mkdir()
    shutil.copy(f"{SF}/nation.parquet", tmp_path / "dir.parquet" / "part-0.parquet")
    for _ in range(2):
        assert count_jobs(lambda: load_table(spark, str(tmp_path), "dir")) >= 1
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "missing")
