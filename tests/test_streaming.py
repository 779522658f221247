from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY
from machine_telemetry_etl_ml_pipeline_spark.sources.catalog import load_table
from machine_telemetry_etl_ml_pipeline_spark.streaming.windows import (
    EVENTS_STREAM_SCHEMA,
    click_purchase_join,
    dedup_within_watermark,
    run_to_memory,
    session_counts,
    stream_static_join,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events re-written through load_table into a parquet dir the
    LTZ stream schema binds to directly (the canonical stream-source
    normalization step; the raw testdata is read via
    events_testdata_stream instead)."""
    d = str(tmp_path_factory.mktemp("stream") / "events")
    load_table(spark, SF, "events").write.parquet(d)
    return d


def file_stream(spark, dir_path):
    """File-source stream over a parquet dir of events, one file per
    micro-batch."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir_path)
    )


def _rows(spark, name):
    return sorted(REGISTRY[name].fn(spark, SF).collect())


def test_tumbling_matches_batch(spark):
    """The shipped stream_tumbling_counts entry equals its batch twin
    ext_tumbling_window row for row over the same input."""
    got = _rows(spark, "stream_tumbling_counts")
    assert got and got == _rows(spark, "ext_tumbling_window")


def test_session_counts_runs(spark, events_dir):
    stream = file_stream(spark, events_dir)
    out = run_to_memory(session_counts(stream, gap="30 minutes"), "complete")
    assert out.count() > 0
    assert out.filter("n_events < 1").count() == 0


def test_dedup_within_watermark(spark, events_dir, tmp_path):
    # duplicate the input dir -> every event_id appears twice
    dup = str(tmp_path / "dup")
    shutil.copytree(events_dir, dup, dirs_exist_ok=True)
    spark.read.parquet(events_dir).write.mode("append").parquet(dup)
    stream = file_stream(spark, dup)
    out = run_to_memory(dedup_within_watermark(stream, ["event_id"]), "append")
    n_unique = spark.read.parquet(events_dir).select("event_id").distinct().count()
    assert out.count() == n_unique


def test_stream_static_join(spark, events_dir):
    dim = spark.createDataFrame(
        [(t, i) for i, t in enumerate(["click", "view", "purchase", "signup", "error"])],
        "event_type string, type_code int",
    )
    stream = file_stream(spark, events_dir)
    out = run_to_memory(stream_static_join(stream, dim, "event_type"), "append")
    assert out.filter("type_code IS NULL").count() == 0
    assert out.count() == spark.read.parquet(events_dir).count()


def test_stateful_running_stats_across_batches(spark, events_dir, tmp_path):
    """applyInPandasWithState must ACCUMULATE across micro-batches:
    feed the same events twice as two files -> final per-user counts
    are exactly double the single-pass counts."""
    from machine_telemetry_etl_ml_pipeline_spark.streaming.stateful import running_user_stats

    two = str(tmp_path / "two_batches")
    df = spark.read.parquet(events_dir)
    df.coalesce(1).write.parquet(two)
    df.coalesce(1).write.mode("append").parquet(two)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(two)
        .select("user_id", "value")
    )
    # update mode emits once per (user, batch); the final emission has
    # the accumulated totals
    final = (
        run_to_memory(running_user_stats(stream), "update")
        .groupBy("user_id")
        .agg(F.max("n").alias("n_final"))
    )
    single = df.groupBy("user_id").count()
    joined = final.join(single, "user_id")
    assert joined.filter("n_final != 2 * count").count() == 0
    assert joined.count() == single.count()


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics: an event older than (max seen ts -
    watermark) arriving in a LATER micro-batch is dropped — its window
    never materializes. Batch separation is forced by writing the late
    file only after the first micro-batch has been fully processed."""
    import uuid

    d = tmp_path / "late_src"
    d.mkdir()
    schema = "event_id long, ts string, user_id long, value double"

    def write_batch(name, rows):
        (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(d / name))
        )

    write_batch(
        "b0",
        [
            (1, "2026-01-01 08:15:00", 1, 1.0),
            (2, "2026-01-01 08:30:00", 1, 1.0),
            (3, "2026-01-01 10:00:00", 1, 1.0),  # watermark -> 09:00
        ],
    )
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, value double")
        .parquet(str(d / "b*"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1 processed; watermark now 09:00
        write_batch(
            "b1",
            [
                (4, "2026-01-01 07:10:00", 1, 1.0),  # LATE -> dropped
                (5, "2026-01-01 10:30:00", 1, 1.0),  # watermark -> 09:30
            ],
        )
        q.processAllAvailable()
        # one more empty-ish cycle so the 08:00 window (end 09:00 <=
        # watermark 09:30) finalizes into the append output
        q.processAllAvailable()
        # the engine must also ACCOUNT for the drop: exactly one row
        # crossed the watermark (the observable ops teams alert on)
        import json

        dropped = 0
        for p in q.recentProgress:
            pj = json.loads(p.json) if hasattr(p, "json") else p
            for op in pj.get("stateOperators", []):
                dropped += op.get("numRowsDroppedByWatermark", 0)
        assert dropped == 1, dropped
    finally:
        q.stop()
    rows = {str(r.window_start): r.n for r in spark.table(name).collect()}
    spark.catalog.dropTempView(name)
    # finalized: the 08:00 window (2 on-time events). The late 07:10
    # event must NOT have created a 07:00 window.
    assert "2026-01-01 07:00:00" not in rows, rows
    assert rows.get("2026-01-01 08:00:00") == 2, rows


def test_rocksdb_state_store_matches_default_provider(spark):
    """Run the stream_tumbling_counts entry under the RocksDB
    state-store provider and the default HDFS-backed one: identical
    results. RocksDB is the state backend that holds at 100 TB —
    state lives off-heap/on-disk with incremental checkpoint uploads,
    where the default provider's executor-heap maps OOM once keyed
    state outgrows memory."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, rocks)
        with_rocks = _rows(spark, "stream_tumbling_counts")
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    default = _rows(spark, "stream_tumbling_counts")
    assert with_rocks == default and len(with_rocks) > 0


def test_dynamic_gap_watermark_eviction(spark, tmp_path):
    """Watermark eviction proof for the dynamic-gap sessionization
    (the stream_session_dynamic_gap aggregation) under genuinely LATE
    data — the case the availableNow oracle drain can't exercise.
    Four checkpointed append-mode drains, one new file each:

      drain 1: u1 clicks 10:00, 10:05      -> open session s1
               (watermark after: 08:05)
      drain 2: u1 click 10:20 (above the 08:05 horizon -> MERGES
               into s1 = [10:00, 10:50)), u2 click 14:00
               (watermark after: 12:00)
      drain 3: u1 click 10:10 — BELOW the 12:00 horizon -> DROPPED;
               u2 view 18:00 (60-min gap). The 12:00 horizon also
               finalizes s1 -> emitted with n=3 (not 4: the late row
               never touched state; not 2: the in-horizon merge did).
      drain 4: u3 click 22:00 advances the horizon to 20:00 ->
               emits u2's [14:00, 14:30) click session and
               [18:00, 19:00) view session (60-min dynamic gap
               visible in sess_end). u3's own session stays open
               and must NOT be emitted.
    """
    from datetime import datetime, timedelta, timezone

    from machine_telemetry_etl_ml_pipeline_spark.streaming.windows import (
        EVENTS_STREAM_SCHEMA,
        dynamic_gap_sessions,
    )

    base = datetime(2025, 1, 1, 10, 0, 0, tzinfo=timezone.utc)

    def mins(m):
        return base + timedelta(minutes=m)

    src = str(tmp_path / "late_src")
    sink = str(tmp_path / "late_sink")
    ckpt = str(tmp_path / "late_ckpt")
    batches = [
        [(1, mins(0), 1, "click"), (2, mins(5), 1, "click")],
        [(3, mins(20), 1, "click"), (4, mins(240), 2, "click")],
        [(5, mins(10), 1, "click"), (6, mins(480), 2, "view")],
        [(7, mins(720), 3, "click")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            [(eid, ts, uid, et, 1.0, "{}") for eid, ts, uid, et in rows],
            EVENTS_STREAM_SCHEMA,
        ).write.parquet(f"{src}/b{i}")
        stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(f"{src}/*")
        q = (
            dynamic_gap_sessions(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    got = {
        (r.user_id, r.sess_start, r.sess_end, r.n_events)
        for r in spark.read.parquet(sink).collect()
    }
    ep = int(base.timestamp())
    want = {
        (1, ep, ep + 50 * 60, 3),          # late 10:10 dropped, 10:20 merged
        (2, ep + 240 * 60, ep + 270 * 60, 1),   # click: 30-min gap
        (2, ep + 480 * 60, ep + 540 * 60, 1),   # view: 60-min dynamic gap
    }
    assert got == want  # and u3's open session was not emitted


def test_full_outer_join_watermark_eviction(spark, tmp_path):
    """Late-data eviction proof for the FULL OUTER stream-stream
    interval join (the stream_stream_join_full_outer shape, via the
    shared click_purchase_join builder) — the per-side
    eviction rules under genuinely LATE data, which the availableNow
    oracle drain can't exercise. Three checkpointed append drains:

      drain 1: u1 click 10:00 + u1 purchase 10:10 -> MATCH emits
               (no watermark needed); u2 click 10:05 and u3 purchase
               10:15 stay in state     (watermark after: 08:15)
      drain 2: u4 click 13:30 AND u6 purchase 13:30 advance wm to
               11:30 (the global watermark is the MIN over both
               sides' operators, so BOTH sides must advance — a
               click-only drain leaves the purchase watermark at
               08:15 and evicts nothing; verified failure mode) ->
               u2's click window closed (10:35 < 11:30) -> null-click
               row; u3's purchase passed (10:15 < 11:30) ->
               null-purchase row. The ASYMMETRY is visible here: u3's
               purchase evicts on p_ts itself, u2's click on
               c_ts + 30min.
      drain 3: u5 click 18:00 + u7 purchase 18:00 advance wm to
               16:00 -> u4's null-click and u6's null-purchase emit;
               u2 purchase 10:00 arrives BELOW the 11:30 horizon ->
               DROPPED pre-join (in state it would emit a
               null-purchase row by drain 3's no-data batch, so its
               total absence is the late-drop proof). u5's click
               (window open until 18:30 > wm) and u7's purchase
               (18:00 > wm) stay open and must NOT be emitted.
    """
    from datetime import datetime, timedelta, timezone

    from machine_telemetry_etl_ml_pipeline_spark.streaming.windows import EVENTS_STREAM_SCHEMA

    base = datetime(2025, 1, 1, 10, 0, 0, tzinfo=timezone.utc)

    def mins(m):
        return base + timedelta(minutes=m)

    src = str(tmp_path / "foj_src")
    sink = str(tmp_path / "foj_sink")
    ckpt = str(tmp_path / "foj_ckpt")
    batches = [
        [
            (1, mins(0), 1, "click"),
            (2, mins(10), 1, "purchase"),
            (3, mins(5), 2, "click"),
            (4, mins(15), 3, "purchase"),
        ],
        [(5, mins(210), 4, "click"), (8, mins(210), 6, "purchase")],
        [
            (6, mins(480), 5, "click"),
            (9, mins(480), 7, "purchase"),
            (7, mins(0), 2, "purchase"),
        ],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            [(eid, ts, uid, et, 1.0, "{}") for eid, ts, uid, et in rows],
            EVENTS_STREAM_SCHEMA,
        ).write.parquet(f"{src}/b{i}")
        stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(f"{src}/*")
        q = (
            click_purchase_join(stream, "full_outer")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (1, 1, 2),        # in-window match
        (2, 3, None),     # click evicted at wm > c_ts + 30min
        (3, None, 4),     # purchase evicted at wm > p_ts
        (4, 5, None),     # second click eviction, next horizon
        (6, None, 8),     # second purchase eviction, next horizon
    }
    # late eid7 dropped; u5's click and u7's purchase stay open
    assert got == want


def test_stream_entries_leave_no_views_streams_or_dirs(spark):
    """Building and collecting stream entries leaves nothing behind: no
    memory-sink temp view (each holds its rows in driver memory), no
    active query and no ``stream_*`` scratch dir under the temp dir."""
    import os
    import tempfile

    tmp = tempfile.gettempdir()

    def state():
        views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        return views, {d for d in os.listdir(tmp) if d.startswith("stream_")}

    views0, dirs0 = state()
    for name in ("stream_tumbling_counts", "stream_update_mode_upsert", "stream_stream_join"):
        REGISTRY[name].fn(spark, SF).collect()
    views, dirs = state()
    assert views - views0 == set()
    assert spark.streams.active == []
    assert dirs - dirs0 == set()
