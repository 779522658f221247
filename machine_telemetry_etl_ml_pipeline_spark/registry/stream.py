"""``stream_*`` entries: Structured Streaming over the events testdata.

Each entry runs a bounded stream over the testdata through event-time
windows, watermarks, stateful operators, stream joins or a sink mode,
runs it to completion, and returns the result as a batch frame, so the
DuckDB oracle checks it against the same query in batch form.

The operators and both drains live in streaming/windows.py: every
entry opens the testdata with ``events_testdata_stream`` and drains
through ``run_to_memory`` (naming the output mode its operators need)
or ``foreach_batch_append``. An entry that writes files does so under
the registry's ``_scratch`` dir (``registry/__init__.py``) and returns
``_materialize``-d rows, so the dir is gone when the entry returns;
these results are at most 50 rows.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from ..operators.core import latest_per_key, local_frame
from ..streaming.stateful import running_user_stats
from ..streaming.windows import (
    click_purchase_join,
    dedup_within_watermark,
    dynamic_gap_sessions,
    events_testdata_stream,
    foreach_batch_append,
    run_to_memory,
    session_counts,
)
from ..streaming.windows import stream_static_join as broadcast_enrich
from . import _materialize, _scratch, _t, register


# --- streaming (oracle-checked through the memory sink) -----------------------


@register(
    "stream_tumbling_counts",
    f"""
    SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT) AS window_start,
           count(*) AS n, round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1
    """,
)
def stream_tumbling_counts(spark, sf_dir):
    """Structured Streaming tumbling window, drained with an
    availableNow memory sink and returned as a batch DataFrame — the
    ORACLE is the plain batch SQL, proving the streaming event-time
    semantics equal the batch semantics over the same input."""
    agg = (
        events_testdata_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("window_start"),
            "n",
            "sum_value",
        )
    )
    return run_to_memory(agg, "complete")


@register(
    "stream_session_counts",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def stream_session_counts(spark, sf_dir):
    """Structured Streaming session_window (30 min gap) drained through
    an availableNow memory sink — the ORACLE is the batch
    gaps-and-islands SQL, proving the state-store session merge equals
    the relational formulation. Gap boundary: session_window treats an
    event at exactly prev_ts + gap as a NEW session ([start, end)
    windows), hence `>= 1800` in the oracle — compared in integer
    epoch_us like Spark's own micros arithmetic. The oracle's two
    window passes order by (ts, event_id): without the unique
    tiebreak, DuckDB may re-sort exact-ts ties BETWEEN the lag pass
    and the cumulative-sum pass, detaching the session-start flag
    from the row the cumsum visits first (the 10x replica's 10
    duplicate-ts copies exposed this as 4 misassigned sessions —
    Spark's state-store merge was right, the oracle was wrong)."""
    return run_to_memory(session_counts(events_testdata_stream(spark, sf_dir)), "complete")


# --- streaming: static join + stateful dedup (oracle-checked) ---------------


@register(
    "stream_stateful_user_stats",
    """
    SELECT user_id, count(*) AS n,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS sum_value,
           max(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_user_stats(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user
    running totals held in explicit GroupState. The testdata arrives
    as one micro-batch, so the drained update-mode output equals the
    batch aggregate — which is the oracle (exact integer-cents sums
    make the comparison bit-stable)."""
    stream = events_testdata_stream(spark, sf_dir)
    return run_to_memory(running_user_stats(stream.select("user_id", "value")), "update")


@register(
    "stream_sliding_counts",
    """
    SELECT CAST(floor(epoch(ws)) AS BIGINT) AS window_start,
           count(*) AS n, round(sum(value), 4) AS sum_value
    FROM (
      SELECT value,
             unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
      FROM events
    )
    GROUP BY ws
    """,
)
def stream_sliding_counts(spark, sf_dir):
    """Structured Streaming sliding window (1h / 30m slide) through an
    availableNow memory sink; oracle = the batch bucket-enumeration SQL
    (each event contributes to exactly 2 overlapping windows)."""
    agg = (
        events_testdata_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("window_start"),
            "n",
            "sum_value",
        )
    )
    return run_to_memory(agg, "complete")


_TYPE_CODE_SQL = (
    "CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 WHEN 'purchase' THEN 2 "
    "WHEN 'signup' THEN 3 WHEN 'view' THEN 4 END"
)


@register(
    "stream_static_join",
    f"""
    SELECT event_id, user_id, event_type, {_TYPE_CODE_SQL} AS type_code
    FROM events
    """,
)
def stream_static_join(spark, sf_dir):
    """Stream-static broadcast join (dimension enrichment on a live
    stream); oracle is the equivalent batch mapping — every streamed
    row must arrive exactly once with its joined attribute."""
    dim = local_frame(
        spark,
        [("click", 0), ("error", 1), ("purchase", 2), ("signup", 3), ("view", 4)],
        "event_type string, type_code int",
    )
    joined = broadcast_enrich(events_testdata_stream(spark, sf_dir), dim, "event_type")
    return run_to_memory(joined.select("event_id", "user_id", "event_type", "type_code"), "append")


@register(
    "stream_dedup_within_watermark",
    "SELECT event_id, user_id, value FROM events",
)
def stream_dedup_within_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark on event_id: over an
    exactly-unique source the output equals the input relation
    (oracle), and state stays bounded by the watermark horizon —
    the property a replayed/at-least-once source needs."""
    dedup = dedup_within_watermark(events_testdata_stream(spark, sf_dir), ["event_id"])
    return run_to_memory(dedup.select("event_id", "user_id", "value"), "append")


# --- streaming foreachBatch sink (oracle-checked digest round trip) ---------


@register(
    "stream_foreach_batch_sink",
    """
    SELECT count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events WHERE event_type = 'view'
    """,
)
def stream_foreach_batch_sink(spark, sf_dir):
    """Streaming foreachBatch sink (M7 continuous orchestration): the
    events stream is filtered and appended to a parquet table per
    micro-batch (availableNow drain), then the table is read back and
    digest-checked against the batch view of the same source — proving
    the streaming ingest path writes exactly the batch-equivalent
    rows."""
    stream = (
        events_testdata_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("event_id", F.round(F.col("value") * 100).cast("long").alias("cents"))
    )
    with _scratch("stream_fb_out_") as work:
        foreach_batch_append(stream, f"{work}/t", f"{work}/ckpt")
        back = spark.read.parquet(f"{work}/t")
        return _materialize(
            back.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("event_id").alias("sum_event_id"),
                F.sum("cents").alias("sum_cents"),
            )
        )


# --- stream-stream join ------------------------------------------------------


@register(
    "stream_stream_join",
    """
    SELECT c.user_id,
           c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream inner join (clicks joined to purchases by the
    same user within 30 minutes AFTER the click): both sides
    watermarked, the time-range join condition bounds each side's
    state retention — without it stream-stream state grows forever.
    Drained with availableNow; the ORACLE is the equivalent batch
    interval self-join, proving the streaming state machine computes
    the relational answer."""
    return run_to_memory(
        click_purchase_join(events_testdata_stream(spark, sf_dir), "inner"), "append"
    )


# --- streaming update output mode (CDC upsert + compaction) --------------------


@register(
    "stream_update_mode_upsert",
    """
    SELECT user_id, count(*) AS n,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS sum_value
    FROM events WHERE user_id < 50 GROUP BY user_id
    """,
)
def stream_update_mode_upsert(spark, sf_dir):
    """Streaming UPDATE output mode end-to-end: the events stream is
    split into 4 files and consumed one file per micro-batch, the
    per-user aggregate emits only CHANGED rows each batch (update
    mode, via foreachBatch), every delta lands in a CDC table stamped
    with its batch id, and the final read compacts last-write-wins per
    key (max batch_id window) — the stream-to-warehouse upsert
    pattern. The compacted state must equal the plain batch aggregate
    (the oracle), proving update-mode deltas lose nothing across
    batches. Integer-cents sums make the cross-batch comparison
    bit-stable."""
    with _scratch("stream_upd_") as work:
        src = f"{work}/src"
        e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
        e.select("event_id", "user_id", "value").repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema("event_id bigint, user_id bigint, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_raw"),
        )
        foreach_batch_append(agg, f"{work}/sink", f"{work}/ckpt", mode="update")
        cdc = latest_per_key(spark.read.parquet(f"{work}/sink"), "user_id", "batch_id")
        return _materialize(cdc.select("user_id", "n", F.round("sum_raw", 4).alias("sum_value")))


# --- streaming update-mode top-k (pruned CDC) ---------------------------------


@register(
    "stream_topk_update_mode",
    """
    SELECT user_id, n
    FROM (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
    ORDER BY n DESC, user_id
    LIMIT 10
    """,
)
def stream_topk_update_mode(spark, sf_dir):
    """Streaming top-k in UPDATE output mode with per-batch candidate
    pruning: the events stream is consumed one file per micro-batch,
    the per-user count aggregate emits only changed keys (update
    mode), and foreachBatch writes only the batch's OWN top-10 of
    those changed keys to the CDC sink — O(k) rows per batch, not
    O(changed keys). The final read compacts last-write-wins per key
    and takes the global top-10.

    Why pruning is lossless here: counts are monotone non-decreasing.
    If a key belongs to the final global top-10, then in the last
    batch that changed it, any key that out-ranked it (higher count,
    or equal count with a smaller user_id tiebreak — the same ordering
    used everywhere) holds that advantage forever; fewer than 10 such
    keys can exist, so the key makes its batch's top-10 carrying its
    FINAL count. Stale rows from earlier batches carry smaller counts
    and cannot displace true members. The oracle is the plain batch
    top-10 — exact equality, not approximation."""

    def top10(df):
        return df.orderBy(F.desc("n"), F.asc("user_id")).limit(10)

    with _scratch("stream_topk_") as work:
        src = f"{work}/src"
        _t(spark, sf_dir, "events").select("event_id", "user_id").repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema("event_id bigint, user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        foreach_batch_append(agg, f"{work}/sink", f"{work}/ckpt", mode="update", per_batch=top10)
        cdc = latest_per_key(spark.read.parquet(f"{work}/sink"), "user_id", "batch_id")
        return _materialize(top10(cdc.select("user_id", "n")))


# --- watermarked left-outer stream-stream join ---------------------------------


@register(
    "stream_stream_join_outer",
    """
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    wm AS (
      SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
             - INTERVAL 2 HOUR AS w
    )
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch
    FROM c JOIN p ON c.user_id = p.user_id
                 AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 30 MINUTE
    UNION ALL
    SELECT c.user_id, c.event_id, CAST(NULL AS BIGINT),
           CAST(floor(epoch(c.ts)) AS BIGINT), CAST(NULL AS BIGINT)
    FROM c, wm
    WHERE c.ts + INTERVAL 30 MINUTE < wm.w
      AND NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = c.user_id
          AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 30 MINUTE
      )
    """,
)
def stream_stream_join_outer(spark, sf_dir):
    """Watermarked LEFT OUTER stream-stream join — the hard streaming
    surface: matches emit immediately, but an UNMATCHED click can only
    emit its null row once the watermark proves no purchase can still
    arrive (click evicted when wm > c_ts + 30min, where the global wm
    is min(per-side max event time) - 2h, advanced by the final
    no-data micro-batch availableNow runs). The oracle states exactly
    that: the batch left join, with null rows RESTRICTED to clicks
    whose join window closed below the terminal watermark — clicks
    newer than that hold their answer until more data arrives, which
    is correct streaming semantics, not data loss (verified row-level
    against the batch join at build time: only the terminal-window
    clicks differ)."""
    return run_to_memory(
        click_purchase_join(events_testdata_stream(spark, sf_dir), "left_outer"), "append"
    )


# --- streaming checkpoint resume (exactly-once restart) ------------------------


@register(
    "stream_checkpoint_resume",
    """
    SELECT user_id, count(*) AS n
    FROM events WHERE user_id < 40 GROUP BY user_id
    """,
)
def stream_checkpoint_resume(spark, sf_dir):
    """Exactly-once RESTART semantics: the stream runs availableNow
    over the first half of the data, terminates, MORE files land, and
    a second query starts from the SAME checkpoint — the restarted
    stream must resume from the recorded offsets, reprocessing
    nothing, and the compacted CDC state must equal the plain batch
    aggregate over ALL the data (the oracle). This is the
    crash-recovery contract that makes foreachBatch upserts safe to
    re-run — checkpointed source offsets + last-write-wins sink."""
    with _scratch("stream_resume_") as work:
        stage, src = f"{work}/stage", f"{work}/src"
        e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
        e.select("event_id", "user_id").repartition(4).write.parquet(stage)
        files = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.makedirs(src)
        stream = (
            spark.readStream.schema("event_id bigint, user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        # first run: half the files; second run: the rest land, same checkpoint
        half = max(1, len(files) // 2)
        for landed in (files[:half], files[half:]):
            for f in landed:
                shutil.copy(f"{stage}/{f}", f"{src}/{f}")
            foreach_batch_append(agg, f"{work}/sink", f"{work}/ckpt", mode="update")
        cdc = latest_per_key(spark.read.parquet(f"{work}/sink"), "user_id", "batch_id")
        return _materialize(cdc.select("user_id", "n"))


@register(
    "stream_chained_window_agg",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events),
    hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, count(*) AS n
      FROM events GROUP BY 1
    )
    SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 day', h))) AS BIGINT)
             AS day_start,
           count(*) AS n_hours,
           CAST(sum(n) AS BIGINT) AS n_events,
           max(n) AS max_hourly
    FROM hourly CROSS JOIN wm
    WHERE time_bucket(INTERVAL '1 day', h) + INTERVAL 1 DAY <= wm
    GROUP BY 1
    """,
)
def stream_chained_window_agg(spark, sf_dir):
    """CHAINED stateful streaming aggregations (Spark 3.5+ multiple
    stateful operators): hourly tumbling counts re-aggregated into
    daily (n_hours, n_events, max_hourly) via window(window_time(w)),
    drained append-mode through an availableNow memory sink. The
    oracle pins the exact eviction contract: a daily window emits iff
    its END clears the terminal watermark (max event time - 2h,
    advanced by the final no-data micro-batches, which flush level 1
    and then level 2 in sequence); every hourly window inside such a
    day has already emitted, so the daily row aggregates the complete
    day. Scale shape: two cascaded partial-aggregable stateful ops —
    state is |open hours| + |open days| per key-range, not raw rows;
    this is the standard rollup cascade that replaces a re-read of the
    raw stream at 100 TB/day."""
    hourly = (
        events_testdata_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    daily = (
        hourly.groupBy(F.window(F.window_time("w"), "1 day").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("n").alias("n_events"),
            F.max("n").alias("max_hourly"),
        )
        .select(
            F.unix_timestamp(F.col("d.start")).cast("long").alias("day_start"),
            "n_hours",
            "n_events",
            "max_hourly",
        )
    )
    return run_to_memory(daily, "append")


# --- streaming: exactly-once idempotent foreachBatch sink -------------------


@register(
    "stream_foreach_batch_idempotent",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY event_type
    """,
)
def stream_foreach_batch_idempotent(spark, sf_dir):
    """Exactly-once foreachBatch sink: each micro-batch lands as a
    `batch_id=<n>` partition via dynamic-partition overwrite, so
    replaying a batch (sink succeeded, checkpoint commit lost — the
    standard failure window) REPLACES its own partition instead of
    appending duplicates. The entry simulates exactly that retry: after
    the availableNow drain it re-executes the writer for the last
    batch id with the same rows, then digests the table against the
    batch view of the source — equal digests prove idempotence (with
    mode("append") the replayed batch would double-count). Scale
    shape: the sink writes partition-local files, no shuffle; the
    idempotence key (batchId) is planner-provided, so retries are
    exactly-once regardless of executor failures mid-batch."""
    with _scratch("stream_fb_idem_") as work:
        table = f"{work}/t"

        def _write(batch, batch_id):
            (
                batch.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(table)
            )

        stream = events_testdata_stream(spark, sf_dir).select(
            "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
        )
        q = (
            stream.writeStream.foreachBatch(_write)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        # retry simulation: re-run the writer for the last committed
        # batch with exactly the rows it already wrote
        last = max(
            int(d.split("=", 1)[1])
            for d in os.listdir(table)
            if d.startswith("batch_id=")
        )
        replay = spark.read.parquet(f"{table}/batch_id={last}")
        _write(replay, last)

        back = spark.read.parquet(table)
        return _materialize(
            back.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("sum_cents"),
            )
        )


# --- Spark 4 Python STREAMING data source ------------------------------------


@register(
    "stream_python_datasource",
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v) AS BIGINT) AS sum_v,
           CAST(sum(CASE WHEN v % 7 = 0 THEN v * v END) AS BIGINT)
             AS sum_sq_sevens
    FROM (SELECT unnest(generate_series(0, 2999)) AS v)
    """,
)
def stream_python_datasource(spark, sf_dir):
    """Spark-4 Python STREAMING Data Source (SimpleDataSourceStreamReader):
    a custom offset-tracked source emits 3000 deterministic rows in
    1000-row batches; the engine's Python streaming wrapper does not
    yet support Trigger.AvailableNow (it logs the single-batch
    fallback), so the entry drives the drain the way an operator
    would — repeated restarts against ONE checkpoint — which is
    itself the exactly-once contract under test: every restart resumes
    from the committed offset, no batch is skipped or double-read, and
    the final table digests to the closed-form oracle. The batch twin
    is ext_python_datasource; together they close the custom-source
    matrix. Scale shape: offsets are per-source bookkeeping, rows
    stream through without a shuffle until the digest."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    class _Reader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"x": 0}

        def read(self, start):
            x = start["x"]
            if x >= 3000:
                return (iter([]), {"x": x})
            return (iter([(v,) for v in range(x, x + 1000)]), {"x": x + 1000})

    class _Src(DataSource):
        @classmethod
        def name(cls):
            return "graft_rng_stream"

        def schema(self):
            return StructType([StructField("v", LongType())])

        def simpleStreamReader(self, schema):
            return _Reader()

    spark.dataSource.register(_Src)
    with _scratch("pyds_stream_") as work:
        for _ in range(4):  # 3 data batches + 1 empty terminal batch
            q = (
                spark.readStream.format("graft_rng_stream")
                .load()
                .writeStream.format("parquet")
                .option("path", f"{work}/t")
                .option("checkpointLocation", f"{work}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        back = spark.read.parquet(f"{work}/t")
        return _materialize(
            back.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("sum_v"),
                F.sum(
                    F.when(F.col("v") % 7 == 0, F.col("v") * F.col("v"))
                ).alias("sum_sq_sevens"),
            )
        )


# --- streaming sessionization with a DYNAMIC per-event gap -------------------


@register(
    "stream_session_dynamic_gap",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             CASE WHEN event_type = 'click' THEN 1800000000
                  ELSE 3600000000 END AS gap
      FROM events
    ),
    o AS (
      SELECT user_id, event_id, t, gap,
             max(t + gap) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS prev_end
      FROM e
    ),
    m AS (
      SELECT user_id, event_id, t, gap,
             CASE WHEN prev_end IS NULL OR t >= prev_end THEN 1 ELSE 0 END
               AS is_start
      FROM o
    ),
    s AS (
      SELECT user_id, t, gap,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY t, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           CAST(min(t) // 1000000 AS BIGINT) AS sess_start,
           CAST(max(t + gap) // 1000000 AS BIGINT) AS sess_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_dynamic_gap(spark, sf_dir):
    """STREAMING session_window with a DYNAMIC per-event gap (30 min
    for clicks, 60 min otherwise) — the stateful twin of
    ext_session_dynamic_gap, draining the events stream through the
    session state store under an availableNow trigger. The state
    store must perform the same interval-union merge the batch oracle
    expresses as a running max of window ends in exact epoch-micros —
    a per-event gap means sessions EXTEND differently per event type,
    the case fixed-gap streaming sessionization cannot express. Same
    oracle as the batch twin: equal results prove state-store merge ==
    relational formulation. Scale shape: state is per-(user, open
    session), evicted at the watermark; the drain is one availableNow
    pass. Watermark-eviction behavior under genuinely LATE data
    (drop below the horizon, finalize-on-pass) is proven by
    tests/test_streaming.py::test_dynamic_gap_watermark_eviction on
    the same shared aggregation (streaming/windows.py
    dynamic_gap_sessions)."""
    return run_to_memory(dynamic_gap_sessions(events_testdata_stream(spark, sf_dir)), "complete")


# --- watermarked FULL OUTER stream-stream interval join ---------------------


@register(
    "stream_stream_join_full_outer",
    """
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    wm AS (
      SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
             - INTERVAL 2 HOUR AS w
    )
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch
    FROM c JOIN p ON c.user_id = p.user_id
                 AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 30 MINUTE
    UNION ALL
    SELECT c.user_id, c.event_id, CAST(NULL AS BIGINT),
           CAST(floor(epoch(c.ts)) AS BIGINT), CAST(NULL AS BIGINT)
    FROM c, wm
    WHERE c.ts + INTERVAL 30 MINUTE < wm.w
      AND NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = c.user_id
          AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 30 MINUTE
      )
    UNION ALL
    SELECT p.user_id, CAST(NULL AS BIGINT), p.event_id,
           CAST(NULL AS BIGINT), CAST(floor(epoch(p.ts)) AS BIGINT)
    FROM p, wm
    WHERE p.ts < wm.w
      AND NOT EXISTS (
        SELECT 1 FROM c
        WHERE c.user_id = p.user_id
          AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 30 MINUTE
      )
    """,
)
def stream_stream_join_full_outer(spark, sf_dir):
    """Watermarked FULL OUTER stream-stream interval join — closes the
    stream-stream join matrix (inner + left-outer already registered).
    Matches emit immediately; each side's unmatched rows emit their
    null row only when the watermark PROVES the other side can no
    longer match: a click at c_ts once wm > c_ts + 30min (its join
    window closed), a purchase at p_ts once wm > p_ts (matching clicks
    have c_ts ∈ [p_ts - 30min, p_ts], all ≤ wm by then) — the
    asymmetry of the two eviction rules IS the interval condition, and
    the oracle states both rules against the terminal watermark
    wm = min(per-side max event time) - 2h, advanced by the final
    no-data micro-batch the availableNow run executes. Rows newer than
    the boundary hold their answer for the next batch — correct
    streaming semantics, not loss. State is user_id-keyed and
    watermark-bounded on both sides, so executor state at 100 TB is
    O(events within the 2h + 30min horizon), not O(history)."""
    return run_to_memory(
        click_purchase_join(events_testdata_stream(spark, sf_dir), "full_outer"), "append"
    )
