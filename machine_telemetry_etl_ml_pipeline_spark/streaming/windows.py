"""Structured Streaming operators (SURVEY §2B streaming rows): the
continuous analog of the reference's daily Airflow batch
(/root/reference/dags/db_pipeline_dag.py:56 `@daily`) — watermarked
event-time windows, stateful dedup, stream-static and stream-stream
joins over an events-shaped stream, plus the two ways a bounded
stream is drained into a batch result.

Every ``stream_*`` registry entry (registry/stream.py) reads the
testdata through ``events_testdata_stream`` and drains through
``run_to_memory`` or ``foreach_batch_append``; the operators here are
the ones those entries call, so tests/test_streaming.py drives the
shipped code. Batch twins of the window aggregations live in
registry/ext.py (ext_tumbling_window / ext_sliding_window /
ext_session_windows) where they are oracle-checked; streaming state
itself is rows-only by the driver contract (SURVEY §7 hard spot e).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_testdata_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream over the driver's events.parquet. The file source reads
    a DIRECTORY: a single-file table streams ``sf_dir`` itself with a
    ``pathGlobFilter`` that admits only events.parquet (the other
    tables' files, and the part files of any table stored as a
    directory, do not match it); a directory-layout table (e.g. the
    10x scale replica) streams that directory. Nothing is written
    anywhere. The stream schema mirrors the batch read (ts bound as
    TIMESTAMP_NTZ to the parquet TIMESTAMP(MICROS, ntz) column, then
    cast to TIMESTAMP because watermarks require an instant type — a
    value-identical cast under the UTC session zone) so the streaming
    result equals the batch oracle over the same input."""
    schema = StructType(
        [
            f if f.name != "ts" else StructField("ts", TimestampNTZType())
            for f in EVENTS_STREAM_SCHEMA
        ]
    )
    src = f"{sf_dir}/events.parquet"
    reader = spark.readStream.schema(schema)
    if os.path.isdir(src):
        stream = reader.parquet(src)
    else:
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def session_counts(stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Native session windows (state-store backed) per user — the
    stream_session_counts aggregation; batch twin:
    registry.ext.ext_session_windows (gaps-and-islands)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).cast("long").alias("session_start"),
            "n_events",
        )
    )


def dynamic_gap_sessions(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Session windows with a DYNAMIC per-event gap (30 min for
    clicks, 60 min otherwise) — the aggregation behind the
    stream_session_dynamic_gap registry entry, shared so the
    watermark-eviction proof (tests/test_streaming.py) drives the
    exact same operator the oracle-checked entry runs. State is
    per-(user, open session); the watermark both drops late rows
    (event time below the horizon never touches state) and finalizes
    sessions whose dynamic end has passed it — the property that
    bounds state on an unbounded stream."""
    gap = F.when(F.col("event_type") == "click", F.lit("30 minutes")).otherwise(
        F.lit("60 minutes")
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).cast("long").alias("sess_start"),
            F.unix_timestamp(F.col("w.end")).cast("long").alias("sess_end"),
            "n_events",
        )
    )


def dedup_within_watermark(stream: DataFrame, keys: list[str], watermark: str = "2 hours") -> DataFrame:
    """Stateful dedup with bounded state — the streaming analog of the
    reference's DISTINCT ON idiom (exactly-once per key within the
    watermark horizon)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def click_purchase_join(events: DataFrame, how: str) -> DataFrame:
    """Watermarked stream-stream interval join of clicks to purchases
    by the same user within [c_ts, c_ts + 30min]; ``how`` is "inner",
    "left_outer" or "full_outer"; each side is watermarked 2 hours.
    Both sides filter ONE source. Shared by the three
    stream_stream_join* registry entries and the late-data eviction
    proof (tests/test_streaming.py). In the outer joins each side's
    unmatched rows emit their null row only when the watermark proves
    no match can arrive: clicks once wm > c_ts + 30min, purchases once
    wm > p_ts — the asymmetry IS the interval condition."""

    def side(event_type, alias):
        return events.filter(F.col("event_type") == event_type).select(
            F.col("user_id").alias(f"{alias}_user_id"),
            F.col("event_id").alias(f"{alias}_event_id"),
            F.col("ts").alias(f"{alias}_ts"),
        ).withWatermark(f"{alias}_ts", "2 hours")

    return side("click", "c").join(
        side("purchase", "p"),
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        how,
    ).select(
        F.coalesce(F.col("c_user_id"), F.col("p_user_id")).alias("user_id"),
        F.col("c_event_id").alias("click_id"),
        F.col("p_event_id").alias("purchase_id"),
        F.unix_timestamp("c_ts").cast("long").alias("click_epoch"),
        F.unix_timestamp("p_ts").cast("long").alias("purchase_epoch"),
    )


def stream_static_join(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static broadcast join (dimension enrichment)."""
    return stream.join(F.broadcast(dim), on=on, how="left")


def run_to_memory(df: DataFrame, mode: str) -> DataFrame:
    """Drain all available input of ``df`` through a memory sink in
    output ``mode`` ("append", "complete" or "update": the caller
    knows which its operators need) and return the sink's rows as a
    batch frame. The sink's temp view is dropped before returning: the
    returned frame holds the sink itself, so its rows live exactly as
    long as the frame does."""
    name = f"mem_{uuid.uuid4().hex}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = df.sparkSession
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def foreach_batch_append(
    df: DataFrame,
    table_path: str,
    checkpoint: str,
    mode: str = "append",
    per_batch: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Drain ``df`` (availableNow) into the parquet table at
    ``table_path``: each micro-batch, optionally reduced by
    ``per_batch``, is appended with its ``batch_id`` — the streaming
    replacement for the reference's daily execute_values load. With
    ``mode="update"`` an aggregate emits only its changed rows each
    batch, so the table is a CDC log whose last-write-wins compaction
    per key (max batch_id) is the current state."""

    def _write(batch: DataFrame, batch_id: int) -> None:
        if per_batch is not None:
            batch = per_batch(batch)
        batch.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(table_path)

    q = (
        df.writeStream.foreachBatch(_write)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
