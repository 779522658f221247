"""Structured Streaming layer (SURVEY §2B streaming rows): the
continuous analog of the reference's daily Airflow batch
(/root/reference/dags/db_pipeline_dag.py:56 `@daily`) — watermarked
event-time windows, stateful dedup, and stream-static joins over an
events-shaped stream.

Batch twins of the window aggregations live in registry/ext.py
(ext_tumbling_window / ext_sliding_window / ext_session_windows) where
they are oracle-checked; streaming state itself is rows-only by the
driver contract (SURVEY §7 hard spot e).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
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


def file_stream(spark: SparkSession, dir_path: str, schema: StructType | None = None) -> DataFrame:
    """File-source stream over a parquet directory (new files become
    micro-batches — the continuous twin of the batch catalog read)."""
    return (
        spark.readStream.schema(schema or EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir_path)
    )


def tumbling_counts(stream: DataFrame, duration: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregate; late rows beyond the
    watermark are dropped and state is evicted (bounded memory — the
    property that matters on an unbounded 100 TB/day stream)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Native session windows (state-store backed) — batch twin:
    registry.ext.ext_session_windows (gaps-and-islands)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
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


def full_outer_click_purchase_join(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked FULL OUTER stream-stream interval join: clicks to
    purchases within [c_ts, c_ts + 30min] per user. Shared by the
    registry entry (registry.stream.stream_stream_join_full_outer, fed
    by events_testdata_stream) and the late-data eviction proof
    (tests/test_streaming.py, fed by a multi-drain file source), so
    the proof exercises the shipped join shape. Each side's unmatched
    rows emit their null row only when the watermark proves no match
    can arrive: clicks once wm > c_ts + 30min, purchases once
    wm > p_ts — the asymmetry IS the interval condition."""

    def side(event_type, alias):
        return events.filter(F.col("event_type") == event_type).select(
            F.col("user_id").alias(f"{alias}_user_id"),
            F.col("event_id").alias(f"{alias}_event_id"),
            F.col("ts").alias(f"{alias}_ts"),
        ).withWatermark(f"{alias}_ts", watermark)

    return side("click", "c").join(
        side("purchase", "p"),
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "full_outer",
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


def run_to_memory(df: DataFrame, name: str) -> DataFrame:
    """Drain all available input into an in-memory table (test sink);
    returns the materialized result table."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if not _has_aggregation(df) else "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def _has_aggregation(df: DataFrame) -> bool:
    return "Aggregate" in df._jdf.queryExecution().analyzed().toString()


def foreach_batch_append(df: DataFrame, table_path: str, checkpoint: str):
    """Continuous sink into the same partitioned table the batch path
    writes — the streaming replacement for the reference's daily
    execute_values load."""

    def _write(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(table_path)

    return (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def events_testdata_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream over the driver's events.parquet: the file source needs a
    DIRECTORY, so the single testdata file is exposed through a
    symlinked temp dir. The stream schema mirrors the batch read
    (ts bound as TIMESTAMP_NTZ to the parquet TIMESTAMP(MICROS, ntz)
    column, then cast to TIMESTAMP because watermarks require an
    instant type — a value-identical cast under the UTC session zone)
    so the streaming result equals the batch oracle over the same
    input. Shared by every stream_* registry entry."""
    import os
    import tempfile

    from pyspark.sql.types import TimestampNTZType

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    src = f"{sf_dir}/events.parquet"
    if os.path.isdir(src):
        # directory layout (e.g. the 10x scale replica): part files live
        # inside — stream the directory itself; a symlinked SUBdirectory
        # would be silently skipped by the file-source listing (plain
        # nested dirs are not recursed without recursiveFileLookup),
        # which read as 0 rows in the r5 replica probe
        d = src
    else:
        d = tempfile.mkdtemp(prefix="stream_src_")
        os.symlink(src, f"{d}/events.parquet")
    return (
        spark.readStream.schema(schema)
        .parquet(d)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
