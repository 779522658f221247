"""``ref_*`` entries: the reference telemetry surface (SURVEY.md §2A).

The reference's query library (/root/reference/project/db.py) maps onto
``events``: latest-per-user_id is the analog of latest-per-machineid
(FIXTURES.md §B). Entries cover its scans, filters, latest-N and
latest-per-key reads, range scans, extrema, grouped statistics and the
ingest-side normalisation (projection rename, null fill, surrogate
ids).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.core import (
    distinct_values,
    grouped_stats,
    latest_n,
    latest_per_key,
    local_frame,
    range_scan,
    stats,
    top_k_by,
)
from . import _epoch, _materialize, _scratch, _t, register


EPOCH_SQL = "CAST(floor(epoch(ts)) AS BIGINT)"


# =========================================================================
# §2A — reference operator surface (SURVEY.md §2A), over `events`
# =========================================================================


@register("ref_scan_count", "SELECT count(*) AS n FROM events")
def ref_scan_count(spark, sf_dir):
    """CSV scan / ingest row count (reference
    database_and_model_tools.py:37-51 returns inserted-row count)."""
    return _t(spark, sf_dir, "events").agg(F.count(F.lit(1)).alias("n"))


@register(
    "ref_projection_rename",
    """
    SELECT event_id AS id, user_id AS machine_key, event_type AS status,
           value AS reading
    FROM events
    """,
)
def ref_projection_rename(spark, sf_dir):
    """Header normalization / projection (reference
    database_and_model_tools.py:53-57)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.col("event_id").alias("id"),
        F.col("user_id").alias("machine_key"),
        F.col("event_type").alias("status"),
        F.col("value").alias("reading"),
    )


@register(
    "ref_null_fill",
    """
    SELECT event_id,
           round(coalesce(CASE WHEN value > 150 THEN NULL ELSE value END, 10.0), 4)
             AS value_filled,
           coalesce(CASE WHEN event_type = 'error' THEN NULL ELSE event_type END,
                    'Unknown') AS status_filled
    FROM events
    """,
)
def ref_null_fill(spark, sf_dir):
    """fillna with hardcoded defaults (reference
    database_and_model_tools.py:59-71). The testdata has no NULLs, so
    NULLs are injected first, then filled — exercising the same
    df.na.fill path the ingest uses."""
    e = _t(spark, sf_dir, "events")
    dirty = e.select(
        "event_id",
        F.when(F.col("value") > 150, None).otherwise(F.col("value")).alias("value_filled"),
        F.when(F.col("event_type") == "error", None).otherwise(F.col("event_type")).alias("status_filled"),
    )
    filled = dirty.na.fill({"value_filled": 10.0, "status_filled": "Unknown"})
    return filled.withColumn("value_filled", F.round("value_filled", 4))


@register(
    "ref_filter_eq",
    f"""
    SELECT event_id, {EPOCH_SQL} AS ts_epoch, event_type, value
    FROM events WHERE user_id = 7
    """,
)
def ref_filter_eq(spark, sf_dir):
    """WHERE machineid = %s (reference project/db.py:189-191)."""
    e = _t(spark, sf_dir, "events")
    return e.filter(F.col("user_id") == 7).select(
        "event_id", _epoch().alias("ts_epoch"), "event_type", "value"
    )


@register(
    "ref_filter_range",
    f"""
    SELECT event_id, user_id, {EPOCH_SQL} AS ts_epoch, value
    FROM events
    WHERE {EPOCH_SQL} BETWEEN epoch(TIMESTAMP '2024-01-10 00:00:00')
                          AND epoch(TIMESTAMP '2024-01-20 00:00:00')
    """,
)
def ref_filter_range(spark, sf_dir):
    """WHERE timestamp_epoch BETWEEN %s AND %s (reference
    project/db.py:197-200)."""
    # ts_range surfaces as plain column-vs-literal timestamp bounds
    # that push into the parquet scan (row-group skipping); the epoch
    # filter stays for the declarative semantics (catalog.load_table)
    e = _t(spark, sf_dir, "events", ts_range=(1704844800, 1705708800))
    lo = F.unix_timestamp(F.lit("2024-01-10 00:00:00").cast("timestamp"))
    hi = F.unix_timestamp(F.lit("2024-01-20 00:00:00").cast("timestamp"))
    return e.filter(_epoch().between(lo, hi)).select(
        "event_id", "user_id", _epoch().alias("ts_epoch"), "value"
    )


@register(
    "ref_filter_ilike",
    "SELECT event_id, user_id, event_type FROM events WHERE event_type ILIKE '%UR%'",
)
def ref_filter_ilike(spark, sf_dir):
    """status ILIKE %filter% (reference project/db.py:318,321); the
    client-side re-filter at db.py:347-362 is redundant and folded in."""
    e = _t(spark, sf_dir, "events")
    return e.filter(F.col("event_type").ilike("%UR%")).select("event_id", "user_id", "event_type")


@register(
    "ref_filter_bounds",
    """
    SELECT event_id, user_id, value FROM events
    WHERE user_id IS NOT NULL AND value > 0 AND value <= 100
    """,
)
def ref_filter_bounds(spark, sf_dir):
    """IS NOT NULL + bounds guards (reference project/db.py:244,417-420)."""
    e = _t(spark, sf_dir, "events")
    return e.filter(
        F.col("user_id").isNotNull() & (F.col("value") > 0) & (F.col("value") <= 100)
    ).select("event_id", "user_id", "value")


@register(
    "ref_latest_n",
    f"""
    SELECT event_id, {EPOCH_SQL} AS ts_epoch, event_type, value
    FROM events WHERE user_id = 3
    ORDER BY ts DESC, event_id DESC LIMIT 5
    """,
)
def ref_latest_n(spark, sf_dir):
    """filter -> ORDER BY ts DESC LIMIT n (reference get_latest_telemetry,
    project/db.py:187-194). Plans as TakeOrderedAndProject."""
    e = _t(spark, sf_dir, "events")
    return latest_n(e, F.col("user_id") == 3, "ts", 5, tiebreak="event_id").select(
        "event_id", _epoch().alias("ts_epoch"), "event_type", "value"
    )


@register(
    "ref_range_scan",
    f"""
    SELECT event_id, {EPOCH_SQL} AS ts_epoch, event_type, value
    FROM events
    WHERE user_id = 5
      AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-25 00:00:00'
    """,
)
def ref_range_scan(spark, sf_dir):
    """Ordered time-range scan (reference get_telemetry_range,
    project/db.py:196-202). Output order is ASC in the reference; the
    driver compare is order-insensitive so the sort is plan-side only."""
    e = _t(spark, sf_dir, "events", ts_range=(1704412800, 1706140800))
    out = range_scan(
        e,
        F.col("user_id") == 5,
        "ts",
        F.lit("2024-01-05 00:00:00").cast("timestamp"),
        F.lit("2024-01-25 00:00:00").cast("timestamp"),
    )
    return out.select("event_id", _epoch().alias("ts_epoch"), "event_type", "value")


_LATEST_PER_USER_SQL = f"""
    SELECT user_id, event_id, {EPOCH_SQL} AS ts_epoch, event_type, value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
"""


@register("ref_latest_per_key", _LATEST_PER_USER_SQL)
def ref_latest_per_key(spark, sf_dir):
    """The signature DISTINCT ON (machineid) ... ORDER BY ts DESC idiom
    (reference project/db.py:237-246, used by 9 methods). Shuffle on the
    key + in-partition sort + row_number; event_id desc is the explicit
    deterministic tie-break (SURVEY §7 hard spot a)."""
    e = _t(spark, sf_dir, "events")
    return latest_per_key(e, "user_id", "ts", tiebreak="event_id").select(
        "user_id", "event_id", _epoch().alias("ts_epoch"), "event_type", "value"
    )


@register(
    "ref_top_k_highest_value",
    f"""
    SELECT user_id, event_id, value FROM ({_LATEST_PER_USER_SQL})
    ORDER BY value DESC, user_id ASC LIMIT 5
    """,
)
def ref_top_k_highest_value(spark, sf_dir):
    """Top-k by metric after dedup — the reference's client-side
    sorted(rows)[:limit] (project/db.py:247-250) folded into the plan."""
    e = _t(spark, sf_dir, "events")
    dedup = latest_per_key(e, "user_id", "ts", tiebreak="event_id")
    return top_k_by(dedup, "value", 5, ascending=False, tiebreak="user_id").select(
        "user_id", "event_id", "value"
    )


@register(
    "ref_top_k_lowest_value",
    f"""
    SELECT user_id, event_id, value FROM ({_LATEST_PER_USER_SQL})
    WHERE value > 0 AND value <= 100
    ORDER BY value ASC, user_id ASC LIMIT 5
    """,
)
def ref_top_k_lowest_value(spark, sf_dir):
    """Lowest-k with bounds guard (reference project/db.py:407-440)."""
    e = _t(spark, sf_dir, "events")
    dedup = latest_per_key(e, "user_id", "ts", tiebreak="event_id")
    guarded = dedup.filter((F.col("value") > 0) & (F.col("value") <= 100))
    return top_k_by(guarded, "value", 5, ascending=True, tiebreak="user_id").select(
        "user_id", "event_id", "value"
    )


@register(
    "ref_nulls_last_sort",
    """
    SELECT event_id, v FROM (
      SELECT event_id, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    ) ORDER BY v ASC NULLS LAST, event_id ASC LIMIT 10
    """,
)
def ref_nulls_last_sort(spark, sf_dir):
    """NULL-safe ascending sort key — the reference maps None to +inf
    (project/db.py:430); Spark's asc_nulls_last is the built-in form."""
    e = _t(spark, sf_dir, "events")
    derived = e.select(
        "event_id",
        F.when(F.col("event_type") == "error", None).otherwise(F.col("value")).alias("v"),
    )
    return derived.orderBy(F.col("v").asc_nulls_last(), F.col("event_id").asc()).limit(10)


@register("ref_distinct_sorted", "SELECT DISTINCT user_id FROM events ORDER BY user_id")
def ref_distinct_sorted(spark, sf_dir):
    """Dimension listing (reference get_machine_list, project/db.py:204-207)."""
    return distinct_values(_t(spark, sf_dir, "events"), "user_id")


_EXACT_AVG_VALUE_SQL = (
    "round(CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE)"
    " / (count(value) * 100)) / 10000.0"
)


@register(
    "ref_stats_global",
    f"""
    SELECT count(*) AS n, round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value,
           {_EXACT_AVG_VALUE_SQL} AS avg_value
    FROM events
    """,
)
def ref_stats_global(spark, sf_dir):
    """Ungrouped scalar aggregate (reference get_telemetry_stats,
    project/db.py:209-233). AVG is the exact fixed-point formula
    (operators/core.exact_avg) — a plain round(avg(double), 4) flips
    the 4th decimal whenever the engines' summation orders differ by
    an ulp near a .00005 boundary (seen on the grouped sibling at
    sf0.1)."""
    return stats(_t(spark, sf_dir, "events"), ["value"])


@register(
    "ref_stats_filtered",
    f"""
    SELECT count(*) AS n, round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value,
           {_EXACT_AVG_VALUE_SQL} AS avg_value
    FROM events WHERE user_id = 2
    """,
)
def ref_stats_filtered(spark, sf_dir):
    """Filtered branch of get_telemetry_stats (machine_id param)."""
    e = _t(spark, sf_dir, "events")
    return stats(e.filter(F.col("user_id") == 2), ["value"])


@register(
    "ref_count_distinct",
    "SELECT count(*) AS n, count(DISTINCT user_id) AS n_users FROM events",
)
def ref_count_distinct(spark, sf_dir):
    """COUNT(DISTINCT machineid) (reference project/db.py:230). Exact
    here; the 100 TB path is approx_count_distinct (HLL), exposed as
    ext_approx_count_distinct with a rows-only check."""
    e = _t(spark, sf_dir, "events")
    return e.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users")
    )


@register(
    "ref_grouped_comparison",
    f"""
    SELECT user_id, count(*) AS n,
           {_EXACT_AVG_VALUE_SQL} AS avg_value,
           round(max(value), 4) AS max_value
    FROM events GROUP BY user_id
    """,
)
def ref_grouped_comparison(spark, sf_dir):
    """GROUP BY comparison stats (reference get_machine_comparison_stats,
    project/db.py:368-387). Partial (map-side) + final hash aggregate.
    AVG rides the exact fixed-point path: the round(avg(double), 4)
    spec this entry carried through r8 diverged at sf0.1 (one group's
    true mean within an ulp of a .00005 boundary — Spark 56.2087,
    DuckDB 56.2088), the r5 silently-transits-DOUBLE class surfacing
    at a bigger SF. With the integer micro-unit numerator both engines
    round IDENTICAL doubles at every SF."""
    return grouped_stats(
        _t(spark, sf_dir, "events"), "user_id", avg_cols=["value"], max_cols=["value"]
    )


@register(
    "ref_time_features",
    f"""
    SELECT event_id, hour(ts) AS hour, (isodow(ts) - 1) AS dayofweek,
           month(ts) AS month, {EPOCH_SQL} AS ts_epoch
    FROM events
    """,
)
def ref_time_features(spark, sf_dir):
    """Derived calendar features with the pandas 0=Monday convention
    (reference columns project/db.py:96-99; SURVEY §7 dayofweek trap —
    Spark dayofweek() is 1=Sunday, DuckDB isodow() is 1=Monday)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.hour("ts").cast("int").alias("hour"),
        ((F.dayofweek("ts") + F.lit(5)) % 7).cast("int").alias("dayofweek"),
        F.month("ts").cast("int").alias("month"),
        _epoch().alias("ts_epoch"),
    )


@register(
    "ref_label_encoding",
    """
    SELECT event_type,
           CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
                WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                WHEN 'view' THEN 4 ELSE -1 END AS event_type_encoded,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def ref_label_encoding(spark, sf_dir):
    """Fixed categorical encoding (reference Status->Status_encoded CSV
    column pair, project/db.py:95; SURVEY §2A #28). A literal map, not
    StringIndexer, for exact parity with a declared encoding."""
    e = _t(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "click", 0)
        .when(F.col("event_type") == "error", 1)
        .when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "signup", 3)
        .when(F.col("event_type") == "view", 4)
        .otherwise(-1)
    )
    return e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).select(
        "event_type", code.alias("event_type_encoded"), "n"
    )


_TABLES_FOR_COUNT = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


@register(
    "ref_table_counts",
    " UNION ALL ".join(
        f"SELECT '{t}' AS tbl, count(*) AS n FROM {t}" for t in _TABLES_FOR_COUNT
    ),
)
def ref_table_counts(spark, sf_dir):
    """Per-table row-count verification (reference verify_database_setup,
    database_and_model_tools.py:117-125)."""
    out = None
    for t in _TABLES_FOR_COUNT:
        c = (
            _t(spark, sf_dir, t)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(t).alias("tbl"), "n")
        )
        out = c if out is None else out.unionByName(c)
    return out


@register(
    "ref_zscore_standardize",
    """
    SELECT event_id,
           round((value - (SELECT avg(value) FROM events))
                 / (SELECT stddev_samp(value) FROM events), 4) AS value_z
    FROM events
    """,
)
def ref_zscore_standardize(spark, sf_dir):
    """Feature standardization (z-score) — the reference's
    StandardScaler.transform analog (database_and_model_tools.py:220-230,
    SURVEY §2 M1). Computed as agg + broadcast cross-join, NOT a global
    window (a partition-less window would serialize to one task at
    scale). The full MLlib pipeline lives in ml/pipeline.py."""
    e = _t(spark, sf_dir, "events")
    moments = e.agg(
        F.avg("value").alias("__mu"), F.stddev_samp("value").alias("__sigma")
    )
    return (
        e.crossJoin(F.broadcast(moments))
        .select(
            "event_id",
            F.round((F.col("value") - F.col("__mu")) / F.col("__sigma"), 4).alias("value_z"),
        )
    )


# --- write-path / sink operators ------------------------------------------
# Oracle-checked (round-2 upgrade): each sink writes a payload derived
# deterministically from a source table, reads it back, and emits digest
# aggregates; the DuckDB oracle computes the SAME digests straight from
# the source view. No file dependency in the oracle (robust to driver
# run order), but a corrupted/partial write-read round trip changes the
# Spark-side digest and fails the hash.


@register(
    "ref_sink_batch_insert",
    """
    SELECT count(*) AS after_first,
           2 * count(*) AS after_second,
           2 * CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           2 * CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events
    """,
)
def ref_sink_batch_insert(spark, sf_dir):
    """Batch append sink — the reference's execute_values page_size=1000
    + commit (database_and_model_tools.py:75-97). Two appends of the
    same deterministic events projection into a fresh parquet table
    (distributed write, one atomic commit per batch); the result is the
    read-back count after each commit plus read-back content digests,
    which the oracle recomputes from the logical source."""
    src = _t(spark, sf_dir, "events").select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    with _scratch("sink_batch_") as path:
        after_first = None
        for i in range(2):
            src.write.mode("append").parquet(path)
            if i == 0:
                after_first = spark.read.parquet(path).count()
        back = spark.read.parquet(path)
        return _materialize(back.agg(
            F.lit(after_first).cast("long").alias("after_first"),
            F.count(F.lit(1)).alias("after_second"),
            F.sum("event_id").alias("sum_event_id"),
            F.sum("cents").alias("sum_cents"),
        ))


@register(
    "ref_sink_insert_defaults",
    """
    SELECT * FROM (VALUES
      ('operator', 'regression', 0.9::DOUBLE, true),
      ('manager',  'anomaly',    0.0::DOUBLE, true)
    ) t(role, intent, confidence, has_ts)
    """,
)
def ref_sink_insert_defaults(spark, sf_dir):
    """Insert with default-valued columns + None->0.0 coercion — the
    reference's log_user_query (project/db.py:163-169): ts_epoch is
    stamped at write time, NULL confidence coalesced to 0.0. The
    write-time default semantics (coalesce applied, timestamp present)
    are read back from the parquet commit and checked against the
    literal expected rows."""
    rows = local_frame(
        spark,
        [("operator", "q1", "regression", 0.9), ("manager", "q2", "anomaly", None)],
        "role string, query string, intent string, confidence double",
    )
    stamped = rows.withColumn("confidence", F.coalesce("confidence", F.lit(0.0))).withColumn(
        "ts_epoch", F.unix_timestamp(F.current_timestamp()).cast("long")
    )
    with _scratch("sink_defaults_") as path:
        stamped.write.mode("append").parquet(path)
        back = spark.read.parquet(path)
        return _materialize(back.select(
            "role", "intent", "confidence", F.col("ts_epoch").isNotNull().alias("has_ts")
        ))


@register(
    "ref_sink_insert_json",
    """
    SELECT 'M001' AS machine_id, 'regression' AS intent,
           82.5::DOUBLE AS numerical_answer,
           'fuelconsumption' AS first_key, 2 AS n_features
    """,
)
def ref_sink_insert_json(spark, sf_dir):
    """JSON-serialized feature insert — the reference's log_prediction
    (project/db.py:171-185): map -> to_json at write, from_json on
    read-back (JSONB parity via MapType, SURVEY §1.2). first_key uses
    array_sort for a deterministic map-key order."""
    rows = local_frame(
        spark,
        [("M001", "regression", 82.5, {"fuelconsumption": 10.5, "humidity": 68.0})],
        "machine_id string, intent string, numerical_answer double, features map<string,double>",
    )
    with _scratch("sink_json_") as path:
        rows.withColumn("features_json", F.to_json("features")).drop("features").write.mode(
            "append"
        ).parquet(path)
        back = spark.read.parquet(path).withColumn(
            "features", F.from_json("features_json", "map<string,double>")
        )
        return _materialize(back.select(
            "machine_id",
            "intent",
            "numerical_answer",
            F.array_sort(F.map_keys("features"))[0].alias("first_key"),
            F.size(F.map_keys("features")).alias("n_features"),
        ))


@register(
    "ref_ddl_create_table",
    """
    SELECT * FROM (VALUES
      ('machineid', 'string'), ('ts_epoch', 'bigint'),
      ('enginetemperature', 'double'), ('status', 'string'),
      ('status_encoded', 'int')
    ) t(col_name, data_type)
    """,
)
def ref_ddl_create_table(spark, sf_dir):
    """DDL surface — the reference's CREATE TABLE IF NOT EXISTS
    (project/db.py:77-126) as Spark SQL DDL over a parquet location;
    returns the created table's schema as rows. Oracle (round-2
    upgrade): the literal expected schema — checks both the CREATE and
    that the second IF NOT EXISTS was a no-op (a re-create with the
    1-column schema would change the output)."""
    import uuid

    # unique per invocation: a fixed name would race under concurrent
    # query execution (DROP vs CREATE interleaving)
    name = f"telemetry_ddl_check_{uuid.uuid4().hex[:8]}"
    with _scratch("ddl_") as loc:
        spark.sql(
            f"""
            CREATE TABLE IF NOT EXISTS {name} (
              machineid STRING, ts_epoch BIGINT, enginetemperature DOUBLE,
              status STRING, status_encoded INT
            ) USING parquet LOCATION '{loc}'
            """
        )
        # idempotency: the reference loops IF NOT EXISTS on every run
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} (machineid STRING) USING parquet LOCATION '{loc}'"
        )
        out = _materialize(
            spark.sql(f"DESCRIBE TABLE {name}")
            .select("col_name", "data_type")
            .filter(~F.col("col_name").startswith("#"))
        )
        spark.sql(f"DROP TABLE {name}")
        return out


# --- SERIAL / surrogate keys (SURVEY §1.2 type-mapping row 1) ---------------


@register(
    "ref_surrogate_ids",
    """
    SELECT row_number() OVER (ORDER BY ts, event_id) AS sid, event_id
    FROM events QUALIFY sid <= 100
    """,
)
def ref_surrogate_ids(spark, sf_dir):
    """SERIAL-column parity (reference id SERIAL PRIMARY KEY,
    db.py:82): Spark has no auto-increment; stable surrogate keys are
    a row_number over an explicit total order (SURVEY §1.2).
    monotonically_increasing_id() is the shuffle-free alternative when
    stability across runs is not required."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        e.select(F.row_number().over(w).alias("sid"), "event_id")
        .filter(F.col("sid") <= 100)
    )
