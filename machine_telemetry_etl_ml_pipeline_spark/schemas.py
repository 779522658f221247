"""Canonical schemas.

The reference declares fixed DDL for three tables
(/root/reference/project/db.py:77-126) and normalizes CamelCase CSV
headers through an explicit mapping
(/root/reference/project/database_and_model_tools.py:27-35). Here every
table gets one governing StructType; the rename map and fill defaults
live next to them so the ingest path has a single source of truth.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- telemetry fact table (reference DDL project/db.py:81-102) ------------

TELEMETRY = StructType(
    [
        StructField("machineid", StringType()),
        StructField("type", StringType()),
        StructField("location", StringType()),
        StructField("timestamp", TimestampType()),
        StructField("enginetemperature", DoubleType()),
        StructField("fuelconsumption", DoubleType()),
        StructField("vibrationlevel", DoubleType()),
        StructField("humidity", DoubleType()),
        StructField("pressure", DoubleType()),
        StructField("poweroutput", DoubleType()),
        StructField("operatinghours", DoubleType()),
        StructField("status", StringType()),
        StructField("status_encoded", IntegerType()),
        StructField("timestamp_epoch", LongType()),
        StructField("hour", IntegerType()),
        StructField("dayofweek", IntegerType()),  # 0=Monday (pandas convention)
        StructField("month", IntegerType()),
        # write-time defaults (reference column DEFAULTs, db.py:100-101)
        StructField("ts_utc", TimestampType()),
        StructField("ts_epoch", LongType()),
    ]
)

# The telemetry table as stored: ``ingest.write_telemetry`` adds the
# ``event_date`` partition column, which partition discovery appends last.
TELEMETRY_STORED = StructType(TELEMETRY.fields + [StructField("event_date", DateType())])

# CamelCase CSV header -> canonical column
# (reference mapping project/database_and_model_tools.py:27-35)
TELEMETRY_RENAME = {
    "MachineID": "machineid",
    "Type": "type",
    "Location": "location",
    "Timestamp": "timestamp",
    "EngineTemperature": "enginetemperature",
    "FuelConsumption": "fuelconsumption",
    "VibrationLevel": "vibrationlevel",
    "Humidity": "humidity",
    "Pressure": "pressure",
    "PowerOutput": "poweroutput",
    "OperatingHours": "operatinghours",
    "Status": "status",
    "Status_encoded": "status_encoded",
    "Timestamp_epoch": "timestamp_epoch",
}

# null-fill defaults (reference project/database_and_model_tools.py:59-71)
TELEMETRY_FILL = {
    "enginetemperature": 75.0,
    "fuelconsumption": 10.0,
    "vibrationlevel": 3.0,
    "humidity": 65.0,
    "pressure": 950.0,
    "poweroutput": 200.0,
    "operatinghours": 0.0,
    "status": "Unknown",
}

# Status -> Status_encoded (reference CSV column pair, SURVEY §1.5)
STATUS_ENCODING = {"Active": 0, "Fault": 1, "Idle": 2, "Maintenance": 3}

# ML feature vector, fixed order
# (reference project/database_and_model_tools.py:214-218)
FEATURE_ORDER = [
    "fuelconsumption",
    "vibrationlevel",
    "humidity",
    "pressure",
    "poweroutput",
    "operatinghours",
    "timestamp_epoch",
    "hour",
    "dayofweek",
    "month",
]

USER_QUERY_LOG = StructType(
    [
        StructField("role", StringType()),
        StructField("query", StringType()),
        StructField("intent", StringType()),
        StructField("confidence", DoubleType()),
        StructField("machine_id", StringType()),
        StructField("target_time_epoch", LongType()),
        StructField("ts_epoch", LongType()),
    ]
)

PREDICTIONS = StructType(
    [
        StructField("machine_id", StringType()),
        StructField("intent", StringType()),
        StructField("numerical_answer", DoubleType()),
        # JSONB in the reference (db.py:122); native map here
        StructField("features", MapType(StringType(), DoubleType())),
        StructField("ts_epoch", LongType()),
    ]
)

# --- multimodal column convention (north-star extension) ------------------

MULTIMODAL_ASSET = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),  # image|audio|video|text
        StructField("content", BinaryType()),  # opaque payload
        StructField("meta", MapType(StringType(), StringType())),
    ]
)

EMBEDDING = ArrayType(FloatType())

# --- driver testdata tables (TESTDATA.md / FIXTURES.md §B) -----------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
