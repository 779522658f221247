"""Table catalog over the driver's parquet testdata.

Parquet (columnar, min/max statistics, partition-prunable) replaces the
reference's Postgres heap tables + 6 btree indexes
(/root/reference/project/db.py:128-135): Catalyst pushes predicates and
projections into the scan, which at 100 TB is the difference between
reading a column chunk and reading the table.

Tables open with Spark's own inferred schema, inferred once per file:
a bare `spark.read.parquet(path)` runs a one-task Spark job per call to
read the footer. `_SCHEMAS` memoizes `spark.read.parquet(path).schema`
under the file's Hadoop FileStatus — qualified path, length and
modification time, a driver-side filesystem call that runs no job —
plus the session confs that change the parquet-to-Catalyst type
mapping (`_TYPE_CONFS`), and later reads pass it with
`spark.read.schema(s)`. A rewritten file changes its length or mtime
and is inferred again; the memo's value is a function of its key alone,
so it is safe to share across sessions and threads. Only single files
are memoized: a directory's schema depends on its listing, so
directory-backed paths keep plain inference.

Reads set no conf. A legacy layout that stored events.ts as
TIMESTAMP(NANOS) reads only under `spark.sql.legacy.parquet.nanosAsLong`,
which the tuned session carries (`session._sql_conf`): every registry
entry runs on one, because dispatch tunes it.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Event-time columns that ts_range bounds apply to. Current testdata
# stores these as parquet TIMESTAMP(MICROS, ntz) and the predicate
# pushes to the scan natively; a legacy layout that wrote
# TIMESTAMP(NANOS) (read as raw int64 under the nanosAsLong conf, since
# Spark has no nanosecond timestamp type) is still handled by the
# bigint branch below.
_EVENT_TS_COLS = {"events": ["ts"]}

# Session confs that change which Catalyst type a parquet column infers as.
_TYPE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)

_SCHEMAS: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` that infers a single file's schema
    once per file status and type-mapping conf (module docstring). A
    directory or a missing path reads, and fails, as without the memo."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    try:
        st = fs.getFileStatus(jpath)
    except Py4JJavaError as exc:
        if exc.java_exception.getClass().getName() != "java.io.FileNotFoundException":
            raise
        st = None
    if st is None or not st.isFile():
        return spark.read.parquet(path)
    key = (st.getPath().toString(), st.getLen(), st.getModificationTime())
    key += tuple(spark.conf.get(c) for c in _TYPE_CONFS)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(schema).parquet(path)


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_range: tuple[int, int] | None = None,
) -> DataFrame:
    """ts_range: optional (lo_epoch_s, hi_epoch_s) INCLUSIVE
    epoch-second bounds for the event-time column, applied so the
    predicate reaches the parquet scan (min/max row-group skipping — at
    100 TB the difference between scanning a day and scanning the
    table). "Inclusive" means second granularity, matching the
    reference's `timestamp_epoch BETWEEN lo AND hi`: every row whose
    truncated epoch-second falls in [lo, hi] is kept, i.e.
    lo <= ts < hi+1."""
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for c in _EVENT_TS_COLS.get(name, []):
        if dict(df.dtypes).get(c) == "bigint":
            # Legacy raw-nanos layout: bound the RAW int64 column (the
            # converted column is an expression and cannot push), then
            # convert. Integer `div`, not double `/`: at ~1.7e18 ns the
            # int64->double round-trip has 256 ns ulp (and double->long
            # cast truncates toward zero, wrong pre-1970).
            if ts_range is not None:
                lo_s, hi_s = ts_range
                df = df.filter(
                    (F.col(c) >= int(lo_s) * 1_000_000_000)
                    & (F.col(c) <= int(hi_s) * 1_000_000_000 + 999_999_999)
                )
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif ts_range is not None:
            # Native timestamp layout: a plain column-vs-literal
            # comparison — Catalyst constant-folds the literals and
            # pushes both bounds into the scan. The cast through the
            # UTC session zone makes the literal match the column's
            # (n)tz flavor exactly.
            lo_s, hi_s = ts_range
            col_type = dict(df.dtypes)[c]
            lo = F.timestamp_seconds(F.lit(int(lo_s))).cast(col_type)
            hi = F.timestamp_seconds(F.lit(int(hi_s) + 1)).cast(col_type)
            df = df.filter((F.col(c) >= lo) & (F.col(c) < hi))
    return df
