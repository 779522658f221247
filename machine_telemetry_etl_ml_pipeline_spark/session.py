"""SparkSession factory and the one table of SQL confs.

The reference holds one psycopg2 singleton connection
(/root/reference/project/db.py:15-19) and delegates all planning to
Postgres. Here the analogous shared resource is one SparkSession with
Catalyst/AQE doing the planning.

`_sql_conf()` is the session's SQL conf, applied at three boundaries
and nowhere else:
- `get_spark` passes it to the builder, so `newSession()` clones
  inherit it;
- `registry.register` tunes the caller's session once per entry
  dispatch, before the entry body runs;
- `TelemetryEngine` tunes its session and its serving clone.
Table reads (`sources/catalog.load_table`) and entry bodies never set
conf. `tune_session` also puts the package on the Python workers'
PYTHONPATH, so UDF entries run from any working directory.

Scale posture (100 TB target, tested on local[32]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic broadcast selection replace any hand-scheduling.
- shuffle partitions default to cores on local mode; on a real cluster
  this would be ~2-3x total executor cores (or left to AQE's
  coalescing with a high initial value).
- UTC session timezone so epoch/timestamp semantics match the oracle.
- Arrow enabled for the pandas_udf paths (ML scoring, multimodal).
- legacy TIMESTAMP(NANOS) parquet reads as raw int64, which the
  catalog converts; SQL scripting on for the BEGIN ... END entries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _shuffle_partitions(cpus: int) -> int:
    """Initial shuffle-partition count, scale-parameterized (r13,
    guide §2.2/§2.5): NOT a constant tuned for one deployment.

    - local bench (this sandbox): defaults to the core count — the
      measured optimum for sub-GB shuffles (more initial partitions
      only add scheduling overhead once AQE coalesces them back), and
      the value every prior round's driver bench used, so numbers stay
      comparable.
    - production: set SPARK_GRAFT_SHUFFLE_PARTITIONS to ~2-3x total
      executor cores (or higher and let AQE's coalescing find the
      real count — spark.sql.adaptive.coalescePartitions is on). At
      100 TB the rule of thumb is shuffled-bytes / 128-512 MB initial
      partitions; AQE's advisoryPartitionSizeInBytes then governs the
      coalesced size."""
    return int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))


def _sql_conf() -> dict[str, str]:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(_shuffle_partitions(cpus)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.scripting.enabled": "true",
    }


def get_spark(
    app_name: str = "machine-telemetry-spark", master: str | None = None
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    return (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config(map=_sql_conf())
        .getOrCreate()
    )


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply `_sql_conf()` to a session the caller provides (the driver
    passes its own SparkSession to ``entry``/``queries``), and put this
    package's parent directory on the PYTHONPATH of the Python workers
    the session starts."""
    for k, v in _sql_conf().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session; keep going
    _share_import_root(spark.sparkContext.environment)
    return spark


# The directory this package is imported from.
_IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _share_import_root(environment: dict[str, str]) -> None:
    """Python UDFs, UDTFs and data sources are pickled by reference to
    this package's modules, so the workers that unpickle them must be
    able to import it, wherever the driver was started and whatever its
    PYTHONPATH. ``environment`` is the SparkContext's worker
    environment, which each Python function captures when it is
    wrapped."""
    paths = [p for p in environment.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _IMPORT_ROOT not in paths:
        environment["PYTHONPATH"] = os.pathsep.join([_IMPORT_ROOT, *paths])
