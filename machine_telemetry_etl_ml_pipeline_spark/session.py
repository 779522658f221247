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

Session start (SCALE.md "Session start"): when `get_spark` launches the
driver JVM, `ClassShare` starts it from a per-host class-data-sharing
archive of the classes a session loads, which halves JVM start. The
first process on a host (per JVM and Spark jars) dumps the archive as
its JVM exits, ~10 s that it waits for at exit. The archive is used only
while Spark's conf dir holds nothing but `*.template` files; a conf dir
with settings starts the JVM as before. The two variables the launch
reads (`SPARK_CONF_DIR`, `SPARK_SUBMIT_OPTS`) are set around the launch
only, and local Python workers see them as they were.

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

import atexit
import contextlib
import fcntl
import hashlib
import os
import shlex
import shutil
import subprocess
import time
import warnings

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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


def _cpus() -> int:
    """Cores of the local master: SPARK_GRAFT_CPUS, else the host's."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _sql_conf() -> dict[str, str]:
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(_shuffle_partitions(_cpus())),
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
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{_cpus()}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config(map=_sql_conf())
    )
    if SparkContext._gateway is not None:
        return builder.getOrCreate()  # the JVM runs already
    share = ClassShare.for_host()
    if share is None:
        return builder.getOrCreate()
    with _environ(share.launch_env()):
        spark = builder.getOrCreate()
    share.hide_from_workers(spark.sparkContext)
    return spark


@contextlib.contextmanager
def _environ(updates: dict[str, str]):
    """``os.environ`` with ``updates`` for the body, as it was after."""
    saved = {k: os.environ.get(k) for k in updates}
    os.environ.update(updates)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


class CdsArchiveWarning(RuntimeWarning):
    """A cached class-data-sharing archive did not have its recorded
    size; it was set aside and a new one is dumped."""


# Class-path settings that put directories other than Spark's jars and
# its conf dir on the driver's class path; JDK 17 will not dump an
# archive while a non-empty directory is on it.
_CLASS_PATH_VARS = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
# JVM warnings (CDS's among them) go to stdout by default, where they
# would mix with what the Python program prints.
_JVM_LOG = "-Xlog:disable -Xlog:all=warning:stderr"
# How long an exiting process waits for the JVM to dump; a session's
# dump took ~10 s on 4 vCPUs.
_DUMP_WAIT_S = 120.0
# A dump temp file older than this belongs to no live dump.
_STALE_DUMP_S = 3600.0


class ClassShare:
    """One driver-JVM launch from a per-host archive of the classes a
    Spark session loads (JDK dynamic class-data sharing, JEP 350).

    The archive lives in ``$XDG_CACHE_HOME/spark-graft/`` (default
    ``~/.cache/spark-graft/``) under a key of the ``java`` binary the
    launcher runs and the names, sizes and mtimes of ``$SPARK_HOME/jars``.
    A published archive is mapped (``-XX:SharedArchiveFile``). A missing
    one is dumped by this process's JVM at exit
    (``-XX:ArchiveClassesAtExit``) to a temp name, which is renamed into
    place, its size recorded, only once that JVM has exited with 0."""

    def __init__(self, cache: str, key: str, conf_dir: str) -> None:
        self.cache = cache
        self.archive = os.path.join(cache, f"spark-{key}.jsa")
        self.record = self.archive + ".size"
        self.conf_dir = conf_dir  # the conf dir the JVM would have had
        self.dump: str | None = None

    @classmethod
    def for_host(cls) -> ClassShare | None:
        """The launch plan, or None when the driver's class path would
        hold more than Spark's jars and an empty conf dir: then the JVM
        starts as it would without this class."""
        if "PYSPARK_GATEWAY_PORT" in os.environ or any(os.environ.get(v) for v in _CLASS_PATH_VARS):
            return None  # no JVM to launch, or a class path this does not key
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        try:
            if not all(n.endswith(".template") for n in os.listdir(conf_dir)):
                return None  # settings to read: keep the conf dir on the class path
        except FileNotFoundError:
            pass
        except OSError:
            return None
        java_home = os.environ.get("JAVA_HOME")
        java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
        if java is None:
            return None
        cache = os.path.join(
            os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "spark-graft"
        )
        try:
            key = _archive_key(java, os.path.join(spark_home, "jars"))
            os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
        except OSError:  # no java or jars to key, or no cache to write
            return None
        return cls(cache, key, conf_dir)

    def launch_env(self) -> dict[str, str]:
        """The two variables the launch reads: an empty conf dir, and the
        JVM options that map the archive or dump a missing one. A dump
        registers the exit hook that publishes it."""
        with self._lock():
            published = self._published()
        if published:
            flag = f"-XX:SharedArchiveFile={self.archive}"
        else:
            self.dump = f"{self.archive}.{os.getpid()}.tmp"
            atexit.register(self._publish_at_exit, os.getpid())
            flag = f"-XX:ArchiveClassesAtExit={self.dump}"
        # the caller's own -Xlog options come after -Xlog:disable
        opts = [_JVM_LOG, os.environ.get("SPARK_SUBMIT_OPTS", ""), shlex.quote(flag)]
        return {
            "SPARK_CONF_DIR": os.path.join(self.cache, "conf"),
            "SPARK_SUBMIT_OPTS": " ".join(o for o in opts if o),
        }

    def hide_from_workers(self, sc) -> None:
        """Local-mode Python workers inherit the driver JVM's environment:
        give them the two variables as the JVM would have had them
        without the archive."""
        if sc.master.startswith("local"):
            sc.environment["SPARK_CONF_DIR"] = self.conf_dir
            sc.environment["SPARK_SUBMIT_OPTS"] = os.environ.get("SPARK_SUBMIT_OPTS", "")

    @contextlib.contextmanager
    def _lock(self):
        with open(os.path.join(self.cache, ".lock"), "a") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            yield

    def _published(self) -> bool:
        """Whether the archive is in place and whole. One whose size is
        not the recorded size is set aside (the next publish deletes it)."""
        try:
            size = os.path.getsize(self.archive)
        except FileNotFoundError:
            return False
        try:
            with open(self.record) as fh:
                recorded = int(fh.read())
        except (OSError, ValueError):
            recorded = None
        if size == recorded:
            return True
        warnings.warn(
            f"{self.archive} holds {size} bytes, {recorded} recorded: set aside",
            CdsArchiveWarning,
            stacklevel=4,
        )
        os.replace(self.archive, f"{self.archive}.{os.getpid()}.bad")
        return False

    def _publish_at_exit(self, pid: int) -> None:
        """Stop the JVM, which dumps the archive as it exits, and publish
        the archive if the JVM exited with 0; delete it otherwise."""
        if os.getpid() != pid:
            return  # a forked child: the JVM belongs to its parent
        try:
            if _stop_jvm() == 0 and os.path.isfile(self.dump):
                with self._lock():
                    _write_atomic(self.record, str(os.path.getsize(self.dump)))
                    os.replace(self.dump, self.archive)
                    self._prune()
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(self.dump)

    def _prune(self) -> None:
        """Keep one archive per host: delete those of other keys, set-aside
        ones, and the temp files of dumps that ended long ago."""
        now = time.time()
        for entry in os.scandir(self.cache):
            if not entry.name.startswith("spark-") or entry.path in (self.archive, self.record):
                continue
            with contextlib.suppress(FileNotFoundError):
                if entry.name.endswith(".tmp") and now - entry.stat().st_mtime < _STALE_DUMP_S:
                    continue  # another process may be dumping to it
                os.remove(entry.path)


def _stop_jvm() -> int | None:
    """Stop the active SparkContext, close the stdin of the JVM this
    process launched (it exits on EOF) and wait a bounded time for it to
    exit, killing it after. Its exit code; None if there is no JVM."""
    gateway = SparkContext._gateway
    if gateway is None:
        return None
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    return proc.returncode


def _archive_key(java: str, jars: str) -> str:
    """What an archive is valid for: the JVM that dumped it and the jars
    its classes came from."""
    h = hashlib.sha256()
    java = os.path.realpath(java)
    st = os.stat(java)
    h.update(f"{java}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    for entry in sorted(os.scandir(jars), key=lambda e: e.name):
        st = entry.stat()
        h.update(f"{entry.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _write_atomic(path: str, text: str) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


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
