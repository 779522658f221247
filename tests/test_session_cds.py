"""`get_spark` launches the driver JVM from a per-host class-data-sharing
archive (session.ClassShare). Each test runs a child Python process with
its own cache dir, so the archive it dumps or maps is its own."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = f"""
import json, os, sys
sys.path.insert(0, {ROOT!r})
from machine_telemetry_etl_ml_pipeline_spark.session import get_spark

def env_of_workers(sc):
    keys = ("SPARK_CONF_DIR", "SPARK_SUBMIT_OPTS")
    return sc.parallelize([0], 1).map(lambda _: {{k: os.environ.get(k) for k in keys}}).collect()[0]

before = dict(os.environ)
spark = get_spark("test-cds", master="local[1]")
after = dict(os.environ)
get_spark("test-cds-again", master="local[1]")
sc = spark.sparkContext
print(json.dumps({{
    "env_kept": before == after == dict(os.environ),
    "jvm_args": list(sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "rows": spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count().count(),
    "marker": spark.conf.get("spark.graft.marker", None),
    "workers": env_of_workers(sc),
    "jvm_pid": sc._gateway.proc.pid,
}}))
"""


def run_child(cache, conf_dir):
    """Run CHILD against ``cache`` and ``conf_dir``; its parsed output
    line, its stdout and its stderr."""
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_CONF_DIR=str(conf_dir),
               SPARK_DRIVER_MEMORY="1g")
    # SparkContext exports these two for its own sockets; preset to the
    # values it sets, they leave os.environ comparable across the launch.
    env.update(SPARK_AUTH_SOCKET_TIMEOUT="15", SPARK_BUFFER_SIZE="65536")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    proc = subprocess.run([sys.executable, "-c", CHILD], env=env, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout), proc.stdout, proc.stderr


def cache_files(cache):
    d = os.path.join(cache, "spark-graft")
    return sorted(n for n in os.listdir(d) if n.startswith("spark-"))


def jvm_alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def cds_flags(args):
    return [a for a in args if a.startswith(("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit", "-Xlog"))]


@pytest.fixture(scope="module")
def conf_dir(tmp_path_factory):
    """A conf dir that holds only a template: CDS is on."""
    d = tmp_path_factory.mktemp("conf")
    (d / "spark-defaults.conf.template").write_text("spark.graft.marker template\n")
    return d


@pytest.fixture(scope="module")
def dumped(tmp_path_factory, conf_dir):
    cache = tmp_path_factory.mktemp("cache")
    yield cache, run_child(cache, conf_dir)
    shutil.rmtree(cache)  # ~150 MB; pytest keeps its last three base temp dirs


@pytest.fixture(scope="module")
def mapped(dumped, conf_dir):
    cache, _ = dumped
    return run_child(cache, conf_dir)


def test_missing_archive_is_dumped_and_published(dumped):
    cache, (out, stdout, _) = dumped
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in out["jvm_args"])
    assert out["rows"] == 7
    assert stdout.splitlines() == [json.dumps(out)]  # the dump's warnings went to stderr
    files = cache_files(cache)
    assert len(files) == 2 and files[0].endswith(".jsa") and files[1] == files[0] + ".size", files
    archive = os.path.join(cache, "spark-graft", files[0])
    with open(archive + ".size") as fh:
        assert int(fh.read()) == os.path.getsize(archive) > 0
    assert not jvm_alive(out["jvm_pid"])


def test_published_archive_is_mapped(dumped, mapped):
    cache, _ = dumped
    out, stdout, stderr = mapped
    archive = os.path.join(cache, "spark-graft", cache_files(cache)[0])
    assert f"-XX:SharedArchiveFile={archive}" in out["jvm_args"]
    assert not any(a.startswith("-XX:ArchiveClassesAtExit") for a in out["jvm_args"])
    assert "Unable to use shared archive" not in stderr
    assert stdout.splitlines() == [json.dumps(out)]
    assert out["rows"] == 7


def test_truncated_archive_is_set_aside(dumped, conf_dir, tmp_path):
    src, _ = dumped
    name = cache_files(src)[0]
    cache = tmp_path / "cache"
    shutil.copytree(src / "spark-graft" / "conf", cache / "spark-graft" / "conf")
    shutil.copy(src / "spark-graft" / (name + ".size"), cache / "spark-graft")
    with open(src / "spark-graft" / name, "rb") as fh, open(cache / "spark-graft" / name, "wb") as out:
        out.write(fh.read(1 << 20))
    try:
        out, _, stderr = run_child(cache, conf_dir)
        assert "CdsArchiveWarning" in stderr
        assert out["rows"] == 7
        assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in out["jvm_args"])
        # the re-dump replaced the truncated archive and deleted the set-aside one
        assert cache_files(cache) == [name, name + ".size"]
        with open(cache / "spark-graft" / (name + ".size")) as fh:
            assert int(fh.read()) == os.path.getsize(cache / "spark-graft" / name)
    finally:
        shutil.rmtree(cache)


def test_conf_dir_with_settings_starts_without_cds(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.marker present\n")
    cache = tmp_path / "cache"
    out, _, _ = run_child(cache, conf)
    assert cds_flags(out["jvm_args"]) == []
    assert out["marker"] == "present"
    assert not cache.exists()


def test_environment_is_left_as_it_was(dumped, mapped, conf_dir):
    for out in (dumped[1][0], mapped[0]):
        assert out["env_kept"]
        assert out["workers"] == {
            "SPARK_CONF_DIR": str(conf_dir),
            "SPARK_SUBMIT_OPTS": os.environ.get("SPARK_SUBMIT_OPTS", ""),
        }
