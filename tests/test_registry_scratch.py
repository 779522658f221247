"""Registry entries own their scratch: files an entry writes live under
one ``registry._scratch`` dir, and building and collecting an entry
leaves no directory, catalog table, cache entry or persistent RDD
behind."""

from __future__ import annotations

import ast
import inspect
import os
import tempfile

import pytest

from machine_telemetry_etl_ml_pipeline_spark import registry
from machine_telemetry_etl_ml_pipeline_spark.operators.ckpt import owned_ids
from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"

SCRATCH_ENTRIES = sorted(
    name
    for name, q in REGISTRY.items()
    if "_scratch(" in inspect.getsource(inspect.unwrap(q.fn))
)


def test_mkdtemp_only_in_scratch():
    """Under registry/, ``tempfile.mkdtemp`` is called only by
    ``__init__._scratch``, which removes the dir it makes."""
    pkg = os.path.dirname(registry.__file__)
    sites = []
    for fname in sorted(os.listdir(pkg)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(pkg, fname), encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Attribute) and node.attr == "mkdtemp":
                    sites.append((fname, fn.name))
    assert sites == [("__init__.py", "_scratch")]


def test_scratch_entries_are_found():
    assert "ref_ddl_create_table" in SCRATCH_ENTRIES
    assert "ext_source_csv_corrupt" in SCRATCH_ENTRIES


@pytest.mark.parametrize("name", SCRATCH_ENTRIES)
def test_scratch_entries_leave_nothing(spark, name, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    cache = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc

    def state():
        tables = {t.name for t in spark.catalog.listTables()}
        rdds = set(jsc.getPersistentRDDs().keySet().toArray())
        return tables, cache.numCachedEntries(), rdds

    tables0, cached0, rdds0 = state()
    df = REGISTRY[name].fn(spark, SF)
    df.collect()
    tables, cached, rdds = state()
    assert list(tmp_path.iterdir()) == []
    assert tables - tables0 == set()
    assert cached == cached0
    assert rdds - rdds0 - set(owned_ids(df)) == set()
