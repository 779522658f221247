"""Registry entries own their scratch: files an entry writes live under
one ``registry._scratch`` dir, and building and collecting an entry
leaves no directory, catalog table, cache entry or persistent RDD
behind. The returned rows are already on the driver, so the collect
runs no Spark job. Rows on the driver become a frame one way: an
Arrow-built local relation, never a pickled RDD of Python rows."""

from __future__ import annotations

import ast
import inspect
import os
import tempfile

import pytest

import machine_telemetry_etl_ml_pipeline_spark as pkg
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


def test_create_dataframe_only_in_local_frame():
    """In the package, ``createDataFrame`` is called only by
    ``operators/core.local_frame`` (Python rows), ``registry._materialize``
    (an Arrow table of a frame's rows) and ``ingest.insert_rows`` (an
    Arrow table in the CSV's input schema)."""
    root = os.path.dirname(pkg.__file__)
    sites = set()

    def visit(node, rel, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Attribute) and node.attr == "createDataFrame":
            sites.add((rel, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fn)

    for dirpath, _, files in os.walk(root):
        for fname in files:
            if fname.endswith(".py"):
                path = os.path.join(dirpath, fname)
                with open(path, encoding="utf-8") as fh:
                    visit(ast.parse(fh.read()), os.path.relpath(path, root), None)
    assert sites == {
        ("operators/core.py", "local_frame"),
        ("registry/__init__.py", "_materialize"),
        ("ingest.py", "insert_rows"),
    }


def test_scratch_entries_are_found():
    assert "ref_ddl_create_table" in SCRATCH_ENTRIES
    assert "ext_source_csv_corrupt" in SCRATCH_ENTRIES


@pytest.mark.parametrize("name", SCRATCH_ENTRIES)
def test_scratch_entries_leave_nothing(spark, count_jobs, name, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    cache = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc

    def state():
        tables = {t.name for t in spark.catalog.listTables()}
        rdds = set(jsc.getPersistentRDDs().keySet().toArray())
        return tables, cache.numCachedEntries(), rdds

    tables0, cached0, rdds0 = state()
    df = REGISTRY[name].fn(spark, SF)
    assert count_jobs(df.collect) == 0
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
    tables, cached, rdds = state()
    assert list(tmp_path.iterdir()) == []
    assert tables - tables0 == set()
    assert cached == cached0
    assert rdds - rdds0 - set(owned_ids(df)) == set()
