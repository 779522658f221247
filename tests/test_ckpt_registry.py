"""Checkpoint ownership across the registry's checkpointing entries.

- After build and noop sink, an entry leaves persisted only the blocks
  its returned frame owns (`ckpt.owned_ids`): every superseded round
  has been retired, and ALS's cached factor RDDs are freed.
- Three checkpointing entries run from threads on one session give
  the sequential rows, and retiring each result's own ids leaves the
  block manager empty. Ownership is read off each frame, so nothing
  serializes the threads.
- Every entry that checkpoints at sf0.001 stays oracle-exact on the
  reliable path (SPARK_GRAFT_CHECKPOINT_DIR), which keeps lineage
  recoverable where `localCheckpoint` truncates it.
"""

from __future__ import annotations

import os
import sys
import threading

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as ent  # noqa: E402
from machine_telemetry_etl_ml_pipeline_spark.operators.ckpt import (  # noqa: E402
    owned_ids,
    retire_ids,
    unpersist_all,
)
from tools.check import TABLES, canon_rows  # noqa: E402

SF = "/root/testdata/sf0.001"

# The registry entries whose build calls checkpoint_rotate or
# lazy_checkpoint at sf0.001, found by tracing those two functions over
# every entry of queries(). test_reliable_path_matches_oracle fails for
# an entry that stops checkpointing, so the list cannot go stale
# silently; an entry that starts checkpointing is added here.
CHECKPOINTING = (
    "ext_equiheight_histogram",
    "graph_bfs_distances",
    "graph_common_neighbors",
    "graph_k_core",
    "graph_label_propagation",
    "graph_triangle_count",
    "graph_weighted_sssp",
    "llm_embedding_neardup_scaled",
    "llm_lsh_candidate_pairs",
    "llm_minhash_jaccard_estimate",
    "llm_mmr_rerank",
    "llm_semdedup_prune_scaled",
)
CONCURRENT = ("graph_k_core", "graph_label_propagation", "ext_equiheight_histogram")


def _persistent(spark):
    return sorted(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _rows(df):
    return canon_rows(list(df.columns), [tuple(r) for r in df.collect()])


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    sql = ent.oracle_sql()

    def rows(name):
        tbl = con.execute(sql[name]).fetch_arrow_table()
        return canon_rows(list(tbl.column_names), list(zip(*[c.to_pylist() for c in tbl.columns])))

    yield rows
    con.close()


@pytest.mark.parametrize(
    "name, n_owned",
    [("graph_k_core", 0), ("graph_label_propagation", 1), ("ml_als_recommend", 0)],
)
def test_entry_leaves_only_owned_blocks(spark, name, n_owned):
    unpersist_all(spark)
    df = ent.queries()[name](spark, SF)
    df.write.format("noop").mode("overwrite").save()
    owned = owned_ids(df)
    assert len(owned) == n_owned
    assert _persistent(spark) == sorted(owned), "a superseded checkpoint was not retired"
    retire_ids(spark, owned)
    assert _persistent(spark) == []


def test_concurrent_entries_on_one_session(spark):
    qs = ent.queries()
    unpersist_all(spark)
    sequential = {name: _rows(qs[name](spark, SF)) for name in CONCURRENT}
    unpersist_all(spark)

    got, errors = {}, []
    start = threading.Barrier(len(CONCURRENT))

    def run(name):
        try:
            start.wait(timeout=60)
            df = qs[name](spark, SF)
            got[name] = _rows(df)
            retire_ids(spark, owned_ids(df))
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append((name, exc))

    threads = [threading.Thread(target=run, args=(n,)) for n in CONCURRENT]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads), "an entry thread did not finish"
    assert not errors, errors
    assert got == sequential
    assert _persistent(spark) == []


@pytest.mark.parametrize("name", CHECKPOINTING)
def test_reliable_path_matches_oracle(spark, oracle, tmp_path, monkeypatch, name):
    ckpt_dir = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt_dir))
    unpersist_all(spark)
    got = _rows(ent.queries()[name](spark, SF))
    assert [f for _, _, fs in os.walk(ckpt_dir) for f in fs], (
        f"{name} wrote nothing under SPARK_GRAFT_CHECKPOINT_DIR; if it no "
        "longer calls checkpoint_rotate or lazy_checkpoint, drop it from CHECKPOINTING"
    )
    assert got == oracle(name)
    unpersist_all(spark)
