"""Checkpoint-rotation hygiene (operators/ckpt.py).

Pins the facts the iterative operators rely on:
- a checkpointed frame owns its block ids, eager or lazy, from the
  moment it is built (`owned_ids` reads them off the plan),
- rotating retires the superseded checkpoint's blocks (the leak
  measured in the module docstring cannot regress silently),
- the frame checkpointed LAST stays fully usable after its
  predecessor is retired (rotation is safe for strictly-superseded
  chains),
- a retired frame is genuinely dead (truncated lineage cannot be
  recomputed) — the reason rotation must only ever retire frames
  nothing downstream references,
- a measured side gets a broadcast hint only under both broadcast
  thresholds (`broadcast_if_small`).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.operators.ckpt import (
    broadcast_if_small,
    checkpoint_rotate,
    lazy_checkpoint,
    owned_ids,
    retire_ids,
    unpersist_all,
)


def _persistent(spark):
    return sorted(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_rotate_retires_superseded_blocks(spark):
    unpersist_all(spark)
    df = spark.range(10_000).select("id", (F.col("id") % 5).alias("k"))
    c1, ids1 = checkpoint_rotate(df)
    assert ids1 and set(ids1) <= set(_persistent(spark))
    c2, ids2 = checkpoint_rotate(c1.groupBy("k").count(), retire=ids1)
    live = set(_persistent(spark))
    assert set(ids2) <= live
    assert not (set(ids1) & live), "superseded checkpoint must be unpersisted"
    # the surviving checkpoint is fully usable
    assert c2.count() == 5
    assert c2.agg(F.sum("count")).collect()[0][0] == 10_000
    unpersist_all(spark)


def test_frames_own_their_checkpoint_ids(spark):
    unpersist_all(spark)
    eager, eager_ids = checkpoint_rotate(spark.range(100).select("id"))
    assert eager_ids == owned_ids(eager) == _persistent(spark)
    assert len(eager_ids) == 1
    # a lazy checkpoint registers its RDD when the frame is built, so
    # it owns its id before any action has run
    lazy = lazy_checkpoint(spark.range(50).select(F.col("id").alias("k")))
    (lazy_id,) = owned_ids(lazy)
    assert set(_persistent(spark)) == {*eager_ids, lazy_id}
    # a frame reads each id once, however often the plan repeats it
    both = eager.join(lazy, eager.id == lazy.k).crossJoin(lazy.select(F.col("k").alias("k2")))
    assert owned_ids(both) == [*eager_ids, lazy_id]
    assert both.count() == 50 * 50
    # an RDD-backed frame that was never persisted owns nothing
    assert owned_ids(spark.createDataFrame(spark.sparkContext.parallelize([(1,)]), "x long")) == []
    retire_ids(spark, owned_ids(both))
    assert _persistent(spark) == []


def test_retired_frame_is_dead(spark):
    unpersist_all(spark)
    c1, ids1 = checkpoint_rotate(spark.range(1000).select("id"))
    assert c1.count() == 1000
    retire_ids(spark, ids1)
    # truncated lineage + freed blocks -> any recompute must fail,
    # which is why rotation only retires strictly-superseded frames
    with pytest.raises(Exception):
        c1.count()
    unpersist_all(spark)


def test_unpersist_all_sweeps_everything(spark):
    unpersist_all(spark)
    checkpoint_rotate(spark.range(100).select("id"))
    checkpoint_rotate(spark.range(200).select("id"))
    assert len(_persistent(spark)) >= 2
    n = unpersist_all(spark)
    assert n >= 2
    assert _persistent(spark) == []


def test_unpersist_all_clears_cache_manager_entries(spark):
    """The r8 A/B contamination fix: retiring persistent-RDD blocks
    alone leaves SQL CacheManager ENTRIES alive, and Spark applies
    cached plans to ANY later query with a matching logical subtree —
    so a timing harness that persists in run N silently feeds run N+1.
    unpersist_all must clear both layers."""
    unpersist_all(spark)
    df = spark.range(50_000).select((F.col("id") % 7).alias("k")).groupBy("k").count()
    df.persist()
    assert df.count() == 7  # materialize the cache
    # a SEPARATE frame with the same logical plan picks up the cache
    twin = spark.range(50_000).select((F.col("id") % 7).alias("k")).groupBy("k").count()
    assert "InMemoryTableScan" in twin._jdf.queryExecution().executedPlan().toString()
    unpersist_all(spark)
    twin2 = spark.range(50_000).select((F.col("id") % 7).alias("k")).groupBy("k").count()
    plan = twin2._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan, (
        "CacheManager entry survived unpersist_all — the A/B "
        "cross-contamination path is open again"
    )
    assert _persistent(spark) == []


def test_executed_plans_are_finalized(spark):
    from tools.plan_audit import executed_plans

    unpersist_all(spark)
    df = spark.range(10_000).select("id", (F.col("id") % 5).alias("k"))

    def build():
        c1, ids1 = checkpoint_rotate(df.groupBy("k").count())
        c1.agg(F.sum("count").alias("s")).collect()
        retire_ids(spark, ids1)

    plans = executed_plans(spark, build)
    assert len(plans) == 2
    # finalized executed plans with codegen markers, not provisional
    # adaptive placeholders
    assert all("*(" in p for p in plans), plans
    unpersist_all(spark)


def test_reliable_checkpoint_escape_hatch(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_CHECKPOINT_DIR flips checkpoint_rotate to reliable
    Dataset.checkpoint() against the configured dir (VERDICT r13 item
    7): same data back, no block-manager ids to rotate, and the
    checkpoint actually lands in the directory."""
    unpersist_all(spark)
    ckpt_dir = str(tmp_path / "reliable_ckpt")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckpt_dir)
    df = spark.range(1_000).select("id", (F.col("id") % 3).alias("k"))
    out, ids = checkpoint_rotate(df)
    assert ids == []  # reliable checkpoints hold no local blocks
    assert out.count() == 1_000
    assert out.groupBy("k").count().count() == 3
    import os as _os

    assert any(
        files for _, _, files in _os.walk(ckpt_dir)
    ), "reliable checkpoint wrote nothing under the configured dir"
    # chained rotation with an empty retire list stays a no-op
    out2, ids2 = checkpoint_rotate(out.groupBy("k").count(), retire=ids)
    assert ids2 == [] and out2.count() == 3
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR")
    unpersist_all(spark)


def test_second_checkpoint_dir_is_honored(spark, tmp_path, monkeypatch):
    """Pointing SPARK_GRAFT_CHECKPOINT_DIR at a new directory mid-process
    moves the next checkpoints there, for both checkpoint entry points."""
    import os as _os

    def files_under(d):
        return [f for _, _, fs in _os.walk(d) for f in fs]

    unpersist_all(spark)
    df = spark.range(1_000).select("id", (F.col("id") % 3).alias("k"))
    first, second = str(tmp_path / "first"), str(tmp_path / "second")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", first)
    assert checkpoint_rotate(df)[0].count() == 1_000
    assert files_under(first)
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", second)
    n_first = len(files_under(first))
    assert checkpoint_rotate(df.groupBy("k").count())[0].count() == 3
    assert files_under(second), "checkpoint ignored the second directory"
    lazy = lazy_checkpoint(df.where(F.col("k") == 1))
    assert lazy.count() == 333
    assert len(files_under(first)) == n_first
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR")
    unpersist_all(spark)


_THRESHOLDS = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")


@pytest.fixture
def thresholds(spark):
    """``thresholds(auto, adaptive)``: set the two broadcast thresholds
    (None leaves one at its default); teardown unsets both."""

    def set_(auto=None, adaptive=None):
        for k, v in zip(_THRESHOLDS, (auto, adaptive)):
            if v is not None:
                spark.conf.set(k, v)

    yield set_
    for k in _THRESHOLDS:
        spark.conf.unset(k)


def _hinted(df) -> bool:
    return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()


# spark.range's one bigint column: 8 + 8 bytes per row, and the default
# threshold is 10 MiB = 655,360 such rows
@pytest.mark.parametrize(
    "auto, adaptive, rows, hint",
    [
        (None, None, 655_359, True),
        (None, None, 655_360, False),  # size at the threshold, not under it
        ("-1", None, 10, False),
        (None, "-1", 10, False),
        (None, "1k", 63, True),
        (None, "1k", 64, False),  # adaptive twin smaller than rows x width
        ("1k", "10m", 64, False),  # the size must be under both
    ],
)
def test_broadcast_if_small_reads_both_thresholds(spark, thresholds, auto, adaptive, rows, hint):
    thresholds(auto, adaptive)
    df = spark.range(rows)
    out = broadcast_if_small(df, rows)
    assert _hinted(out) is hint
    if not hint:
        assert out is df


def test_broadcast_if_small_without_jvm_access():
    """A Spark Connect frame has no JVM handle: no hint, no error."""

    class ConnectFrame:
        sparkSession = object()

    df = ConnectFrame()
    assert broadcast_if_small(df, 1) is df
