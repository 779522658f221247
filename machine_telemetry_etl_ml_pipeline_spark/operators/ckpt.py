"""Checkpoint-rotation hygiene for iterative plans.

`localCheckpoint(eager=True)` registers its materialized blocks with
the block manager and they stay registered until the SparkContext
stops — `DataFrame.unpersist()` does NOT free them (it talks to the
SQL cache manager, not the checkpoint RDD), and Python GC never
reaches the JVM-side RDD reference. Measured on this build: every
`graph_label_propagation` run leaks 2 RDDs / ~5 MB, so a 48-query
x 3-rep bench suite accumulates hundreds of orphaned block-manager
entries — the "suite-context pressure" drift SCALE.md's
bench-regression re-measure documented. At 100 TB the same leak is
worse than drift: a 7-round peel keeps SEVEN full edge-list copies
in executor storage when only the newest is still reachable.

The fix is the GraphX iteration discipline: each round retires the
checkpoint it just superseded. Blocks are addressed through
`JavaSparkContext.getPersistentRDDs()` (a plain java.util.Map of
rdd-id -> JavaRDD), the only stable handle on a checkpointed
Dataset's internal RDD from Python. Retiring is only legal for a
frame that nothing downstream references — retired frames FAIL if
re-used (lineage is truncated; verified in tests/test_ckpt.py) —
which is exactly the strictly-superseded contract the iterative
operators already maintain.

Ownership: a checkpointed frame carries its own block id. Eager and
lazy `localCheckpoint` both return a frame whose plan is a single
`LogicalRDD` over the persisted RDD, so `owned_ids(df)` reads the ids
a frame depends on straight off its analyzed plan: the `LogicalRDD`
leaves whose RDD is persisted. Nothing is inferred from the
context-global persistent set, so concurrent queries on one
SparkContext cannot cross-attribute each other's blocks, and no lock
serializes them. In Spark 4.1 a lazy checkpoint registers its RDD
when the frame is BUILT, not at its first action — the reason a
before/after diff of the global set around that action attributes
nothing. A returned frame's blocks stay persisted until its consumer
has materialized it; a long-running driver then frees them with
`retire_ids(spark, owned_ids(df))`, and the harnesses sweep with
`unpersist_all`.

Joins against a checkpoint: a checkpoint's `LogicalRDD` keeps the size
estimate of the plan it replaced, not its real size, so a join against
a small checkpointed side plans as a sort-merge join and AQE turns it
into a broadcast only after both shuffle map stages have run. A caller
that has measured the side's row count (an observation on the job that
landed it) passes it to `broadcast_if_small`, which hints the broadcast
when the measured size is under the session's thresholds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Reliable-checkpoint escape hatch (VERDICT r13 item 7, guide §5):
# localCheckpoint blocks are executor-local and UNREPLICATED — on a
# real cluster an executor loss kills every query whose lineage was
# truncated onto that executor. Setting this env var to a
# fault-tolerant directory (HDFS/object store) switches every
# checkpoint_rotate and lazy_checkpoint call to reliable
# Dataset.checkpoint() against it; the local default (unset) keeps
# localCheckpoint, whose in-memory blocks are the right tradeoff for a
# single-node bench. Reliable checkpoints live in the FS, not the
# block manager, so they own no ids and retirement is a no-op for
# them; file cleanup is Spark's
# spark.cleaner.referenceTracking.cleanCheckpoints (or dir TTL).
_CKPT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"
_CKPT_DIR_FOR: dict = {}  # SparkContext id -> checkpoint dir it was given


def _reliable(df: DataFrame) -> bool:
    """True when checkpoints go to SPARK_GRAFT_CHECKPOINT_DIR; points
    the frame's SparkContext at that directory first whenever it names
    a different one than the context was last given."""
    ckpt_dir = os.environ.get(_CKPT_DIR_ENV)
    if not ckpt_dir:
        return False
    sc = df.sparkSession.sparkContext
    if _CKPT_DIR_FOR.get(id(sc)) != ckpt_dir:
        sc.setCheckpointDir(ckpt_dir)
        _CKPT_DIR_FOR[id(sc)] = ckpt_dir
    return True


def _jsc(spark: SparkSession):
    """The JavaSparkContext, or None on sessions without JVM access
    (Spark Connect): there the helpers degrade to plain eager
    localCheckpoint with no-op retirement — correctness is unchanged,
    only the block hygiene is lost."""
    try:
        return spark.sparkContext._jsc
    except Exception:  # noqa: BLE001  (Connect raises on sparkContext)
        return None


_RDD_LEAVES = ("LogicalRDD", "ExternalRDD")


def owned_ids(df: DataFrame) -> list:
    """The persisted RDD ids `df` reads: the RDD leaves of its analyzed
    plan whose RDD is in the context's persistent set, in plan order
    without repeats (a self-join reads one id twice). A checkpoint is
    a `LogicalRDD` leaf; a frame made from a typed RDD, such as an ALS
    model's factor frames over their cached factor RDDs, is an
    `ExternalRDD` leaf. `leaf.rdd()` is the JVM plan node's RDD
    handle, read for its id only: no rows reach Python."""
    jsc = _jsc(df.sparkSession)
    if jsc is None:
        return []
    persistent = jsc.getPersistentRDDs()
    ids: list = []
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() not in _RDD_LEAVES:
            continue
        rid = leaf.rdd().id()
        if rid not in ids and persistent.containsKey(rid):
            ids.append(rid)
    return ids


def checkpoint_rotate(
    df: DataFrame, retire: "list | tuple" = ()
) -> "tuple[DataFrame, list]":
    """Eagerly checkpoint `df`, then unpersist the checkpoint ids in
    `retire` (ids from a previous call's return). Returns
    (checkpointed_df, owned_ids(checkpointed_df)) — thread the ids
    through the loop and retire each round's ids when the next round's
    checkpoint lands."""
    if _reliable(df):
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=True)
    retire_ids(df.sparkSession, retire)
    return out, owned_ids(out)


def broadcast_if_small(df: DataFrame, rows: int) -> DataFrame:
    """`F.broadcast(df)` when `rows` (a measured row count, or a bound
    on it) times Spark's per-row size estimate (8 bytes plus the
    schema's `defaultSize`, as `EstimationUtils.getSizePerRow` counts
    it) is under both `spark.sql.autoBroadcastJoinThreshold` and
    `spark.sql.adaptive.autoBroadcastJoinThreshold`; otherwise `df`
    unchanged. A hint overrides the thresholds, so they are read here:
    a negative threshold (broadcasts disabled) or a side over either
    one keeps the planner's choice, and so does a session without JVM
    access (Spark Connect), where the thresholds cannot be read."""
    try:
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        sql_conf = df.sparkSession._jvm.org.apache.spark.sql.internal.SQLConf
        width = 8 + df._jdf.schema().defaultSize()
    except AttributeError:
        return df
    limits = [conf.autoBroadcastJoinThreshold()]
    adaptive = conf.getConf(sql_conf.ADAPTIVE_AUTO_BROADCASTJOIN_THRESHOLD())
    if adaptive.isDefined():
        limits.append(adaptive.get())
    if min(limits) < 0 or rows * width >= min(limits):
        return df
    return F.broadcast(df)


def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint(eager=False): the LOGICAL plan caps immediately
    (LogicalRDD), but blocks materialize only in the first job that
    reads the frame — so when the next step of a loop is itself a job
    over the frame (k-core's eager degree checkpoint over the peeled
    edge list, label propagation's final round), the checkpoint lands
    in that job instead of one of its own. The frame owns its id from
    construction on (`owned_ids`). Honors the reliable-checkpoint
    escape hatch like checkpoint_rotate."""
    if _reliable(df):
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def attributed(df: DataFrame, action):
    """Run `action` — the FIRST action over a frame built from
    lazy_checkpoint, which materializes its blocks — and return
    (action result, owned_ids(df)): the ids to retire once the next
    round's frame has superseded `df`. No package code calls it any
    more; it stays because perfbench/suite.py wraps it by name
    (tests/test_contract.py)."""
    return action(), owned_ids(df)


def retire_ids(spark: SparkSession, ids) -> None:
    """Unpersist specific checkpoint ids (a superseded round, or a
    returned frame's `owned_ids` once its consumer has materialized
    it)."""
    jsc = _jsc(spark)
    if jsc is None:
        return
    jmap = jsc.getPersistentRDDs()
    for rid in ids:
        r = jmap.get(rid)
        if r is not None:
            r.unpersist(False)


def unpersist_all(spark: SparkSession) -> int:
    """Free every persisted/checkpointed RDD on the context. Harness
    hygiene between independent queries (bench, long-running drivers):
    SEQUENTIAL-ONLY — no live query, stream, or concurrent rep may be
    mid-flight anywhere on this context, since this frees blocks it
    does not own (a live lineage-truncated checkpoint dies for good).
    Returns the number retired."""
    try:
        # drop SQL-cache-manager entries too: persist()-barrier entries
        # (e.g. graph_label_propagation's round caches) register both
        # an InMemoryRelation and a persistent RDD — retiring only the
        # RDD leaves a stale cache entry that silently re-caches on the
        # next same-plan query.
        spark.catalog.clearCache()
    except Exception:  # noqa: BLE001  (Connect sessions: best-effort)
        pass
    jsc = _jsc(spark)
    if jsc is None:
        return 0
    jmap = jsc.getPersistentRDDs()
    ids = list(jmap.keySet().toArray())
    for rid in ids:
        r = jmap.get(rid)
        if r is not None:
            r.unpersist(False)
    return len(ids)
