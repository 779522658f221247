"""Bucketed tables and skew handling — the 100 TB co-location toolkit
(SURVEY §1.4 / §4: the reference's btree indexes become layout).

- Bucketing: persist both sides of a recurring join bucketed by the
  join key; Spark then plans a sort-merge join with NO Exchange on
  either side (co-located join). At 100 TB this removes the dominant
  shuffle of every fact-fact join that repeats per run.
- Salting: explicit skew mitigation for aggregations whose key
  distribution is pathological (one hot key melting one reducer).
  AQE's skewJoin handles the join case at runtime; salted two-phase
  aggregation handles the groupBy case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def save_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed (+ optionally sorted) managed table."""
    w = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


def salted_agg(
    df: DataFrame,
    key: str,
    agg_exprs: list,
    salt_buckets: int = 8,
) -> DataFrame:
    """Two-phase skew-safe aggregation: spread each key over
    salt_buckets partial groups, then merge. Only valid for
    algebraic aggregates (sum/count/min/max) — the partial results
    passed in agg_exprs must re-aggregate with the merge exprs the
    caller supplies via a second groupBy; this helper handles the
    common sum/count case."""
    salted = df.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    partial = salted.groupBy(key, "__salt").agg(*agg_exprs)
    merge = []
    for c in partial.columns:
        if c in (key, "__salt"):
            continue
        if c.startswith("cnt_") or c == "n":
            merge.append(F.sum(c).alias(c))
        elif c.startswith("sum_"):
            merge.append(F.sum(c).alias(c))
        elif c.startswith("min_"):
            merge.append(F.min(c).alias(c))
        elif c.startswith("max_"):
            merge.append(F.max(c).alias(c))
        else:
            raise ValueError(
                f"salted_agg: column {c!r} needs an algebraic prefix "
                "(n/cnt_/sum_/min_/max_) so the merge phase is well-defined"
            )
    return partial.groupBy(key).agg(*merge)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 8,
    fact_salt_col: str | None = None,
) -> DataFrame:
    """Skew-safe equi-join for a fact table whose join key is hot:
    replicate the (small/medium) dim side salt_buckets times and give
    each fact row a deterministic salt, so one hot key spreads over
    salt_buckets reducers instead of one straggler task.

    The fact salt must be deterministic for oracle parity — derived
    from `fact_salt_col` (a unique row id; defaults to the first
    column) via md5-hex-digit arithmetic (two digits = 256 raw buckets,
    so salt_buckets up to 256; pick a divisor of 256 for perfectly
    uniform spread — a non-divisor skews shares by at most 1/256), not
    rand(). Result set is EXACTLY the plain join's (replication only
    multiplies the dim side, and each fact row matches exactly its own
    salt's replica).

    Use when AQE's skew-join split can't fire: the downstream operator
    needs the join's partitioning, the payload compresses too well for
    the byte-based detector, or the engine runs without AQE.

    The replicated-dim side carries a SHUFFLE_HASH hint (r13). Without
    it the join strategy follows the two sides' size estimates, and
    those depend on how the dim was built, not on the salting: a dim
    with no size estimate once made the planner pick BuildLeft and
    BROADCAST THE FACT TABLE (measured at sf0.1: the whole events
    projection collected to the driver, 3.0s, single-threaded; at
    100 TB a driver OOM). A driver-built dim is now an Arrow local
    relation (``core.local_frame``), which does carry an estimate; the
    hint stays so that the plan does not move with it. It pins the
    exact shape salting exists to produce: both sides exchange on
    (key, __salt) — the fact shuffled ONCE, each hot key spread over
    salt_buckets reducers — and the per-partition hash table is built
    from the tiny dim replicas, no sort (guide §3.1).
    """
    if not 1 <= salt_buckets <= 256:
        raise ValueError("salt_buckets must be in [1, 256] (two md5 hex digits)")
    sc = fact_salt_col or fact.columns[0]
    from ..llm.prep import md5_bucket

    f = fact.withColumn(
        "__salt", (md5_bucket(F.col(sc), n_digits=2) % salt_buckets).cast("int")
    )
    replicas = dim.crossJoin(
        F.broadcast(
            f.sparkSession.range(salt_buckets).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    return f.join(replicas.hint("shuffle_hash"), [key, "__salt"]).drop("__salt")
