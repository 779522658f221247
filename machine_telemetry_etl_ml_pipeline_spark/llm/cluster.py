"""Dedup cluster formation: connected components over near-duplicate
pairs (north-star extension — the transitive-closure stage that turns
pairwise LSH/Jaccard hits into keep-one-per-cluster decisions).

Spark-first algorithm: iterative min-label propagation (the Pregel /
large-star idea expressed in DataFrame joins):

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated until fixpoint, PLUS a pointer-jumping step per round
(label(v) <- label(label(v)), the path-halving idea from classic
PRAM connectivity / Hash-to-Min): neighbor propagation alone moves the
min label one hop per round (O(diameter) rounds — a 100-link chain
would blow any sane iteration cap), while label-of-label doubles the
propagation distance, giving O(log diameter) rounds overall (validated
by the chain-graph property test in tests/test_llm_ops.py).
Each round is two joins + one aggregation — all partial-aggregable.
Every round's result is checkpointed via localCheckpoint() so the
lineage does not grow unboundedly across iterations — the classic
iterative-algorithm failure mode on Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.ckpt import checkpoint_rotate, retire_ids
from ..operators.core import local_frame


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    stats: dict | None = None,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """nodes: one column `id_col`; edges: columns (a, b), undirected.

    Returns (id_col, component) where component = min node id reachable
    — deterministic, so oracle-comparable against a recursive-CTE
    transitive closure. If `stats` is passed, stats["iterations"] is
    set to the number of rounds actually run (for convergence tests)
    and stats["strategy"] to "local" or "distributed".

    Adaptive strategy (the broadcast-join idea applied to graphs): when
    the RAW edge count is under `small_graph_threshold`, the component
    mapping is solved with a driver-side union-find over the edge
    ENDPOINTS only and broadcast back — one join instead of
    O(log diameter) iterative rounds. The mapping size is bounded by
    2x edges, never by the node count, so the node side stays fully
    distributed at any scale; graphs over the threshold run the
    iterative loop unchanged. Pass small_graph_threshold=0 to force
    the distributed path (tests do).
    """
    spark = nodes.sparkSession

    # Size probe + small-graph fetch in ONE job: take(threshold+1) on
    # the raw edges either returns the complete edge list (small graph
    # -> feed union-find directly, no symmetrize/distinct shuffle, no
    # separate count or checkpoint jobs — was 3 jobs before) or proves
    # the graph is big after scanning only the first few partitions
    # (CollectLimit executes incrementally, so this is NOT a full pass
    # over a 100 TB edge list).
    raw = edges.select(F.col("a").cast("long"), F.col("b").cast("long"))
    taken = (
        raw.take(small_graph_threshold + 1) if small_graph_threshold > 0 else []
    )

    if small_graph_threshold > 0 and len(taken) <= small_graph_threshold:
        # Local strategy: union-find over edge endpoints (duplicates and
        # orientation don't matter), broadcast the (endpoint ->
        # component-min) mapping, one left join for the full node set.
        # Non-endpoint nodes are their own component.
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in taken:
            ra, rb = find(row.a), find(row.b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        mapping = [(x, find(x)) for x in list(parent)] + [
            (r, r) for r in set(map(find, parent)) if r not in parent
        ]
        if stats is not None:
            stats["iterations"] = 0
            stats["strategy"] = "local"
        if not mapping:
            return nodes.select(
                F.col(id_col), F.col(id_col).cast("long").alias("component")
            )
        mdf = local_frame(spark, mapping, "u long, mapped long")
        return (
            nodes.select(F.col(id_col).alias("u"))
            .join(F.broadcast(mdf), "u", "left")
            .select(
                F.col("u").alias(id_col),
                F.coalesce("mapped", F.col("u").cast("long")).alias("component"),
            )
        )

    # materialize once: the edge list is re-joined every round, and
    # without this its full upstream lineage (e.g. the MinHash-LSH
    # pipeline that produced the pairs) re-executes per iteration
    sym, sym_ids = checkpoint_rotate(
        raw.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(raw.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
    )
    labels = nodes.select(F.col(id_col).alias("u"), F.col(id_col).cast("long").alias("label"))

    # Size the iteration's shuffles to the MEASURED edge volume (sym is
    # already materialized, so the count is free): tiny graphs at the
    # session's full shuffle width pay ~rounds * stages * partitions in
    # pure task-scheduling overhead (measured 2x wall at sf0.1). Clamped
    # to the session default on the high side, so a 100 TB edge list
    # keeps its full width. Applied per-plan via explicit repartition on
    # the round's join/agg keys — NOT by mutating the session-global
    # shuffle-partitions conf, which would clamp any concurrent query
    # sharing the SparkSession.
    try:
        default_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):  # e.g. "auto" on some platforms
        default_parts = 200
    n_edges = sym.count()
    iter_parts = max(4, min(default_parts, n_edges // 200_000 + 1))
    # Pre-partition the static edge side once on the join key: every
    # round's neighbor join then reuses this exchange instead of
    # re-shuffling the edge list at session width per iteration.
    sym = sym.repartition(iter_parts, "v")
    rounds = 0
    round_ids: list = []
    for _ in range(max_iterations):
        rounds += 1
        neighbor_min = (
            sym.join(
                labels.withColumnRenamed("u", "v2").repartition(iter_parts, "v2"),
                sym.v == F.col("v2"),
            )
            .repartition(iter_parts, "u")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        prop = labels.repartition(iter_parts, "u").join(
            neighbor_min, "u", "left"
        ).select(
            "u",
            F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                "mid_label"
            ),
            "label",
        )
        # Pointer jump (path halving): follow the label chain one
        # more hop — label(label(u)). Labels are node ids, so the
        # jump table is `prop` itself keyed by u. This is what turns
        # O(diameter) convergence into O(log diameter) on chains.
        jump = prop.select(
            F.col("u").alias("mid_label"), F.col("mid_label").alias("jmp_label")
        )
        updated = (
            prop.repartition(iter_parts, "mid_label")
            .join(jump.repartition(iter_parts, "mid_label"), "mid_label", "left")
            .select(
                "u",
                F.least(
                    F.col("mid_label"), F.coalesce("jmp_label", F.col("mid_label"))
                ).alias("new_label"),
                "label",
            )
        )
        # checkpoint BEFORE the convergence check so the round's
        # joins run once (counting first would recompute them), and
        # retire the round it supersedes — only the newest label
        # frame is reachable, so keeping older rounds' blocks is a
        # pure leak (operators/ckpt.py has the measurement)
        updated, round_ids = checkpoint_rotate(updated, retire=round_ids)
        changed = updated.filter(F.col("new_label") < F.col("label")).limit(1).count()
        labels = updated.select("u", F.col("new_label").alias("label"))
        if changed == 0:
            break
    if stats is not None:
        stats["iterations"] = rounds
    # the returned plan reads only the FINAL label checkpoint — the
    # zero-round `labels` derives from `nodes` alone and the looped
    # one from the last round's checkpoint, so sym's blocks can go
    # unconditionally (round_ids stay: they back the returned frame
    # until the caller has materialized it; ckpt.owned_ids).
    retire_ids(spark, sym_ids)
    return labels.select(F.col("u").alias(id_col), F.col("label").alias("component"))


def dedup_by_component(components: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep-one-per-cluster: the representative is the component label
    itself (min id), so this is a pure distinct on the label column."""
    return components.select(F.col("component").alias(id_col)).distinct()
