"""Graph operators beyond connected components (llm/cluster.py):
join-based PageRank with the same adaptive small-graph strategy.

Design notes (100 TB posture):
- The distributed path shuffles only on the node key: contributions =
  edges x ranks equi-join on src, new ranks = teleport + damped
  incoming sum. The edge relation (with out-degrees) is materialized
  once with localCheckpoint — without it, every round re-executes the
  edge-derivation plan (here a 4-way join) — and the rank table is
  checkpointed per round to cap lineage growth, the
  connected-components discipline (llm/cluster.py:116).
- The small-graph path proves the edge list is small with a bounded
  take(threshold + 1) (CollectLimit executes incrementally — not a
  full scan of a 100 TB edge list), then runs the power iteration on
  the driver over edge ENDPOINTS only. Nodes that never receive an
  edge hold the constant teleport rank (1 - d)/n after the first
  round, so the full node set never leaves the cluster: the endpoint
  ranks are broadcast back and left-joined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ckpt import checkpoint_rotate, retire_ids
from .core import local_frame


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    stats: dict | None = None,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """nodes: one column `node`; edges: columns (src, dst), directed,
    assumed distinct. Returns (node, rank) after `iterations` rounds of
    rank = (1-d)/n + d * sum(rank_src / outdeg_src); dangling mass is
    dropped (not redistributed) — the oracle must implement the same
    convention. Deterministic up to float addition order; round the
    result before exact comparison. iterations must be >= 1 (the local
    path's constant-teleport shortcut for non-endpoint nodes assumes
    at least one round)."""
    if iterations < 1:
        raise ValueError("pagerank requires iterations >= 1")
    spark = nodes.sparkSession

    raw = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    if small_graph_threshold > 0:
        taken = raw.take(small_graph_threshold + 1)
    else:
        taken = []

    if small_graph_threshold > 0 and len(taken) <= small_graph_threshold:
        # Driver power iteration over endpoints only. Rank lives ONLY on
        # endpoints that are actual members of `nodes` — the distributed
        # path seeds ranks from `nodes` and drops mass arriving at
        # non-node dsts, so an edge endpoint outside `nodes` must neither
        # hold nor emit rank here either (it still counts toward its
        # source's out-degree, exactly like deg in the distributed path).
        # Membership and the node count come from ONE pass over the
        # node table (r14 session 2 — previously a count job plus a
        # semi-join job): a broadcast mark-join against the endpoint
        # list feeds a single aggregate whose collect_list holds at
        # most |endpoints| ids (the null-skipping when() drops
        # non-endpoints), never the full node table.
        from collections import defaultdict

        out: dict = defaultdict(list)
        endpoints: set = set()
        for r in taken:
            out[r.src].append(r.dst)
            endpoints.add(r.src)
            endpoints.add(r.dst)
        if endpoints:
            ep_df = local_frame(
                spark, [(int(u),) for u in sorted(endpoints)], "node long"
            )
            probe_df = (
                nodes.select(F.col("node").cast("long").alias("node"))
                .join(
                    F.broadcast(ep_df.withColumn("__m", F.lit(1))),
                    "node",
                    "left",
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.collect_list(
                        F.when(F.col("__m") == 1, F.col("node"))
                    ).alias("members"),
                )
            )
            prow = probe_df.collect()[0]
            n_nodes = int(prow["n"])
            members = set(prow["members"])
        else:
            n_nodes = nodes.agg(F.count(F.lit(1)).alias("n")).collect()[0][0]
            members = set()
        teleport = (1.0 - damping) / n_nodes
        rank = {u: 1.0 / n_nodes for u in members}
        for _ in range(iterations):
            incoming: dict = defaultdict(float)
            for u, dsts in out.items():
                if u not in rank:
                    continue
                share = rank[u] / len(dsts)
                for v in dsts:
                    incoming[v] += share
            rank = {u: teleport + damping * incoming.get(u, 0.0) for u in members}
        if stats is not None:
            stats["strategy"] = "local"
        if not rank:
            return nodes.select("node", F.lit(teleport).alias("rank"))
        mdf = local_frame(
            spark, [(int(u), float(v)) for u, v in rank.items()], "node long, rank double"
        )
        # non-endpoint nodes: no incoming mass ever -> constant teleport
        return (
            nodes.join(F.broadcast(mdf), "node", "left")
            .select("node", F.coalesce("rank", F.lit(teleport)).alias("rank"))
        )

    if stats is not None:
        stats["strategy"] = "distributed"
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n")).collect()[0][0]
    teleport = (1.0 - damping) / n_nodes
    # checkpoint the raw edge list before the degree join references
    # it twice (build + probe side), then retire it once the joined
    # edge relation lands; the node set is checkpointed too — the
    # rank update re-derives it EVERY round otherwise
    raw, raw_ids = checkpoint_rotate(raw)
    deg = raw.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e, e_ids = checkpoint_rotate(raw.join(deg, "src"), retire=raw_ids)
    nodes, node_ids = checkpoint_rotate(nodes.select("node"))
    ranks, rank_ids = checkpoint_rotate(
        nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    )
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("m"))
        )
        # each round's rank checkpoint supersedes the previous one —
        # retire it so executor storage holds TWO rank tables (old
        # feeding the join, new just landed), never `iterations` copies
        ranks, rank_ids = checkpoint_rotate(
            nodes.join(contribs, nodes.node == contribs.dst, "left").select(
                "node",
                (
                    F.lit(teleport) + damping * F.coalesce(F.col("m"), F.lit(0.0))
                ).alias("rank"),
            ),
            retire=rank_ids,
        )
    # the returned plan reads only the FINAL rank checkpoint, which
    # stays live until the caller has materialized it (ckpt.owned_ids)
    retire_ids(nodes.sparkSession, e_ids + node_ids)
    return ranks
