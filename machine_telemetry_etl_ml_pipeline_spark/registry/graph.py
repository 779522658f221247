"""``graph_*`` entries: graph analytics over graphs derived from the star
schema.

PageRank runs over the nation trade graph; the rest run over the
customer co-purchase graph built by ``_copurchase_edges``: triangles,
clustering coefficients, BFS distances, weighted shortest paths, label
propagation, k-core peeling, common neighbours and degree
assortativity. Iterative algorithms checkpoint each round
(``operators.ckpt``) and round per-step aggregates so both engines
converge to identical values.
"""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.ckpt import (
    broadcast_if_small,
    checkpoint_rotate,
    lazy_checkpoint,
    owned_ids,
    retire_ids,
)
from ..operators.core import local_frame
from . import _t, register


# --- PageRank over the nation trade graph ------------------------------------

_PR_DAMPING = 0.85


_PR_ITERS = 10


_PR_EDGES_SQL = """
    SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
"""


def _pagerank_oracle() -> str:
    """Chained-CTE oracle: pr0..pr{N} unrolled (DuckDB recursive CTEs
    disallow aggregation in the recursive term, so the fixed iteration
    count is expressed as N chained join+aggregate steps — exactly the
    plan the Spark side builds)."""
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f"""pr{i} AS (
      SELECT n.node,
             (1.0 - {_PR_DAMPING}) / nn.n
               + {_PR_DAMPING} * coalesce(s.m, 0.0) AS rank
      FROM nodes n CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst, sum(p.rank / e.deg) AS m
        FROM e JOIN pr{i - 1} p ON p.node = e.src
        GROUP BY e.dst
      ) s ON s.dst = n.node
    )"""
        )
    return f"""
    WITH edges AS ({_PR_EDGES_SQL}),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    e AS (SELECT src, dst, deg FROM edges JOIN deg USING (src)),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    nn AS (SELECT count(*) AS n FROM nodes),
    pr0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
    {",".join(steps)}
    SELECT node AS nationkey, round(rank, 6) AS pagerank FROM pr{_PR_ITERS}
    """


@register("graph_pagerank", _pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (d=0.85, 10 rounds) over the
    customer-nation -> supplier-nation trade graph, via the adaptive
    operator (operators/graph.pagerank): a bounded take() proves this
    25-node graph small, so the power iteration runs on the driver
    over edge endpoints and broadcasts back — one join instead of 10
    checkpointed rounds (the connected-components strategy,
    llm/cluster.py). Graphs over the threshold run the distributed
    join-based loop; the oracle (chained-CTE, 6dp) and the forced-
    distributed pytest pin both paths to identical results."""
    from ..operators.graph import pagerank

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    # r14 session 2 (guide §3.1): the planner's size estimate had been
    # BROADCASTING the 600k-row lineitem projection into the orderkey
    # join (BuildRight over the biggest table — a single-task build of
    # a 600k-entry hash relation locally, and a driver-OOM shape if
    # trusted at scale). The SHUFFLE_HASH hint on the orders-side
    # projection shuffles both fact projections by orderkey and
    # hash-builds the SMALLER side per partition — no data-sized
    # broadcast at any SF, dims stay auto-broadcast. A/B at sf0.1
    # (6 interleaved reps, identical 625-pair edge set): 0.863 s ->
    # 0.658 s min, every rep pairwise faster.
    osrc = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("o_orderkey", F.col("c_nationkey").alias("src"))
        .hint("shuffle_hash")
    )
    edges = (
        li.join(osrc, li.l_orderkey == osrc.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select("src", F.col("s_nationkey").alias("dst"))
        .distinct()
    )
    nodes = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node")
    )
    ranks = pagerank(nodes, edges, iterations=_PR_ITERS, damping=_PR_DAMPING)
    return ranks.select(
        F.col("node").alias("nationkey"), F.round("rank", 6).alias("pagerank")
    )


def _copurchase_edges(spark, sf_dir):
    """Sparse undirected customer co-purchase graph: edge (u < v) iff
    two customers bought the same part the same week. Pair generation
    is keyed on (part, week), whose group sizes stay ~constant as SF
    grows (parts scale with lineitems), so edges grow LINEARLY with
    input — the property that keeps the triangle/BFS joins bounded."""
    from ..operators.core import ordered_pairs

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", F.date_trunc("week", F.col("l_shipdate")).alias("wk")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    grp = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("cust"),
        F.col("l_partkey").alias("part"),
        "wk",
    )
    # r14 (guide §2.3/§2.4): still ONE (part, wk)-keyed exchange, but
    # the r13 collect_set ran an ObjectHashAggregate over ~500k
    # near-singleton groups — per-group OpenHashSet buffers on rows
    # that are almost all already unique, measured ~1s of pure
    # aggregation overhead at sf0.1. Now the exchange is an explicit
    # repartition on (part, wk); hashpartitioning(part, wk) satisfies
    # the clustering requirement of BOTH downstream aggregations
    # (partitioning keys ⊆ grouping keys), so the (part, wk, cust)
    # dedup runs as an in-partition codegen HashAggregate and the
    # collect_list — over now-unique rows, no per-element set probe —
    # needs no exchange of its own. A/B (4 interleaved noop reps,
    # min): 2.19s (r13 collect_set) / 1.60s (dedup-then-list, 2
    # exchanges) / 1.22s (this shape). Group arrays stay bounded:
    # per-part weekly buyer counts ~1-2 here, ~constant in SF — the
    # sparsity argument the edge-linearity claim rests on
    # (tests/test_ext9.py pins the occupancy bound).
    buckets = (
        grp.repartition("part", "wk")
        .groupBy("part", "wk", "cust")
        .agg(F.lit(1).alias("_o"))
        .drop("_o")
        .groupBy("part", "wk")
        .agg(F.sort_array(F.collect_list("cust")).alias("cs"))
    )
    return (
        buckets.filter(F.size("cs") >= 2)
        .select(F.explode(ordered_pairs("cs")).alias("p"))
        .select(F.col("p.a").alias("u"), F.col("p.b").alias("v"))
        .distinct()
    )


_COPURCHASE_EDGES_SQL = """
    base AS (
      SELECT o.o_custkey AS cust, l.l_partkey AS part,
             date_trunc('week', l.l_shipdate) AS wk
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    grp AS (SELECT DISTINCT cust, part, wk FROM base),
    edges AS (
      SELECT DISTINCT a.cust AS u, b.cust AS v
      FROM grp a JOIN grp b
        ON a.part = b.part AND a.wk = b.wk AND a.cust < b.cust
    )
"""


@register(
    "graph_triangle_count",
    f"""
    WITH {_COPURCHASE_EDGES_SQL},
    wedge AS (
      SELECT e1.u AS u, e2.v AS w
      FROM edges e1 JOIN edges e2 ON e1.v = e2.u
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM wedge t JOIN edges e3 ON t.u = e3.u AND t.w = e3.v
    )
    SELECT (SELECT CAST(count(DISTINCT x) AS BIGINT)
            FROM (SELECT u AS x FROM edges UNION SELECT v FROM edges)) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Distributed triangle counting on the customer co-purchase graph
    (edge = two customers bought the same part the same week). The
    graph is sparse BY CONSTRUCTION: pair generation is keyed on
    (part, week), whose group sizes are bounded by per-part weekly
    buyer counts (~1-2 in this data and roughly constant as SF grows,
    since parts scale with lineitems) — so edges grow linearly with
    input, never quadratically. Counting uses the ordered-triple
    method (u < v < w): an equi-join builds wedges keyed on the middle
    vertex, a second equi-join closes them, so each triangle is
    counted exactly once and the intermediate is Sum(deg_in*deg_out),
    bounded by the sparse degree distribution — the same shape
    GraphX/Pregel triangle counting shuffles. The two 1-row count
    aggregates combine via a broadcast cross join. The edge list is
    checkpointed once: the counting plan references it FOUR times
    (e1/e2/e3 + the node count) and would re-derive the
    pair-generation build per branch (measured 1.3x on the entry).
    The checkpoint's own job observes the edge count, which sizes the
    closing joins and is the output's `n_edges` (`count_triangles`). The lazy plan is returned — the
    r7 eager collect-and-rebuild cost 20% in the isolated A/B
    (SCALE.md §Triangle-count eager-collect A/B: eager 2.94s vs lazy
    2.45s min-of-3 at sf0.1), so the returned frame owns the
    checkpoint's blocks (ckpt.owned_ids) until the consumer has
    materialized it (bench's between-query sweep covers them too)."""
    obs = Observation()
    e, _ = checkpoint_rotate(
        _copurchase_edges(spark, sf_dir).observe(obs, F.count("*").alias("n_edges"))
    )
    return count_triangles(e, obs.get["n_edges"])


def count_triangles(edges, n_edges: int):
    """Ordered-triple triangle count over an (u, v) edge frame with
    u < v, assumed distinct, whose row count `n_edges` the caller has
    measured. Returns 1 row (n_nodes, n_edges, n_triangles), with
    `n_edges` the caller's count. The two closing joins broadcast the
    edge list when `n_edges` puts it under the broadcast threshold
    (`ckpt.broadcast_if_small`) instead of shuffling it for a
    sort-merge plan that AQE demotes after the fact. Property-fuzzed against brute force on random graphs in
    tests/test_properties.py."""
    build = broadcast_if_small(edges, n_edges)
    e1, e2, e3 = edges.alias("e1"), build.alias("e2"), build.alias("e3")
    wedge = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .select(F.col("e1.u").alias("u"), F.col("e2.v").alias("w"))
        .alias("t")
    )
    tri = wedge.join(
        e3, (F.col("t.u") == F.col("e3.u")) & (F.col("t.w") == F.col("e3.v"))
    ).agg(F.count("*").alias("n_triangles"))
    nodes = (
        edges.select(F.col("u").alias("x"))
        .union(edges.select(F.col("v").alias("x")))
        .agg(F.countDistinct("x").alias("n_nodes"))
    )
    return nodes.crossJoin(tri).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
    )


@register(
    "graph_bfs_distances",
    f"""
    WITH RECURSIVE {_COPURCHASE_EDGES_SQL},
    sym AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    src AS (SELECT min(u) AS s FROM edges),
    walk(node, d) AS (
      SELECT s, 0 FROM src
      UNION
      SELECT e.v, w.d + 1
      FROM walk w JOIN sym e ON e.u = w.node
      WHERE w.d < 8
    ),
    dist AS (SELECT node, min(d) AS d FROM walk GROUP BY node),
    endpoints AS (SELECT DISTINCT u AS node FROM sym)
    SELECT CAST(coalesce(d.d, -1) AS BIGINT) AS distance,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM endpoints e LEFT JOIN dist d USING (node)
    GROUP BY coalesce(d.d, -1)
    """,
)
def graph_bfs_distances(spark, sf_dir):
    """Single-source BFS hop distances (capped at 8) over the sparse
    co-purchase graph, from the smallest edge endpoint; output is the
    distance histogram with -1 for endpoints unreached within the cap.
    Distributed frontier expansion: each round joins ONLY the frontier
    against the symmetrized edge list (shuffle bounded by frontier x
    avg-degree), anti-joins already-settled nodes, and localCheckpoints
    both sides — the lineage-capping discipline of connected components
    (llm/cluster.py) and PageRank (operators/graph.py). 8 fixed rounds,
    no driver-side convergence checks: empty frontiers make later
    rounds no-ops. The oracle is the capped recursive-CTE walk whose
    UNION dedups (node, depth) pairs, so it explores levels, not
    paths."""
    return bfs_distance_histogram(_copurchase_edges(spark, sf_dir), cap=8)


def bfs_distance_histogram(edges, cap: int = 8):
    """Distributed BFS over an undirected (u, v) edge frame from its
    smallest endpoint: returns the hop-distance histogram with -1 for
    endpoints unreached within `cap`. Property-fuzzed against a Python
    walk on random graphs in tests/test_properties.py."""
    # two-step edge materialization: the symmetrize union and the
    # source-seed aggregate reference `edges` three times between
    # them — checkpoint the directed list once, derive both from the
    # cached blocks, then retire it (sym + the seed supersede it)
    edges, e_ids = checkpoint_rotate(edges)
    sym, _ = checkpoint_rotate(
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    dist, dist_ids = checkpoint_rotate(
        edges.agg(F.min("u").alias("node")).select(
            "node", F.lit(0).alias("distance")
        ),
        retire=e_ids,
    )
    frontier = dist.select("node")
    new_ids: list = []
    for i in range(1, cap + 1):
        cand = (
            frontier.alias("f")
            .join(sym.alias("e"), F.col("f.node") == F.col("e.u"))
            .select(F.col("e.v").alias("node"))
            .distinct()
        )
        # the new frontier supersedes the previous round's (consumed
        # by the cand join just executed) — rotate its blocks out
        new, new_ids = checkpoint_rotate(
            cand.join(dist, "node", "left_anti").select(
                "node", F.lit(i).alias("distance")
            ),
            retire=new_ids,
        )
        # early exit on a settled frontier: isEmpty on the just-
        # materialized checkpoint is a metadata-cheap probe, and the
        # remaining rounds would be join/checkpoint no-ops — identical
        # result, fewer jobs (the graph's diameter is usually < cap)
        if new.isEmpty():
            break
        dist, dist_ids = checkpoint_rotate(dist.union(new), retire=dist_ids)
        frontier = new.select("node")
    # the returned plan reads only sym + the FINAL dist checkpoint;
    # the last frontier's blocks are no longer reachable. sym/dist
    # must outlive the return: the returned frame owns them
    # (ckpt.owned_ids) until the caller has materialized it.
    retire_ids(edges.sparkSession, new_ids)
    endpoints = sym.select(F.col("u").alias("node")).distinct()
    return (
        endpoints.join(dist, "node", "left")
        .select(F.coalesce(F.col("distance"), F.lit(-1)).cast("long").alias("distance"))
        .groupBy("distance")
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )


# --- graph: K-round synchronous min-label propagation -----------------------


@register(
    "graph_label_propagation",
    f"""
    WITH {_COPURCHASE_EDGES_SQL},
    sym AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    nodes AS (SELECT DISTINCT u AS node FROM sym),
    l0 AS (SELECT node, node AS lbl FROM nodes),
    l1 AS (SELECT t.node, min(t.l) AS lbl FROM (
             SELECT node, lbl AS l FROM l0
             UNION ALL
             SELECT e.u AS node, c.lbl AS l FROM sym e JOIN l0 c ON c.node = e.v
           ) t GROUP BY t.node),
    l2 AS (SELECT t.node, min(t.l) AS lbl FROM (
             SELECT node, lbl AS l FROM l1
             UNION ALL
             SELECT e.u AS node, c.lbl AS l FROM sym e JOIN l1 c ON c.node = e.v
           ) t GROUP BY t.node),
    l3 AS (SELECT t.node, min(t.l) AS lbl FROM (
             SELECT node, lbl AS l FROM l2
             UNION ALL
             SELECT e.u AS node, c.lbl AS l FROM sym e JOIN l2 c ON c.node = e.v
           ) t GROUP BY t.node)
    SELECT CAST(lbl AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS size,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node
    FROM l3 GROUP BY lbl
    """,
)
def graph_label_propagation(spark, sf_dir):
    """Synchronous min-label propagation, exactly 3 rounds, over the
    sparse co-purchase graph: label(v) starts as v and each round
    becomes min(own, neighbors') — the bounded-round community /
    connected-component primitive (3 rounds label everything within
    graph distance 3 of each component minimum). Fully deterministic
    with no tiebreak convention needed (min over a set), so the
    unrolled oracle checks every intermediate frontier bit-for-bit —
    the stricter cousin of llm/cluster.py's run-to-convergence pointer
    jumping, whose per-round step this validates. Scale shape: each
    round is one equi-join edge->labels plus a groupBy-min, both keyed
    on node — K rounds = K shuffles on the same key, and a real
    deployment reuses one hash partitioning across all rounds (the
    pointer-jumping doubling in cluster.py cuts the round count to
    log(diameter) when convergence, not a fixed budget, is the goal)."""
    # materialize the (linear-sized) edge list once — without this
    # every round's join replays the lineitem-orders pair-generation
    # (4x rebuild; bench: 4.1s -> this is the fix). r14 session 2:
    # the whole construction is now ONE eager job instead of four.
    # Every intermediate (edges, sym, rounds 0-1) is a LAZY
    # localCheckpoint — each caps the logical plan immediately, so no
    # round's plan nests an earlier round's — and the single eager
    # checkpoint of the FINAL round materializes the entire chain in
    # one job (upstream lazy-checkpoint blocks land as a side effect,
    # as graph_k_core's peel lands under the next round's degree
    # checkpoint).
    # A/B at sf0.1, 7 interleaved reps, identical outputs at
    # sf0.001/sf0.01: 4-job shape min 1.797 s vs fused 1.725 s (and
    # an intermediate 2-job variant was a wash at 1.794) — the win is
    # three saved scheduling round-trips; at 100 TB the materialized
    # bytes are identical. A lazy checkpoint owns its block id from
    # construction on, so `spent` collects the ids of edges, sym and
    # both intermediate rounds for retirement once the final eager
    # checkpoint has landed.
    edges = lazy_checkpoint(
        _copurchase_edges(spark, sf_dir).select("u", "v")
    )
    sym = lazy_checkpoint(
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    spent = owned_ids(edges) + owned_ids(sym)
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for i in range(3):
        neigh = sym.join(
            labels.withColumnRenamed("node", "v2").withColumnRenamed("lbl", "l"),
            F.col("v") == F.col("v2"),
        ).select(F.col("u").alias("node"), "l")
        labels = (
            labels.select("node", F.col("lbl").alias("l"))
            .union(neigh)
            .groupBy("node")
            .agg(F.min("l").alias("lbl"))
        )
        if i < 2:  # cap lineage between rounds (node-sized table); the
            # last round flows straight into the community rollup.
            labels = lazy_checkpoint(labels)
            spent += owned_ids(labels)
    # ONE eager job: materializes edges + sym + both intermediate
    # label rounds + the final round, then retires the first four.
    # The returned rollup reads only the node-sized final checkpoint,
    # which it owns until the caller has materialized it.
    labels, _ = checkpoint_rotate(labels, retire=spent)
    return labels.groupBy("lbl").agg(
        F.count(F.lit(1)).alias("size"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    ).select(
        F.col("lbl").alias("community"), "size", "min_node", "max_node"
    )


# --- link prediction: common neighbors / Jaccard -----------------------------


def _ordered_rows(spark, rows, schema, *order):
    """Driver-side result rows as a frame explicitly ordered by `order`
    (a frame's partitions do not promise to keep list order): a
    `local_frame` in one partition, sorted in place, so a sink runs one
    job and starts no Python worker. A global orderBy range-samples and
    shuffles the rows (3 jobs)."""
    return local_frame(spark, rows, schema).coalesce(1).sortWithinPartitions(*order)


@register(
    "graph_common_neighbors",
    f"""
    WITH {_COPURCHASE_EDGES_SQL},
    adj AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u),
    wedge AS (
      SELECT a.u AS u, b.v AS w, CAST(count(*) AS BIGINT) AS cn
      FROM adj a JOIN adj b ON a.v = b.u AND a.u < b.v
      GROUP BY a.u, b.v
    ),
    cand AS (
      SELECT wg.u, wg.w, wg.cn FROM wedge wg
      LEFT JOIN edges e ON e.u = wg.u AND e.v = wg.w
      WHERE e.u IS NULL
    )
    SELECT c.u, c.w, c.cn,
           CAST(c.cn AS DOUBLE) / (du.d + dw.d - c.cn) + 0 AS jaccard
    FROM cand c JOIN deg du ON du.u = c.u JOIN deg dw ON dw.u = c.w
    ORDER BY jaccard DESC, c.cn DESC, c.u, c.w
    LIMIT 20
    """,
)
def graph_common_neighbors(spark, sf_dir):
    """Common-neighbor / Jaccard link prediction on the customer
    co-purchase graph: score NON-adjacent pairs by shared
    neighborhood, Jaccard = cn / (deg(u) + deg(w) - cn) — the
    classical similarity-based recommender (suggest customers with
    overlapping baskets who never co-bought). Candidate pairs come
    from the SAME bounded wedge join as graph_triangle_count (adj
    self-join on the middle vertex, intermediate ~ sum(deg^2) on the
    sparse-by-construction graph — never |V|^2); an anti-join against
    the edge set removes existing links; degrees ride a broadcastable
    per-node rollup. Determinism: cn and degrees are exact integers;
    Jaccard is ONE integer division (identical double both engines);
    the top-20 carries the total tiebreak (jaccard, cn, u, w).
    Scale note: graph entries differential-prove at the 3x replica
    (the 10x replica's densification is unrealistic for this graph —
    see SCALE.md). Reference analog: none."""
    # checkpoint the edge build once: the scoring plan references it
    # SEVEN times (deg + both wedge sides through adj, plus the
    # anti-join) and would re-run the pair-generation build per branch;
    # the bounded top-20 is collected eagerly so the checkpoint's
    # blocks retire before return (operators/ckpt.py)
    edges, e_ids = checkpoint_rotate(_copurchase_edges(spark, sf_dir))
    adj = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    a, b = adj.alias("a"), adj.alias("b")
    wedge = (
        a.join(b, (F.col("a.v") == F.col("b.u")) & (F.col("a.u") < F.col("b.v")))
        .groupBy(F.col("a.u").alias("u"), F.col("b.v").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    e = edges.alias("e")
    cand = wedge.alias("wg").join(
        e,
        (F.col("e.u") == F.col("wg.u")) & (F.col("e.v") == F.col("wg.w")),
        "left_anti",
    )
    du, dw = deg.alias("du"), deg.alias("dw")
    scored = (
        cand.alias("c")
        .join(du, F.col("du.u") == F.col("c.u"))
        .join(dw, F.col("dw.u") == F.col("c.w"))
        .select(
            F.col("c.u").alias("u"),
            F.col("c.w").alias("w"),
            F.col("c.cn").alias("cn"),
            (
                F.col("c.cn").cast("double")
                / (F.col("du.d") + F.col("dw.d") - F.col("c.cn"))
                + 0
            ).alias("jaccard"),
        )
    )
    out = scored.orderBy(
        F.col("jaccard").desc(), F.col("cn").desc(), "u", "w"
    ).limit(20)
    rows = out.collect()  # <=20 rows by construction
    retire_ids(spark, e_ids)
    return _ordered_rows(
        spark, rows, out.schema, F.col("jaccard").desc(), F.col("cn").desc(), "u", "w"
    )


_K = 2


_KCORE_SCHEMA = T.StructType(
    [T.StructField(c, T.LongType()) for c in ("peel_round", "n_nodes", "n_edges")]
)


_PEEL_ROUNDS = 6


_BF_ROUNDS = 6


def _kcore_oracle() -> str:
    # every e{i}/d{i} is referenced 2-4 times downstream; DuckDB
    # inlines CTEs by default, which expands the peel chain
    # EXPONENTIALLY (and exhausts file handles re-opening the base
    # parquet) — MATERIALIZED pins each round to one evaluation
    ctes = [
        _COPURCHASE_EDGES_SQL.strip().lstrip(),
        "e0 AS MATERIALIZED (SELECT u, v FROM edges)",
    ]
    for i in range(_PEEL_ROUNDS):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
      SELECT node, count(*) AS c FROM (
        SELECT u AS node FROM e{i} UNION ALL SELECT v AS node FROM e{i}
      ) GROUP BY node
    )"""
        )
        ctes.append(
            f"""e{i + 1} AS MATERIALIZED (
      SELECT u, v FROM e{i}
      WHERE u IN (SELECT node FROM d{i} WHERE c >= {_K})
        AND v IN (SELECT node FROM d{i} WHERE c >= {_K})
    )"""
        )
    stats = "\nUNION ALL\n".join(
        f"""SELECT {i} AS peel_round,
           (SELECT count(*) FROM (SELECT u AS x FROM e{i}
                                  UNION SELECT v FROM e{i})) AS n_nodes,
           (SELECT count(*) FROM e{i}) AS n_edges"""
        for i in range(_PEEL_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(peel_round AS BIGINT) AS peel_round,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges
    FROM ({stats}) ORDER BY peel_round"""
    )


@register("graph_k_core", _kcore_oracle())
def graph_k_core(spark, sf_dir):
    """Bounded-round k-core peeling (k=2, 6 rounds — the BFS-style
    fixed cap, identical in both engines) over the sparse co-purchase
    graph. Each round: degree count (one groupBy over the 2|E|
    directed list), then two semi-joins keep edges whose endpoints
    both survive. Output is the (round, nodes, edges) trajectory —
    exact integers, no floats anywhere. Scale: every round's shuffle
    is bounded by the CURRENT edge list (monotonically shrinking);
    degrees are partial-aggregable; the survivor node set rides
    broadcast semi-joins on the shrinking frontier whenever the round's
    measured node count puts it under the broadcast threshold
    (`ckpt.broadcast_if_small`), so the edge list is never shuffled
    for the peel; a survivor set over the threshold keeps sort-merge
    semi-joins. The fixed round cap (not run-to-fixpoint) keeps the
    plan static and SF-independent; peel depth beyond 6 is cut off
    identically on both engines.
    One job carries each round's degrees and stats: the degree table
    is an eager checkpoint whose plan observes (count, sum(c)), so
    the round's (n_nodes, n_edges) comes off that job's metrics with
    no separate collect, and the peel's semi-joins read the
    checkpointed degrees instead of re-deriving them: one 2|E| degree
    shuffle per round. Early exit (r9): the peel only ever REMOVES
    edges, so if a round's (n_nodes, n_edges) equals the previous
    round's, the survivor set is literally unchanged (a subset with
    equal cardinality is the same set) and every later round's stats
    are identical — they are filled driver-side and no further jobs
    run. Stats still precede the peel, so the test stays free; at
    sf0.1 the graph converges at round 4, skipping 2 of 6 rounds
    (SCALE.md §k-core reads its stats off the degree checkpoint). At
    100 TB the same test stops paying for converged rounds regardless
    of where the cap sits.
    Reference analog: none (extends graph_triangle_count family)."""
    # Round i: deg_i is an EAGER checkpoint over e_i, and its one
    # materializing job (a) fills the observation with the round's
    # stats and (b) materializes e_i's lazy checkpoint blocks, since
    # e_i's plan runs underneath it. The peel e_{i+1} stays a lazy
    # checkpoint over (e_i, deg_i); the next round's deg job lands it.
    # deg_{i-1} and e_{i-1} retire once deg_i has landed: e_i no longer
    # needs them. The observation must sit on the EAGER checkpoint: on
    # the peel's lazy one, with broadcast joins off, it read metrics of
    # a stage that had not run yet (zeros, a false early exit).
    e = lazy_checkpoint(_copurchase_edges(spark, sf_dir).select("u", "v"))
    spent: list = []
    rows = []
    for i in range(_PEEL_ROUNDS + 1):
        obs = Observation()
        deg, deg_ids = checkpoint_rotate(
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("c"))
            .observe(obs, F.count("*").alias("n_nodes"), F.sum("c").alias("cnt2")),
            retire=spent,
        )
        st = obs.get
        rows.append((i, int(st["n_nodes"]), int(st["cnt2"] or 0) // 2))
        spent = deg_ids + owned_ids(e)
        if i == _PEEL_ROUNDS:
            break
        if i > 0 and rows[i][1:] == rows[i - 1][1:]:
            # monotone fixpoint: nothing was removed this round, so
            # every remaining round's stats are identical — fill them
            # without running jobs (docstring: early exit)
            rows.extend(
                (j, rows[i][1], rows[i][2])
                for j in range(i + 1, _PEEL_ROUNDS + 1)
            )
            break
        # the kept nodes are a subset of this round's n_nodes degree
        # rows: a measured bound, so the semi-joins broadcast them
        # instead of shuffling the edge list, and a kept set over the
        # broadcast threshold keeps the sort-merge plan
        keep = broadcast_if_small(
            deg.where(F.col("c") >= _K).select("node"), rows[i][1]
        )
        e = lazy_checkpoint(
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )
    retire_ids(spark, spent)  # trajectory is on the driver now
    return _ordered_rows(spark, rows, _KCORE_SCHEMA, "peel_round")


def _sssp_oracle() -> str:
    ctes = [
        _COPURCHASE_EDGES_SQL.strip().lstrip().replace(
            """edges AS (
      SELECT DISTINCT a.cust AS u, b.cust AS v
      FROM grp a JOIN grp b
        ON a.part = b.part AND a.wk = b.wk AND a.cust < b.cust
    )""",
            """edges AS (
      SELECT a.cust AS u, b.cust AS v,
             CAST(1 + 1000 // count(*) AS BIGINT) AS w
      FROM grp a JOIN grp b
        ON a.part = b.part AND a.wk = b.wk AND a.cust < b.cust
      GROUP BY a.cust, b.cust
    )""",
        ),
        # MATERIALIZED: each dist{i} is referenced twice by round i+1;
        # DuckDB's default CTE inlining would expand the relaxation
        # chain EXPONENTIALLY (2^rounds copies of the base scan)
        "sym AS MATERIALIZED (SELECT u, v, w FROM edges"
        " UNION ALL SELECT v, u, w FROM edges)",
        "src AS (SELECT min(u) AS s FROM edges)",
        "dist0 AS MATERIALIZED (SELECT s AS node, CAST(0 AS BIGINT) AS d FROM src)",
    ]
    for i in range(_BF_ROUNDS):
        ctes.append(
            f"""dist{i + 1} AS MATERIALIZED (
      SELECT node, min(d) AS d FROM (
        SELECT node, d FROM dist{i}
        UNION ALL
        SELECT e.v AS node, t.d + e.w AS d
        FROM dist{i} t JOIN sym e ON e.u = t.node
      ) GROUP BY node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(d // 500 AS BIGINT) AS dist_band,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(d) AS BIGINT) AS min_dist,
           CAST(max(d) AS BIGINT) AS max_dist
    FROM dist{_BF_ROUNDS}
    GROUP BY d // 500 ORDER BY dist_band"""
    )


@register("graph_weighted_sssp", _sssp_oracle())
def graph_weighted_sssp(spark, sf_dir):
    """Single-source weighted shortest paths by 6 fixed Bellman-Ford
    relaxation rounds over the co-purchase graph. Edge cost is the
    all-integer 1 + 1000 // tie_count (strong ties are cheap), so
    distances are exact BIGINTs — no float anywhere — and the fixed
    round count makes the horizon identical cross-engine (nodes
    beyond 6 relaxations simply don't appear, same on both sides).
    Each round shuffles only (frontier x edges) keyed on the edge
    source — the Pregel message-passing shape — and the min-combine
    is partial-aggregable. Output: 500-cost distance bands. Scale:
    the relaxation join is an equi-join on node id; at 100 TB the
    dist table is range-partitioned on node and the edge list
    bucketed the same way, so rounds reuse one co-partitioning.
    Reference analog: none (weighted upgrade of graph_bfs_distances)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", F.date_trunc("week", F.col("l_shipdate")).alias("wk")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    grp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"), "wk")
        .distinct()
    )
    a, b = grp.alias("a"), grp.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.part") == F.col("b.part"))
            & (F.col("a.wk") == F.col("b.wk"))
            & (F.col("a.cust") < F.col("b.cust")),
        )
        .groupBy(F.col("a.cust").alias("u"), F.col("b.cust").alias("v"))
        .agg(F.count("*").alias("cnt"))
        .select("u", "v", F.expr("CAST(1 + 1000 DIV cnt AS BIGINT)").alias("w"))
    )
    # two-step edge materialization: the symmetrize union and the
    # source seed reference the weighted edge build three times —
    # checkpoint it once, derive both, retire it (operators/ckpt.py)
    edges, e_ids = checkpoint_rotate(edges)
    sym, sym_ids = checkpoint_rotate(
        edges.select("u", "v", "w").unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
        )
    )
    src = edges.agg(F.min("u").alias("s"))
    dist, dist_ids = checkpoint_rotate(
        src.select(F.col("s").alias("node"), F.lit(0).cast("long").alias("d")),
        retire=e_ids,
    )
    for _ in range(_BF_ROUNDS):
        relaxed = dist.join(sym, dist.node == sym.u).select(
            F.col("v").alias("node"), (F.col("d") + F.col("w")).alias("d")
        )
        # localCheckpoint per relaxation round (the BFS/PageRank
        # lineage cap): dist's plan would otherwise double each round.
        # Each round's distance table supersedes the previous one, so
        # its blocks rotate out (operators/ckpt.py) — storage holds 2
        # distance tables, not _BF_ROUNDS of them.
        dist, dist_ids = checkpoint_rotate(
            dist.select("node", "d")
            .unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d")),
            retire=dist_ids,
        )
    # the histogram below reads only the FINAL distance checkpoint —
    # the symmetric edge list's last relaxation join already ran; the
    # final dist blocks back the returned frame (ckpt.owned_ids)
    retire_ids(spark, sym_ids)
    return (
        dist.groupBy(F.expr("CAST(d DIV 500 AS BIGINT)").alias("dist_band"))
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.min("d").cast("long").alias("min_dist"),
            F.max("d").cast("long").alias("max_dist"),
        )
        .orderBy("dist_band")
    )


@register(
    "graph_clustering_coefficient",
    f"""
    WITH {_COPURCHASE_EDGES_SQL},
    e AS MATERIALIZED (SELECT u, v FROM edges),
    deg AS MATERIALIZED (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    ),
    tri AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pertri AS (
      SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b AS node FROM tri
        UNION ALL SELECT c AS node FROM tri
      ) GROUP BY node
    ),
    coef AS (
      SELECT d.node, coalesce(p.t, 0) AS t, d.d,
             (coalesce(p.t, 0) * 2 * 10) // (d.d * (d.d - 1)) AS band
      FROM deg d LEFT JOIN pertri p ON d.node = p.node
      WHERE d.d >= 2
    )
    SELECT CAST(band AS BIGINT) AS coef_band,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(t) AS BIGINT) AS triangle_mass,
           CAST(min(d) AS BIGINT) AS min_degree,
           CAST(max(d) AS BIGINT) AS max_degree
    FROM coef GROUP BY band ORDER BY coef_band
    """,
)
def graph_clustering_coefficient(spark, sf_dir):
    """Per-node clustering coefficient histogram over the co-purchase
    graph: coefficient = 2*tri(v) / (deg(v)*(deg(v)-1)), banded as the
    EXACT integer (20*tri) DIV (deg*(deg-1)) (10 bands, no float
    boundary). Triangles-at-node come from the same ordered-triple
    wedge join as graph_triangle_count, exploded to all three corners
    — the intermediate stays Sum(deg_in*deg_out)-bounded on the
    sparse-by-construction graph. Nodes of degree < 2 (undefined
    coefficient) are excluded, matching NetworkX. Scale: two
    equi-joins + three partial-aggregable groupBys; the same shape
    GraphX's LocalClusteringCoefficient shuffles. Reference analog:
    none (local companion to graph_triangle_count)."""
    e, _ = checkpoint_rotate(_copurchase_edges(spark, sf_dir).select("u", "v"))
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c")
        )
    )
    pertri = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("t"))
    )
    coef = (
        deg.join(pertri, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("t"), F.lit(0)).alias("t"),
            "d",
        )
        .where(F.col("d") >= 2)
        .withColumn("band", F.expr("(t * 2 * 10) DIV (d * (d - 1))"))
    )
    return (
        coef.groupBy(F.col("band").cast("long").alias("coef_band"))
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("t").cast("long").alias("triangle_mass"),
            F.min("d").cast("long").alias("min_degree"),
            F.max("d").cast("long").alias("max_degree"),
        )
        .orderBy("coef_band")
    )


@register(
    "graph_degree_assortativity",
    f"""
    WITH {_COPURCHASE_EDGES_SQL},
    e AS MATERIALIZED (SELECT u, v FROM edges),
    deg AS MATERIALIZED (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    ),
    ends AS (
      SELECT du.d AS x, dv.d AS y
      FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
      UNION ALL
      SELECT dv.d AS x, du.d AS y
      FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
    ),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(y) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
      FROM ends
    )
    SELECT m AS n_edge_ends,
           (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / m)
             / sqrt((CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / m)
                    * (CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / m))
             AS assortativity
    FROM mo
    """,
)
def graph_degree_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over all directed edge ends of the co-purchase
    graph — positive means hubs connect to hubs (social-style
    mixing), negative means hub-and-spoke. The symmetrized edge-end
    list makes the coefficient direction-free; all five moments are
    exact DECIMAL(38,0) integer sums; the coefficient is one IEEE
    formula with the variance product multiplied BEFORE the single
    sqrt (the ml_matthews_corrcoef tree discipline). Scale: two
    broadcast-able degree joins + one moment aggregate — all
    partial-aggregable; 3x replica per the graph-densification
    protocol. Reference analog: none (extends the graph family)."""
    e, _ = checkpoint_rotate(_copurchase_edges(spark, sf_dir).select("u", "v"))
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    du = deg.withColumnRenamed("node", "u").withColumnRenamed("d", "dx")
    dv = deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dy")
    joined = e.join(du, "u").join(dv, "v")
    ends = joined.select(F.col("dx").alias("x"), F.col("dy").alias("y")).unionAll(
        joined.select(F.col("dy").alias("x"), F.col("dx").alias("y"))
    )
    d38 = "decimal(38,0)"
    mo = ends.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).cast(d38).alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).cast(d38).alias("syy"),
    )
    cxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast(
        "double"
    ) / F.col("m")
    cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast(
        "double"
    ) / F.col("m")
    cyy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast(
        "double"
    ) / F.col("m")
    return mo.select(
        F.col("m").alias("n_edge_ends"),
        (cxy / F.sqrt(cxx * cyy)).alias("assortativity"),
    )
