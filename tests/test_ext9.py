"""Invariant tests for the round-5 batch-2/3 entries (now in
registry/ext.py, llm.py, ml.py, graph.py): properties the DuckDB oracle
gate can't express — pipe/ANSI plan equivalence, collation-aware
grouping without data rewrite, ACF bounds, brute-force triangle/BFS
cross-checks, equi-depth balance, and GD/KMeans determinism under re-
partitioning."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_pipe_syntax_matches_ansi_form(spark):
    """The |> pipeline must produce exactly the rows of its nested ANSI
    equivalent — pipe stages are syntax, not new semantics."""
    pipe = {tuple(r) for r in _run(spark, "ext_sql_pipe_syntax").collect()}
    from machine_telemetry_etl_ml_pipeline_spark.registry.ext import _views

    _views(spark, SF, "lineitem")
    ansi = {
        tuple(r)
        for r in spark.sql(
            """
            WITH g AS (
              SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                     round(sum(l_quantity), 4) AS sum_qty,
                     round(avg(l_extendedprice), 4) AS avg_price
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
              GROUP BY l_returnflag, l_linestatus
            )
            SELECT * FROM g WHERE n_rows > 100
            ORDER BY n_rows DESC, l_returnflag, l_linestatus LIMIT 4
            """
        ).collect()
    }
    assert pipe == ansi and len(pipe) == 4


def test_collation_groups_fold_case_without_rewrite(spark):
    rows = _run(spark, "ext_collation_ci").collect()
    keys = {r.event_type_ci for r in rows}
    assert keys == {k.lower() for k in keys}, "output keys must be lowercase"
    # every group saw both minted case forms and the fold lost no rows
    assert all(r.n_case_variants == 2 for r in rows), rows
    total = (
        REGISTRY["ref_scan_count"].fn(spark, SF).collect()[0][0]
    )
    assert sum(r.n for r in rows) == total


def test_autocorrelation_bounds_and_pair_counts(spark):
    rows = _run(spark, "ext_autocorrelation").collect()
    from machine_telemetry_etl_ml_pipeline_spark.sources.catalog import load_table

    e = load_table(spark, SF, "events")
    sizes = {r.event_type: r.n for r in e.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert len(rows) == len(sizes)
    for r in rows:
        assert r.n_pairs == sizes[r.event_type] - 1
        assert -1.0 <= r.acf_lag1 <= 1.0 and -1.0 <= r.acf_lag2 <= 1.0


def test_triangle_count_matches_bruteforce(spark):
    """Recount triangles with adjacency sets on the collected edge
    list — the distributed ordered-triple join must agree exactly."""
    out = _run(spark, "graph_triangle_count").collect()[0]
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", F.date_trunc("week", "l_shipdate").alias("wk")
    )
    orders = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_custkey")
    grp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"), "wk")
        .distinct()
    )
    by_key: dict = {}
    for r in grp.collect():
        by_key.setdefault((r.part, r.wk), []).append(r.cust)
    edges = set()
    for custs in by_key.values():
        cs = sorted(set(custs))
        for i in range(len(cs)):
            for j in range(i + 1, len(cs)):
                edges.add((cs[i], cs[j]))
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    nbrs: dict = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)  # forward (ordered) adjacency
    n_tri = sum(
        1
        for u, vs in nbrs.items()
        for v in vs
        for w in nbrs.get(v, ())
        if w in vs
    )
    assert (out.n_nodes, out.n_edges, out.n_triangles) == (len(nodes), len(edges), n_tri)


def test_logreg_gd_deterministic_under_repartition(spark, shuffle_partitions):
    """The rounded-gradient trajectory must make the fitted weights
    identical however the input is partitioned — the determinism the
    1e-9 rounding buys over raw float sums."""
    a = _run(spark, "ml_logistic_regression_gd").collect()[0]
    shuffle_partitions(3)
    df = _run(spark, "ml_logistic_regression_gd")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    b = df.collect()[0]
    assert tuple(a) == tuple(b)
    assert 0 <= a.n_correct <= a.n_rows
    for wv in (a.w_intercept, a.w_qty, a.w_disc):
        assert math.isfinite(wv)


def test_bfs_distances_match_bruteforce(spark):
    """Re-run BFS with a Python adjacency walk on the collected edge
    list — the 8-round distributed frontier expansion must agree."""
    from machine_telemetry_etl_ml_pipeline_spark.registry.graph import _copurchase_edges

    out = {r.distance: r.n_nodes for r in _run(spark, "graph_bfs_distances").collect()}
    edges = [(r.u, r.v) for r in _copurchase_edges(spark, SF).collect()]
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    src = min(u for u, _ in edges)
    dist = {src: 0}
    frontier = [src]
    for depth in range(1, 9):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = depth
                    nxt.append(v)
        frontier = nxt
    hist: dict = {}
    for node in adj:
        hist[dist.get(node, -1)] = hist.get(dist.get(node, -1), 0) + 1
    assert out == hist


def test_url_domain_stats_cover_all_docs(spark):
    rows = _run(spark, "llm_url_domain_stats").collect()
    assert sum(r.n_docs for r in rows) == 500  # sf0.001 documents
    for r in rows:
        assert r.host.startswith(tuple("abcdefghijklmnopqrstuvwxyz")) and ".example-" in r.host
        assert 1 <= r.n_secs <= 7


def test_equiheight_histogram_buckets_are_balanced(spark):
    rows = _run(spark, "ext_equiheight_histogram").collect()
    total = sum(r.n_rows for r in rows)
    assert {r.bucket for r in rows} == set(range(10))
    for r in rows:
        # equi-depth: each decile bucket within 2x of the ideal share
        assert total / 20 <= r.n_rows <= total / 5, rows
    # buckets tile the value range in order
    ordered = sorted(rows, key=lambda r: r.bucket)
    for lo, hi in zip(ordered, ordered[1:]):
        assert lo.max_cents <= hi.min_cents


def test_kmeans_lloyd_deterministic_and_complete(spark, shuffle_partitions):
    a = sorted(tuple(r) for r in _run(spark, "ml_kmeans_lloyd").collect())
    shuffle_partitions(3)
    df = _run(spark, "ml_kmeans_lloyd")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    b = sorted(tuple(r) for r in df.collect())
    assert a == b
    assert [r[0] for r in a] == [0, 1, 2, 3]
    assert sum(r[1] for r in a) == 500  # every vector assigned exactly once
    assert sum(r[2] for r in a) == 500 * 499 // 2  # id-sum partition of 0..499


def test_ordered_pairs_matches_self_join_semantics(spark):
    """r13 helper: in-row pair expansion over a sorted array must equal
    the a < b self-join pair set within each group."""
    from pyspark.sql import functions as F

    from machine_telemetry_etl_ml_pipeline_spark.operators.core import ordered_pairs

    rows = [("g1", 3), ("g1", 1), ("g1", 7), ("g2", 5), ("g2", 5), ("g3", 9)]
    df = spark.createDataFrame(rows, "k string, x long")
    got = {
        (r.k, r.a, r.b)
        for r in df.groupBy("k")
        .agg(F.sort_array(F.collect_set("x")).alias("xs"))
        .select("k", F.explode(ordered_pairs("xs")).alias("p"))
        .select("k", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .collect()
    }
    a, b = df.alias("a"), df.alias("b")
    want = {
        (r.k, r.x_a, r.x_b)
        for r in a.join(
            b, (F.col("a.k") == F.col("b.k")) & (F.col("a.x") < F.col("b.x"))
        )
        .select(F.col("a.k").alias("k"), F.col("a.x").alias("x_a"), F.col("b.x").alias("x_b"))
        .distinct()
        .collect()
    }
    assert got == want


def test_copurchase_edges_match_self_join_shape(spark):
    """r13 internals: the groupBy+ordered_pairs edge build must emit
    exactly the old self-join shape's distinct (u < v) edge set."""
    from pyspark.sql import functions as F

    from machine_telemetry_etl_ml_pipeline_spark.registry import _t
    from machine_telemetry_etl_ml_pipeline_spark.registry.graph import _copurchase_edges

    SF = "/root/testdata/sf0.001"
    got = {(r.u, r.v) for r in _copurchase_edges(spark, SF).collect()}
    li = _t(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", F.date_trunc("week", F.col("l_shipdate")).alias("wk")
    )
    orders = _t(spark, SF, "orders").select("o_orderkey", "o_custkey")
    grp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"), "wk")
        .distinct()
    )
    a, b = grp.alias("a"), grp.alias("b")
    want = {
        (r.u, r.v)
        for r in a.join(
            b,
            (F.col("a.part") == F.col("b.part"))
            & (F.col("a.wk") == F.col("b.wk"))
            & (F.col("a.cust") < F.col("b.cust")),
        )
        .select(F.col("a.cust").alias("u"), F.col("b.cust").alias("v"))
        .distinct()
        .collect()
    }
    assert got == want


def test_copurchase_bucket_occupancy_stays_bounded(spark):
    """ADVICE r13: _copurchase_edges materializes each (part, wk)
    group's C(k,2) pair set in one row via collect_set+ordered_pairs —
    safe ONLY while per-(part,week) buyer counts stay small (the same
    sparsity assumption the edge-linearity docstring rests on). Pin
    that assumption with numbers at two SFs so a future testdata or
    schema change that concentrates buyers per (part, wk) fails here
    instead of OOMing one task at scale."""
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        li = _t(spark, sf, "lineitem").select(
            "l_orderkey",
            "l_partkey",
            F.date_trunc("week", F.col("l_shipdate")).alias("wk"),
        )
        orders = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
        occ = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                F.col("o_custkey").alias("cust"),
                F.col("l_partkey").alias("part"),
                "wk",
            )
            .groupBy("part", "wk")
            .agg(F.countDistinct("cust").alias("k"))
            .agg(F.max("k").alias("mx"), F.avg("k").alias("avg"))
            .collect()[0]
        )
        # C(k,2) in one row: k=32 is ~500 pairs — far below any task
        # memory concern; today's data measures max 3-4, mean ~1.
        assert occ["mx"] <= 32, (
            f"hot (part, wk) bucket k={occ['mx']} at {sf}: in-row pair "
            "expansion no longer safe, route big groups through the "
            "streaming self-join path (llm/dedup.lsh_candidate_pairs)"
        )
        assert occ["avg"] < 4
