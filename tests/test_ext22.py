"""Invariant tests for the round-6 part-7 batch (now in registry/ml.py,
graph.py): k-core peeling, weighted SSSP, and 1-D Gaussian-mixture EM."""

from __future__ import annotations

from collections import defaultdict

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY
from machine_telemetry_etl_ml_pipeline_spark.registry.graph import _copurchase_edges

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def _edge_list(spark):
    return [(r.u, r.v) for r in _copurchase_edges(spark, SF).collect()]


def test_k_core_matches_bruteforce_peel(spark):
    rows = sorted(_run(spark, "graph_k_core").collect(), key=lambda r: r.peel_round)
    edges = _edge_list(spark)
    expect = []
    for rnd in range(7):
        nodes = {x for e in edges for x in e}
        expect.append((rnd, len(nodes), len(edges)))
        deg = defaultdict(int)
        for u, v in edges:
            deg[u] += 1
            deg[v] += 1
        keep = {n for n, c in deg.items() if c >= 2}
        edges = [(u, v) for u, v in edges if u in keep and v in keep]
    got = [(r.peel_round, r.n_nodes, r.n_edges) for r in rows]
    assert got == expect
    # monotone shrink
    for a, b in zip(got, got[1:]):
        assert b[2] <= a[2] and b[1] <= a[1]


def test_k_core_trajectory_under_join_strategies_and_reliable_checkpoints(
    spark, monkeypatch, tmp_path
):
    """Each round's stats are observed metrics of the degree checkpoint's
    own job. Sort-merge joins (no broadcast) and reliable checkpoints
    change which jobs run when; the trajectory must not move, or a
    round read metrics of a stage that had not run yet."""

    def trajectory():
        return [tuple(r) for r in _run(spark, "graph_k_core").collect()]

    expect = trajectory()
    keys = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        assert trajectory() == expect
    finally:
        for k in keys:
            spark.conf.unset(k)
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    assert trajectory() == expect
    assert expect[0][2] > expect[-1][2] > 0  # the peel removed edges and kept some


def test_weighted_sssp_matches_bellman_ford(spark):
    rows = _run(spark, "graph_weighted_sssp").collect()
    pair_cnt = defaultdict(int)
    li = _copurchase_edges(spark, SF)
    # recompute weights from the registry's own edge builder contract
    from pyspark.sql import functions as F

    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    lin = _t(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", F.date_trunc("week", F.col("l_shipdate")).alias("wk")
    )
    orders = _t(spark, SF, "orders").select("o_orderkey", "o_custkey")
    grp = (
        lin.join(orders, lin.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"), "wk")
        .distinct()
        .collect()
    )
    by_pw = defaultdict(list)
    for r in grp:
        by_pw[(r.part, r.wk)].append(r.cust)
    for members in by_pw.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                pair_cnt[(ms[i], ms[j])] += 1
    wedges = {(u, v): 1 + 1000 // c for (u, v), c in pair_cnt.items()}
    adj = defaultdict(list)
    for (u, v), w in wedges.items():
        adj[u].append((v, w))
        adj[v].append((u, w))
    src = min(u for u, _ in wedges)
    dist = {src: 0}
    for _ in range(6):
        nxt = dict(dist)
        for node, d in dist.items():
            for v, w in adj[node]:
                if d + w < nxt.get(v, 1 << 60):
                    nxt[v] = d + w
        dist = nxt
    bands = defaultdict(list)
    for _, d in dist.items():
        bands[d // 500].append(d)
    expect = {
        b: (len(ds), min(ds), max(ds)) for b, ds in bands.items()
    }
    got = {r.dist_band: (r.n_nodes, r.min_dist, r.max_dist) for r in rows}
    assert got == expect
    assert 0 in {r.min_dist for r in rows}  # source at distance 0


def test_gmm_em_parameters_sane(spark):
    got = _run(spark, "ml_gmm_em_1d").collect()[0]
    assert 0.0 < got.weight1 < 1.0
    assert got.var1 > 0 and got.var2 > 0
    # components separated and ordered by the init (mu1 low, mu2 high)
    assert got.mu1 < got.mu2
    # standardized scale: means within a few sigma of zero
    assert -3 < got.mu1 < 3 and -3 < got.mu2 < 3
    n = got.n_rows
    assert n > 0


def test_gmm_em_matches_numpy_em(spark):
    import numpy as np

    from pyspark.sql import functions as F

    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    got = _run(spark, "ml_gmm_em_1d").collect()[0]
    cents = (
        _t(spark, SF, "orders")
        .select(F.expr("CAST(floor(o_totalprice*100+0.5) AS BIGINT)").alias("p"))
        .collect()
    )
    xs = np.array([r.p for r in cents], dtype=np.float64)
    m = round(float(xs.mean()), 9)
    s = round(float(xs.std()), 9)
    x = (xs - m) / s
    w, mu1, v1, mu2, v2 = 0.5, -1.0, 1.0, 1.0, 1.0
    for _ in range(3):
        p1 = w * np.exp(-((x - mu1) ** 2) / (2 * v1)) / np.sqrt(v1)
        p2 = (1 - w) * np.exp(-((x - mu2) ** 2) / (2 * v2)) / np.sqrt(v2)
        r = p1 / (p1 + p2)
        w = round(float(r.sum() / len(x)), 9)
        mu1n = float((r * x).sum() / r.sum())
        v1_ = round(float((r * x * x).sum() / r.sum() - mu1n * mu1n), 9)
        mu2n = float(((1 - r) * x).sum() / (1 - r).sum())
        v2_ = round(
            float(((1 - r) * x * x).sum() / (1 - r).sum() - mu2n * mu2n), 9
        )
        mu1, v1, mu2, v2 = round(mu1n, 9), v1_, round(mu2n, 9), v2_
    assert abs(got.weight1 - w) < 1e-5
    assert abs(got.mu1 - mu1) < 1e-5
    assert abs(got.var1 - v1) < 1e-5
    assert abs(got.mu2 - mu2) < 1e-5
    assert abs(got.var2 - v2) < 1e-5
