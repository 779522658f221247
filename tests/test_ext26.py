"""Invariant tests for the round-6 part-11 batch (now in
registry/llm.py, ml.py, graph.py): DID, CUPED, McNemar, assortativity,
cross-lingual overlap."""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY, _t
from machine_telemetry_etl_ml_pipeline_spark.registry.graph import _copurchase_edges

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def _joined(spark):
    return (
        _t(spark, SF, "orders")
        .join(_t(spark, SF, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_mktsegment", "o_orderdate", "o_totalprice")
        .collect()
    )


def test_did_matches_bruteforce(spark):
    import datetime

    got = _run(spark, "ml_diff_in_diff").collect()[0]
    cells = defaultdict(lambda: [0, 0])
    cut = datetime.datetime(1998, 1, 1)
    for r in _joined(spark):
        treated = r.c_mktsegment in ("AUTOMOBILE", "BUILDING")
        post = r.o_orderdate >= cut
        c = int(math.floor(r.o_totalprice * 100 + 0.5))
        cells[(treated, post)][0] += 1
        cells[(treated, post)][1] += c
    m = {k: v[1] / v[0] for k, v in cells.items()}
    did = (m[(True, True)] - m[(True, False)]) - (m[(False, True)] - m[(False, False)])
    assert abs(got.did_estimate - did) < 1e-6
    assert got.n_orders == sum(v[0] for v in cells.values())
    assert abs(got.m_t_pre - m[(True, False)]) < 1e-9


def test_cuped_matches_numpy(spark):
    import datetime

    import numpy as np

    got = _run(spark, "ml_cuped_adjustment").collect()[0]
    cut = datetime.datetime(1998, 1, 1)
    per = defaultdict(lambda: [0, 0])
    for r in _t(spark, SF, "orders").collect():
        c = int(math.floor(r.o_totalprice * 100 + 0.5))
        if r.o_orderdate < cut:
            per[r.o_custkey][0] += c
        else:
            per[r.o_custkey][1] += c
    xs = np.array([v[0] for v in per.values()], dtype=np.float64)
    ys = np.array([v[1] for v in per.values()], dtype=np.float64)
    cov = ((xs - xs.mean()) * (ys - ys.mean())).sum()
    theta = cov / ((xs - xs.mean()) ** 2).sum()
    rho2 = cov * cov / (((xs - xs.mean()) ** 2).sum() * ((ys - ys.mean()) ** 2).sum())
    assert got.n == len(per)
    assert abs(got.theta - theta) / abs(theta) < 1e-9
    assert abs(got.rho_squared - rho2) < 1e-9
    assert 0.0 <= got.rho_squared <= 1.0


def test_mcnemar_matches_bruteforce(spark):
    got = _run(spark, "ml_mcnemar_test").collect()[0]
    oa = ob = both = n = 0
    for r in _t(spark, SF, "lineitem").collect():
        a = 1 if r.l_quantity <= 25 else 0
        b = 1 if r.l_discount >= 0.05 else 0
        y = 1 if r.l_returnflag == "R" else 0
        n += 1
        if a == y and b != y:
            oa += 1
        elif b == y and a != y:
            ob += 1
        elif a == y and b == y:
            both += 1
    assert (got.only_a_right, got.only_b_right, got.both_right, got.n_rows) == (
        oa,
        ob,
        both,
        n,
    )
    assert abs(got.mcnemar_chi2 - (oa - ob) ** 2 / (oa + ob)) < 1e-9


def test_assortativity_matches_bruteforce(spark):
    got = _run(spark, "graph_degree_assortativity").collect()[0]
    edges = [(r.u, r.v) for r in _copurchase_edges(spark, SF).collect()]
    deg = defaultdict(int)
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    xs, ys = [], []
    for u, v in edges:
        xs += [deg[u], deg[v]]
        ys += [deg[v], deg[u]]
    m = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    r = (sxy - sx * sy / m) / math.sqrt((sxx - sx * sx / m) * (syy - sy * sy / m))
    assert got.n_edge_ends == m
    assert abs(got.assortativity - r) < 1e-9
    assert -1.0 <= got.assortativity <= 1.0


def test_crosslingual_overlap_bounds(spark):
    rows = _run(spark, "llm_crosslingual_ngram_overlap").collect()
    langs = {r["lang"] for r in _t(spark, SF, "documents").select("lang").distinct().collect()}
    k = len(langs)
    assert len(rows) <= k * (k - 1) // 2
    for r in rows:
        assert r.lang_a < r.lang_b
        assert 0 <= r.n_shared <= min(r.sz_a, r.sz_b)
        assert 0.0 <= r.containment <= 1.0
        assert abs(r.containment - r.n_shared / min(r.sz_a, r.sz_b)) < 1e-12
