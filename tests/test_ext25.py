"""Invariant tests for the round-6 part-10 batch (now in
registry/llm.py, ml.py, graph.py): LOO target encoding, span corruption,
clustering coefficient, tokenizer fertility, learning curve."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY, _t
from machine_telemetry_etl_ml_pipeline_spark.registry.graph import _copurchase_edges

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_loo_encoding_excludes_own_row(spark):
    import math

    rows = _run(spark, "ml_target_encoding_loo").collect()
    base = (
        _t(spark, SF, "orders")
        .join(_t(spark, SF, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_mktsegment", "o_totalprice")
        .collect()
    )
    agg = defaultdict(lambda: [0, 0])
    cents_rows = []
    for r in base:
        c = int(math.floor(r.o_totalprice * 100 + 0.5))
        agg[r.c_mktsegment][0] += 1
        agg[r.c_mktsegment][1] += c
        cents_rows.append((r.c_mktsegment, c))
    expect = defaultdict(lambda: [0, 1 << 62, -(1 << 62)])
    for seg, c in cents_rows:
        n, s = agg[seg]
        if n <= 1:
            continue
        loo = ((s - c) * 10000) // (n - 1)
        band = loo // 10000000
        e = expect[(seg, band)]
        e[0] += 1
        e[1] = min(e[1], loo)
        e[2] = max(e[2], loo)
    got = {(r.seg, r.loo_band): (r.n_rows, r.min_loo_e4, r.max_loo_e4) for r in rows}
    assert got == {k: tuple(v) for k, v in expect.items()}


def test_span_corruption_rate_and_structure(spark):
    got = _run(spark, "llm_span_corruption").collect()[0]
    assert got.n_masked <= got.n_tokens
    # ~15% mask rate within generous bounds
    assert 0.05 < got.mask_ratio < 0.30
    # spans are at most _SPAN_LEN long when isolated, so
    # n_masked <= n_spans * max_run possible only if runs merge;
    # every span covers >= 1 token and <= all tokens
    assert got.n_spans <= got.n_masked
    assert abs(got.mask_ratio - got.n_masked / got.n_tokens) < 1e-15


def test_clustering_coefficient_matches_bruteforce(spark):
    rows = _run(spark, "graph_clustering_coefficient").collect()
    edges = [(r.u, r.v) for r in _copurchase_edges(spark, SF).collect()]
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    expect = defaultdict(lambda: [0, 0, 1 << 62, 0])
    for node, nbrs in adj.items():
        d = len(nbrs)
        if d < 2:
            continue
        ns = sorted(nbrs)
        t = 0
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                if ns[j] in adj[ns[i]]:
                    t += 1
        band = (t * 2 * 10) // (d * (d - 1))
        e = expect[band]
        e[0] += 1
        e[1] += t
        e[2] = min(e[2], d)
        e[3] = max(e[3], d)
    got = {
        r.coef_band: (r.n_nodes, r.triangle_mass, r.min_degree, r.max_degree)
        for r in rows
    }
    assert got == {k: tuple(v) for k, v in expect.items()}


def test_fertility_at_least_one(spark):
    rows = _run(spark, "llm_tokenizer_fertility").collect()
    n_docs = _t(spark, SF, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        # alnum-run splitting never yields fewer pieces than words-ish:
        # fertility is bounded and positive
        assert r.fertility > 0.5
        assert abs(r.fertility - r.n_subwords / r.n_words) < 1e-12


def test_learning_curve_monotone_train_sizes(spark):
    rows = sorted(_run(spark, "ml_learning_curve").collect(), key=lambda r: r.frac_bucket)
    assert [r.frac_bucket for r in rows] == [25, 77, 256]
    # nested subsets: larger bucket threshold => superset training data
    assert rows[0].n_train < rows[1].n_train < rows[2].n_train
    # same held-out test set for every point
    assert len({r.n_test for r in rows}) == 1
    for r in rows:
        assert 0.0 <= r.test_accuracy <= 1.0
        assert abs(r.test_accuracy - r.n_correct / r.n_test) < 1e-15
