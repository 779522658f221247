"""Invariant tests for the round-6 part-6 batch (now in registry/ext.py,
ml.py): RFM segmentation, ABC classification, one-way ANOVA, Matthews
correlation, Brier score."""

from __future__ import annotations

import math

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY, _t

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_rfm_partitions_all_customers(spark):
    rows = _run(spark, "ext_rfm_segmentation").collect()
    n_cust = (
        _t(spark, SF, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    total_cents = sum(r.monetary_cents for r in rows)
    for r in rows:
        assert r.segment in {
            "loyal_recent",
            "recent",
            "at_risk_big_spender",
            "lapsed",
            "core",
        }
        assert abs(r.avg_monetary_cents - r.monetary_cents / r.n_customers) < 1e-6
    # all order revenue is attributed to exactly one segment
    orders = _t(spark, SF, "orders").collect()
    expect = sum(int(math.floor(o.o_totalprice * 100 + 0.5)) for o in orders)
    assert total_cents == expect


def test_abc_classes_nest_pareto(spark):
    rows = {r.abc_class: r for r in _run(spark, "ext_abc_classification").collect()}
    assert set(rows) == {"A", "B", "C"}
    total = sum(r.class_cents for r in rows.values())
    # A-class holds <= 80% of revenue but far more revenue-per-part
    assert rows["A"].class_cents * 5 <= total * 4 + rows["A"].class_cents
    a_rate = rows["A"].class_cents / rows["A"].n_parts
    c_rate = rows["C"].class_cents / rows["C"].n_parts
    assert a_rate > c_rate
    assert abs(sum(r.revenue_share for r in rows.values()) - 1.0) < 1e-12


def test_anova_matches_bruteforce(spark):
    got = _run(spark, "ml_anova_oneway").collect()[0]
    groups = {}
    for r in _t(spark, SF, "customer").collect():
        c = int(math.floor(r.c_acctbal * 100 + 0.5))
        groups.setdefault(r.c_mktsegment, []).append(c)
    k = len(groups)
    n = sum(len(v) for v in groups.values())
    grand = sum(sum(v) for v in groups.values()) / n
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in groups.values())
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in groups.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert got.k == k and got.n_total == n
    assert abs(got.ss_between - ssb) / ssb < 1e-9
    assert abs(got.ss_within - ssw) / ssw < 1e-9
    assert abs(got.f_stat - f) / f < 1e-9


def test_mcc_matches_bruteforce(spark):
    got = _run(spark, "ml_matthews_corrcoef").collect()[0]
    tp = fp = tn = fn = 0
    for r in _t(spark, SF, "orders").collect():
        pred = int(math.floor(r.o_totalprice * 100 + 0.5)) > 25000000
        truth = r.o_orderpriority in ("1-URGENT", "2-HIGH")
        if pred and truth:
            tp += 1
        elif pred:
            fp += 1
        elif truth:
            fn += 1
        else:
            tn += 1
    assert (got.tp, got.fp, got.tn, got.fn) == (tp, fp, tn, fn)
    mcc = (tp * tn - fp * fn) / math.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    assert -1.0 <= got.mcc <= 1.0
    assert abs(got.mcc - mcc) < 1e-12


def test_brier_matches_bruteforce_and_bounds(spark):
    got = _run(spark, "ml_brier_score").collect()[0]
    tot = 0
    n = 0
    for r in _t(spark, SF, "orders").collect():
        cents = int(math.floor(r.o_totalprice * 100 + 0.5))
        p = min(9999, cents // 5000)
        y = 10000 if r.o_orderpriority in ("1-URGENT", "2-HIGH") else 0
        tot += (p - y) ** 2
        n += 1
    assert got.n == n
    assert 0.0 <= got.brier <= 1.0
    assert abs(got.brier - tot / (n * 1e8)) < 1e-15
