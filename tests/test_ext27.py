"""Invariant tests for the round-6 part-12 batch (now in
registry/ext.py, llm.py, ml.py): SPRT, winsorized mean, inter-arrival
stats, preference pairs, blocked fuzzy linkage."""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY, _t

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_sprt_matches_python_walk(spark):
    got = _run(spark, "ml_sprt_stopping").collect()[0]
    rows = sorted(
        _t(spark, SF, "orders")
        .select("o_orderdate", "o_orderkey", "o_orderpriority")
        .collect(),
        key=lambda r: (r.o_orderdate, r.o_orderkey),
    )
    la = math.log(0.45 / 0.35)
    lb = math.log(0.55 / 0.65)
    upper = math.log(0.95 / 0.05)
    lower = math.log(0.05 / 0.95)
    k = 0
    stop = None
    for i, r in enumerate(rows, start=1):
        k += 1 if r.o_orderpriority in ("1-URGENT", "2-HIGH") else 0
        llr = k * la + (i - k) * lb
        if llr >= upper or llr <= lower:
            stop = (i, k, llr, "accept_h1" if llr >= upper else "accept_h0")
            break
    if stop is None:
        stop = (len(rows), k, k * la + (len(rows) - k) * lb, "no_decision")
    assert (got.stop_n, got.k_at_stop, got.decision) == (stop[0], stop[1], stop[3])
    assert abs(got.llr_at_stop - stop[2]) < 1e-12


def test_winsorized_mean_bounds(spark):
    got = _run(spark, "ml_winsorized_mean").collect()[0]
    cents = sorted(
        int(math.floor(r.o_totalprice * 100 + 0.5))
        for r in _t(spark, SF, "orders").collect()
    )
    n = len(cents)
    assert got.n == n

    def quantile_cont(sorted_vals, q):
        pos = (len(sorted_vals) - 1) * q
        lo_i = math.floor(pos)
        hi_i = math.ceil(pos)
        frac = pos - lo_i
        return sorted_vals[lo_i] + (sorted_vals[hi_i] - sorted_vals[lo_i]) * frac

    lo = math.floor(quantile_cont(cents, 0.05))
    hi = math.floor(quantile_cont(cents, 0.95))
    clamped = [min(hi, max(lo, c)) for c in cents]
    assert got.n_clamped_low == sum(1 for c in cents if c < lo)
    assert got.n_clamped_high == sum(1 for c in cents if c > hi)
    assert got.winsorized_cents == sum(clamped)
    assert abs(got.winsorized_mean_cents - sum(clamped) / n) < 1e-9


def test_interarrival_positive_and_complete(spark):
    rows = _run(spark, "ext_interarrival_stats").collect()
    ev = _t(spark, SF, "events").groupBy("event_type").count().collect()
    counts = {r.event_type: r["count"] for r in ev}
    assert {r.event_type for r in rows} == set(counts)
    for r in rows:
        assert r.n_gaps == counts[r.event_type] - 1
        assert 0 <= r.min_us <= r.p50_us <= r.max_us
        assert r.min_us <= r.mean_us <= r.max_us


def test_preference_pairs_margin_and_order(spark):
    rows = _run(spark, "llm_preference_pairs").collect()
    for r in rows:
        assert r.q_chosen > r.q_rejected
        assert r.margin >= 0.3
        assert abs(r.margin - round(r.q_chosen - r.q_rejected, 4)) < 1e-12
        assert r.chosen_doc != r.rejected_doc
    # one pair per qualifying source
    assert len({r.source for r in rows}) == len(rows)


def test_entity_blocking_within_block_only(spark):
    rows = _run(spark, "ext_entity_blocking_fuzzy").collect()
    import re

    for r in rows:
        assert r.edit_dist <= 5
        assert r.name_a < r.name_b
        assert re.search(r"([a-z]+)$", r.name_a).group(1) == r.block
        assert re.search(r"([a-z]+)$", r.name_b).group(1) == r.block
    # blocking must exclude cross-noun pairs entirely
    names = {r.p_name for r in _t(spark, SF, "part").select("p_name").collect()}
    nouns = {re.search(r"([a-z]+)$", n).group(1) for n in names}
    assert len(nouns) > 1  # the block key actually partitions
