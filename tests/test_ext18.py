"""Invariant tests for the round-6 part-3 batch (now in registry/ext.py,
ml.py): OHLC resampling, linear interpolation, average precision,
Cohen's kappa, Cramer's V — each checked against a brute-force Python
recompute or a structural invariant at sf0.001."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY, _t

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def _purchase_cents(spark):
    rows = (
        _t(spark, SF, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
            .cast("long")
            .alias("bar_t"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
            "ts",
            "event_id",
        )
        .collect()
    )
    return rows


def test_ohlc_matches_bruteforce(spark):
    """Every bar's OHLC/volume must equal a Python recompute over the
    (ts, event_id)-ordered purchases of that hour."""
    bars = {r.bar_t: r for r in _run(spark, "ext_resample_ohlc").collect()}
    by_bar = defaultdict(list)
    for r in _purchase_cents(spark):
        by_bar[r.bar_t].append((r.ts, r.event_id, r.cents))
    assert set(bars) == set(by_bar)
    for bt, rows in by_bar.items():
        rows.sort()
        cents = [c for _, _, c in rows]
        b = bars[bt]
        assert b.open_cents == cents[0]
        assert b.close_cents == cents[-1]
        assert b.high_cents == max(cents)
        assert b.low_cents == min(cents)
        assert b.n_events == len(cents)
        assert b.vol_cents == sum(cents)
        assert b.low_cents <= min(b.open_cents, b.close_cents)
        assert b.high_cents >= max(b.open_cents, b.close_cents)


def test_interpolation_spine_and_bounds(spark):
    """The spine must be contiguous at 3600s, observed hours must pass
    through unchanged, and every interpolated value must lie within
    [min(prev, next), max(prev, next)] of its bracketing observations."""
    rows = sorted(
        _run(spark, "ext_interpolate_linear").collect(), key=lambda r: r.t
    )
    assert rows[0].obs_cents is not None and rows[-1].obs_cents is not None
    ts = [r.t for r in rows]
    assert all(b - a == 3600 for a, b in zip(ts, ts[1:]))
    obs = [(r.t, r.obs_cents) for r in rows if r.obs_cents is not None]
    obs_idx = {t: v for t, v in obs}
    for r in rows:
        if r.obs_cents is not None:
            assert r.filled_cents == r.obs_cents
        else:
            prev = max((t, v) for t, v in obs if t < r.t)
            nxt = min((t, v) for t, v in obs if t > r.t)
            lo, hi = sorted((prev[1], nxt[1]))
            assert lo <= r.filled_cents <= hi
            # exact truncating-division interpolant
            expect = prev[1] + ((nxt[1] - prev[1]) * (r.t - prev[0])) // (
                nxt[0] - prev[0]
            )
            # Python // floors; the query truncates toward zero — they
            # agree unless the numerator is negative and non-divisible
            num = (nxt[1] - prev[1]) * (r.t - prev[0])
            den = nxt[0] - prev[0]
            trunc = prev[1] + int(num / den) if num < 0 else expect
            assert r.filled_cents == trunc
    assert len(obs_idx) < len(rows), "no gaps to interpolate at sf0.001?"


def test_average_precision_matches_bruteforce(spark):
    """AP must equal the sklearn-style step-wise sum computed in
    Python over grouped distinct scores."""
    got = _run(spark, "ml_average_precision").collect()[0]
    d = (
        _t(spark, SF, "documents")
        .select("n_chars", (F.col("lang") == "en").cast("int").alias("y"))
        .collect()
    )
    pos = Counter()
    tot = Counter()
    for r in d:
        pos[r.n_chars] += r.y
        tot[r.n_chars] += 1
    p = sum(pos.values())
    tp = ctot = 0
    ap = 0.0
    for s in sorted(tot, reverse=True):
        tp += pos[s]
        ctot += tot[s]
        if pos[s] > 0:
            ap += pos[s] * tp / (p * ctot)
    assert got.n_pos == p
    assert 0.0 < got.average_precision <= 1.0
    assert abs(got.average_precision - ap) < 1e-12


def test_cohens_kappa_matches_bruteforce(spark):
    got = _run(spark, "ml_cohens_kappa").collect()[0]
    d = _t(spark, SF, "documents").select("n_chars", "text").collect()
    n = len(d)
    a = [1 if r.n_chars >= 300 else 0 for r in d]
    b = [1 if (len(r.text) - len(r.text.replace(" ", ""))) >= 49 else 0 for r in d]
    agree = sum(1 for x, y in zip(a, b) if x == y)
    ra1, rb1 = sum(a), sum(b)
    s = ra1 * rb1 + (n - ra1) * (n - rb1)
    kappa = (n * agree - s) / (n * n - s)
    assert got.n == n and got.agree == agree
    assert -1.0 <= got.kappa <= 1.0
    assert abs(got.kappa - kappa) < 1e-12


def test_cramers_v_matches_bruteforce(spark):
    got = _run(spark, "ml_cramers_v").collect()[0]
    o = _t(spark, SF, "orders").select("o_orderpriority", "o_orderstatus").collect()
    cells = Counter((r.o_orderpriority, r.o_orderstatus) for r in o)
    rm = Counter()
    cm = Counter()
    for (rk, ck), c in cells.items():
        rm[rk] += c
        cm[ck] += c
    n = sum(cells.values())
    chi2 = 0.0
    for rk, ck in sorted(cells):
        e = rm[rk] * cm[ck] / n
        chi2 += (cells[(rk, ck)] - e) ** 2 / e
    v = math.sqrt(chi2 / (n * min(len(rm) - 1, len(cm) - 1)))
    assert got.n == n
    assert abs(got.chi2 - chi2) < 1e-9 * max(1.0, chi2)
    assert 0.0 <= got.cramers_v <= 1.0
    assert abs(got.cramers_v - v) < 1e-9
