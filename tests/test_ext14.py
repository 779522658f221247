"""Invariant tests for the round-5 batch-9 entries (now in
registry/ext.py, ml.py): brute-force recomputation of the two-proportion
z-test and Welch's t-test from raw rows, plus statistical identities."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def _arm(user_id: int) -> int:
    return int(hashlib.md5(str(user_id).encode()).hexdigest()[:8], 16) % 2


def test_ab_ztest_matches_brute_force(spark):
    """Arm sizes, conversions, rates, and the z statistic must match an
    independent Python recomputation over raw events."""
    row = _run(spark, "ml_ab_ztest_conversion").collect()[0]
    events = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "event_type", "ts")
        .collect()
    )
    conv = defaultdict(int)
    users = set()
    for r in events:
        users.add(r.user_id)
        if r.event_type == "purchase" and r.ts.date().isoformat() == "2024-01-29":
            conv[r.user_id] = 1
    arms = {0: [0, 0], 1: [0, 0]}  # arm -> [n, conversions]
    for u in users:
        a = _arm(u)
        arms[a][0] += 1
        arms[a][1] += conv[u]
    (n0, c0), (n1, c1) = arms[0], arms[1]
    assert (row.n_control, row.conv_control) == (n0, c0)
    assert (row.n_treat, row.conv_treat) == (n1, c1)
    assert abs(row.rate_control - c0 / n0) < 1e-6
    assert abs(row.rate_treat - c1 / n1) < 1e-6
    p = (c0 + c1) / (n0 + n1)
    z = (c1 / n1 - c0 / n0) / math.sqrt(p * (1 - p) * (1 / n0 + 1 / n1))
    assert abs(row.z_stat - z) < 1e-6


def test_welch_ttest_matches_brute_force(spark):
    """Means, t statistic, and Welch-Satterthwaite df must match the
    textbook formulas computed independently from raw cents."""
    row = _run(spark, "ml_welch_ttest").collect()[0]
    orders = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    groups = {0: [], 1: []}
    for r in orders:
        g = 1 if r.o_orderpriority in ("1-URGENT", "2-HIGH") else 0
        groups[g].append(round(r.o_totalprice * 100))
    stats = {}
    for g, xs in groups.items():
        n = len(xs)
        mean = sum(xs) / n
        var = sum((x - mean) ** 2 for x in xs) / (n - 1)
        stats[g] = (n, mean, var)
    (n0, m0, v0), (n1, m1, v1) = stats[0], stats[1]
    assert (row.n_low, row.n_high) == (n0, n1)
    assert abs(row.mean_low - m0 / 100) < 1e-4
    assert abs(row.mean_high - m1 / 100) < 1e-4
    se0, se1 = v0 / n0, v1 / n1
    t = (m1 - m0) / math.sqrt(se0 + se1)
    df = (se0 + se1) ** 2 / (se0**2 / (n0 - 1) + se1**2 / (n1 - 1))
    # raw-cents t vs engine t (computed on /100 means) agree because the
    # /100 scaling cancels in the ratio
    assert abs(row.t_stat - t) < 1e-4
    assert abs(row.welch_df - df) < 1e-2
    assert min(n0, n1) - 1 <= row.welch_df <= n0 + n1 - 2


def test_mann_whitney_matches_brute_force(spark):
    """U and the tie-corrected z must match the textbook computation
    over tie-averaged ranks."""
    row = _run(spark, "ml_mann_whitney_u").collect()[0]
    orders = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    vals = [
        (1 if r.o_orderpriority in ("1-URGENT", "2-HIGH") else 0,
         round(r.o_totalprice * 100))
        for r in orders
    ]
    xs = sorted(v for _, v in vals)
    # tie-averaged ranks
    from collections import Counter, defaultdict

    counts = Counter(xs)
    first_rank = {}
    pos = 1
    for v in sorted(counts):
        first_rank[v] = pos
        pos += counts[v]
    avg_rank = {v: first_rank[v] + (counts[v] - 1) / 2 for v in counts}
    n = len(vals)
    n1 = sum(g for g, _ in vals)
    r1 = sum(avg_rank[v] for g, v in vals if g == 1)
    u = r1 - n1 * (n1 + 1) / 2
    tsum = sum(c**3 - c for c in counts.values() if c > 1)
    var = n1 * (n - n1) / 12 * ((n + 1) - tsum / (n * (n - 1)))
    z = (u - n1 * (n - n1) / 2) / math.sqrt(var)
    assert (row.n1, row.n0) == (n1, n - n1)
    assert abs(row.u_stat - u) < 0.51  # u rounded to 1dp
    assert abs(row.z_stat - z) < 1e-6


def test_cusum_changepoint_matches_brute_force(spark):
    """The reported day must maximize |cumsum - i*mean| over the daily
    series, with the earliest-day tiebreak."""
    row = _run(spark, "ext_cusum_changepoint").collect()[0]
    events = spark.read.parquet(f"{SF}/events.parquet").select("ts").collect()
    from collections import Counter

    days = Counter(r.ts.date() for r in events)
    series = sorted(days.items())
    n = len(series)
    total = sum(x for _, x in series)
    cum = 0
    best = None
    for i, (d, x) in enumerate(series, start=1):
        cum += x
        ndev = abs(n * cum - i * total)
        if best is None or ndev > best[0]:
            best = (ndev, d, x, cum)
    ndev, d, x, cum = best
    assert row.change_day == d
    assert row.day_count == x
    assert row.cum_events == cum
    assert row.scaled_max_dev == ndev
    assert abs(row.max_dev - ndev / n) < 1e-4
