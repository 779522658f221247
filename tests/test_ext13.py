"""Invariant tests for the round-5 batch-8 entries (now in
registry/ext.py, stream.py, ml.py): brute-force recounts for the Count-
Min sketch and interval merge, a scipy-free Spearman cross-check, and
lift-table mass identities."""

from __future__ import annotations

from collections import Counter, defaultdict

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_count_min_sketch_overestimates_and_bounds(spark):
    """Every CMS estimate must be >= the exact count (one-sided error,
    per construction) and <= the total stream length; the probe rows
    must be the true top-k keys with exact counts."""
    rows = _run(spark, "ext_count_min_sketch").collect()
    events = spark.read.parquet(f"{SF}/events.parquet").select("user_id").collect()
    exact = Counter(r.user_id for r in events)
    total = sum(exact.values())
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert {r.probe: r.exact_n for r in rows} == dict(top)
    for r in rows:
        assert r.never_undercounts
        assert r.exact_n <= r.cms_estimate <= total


def test_interval_merge_brute_force(spark):
    """Merged islands must equal an independent sweep-line union of the
    per-user [s, s+300] intervals: same island count, same spans, and
    no two islands of one user may overlap."""
    rows = _run(spark, "ext_interval_merge").collect()
    events = spark.read.parquet(f"{SF}/events.parquet").select("user_id", "ts").collect()
    per_user = defaultdict(list)
    for r in events:
        s = int(r.ts.timestamp())
        per_user[r.user_id].append((s, s + 300))
    expected = {}
    for u, ivs in per_user.items():
        ivs.sort()
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
                merged[-1][2] += 1
            else:
                merged.append([s, e, 1])
        expected[u] = [(s, e, n) for s, e, n in merged]
    got = defaultdict(list)
    for r in rows:
        assert r.span_s == r.end_s - r.start_s
        got[r.user_id].append((r.start_s, r.end_s, r.n_events))
    for u in expected:
        assert sorted(got[u]) == expected[u], u
    for u, islands in got.items():
        ordered = sorted(islands)
        for (s1, e1, _), (s2, _, _) in zip(ordered, ordered[1:]):
            assert s2 > e1, (u, s1, e1, s2)


def test_spearman_matches_brute_force(spark):
    """Spearman must equal Pearson over tie-averaged ranks computed
    independently in Python."""
    rows = {r.flag: r for r in _run(spark, "ml_spearman_corr").collect()}
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    )
    groups = defaultdict(list)
    for r in li:
        groups[r.l_returnflag].append((r.l_quantity, r.l_extendedprice))

    def avg_ranks(xs):
        order = sorted(range(len(xs)), key=lambda i: xs[i])
        ranks = [0.0] * len(xs)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and xs[order[j]] == xs[order[i]]:
                j += 1
            r = (i + 1 + j) / 2  # average of ranks i+1 .. j
            for k in range(i, j):
                ranks[order[k]] = r
            i = j
        return ranks

    for flag, pairs in groups.items():
        rx = avg_ranks([p[0] for p in pairs])
        ry = avg_ranks([p[1] for p in pairs])
        n = len(pairs)
        sx, sy = sum(rx), sum(ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        sxx = sum(a * a for a in rx)
        syy = sum(b * b for b in ry)
        rho = (n * sxy - sx * sy) / (
            (n * sxx - sx * sx) ** 0.5 * (n * syy - sy * sy) ** 0.5
        )
        assert rows[flag].n == n
        assert abs(rows[flag].spearman - rho) < 1e-6, flag


def test_lift_gains_mass_identities(spark):
    """Deciles must partition the corpus, cum_gain must reach 1.0 in
    the last decile, lift must be positive-normalized (weighted mean
    of per-decile precision ratios = 1 at the end), and cum_pos must
    be the running sum of n_pos."""
    rows = sorted(_run(spark, "ml_lift_gains").collect(), key=lambda r: r.decile)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    n_pos = docs.filter("lang = 'en'").count()
    assert [r.decile for r in rows] == list(range(1, 11))
    assert sum(r.n in (n_docs // 10, n_docs // 10 + 1) for r in rows) == 10
    assert sum(r.n for r in rows) == n_docs
    assert sum(r.n_pos for r in rows) == n_pos
    running = 0
    for r in rows:
        running += r.n_pos
        assert r.cum_pos == running
        assert abs(r.cum_gain - running / n_pos) < 1e-6
    assert abs(rows[-1].cum_gain - 1.0) < 1e-9
    assert abs(rows[-1].cum_lift - 1.0) < 1e-9
    # gains are non-decreasing; lift non-increasing iff ranking is
    # informative at the top (not asserted — data-dependent), but lift
    # must stay positive
    assert all(r.cum_lift > 0 for r in rows)


def test_chained_window_agg_matches_batch_closed_days(spark):
    """The chained streaming rollup must emit exactly the daily windows
    whose end clears the terminal watermark (max ts - 2h), each
    aggregating the complete day's hourly counts."""
    from collections import Counter

    rows = {r.day_start: r for r in _run(spark, "stream_chained_window_agg").collect()}
    events = spark.read.parquet(f"{SF}/events.parquet").select("ts").collect()
    import datetime

    tss = [r.ts for r in events]
    wm = max(tss) - datetime.timedelta(hours=2)
    hours = Counter(t.replace(minute=0, second=0, microsecond=0) for t in tss)
    days = Counter()
    for h, n in hours.items():
        days[h.replace(hour=0)] += 1
    expected_days = {
        d for d in days if d + datetime.timedelta(days=1) <= wm
    }
    assert set(rows) == {int(d.timestamp()) for d in expected_days}
    for d in expected_days:
        r = rows[int(d.timestamp())]
        day_hours = {h: n for h, n in hours.items() if h.replace(hour=0) == d}
        assert r.n_hours == len(day_hours)
        assert r.n_events == sum(day_hours.values())
        assert r.max_hourly == max(day_hours.values())


def test_holt_linear_matches_sequential_fold(spark):
    """Level/trend states must equal an independent sequential Python
    fold over the per-day counts."""
    rows = sorted(_run(spark, "ext_holt_linear").collect(), key=lambda r: r.day)
    events = spark.read.parquet(f"{SF}/events.parquet").select("ts").collect()
    from collections import Counter

    days = Counter(r.ts.date() for r in events)
    series = sorted(days.items())
    assert [r.day for r in rows] == [d for d, _ in series]
    assert [r.x for r in rows] == [x for _, x in series]
    l, b = float(series[0][1]), 0.0
    states = [(l, b)]
    for _, x in series[1:]:
        nl = 0.5 * x + 0.5 * (l + b)
        b = 0.3 * (nl - l) + 0.7 * b
        l = nl
        states.append((l, b))
    # outputs are unrounded and the fold's operation tree matches this
    # Python loop exactly — IEEE doubles must agree BITWISE
    for r, (el, eb) in zip(rows, states):
        assert r.level == el, (r.day, r.level, el)
        assert r.trend == eb, (r.day, r.trend, eb)
        assert r.forecast_next == el + eb
