"""Invariant tests for the round-6 batch (now in registry/ext.py,
stream.py, ml.py, graph.py): idempotent foreachBatch sink, AQE skew
join, label propagation, boosted stumps."""

from __future__ import annotations

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY, _t

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_foreach_batch_idempotent_matches_source_exactly(spark):
    """The sink's digest (which includes a deliberate last-batch
    replay) must equal the batch view of the source — the replay
    must not have duplicated anything."""
    got = {
        r.event_type: (r.n, r.sum_cents)
        for r in _run(spark, "stream_foreach_batch_idempotent").collect()
    }
    src = (
        _t(spark, SF, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .collect()
    )
    expect = {r.event_type: (r.n, r.sum_cents) for r in src}
    assert got == expect


def test_aqe_skew_join_equals_unhinted_join(spark):
    """The merge-hinted AQE-skew plan must produce byte-identical
    results to the plain (broadcast-eligible) join of the same data."""
    got = {r.n_name: (r.n, r.sum_cents) for r in _run(spark, "ext_aqe_skew_join").collect()}
    e = _t(spark, SF, "events")
    f = e.select(
        F.when(F.col("user_id") % 25 < 22, F.lit(0))
        .otherwise(F.col("user_id") % 25)
        .alias("k"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    n = _t(spark, SF, "nation").select("n_nationkey", "n_name")
    plain = (
        f.join(n, f.k == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
        .collect()
    )
    assert got == {r.n_name: (r.n, r.sum_cents) for r in plain}


def test_label_propagation_invariants(spark):
    """After 3 min-label rounds: every label <= its node (labels only
    travel down), labels are existing node ids, one more round never
    increases any label (monotone), and the number of communities is
    >= the true component count (bounded rounds can only OVER-split,
    never merge two true components)."""
    from machine_telemetry_etl_ml_pipeline_spark.registry.graph import _copurchase_edges

    out = _run(spark, "graph_label_propagation").collect()
    sizes = {r.community: r.size for r in out}
    assert all(r.min_node >= r.community for r in out)

    edges = [(r.u, r.v) for r in _copurchase_edges(spark, SF).select("u", "v").collect()]
    nodes = set()
    for u, v in edges:
        nodes.add(u)
        nodes.add(v)
    assert set(sizes) <= nodes
    assert sum(sizes.values()) == len(nodes)

    # true component count via union-find on the same edge list
    parent = {x: x for x in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    n_components = sum(1 for x in nodes if find(x) == x)
    assert len(sizes) >= n_components


def test_gbt_stumps_reduce_training_error(spark):
    """Each boosting round must not increase squared error: final MSE
    <= variance of the centered residuals after round 0, and the two
    learned thresholds are real quantity values with opposite-signed
    leaves (mean-zero residuals split into below/above groups)."""
    row = _run(spark, "ml_gbt_stumps").collect()[0]
    y = (
        _t(spark, SF, "lineitem")
        .select(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("c")
        )
        .collect()
    )
    cents = [r.c for r in y]
    n = len(cents)
    f0 = sum(cents) // n if sum(cents) >= 0 else -((-sum(cents)) // n)
    var0 = sum((c - f0) ** 2 for c in cents) / n
    assert row.n == n
    assert 0 <= row.mse <= var0
    assert 1 <= row.t1 <= 50 and 1 <= row.t2 <= 50
    # a useful first split separates below-mean from above-mean mass
    assert row.w1_lo < 0 < row.w1_hi or row.w1_hi < 0 < row.w1_lo


def test_tdiv_matches_spark_div_on_negatives(spark):
    """_tdiv must replicate Spark SQL `div` (truncation toward zero,
    BigDecimal divideToIntegralValue) — Python's flooring `//` differs
    on negative dividends, and stump residual sums go negative."""
    from machine_telemetry_etl_ml_pipeline_spark.registry.ml import _tdiv

    pairs = [(a, b) for a in (-7, -3, -1, 1, 3, 7, 0) for b in (-4, -2, 2, 4)]
    df = spark.createDataFrame(pairs, "a long, b long")
    got = {
        (r.a, r.b): r.d
        for r in df.select("a", "b", F.expr("a div b").alias("d")).collect()
    }
    for (a, b), d in got.items():
        assert _tdiv(a, b) == d, (a, b, _tdiv(a, b), d)


def test_gbt_sufficient_stats_match_per_row_brute_force(spark):
    """The (q, count, sum, sum-of-squares) collapse must reproduce the
    per-row trajectory EXACTLY: brute-force the two boosting rounds
    over raw (q, cents) rows in unbounded Python ints — every split
    scored per row, same IEEE score formula, same DESC/q-ASC tiebreak,
    truncated leaves — and compare all 9 outputs, mse by bit pattern."""
    import struct

    from machine_telemetry_etl_ml_pipeline_spark.registry.ml import _tdiv

    row = _run(spark, "ml_gbt_stumps").collect()[0]
    raw = (
        _t(spark, SF, "lineitem")
        .select(
            F.col("l_quantity").cast("long").alias("q"),
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("long")
            .alias("c"),
        )
        .collect()
    )
    pts = [(r.q, r.c) for r in raw]
    n = len(pts)
    f0 = sum(c for _, c in pts) // n

    def brute_fit(res):
        # res: list of (q, r) per row, exact ints
        qs = sorted({q for q, _ in res})
        st = sum(r for _, r in res)
        nt = n
        best = None
        for t in qs:
            nl = sum(1 for q, _ in res if q <= t)
            if nl >= nt:
                continue
            sl = sum(r for q, r in res if q <= t)
            sl_d = float(sl)
            sr_d = float(st - sl)
            score = sl_d * sl_d / nl + sr_d * sr_d / (nt - nl)
            if best is None or score > best[0] or (
                score == best[0] and t < best[1]
            ):
                best = (score, t, sl, nl)
        _, t, sl, nl = best
        return t, _tdiv(sl, nl), _tdiv(st - sl, nt - nl)

    r1 = [(q, c - f0) for q, c in pts]
    t1, w1_lo, w1_hi = brute_fit(r1)
    r2 = [(q, r - (w1_lo if q <= t1 else w1_hi)) for q, r in r1]
    t2, w2_lo, w2_hi = brute_fit(r2)
    r3 = [r - (w2_lo if q <= t2 else w2_hi) for q, r in r2]
    sse = sum(r * r for r in r3)
    mse = float(sse) / n
    assert (row.f0, row.t1, row.w1_lo, row.w1_hi) == (f0, t1, w1_lo, w1_hi)
    assert (row.t2, row.w2_lo, row.w2_hi, row.n) == (t2, w2_lo, w2_hi, n)
    assert struct.pack("d", row.mse) == struct.pack("d", mse)
