"""Invariant tests for the round-6 part-5 batch (now in registry/ext.py,
llm.py, ml.py): Kendall tau-b, Theil-Sen slope, Z-order clustering, code
detection, embedding outliers."""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY, _t

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_kendall_tau_matches_bruteforce(spark):
    got = _run(spark, "ml_kendall_tau").collect()[0]
    pts = {}
    for r in _t(spark, SF, "customer").collect():
        x, y = pts.get(r.c_nationkey, (0, 0))
        pts[r.c_nationkey] = (x + 1, y + int(math.floor(r.c_acctbal * 100 + 0.5)))
    vals = [pts[k] for k in sorted(pts)]
    n = len(vals)
    conc = disc = n1 = n2 = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = vals[i][0] - vals[j][0]
            dy = vals[i][1] - vals[j][1]
            if dx * dy > 0:
                conc += 1
            elif dx * dy < 0:
                disc += 1
            if dx == 0:
                n1 += 1
            if dy == 0:
                n2 += 1
    n0 = n * (n - 1) // 2
    tau = (conc - disc) / math.sqrt((n0 - n1) * (n0 - n2))
    assert got.n == n and got.conc == conc and got.disc == disc
    assert -1.0 <= got.tau_b <= 1.0
    assert abs(got.tau_b - tau) < 1e-12


def test_theil_sen_matches_bruteforce(spark):
    got = _run(spark, "ml_theil_sen_slope").collect()[0]
    rows = (
        _t(spark, SF, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("ts").cast("date").alias("d"),
            F.expr("CAST(floor(value*100+0.5) AS BIGINT)").alias("c"),
        )
        .collect()
    )
    daily = defaultdict(int)
    d0 = min(r.d for r in _t(spark, SF, "events").select(F.col("ts").cast("date").alias("d")).collect())
    for r in rows:
        daily[(r.d - d0).days] += r.c
    ks = sorted(daily)
    slopes = sorted(
        (daily[b] - daily[a]) / (b - a)
        for i, a in enumerate(ks)
        for b in ks[i + 1 :]
    )
    m = len(slopes)
    med = (
        slopes[m // 2]
        if m % 2
        else (slopes[m // 2 - 1] + slopes[m // 2]) / 2
    )
    assert got.n_days == len(ks) and got.n_pairs == m
    assert abs(got.slope_cents_per_day - med) < 1e-9 * max(1.0, abs(med))


def test_zorder_bbox_locality(spark):
    """Z-order clusters must (a) partition all parts, (b) have bbox
    areas far below the full 256x256 grid, and (c) reproduce the
    Morton math in Python."""
    rows = _run(spark, "ext_zorder_cluster").collect()
    parts = _t(spark, SF, "part").select("p_retailprice", "p_size").collect()
    assert sum(r.n_parts for r in rows) == len(parts)

    def morton(xb, yb):
        m = 0
        for i in range(8):
            m |= ((xb >> i) & 1) << (2 * i)
            m |= ((yb >> i) & 1) << (2 * i + 1)
        return m

    boxes = defaultdict(lambda: [256, -1, 256, -1, 0])
    for p in parts:
        xb = min(int(math.floor(p.p_retailprice / 8)), 255)
        yb = min(p.p_size * 5, 255)
        b = boxes[morton(xb, yb) >> 8]
        b[0] = min(b[0], xb)
        b[1] = max(b[1], xb)
        b[2] = min(b[2], yb)
        b[3] = max(b[3], yb)
        b[4] += 1
    for r in rows:
        b = boxes[r.zbucket]
        assert (r.min_xb, r.max_xb, r.min_yb, r.max_yb, r.n_parts) == tuple(b)
        # locality: an 8-bit Morton prefix spans a 16x16 tile
        assert r.bbox_area <= 16 * 16
        assert r.bbox_area < 256 * 256 / 4


def test_code_detect_rates_consistent(spark):
    rows = _run(spark, "llm_code_detect").collect()
    n_docs = _t(spark, SF, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert 0 <= r.n_code <= r.n_docs
        assert abs(r.code_rate - r.n_code / r.n_docs) < 1e-12


def test_embedding_outliers_are_farthest(spark):
    """The reported top-5 per label must match a Python recompute of
    distances to the 4dp-rounded centroid."""
    got = defaultdict(list)
    for r in _run(spark, "llm_embedding_outliers").collect():
        got[r.label].append((r.vec_id, r.dist2))
    vecs = _t(spark, SF, "embeddings").collect()
    by_label = defaultdict(list)
    for r in vecs:
        by_label[r.label].append((r.vec_id, [float(x) for x in r.embedding]))
    for label, items in by_label.items():
        dim = len(items[0][1])
        cent = [
            round(sum(v[i] for _, v in items) / len(items), 4)
            for i in range(dim)
        ]
        scored = []
        for vid, v in items:
            dv = sum(a * a for a in v)
            dc = sum(a * b for a, b in zip(v, cent))
            cc = sum(b * b for b in cent)
            scored.append((vid, dv - 2 * dc + cc))
        scored.sort(key=lambda t: (-t[1], t[0]))
        expect = scored[:5]
        assert [v for v, _ in got[label]] == [v for v, _ in expect]
        for (_, d1), (_, d2) in zip(sorted(got[label]), sorted(expect)):
            assert abs(d1 - d2) < 1e-9
