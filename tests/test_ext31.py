"""Thirty-first extension batch: mergeable quantile sketch + FULL
OUTER stream-stream interval join (now in registry/ext.py, stream.py).

Properties pinned here (the DuckDB oracles check engine parity; these
check the MATH):
- the sketch's proven 12.5% relative-error bound actually contains the
  exact rank-k value, and the estimate never exceeds it (lower bound),
- the sketch total equals the corpus count (no rows lost in the
  accumulate/combine lifecycle),
- the full-outer stream's matched rows are EXACTLY the batch inner
  interval join, and each null side obeys its own watermark eviction
  rule (click: window closed; purchase: timestamp passed).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY, _t

SF = "/root/testdata/sf0.001"


def test_quantile_sketch_bound_contains_exact_rank(spark):
    out = {
        r.q: r for r in REGISTRY["ext_approx_quantile_sketch_merge"].fn(spark, SF).collect()
    }
    assert set(out) == {0.5, 0.9, 0.99}
    cents = sorted(
        r.x
        for r in _t(spark, SF, "lineitem")
        .select(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("x"))
        .collect()
    )
    n = len(cents)
    for q, r in out.items():
        assert r.n == n
        exact = cents[math.ceil(q * n) - 1]  # rank-k, 1-indexed
        # lower-bound estimate with width/lb <= 1/8: lb <= exact < lb*1.125
        assert r.est_cents_lb <= exact < r.est_cents_lb * 1.125, (q, r, exact)
    # quantile estimates are monotone in q
    assert out[0.5].est_cents_lb <= out[0.9].est_cents_lb <= out[0.99].est_cents_lb


def test_quantile_sketch_bucket_is_order_preserving(spark):
    """bucket(x) monotone in x — the property that makes the
    cumulative-rank walk a quantile estimator at all."""
    df = spark.range(8, 1_000_000, 997).select(
        F.col("id").alias("x"),
        F.expr(
            "(length(bin(id)) - 1) * 8 + (shiftright(id, length(bin(id)) - 4) % 8)"
        ).alias("bucket"),
    )
    rows = df.orderBy("x").collect()
    for a, b in zip(rows, rows[1:]):
        assert a.bucket <= b.bucket, (a, b)


def test_full_outer_matches_equal_batch_inner_join(spark):
    from machine_telemetry_etl_ml_pipeline_spark.sources.catalog import load_table

    out = REGISTRY["stream_stream_join_full_outer"].fn(spark, SF)
    matched = {
        (r.click_id, r.purchase_id)
        for r in out.filter("click_id IS NOT NULL AND purchase_id IS NOT NULL").collect()
    }
    ev = load_table(spark, SF, "events")
    c = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("cid"), F.col("ts").alias("cts")
    )
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    batch = {
        (r.cid, r.pid)
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }
    assert matched == batch


def test_full_outer_null_rows_obey_eviction_rules(spark):
    from machine_telemetry_etl_ml_pipeline_spark.sources.catalog import load_table

    out = REGISTRY["stream_stream_join_full_outer"].fn(spark, SF)
    ev = load_table(spark, SF, "events")
    mx = ev.filter("event_type IN ('click','purchase')").groupBy("event_type").agg(
        F.max(F.unix_timestamp("ts")).alias("m")
    )
    wm = min(r.m for r in mx.collect()) - 2 * 3600
    null_p = out.filter("purchase_id IS NULL").collect()
    null_c = out.filter("click_id IS NULL").collect()
    assert null_p and null_c  # both outer sides actually fire
    for r in null_p:  # unmatched click: 30-min window closed under wm
        assert r.click_epoch + 1800 < wm, r
    for r in null_c:  # unmatched purchase: no future click can precede it
        assert r.purchase_epoch < wm, r
