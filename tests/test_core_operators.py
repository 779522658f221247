from __future__ import annotations

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.operators.core import (
    distinct_values,
    grouped_stats,
    latest_n,
    latest_per_key,
    range_scan,
    stats,
    top_k_by,
)


def _df(spark, rows, schema="k string, t long, v double"):
    return spark.createDataFrame(rows, schema)


def test_latest_per_key_basic(spark):
    df = _df(spark, [("a", 1, 1.0), ("a", 3, 2.0), ("b", 2, 5.0)])
    out = {r.k: (r.t, r.v) for r in latest_per_key(df, "k", "t").collect()}
    assert out == {"a": (3, 2.0), "b": (2, 5.0)}


def test_latest_per_key_tie_break(spark):
    # equal order values -> tiebreak column decides deterministically
    df = _df(spark, [("a", 1, 1.0), ("a", 1, 9.0), ("a", 1, 5.0)])
    out = latest_per_key(df, "k", "t", tiebreak="v").collect()
    assert len(out) == 1 and out[0].v == 9.0


def test_latest_per_key_null_key(spark):
    df = _df(spark, [(None, 1, 1.0), (None, 2, 2.0), ("a", 1, 3.0)])
    out = latest_per_key(df, "k", "t")
    assert out.count() == 2  # NULL keys form their own group


def test_latest_n_and_range_scan(spark):
    df = _df(spark, [("a", t, float(t)) for t in range(10)])
    top = latest_n(df, F.col("k") == "a", "t", 3).collect()
    assert sorted(r.t for r in top) == [7, 8, 9]
    rng = range_scan(df, F.col("k") == "a", "t", 2, 5).collect()
    assert [r.t for r in rng] == [2, 3, 4, 5]


def test_top_k_nulls_last(spark):
    df = _df(spark, [("a", 1, None), ("b", 2, 2.0), ("c", 3, 1.0)])
    out = top_k_by(df, "v", 2, ascending=True, tiebreak="k").collect()
    assert [r.k for r in out] == ["c", "b"]  # NULL sorts last, not first


def test_top_k_empty_input(spark):
    df = _df(spark, [("a", 1, 1.0)]).filter(F.lit(False))
    assert top_k_by(df, "v", 5).count() == 0


def test_distinct_values_sorted(spark):
    df = _df(spark, [("b", 1, 1.0), ("a", 2, 2.0), ("b", 3, 3.0)])
    assert [r.k for r in distinct_values(df, "k").collect()] == ["a", "b"]


def test_bounded_sorts_are_total_over_shuffled_partitions(spark):
    """The sorted operators return one total order, not per-partition
    runs, when their input arrives in 8 shuffled partitions."""
    rows = [(f"k{i % 23:02d}", (i * 7919) % 400, float(i % 11)) for i in range(400)]
    df = _df(spark, rows).repartition(8)
    assert df.rdd.getNumPartitions() == 8
    rng = [r.t for r in range_scan(df, F.col("t") >= 0, "t", 10, 390).collect()]
    assert rng == list(range(10, 391))
    desc = [r.t for r in range_scan(df, F.lit(True), "t", 10, 390, ascending=False).collect()]
    assert desc == rng[::-1]
    keys = [r.k for r in distinct_values(df, "k").collect()]
    assert keys == sorted({k for k, _, _ in rows})
    got = [(r.avg_v, r.k) for r in grouped_stats(df, "k", avg_cols=["v"], order_by="avg_v").collect()]
    assert len(got) == 23
    assert got == sorted(got, key=lambda g: (-g[0], g[1]))
    assert len({a for a, _ in got}) < len(got)  # ties on avg_v order by key


def test_stats_and_grouped_stats(spark):
    df = _df(spark, [("a", 1, 1.0), ("a", 2, 3.0), ("b", 3, 5.0)])
    s = stats(df, ["v"]).head()
    assert (s.n, s.min_v, s.max_v, s.avg_v) == (3, 1.0, 5.0, 3.0)
    g = {r.k: r.avg_v for r in grouped_stats(df, "k", avg_cols=["v"]).collect()}
    assert g == {"a": 2.0, "b": 5.0}


def test_stats_all_null_metric(spark):
    df = spark.createDataFrame([("a", None), ("b", None)], "k string, v double")
    s = stats(df, ["v"]).head()
    assert s.n == 2 and s.avg_v is None


def test_exact_avg_knife_edge_is_integer_math(spark):
    """exact_avg pins the .00005-boundary behavior round(avg(double),4)
    cannot: a group whose true mean lands EXACTLY on the boundary
    (here 2.00005 = micro-sum 4000100 over n=2) must round HALF_UP to
    2.0001 by construction — the fixed-point numerator and the
    integer-unit rounding make that the only possible answer, where
    the naive spec's answer depends on summation order and on whether
    the engine rounds the shortest decimal repr or the binary value
    (both divergence channels observed live at sf0.1, operators/core
    exact_avg docstring). Nulls are excluded from numerator AND
    denominator like avg()."""
    df = spark.createDataFrame(
        [("a", 2.0000), ("a", 2.0001), ("b", 1.0), ("b", None)],
        "k string, v double",
    )
    g = {r.k: r.avg_v for r in grouped_stats(df, "k", avg_cols=["v"]).collect()}
    assert g == {"a": 2.0001, "b": 1.0}
    # brute-force integer reference over random micro-grids: the
    # operator must equal round-half-up(sum_micro / (n*100)) / 1e4
    import random

    rng = random.Random(7)
    rows = [
        ("g", round(rng.uniform(0, 300), 6))
        for _ in range(200)
    ]
    got = grouped_stats(
        spark.createDataFrame(rows, "k string, v double"), "k", avg_cols=["v"]
    ).head().avg_v
    micro = [round(v * 1000000) for _, v in rows]
    units = (2 * sum(micro) + len(micro) * 100) // (2 * len(micro) * 100)
    assert got == units / 10000.0


def test_stratified_sample_rates(spark):
    """ext_sample_stratified (hash-threshold Bernoulli per stratum):
    realized per-stratum rates land near the requested fractions, and
    fraction-1.0 strata keep every row."""
    from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY
    from machine_telemetry_etl_ml_pipeline_spark.sources.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "events")
    totals = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    got = {
        r.event_type: r.n_sampled
        for r in REGISTRY["ext_sample_stratified"].fn(spark, "/root/testdata/sf0.01").collect()
    }
    assert got.get("purchase") == totals["purchase"]  # fraction 1.0 keeps all
    assert got.get("signup") == totals["signup"]
    click_rate = got.get("click", 0) / totals["click"]
    assert 0.05 < click_rate < 0.2, click_rate
    error_rate = got.get("error", 0) / totals["error"]
    assert 0.4 < error_rate < 0.6, error_rate


def test_bernoulli_sample_rate(spark):
    """ext_sample (hash-threshold Bernoulli): realized rate near the
    10% target, and re-running selects the IDENTICAL sample (the
    reproducibility property the hash re-spec buys over seeded RNG)."""
    from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY
    from machine_telemetry_etl_ml_pipeline_spark.sources.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "events")
    n = e.count()
    r1 = REGISTRY["ext_sample"].fn(spark, "/root/testdata/sf0.01").head()
    assert 0.07 < r1.n_sampled / n < 0.13, (r1.n_sampled, n)
    r2 = REGISTRY["ext_sample"].fn(spark, "/root/testdata/sf0.01").head()
    assert (r1.n_sampled, r1.n_users) == (r2.n_sampled, r2.n_users)
