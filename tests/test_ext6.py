"""Round-3 batch (now in registry/ext.py, stream.py, llm.py, ml.py,
graph.py): retrieval, graph, and maintenance operator properties that
hold at any scale — the DuckDB-oracle gate (tools/check.py) is the
exact-value signal; these assert the invariants that survive a testdata
regeneration."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as ent

    return ent.queries()


def test_bm25_scores_positive_and_bounded(spark, queries):
    rows = queries["llm_bm25_score"](spark, SF).collect()
    assert len(rows) > 0
    # BM25 with the +1 idf formulation is strictly positive, and the
    # per-term contribution is bounded by idf * (k1 + 1)
    assert all(r.bm25 > 0 for r in rows)


def test_inverted_index_invariants(spark, queries):
    rows = queries["llm_inverted_index"](spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.df >= 1
        assert r.total_tf >= r.df  # every posting has tf >= 1
        assert r.top_tf >= 1


def test_pagerank_mass_and_node_count(spark, queries):
    rows = queries["graph_pagerank"](spark, SF).collect()
    assert len(rows) == 25  # one rank per nation, isolated nodes kept
    total = sum(r.pagerank for r in rows)
    # dangling mass is dropped, never added: total in (0, 1]
    assert 0 < total <= 1.000001
    assert all(r.pagerank > 0 for r in rows)  # teleport floor


def test_pagerank_local_equals_distributed(spark):
    """The adaptive small-graph path and the forced-distributed
    join-iteration path must agree to 6dp on the same graph (the same
    pin connected_components carries for its two strategies)."""
    from machine_telemetry_etl_ml_pipeline_spark.operators.graph import pagerank
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    o = _t(spark, SF, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, SF, "customer").select("c_custkey", "c_nationkey")
    li = _t(spark, SF, "lineitem").select("l_orderkey", "l_suppkey")
    s = _t(spark, SF, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
    )
    nodes = _t(spark, SF, "nation").select(F.col("n_nationkey").alias("node"))
    stats_l, stats_d = {}, {}
    local = {
        r.node: round(r.rank, 6)
        for r in pagerank(nodes, edges, stats=stats_l).collect()
    }
    dist = {
        r.node: round(r.rank, 6)
        for r in pagerank(
            nodes, edges, stats=stats_d, small_graph_threshold=0
        ).collect()
    }
    assert stats_l["strategy"] == "local"
    assert stats_d["strategy"] == "distributed"
    assert local == dist


def test_incremental_rollup_matches_direct(spark, queries):
    """Partial-merge result == single-pass aggregate computed in-Spark
    (engine-internal twin of the DuckDB oracle)."""
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    merged = {
        (r.month_epoch, r.o_orderstatus): (r.n_orders, r.sum_total)
        for r in queries["ext_incremental_rollup"](spark, SF).collect()
    }
    direct = {
        (r.month_epoch, r.o_orderstatus): (r.n_orders, r.sum_total)
        for r in _t(spark, SF, "orders")
        .groupBy(
            F.unix_timestamp(F.date_trunc("month", "o_orderdate")).alias("month_epoch"),
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_total"),
        )
        .collect()
    }
    assert set(merged) == set(direct)
    for k, (n, s) in merged.items():
        dn, ds = direct[k]
        assert n == dn
        assert abs(s - ds) < 1e-4  # float-merge order differs, sub-rounding only


def test_data_profile_shape(spark, queries):
    rows = {r.col_name: r for r in queries["ext_data_profile"](spark, SF).collect()}
    assert set(rows) == {"l_quantity", "l_extendedprice", "l_discount", "l_tax"}
    for r in rows.values():
        assert r.n_nulls >= 0
        assert r.n_distinct >= 1
        assert r.min_v <= r.max_v
        assert r.min_v <= r.avg_r4 <= r.max_v


def test_gap_fill_dense_and_filled(spark, queries):
    out = queries["ext_gap_fill_ffill"](spark, SF).collect()
    assert len(out) > 0
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    for user, rows in by_user.items():
        hours = sorted(r.hour_epoch for r in rows)
        # dense hourly grid: consecutive epochs differ by exactly 3600
        assert all(b - a == 3600 for a, b in zip(hours, hours[1:]))
        # forward fill leaves no nulls (grid starts at an observed hour)
        assert all(r.v_filled is not None for r in rows)
    # gaps exist in the testdata and are flagged
    assert any(r.is_gap for r in out)


def test_rolling_median_bounded_by_frame(spark, queries):
    rows = queries["ext_rolling_median"](spark, SF).collect()
    assert len(rows) > 0
    assert all(r.med9 is not None for r in rows)


def test_histogram_partitions_all_rows(spark, queries):
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    rows = queries["ext_histogram"](spark, SF).collect()
    total = sum(r.n for r in rows)
    assert total == _t(spark, SF, "events").count()
    assert all(r.bucket >= 0 for r in rows)


def test_python_datasource_partitioned_read(spark, queries):
    out = queries["ext_python_datasource"](spark, SF)
    rows = out.collect()
    assert sum(r.n for r in rows) == 5000
    # and the raw source exposes the requested parallelism
    from machine_telemetry_etl_ml_pipeline_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    raw = (
        spark.read.format("synthetic_events")
        .option("n", "1000")
        .option("partitions", "4")
        .load()
    )
    assert raw.rdd.getNumPartitions() == 4
    assert raw.count() == 1000


def test_scd2_pit_join_covers_all_shipments(spark, queries):
    """Every lineitem lands in exactly one group (at most one version's
    half-open window can contain a timestamp), so group counts must sum
    to the lineitem count. The synthetic data allows shipdates BEFORE
    the customer's first order date, so a 'none' (no version yet)
    group is legitimate — what must never happen is double-matching,
    which would overshoot the total."""
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    rows = queries["ext_scd2_point_in_time_join"](spark, SF).collect()
    assert sum(r.n for r in rows) == _t(spark, SF, "lineitem").count()
    assert {r.status_at_ship for r in rows} >= {"F", "O", "P"}


def test_try_arithmetic_nulls_not_errors(spark, queries):
    rows = queries["ext_try_arithmetic"](spark, SF).collect()
    assert len(rows) > 0
    # non-numeric cast is NULL for every row, never an exception
    assert all(r.flag_as_num is None for r in rows)
    # qty == 30 rows exist in the slice and yield NULL division
    assert any(r.per_unit_off30 is None for r in rows)


def test_linear_regression_sql_sane(spark, queries):
    import math

    rows = queries["ml_linear_regression_sql"](spark, SF).collect()
    assert len(rows) == 3
    for r in rows:
        # slope sign is data-dependent (price and quantity are drawn
        # independently in the synthetic data); the invariants are
        # finiteness and the R^2 range
        assert r.slope is not None and math.isfinite(r.slope)
        assert 0 <= r.r2 <= 1


def test_novel_ngram_ratio_bounds_and_first_doc(spark, queries):
    rows = {r.doc_id: r for r in queries["llm_novel_ngram_ratio"](spark, SF).collect()}
    assert len(rows) > 0
    for r in rows.values():
        assert 0 <= r.n_novel <= r.n_grams
        assert 0.0 <= r.novel_ratio <= 1.0
    # the lowest doc_id can only introduce grams, never repeat earlier ones
    first = rows[min(rows)]
    assert first.novel_ratio == 1.0


def test_framesample_stride_and_counts(spark, queries):
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    rows = queries["llm_multimodal_framesample"](spark, SF).collect()
    assert len(rows) > 0
    assert all(r.frame_idx % 4 == 0 for r in rows)
    assert all(0 <= r.frame_idx < r.n_frames for r in rows)
    assert all(len(r.frame_md5) == 32 for r in rows)
    # every document with at least one full 16-byte frame is sampled
    n_docs_with_frames = (
        _t(spark, SF, "documents").filter(F.length("text") >= 16).count()
    )
    assert len({r.asset_id for r in rows}) == n_docs_with_frames


def test_stratified_exact_rates_and_determinism(spark, queries):
    out = queries["ext_sample_stratified_exact"](spark, SF)
    counts = {
        r.event_type: r.n
        for r in out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    totals = {
        r.event_type: r.n
        for r in _t(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # full-keep strata are exact; fractional strata within binomial noise
    for t in ("purchase", "signup"):
        if t in totals:
            assert counts.get(t, 0) == totals[t]
    for t, frac in (("click", 410 / 4096), ("view", 410 / 4096), ("error", 0.5)):
        if t in totals and totals[t] >= 50:
            rate = counts.get(t, 0) / totals[t]
            assert abs(rate - frac) < 0.12
    # determinism: same rows on a second evaluation
    assert sorted(r.event_id for r in out.collect()) == sorted(
        r.event_id for r in queries["ext_sample_stratified_exact"](spark, SF).collect()
    )


def test_novel_ngram_in_row_distinct_matches_word_ngrams(spark, queries):
    """r13 internals: per-doc gram dedup moved in-row (array_distinct)
    — n_grams must equal the old global-distinct path's per-doc count
    (llm.dedup.word_ngrams, the oracle's DISTINCT (doc_id, g8))."""
    from machine_telemetry_etl_ml_pipeline_spark.llm.dedup import word_ngrams
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    got = {
        r.doc_id: r.n_grams
        for r in queries["llm_novel_ngram_ratio"](spark, SF).collect()
    }
    true = {
        r.doc_id: r.n
        for r in word_ngrams(_t(spark, SF, "documents"), n=8)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == true
