"""Invariant tests for the round-5 corpus-curation batch (now in
registry/ext.py, llm.py): properties the DuckDB oracle gate can't
express — membership stability under re-partitioning, quota bounds,
shard completeness, norm non-negativity, Zipf monotonicity."""

from __future__ import annotations

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_quota_sample_bounds_and_budget(spark):
    rows = _run(spark, "llm_quota_sample_by_source").collect()
    total = sum(r.n_docs for r in rows)
    sampled = sum(r.n_sampled for r in rows)
    for r in rows:
        assert 0 <= r.n_sampled <= r.n_docs, r
        assert 0 <= r.thresh <= 65536, r
    # ~30% corpus budget: integer flooring only loses, temperature
    # flattening redistributes but the cap can't create docs
    assert sampled <= 0.35 * total
    assert sampled >= 0.15 * total


def test_quota_sample_membership_is_partition_invariant(spark, shuffle_partitions):
    """The sampled id-sum digest must be identical however the corpus
    is partitioned — the reproducibility property hash sampling buys
    over RNG sampling."""
    a = {
        (r.source): r.sum_sampled_ids
        for r in _run(spark, "llm_quota_sample_by_source").collect()
    }
    shuffle_partitions(3)
    df = _run(spark, "llm_quota_sample_by_source")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    b = {(r.source): r.sum_sampled_ids for r in df.collect()}
    assert a == b


def test_shard_report_is_complete_and_balanced(spark):
    df = _run(spark, "ext_shard_balance_report")
    rows = df.collect()
    n_docs_total = sum(r.n_docs for r in rows)
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    assert n_docs_total == _t(spark, SF, "documents").count()
    assert {r.shard_id for r in rows} <= set(range(32))
    # md5 is uniform: no shard should be pathologically hot even at
    # 500 docs (expected 15.6/shard; allow a generous 4x)
    assert max(r.n_docs for r in rows) <= 4 * (n_docs_total / 32)


def test_embedding_norms_nonnegative_and_ordered(spark):
    for r in _run(spark, "llm_embedding_norm_stats").collect():
        assert 0 <= r.min_norm <= r.p50_norm <= r.p95_norm <= r.max_norm
        assert 0 <= r.n_zero <= r.n_vecs


def test_zipf_ranks_are_dense_and_counts_monotone(spark):
    rows = sorted(_run(spark, "llm_zipf_topk_terms").collect(), key=lambda r: r.rnk)
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    counts = [r.n for r in rows]
    assert counts == sorted(counts, reverse=True)
    # top-20 shares are a strict subset of the corpus
    assert 0 < sum(r.share for r in rows) < 1
