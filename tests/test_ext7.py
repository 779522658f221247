"""Round-4 batch (now in registry/ext.py, stream.py, llm.py, ml.py):
streaming top-k materialization and corpus-curation operator properties
that hold at any scale — the DuckDB-oracle gate (tools/check.py) is the
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


def test_stream_topk_matches_batch_topk(spark, queries):
    """The pruned-CDC streaming top-k must EXACTLY equal the batch
    top-10 (monotone-count proof in the docstring) — the whole point
    of the operator."""
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    got = {
        (r.user_id, r.n)
        for r in queries["stream_topk_update_mode"](spark, SF).collect()
    }
    want = {
        (r.user_id, r.n)
        for r in _t(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
        .collect()
    }
    assert got == want
    assert len(got) == 10


def test_segment_dedup_retention_bounds(spark, queries):
    rows = queries["llm_segment_dedup"](spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert 1 <= r.n_kept <= r.n_segs or r.n_kept == 0
        assert 0.0 <= r.kept_ratio <= 1.0
    # the first document (doc_id ordering is the keep rule) loses nothing
    first = min(rows, key=lambda r: r.doc_id)
    assert first.n_kept == first.n_segs


def test_segment_dedup_conserves_distinct_segments(spark, queries):
    """Sum of kept segments corpus-wide == number of DISTINCT segments
    (each distinct segment text survives exactly once)."""
    from machine_telemetry_etl_ml_pipeline_spark.llm.textstats import words_col
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    rows = queries["llm_segment_dedup"](spark, SF).collect()
    total_kept = sum(r.n_kept for r in rows)
    d = _t(spark, SF, "documents")
    ws = words_col(F.col("text"))
    starts = F.sequence(F.lit(1), F.size(ws), F.lit(10))
    segs = F.transform(starts, lambda s: F.array_join(F.slice(ws, s, 10), " "))
    n_distinct = (
        d.filter(F.size(ws) > 0)
        .select(F.explode(segs).alias("seg"))
        .select("seg")
        .distinct()
        .count()
    )
    assert total_kept == n_distinct


def test_session_dynamic_gap_invariants(spark, queries):
    rows = queries["ext_session_dynamic_gap"](spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        # a session spans at least one event and extends past its last
        # event by the smallest gap (30 min), floored to seconds
        assert r.sess_end >= r.sess_start + 1800 - 1
        assert r.n_events >= 1
    # dynamic-gap sessions can only be FEWER OR EQUAL vs slicing at the
    # smallest gap everywhere, and MORE OR EQUAL vs the largest gap
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    e = _t(spark, SF, "events")

    def n_sessions(gap: str) -> int:
        return (
            e.groupBy("user_id", F.session_window(F.col("ts"), gap))
            .count()
            .count()
        )

    n_dyn = len(rows)
    assert n_sessions("60 minutes") <= n_dyn <= n_sessions("30 minutes")


def test_bigram_logprob_bounds(spark, queries):
    rows = queries["llm_bigram_logprob"](spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.mean_logprob < 0  # smoothed probs are < 1
        assert r.n_bigrams >= 1


def test_vocab_coverage_monotone(spark, queries):
    rows = sorted(
        queries["llm_vocab_coverage"](spark, SF).collect(), key=lambda r: r.k
    )
    assert [r.k for r in rows] == [5, 10, 20]
    cov = [r.coverage for r in rows]
    assert cov == sorted(cov)  # larger vocab never covers less
    assert all(0.0 < c <= 1.0 for c in cov)
    assert rows[0].vocab_size >= 20


def test_source_xml_roundtrip(spark, queries):
    rows = sorted(queries["ext_source_xml"](spark, SF).collect())
    assert [(r.id, r.name, r.price) for r in rows] == [
        (1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", 3.5),
        (4, "delta", 4.5), (5, "epsilon", 5.5),
    ]


def test_metadata_columns_match_plain_counts(spark, queries):
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    got = {
        (r.event_type, r.n)
        for r in queries["ext_metadata_columns"](spark, SF).collect()
    }
    want = {
        (r.event_type, r.n)
        for r in _t(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_ann_filtered_topk_respects_predicate(spark, queries):
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    rows = queries["llm_ann_filtered_topk"](spark, SF).collect()
    assert len(rows) == 50  # 10 queries x exact top-5 (pre-filter, never short)
    labels = {
        r.vec_id: r.label for r in _t(spark, SF, "embeddings").collect()
    }
    for r in rows:
        assert labels[r.neighbor_id] != labels[r.query_id]
        assert r.neighbor_id != r.query_id


def test_observation_metrics_match_recompute(spark, queries):
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    m = queries["ext_observation_metrics"](spark, SF).collect()[0]
    li = _t(spark, SF, "lineitem").filter(F.col("l_quantity") > 25)
    want = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("s"),
    ).collect()[0]
    assert m.n_rows == want.n
    assert m.sum_cents == want.s


def test_checkpoint_resume_equals_batch(spark, queries):
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    got = {
        (r.user_id, r.n)
        for r in queries["stream_checkpoint_resume"](spark, SF).collect()
    }
    want = {
        (r.user_id, r.n)
        for r in _t(spark, SF, "events")
        .filter(F.col("user_id") < 40)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_band_tuning_monotone_recall(spark, queries):
    rows = {r.config: r for r in queries["llm_minhash_band_tuning"](spark, SF).collect()}
    assert set(rows) == {"4x1", "2x2", "1x4"}
    # more bands with fewer rows => strictly more-or-equal candidates
    assert rows["4x1"].n_pairs >= rows["2x2"].n_pairs >= rows["1x4"].n_pairs
    # 2x2 must equal the production entry's pair count
    n_22 = queries["llm_lsh_candidate_pairs"](spark, SF).count()
    assert rows["2x2"].n_pairs == n_22


def test_hll_sketch_invariants(spark, queries):
    r = queries["ext_hll_sketch_merge"](spark, SF).collect()[0]
    assert r.merged_within_5pct and r.direct_within_5pct
    assert r.n_exact > 0


def test_snapshot_time_travel_versions_nest(spark, queries):
    rows = {r.version: r for r in queries["ext_snapshot_time_travel"](spark, SF).collect()}
    assert set(rows) == {1, 2}
    # version 2 is append-only on top of version 1
    assert rows[2].n_rows >= rows[1].n_rows
    assert rows[2].sum_cents >= rows[1].sum_cents


def test_asof_forward_is_mirror_of_backward(spark):
    """On a crafted frame, forward as-of picks the earliest following
    right row (inclusive), backward the latest preceding — the two
    directions disagree exactly where they should."""
    from machine_telemetry_etl_ml_pipeline_spark.operators.joins import (
        asof_join,
        asof_join_forward,
    )

    left = spark.createDataFrame([(1, 10, "a"), (1, 20, "b")], "k int, t int, tag string")
    right = spark.createDataFrame(
        [(1, 5, 100), (1, 10, 200), (1, 25, 300)], "k int, t int, v int"
    )
    fwd = {r.tag: r.next_v for r in asof_join_forward(left, right, "k", "t", "t", ["v"]).collect()}
    back = {r.tag: r.asof_v for r in asof_join(left, right, "k", "t", "t", ["v"]).collect()}
    assert fwd == {"a": 200, "b": 300}   # inclusive >=: t=10 matches itself
    assert back == {"a": 200, "b": 200}  # inclusive <=: latest at-or-before


def test_tfidf_topk_terms_shape(spark, queries):
    rows = queries["llm_tfidf_topk_terms"](spark, SF).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc, rs in by_doc.items():
        assert len(rs) <= 3
        scores = [r.tfidf for r in sorted(rs, key=lambda r: r.rnk)]
        assert scores == sorted(scores, reverse=True)
        # a term in EVERY document has idf=0 and can never be characteristic
        assert all(r.tfidf >= 0 for r in rs)


def test_decimal_exact_is_order_independent(spark, queries):
    """The decimal totals must be identical under a different partition
    layout (float sums would not be)."""
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    base = {
        (r.event_type, r.total_cents, r.avg_microdollars)
        for r in queries["ext_decimal_exact"](spark, SF).collect()
    }
    e = _t(spark, SF, "events").repartition(17)
    cents = F.round(F.col("value") * 100).cast("decimal(38,0)")
    g = e.groupBy("event_type").agg(
        F.sum(cents).alias("_sc"), F.count(F.lit(1)).alias("_n")
    )
    again = {
        (r.event_type, r.total_cents, r.avg_microdollars)
        for r in g.select(
            "event_type",
            F.col("_sc").cast("long").alias("total_cents"),
            F.expr("CAST((_sc * 10000 + _n div 2) div _n AS BIGINT)").alias(
                "avg_microdollars"
            ),
        ).collect()
    }
    assert base == again


def test_outer_stream_join_nulls_subset_of_batch(spark, queries):
    """Streaming left-outer nulls must be a SUBSET of batch left-outer
    nulls (the terminal-watermark window may hold some back, never
    invent them), and matched rows must be identical."""
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    sres = queries["stream_stream_join_outer"](spark, SF).collect()
    s_null = {r.click_id for r in sres if r.purchase_id is None}
    s_match = {(r.click_id, r.purchase_id) for r in sres if r.purchase_id is not None}
    e = _t(spark, SF, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    b = c.join(
        p,
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).collect()
    b_null = {r.click_id for r in b if r.purchase_id is None}
    b_match = {(r.click_id, r.purchase_id) for r in b if r.purchase_id is not None}
    assert s_match == b_match
    assert s_null <= b_null
    assert len(s_null) > 0


def test_containment_dominates_jaccard(spark, queries):
    """containment(A,B) >= jaccard(A,B) always (min <= union)."""
    cont = {
        (r.a, r.b): r.containment
        for r in queries["llm_ngram_containment"](spark, SF).collect()
    }
    jac = {
        (r.a, r.b): r.jaccard for r in queries["llm_ngram_jaccard"](spark, SF).collect()
    }
    assert set(jac) == set(cont)  # same candidate pairs
    for k, j in jac.items():
        assert cont[k] >= j - 1e-9


def test_char_entropy_bounds(spark, queries):
    import math

    rows = queries["llm_char_entropy"](spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r.char_entropy <= math.log(r.n_distinct_chars) + 1e-6


def test_naive_bayes_counts_and_determinism(spark, queries):
    """The synthetic corpus draws every language from one shared
    vocabulary, so NB accuracy is prior-dominated (it does NOT beat
    the majority baseline here — that's a property of the data, not a
    bug; the oracle checks the math exactly). What must hold: the
    evaluation covers every held-out doc, and the whole loop is
    deterministic across runs."""
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    r1 = queries["ml_naive_bayes_sql"](spark, SF).collect()[0]
    r2 = queries["ml_naive_bayes_sql"](spark, SF).collect()[0]
    n_test = _t(spark, SF, "documents").filter(F.col("doc_id") >= 400).count()
    assert r1.n_test == n_test
    assert 0 <= r1.n_correct <= r1.n_test
    assert (r1.n_test, r1.n_correct) == (r2.n_test, r2.n_correct)


def test_bpe_merge_step_descending_and_positive(spark, queries):
    rows = queries["llm_bpe_merge_step"](spark, SF).collect()
    assert len(rows) == 20
    counts = [r.n for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert counts[-1] >= 1
    # every pair is two non-empty space-joined words
    for r in rows:
        a, b = r.pair.split(" ")
        assert a and b


def test_segment_dedup_arithmetic_n_segs_matches_explode(spark, queries):
    """r13 internals: n_segs is now floor((|words|-1)/10)+1 computed
    arithmetically (no second explode) — it must equal the true
    exploded segment count per doc."""
    from machine_telemetry_etl_ml_pipeline_spark.llm.textstats import words_col
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    got = {r.doc_id: r.n_segs for r in queries["llm_segment_dedup"](spark, SF).collect()}
    d = _t(spark, SF, "documents")
    ws = words_col(F.col("text"))
    starts = F.sequence(F.lit(1), F.size(ws), F.lit(10))
    true = {
        r.doc_id: r.n
        for r in d.filter(F.size(ws) > 0)
        .select("doc_id", F.explode(starts).alias("s"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == true
