"""Invariant tests for the round-5 batch-7 entries (now in registry/ml.py):
brute-force KS and NDCG cross-checks against independent Python
computations, and PSI smoothing/mass identities."""

from __future__ import annotations

import math

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_ks_drift_matches_brute_force(spark):
    """KS must equal the definitional max over all thresholds of the
    empirical-CDF gap, and the reported argmax must attain it."""
    row = _run(spark, "ml_ks_drift").collect()[0]
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("n_chars", "lang")
        .collect()
    )
    a = sorted(r.n_chars for r in docs if r.lang == "en")
    b = sorted(r.n_chars for r in docs if r.lang != "en")

    def cdf(xs, t):
        return sum(1 for x in xs if x <= t) / len(xs)

    scores = sorted({r.n_chars for r in docs})
    gaps = {t: abs(cdf(a, t) - cdf(b, t)) for t in scores}
    ks = max(gaps.values())
    assert row.n_a == len(a) and row.n_b == len(b)
    assert abs(row.ks_stat - ks) < 1e-6, (row.ks_stat, ks)
    assert abs(gaps[row.ks_at_score] - ks) < 1e-12
    assert row.ks_at_score == min(t for t, g in gaps.items() if g == ks)


def test_psi_bins_mass_and_smoothing_identities(spark):
    """Smoothed probabilities must sum to 1 on each side, counts must
    partition both corpus halves, and psi_term signs must follow
    p_ref vs p_cur."""
    rows = _run(spark, "ml_psi_drift_bins").collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n_ref + r.n_cur for r in rows) == n_docs
    tr, tc = sum(r.n_ref for r in rows), sum(r.n_cur for r in rows)
    p_ref_sum = sum((r.n_ref + 1) / (tr + 10) for r in rows)
    p_cur_sum = sum((r.n_cur + 1) / (tc + 10) for r in rows)
    # only populated bins appear; the smoothed mass of MISSING bins is
    # 1/(total+10) each, so the sums land at 1 - missing/(total+10)
    miss = 10 - len(rows)
    assert abs(p_ref_sum - (1 - miss / (tr + 10))) < 1e-9
    assert abs(p_cur_sum - (1 - miss / (tc + 10))) < 1e-9
    # (p-q) and ln(p/q) always share sign, so every term (and the
    # total PSI the consumer sums) is non-negative
    assert all(r.psi_term >= 0 for r in rows)
    assert sum(r.psi_term for r in rows) >= 0


def test_ndcg_matches_brute_force_ranking(spark):
    """NDCG@10 must equal an independent Python ranking with the same
    4dp-rounded cosine and (sim desc, id asc) tiebreak."""
    rows = {r.query_id: r for r in _run(spark, "ml_ndcg_at_k").collect()}
    vecs = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "label", "embedding")
        .collect()
    )
    byid = {r.vec_id: r for r in vecs}

    def cos(u, v):
        d = 0.0
        for x, y in zip(u, v):
            d += float(x) * float(y)
        nu = math.sqrt(sum(float(x) * float(x) for x in u))
        nv = math.sqrt(sum(float(x) * float(x) for x in v))
        return round(d / (nu * nv), 4)

    for qid in [v.vec_id for v in vecs if v.vec_id < 20][:5]:  # 5 spot checks
        q = byid[qid]
        scored = sorted(
            (
                (-cos(q.embedding, r.embedding), r.vec_id, r.label)
                for r in vecs
                if r.vec_id != qid
            ),
        )[:10]
        dcg = sum(
            1 / math.log2(i + 2)
            for i, (_, _, lab) in enumerate(scored)
            if lab == q.label
        )
        n_rel = sum(1 for r in vecs if r.vec_id != qid and r.label == q.label)
        idcg = sum(1 / math.log2(i + 2) for i in range(min(n_rel, 10)))
        want = dcg / idcg if idcg else 0.0
        got = rows[qid]
        assert got.n_rel == n_rel
        assert abs(got.ndcg - want) < 1e-5, (qid, got.ndcg, want)
