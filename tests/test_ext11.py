"""Invariant tests for the round-5 batch-6 entries (now in
registry/ext.py, llm.py, ml.py): properties the DuckDB oracle gate can't
express — brute-force AUC and weighted-sample cross-checks against
independent Python computations, the bloom filter's no-false-negative
guarantee, calibration/Brier identities, ridge residual optimality, and
feature-hash mass conservation."""

from __future__ import annotations

import math

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_roc_auc_matches_brute_force_pair_count(spark):
    """AUC must equal the O(P*N) pair statistic: wins + ties/2 over all
    (pos, neg) score pairs — the definitional form the rank-sum
    implementation avoids computing at scale."""
    row = _run(spark, "ml_roc_auc").collect()[0]
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("n_chars", "lang")
        .collect()
    )
    pos = [r.n_chars for r in docs if r.lang == "en"]
    neg = [r.n_chars for r in docs if r.lang != "en"]
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    brute = (wins + ties / 2) / (len(pos) * len(neg))
    assert row.n_pos == len(pos) and row.n_neg == len(neg)
    assert abs(row.auc - brute) < 1e-6, (row.auc, brute)
    assert 0.0 <= row.auc <= 1.0


def test_calibration_bins_partition_and_brier_bounds(spark):
    """Bins must partition the corpus exactly once, per-bin Brier lies
    in [0,1], and avg_pred falls inside its bin's probability range."""
    rows = _run(spark, "ml_calibration_bins").collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n for r in rows) == n_docs
    assert len({r.bin for r in rows}) == len(rows)
    for r in rows:
        assert 0.0 <= r.brier <= 1.0
        assert 0.0 <= r.pos_rate <= 1.0
        lo, hi = r.bin * 0.1, (r.bin + 1) * 0.1
        assert lo - 1e-9 <= r.avg_pred <= hi + 1e-9 or r.bin == 9, r


def test_ridge_normal_equations_residual_orthogonality(spark):
    """At the ridge optimum, the gradient X'(y - Xb) - lambda*b must
    vanish (intercept row unpenalized): verify the fitted coefficients
    against an independent numpy solve of the same integer moments."""
    import numpy as np

    row = _run(spark, "ml_ridge_regression_normal_eq").collect()[0]
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_quantity", "l_discount", "l_extendedprice"
    )
    d = li.toPandas()
    x1 = d.l_quantity.round().astype("int64").to_numpy()
    x2 = (d.l_discount * 100).round().astype("int64").to_numpy()
    y = (d.l_extendedprice * 100).round().astype("int64").to_numpy()
    lam = 1_000_000.0
    X = np.stack([np.ones_like(x1), x1, x2], axis=1).astype(float)
    A = X.T @ X + np.diag([0.0, lam, lam])
    beta = np.linalg.solve(A, X.T @ y.astype(float))
    got = np.array([row.beta0, row.beta1, row.beta2])
    assert np.allclose(got, beta, rtol=1e-5, atol=1e-4), (got, beta)


def test_bloom_prefilter_has_no_false_negatives(spark):
    """Every true key row must survive the bloom: n_true <= n_candidates
    and the candidate count can never undercut the exact-join result.
    The fp_rate must match its own counts."""
    row = _run(spark, "ext_bloom_prefilter_join").collect()[0]
    assert row.n_true <= row.n_candidates <= row.n_rows
    assert row.n_keys > 0 and row.n_true > 0
    expect_fp = (row.n_candidates - row.n_true) / (row.n_rows - row.n_true)
    assert abs(row.fp_rate - expect_fp) < 1e-6
    assert row.fp_rate < 0.25, f"fp_rate {row.fp_rate} — bloom undersized?"


def test_weighted_sample_matches_brute_force_topk(spark):
    """The distributed top-k must equal the exact driver-side A-Res
    ranking computed independently in Python (same md5-derived
    uniforms), and longer docs must be overrepresented vs uniform."""
    import hashlib

    rows = _run(spark, "llm_weighted_sample").collect()
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    )

    def wkey(doc_id: int, n_chars: int) -> float:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        b = int(h[:7], 16)
        return round(math.log((b + 1) / 268435456.0) / max(n_chars, 1), 12)

    ranked = sorted(docs, key=lambda r: (-wkey(r.doc_id, r.n_chars), r.doc_id))[:200]
    assert [r.doc_id for r in rows] == [r.doc_id for r in ranked]
    # length bias: sampled docs skew long vs the corpus mean
    corpus_mean = sum(r.n_chars for r in docs) / len(docs)
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean


def test_hashed_features_conserve_token_mass(spark):
    """Bucket counts must sum to the exact corpus token count per
    source (hashing loses no tokens) and every bucket is in [0, 256)."""
    from pyspark.sql import functions as F

    rows = _run(spark, "llm_hashed_features").collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    total = (
        docs.select(
            F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias("n")
        )
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert sum(r.n_tokens for r in rows) == total
    assert all(0 <= r.bucket < 256 for r in rows)
    # shares sum to ~1 within each source
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, 0.0)
        by_src[r.source] += r.share
    assert all(abs(s - 1.0) < 1e-3 for s in by_src.values()), by_src
