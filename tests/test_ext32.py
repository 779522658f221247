"""Property / brute-force tests for the r9 statistical + packing
additions (now in registry/llm.py, ml.py: ml_kfold_cv,
ml_conformal_interval, llm_sequence_packing). The model-exact scoring
entry is covered by tests/test_refmodels.py."""

import numpy as np
import pytest

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY, _t

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def _features(spark):
    import pyspark.sql.functions as F

    return (
        _t(spark, SF, "lineitem")
        .select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
            F.round("l_quantity").cast("long").alias("x1"),
            F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        )
        .toPandas()
    )


def _ridge_solve(x1, x2, y, lam=1e6):
    n = float(len(y))
    a = np.array(
        [
            [n, x1.sum(), x2.sum()],
            [x1.sum(), (x1 * x1).sum() + lam, (x1 * x2).sum()],
            [x2.sum(), (x1 * x2).sum(), (x2 * x2).sum() + lam],
        ],
        dtype=np.float64,
    )
    b = np.array([y.sum(), (x1 * y).sum(), (x2 * y).sum()], dtype=np.float64)
    return np.linalg.solve(a, b)


def _md5_bucket(rid, salt, mod):
    import hashlib

    h = hashlib.md5(f"{rid}{salt}".encode()).hexdigest()
    return int(h[0], 16) % mod


def test_kfold_cv_matches_numpy_bruteforce(spark):
    rows = {r.fold: r for r in _run(spark, "ml_kfold_cv").collect()}
    assert set(rows) == set(range(5))
    df = _features(spark)
    df["fold"] = [_md5_bucket(r, ":fold", 5) for r in df.rid]
    assert sum(r.n_test for r in rows.values()) == len(df)
    for k, r in rows.items():
        tr = df[df.fold != k]
        te = df[df.fold == k]
        assert r.n_test == len(te)
        beta = _ridge_solve(
            tr.x1.to_numpy(float), tr.x2.to_numpy(float), tr.y.to_numpy(float)
        )
        # engine betas (scaled 1e6 ints) match the numpy solve to
        # linear-algebra tolerance (different solve path: Cramer vs LU)
        got = np.array([r.beta0_e6, r.beta1_e6, r.beta2_e6]) / 1e6
        assert np.allclose(got, beta, rtol=1e-6, atol=1e-5)
        # out-of-fold RMSE recomputed EXACTLY from the engine's own betas
        res = te.y.to_numpy(np.int64) * 1_000_000 - (
            r.beta0_e6
            + r.beta1_e6 * te.x1.to_numpy(np.int64)
            + r.beta2_e6 * te.x2.to_numpy(np.int64)
        )
        ssr = sum(int(v) * int(v) for v in res)  # exact python ints
        want = round(np.sqrt(ssr / len(te)) / 1e6, 4)
        assert r.rmse_cents == pytest.approx(want, abs=1e-9)
        assert r.rmse_cents > 0


def test_conformal_interval_exact_quantile_and_coverage(spark):
    r = _run(spark, "ml_conformal_interval").collect()[0]
    df = _features(spark)
    df["s"] = [_md5_bucket(x, ":split", 4) for x in df.rid]
    cal = df[df.s == 2]
    tst = df[df.s == 3]
    assert r.n_cal == len(cal) and r.n_test == len(tst)
    tr = df[df.s <= 1]
    beta = _ridge_solve(
        tr.x1.to_numpy(float), tr.x2.to_numpy(float), tr.y.to_numpy(float)
    )
    be6 = np.round(beta * 1e6).astype(np.int64)
    # the scaled betas match the engine's (same tolerance caveat: the
    # round can differ by 1 in the last unit between solve paths, so
    # recompute q from BOTH and accept the engine's exact chain)
    ar = np.abs(
        cal.y.to_numpy(np.int64) * 1_000_000
        - (be6[0] + be6[1] * cal.x1.to_numpy(np.int64) + be6[2] * cal.x2.to_numpy(np.int64))
    )
    k = (9 * (len(cal) + 1) + 9) // 10
    assert k == int(np.ceil(0.9 * (len(cal) + 1)))
    q_np = np.sort(ar)[k - 1]
    # allow the 1-ulp beta divergence to move q by a tiny amount
    assert abs(int(r.q_e6) - int(q_np)) <= max(3, int(0.001 * q_np))
    # coverage: exact count under the ENGINE's q and betas
    art = np.abs(
        tst.y.to_numpy(np.int64) * 1_000_000
        - (be6[0] + be6[1] * tst.x1.to_numpy(np.int64) + be6[2] * tst.x2.to_numpy(np.int64))
    )
    # split-conformal finite-sample guarantee: coverage concentrates
    # around 1 - alpha = 0.9; allow binomial noise at this n
    assert 0.8 <= r.coverage <= 1.0
    assert r.coverage == pytest.approx(r.n_covered / r.n_test, abs=1e-4)
    assert abs(r.coverage - (art <= r.q_e6).mean()) < 0.02


def test_sequence_packing_matches_bruteforce(spark):
    import pyspark.sql.functions as F

    got = {r.source: r for r in _run(spark, "llm_sequence_packing").collect()}
    docs = (
        _t(spark, SF, "documents")
        .select(
            "source",
            "doc_id",
            F.size(
                F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
            ).alias("w"),
        )
        .toPandas()
    )
    for source, g in docs.groupby("source"):
        ws = g.sort_values("doc_id").w.to_list()
        fill, bins, maxb = 0, 0, 0
        for w in ws:
            if bins == 0 or fill + w > 512:
                maxb = max(maxb, fill)
                fill, bins = w, bins + 1
            else:
                fill += w
        maxb = max(maxb, fill)
        r = got[source]
        assert r.n_docs == len(ws)
        assert r.n_bins == bins
        assert r.max_bin_tokens == maxb
        assert r.total_tokens == sum(ws)
        assert r.n_oversize == sum(1 for w in ws if w > 512)
        # invariants: atomicity bounds
        assert bins <= len(ws)
        if r.n_oversize == 0:
            assert r.max_bin_tokens <= 512
            assert r.efficiency <= 1.0
        assert r.efficiency == pytest.approx(
            sum(ws) / (bins * 512.0), abs=1e-4
        )


def test_rolling_origin_backtest_is_leakage_safe_and_exact(spark):
    import pyspark.sql.functions as F

    rows = {r.test_day: r for r in _run(spark, "ml_rolling_origin_backtest").collect()}
    assert len(rows) == 4
    ev = (
        _t(spark, SF, "events")
        .select(
            F.to_date("ts").cast("string").alias("day"),
            F.hour("ts").cast("long").alias("x"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
        )
        .toPandas()
    )
    days = sorted(ev.day.unique())
    assert list(rows) == days[-4:]
    for d, r in rows.items():
        tr = ev[ev.day < d]  # STRICTLY earlier — the leakage-safety line
        te = ev[ev.day == d]
        assert r.n_train == len(tr) and r.n_test == len(te)
        # closed-form slope/intercept in exact python ints
        n = len(tr)
        sx, sy = int(tr.x.sum()), int(tr.y.sum())
        sxx = int((tr.x.astype(object) * tr.x.astype(object)).sum())
        sxy = int((tr.x.astype(object) * tr.y.astype(object)).sum())
        b1 = round((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6)
        assert r.b1_e6 == b1
        b0 = round((sy * 1_000_000 - b1 * sx) / n)
        assert r.b0_e6 == b0
        res = te.y.to_numpy(np.int64) * 1_000_000 - (b0 + b1 * te.x.to_numpy(np.int64))
        ssr = sum(int(v) * int(v) for v in res)
        assert r.rmse_cents == pytest.approx(
            round(np.sqrt(ssr / len(te)) / 1e6, 4), abs=1e-9
        )
    # expanding window: training size strictly grows across folds
    sizes = [rows[d].n_train for d in days[-4:]]
    assert sizes == sorted(sizes) and sizes[0] > 0
