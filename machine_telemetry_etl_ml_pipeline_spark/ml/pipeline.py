"""ML pipelines — the Spark-first rebuild of the reference's four
model/scaler pairs (SURVEY §2 M1-M6):

- M1 StandardScaler (reference database_and_model_tools.py:220-230):
  VectorAssembler(FEATURE_ORDER) -> pyspark.ml StandardScaler
  (withMean/withStd), one fitted pipeline instead of 4 pickled
  scalers + the feature-name rewriting machinery (M5 disappears —
  schema-first design keeps ONE canonical FEATURE_ORDER).
- M2 regression (LGBMRegressor in the reference, model path
  database_and_model_tools.py:141-145): GBTRegressor (same GBDT
  family) on the same 10 features; label = enginetemperature (the
  only sensor excluded from the feature list, FIXTURES §A4).
- M3 two binary classifiers (paths database_and_model_tools.py:146-153):
  GBTClassifier on the Fault/Idle and Active/Maintenance row subsets.
- M4 anomaly detection (pyod IForest, path
  database_and_model_tools.py:154-157): no MLlib isolation forest ->
  KMeans distance score with a quantile threshold (pure Spark,
  distributed); `reference_model_scores` replays the reference's own
  fitted IForest blob for model-exact scores.

Persistence: pipeline.write().save(path) / PipelineModel.load — the
distributed analog of the reference's joblib dump/load.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import GBTClassifier
from pyspark.ml.clustering import KMeans
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.ml.regression import GBTRegressor
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.core import local_frame
from ..schemas import FEATURE_ORDER

# Reference smoke-test row (dags/db_pipeline_dag.py:37-41)
SMOKE_FEATURES = {
    "fuelconsumption": 10.5,
    "vibrationlevel": 4.0,
    "humidity": 68.0,
    "pressure": 1000.0,
    "poweroutput": 185.0,
    "operatinghours": 120.0,
    "timestamp_epoch": 1756684800.0,
    "hour": 12.0,
    "dayofweek": 2.0,
    "month": 9.0,
}


def feature_stages(features: list[str] | None = None) -> list:
    features = features or FEATURE_ORDER
    return [
        VectorAssembler(inputCols=features, outputCol="features_raw", handleInvalid="keep"),
        StandardScaler(
            inputCol="features_raw", outputCol="features", withMean=True, withStd=True
        ),
    ]


def regression_pipeline(label_col: str = "enginetemperature") -> Pipeline:
    """M2: GBT regression on the scaled 10-feature vector."""
    return Pipeline(
        stages=feature_stages()
        + [GBTRegressor(featuresCol="features", labelCol=label_col, maxIter=20, seed=42)]
    )


def classifier_pipeline(label_col: str = "label") -> Pipeline:
    """M3: binary GBT classifier (build one per status pair)."""
    return Pipeline(
        stages=feature_stages()
        + [GBTClassifier(featuresCol="features", labelCol=label_col, maxIter=20, seed=42)]
    )


def binary_subset(df: DataFrame, status_a: str, status_b: str) -> DataFrame:
    """Rows restricted to a status pair with a 0/1 label — the
    reference's fault/idle and active/maintenance classifier datasets."""
    return df.filter(F.col("status").isin(status_a, status_b)).withColumn(
        "label", F.when(F.col("status") == status_b, 1.0).otherwise(0.0)
    )


def anomaly_pipeline(k: int = 8) -> Pipeline:
    """M4 (distributed approximation): KMeans over the scaled features;
    the anomaly score is the distance to the nearest centroid."""
    return Pipeline(
        stages=feature_stages()
        + [KMeans(featuresCol="features", predictionCol="cluster", k=k, seed=42)]
    )


def anomaly_scores(model: PipelineModel, df: DataFrame) -> DataFrame:
    """Distance-to-centroid anomaly score + quantile-threshold flag.
    Everything stays distributed: centroids are a local broadcast-able
    array; the quantile is one approxQuantile pass."""
    from pyspark.ml.functions import vector_to_array

    km = model.stages[-1]
    centers = [c.tolist() for c in km.clusterCenters()]
    scored = model.transform(df)
    arr = vector_to_array("features")
    dist_to = [
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    arr,
                    F.array(*[F.lit(x) for x in center]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        for center in centers
    ]
    scored = scored.withColumn("anomaly_score", F.least(*dist_to))
    threshold = scored.approxQuantile("anomaly_score", [0.95], 0.001)[0]
    return scored.withColumn("is_anomaly", (F.col("anomaly_score") > threshold).cast("int"))


def reference_model_scores(df: DataFrame) -> DataFrame:
    """MODEL-EXACT scoring with the reference's two PRESENT fitted
    blobs (M2 + M4), no sklearn/lightgbm required: ml/refmodels.py
    extracts the fitted parameters from the joblib blobs and replays
    the published scoring algorithms. Input needs the FEATURE_ORDER
    columns (database_and_model_tools.py:214-218); adds

      reg_pred       LGBMRegressor predict (regression scaler + 762
                     trees, best_regressor_v18.pkl)
      anomaly_score  pyod IForest decision_function (anomaly scaler +
                     100-tree IsolationForest,
                     best_anomaly_detector_v18.pkl)
      is_anomaly     pyod predict (score > stored fitted threshold)

    One Arrow-batched mapInPandas pass; the model arrays load once per
    Python worker (lru-cached), every output is a pure per-row
    function, so the shape is the 100 TB batch-inference one —
    embarrassingly parallel map, no shuffle, broadcast-size model.
    Registry twin: ml_model_exact_scoring (registry/ml.py) proves this
    exact scoring path bitwise against driver-local scoring through
    the driver's DuckDB gate."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from . import refmodels

    if not refmodels.available():
        raise NotImplementedError(
            "reference model blobs not mounted at " + refmodels.MODEL_DIR
        )
    from pyspark.sql.types import DoubleType

    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("reg_pred", DoubleType()),
            StructField("anomaly_score", DoubleType()),
            StructField("is_anomaly", IntegerType()),
        ]
    )

    def score(batches):
        import numpy as np

        for pdf in batches:
            x = pdf[FEATURE_ORDER].to_numpy(dtype=np.float64)
            pdf = pdf.copy()
            pdf["reg_pred"] = refmodels.lgbm_predict(
                refmodels.load_regressor(),
                refmodels.scaler_transform(
                    refmodels.load_scaler("regression_scaler_v18.pkl"), x
                ),
            )
            ano = refmodels.iforest_scores(
                refmodels.load_iforest(),
                refmodels.scaler_transform(
                    refmodels.load_scaler("anomaly_scaler_v18.pkl"), x
                ),
            )
            pdf["anomaly_score"] = ano["pyod_score"]
            pdf["is_anomaly"] = ano["label"]
            yield pdf

    return df.mapInPandas(score, out_schema)


def smoke_test_scaler(model: PipelineModel, spark) -> list[float]:
    """M6: transform the reference's hardcoded smoke row through the
    fitted pipeline and return the scaled vector
    (database_and_model_tools.py:211-230)."""
    row = [tuple(SMOKE_FEATURES[f] for f in FEATURE_ORDER)]
    df = local_frame(spark, row, ", ".join(f"{f} double" for f in FEATURE_ORDER))
    out = model.transform(df).select("features").head()[0]
    return list(out)
