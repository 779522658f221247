"""tools/remeasure.py ``module:function`` targets: the untimed parity
step passes a variant that returns its registry entry's rows and stops
one that drops a row with a named error."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY
from tools import remeasure

SF = "/root/testdata/sf0.001"
ENTRY = "ref_latest_per_key"


def variant_same(spark, sf_dir):
    return REGISTRY[ENTRY].fn(spark, sf_dir)


def variant_drop_row(spark, sf_dir):
    df = REGISTRY[ENTRY].fn(spark, sf_dir)
    return df.filter(F.col("user_id") != df.agg(F.min("user_id")).first()[0])


def test_parity_passes_identical_variant(spark):
    out = remeasure.measure(
        spark, SF, [ENTRY, f"{__name__}:variant_same"], [], reps=1, warmup=0
    )
    assert set(out) == {ENTRY, f"{__name__}:variant_same"}
    assert all(len(r["all"]) == 1 for r in out.values())


def test_parity_rejects_variant_missing_a_row(spark):
    with pytest.raises(remeasure.ParityError, match="variant_drop_row"):
        remeasure.measure(
            spark, SF, [ENTRY, f"{__name__}:variant_drop_row"], [], reps=1, warmup=0
        )
