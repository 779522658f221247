from __future__ import annotations

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def test_variant_roundtrip_all_rows_lossless(spark):
    """Every row must survive JSON -> VARIANT -> parquet -> to_json
    byte-for-byte: n_roundtrip == n per group."""
    out = REGISTRY["ext_variant_roundtrip"].fn(spark, SF).collect()
    assert len(out) > 0
    for r in out:
        assert r.n_roundtrip == r.n, r
        assert r.sum_arr2 == 3 * r.sum_k, r  # '$.arr[2]' path extraction


def test_variant_get_pushes_into_scan(spark, tmp_path):
    """PushVariantIntoScan must rewrite variant_get over a parquet
    variant column into scan-level struct accesses: the scan reads a
    pruned struct of just the requested path (never the full binary
    value), the comparison lands in PushedFilters, and no variant_get
    expression survives into the physical plan — the property that
    makes VARIANT the 100 TB path for semi-structured columns."""
    d = str(tmp_path / "vshred")
    spark.sql(
        """SELECT id, parse_json(concat('{"k":', id, '}')) AS v FROM range(100)"""
    ).write.mode("overwrite").parquet(d)
    q = (
        spark.read.parquet(d)
        .filter("variant_get(v, '$.k', 'long') > 5")
        .selectExpr("variant_get(v, '$.k', 'long') AS k")
    )
    # scrub the file path (pytest puts this test's own name — which
    # contains "variant_get" — into tmp_path's Location string)
    plan = q._jdf.queryExecution().executedPlan().toString().replace(str(tmp_path), "")
    assert "variant_get" not in plan
    assert "ReadSchema: struct<v:struct<0:bigint>>" in plan
    assert "GreaterThan(v." in plan  # pushed to the parquet reader
    assert q.count() == 94


def test_variant_preserves_key_order_for_sorted_keys(spark):
    """The entry's contract: alphabetical source keys mean the
    variant dictionary cannot reorder them, so to_json is the
    identity on the JSON text. Spot-check the exact text."""
    row = spark.sql(
        """SELECT to_json(parse_json('{"arr":[1,2],"et":"x","id":7,"k":9}')) AS j"""
    ).first()
    assert row.j == '{"arr":[1,2],"et":"x","id":7,"k":9}'
