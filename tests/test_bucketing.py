from __future__ import annotations

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.operators.bucketing import salted_agg


def test_salted_agg_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot", i, float(i)) for i in range(500)] + [("cold", 1, 7.0)],
        "k string, id long, v double",
    )
    salted = salted_agg(
        df, "k", [F.count(F.lit(1)).alias("cnt_rows"), F.sum("id").alias("sum_id")]
    )
    got = {r.k: (r.cnt_rows, r.sum_id) for r in salted.collect()}
    assert got == {"hot": (500, sum(range(500))), "cold": (1, 1)}


def test_salted_agg_rejects_non_algebraic(spark):
    import pytest

    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    with pytest.raises(ValueError, match="algebraic"):
        salted_agg(df, "k", [F.avg("v").alias("avg_v")]).collect()


def test_registry_bucketed_join_entry_is_colocated(spark):
    """The registry's ext_bucketed_join_colocated must plan its join
    with NO shuffle on either side: the only Exchange in the executed
    plan is the final 5-group rollup. Tested at sf0.001 (bucket specs,
    not data volume, decide the plan shape)."""
    from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY

    sf_dir = "/root/testdata/sf0.001"
    df = REGISTRY["ext_bucketed_join_colocated"].fn(spark, sf_dir)
    assert df.count() == 5
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:2000]
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, plan[:3000]
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    spark.sql(f"DROP TABLE IF EXISTS bkt_orders_{tag}")
    spark.sql(f"DROP TABLE IF EXISTS bkt_lineitem_{tag}")


def test_salted_join_builds_on_dim_never_broadcasts_fact(spark):
    """r13: with a parquet-estimated fact vs a no-stats createDataFrame
    dim, the planner picked BuildLeft and broadcast the whole FACT
    table (driver-collect; at scale an OOM). The SHUFFLE_HASH hint on
    the replicated dim must pin the salted shape: one fact exchange on
    (key, __salt), hash table built from the dim replicas."""
    from machine_telemetry_etl_ml_pipeline_spark.operators.bucketing import salted_join

    fact = spark.range(5000).select(
        F.col("id").alias("rid"),
        (F.col("id") % 3).cast("string").alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    dim = spark.createDataFrame([("0", 10), ("1", 20), ("2", 30)], "k string, w int")
    joined = salted_join(fact, dim, "k", salt_buckets=4, fact_salt_col="rid")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan
    # result parity with the plain join (salting must be invisible)
    got = {(r.rid, r.w) for r in joined.collect()}
    want = {(r.rid, r.w) for r in fact.join(dim, "k").collect()}
    assert got == want
