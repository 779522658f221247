"""Physical-plan regression tests: the scale properties SCALE.md
claims are asserted against the actual executed plans at sf0.001 —
a filter that stops pushing down or a window that loses its partial
group-limit is a performance regression even while results stay
correct."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as ent

    return ent.queries()


def plan_of(df) -> str:
    df.write.format("noop").mode("overwrite").save()  # let AQE finalize
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, queries):
    plan = plan_of(queries["ref_filter_eq"](spark, SF))
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]" in plan


def test_column_pruning_on_join(spark, queries):
    plan = plan_of(queries["ext_join_revenue_by_nation"](spark, SF))
    # lineitem scan reads exactly the 3 referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_dim_joins_broadcast(spark, queries):
    plan = plan_of(queries["ext_join_revenue_by_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_latest_per_key_partial_group_limit(spark, queries):
    plan = plan_of(queries["ref_latest_per_key"](spark, SF))
    # Spark 3.5+ WindowGroupLimit: per-map-task top-1 BEFORE the shuffle
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_top_k_is_take_ordered(spark, queries):
    plan = plan_of(queries["ref_latest_n"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # no global sort for sort+limit


def test_q1_partial_aggregation(spark, queries):
    plan = plan_of(queries["tpch_q1"](spark, SF))
    # partial (map-side) then final hash aggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan.lower() or "Partial" in plan


def test_semi_join_plans_as_semi(spark, queries):
    plan = plan_of(queries["ext_join_semi"](spark, SF))
    assert "LeftSemi" in plan


def test_whole_stage_codegen_active(spark, queries):
    # AQE's plan string hides codegen spans until finalization; turn it
    # off for the assertion — the *(n) markers are the codegen stages
    from pyspark.sql import functions as F

    from machine_telemetry_etl_ml_pipeline_spark.sources.catalog import load_table

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # built directly (a registry call would re-enable AQE via
        # tune_session before planning)
        df = (
            load_table(spark, SF, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_value"))
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "*(" in plan  # whole-stage-codegen stage markers


def test_ingested_layout_partition_pruning(spark, telemetry_csv, tmp_path):
    """The event_date partitioning the ingest path writes must actually
    prune: a date-filtered scan reads only matching partitions."""
    from machine_telemetry_etl_ml_pipeline_spark.ingest import ingest_csv

    table = str(tmp_path / "pruned_tbl")
    ingest_csv(spark, telemetry_csv, table)
    df = spark.read.parquet(table).filter("event_date = DATE '2025-09-01'")
    plan = plan_of(df)
    assert "PartitionFilters" in plan and "event_date" in plan.split("PartitionFilters")[1][:120]
    # and the filter really prunes: fewer rows than the full table
    assert 0 < df.count() < spark.read.parquet(table).count()


def test_range_join_broadcasts_interval_dim(spark, queries):
    """The band join must plan as BroadcastNestedLoopJoin against the
    11-row interval dim — a cartesian/shuffled nested loop would be the
    scale-killer form of a non-equi join."""
    plan = plan_of(queries["ext_range_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q19_disjunctive_predicate_pushes_to_both_scans(spark, queries):
    """Catalyst must extract the per-side conjuncts of the Q19-style
    OR-of-ANDs: quantity bounds reach the lineitem scan and brand/size
    bounds reach the part scan (the classic Q19 plan)."""
    plan = plan_of(queries["tpch_q19"](spark, SF))
    pushed = [seg.split("ReadSchema")[0] for seg in plan.split("PushedFilters:")[1:]]
    assert any("l_quantity" in p and "Or(" in p for p in pushed)
    assert any("p_brand" in p and "Or(" in p for p in pushed)


def test_q5_pushes_date_range_and_broadcasts_dims(spark, queries):
    plan = plan_of(queries["tpch_q5"](spark, SF))
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(r_name,ASIA)" in plan
    assert "BroadcastHashJoin" in plan


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join: a hot key big enough to trip the (lowered)
    thresholds is split into multiple tasks — the final adaptive plan
    carries SortMergeJoin(skew=true). Two gotchas this test encodes:
    the skew detector works on shuffle BYTES, so a constant hot key
    with compressible payload can stay under threshold (hence the md5
    payload); and the final plan only exists on the QueryExecution
    that actually ran (collect, not a cloned write)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force sort-merge
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).select(
            F.when(F.col("id") < 190_000, 0).otherwise(F.col("id") % 50).alias("k"),
            F.md5(F.col("id").cast("string")).alias("pay"),  # incompressible
        )
        right = spark.range(50).select(F.col("id").alias("k"), F.lit("dim").alias("d"))
        out = left.join(right, "k").agg(
            F.count(F.lit(1)).alias("n"), F.max("pay").alias("mp")
        )
        assert out.collect()[0].n == 200_000
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injection(spark):
    """Runtime bloom-filter join pruning (the Spark analog of a
    semi-join reducer): with a selective filter on the creation side
    of a shuffle join, the optimizer injects might_contain(bloom) into
    the application-side scan, so fact rows that cannot match are
    dropped BEFORE the shuffle — at 100 TB this is the difference
    between shuffling the table and shuffling the matching slice. The
    size thresholds are lowered because the feature gates on scan
    bytes (defaults assume 10 GB+ facts); results must equal the
    un-filtered join exactly."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # broadcast joins reuse keys instead
    }
    old = {k: spark.conf.get(k, None) for k in confs}

    def run():
        li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderstatus") == "F"
        )
        out = li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 4).alias("q")
        )
        rows = out.collect()
        return rows[0], out._jdf.queryExecution().executedPlan().toString()

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        filtered_row, plan = run()
        assert "might_contain" in plan.lower(), plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    plain_row, plain_plan = run()
    assert "might_contain" not in plain_plan.lower()
    assert (filtered_row.n, filtered_row.q) == (plain_row.n, plain_row.q)


def test_time_range_pushes_ts_bounds(spark, queries):
    """load_table's ts_range must surface as plain column-vs-literal
    bounds on the native timestamp column so they reach the parquet
    scan (row-group skipping). The epoch-based declarative filter alone
    cannot push (unix_timestamp(ts) is a computed expression), so the
    assert is on the scan's DataFilters carrying the raw ts bounds."""
    df = queries["ref_filter_range"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "(ts#" in plan and ">= 2024-01-10 00:00:00" in plan
    assert "< 2024-01-20 00:00:01" in plan
    # and the scan actually accepted the pushdown (not just DataFilters)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThanOrEqual(ts" in pushed and "LessThan(ts" in pushed


def test_pack_sequences_no_global_window(spark, queries):
    """The packing cumsum must be the distributed prefix sum, never a
    whole-table single-partition sort: every Window that carries the
    documents (ordered on doc_id) is partitioned by the fixed-width
    bucket __b. The only unpartitioned window runs over the per-bucket
    totals."""
    import re

    plan = plan_of(queries["llm_pack_sequences"](spark, SF))
    doc_windows = [ln for ln in plan.splitlines() if "Window [" in ln and "doc_id" in ln]
    assert doc_windows, plan
    for ln in doc_windows:
        assert re.search(r"\], \[__b#\d+L?\], \[doc_id#", ln), plan


def test_dynamic_partition_pruning(spark, tmp_path):
    """Dynamic partition pruning: a partitioned fact joined to a
    filtered dim must scan ONLY the partitions the dim filter selects
    — the subquery lands in the fact scan as dynamicpruning#N. At
    100 TB this is what turns a full-table scan into reading one
    partition directory. Results must equal the unpruned computation."""
    from pyspark.sql import functions as F

    fact_dir = str(tmp_path / "fact_by_type")
    e = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    e.write.partitionBy("event_type").parquet(fact_dir)
    dim = spark.createDataFrame(
        [("purchase", 1), ("signup", 2), ("click", 3), ("view", 4), ("error", 5)],
        "event_type string, type_code int",
    ).filter(F.col("type_code") <= 2)

    confs = {
        "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
        # force the non-broadcast path so DPP must materialize its own
        # subquery rather than riding a broadcast exchange
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(fact_dir)
        out = fact.join(dim, "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        row = out.collect()[0]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    want = (
        e.filter(F.col("event_type").isin("purchase", "signup"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()[0]
    )
    assert (row.n, row.cents) == (want.n, want.cents)


def test_cached_relation_plans_in_memory_scan(spark):
    """Columnar cache surface: a .cache()d relation must plan as
    InMemoryTableScan (TableCacheQueryStage under AQE), and
    unpersist() must return downstream queries to the file scan — the
    interactive-analytics working-set pattern."""
    df = spark.read.parquet(f"{SF}/nation.parquet").cache()
    try:
        out = df.groupBy("n_regionkey").count()
        out.collect()
        assert "InMemoryTableScan" in out._jdf.queryExecution().executedPlan().toString()
    finally:
        df.unpersist(blocking=True)
    out2 = (
        spark.read.parquet(f"{SF}/nation.parquet").groupBy("n_regionkey").count()
    )
    out2.collect()
    assert "InMemoryTableScan" not in out2._jdf.queryExecution().executedPlan().toString()


def test_analyze_table_stats_feed_cbo(spark, tmp_path):
    """ANALYZE TABLE ... FOR ALL COLUMNS: catalog stats (exact
    rowCount, per-column min/max/NDV) reach the optimizer's Statistics
    when CBO is on — the input the join-reorder and broadcast-choice
    costing reads. At 100 TB, stats-fed planning is the difference
    between a reordered 5-way join and a cartesian blowup."""
    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS t_stats_cbo")
    (
        spark.range(1000)
        .select(F.col("id"), F.md5(F.col("id").cast("string")).alias("h"))
        .write.option("path", str(tmp_path / "t_stats_cbo"))
        .saveAsTable("t_stats_cbo")
    )
    old = spark.conf.get("spark.sql.cbo.enabled", "false")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.sql("ANALYZE TABLE t_stats_cbo COMPUTE STATISTICS FOR ALL COLUMNS")
        st = spark.table("t_stats_cbo")._jdf.queryExecution().optimizedPlan().stats()
        assert st.rowCount().isDefined()
        assert int(str(st.rowCount().get())) == 1000
        desc = {r.info_name: r.info_value for r in spark.sql("DESCRIBE EXTENDED t_stats_cbo id").collect()}
        assert desc.get("min") == "0" and desc.get("max") == "999"
        assert desc.get("distinct_count") == "1000"
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old)
        spark.sql("DROP TABLE IF EXISTS t_stats_cbo")


def test_mann_whitney_no_data_sized_global_window(spark, queries):
    """The U statistic's rank computation must be the distributed
    bucket prefix sum, never a whole-table single-partition sort: the
    old shape's signature was a rank() Window over ORDER BY cents fed
    by Exchange SinglePartition carrying every order row. The new
    plan has no rank() at all, and its windows are keyed on the
    fixed-width bucket (__b) or run over the ~bucket-count totals."""
    plan = plan_of(queries["ml_mann_whitney_u"](spark, SF))
    assert "rank(" not in plan.lower(), plan
    assert "__b" in plan, plan


def test_pagerank_edge_join_is_shuffle_hash(spark, queries):
    """The orderkey join of the pagerank edge build must be a
    shuffled-hash join of the two fact projections (smaller side
    built per partition), never a broadcast of either fact-sized
    side: the planner's size estimate had been broadcasting the
    whole lineitem projection (driver-OOM shape at scale). The edge
    build executes inside the entry's construction-time take, so read
    it from the executions the build ran."""
    from tools.plan_audit import executed_plans

    plans = executed_plans(spark, lambda: queries["graph_pagerank"](spark, SF))
    joined = "\n===\n".join(plans)
    assert "ShuffledHashJoin" in joined, joined


def test_k_core_peel_broadcasts_its_kept_nodes(spark, queries):
    """Each peel's semi-joins broadcast the kept-node set, whose size
    the round's degree checkpoint measured (`ckpt.broadcast_if_small`):
    no peel plan shuffles the edge list, and no build plan holds a
    shuffle that AQE read back locally after demoting a sort-merge
    join."""
    from tools.plan_audit import executed_plans

    queries["graph_k_core"](spark, SF)  # warm: schema inference
    plans = [
        p.split("== Initial Plan ==")[0]
        for p in executed_plans(spark, lambda: queries["graph_k_core"](spark, SF))
    ]
    peels = [p for p in plans if "LeftSemi" in p]
    assert peels, plans
    assert not any("AQEShuffleRead local" in p for p in plans), plans
    assert not any("Exchange hashpartitioning" in p for p in peels), peels


def test_construction_time_take_is_audited(spark, queries):
    """`llm_dedup_components` runs a bounded take while it builds its
    frame; the audit must see that execution's shuffles even though no
    code marks the site."""
    from tools.plan_audit import executed_plans

    plans = executed_plans(spark, lambda: queries["llm_dedup_components"](spark, SF))
    assert any("Exchange" in p for p in plans), plans


@pytest.fixture(scope="module")
def served(spark, telemetry_csv, tmp_path_factory):
    """The engine facade over the ingested fixture, and its sorted
    reads as plan builders."""
    from machine_telemetry_etl_ml_pipeline_spark.engine import TelemetryEngine

    eng = TelemetryEngine(str(tmp_path_factory.mktemp("served_root")), spark=spark)
    eng.ingest_csv(telemetry_csv)
    start = 1756684800  # 9/1/2025 0:00 UTC
    return {
        "range": lambda: eng.get_telemetry_range("M002", start, start + 30 * 3600),
        "by_status": lambda: eng.get_machines_by_status("maint"),
        "comparison": eng.get_machine_comparison_stats,
        "machine_list": eng.get_machine_list,
    }


def _node(line: str) -> str:
    """The operator name on one line of a plan tree."""
    body = line.lstrip(" :+-")
    if body.startswith("*("):
        body = body.split(") ", 1)[1]
    return body.split(" ", 1)[0].split("(", 1)[0]


# Operators the shape walk passes over: projections, and the columnar
# transition between a filter and its scan.
_SKIPPED = {"Project", "ColumnarToRow"}

# The first two operators under each sorted read's SinglePartition
# exchange (_SKIPPED passed over): the key filter over the scan, the status
# filter over the latest-per-machine window, the final aggregate over
# its hash exchange.
_UNDER_SINGLE = {
    "range": ["Filter", "FileScan"],
    "by_status": ["Filter", "Window"],
    "comparison": ["HashAggregate", "Exchange"],
    "machine_list": ["HashAggregate", "Exchange"],
}


@pytest.mark.parametrize("kind", sorted(_UNDER_SINGLE))
def test_served_sort_has_no_range_sampling(spark, served, kind):
    """A sorted served read is bounded by key cardinality, so its ORDER
    BY meets on one reducer: no range exchange (whose sampling job runs
    the child twice). The one SinglePartition exchange sits over the
    key filter, the aggregate or the window, never over a bare scan."""
    plan = plan_of(served[kind]())
    assert "rangepartitioning" not in plan.lower()
    lines = plan.splitlines()
    at = [i for i, line in enumerate(lines) if "Exchange SinglePartition" in line]
    assert len(at) == 1, plan
    below = [line for line in lines[at[0] + 1:] if _node(line) not in _SKIPPED]
    assert [_node(line) for line in below[:2]] == _UNDER_SINGLE[kind], plan
    if kind == "range":
        assert "(machineid#" in below[0] and "= M002)" in below[0], below[0]


def test_served_range_prunes_event_date(spark, served):
    """The range read prunes event_date partitions to its window
    (9/1 0:00 to 9/2 6:00 UTC), widened by one day each side."""
    plan = plan_of(served["range"]())
    pruned = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert ">= 2025-08-31" in pruned and "<= 2025-09-03" in pruned, pruned
