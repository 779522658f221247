"""Invariant tests for the round-5 batch-4/5 entries (now in
registry/ext.py, llm.py, ml.py): reset semantics and audio RMS
recomputed in Python, brute-force Gini/argmin sweeps, lateral-alias
expression substitution, SemDeDup monotonicity, join-view IVM equality,
PCA eigenvalue bounds, confusion-cell identities, binaryFile digests,
schema-evolution null-fills, and depth-2 tree partitioning."""

from __future__ import annotations

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY
from machine_telemetry_etl_ml_pipeline_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_reset_cumsum_matches_python_replay(spark):
    out = {
        r.event_id: (r.seg_id, r.run_since_reset)
        for r in _run(spark, "ext_conditional_reset_cumsum").collect()
    }
    ev = sorted(
        load_table(spark, SF, "events")
        .filter(F.col("user_id") < 50)
        .select("event_id", "user_id", "ts", "event_type", "value")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    seg: dict = {}
    acc: dict = {}
    for r in ev:
        s = seg.get(r.user_id, 0)
        if r.event_type == "signup":
            s += 1
            seg[r.user_id] = s
            acc[(r.user_id, s)] = 0.0
        acc[(r.user_id, s)] = acc.get((r.user_id, s), 0.0) + r.value
        got_seg, got_run = out[r.event_id]
        assert got_seg == s
        assert abs(got_run - round(acc[(r.user_id, s)], 4)) < 1e-6, r


def test_decision_stump_is_true_argmin(spark):
    row = _run(spark, "ml_decision_stump").collect()[0]
    data = (
        load_table(spark, SF, "lineitem")
        .select(
            F.col("l_quantity").alias("q"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        )
        .collect()
    )
    qs = sorted({r.q for r in data})
    nt = float(len(data))
    post = float(sum(r.y for r in data))
    best = None
    for t in qs:
        nl = float(sum(1 for r in data if r.q <= t))
        posl = float(sum(r.y for r in data if r.q <= t))
        nr, posr = nt - nl, post - posl
        gl = 1 - (posl / nl) ** 2 - ((nl - posl) / nl) ** 2
        gr = 0.0 if nr == 0 else 1 - (posr / nr) ** 2 - ((nr - posr) / nr) ** 2
        g = round((nl / nt) * gl + (nr / nt) * gr, 9)
        if best is None or (g, t) < best:
            best = (g, t)
    assert row.n_candidates == len(qs)
    assert row.threshold == round(best[1], 4)
    assert abs(row.gini_weighted - round(best[0], 6)) < 1e-9


def test_lateral_alias_substitutes_expressions(spark):
    rows = _run(spark, "ext_lateral_column_alias").collect()
    assert rows, "expected rows for l_orderkey < 100"
    for r in rows:
        assert r.gross_cents == r.net_cents + r.tax_cents
    from machine_telemetry_etl_ml_pipeline_spark.registry.ext import _views

    _views(spark, SF, "lineitem")
    nested = spark.sql(
        """
        SELECT l_orderkey, l_linenumber, net_cents,
               tax_cents, net_cents + tax_cents AS gross_cents
        FROM (
          SELECT l_orderkey, l_linenumber, net_cents,
                 CAST(round(net_cents * l_tax) AS BIGINT) AS tax_cents
          FROM (
            SELECT *,
                   CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                     AS net_cents
            FROM lineitem WHERE l_orderkey < 100
          )
        )
        """
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, nested))


def test_semdedup_prune_monotone_and_complete(spark):
    rows = sorted(_run(spark, "llm_semdedup_prune").collect(), key=lambda r: r.threshold)
    assert [r.threshold for r in rows] == [0.30, 0.35, 0.40]
    dropped = [r.n_dropped for r in rows]
    assert dropped == sorted(dropped, reverse=True), "higher threshold must drop fewer"
    for r in rows:
        assert r.n_kept + r.n_dropped == r.n_total == 500
        assert 0 <= r.sum_kept_ids <= 500 * 499 // 2


def test_audio_energy_matches_numpy_replay(spark):
    import numpy as np

    out = {
        (r.doc_id, r.win): r.rms
        for r in _run(spark, "llm_multimodal_audio_energy").collect()
    }
    assert len(out) == 200 * 16
    for did in (0, 7, 199):
        i = np.arange(256, dtype=np.int64)
        s = ((did * 7919 + i * 104729) % 4096 - 2048).astype(np.float64)
        w = s.reshape(-1, 16)
        exp = np.round(np.sqrt((w * w).mean(axis=1)), 6)
        for win in range(16):
            assert out[(did, win)] == exp[win]


def test_incremental_join_view_merge_equals_full(spark):
    """The base+delta merged view must equal a single-pass join-agg
    computed directly (the IVM correctness property, asserted in-
    engine on top of the cross-engine oracle)."""
    merged = {
        r.nation: (r.n_items, r.revenue_cents)
        for r in _run(spark, "ext_incremental_join_view").collect()
    }
    li = load_table(spark, SF, "lineitem")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, SF, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    full = {
        r.n_name: (r.n_items, r.revenue_cents)
        for r in (
            li.select("l_orderkey", cents.alias("cents"))
            .join(o, F.col("l_orderkey") == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(n, c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_items"), F.sum("cents").alias("revenue_cents"))
            .collect()
        )
    }
    assert merged == full


def test_pca_power_iteration_properties(spark, shuffle_partitions):
    """The 3-step estimate must be a valid Rayleigh quotient: positive,
    at most the true top eigenvalue (numpy recompute), unit-norm
    iterate, and identical under re-partitioning."""
    import numpy as np

    row = _run(spark, "ml_pca_power_iteration").collect()[0]
    emb = load_table(spark, SF, "embeddings").select("embedding").collect()
    X = np.array([r.embedding[:16] for r in emb], dtype=np.float64)
    C = np.cov(X, rowvar=False, bias=True)
    top = float(np.linalg.eigvalsh(C)[-1])
    assert 0 < row.top_eigenvalue <= top + 1e-6
    assert row.n_dims == 16
    for c in (row.c1, row.c2, row.c3):
        assert 0 <= c <= 1
    shuffle_partitions(3)
    df = _run(spark, "ml_pca_power_iteration")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert tuple(row) == tuple(df.collect()[0])


def test_confusion_matrix_cells_tile_and_match_sklearn_formulas(spark):
    row = _run(spark, "ml_confusion_matrix").collect()[0]
    n = load_table(spark, SF, "lineitem").count()
    assert row.tp + row.fp + row.tn + row.fn == n
    assert all(v > 0 for v in (row.tp, row.fp, row.tn, row.fn)), "non-degenerate cells"
    assert row.precision_pos == round(row.tp / (row.tp + row.fp), 6)
    assert row.recall_pos == round(row.tp / (row.tp + row.fn), 6)
    assert row.f1_pos == round(2 * row.tp / (2 * row.tp + row.fp + row.fn), 6)
    assert row.f1_pos > 0.85, "noisy-threshold label should be well separated"


def test_binaryfile_source_reads_content_and_filters(spark):
    rows = _run(spark, "ext_source_binaryfile").collect()
    assert len(rows) == 20, "pathGlobFilter must exclude the decoy"
    import hashlib

    for r in rows:
        assert r.n_bytes == 32
        payload = hashlib.md5(str(r.doc_id).encode()).hexdigest().encode()
        assert r.content_md5 == hashlib.md5(payload).hexdigest()


def test_merge_schema_evolution_nullfills_old_files(spark):
    rows = {r.etype: (r.n, r.n_missing) for r in _run(spark, "ext_merge_schema_evolution").collect()}
    total = load_table(spark, SF, "events").count()
    assert sum(n for n, _ in rows.values()) == total
    pre_n, pre_missing = rows["<pre-evolution>"]
    assert pre_n == pre_missing > 0, "old-batch rows must all null-fill"
    for k, (n, miss) in rows.items():
        if k != "<pre-evolution>":
            assert miss == 0


def test_tree_depth2_children_partition_and_improve(spark):
    rows = {r.node: r for r in _run(spark, "ml_decision_tree_depth2").collect()}
    assert set(rows) == {"root", "left", "right"}
    assert rows["left"].n_rows + rows["right"].n_rows == rows["root"].n_rows
    # the noisy-threshold label is separable at the root, so each
    # child's best split can't be worse than a coin-flip impurity
    for node in ("left", "right"):
        assert 0 <= rows[node].gini_weighted <= 0.5
    assert rows["left"].threshold <= rows["root"].threshold
