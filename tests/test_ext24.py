"""Invariant tests for the round-6 part-9 batch (now in registry/ext.py,
llm.py, ml.py): RAKE keywords, lang-ID confusion, bagged-stump forest,
point-in-time churn labels, dynamic partition pruning."""

from __future__ import annotations

import re
from collections import defaultdict

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.llm import textstats as ts
from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY, _t

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def _rake_python(docs):
    stops = set(ts.STOPWORDS["en"])
    alpha = re.compile(r"^[a-z]+$")
    phrases = []
    for text in docs:
        words = [w.lower() for w in text.split(" ") if w != ""]
        cur = []
        for w in words:
            if w in stops or not alpha.match(w):
                if cur:
                    phrases.append(cur)
                cur = []
            else:
                cur.append(w)
        if cur:
            phrases.append(cur)
    phrases = [p for p in phrases if len(p) <= 4]
    freq = defaultdict(int)
    degree = defaultdict(int)
    for p in phrases:
        for w in p:
            freq[w] += 1
            degree[w] += len(p)
    out = defaultdict(lambda: [0, None])
    for p in phrases:
        score = 0.0
        for w in p:  # positional left-to-right fold, like the engine
            score += degree[w] / freq[w]
        key = " ".join(p)
        out[key][0] += 1
        out[key][1] = score
    return out


def test_rake_matches_bruteforce(spark):
    rows = _run(spark, "llm_keyword_rake").collect()
    docs = [r.text for r in _t(spark, SF, "documents").select("text").collect()]
    expect = _rake_python(docs)
    ranked = sorted(expect.items(), key=lambda kv: (-kv[1][1], kv[0]))[:15]
    got = [(r.phrase, r.n_occurrences, r.rake_score) for r in rows]
    assert [(p, n, s) for (p, (n, s)) in ranked] == [
        (p, n, s) for (p, n, s) in got
    ]
    # multi-word phrases should surface (degree rewards co-occurrence)
    assert any(" " in r.phrase for r in rows)


def test_langid_confusion_totals(spark):
    rows = _run(spark, "llm_langid_confusion").collect()
    n_docs = _t(spark, SF, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-12
    # for the true-English row the prediction must be dominated by
    # 'en' (the synthetic corpus is EN-stopword-heavy in every lang
    # label, so a full-diagonal claim would be wrong — the matrix
    # exists precisely to expose that)
    en_row = {r.pred_lang: r.n_docs for r in rows if r.lang == "en"}
    assert en_row.get("en", 0) > sum(en_row.values()) / 2
    preds = {r.pred_lang for r in rows}
    assert preds <= set(ts.LANG_ORDER) | {"unknown"}


def test_random_forest_beats_majority_class(spark):
    got = _run(spark, "ml_random_forest_vote").collect()[0]
    li = _t(spark, SF, "lineitem").select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y")
    )
    n = li.count()
    pos = li.agg(F.sum("y")).collect()[0][0]
    majority = max(pos, n - pos)
    assert got.n_rows == n
    assert got.n_correct >= majority  # ensemble >= always-majority baseline
    assert 0 <= got.n_unanimous <= got.n_rows


def test_churn_labels_no_leakage_windows(spark):
    rows = _run(spark, "ml_churn_labels_point_in_time").collect()
    orders = [
        (r.cust, r.d)
        for r in _t(spark, SF, "orders")
        .select(
            F.col("o_custkey").alias("cust"), F.col("o_orderdate").cast("date").alias("d")
        )
        .collect()
    ]
    import datetime

    for row in rows:
        s = row.snapshot_date
        active = set()
        mass = 0
        for cust, d in orders:
            delta = (s - d).days
            if 0 < delta <= 90:
                active.add(cust)
                mass += 1
        retained = set()
        for cust, d in orders:
            delta = (d - s).days
            if 0 <= delta < 90:
                retained.add(cust)
        churned = {c for c in active if c not in retained}
        assert row.n_active == len(active)
        assert row.n_churned == len(churned)
        assert row.feature_order_mass == mass
        assert abs(row.churn_rate - len(churned) / len(active)) < 1e-12


def test_dpp_plan_prunes_partitions(spark):
    """The entry's executed plans must show a dynamic-pruning subquery
    on the partitioned fact scan (the 100 TB star-schema mechanism)."""
    from tools.plan_audit import executed_plans

    plans = executed_plans(
        spark, lambda: REGISTRY["ext_dynamic_partition_pruning"].fn(spark, SF)
    )
    assert any("dynamicpruning" in p.lower() for p in plans), plans


def test_forest_conv_bytes_match_hex_math(spark):
    """ml_random_forest_vote parses its 5 bootstrap bytes from ONE
    conv() of the first 10 md5 hex chars (r8 rewrite); the DuckDB
    oracle keeps the explicit per-digit hex arithmetic. Pin the
    bit-identity of the two derivations per (row, tree) so the Spark
    side can never drift from the oracle's definition silently."""
    li = _t(spark, SF, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid")
    )
    hashed = li.select(
        F.md5(F.concat(F.col("rid").cast("string"), F.lit(":bag"))).alias("h")
    ).select(
        "h",
        F.conv(F.substr("h", F.lit(1), F.lit(10)), 16, 10).cast("long").alias("hv"),
    )
    hexd = "instr('0123456789abcdef', substr(h, {p}, 1)) - 1"
    mismatches = hashed.agg(
        *[
            F.sum(
                F.when(
                    F.expr(
                        f"(({hexd.format(p=2 * t + 1)}) * 16"
                        f" + ({hexd.format(p=2 * t + 2)}))"
                        f" != shiftright(hv, {8 * (4 - t)}) % 256"
                    ),
                    1,
                ).otherwise(0)
            ).alias(f"bad{t}")
            for t in range(5)
        ]
    ).collect()[0]
    assert all(mismatches[f"bad{t}"] == 0 for t in range(5))


def test_forest_cond_agg_grid_matches_expanded_grid(spark):
    """ml_random_forest_vote trains from per-q CONDITIONAL aggregates
    unpivoted to the (tree, q) grid (r9 rewrite). Pin the grid against
    the r1-r8 expanded construction (cross-join the tree dimension,
    filter the bag, groupBy(t, q)) — including the subtlety that
    zero-count (t, q) cells must be ABSENT, not zero rows, or a tied
    cum-score could steal the argmax via the threshold tiebreak."""
    li = _t(spark, SF, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        F.col("l_quantity").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    hashed = li.select(
        "rid",
        "q",
        "y",
        F.conv(
            F.substr(
                F.md5(F.concat(F.col("rid").cast("string"), F.lit(":bag"))),
                F.lit(1),
                F.lit(10),
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hv"),
    )
    # old expanded-grid construction
    trees = spark.range(5).select(F.col("id").cast("int").alias("t"))
    mem = hashed.crossJoin(F.broadcast(trees)).select(
        "q", "y", "t", F.expr("shiftright(hv, (4 - t) * 8) % 256").alias("bucket")
    )
    old = {
        (r["t"], float(r["q"])): (r["n"], r["pos"])
        for r in mem.where((F.col("bucket") % 3) != 0)
        .groupBy("t", "q")
        .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
        .collect()
    }
    # new conditional-aggregate construction (mirrors the entry)
    aggs = []
    for t in range(5):
        in_bag = (F.expr(f"shiftright(hv, (4 - {t}) * 8) % 256") % 3) != 0
        aggs.append(F.sum(F.when(in_bag, 1).otherwise(0)).alias(f"n{t}"))
        aggs.append(F.sum(F.when(in_bag, F.col("y")).otherwise(0)).alias(f"pos{t}"))
    new = {}
    for r in hashed.groupBy("q").agg(*aggs).collect():
        for t in range(5):
            if r[f"n{t}"] > 0:
                new[(t, float(r["q"]))] = (r[f"n{t}"], r[f"pos{t}"])
    assert new == old  # equal keys AND values: any zero cell the
    # unpivot failed to drop would appear as a key absent from `old`
