"""Invariant tests for the round-6 part-4 batch (now in registry/ext.py,
llm.py, graph.py): table checksum, bitmap distinct, Bollinger bands, URL
canonicalization, common-neighbor link prediction."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY, _t
from machine_telemetry_etl_ml_pipeline_spark.registry.graph import _copurchase_edges

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_checksum_is_order_insensitive_and_change_sensitive(spark):
    """Same rows reshuffled -> same checksum; one mutated row ->
    different checksum for that group only."""
    base = {r.event_type: (r.n_rows, r.checksum) for r in
            _run(spark, "ext_table_checksum").collect()}
    # recompute over a repartitioned/reordered copy of the same data
    e = _t(spark, SF, "events").repartition(13).sortWithinPartitions("value")
    e.createOrReplaceTempView("_chk_ev")
    again = {
        r.event_type: (r.n_rows, r.checksum)
        for r in spark.sql(
            """
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(conv(substr(md5(concat_ws('|',
                     CAST(event_id AS STRING), CAST(user_id AS STRING),
                     event_type,
                     CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS STRING),
                     CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                          AS STRING))), 1, 15), 16, 10) AS DECIMAL(38,0)))
                   % CAST(4611686018427387904 AS DECIMAL(38,0))
                   AS BIGINT) AS checksum
            FROM _chk_ev GROUP BY event_type
            """
        ).collect()
    }
    assert base == again
    # mutating one row must move that group's checksum
    mut = spark.sql(
        """
        SELECT event_type, CAST(sum(CAST(conv(substr(md5(concat_ws('|',
          CAST(CASE WHEN event_id = (SELECT min(event_id) FROM _chk_ev)
               THEN event_id + 1 ELSE event_id END AS STRING),
          CAST(user_id AS STRING), event_type,
          CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS STRING),
          CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS STRING))),
          1, 15), 16, 10) AS DECIMAL(38,0)))
          % CAST(4611686018427387904 AS DECIMAL(38,0)) AS BIGINT) AS checksum
        FROM _chk_ev GROUP BY event_type
        """
    ).collect()
    diffs = sum(
        1 for r in mut if base[r.event_type][1] != r.checksum
    )
    assert diffs == 1


def test_bitmap_distinct_matches_count_distinct(spark):
    got = {r.event_type: r.n_users for r in
           _run(spark, "ext_bitmap_distinct").collect()}
    e = _t(spark, SF, "events")
    per = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    per["__all__"] = e.select("user_id").distinct().count()
    assert got == per


def test_bollinger_breach_consistency(spark):
    """Breach flags must agree with the reported bands, sd must be
    non-negative, and each row's mean must equal the trailing-24
    average recomputed from the hourly series."""
    rows = sorted(_run(spark, "ext_bollinger_bands").collect(), key=lambda r: r.t)
    assert rows
    hourly = sorted(
        (
            (r.t, r.cents)
            for r in _t(spark, SF, "events")
            .filter(F.col("event_type") == "purchase")
            .select(
                F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
                .cast("long")
                .alias("t"),
                F.expr("CAST(floor(value*100+0.5) AS BIGINT)").alias("c"),
            )
            .groupBy("t")
            .agg(F.sum("c").alias("cents"))
            .collect()
        )
    )
    series = [c for _, c in hourly]
    idx = {t: i for i, (t, _) in enumerate(hourly)}
    for r in rows:
        i = idx[r.t]
        assert i >= 23
        w = series[i - 23 : i + 1]
        assert abs(r.mean_cents - sum(w) / 24) < 1e-9
        assert r.sd_cents >= 0
        if r.breach == 1:
            assert r.cents > r.mean_cents + 2 * r.sd_cents
        elif r.breach == -1:
            assert r.cents < r.mean_cents - 2 * r.sd_cents
        else:
            assert (
                r.mean_cents - 2 * r.sd_cents
                <= r.cents
                <= r.mean_cents + 2 * r.sd_cents
            )


def test_url_canonicalize_properties(spark):
    """Canonical URLs must be lowercase, free of ports/fragments/
    tracking params/trailing slashes, and partition the documents."""
    rows = _run(spark, "llm_url_canonicalize").collect()
    n_docs = _t(spark, SF, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        u = r.curl
        assert u == u.lower()
        assert ":443" not in u and "#" not in u and "www." not in u
        assert "utm_" not in u and "ref=" not in u
        assert not u.endswith("/")
        assert r.n_raw_variants >= 1
        assert r.n_docs >= r.n_raw_variants >= 1 or r.n_docs >= 1


def test_common_neighbors_matches_bruteforce(spark):
    """Top-20 scored pairs must match a Python recompute of
    common-neighbor counts and Jaccard over the same edge set."""
    edges = {(r.u, r.v) for r in _copurchase_edges(spark, SF).collect()}
    nbr = defaultdict(set)
    for u, v in edges:
        nbr[u].add(v)
        nbr[v].add(u)
    cand = {}
    for x in nbr:
        ns = sorted(nbr[x])
        for i, u in enumerate(ns):
            for w in ns[i + 1 :]:
                if (u, w) not in edges:
                    cand[(u, w)] = cand.get((u, w), 0) + 1
    scored = [
        (cn / (len(nbr[u]) + len(nbr[w]) - cn), cn, u, w)
        for (u, w), cn in cand.items()
    ]
    scored.sort(key=lambda t: (-t[0], -t[1], t[2], t[3]))
    expect = [(u, w, cn) for _, cn, u, w in scored[:20]]
    got = [(r.u, r.w, r.cn) for r in _run(spark, "graph_common_neighbors").collect()]
    assert got == expect
