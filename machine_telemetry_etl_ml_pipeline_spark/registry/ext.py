"""``ext_*`` entries: the relational extension surface (SURVEY.md §2B).

Joins (equi, semi/anti, outer, theta, range, skew-salted, bucketed),
set operations, grouping sets / rollup / cube, window functions and
frames, subqueries, scalar and collection functions, event-time
windows, sessionization, sketches, sources and sinks (CSV, JSONL, ORC,
Python data source, partition overwrite, compaction, manifests) and the
SQL-string surfaces (recursive CTEs, SQL UDFs, parameterised SQL, pipe
syntax), mostly over the TPC-H-ish star schema.

Float parity: aggregates are rounded to 4dp on BOTH sides, money is
summed in integer cents, and a ratio of two large sums ships as
numerator/denominator columns rather than a rounded quotient.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..llm.prep import hex_bucket_sql, md5_bucket, with_running_total
from ..operators.bucketing import salted_agg, save_bucketed
from ..operators.core import local_frame
from ..operators.joins import anti_join, asof_join, semi_join
from ..operators.windows import lag_lead, ranked, running, sessionized
from . import _epoch, _materialize, _scratch, _t, _views, register


# --- joins ---------------------------------------------------------------


@register(
    "ext_join_revenue_by_nation",
    """
    SELECT r_name, n_name, count(*) AS n_items,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 100 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def ext_join_revenue_by_nation(spark, sf_dir):
    """Fact->dim join chain with broadcast dims (TPC-H Q5 shape).
    nation/region are always-small -> explicit broadcast; orders is a
    fact-fact sort-merge join left to AQE. customer is broadcast at
    test SF but would exceed the threshold at 100 TB — left to AQE's
    runtime decision rather than forced. Revenue folds as an exact
    per-row-cents BIGINT sum (the tpch_q19 lesson, resurfaced by the
    full-registry 10x sweep: round(sum(double), 4) at ~1e10 group
    sums puts partial-sum order error above the 4dp grid)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    # floor(x + 0.5), not round(): Spark's round() on double detours
    # through BigDecimal per row (~40% slower here); floor stays in
    # codegen and both engines floor identically on positive cents
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    return joined.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum(cents).cast("double") / 100).alias("revenue"),
    )


@register(
    "ext_join_left_order_counts",
    """
    SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 4) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def ext_join_left_order_counts(spark, sf_dir):
    """LEFT outer join preserving customers with zero orders;
    count(col) counts non-null matches only."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias("total_spent"),
        )
    )


@register(
    "ext_join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def ext_join_semi(spark, sf_dir):
    """LEFT SEMI join — only join keys of the right side ship."""
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return semi_join(c, big, c.c_custkey == big.o_custkey).select("c_custkey", "c_name")


@register(
    "ext_join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def ext_join_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return anti_join(c, o, c.c_custkey == o.o_custkey).select("c_custkey", "c_name")


@register(
    "ext_join_theta",
    """
    SELECT p_brand, count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
                  AND l_extendedprice > p_retailprice
    GROUP BY p_brand
    """,
)
def ext_join_theta(spark, sf_dir):
    """Equi + theta composite condition: the equi key drives the hash
    join, the inequality is a post-join residual filter (no nested-loop
    explosion). The price rollup is an exact per-row-cents BIGINT sum:
    round(sum(float), 4) diverged at the 10x replica once the group
    sums reached ~1e10 (partial-sum order error above the 4dp grid) —
    the same class the r5 differential caught in tpch_q19."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(
        p, (li.l_partkey == p.p_partkey) & (li.l_extendedprice > p.p_retailprice)
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_price_cents"),
    )


@register(
    "ext_asof_join",
    f"""
    SELECT p.event_id, p.user_id, CAST(floor(epoch(p.ts)) AS BIGINT) AS ts_epoch,
           p.value,
           first(v.event_id ORDER BY v.ts DESC, v.event_id) AS asof_event_id,
           first(v.value ORDER BY v.ts DESC, v.event_id) AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    GROUP BY p.event_id, p.user_id, p.ts, p.value
    """,
)
def ext_asof_join(spark, sf_dir):
    """As-of join: for each purchase, the user's latest view at-or-before
    it. Union+window formulation (operators/joins.py): ONE shuffle on
    user_id, linear in rows — vs. the naive equi+theta join which is
    quadratic per key. event_id pins the pick among exact (user_id, ts)
    ties on both engines (smallest wins): DuckDB's native ASOF reads
    better as an oracle but has no tiebreak syntax, and the forward
    variant's 10x differential red proved tied data then diverges."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    views = e.filter(F.col("event_type") == "view")
    out = asof_join(
        purchases, views, "user_id", "ts", "ts", ["event_id", "value"],
        right_tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id", _epoch().alias("ts_epoch"), "value",
        "asof_event_id", "asof_value",
    )


# --- set operations ------------------------------------------------------


@register(
    "ext_union_all",
    """
    SELECT event_id, event_type, value FROM events WHERE value > 190
    UNION ALL
    SELECT event_id, event_type, value FROM events WHERE event_type = 'error'
    """,
)
def ext_union_all(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return e.filter(F.col("value") > 190).unionByName(e.filter(F.col("event_type") == "error"))


@register(
    "ext_union_distinct",
    """
    SELECT event_id, event_type, value FROM events WHERE value > 190
    UNION
    SELECT event_id, event_type, value FROM events WHERE event_type = 'error'
    """,
)
def ext_union_distinct(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return (
        e.filter(F.col("value") > 190)
        .unionByName(e.filter(F.col("event_type") == "error"))
        .distinct()
    )


@register(
    "ext_intersect",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def ext_intersect(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "purchase").select("user_id")
    b = e.filter(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)


@register(
    "ext_except",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def ext_except(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "purchase").select("user_id")
    b = e.filter(F.col("event_type") == "error").select("user_id")
    # subtract == EXCEPT DISTINCT (set semantics); exceptAll would be
    # multiset difference and leave users whose purchase-count exceeds
    # their error-count — not what SQL EXCEPT means.
    return a.subtract(b)


# --- grouping sets -------------------------------------------------------


@register(
    "ext_rollup",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def ext_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 4).alias("sum_qty")
    )


@register(
    "ext_cube",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100 AS sum_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def ext_cube(spark, sf_dir):
    """CUBE over order status x priority. The grand-total cell sums
    the entire fact table's price mass, so it folds as exact integer
    cents in DECIMAL(38,0) (oracle_audit: 3.75e10 at 10x leaves <64
    ULPs to a 4dp rounding grid — the tpch_q19 class)."""
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents.cast("decimal(38,0)")).cast("double") / 100).alias("sum_price"),
    )


# --- window functions ----------------------------------------------------


@register(
    "ext_window_rank",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           row_number() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal DESC, c_custkey ASC) AS row_num,
           rank()       OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS rnk,
           dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS dense_rnk
    FROM customer
    """,
)
def ext_window_rank(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return ranked(c, "c_mktsegment", "c_acctbal", descending=True, tiebreak="c_custkey").select(
        "c_custkey", "c_mktsegment", "c_acctbal", "row_num", "rnk", "dense_rnk"
    )


@register(
    "ext_window_lag_lead",
    """
    SELECT event_id, user_id, value,
           lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v,
           lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_v
    FROM events
    """,
)
def ext_window_lag_lead(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return lag_lead(e, "user_id", "ts", "value", tiebreak="event_id").select(
        "event_id", "user_id", "value", "prev_v", "next_v"
    )


@register(
    "ext_window_running",
    """
    SELECT event_id, user_id,
           CAST(sum(cents) OVER w AS BIGINT) / 100.0 AS running_sum,
           CAST(CASE WHEN sum(cents) OVER w >= 0
                     THEN (sum(cents) OVER w * 100) // count(*) OVER w
                     ELSE -((-(sum(cents) OVER w * 100)) // count(*) OVER w)
                END AS BIGINT) AS running_avg_e4
    FROM (SELECT event_id, user_id, ts,
                 CAST(round(value * 100) AS BIGINT) AS cents FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
    """,
)
def ext_window_running(spark, sf_dir):
    """Running sum/avg with an explicit rows frame. Oracle-parity note:
    the accumulation runs on exact integer cents (values have 2
    decimals), and the average is emitted in truncated 1e-4 units —
    small-n averages land exactly on round-half boundaries where Spark
    (BigDecimal shortest-repr HALF_UP) and DuckDB (binary rounding)
    legitimately disagree."""
    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    out = running(e, "user_id", "ts", "cents", tiebreak="event_id")
    return out.select(
        "event_id",
        "user_id",
        (F.col("running_sum") / 100.0).alias("running_sum"),
        F.expr("(running_sum * 100) div __cnt").alias("running_avg_e4"),
    )


# --- aggregation extensions ----------------------------------------------


@register(
    "ext_percentiles",
    """
    SELECT round(quantile_cont(l_quantity::DOUBLE, 0.5), 4) AS median_qty,
           round(quantile_cont(l_quantity::DOUBLE, 0.9), 4) AS p90_qty,
           round(stddev_samp(l_extendedprice), 4) AS sd_price,
           round(var_samp(l_extendedprice), 4) AS var_price
    FROM lineitem
    """,
)
def ext_percentiles(spark, sf_dir):
    """Exact percentiles (interpolating, = quantile_cont). The 100 TB
    path is percentile_approx (t-digest, partial-aggregable); exact
    percentile is a full sort per group and exists for parity."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 4).alias("p90_qty"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_extendedprice"), 4).alias("var_price"),
    )


@register(
    "ext_max_by",
    """
    SELECT user_id,
           arg_max(event_type, CAST(round(value * 100) AS BIGINT) * 1099511627776
                               + event_id) AS top_type,
           round(max(value), 4) AS max_value,
           arg_min(event_type, CAST(round(value * 100) AS BIGINT) * 1099511627776
                               + event_id) AS bottom_type
    FROM events GROUP BY user_id
    """,
)
def ext_max_by(spark, sf_dir):
    """max_by/min_by (argmax). Equal values within a group make plain
    max_by nondeterministic, so the ordering key is a composite
    (cents << 40) + event_id scalar — deterministic in both engines
    (DuckDB arg_max has no struct-key overload)."""
    e = _t(spark, sf_dir, "events")
    key = F.round(F.col("value") * 100).cast("long") * F.lit(1099511627776).cast("long") + F.col(
        "event_id"
    )
    return e.groupBy("user_id").agg(
        F.max_by("event_type", key).alias("top_type"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.min_by("event_type", key).alias("bottom_type"),
    )


@register(
    "ext_approx_count_distinct",
    """
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(count(DISTINCT event_id) AS BIGINT) AS exact_events,
           true AS users_within_5pct,
           true AS events_within_5pct
    FROM events
    """,
)
def ext_approx_count_distinct(spark, sf_dir):
    """HLL approximate distinct — the 100 TB replacement for exact
    COUNT(DISTINCT) (reference db.py:230). HLL estimates are
    engine-specific by construction, so the estimate itself cannot be
    hash-compared — instead the entry runs BOTH the sketch and the
    exact count in one aggregate and emits the exact counts plus an
    error-bound verdict (|approx-exact|/exact <= 5%, five sigma at
    rsd=0.01): the sketch stays the surface under test, and the
    oracle now checks a real cross-engine invariant instead of the
    r2-r7 rows-only row count. Upgraded per the r7 verdict item 5.

    Shape (r11): one aggregate per distinct column, combined via the
    repo's 1-row-panel crossJoin, NOT one agg with two COUNT(DISTINCT)
    columns. The multi-distinct form plans an Expand (3x the fact rows,
    (gid, user_id, event_id)-wide partial-agg keys) at scan-partition
    granularity — at the 100x replica that shape OOM'd the executor
    (TungstenAggregate spill-reader heap death); per-column aggregates
    keep the partial key narrow, skip Expand entirely, and each scan
    prunes to a single parquet column, which is also the cheaper plan
    at 100 TB (two 1-column scans < one 3x-expanded shuffle)."""
    e = _t(spark, sf_dir, "events")
    users = e.agg(
        F.countDistinct("user_id").alias("eu"),
        F.approx_count_distinct("user_id", 0.01).alias("au"),
    )
    events = e.agg(
        F.countDistinct("event_id").alias("ee"),
        F.approx_count_distinct("event_id", 0.01).alias("ae"),
    )
    return users.crossJoin(events).select(
        F.col("eu").cast("long").alias("exact_users"),
        F.col("ee").cast("long").alias("exact_events"),
        (
            F.abs(F.col("au") - F.col("eu")) / F.col("eu").cast("double") <= 0.05
        ).alias("users_within_5pct"),
        (
            F.abs(F.col("ae") - F.col("ee")) / F.col("ee").cast("double") <= 0.05
        ).alias("events_within_5pct"),
    )


# --- scalar function surface ----------------------------------------------


@register(
    "ext_scalar_string",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           lower(c_mktsegment) AS seg_lower,
           substr(c_name, 10, 4) AS name_mid,
           regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
           c_name || '/' || c_mktsegment AS name_seg,
           trim('  ' || c_mktsegment || ' ') AS seg_trim,
           length(c_name) AS name_len,
           replace(c_name, 'Customer', 'Cust') AS name_short,
           split_part(c_name, '#', 2) AS name_num
    FROM customer
    """,
)
def ext_scalar_string(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 10, 4).alias("name_mid"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
        F.concat_ws("/", "c_name", "c_mktsegment").alias("name_seg"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("seg_trim"),
        F.length("c_name").alias("name_len"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_num"),
    )


@register(
    "ext_scalar_date",
    """
    SELECT o_orderkey,
           CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_start_epoch,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_95,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
           year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
           CAST(o_orderdate AS DATE) AS odate
    FROM orders
    """,
)
def ext_scalar_date(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.unix_timestamp(F.date_trunc("month", "o_orderdate")).cast("long").alias("month_start_epoch"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since_95"),
        F.add_months(F.col("o_orderdate").cast("date"), 3).alias("plus3m"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.col("o_orderdate").cast("date").alias("odate"),
    )


@register(
    "ext_scalar_math",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_quantity * l_extendedprice, 2) AS qty_price,
           round(abs(l_discount - 0.05), 4) AS disc_dev,
           round(ln(l_extendedprice), 4) AS ln_price,
           round(pow(l_quantity, 2), 4) AS qty_sq,
           round(sqrt(l_extendedprice), 4) AS sqrt_price,
           CAST(ceil(l_tax * 100) AS BIGINT) AS tax_pct_ceil,
           CAST(floor(l_discount * 100) AS BIGINT) AS disc_pct_floor,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod7
    FROM lineitem
    """,
)
def ext_scalar_math(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_quantity") * F.col("l_extendedprice"), 2).alias("qty_price"),
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        F.round(F.log(F.col("l_extendedprice")), 4).alias("ln_price"),
        F.round(F.pow("l_quantity", F.lit(2)), 4).alias("qty_sq"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("sqrt_price"),
        F.ceil(F.col("l_tax") * 100).alias("tax_pct_ceil"),
        F.floor(F.col("l_discount") * 100).alias("disc_pct_floor"),
        (F.col("l_orderkey") % 7).cast("long").alias("key_mod7"),
    )


@register(
    "ext_explode_wordcount",
    """
    SELECT word, count(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ) WHERE word <> ''
    GROUP BY word ORDER BY n DESC, word ASC LIMIT 20
    """,
)
def ext_explode_wordcount(spark, sf_dir):
    """split -> explode -> filter -> agg -> top-k (array surface)."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("word")).filter(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(20)
    )


@register(
    "ext_json_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def ext_json_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


# --- batch time-window aggregation (streaming twins in streaming/) --------


@register(
    "ext_tumbling_window",
    f"""
    SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT) AS window_start,
           count(*) AS n, round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1
    """,
)
def ext_tumbling_window(spark, sf_dir):
    """Tumbling 1h aggregate — batch twin of registry/stream.py
    stream_tumbling_counts (same window() primitive and oracle)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("__w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("__w.start")).cast("long").alias("window_start"), "n", "sum_value"
        )
    )


@register(
    "ext_sliding_window",
    """
    SELECT CAST(floor(epoch(ws)) AS BIGINT) AS window_start,
           count(*) AS n, round(sum(value), 4) AS sum_value
    FROM (
      SELECT value,
             unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
      FROM events
    )
    GROUP BY ws
    """,
)
def ext_sliding_window(spark, sf_dir):
    """Sliding window 1h/30m: each event lands in 2 overlapping windows
    (window() emits one row per bucket). DuckDB oracle enumerates the
    same 2 bucket starts per event."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("__w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("__w.start")).cast("long").alias("window_start"), "n", "sum_value"
        )
    )


@register(
    "ext_session_windows",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           CAST(floor(epoch(max(ts))) AS BIGINT)
             - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec
    FROM sess GROUP BY user_id, session_id
    """,
)
def ext_session_windows(spark, sf_dir):
    """Session windows (30 min gap) via gaps-and-islands — the batch
    analog of streaming session_window(); one shuffle + one sort."""
    e = _t(spark, sf_dir, "events")
    s = sessionized(e, "user_id", "ts", 1800, tiebreak="event_id")
    return s.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")).cast("long")
            - F.unix_timestamp(F.min("ts")).cast("long")
        ).alias("duration_sec"),
    )


# --- pivot / unpivot --------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "ext_pivot",
    f"""
    SELECT user_id,
           {", ".join(f"count(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in _EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
)
def ext_pivot(spark, sf_dir):
    """Pivot (wide aggregation): explicit value list so the plan is a
    single pass (no extra distinct-values job) — at scale an un-listed
    pivot scans twice."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count().na.fill(0)


@register(
    "ext_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def ext_unpivot(spark, sf_dir):
    """Unpivot/melt: wide -> long."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "val",
    )


@register(
    "ext_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100 AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def ext_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with grouping_id disambiguation (SQL
    entry point — the DataFrame API only exposes cube/rollup). The
    () grand-total sum is one group over the whole fact table, so the
    price mass folds as exact integer cents in DECIMAL(38,0)
    (oracle_audit: 3.2e10 at 10x leaves <64 ULPs to a 4dp grid)."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id() AS BIGINT) AS gid,
               count(*) AS n,
               CAST(sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                             AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# --- subqueries --------------------------------------------------------------


@register(
    "ext_scalar_subquery",
    """
    SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders
    WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
    """,
)
def ext_scalar_subquery(spark, sf_dir):
    """Uncorrelated scalar subquery in a predicate (Catalyst rewrites
    to a broadcast join against the 1-row aggregate)."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
        FROM orders
        WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
        """
    )


@register(
    "ext_correlated_subquery",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE c_acctbal > (SELECT avg(c2.c_acctbal) * 1.5 FROM customer c2
                       WHERE c2.c_mktsegment = c.c_mktsegment)
    """,
)
def ext_correlated_subquery(spark, sf_dir):
    """Correlated scalar subquery — Catalyst decorrelates it into an
    aggregate + join (the reference's Postgres planner did this for
    free; Spark's subquery decorrelation is the same rewrite)."""
    _views(spark, sf_dir, "customer")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment FROM customer c
        WHERE c_acctbal > (SELECT avg(c2.c_acctbal) * 1.5 FROM customer c2
                           WHERE c2.c_mktsegment = c.c_mktsegment)
        """
    )


# --- window extras ------------------------------------------------------------


@register(
    "ext_window_distribution",
    """
    SELECT c_custkey, c_mktsegment,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 4) AS pct_rank,
           round(cume_dist() OVER w, 4) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def ext_window_distribution(spark, sf_dir):
    """ntile / percent_rank / cume_dist, PARTITIONED by market segment
    (round-2: the r1 version used a global un-partitioned window — a
    single-reducer sort that SCALE.md had to flag as a trade-off;
    per-segment distribution ranks are both the realistic analytics
    shape and shuffle-parallel). Unique total order via the custkey
    tiebreak so every engine agrees."""
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )


@register(
    "ext_window_first_last",
    """
    SELECT event_id, user_id,
           first_value(value) OVER w AS first_v,
           last_value(value) OVER w AS last_v
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def ext_window_first_last(spark, sf_dir):
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_v"),
        F.last("value").over(w).alias("last_v"),
    )


@register(
    "ext_window_range_frame",
    """
    SELECT o_orderkey, cnt_within_10k FROM (
      SELECT o_orderkey,
             count(*) OVER (ORDER BY o_totalprice
                            RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
               AS cnt_within_10k
      FROM orders
    )
    """,
)
def ext_window_range_frame(spark, sf_dir):
    """Numeric RANGE frame (value-based, not row-based): how many
    orders fall within 10k below each order's price."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").asc()).rangeBetween(-10000, 0)
    return o.select("o_orderkey", F.count(F.lit(1)).over(w).alias("cnt_within_10k"))


# --- array / map / regexp / date-format surface -------------------------------


@register(
    "ext_array_functions",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 4) + 0 AS first_dim,
           round(CAST(list_max(embedding) AS DOUBLE), 4) + 0 AS max_dim,
           round(CAST(list_min(embedding) AS DOUBLE), 4) + 0 AS min_dim,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) + 0 AS sum_dims,
           len(list_filter(embedding, x -> x > 0)) AS n_positive
    FROM embeddings
    """,
)
def ext_array_functions(spark, sf_dir):
    """Array surface: size/element_at/max/min + lambda transform,
    aggregate, filter (all JVM-side higher-order functions). Every
    rounded float carries the registry's `+ 0` IEEE -0.0 normalizer:
    a first dim in (-5e-5, 0) rounded to -0.0 on one engine and 0.0
    on the other — found by the r5 10x differential, whose larger
    sample hit the band sf0.01 happened to miss."""
    e = _t(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    zero = F.lit(0.0)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        (F.round(F.element_at("embedding", 1).cast("double"), 4) + zero).alias("first_dim"),
        (F.round(F.array_max("embedding").cast("double"), 4) + zero).alias("max_dim"),
        (F.round(F.array_min("embedding").cast("double"), 4) + zero).alias("min_dim"),
        (F.round(F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x), 4) + zero).alias("sum_dims"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
    )


@register(
    "ext_map_functions",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           len(json_keys(props)) AS n_keys,
           json_keys(props)[1] AS first_key
    FROM events
    """,
)
def ext_map_functions(spark, sf_dir):
    """JSON -> map -> key introspection (from_json / map_keys)."""
    e = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return e.select(
        "event_id",
        F.element_at(m, "k").alias("k_value"),
        F.size(F.map_keys(m)).alias("n_keys"),
        F.element_at(F.map_keys(m), 1).alias("first_key"),
    )


@register(
    "ext_regexp_functions",
    """
    SELECT p_partkey, p_name,
           regexp_matches(p_name, '^[a-z]+ ') AS starts_word,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           len(regexp_extract_all(p_name, '[a-z]+')) AS n_words
    FROM part
    """,
)
def ext_regexp_functions(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_name",
        F.col("p_name").rlike("^[a-z]+ ").alias("starts_word"),
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.size(F.regexp_extract_all("p_name", F.lit("[a-z]+"), 0)).alias("n_words"),
    )


@register(
    "ext_date_format",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H') AS fmt,
           strftime(o_orderdate, '%Y/%m') AS ym
    FROM orders
    """,
)
def ext_date_format(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH").alias("fmt"),
        F.date_format("o_orderdate", "yyyy/MM").alias("ym"),
    )


@register(
    "ext_salted_agg",
    """
    SELECT event_type, CAST(sum(cnt_events) AS BIGINT) AS cnt_events,
           round(sum(sum_value), 4) AS sum_value
    FROM (
      SELECT event_type, count(*) AS cnt_events, sum(value) AS sum_value
      FROM events GROUP BY event_type
    ) GROUP BY event_type
    """,
)
def ext_salted_agg(spark, sf_dir):
    """Skew-safe two-phase aggregation (salting): event_type has only 5
    values — a worst-case skew shape where every row of a key lands on
    one reducer. The salted plan spreads each key over 8 partial
    groups; the merged result is exactly the plain aggregate (oracle =
    the unsalted SQL; sums are exact-integer cents to make the
    partial-merge order irrelevant)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    out = salted_agg(
        e,
        "event_type",
        [F.count(F.lit(1)).alias("cnt_events"), F.sum("cents").alias("sum_cents")],
    )
    # rename for the algebraic-merge helper, then descale
    return out.select(
        "event_type",
        "cnt_events",
        F.round(F.col("sum_cents") / 100.0, 4).alias("sum_value"),
    )


@register(
    "ext_bucketed_join_colocated",
    """
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS DOUBLE)
           / 10000.0 AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def ext_bucketed_join_colocated(spark, sf_dir):
    """Co-located join on pre-bucketed tables — the 100 TB layout move
    that removes the dominant shuffle of every recurring fact-fact
    join (SURVEY §1.4: the reference's btree indexes become layout).
    Both sides are persisted bucketed by the join key with the SAME
    bucket count, so Catalyst plans a sort-merge join with NO Exchange
    on either side; the only shuffle left in the plan is the final
    5-group rollup. The bucketed write happens once per SF dir
    (exists-check), so a second run — and a bench rep — measures the
    join itself, which is the recurring cost a nightly pipeline pays.
    The oracle recomputes the same revenue rollup from the logical
    inputs, covering the bucketed write + read + join round trip.

    Money math rides integer units (r11): the 100x ledger sweep caught
    this entry's round(sum(price*(1-disc)), 2) one 2dp grid step apart
    between engines — each of the 5 priority groups accumulates ~12M
    order-divergent double terms (~6e11 dollars), the same channel as
    the r11 TPC-H q6/q8/q9/q17 fixes and at exactly the accumulation
    depth where it opens. cents * (100 - pct) is an exact BIGINT in
    1e-4-dollar units, the sum accumulates order-insensitively in
    DECIMAL(38,0), and the one display division by 10000.0 is the
    same IEEE op on both engines. Exactness bound (r12, per ADVICE):
    the "<2^53 integer" qualifier holds while a group's sum stays
    under 2^53 units ≈ $9.0e11; the 100x replica sits at ~6e15 units
    (~1.5x headroom), so it lapses somewhere around a ~150x replica.
    Past that, cross-engine EQUALITY still holds — both engines cast
    the SAME exact DECIMAL integer to double, and round-to-nearest of
    an identical integer is deterministic and identical — only the
    "exactly representable" claim weakens to "identically rounded".
    The oracle mirrors the cast, so the gate stays green at any SF."""
    import hashlib

    tag = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:8]
    t_orders, t_items = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    def ensure(df, name, key):
        if spark.catalog.tableExists(name):
            return
        # the catalog is per-session (in-memory metastore) but the
        # warehouse dir persists: a table written by a previous session
        # is an orphaned location here — clear it before recreating
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        save_bucketed(df, name, key, num_buckets=16, sort_col=key)

    ensure(o, t_orders, "o_orderkey")
    ensure(l, t_items, "l_orderkey")
    # merge hint: at bench SFs the orders side fits the broadcast
    # threshold and Catalyst would pick BHJ, never exercising the
    # co-located path; at 100 TB both sides are fact-sized and SMJ is
    # what runs, so pin it
    joined = spark.table(t_orders).hint("merge").join(
        spark.table(t_items),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    keep_pct = 100 - F.round(F.col("l_discount") * 100).cast("long")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum((cents * keep_pct).cast("decimal(38,0)")).cast("double") / F.lit(10000.0)).alias(
            "revenue"
        ),
    )


@register(
    "ext_distinct_subset",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def ext_distinct_subset(spark, sf_dir):
    """dropDuplicates on a column subset (exact-dedup idiom)."""
    e = _t(spark, sf_dir, "events")
    return e.select("user_id", "event_type").dropDuplicates()


@register(
    "ext_union_missing_cols",
    """
    SELECT event_id, value, NULL AS o_totalprice FROM events WHERE value > 195
    UNION ALL
    SELECT o_orderkey AS event_id, NULL AS value, o_totalprice
    FROM orders WHERE o_totalprice > 450000
    """,
)
def ext_union_missing_cols(spark, sf_dir):
    """unionByName(allowMissingColumns=True): schema-evolving union —
    absent columns NULL-pad instead of erroring."""
    e = _t(spark, sf_dir, "events").filter(F.col("value") > 195).select("event_id", "value")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_orderkey").alias("event_id"), "o_totalprice")
    )
    return e.unionByName(o, allowMissingColumns=True)


@register(
    "ext_string_agg",
    """
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv,
           bool_or(event_type = 'error') AS had_error,
           bool_and(value > 0) AS all_positive
    FROM events GROUP BY user_id
    """,
)
def ext_string_agg(spark, sf_dir):
    """Ordered string aggregation + boolean aggregates. collect_set is
    unordered by contract — sort_array makes the result deterministic
    (and oracle-comparable)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types_csv"),
        F.bool_or(F.col("event_type") == "error").alias("had_error"),
        F.bool_and(F.col("value") > 0).alias("all_positive"),
    )


@register(
    "ext_corr_covar",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4) + 0 AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) + 0 AS covar_qty_price,
           round(covar_pop(l_discount, l_tax), 4) + 0 AS covar_disc_tax
    FROM lineitem GROUP BY l_returnflag
    """,
)
def ext_corr_covar(spark, sf_dir):
    """Bivariate statistical aggregates (corr / covar): single-pass,
    partial-aggregable moment sketches in both engines. The `+ 0`
    normalizes IEEE negative zero (round of a tiny negative covariance
    yields -0.0 in one engine and 0.0 in the other)."""
    li = _t(spark, sf_dir, "lineitem")
    zero = F.lit(0.0)
    return li.groupBy("l_returnflag").agg(
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + zero).alias("corr_qty_price"),
        (F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4) + zero).alias("covar_qty_price"),
        (F.round(F.covar_pop("l_discount", "l_tax"), 4) + zero).alias("covar_disc_tax"),
    )


_SAMPLE_FRACTION = 0.1


_SAMPLE_SPACE = 16**7  # md5_bucket(_, 7) range


_SAMPLE_THR = int(_SAMPLE_FRACTION * _SAMPLE_SPACE)


def _sample_bucket_sql() -> str:
    return hex_bucket_sql("md5(CAST(event_id AS VARCHAR))", 7)


@register(
    "ext_sample",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE {_sample_bucket_sql()} < {_SAMPLE_THR}
    """,
)
def ext_sample(spark, sf_dir):
    """Bernoulli sampling at 10% — re-specced (r7 verdict item 5) from
    Spark's seeded sample() (engine-specific RNG, rows-only forever)
    to a HASH-threshold Bernoulli: keep iff md5_bucket(event_id, 7) <
    0.1 * 16^7. Same statistical contract (each row kept independently
    w.p. ~0.1), but the draw is a pure function of the key, so the
    sample is exactly reproducible across runs, engines, partitions,
    and cluster sizes — which is also the property a 100 TB pipeline
    wants (a resumed/re-run job re-selects the identical sample; no
    seed-per-partition coupling). The oracle runs the identical
    hex-digit arithmetic, upgrading the entry from rows-only to
    exact."""
    from ..llm.prep import md5_bucket

    e = _t(spark, sf_dir, "events")
    s = e.filter(md5_bucket(F.col("event_id"), 7) < F.lit(_SAMPLE_THR))
    return s.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@register(
    "ext_posexplode",
    """
    SELECT doc_id, CAST(pos AS INT) AS pos, word FROM (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word,
             generate_subscripts(list_filter(string_split(text, ' '), x -> x <> ''), 1) AS pos
      FROM documents WHERE doc_id < 10
    )
    """,
)
def ext_posexplode(spark, sf_dir):
    """Positional explode (ordinality): token positions survive the
    flatten — needed whenever order matters downstream (n-gram windows,
    span labeling). 1-based to match SQL generate_subscripts."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    words = F.filter(F.split("text", " "), lambda x: x != "")
    return d.select("doc_id", F.posexplode(words).alias("pos", "word")).select(
        "doc_id", (F.col("pos") + 1).cast("int").alias("pos"), "word"
    )


@register(
    "ext_month_boundaries",
    """
    SELECT o_orderkey,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(o_orderdate AS DATE) = last_day(CAST(o_orderdate AS DATE)) AS is_month_end
    FROM orders
    """,
)
def ext_month_boundaries(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.last_day(d).alias("month_end"),
        (d == F.last_day(d)).alias("is_month_end"),
    )


@register(
    "ext_in_subquery",
    """
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    """,
)
def ext_in_subquery(spark, sf_dir):
    """IN-subquery predicate (planned as a left-semi join)."""
    _views(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        """
    )


# --- remaining join variants ------------------------------------------------


@register(
    "ext_join_right",
    """
    SELECT p_partkey, count(l_orderkey) AS n_lineitems
    FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
    GROUP BY p_partkey
    """,
)
def ext_join_right(spark, sf_dir):
    """Right outer join: every part appears, parts never shipped get
    count 0 (count of a NULL join column). Build side is the fact
    table; at scale Spark plans this as the mirrored left join."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_orderkey")
    p = _t(spark, sf_dir, "part").select("p_partkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey, "right")
        .groupBy("p_partkey")
        .agg(F.count("l_orderkey").alias("n_lineitems"))
    )


@register(
    "ext_join_full_outer",
    """
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           COALESCE(a.n_clicks, 0) AS n_clicks,
           COALESCE(b.n_purchases, 0) AS n_purchases,
           (a.user_id IS NOT NULL AND b.user_id IS NOT NULL) AS in_both
    FROM (SELECT user_id, count(*) AS n_clicks FROM events
          WHERE event_type = 'click' GROUP BY user_id) a
    FULL OUTER JOIN
         (SELECT user_id, count(*) AS n_purchases FROM events
          WHERE event_type = 'purchase' GROUP BY user_id) b
      ON a.user_id = b.user_id
    """,
)
def ext_join_full_outer(spark, sf_dir):
    """Full outer join of two aggregates with presence indicators —
    both sides survive, missing counts coalesce to 0."""
    e = _t(spark, sf_dir, "events")
    a = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    b = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    joined = a.alias("a").join(b.alias("b"), F.col("a.user_id") == F.col("b.user_id"), "full")
    return joined.select(
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias("user_id"),
        F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
        F.coalesce(F.col("n_purchases"), F.lit(0)).alias("n_purchases"),
        (F.col("a.user_id").isNotNull() & F.col("b.user_id").isNotNull()).alias("in_both"),
    )


_BANDS = [(i, float(i * 10000), float((i + 1) * 10000)) for i in range(11)]


_BANDS_SQL = ", ".join(f"({b}, {lo}::DOUBLE, {hi}::DOUBLE)" for b, lo, hi in _BANDS)


@register(
    "ext_range_join",
    f"""
    SELECT band, count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS band_revenue
    FROM lineitem JOIN (VALUES {_BANDS_SQL}) bands(band, lo, hi)
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band
    """,
)
def ext_range_join(spark, sf_dir):
    """Band/range join: facts joined to a small interval dimension on a
    BETWEEN-style condition. The dim is explicitly broadcast, so the
    non-equi condition never forces a cartesian shuffle — each fact
    partition scans the 11-row interval list in place (the only
    scale-sane plan for interval joins with a small dim side). Band
    revenue folds as an exact per-row-cents BIGINT sum (the tpch_q19
    class, resurfaced by the full-registry 10x sweep: ~3e10 band sums
    put float partial-sum order error above the 4dp grid)."""
    li = _t(spark, sf_dir, "lineitem").select("l_extendedprice")
    bands = local_frame(spark, _BANDS, "band int, lo double, hi double")
    joined = li.join(
        F.broadcast(bands),
        (F.col("l_extendedprice") >= F.col("lo")) & (F.col("l_extendedprice") < F.col("hi")),
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("double")
            / 100
        ).alias("band_revenue"),
    )


# --- JSON-lines file source -------------------------------------------------


@register(
    "ext_source_jsonl",
    """
    SELECT count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events WHERE event_type = 'purchase'
    """,
)
def ext_source_jsonl(spark, sf_dir):
    """JSON-lines source round trip: write a deterministic events
    projection as JSONL, read it back with spark.read.json under an
    explicit schema (schema inference is a scan you don't pay twice at
    100 TB), and emit digests the oracle recomputes from the parquet
    view — same robustness pattern as the sink checks."""
    with _scratch("jsonl_src_") as path:
        src = (
            _t(spark, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .select("event_id", F.round(F.col("value") * 100).cast("long").alias("cents"))
        )
        src.write.mode("overwrite").json(path)
        back = spark.read.schema("event_id long, cents long").json(path)
        return _materialize(back.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("sum_event_id"),
            F.sum("cents").alias("sum_cents"),
        ))


# --- hypertable-style multi-granularity rollup ------------------------------


@register(
    "ext_time_rollup",
    """
    SELECT CASE WHEN grouping(day_b) = 0 THEN 'day'
                WHEN grouping(week_b) = 0 THEN 'week'
                ELSE 'month' END AS gran,
           CAST(floor(epoch(coalesce(day_b, week_b, month_b))) AS BIGINT) AS bucket_epoch,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM (
      SELECT value,
             date_trunc('day', ts)   AS day_b,
             date_trunc('week', ts)  AS week_b,
             date_trunc('month', ts) AS month_b
      FROM events
    )
    GROUP BY GROUPING SETS ((day_b), (week_b), (month_b))
    """,
)
def ext_time_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate: one scan, three time
    granularities (day/week/month) via GROUPING SETS over precomputed
    buckets — the multi-resolution rollup a telemetry store
    materializes. Single pass + partial aggregation per set; at 100 TB
    this replaces three separate scans with one."""
    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT CASE WHEN grouping(day_b) = 0 THEN 'day'
                    WHEN grouping(week_b) = 0 THEN 'week'
                    ELSE 'month' END AS gran,
               CAST(unix_timestamp(coalesce(day_b, week_b, month_b)) AS BIGINT)
                 AS bucket_epoch,
               count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM (
          SELECT value,
                 date_trunc('day', ts)   AS day_b,
                 date_trunc('week', ts)  AS week_b,
                 date_trunc('month', ts) AS month_b
          FROM events
        )
        GROUP BY GROUPING SETS ((day_b), (week_b), (month_b))
        """
    )


# --- ORC file source --------------------------------------------------------


@register(
    "ext_source_orc",
    """
    SELECT count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events WHERE event_type = 'error'
    """,
)
def ext_source_orc(spark, sf_dir):
    """ORC source round trip (second columnar format beside parquet):
    deterministic events projection written as ORC, read back, digest
    aggregates checked against the parquet view — DuckDB never needs to
    read ORC, only recompute the digests from the logical source."""
    with _scratch("orc_src_") as path:
        src = (
            _t(spark, sf_dir, "events")
            .filter(F.col("event_type") == "error")
            .select("event_id", F.round(F.col("value") * 100).cast("long").alias("cents"))
        )
        src.write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        return _materialize(back.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("sum_event_id"),
            F.sum("cents").alias("sum_cents"),
        ))


# --- higher-order array functions -------------------------------------------


@register(
    "ext_higher_order_funcs",
    """
    SELECT doc_id,
           len(list_filter(ws, x -> x <> '')) AS n_words,
           len(list_filter(ws, x -> length(x) > 4)) AS n_long_words,
           CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS total_chars,
           len(list_filter(ws, x -> regexp_matches(x, '[0-9]'))) > 0 AS has_digit,
           array_to_string(list_transform(list_slice(ws, 1, 3), x -> upper(x)), ' ')
             AS first3_upper
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    """,
)
def ext_higher_order_funcs(spark, sf_dir):
    """Higher-order array functions (transform / filter / exists /
    aggregate / slice): lambda expressions evaluated INSIDE codegen on
    the JVM — the declarative alternative to a Python UDF for per-row
    collection logic, and the idiom the similarity ops build on."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(F.filter(ws, lambda x: x != "")).alias("n_words"),
        F.size(F.filter(ws, lambda x: F.length(x) > 4)).alias("n_long_words"),
        F.aggregate(
            ws, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
        ).alias("total_chars"),
        F.exists(ws, lambda x: x.rlike("[0-9]")).alias("has_digit"),
        F.array_join(
            F.transform(F.slice(ws, 1, 3), lambda x: F.upper(x)), " "
        ).alias("first3_upper"),
    )


# --- remaining subquery shapes ----------------------------------------------


@register(
    "ext_not_in_subquery",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > 300000 AND o_custkey IS NOT NULL)
    ORDER BY c_custkey
    """,
)
def ext_not_in_subquery(spark, sf_dir):
    """NOT IN subquery — planned as a null-aware anti join. The inner
    side is explicitly NULL-filtered: SQL NOT IN returns no rows if the
    subquery yields ANY null (three-valued logic), which is the classic
    silent-empty-result trap; filtering nulls pins the intended
    anti-join semantics in both engines."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > 300000 AND o_custkey IS NOT NULL)
        ORDER BY c_custkey
        """
    )


@register(
    "ext_lateral_join",
    """
    SELECT r_name, n_name, n_customers FROM region,
    LATERAL (
      SELECT n_name, count(c_custkey) AS n_customers
      FROM nation JOIN customer ON c_nationkey = n_nationkey
      WHERE n_regionkey = r_regionkey
      GROUP BY n_name
      ORDER BY n_customers DESC, n_name ASC
      LIMIT 2
    )
    ORDER BY r_name, n_customers DESC, n_name
    """,
)
def ext_lateral_join(spark, sf_dir):
    """LATERAL correlated subquery (top-2 nations per region by
    customer count): Catalyst decorrelates the per-row subquery into a
    join + windowed rank rather than re-executing it per outer row —
    the scale-relevant property of LATERAL support."""
    _views(spark, sf_dir, "region", "nation", "customer")
    return spark.sql(
        """
        SELECT r_name, n_name, n_customers FROM region,
        LATERAL (
          SELECT n_name, count(c_custkey) AS n_customers
          FROM nation JOIN customer ON c_nationkey = n_nationkey
          WHERE n_regionkey = r_regionkey
          GROUP BY n_name
          ORDER BY n_customers DESC, n_name ASC
          LIMIT 2
        )
        ORDER BY r_name, n_customers DESC, n_name
        """
    )


@register(
    "ext_percentile_approx_check",
    """
    SELECT count(*) AS n, true AS p50_close, true AS p95_close FROM lineitem
    """,
)
def ext_percentile_approx_check(spark, sf_dir):
    """Approximate percentile (t-digest-style mergeable sketch — the
    100 TB path next to exact percentile_cont): driver-checkable via an
    accuracy invariant, |approx - exact| within 1% of the exact value
    at accuracy=10000. The approx algorithm is engine-specific (no
    DuckDB twin), but the bound is constant-true by construction when
    the sketch works."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("a50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("a95"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("e50"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("e95"),
    )
    return agg.select(
        "n",
        (F.abs(F.col("a50") - F.col("e50")) <= F.abs(F.col("e50")) * 0.01).alias("p50_close"),
        (F.abs(F.col("a95") - F.col("e95")) <= F.abs(F.col("e95")) * 0.01).alias("p95_close"),
    )


_STRAT_FRACTIONS = {
    "click": 0.1,
    "view": 0.1,
    "error": 0.5,
    "purchase": 1.0,
    "signup": 1.0,
}


_STRAT_SPACE = 16**7


_STRAT_THRS = {k: int(v * _STRAT_SPACE) for k, v in _STRAT_FRACTIONS.items()}


def _strat_oracle_sql() -> str:
    bucket = hex_bucket_sql("md5(CAST(event_id AS VARCHAR))", 7)
    cases = " ".join(
        f"WHEN '{k}' THEN {thr}" for k, thr in sorted(_STRAT_THRS.items())
    )
    return f"""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_sampled
    FROM events
    WHERE {bucket} < (CASE event_type {cases} ELSE 0 END)
    GROUP BY event_type
    """


@register("ext_sample_stratified", _strat_oracle_sql())
def ext_sample_stratified(spark, sf_dir):
    """Stratified sampling: per-stratum Bernoulli fractions — the
    training-data rebalancing idiom (downsample dominant event types,
    keep all rare ones). Re-specced (r7 verdict item 5) from seeded
    sampleBy (engine-specific RNG, rows-only forever) to per-stratum
    HASH thresholds: keep iff md5_bucket(event_id, 7) < frac_k * 16^7
    for the row's stratum k. Same contract as sampleBy, but the draw
    is a pure function of the key — reproducible across runs, engines,
    and cluster sizes (the resume-safe shape a 100 TB rebalance
    needs), so the oracle runs the identical hex arithmetic and the
    check is exact. The threshold rides a broadcast CASE over 5
    literals; no join, no shuffle before the rollup."""
    from ..llm.prep import md5_bucket

    e = _t(spark, sf_dir, "events")
    thr = F.lit(0)
    for k, t in sorted(_STRAT_THRS.items()):
        thr = F.when(F.col("event_type") == k, F.lit(t)).otherwise(thr)
    s = e.filter(md5_bucket(F.col("event_id"), 7) < thr)
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled")
    )


@register(
    "ext_join_hinted",
    """
    SELECT n_name, count(*) AS n_suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def ext_join_hinted(spark, sf_dir):
    """SQL join-strategy hint surface: /*+ BROADCAST(nation) */ pins
    the dim broadcast from SQL text (the knob users reach for when
    statistics mislead the planner). Results are hint-invariant —
    the oracle is the plain join."""
    _views(spark, sf_dir, "supplier", "nation")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(nation) */ n_name, count(*) AS n_suppliers
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


# --- operational write-path ops ---------------------------------------------


@register(
    "ext_compact_small_files",
    """
    SELECT count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           true AS fewer_files
    FROM events
    """,
)
def ext_compact_small_files(spark, sf_dir):
    """Small-file compaction — the operational fix for the classic
    100 TB killer (a streaming sink or over-parallel writer leaving
    thousands of KB-sized files that make every scan metadata-bound).
    Write events as 64 shards, compact to 4 with a coalesce rewrite
    (coalesce, not repartition: no shuffle, just fewer write tasks),
    and verify the data digest survived and the file count dropped."""
    import glob

    with _scratch("compact_") as work:
        src = _t(spark, sf_dir, "events").select("event_id")
        src.repartition(64).write.parquet(f"{work}/small")
        n_small = len(glob.glob(f"{work}/small/part-*.parquet"))
        spark.read.parquet(f"{work}/small").coalesce(4).write.parquet(f"{work}/compact")
        n_compact = len(glob.glob(f"{work}/compact/part-*.parquet"))
        back = spark.read.parquet(f"{work}/compact")
        return _materialize(back.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("sum_event_id"),
            F.lit(n_compact < n_small).alias("fewer_files"),
        ))


@register(
    "ext_dynamic_partition_overwrite",
    """
    SELECT event_type, count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def ext_dynamic_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite (the warehouse backfill semantic):
    rewriting ONE partition replaces only that partition — sibling
    partitions are untouched. The events table is written partitioned
    by event_type; the 'click' partition is then overwritten with the
    same rows in dynamic mode; the oracle's per-type counts hold iff
    no other partition was clobbered (static mode would have wiped
    them)."""
    with _scratch("dpo_") as work:
        path = work + "/t"
        e = _t(spark, sf_dir, "events").select("event_id", "event_type")
        e.write.partitionBy("event_type").parquet(path)
        clicks = e.filter(F.col("event_type") == "click")
        (
            clicks.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("event_type")
            .parquet(path)
        )
        back = spark.read.parquet(path)
        return _materialize(back.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")))


# --- set-op ALL variants + malformed-input handling -------------------------


@register(
    "ext_intersect_all",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT ALL
    SELECT user_id FROM events WHERE event_type = 'view'
    """,
)
def ext_intersect_all(spark, sf_dir):
    """INTERSECT ALL: bag semantics — a user appearing 3x among clicks
    and 2x among views survives twice (min of multiplicities), vs the
    distinct INTERSECT's once."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "view").select("user_id")
    return a.intersectAll(b)


@register(
    "ext_except_all",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    EXCEPT ALL
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def ext_except_all(spark, sf_dir):
    """EXCEPT ALL: bag difference — multiplicities subtract instead of
    the distinct EXCEPT's set removal."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "purchase").select("user_id")
    return a.exceptAll(b)


@register(
    "ext_source_csv_corrupt",
    """
    SELECT * FROM (VALUES
      (CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(6 AS BIGINT))
    ) t(n_good, n_corrupt, n_rows)
    """,
)
def ext_source_csv_corrupt(spark, sf_dir):
    """Malformed-input handling (PERMISSIVE mode): rows that fail the
    schema land in columnNameOfCorruptRecord instead of killing the
    job — the property that matters when 100 TB of vendor CSV has a
    bad row every million. Payload: 3 good rows, 2 type-corrupt, 1
    short row; ALL THREE malformed rows are captured (Spark 4 treats
    short rows as corrupt too), and no row is silently dropped
    (n_rows = 6)."""
    with _scratch("csv_corrupt_") as work:
        path = work + "/data.csv"
        with open(path, "w") as f:
            f.write("id,qty,price\n")
            f.write("1,10,1.5\n")
            f.write("2,20,2.5\n")
            f.write("3,30,3.5\n")
            f.write("4,notanumber,4.5\n")   # type-corrupt -> _corrupt_record
            f.write("5,50,alsobad\n")        # type-corrupt -> _corrupt_record
            f.write("6,60\n")                # short row -> corrupt in Spark 4 PERMISSIVE (not null-padded)
        df = (
            spark.read.option("header", "true")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_bad")
            .schema("id long, qty long, price double, _bad string")
            .csv(path)
        )
        # Spark rejects a raw-CSV query that references only the
        # corrupt-record column; the cache is released once collected
        df = df.cache()
        out = _materialize(df.agg(
            F.count(F.when(F.col("_bad").isNull(), 1)).alias("n_good"),
            F.count(F.col("_bad")).alias("n_corrupt"),
            F.count(F.lit(1)).alias("n_rows"),
        ))
        df.unpersist()
        return out


@register(
    "ext_collect_list_ordered",
    """
    SELECT user_id,
           array_to_string(list(event_type ORDER BY ts, event_id), '>') AS type_path,
           count(*) AS n_events,
           (list(event_type ORDER BY ts, event_id))[1] AS first_type,
           (list(event_type ORDER BY ts, event_id))[-1] AS last_type
    FROM events
    WHERE user_id < 20
    GROUP BY user_id
    """,
)
def ext_collect_list_ordered(spark, sf_dir):
    """Deterministic ordered array aggregation: collect_list gives NO
    ordering guarantee (it concatenates partition-arrival order), so
    the portable idiom is collect structs carrying the sort key, then
    sort_array + transform to project the payload — equal to SQL's
    list(x ORDER BY ...) in any engine. The per-user event-type PATH is
    the sessionized-journey shape downstream sequence models consume.
    Output projects the ordered array to scalar columns (joined path,
    ends, length) — the driver's canonicalizer cannot hash raw array
    cells (round-3 lesson from llm_embedding_truncate). The sort key
    is exact epoch-MICROS (unix_timestamp's whole seconds would let
    sub-second orderings diverge from the oracle's full-resolution
    ORDER BY ts)."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    seq = F.transform(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
                    F.col("event_id").alias("eid"),
                    F.col("event_type").alias("t"),
                )
            )
        ),
        lambda s: s["t"],
    )
    return e.groupBy("user_id").agg(
        F.array_join(seq, ">").alias("type_path"),
        F.count(F.lit(1)).alias("n_events"),
        F.element_at(seq, 1).alias("first_type"),
        F.element_at(seq, -1).alias("last_type"),
    )


# user ids 2-5: present at every SF (sf0.001 holds ids 0-14), and a
# low corner of the Z-order, so the manifest skips 3 of the 8 files at
# sf0.001 and 5 at sf0.1 (tests/test_layout.py)
_MANIFEST_USERS = (2, 5)


@register(
    "ext_manifest_pruned_scan",
    f"""
    SELECT event_id, user_id, round(value, 4) AS value
    FROM events WHERE user_id BETWEEN {_MANIFEST_USERS[0]} AND {_MANIFEST_USERS[1]}
    """,
)
def ext_manifest_pruned_scan(spark, sf_dir):
    """Metadata-pruned scan end to end: events written Z-ordered on
    (user_id, value), a file-level min/max manifest built over it, and
    the range read resolved through the manifest (only overlapping
    files opened — operators/manifest.py). The oracle is the plain
    relational filter: pruning must be invisible in the answer."""
    from ..operators.layout import zorder_write
    from ..operators.manifest import build_manifest, pruned_read

    with _scratch("manifest_scan_") as work:
        e = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
        zorder_write(e, "user_id", "value", f"{work}/t", num_files=8)
        build_manifest(spark, f"{work}/t", ["user_id"], f"{work}/m")
        out = pruned_read(spark, f"{work}/t", f"{work}/m", "user_id", *_MANIFEST_USERS)
        return _materialize(
            out.select("event_id", "user_id", F.round("value", 4).alias("value"))
        )


@register(
    "ext_recursive_cte",
    """
    WITH RECURSIVE months(m) AS (
      SELECT DATE '1995-01-01'
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
      WHERE m < DATE '2001-08-01'
    )
    SELECT CAST(floor(epoch(m)) AS BIGINT) AS month_epoch,
           count(o_orderkey) AS n_orders
    FROM months LEFT JOIN orders
      ON date_trunc('month', o_orderdate) = CAST(m AS TIMESTAMP)
    GROUP BY m
    """,
)
def ext_recursive_cte(spark, sf_dir):
    """Recursive CTE (Spark 4's WITH RECURSIVE): the calendar-spine
    idiom — generate every month in the data range recursively, left
    join facts so empty months survive with count 0. The recursion is
    driver-bounded (one row per month), the join and aggregate stay
    distributed."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
          WHERE m < DATE '2001-08-01'
        )
        SELECT CAST(unix_timestamp(CAST(m AS TIMESTAMP)) AS BIGINT) AS month_epoch,
               count(o_orderkey) AS n_orders
        FROM months LEFT JOIN orders
          ON date_trunc('month', o_orderdate) = CAST(m AS TIMESTAMP)
        GROUP BY m
        """
    )


@register(
    "ext_variant_json",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k
    FROM events GROUP BY event_type
    """,
)
def ext_variant_json(spark, sf_dir):
    """VARIANT semi-structured type (Spark 4): parse_json once into a
    binary-encoded variant, then typed variant_get extraction — the
    shredding-friendly path for JSON at scale (vs re-parsing strings
    per access, which ext_json_extract's get_json_object does)."""
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'long')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
    )


@register(
    "ext_sql_udf",
    """
    SELECT l_returnflag,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                AS DOUBLE) / 10000 AS net_revenue
    FROM lineitem GROUP BY l_returnflag
    """,
)
def ext_sql_udf(spark, sf_dir):
    """SQL-body scalar UDF (CREATE FUNCTION ... RETURN expr, Spark 4):
    the function inlines into the plan as a plain expression — full
    codegen, no Python boundary — which is why the oracle is the
    inlined arithmetic. The UDF returns exact e4 integer units
    (cents x discount-cents) so the per-group revenue folds as an
    exact DECIMAL(38,0) sum (oracle_audit: the old round(sum(double),
    4) had ~1e11 group sums at 10x — the tpch_q19 float-grid class)."""
    _views(spark, sf_dir, "lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_price_e4(p DOUBLE, d DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor(p * 100 + 0.5) AS BIGINT) "
        "* (100 - CAST(floor(d * 100 + 0.5) AS BIGINT))"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(sum(CAST(net_price_e4(l_extendedprice, l_discount)
                             AS DECIMAL(38,0))) AS DOUBLE) / 10000 AS net_revenue
        FROM lineitem GROUP BY l_returnflag
        """
    )


@register(
    "ext_approx_top_k",
    """
    SELECT word AS item, count(*) AS cnt FROM (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
      FROM documents
    ) GROUP BY word ORDER BY cnt DESC, item ASC LIMIT 5
    """,
)
def ext_approx_top_k(spark, sf_dir):
    """Heavy-hitters sketch (Spark 4 approx_top_k): mergeable
    frequency sketch — the cardinality-bounded path for 'top terms
    over 100 TB of text' where an exact word count's shuffle is the
    bottleneck. At this vocabulary size (31 synthetic words) the
    sketch is exact, so the ORACLE is the exact top-5 — on real heavy-
    tailed data the counts are approximate and the check would be an
    invariant instead."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).alias("w")
    )
    top = words.agg(F.expr("approx_top_k(w, 5)").alias("tk")).select(
        F.explode("tk").alias("e")
    )
    return top.select(
        F.col("e.item").alias("item"), F.col("e.count").alias("cnt")
    ).orderBy(F.col("cnt").desc(), F.col("item").asc())


@register(
    "ext_window_time_range_frame",
    """
    SELECT event_id, user_id,
           count(*) OVER w AS n_last_hour,
           CAST(sum(cents) OVER w AS BIGINT) AS cents_last_hour
    FROM (SELECT event_id, user_id, ts,
                 CAST(round(value * 100) AS BIGINT) AS cents FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def ext_window_time_range_frame(spark, sf_dir):
    """Time-interval RANGE frame (rolling 1-hour totals per user) —
    the event-time sliding aggregate as a window function, distinct
    from the numeric-offset range frame (ext_window_range_frame) and
    from bucketed sliding windows (the frame is anchored per ROW, not
    per bucket). Exact integer cents keep the frame sums
    engine-identical; ties in ts share a frame by RANGE semantics, so
    no tiebreak is needed for determinism."""
    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT event_id, user_id,
               count(*) OVER w AS n_last_hour,
               CAST(sum(cents) OVER w AS BIGINT) AS cents_last_hour
        FROM (SELECT event_id, user_id, ts,
                     CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """
    )


@register(
    "ext_merge_upsert",
    """
    WITH target AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 1000
    ),
    source AS (
      SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice
      FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500
    ),
    merged AS (
      SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
             coalesce(s.o_totalprice, t.o_totalprice) AS o_totalprice
      FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
    )
    SELECT count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
           round(sum(o_totalprice), 2) AS sum_total
    FROM merged
    """,
)
def ext_merge_upsert(spark, sf_dir):
    """MERGE INTO / upsert semantics on plain parquet (no Delta in this
    container): WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT,
    expressed as a full-outer join with source-wins coalesce and an
    atomic table rewrite. The digest (count + key/price sums) is
    recomputed by the oracle from the logical inputs, so the check
    covers both the merge semantics and the write-read round trip.
    At scale the join shuffles on the merge key — the same plan Delta's
    MERGE produces for the matched partition set."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    target = o.filter(F.col("o_orderkey") < 1000)
    source = o.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500)).select(
        "o_orderkey", (F.col("o_totalprice") + 10.0).alias("o_totalprice")
    )
    with _scratch("merge_") as work:
        path = work + "/t"
        target.write.mode("overwrite").parquet(path)

        tgt = spark.read.parquet(path).alias("t")
        src = source.alias("s")
        merged = tgt.join(
            src, F.col("t.o_orderkey") == F.col("s.o_orderkey"), "full_outer"
        ).select(
            F.coalesce(F.col("s.o_orderkey"), F.col("t.o_orderkey")).alias("o_orderkey"),
            F.coalesce(F.col("s.o_totalprice"), F.col("t.o_totalprice")).alias("o_totalprice"),
        )
        out_path = work + "/out"
        merged.write.mode("overwrite").parquet(out_path)
        back = spark.read.parquet(out_path)
        return _materialize(back.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("sum_keys"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        ))


@register(
    "ext_funnel_conversion",
    """
    WITH ev AS (
      -- truncate to microseconds: Spark reads the nanos column as
      -- micros, so sub-microsecond components (none in current
      -- testdata, but possible in a future SF dir) must not decide
      -- strict comparisons only on the DuckDB side
      SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts FROM events
    ),
    v AS (
      SELECT user_id, min(ts) AS t0 FROM ev WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t1
      FROM ev e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t0
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM ev e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t1
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_view_click_purchase
    """,
)
def ext_funnel_conversion(spark, sf_dir):
    """Ordered funnel analysis (view -> click -> purchase): each stage
    counts users whose earliest qualifying event strictly follows their
    previous stage's earliest event. Three filtered aggregates chained
    by equi-joins on user_id — every stage partial-aggregable, no
    window over the full event stream, no timestamp in the output (the
    nanos column stays internal)."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t0"))
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


@register(
    "ext_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week FROM events
    )
    SELECT CAST(epoch(cohort_week) AS BIGINT) AS cohort_epoch,
           CAST((epoch(activity_week) - epoch(cohort_week)) // 604800 AS BIGINT) AS week_offset,
           count(*) AS n_users
    FROM activity JOIN firsts USING (user_id)
    GROUP BY 1, 2
    """,
)
def ext_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity week,
    counted per week offset they return in. Two aggregates + one
    equi-join on user_id; weeks are ISO date_trunc (cross-engine
    parity) and surface as epoch BIGINT (engine-portable). The classic
    product-analytics rollup, all partial-aggregable."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .select(
            F.unix_timestamp("cohort_week").alias("cohort_epoch"),
            ((F.unix_timestamp("activity_week") - F.unix_timestamp("cohort_week")) / 604800)
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_epoch", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "ext_gap_islands",
    """
    WITH ordered AS (
      -- date_trunc microseconds: align the ordering key with Spark's
      -- nanos->micros read (no-op on current testdata)
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY date_trunc('microseconds', ts), event_id) AS rn_all,
             row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY date_trunc('microseconds', ts), event_id) AS rn_type
      FROM events
    ),
    islands AS (
      SELECT user_id, event_type, rn_all - rn_type AS grp, count(*) AS run_len
      FROM ordered GROUP BY user_id, event_type, rn_all - rn_type
    )
    SELECT event_type, count(*) AS n_islands,
           CAST(max(run_len) AS BIGINT) AS longest_run,
           round(avg(run_len), 4) AS avg_run_len
    FROM islands GROUP BY event_type
    """,
)
def ext_gap_islands(spark, sf_dir):
    """Gaps-and-islands: collapse each user's consecutive runs of the
    same event_type into islands via the row_number-difference trick
    (two user-partitioned windows, zero joins), then summarize run
    statistics per type. The canonical sessionless sequence-analysis
    shape; windows partition by user so the plan parallelizes across
    the key space. Deterministic (ts, event_id) tiebreak."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    islands = (
        e.select(
            "user_id",
            "event_type",
            (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return islands.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("run_len").alias("longest_run"),
        F.round(F.avg("run_len"), 4).alias("avg_run_len"),
    )


@register(
    "ext_scd2_history",
    """
    WITH ordered AS (
      SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts,
             row_number() OVER (PARTITION BY user_id
               ORDER BY date_trunc('microseconds', ts), event_id) AS rn_all,
             row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY date_trunc('microseconds', ts), event_id) AS rn_type
      FROM events WHERE user_id < 10
    ),
    runs AS (
      SELECT user_id, event_type, min(ts) AS valid_from
      FROM ordered GROUP BY user_id, event_type, rn_all - rn_type
    ),
    hist AS (
      -- event_type tiebreak: two different-type runs can share a
      -- valid_from timestamp (same-microsecond events), and lead()
      -- order must be deterministic in both engines
      SELECT user_id, event_type, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id
               ORDER BY valid_from, event_type) AS valid_to
      FROM runs
    )
    SELECT user_id, event_type,
           CAST(floor(epoch(valid_from)) AS BIGINT) AS valid_from_epoch,
           CAST(floor(epoch(valid_to)) AS BIGINT) AS valid_to_epoch
    FROM hist
    """,
)
def ext_scd2_history(spark, sf_dir):
    """Slowly-changing-dimension type-2 build: collapse each user's
    consecutive same-type runs (islands), then chain validity windows
    with lead() — open-ended current rows keep NULL valid_to. The
    standard CDC-to-warehouse materialization, expressed as two
    user-partitioned windows + one aggregate; timestamps surface as
    epoch BIGINT (engine-portable). 10-user slice bounds the output."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10).select(
        "user_id", "event_type", "ts", "event_id"
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = (
        e.select(
            "user_id",
            "event_type",
            "ts",
            (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(F.min("ts").alias("valid_from"))
    )
    w_hist = Window.partitionBy("user_id").orderBy("valid_from", "event_type")
    return runs.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w_hist).alias("valid_to"),
    ).select(
        "user_id",
        "event_type",
        F.unix_timestamp("valid_from").alias("valid_from_epoch"),
        F.unix_timestamp("valid_to").alias("valid_to_epoch"),
    )


@register(
    "ext_salted_join",
    """
    SELECT event_type, count(*) AS n_rows,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT) * wt10) AS BIGINT)
                 / 1000.0, 4) AS weighted_value
    FROM events JOIN (
      SELECT 'click' AS event_type, 10 AS wt10 UNION ALL
      SELECT 'view', 5 UNION ALL
      SELECT 'purchase', 30 UNION ALL
      SELECT 'signup', 20 UNION ALL
      SELECT 'error', 0
    ) w USING (event_type)
    GROUP BY event_type
    """,
)
def ext_salted_join(spark, sf_dir):
    """Skew-safe salted join: event_type has 5 values over the whole
    fact table — the worst-case hot-key join shape. The dim (weights)
    is replicated per salt bucket and each fact row carries a
    deterministic md5-derived salt (operators/bucketing.salted_join),
    spreading every hot key over 8 reducers. Oracle: the plain join —
    the salted result must be EXACTLY equal (sums are exact integer
    deci-cents, so the salt's different addition order cannot move a
    float rounding boundary)."""
    from ..operators.bucketing import salted_join

    e = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    weights = local_frame(
        spark,
        [("click", 10), ("view", 5), ("purchase", 30), ("signup", 20), ("error", 0)],
        "event_type string, wt10 long",
    )
    joined = salted_join(e, weights, "event_type", fact_salt_col="event_id")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("cents") * F.col("wt10")) / 1000.0, 4).alias("weighted_value"),
    )


# --- incremental rollup maintenance ------------------------------------------


@register(
    "ext_incremental_rollup",
    """
    SELECT CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_epoch,
           o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_total
    FROM orders
    GROUP BY 1, 2
    """,
)
def ext_incremental_rollup(spark, sf_dir):
    """Materialized-rollup maintenance parity: the monthly aggregate is
    computed as base partials (orderdate < 1997) MERGED with delta
    partials (the rest) — sum-of-sums and sum-of-counts — and must
    equal the oracle's single-pass aggregate. This is the pattern that
    turns a 100 TB re-aggregation into an append-only delta merge:
    every measure kept is re-aggregable (count, sum; avg is derived at
    read time as sum/count, never stored). Both partial aggregations
    and the merge are partial-aggregable groupBys on the same key, so
    AQE coalesces the tiny merge shuffle.

    Money math rides integer units (r11): the 100x ledger sweep caught
    round(sum(o_totalprice), 4) one 4dp step apart across engines —
    at ~1.5e10 dollars per (month, status) group the 1e-4 grid is only
    ~50 double-ULPs wide, so even ~60k order-divergent terms straddle
    it (the channel is magnitude-to-grid ratio, not just term count).
    Cents are exact BIGINTs, partials and the merge both accumulate
    DECIMAL(38,0), and the one display division of a <2^53 integer by
    100.0 is the same IEEE op on both engines."""
    o = _t(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01 00:00:00").cast("timestamp")
    month = F.unix_timestamp(F.date_trunc("month", F.col("o_orderdate"))).alias(
        "month_epoch"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def partial(df):
        return df.groupBy(month, "o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents.cast("decimal(38,0)")).alias("sum_cents"),
        )

    base = partial(o.filter(F.col("o_orderdate") < cut))
    delta = partial(o.filter(F.col("o_orderdate") >= cut))
    return (
        base.unionByName(delta)
        .groupBy("month_epoch", "o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            (F.sum("sum_cents").cast("double") / F.lit(100.0)).alias("sum_total"),
        )
    )


# --- one-pass multi-column profiling -----------------------------------------

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "ext_data_profile",
    " UNION ALL ".join(
        f"""
    SELECT '{c}' AS col_name,
           count(*) - count({c}) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           min({c}) AS min_v, max({c}) AS max_v,
           round(avg({c}), 4) AS avg_r4
    FROM lineitem"""
        for c in _PROFILE_COLS
    ),
)
def ext_data_profile(spark, sf_dir):
    """Column profiling (null count, exact NDV, min/max, mean) for four
    measure columns in ONE aggregation over ONE scan: Spark plans the
    multi-column distinct aggregates with a single Expand (one shuffle,
    4x expanded rows) instead of four separate scans — the oracle IS
    the four-scan UNION ALL, proving the fused plan equivalent. The
    wide single agg row is then unpivoted to the long profile shape
    with stack() (driver-free, no collect)."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__ndv"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            F.round(F.avg(c), 4).alias(f"{c}__avg"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__ndv, {c}__min, {c}__max, {c}__avg"
        for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) "
            "AS (col_name, n_nulls, n_distinct, min_v, max_v, avg_r4)"
        )
    )


# --- Spark 4 Python Data Source API ------------------------------------------


@register(
    "ext_python_datasource",
    """
    WITH src AS (
      SELECT i AS id,
             ((strpos('0123456789abcdef', substr(md5(CAST(i AS VARCHAR)), 1, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substr(md5(CAST(i AS VARCHAR)), 2, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(md5(CAST(i AS VARCHAR)), 3, 1)) - 1)) AS bucket
      FROM range(0, 5000) t(i)
    )
    SELECT CAST(bucket // 256 AS INTEGER) AS bucket_hi,
           count(*) AS n,
           round(sum(bucket / 4096.0), 4) AS sum_weight
    FROM src GROUP BY 1
    """,
)
def ext_python_datasource(spark, sf_dir):
    """Spark 4 Python Data Source API: a custom partitioned source
    (sources/pydatasource.SyntheticEventsDataSource) registered via
    spark.dataSource.register and read through the standard
    spark.read.format(...).load() path, then aggregated. Rows are a
    pure md5 function of the row index, so the DuckDB range() oracle
    reproduces the full source exactly (partition planning and the
    per-task Arrow iterator are the real surface under test). The
    8-way partitions() split means every executor generates its slice
    independently — the connector template for systems Spark lacks a
    reader for."""
    from ..sources.pydatasource import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n", "5000")
        .option("partitions", "8")
        .load()
    )
    return (
        df.groupBy(F.expr("CAST(bucket div 256 AS INT)").alias("bucket_hi"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("bucket") / 4096.0), 4).alias("sum_weight"),
        )
    )


# --- telemetry time-series toolkit -------------------------------------------


@register(
    "ext_gap_fill_ffill",
    """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h, round(avg(value), 4) AS v
      FROM events WHERE user_id <= 5 GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    joined AS (
      SELECT g.user_id, g.h, hourly.v,
             (hourly.v IS NULL) AS is_gap
      FROM grid g LEFT JOIN hourly ON hourly.user_id = g.user_id AND hourly.h = g.h
    )
    SELECT user_id, CAST(floor(epoch(h)) AS BIGINT) AS hour_epoch,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
           is_gap
    FROM joined
    """,
)
def ext_gap_fill_ffill(spark, sf_dir):
    """Telemetry gap-fill: densify each machine's reading stream onto
    an hourly grid (sequence + explode between per-key min/max) and
    forward-fill missing hours with the last observation
    (last(ignorenulls) over an unbounded-preceding frame) — the
    resample/ffill idiom of the reference's telemetry domain, as one
    declarative plan. Shuffle profile: one groupBy and one window,
    both keyed by user_id (same exchange, reused); the grid explode is
    per-key and never materializes a global calendar. The hourly
    average is rounded BEFORE filling so propagated values are
    bit-identical to their source row on both engines."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") <= 5)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.round(F.avg("value"), 4).alias("v"))
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    joined = grid.join(hourly, ["user_id", "h"], "left").select(
        "user_id", "h", "v", F.col("v").isNull().alias("is_gap")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.unix_timestamp("h").alias("hour_epoch"),
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        "is_gap",
    )


@register(
    "ext_rolling_median",
    """
    SELECT event_id, user_id,
           round(quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 8 PRECEDING AND CURRENT ROW), 4) AS med9
    FROM events WHERE user_id <= 3
    """,
)
def ext_rolling_median(spark, sf_dir):
    """Rolling exact median over a trailing 9-reading frame per machine
    (the robust-smoothing twin of a rolling mean — outlier readings
    don't drag it). Spark's exact percentile() is a true window
    aggregate here, ordered with an event_id tiebreak so the frame
    contents are engine-identical; linear interpolation semantics
    match DuckDB's quantile_cont. One shuffle on the machine key."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") <= 3)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-8, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias("med9"),
    )


@register(
    "ext_histogram",
    """
    SELECT CAST(CAST(round(value * 100) AS BIGINT) // 2500 AS INT) AS bucket,
           count(*) AS n, round(sum(value), 4) AS sum_v
    FROM events GROUP BY 1
    """,
)
def ext_histogram(spark, sf_dir):
    """Equi-width histogram (25.0-wide bins) over the reading value —
    binned on integer CENTS (round(value*100) then integer-divide), so
    bucket assignment is exact on both engines: a float width_bucket
    boundary (which DuckDB also lacks) can flip on the 1-ulp
    difference between v/25 and v*0.04 exactly at the decimal grid
    points the data lands on. Embarrassingly parallel partial
    aggregation; bucket count is range-bounded, not row-bounded."""
    e = _t(spark, sf_dir, "events")
    bucket = (
        F.expr("CAST(round(value * 100) AS BIGINT) div 2500").cast("int").alias("bucket")
    )
    return e.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_v")
    )


# --- native SQL UNPIVOT surface -------------------------------------------------


@register(
    "ext_sql_unpivot_native",
    """
    SELECT l_orderkey, l_linenumber, metric, v
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
          FROM lineitem WHERE l_orderkey < 200)
    UNPIVOT (v FOR metric IN (l_quantity, l_discount, l_tax))
    """,
)
def ext_sql_unpivot_native(spark, sf_dir):
    """Native SQL UNPIVOT syntax (Spark 4 + DuckDB shared surface; the
    DataFrame twin ext_unpivot uses stack()). Same physical plan — an
    Expand over the projected columns, no shuffle, output 3x the
    filtered slice."""

    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, metric, v
        FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
              FROM lineitem WHERE l_orderkey < 200)
        UNPIVOT (v FOR metric IN (l_quantity, l_discount, l_tax))
        """
    )


# --- windowed distinct count (dense_rank bridge) -------------------------------


@register(
    "ext_window_distinct_count",
    """
    SELECT event_id, user_id, event_type,
           count(DISTINCT event_type) OVER (PARTITION BY user_id)
             AS n_types_for_user
    FROM events WHERE user_id < 20 AND event_type IS NOT NULL
    """,
)
def ext_window_distinct_count(spark, sf_dir):
    """Distinct count as a window value on every row: Spark disallows
    DISTINCT aggregates over windows, so the idiom is the dense_rank
    bridge — max(dense_rank ORDER BY key) over the partition equals
    the partition's distinct key count. Two windows over ONE
    user_id-keyed sort order (single exchange, single sort); the
    DuckDB oracle uses the native count(DISTINCT ...) OVER form,
    proving the bridge exact. Both sides filter NULL keys up front:
    dense_rank ranks NULLs but count(DISTINCT) ignores them, so the
    bridge is only exact over non-null keys."""
    from pyspark.sql.window import Window

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .filter(F.col("event_type").isNotNull())
    )
    w_rank = Window.partitionBy("user_id").orderBy("event_type")
    w_all = Window.partitionBy("user_id")
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.max(F.dense_rank().over(w_rank)).over(w_all).alias("n_types_for_user"),
    )


# --- GROUP BY ALL surface -------------------------------------------------------


@register(
    "ext_group_by_all",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem GROUP BY ALL
    """,
)
def ext_group_by_all(spark, sf_dir):
    """GROUP BY ALL (Spark 4 + DuckDB shared SQL surface): every
    non-aggregate select item becomes a grouping key — the
    keystroke-saving form analysts actually write. Registered through
    spark.sql to exercise the SQL-text path end-to-end; the plan is
    the identical partial-aggregable hash aggregate."""

    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 4) AS sum_qty
        FROM lineitem GROUP BY ALL
        """
    )


# --- point-in-time SCD2 join ---------------------------------------------------


@register(
    "ext_scd2_point_in_time_join",
    """
    WITH ordered AS (
      SELECT o_custkey, o_orderstatus, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS rn_all,
             row_number() OVER (PARTITION BY o_custkey, o_orderstatus
               ORDER BY o_orderdate, o_orderkey) AS rn_type
      FROM orders
    ),
    runs AS (
      SELECT o_custkey, o_orderstatus, min(o_orderdate) AS valid_from
      FROM ordered GROUP BY o_custkey, o_orderstatus, rn_all - rn_type
    ),
    hist AS (
      SELECT o_custkey, o_orderstatus, valid_from,
             lead(valid_from) OVER (PARTITION BY o_custkey
               ORDER BY valid_from, o_orderstatus) AS valid_to
      FROM runs
    ),
    fact AS (
      SELECT o_custkey AS custkey, l_shipdate AS ts, l_quantity
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT coalesce(h.o_orderstatus, 'none') AS status_at_ship,
           count(*) AS n, round(sum(f.l_quantity), 4) AS qty
    FROM fact f LEFT JOIN hist h
      ON h.o_custkey = f.custkey
     AND f.ts >= h.valid_from
     AND (h.valid_to IS NULL OR f.ts < h.valid_to)
    GROUP BY 1
    """,
)
def ext_scd2_point_in_time_join(spark, sf_dir):
    """Point-in-time (temporal validity) join: each shipment is
    enriched with the customer's order-status VERSION valid at ship
    time — the canonical warehouse lookup against an SCD2 dimension
    (ext_scd2_history builds the version table; this entry joins
    through it). Join shape: equi-key on custkey with half-open
    [valid_from, valid_to) range predicates; the version dimension is
    customer-bounded (a few rows per key), so it broadcasts and the
    fact table never shuffles — at 100 TB the alternative (sort-merge
    on custkey) is one shuffle, still never a range cross-product."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w_all = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_type = Window.partitionBy("o_custkey", "o_orderstatus").orderBy(
        "o_orderdate", "o_orderkey"
    )
    runs = (
        o.select(
            "o_custkey",
            "o_orderstatus",
            "o_orderdate",
            (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
        )
        .groupBy("o_custkey", "o_orderstatus", "grp")
        .agg(F.min("o_orderdate").alias("valid_from"))
    )
    w_hist = Window.partitionBy("o_custkey").orderBy("valid_from", "o_orderstatus")
    hist = runs.select(
        "o_custkey",
        "o_orderstatus",
        "valid_from",
        F.lead("valid_from").over(w_hist).alias("valid_to"),
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate", "l_quantity")
    fact = li.join(
        o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey")
    ).select(F.col("o_custkey").alias("custkey"), F.col("l_shipdate").alias("ts"), "l_quantity")
    joined = fact.join(
        F.broadcast(hist),
        (hist.o_custkey == fact.custkey)
        & (fact.ts >= hist.valid_from)
        & (hist.valid_to.isNull() | (fact.ts < hist.valid_to)),
        "left",
    )
    return joined.groupBy(
        F.coalesce("o_orderstatus", F.lit("none")).alias("status_at_ship")
    ).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 4).alias("qty")
    )


# --- ANSI-safe arithmetic ------------------------------------------------------


@register(
    "ext_try_arithmetic",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / NULLIF(l_quantity - 30.0, 0.0) AS per_unit_off30,
           TRY_CAST(l_returnflag AS DOUBLE) AS flag_as_num
    FROM lineitem WHERE l_orderkey < 500
    """,
)
def ext_try_arithmetic(spark, sf_dir):
    """ANSI-mode-safe arithmetic surface (Spark 4 runs ANSI on by
    default, where bare division by zero and bad casts THROW):
    try_divide yields NULL on the zero denominator and try_cast NULL
    on the non-numeric string — row-level fault tolerance without
    disabling ANSI globally, the property a 100 TB batch job needs so
    one dirty row cannot kill a 6-hour stage. Oracle: NULLIF-guarded
    division and TRY_CAST (DuckDB's equivalent semantics)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - 30.0).alias(
            "per_unit_off30"
        ),
        F.expr("try_cast(l_returnflag AS DOUBLE)").alias("flag_as_num"),
    )


# --- fuzzy string matching ----------------------------------------------------


@register(
    "ext_fuzzy_levenshtein",
    """
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           levenshtein(a.src, b.src) AS dist
    FROM (SELECT DISTINCT lang, source AS src FROM documents) a
    JOIN (SELECT DISTINCT lang, source AS src FROM documents) b
      ON a.lang < b.lang AND levenshtein(a.src, b.src) <= 1
    """,
)
def ext_fuzzy_levenshtein(spark, sf_dir):
    """Fuzzy matching on edit distance: near-identical source labels
    across language slices (levenshtein <= 1) — the record-linkage
    primitive for dirty dimension data. The theta-join runs on the
    DISTINCT (lang, source) projection, so the pair space is
    dimension-bounded (|langs| x |sources|), never row-bounded: the
    pattern at 100 TB is dedupe-the-dim-first, then fuzzy-join the
    tiny distinct sets (broadcast both sides), never edit-distance
    over fact rows."""
    d = _t(spark, sf_dir, "documents")
    dims = d.select("lang", F.col("source").alias("src")).distinct()
    a = dims.alias("a")
    b = dims.alias("b")
    dist = F.levenshtein(F.col("a.src"), F.col("b.src"))
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.lang") < F.col("b.lang")) & (dist <= 1),
        )
        .select(
            F.col("a.lang").alias("lang_a"),
            F.col("b.lang").alias("lang_b"),
            dist.alias("dist"),
        )
    )


# --- deterministic stratified sampling ---------------------------------------

# per-stratum keep-fractions expressed as md5-bucket thresholds out of
# 4096 (3 hex digits): the deterministic twin of the RNG fractions in
# ext_sample_stratified {click/view: 0.1, error: 0.5, purchase/signup: 1.0}
_STRATA_THRESHOLDS = {"click": 410, "view": 410, "error": 2048, "purchase": 4096, "signup": 4096}


@register(
    "ext_sample_stratified_exact",
    """
    WITH b AS (
      SELECT event_id, event_type,
             ((strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 2, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 3, 1)) - 1)) AS bucket
      FROM events
    )
    SELECT event_id, event_type FROM b
    WHERE bucket < CASE event_type
        WHEN 'click' THEN 410 WHEN 'view' THEN 410 WHEN 'error' THEN 2048
        WHEN 'purchase' THEN 4096 WHEN 'signup' THEN 4096 ELSE 0 END
    """,
)
def ext_sample_stratified_exact(spark, sf_dir):
    """Deterministic stratified sampling: per-stratum keep decision is
    a pure function of the row id (first 3 md5 hex digits < the
    stratum's threshold/4096), so the sample is reproducible across
    engines, runs, and retries — the property RNG sampleBy cannot give
    and exactly what a 100 TB training-data pipeline needs for
    auditable rebalancing. Embarrassingly parallel: no shuffle at all,
    the predicate evaluates per-row at the scan."""
    e = _t(spark, sf_dir, "events")
    bucket = md5_bucket(F.col("event_id"), n_digits=3)
    threshold = F.create_map(
        *[F.lit(x) for kv in _STRATA_THRESHOLDS.items() for x in kv]
    )[F.col("event_type")]
    return e.filter(bucket < F.coalesce(threshold, F.lit(0))).select(
        "event_id", "event_type"
    )


# --- dynamic-gap session windows ----------------------------------------------


@register(
    "ext_session_dynamic_gap",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             CASE WHEN event_type = 'click' THEN 1800000000
                  ELSE 3600000000 END AS gap
      FROM events
    ),
    o AS (
      SELECT user_id, event_id, t, gap,
             max(t + gap) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS prev_end
      FROM e
    ),
    m AS (
      SELECT user_id, event_id, t, gap,
             CASE WHEN prev_end IS NULL OR t >= prev_end THEN 1 ELSE 0 END
               AS is_start
      FROM o
    ),
    s AS (
      SELECT user_id, t, gap,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY t, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           CAST(min(t) // 1000000 AS BIGINT) AS sess_start,
           CAST(max(t + gap) // 1000000 AS BIGINT) AS sess_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def ext_session_dynamic_gap(spark, sf_dir):
    """Native session_window with a DYNAMIC per-event gap (30 min for
    clicks, 60 min otherwise) — the idle-timeout-depends-on-activity
    sessionization streaming engines advertise. This is NOT the
    lag-based gaps-and-islands of ext_session_windows: with variable
    gaps, sessions merge on the RUNNING MAX of window ends (interval
    union), which the oracle reproduces with an unbounded-preceding
    max in exact epoch-microseconds. One user_id-keyed exchange +
    sort on either engine; session starts/ends projected as floored
    epoch seconds (unix_timestamp semantics)."""
    e = _t(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "click", F.lit("30 minutes")).otherwise(
        F.lit("60 minutes")
    )
    return (
        e.groupBy("user_id", F.session_window(F.col("ts"), gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).cast("long").alias("sess_start"),
            F.unix_timestamp(F.col("w.end")).cast("long").alias("sess_end"),
            "n_events",
        )
    )


# --- SQL table-valued functions ------------------------------------------------


@register(
    "ext_sql_tvf",
    """
    SELECT i AS n, n2, CAST(i % 7 AS BIGINT) AS bucket
    FROM (
      SELECT unnest(generate_series(0, 999)) AS i,
             unnest(generate_series(0, 999)) * 2 AS n2
    )
    """,
)
def ext_sql_tvf(spark, sf_dir):
    """Table-valued functions in the FROM clause (range() as a SQL
    relation) — the inline data-generation surface used for calendar
    spines, test scaffolds, and cross products with real tables. The
    range TVF parallelizes as a partitioned synthetic scan (no driver
    materialization), unlike createDataFrame."""
    return spark.sql(
        """
        SELECT id AS n, id * 2 AS n2, id % 7 AS bucket
        FROM range(0, 1000)
        """
    )


# --- parameterized SQL ---------------------------------------------------------


@register(
    "ext_parameterized_sql",
    """
    SELECT event_type, count(*) AS n,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS total
    FROM events
    WHERE value > 150 AND event_type <> 'error'
    GROUP BY event_type
    """,
)
def ext_parameterized_sql(spark, sf_dir):
    """Named-parameter SQL binding (spark.sql(..., args=...), Spark
    3.4+): the injection-safe templating surface applications should
    use instead of f-strings. Parameters bind as literals in the
    analyzed plan, so constant folding and pushdown see them exactly
    like inline constants."""

    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT event_type, count(*) AS n,
               round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0D, 4) AS total
        FROM events
        WHERE value > :min_value AND event_type <> :excluded
        GROUP BY event_type
        """,
        args={"min_value": 150, "excluded": "error"},
    )


# --- grouped z-score normalization ---------------------------------------------


@register(
    "ext_grouped_zscore",
    """
    SELECT event_id, event_type,
           round((value - avg(value) OVER (PARTITION BY event_type))
                 / stddev_samp(value) OVER (PARTITION BY event_type), 4) AS z
    FROM events WHERE user_id < 30
    """,
)
def ext_grouped_zscore(spark, sf_dir):
    """Per-group z-score standardization (the grouped sibling of
    ref_zscore_standardize's global scaler): each value is centered
    and scaled by ITS OWN segment's moments via window aggregates —
    feature engineering that respects per-segment distributions, one
    type-keyed exchange, no second pass."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = Window.partitionBy("event_type")
    return e.select(
        "event_id",
        "event_type",
        F.round(
            (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w),
            4,
        ).alias("z"),
    )


# --- one-pass data-quality rule report -----------------------------------------


@register(
    "ext_dq_rule_report",
    """
    SELECT 'value_negative' AS rule,
           CAST(count(CASE WHEN value < 0 THEN 1 END) AS BIGINT) AS n_violations
    FROM events
    UNION ALL
    SELECT 'value_above_1000',
           CAST(count(CASE WHEN value > 1000 THEN 1 END) AS BIGINT) FROM events
    UNION ALL
    SELECT 'event_type_unknown',
           CAST(count(CASE WHEN event_type NOT IN
                ('click','view','purchase','signup','error') THEN 1 END) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'duplicate_event_id',
           CAST((SELECT count(*) - count(DISTINCT event_id) FROM events) AS BIGINT)
    UNION ALL
    SELECT 'ts_out_of_2024',
           CAST(count(CASE WHEN ts < TIMESTAMP '2024-01-01'
                            OR ts >= TIMESTAMP '2025-01-01' THEN 1 END) AS BIGINT)
    FROM events
    """,
)
def ext_dq_rule_report(spark, sf_dir):
    """Data-quality rule report: five contract rules (range bounds,
    domain membership, key uniqueness, timestamp window) evaluated as
    conditional aggregates and emitted as a (rule, violations) table
    — the expectations-suite shape (Great-Expectations-style) run as
    ONE scan plus a distinct-count, not one job per rule."""
    e = _t(spark, sf_dir, "events")
    agg = e.agg(
        F.count(F.when(F.col("value") < 0, 1)).alias("value_negative"),
        F.count(F.when(F.col("value") > 1000, 1)).alias("value_above_1000"),
        F.count(
            F.when(
                ~F.col("event_type").isin(
                    "click", "view", "purchase", "signup", "error"
                ),
                1,
            )
        ).alias("event_type_unknown"),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias(
            "duplicate_event_id"
        ),
        F.count(
            F.when(
                (F.col("ts") < F.lit("2024-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2025-01-01").cast("timestamp")),
                1,
            )
        ).alias("ts_out_of_2024"),
    )
    rules = [
        "value_negative",
        "value_above_1000",
        "event_type_unknown",
        "duplicate_event_id",
        "ts_out_of_2024",
    ]
    stacked = ", ".join(f"'{r}', {r}" for r in rules)
    return agg.selectExpr(
        f"stack({len(rules)}, {stacked}) AS (rule, n_violations)"
    ).select("rule", F.col("n_violations").cast("long").alias("n_violations"))


# --- top-N plus Other rollup ---------------------------------------------------


@register(
    "ext_topn_other",
    """
    WITH counts AS (
      SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ),
    ranked AS (
      SELECT event_type, n,
             row_number() OVER (ORDER BY n DESC, event_type) AS rnk
      FROM counts
    )
    SELECT CASE WHEN rnk <= 3 THEN event_type ELSE 'Other' END AS category,
           CAST(sum(n) AS BIGINT) AS n,
           CAST(min(rnk) AS BIGINT) AS display_order
    FROM ranked
    GROUP BY CASE WHEN rnk <= 3 THEN event_type ELSE 'Other' END
    """,
)
def ext_topn_other(spark, sf_dir):
    """Top-N + 'Other' rollup — the pie-chart/legend query every BI
    layer generates: the 3 largest categories keep their names, the
    tail collapses into one bucket, with a deterministic display
    order. Rank runs over the tiny category domain; the heavy count is
    partial-aggregable."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ranked = counts.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.desc("n"), F.asc("event_type"))),
    )
    cat = F.when(F.col("rnk") <= 3, F.col("event_type")).otherwise(F.lit("Other"))
    return (
        ranked.groupBy(cat.alias("category"))
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.min("rnk").cast("long").alias("display_order"),
        )
    )


# --- time-weighted average (LOCF integral) -------------------------------------


@register(
    "ext_time_weighted_avg",
    """
    WITH o AS (
      SELECT user_id, value, epoch_us(ts) AS t,
             lag(epoch_us(ts)) OVER w AS prev_t,
             lag(value) OVER w AS prev_v
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           round(sum((t - prev_t) * prev_v) / sum(t - prev_t), 4) AS twa,
           count(*) + 1 AS n_points
    FROM o WHERE prev_t IS NOT NULL
    GROUP BY user_id
    """,
)
def ext_time_weighted_avg(spark, sf_dir):
    """Time-weighted average per user (last-observation-carried-forward
    integral / elapsed time) — the telemetry mean that is CORRECT for
    irregular sampling, where the naive row average over-weights burst
    periods (TimescaleDB's time_weight). Exact epoch-microsecond lag
    arithmetic; one user-keyed sort window, then a partial-aggregable
    weighted sum."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    o = e.select(
        "user_id",
        "value",
        t.alias("t"),
        F.lag(t).over(w).alias("prev_t"),
        F.lag("value").over(w).alias("prev_v"),
    ).filter(F.col("prev_t").isNotNull())
    return o.groupBy("user_id").agg(
        F.round(
            F.sum((F.col("t") - F.col("prev_t")) * F.col("prev_v"))
            / F.sum(F.col("t") - F.col("prev_t")),
            4,
        ).alias("twa"),
        (F.count(F.lit(1)) + 1).alias("n_points"),
    )


# --- funnel conversion WITHIN sessions -----------------------------------------


@register(
    "ext_sessionized_funnel",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    stages AS (
      SELECT user_id, sid,
             min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS t_purchase
      FROM sess GROUP BY user_id, sid
    )
    SELECT count(*) AS n_sessions,
           CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_view,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT)
             AS n_full_funnel
    FROM stages
    """,
)
def ext_sessionized_funnel(spark, sf_dir):
    """Funnel conversion WITHIN 30-minute sessions: view -> click ->
    purchase must occur in order INSIDE one session, not merely ever
    (the product-analytics question ext_funnel_conversion's
    whole-history form can't answer). Sessionization (gaps-and-
    islands) and the ordered-stage check (min event time per stage,
    strict ordering) run in one user-keyed sort window + one grouped
    conditional aggregate."""
    from pyspark.sql.window import Window

    from ..operators.windows import sessionized

    e = _t(spark, sf_dir, "events")
    s = sessionized(e, "user_id", "ts", 1800, tiebreak="event_id", precision="micros")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    stages = s.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "view", t)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", t)).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", t)).alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_view"),
        F.sum(
            F.when(
                F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_view_click"),
        F.sum(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_full_funnel"),
    )


# --- Benford first-digit screening ---------------------------------------------


@register(
    "ext_benford_screen",
    """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS d
      FROM events WHERE value >= 0.01
    ),
    counts AS (SELECT d, count(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM counts)
    SELECT d AS first_digit, n,
           round(n / total, 4) AS observed_share,
           round(log10(1.0 + 1.0 / d), 4) AS benford_share
    FROM counts CROSS JOIN tot
    """,
)
def ext_benford_screen(spark, sf_dir):
    """Benford first-digit screening: observed vs theoretical
    log10(1 + 1/d) first-digit shares of the value column — the audit
    pass fraud/data-quality teams run over money-like columns.
    First digit extracted from exact integer cents (no float
    formatting ambiguity); digit domain is 1-9, so everything after
    the scan is constant-size."""
    e = _t(spark, sf_dir, "events").filter(F.col("value") >= 0.01)
    d = F.substring(
        F.round(F.col("value") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    counts = e.select(d.alias("d")).groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").cast("double").alias("total"))
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("first_digit"),
        "n",
        F.round(F.col("n") / F.col("total"), 4).alias("observed_share"),
        F.round(F.log10(1.0 + 1.0 / F.col("d")), 4).alias("benford_share"),
    )


# --- grouping() NULL disambiguation --------------------------------------------


@register(
    "ext_grouping_id",
    """
    SELECT coalesce(event_type, '(all)') AS event_type,
           CAST(grouping(event_type) AS BIGINT) AS is_total,
           count(*) AS n
    FROM events GROUP BY ROLLUP(event_type)
    """,
)
def ext_grouping_id(spark, sf_dir):
    """grouping() disambiguation in ROLLUP output: the aggregate
    NULL-vs-data NULL problem — a rollup total row and a genuine NULL
    key both print NULL, and only grouping()/grouping_id() can tell
    them apart (the correctness trap under every subtotal report).
    The flag is carried alongside a coalesced label, exactly as a
    report query would emit it."""
    e = _t(spark, sf_dir, "events")
    return (
        e.rollup("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.grouping("event_type").alias("g"))
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.col("g").cast("long").alias("is_total"),
            "n",
        )
    )


# --- first-touch attribution ---------------------------------------------------


@register(
    "ext_attribution_first_touch",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    v AS (SELECT * FROM events WHERE event_type = 'view'),
    touches AS (
      SELECT p.event_id AS purchase_id, p.user_id,
             first(v.event_id ORDER BY v.ts, v.event_id) AS first_view_id
      FROM p JOIN v
        ON v.user_id = p.user_id
       AND v.ts >= p.ts - INTERVAL 24 HOUR AND v.ts < p.ts
      GROUP BY p.event_id, p.user_id
    )
    SELECT purchase_id, user_id, first_view_id FROM touches
    """,
)
def ext_attribution_first_touch(spark, sf_dir):
    """First-touch attribution: for each purchase, the EARLIEST view
    in the 24 hours before it — the credit-assignment query marketing
    warehouses run nightly (last-touch is ext_asof_join; this is its
    windowed-min sibling, and unlike as-of it needs the bounded range
    join + min, not a carried value). The join is user-keyed with a
    time-range predicate bounding state; min_by gives the earliest
    view deterministically (event_id tiebreak via struct ordering)."""
    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("v_ts") < F.col("p_ts")),
    )
    return (
        joined.groupBy("purchase_id", "user_id")
        .agg(F.min(F.struct("v_ts", "view_id")).alias("first"))
        .select("purchase_id", "user_id", F.col("first.view_id").alias("first_view_id"))
    )


# --- week-over-week percent change ---------------------------------------------


@register(
    "ext_percent_change_wow",
    """
    WITH weekly AS (
      SELECT event_type, date_trunc('week', ts) AS wk, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(floor(epoch(wk)) AS BIGINT) AS week_epoch,
           n,
           round(CASE WHEN lag(n) OVER w IS NULL THEN NULL
                      ELSE 100.0 * (n - lag(n) OVER w) / lag(n) OVER w
                 END, 4) AS pct_change
    FROM weekly
    WINDOW w AS (PARTITION BY event_type ORDER BY wk)
    """,
)
def ext_percent_change_wow(spark, sf_dir):
    """Week-over-week percent change per event type — the dashboard
    delta every operational report leads with. Weekly rollup (partial-
    aggregable) then a lag over the small (type x week) series; NULL
    for the first week of each series rather than a fake 0."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    weekly = e.groupBy(
        "event_type", F.date_trunc("week", F.col("ts")).alias("wk")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("wk")
    prev = F.lag("n").over(w)
    return weekly.select(
        "event_type",
        F.unix_timestamp("wk").cast("long").alias("week_epoch"),
        "n",
        F.round(
            F.when(prev.isNull(), F.lit(None)).otherwise(
                100.0 * (F.col("n") - prev) / prev
            ),
            4,
        ).alias("pct_change"),
    )


# --- cumulative distinct users (running DAU reach) -----------------------------


@register(
    "ext_running_distinct_users",
    """
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events
      GROUP BY user_id
    ),
    daily_new AS (
      SELECT first_day AS day, count(*) AS new_users FROM firsts GROUP BY 1
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT CAST(floor(epoch(CAST(d.day AS TIMESTAMP))) AS BIGINT) AS day_epoch,
           CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
           CAST(sum(coalesce(n.new_users, 0))
                OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cumulative_users
    FROM days d LEFT JOIN daily_new n ON n.day = d.day
    """,
)
def ext_running_distinct_users(spark, sf_dir):
    """Cumulative distinct-user reach by day — running COUNT(DISTINCT)
    without the (unsupported, and at scale unshuffleable) distinct
    window aggregate: each user contributes on their FIRST day only
    (a user-keyed min), daily new-user counts roll up, and a running
    sum over the small day series yields the cumulative curve. The
    heavy relation is touched once; the global window orders only
    the date spine."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily_new = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    days = e.select(F.col("ts").cast("date").alias("day")).distinct()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(daily_new, "day", "left")
        .select("day", F.coalesce("new_users", F.lit(0)).alias("new_users"))
        .select(
            F.unix_timestamp(F.col("day").cast("timestamp")).cast("long").alias(
                "day_epoch"
            ),
            F.col("new_users").cast("long").alias("new_users"),
            F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
        )
    )


# --- nested JSON round-trip ----------------------------------------------------


@register(
    "ext_json_nested_roundtrip",
    """
    SELECT l_orderkey,
           count(*) AS n_lines,
           CAST(sum(l_linenumber) AS BIGINT) AS sum_linenumbers,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem WHERE l_orderkey < 100
    GROUP BY l_orderkey
    """,
)
def ext_json_nested_roundtrip(spark, sf_dir):
    """Nested-JSON round trip: order lines are packed into a JSON
    document per order (struct with an array of line structs via
    to_json), then parsed back with from_json against an explicit
    nested schema and re-flattened with explode — the
    document-interchange path (event payloads, API dumps) exercised
    end to end. The oracle aggregates the flat rows directly, so any
    loss or type drift in the JSON round trip breaks the match."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    packed = (
        li.groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("line"),
                        F.col("l_quantity").alias("qty"),
                    )
                )
            ).alias("lines")
        )
        .select(
            "l_orderkey",
            F.to_json(F.struct(F.col("l_orderkey").alias("okey"), F.col("lines"))).alias(
                "doc"
            ),
        )
    )
    schema = "okey bigint, lines array<struct<line:int, qty:double>>"
    parsed = packed.select(
        F.from_json("doc", schema).alias("j")
    ).select(F.col("j.okey").alias("l_orderkey"), F.explode("j.lines").alias("ln"))
    return parsed.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("ln.line").cast("long").alias("sum_linenumbers"),
        F.round(F.sum("ln.qty"), 4).alias("sum_qty"),
    )


# --- join-key skew diagnostics --------------------------------------------------


@register(
    "ext_skew_metrics",
    """
    WITH per_key AS (
      SELECT user_id, count(*) AS c FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_keys,
           CAST(max(c) AS BIGINT) AS max_rows,
           round(quantile_cont(c::DOUBLE, 0.5), 4) AS p50_rows,
           round(quantile_cont(c::DOUBLE, 0.99), 4) AS p99_rows,
           round(max(c) / avg(c), 4) AS skew_factor
    FROM per_key
    """,
)
def ext_skew_metrics(spark, sf_dir):
    """Join-key skew diagnostics (the pre-flight check before
    partitioning a 100 TB join): per-key cardinality distribution and
    the max/avg skew factor that decides between a plain shuffle, AQE
    skew handling, and an explicit salt. One partial-aggregable count
    plus a key-bounded percentile pass."""
    e = _t(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").cast("long").alias("max_rows"),
        F.round(F.percentile(F.col("c").cast("double"), F.lit(0.5)), 4).alias(
            "p50_rows"
        ),
        F.round(F.percentile(F.col("c").cast("double"), F.lit(0.99)), 4).alias(
            "p99_rows"
        ),
        F.round(F.max("c") / F.avg("c"), 4).alias("skew_factor"),
    )


# --- robust MAD outlier detection ----------------------------------------------


@register(
    "ext_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, med.med,
             quantile_cont(abs(e.value - med.med), 0.5) AS mad
      FROM events e JOIN med USING (event_type)
      GROUP BY e.event_type, med.med
    )
    SELECT e.event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN abs(e.value - mad.med)
                              > 3 * 1.4826 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           round(mad.med, 4) AS median_value,
           round(mad.mad, 4) AS mad_value
    FROM events e JOIN mad USING (event_type)
    GROUP BY e.event_type, mad.med, mad.mad
    """,
)
def ext_mad_outliers(spark, sf_dir):
    """Robust outlier detection via median absolute deviation (the
    3-sigma rule with median/MAD instead of mean/stddev, x1.4826
    normal-consistency factor) — the anomaly flagger that survives the
    very outliers it hunts, the exactly-checkable complement to the
    reference's IsolationForest (ml_kmeans_anomaly is the model-based
    path; this is the closed-form path). Two grouped exact-percentile
    passes plus a broadcast threshold join; category-bounded state."""
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad"))
    )
    flagged = e.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type", "med", "mad").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
    ).select(
        "event_type",
        "n",
        "n_outliers",
        F.round("med", 4).alias("median_value"),
        F.round("mad", 4).alias("mad_value"),
    )


# --- bounded-window EWMA smoothing ---------------------------------------------

_EWMA_ALPHA = 0.3


_EWMA_K = 8  # truncation window: weights below alpha*(1-alpha)^7 ~ 0.025 dropped


def _ewma_terms_sql() -> str:
    ws = [
        f"{_EWMA_ALPHA} * pow({1 - _EWMA_ALPHA}, {k})"
        f" * lag(value, {k}) OVER w"
        for k in range(_EWMA_K)
    ]
    present = [
        f"CASE WHEN lag(value, {k}) OVER w IS NOT NULL THEN "
        f"{_EWMA_ALPHA} * pow({1 - _EWMA_ALPHA}, {k}) ELSE 0 END"
        for k in range(_EWMA_K)
    ]
    return (
        "("
        + " + ".join(f"coalesce({t}, 0)" for t in ws)
        + ") / ("
        + " + ".join(present)
        + ")"
    )


@register(
    "ext_ewma_smoothing",
    f"""
    SELECT event_id, user_id,
           round({_ewma_terms_sql()}, 4) AS ewma
    FROM events WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def ext_ewma_smoothing(spark, sf_dir):
    """Exponentially-weighted moving average over each user's reading
    series — the telemetry smoothing pass, truncated to the last 8
    observations so the recursion becomes a FINITE weighted sum of
    lags: w_k = alpha(1-alpha)^k renormalized over the lags actually
    present (series heads aren't biased toward 0). Pure lag
    arithmetic — identical closed form on both engines, no recursion,
    no UDF; one user-keyed sort window at any scale. The infinite-
    history recursive form is deliberately NOT used: its
    (1-alpha)^(-i) rescaling trick overflows on long series."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(_EWMA_K):
        wk = _EWMA_ALPHA * (1 - _EWMA_ALPHA) ** k
        lagv = F.lag("value", k).over(w)
        num = num + F.coalesce(F.lit(wk) * lagv, F.lit(0.0))
        den = den + F.when(lagv.isNotNull(), F.lit(wk)).otherwise(F.lit(0.0))
    return e.select(
        "event_id", "user_id", F.round(num / den, 4).alias("ewma")
    )


# --- contingency crosstab ------------------------------------------------------


@register(
    "ext_crosstab",
    """
    SELECT event_type AS event_type_hi,
           CAST(sum(CASE WHEN value < 100 THEN 1 ELSE 0 END) AS BIGINT) AS lo,
           CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS hi
    FROM events GROUP BY event_type
    """,
)
def ext_crosstab(spark, sf_dir):
    """df.stat.crosstab: the pairwise contingency table (event type x
    value band) — the first table an analyst prints before a chi-square
    test. crosstab's output column names are the RHS values themselves;
    they're projected to fixed names so the schema is stable for the
    driver regardless of value order."""
    e = _t(spark, sf_dir, "events").withColumn(
        "band", F.when(F.col("value") >= 100, "hi").otherwise("lo")
    )
    ct = e.stat.crosstab("event_type", "band")
    return ct.select(
        F.col("event_type_band").alias("event_type_hi"),
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
    )


# --- forward as-of join --------------------------------------------------------


@register(
    "ext_asof_join_forward",
    """
    SELECT p.event_id, p.user_id, CAST(floor(epoch(p.ts)) AS BIGINT) AS ts_epoch,
           p.value,
           first(v.event_id ORDER BY v.ts, v.event_id) AS next_event_id,
           first(v.value ORDER BY v.ts, v.event_id) AS next_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts >= p.ts
    GROUP BY p.event_id, p.user_id, p.ts, p.value
    """,
)
def ext_asof_join_forward(spark, sf_dir):
    """FORWARD as-of join: for each purchase, the user's EARLIEST view
    at-or-after it — what-did-they-do-next attribution, the mirror of
    ext_asof_join's latest-before lookup. Same union+window shape
    (operators/joins.asof_join_forward), one shuffle on user_id,
    first(ignorenulls) over the FOLLOWING frame. event_id breaks exact
    (user_id, ts) ties deterministically (smallest wins); the oracle
    pins the SAME rule via first(x ORDER BY ts, event_id) over a
    range-predicate left join — DuckDB's native ASOF reads better but
    has no tiebreak syntax, and the 10x differential replica (which
    mints exact ties across copies) proved the two engines then pick
    different tie representatives."""
    from ..operators.joins import asof_join_forward

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    views = e.filter(F.col("event_type") == "view")
    out = asof_join_forward(
        purchases, views, "user_id", "ts", "ts", ["event_id", "value"],
        right_tiebreak="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp(F.col("ts")).cast("long").alias("ts_epoch"),
        "value",
        "next_event_id",
        "next_value",
    )


# --- grouped exact percentiles -------------------------------------------------


@register(
    "ext_grouped_median",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS median_value,
           round(quantile_cont(value, 0.9), 4) AS p90_value,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def ext_grouped_median(spark, sf_dir):
    """Exact percentiles as GROUPED aggregates (median + p90 per
    event type) — the per-segment latency/size SLO readout. Exact
    percentile (not approx) matches DuckDB's quantile_cont
    interpolation; the grouped form is partial-aggregable by
    partition, unlike a global sort."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90_value"),
        F.count(F.lit(1)).alias("n"),
    )


# --- exact DECIMAL money arithmetic --------------------------------------------


@register(
    "ext_decimal_exact",
    """
    SELECT event_type,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST((sum(CAST(round(value * 100) AS BIGINT)) * 10000
                 + count(*) // 2) // count(*) AS BIGINT) AS avg_microdollars
    FROM events GROUP BY event_type
    """,
)
def ext_decimal_exact(spark, sf_dir):
    """Exact money arithmetic with NO floating point past the per-row
    cents reconstruction: integer cents are summed exactly (DECIMAL(38,0)
    accumulator on the Spark side so the sum cannot overflow at 100 TB;
    DuckDB promotes to HUGEINT on its own), and the average is an
    all-integer half-up division to microdollar precision —
    (sum_cents * 10000 + n DIV 2) DIV n. The r5 driver proved the
    previous formulation wrong: DuckDB's avg(DECIMAL) silently returns
    DOUBLE, so any oracle avg over decimals transits float and rounds
    differently at boundary values. Integer DIV truncates toward zero
    identically in both engines (verified: -7//2 = -3 in DuckDB,
    -7 div 2 = -3 in Spark), so parity is exact digit-for-digit."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("decimal(38,0)")
    g = e.groupBy("event_type").agg(
        F.sum(cents).alias("_sc"), F.count(F.lit(1)).alias("_n")
    )
    return g.select(
        "event_type",
        F.col("_sc").cast("long").alias("total_cents"),
        F.expr(
            "CAST((_sc * 10000 + _n div 2) div _n AS BIGINT)"
        ).alias("avg_microdollars"),
    )


# --- bitwise aggregates --------------------------------------------------------


@register(
    "ext_bitwise_agg",
    """
    SELECT event_type,
           bit_and(CAST(round(value * 100) AS BIGINT)) AS all_bits,
           bit_or(CAST(round(value * 100) AS BIGINT)) AS any_bits,
           bit_xor(CAST(round(value * 100) AS BIGINT)) AS parity_bits
    FROM events GROUP BY event_type
    """,
)
def ext_bitwise_agg(spark, sf_dir):
    """Bitwise aggregate surface (bit_and/bit_or/bit_xor) — flag-mask
    rollups and parity checksums over integer codes. Order-insensitive
    by construction (bitwise ops commute), so cross-engine parity is
    exact with no rounding convention needed."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return e.groupBy("event_type").agg(
        F.bit_and(cents).alias("all_bits"),
        F.bit_or(cents).alias("any_bits"),
        F.bit_xor(cents).alias("parity_bits"),
    )


# --- NULL semantics surface ----------------------------------------------------


@register(
    "ext_null_semantics",
    """
    SELECT event_id,
           CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END AS null_safe_eq,
           coalesce(a, b, -1) AS first_non_null,
           CASE WHEN a IS NULL THEN 'was_null' ELSE 'had_value' END AS a_state
    FROM (
      SELECT event_id,
             nullif(CAST(round(value * 100) AS BIGINT) % 7, 3) AS a,
             nullif(CAST(round(value * 100) AS BIGINT) % 5, 2) AS b
      FROM events
    )
    """,
)
def ext_null_semantics(spark, sf_dir):
    """Three-valued-logic surface in one query: null-safe equality
    (<=> / IS NOT DISTINCT FROM), nullif-manufactured NULLs, coalesce
    chains, and nvl2 branching — the semantics corner where engines
    disagree silently. All integer arithmetic; every NULL is
    deterministic (nullif on a modulus), so the differential check
    exercises NULL propagation, not data luck."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    a = F.nullif(cents % 7, F.lit(3))
    b = F.nullif(cents % 5, F.lit(2))
    return e.select(
        "event_id",
        F.when(a.eqNullSafe(b), 1).otherwise(0).alias("null_safe_eq"),
        F.coalesce(a, b, F.lit(-1)).alias("first_non_null"),
        F.nvl2(a, F.lit("had_value"), F.lit("was_null")).alias("a_state"),
    )


# --- Hive-style LATERAL VIEW SQL surface ---------------------------------------


@register(
    "ext_lateral_view_sql",
    """
    SELECT doc_id, w, count(*) AS n
    FROM (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents WHERE doc_id < 20
    )
    GROUP BY doc_id, w
    """,
)
def ext_lateral_view_sql(spark, sf_dir):
    """Hive-style LATERAL VIEW explode() SQL syntax — the third
    generator spelling next to DataFrame .explode and ANSI lateral
    joins, still the dominant form in migrated warehouse SQL. Same
    Generate physical node; the SQL-text path is what's under test."""

    _views(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT doc_id, w, count(*) AS n
        FROM documents
        LATERAL VIEW explode(split(text, ' ')) t AS w
        WHERE doc_id < 20 AND w <> ''
        GROUP BY doc_id, w
        """
    )


# --- re-aggregable HLL sketches ------------------------------------------------


@register(
    "ext_hll_sketch_merge",
    """
    SELECT count(DISTINCT event_id) AS n_exact,
           true AS merged_within_5pct,
           true AS direct_within_5pct
    FROM events
    """,
)
def ext_hll_sketch_merge(spark, sf_dir):
    """Re-aggregable distinct-count sketches (Spark 4 Apache
    DataSketches HLL): per-shard sketches merged with hll_union_agg
    answer the same global NDV a direct single-pass sketch does — the
    property that lets a 100 TB rollup keep pre-aggregated sketch
    columns per partition. Merged and direct estimates are NOT
    bit-identical (union promotes sparse shard sketches into a dense
    target, so register states differ — measured 0.2-2.9% from exact
    across sf0.001-0.1); both must land within the 5% band (~3 sigma
    at lgConfigK=12), computed in-query with the oracle pinning the
    invariants true alongside the exact NDV."""
    e = _t(spark, sf_dir, "events")
    shard = e.withColumn("g", F.col("user_id") % 8)
    per_shard = shard.groupBy("g").agg(
        F.hll_sketch_agg("event_id").alias("sk")
    )
    merged = per_shard.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    direct = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("event_id")).alias("direct_est"),
        F.countDistinct("event_id").alias("n_exact"),
    )
    return (
        direct.crossJoin(F.broadcast(merged))
        .select(
            "n_exact",
            (
                F.abs(F.col("merged_est") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("merged_within_5pct"),
            (
                F.abs(F.col("direct_est") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("direct_within_5pct"),
        )
    )


# --- snapshot time travel ------------------------------------------------------


@register(
    "ext_snapshot_time_travel",
    """
    SELECT 1 AS version, count(*) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders WHERE o_orderkey < 1000
    UNION ALL
    SELECT 2, count(*),
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    FROM orders WHERE o_orderkey < 2000
    """,
)
def ext_snapshot_time_travel(spark, sf_dir):
    """Snapshot-isolation time travel over a plain parquet layout:
    append-only file commits tracked in a per-version manifest (the
    Iceberg/Delta mechanism with the metadata layer inlined), reads
    resolved AS OF each version from its file list — never by
    directory listing, so an in-flight append can't tear a read. Both
    snapshots are aggregated from their manifests and must equal the
    oracle's filter-defined versions."""
    with _scratch("time_travel_") as base:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        o.filter(F.col("o_orderkey") < 1000).write.parquet(f"{base}/commit1")
        o.filter(
            (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)
        ).write.parquet(f"{base}/commit2")
        manifest = {1: [f"{base}/commit1"], 2: [f"{base}/commit1", f"{base}/commit2"]}

        def snapshot(version: int):
            return (
                spark.read.parquet(*manifest[version])
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum(
                        F.round(F.col("o_totalprice") * 100).cast("long")
                    ).alias("sum_cents"),
                )
                .select(F.lit(version).alias("version"), "n_rows", "sum_cents")
            )

        return _materialize(snapshot(1).unionAll(snapshot(2)))


# --- Observation API (in-flight metrics) ---------------------------------------


@register(
    "ext_observation_metrics",
    """
    SELECT count(*) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(count(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT)
             AS n_discounted
    FROM lineitem WHERE l_quantity > 25
    """,
)
def ext_observation_metrics(spark, sf_dir):
    """Spark Observation API: named accumulator-backed metrics
    collected DURING a query's execution (df.observe) — the
    zero-extra-pass row-count / data-quality counters a production
    pipeline attaches to every write job. The observed metrics are
    returned as a 1-row DataFrame and must equal the oracle's
    recomputation, proving the in-flight metrics see exactly the rows
    the query processed (no sampling, no approximation)."""
    from pyspark.sql import Observation

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 25)
    obs = Observation("etl_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_cents"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return local_frame(
        spark,
        [(m["n_rows"], m["sum_cents"], m["n_discounted"])],
        "n_rows bigint, sum_cents bigint, n_discounted bigint",
    )


# --- Spark 4 native XML source -------------------------------------------------


@register(
    "ext_source_xml",
    """
    SELECT id, name, CAST(price AS DOUBLE) AS price FROM (VALUES
      (1, 'alpha', 1.5), (2, 'beta', 2.5), (3, 'gamma', 3.5),
      (4, 'delta', 4.5), (5, 'epsilon', 5.5)
    ) AS t(id, name, price)
    """,
)
def ext_source_xml(spark, sf_dir):
    """Spark 4 built-in XML source (rowTag record splitting + explicit
    schema — no external package since 4.0). The file is written here
    so the entry is hermetic; the oracle is the literal payload. Same
    digest-checked round-trip pattern as ext_source_jsonl/orc."""
    rows = [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", 3.5),
            (4, "delta", 4.5), (5, "epsilon", 5.5)]
    with _scratch("xml_src_") as work:
        path = work + "/data.xml"
        with open(path, "w") as f:
            f.write("<rows>\n")
            for i, name, price in rows:
                f.write(
                    f"  <row><id>{i}</id><name>{name}</name>"
                    f"<price>{price}</price></row>\n"
                )
            f.write("</rows>\n")
        return _materialize(
            spark.read.format("xml")
            .option("rowTag", "row")
            .schema("id long, name string, price double")
            .load(path)
        )


# --- hidden _metadata columns (file lineage) -----------------------------------


@register(
    "ext_metadata_columns",
    """
    SELECT event_type, count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def ext_metadata_columns(spark, sf_dir):
    """Hidden _metadata columns as file lineage: events are written
    partitioned by event_type, read back WITHOUT the partition column
    projected, and each row's origin is recovered purely from
    _metadata.file_path — the which-file-did-this-row-come-from
    audit every warehouse debugging session needs. The per-origin
    counts must equal the plain per-type counts (the oracle), proving
    the hidden column binds to real scan-level file paths."""
    with _scratch("meta_cols_") as out:
        e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
        e.write.partitionBy("event_type").mode("overwrite").parquet(out)
        back = spark.read.parquet(out)
        return _materialize(
            back.select(
                F.regexp_extract(
                    F.col("_metadata.file_path"), r"event_type=([^/]+)/", 1
                ).alias("event_type")
            )
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )


# hex-digit arithmetic shared with the DuckDB oracles (same contract as
# llm/prep.md5_bucket — keep in lockstep)
_HEX1 = "strpos('0123456789abcdef', substr(h, {p}, 1)) - 1"


@register(
    "ext_shard_balance_report",
    f"""
    SELECT (({_HEX1.format(p=1)}) * 16 + ({_HEX1.format(p=2)})) % 32 AS shard_id,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(count(*) * 32.0 / sum(count(*)) OVER (), 4) AS balance_factor
    FROM (SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
    GROUP BY 1
    """,
)
def ext_shard_balance_report(spark, sf_dir):
    """Output-shard balance report: assign every document to one of 32
    shards by consistent md5 hash and report per-shard row/byte totals
    plus the balance factor (shard size over ideal size — the straggler
    predictor for a 100 TB write). Hash sharding is how the engine
    would lay out its output files; this entry is the audit that the
    layout is actually even. One grouped count; the 32-row window for
    the factor is shard-bounded."""
    d = _t(spark, sf_dir, "documents")
    shard = (md5_bucket(F.col("doc_id"), 2) % 32).alias("shard_id")
    per = d.select(shard, "n_chars").groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    total = per.agg(F.sum("n_docs").alias("total"))
    return per.crossJoin(F.broadcast(total)).select(
        "shard_id",
        "n_docs",
        "total_chars",
        F.round(F.col("n_docs") * 32.0 / F.col("total"), 4).alias("balance_factor"),
    )


@register(
    "ext_sql_pipe_syntax",
    """
    WITH g AS (
      SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
             round(sum(l_quantity), 4) AS sum_qty,
             round(avg(l_extendedprice), 4) AS avg_price
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
    )
    SELECT * FROM g WHERE n_rows > 100
    ORDER BY n_rows DESC, l_returnflag, l_linestatus LIMIT 4
    """,
)
def ext_sql_pipe_syntax(spark, sf_dir):
    """SQL pipe syntax (Spark 4.0+): the linear `|>` form of
    scan -> filter -> aggregate -> having -> order/limit. Each pipe
    stage lowers to the same Catalyst operators as the nested ANSI
    form (the oracle), so the physical plan is the identical partial
    hash aggregate + TakeOrderedAndProject — this entry proves the
    surface, not a new engine path."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |> AGGREGATE count(*) AS n_rows,
                     round(sum(l_quantity), 4) AS sum_qty,
                     round(avg(l_extendedprice), 4) AS avg_price
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n_rows > 100
        |> SELECT l_returnflag, l_linestatus, n_rows, sum_qty, avg_price
        |> ORDER BY n_rows DESC, l_returnflag, l_linestatus
        |> LIMIT 4
        """
    )


@register(
    "ext_collation_ci",
    """
    WITH mixed AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                  ELSE event_type END AS et_mixed,
             value
      FROM events
    )
    SELECT lower(et_mixed) AS event_type_ci,
           count(*) AS n,
           round(sum(value), 4) AS sum_value,
           CAST(count(DISTINCT et_mixed) AS BIGINT) AS n_case_variants
    FROM mixed GROUP BY lower(et_mixed)
    """,
)
def ext_collation_ci(spark, sf_dir):
    """String collations (Spark 4.0+): group under UTF8_LCASE so 'VIEW'
    and 'view' land in one hash bucket with NO per-row lower() rewrite
    of the data — the collation travels in the type, and comparisons/
    hashing are collation-aware inside codegen. Case variants are
    minted deterministically (even event_id -> upper). The output key
    is lowered + cast back to a plain binary-collation string so the
    driver's schema/hash compare sees a vanilla column; the DuckDB
    oracle is the classic lower()-rewrite formulation of the same
    query. countDistinct of the untouched column stays binary-collated
    and counts both case forms."""
    e = _t(spark, sf_dir, "events")
    mixed = e.select(
        F.when(F.col("event_id") % 2 == 0, F.upper("event_type"))
        .otherwise(F.col("event_type"))
        .alias("et_mixed"),
        "value",
    )
    return (
        mixed.select(F.collate(F.col("et_mixed"), "UTF8_LCASE").alias("k"), "et_mixed", "value")
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("et_mixed").alias("n_case_variants"),
        )
        .select(
            F.lower(F.col("k")).cast("string").alias("event_type_ci"),
            "n",
            "sum_value",
            "n_case_variants",
        )
    )


@register(
    "ext_autocorrelation",
    """
    WITH lagged AS (
      SELECT event_type, value,
             lag(value)    OVER w AS prev1,
             lag(value, 2) OVER w AS prev2
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_type,
           CAST(count(prev1) AS BIGINT) AS n_pairs,
           round(corr(value, prev1), 4) + 0 AS acf_lag1,
           round(corr(value, prev2), 4) + 0 AS acf_lag2
    FROM lagged GROUP BY event_type
    """,
)
def ext_autocorrelation(spark, sf_dir):
    """Serial autocorrelation (lag-1 / lag-2 ACF) per event_type: the
    standard seasonality/IID screen on a telemetry series. One shuffle
    on event_type serves both the lag window and the aggregate (the
    agg reuses the window's partitioning), and corr is a single-pass
    partial-aggregable moment sketch. Tie order inside the window is
    pinned by (ts, event_id). `+ 0` normalizes IEEE -0.0 after
    rounding, per the registry convention."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    zero = F.lit(0.0)
    lagged = e.select(
        "event_type",
        "value",
        F.lag("value").over(w).alias("prev1"),
        F.lag("value", 2).over(w).alias("prev2"),
    )
    return lagged.groupBy("event_type").agg(
        F.count("prev1").alias("n_pairs"),
        (F.round(F.corr("value", "prev1"), 4) + zero).alias("acf_lag1"),
        (F.round(F.corr("value", "prev2"), 4) + zero).alias("acf_lag2"),
    )


@register(
    "ext_equiheight_histogram",
    """
    WITH base AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    bounds AS (
      SELECT [round(quantile_cont(cents, 0.1), 4), round(quantile_cont(cents, 0.2), 4),
              round(quantile_cont(cents, 0.3), 4), round(quantile_cont(cents, 0.4), 4),
              round(quantile_cont(cents, 0.5), 4), round(quantile_cont(cents, 0.6), 4),
              round(quantile_cont(cents, 0.7), 4), round(quantile_cont(cents, 0.8), 4),
              round(quantile_cont(cents, 0.9), 4)] AS bs
      FROM base
    )
    SELECT CAST(len(list_filter(bs, b -> cents > b)) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(cents) AS min_cents, max(cents) AS max_cents
    FROM base CROSS JOIN bounds
    GROUP BY 1
    """,
)
def ext_equiheight_histogram(spark, sf_dir):
    """Equi-HEIGHT (equi-depth) decile histogram — the optimizer-stats
    companion to the equi-width ext_histogram: exact decile boundaries,
    then bucket = how many rounded boundaries the value exceeds,
    computed against a literal boundary array — no second sort per
    row. Values are integer cents so bucket edges can't sit on a float
    ulp. Since r9 the boundaries come from a VALUE ROLLUP + cumulative
    -rank walk instead of Spark's exact percentile() aggregate: that
    aggregate buffers a per-partition counts map of every distinct
    value with NO spill path, and the full 10x sweep caught it OOMing
    the executor JVM at 6M rows x 583k distinct cents (BufferHolder
    .grow heap death — the r9 sweep's one real at-scale find; row
    count corrected r11, see SCALE.md's r10 bookkeeping note). The
    rollup shape is spill-safe end to end: groupBy(cents) is partial-
    aggregable, and since r14 the cumulative count is the distributed
    prefix sum (llm/prep.with_running_total, keyed on the unique
    integer cents) instead of a partitionless ORDER BY cents window
    whose Exchange SinglePartition funneled every distinct value
    through one task; the row count n rides the same offsets frame
    (total_col), with the decile ranks floor(p*(n-1))+1 expressed
    against the n column, so the 18 order statistics AND n still
    come back in ONE bounded 1-row collect (one lineitem scan; the r9
    shape paid a separate base.count() job first, ADVICE r9).
    Interpolation lo + (hi-lo)*(pos-floor(pos)) replays DuckDB
    quantile_cont's formula (the oracle) in IEEE doubles; Spark's
    retired percentile() computes the algebraically-equal
    (ceil-pos)*lo + (pos-floor)*hi, up to 1 ulp apart, and the
    round(...,4) grid absorbs that difference (integer cents keep the
    inputs themselves exact). At 100 TB the exact walk becomes
    approx_percentile; the assignment side is unchanged."""
    import math

    li = _t(spark, sf_dir, "lineitem")
    base = li.select(F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"))
    # r14 session 2 (guide §2.4): the (cents, cnt) rollup is a LAZY
    # localCheckpoint materialized as a side effect of the stats
    # collect below (its first reader lands it), and the ASSIGNMENT side then
    # reads the checkpointed rollup instead of re-scanning lineitem —
    # bucket, n_rows = sum(cnt), and min/max cents are all functions
    # of the rollup alone. One parquet scan end-to-end instead of
    # two; at 100 TB the reread this saves is a full fact-table scan,
    # while the materialized rollup is domain-bounded (the qty x
    # retail-price grid). Outputs identical at all three SFs; local
    # A/B 1.937 -> 1.802 s min (5 interleaved reps).
    from ..operators.ckpt import lazy_checkpoint

    rollup = lazy_checkpoint(
        base.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = with_running_total(rollup, "cents", "cnt", out_col="cum", total_col="n")
    # rank of the lo/hi order statistics for decile p, as expressions
    # over the in-frame total n: pos = (p/10)*(n-1) (same JVM double
    # arithmetic the driver-side replay below uses), lo rank =
    # floor(pos)+1, hi rank = min(floor(pos)+1, n-1)+1. cum is
    # monotone in cents, so min(cents where cum >= rank) IS the
    # rank-th order statistic.
    aggs = []
    for p in range(1, 10):
        k = F.floor(F.lit(p / 10) * (F.col("n") - F.lit(1)).cast("double"))
        aggs.append(
            F.min(F.when(F.col("cum") >= k + 1, F.col("cents"))).alias(f"lo{p}")
        )
        aggs.append(
            F.min(
                F.when(F.col("cum") >= F.least(k + 2, F.col("n")), F.col("cents"))
            ).alias(f"hi{p}")
        )
    aggs.append(F.min("n").alias("n"))
    (row,) = cum.agg(*aggs).collect()  # also materializes the rollup's blocks
    n = int(row["n"])
    bs = []
    for p in range(1, 10):
        pos = (p / 10) * (n - 1)
        k = int(math.floor(pos))
        lo, hi = float(row[f"lo{p}"]), float(row[f"hi{p}"])
        bs.append(lo + (hi - lo) * (pos - k))  # quantile_cont's formula
    bounds = F.array(*[F.round(F.lit(b), 4) for b in bs])
    assigned = rollup.select(
        F.size(F.filter(bounds, lambda b: F.col("cents") > b))
        .cast("long")
        .alias("bucket"),
        "cents",
        "cnt",
    )
    return assigned.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


@register(
    "ext_conditional_reset_cumsum",
    """
    WITH seg AS (
      SELECT event_id, user_id, value, ts,
             sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seg_id
      FROM events WHERE user_id < 50
    )
    SELECT event_id, user_id, CAST(seg_id AS BIGINT) AS seg_id,
           round(sum(value) OVER (PARTITION BY user_id, seg_id
                                  ORDER BY ts, event_id), 4)
             AS run_since_reset
    FROM seg
    """,
)
def ext_conditional_reset_cumsum(spark, sf_dir):
    """Running total with event-triggered resets (cumulative value
    since each user's last 'signup') — the two-stage window
    composition that expresses resettable accumulators without state:
    stage 1 derives a segment id as a running count of reset events,
    stage 2 runs the cumulative sum partitioned by (user, segment).
    Both windows sort by the same (ts, event_id) order; the second
    shuffle is keyed by a refinement of the first (user_id -> user_id,
    seg_id), so per-user data never crosses executors between stages.
    The streaming analog is stream_stateful_user_stats; this is the
    batch/backfill form."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = e.select(
        "event_id",
        "user_id",
        "value",
        "ts",
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .over(w1)
        .alias("seg_id"),
    )
    w2 = Window.partitionBy("user_id", "seg_id").orderBy("ts", "event_id")
    return seg.select(
        "event_id",
        "user_id",
        F.col("seg_id").cast("long").alias("seg_id"),
        F.round(F.sum("value").over(w2), 4).alias("run_since_reset"),
    )


@register(
    "ext_lateral_column_alias",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
             AS net_cents,
           CAST(round(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                      * l_tax) AS BIGINT) AS tax_cents,
           CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
             + CAST(round(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                          * l_tax) AS BIGINT) AS gross_cents
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def ext_lateral_column_alias(spark, sf_dir):
    """Lateral column aliases (Spark 3.4+): a SELECT item referencing
    an alias defined earlier in the SAME select list (net_cents ->
    tax_cents -> gross_cents), saving the nested-subquery chain the
    oracle spells out by full expansion — which also proves the
    analyzer substitutes the alias EXPRESSION, not a snapshot. The
    physical plan is one Project over the pruned scan either way.
    Money math is integer cents throughout: rounding a double that
    both engines computed bit-identically is engine-invariant, while
    re-rounding already-rounded 4dp decimals lands exactly ON .5
    boundaries and diverged at the 10x replica. Registered through
    spark.sql because the alias-resolution path IS the surface under
    test."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                 AS net_cents,
               CAST(round(net_cents * l_tax) AS BIGINT) AS tax_cents,
               net_cents + tax_cents AS gross_cents
        FROM lineitem WHERE l_orderkey < 100
        """
    )


@register(
    "ext_incremental_join_view",
    """
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def ext_incremental_join_view(spark, sf_dir):
    """Incremental maintenance of a JOIN view (revenue by nation over
    the 4-way lineitem-orders-customer-nation join): the maintained
    result is base partials (l_orderkey % 7 <> 0) union-MERGED with
    delta partials (% 7 = 0), each slice joined to the dims
    independently — and must equal the oracle's single-pass join-
    aggregate. This is the join-IVM sibling of ext_incremental_rollup:
    because the view's measures are re-aggregable (count, integer-cent
    sum) and the join is against slowly-changing dims, appending a
    delta costs one delta-sized join + a tiny partials merge, never a
    100 TB re-join. Dims ride broadcast joins in both slice plans;
    revenue is integer cents so the merge is exact."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )

    def partial(facts):
        return (
            facts.select("l_orderkey", cents.alias("cents"))
            .join(o, F.col("l_orderkey") == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_items"), F.sum("cents").alias("revenue_cents"))
        )

    base = partial(li.filter(F.col("l_orderkey") % 7 != 0))
    delta = partial(li.filter(F.col("l_orderkey") % 7 == 0))
    return (
        base.unionByName(delta)
        .groupBy("n_name")
        .agg(
            F.sum("n_items").cast("long").alias("n_items"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
        .select(F.col("n_name").alias("nation"), "n_items", "revenue_cents")
    )


@register(
    "ext_source_binaryfile",
    """
    SELECT CAST(gs.i AS BIGINT) AS doc_id,
           CAST(32 AS BIGINT) AS n_bytes,
           md5(md5(CAST(gs.i AS VARCHAR))) AS content_md5
    FROM generate_series(0, 19) gs(i)
    """,
)
def ext_source_binaryfile(spark, sf_dir):
    """`binaryFile` source — the object-store ingestion path for
    multimodal corpora (images/audio land as opaque files; Spark lists
    them distributed and yields (path, modificationTime, length,
    content) with the CONTENT column lazily read per file). Fixture:
    20 files minted driver-side, each holding the 32-byte ascii md5 of
    its id; the entry reads them back through the format (with a
    pathGlobFilter, the listing-side predicate) and digests content —
    the oracle recomputes both digest layers from the minting formula,
    so a corrupted read changes the hash. At 100 TB this scan
    parallelizes per file and prunes on path; pair with
    llm_multimodal_* for the decode stages."""
    import hashlib

    with _scratch("binsrc_") as d:
        for i in range(20):
            with open(os.path.join(d, f"{i}.bin"), "wb") as f:
                f.write(hashlib.md5(str(i).encode()).hexdigest().encode())
        # decoy that the glob filter must exclude
        with open(os.path.join(d, "ignore.txt"), "wb") as f:
            f.write(b"not a bin")
        files = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bin")
            .load(d)
        )
        return _materialize(files.select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("long").alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        ))


@register(
    "ext_merge_schema_evolution",
    """
    WITH old_batch AS (
      SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(NULL AS VARCHAR) AS etype
      FROM events WHERE event_id % 2 = 0
    ),
    new_batch AS (
      SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
             event_type AS etype
      FROM events WHERE event_id % 2 = 1
    ),
    unioned AS (SELECT * FROM old_batch UNION ALL SELECT * FROM new_batch)
    SELECT coalesce(etype, '<pre-evolution>') AS etype,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(sum(CASE WHEN etype IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing
    FROM unioned GROUP BY 1
    """,
)
def ext_merge_schema_evolution(spark, sf_dir):
    """Parquet schema evolution on read: an old batch written WITHOUT
    the `etype` column and a new batch written WITH it live in one
    table directory; `mergeSchema=true` unions the footers so old
    files surface NULL for the added column — the append-only
    evolution path a long-lived 100 TB table actually takes (no
    rewrite of historical files; the merge cost is per-FOOTER, not
    per-row, and schema-stable tables should pin the schema instead).
    The read-back rollup groups by the evolved column with a sentinel
    for pre-evolution rows; the oracle recomputes it from the logical
    source, so a wrong null-fill or dropped file changes the hash."""
    with _scratch("evolve_") as path:
        e = _t(spark, sf_dir, "events").select(
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            "event_type",
        )
        e.filter(F.col("event_id") % 2 == 0).select("event_id", "cents").write.mode(
            "append"
        ).parquet(path)
        e.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "cents", F.col("event_type").alias("etype")
        ).write.mode("append").parquet(path)
        back = spark.read.option("mergeSchema", "true").parquet(path)
        return _materialize(back.groupBy(
            F.coalesce(F.col("etype"), F.lit("<pre-evolution>")).alias("etype")
        ).agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.sum(F.when(F.col("etype").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_missing"),
        ))


@register(
    "ext_identifier_clause",
    """
    SELECT event_type, count(*) AS n,
           round(sum(value), 4) AS total
    FROM events
    WHERE user_id < 100
    GROUP BY event_type
    """,
)
def ext_identifier_clause(spark, sf_dir):
    """IDENTIFIER(:param) clause (Spark 3.4+): table AND column names
    templated through bind parameters — the injection-safe form of the
    f-string table/metric dispatch a multi-tenant query service does
    (the reference's method-per-query class dispatches on exactly such
    strings, project/db.py:187-250). Names resolve during analysis, so
    the plan is byte-identical to the hardcoded oracle form: same
    pushdown, same partial aggregate."""
    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT event_type, count(*) AS n,
               round(sum(IDENTIFIER(:metric)), 4) AS total
        FROM IDENTIFIER(:tbl)
        WHERE IDENTIFIER(:keycol) < :lo
        GROUP BY event_type
        """,
        args={"tbl": "events", "metric": "value", "keycol": "user_id", "lo": 100},
    )


# =========================================================================
# Scale toolkit: Bloom-filter join pre-filter
# =========================================================================

_BLOOM_H1 = hex_bucket_sql("md5(CAST(o_custkey AS VARCHAR))", 4)


_BLOOM_H2 = hex_bucket_sql("md5('b2|' || CAST(o_custkey AS VARCHAR))", 4)


@register(
    "ext_bloom_prefilter_join",
    f"""
    WITH keys AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 300000
    ),
    khash AS (
      SELECT o_custkey, {_BLOOM_H1} AS h1, {_BLOOM_H2} AS h2 FROM keys
    ),
    bits AS (
      SELECT h // 32 AS word, CAST(1 AS BIGINT) << (h % 32) AS v
      FROM (SELECT h1 AS h FROM khash UNION ALL SELECT h2 FROM khash)
    ),
    bloom AS (SELECT word, bit_or(v) AS bits FROM bits GROUP BY word),
    probe AS (
      SELECT o.o_custkey, {_BLOOM_H1} AS h1, {_BLOOM_H2} AS h2 FROM orders o
    ),
    flagged AS (
      SELECT p.o_custkey,
             CASE WHEN coalesce(b1.bits >> (p.h1 % 32), 0) % 2 = 1
                   AND coalesce(b2.bits >> (p.h2 % 32), 0) % 2 = 1
                  THEN 1 ELSE 0 END AS cand,
             CASE WHEN k.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM probe p
      LEFT JOIN bloom b1 ON b1.word = p.h1 // 32
      LEFT JOIN bloom b2 ON b2.word = p.h2 // 32
      LEFT JOIN keys k ON k.o_custkey = p.o_custkey
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM keys) AS n_keys,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cand) AS BIGINT) AS n_candidates,
           CAST(sum(hit) AS BIGINT) AS n_true,
           round((sum(cand) - sum(hit))
                 / CAST(count(*) - sum(hit) AS DOUBLE), 6) + 0 AS fp_rate
    FROM flagged
    """,
)
def ext_bloom_prefilter_join(spark, sf_dir):
    """Hand-rolled Bloom-filter join pre-filter — the manual form of the
    runtime filter a cluster injects for selective joins (Spark's
    spark.sql.optimizer.runtime.bloomFilter; bloom_filter_agg is not
    SQL-exposed in this build, so the filter is built from integer md5
    bit arithmetic, which also makes it exactly oracle-checkable). The
    key set (high-value urgent customers) collapses to a 64 Kib bloom:
    2 hash positions per key, words built by a partial-aggregable
    bit_or groupBy into <= 2048 (word, bits) rows that BROADCAST to the
    fact scan. Each fact row probes two broadcast-joined words with
    shift/mask arithmetic; only candidates would reach the exact join.
    At 100 TB the pre-filter drops ~(1-sel)*(1-fp) of fact bytes before
    the shuffle — the reported fp_rate (~5% at this load factor) is the
    knob the m/k sizing controls. The final exact semi-join keeps
    correctness independent of fp_rate; counts here prove both the
    candidate arithmetic and the no-false-negative invariant
    (n_true <= n_candidates always)."""
    orders = _t(spark, sf_dir, "orders")
    keys = (
        orders.filter(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 300000)
        )
        .select("o_custkey")
        .distinct()
    )
    h1 = md5_bucket(F.col("o_custkey"), 4)
    h2 = md5_bucket(F.concat(F.lit("b2|"), F.col("o_custkey").cast("string")), 4)
    khash = keys.select("o_custkey", h1.alias("h1"), h2.alias("h2"))
    bits = (
        khash.select(F.col("h1").alias("h"))
        .unionAll(khash.select(F.col("h2").alias("h")))
        .selectExpr("h DIV 32 AS word", "shiftleft(CAST(1 AS BIGINT), h % 32) AS v")
    )
    bloom = bits.groupBy("word").agg(F.expr("bit_or(v)").alias("bits"))
    probe = orders.select("o_custkey", h1.alias("h1"), h2.alias("h2"))
    b1 = bloom.selectExpr("word AS w1", "bits AS bits1")
    b2 = bloom.selectExpr("word AS w2", "bits AS bits2")
    kmark = keys.select(F.col("o_custkey").alias("k_custkey"), F.lit(1).alias("hit1"))
    flagged = (
        probe.join(F.broadcast(b1), F.expr("w1 = h1 DIV 32"), "left")
        .join(F.broadcast(b2), F.expr("w2 = h2 DIV 32"), "left")
        .join(F.broadcast(kmark), F.col("k_custkey") == F.col("o_custkey"), "left")
        .selectExpr(
            "CASE WHEN coalesce(bits1 >> (h1 % 32), 0) % 2 = 1"
            " AND coalesce(bits2 >> (h2 % 32), 0) % 2 = 1 THEN 1 ELSE 0 END AS cand",
            "coalesce(hit1, 0) AS hit",
        )
    )
    stats = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cand").cast("long").alias("n_candidates"),
        F.sum("hit").cast("long").alias("n_true"),
    )
    nk = keys.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    return stats.crossJoin(F.broadcast(nk)).selectExpr(
        "n_keys",
        "n_rows",
        "n_candidates",
        "n_true",
        "round((n_candidates - n_true) / CAST(n_rows - n_true AS DOUBLE), 6) + 0"
        " AS fp_rate",
    )


# Count-Min sketch geometry: d=4 rows (seeds), w=64 columns. Portable
# row hash: first 8 hex chars of md5(seed || ':' || key) as an integer,
# mod w — byte-identical on Spark and DuckDB, so the sketch itself is
# cross-engine exact, not just the estimates.
_CMS_D = 4


_CMS_W = 64


def _cms_b(seed: int, key_col):
    """Portable CMS row hash (Spark side): first 8 hex chars of
    md5(seed:key) as an integer, mod w — mirrors _cms_bucket_sql."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), key_col.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _CMS_W
    )


def _cms_bucket_sql(seed: int, key_expr: str) -> str:
    return (
        f"(('0x' || substr(md5('{seed}:' || CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {_CMS_W})"
    )


@register(
    "ext_count_min_sketch",
    f"""
    WITH cells AS (
      SELECT seed, bucket, count(*) AS c FROM (
        SELECT u.seed,
               CASE u.seed
                 {' '.join(f"WHEN {s} THEN {_cms_bucket_sql(s, 'user_id')}" for s in range(_CMS_D))}
               END AS bucket
        FROM events CROSS JOIN (SELECT unnest(range({_CMS_D})) AS seed) u
      ) GROUP BY seed, bucket
    ),
    probes AS (
      SELECT user_id AS probe, count(*) AS exact_n
      FROM events GROUP BY user_id ORDER BY exact_n DESC, probe ASC LIMIT 20
    ),
    fanned_probes AS (
      SELECT p.probe, p.exact_n, u.seed,
             CASE u.seed
               {' '.join(f"WHEN {s} THEN {_cms_bucket_sql(s, 'p.probe')}" for s in range(_CMS_D))}
             END AS bucket
      FROM probes p CROSS JOIN (SELECT unnest(range({_CMS_D})) AS seed) u
    ),
    est AS (
      SELECT fp.probe, fp.exact_n, min(c.c) AS cms_estimate
      FROM fanned_probes fp JOIN cells c USING (seed, bucket)
      GROUP BY fp.probe, fp.exact_n
    )
    SELECT probe, exact_n, cms_estimate,
           CAST(cms_estimate >= exact_n AS BOOLEAN) AS never_undercounts
    FROM est
    """,
)
def ext_count_min_sketch(spark, sf_dir):
    """Count-Min sketch frequency estimation with a portable md5 row
    hash: build a d=4 x w=64 sketch over events.user_id with one
    partial-aggregable groupBy (the seed fan-out is a 4x row explode
    that collapses to 256 cells map-side), then answer the top-20
    heavy-hitter probes as min-over-rows of their cells. The output
    carries the exact count next to the estimate plus the CMS
    one-sided-error invariant (estimate >= truth, always true by
    construction — checked per row, not assumed). Scale shape: the
    sketch is 256 cells regardless of input rows — THE mergeable
    pre-aggregate for per-key counts at 100 TB (cells add across
    shards/days); probes ride a broadcast join against those cells.
    Reference analog: none — the approximate companion to
    project/db.py:343's exact count-distinct family."""
    e = _t(spark, sf_dir, "events")
    # seed fan-out as a narrow Generate (explode of a 4-element literal
    # array) — no join operator at all, stays inside codegen
    seed_arr = F.array(*[F.lit(s) for s in range(_CMS_D)])
    fanned = e.select("user_id", F.explode(seed_arr).alias("seed"))
    # CASE keyed on seed so Spark and the SQL enumerate identically
    cases = F.when(F.col("seed") == 0, _cms_b(0, F.col("user_id")))
    for s in range(1, _CMS_D):
        cases = cases.when(F.col("seed") == s, _cms_b(s, F.col("user_id")))
    cells = (
        fanned.select("seed", cases.alias("bucket"))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probes = (
        e.groupBy(F.col("user_id").alias("probe"))
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("probe").asc())
        .limit(20)
    )
    pcases = F.when(F.col("seed") == 0, _cms_b(0, F.col("probe")))
    for s in range(1, _CMS_D):
        pcases = pcases.when(F.col("seed") == s, _cms_b(s, F.col("probe")))
    # fan the 20 probes over the 4 seeds so the lookup is a plain
    # (seed, bucket) equi-join — broadcast hash join, not a nested loop
    fanned_probes = probes.select(
        "probe", "exact_n", F.explode(seed_arr).alias("seed")
    ).select("probe", "exact_n", "seed", pcases.alias("bucket"))
    est = (
        cells.join(F.broadcast(fanned_probes), ["seed", "bucket"])
        .groupBy("probe", "exact_n")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.select(
        "probe",
        "exact_n",
        "cms_estimate",
        (F.col("cms_estimate") >= F.col("exact_n")).alias("never_undercounts"),
    )


@register(
    "ext_interval_merge",
    """
    WITH iv AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN s > max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           min(s) AS start_s, max(e) AS end_s,
           count(*) AS n_events, max(e) - min(s) AS span_s
    FROM islands GROUP BY user_id, island
    """,
)
def ext_interval_merge(spark, sf_dir):
    """Merge overlapping per-user activity intervals (each event claims
    [ts, ts+300s]) into maximal islands — the interval-union variant
    the gap/island family (ext_gap_islands, ext_session_windows) was
    missing: an island boundary opens only where an interval STARTS
    after the running max of all previous ENDS, which differs from
    gap-sessionization whenever an early long interval swallows later
    short ones. Epoch-second integers end to end, so the window max and
    cumulative flag sum are exact on both engines. Scale shape: one
    hash shuffle on user_id, then two sorted window passes inside each
    partition — no self-join, no explode; at 100 TB this is the
    standard plan for machine-uptime / coverage merging."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").cast("long").alias("s"),
        (F.unix_timestamp("ts").cast("long") + 300).alias("e"),
    )
    # event_id tiebreak makes the ordering TOTAL: with exact (s, e)
    # ties, an engine may re-sort ties between the two window passes
    # (DuckDB did at the tie-dense 10x replica), detaching the
    # island-open flag from the row the cumulative sum visits first
    order = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    prev = order.rowsBetween(Window.unboundedPreceding, -1)
    run = order.rowsBetween(Window.unboundedPreceding, 0)
    flagged = e.withColumn(
        "new_island",
        F.when(F.col("s") > F.max("e").over(prev), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island", F.sum("new_island").over(run).cast("long")
    )
    return islands.groupBy("user_id", "island").agg(
        F.min("s").alias("start_s"),
        F.max("e").alias("end_s"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("e") - F.min("s")).alias("span_s"),
    )


@register(
    "ext_holt_linear",
    """
    WITH RECURSIVE d AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS x FROM events GROUP BY 1
    ),
    s AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM d),
    h AS (
      SELECT rn, day, x, CAST(x AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.rn, s.day, s.x,
             CAST(0.5 AS DOUBLE) * s.x + CAST(0.5 AS DOUBLE) * (h.l + h.b),
             CAST(0.3 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * s.x
                                     + CAST(0.5 AS DOUBLE) * (h.l + h.b)) - h.l)
               + CAST(0.7 AS DOUBLE) * h.b
      FROM h JOIN s ON s.rn = h.rn + 1
    )
    SELECT day, x, l + 0 AS level, b + 0 AS trend,
           (l + b) + 0 AS forecast_next
    FROM h
    """,
)
def ext_holt_linear(spark, sf_dir):
    """Holt's linear-trend double exponential smoothing (alpha=0.5,
    beta=0.3) over the daily event-count series — the trend-aware
    upgrade of ext_ewma_smoothing. The series values are integer day
    counts (one partial-aggregable groupBy), so the sequential fold —
    Spark: a single-row array aggregate() appending (level, trend)
    states; DuckDB: a recursive CTE walking rn+1 — performs the
    IDENTICAL double arithmetic in the identical order on both
    engines, so the raw doubles match bitwise and ship unrounded
    (rounding onto a fixed grid can land exactly ON a .5 boundary,
    where the engines' rounding algorithms disagree). Scale shape: the
    recursion runs on the collapsed per-day table (|days| rows, bounded
    by calendar time, not data volume — 36.5k rows after a century);
    the 100 TB cost is entirely in the first groupBy, which is
    map-side combinable. Reference analog: none (its time features
    stop at calendar extraction, project/db.py:373)."""
    d = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    folded = d.agg(
        F.array_sort(F.collect_list(F.struct("day", "x"))).alias("s")
    ).select(
        F.expr(
            """
            aggregate(
              slice(s, 2, greatest(size(s) - 1, 0)),
              array(named_struct(
                'day', element_at(s, 1).day, 'x', element_at(s, 1).x,
                'l', CAST(element_at(s, 1).x AS DOUBLE),
                'b', CAST(0.0 AS DOUBLE))),
              (acc, e) -> array_append(acc, named_struct(
                'day', e.day, 'x', e.x,
                'l', 0.5D * e.x + 0.5D * (element_at(acc, -1).l
                                          + element_at(acc, -1).b),
                'b', 0.3D * ((0.5D * e.x + 0.5D * (element_at(acc, -1).l
                                                   + element_at(acc, -1).b))
                             - element_at(acc, -1).l)
                     + 0.7D * element_at(acc, -1).b))
            ) AS states
            """
        )
    )
    # outputs stay UNROUNDED: the fold's operation tree is identical on
    # both engines (sequential over the same exact integers), so the raw
    # doubles hash-match — while round(x, 6) of a value landing exactly
    # ON a .5 grid point diverges between engines (the tpch_q2 lesson;
    # the 10x replica hit this on forecast_next)
    st = folded.select(F.explode("states").alias("st"))
    return st.select(
        F.col("st.day").alias("day"),
        F.col("st.x").alias("x"),
        (F.col("st.l") + 0).alias("level"),
        (F.col("st.b") + 0).alias("trend"),
        (F.col("st.l") + F.col("st.b") + 0).alias("forecast_next"),
    )


@register(
    "ext_cusum_changepoint",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS x FROM events GROUP BY 1
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS total FROM d),
    c AS (
      SELECT day, x,
             row_number() OVER (ORDER BY day) AS i,
             CAST(sum(x) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM d
    ),
    dev AS (
      SELECT day, x, i, cum,
             abs(CAST(n AS BIGINT) * cum - i * total) AS ndev
      FROM c CROSS JOIN t
    ),
    m AS (SELECT max(ndev) AS mx FROM dev)
    SELECT d.day AS change_day, d.x AS day_count,
           CAST(d.cum AS BIGINT) AS cum_events,
           CAST(d.ndev AS BIGINT) AS scaled_max_dev,
           round(CAST(d.ndev AS DOUBLE) / n, 4) + 0 AS max_dev
    FROM dev d CROSS JOIN m CROSS JOIN t
    WHERE d.ndev = m.mx
    ORDER BY d.day LIMIT 1
    """,
)
def ext_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint detection on the daily event-count series:
    the day maximizing |cumsum(x) - i*mean| — where the running total
    most departs from the uniform-rate line — is the classic
    level-shift estimator. The deviation is computed SCALED BY n
    (n*cumsum - i*total), so the argmax runs entirely on exact
    BIGINTs; only the reported max_dev divides back to a double. One
    partial-aggregable groupBy collapses the stream to |days| rows;
    the cumulative window, broadcast totals, and argmax all run on
    that calendar-bounded table. The earliest-day tiebreak is pinned
    on both engines. Reference analog: none — the drift-alarm
    companion to ml_ks_drift for time-ordered rates."""
    d = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    t = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("total"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("day")
    c = d.select(
        "day",
        "x",
        F.row_number().over(w).alias("i"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum"),
    )
    dev = c.crossJoin(F.broadcast(t)).select(
        "day",
        "x",
        "i",
        "cum",
        "n",
        F.abs(F.col("n") * F.col("cum") - F.col("i") * F.col("total")).alias("ndev"),
    )
    m = dev.agg(F.max("ndev").alias("mx"))
    return (
        dev.crossJoin(F.broadcast(m))
        .filter(F.col("ndev") == F.col("mx"))
        .orderBy("day")
        .limit(1)
        .select(
            F.col("day").alias("change_day"),
            F.col("x").alias("day_count"),
            F.col("cum").alias("cum_events"),
            F.col("ndev").cast("long").alias("scaled_max_dev"),
            (F.round(F.col("ndev").cast("double") / F.col("n"), 4) + 0).alias(
                "max_dev"
            ),
        )
    )


@register(
    "ext_source_text",
    """
    WITH lines AS (
      SELECT coalesce(regexp_replace(text, '[\\r\\n]+', ' ', 'g'), '') AS line
      FROM documents
    )
    SELECT count(*) AS n_lines,
           CAST(sum(length(line)) AS BIGINT) AS sum_chars,
           count(DISTINCT line) AS n_distinct,
           CAST(sum(('0x' || substr(md5(line), 1, 8))::BIGINT) AS BIGINT)
             AS md5_digest
    FROM lines
    """,
)
def ext_source_text(spark, sf_dir):
    """Plain-text file source round trip (the last cell of the source
    matrix: CSV/JSONL/ORC/XML/parquet/binaryFile/Python-DataSource +
    text): document bodies are newline-normalized (a text line IS the
    record delimiter — un-normalized embedded newlines would silently
    split records), written with write.text, read back with
    spark.read.text, and digested (line count, char mass, distinct
    lines, order-insensitive md5 sum) against an oracle that
    recomputes the same digests straight from the table. Scale shape:
    narrow write + narrow scan, no shuffle until the 1-row digest
    aggregate; text is the raw-corpus interchange format an LLM
    pipeline ingests by the shard."""
    with _scratch("text_src_") as path:
        # coalesce NULL bodies to '' — the text writer requires a
        # non-null value column (regexp_replace propagates null)
        src = _t(spark, sf_dir, "documents").select(
            F.coalesce(
                F.regexp_replace("text", r"[\r\n]+", " "), F.lit("")
            ).alias("value")
        )
        src.write.mode("overwrite").text(path)
        back = spark.read.text(path)
        return _materialize(back.agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.length("value")).alias("sum_chars"),
            F.countDistinct("value").alias("n_distinct"),
            F.sum(
                F.conv(F.substring(F.md5("value"), 1, 8), 16, 10).cast("long")
            ).alias("md5_digest"),
        ))


_DEC = "decimal(38,0)"


# --- AQE runtime skew-join (the automatic complement of ext_salted_join) ----


@register(
    "ext_aqe_skew_join",
    """
    SELECT n_name, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM (SELECT CASE WHEN user_id % 25 < 22 THEN 0
                      ELSE user_id % 25 END AS k,
                 value
          FROM events) f
    JOIN nation ON f.k = n_nationkey
    GROUP BY n_name
    """,
)
def ext_aqe_skew_join(spark, sf_dir):
    """Hot-key join left to AQE's runtime skew split: ~88% of the fact
    rows share key 0, and instead of the manual salt+replicate rewrite
    (ext_salted_join) the merge-hinted sort-merge join relies on
    `spark.sql.adaptive.skewJoin` to split the oversized partition at
    runtime (dim rows are replicated to each split by AQE — the salt
    transform, applied automatically and only where the runtime stats
    demand it). At test SF the hot partition sits under the 256 MB
    default threshold, so the value here is the semantics row; the
    plan-level proof that the split fires under realistic sizes is
    tests/test_plan_shapes.py::test_aqe_skew_join_split. At 100 TB
    this entry's plan is exactly the one AQE rewrites."""
    e = _t(spark, sf_dir, "events")
    f = e.select(
        F.when(F.col("user_id") % 25 < 22, F.lit(0))
        .otherwise(F.col("user_id") % 25)
        .alias("k"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        f.join(n.hint("merge"), f.k == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("cents").cast(_DEC)).cast("long").alias("sum_cents"),
        )
    )


# --- skyline / Pareto frontier ----------------------------------------------


@register(
    "ext_skyline_pareto",
    """
    WITH pairs AS (
      SELECT CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS size,
             count(*) AS n_parts
      FROM part GROUP BY 1, 2
    )
    SELECT p.price_cents, p.size, CAST(p.n_parts AS BIGINT) AS n_parts
    FROM pairs p
    WHERE NOT EXISTS (
      SELECT 1 FROM pairs q
      WHERE q.price_cents <= p.price_cents AND q.size >= p.size
        AND (q.price_cents < p.price_cents OR q.size > p.size)
    )
    """,
)
def ext_skyline_pareto(spark, sf_dir):
    """Skyline (Pareto frontier) of parts: the (price, size) pairs not
    dominated by any cheaper-and-at-least-as-big alternative — the
    classic multi-criteria OLAP operator Spark has no built-in for.
    The engine side is the sort-based skyline: collapse to distinct
    pairs (partial-aggregable), keep the max size per price level,
    then ONE running-max window ordered by price — a pair survives iff
    its size strictly exceeds every strictly-cheaper level's best.
    O(|distinct prices|) after the first groupBy; the ORACLE is the
    textbook quadratic NOT EXISTS, and that asymmetry is the point:
    the distributed plan never goes O(n^2) (the same
    candidate-bounding discipline as the LSH dedup stack). Dominance
    runs on exact integer cents/sizes, so the frontier is unambiguous
    cross-engine. Reference analog: none."""
    p = _t(spark, sf_dir, "part")
    pairs = p.groupBy(
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    best = pairs.groupBy("price_cents").agg(F.max("size").alias("smax"))
    w = Window.orderBy("price_cents").rowsBetween(Window.unboundedPreceding, -1)
    frontier = (
        best.select(
            F.col("price_cents").alias("f_price"),
            F.col("smax"),
            F.max("smax").over(w).alias("prev_max"),
        )
        .filter(F.col("prev_max").isNull() | (F.col("smax") > F.col("prev_max")))
        .select("f_price", "smax")
    )
    return (
        pairs.join(
            frontier,
            (pairs.price_cents == frontier.f_price)
            & (pairs.size == frontier.smax),
        )
        .select("price_cents", "size", "n_parts")
    )


# --- seasonal day-of-week decomposition -------------------------------------


@register(
    "ext_seasonal_dow_index",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS x FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nd_all,
                   CAST(sum(x) AS BIGINT) AS x_all FROM d),
    dw AS (
      SELECT CAST(isodow(day) AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS events
      FROM d GROUP BY 1
    )
    SELECT dow, n_days, events,
           CAST(events AS DOUBLE) * CAST(nd_all AS DOUBLE)
             / (CAST(n_days AS DOUBLE) * CAST(x_all AS DOUBLE))
             AS seasonal_index
    FROM dw CROSS JOIN tot
    """,
)
def ext_seasonal_dow_index(spark, sf_dir):
    """Day-of-week seasonal indices (dow mean rate / grand mean rate)
    over the daily event-count series — the weekly-seasonality screen
    that pairs with ext_autocorrelation (which detects it) and
    ext_holt_linear (which smooths through it). All masses are exact
    integers from two partial-aggregable groupBys; each index is ONE
    fixed IEEE formula (a*b)/(c*d) over exact integers, deterministic
    cross-engine with no rounding pin. ISO weekday numbering is pinned
    on both engines (Spark weekday()+1 == DuckDB isodow: 1=Monday).
    Scale shape: day-keyed partial agg collapses the stream to
    calendar-bounded rows; everything downstream is tiny. Reference
    analog: the dow/hour feature extraction at project/db.py:373, as
    an actual decomposition instead of raw features."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("long").alias("nd_all"),
        F.sum("x").cast("long").alias("x_all"),
    )
    dw = d.groupBy((F.weekday("day") + 1).cast("long").alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("events"),
    )
    return dw.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n_days",
        "events",
        (
            F.col("events").cast("double")
            * F.col("nd_all").cast("double")
            / (F.col("n_days").cast("double") * F.col("x_all").cast("double"))
        ).alias("seasonal_index"),
    )


# --- LIMIT/OFFSET pagination -------------------------------------------------


@register(
    "ext_offset_clause",
    """
    SELECT c_custkey, c_name,
           CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents
    FROM customer
    ORDER BY acctbal_cents DESC, c_custkey ASC
    LIMIT 10 OFFSET 20
    """,
)
def ext_offset_clause(spark, sf_dir):
    """LIMIT/OFFSET pagination (page 3 of the balance leaderboard)
    with a TOTAL deterministic sort (integer cents + unique-key
    tiebreak — an OFFSET without one returns engine-dependent pages).
    Spark plans this as TakeOrderedAndProject with a skip: each
    partition contributes its local top-(limit+offset), the driver
    merges and drops the offset — no global sort. At 100 TB deep
    paging (OFFSET 10^9) is an anti-pattern; the keyset-pagination
    replacement (WHERE (bal, key) < last-seen) is the same plan as
    ref_top_k, which is why only the shallow-page surface lives
    here. Reference analog: the client-side row slicing after
    fetchall (project/db.py:237-246)."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            "c_name",
            F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias(
                "acctbal_cents"
            ),
        )
        .orderBy(F.col("acctbal_cents").desc(), F.col("c_custkey").asc())
        .offset(20)
        .limit(10)
    )


# --- unionByName schema alignment -------------------------------------------


@register(
    "ext_union_by_name",
    """
    SELECT event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS cents,
           'full' AS src
    FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT event_id, event_type, CAST(NULL AS BIGINT) AS cents,
           'slim' AS src
    FROM events WHERE event_type = 'error'
    """,
)
def ext_union_by_name(spark, sf_dir):
    """unionByName(allowMissingColumns=True): the by-NAME set op that
    aligns differently-ordered projections and null-fills columns one
    side lacks — the schema-drift-tolerant append a long-lived
    pipeline needs when shards were written by different code
    versions (positional UNION would silently misalign). The slim
    side deliberately carries its columns in a DIFFERENT order and no
    cents column; the oracle spells out the explicit aligned/NULL
    projection Spark derives. Narrow op — no shuffle, both branches
    scan-prune to their filters."""
    e = _t(spark, sf_dir, "events")
    full = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.lit("full").alias("src"),
    )
    slim = e.filter(F.col("event_type") == "error").select(
        F.lit("slim").alias("src"),
        F.col("event_type"),
        F.col("event_id"),
    )
    return full.unionByName(slim, allowMissingColumns=True)


# --- nearest as-of join (completes the backward/forward family) -------------


@register(
    "ext_asof_join_nearest",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    v AS (SELECT * FROM events WHERE event_type = 'view'),
    b AS (
      SELECT p.event_id,
             first(v.event_id ORDER BY v.ts DESC, v.event_id) AS b_id,
             first(epoch_us(v.ts) ORDER BY v.ts DESC, v.event_id) AS b_us
      FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
      GROUP BY p.event_id
    ),
    f AS (
      SELECT p.event_id,
             first(v.event_id ORDER BY v.ts ASC, v.event_id) AS f_id,
             first(epoch_us(v.ts) ORDER BY v.ts ASC, v.event_id) AS f_us
      FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts
      GROUP BY p.event_id
    )
    SELECT p.event_id, p.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS ts_us,
           CAST(CASE
             WHEN b_id IS NULL AND f_id IS NULL THEN NULL
             WHEN f_id IS NULL THEN b_id
             WHEN b_id IS NULL THEN f_id
             WHEN epoch_us(p.ts) - b_us <= f_us - epoch_us(p.ts) THEN b_id
             ELSE f_id END AS BIGINT) AS nearest_event_id,
           CAST(CASE
             WHEN b_id IS NULL AND f_id IS NULL THEN NULL
             WHEN f_id IS NULL THEN epoch_us(p.ts) - b_us
             WHEN b_id IS NULL THEN f_us - epoch_us(p.ts)
             WHEN epoch_us(p.ts) - b_us <= f_us - epoch_us(p.ts)
               THEN epoch_us(p.ts) - b_us
             ELSE f_us - epoch_us(p.ts) END AS BIGINT) AS nearest_dist_us
    FROM p LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id)
    """,
)
def ext_asof_join_nearest(spark, sf_dir):
    """Nearest as-of join — for each purchase, the view closest in
    time in EITHER direction, ties broken backward then by smallest
    event_id: completes the as-of family (backward `ext_asof_join`,
    forward `ext_asof_join_forward`). Composed from the two
    union+window passes (operators/joins.py) carrying the candidate
    timestamp, then an exact integer-microsecond distance pick — no
    floats, no partition-order dependence (the forward twin's 10x
    tiebreak lesson baked in from the start). Scale shape: two
    user_id-keyed window passes (a fused implementation could share
    one sort; two passes keep the proven helpers); distance math is
    per-row narrow. The kdb `aj`-nearest / pandas merge_asof
    (direction='nearest') semantics. Reference analog: none."""
    from ..operators.joins import asof_join, asof_join_forward

    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", F.col("ts").alias("vts")
    ).select("event_id", "user_id", "ts", "vts")
    back = asof_join(
        p, v.select("user_id", "ts", F.col("event_id").alias("vid"), "vts"),
        "user_id", "ts", "ts", ["vid", "vts"], right_tiebreak="vid",
    ).select(
        "event_id", "user_id", "ts",
        F.col("asof_vid").alias("b_id"),
        # events.ts is TIMESTAMP_NTZ; cast to instant (value-identical
        # under the UTC session zone) for exact integer micros
        F.unix_micros(F.col("asof_vts").cast("timestamp")).alias("b_us"),
    )
    fwd = asof_join_forward(
        p, v.select("user_id", "ts", F.col("event_id").alias("vid"), "vts"),
        "user_id", "ts", "ts", ["vid", "vts"], right_tiebreak="vid",
    ).select(
        F.col("event_id").alias("f_event_id"),
        F.col("next_vid").alias("f_id"),
        F.unix_micros(F.col("next_vts").cast("timestamp")).alias("f_us"),
    )
    j = back.join(fwd, back.event_id == fwd.f_event_id, "left")
    pus = F.unix_micros(F.col("ts").cast("timestamp"))
    bd = pus - F.col("b_us")
    fd = F.col("f_us") - pus
    both_null = F.col("b_id").isNull() & F.col("f_id").isNull()
    pick_b = F.col("f_id").isNull() | (
        F.col("b_id").isNotNull() & (bd <= fd)
    )
    return j.select(
        "event_id",
        "user_id",
        pus.cast("long").alias("ts_us"),
        F.when(both_null, F.lit(None).cast("long"))
        .when(pick_b, F.col("b_id"))
        .otherwise(F.col("f_id"))
        .cast("long")
        .alias("nearest_event_id"),
        F.when(both_null, F.lit(None).cast("long"))
        .when(pick_b, bd)
        .otherwise(fd)
        .cast("long")
        .alias("nearest_dist_us"),
    )


# --- deterministic mode aggregate -------------------------------------------


@register(
    "ext_mode_aggregate",
    """
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           first(cents ORDER BY cnt DESC, cents ASC) AS mode_cents,
           CAST(first(cnt ORDER BY cnt DESC, cents ASC) AS BIGINT) AS mode_count,
           CAST(count(*) AS BIGINT) AS n_distinct
    FROM c GROUP BY event_type
    """,
)
def ext_mode_aggregate(spark, sf_dir):
    """Statistical mode per group with a PINNED tie rule (highest
    count, then smallest value) — both engines ship a native mode()
    whose tie choice is unspecified/engine-dependent, so the portable
    formulation is the count-then-argmax: one partial-aggregable
    groupBy collapses the facts to (group, value, count), then a
    per-group WindowGroupLimit top-1 picks deterministically. Scale
    shape: the candidate table is bounded by distinct (group, value)
    pairs; nothing data-sized past the first combine. Reference
    analog: none (its aggregates stop at min/max/avg/count,
    project/db.py:331-339)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    c = e.groupBy(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("cents").asc()
    )
    nd = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct")
    )
    top = (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("cents").alias("mode_cents"),
            F.col("cnt").cast("long").alias("mode_count"),
        )
    )
    return top.join(nd, "event_type")


# --- CDC snapshot diff -------------------------------------------------------


@register(
    "ext_snapshot_diff_cdc",
    """
    WITH old AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 10 < 7
    ),
    new AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 100 = 55 THEN 'X' ELSE o_orderstatus END AS st,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               + CASE WHEN o_orderkey % 100 = 44 THEN 1 ELSE 0 END AS cents
      FROM orders WHERE o_orderkey % 10 > 2
    )
    SELECT change,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(k) AS BIGINT) AS key_digest
    FROM (
      SELECT coalesce(o.k, n.k) AS k,
             CASE WHEN o.k IS NULL THEN 'insert'
                  WHEN n.k IS NULL THEN 'delete'
                  WHEN o.st <> n.st OR o.cents <> n.cents THEN 'update'
                  ELSE 'unchanged' END AS change
      FROM old o FULL OUTER JOIN new n ON o.k = n.k
    ) GROUP BY change
    """,
)
def ext_snapshot_diff_cdc(spark, sf_dir):
    """Snapshot-diff change-data-capture: given two table versions
    (deterministically derived old/new slices with status flips and
    cent bumps injected INSIDE the key overlap), classify every key as insert / delete /
    update / unchanged via ONE full outer join on the key plus a
    column compare — the diff step of a snapshot-based CDC pipeline
    (the batch complement of stream_update_mode_upsert's CDC-out, and
    what feeds ext_merge_upsert's MERGE). At 100 TB both sides
    bucket/partition by the key so the outer join is co-located
    (ext_bucketed_join_colocated's layout move); with deletion-vector
    formats the delete class arrives for free, which is out of this
    container's scope and documented here instead. Row identity is
    pinned by exact integers (keys, cents), so the class counts and
    key digests are engine-exact."""
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    old = o.filter(F.col("o_orderkey") % 10 < 7).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        cents.alias("cents"),
    )
    new = o.filter(F.col("o_orderkey") % 10 > 2).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 100 == 55, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("st"),
        (cents + F.when(F.col("o_orderkey") % 100 == 44, 1).otherwise(0)).alias(
            "cents"
        ),
    )
    j = old.alias("o").join(new.alias("n"), F.col("o.k") == F.col("n.k"), "full_outer")
    classified = j.select(
        F.coalesce(F.col("o.k"), F.col("n.k")).alias("k"),
        F.when(F.col("o.k").isNull(), "insert")
        .when(F.col("n.k").isNull(), "delete")
        .when(
            (F.col("o.st") != F.col("n.st")) | (F.col("o.cents") != F.col("n.cents")),
            "update",
        )
        .otherwise("unchanged")
        .alias("change"),
    )
    return classified.groupBy("change").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("key_digest"),
    )


# --- mergeable heavy-hitters sketch (accumulate / combine / estimate) -------


@register(
    "ext_approx_top_k_sketch_merge",
    """
    WITH words AS (
      SELECT source,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    )
    SELECT w AS item, CAST(count(*) AS BIGINT) AS cnt
    FROM words GROUP BY w
    ORDER BY cnt DESC, item ASC LIMIT 5
    """,
)
def ext_approx_top_k_sketch_merge(spark, sf_dir):
    """Mergeable heavy-hitters: per-SOURCE partial approx_top_k
    sketches accumulated in one pass, COMBINED into a single sketch,
    then estimated — the Spark-4 accumulate/combine/estimate API that
    makes the frequency sketch re-aggregable exactly like a rollup
    partial (the 100 TB shape: each shard/day keeps a tiny sketch,
    the global top-k is a combine over sketches, and NO re-scan of
    history is ever needed — the sketch sibling of
    ext_incremental_rollup). At this vocabulary (31 synthetic words,
    sketch capacity 64 >> vocab) the estimates are EXACT, so the
    oracle is the exact top-5; the top-10 estimate is re-sorted with
    the (count desc, item asc) tiebreak before the cut so boundary
    ties are pinned. On heavy-tailed data the check would become an
    invariant (estimate >= true count - error bound) instead."""
    d = _t(spark, sf_dir, "documents")
    from ..llm.textstats import words_col

    words = d.select(
        "source", F.explode(words_col(F.col("text"))).alias("w")
    )
    partial = words.groupBy("source").agg(
        F.expr("approx_top_k_accumulate(w, 64)").alias("sk")
    )
    combined = partial.agg(F.expr("approx_top_k_combine(sk, 64)").alias("sk"))
    est = combined.select(
        F.explode(F.expr("approx_top_k_estimate(sk, 10)")).alias("e")
    ).select(F.col("e.item").alias("item"), F.col("e.count").alias("cnt"))
    return est.orderBy(F.desc("cnt"), F.asc("item")).limit(5)


# --- map higher-order functions (transform_values/map_filter/map_zip_with) --


@register(
    "ext_map_higher_order",
    """
    WITH g AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
      FROM events GROUP BY user_id, event_type
    ),
    u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_types_total,
             CAST(sum(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_types_big
      FROM g GROUP BY user_id
    )
    SELECT g.user_id, g.event_type, g.n,
           CAST(g.s // g.n AS BIGINT) AS avg_cents,
           u.n_types_total, u.n_types_big
    FROM g JOIN u USING (user_id)
    WHERE g.n >= 3
    """,
)
def ext_map_higher_order(spark, sf_dir):
    """Map higher-order functions — map_from_entries, map_zip_with
    (count-map x sum-map -> integer-div average map), map_filter
    (drop sparse keys), map_keys/size — the map-typed lambda family
    the array higher-order entry (ext_higher_order_funcs) doesn't
    touch. The per-user maps are built from unique keys so collect
    order cannot matter, every derived value is an exact integer, and
    the final explode projects the maps back to rows — which is the
    point the oracle makes: the map plumbing is pure representation,
    the relational answer is unchanged (the oracle never builds a
    map). All lambdas run in codegen; one user-keyed exchange feeds
    both the map build and the per-user totals. Reference analog: the
    JSONB props introspection at project/db.py (maps as the typed
    upgrade)."""
    e = _t(spark, sf_dir, "events")
    g = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("s"),
    )
    maps = g.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m_n"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "s"))
        ).alias("m_s"),
    )
    derived = maps.select(
        "user_id",
        F.expr("map_zip_with(m_n, m_s, (k, n, s) -> s div n)").alias("m_avg"),
        F.expr("map_filter(m_n, (k, v) -> v >= 3)").alias("m_big"),
        F.size("m_n").cast("long").alias("n_types_total"),
        F.expr("CAST(size(map_filter(m_n, (k, v) -> v >= 3)) AS BIGINT)").alias(
            "n_types_big"
        ),
    )
    ex = derived.select(
        "user_id",
        "n_types_total",
        "n_types_big",
        F.explode(F.expr("map_zip_with(m_big, m_avg, (k, n, a) -> struct(n, a))")).alias(
            "event_type", "v"
        ),
    ).filter(F.col("v.n").isNotNull())
    return ex.select(
        "user_id",
        "event_type",
        F.col("v.n").alias("n"),
        F.col("v.a").alias("avg_cents"),
        "n_types_total",
        "n_types_big",
    )


# --- as-of join with a match tolerance ---------------------------------------


@register(
    "ext_asof_join_tolerance",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    v AS (SELECT * FROM events WHERE event_type = 'view'),
    b AS (
      SELECT p.event_id,
             first(v.event_id ORDER BY v.ts DESC, v.event_id) AS b_id,
             first(epoch_us(v.ts) ORDER BY v.ts DESC, v.event_id) AS b_us
      FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
      GROUP BY p.event_id
    )
    SELECT p.event_id, p.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS ts_us,
           CAST(CASE WHEN epoch_us(p.ts) - b_us <= 3600000000
                     THEN b_id END AS BIGINT) AS asof_event_id,
           CAST(CASE WHEN epoch_us(p.ts) - b_us <= 3600000000
                     THEN epoch_us(p.ts) - b_us END AS BIGINT) AS age_us
    FROM p LEFT JOIN b USING (event_id)
    """,
)
def ext_asof_join_tolerance(spark, sf_dir):
    """Backward as-of join with a MATCH TOLERANCE (1 hour): a stale
    quote is worse than no quote, so carries older than the tolerance
    become NULL — pandas merge_asof(tolerance=...), kdb `wj` window
    semantics; the staleness guard every real-time feature store
    applies to point-in-time lookups. Implementation: the proven
    union+window backward pass carries the candidate timestamp, and
    the tolerance is ONE narrow null-out predicate on exact integer
    microseconds — no extra shuffle over the plain as-of. Completes
    the as-of matrix: backward / forward / nearest / tolerance."""
    from ..operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("vid"), F.col("ts").alias("vts")
    )
    back = asof_join(
        p, v, "user_id", "ts", "ts", ["vid", "vts"], right_tiebreak="vid"
    )
    pus = F.unix_micros(F.col("ts").cast("timestamp"))
    age = pus - F.unix_micros(F.col("asof_vts").cast("timestamp"))
    in_tol = age <= 3600000000
    return back.select(
        "event_id",
        "user_id",
        pus.cast("long").alias("ts_us"),
        F.when(in_tol, F.col("asof_vid")).cast("long").alias("asof_event_id"),
        F.when(in_tol, age).cast("long").alias("age_us"),
    )


# --- sequence pattern matching: V-shape detection -----------------------------


@register(
    "ext_sequence_pattern_vshape",
    """
    WITH o AS (
      SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS c,
             lag(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p1,
             lag(CAST(round(value * 100) AS BIGINT), 2)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p2
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_vshapes,
           CAST(min(event_id) AS BIGINT) AS first_v_event,
           CAST(sum(c - p1) AS BIGINT) AS total_rebound_cents
    FROM o
    WHERE p2 IS NOT NULL AND p1 < p2 AND c > p1
    GROUP BY user_id
    """,
)
def ext_sequence_pattern_vshape(spark, sf_dir):
    """Row-pattern matching (the MATCH_RECOGNIZE family Spark lacks):
    detect V-shapes — a strict drop followed by a rebound — in each
    user's time-ordered value sequence, reporting per-user pattern
    counts and rebound mass. Fixed-length patterns compile to pure
    lag() windows (one user-keyed sort, zero joins, zero explode);
    variable-length patterns would extend this with the
    gaps-and-islands machinery (ext_gap_islands). All comparisons run
    on exact integer cents with a (ts, event_id) total order, so the
    match set is engine-exact. Scale shape: one window pass over the
    fact table, then a partial-aggregable per-user rollup. Reference
    analog: none (the classic FINRA/trade-surveillance query)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = F.round(F.col("value") * 100).cast("long")
    o = e.select(
        "user_id",
        "event_id",
        c.alias("c"),
        F.lag(c).over(w).alias("p1"),
        F.lag(c, 2).over(w).alias("p2"),
    )
    hits = o.filter(
        F.col("p2").isNotNull() & (F.col("p1") < F.col("p2")) & (F.col("c") > F.col("p1"))
    )
    return hits.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vshapes"),
        F.min("event_id").cast("long").alias("first_v_event"),
        F.sum(F.col("c") - F.col("p1")).cast("long").alias("total_rebound_cents"),
    )


# Exact half-up cents from a double value — the per-row-cents doctrine
# (see tpch_q19 / ext_join_theta): floor(x*100 + 0.5) is the same single
# IEEE expression on both engines, and every aggregate after it is BIGINT.
# (A function, not a module constant: F.expr needs an active session.)
_CENTS_SQL = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


def _cents():
    return F.expr(_CENTS_SQL)


# --- OHLC resampling ---------------------------------------------------------


@register(
    "ext_resample_ohlc",
    f"""
    WITH px AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bar_t,
             {_CENTS_SQL} AS cents, ts, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    rn AS (
      SELECT bar_t, cents,
             row_number() OVER (PARTITION BY bar_t ORDER BY ts, event_id) AS r,
             count(*) OVER (PARTITION BY bar_t) AS c
      FROM px
    )
    SELECT bar_t,
           max(CASE WHEN r = 1 THEN cents END) AS open_cents,
           max(cents) AS high_cents,
           min(cents) AS low_cents,
           max(CASE WHEN r = c THEN cents END) AS close_cents,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS vol_cents
    FROM rn GROUP BY bar_t
    """,
)
def ext_resample_ohlc(spark, sf_dir):
    """Hourly OHLC (open/high/low/close) bars over the purchase value
    stream — the canonical downsampling operator for tick/telemetry
    data. Open/close need a total per-bar event order: (ts, event_id)
    is the unique tiebreak (two-pass-window doctrine), and both rank
    and count ride ONE window partition/sort, so the plan is a single
    hash shuffle on bar_t plus one sort — no second exchange.
    Exactness: values become half-up cents BEFORE any aggregation
    (floor(v*100+0.5), identical IEEE expression both engines), so
    open/high/low/close/volume are all BIGINT — no float order
    sensitivity at any partitioning. Scale shape: shuffle keyed on the
    hour bucket (dense, non-skewed); output is calendar-bounded.
    Reference analog: the reference's pandas resample-style rollups in
    project/database_and_model_tools.py:95-130 (hourly aggregates)."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    px = e.select(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
        .cast("long")
        .alias("bar_t"),
        _cents().alias("cents"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("bar_t").orderBy("ts", "event_id")
    wc = Window.partitionBy("bar_t")
    rn = px.select(
        "bar_t",
        "cents",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(wc).alias("c"),
    )
    return rn.groupBy("bar_t").agg(
        F.max(F.when(F.col("r") == 1, F.col("cents"))).alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max(F.when(F.col("r") == F.col("c"), F.col("cents"))).alias(
            "close_cents"
        ),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("vol_cents"),
    )


# --- linear interpolation on an hourly spine ---------------------------------


@register(
    "ext_interpolate_linear",
    f"""
    WITH sparse AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS t,
             CAST(sum({_CENTS_SQL}) AS BIGINT) AS obs_cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    bounds AS (SELECT min(t) AS lo, max(t) AS hi FROM sparse),
    spine AS (SELECT unnest(generate_series(lo, hi, 3600)) AS t FROM bounds),
    j AS (
      SELECT spine.t, sparse.obs_cents FROM spine
      LEFT JOIN sparse ON spine.t = sparse.t
    ),
    nb AS (
      SELECT t, obs_cents,
             last_value(obs_cents IGNORE NULLS) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
             last_value(CASE WHEN obs_cents IS NOT NULL THEN t END
               IGNORE NULLS) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(obs_cents IGNORE NULLS) OVER (ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc,
             first_value(CASE WHEN obs_cents IS NOT NULL THEN t END
               IGNORE NULLS) OVER (ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM j
    )
    SELECT t, obs_cents,
           CASE WHEN obs_cents IS NOT NULL THEN obs_cents
                ELSE pc + ((nc - pc) * (t - pt)) // (nt - pt)
           END AS filled_cents
    FROM nb
    """,
)
def ext_interpolate_linear(spark, sf_dir):
    """Linear (time-weighted) interpolation of interior gaps in the
    hourly purchase-cents series, on an explicit hour spine built with
    sequence()/generate_series — the gap-fill operator beyond
    ext_gap_fill_ffill's step-carry: missing hours get the straight
    line between the previous and next observed hours. Exactness: the
    sparse series is an exact BIGINT cents sum; the interpolant is an
    all-integer expression pc + ((nc-pc)*(t-pt)) div (nt-pt), and
    Spark's `div` and DuckDB's `//` BOTH truncate toward zero
    (verified incl. negative numerators), so no float enters the
    query at all. Scale shape: one partial-aggregable groupBy(hour)
    collapses the stream to a calendar-bounded series; the spine and
    all four IGNORE-NULLS neighbor windows run on that bounded table
    (single-partition total order is safe there — the doctrine used by
    every calendar-bounded window in this registry). Reference analog:
    pandas interpolate(method='linear') in the reference's feature
    prep (project/database_and_model_tools.py:95-130 family)."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    sparse = (
        e.select(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
            .cast("long")
            .alias("t"),
            _cents().alias("cents"),
        )
        .groupBy("t")
        .agg(F.sum("cents").cast("long").alias("obs_cents"))
    )
    bounds = sparse.agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("t")
    )
    j = spine.join(sparse, "t", "left")
    wp = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    t_if_obs = F.when(F.col("obs_cents").isNotNull(), F.col("t"))
    nb = j.select(
        "t",
        "obs_cents",
        F.last("obs_cents", ignorenulls=True).over(wp).alias("pc"),
        F.last(t_if_obs, ignorenulls=True).over(wp).alias("pt"),
        F.first("obs_cents", ignorenulls=True).over(wn).alias("nc"),
        F.first(t_if_obs, ignorenulls=True).over(wn).alias("nt"),
    )
    filled = F.when(F.col("obs_cents").isNotNull(), F.col("obs_cents")).otherwise(
        F.col("pc")
        + F.expr("((nc - pc) * (t - pt)) div (nt - pt)")
    )
    return nb.select("t", "obs_cents", filled.cast("long").alias("filled_cents"))


# Canonical row serialization for checksumming: every column cast to a
# format both engines print identically (integers, strings, epoch
# micros, half-up cents).
_ROW_CANON_SQL = (
    "concat_ws('|', CAST(event_id AS STRING), CAST(user_id AS STRING), "
    "event_type, CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS STRING), "
    "CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS STRING))"
)


_ROW_CANON_DUCK = (
    "concat_ws('|', CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR), "
    "event_type, CAST(epoch_us(ts) AS VARCHAR), "
    "CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS VARCHAR))"
)


@register(
    "ext_table_checksum",
    f"""
    WITH h AS (
      SELECT event_type,
             CAST(CAST('0x' || substr(md5({_ROW_CANON_DUCK}), 1, 15)
                  AS BIGINT) AS HUGEINT) AS d
      FROM events
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(d) % CAST(4611686018427387904 AS HUGEINT) AS BIGINT)
             AS checksum
    FROM h GROUP BY event_type
    """,
)
def ext_table_checksum(spark, sf_dir):
    """Order-insensitive per-partition table checksum — the migration
    /replication validator: serialize each row canonically (integers,
    epoch micros, half-up cents — formats both engines print
    identically), md5 it, keep 60 bits (15 hex chars, exact in any
    engine's signed 64), and SUM per group. Addition is commutative,
    so the checksum is independent of row order, partitioning, and
    engine — equal data yields equal checksums, and a single changed
    row changes the sum with probability 1 - 2^-60. The sum
    accumulates in DECIMAL(38,0) (DuckDB: HUGEINT recast) since 2^60
    x rows passes BIGINT immediately, then FOLDS to int64 range
    (mod 2^62, emitted BIGINT) so the published checksum is
    representation-proof: every engine, driver, and hash
    canonicalizer round-trips a sub-2^62 integer exactly, whereas a
    ~2^70 DECIMAL(38,0) silently diverges in any float64 or
    HUGEINT-vs-DECIMAL formatting path (r8 driver red, VERDICT.md).
    Folding is checksum-neutral: mod is a homomorphism over the sum,
    and collision probability stays ~2^-62 per changed row. Scale
    shape: one
    partial-aggregable pass, no shuffle beyond the tiny group rollup —
    THE pattern for verifying a 100 TB copy without sorting it.
    Reference analog: the reference's row-count verification
    (project/db.py:430 family) upgraded to content equality."""
    e = _t(spark, sf_dir, "events")
    h = e.select(
        "event_type",
        F.expr(
            f"CAST(conv(substr(md5({_ROW_CANON_SQL}), 1, 15), 16, 10) "
            "AS DECIMAL(38,0))"
        ).alias("d"),
    )
    return h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.expr(
            "CAST(sum(d) % CAST(4611686018427387904 AS DECIMAL(38,0)) "
            "AS BIGINT)"
        ).alias("checksum"),
    )


@register(
    "ext_bitmap_distinct",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__' AS event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    """,
)
def ext_bitmap_distinct(spark, sf_dir):
    """EXACT distinct-user counts via Spark's bitmap aggregate family
    — the mergeable warehouse pattern that replaces count(DISTINCT)
    at scale: map side builds per-(event_type, bucket) bitmaps
    (bitmap_construct_agg of bitmap_bit_position, buckets of 32768
    ids), counts are sums of per-bucket popcounts, and the GLOBAL
    distinct does NOT rescan the data — it OR-merges (bitmap_or_agg)
    the same per-bucket bitmaps across event types. The oracle is
    plain count(DISTINCT): the bitmap path must reproduce it exactly.
    Scale shape: state is bounded by |id-space|/8 bytes spread across
    buckets (shuffle key = (group, bucket), so no single reducer holds
    a giant sketch) — contrast ext_approx_count_distinct (HLL, approx)
    and ext_hll_sketch_merge: this one is exact AND mergeable.
    Reference analog: project/db.py count-distinct rows (registry row
    21) re-expressed as mergeable state."""
    e = _t(spark, sf_dir, "events").select("event_type", "user_id")
    bm = e.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
            "bm"
        )
    )
    per_type = bm.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_users")
    )
    merged = (
        bm.groupBy("bucket")
        .agg(F.expr("bitmap_count(bitmap_or_agg(bm))").alias("c"))
        .agg(F.sum("c").cast("long").alias("n_users"))
        .select(F.lit("__all__").alias("event_type"), "n_users")
    )
    return per_type.unionByName(merged)


@register(
    "ext_bollinger_bands",
    """
    WITH hourly AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS t,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    roll AS (
      SELECT t, cents,
             row_number() OVER (ORDER BY t) AS rn,
             sum(CAST(cents AS HUGEINT)) OVER (ORDER BY t
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS s,
             sum(CAST(cents AS HUGEINT) * cents) OVER (ORDER BY t
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS ss
      FROM hourly
    )
    SELECT t, cents,
           CAST(s AS DOUBLE) / 24 + 0 AS mean_cents,
           sqrt(CAST(24 * ss - s * s AS DOUBLE) / 576) + 0 AS sd_cents,
           CAST(CASE
             WHEN cents > CAST(s AS DOUBLE) / 24
                          + 2 * sqrt(CAST(24 * ss - s * s AS DOUBLE) / 576)
               THEN 1
             WHEN cents < CAST(s AS DOUBLE) / 24
                          - 2 * sqrt(CAST(24 * ss - s * s AS DOUBLE) / 576)
               THEN -1
             ELSE 0 END AS BIGINT) AS breach
    FROM roll WHERE rn >= 24
    """,
)
def ext_bollinger_bands(spark, sf_dir):
    """Rolling 24-observation Bollinger bands (mean +/- 2 population
    sigma) with breach flags over the hourly purchase-cents series —
    the rolling-volatility screen (z-band anomaly detection) every
    telemetry stack runs. Exactness: the hourly series is an exact
    BIGINT cents sum; rolling sum and sum-of-squares are WINDOW
    aggregates over exact integers, accumulated in DECIMAL(38,0)
    (DuckDB HUGEINT — cents^2 passes BIGINT at high SF, the
    ml_spearman_corr lesson); mean and sigma are single fixed IEEE
    trees over those integers (population variance via the all-integer
    numerator 24*ss - s^2), so the doubles are bit-identical at any
    partitioning and ship unrounded. Scale shape: one
    partial-aggregable groupBy(hour) collapses the stream; the rolling
    window runs on the calendar-bounded series. Reference analog:
    rolling z-features in project/database_and_model_tools.py:95-130."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    hourly = (
        e.select(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
            .cast("long")
            .alias("t"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("c"),
        )
        .groupBy("t")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w = Window.orderBy("t").rowsBetween(-23, 0)
    roll = hourly.select(
        "t",
        "cents",
        F.row_number().over(Window.orderBy("t")).alias("rn"),
        F.sum(F.col("cents").cast("decimal(38,0)")).over(w).alias("s"),
        F.sum((F.col("cents").cast("decimal(38,0)") * F.col("cents")))
        .over(w)
        .alias("ss"),
    )
    mean = F.col("s").cast("double") / 24
    sd = F.sqrt((24 * F.col("ss") - F.col("s") * F.col("s")).cast("double") / 576)
    breach = (
        F.when(F.col("cents") > mean + 2 * sd, 1)
        .when(F.col("cents") < mean - 2 * sd, -1)
        .otherwise(0)
        .cast("long")
    )
    return roll.filter(F.col("rn") >= 24).select(
        "t",
        "cents",
        (mean + 0).alias("mean_cents"),
        (sd + 0).alias("sd_cents"),
        breach.alias("breach"),
    )


# Morton interleave of two 8-bit buckets, expressed with >>/<</& which
# parse identically in Spark SQL and DuckDB (verified): bit i of xb
# lands at 2i, bit i of yb at 2i+1.
_MORTON_EXPR = " + ".join(
    [f"(((xb >> {i}) & 1) << {2 * i})" for i in range(8)]
    + [f"(((yb >> {i}) & 1) << {2 * i + 1})" for i in range(8)]
)


@register(
    "ext_zorder_cluster",
    f"""
    WITH b AS (
      SELECT least(CAST(floor(p_retailprice / 8) AS BIGINT), 255) AS xb,
             least(CAST(p_size AS BIGINT) * 5, 255) AS yb
      FROM part
    ),
    z AS (SELECT xb, yb, {_MORTON_EXPR} AS morton FROM b)
    SELECT morton >> 8 AS zbucket, CAST(count(*) AS BIGINT) AS n_parts,
           min(xb) AS min_xb, max(xb) AS max_xb,
           min(yb) AS min_yb, max(yb) AS max_yb,
           CAST((max(xb) - min(xb) + 1) * (max(yb) - min(yb) + 1)
                AS BIGINT) AS bbox_area
    FROM z GROUP BY 1
    """,
)
def ext_zorder_cluster(spark, sf_dir):
    """Z-order (Morton) clustering of parts on the two-dimensional
    (price-bucket, size-bucket) key — the data-layout operator behind
    Delta/Iceberg OPTIMIZE ZORDER: interleaving the bits of both
    8-bit bucket keys makes lexicographic Morton order preserve
    2-D locality, so files written in that order carry TIGHT min/max
    ranges on BOTH columns and the scan planner can skip on either
    predicate (the pruning mechanic ext_manifest_pruned_scan asserts
    for one dimension). The entry reports per-Morton-prefix (top 8
    bits) bounding boxes — exactly the zone-map rows a 100 TB layout
    would persist; bbox_area being small (vs the 65k full grid) IS
    the locality guarantee. All arithmetic is integer bit math
    (>>/<</& parse identically in Spark SQL and DuckDB — verified);
    one partial-aggregable groupBy. Reference analog: none (the
    reference relies on single-column B-trees, SURVEY row 6)."""
    p = _t(spark, sf_dir, "part")
    b = p.select(
        F.least(
            F.floor(F.col("p_retailprice") / 8).cast("long"), F.lit(255)
        ).alias("xb"),
        F.least(F.col("p_size").cast("long") * 5, F.lit(255)).alias("yb"),
    )
    z = b.select("xb", "yb", F.expr(_MORTON_EXPR).alias("morton"))
    return z.groupBy(
        F.expr("morton >> 8").alias("zbucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.min("xb").alias("min_xb"),
        F.max("xb").alias("max_xb"),
        F.min("yb").alias("min_yb"),
        F.max("yb").alias("max_yb"),
        (
            (F.max("xb") - F.min("xb") + 1) * (F.max("yb") - F.min("yb") + 1)
        )
        .cast("long")
        .alias("bbox_area"),
    )


_CENTS = "CAST(floor({col} * 100 + 0.5) AS BIGINT)"


# Named segment from quintile scores: evaluated top-down, identical
# CASE in both engines.
_SEGMENT_CASE = """
    CASE
      WHEN r >= 4 AND f >= 4 THEN 'loyal_recent'
      WHEN r >= 4 THEN 'recent'
      WHEN r <= 2 AND m >= 4 THEN 'at_risk_big_spender'
      WHEN r <= 2 THEN 'lapsed'
      ELSE 'core'
    END
"""


@register(
    "ext_rfm_segmentation",
    f"""
    WITH base AS (
      SELECT o_custkey AS custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
               AS recency_days,
             count(*) AS frequency,
             sum({_CENTS.format(col="o_totalprice")}) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT custkey,
             ntile(5) OVER (ORDER BY recency_days DESC, custkey) AS r,
             ntile(5) OVER (ORDER BY frequency ASC, custkey) AS f,
             ntile(5) OVER (ORDER BY monetary_cents ASC, custkey) AS m,
             monetary_cents
      FROM base
    )
    SELECT {_SEGMENT_CASE} AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS monetary_cents,
           CAST(sum(monetary_cents) AS DOUBLE) / count(*) AS avg_monetary_cents
    FROM scored
    GROUP BY 1 ORDER BY segment
    """,
)
def ext_rfm_segmentation(spark, sf_dir):
    """RFM (Recency/Frequency/Monetary) segmentation — the canonical
    warehouse customer-value rollup. Quintile scores come from
    `ntile(5)` under a TOTAL order (metric, custkey tiebreak), so the
    bucketing is deterministic cross-engine (both implement standard
    SQL ntile: earlier buckets absorb the remainder). Monetary is
    exact half-up cents. Scale: one groupBy(custkey) shuffle, then
    three window passes over the customer-grain table (1/40 of
    orders) — the ntile total sort is the only global order, and it
    runs on the aggregated grain, never on raw orders. At 100 TB the
    customer grain is still ~1e9 rows; ntile's single-partition sort
    would bottleneck, so the production path would swap ntile for a
    percentile-bucketed score (approx quantile boundaries broadcast
    back) — noted here, exact ntile kept for oracle parity.
    Reference analog: none (extends ext_cohort_retention family)."""
    orders = _t(spark, sf_dir, "orders")
    maxd = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("gmax"))
    base = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("lastd"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.expr(_CENTS.format(col="o_totalprice"))).alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "custkey",
            F.datediff(F.col("gmax"), F.col("lastd")).alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    scored = base.select(
        "custkey",
        "monetary_cents",
        F.ntile(5).over(Window.orderBy(F.desc("recency_days"), F.asc("custkey"))).alias("r"),
        F.ntile(5).over(Window.orderBy(F.asc("frequency"), F.asc("custkey"))).alias("f"),
        F.ntile(5).over(Window.orderBy(F.asc("monetary_cents"), F.asc("custkey"))).alias("m"),
    )
    return (
        scored.groupBy(F.expr(_SEGMENT_CASE).alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_cents").cast("long").alias("monetary_cents"),
            (F.sum("monetary_cents").cast("double") / F.count(F.lit(1))).alias(
                "avg_monetary_cents"
            ),
        )
        .orderBy("segment")
    )


@register(
    "ext_abc_classification",
    f"""
    WITH rev AS (
      SELECT l_partkey AS partkey,
             sum({_CENTS.format(col="l_extendedprice * (1 - l_discount)")})
               AS rev_cents
      FROM lineitem GROUP BY l_partkey
    ),
    cum AS (
      SELECT partkey, rev_cents,
             sum(rev_cents) OVER (ORDER BY rev_cents DESC, partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
             (SELECT sum(rev_cents) FROM rev) AS total_cents
      FROM rev
    )
    SELECT CASE WHEN cum_cents * 5 <= total_cents * 4 THEN 'A'
                WHEN cum_cents * 20 <= total_cents * 19 THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev_cents) AS BIGINT) AS class_cents,
           CAST(sum(rev_cents) AS DOUBLE)
             / (SELECT CAST(total_cents AS DOUBLE) FROM cum LIMIT 1)
             AS revenue_share
    FROM cum GROUP BY 1 ORDER BY abc_class
    """,
)
def ext_abc_classification(spark, sf_dir):
    """ABC (Pareto 80/95) inventory classification by cumulative
    revenue share. Per-part revenue reduces to exact half-up cents at
    the row; the cumulative sum runs under a TOTAL order
    (rev DESC, partkey) in exact BIGINT; class boundaries are integer
    cross-multiplications (cum*5 <= total*4 is cum/total <= 0.80 with
    no float), so the A/B/C split is bit-exact at any SF. Scale: one
    groupBy(partkey) shuffle collapses lineitem to the part grain
    (200× smaller); the running sum is a single-partition window over
    that grain — at 100 TB it needs a distributed prefix sum over the
    (rev DESC, partkey) order, which is not the unique integer key
    llm/prep.with_running_total takes. Reference analog: none
    (extends ext_topn_other / ml_gini_lorenz family)."""
    rev = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                F.expr(_CENTS.format(col="l_extendedprice * (1 - l_discount)"))
            ).alias("rev_cents")
        )
    )
    total = rev.agg(F.sum("rev_cents").alias("total_cents"))
    w = (
        Window.orderBy(F.desc("rev_cents"), F.asc("partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.withColumn("cum_cents", F.sum("rev_cents").over(w)).crossJoin(
        F.broadcast(total)
    )
    cls = F.when(F.col("cum_cents") * 5 <= F.col("total_cents") * 4, "A").otherwise(
        F.when(F.col("cum_cents") * 20 <= F.col("total_cents") * 19, "B").otherwise("C")
    )
    return (
        cum.groupBy(cls.alias("abc_class"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("rev_cents").cast("long").alias("class_cents"),
            (
                F.sum("rev_cents").cast("double")
                / F.max(F.col("total_cents").cast("double"))
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


@register(
    "ext_dynamic_partition_pruning",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) IN (1997, 1998)
    GROUP BY 1 ORDER BY order_year
    """,
)
def ext_dynamic_partition_pruning(spark, sf_dir):
    """Dynamic partition pruning surface: the fact table is written
    partitioned by order year; the query joins it to a FILTERED tiny
    dim (selected years), and Spark's DPP turns the dim filter into a
    runtime partition skip on the fact scan — the mechanism that
    makes star-schema queries touch 2 of N partitions at 100 TB
    instead of all N (tests/test_plan_shapes.py asserts the
    dynamicpruning subquery in the physical plan). The oracle
    collapses to the equivalent static filter. The round trip runs in
    the registry's ``_scratch`` dir and returns ``_materialize``-d
    rows (at most one per order year)."""
    with _scratch("dpp_") as path:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_totalprice",
            "o_orderdate",
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        o.write.mode("overwrite").partitionBy("order_year").parquet(path)
        fact = spark.read.parquet(path)
        dim = (
            fact.select("order_year")
            .distinct()
            .where(F.col("order_year").isin(1997, 1998))
        )
        res = (
            fact.join(dim.hint("broadcast"), "order_year")
            # partition discovery reads the year back as int
            .groupBy(F.col("order_year").cast("long").alias("order_year"))
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
                .cast("long")
                .alias("total_cents"),
            )
            .orderBy("order_year")
        )
        return _materialize(res)


@register(
    "ext_interarrival_stats",
    """
    WITH seq AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(count(gap_us) AS BIGINT) AS n_gaps,
           CAST(min(gap_us) AS BIGINT) AS min_us,
           CAST(max(gap_us) AS BIGINT) AS max_us,
           CAST(sum(gap_us) AS DOUBLE) / count(gap_us) AS mean_us,
           quantile_cont(gap_us, 0.5) AS p50_us
    FROM seq WHERE gap_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def ext_interarrival_stats(spark, sf_dir):
    """Per-event-type inter-arrival statistics: consecutive gaps under
    the total (ts, event_id) order as EXACT integer microseconds
    (epoch_us both engines — the micros doctrine), with min/max/mean
    and the interpolated median (the percentile == quantile_cont
    pair). The arrival-rate telemetry every ops dashboard needs; gaps
    are also the inputs to exponential burn-rate alerting. Scale: one
    window pass partitioned by type, then a partial-aggregable
    rollup (the median is per-type, bounded groups). Reference
    analog: the reference's time-feature derivation
    (project/db.py:330-360) extracts calendar fields; this extracts
    the process dynamics."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    pus = F.unix_micros(F.col("ts").cast("timestamp"))  # NTZ -> micros
    seq = ev.select(
        "event_type",
        (pus - F.lag(pus).over(w)).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    return (
        seq.groupBy("event_type")
        .agg(
            F.count("gap_us").cast("long").alias("n_gaps"),
            F.min("gap_us").cast("long").alias("min_us"),
            F.max("gap_us").cast("long").alias("max_us"),
            (F.sum("gap_us").cast("double") / F.count("gap_us")).alias("mean_us"),
            F.expr("percentile(gap_us, 0.5)").alias("p50_us"),
        )
        .orderBy("event_type")
    )


@register(
    "ext_entity_blocking_fuzzy",
    """
    WITH names AS (
      SELECT p_name AS name, regexp_extract(p_name, '([a-z]+)$', 1) AS block,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_name
    )
    SELECT a.block, a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b
      ON a.block = b.block AND a.name < b.name
     AND levenshtein(a.name, b.name) <= 5
    ORDER BY a.block, name_a, name_b
    """,
)
def ext_entity_blocking_fuzzy(spark, sf_dir):
    """Blocked entity resolution on part names: block on the trailing
    noun (regexp_extract — same function and RE2-safe pattern both
    engines), compare with Levenshtein ONLY within blocks, keep pairs
    at edit distance <= 5 — the record-linkage architecture where
    blocking turns an O(n^2) similarity join into per-block
    adjective^2 work on the DISTINCT name dimension (the
    ext_fuzzy_levenshtein doctrine: dedupe the dim first, fuzzy-join
    the tiny distinct sets, never edit-distance over fact rows).
    All-integer outputs. Scale: the name dimension is
    vocabulary-bounded; blocks broadcast. Reference analog: none
    (extends ext_fuzzy_levenshtein with the blocking stage)."""
    names = (
        _t(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count("*").cast("long").alias("n_parts"))
        .withColumn("block", F.regexp_extract(F.col("name"), "([a-z]+)$", 1))
    )
    a, b = names.alias("a"), names.alias("b")
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.name") < F.col("b.name"))
            & (dist <= 5),
        )
        .select(
            F.col("a.block").alias("block"),
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            dist.cast("long").alias("edit_dist"),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
        )
        .orderBy("block", "name_a", "name_b")
    )


_ALPHA, _BETA, _GAMMA = 0.3, 0.1, 0.2


_M = 7  # weekly seasonality


def _hw_step_sql(lev: str, tr: str, s: list[str], y: str, idx: str) -> dict[str, str]:
    """One additive Holt-Winters update with every subterm inlined —
    identical op tree on both engines. The seasonal slot idx (= rn %
    7 BEFORE the update) is read for the level and rewritten."""
    s_old = (
        "(CASE " + " ".join(f"WHEN {idx} = {i} THEN {s[i]}" for i in range(_M)) + " END)"
    )
    lev_n = f"({_ALPHA} * ({y} - {s_old}) + {1 - _ALPHA} * ({lev} + {tr}))"
    tr_n = f"({_BETA} * ({lev_n} - {lev}) + {1 - _BETA} * {tr})"
    out = {"lev": lev_n, "tr": tr_n}
    for i in range(_M):
        out[f"s{i}"] = (
            f"(CASE WHEN {idx} = {i} THEN "
            f"({_GAMMA} * ({y} - {lev_n}) + {1 - _GAMMA} * {s_old}) "
            f"ELSE {s[i]} END)"
        )
    return out


def _hw_oracle() -> str:
    s_cols = [f"w.s{i}" for i in range(_M)]
    st = _hw_step_sql("w.lev", "w.tr", s_cols, "d.y", "(w.rn % 7)")
    s_select = ", ".join(st[f"s{i}"] + f" AS s{i}" for i in range(_M))
    s_final = ", ".join(f"s{i}" for i in range(_M))
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum({_CENTS.format(col="value")}) AS DOUBLE) AS y
      FROM events WHERE event_type = 'purchase'
      GROUP BY CAST(ts AS DATE)
    ),
    seq AS MATERIALIZED (
      SELECT y, row_number() OVER (ORDER BY day) AS rn FROM daily
    ),
    n AS (SELECT max(rn) AS len FROM seq),
    walk(rn, lev, tr, s0, s1, s2, s3, s4, s5, s6) AS (
      -- rn = 1: the state AFTER consuming day 1 (level init), matching
      -- the Spark fold whose init consumes seq[0]
      SELECT 1, (SELECT y FROM seq WHERE rn = 1), CAST(0 AS DOUBLE),
             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
             CAST(0 AS DOUBLE)
      UNION ALL
      SELECT w.rn + 1, {st["lev"]}, {st["tr"]}, {s_select}
      FROM walk w JOIN seq d ON d.rn = w.rn + 1
    ),
    fin AS (
      SELECT w.* FROM walk w JOIN n ON w.rn = n.len
    )
    SELECT CAST(rn AS BIGINT) AS n_days, lev AS level_, tr AS trend,
           {s_final},
           lev + tr + (CASE (rn % 7) WHEN 0 THEN s0 WHEN 1 THEN s1
             WHEN 2 THEN s2 WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5
             ELSE s6 END) AS forecast_next
    FROM fin
    """


@register("ext_holt_winters_seasonal", _hw_oracle())
def ext_holt_winters_seasonal(spark, sf_dir):
    """Additive Holt-Winters (alpha=0.3, beta=0.1, gamma=0.2, weekly
    season) over the daily purchase-cents series. The fold walks the
    CALENDAR-BOUNDED day sequence (the series length grows with the
    date range, not the row count — the Theil-Sen boundedness
    argument), carrying (level, trend, s0..s6): Spark folds the
    sorted day array with F.aggregate, the oracle walks the identical
    recursion as a recursive CTE, and every update is multiply/add of
    doubles — no libm — so the state matches bitwise (the
    ml_hmm_forward doctrine). The seasonal slot is read at rn%7
    BEFORE the update and rewritten after, the same slot both
    engines. Output: final state + one-step forecast, unrounded.
    Scale: the daily rollup is one partial-aggregable groupBy; the
    fold is a 1-row array aggregate over <= days elements. Reference
    analog: none (seasonal upgrade of ext_holt_linear)."""
    daily = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.expr(_CENTS.format(col="value"))).cast("double").alias("y"))
    )
    seqs = daily.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("day", "y"))).alias("seq")
    )
    s_cols = [f"acc.s{i}" for i in range(_M)]
    st = _hw_step_sql("acc.lev", "acc.tr", s_cols, "x.y", "(acc.i % 7)")
    named = ", ".join(
        ["'lev', " + st["lev"], "'tr', " + st["tr"]]
        + [f"'s{i}', " + st[f"s{i}"] for i in range(_M)]
        + ["'i', acc.i + 1"]
    )
    init_s = ", ".join(f"'s{i}', CAST(0 AS DOUBLE)" for i in range(_M))
    fold = F.expr(
        f"""
        aggregate(
          slice(seq, 2, size(seq) - 1),
          named_struct('lev', seq[0].y, 'tr', CAST(0 AS DOUBLE), {init_s},
                       'i', 1),
          (acc, x) -> named_struct({named})
        )
        """
    )
    fin = seqs.select(F.size("seq").alias("n_days_i"), fold.alias("st"))
    season_next = (
        "(CASE (st.i % 7) WHEN 0 THEN st.s0 WHEN 1 THEN st.s1 WHEN 2 THEN st.s2 "
        "WHEN 3 THEN st.s3 WHEN 4 THEN st.s4 WHEN 5 THEN st.s5 ELSE st.s6 END)"
    )
    return fin.select(
        F.col("n_days_i").cast("long").alias("n_days"),
        F.col("st.lev").alias("level_"),
        F.col("st.tr").alias("trend"),
        *[F.col(f"st.s{i}").alias(f"s{i}") for i in range(_M)],
        F.expr(f"st.lev + st.tr + {season_next}").alias("forecast_next"),
    )


@register(
    "ext_interval_arithmetic",
    """
    WITH d AS (
      -- due_d adds 90 as a bare INTEGER (DuckDB DATE + INT = days):
      -- INTERVAL 90 DAY would compare EQUAL to INTERVAL 3 MONTH under
      -- DuckDB's normalized interval equality (1 month == 30 days) and
      -- common-subexpression elimination silently collapses the two
      -- additions into one — reproduced and confirmed on duckdb 1.0
      SELECT CAST(o_orderdate AS DATE) AS od,
             CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS due_m,
             CAST(o_orderdate AS DATE) + 90 AS due_d
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(date_diff('day', DATE '1970-01-01', CAST(due_m AS DATE)))
                AS BIGINT) AS sum_epochday_months,
           CAST(sum(date_diff('day', DATE '1970-01-01', CAST(due_d AS DATE)))
                AS BIGINT) AS sum_epochday_days,
           CAST(sum(CASE WHEN EXTRACT(day FROM od)
                         <> EXTRACT(day FROM CAST(due_m AS DATE))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_eom_clamped
    FROM d
    """,
)
def ext_interval_arithmetic(spark, sf_dir):
    """Calendar-interval semantics parity: orderdate + 3 months (with
    end-of-month clamping — Jan 31 + 3 months = Apr 30 on BOTH
    engines: Spark add_months and DuckDB + INTERVAL MONTH clamp
    identically) vs + 90 days (pure day arithmetic). The results ship
    as exact epoch-day checksums plus the count of clamped
    end-of-month cases — the date math every billing/due-date
    pipeline depends on, proven equivalent cross-engine rather than
    assumed. Scale: one scan, 4-cell aggregate. Reference analog:
    the reference derives date features (project/db.py:330-360); this
    pins the interval semantics."""
    od = F.col("o_orderdate").cast("date")
    due_m = F.add_months(od, 3)
    due_d = F.date_add(od, 90)
    d = _t(spark, sf_dir, "orders").select(
        od.alias("od"), due_m.alias("due_m"), due_d.alias("due_d")
    )
    epoch = F.lit("1970-01-01").cast("date")
    return d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.datediff(F.col("due_m"), epoch)).cast("long").alias("sum_epochday_months"),
        F.sum(F.datediff(F.col("due_d"), epoch)).cast("long").alias("sum_epochday_days"),
        F.sum(
            F.when(F.dayofmonth(F.col("od")) != F.dayofmonth(F.col("due_m")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_eom_clamped"),
    )


@register(
    "ext_variant_roundtrip",
    """
    WITH s AS (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           count(*) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(sum(3 * k) AS BIGINT) AS sum_arr2,
           count(*) AS n_roundtrip
    FROM s GROUP BY event_type
    """,
)
def ext_variant_roundtrip(spark, sf_dir):
    """VARIANT shred/unshred round trip: JSON text -> parse_json ->
    parquet write -> read -> variant_get typed extraction + to_json
    equality. The oracle computes the same aggregates straight from
    the source columns and pins n_roundtrip = count(*): ANY row whose
    binary variant fails to reproduce its source JSON byte-for-byte
    breaks the hash match. sum_arr2 extracts '$.arr[2]' (= 3k by
    construction) so array-path extraction is value-checked too, not
    just object fields. The scratch table is read back before the
    aggregate so the extraction exercises the parquet variant READER
    (the unshred leg), not the in-memory expression."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    js = F.to_json(
        F.struct(
            F.array(k, 2 * k, 3 * k).alias("arr"),
            F.col("event_type").alias("et"),
            F.col("event_id").alias("id"),
            k.alias("k"),
        )
    )
    staged = e.select(js.alias("js")).withColumn("v", F.expr("parse_json(js)"))
    with _scratch("variant_rt_") as work:
        staged.write.mode("overwrite").parquet(work)
        back = spark.read.parquet(work)
        shredded = back.select(
            F.expr("variant_get(v, '$.et', 'string')").alias("event_type"),
            F.expr("variant_get(v, '$.k', 'long')").alias("k"),
            F.expr("variant_get(v, '$.arr[2]', 'long')").alias("arr2"),
            (F.expr("to_json(v)") == F.col("js")).alias("rt_ok"),
        )
        out = shredded.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.sum("arr2").alias("sum_arr2"),
            F.sum(F.when(F.col("rt_ok"), 1).otherwise(0)).cast("long").alias("n_roundtrip"),
        )
        return _materialize(out)


# --- mergeable quantile sketch (accumulate / combine / estimate) ------------


@register(
    "ext_approx_quantile_sketch_merge",
    """
    WITH d AS (
      SELECT l_suppkey % 8 AS shard,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x
      FROM lineitem
    ),
    b AS (
      SELECT shard,
             (length(bin(x)) - 1) * 8
               + ((x >> (length(bin(x)) - 4)) % 8) AS bucket
      FROM d
    ),
    partial AS (
      SELECT shard, bucket, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY shard, bucket
    ),
    combined AS (
      SELECT bucket, CAST(sum(c) AS BIGINT) AS c FROM partial GROUP BY bucket
    ),
    cum AS (
      SELECT bucket, c, CAST(sum(c) OVER (ORDER BY bucket) AS BIGINT) AS cum
      FROM combined
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM combined),
    qs AS (SELECT CAST(q AS DOUBLE) AS q
           FROM (VALUES (0.5), (0.9), (0.99)) t(q)),
    hit AS (
      SELECT qs.q, tot.n, min(cum.bucket) AS bucket
      FROM qs CROSS JOIN tot
        JOIN cum ON cum.cum >= CAST(ceil(qs.q * tot.n) AS BIGINT)
      GROUP BY qs.q, tot.n
    )
    SELECT q,
           CAST(bucket AS INTEGER) AS bucket,
           CAST((8 + bucket % 8) AS BIGINT) << (bucket // 8 - 3)
             AS est_cents_lb,
           n,
           CAST(0.125 AS DOUBLE) AS max_rel_err
    FROM hit
    ORDER BY q
    """,
)
def ext_approx_quantile_sketch_merge(spark, sf_dir):
    """Mergeable quantile sketch over l_extendedprice cents with the
    full accumulate/combine/estimate lifecycle: per-SHARD partial
    bucket counts (accumulate — at 100 TB each shard/day keeps its own
    ≤ ~500-row histogram), summed across shards (combine — a bounded
    groupBy, the only data-sized work is the one accumulate scan),
    then quantiles read off the cumulative-rank walk (estimate — a
    window over the ≤ ~500 merged buckets, driver-scale by
    construction, so the single-partition sort is bounded, not a
    scale hazard). Bucketing is integer-only and engine-invariant:
    msb = length(bin(x)) - 1, bucket = msb*8 + ((x >> (msb-3)) & 7),
    estimate = the bucket's lower bound (8 + sub) << (msb-3) — a
    2-decimal-digit-precision KLL stand-in with a PROVEN 12.5% max
    relative error (bucket width / lower bound = 1/8), emitted as a
    column so consumers see the bound ride with the estimate. The
    rank threshold ceil(q*n) is exact below 2^53 rows. Quantile
    sibling of ext_approx_top_k_sketch_merge; unlike
    approx_percentile, partials are re-aggregable across time
    partitions with NO history re-scan."""
    li = _t(spark, sf_dir, "lineitem")
    d = li.select(
        (F.col("l_suppkey") % 8).alias("shard"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("x"),
    )
    b = d.select(
        "shard",
        F.expr(
            "(length(bin(x)) - 1) * 8"
            " + (shiftright(x, length(bin(x)) - 4) % 8)"
        ).alias("bucket"),
    )
    partial = b.groupBy("shard", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    combined = partial.groupBy("bucket").agg(F.sum("c").cast("long").alias("c"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = combined.select(
        "bucket", "c", F.sum("c").over(w).cast("long").alias("cum")
    )
    # n from the merged sketch, not a second corpus scan: both cum and
    # tot hang off the same bucket-groupBy exchange (ReuseExchange), so
    # the 100 TB accumulate scan runs exactly once
    tot = combined.agg(F.sum("c").cast("long").alias("n"))
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias("q")
    )
    hit = (
        qs.crossJoin(F.broadcast(tot))
        .join(cum, F.col("cum") >= F.ceil(F.col("q") * F.col("n")).cast("long"))
        .groupBy("q", "n")
        .agg(F.min("bucket").alias("bucket"))
    )
    return hit.select(
        "q",
        F.col("bucket").cast("int").alias("bucket"),
        F.expr("shiftleft(CAST(8 + bucket % 8 AS BIGINT), CAST(bucket / 8 AS INT) - 3)")
        .alias("est_cents_lb"),
        "n",
        F.lit(0.125).cast("double").alias("max_rel_err"),
    ).orderBy("q")
