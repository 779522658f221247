"""``tpch_*`` entries: TPC-H query shapes over the slimmed testdata star
schema (customer, orders, lineitem, part, partsupp, supplier, nation,
region).

Where the testdata lacks a TPC-H column (l_shipmode, l_commitdate,
l_receiptdate, p_container), the query keeps the classic plan shape
with the columns that exist. Money is derived in integer cents.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import _t, _views, register


# --- TPC-H classic shapes ------------------------------------------------------


@register(
    "tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100 AS sum_base_price,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                AS DOUBLE) / 10000 AS sum_disc_price,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                    * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT)))
                AS DOUBLE) / 1000000 AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary (the canonical partial-agg benchmark:
    map-side combine reduces 600k rows to 6 groups before the shuffle).
    The three money sums fold as exact integer cents/e4/e6 units (the
    tpch_q19 class, flagged proactively by tools/oracle_audit.py:
    round(sum(double), 4) at ~4e10 group sums leaves <64 ULPs of slack
    to the 4dp grid at 10x); the single integer->double conversion +
    division at the end is deterministic on both engines.

    Fold-width choice (r7 isolated re-measure, SCALE.md "tpch_q1
    re-measure"): decimal38-all 123ms vs hybrid 75ms on the cached agg
    at sf0.1, so each fold rides the cheapest exact width its 100 TB
    headroom allows. 100 TB ~ TPC-H SF 1e5 -> 6e11 lineitem rows,
    ~1.5e11 per (returnflag, linestatus) group:
    - cents <= 1.1e7/row -> group sum <= 1.65e18 < 2^63-1 = 9.2e18
      (5.6x headroom) -> BIGINT fold for sum_base_price.
    - e4 units <= 1.1e9/row -> 1.65e20 overflows BIGINT -> disc_price
      stays DECIMAL(38,0).
    - e6 units <= 1.21e11/row -> 1.8e22 -> charge stays DECIMAL(38,0).
    sum_qty/avg_* stay double: quantity is integer-valued (exact in
    double to 2^53) and the avg quotients are ~1e4 magnitude, far
    from the grid."""
    li = _t(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    dc = F.floor(F.col("l_discount") * 100 + 0.5).cast("long")
    tc = F.floor(F.col("l_tax") * 100 + 0.5).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            (F.sum(cents).cast("double") / 100).alias("sum_base_price"),
            (F.sum((cents * (100 - dc)).cast(dec)).cast("double") / 10000).alias(
                "sum_disc_price"
            ),
            (
                F.sum((cents * (100 - dc) * (100 + tc)).cast(dec)).cast("double")
                / 1000000
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_epoch
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'MACHINERY'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def tpch_q3(spark, sf_dir):
    """TPC-H Q3 shipping-priority shape (selective dim filter ->
    join -> agg -> top-k)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "MACHINERY")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    joined = c.join(o, c.c_custkey == o.o_custkey).join(li, o.o_orderkey == li.l_orderkey)
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.unix_timestamp("o_orderdate").cast("long").alias("o_orderdate_epoch"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "tpch_q6",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
           / 10000.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 25
    """,
)
def tpch_q6(spark, sf_dir):
    """TPC-H Q6 forecast-revenue (pure scan+filter+agg: every predicate
    pushes into the parquet scan). Money math rides integer units
    (r11): `round(sum(price * discount), 4)` on raw doubles is
    order-divergent — the r11 100x probe caught Spark and DuckDB one
    4dp grid step apart (…598.91 vs …598.9099) summing ~8.5M products
    into ONE row, the documented round(double,4) channel surfacing
    only at that accumulation depth (1x/10x/30x all hashed equal).
    Armor = the repo's integer-cents doctrine: price->cents and
    discount->integer percent are each exact (2dp decimals), their
    product is an exact BIGINT in 1e-4-dollar units, the sum
    accumulates order-insensitively in DECIMAL(38,0) (ANSI-safe; DuckDB
    promotes to HUGEINT), and the one display division of an exactly-
    representable <2^53 integer by 10000.0 is the same IEEE op on both
    engines — no round() anywhere, bitwise-equal at every SF."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    pct = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            (F.sum((cents * pct).cast("decimal(38,0)")).cast("double") / F.lit(10000.0)).alias(
                "revenue"
            )
        )
    )


@register(
    "tpch_q4",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4(spark, sf_dir):
    """TPC-H Q4 order-priority shape: correlated EXISTS over the fact
    table — planned as a left-semi join, shuffling only join keys."""
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        """
    )


@register(
    "tpch_q14",
    """
    SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def tpch_q14(spark, sf_dir):
    """TPC-H Q14 promotion-share shape: conditional aggregation over a
    fact-dim join (part broadcast at this SF via AQE)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(F.round(100.0 * F.sum(promo) / F.sum(disc), 4).alias("promo_revenue_pct"))
    )


# --- more TPC-H shapes ------------------------------------------------------


@register(
    "tpch_q5",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name ASC
    """,
)
def tpch_q5(spark, sf_dir):
    """TPC-H Q5 local-supplier-volume: the 6-way join spine. Dims
    (nation, region) broadcast; the fact-fact joins (orders-lineitem-
    supplier) stay shuffle joins for AQE to re-plan; the local
    co-nation predicate c_nationkey = s_nationkey rides the join."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


@register(
    "tpch_q7",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 4) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
          OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark, sf_dir):
    """TPC-H Q7 volume-shipping: dual-nation join (nation broadcast
    twice under different roles) with a disjunctive cross-nation
    predicate and per-year rollup."""
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_suppkey", "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    joined = (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_10"))
            | ((F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_9"))
        )
    )
    return (
        joined.withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q8",
    """
    SELECT o_year,
           CAST(sum(CASE WHEN nation = 'NATION_9' THEN volume_u ELSE 0 END) AS DOUBLE)
             / 10000.0 AS nation_volume,
           CAST(sum(volume_u) AS DOUBLE) / 10000.0 AS total_volume
    FROM (
      SELECT year(o_orderdate) AS o_year,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS volume_u,
             n2.n_name AS nation
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def tpch_q8(spark, sf_dir):
    """TPC-H Q8 market-share shape (8-way join). Parity note: the
    share is emitted as separate numerator/denominator sums — a rounded
    quotient of two large float sums is exactly the half-boundary trap
    (round-1 memory). Since r11 each sum rides integer 1e-4-dollar
    units (cents x (100 - pct), exact BIGINT per row, DECIMAL(38,0)
    accumulation, one display division): the r11 100x probe caught
    round(sum(double),4) itself diverging one grid step on the ~15e9
    yearly totals — the documented order-divergent-sum channel, which
    integer units close at every scale."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        p.join(li, p.p_partkey == li.l_partkey)
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
    )
    vol_u = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        joined.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .withColumn("volume_u", vol_u)
        .groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("nation") == "NATION_9", F.col("volume_u"))
                    .otherwise(F.lit(0))
                    .cast("decimal(38,0)")
                ).cast("double")
                / F.lit(10000.0)
            ).alias("nation_volume"),
            (F.sum(F.col("volume_u").cast("decimal(38,0)")).cast("double") / F.lit(10000.0)).alias(
                "total_volume"
            ),
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q10",
    """
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           round(c_acctbal, 4) AS c_acctbal
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def tpch_q10(spark, sf_dir):
    """TPC-H Q10 returned-item reporting: quarter scan + returnflag
    filter -> 4-way join -> top-20 by lost revenue."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    n = _t(spark, sf_dir, "nation")
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue",
            F.round("c_acctbal", 4).alias("c_acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "tpch_q12",
    """
    SELECT o_orderpriority,
           count(*) FILTER (WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late_count,
           count(*) AS total_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape, adapted: the testdata lacks l_shipmode/
    l_commitdate/l_receiptdate, so 'late' is l_shipdate more than 60
    days after o_orderdate and the rollup key is o_orderpriority —
    same plan shape (fact-fact join + conditional counts)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.when(late, 1)).alias("late_count"),
            F.count(F.lit(1)).alias("total_count"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q19",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1  AND l_quantity <= 21)
       OR (p_brand = 'Brand#16' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)
def tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape, adapted: disjunctive multi-branch predicate
    over join + scan columns (p_container/l_shipmode absent -> brand/
    size/quantity branches). The disjunction references both sides, so
    Catalyst evaluates it post-join while still pushing the common
    p_partkey equi-key — the classic Q19 plan. Revenue is an exact
    integer-cent sum: round(sum(float), 4) diverged between engines at
    the 10x replica (sum ~8e9 -> partial-sum order error > the 4dp
    grid), while per-row cents then a BIGINT sum is scale-invariant —
    found by the r5 10x differential."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    branch = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#16") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#21") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 40))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(branch)
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("revenue_cents")
        )
    )


@register(
    "tpch_q13",
    """
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13(spark, sf_dir):
    """TPC-H Q13 customer-distribution: left join preserving
    order-less customers, two-level aggregation (per-customer count,
    then histogram of counts — both partial-aggregable)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "tpch_q18",
    """
    SELECT c_custkey, o_orderkey,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_epoch,
           round(o_totalprice, 4) AS o_totalprice,
           round(sum(l_quantity), 4) AS sum_qty
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 210
    )
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def tpch_q18(spark, sf_dir):
    """TPC-H Q18 large-volume-customer: HAVING-filtered aggregate as a
    semi-join input (the IN-subquery plans as LeftSemi on the
    pre-aggregated lineitem — the aggregate shrinks the build side
    before the join, the shape that matters at scale)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 210)
        .select("l_orderkey")
    )
    # semi-filter orders FIRST: the HAVING aggregate shrinks the fact
    # side before the expensive customer/lineitem joins run
    o_big = o.join(
        big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi"
    )
    joined = c.join(o_big, c.c_custkey == o_big.o_custkey).join(
        li, o_big.o_orderkey == li.l_orderkey
    )
    return (
        joined.groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").cast("long").alias("o_orderdate_epoch"),
            F.round("o_totalprice", 4).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@register(
    "tpch_q15",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def tpch_q15(spark, sf_dir):
    """TPC-H Q15 top-supplier: a named aggregate reused twice (the
    revenue CTE feeds both the scalar max and the equality filter) —
    Catalyst plans the CTE once and reuses the exchange; the scalar
    subquery broadcasts one value."""
    _views(spark, sf_dir, "lineitem", "supplier")
    return spark.sql(
        """
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey
        """
    )


@register(
    "tpch_q16",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#11' AND p_size IN (1, 5, 9, 13, 17)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape, adapted: the testdata has no partsupp, so the
    supplier relationship comes from lineitem — same plan (selective
    dim filter -> join -> DISTINCT count grouped by part attributes,
    the two-shuffle exact-distinct path)."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#11") & F.col("p_size").isin(1, 5, 9, 13, 17)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        p.join(li, p.p_partkey == li.l_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q17",
    """
    SELECT CAST(sum(CAST(round(l1.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
           / 700.0 AS avg_yearly
    FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
    WHERE p_brand = 'Brand#11'
      AND l1.l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l1.l_partkey
      )
    """,
)
def tpch_q17(spark, sf_dir):
    """TPC-H Q17 small-quantity-order: correlated scalar AVG per part.
    Expressed as an explicit pre-aggregated join (the decorrelation
    Catalyst performs anyway): one partial-aggregable avg per part,
    broadcast-joined back — never a per-row subquery execution. The
    revenue sum rides integer cents (r11): round(sum(double)/7, 4)
    landed one 4dp step apart across engines at the 100x probe
    (…802.0001 vs …801.9999 — an order-divergent ~4.6e11-cent sum
    straddling the grid); exact cents in DECIMAL(38,0) then ONE
    display division by 700.0 (an exactly-representable <2^53 integer
    over the same IEEE op) is bitwise-equal on both engines, no
    round() anywhere. The correlated half-avg predicate compares raw
    doubles on both sides unchanged — quantity sums are small
    integers, exact in double at any scale."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11").select("p_partkey")
    avg_qty = li.groupBy("l_partkey").agg((F.avg("l_quantity") * 0.5).alias("half_avg"))
    joined = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(avg_qty.withColumnRenamed("l_partkey", "p_partkey"), "p_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
    )
    return joined.agg(
        (
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long").cast("decimal(38,0)"))
            .cast("double")
            / F.lit(700.0)
        ).alias("avg_yearly")
    )


@register(
    "tpch_q21",
    """
    SELECT s_name, count(*) AS numwait FROM (
      SELECT DISTINCT s_name, l1.l_orderkey, l1.l_suppkey
      FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
      WHERE o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
        )
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
        )
    )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def tpch_q21(spark, sf_dir):
    """TPC-H Q21 waiting-suppliers shape, adapted ('late' =
    l_shipdate > o_orderdate + 60 days since the testdata lacks
    commit/receipt dates): the EXISTS / NOT EXISTS pair over lineitem
    self-joins — planned as a left-semi then left-anti join against
    the same scan, the classic decorrelation."""
    _views(spark, sf_dir, "supplier", "lineitem", "orders")
    return spark.sql(
        """
        SELECT s_name, count(*) AS numwait FROM (
          SELECT DISTINCT s_name, l1.l_orderkey, l1.l_suppkey
          FROM supplier
            JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
            JOIN orders ON o_orderkey = l1.l_orderkey
          WHERE o_orderstatus = 'F'
            AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
            AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
            )
            AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
            )
        )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
        """
    )


@register(
    "tpch_q22",
    """
    SELECT c_custkey, round(c_acctbal, 4) AS c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00'
      )
    ORDER BY c_custkey
    """,
)
def tpch_q22(spark, sf_dir):
    """TPC-H Q22 global-sales-opportunity shape, adapted: every
    customer in this data has SOME order (making the classic NOT
    EXISTS vacuous), so 'inactive' means no order since mid-2000 —
    same plan (scalar avg subquery filter + anti join)."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, round(c_acctbal, 4) AS c_acctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (
            SELECT 1 FROM orders WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00'
          )
        ORDER BY c_custkey
        """
    )


@register(
    "tpch_q2",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (SELECT l_partkey, min(unit_cost) AS min_cost FROM cost GROUP BY l_partkey)
    SELECT p_partkey, s_suppkey, s_name, c.unit_cost AS unit_cost
    FROM part
      JOIN cost c ON c.l_partkey = p_partkey
      JOIN best b ON b.l_partkey = p_partkey AND c.unit_cost = b.min_cost
      JOIN supplier ON s_suppkey = c.l_suppkey
    WHERE p_size = 10
    ORDER BY p_partkey, s_suppkey
    """,
)
def tpch_q2(spark, sf_dir):
    """TPC-H Q2 minimum-cost-supplier shape, adapted (no partsupp:
    unit cost observed from lineitem): per-(part,supplier) min cost,
    then the per-part minimum joined BACK on equality — the
    min-per-group + join-back decorrelation, distinct from Q17's
    filter-below-average."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = (
        cost.groupBy("l_partkey")
        .agg(F.min("unit_cost").alias("min_cost"))
        .withColumnRenamed("l_partkey", "b_partkey")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 10).select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out = (
        p.join(cost, p.p_partkey == cost.l_partkey)
        .join(best, (F.col("b_partkey") == F.col("p_partkey")) & (F.col("unit_cost") == F.col("min_cost")))
        .join(s, s.s_suppkey == cost.l_suppkey)
    )
    # unit_cost is returned UNROUNDED: each per-row division of the
    # same stored doubles is bit-identical on both engines and MIN is
    # order-independent, so the raw double hash-matches at any SF —
    # while round(x, 4) sat exactly on a .5 grid point at the 10x
    # replica and flipped between the engines' rounding algorithms
    # (found by the r5 10x differential).
    return out.select(
        "p_partkey", "s_suppkey", "s_name", "unit_cost"
    ).orderBy("p_partkey", "s_suppkey")


@register(
    "tpch_q11",
    """
    WITH value AS (
      SELECT l_suppkey, sum(l_extendedprice * l_quantity) AS v
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey, round(v, 4) AS supplier_value
    FROM value
    WHERE v > (SELECT 0.0105 * sum(v) FROM value)
    ORDER BY supplier_value DESC, l_suppkey
    """,
)
def tpch_q11(spark, sf_dir):
    """TPC-H Q11 value-concentration shape, adapted (shipped value
    from lineitem instead of partsupp stock): per-supplier totals
    filtered against a FRACTION of the global total — the aggregate
    reused by both the group rows and the scalar subquery (one CTE,
    planned once)."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        WITH value AS (
          SELECT l_suppkey, sum(l_extendedprice * l_quantity) AS v
          FROM lineitem GROUP BY l_suppkey
        )
        SELECT l_suppkey, round(v, 4) AS supplier_value
        FROM value
        WHERE v > (SELECT 0.0105 * sum(v) FROM value)
        ORDER BY supplier_value DESC, l_suppkey
        """
    )


@register(
    "tpch_q9",
    """
    SELECT nation, o_year, CAST(sum(amount_u) AS DOUBLE) / 10000.0 AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))
               - 60 * CAST(round(p_retailprice * 100) AS BIGINT)
                    * CAST(round(l_quantity) AS BIGINT) AS amount_u
      FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    )
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def tpch_q9(spark, sf_dir):
    """TPC-H Q9 product-type-profit shape, adapted: the testdata has no
    partsupp table, so supply cost is a deterministic proxy
    (0.6 * p_retailprice) instead of ps_supplycost — the plan shape
    (part-name LIKE filter driving a 5-way star join, profit expression,
    nation x year rollup, descending-year sort) is Q9's. part (2k rows
    filtered to ~13%), supplier (100) and nation (25) broadcast; the
    only shuffles are the lineitem-orders fact-fact join and the final
    aggregation. Profit rides integer 1e-4-dollar units (r11): every
    input is an exact small decimal (prices 2dp -> cents, discount 2dp
    -> pct, quantity integral — all verified on the testdata), so
    amount_u = cents x (100-pct) - 60 x retail_cents x qty is an exact
    BIGINT per row; round(sum(double),4) on the raw expression
    diverged one 4dp step per nation-year at the r11 100x probe (the
    order-divergent-sum channel on ~2e9-dollar groups), while the
    DECIMAL(38,0) sum + one display division is bitwise-equal at
    every scale."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount_u = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    ) - F.lit(60) * F.round(F.col("p_retailprice") * 100).cast("long") * F.round(
        F.col("l_quantity")
    ).cast("long")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount_u.alias("amount_u"),
        )
        .groupBy("nation", "o_year")
        .agg(
            (F.sum(F.col("amount_u").cast("decimal(38,0)")).cast("double") / F.lit(10000.0)).alias(
                "sum_profit"
            )
        )
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "tpch_q20",
    """
    WITH per AS (
      SELECT l_suppkey,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                       AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                      THEN l_quantity ELSE 0 END) AS qty_1996,
             sum(l_quantity) AS qty_total
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%red%'
      GROUP BY l_suppkey
    )
    SELECT s_name, round(s_acctbal, 2) AS s_acctbal
    FROM supplier JOIN per ON s_suppkey = l_suppkey
    WHERE qty_1996 > CAST(0.17 AS DOUBLE) * qty_total
    ORDER BY s_name
    """,
)
def tpch_q20(spark, sf_dir):
    """TPC-H Q20 potential-part-promotion shape, adapted: partsupp's
    ps_availqty is absent from the testdata, so the excess-stock
    predicate becomes shipped-quantity concentration — suppliers whose
    1996 shipments of 'red' parts exceed 17% of their all-time total
    (non-vacuous: 33 of 100 suppliers at sf0.01). The shape survives:
    name-LIKE part filter driving a semi-join-reducible aggregate over
    lineitem, a threshold comparing two sums of the same aggregate, and
    the supplier name listing. part broadcast into the fact scan; one
    shuffle for the per-supplier aggregate; supplier (100 rows)
    broadcast into the result."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    in_1996 = (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")
    )
    per = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.when(in_1996, F.col("l_quantity")).otherwise(F.lit(0))).alias(
                "qty_1996"
            ),
            F.sum("l_quantity").alias("qty_total"),
        )
        .filter(F.col("qty_1996") > F.lit(0.17) * F.col("qty_total"))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    return (
        per.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )
