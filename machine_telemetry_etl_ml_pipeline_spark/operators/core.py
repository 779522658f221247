"""Core relational primitives.

The reference's 14 query methods (/root/reference/project/db.py:187-475)
are compositions of six primitives; building the primitives once and
deriving the methods keeps every plan lazy so Catalyst folds the whole
chain (scan -> filter -> window/agg -> sort -> limit) into one job.

Scale notes (100 TB posture):
- ``latest_per_key``: one shuffle on the key, per-partition sort,
  row_number filter. Spark plans this as a single Window over a
  hash-partitioned sort — the shuffle is unavoidable for exact
  semantics. A hot key is bounded by the partial ``WindowGroupLimit``
  below the shuffle, which keeps one row per key per map task (SCALE.md
  "Latest-per-key"); AQE's skew handling covers joins and rebalances
  only, not this exchange. For a single payload column, ``max_by`` (no
  sort, partial-aggregable) is the cheaper path.
- ``top_k_by``: orderBy().limit() folds to TakeOrderedAndProject
  (per-partition top-k + driver merge, no global sort). The reference
  instead pulls the whole dedup'd set client-side and sorts in Python
  (/root/reference/project/db.py:247-250) — that pattern dies at scale.
- ``sort_bounded``: a global ORDER BY over a result bounded by key
  cardinality (one key's time window, one row per key or per group)
  meets on one reducer and sorts there. ``orderBy`` would plan a range
  exchange, whose partition bounds come from a sampling job that runs
  the exchange's child once more: for a filtered fact scan, the scan
  twice. Only the bounded output funnels to one task; the scan, the
  aggregate or the window below it stays parallel, and the caller
  collects those rows to the driver anyway. An unbounded sort keeps
  ``orderBy``'s parallel range sort.
- ``local_frame``: rows already on the driver enter Spark as one Arrow
  table, a ``LocalTableScan`` that Catalyst folds and a sink reads
  without a job or a Python worker. ``createDataFrame`` over a Python
  list is a pickled RDD of ``defaultParallelism`` partitions instead:
  every sink starts Python workers, one per partition.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_frame(spark: SparkSession, rows: Sequence, schema: StructType | str) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema``'s field order) as an
    Arrow-built local relation. ``schema`` is a ``StructType`` or a DDL
    string."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table)


def latest_per_key(
    df: DataFrame,
    key: str | Sequence[str],
    order_col: str,
    tiebreak: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """First row per key by recency — the reference's signature
    ``SELECT DISTINCT ON (machineid) ... ORDER BY machineid,
    timestamp_epoch DESC`` idiom (/root/reference/project/db.py:237-246,
    used by 9 methods).

    ``tiebreak`` makes the Postgres-nondeterministic tie explicit and
    deterministic (SURVEY §7 known hard spot a).
    """
    keys = [key] if isinstance(key, str) else list(key)
    direction = F.col(order_col).desc() if descending else F.col(order_col).asc()
    order = [direction]
    if tiebreak is not None:
        order.append(F.col(tiebreak).desc() if descending else F.col(tiebreak).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_n(
    df: DataFrame,
    filter_expr,
    order_col: str,
    n: int = 1,
    tiebreak: str | None = None,
) -> DataFrame:
    """filter -> ORDER BY order_col DESC LIMIT n
    (reference get_latest_telemetry, project/db.py:187-194)."""
    order = [F.col(order_col).desc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).desc())
    return df.filter(filter_expr).orderBy(*order).limit(n)


def sort_bounded(df: DataFrame, *order) -> DataFrame:
    """Global ORDER BY for a result whose size is bounded by key
    cardinality: one key's rows, or one row per key or group. It plans
    as one ``Exchange SinglePartition`` plus a local sort (which
    spills), with no range-sampling job over the child. Every row of
    ``df`` lands in one task, so never use it on an unbounded result."""
    return df.repartition(1).sortWithinPartitions(*order)


def range_scan(df: DataFrame, filter_expr, col: str, lo, hi, ascending: bool = True) -> DataFrame:
    """filter + BETWEEN -> ordered scan
    (reference get_telemetry_range, project/db.py:196-202). Bounded by
    the rows one filter key holds in [lo, hi], so it sorts on one
    reducer (sort_bounded)."""
    out = df.filter(filter_expr).filter(F.col(col).between(lo, hi))
    return sort_bounded(out, F.col(col).asc() if ascending else F.col(col).desc())


def top_k_by(df: DataFrame, metric: str, k: int = 5, ascending: bool = False,
             tiebreak: str | None = None) -> DataFrame:
    """Global top-k: the reference's client-side
    ``sorted(rows, ...)[:limit]`` (project/db.py:247-250) folded into the
    plan as TakeOrderedAndProject. asc sorts place NULLs last to match
    the reference's None->+inf key (project/db.py:430)."""
    primary = F.col(metric).asc_nulls_last() if ascending else F.col(metric).desc_nulls_last()
    order = [primary]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    return df.orderBy(*order).limit(k)


def distinct_values(df: DataFrame, col: str) -> DataFrame:
    """Dimension listing (reference get_machine_list, project/db.py:204-207).
    One row per distinct value, sorted on one reducer (sort_bounded)."""
    return sort_bounded(df.select(col).distinct(), col)


_MICRO = 1000000  # fixed-point scale for exact AVG: 6dp > the 4dp output


def exact_avg(col: str, round_to: int = 4):
    """round(avg(col), round_to), engine- and order-invariant at every
    SF. Two divergence channels in the naive round(avg(double), k),
    both observed live on ref_grouped_comparison at sf0.1:

    1. avg(double) sums in engine-specific order; when a group's mean
       sits within an ulp of a .00005 boundary the last-bit sum
       difference flips the 4th decimal (56.2087 vs 56.2088). Armor:
       fixed-point each value to micro-units (one bit-identical IEEE
       multiply + half-up round per row), sum in DECIMAL(38,0) —
       exact, order-free — so both engines divide IDENTICAL operands.
    2. round(x, k>0) itself is not cross-engine stable even on
       IDENTICAL doubles: Spark rounds the SHORTEST DECIMAL REPR
       (BigDecimal.valueOf -> Double.toString), DuckDB the binary
       value, and they disagree whenever x's shortest repr lands
       exactly on the .00005 boundary the binary value sits just
       below (49.1913 vs 49.1912 — hit on the first re-spec attempt).
       Armor: round to an INTEGER count of 10^-k units instead —
       integer-boundary rounding has no repr ambiguity (for |x|<2^52
       every n.5 is exactly representable, so shortest-repr and
       binary rounding agree, and HALF_UP == away-from-zero on both
       engines) — then divide by 10^k once for display: a small
       integer over a power of ten, the same nearest double on both
       engines.

    DuckDB mirror (k=4): round(CAST(sum(CAST(round(col * 1000000.0)
    AS BIGINT)) AS DOUBLE) / (count(col) * 100)) / 10000.0."""
    assert 0 <= round_to <= 6, "exact_avg fixed-point carries 6dp"
    sub = _MICRO // 10**round_to  # micro-units per output unit, per row
    m = F.round(F.col(col) * F.lit(float(_MICRO))).cast("decimal(38,0)")
    units = F.round(
        F.sum(m).cast("double") / (F.count(F.col(col)) * F.lit(sub))
    )
    return units / F.lit(float(10**round_to))


def stats_columns(metrics: Sequence[str], round_to: int = 4) -> list:
    """The aggregate columns of ``stats``: COUNT(*) + MIN/MAX/AVG per
    metric, for a caller that adds its own aggregates to the same
    single pass."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for m in metrics:
        aggs += [
            F.round(F.min(m), round_to).alias(f"min_{m}"),
            F.round(F.max(m), round_to).alias(f"max_{m}"),
            exact_avg(m, round_to).alias(f"avg_{m}"),
        ]
    return aggs


def stats(df: DataFrame, metrics: Sequence[str], round_to: int = 4) -> DataFrame:
    """Ungrouped scalar aggregate: COUNT(*) + MIN/MAX/AVG per metric
    (reference get_telemetry_stats, project/db.py:209-233). AVG rides
    the exact fixed-point path (exact_avg); MIN/MAX pass a single
    stored double through and need no armor."""
    return df.agg(*stats_columns(metrics, round_to))


def grouped_stats(
    df: DataFrame,
    key: str,
    avg_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    order_by: str | None = None,
    round_to: int = 4,
) -> DataFrame:
    """GROUP BY comparison aggregate with ordered output
    (reference get_machine_comparison_stats, project/db.py:368-387).
    Hash aggregate: Spark does partial (map-side) + final automatically;
    the fixed-point AVG numerator is partial-aggregable the same way.
    The ordered output holds one row per group and sorts on one
    reducer (sort_bounded)."""
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [exact_avg(c, round_to).alias(f"avg_{c}") for c in avg_cols]
    aggs += [F.round(F.max(c), round_to).alias(f"max_{c}") for c in max_cols]
    out = df.groupBy(key).agg(*aggs)
    if order_by is not None:
        out = sort_bounded(out, F.col(order_by).desc(), F.col(key).asc())
    return out


def ordered_pairs(arr) -> "F.Column":
    """All (earlier, later) element pairs of a SORTED array column, as
    an array of structs (a, b) — the in-row expansion of a self-equi-
    join within one group (r13, guide §2.4): a groupBy + this
    expression replaces the self-join's duplicated build subtree and
    second group-key exchange. Output is exactly the a < b pair set
    when the array holds distinct sorted values; array size must be
    bounded by construction (bucket/group occupancy), as the pairs of
    one group materialize in one row."""
    a = F.col(arr) if isinstance(arr, str) else arr
    return F.flatten(
        F.transform(
            a,
            lambda x, i: F.transform(
                F.slice(a, i + F.lit(2), F.size(a)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
