"""``udf_*`` entries: Python-executed operators (row UDFs, pandas UDFs,
applyInPandas, mapInArrow, Python UDTFs).

These are the entries whose work runs in Python workers. Their two
row-at-a-time UDF sites are the documented slow-path demo that the
anti-pattern census (tools/antipattern_scan.py) keeps on record.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from . import _t, register


@register(
    "udf_pandas_scalar",
    """
    SELECT event_id,
           round(sqrt(abs(value)) + CAST(floor(value / 10) AS DOUBLE), 4) AS scored
    FROM events
    """,
)
def udf_pandas_scalar(spark, sf_dir):
    """Vectorized scalar pandas_udf (Arrow batches): numpy arithmetic
    on whole columns. The oracle is the equivalent SQL expression —
    numpy and the JVM produce identical float64 for sqrt/abs/floor."""

    @F.pandas_udf(DoubleType())
    def score(v: pd.Series) -> pd.Series:
        import numpy as np

        return np.sqrt(np.abs(v)) + np.floor(v / 10.0)

    e = _t(spark, sf_dir, "events")
    return e.select("event_id", F.round(score("value"), 4).alias("scored"))


@register(
    "udf_apply_in_pandas",
    """
    SELECT event_id, user_id,
           CAST(cents * count(*) OVER (PARTITION BY user_id)
                - sum(cents) OVER (PARTITION BY user_id) AS BIGINT) AS centered_scaled
    FROM (SELECT event_id, user_id,
                 CAST(round(value * 100) AS BIGINT) AS cents FROM events)
    """,
)
def udf_apply_in_pandas(spark, sf_dir):
    """Grouped-map applyInPandas: per-user mean-centering computed as
    whole-group pandas frames (the custom-stateful-operator escape
    hatch). Oracle-parity note (round-2 fix): the centered value is
    emitted as the EXACT integer (cents*n - sum_cents), i.e. the
    centered amount scaled by the group size — rounding a float
    quotient hits pandas-half-even vs DuckDB-half-away tie boundaries
    (observed: 105.2142 vs 105.2143 at sf0.01). Integer arithmetic is
    engine-independent; the grouped-map plumbing under test is
    unchanged."""
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        cents = (pdf["value"] * 100).round().astype("int64")
        pdf["centered_scaled"] = cents * len(pdf) - cents.sum()
        return pdf[["event_id", "user_id", "centered_scaled"]]

    return e.groupBy("user_id").applyInPandas(
        center, "event_id long, user_id long, centered_scaled long"
    )


@register(
    "udf_python_row",
    """
    SELECT event_id,
           CASE WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                WHEN event_type = 'error' THEN 'failure'
                ELSE 'engagement' END AS bucket
    FROM events
    """,
)
def udf_python_row(spark, sf_dir):
    """Row-at-a-time Python UDF — API completeness only (the SLOW
    path: one Python call per row; the same logic belongs in
    when/otherwise, which is what the oracle uses)."""

    @F.udf("string")
    def bucket(t: str) -> str:
        if t in ("purchase", "signup"):
            return "conversion"
        if t == "error":
            return "failure"
        return "engagement"

    e = _t(spark, sf_dir, "events")
    return e.select("event_id", bucket("event_type").alias("bucket"))


@register(
    "udf_python_udtf",
    """
    SELECT doc_id, CAST(pos AS INT) AS pos, word
    FROM (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word,
             generate_subscripts(list_filter(string_split(text, ' '), x -> x <> ''), 1) - 1 AS pos
      FROM documents
    ) WHERE doc_id < 10
    """,
)
def udf_python_udtf(spark, sf_dir):
    """Python UDTF (user-defined TABLE function, Spark 3.5+): one
    input row -> many output rows from Python. The tokenize expansion
    is deliberately also expressible as posexplode(split(...)) — which
    is the oracle — so the UDTF plumbing is held to the built-in
    operator's answer. UDTFs are the escape hatch for row-expanding
    logic with real Python inside; the built-in stays the hot path."""
    from pyspark.sql.functions import udtf

    # output column renamed: the lateral join would otherwise carry two
    # ambiguous doc_id columns (input relation + UDTF output)
    @udtf(returnType="out_doc_id: long, pos: int, word: string")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            pos = 0
            for w in (text or "").split(" "):
                if w:
                    yield doc_id, pos, w
                    pos += 1

    d = _t(spark, sf_dir, "documents").filter("doc_id < 10")
    return d.lateralJoin(
        Tokenize(F.col("doc_id").outer(), F.col("text").outer())
    ).select(F.col("out_doc_id").alias("doc_id"), "pos", "word")


@register(
    "udf_map_in_arrow",
    """
    SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE value > 100
    """,
)
def udf_map_in_arrow(spark, sf_dir):
    """mapInArrow: whole-partition transform over raw Arrow record
    batches — the lowest-overhead Python boundary (no pandas
    conversion). The batch logic (filter + integer scaling) mirrors
    the built-in expression oracle."""
    import pyarrow as pa
    import pyarrow.compute as pc

    e = _t(spark, sf_dir, "events").select("event_id", "value")

    def scale(batches):
        for batch in batches:
            t = pa.Table.from_batches([batch])
            t = t.filter(pc.greater(t.column("value"), 100.0))
            # round_mode pinned: pyarrow's default is half_to_even, but
            # DuckDB round() and Spark round() are half-away-from-zero —
            # the same tie-boundary trap udf_apply_in_pandas hit with
            # pandas .round()
            cents = pc.cast(
                pc.round(
                    pc.multiply(t.column("value"), 100.0),
                    round_mode="half_towards_infinity",
                ),
                pa.int64(),
            )
            out = pa.table({"event_id": t.column("event_id"), "cents": cents})
            for b in out.to_batches():
                yield b

    return e.mapInArrow(scale, "event_id long, cents long")


@register(
    "udf_arrow_optimized",
    """
    SELECT event_id,
           CAST(round(value * 100) AS BIGINT) % 97 AS bucket97
    FROM events
    """,
)
def udf_arrow_optimized(spark, sf_dir):
    """Arrow-optimized Python UDF (Spark 4 `useArrow=True`): the plain
    @udf API with Arrow batch transfer under the hood — per-batch
    serialization like pandas_udf, but row-wise Python logic (the
    migration path for legacy @udf code that can't be vectorized).
    Integer arithmetic end-to-end, so no rounding-mode traps."""

    @F.udf("long", useArrow=True)
    def bucket97(cents: int) -> int:
        return cents % 97

    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        bucket97(F.round(F.col("value") * 100).cast("long")).alias("bucket97"),
    )


@register(
    "udf_pandas_iter",
    """
    SELECT event_id,
           round(value - avg(value) OVER (), 4) AS delta_from_global
    FROM events
    """,
)
def udf_pandas_iter(spark, sf_dir):
    """Iterator-form pandas_udf (Iterator[pd.Series] -> Iterator
    [pd.Series]): expensive one-time state (here the broadcast global
    mean) is initialized ONCE per executor task, then reused across
    every Arrow batch — the pattern for model-per-task inference where
    per-batch reinitialization would dominate. The global mean rides a
    broadcast variable; the oracle recomputes it as a window over the
    whole relation."""
    e = _t(spark, sf_dir, "events")
    mean_val = e.agg(F.avg("value")).collect()[0][0]
    bc = spark.sparkContext.broadcast(mean_val)

    @F.pandas_udf(DoubleType())
    def delta(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        m = bc.value  # one lookup per task, reused across batches
        for v in batches:
            yield v - m

    return e.select("event_id", F.round(delta("value"), 4).alias("delta_from_global"))


@register(
    "udf_map_in_pandas",
    """
    SELECT user_id, count(*) AS n_big,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events WHERE value > 50 GROUP BY user_id
    """,
)
def udf_map_in_pandas(spark, sf_dir):
    """mapInPandas: whole-partition Iterator[pd.DataFrame] ->
    Iterator[pd.DataFrame] transform — the Python boundary for
    per-partition logic that changes cardinality (filter + project
    here, so the semantics stay oracle-checkable). The partial
    per-batch pre-aggregation inside the UDF mirrors map-side combine;
    the final groupBy reduces the pre-aggregated stream, exactly how a
    custom Python scorer would feed a distributed aggregate."""
    from collections.abc import Iterator as _It

    e = _t(spark, sf_dir, "events").select("user_id", "value")

    def prefilter(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        for pdf in batches:
            big = pdf[pdf["value"] > 50].copy()
            if len(big) == 0:
                continue
            big["cents"] = (big["value"] * 100).round().astype("int64")
            out = big.groupby("user_id", as_index=False).agg(
                n_big=("cents", "size"), sum_cents=("cents", "sum")
            )
            yield out
    partials = e.mapInPandas(prefilter, "user_id long, n_big long, sum_cents long")
    return partials.groupBy("user_id").agg(
        F.sum("n_big").alias("n_big"), F.sum("sum_cents").alias("sum_cents")
    )
