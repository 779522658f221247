"""Training-data preparation primitives: word-aligned chunking with
overlap and deterministic hash-based splitting (north-star extension —
no reference implementation; SURVEY §2B last rows).

Both are pure column expressions (sequence/explode/slice, md5 hex
arithmetic): no UDF, no RNG, no shuffle beyond what the caller adds —
the properties that make the prepared data reproducible across runs,
engines, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(
    docs: DataFrame,
    chunk: int = 20,
    stride: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Word-aligned chunks of `chunk` words every `stride` words
    (overlap = chunk - stride). One Generate over pre-split word
    arrays: rows multiply by ~len/stride, bytes stay ~1x + overlap."""
    ws = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    # start bound: len - overlap — a start past that yields a chunk fully
    # contained in its predecessor (every word already covered), so a
    # 20-word doc gets exactly one 20-word chunk, a 21-word doc two
    overlap = chunk - stride
    return (
        docs.select(id_col, ws.alias("ws"))
        .select(
            id_col,
            "ws",
            F.posexplode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("ws") - F.lit(overlap), F.lit(1)),
                    F.lit(stride),
                )
            ).alias("idx", "start"),
        )
        .select(
            id_col,
            F.col("idx").cast("int").alias("chunk_idx"),
            F.slice(
                F.col("ws"),
                F.col("start"),
                F.least(F.lit(chunk), F.size("ws") - F.col("start") + 1),
            ).alias("chunk_words"),
        )
        .filter(F.size("chunk_words") > 0)
        .select(
            id_col,
            "chunk_idx",
            F.size("chunk_words").cast("int").alias("n_words"),
            F.array_join("chunk_words", " ").alias("chunk_text"),
        )
    )


def md5_bucket(col, n_digits: int = 2) -> "F.Column":
    """Deterministic integer bucket in [0, 16^n_digits) from the first
    n_digits hex digits of md5(col) — hex-digit arithmetic only, so the
    identical expression runs in DuckDB oracles (strpos over
    '0123456789abcdef'). The single source of truth for every
    hash-threshold operator (train/test split, weighted sampling, join
    salting): one definition to keep in lockstep with oracle SQL."""
    h = F.md5(col.cast("string"))

    def hexpos(p: int) -> "F.Column":
        return F.instr(F.lit("0123456789abcdef"), F.substring(h, p, 1)) - 1

    bucket = hexpos(1)
    for p in range(2, n_digits + 1):
        bucket = bucket * 16 + hexpos(p)
    return bucket


def hex_bucket_sql(h_expr: str, n_digits: int = 2) -> str:
    """DuckDB twin of md5_bucket, colocated with it so the two stay in
    lockstep: integer in [0, 16^n) from the first n hex digits of an
    md5 SQL expression."""
    digit = "(strpos('0123456789abcdef', substr({h}, {p}, 1)) - 1)"
    out = digit.format(h=h_expr, p=1)
    for p in range(2, n_digits + 1):
        out = f"({out} * 16 + {digit.format(h=h_expr, p=p)})"
    return out


def hash_split(
    docs: DataFrame, train_buckets: int = 205, id_col: str = "doc_id"
) -> "F.Column":
    """Split assignment as a pure function of the id: first md5 byte <
    train_buckets/256 -> 'train' (default ~80/20). Returns the column
    expression so callers can attach it without a join."""
    bucket = md5_bucket(F.col(id_col), n_digits=2)
    return F.when(bucket < train_buckets, "train").otherwise("test")


def with_running_total(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running_total",
    total_col: str | None = None,
    totals_from: DataFrame | None = None,
) -> DataFrame:
    """Distributed prefix sum: running total of `value_col` in
    `order_col` order without a single-partition global window, the
    one prefix sum in the package.

    `Window.orderBy(order_col)` with no partitionBy funnels the whole
    table through one task, a plan that cannot run at 100 TB. This is
    the two-phase scan instead, split on a fixed-width integer bucket
    `__b = order_col DIV 65536`:

      1. a cumulative sum per bucket (a parallel window keyed on __b);
      2. per-bucket totals of value_col, one row per bucket;
      3. an exclusive running sum over those totals (the only
         sequential step), broadcast back and added to step 1.

    Precondition: order_col holds unique, non-null integers. Ties
    would make the sum order-dependent. `DIV` truncates toward zero
    but stays monotone, so negative keys are in order too (bucket 0
    spans -65535..65535). The offsets walk holds one row per non-empty
    bucket, at most (key range) / 65536 rows; a sparse composite key
    would make it data-sized, so it does not fit here. Integer values
    sum exactly, so the result is oracle-comparable.

    total_col: also attach the grand total of value_col to every row,
    summed over the same bucket totals.

    totals_from: a frame with order_col and value_col whose per-bucket
    sums of value_col equal df's (default: df itself, read off the
    windowed frame). A caller whose df is an aggregate can pass the
    pre-aggregation rows, so the totals come straight off its scan
    instead of re-embedding the aggregate and the window.
    """
    from pyspark.sql import Window

    def bucketed(frame: DataFrame) -> DataFrame:
        return frame.withColumn("__b", F.expr(f"`{order_col}` DIV 65536"))

    w_local = (
        Window.partitionBy("__b")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = bucketed(df).withColumn("__cum", F.sum(value_col).over(w_local))
    src = local if totals_from is None else bucketed(totals_from)
    totals = src.groupBy("__b").agg(F.sum(value_col).alias("__tot"))
    w_off = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    off_cols = [
        "__b",
        F.coalesce(F.sum("__tot").over(w_off), F.lit(0)).alias("__off"),
    ]
    if total_col is not None:
        w_all = Window.orderBy("__b").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        off_cols.append(F.sum("__tot").over(w_all).alias(total_col))
    offsets = totals.select(*off_cols)
    return (
        local.join(F.broadcast(offsets), "__b")
        .withColumn(out_col, F.col("__cum") + F.col("__off"))
        .drop("__b", "__cum", "__off")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Context-window packing: assign documents (in id order) to
    fixed-token-budget training bins — bin = exclusive running token
    total // budget. A doc straddling a budget boundary belongs to the
    bin it starts in (streaming fill, the standard approximation of
    sequential first-fit; deterministic, so reproducible across runs
    and cluster sizes). Built on the distributed prefix sum above —
    no single-task global window."""
    toks = F.size(F.filter(F.split(F.col(text_col), " "), lambda x: x != ""))
    d = docs.select(F.col(id_col), toks.cast("long").alias("n_tokens"))
    cum = with_running_total(d, id_col, "n_tokens", out_col="cum_tokens")
    return cum.select(
        id_col,
        "n_tokens",
        ((F.col("cum_tokens") - F.col("n_tokens")) / budget)
        .cast("long")
        .alias("bin"),
    )


def source_weighted_sample(
    docs: DataFrame,
    weight_expr: "F.Column",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted down-sampling (data mixing): keep a row
    iff a 16-bit hash of its id falls under weight * 65536. The hash is
    the first 4 hex digits of md5(id) via digit arithmetic — portable
    string/integer ops, identical in any engine, no RNG state: the mix
    is reproducible and any row's fate is auditable from its id alone."""
    bucket = md5_bucket(F.col(id_col), n_digits=4)
    return docs.withColumn("__keep", bucket < weight_expr * 65536).filter(
        F.col("__keep")
    ).drop("__keep")
