"""Deduplication operators for LLM training-data pipelines
(north-star extension; no reference implementation — SURVEY §2B).

All hashing is md5-based and *lexicographic*: a MinHash permutation is
any uniform hash ordering, so the min over the shingle set of an
8-hex-char slice of md5(shingle) is a valid MinHash signature
component (one digest yields four independent 32-bit components) —
and, being plain string ops, it computes identically in Spark and any
ANSI engine (oracle-parity by construction, no murmur3/xxhash
divergence).

Scale posture:
- exact dedup: one shuffle on the 128-bit fingerprint (never on the
  full text) + min(doc_id) keep-first;
- MinHash: one explode (rows x shingles), one partial-aggregable
  groupBy — no quadratic stage;
- LSH banding: self-equi-join on the band key, so candidate generation
  is proportional to true collisions, not n^2; exact verification
  (Jaccard) only runs on candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --- normalization / fingerprinting ---------------------------------------


def normalized(col) -> "F.Column":
    """lower -> strip non-alphanumerics -> collapse whitespace."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """128-bit content fingerprint + normalized-content fingerprint."""
    return df.withColumn("fp", F.md5(F.col(text_col))).withColumn(
        "fp_norm", F.md5(normalized(F.col(text_col)))
    )


def exact_dedup_keep_first(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One representative (smallest id) per exact content fingerprint."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )


# --- shingling -------------------------------------------------------------


def char_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    distinct: bool = True,
    spread: bool = True,
) -> DataFrame:
    """k-character shingles per document (one explode).

    spread: repartition the (small) doc rows BEFORE exploding — a
    single-file parquet scan is one partition, and without the spread
    the explode + hashing of millions of shingles runs in one task
    (observed 6x slowdown at sf0.1).
    distinct: set semantics; MinHash callers pass False (min over the
    multiset equals min over the set — saves a full shuffle of the
    exploded rows).
    """
    src = df.select(F.col(id_col), F.col(text_col))
    if spread:
        # explicit numPartitions: AQE would coalesce a 5000-row shuffle
        # to 1 partition by input size — but the explode right after
        # multiplies rows ~200x, so presplit to full parallelism.
        n = df.sparkSession.sparkContext.defaultParallelism
        src = src.repartition(n, F.col(id_col))
    # Build the shingle array BEFORE exploding: the Generate then emits
    # 5-char strings instead of carrying the full text into every
    # exploded row (measured ~3x on 1M shingles).
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text_col) - (k - 1), F.lit(1))),
        lambda i: F.col(text_col).substr(i, F.lit(k)),
    )
    out = src.select(F.col(id_col), F.explode(shingles).alias("shingle"))
    return out.distinct() if distinct else out


def word_ngrams(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3, spread: bool = True
) -> DataFrame:
    """Distinct word n-gram shingles per document."""
    src = (
        df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
        if spread
        else df
    )
    words = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    idx = F.explode(F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1)))).alias("i")
    return (
        src.select(F.col(id_col), words.alias("__ws"), idx)
        .select(
            F.col(id_col),
            F.concat_ws(" ", F.slice(F.col("__ws"), F.col("i"), n)).alias("shingle"),
        )
        .distinct()
    )


# --- MinHash + LSH ---------------------------------------------------------


def minhash_signatures(
    shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = 4
) -> DataFrame:
    """num_hashes MinHash components per doc. Partial-aggregable
    (map-side combine) — the whole signature is one groupBy.

    One md5 digest is 128 independent bits = four 32-bit hashes, so
    components come from 8-hex-char SLICES of a single md5 per shingle
    rather than one seeded md5 per component: 4x fewer digest
    computations on the exploded (largest) relation, and the aggregated
    values shrink from 32 chars to 8 (measured ~1.8x on the sf0.1
    signature pipeline). Components beyond 4 hash a fresh seeded digest
    per group of 4 (md5('s<g>|' || shingle))."""
    aggs = []
    for i in range(1, num_hashes + 1):
        group, slot = divmod(i - 1, 4)
        digest = (
            F.md5(F.col("shingle"))
            if group == 0
            else F.md5(F.concat(F.lit(f"s{group}|"), F.col("shingle")))
        )
        aggs.append(F.min(F.substring(digest, 1 + 8 * slot, 8)).alias(f"mh{i}"))
    return shingles.groupBy(id_col).agg(*aggs)


def minhash_from_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 4,
) -> DataFrame:
    """Shuffle-free MinHash: identical output to
    minhash_signatures(char_shingles(df, distinct=False)) but computed
    as per-document array expressions — transform the shingle sequence
    to md5 digests once, then array_min over 8-hex-char slices. The
    explode + groupBy path shuffles every shingle row (|docs| x |text|
    rows); this path shuffles nothing (one narrow stage after a
    round-robin spread), so signature generation scales with input
    bytes, not shingle count.

    Tradeoff: per-row memory holds one 32-char digest per shingle
    (len(text) x 32B). Fine for web-scale documents (<= a few MB);
    for pathological single-row inputs (1 GB texts) use the exploded
    path, which splits a document's shingles across tasks."""
    n = df.sparkSession.sparkContext.defaultParallelism
    # round-robin spread: a single-file parquet scan is 1 partition and
    # there is no downstream shuffle to rebalance it
    src = df.select(F.col(id_col), F.col(text_col)).repartition(n)
    digests = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text_col) - (k - 1), F.lit(1))),
        lambda i: F.md5(F.col(text_col).substr(i, F.lit(k))),
    )
    src = src.select(F.col(id_col), digests.alias("__dg"))

    def slicer(slot):
        # closure factory, NOT `lambda d, s=slot`: pyspark's transform
        # treats a 2-parameter lambda as (element, index) and would
        # bind the array index over the default
        return lambda d: d.substr(F.lit(1 + 8 * slot), F.lit(8))

    if not 1 <= num_hashes <= 4:  # one digest = four 32-bit slices
        raise NotImplementedError("array fast path supports num_hashes <= 4")
    cols = [
        F.array_min(F.transform(F.col("__dg"), slicer(slot))).alias(f"mh{slot + 1}")
        for slot in range(num_hashes)
    ]
    return src.select(F.col(id_col), *cols)


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str = "doc_id", rows_per_band: int = 2
) -> DataFrame:
    """Band the signature and self-join per band: docs agreeing on ALL
    components of any band become a candidate pair (standard MinHash
    LSH banding). Returns distinct (a, b) with a < b.

    SIDE-EFFECTFUL AND EAGER (r13 contract, documented per ADVICE
    r13): calling this runs a Spark job immediately — the skinny
    banded frame (id, one 32-char key per band) is localCheckpointed
    at construction so the (expensive) shingle + minhash pipeline
    runs ONCE instead of once per join side (the r1-r12 lazy shape
    planned it twice; ReuseExchange never fired in the broadcast
    regime). The returned frame owns that checkpoint: a long-running
    driver frees it with ckpt.retire_ids(spark, ckpt.owned_ids(result))
    after materializing the result (bench.py sweeps with
    unpersist_all), and callers needing lazy composition should band
    the signatures themselves.

    r14 shape (VERDICT r13 item 6): pairs are emitted per band via
    one equi-join per band key COLUMN (no band explode), and a pair
    found in band i is kept only when the docs disagree on every
    band j < i — the first-colliding-band rule. Each qualifying pair
    therefore appears EXACTLY once across the union, which removes
    the r13 plan's final distinct: that exchange + two HashAggregates
    ran over the full candidate-pair relation (~493k rows at sf0.1,
    pairs >> docs), only to drop cross-band duplicates the join can
    test in-row with the band keys it already carries.

    The join itself STAYS a join on purpose: an in-row per-bucket
    pair expansion (collect_list + ordered_pairs, the lsh_star_edges
    shape) was measured 3.5x SLOWER at the dense 10x replica (21.9s
    vs 6.2s at 17M pairs) — a hot bucket's C(k,2) pairs all
    materialize in ONE row/task there, while the join streams them
    across the bucket's probe rows in parallel. Pairs stay
    proportional to true collisions; for clustering — where hot
    buckets need only stars — lsh_star_edges is the linear tool."""
    mh_cols = [c for c in signatures.columns if c.startswith("mh")]
    bands = [mh_cols[i : i + rows_per_band] for i in range(0, len(mh_cols), rows_per_band)]
    band_keys = [F.md5(F.concat_ws("|", *cols)) for cols in bands]
    from ..operators.ckpt import checkpoint_rotate

    keyed, _ = checkpoint_rotate(
        signatures.select(
            F.col(id_col),
            *[bk.alias(f"bk{i}") for i, bk in enumerate(band_keys)],
        )
    )
    parts = []
    for i in range(len(bands)):
        left = keyed.alias("l")
        right = keyed.alias("r")
        cond = (F.col(f"l.bk{i}") == F.col(f"r.bk{i}")) & (
            F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
        )
        # band keys are never null (md5 of concat_ws), so bkj != bkj
        # is a total predicate: pair (a,b) colliding in bands {i1<i2}
        # is emitted by i1 and filtered out of i2
        for j in range(i):
            cond = cond & (F.col(f"l.bk{j}") != F.col(f"r.bk{j}"))
        parts.append(
            left.join(right, cond).select(
                F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def lsh_star_edges(
    signatures: DataFrame, id_col: str = "doc_id", rows_per_band: int = 2
) -> DataFrame:
    """Bucket-star contraction of the LSH candidate graph, for
    connected-components input: every doc in a band bucket is connected
    to the bucket's MIN doc id (one groupBy + one equi-join on the band
    key) instead of to every other doc (self-join, O(bucket^2) pairs).
    The transitive closure is IDENTICAL — docs sharing a bucket stay
    connected through the bucket representative — but a dense near-dup
    cluster of b docs contributes b-1 edges instead of b(b-1)/2. At
    sf0.1 this is 493k pairs -> ~10k star edges; at 100 TB it is the
    difference between a quadratic blow-up on hot buckets and linear
    output. Use lsh_candidate_pairs when the pairs themselves are the
    deliverable (Jaccard verification); use this for clustering."""
    mh_cols = [c for c in signatures.columns if c.startswith("mh")]
    bands = [mh_cols[i : i + rows_per_band] for i in range(0, len(mh_cols), rows_per_band)]
    band_keys = [F.md5(F.concat_ws("|", *cols)) for cols in bands]
    keyed = signatures.select(F.col(id_col), F.explode(F.array(*band_keys)).alias("band_key"))
    # r13 (same shape as lsh_candidate_pairs above): ONE band-keyed
    # exchange, star edges emitted in-row — the min id is element 1 of
    # the sorted bucket array, the spokes are the rest. The r4-r12
    # groupBy+join-back planned the signature pipeline twice (the
    # probe side and the reps aggregate are separate subtrees).
    ds = F.col("__ds")
    return (
        keyed.groupBy("band_key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ds"))
        .filter(F.size(ds) >= 2)
        .select(
            F.element_at(ds, 1).alias("a"),
            F.explode(F.slice(ds, 2, F.size(ds))).alias("b"),
        )
        .filter(F.col("b") != F.col("a"))
        .distinct()
    )


def jaccard_pairs(shingles: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard over distinct-shingle sets, evaluated ONLY for the
    given candidate pairs (verification stage of the LSH pipeline)."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sa = shingles.select(F.col(id_col).alias("a"), "shingle")
    sb = shingles.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        pairs.join(sa, "a")
        .join(sb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b")), "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 4
            ).alias("jaccard"),
        )
    )


# --- SimHash ----------------------------------------------------------------


def simhash16(shingles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """16-dimensional SimHash over the shingle set.

    Each dimension d in 1..16 reads the d-th hex digit of md5(shingle)
    (a uniform 4-bit hash); the dimension's bit is 1 iff the mean digit
    exceeds 7.5. Hex-digit arithmetic keeps the whole computation in
    portable string/integer ops (one groupBy, 16 partial-aggregable
    sums) instead of 64 bit-twiddles per shingle.
    """
    hexd = F.md5(F.col("shingle"))
    digit = lambda p: F.instr(F.lit("0123456789abcdef"), F.substring(hexd, p, 1)) - 1  # noqa: E731
    aggs = [F.sum(digit(p) - 7.5).alias(f"__s{p}") for p in range(1, 17)]
    sums = shingles.groupBy(id_col).agg(*aggs)
    bits = [
        (F.when(F.col(f"__s{p}") > 0, F.lit(2 ** (p - 1))).otherwise(F.lit(0)))
        for p in range(1, 17)
    ]
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return sums.select(F.col(id_col), total.cast("long").alias("simhash"))
