"""Scored-pair growth probe for the sign-LSH pair family (r7 verdict
item 3's done-criterion).

Replicates the sf0.1 embeddings table Nx with offset vec_ids and
IDENTICAL vectors (the same adversarial construction as
tools/scale_probe.py — every copy of a vector collides with every
other copy under any bucketing), then counts the CANDIDATE PAIRS each
bucketing scheme would score:

  fixed    — sign_bucket over 4 fixed dims, B = 16 forever
             (the pinned `llm_semdedup_prune` / `llm_embedding_neardup`)
  adaptive — adaptive_sign_bucket with bits = clamp(ceil(log2(n/64)),
             2, 16), B = 2^bits (the r8 `*_scaled` twins)

Pair counts are deterministic (unaffected by ambient load), so this is
the load-robust form of the r7 wall-clock finding (11.3x wall at 10x
rows on the fixed family). Linear growth target: pairs(10x)/pairs(1x)
~ 10 for adaptive vs ~100 for fixed. Also times the scaled prune
entry end-to-end at both sizes (min of 2 interleaved reps; timing is
secondary and ambient-load-sensitive — the pair counts are the gate).

Usage: python tools/pair_growth.py [--src /root/testdata/sf0.1]
                                   [--copies 10]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def candidate_pairs(e, bucket_col):
    """sum over buckets of C(n_b, 2) — the scored-pair count without
    materializing the pairs themselves."""
    return (
        e.select(bucket_col.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("p"))
        .head()
        .p
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--out", default="/tmp/emb_pair_growth")
    args = ap.parse_args()

    from machine_telemetry_etl_ml_pipeline_spark.llm.similarity import (
        ADAPTIVE_SIGN_DIMS,
        adaptive_bits_expr,
        adaptive_sign_bucket,
        sign_bucket,
    )
    from machine_telemetry_etl_ml_pipeline_spark.operators.ckpt import unpersist_all
    from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY
    from machine_telemetry_etl_ml_pipeline_spark.session import get_spark

    spark = get_spark("pair_growth")
    spark.sparkContext.setLogLevel("ERROR")

    # Build the Nx replica dir (embeddings only — the pair family
    # reads nothing else).
    src_e = spark.read.parquet(f"{args.src}/embeddings.parquet")
    max_id = src_e.agg(F.max("vec_id")).head()[0]
    if os.path.exists(args.out):
        shutil.rmtree(args.out)
    os.makedirs(args.out)
    rep = src_e
    for i in range(1, args.copies):
        rep = rep.unionByName(
            src_e.withColumn("vec_id", F.col("vec_id") + F.lit(i * (max_id + 1)))
        )
    rep.write.mode("overwrite").parquet(f"{args.out}/embeddings.parquet")

    rows = []
    for label, d in [("1x", args.src), (f"{args.copies}x", args.out)]:
        e = spark.read.parquet(f"{d}/embeddings.parquet")
        n = e.count()
        bits = e.agg(F.count(F.lit(1)).alias("n")).select(
            adaptive_bits_expr(F.col("n"), 64).alias("b")
        ).head().b
        fixed = candidate_pairs(e, sign_bucket(F.col("embedding"), [1, 9, 17, 25]))
        adapt = candidate_pairs(
            e,
            adaptive_sign_bucket(F.col("embedding"), F.lit(bits), ADAPTIVE_SIGN_DIMS),
        )
        rows.append((label, n, bits, fixed, adapt))

    print("\nsize  n_vectors  bits  fixed_pairs  adaptive_pairs")
    for label, n, bits, fixed, adapt in rows:
        print(f"{label:>4}  {n:>9}  {bits:>4}  {fixed:>11}  {adapt:>14}")
    (l1, n1, _, f1, a1), (l2, n2, _, f2, a2) = rows
    print(
        f"growth at {n2 // n1}x rows: fixed {f2 / f1:.1f}x, "
        f"adaptive {a2 / a1:.1f}x (linear target ~{n2 // n1}x)"
    )

    # Secondary: end-to-end wall of the scaled prune entry, min of 2
    # interleaved reps, block-manager sweep between runs.
    fn = REGISTRY["llm_semdedup_prune_scaled"].fn
    walls = {}
    for rep_i in range(2):
        for label, d in [("1x", args.src), (f"{args.copies}x", args.out)]:
            unpersist_all(spark)
            t0 = time.time()
            fn(spark, d).collect()
            dt = time.time() - t0
            walls[label] = min(walls.get(label, 1e9), dt)
    print(
        f"llm_semdedup_prune_scaled wall: 1x {walls['1x']:.2f}s, "
        f"{args.copies}x {walls[f'{args.copies}x']:.2f}s "
        f"({walls[f'{args.copies}x'] / walls['1x']:.1f}x)"
    )


if __name__ == "__main__":
    main()
