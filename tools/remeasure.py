"""Interleaved re-measurement of individual bench entries (the
VERDICT r10 item-3 protocol: N interleaved reps at sf0.1 on HEAD,
bench-identical execution — noop sink, unpersist_all between runs,
min-of-reps — to classify an out-of-band driver-bench mover as
ambient vs attributed).

Control entries run in the same interleave: entries whose driver
timing sat INSIDE the ambient band anchor the run's local-vs-driver
offset, so the target's min can be read against the controls' mins
instead of against a bare historical number.

    python tools/remeasure.py [--sf /root/testdata/sf0.1] [--reps 5]
        [--controls name,name] target [target...]

A target is a registry entry name or a ``module:function`` variant with
the entry signature ``fn(spark, sf_dir) -> DataFrame``, e.g. an A/B
candidate kept in a scratch module on PYTHONPATH:

    python tools/remeasure.py --controls "" graph_k_core my_variants:kcore_fused

Before any timing, an untimed parity step compares each
``module:function`` target's rows with the first target's
(tools.check.canon_rows); a variant that changes the output stops the
run with ParityError, so an A/B never times two different queries.

Run NOTHING else concurrently (round protocol).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from machine_telemetry_etl_ml_pipeline_spark.operators.ckpt import unpersist_all  # noqa: E402
from tools.check import canon_rows  # noqa: E402


class ParityError(Exception):
    """A ``module:function`` target's rows differ from the first target's."""


def resolve(queries: dict, target: str):
    if ":" not in target:
        return queries[target]
    module, fn = target.split(":", 1)
    return getattr(importlib.import_module(module), fn)


def check_parity(spark, sf: str, fns: dict, targets: list[str]) -> None:
    """Untimed: each ``module:function`` target must return the first
    target's rows."""

    def rows(name):
        df = fns[name](spark, sf)
        out = canon_rows(df.columns, df.collect())
        unpersist_all(spark)
        return out

    variants = [t for t in targets[1:] if ":" in t]
    if not variants:
        return
    cols, want = rows(targets[0])
    for t in variants:
        got_cols, got = rows(t)
        if (got_cols, got) != (cols, want):
            diff = next((f"; first difference {a} vs {b}" for a, b in zip(want, got) if a != b), "")
            raise ParityError(
                f"{t}: {len(got)} rows {got_cols} vs {len(want)} rows {cols} from {targets[0]}{diff}"
            )


def measure(spark, sf: str, targets: list[str], controls: list[str], reps: int, warmup: int) -> dict:
    import __spark_entry__ as ent

    qs = ent.queries()
    names = targets + controls
    fns = {n: resolve(qs, n) for n in names}
    check_parity(spark, sf, fns, targets)

    def run_once(name: str) -> float:
        t0 = time.monotonic()
        fns[name](spark, sf).write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        unpersist_all(spark)
        return dt

    # Per-ENTRY warm-up reps, not counted (r12): warming only the
    # first name left per-entry first-touch costs — catalog/
    # bucketed-table exists-checks, per-plan codegen — inside rep 1
    # (observed: a 5.0s first rep on ext_bucketed_join_colocated vs
    # its 0.53s min). Every measured rep now starts warm.
    for _ in range(warmup):
        for n in names:
            run_once(n)

    all_ts: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(reps):
        order = names if rep % 2 == 0 else list(reversed(names))
        for n in order:
            all_ts[n].append(run_once(n))
        print(
            f"rep {rep + 1}/{reps}: "
            + "  ".join(f"{n}={all_ts[n][-1]:.3f}s" for n in names),
            flush=True,
        )
    return {
        n: {"min": round(min(ts), 3), "all": [round(t, 3) for t in ts]}
        for n, ts in all_ts.items()
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--warmup", type=int, default=1,
                    help="uncounted warm-up reps of EVERY name (default 1)")
    ap.add_argument(
        "--controls",
        default="ext_salted_join,llm_tfidf_topk_terms",
        help="comma-separated in-band entries run in the same interleave",
    )
    ap.add_argument("targets", nargs="+")
    args = ap.parse_args()

    from machine_telemetry_etl_ml_pipeline_spark.session import get_spark

    spark = get_spark("remeasure")
    spark.sparkContext.setLogLevel("ERROR")
    controls = [c for c in args.controls.split(",") if c]
    try:
        out = measure(spark, args.sf, args.targets, controls, args.reps, args.warmup)
    except ParityError as e:
        sys.exit(f"ParityError: {e}")
    print(json.dumps({"sf": args.sf, "reps": args.reps, "results": out}))


if __name__ == "__main__":
    main()
