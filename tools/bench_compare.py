"""Classify per-query deltas between two bench JSON files.

Every round's verdict asks the same question of BENCH_r{N} vs
BENCH_r{N-1}: which moves are ambient drift and which need an isolated
A/B (the r7 triangle-count lesson: a +25% bench move hid a real 20%
eager-collect cost). This tool mechanizes the first pass:

- estimates the round's AMBIENT DRIFT as the median relative delta
  over all shared queries (machine-load/JIT noise moves everything
  roughly together — SCALE.md "Bench-regression re-measure"),
- classifies each query as within the drift band (median +- band
  width) or ABOVE/BELOW it,
- prints the outliers sorted by excess-over-drift, i.e. exactly the
  list that needs per-query attribution (an isolated A/B via
  tools/remeasure.py with module:function variants, or a plan diff
  via tools/plan_audit.py).

Accepts the raw bench.py output, the driver's BENCH_r{N}.json wrapper
({"parsed": {...}}), and — since r11 — a TRUNCATED driver wrapper
({"parsed": null, "tail": "..."}, the BENCH_r10.json failure mode):
per-query timings are recovered by regex from the surviving tail
(the region before the embedded compare block, whose old_sec/new_sec
pairs would otherwise pollute the extraction), marked
`recovered_from_tail` so a partial baseline is visible downstream.

    python tools/bench_compare.py OLD.json NEW.json [--band 0.10]
"""

from __future__ import annotations

import argparse
import json
import re

# non-query numeric keys that appear in bench output / the driver
# wrapper / the embedded compare block — excluded from tail recovery
_SCALARS = frozenset(
    {
        "value", "sf", "reps", "n", "rc", "cpus", "r1_subset_wall_sec",
        "shared", "band_pct", "ambient_drift_median_pct",
        "old_sec", "new_sec", "delta_pct", "vs_drift_pct",
    }
)


def load(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    if isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    if "queries" in d:
        return d
    tail = d.get("tail")
    if isinstance(tail, str):
        seg = tail.split('"compare_to_prev"')[0]
        qs = {
            k: float(v)
            for k, v in re.findall(
                r'"([A-Za-z_][A-Za-z0-9_]*)":\s*([0-9]+(?:\.[0-9]+)?)\b', seg
            )
            if k not in _SCALARS
        }
        if qs:
            out: dict = {"queries": qs, "recovered_from_tail": True}
            for k in ("value", "r1_subset_wall_sec", "sf"):
                m = re.search(rf'"{k}":\s*([0-9.]+)', seg)
                if m:
                    out[k] = float(m.group(1))
            return out
    raise ValueError(f"{path}: no recoverable 'queries' (not a bench JSON?)")


def classify(old: dict, new: dict, band: float = 0.10) -> dict:
    """Median-delta ambient-drift estimate + out-of-band outliers,
    as a JSON-serializable dict (bench.py embeds this block in its
    output so the classification travels WITH the artifact —
    VERDICT r9 item 8)."""
    qo, qn = old["queries"], new["queries"]
    shared = sorted(set(qo) & set(qn))
    rel = {n: (qn[n] - qo[n]) / qo[n] for n in shared if qo[n] > 0}
    deltas = sorted(rel.values())
    median = deltas[len(deltas) // 2] if deltas else 0.0
    lo, hi = median - band, median + band
    out = [
        {
            "query": n,
            "old_sec": qo[n],
            "new_sec": qn[n],
            "delta_pct": round(100 * rel[n], 1),
            "vs_drift_pct": round(100 * (rel[n] - median), 1),
        }
        for n in rel
        if not (lo <= rel[n] <= hi)
    ]
    out.sort(key=lambda r: -abs(r["vs_drift_pct"]))
    return {
        **(
            {"baseline_recovered_from_tail": True}
            if old.get("recovered_from_tail")
            else {}
        ),
        "shared": len(shared),
        "dropped": sorted(set(qo) - set(qn)),
        "added": sorted(set(qn) - set(qo)),
        "ambient_drift_median_pct": round(100 * median, 1),
        "band_pct": round(100 * band, 1),
        "outside_band": out,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument(
        "--band",
        type=float,
        default=0.10,
        help="half-width of the drift band around the median delta",
    )
    args = ap.parse_args()

    old, new = load(args.old), load(args.new)
    qo, qn = old["queries"], new["queries"]
    shared = sorted(set(qo) & set(qn))
    only_old = sorted(set(qo) - set(qn))
    only_new = sorted(set(qn) - set(qo))

    rel = {n: (qn[n] - qo[n]) / qo[n] for n in shared if qo[n] > 0}
    deltas = sorted(rel.values())
    median = deltas[len(deltas) // 2] if deltas else 0.0
    lo, hi = median - args.band, median + args.band

    out = [
        (n, qo[n], qn[n], rel[n], rel[n] - median)
        for n in rel
        if not (lo <= rel[n] <= hi)
    ]
    out.sort(key=lambda r: -abs(r[4]))

    print(
        f"shared={len(shared)}  total {old.get('value', '?')} -> "
        f"{new.get('value', '?')}  median-delta={median:+.1%} "
        f"(ambient-drift estimate)  band=+-{args.band:.0%}"
    )
    if only_old:
        print(f"dropped queries: {', '.join(only_old)}")
    if only_new:
        print(f"added queries: {', '.join(only_new)}")
    if not out:
        print("all queries within the drift band — nothing to attribute")
        return
    print(f"\n{len(out)} queries OUTSIDE the band (need attribution):")
    print(f"{'query':38s} {'old':>7s} {'new':>7s} {'delta':>8s} {'vs-drift':>9s}")
    for n, o, v, r, ex in out:
        print(f"{n:38s} {o:7.2f} {v:7.2f} {r:+8.1%} {ex:+9.1%}")


if __name__ == "__main__":
    main()
