"""Generate tools/ledger100_status.json — the machine-readable 100x
oracle ledger (VERDICT r11 item 1: the ledger must end with a terminal
disposition for every entry, not a dangling "recorded below").

Sources, in precedence order (later tiers win; conflicts within the
final state are surfaced):

  1. r11 chunked full-registry logs   /tmp/ledger100/chunk_*.log
  2. r11 mop-up logs                  /tmp/ledger100/mop*.log
  3. r12 terminal-disposition logs    /tmp/ledger100/r12/*.log

plus the SKIPS manifest below — entries whose 100x disposition is a
documented skip with cause (oracle-side infeasibility, by-design
freeze, or adjudication at a different replica where the oracle
fits). The sink-path entries (adjudicated by check_via_parquet, i.e.
row-faithful values / coerced types) are listed in SINK_PATH.

The committed JSON is the artifact of record; /tmp logs are its
provenance and do not survive the machine. Regenerate only while the
logs exist; otherwise the committed file stands.

    python tools/gen_ledger_status.py [--write]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LINE = re.compile(r"(PASS|FAIL|rows-only) ([a-z0-9_]+): (?:(\d+) rows.*?\(([\d.]+)s\)|(.*))")

# Documented skips: name -> (status, note). Every status other than
# "pass"/"pass-sink" means "no direct 100x driver-gate row"; the note
# names the cause and where the entry IS adjudicated instead.
SKIPS = {
    "graph_common_neighbors": (
        "skip-oracle-infeasible",
        "DuckDB neighbor-pair self-join over the 100x edge list spills >76 GiB "
        "and exhausts the disk (oracle-side quadratic cost; the Spark side "
        "completed). Direct oracle rows at 10x AND 30x (mop30x, 272.8s).",
    ),
    "graph_label_propagation": (
        "skip-oracle-infeasible",
        "Same oracle-side quadratic spill class as graph_common_neighbors, but "
        "steeper: the 30x oracle ALSO exhausts the disk (r11 mop30x and a clean "
        "solo r12 retry both died in DuckDB temp spill). Deepest oracle row is "
        "the direct 10x PASS (r10 complete ledger); the r11 're-adjudicated at "
        "30x' claim is corrected in SCALE.md r12.",
    ),
    "graph_triangle_count": (
        "skip-oracle-infeasible",
        "DuckDB triangle-enumeration self-join at the 100x edge list exhausts "
        "68 GiB of disk in a clean solo run (Spark side completed). "
        "Re-adjudicated at 30x: direct oracle PASS in 37.3s (r12 triangle_30x "
        "log) — the oracle cost cliff between 30x and 100x is the skip cause.",
    ),
    "llm_sequence_packing": (
        "skip-oracle-budget",
        "The DuckDB oracle is a RECURSIVE CTE next-fit walk (one iteration per "
        "document rank per source, each re-joining the 500k-row base) — "
        "sequential by construction; two budget expiries (2400s, then a 3600s "
        "extended solo run). The Spark side (distributed prefix sum) completes "
        "its 100x run in seconds. Direct 10x oracle row stands (r10).",
    ),
    "llm_minhash_band_tuning": (
        "skip-output-bound-dense-replica",
        "The 4-bands x 1-row recall-leaning layout's candidate-pair multiset "
        "grows ~copies^2 per natural cluster on the dense replica; two "
        "independent runs exhausted >68 GiB of shuffle disk in the same stage. "
        "Replica-construction property, not an operator defect at production "
        "pair densities; direct 10x row stands (r10).",
    ),
    "llm_lsh_candidate_pairs": (
        "skip-oracle-infeasible-output-bound",
        "At the dense 100x replica the banded join yields 1,648,995,279 "
        "candidate pairs — the SPARK side completed and wrote all 1.649B rows "
        "to parquet (7.7 GB, 48g-heap run, r12 sinkpath log), but the DuckDB "
        "oracle computing the same pairs exhausts the disk. Direct 10x row "
        "stands (r10); 30x pair growth attributed with measured counts (r11).",
    ),
    "llm_minhash_jaccard_estimate": (
        "skip-output-bound-dense-replica",
        "Estimates Jaccard over the same ~1.6B-pair candidate set as "
        "llm_lsh_candidate_pairs on the dense replica: Spark execution memory "
        "exhausted at 8g AND 48g heaps (UNABLE_TO_ACQUIRE_MEMORY in the "
        "signature-join stage), and the oracle shares the pair blowup. "
        "Direct 10x row stands (r10).",
    ),
    "llm_semdedup_prune": (
        "skip-by-design",
        "Frozen quadratic original (registry/llm.py), labeled weak-by-design and "
        "off the headline; the scaled replacement llm_semdedup_prune_scaled "
        "holds a direct 100x PASS row.",
    ),
    "llm_embedding_neardup": (
        "skip-by-design",
        "Frozen quadratic original (registry/llm.py); the adaptive replacement "
        "llm_embedding_neardup_scaled carries the scale path.",
    ),
    "llm_dedup_components": (
        "skip-dense-replica-unfactorable",
        "Near-dup closure: the 100x DENSE replica introduces ~15.4M cross-copy "
        "candidate pairs (adjudicator factorability pre-check aborts cleanly), "
        "and the recursive closure oracle runs hours even at 10x. Adjudicated "
        "at the 10x LOW-DENSITY replica (r10 ledger, direct PASS).",
    ),
    "llm_dedup_keep_best": (
        "skip-dense-replica-unfactorable",
        "Same closure family; direct PASS at the 10x low-density replica "
        "(r10) and an r11 driver-window green row.",
    ),
    "llm_dedup_cluster_sizes": (
        "skip-dense-replica-unfactorable",
        "Same closure family; direct PASS at the 10x low-density replica (r10).",
    ),
}

# Adjudicated via tools/check_via_parquet.py (results too large for a
# driver collect): row-faithful values, coerced types, signed-zero
# witness since r12.
SINK_PATH = {
    "ext_scalar_math": "60M-row math projection; collect ceiling is a harness limit",
    "ext_unpivot": "180M-row unpivot; multiset-equal via two-way EXCEPT ALL",
}


def parse_tier(pattern: str) -> dict[str, tuple[str, str, str]]:
    out: dict[str, tuple[str, str, str]] = {}
    for f in sorted(glob.glob(pattern)):
        # two log families share the PASS/FAIL grammar but are NOT
        # 100x oracle rows: determinism probes (partition-order
        # stability at sf0.1) and runs against OTHER replicas
        # (e.g. the 30x re-adjudications, kept as *30x* logs) —
        # never let either into this ledger
        base = os.path.basename(f)
        if "determinism" in base or "30x" in base:
            continue
        for raw in open(f, errors="replace"):
            for seg in raw.split("\r"):
                m = LINE.search(seg)
                if m:
                    status, name = m.group(1), m.group(2)
                    out[name] = (status, os.path.basename(f), (m.group(5) or "").strip())
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--logs", default="/tmp/ledger100")
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as ent

    names = list(ent.queries().keys())

    merged: dict[str, tuple[str, str, str]] = {}
    for pat in ("chunk_*.log", "mop*.log", os.path.join("r12", "*.log")):
        tier = parse_tier(os.path.join(args.logs, pat))
        for name, v in tier.items():
            prev = merged.get(name)
            # within the stream of tiers: a later tier is a rerun and
            # wins outright; this mirrors the chronology of the runs
            merged[name] = v
            if prev and prev[0] != v[0]:
                print(f"note: {name} {prev[0]}@{prev[1]} superseded by {v[0]}@{v[1]}")

    entries: dict[str, dict] = {}
    unresolved = []
    for name in names:
        if name in SKIPS:
            st, note = SKIPS[name]
            entries[name] = {"status": st, "note": note}
            continue
        v = merged.get(name)
        if v and v[0] == "PASS":
            status = "pass-sink" if name in SINK_PATH else "pass"
            note = SINK_PATH.get(name, "")
            entries[name] = {"status": status, "note": note, "source": v[1]}
        elif v:
            entries[name] = {"status": "FAIL", "note": v[2], "source": v[1]}
            unresolved.append(name)
        else:
            entries[name] = {"status": "UNRESOLVED", "note": "no log line, no skip"}
            unresolved.append(name)

    n_pass = sum(1 for e in entries.values() if e["status"] == "pass")
    n_sink = sum(1 for e in entries.values() if e["status"] == "pass-sink")
    n_skip = sum(1 for e in entries.values() if e["status"].startswith("skip"))
    print(
        f"{len(names)} entries: {n_pass} pass + {n_sink} pass-sink + "
        f"{n_skip} documented skips + {len(unresolved)} UNRESOLVED"
    )
    for n in unresolved:
        print(f"  UNRESOLVED/FAIL: {n}: {entries[n]}")

    if args.write:
        out = {
            "replica": "100x dense (/tmp/sf10.0): 60M lineitem / 15M orders / "
                       "10M events / 500k documents, scale_probe --copies 100",
            "gate": "tools/check.py driver-identical collect-compare; pass-sink = "
                    "tools/check_via_parquet.py (row-faithful values, coerced types, "
                    "signed-zero witness)",
            "counts": {"pass": n_pass, "pass_sink": n_sink, "skip": n_skip},
            "entries": entries,
        }
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "ledger100_status.json")
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {path}")
    sys.exit(2 if unresolved else 0)


if __name__ == "__main__":
    main()
