"""One-command round close-out (VERDICT r10 item 1: make the
artifact refresh a STANDING step, not a per-round memory).

Runs, in order, stopping on the first failure:

1. the money-channel static gate (`tools/money_gate.py`, r12:
   every F.round over a sum-of-doubles site must carry 100x-ledger
   or bounded-grid evidence — instant, so it runs first);
2. full correctness sweep — every registered entry vs its DuckDB
   oracle at sf0.001 AND sf0.01 (`tools/check.py`; the driver gate's
   local replication);
3. the pytest suite;
4. physical-plan audit with `--write` — regenerates PLANS.md's table
   in place (and stamps the hash of the audited engine code) so the
   checked-in plan snapshot matches every engine change this round;
5. the bench at sf0.1 — which also writes `BENCH_local.json`, the
   in-tree twin of the driver artifact (truncation armor,
   VERDICT r10 item 4);
6. the PLANS.md freshness check (`tools/plans_fresh.py`: fails if
   the engine code differs from the code the stamped audit ran on).

Steps 4-5 want an otherwise-idle machine (bench timings feed the
round ledger); run closeout alone.

    python tools/closeout.py [--skip-money] [--skip-sweep]
        [--skip-pytest] [--skip-plans] [--skip-bench] [--skip-fresh]
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(tag: str, cmd: list[str]) -> None:
    print(f"==> {tag}: {' '.join(cmd)}", flush=True)
    t0 = time.time()
    rc = subprocess.call(cmd, cwd=REPO)
    print(f"<== {tag}: rc={rc} ({time.time() - t0:.0f}s)", flush=True)
    if rc != 0:
        sys.exit(f"closeout FAILED at {tag}")


def main() -> None:
    ap = argparse.ArgumentParser()
    for step in ("money", "sweep", "pytest", "plans", "bench", "fresh"):
        ap.add_argument(f"--skip-{step}", action="store_true")
    args = ap.parse_args()

    py = sys.executable
    if not args.skip_money:
        run("money-gate", [py, "tools/money_gate.py"])
    if not args.skip_sweep:
        run(
            "sweep",
            [py, "tools/check.py", "--sf", "/root/testdata/sf0.01", "--sf", "/root/testdata/sf0.001"],
        )
    if not args.skip_pytest:
        run("pytest", [py, "-m", "pytest", "tests/", "-x", "-q"])
    if not args.skip_plans:
        run("plans", [py, "tools/plan_audit.py", "--write"])
    if not args.skip_bench:
        run("bench", [py, "bench.py"])
    if not args.skip_fresh:
        run("plans-fresh", [py, "tools/plans_fresh.py"])
    print("closeout: all steps green", flush=True)


if __name__ == "__main__":
    main()
