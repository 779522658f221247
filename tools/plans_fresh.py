"""PLANS.md freshness check.

`tools/plan_audit.py --write` stamps PLANS.md with `package_hash()`, a
sha256 over the engine code the table was generated from (every
`*.py` of the package plus `__spark_entry__.py`). This tool recomputes
the hash and FAILS unless it matches the stamp — so engine code that
changed after the last audit, committed or not, is caught. The stamp
names content, not a commit, so it survives rebases and squash merges.

    python tools/plans_fresh.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from plan_audit import REPO, package_hash  # noqa: E402


def main() -> int:
    stamp = None
    for line in open(os.path.join(REPO, "PLANS.md")):
        m = re.match(r"<!-- plan-audit-stamp: package-sha256=([0-9a-f]{64}) -->", line.strip())
        if m:
            stamp = m.group(1)
    if stamp is None:
        print("plans_fresh: FAIL — PLANS.md carries no plan-audit-stamp; "
              "run `python tools/plan_audit.py --write`")
        return 1
    current = package_hash()
    if current != stamp:
        print(f"plans_fresh: FAIL — engine code (sha256 {current[:12]}) differs from "
              f"the audited code ({stamp[:12]}); re-run `python tools/plan_audit.py --write`")
        return 1
    print(f"plans_fresh: OK — PLANS.md audited the current engine code ({current[:12]})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
