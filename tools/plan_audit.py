"""Physical-plan audit over the bench headline queries.

For each query: run one unaudited build and collect (bench.py's
per-entry warm-up, so one-time setup such as a bucketed table's
`saveAsTable` is not audited), then build and collect again under
`executed_plans`, which reads the final physical plan of every SQL
execution the call ran out of Spark's own SQL execution store. The
last plan is the residual collect; the ones before it are the
construction-time actions — checkpoints, bounded stats collects,
takes — wherever in the package they run. Each row sums the
scale-relevant plan properties over all of them: exchanges
(shuffles), broadcast vs sort-merge joins, filter pushdown,
whole-stage-codegen spans, scan column pruning, and shuffles that AQE
read back locally under a join it demoted to a broadcast. This is the
work a timed run actually performs. Output is a markdown table
(PLANS.md is its checked-in snapshot): the audit trail that the
declarative plans actually compile to the physical shapes SCALE.md
claims.

    python tools/plan_audit.py [--sf /root/testdata/sf0.01] [--write]

`--write` splices the regenerated table into PLANS.md in place
(header and notes prose are preserved) and stamps it with
`package_hash()`, which `tools/plans_fresh.py` recomputes.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Spark's default UI explain mode (FORMATTED) prints `* HashAggregate (7)`
# instead of the `*(1)` codegen markers `audit()` counts.
_EXPLAIN_MODE = "spark.sql.ui.explainMode"
_WAIT_MS = 60_000


def executed_plans(spark, fn) -> list[str]:
    """Run `fn()` and return the final physical plan of every SQL
    execution it started, in execution-id order. Spark records each
    execution's plan in the session's SQL status store (present with
    the UI disabled); AQE replaces it with the final plan before the
    execution ends. Execution ids are allocated per SparkContext, so
    nothing else may run SQL on it concurrently."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    prev_mode = spark.conf.get(_EXPLAIN_MODE)
    spark.conf.set(_EXPLAIN_MODE, "simple")
    try:
        bus.waitUntilEmpty(_WAIT_MS)
        n = store.executionsCount()
        first = store.executionsList(n - 1, 1).head().executionId() + 1 if n else 0
        fn()
        bus.waitUntilEmpty(_WAIT_MS)
    finally:
        spark.conf.set(_EXPLAIN_MODE, prev_mode)
    plans = []
    while (ex := store.execution(first + len(plans))).isDefined():
        plans.append(ex.get().physicalPlanDescription())
    return plans


def package_hash(root: str = REPO) -> str:
    """sha256 over the relative path and bytes of every `*.py` of the
    package plus `__spark_entry__.py`, walked in sorted path order: the
    engine code a PLANS.md table was generated from."""
    paths = [os.path.join(root, "__spark_entry__.py")]
    for d, _, files in os.walk(os.path.join(root, "machine_telemetry_etl_ml_pipeline_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    h = hashlib.sha256()
    for path in sorted(paths, key=lambda p: os.path.relpath(p, root)):
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def audit(plan: str) -> dict:
    # a finalized AdaptiveSparkPlan prints the final plan AND an
    # "== Initial Plan ==" section — audit only the final one
    plan = plan.split("== Initial Plan ==")[0]
    return {
        "exchanges": len(re.findall(r"Exchange (?:hash|range|Single)", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "group_limit": "WindowGroupLimit" in plan,
        "take_ordered": "TakeOrderedAndProject" in plan,
        "cartesian": "CartesianProduct" in plan,
        # a shuffle AQE read back locally under a join it demoted to a
        # broadcast: the exchange's write and its job were wasted
        "local_reads": plan.count("AQEShuffleRead local"),
    }


def splice_plans_md(table_lines: list[str]) -> str:
    """Replace the markdown table block in PLANS.md (first `| query |`
    header line through the last contiguous `|` row) with
    `table_lines`, preserving the prose above and below."""
    path = os.path.join(REPO, "PLANS.md")
    lines = open(path).read().splitlines()
    start = next(i for i, l in enumerate(lines) if l.startswith("| query |"))
    end = start
    while end < len(lines) and lines[end].startswith("|"):
        end += 1
    out = lines[:start] + table_lines + lines[end:]
    out = [l for l in out if not l.startswith("<!-- plan-audit-stamp:")]
    out.append(f"<!-- plan-audit-stamp: package-sha256={package_hash()} -->")
    with open(path, "w") as fh:
        fh.write("\n".join(out) + "\n")
    return path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--write", action="store_true", help="splice the table into PLANS.md")
    args = ap.parse_args()

    import bench
    import __spark_entry__ as ent
    from machine_telemetry_etl_ml_pipeline_spark.session import get_spark

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = ent.queries()

    table = [
        "| query | shuffles | BHJ | SMJ | BNLJ | pushed scans | codegen spans | notes |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for line in table:
        print(line, flush=True)
    from machine_telemetry_etl_ml_pipeline_spark.operators.ckpt import unpersist_all

    for name in bench.HEADLINE:
        qs[name](spark, args.sf).collect()  # unaudited warm-up
        unpersist_all(spark)
        # the last execution is this collect: the residual plan
        plans = executed_plans(spark, lambda: qs[name](spark, args.sf).collect())
        parts = [audit(p) for p in plans]
        a = {
            k: (any(p[k] for p in parts) if isinstance(parts[0][k], bool)
                else sum(p[k] for p in parts))
            for k in parts[0]
        }
        unpersist_all(spark)  # entries may leave live final-round checkpoints
        notes = []
        if len(plans) > 1:
            notes.append(f"incl. {len(plans) - 1} construction-time plans")
        if a["group_limit"]:
            notes.append("partial WindowGroupLimit")
        if a["take_ordered"]:
            notes.append("TakeOrderedAndProject")
        if a["cartesian"]:
            notes.append("CARTESIAN (bad)")
        if a["local_reads"]:
            notes.append(f"{a['local_reads']} local shuffle reads")
        row = (
            f"| {name} | {a['exchanges']} | {a['bhj']} | {a['smj']} | {a['bnlj']} "
            f"| {a['pushed']} | {a['codegen']} | {', '.join(notes)} |"
        )
        table.append(row)
        print(row, flush=True)

    if args.write:
        print(f"wrote {splice_plans_md(table)}")


if __name__ == "__main__":
    main()
