"""Regression gates for the money-channel model and the 100x ledger
artifact (VERDICT r11 items 1+4).

test_money_gate_green: every F.round(sum-of-doubles, k>0) site in the
package carries evidence — a 100x-ledger PASS (direct or sink-path)
or an explicit money-grid docstring bound. A new unproven site fails
the suite, converting the r11 empirical sweep into a standing check
(the ext_incremental_rollup class of miss opened at ~60k terms/group
because the old 'small group => safe' heuristic was wrong; evidence,
not heuristics, is the bar now).

test_ledger_status_terminal: the committed ledger has a TERMINAL
disposition for every registry entry — pass, pass-sink, or a
documented skip-* with a cause — and nothing else. This is the
machine-readable form of SCALE.md's "no dangling 'recorded below'"
requirement.
"""

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
sys.path.insert(0, REPO)

TERMINAL = ("pass", "pass-sink")
SKIP_PREFIX = "skip-"


def test_money_gate_green(capsys):
    import money_gate

    rc = money_gate.main([])
    out = capsys.readouterr().out
    assert rc == 0, f"money gate found unproven round-over-sum sites:\n{out}"


def test_ledger_status_terminal():
    path = os.path.join(REPO, "tools", "ledger100_status.json")
    ledger = json.load(open(path))
    import __spark_entry__ as ent

    # QUERY_ORDER is the registry plus the blob-gated entry that only
    # registers where the reference model blobs exist
    # (test_contract.test_query_order_names_every_entry)
    names = set(ent.QUERY_ORDER)
    assert set(ledger["entries"].keys()) == names, "ledger must cover the full registry"
    bad = {
        n: e["status"]
        for n, e in ledger["entries"].items()
        if e["status"] not in TERMINAL and not e["status"].startswith(SKIP_PREFIX)
    }
    assert not bad, f"non-terminal ledger dispositions: {bad}"
    # every skip must say why
    unexplained = [
        n
        for n, e in ledger["entries"].items()
        if e["status"].startswith(SKIP_PREFIX) and len(e.get("note", "")) < 20
    ]
    assert not unexplained, f"skips without a recorded cause: {unexplained}"
