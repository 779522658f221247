"""Pins the per-layer counts that repeat exactly from run to run.

Each test runs the benchmark once with ``--trace 1`` on a fixed seed and
compares the counts below with the values recorded at the commit that
added the benchmark. A change that moves one of them changes the work
the engine does, not the machine's mood: update the value here together
with the change and say why. Run from the repository root:

    python3 -m pytest perfbench/test_counts.py -q

Each test takes one to two minutes (one Spark process).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Per pass of the suite sample, any seed (the planted co-purchase path
# makes graph_k_core run all six peel rounds; see gen.write_star_tables).
SUITE = {
    "build.jobs": 53.0,
    "build.stages": 53.0,
    "sink.jobs": 14.0,
    "sink.stages": 14.0,
    "ckpt.calls": 22.0,
    "ckpt.rdds_leaked": 7.0,
}
# serve_mixed, any seed: per ingest, and per traced request (one block of
# seven, whose last request also inserts: 2 jobs and 1 file); the table
# ends with its 15 ingested files plus one per insert of the two blocks.
SERVE = {
    "ingest.jobs": 5.0,
    "ingest.files_written": 15.0,
    "append.jobs_per_req": (7 + 2) / 7,
    "append.files_per_req": (7 * 2 + 1) / 7,
    "telemetry.files": 17.0,
}


def traced_run(workload: str, seed: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, result
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize(
    "workload, seed, pinned",
    [("suite_sample", 1, SUITE), ("suite_sample", 2, SUITE), ("serve_mixed", 1, SERVE), ("serve_mixed", 3, SERVE)],
)
def test_counts_repeat(workload, seed, pinned):
    got = traced_run(workload, seed)
    assert {k: got[k] for k in pinned} == pytest.approx(pinned)
