"""Invariant tests for the round-5 batch-10 entries (now in
registry/sql_scripting.py): the SQL-programmability layer must be pure
assembly — identical results to the static formulations, re-runnable in
one session."""

from __future__ import annotations

from collections import Counter

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_session_variable_binds_exact_midpoint(spark):
    """The variable-bound filter must equal the inline-subquery filter,
    and re-running must not fail on redeclaration."""
    rows1 = {r.event_type: (r.n, r.sum_cents) for r in _run(spark, "ext_session_variables").collect()}
    rows2 = {r.event_type: (r.n, r.sum_cents) for r in _run(spark, "ext_session_variables").collect()}
    assert rows1 == rows2  # DECLARE OR REPLACE keeps it re-runnable
    events = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "event_type", "value"
    ).collect()
    cutoff = max(r.event_id for r in events) // 2
    expect = {}
    for r in events:
        if r.event_id <= cutoff:
            n, c = expect.get(r.event_type, (0, 0))
            expect[r.event_type] = (n + 1, c + round(r.value * 100))
    assert rows1 == expect


def test_execute_immediate_binds_parameters(spark):
    """Positional USING binds must produce the plain filtered rollup."""
    rows = {r.event_type: r.n for r in _run(spark, "ext_execute_immediate").collect()}
    events = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_type", "user_id"
    ).collect()
    expect = Counter(
        r.event_type
        for r in events
        if r.event_type in ("purchase", "click") and r.user_id % 10 == 3
    )
    assert rows == dict(expect)


def test_sql_scripting_state_matches_fused_query(spark):
    """The script's variable pipeline must equal the fused static
    query: max per-user count, user count, and the 0.75*max heavy-user
    census via integer cross-multiplication."""
    row = _run(spark, "ext_sql_scripting").collect()[0]
    events = spark.read.parquet(f"{SF}/events.parquet").select("user_id").collect()
    per_user = Counter(r.user_id for r in events)
    max_n = max(per_user.values())
    heavy = sum(1 for n in per_user.values() if n * 4 >= max_n * 3)
    assert row.max_n == max_n
    assert row.n_users == len(per_user)
    assert row.n_heavy == heavy


def test_sql_scripting_loop_matches_unrolled_iteration(spark):
    """The WHILE loop's final threshold must equal three unrolled
    Python iterations of floor-mean refinement."""
    row = _run(spark, "ext_sql_scripting_loop").collect()[0]
    events = spark.read.parquet(f"{SF}/events.parquet").select("value").collect()
    cents = [round(r.value * 100) for r in events]
    t = max(cents)
    for _ in range(3):
        below = [c for c in cents if c <= t]
        t = int(sum(below) / len(below) // 1)  # floor of exact-int mean
    assert row.threshold_cents == t
    assert row.n_below == sum(1 for c in cents if c <= t)
    assert row.n_iterations == 3
