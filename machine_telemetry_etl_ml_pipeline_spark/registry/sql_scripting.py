"""``ext_*`` entries for Spark SQL scripting and session state: session
variables (DECLARE / SET VAR), EXECUTE IMMEDIATE, and compound
BEGIN ... END scripts with loops.
"""

from __future__ import annotations

from . import _views, register


@register(
    "ext_session_variables",
    """
    WITH t AS (SELECT max(event_id) // 2 AS cutoff FROM events)
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events CROSS JOIN t
    WHERE event_id <= cutoff
    GROUP BY event_type
    """,
)
def ext_session_variables(spark, sf_dir):
    """Spark 4 session variables: DECLARE OR REPLACE VARIABLE, SET VAR
    from a scalar subquery (the exact integer midpoint of the id
    space), then reference the variable in a later query — the
    engine-side replacement for the reference's Python-side constants
    interpolated into SQL strings (db.py:254-271). The variable is
    bound at SET time, so the consuming query plans with a LITERAL —
    constant-folded, pushed into the parquet scan like any static
    predicate (no re-evaluation per row, no correlated subquery).
    Oracle: the same query with the cutoff inlined as a broadcast
    1-row CTE."""
    _views(spark, sf_dir, "events")
    spark.sql("DECLARE OR REPLACE VARIABLE cutoff_id BIGINT")
    spark.sql("SET VAR cutoff_id = (SELECT max(event_id) DIV 2 FROM events)")
    return spark.sql(
        """
        SELECT event_type,
               count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM events
        WHERE event_id <= cutoff_id
        GROUP BY event_type
        """
    )


@register(
    "ext_execute_immediate",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events
    WHERE event_type IN ('purchase', 'click') AND user_id % 10 = 3
    GROUP BY event_type
    """,
)
def ext_execute_immediate(spark, sf_dir):
    """EXECUTE IMMEDIATE dynamic SQL with positional USING binds — the
    injection-safe replacement for the reference's f-string query
    assembly (db.py builds every query as a Python-interpolated
    string). The statement text carries ? placeholders; values bind as
    parameters (typed, never spliced into the text), and the planned
    query is byte-identical to the static form — the oracle proves
    it."""
    _views(spark, sf_dir, "events")
    return spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT event_type, count(*) AS n, "
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents "
        " FROM events WHERE event_type IN (?, ?) AND user_id % ? = ? "
        " GROUP BY event_type' "
        "USING 'purchase', 'click', 10, 3"
    )


@register(
    "ext_sql_scripting",
    """
    WITH hot AS (
      SELECT user_id, count(*) AS n_events
      FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT CAST(max(n_events) AS BIGINT) AS max_n,
             CAST(count(*) AS BIGINT) AS n_users
      FROM hot
    )
    SELECT s.max_n, s.n_users,
           CAST(count(*) AS BIGINT) AS n_heavy
    FROM hot h CROSS JOIN stats s
    WHERE h.n_events * 4 >= s.max_n * 3
    GROUP BY s.max_n, s.n_users
    """,
)
def ext_sql_scripting(spark, sf_dir):
    """Spark 4 SQL scripting (BEGIN...END): a block DECLAREs variables,
    assigns them from aggregates in sequence, and the final SELECT uses
    the accumulated state — the engine-side form of the reference's
    fetch-then-requery Python round trips (fetch a stat with one
    cursor, build the next query from it). All variables are exact
    integers (max per-user event count, user count), and the heavy-user
    threshold comparison is integer cross-multiplication (n*4 >= max*3,
    i.e. n >= 0.75*max with no float division). Oracle: the fused
    static query — scripting changes control flow, not semantics."""
    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        BEGIN
          DECLARE max_n BIGINT;
          DECLARE n_users BIGINT;
          SET (max_n, n_users) = (
            SELECT max(n_events), count(*)
            FROM (SELECT user_id, count(*) AS n_events
                  FROM events GROUP BY user_id)
          );
          SELECT max_n, n_users, CAST(count(*) AS BIGINT) AS n_heavy
          FROM (SELECT user_id, count(*) AS n_events
                FROM events GROUP BY user_id)
          WHERE n_events * 4 >= max_n * 3
          GROUP BY 1, 2;
        END
        """
    )


@register(
    "ext_sql_scripting_loop",
    """
    WITH c AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
    ),
    t0 AS (SELECT max(cents) AS t FROM c),
    t1 AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS t
           FROM c CROSS JOIN t0 WHERE cents <= t0.t),
    t2 AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS t
           FROM c CROSS JOIN t1 WHERE cents <= t1.t),
    t3 AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS t
           FROM c CROSS JOIN t2 WHERE cents <= t2.t)
    SELECT t3.t AS threshold_cents,
           (SELECT count(*) FROM c WHERE cents <= t3.t) AS n_below,
           CAST(3 AS INT) AS n_iterations
    FROM t3
    """,
)
def ext_sql_scripting_loop(spark, sf_dir):
    """SQL-scripting WHILE loop: three server-side iterations of
    trimmed-threshold refinement (threshold <- floor(mean of values
    below the current threshold), seeded at the max) — the iterative
    fetch-requery pattern the reference drives from Python cursors,
    executed entirely inside one BEGIN...END block with the loop
    variable feeding each scan's predicate. Exactness: the threshold
    is an integer computed as an exact-integer-sum truncating division
    (DECIMAL(38,0) sum div count on Spark, HUGEINT sum // count on
    DuckDB — both truncate toward zero, no double anywhere, no 2^53
    partition-order hazard), so every iterate matches the unrolled-CTE
    oracle bit for bit. Scale shape: each iteration is
    one partial-aggregable scan with the threshold as a planned
    literal; K iterations = K scans, the same cost model as the GD /
    Lloyd loops — at 100 TB you cache the cents projection across
    iterations."""
    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        BEGIN
          DECLARE i INT DEFAULT 0;
          DECLARE t BIGINT;
          SET t = (SELECT max(CAST(round(value * 100) AS BIGINT)) FROM events);
          WHILE i < 3 DO
            SET t = (SELECT CAST(sum(CAST(round(value * 100) AS DECIMAL(38,0)))
                               div count(*) AS BIGINT)
                     FROM events
                     WHERE CAST(round(value * 100) AS BIGINT) <= t);
            SET i = i + 1;
          END WHILE;
          SELECT t AS threshold_cents,
                 (SELECT count(*) FROM events
                  WHERE CAST(round(value * 100) AS BIGINT) <= t) AS n_below,
                 i AS n_iterations;
        END
        """
    )
