"""Property-based tests (hypothesis): operators vs brute-force Python
reference implementations over random inputs — the differential layer
below the DuckDB oracle (which only sees the fixed testdata)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from machine_telemetry_etl_ml_pipeline_spark.operators.core import latest_per_key
from machine_telemetry_etl_ml_pipeline_spark.operators.joins import asof_join
from machine_telemetry_etl_ml_pipeline_spark.operators.bucketing import salted_agg

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),    # key
        st.integers(min_value=0, max_value=20),   # t
        st.integers(min_value=-100, max_value=100),  # v (exact ints: no fp noise)
    ),
    min_size=1,
    max_size=30,
)

_SETTINGS = dict(
    max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_latest_per_key_matches_bruteforce(spark, rows):
    df = spark.createDataFrame(rows, "k int, t int, v int")
    got = {(r.k, r.t, r.v) for r in latest_per_key(df, "k", "t", tiebreak="v").collect()}
    want = {}
    for k, t, v in rows:
        if k not in want or (t, v) > (want[k][1], want[k][2]):
            want[k] = (k, t, v)
    assert got == set(want.values())


@given(left=ROWS, right=ROWS)
@settings(**_SETTINGS)
def test_asof_join_matches_bruteforce(spark, left, right):
    # dedupe left rows (the operator is row-preserving; identical rows
    # would make multiset comparison ambiguous under collect)
    left = sorted(set(left))
    ldf = spark.createDataFrame(left, "k int, t int, lv int")
    rdf = spark.createDataFrame(right, "k int, t int, v int")
    got = {(r.k, r.t, r.lv): r.asof_v for r in asof_join(ldf, rdf, "k", "t", "t", ["v"]).collect()}
    for (k, t, lv) in left:
        cands = [(rt, rv) for (rk, rt, rv) in right if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        if cands and got[(k, t, lv)] != want:
            # ties on rt: the operator keeps the LAST right row in
            # (ts, insertion) order — any max-rt candidate is valid
            assert got[(k, t, lv)] in {rv for (rt, rv) in cands if rt == max(cands)[0]}
        else:
            assert got[(k, t, lv)] == want


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_salted_agg_matches_plain_groupby(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "k int, t int, v int")
    got = {
        (r.k): (r.cnt_rows, r.sum_v)
        for r in salted_agg(
            df, "k", [F.count(F.lit(1)).alias("cnt_rows"), F.sum("v").alias("sum_v")]
        ).collect()
    }
    want = {}
    for k, _, v in rows:
        c, s = want.get(k, (0, 0))
        want[k] = (c + 1, s + v)
    assert got == want


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_top_k_matches_sorted_prefix(spark, rows):
    from machine_telemetry_etl_ml_pipeline_spark.operators.core import top_k_by

    df = spark.createDataFrame(rows, "k int, t int, v int")
    got = [(r.v, r.k) for r in top_k_by(df, "v", 5, ascending=False, tiebreak="k").collect()]
    want = sorted(((v, k) for k, _, v in rows), key=lambda x: (-x[0], x[1]))[:5]
    # multiset prefix: ties beyond the tiebreak column may reorder rows
    # with identical (v, k), so compare the sorted top-5 sets
    assert sorted(got) == sorted(want)


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_sessionized_matches_bruteforce(spark, rows):
    from pyspark.sql import functions as F

    from machine_telemetry_etl_ml_pipeline_spark.operators.windows import sessionized

    df = (
        spark.createDataFrame(rows, "k int, t int, id int")
        .withColumn("ts", F.timestamp_seconds(F.col("t") * 1000))
    )
    out = sessionized(df, "k", "ts", gap_seconds=2000, tiebreak="id")
    got = {}
    for r in out.collect():
        got.setdefault(r.k, []).append((r.t, r.id, r.session_id))
    for k, members in got.items():
        members.sort()
        sid, last_t = 0, None
        for t, _id, session_id in members:
            if last_t is None or t * 1000 - last_t * 1000 > 2000:
                sid += 1
            assert session_id == sid, (k, members)
            last_t = t


EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ),
    min_size=0,
    max_size=25,
)


@given(edges=EDGES)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_union_find(spark, edges):
    """Pointer-jumping min-label propagation vs a plain Python
    union-find over random graphs (self-loops and duplicates
    included)."""
    from machine_telemetry_etl_ml_pipeline_spark.llm.cluster import connected_components

    n = 15
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(n)}
    # canonical: label = min node of the component
    roots = {}
    for i in range(n):
        r = find(i)
        roots.setdefault(r, min(j for j in range(n) if find(j) == r))
    expected = {i: roots[find(i)] for i in range(n)}

    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edf = spark.createDataFrame(edges or [(0, 0)], "a long, b long")
    # both strategies must agree with the reference union-find
    local = {r.doc_id: r.component for r in connected_components(nodes, edf).collect()}
    dist = {
        r.doc_id: r.component
        for r in connected_components(nodes, edf, small_graph_threshold=0).collect()
    }
    assert local == expected
    assert dist == expected


@given(
    counts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),   # user id
            st.integers(min_value=1, max_value=5),   # events in this batch
        ),
        min_size=1,
        max_size=25,
    ),
    n_batches=st.integers(min_value=1, max_value=5),
    k=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=50, deadline=None)
def test_pruned_cdc_topk_lemma(counts, n_batches, k):
    """Pure-Python validation of the stream_topk_update_mode lemma: for
    ANY batch split of a monotone count stream, writing only each
    batch's top-k changed keys and compacting last-write-wins still
    yields the exact global top-k. (The Spark test covers one real
    dataset; this covers the adversarial splits.)"""
    batches: list[list[int]] = [[] for _ in range(n_batches)]
    for i, (u, n) in enumerate(counts):
        batches[i % n_batches].extend([u] * n)

    running: dict[int, int] = {}
    cdc: dict[int, tuple[int, int]] = {}  # user -> (batch_id, count at write)
    for bid, batch in enumerate(batches):
        changed = sorted(set(batch))
        for u in batch:
            running[u] = running.get(u, 0) + 1
        ranked = sorted(changed, key=lambda u: (-running[u], u))[:k]
        for u in ranked:
            cdc[u] = (bid, running[u])

    compacted = {u: n for u, (_, n) in cdc.items()}
    got = sorted(compacted.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    want = sorted(running.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    assert got == want


EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),
        st.integers(min_value=0, max_value=8),
    ),
    min_size=1,
    max_size=25,
)


@given(raw=EDGES)
@settings(**_SETTINGS)
def test_triangle_count_matches_bruteforce_on_random_graphs(spark, raw):
    """count_triangles vs adjacency-set brute force over arbitrary
    small graphs — self-loops dropped, edges canonicalized u < v."""
    from machine_telemetry_etl_ml_pipeline_spark.registry.graph import count_triangles

    edges = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    if not edges:
        return
    df = spark.createDataFrame(sorted(edges), "u long, v long")
    out = count_triangles(df, len(edges)).collect()[0]
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    fwd: dict = {}
    for u, v in edges:
        fwd.setdefault(u, set()).add(v)
    n_tri = sum(
        1 for u, vs in fwd.items() for v in vs for w in fwd.get(v, ()) if w in vs
    )
    assert (out.n_nodes, out.n_edges, out.n_triangles) == (
        len(nodes),
        len(edges),
        n_tri,
    )


LABELED = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),  # feature value q
        st.integers(min_value=0, max_value=1),  # label y
    ),
    min_size=1,
    max_size=30,
)


@given(rows=LABELED)
@settings(**_SETTINGS)
def test_gini_best_split_matches_bruteforce(spark, rows):
    """_gini_best_split vs an exhaustive threshold sweep in Python —
    same 1e-9 rounding, same (gini, threshold) argmin tiebreak."""
    from machine_telemetry_etl_ml_pipeline_spark.registry.ml import _gini_best_split

    df = spark.createDataFrame(rows, "q long, y long")
    got = _gini_best_split(df).collect()[0]
    qs = sorted({q for q, _ in rows})
    nt = float(len(rows))
    post = float(sum(y for _, y in rows))
    best = None
    for t in qs:
        nl = float(sum(1 for q, _ in rows if q <= t))
        posl = float(sum(y for q, y in rows if q <= t))
        nr, posr = nt - nl, post - posl
        gl = 1 - (posl / nl) ** 2 - ((nl - posl) / nl) ** 2
        gr = 0.0 if nr == 0 else 1 - (posr / nr) ** 2 - ((nr - posr) / nr) ** 2
        g = round((nl / nt) * gl + (nr / nt) * gr, 9)
        if best is None or (g, t) < best:
            best = (g, t)
    assert got.n_candidates == len(qs)
    assert (got.gini, got.threshold) == best


@given(raw=EDGES, cap=st.integers(min_value=1, max_value=4))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bfs_histogram_matches_python_walk(spark, raw, cap):
    """bfs_distance_histogram vs a Python BFS from the smallest
    endpoint, including the -1 bucket for nodes beyond the cap."""
    from machine_telemetry_etl_ml_pipeline_spark.registry.graph import (
        bfs_distance_histogram,
    )

    edges = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    if not edges:
        return
    df = spark.createDataFrame(sorted(edges), "u long, v long")
    got = {r.distance: r.n_nodes for r in bfs_distance_histogram(df, cap=cap).collect()}
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    src = min(u for u, _ in edges)
    dist = {src: 0}
    frontier = [src]
    for depth in range(1, cap + 1):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = depth
                    nxt.append(v)
        frontier = nxt
    hist: dict = {}
    for node in adj:
        d = dist.get(node, -1)
        hist[d] = hist.get(d, 0) + 1
    assert got == hist


@given(
    vals=st.lists(
        # 6dp-quantized positives: the operator's own fixed-point grid,
        # so the Python integer reference is exact by construction
        st.integers(min_value=0, max_value=300_000_000).map(lambda m: m / 1e6),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_exact_avg_matches_integer_reference(spark, vals):
    """exact_avg == round-half-up(sum_micro / (n*100)) / 1e4 computed in
    pure Python integers — the engine-invariance contract (operators/
    core.exact_avg): fixed-point numerator, integer-unit rounding.
    Positive domain only: the integer reference below is half-toward-
    +inf while both engines round half-away-from-zero (they agree with
    each other on negatives, not with this formula)."""
    from machine_telemetry_etl_ml_pipeline_spark.operators.core import exact_avg

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.agg(exact_avg("v").alias("a")).head().a
    micro = [round(v * 1_000_000) for v in vals]
    n = len(vals)
    units = (2 * sum(micro) + n * 100) // (2 * n * 100)
    assert got == units / 10000.0
