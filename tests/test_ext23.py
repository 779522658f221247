"""Invariant tests for the round-6 part-8 batch (now in registry/llm.py,
ml.py): HMM forward posterior, MMR re-rank, Flesch readability."""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY, _t

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF)


def _hmm_python(seq):
    T11, T12, T21, T22 = 0.8, 0.2, 0.3, 0.7
    E1 = {"view": 0.4, "click": 0.3, "signup": 0.1, "purchase": 0.1, "error": 0.1}
    E2 = {"view": 0.1, "click": 0.2, "signup": 0.1, "purchase": 0.5, "error": 0.1}
    a1, a2 = 0.5, 0.5
    for ty in seq:
        u1 = (a1 * T11 + a2 * T21) * E1.get(ty, 0.1)
        u2 = (a1 * T12 + a2 * T22) * E2.get(ty, 0.1)
        a1, a2 = u1 / (u1 + u2), u2 / (u1 + u2)
    return a2


def test_hmm_forward_matches_python_fold(spark):
    rows = _run(spark, "ml_hmm_forward").collect()
    evs = _t(spark, SF, "events").select("user_id", "ts", "event_id", "event_type").collect()
    by_user = defaultdict(list)
    for r in evs:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    bands = defaultdict(list)
    for _, seq in by_user.items():
        seq.sort()
        p = _hmm_python([s[2] for s in seq])
        bands[min(9, math.floor(p * 10))].append(p)
    expect = {
        b: (len(ps), min(ps), max(ps)) for b, ps in bands.items()
    }
    got = {r.band: (r.n_users, r.min_p, r.max_p) for r in rows}
    assert set(got) == set(expect)
    for b in expect:
        assert got[b][0] == expect[b][0]
        assert abs(got[b][1] - expect[b][1]) < 1e-12
        assert abs(got[b][2] - expect[b][2]) < 1e-12
    assert sum(r.n_users for r in rows) == len(by_user)


def test_mmr_matches_greedy_python(spark):
    got = [(r.rank, r.vec_id) for r in _run(spark, "llm_mmr_rerank").collect()]
    embs = {r.vec_id: list(r.embedding) for r in _t(spark, SF, "embeddings").collect()}
    q = [float(x) for x in embs[0]]

    def cos(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return round(d / (na * nb), 4)

    simq = {v: cos(q, e) for v, e in embs.items() if v != 0}
    cand = sorted(simq, key=lambda v: (-simq[v], v))[:20]
    sel = [min(cand, key=lambda v: (-simq[v], v))]
    while len(sel) < 5:
        rest = [c for c in cand if c not in sel]
        scores = {
            c: 0.7 * simq[c] - 0.3 * max(cos(embs[c], embs[s]) for s in sel)
            for c in rest
        }
        sel.append(min(rest, key=lambda c: (-scores[c], c)))
    assert got == [(i + 1, v) for i, v in enumerate(sel)]
    # diversity: MMR must not simply return the plain top-5
    top5 = cand[:5]
    assert [v for _, v in got] != top5 or len(set(top5)) == 5


def test_mmr_first_pick_is_top_cosine(spark):
    rows = _run(spark, "llm_mmr_rerank").collect()
    sims = [r.sim_to_query for r in rows]
    assert rows[0].sim_to_query == max(sims)
    assert len({r.vec_id for r in rows}) == 5


def test_readability_matches_bruteforce(spark):
    import re

    rows = {r.source: r for r in _run(spark, "llm_readability_flesch").collect()}
    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, words, sentences, syllables
    for r in _t(spark, SF, "documents").collect():
        t = r.text or ""
        words = len([w for w in t.split(" ") if w != ""])
        sentences = max(1, sum(t.count(c) for c in ".!?"))
        groups = len(re.findall(r"[aeiouy]+", t.lower()))
        a = agg[r.source]
        a[0] += 1
        a[1] += words
        a[2] += sentences
        a[3] += groups
    assert set(rows) == set(agg)
    for src, (nd, w, s, y) in agg.items():
        r = rows[src]
        assert (r.n_docs, r.words, r.sentences, r.syllables) == (nd, w, s, y)
        expect = 206.835 - 1.015 * (w / s) - 84.6 * (y / w)
        assert abs(r.flesch - expect) < 1e-9
