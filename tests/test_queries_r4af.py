"""Independent-oracle replica test for q_wand_pruning: a from-scratch WAND
replay incl. the safety invariant."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def test_wand_pruning_matches_replica(spark):
    docs = duckdb.sql(
        f"SELECT doc_id, coalesce(text, '') FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    n_docs = len(docs)
    tf = defaultdict(Counter)
    for did, text in docs:
        for t in text.split():
            tf[did][t.lower()] += 1
    df, cf = Counter(), Counter()
    for did, c in tf.items():
        for t, k in c.items():
            df[t] += 1
            cf[t] += k
    top = sorted(cf, key=lambda t: (-cf[t], t))[:10]
    queries = {q + 1: top[2 * q : 2 * q + 2] for q in range(5)}
    got = {r["qid"]: r for r in entry.queries()["q_wand_pruning"](spark, SF).collect()}
    assert set(got) == set(queries)
    for qid, terms in queries.items():
        w = {t: n_docs // df[t] for t in terms}
        scores = {}
        for did, c in tf.items():
            s = sum(c[t] * w[t] for t in terms if t in c)
            if s > 0:
                scores[did] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        theta = ranked[2][1]
        u = {t: max(c[t] * w[t] for c in tf.values() if t in c) for t in terms}
        ub = {
            did: sum(u[t] for t in terms if t in tf[did]) for did in scores
        }
        n_prun = sum(1 for did in scores if ub[did] < theta)
        r = got[qid]
        assert sorted([r["term_a"], r["term_b"]]) == sorted(terms)
        assert (r["n_candidates"], r["theta"]) == (len(scores), theta)
        assert r["n_prunable"] == n_prun
        assert r["max_ub"] == max(ub.values())
        assert math.isclose(r["prune_rate"], round(n_prun / len(scores), 6), abs_tol=1e-9)
        # the WAND safety property, replayed independently: score <= UB
        assert all(scores[did] <= ub[did] for did in scores)
        assert r["n_violations"] == 0
