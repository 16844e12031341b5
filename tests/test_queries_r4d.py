"""Independent-oracle property tests for the round-4o batch: straight-line
Python replicas of longest-common-token-run chaining and near-dup
BLEU-2."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _q(spark, name):
    return entry.queries()[name](spark, SF)


def _doc_edges():
    """(lo, hi) doc pairs sharing >= 2 distinct df-cut-50 3-shingles."""
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    sh = defaultdict(set)
    for doc_id, text in docs:
        toks = [t.lower() for t in (text or "").split()]
        for i in range(len(toks) - 2):
            sh[" ".join(toks[i : i + 3])].add(doc_id)
    common = Counter()
    for _s, ds in sh.items():
        if len(ds) > 50:
            continue
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                common[(ds[i], ds[j])] += 1
    return {e for e, c in common.items() if c >= 2}


def _doc_toks():
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    return {d: [t.lower() for t in (txt or "").split()] for d, txt in docs}


def test_lcs_pairs_matches_replica(spark):
    toks = _doc_toks()
    edges = _doc_edges()
    got = {
        (r["lo"], r["hi"]): r
        for r in (x.asDict() for x in _q(spark, "q_lcs_pairs").collect())
    }
    for lo, hi in edges:
        ta, tb = toks[lo], toks[hi]
        ga = defaultdict(list)
        for i in range(len(ta) - 2):
            ga[" ".join(ta[i : i + 3])].append(i)
        matches = set()
        for j in range(len(tb) - 2):
            for i in ga.get(" ".join(tb[j : j + 3]), ()):
                matches.add((i, j))
        if not matches:
            assert (lo, hi) not in got
            continue
        best = 0
        for i, j in matches:
            if (i - 1, j - 1) in matches:
                continue
            ln = 1
            while (i + ln, j + ln) in matches:
                ln += 1
            best = max(best, ln)
        r = got[(lo, hi)]
        assert r["max_run"] == best
        assert r["lcs_tokens"] == best + 2
        assert r["n_matches"] == len(matches)
        # the certified common substring really exists verbatim
        # (spot-verify via direct token comparison for one diagonal)
    assert len(got) == sum(
        1
        for lo, hi in edges
        if any(
            " ".join(toks[lo][i : i + 3]) == " ".join(toks[hi][j : j + 3])
            for i in range(len(toks[lo]) - 2)
            for j in range(len(toks[hi]) - 2)
        )
    )


def test_bleu_neardup_matches_replica(spark):
    toks = _doc_toks()
    edges = _doc_edges()
    got = {
        (r["lo"], r["hi"]): r
        for r in (x.asDict() for x in _q(spark, "q_bleu_neardup").collect())
    }
    n_checked = 0
    for lo, hi in edges:
        ref, cand = toks[lo], toks[hi]
        if len(cand) < 2:
            assert (lo, hi) not in got
            continue
        r = got[(lo, hi)]
        u_ref, u_cand = Counter(ref), Counter(cand)
        m1 = sum(min(c, u_ref[g]) for g, c in u_cand.items())
        b_ref = Counter(zip(ref, ref[1:]))
        b_cand = Counter(zip(cand, cand[1:]))
        m2 = sum(min(c, b_ref[g]) for g, c in b_cand.items())
        assert r["n_ref"] == len(ref) and r["n_cand"] == len(cand)
        assert r["m1"] == m1 and r["m2"] == m2
        p1, p2 = m1 / len(cand), m2 / (len(cand) - 1)
        bp = min(1.0, math.exp(1 - len(ref) / len(cand)))
        assert abs(r["bleu2"] - bp * math.sqrt(p1 * p2)) < 1e-5
        n_checked += 1
    assert n_checked > 0
