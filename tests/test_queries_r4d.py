"""Independent-oracle property tests for the round-4o batch: straight-line
Python replicas of bipartite HITS, longest-common-token-run chaining,
near-dup BLEU-2, and the Z-order layout audit."""

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


def test_hits_bipartite_matches_replica(spark):
    ev = duckdb.sql(
        f"SELECT user_id, event_type FROM read_parquet('{SF}/events.parquet')"
    ).fetchall()
    w = Counter(ev)
    h1, a1, h2, a2 = Counter(), Counter(), Counter(), Counter()
    for (u, t), c in w.items():
        h1[u] += c
    for (u, t), c in w.items():
        a1[t] += c * h1[u]
    for (u, t), c in w.items():
        h2[u] += c * a1[t]
    for (u, t), c in w.items():
        a2[t] += c * h2[u]
    got = [x.asDict() for x in _q(spark, "q_hits_bipartite").collect()]
    hubs = {r["id"]: r for r in got if r["side"] == "hub"}
    auths = {r["id"]: r for r in got if r["side"] == "auth"}
    assert len(hubs) == len(h1) and len(auths) == len(a1)
    for u, r in hubs.items():
        assert r["score1"] == h1[int(u)] and r["score2"] == h2[int(u)]
    for t, r in auths.items():
        assert r["score1"] == a1[t] and r["score2"] == a2[t]
    # the side-max rows carry share 1.0
    assert any(r["share"] == 1.0 for r in hubs.values())
    assert any(r["share"] == 1.0 for r in auths.values())


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


def _interleave(a, b):
    z = 0
    for i in range(8):
        z |= ((a >> i) & 1) << (2 * i + 1)
        z |= ((b >> i) & 1) << (2 * i)
    return z


def test_zorder_matches_replica_and_prunes_better(spark):
    ev = duckdb.sql(
        f"SELECT user_id, day(ts) * 24 + hour(ts) FROM "
        f"read_parquet('{SF}/events.parquet')"
    ).fetchall()
    zfiles, lfiles = defaultdict(list), defaultdict(list)
    for u, h in ev:
        ub, hb = u % 256, h % 256
        zfiles[_interleave(ub, hb) // 2048].append((ub, hb))
        lfiles[(ub * 256 + hb) // 2048].append((ub, hb))
    got = [x.asDict() for x in _q(spark, "q_zorder_layout").collect()]
    for r in got:
        files = zfiles if r["layout"] == "zorder" else lfiles
        pts = files[r["file_id"]]
        assert r["n_rows"] == len(pts)
        assert r["ub_min"] == min(p[0] for p in pts)
        assert r["ub_max"] == max(p[0] for p in pts)
        assert r["hb_min"] == min(p[1] for p in pts)
        assert r["hb_max"] == max(p[1] for p in pts)
    # the point of Z-order: total span over both dims is no worse than
    # linear's (linear files span the full trailing dimension)
    span = {
        lay: sum(r["span_sum"] * r["n_rows"] for r in got if r["layout"] == lay)
        / sum(r["n_rows"] for r in got if r["layout"] == lay)
        for lay in ("zorder", "linear")
    }
    assert span["zorder"] <= span["linear"]
