"""Independent-oracle replica tests for the KG-eval batch (q_transe_eval):
a full TransE ranking replay with the chance-band assertion."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _edges():
    docs = duckdb.sql(
        f"SELECT doc_id, coalesce(text, '') FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    sh = {}
    for did, text in docs:
        toks = text.split()
        sh[did] = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    inv = defaultdict(list)
    for did, ss in sh.items():
        for g in ss:
            inv[g].append(did)
    from collections import Counter

    common = Counter()
    for g, ds in inv.items():
        if len(ds) > 50:
            continue
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                common[(ds[i], ds[j])] += 1
    return {p for p, c in common.items() if c >= 2}, max(d for d, _t in docs) + 1


def test_transe_eval_matches_replica(spark):
    """Two-arm replay (round-4 verdict item 5): the CHANCE arm (md5 nibble
    embeddings) must sit in the random band, the SIGNAL arm (cluster
    embeddings, planted within-cluster tails) must sit FAR above it —
    the eval proving it reads both noise and signal correctly."""
    edges, n_ent = _edges()

    def vec(prefix, x):
        h = _md5(f"{prefix}{x}")
        return [int(h[i], 16) for i in range(8)]

    rel = [int(_md5("rel:similar")[i], 16) for i in range(8)]

    def score_chance(h, t):
        vh, vt = vec("emb:", h), vec("emb:", t)
        return sum(abs(vh[i] + rel[i] - vt[i]) for i in range(8))

    def score_signal(h, t):
        vh, vt = vec("sigemb:", h % 16), vec("sigemb:", t % 16)
        return sum(abs(vh[i] - vt[i]) for i in range(8))

    def replay(pairs, salt, score):
        n_triples = 0
        hits = {1: 0, 3: 0, 10: 0}
        rank_sum = 0
        cands_seen = []
        for h, t in sorted(pairs):
            cands = {t}
            for j in range(1, 65):
                cands.add(int(_md5(f"{salt}{h}-{t}-{j}")[:12], 16) % n_ent)
            ranked = sorted(cands, key=lambda c: (score(h, c), c))
            rk = ranked.index(t) + 1
            n_triples += 1
            rank_sum += rk
            for k in hits:
                hits[k] += 1 if rk <= k else 0
            cands_seen.append(len(cands))
        return n_triples, hits, rank_sum, cands_seen

    sig_pairs = {(h, h + 16) for h, _t in edges if h + 16 < n_ent}
    want = {
        "chance": replay(edges, "neg:", score_chance),
        "signal": replay(sig_pairs, "sneg:", score_signal),
    }
    rows = {
        r["arm"]: r
        for r in entry.queries()["q_transe_eval"](spark, SF).collect()
    }
    assert set(rows) == {"chance", "signal"}
    for arm, (n_triples, hits, rank_sum, cands_seen) in want.items():
        r = rows[arm]
        assert r["n_triples"] == n_triples
        assert (r["hits1"], r["hits3"], r["hits10"]) == (
            hits[1], hits[3], hits[10],
        )
        assert r["rank_sum"] == rank_sum
        assert (r["min_cands"], r["max_cands"]) == (
            min(cands_seen), max(cands_seen),
        )
        assert math.isclose(
            r["mean_rank"], round(rank_sum / n_triples, 6), abs_tol=1e-6
        )
    # chance arm: md5 embeddings are noise — metrics in the random band
    rc = rows["chance"]
    mean_cands = sum(want["chance"][3]) / len(want["chance"][3])
    assert 0.25 * mean_cands < rc["mean_rank"] < 0.75 * mean_cands
    assert rc["hits10"] / rc["n_triples"] < 0.45
    # signal arm: planted cluster structure — hits@10 far above the
    # 10/65 ~ 0.154 chance rate, mean rank near the top of the list
    rs = rows["signal"]
    assert rs["hits10"] / rs["n_triples"] > 0.9
    assert rs["mean_rank"] < 10
    assert rs["mean_rank"] < 0.25 * (sum(want["signal"][3]) / len(want["signal"][3]))
