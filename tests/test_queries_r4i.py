"""Independent-oracle property tests for the round-4t batch: python
replicas of dup-cluster conductance (union-find clusters + edge ledger)
and the degree CCDF spectrum."""

from __future__ import annotations

from collections import Counter, defaultdict

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _q(spark, name):
    return entry.queries()[name](spark, SF)


def _docs():
    return duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()


def _shingle_sets(docs):
    sh = defaultdict(set)
    per_doc = defaultdict(set)
    for doc_id, text in docs:
        toks = [t.lower() for t in (text or "").split()]
        for i in range(len(toks) - 2):
            sh[" ".join(toks[i : i + 3])].add(doc_id)
    for s, ds in sh.items():
        if len(ds) > 50:
            continue
        for d in ds:
            per_doc[d].add(s)
    return per_doc


def _edges_and_clusters(docs):
    per_doc = _shingle_sets(docs)
    ids = sorted(d for d, _t in docs)
    # candidate edges: common >= 2 (the docpair graph)
    edges = set()
    jacc_edges = set()
    dl = sorted(per_doc)
    inv = defaultdict(list)
    for d in dl:
        for s in per_doc[d]:
            inv[s].append(d)
    common = Counter()
    for s, ds in inv.items():
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                common[(ds[i], ds[j])] += 1
    for (a, b), c in common.items():
        if c >= 2:
            edges.add((a, b))
        ja = c / (len(per_doc[a]) + len(per_doc[b]) - c)
        if ja >= 0.5:
            jacc_edges.add((a, b))
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in jacc_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = {d: find(d) for d in ids}
    return edges, clusters


def test_cluster_conductance_matches_replica(spark):
    docs = _docs()
    edges, clusters = _edges_and_clusters(docs)
    sz = Counter(clusters.values())
    vol = Counter()
    internal = Counter()
    cut = Counter()
    for a, b in edges:
        ca, cb = clusters[a], clusters[b]
        vol[ca] += 1
        vol[cb] += 1
        if ca == cb:
            internal[ca] += 1
        else:
            cut[ca] += 1
            cut[cb] += 1
    vol_total = 2 * len(edges)
    got = {
        r["cluster_id"]: r
        for r in (
            x.asDict() for x in _q(spark, "q_cluster_conductance").collect()
        )
    }
    expect = {c for c, n in sz.items() if n >= 2}
    assert set(got) == expect
    assert len(expect) > 0
    for c, r in got.items():
        assert r["n_docs"] == sz[c]
        assert r["volume"] == vol.get(c, 0)
        assert r["internal_edges"] == internal.get(c, 0)
        assert r["cut_edges"] == cut.get(c, 0)
        assert r["min_vol"] == min(vol.get(c, 0), vol_total - vol.get(c, 0))
        # consistency: volume counts internal twice plus cut once
        assert r["volume"] == 2 * r["internal_edges"] + r["cut_edges"]


def test_degree_ccdf_matches_replica(spark):
    docs = _docs()
    edges, _ = _edges_and_clusters(docs)
    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    hist = Counter(deg.values())
    n_nodes = len(deg)
    got = {
        r["degree"]: r
        for r in (x.asDict() for x in _q(spark, "q_degree_ccdf").collect())
    }
    assert set(got) == set(hist)
    for d in sorted(hist):
        n_ge = sum(n for dd, n in hist.items() if dd >= d)
        r = got[d]
        assert r["n_d"] == hist[d]
        assert r["n_ge"] == n_ge
        assert r["n_nodes"] == n_nodes
    # CCDF at the minimum degree covers every node
    assert got[min(hist)]["n_ge"] == n_nodes
