"""Unit tests for round-2 graph ops: clustering coefficient, weighted SSSP
(Bellman-Ford), fixed-k core peeling — hand-checkable graphs plus a
randomized replica vs straight-line Python."""

from __future__ import annotations

import random

import pytest

from cliner_spark.graph import bellman_ford_sssp, clustering_coefficient, k_core


def _edges(spark, pairs, weighted=False):
    if weighted:
        return spark.createDataFrame(
            [{"src": a, "dst": b, "w": w} for a, b, w in pairs]
        )
    return spark.createDataFrame([{"src": a, "dst": b} for a, b in pairs])


def test_clustering_coeff_triangle_plus_tail(spark):
    # triangle a-b-c plus tail c-d: a,b coeff 1.0; c deg 3 with 1 triangle
    # -> 2/(3*2) = 0.333333; d deg 1 -> 0.0
    e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])
    got = {r["node"]: (r["degree"], r["n_triangles"], r["clustering_coeff"])
           for r in clustering_coefficient(e).collect()}
    assert got == {
        "a": (2, 1, 1.0),
        "b": (2, 1, 1.0),
        "c": (3, 1, 0.333333),
        "d": (1, 0, 0.0),
    }


def test_sssp_prefers_heavier_hop_count_when_lighter(spark):
    # a->b direct w=10; a->c->b total 2+3=5 -> b dist 5
    e = _edges(spark, [("a", "b", 10), ("a", "c", 2), ("c", "b", 3)], weighted=True)
    got = {r["node"]: r["dist"] for r in bellman_ford_sssp(e, "a").collect()}
    assert got == {"a": 0, "b": 5, "c": 2}


def test_sssp_unreachable_absent_and_undirected(spark):
    e = _edges(spark, [("a", "b", 1), ("x", "y", 1)], weighted=True)
    got = {r["node"]: r["dist"] for r in bellman_ford_sssp(e, "b").collect()}
    assert got == {"b": 0, "a": 1}  # undirected: b reaches a; x,y absent


def test_kcore_peels_cascade(spark):
    # 4-clique (a,b,c,d) + pendant chain d-e-f: 2-core = the clique + nothing
    # of the chain (e,f peel in cascade), every survivor degree 3
    clique = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    edges = _edges(spark, clique + [("d", "e"), ("e", "f")])
    got = {r["node"]: r["degree"] for r in k_core(edges, k=2).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}
    # the peel converges at round index 2 (f drops, then e, then none), so a
    # 3-round budget returns the same core and a 2-round budget raises —
    # q_kcore's fixed-unroll oracle budget relies on this
    got3 = {r["node"]: r["degree"] for r in k_core(edges, k=2, max_rounds=3).collect()}
    assert got3 == got
    with pytest.raises(RuntimeError, match="no fixpoint after 2"):
        k_core(edges, k=2, max_rounds=2)


def test_kcore_matches_python_on_random_graph(spark):
    rng = random.Random(23)
    pairs = {(f"n{rng.randint(0, 30)}", f"n{rng.randint(0, 30)}") for _ in range(120)}
    pairs = {(a, b) for a, b in pairs if a != b}
    got = {r["node"]: r["degree"] for r in k_core(_edges(spark, sorted(pairs)), k=3).collect()}

    # straight-line python peel
    edges = {tuple(sorted(p)) for p in pairs}
    while True:
        deg: dict[str, int] = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        drop = {n for n, d in deg.items() if d < 3}
        if not drop:
            break
        edges = {(a, b) for a, b in edges if a not in drop and b not in drop}
    exp = {n: d for n, d in deg.items() if d >= 3}
    assert got == exp


def _isa(spark, pairs):
    return spark.createDataFrame([{"child": c, "parent": p} for c, p in pairs])


def test_transitive_closure_deep_chain_converges(spark):
    # 12-deep pure chain n0<-n1<-...<-n12: the adversarial shape for
    # fixed-round pointer jumping (the canonicalize.py ADVICE bug) — the
    # closure must still produce ALL 78 (desc, anc) pairs with exact depths
    # because convergence is verified, not assumed.
    from cliner_spark.graph import transitive_closure

    chain = [(f"n{i}", f"n{i+1}") for i in range(12)]
    got = {
        (r["descendant"], r["ancestor"]): r["depth"]
        for r in transitive_closure(_isa(spark, chain)).collect()
    }
    exp = {
        (f"n{i}", f"n{j}"): j - i for i in range(12) for j in range(i + 1, 13)
    }
    assert got == exp


def test_transitive_closure_dag_min_depth(spark):
    # diamond a->b->d, a->c->d plus shortcut a->d: parallel derivations of
    # (a, d) at depths 1 and 2 — min(depth) must keep 1
    from cliner_spark.graph import transitive_closure

    edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d")]
    got = {
        (r["descendant"], r["ancestor"]): r["depth"]
        for r in transitive_closure(_isa(spark, edges)).collect()
    }
    assert got == {
        ("a", "b"): 1,
        ("a", "c"): 1,
        ("a", "d"): 1,
        ("b", "d"): 1,
        ("c", "d"): 1,
    }
