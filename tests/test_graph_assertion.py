"""Unit tests for assertion.py (NegEx windowed triggers) and graph.py
(k-hop, fixed-point PageRank, transitions, tool-flow triples)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cliner_spark import fixtures
from cliner_spark.assertion import assertion_triples, classify_assertions
from cliner_spark.graph import (
    FP_SCALE,
    k_hop,
    pagerank_fixed_point,
    tool_flow_triples,
    transition_edges,
)
from cliner_spark.tokenization import tokenize


def _mk_turns(spark, texts):
    rows = [
        {"conv_id": "c0", "turn_idx": i, "text": t} for i, t in enumerate(texts)
    ]
    return tokenize(spark.createDataFrame(rows))


def test_negex_classification(spark):
    # mention "chest pain" is at a known token span in each turn
    turns = _mk_turns(
        spark,
        [
            "patient denies chest pain today",  # pre 'denies' -> negated
            "chest pain was ruled out",  # post 'ruled' -> negated
            "possible chest pain noted",  # pre 'possible' -> uncertain
            "patient reports chest pain",  # no trigger -> affirmed
            "not here but far away from chest pain",  # 'not' outside window=4
        ],
    )
    mentions = spark.createDataFrame(
        [
            {"conv_id": "c0", "turn_idx": 0, "tok_start": 2, "tok_end": 3},
            {"conv_id": "c0", "turn_idx": 1, "tok_start": 0, "tok_end": 1},
            {"conv_id": "c0", "turn_idx": 2, "tok_start": 1, "tok_end": 2},
            {"conv_id": "c0", "turn_idx": 3, "tok_start": 2, "tok_end": 3},
            {"conv_id": "c0", "turn_idx": 4, "tok_start": 6, "tok_end": 7},
        ]
    )
    out = {
        r["turn_idx"]: r["assertion"]
        for r in classify_assertions(
            mentions, turns.select("conv_id", "turn_idx", "tokens")
        ).collect()
    }
    assert out == {
        0: "negated",
        1: "negated",
        2: "uncertain",
        3: "affirmed",
        4: "affirmed",  # trigger beyond the 4-token window
    }


def test_assertion_window_clamps_at_turn_edges(spark):
    # mention at token 0: empty pre-window must not error or match
    turns = _mk_turns(spark, ["chest pain no more words after window end"])
    mentions = spark.createDataFrame(
        [{"conv_id": "c0", "turn_idx": 0, "tok_start": 0, "tok_end": 1}]
    )
    rows = classify_assertions(
        mentions, turns.select("conv_id", "turn_idx", "tokens")
    ).collect()
    # 'no' IS within the 4-token post-window -> but 'no' is a PRE trigger
    # only, so this stays affirmed (post triggers are unlikely/resolved/ruled)
    assert rows[0]["assertion"] == "affirmed"


def test_assertion_triples_preds(spark):
    la = spark.createDataFrame(
        [
            {"conv_id": "c0", "turn_idx": 0, "cui": "C1", "assertion": "negated"},
            {"conv_id": "c0", "turn_idx": 1, "cui": "C1", "assertion": "uncertain"},
            {"conv_id": "c0", "turn_idx": 2, "cui": "C2", "assertion": "affirmed"},
        ]
    )
    preds = {
        (r["obj"], r["pred"]) for r in assertion_triples(la).collect()
    }
    assert preds == {
        ("turn:c0#0", "NEGATED_IN"),
        ("turn:c0#1", "HEDGED_IN"),
        ("turn:c0#2", "ASSERTED_IN"),
    }


def _edges(spark, pairs):
    return spark.createDataFrame(
        [{"src": a, "dst": b} for a, b in pairs]
    )


def test_k_hop_path_graph(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    got = {r["node"]: r["hops"] for r in k_hop(e, "a", k=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def _pagerank_py(pairs, iters=3, scale=FP_SCALE, damping=85):
    """Plain-Python replica of the integer fixed-point recurrence."""
    sym = set()
    for a, b in pairs:
        if a != b:
            sym.add((a, b))
            sym.add((b, a))
    nodes = sorted({a for a, _ in sym})
    n = len(nodes)
    deg = {a: sum(1 for s, _ in sym if s == a) for a in nodes}
    base = ((100 - damping) * scale // 100) // n
    r = {a: scale // n for a in nodes}
    for _ in range(iters):
        s = {a: 0 for a in nodes}
        for a, b in sym:
            s[b] += r[a] // deg[a]
        r = {a: base + (damping * s[a]) // 100 for a in nodes}
    return r


def test_pagerank_matches_python_replica_exactly(spark):
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"), ("d", "e")]
    got = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixed_point(_edges(spark, pairs), iters=3).collect()
    }
    assert got == _pagerank_py(pairs)
    # hub 'b'/'d' outrank leaves; total mass stays ~scale (truncation loses
    # at most a few units per node per iteration)
    assert got["b"] > got["a"] and got["d"] > got["e"]
    assert abs(sum(got.values()) - FP_SCALE) < 100 * len(got)


def test_transition_edges(spark):
    rows = [
        {"u": 1, "t": 1, "ev": "view"},
        {"u": 1, "t": 2, "ev": "click"},
        {"u": 1, "t": 3, "ev": "view"},
        {"u": 2, "t": 1, "ev": "view"},
        {"u": 2, "t": 2, "ev": "click"},
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r["src"], r["dst"]): r["n"]
        for r in transition_edges(df, "u", ["t"], "ev").collect()
    }
    assert got == {("view", "click"): 2, ("click", "view"): 1}


def test_tool_flow_triples_match_python(spark):
    rows = fixtures.gen_transcripts(n_convs=6, avg_turns=6, seed=7)
    tx = spark.createDataFrame(rows)
    trip = tool_flow_triples(tx).collect()
    got = {(r["subj"], r["obj"]): r["weight"] for r in trip}
    assert {r["pred"] for r in trip} == {"FOLLOWED_BY"}
    # independent python count over the same deterministic rows
    from collections import Counter, defaultdict

    per_conv = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"])):
        if r["tool"] is not None:
            per_conv[r["conv_id"]].append(r["tool"])
    want = Counter()
    for seq in per_conv.values():
        for a, b in zip(seq, seq[1:]):
            want[(f"tool:{a}", f"tool:{b}")] += 1
    assert got == dict(want)


@pytest.mark.parametrize("scanner", ["udf", "tagger"])
def test_assertions_index_the_scanned_tokens(spark, scanner):
    """The assertion window reads the same tokens the scanner counted: a
    leading tab or a no-break space must not shift tok_start."""
    from cliner_spark.pipeline import run_pipeline

    tx = spark.createDataFrame(
        [
            {"conv_id": "c1", "turn_idx": 0, "text": "\tdenies ablation today"},
            {"conv_id": "c1", "turn_idx": 1, "text": "denies\xa0ablation today"},
        ]
    )
    out = run_pipeline(spark, tx, scanner=scanner, assertions=True)
    edges = {
        (r["pred"], r["obj"])
        for r in out["triples"].filter(
            F.col("pred").isin("ASSERTED_IN", "NEGATED_IN", "HEDGED_IN")
        ).collect()
    }
    assert edges == {("NEGATED_IN", "turn:c1#0"), ("NEGATED_IN", "turn:c1#1")}


def test_pipeline_assertion_refined_triples(spark):
    from cliner_spark.pipeline import run_pipeline

    tx = spark.createDataFrame(
        [
            {"conv_id": "c1", "turn_idx": 0, "text": "patient denies heart attack today"},
            {"conv_id": "c1", "turn_idx": 1, "text": "patient has diabetes mellitus"},
            {"conv_id": "c1", "turn_idx": 2, "text": "possible hypertension noted"},
        ]
    )
    out = run_pipeline(spark, tx, assertions=True)
    edges = {
        (r["pred"], r["obj"])
        for r in out["triples"].filter(
            F.col("pred").isin("ASSERTED_IN", "NEGATED_IN", "HEDGED_IN")
        ).collect()
    }
    assert ("NEGATED_IN", "turn:c1#0") in edges
    assert ("ASSERTED_IN", "turn:c1#1") in edges
    assert ("HEDGED_IN", "turn:c1#2") in edges
    # default path unchanged: no refined predicates without the flag
    plain = run_pipeline(spark, tx)
    preds = {r["pred"] for r in plain["triples"].collect()}
    assert "NEGATED_IN" not in preds and "HEDGED_IN" not in preds


def test_phrase_trigger_boundaries(spark):
    # 'ruled out' is a phrase trigger; 'ruled outward' must not match it
    turns = _mk_turns(
        spark,
        [
            "chest pain was ruled out",
            "chest pain was ruled outward",
        ],
    )
    mentions = spark.createDataFrame(
        [
            {"conv_id": "c0", "turn_idx": 0, "tok_start": 0, "tok_end": 1},
            {"conv_id": "c0", "turn_idx": 1, "tok_start": 0, "tok_end": 1},
        ]
    )
    got = {
        r["turn_idx"]: r["assertion"]
        for r in classify_assertions(
            mentions, turns.select("conv_id", "turn_idx", "tokens")
        ).collect()
    }
    assert got == {0: "negated", 1: "affirmed"}


def test_triangle_count_known_graph(spark):
    """K4 minus one edge: triangles {a,b,c} and {a,b,d}; node degrees in
    triangles: a=2, b=2, c=1, d=1. Edge orientation/duplicates must not
    matter."""
    from cliner_spark.graph import triangle_count

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"), ("a", "d"), ("b", "d")],
        "src string, dst string",
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_count(edges).collect()}
    assert got == {"a": 2, "b": 2, "c": 1, "d": 1}


def test_key_skew_profile(spark):
    from cliner_spark.profiling import key_skew

    rows = [("hot",)] * 6 + [("w1",), ("w2",), ("w3",)]
    df = spark.createDataFrame(rows, "k string")
    out = key_skew(df, "k", top_k=2).collect()
    assert [(r["key"], r["n"], r["rank"]) for r in out] == [("hot", 6, 1), ("w1", 1, 2)]
    top = out[0]
    # 6 of 9 rows, mean count = 9/4 keys
    assert abs(top["share"] - 6 / 9) < 1e-6 and abs(top["skew"] - 6 / 2.25) < 1e-3


def test_windowed_cooccurrence_equals_naive_theta_join(spark):
    """The banded range join (bucket expansion + equi-join) must count
    exactly the pairs the naive |ta-tb| <= w theta join counts — including
    pairs that meet across bucket boundaries — and each (ta, tb) pair
    exactly once."""
    import itertools
    import random

    from cliner_spark.graph import windowed_cooccurrence

    rng = random.Random(13)
    rows = [
        (f"c{rng.randrange(3)}", rng.randrange(12), f"CU{rng.randrange(5)}")
        for _ in range(60)
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, cui string")
    for w in (1, 2, 3):
        got = {
            (r["src"], r["dst"]): r["n_cooc"]
            for r in windowed_cooccurrence(df, window=w).collect()
        }
        distinct = sorted(set(rows))
        want = {}
        for (ca, ta, na), (cb, tb, nb) in itertools.product(distinct, distinct):
            if ca == cb and abs(ta - tb) <= w and na < nb:
                want[(na, nb)] = want.get((na, nb), 0) + 1
        assert got == want, f"window={w}"


def test_deterministic_walks_follow_edges_and_ignore_partitioning(spark):
    """Every step of a deterministic walk must traverse a real edge, every
    node gets exactly one walk, and the output is identical under a
    different input partitioning (the no-RNG-state property that makes the
    corpus reproducible on any cluster layout)."""
    from cliner_spark.graph import deterministic_walks

    raw = [(f"n{i}", f"n{(i * 3 + 1) % 12}") for i in range(12)] + [
        ("n0", "n5"), ("n2", "n9"), ("n4", "n11")
    ]
    edges = spark.createDataFrame(raw, "src string, dst string")
    out = sorted(tuple(r) for r in deterministic_walks(edges, steps=3).collect())

    eset = {(a, b) for a, b in raw} | {(b, a) for a, b in raw}
    starts = [w[0] for w in out]
    assert len(starts) == len(set(starts)) == len({n for e in eset for n in e})
    for w in out:
        for a, b in zip(w, w[1:]):
            assert (a, b) in eset, (w, a, b)

    out2 = sorted(
        tuple(r) for r in deterministic_walks(edges.repartition(7), steps=3).collect()
    )
    assert out == out2
