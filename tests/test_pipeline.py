"""Slice-0 end-to-end: fixtures -> scan -> link -> canonicalize -> triples,
checked against the independent plain-Python oracle (oracle_py) and the
BASELINE.json P/R >= 0.95 contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from cliner_spark import fixtures, oracle_py
from cliner_spark.evaluate import triple_prf
from cliner_spark.mentions import scan_mentions_udf
from cliner_spark.pipeline import run_pipeline
from cliner_spark.tokenization import tokenize


def _fixture_rows():
    return fixtures.gen_transcripts(n_convs=25, avg_turns=8, seed=42)


def test_tokenize_blank_and_ws(spark):
    df = spark.createDataFrame(
        [
            ("c", 0, None, "  a  b\tc ", None, None),
            ("c", 1, None, "\ta b", None, None),
            ("c", 2, None, "a\xa0b", None, None),
            ("c", 3, None, "a\u3000b ", None, None),
        ],
        schema=fixtures.schemas.TRANSCRIPTS,
    )
    rows = tokenize(df).orderBy("turn_idx").select("tokens").collect()
    assert [r["tokens"] for r in rows] == [
        ["a", "b", "c"],
        ["a", "b"],
        ["a", "b"],
        ["a", "b"],
    ]
    df2 = spark.createDataFrame(
        [("c", 1, None, "   ", None, None)], schema=fixtures.schemas.TRANSCRIPTS
    )
    assert tokenize(df2).select("tokens").first()["tokens"] == []


def test_scan_matches_python_oracle(spark):
    rows = _fixture_rows()
    gaz = fixtures.CLINICAL_GAZETTEER
    terms = sorted({t for (t, *_r) in gaz})
    df = fixtures.transcripts_df(spark, rows)
    got = {
        (r["conv_id"], r["turn_idx"], r["tok_start"], r["tok_end"], r["mention_text"])
        for r in scan_mentions_udf(df, terms).collect()
    }
    want = set()
    for row in rows:
        for (s, e, mtext) in oracle_py.scan_mentions(row["text"], set(terms)):
            want.add((row["conv_id"], row["turn_idx"], s, e, mtext))
    assert got == want
    assert len(want) > 50  # fixture actually plants mentions


def test_link_tie_break(spark):
    # "ablation" maps to C0209 (0.70) and C0210 (0.80) -> C0210 wins on score
    df = fixtures.transcripts_df(
        spark,
        [
            {
                "conv_id": "c1",
                "turn_idx": 0,
                "role": "user",
                "text": "needs Ablation now",
                "tool": None,
                "ts": None,
            }
        ],
    )
    out = run_pipeline(spark, df)
    linked = out["linked"].collect()
    assert len(linked) == 1
    assert linked[0]["cui"] == "C0210"
    assert linked[0]["mention_text"] == "Ablation"  # original case preserved


def test_canonical_map_matches_union_find(spark):
    gaz_df = fixtures.gazetteer_df(spark)
    from cliner_spark.canonicalize import canonical_concept_map

    got = {r["cui"]: r["canon_cui"] for r in canonical_concept_map(gaz_df).collect()}
    want = oracle_py.canonical_map(fixtures.CLINICAL_GAZETTEER)
    assert got == want
    # chain check: C0001--C0002 share strings -> same component
    assert got["C0002"] == got["C0001"] == "C0001"
    # blood panel: C0101 ("blood test"->canonical "blood panel") links to C0102
    assert got["C0102"] == got["C0101"]


def test_cc_fixed_budget_converges_on_adversarial_path(spark):
    """Regression: on the path 1-6-5-4-3-2 the '1' label propagates against
    the id ordering one hop per round, so a ceil(log2 n)+1 budget alone is
    NOT enough; the post-budget fixpoint verify must top up the rounds."""
    import math

    from cliner_spark.canonicalize import connected_components

    path = ["1", "6", "5", "4", "3", "2"]
    edges = spark.createDataFrame(
        [(a, b) for a, b in zip(path, path[1:])], "src string, dst string"
    )
    budget = int(math.ceil(math.log2(len(path)))) + 1  # 4 rounds: too few
    labels = {
        r["node"]: r["comp"]
        for r in connected_components(edges, fixed_iterations=budget).collect()
    }
    assert labels == {n: "1" for n in path}


def test_twostar_cc_equals_minlabel_on_random_graphs(spark):
    """large-star/small-star CC must produce the identical component-min
    labelling as min-label propagation — on the adversarial path, a seeded
    random graph (incl. isolated nodes), and a graph of disjoint cliques."""
    import random

    from cliner_spark.canonicalize import (
        connected_components,
        connected_components_twostar,
    )

    rng = random.Random(41)
    rand_edges = [
        (f"n{rng.randrange(40):02d}", f"n{rng.randrange(40):02d}") for _ in range(30)
    ]
    cases = [
        ([("1", "6"), ("6", "5"), ("5", "4"), ("4", "3"), ("3", "2")], None),
        (rand_edges, [f"n{i:02d}" for i in range(45)]),  # 5 isolated nodes
        (
            [(f"c{g}{i}", f"c{g}{j}") for g in "ab" for i in range(4) for j in range(i)],
            None,
        ),
    ]
    for edge_rows, node_ids in cases:
        edges = spark.createDataFrame(
            [e for e in edge_rows if e[0] != e[1]], "src string, dst string"
        )
        nodes = (
            spark.createDataFrame([(n,) for n in node_ids], "node string")
            if node_ids
            else None
        )
        a = {
            r["node"]: r["comp"]
            for r in connected_components(edges, nodes=nodes).collect()
        }
        b = {
            r["node"]: r["comp"]
            for r in connected_components_twostar(edges, nodes=nodes).collect()
        }
        assert a == b


def test_triples_pr_against_oracle(spark):
    rows = _fixture_rows()
    df = fixtures.transcripts_df(spark, rows)
    out = run_pipeline(spark, df)
    gold, _ = oracle_py.pipeline_triples(rows, fixtures.CLINICAL_GAZETTEER)
    gold_df = spark.createDataFrame(
        [{"subj": s, "pred": p, "obj": o} for (s, p, o) in gold]
    )
    m = triple_prf(out["triples"], gold_df)
    assert m["n_gold"] > 100
    assert m["precision"] >= 0.95, m
    assert m["recall"] >= 0.95, m


def test_per_turn_text_equality_invariant(spark):
    """Pipeline must not mutate turn text; ordering (conv_id, turn_idx) stable."""
    rows = _fixture_rows()
    df = fixtures.transcripts_df(spark, rows)
    round_trip = (
        tokenize(df)
        .withColumn("rebuilt", F.concat_ws(" ", F.col("tokens")))
        .select("conv_id", "turn_idx", "text", "rebuilt")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    src = sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    assert [r["text"] for r in round_trip] == [r["text"] for r in src]
    # fixture text is single-space separated, so rebuilt == text here
    assert all(r["rebuilt"] == r["text"] for r in round_trip)


def test_merge_triples_equals_single_shot_build(spark):
    """merge(triples(even turns), triples(odd turns)) == triples(all):
    every per-key aggregate in build_triples is a min, so the batch merge
    is associative and must agree row-for-row."""
    from cliner_spark.canonicalize import canonical_concept_map
    from cliner_spark.link import link_mentions
    from cliner_spark.triples import (
        build_triples,
        incremental_new_triples,
        merge_triples,
    )

    rows = _fixture_rows()
    df = fixtures.transcripts_df(spark, rows)
    terms = sorted({t for (t, *_r) in fixtures.CLINICAL_GAZETTEER})
    gaz = fixtures.gazetteer_df(spark)
    linked = link_mentions(scan_mentions_udf(df, terms), gaz).cache()
    canon = canonical_concept_map(gaz)

    whole = set(map(tuple, build_triples(linked, canon_map=canon).collect()))
    a = build_triples(linked.filter(F.col("turn_idx") % 2 == 0), canon_map=canon)
    b = build_triples(linked.filter(F.col("turn_idx") % 2 == 1), canon_map=canon)
    merged = set(map(tuple, merge_triples(a, b).collect()))
    assert merged == whole and len(whole) > 100

    # append-only increment: same key set, zero key overlap with existing,
    # existing provenance never rewritten (first-writer-wins)
    new = incremental_new_triples(a, b)
    a_rows = a.collect()
    a_keys = {(r["subj"], r["pred"], r["obj"]) for r in a_rows}
    new_keys = {(r["subj"], r["pred"], r["obj"]) for r in new.collect()}
    assert not (a_keys & new_keys)
    merged_keys = {(s, p, o) for (s, p, o, *_prov) in merged}
    assert a_keys | new_keys == merged_keys


def test_triples_invariant_to_input_partitioning(spark):
    """The flagship KG output must be EXACTLY the same row set whether the
    transcript input arrives as 1 partition or scattered across 16 — the
    determinism property that makes the P/R contract meaningful on a real
    cluster, where partition layout is an accident of the previous stage.
    (Catches order-dependent aggregation/fold bugs and nondeterministic
    tie-breaks that a single-layout test can't see.)"""
    rows = fixtures.gen_transcripts(n_convs=30, avg_turns=10, seed=99)
    df = fixtures.transcripts_df(spark, rows)

    def triple_set(frame):
        out = run_pipeline(spark, frame)["triples"]
        return {
            (r["conv_id"], r["subj"], r["pred"], r["obj"], r["turn_idx"])
            for r in out.collect()
        }

    one = triple_set(df.coalesce(1))
    many = triple_set(df.repartition(16, "turn_idx"))  # conv split ACROSS partitions
    assert one == many and len(one) > 100
