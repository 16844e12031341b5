"""The scan's lexicon and kernel (mentions.py): one best-per-term tie-break,
integer n-gram keys that cannot overflow, memory linear in the batch, and
link + canonical cui inside the scan equal to the join path they replace."""

from __future__ import annotations

import os
import random
import subprocess
import sys
import textwrap

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from cliner_spark import fixtures, oracle_py
from cliner_spark.canonicalize import canonical_concept_map
from cliner_spark.link import best_gazetteer, link_mentions
from cliner_spark.mentions import (
    TermIndex,
    build_lexicon,
    flatten_batch,
    pipeline_lexicon,
    scan_mentions_udf,
)
from cliner_spark.tagger import CONCEPT_TYPES, best_term_type

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tie_break_agrees(spark, entries):
    lex = {
        t: (r.cui, r.concept_type, r.canonical, r.link_score)
        for t, r in build_lexicon(entries).best.items()
    }
    spark_rows = {
        r["term"]: (r["cui"], r["sem_type"], r["canonical"], r["score"])
        for r in best_gazetteer(fixtures.gazetteer_df(spark, entries)).collect()
    }
    assert lex == spark_rows == oracle_py.best_links(entries)
    assert best_term_type(entries) == {t: v[1] for t, v in lex.items()}


def test_tie_break_fixture_gazetteers(spark):
    for entries in (fixtures.CLINICAL_GAZETTEER, fixtures.DOC_GAZETTEER):
        _tie_break_agrees(spark, entries)


# score ties and case-variant spellings of one term; a row's sem_type and
# canonical follow its cui, so rows equal on (term, score, cui) are equal
_CUIS = ["C1", "C2", "C3"]
_gazetteers = st.lists(
    st.tuples(
        st.sampled_from(["mi", "MI", "Mi", "heart attack", "Heart Attack", "dm"]),
        st.sampled_from(_CUIS),
        st.sampled_from([0.5, 0.7, 0.9]),
    ),
    min_size=1,
    max_size=12,
).map(
    lambda rows: [
        (t, c, CONCEPT_TYPES[_CUIS.index(c)], f"canon {c}", s) for t, c, s in rows
    ]
)


@settings(max_examples=10, deadline=None)
@given(_gazetteers)
def test_tie_break_generated_gazetteers(spark, entries):
    _tie_break_agrees(spark, entries)


def _kernel_mentions(index, texts):
    flat, turn_ids, lengths = flatten_batch(pd.Series(texts, dtype="object"))
    low = np.asarray([t.lower() for t in flat], dtype=object)
    ks, kln, _ = index.kept_spans(index.word_ids(low), turn_ids)
    offsets = np.cumsum(lengths) - lengths
    out = set()
    for s, n in zip(ks.tolist(), kln.tolist()):
        row = int(turn_ids[s])
        a = s - int(offsets[row])
        out.add((row, a, a + n - 1, " ".join(flat[s : s + n])))
    return out


def test_kernel_keys_do_not_overflow_large_vocabulary():
    """> 2^16 distinct words with max_n = 4: a base-V packed 4-gram key
    would pass 2^64; the chained prefix keys stay below
    #prefixes x (vocabulary + 1) and the spans equal the oracle's."""
    rng = random.Random(7)
    words = [f"w{i:05d}" for i in range(70_000)]
    rng.shuffle(words)
    terms = set(words[:30_000])  # one-word terms
    rest = words[30_000:]
    for n in (2, 3, 4):
        for _ in range(12_000):
            terms.add(" ".join(rng.sample(rest, n)))
    term_list = sorted(terms)
    index = TermIndex(term_list)
    assert index.oov > 2**16 and (index.oov + 1) ** 4 > 2**64
    assert int(index.edge_keys.max()) < len(index.prefix_term) * (index.oov + 1)

    texts = []
    for _ in range(300):
        parts = []
        for _ in range(rng.randint(0, 8)):
            t = rng.choice(term_list).split()
            # a prefix of a term, a whole term, or a term split across words
            parts += t[: rng.randint(1, len(t))] if rng.random() < 0.3 else t
            if rng.random() < 0.3:
                parts.append(rng.choice(words).upper())
        texts.append(" ".join(parts))
    want = {
        (i, s, e, m)
        for i, text in enumerate(texts)
        for (s, e, m) in oracle_py.scan_mentions(text, terms)
    }
    assert _kernel_mentions(index, texts) == want and len(want) > 1000


_BOUNDED_SCAN = textwrap.dedent(
    """
    from cliner_spark import fixtures
    from cliner_spark.mentions import scan_mentions_udf
    from cliner_spark.session import get_spark

    # every Python worker sets RLIMIT_AS to this before it runs a task
    spark = get_spark("bounded_scan", master="local[1]",
                      extra_conf={"spark.executor.pyspark.memory": "1g"})
    terms = sorted({t.lower() for t, *_ in fixtures.CLINICAL_GAZETTEER})
    hits = " ".join(terms[i % len(terms)] for i in range(2500)).split()[:4990]
    hits += ["fever"] * (5000 - len(hits))  # whole terms up to the last token
    rows = [("c", i, "patient reports chest pain and fever today")
            for i in range(9999)] + [("c", 9999, " ".join(hits))]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    dense = (
        scan_mentions_udf(df.coalesce(1), terms)  # one 10k-row Arrow batch
        .filter("turn_idx = 9999")
        .selectExpr("sum(tok_end - tok_start + 1) AS covered")
        .first()["covered"]
    )
    print("COVERED", len(hits), dense)
    spark.stop()
    """
)


def test_scan_batch_with_one_dense_turn_stays_under_1gib():
    """One 5k-token all-hit turn in a 10k-turn batch, scanned by Python
    workers capped at 1 GiB of address space (a padded [turns, K, K]
    dominance needs ~50 GB and fails with MemoryError)."""
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_DRIVER_MEMORY="1g",
    )
    res = subprocess.run(
        [sys.executable, "-c", _BOUNDED_SCAN],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    line = [x for x in res.stdout.splitlines() if x.startswith("COVERED")]
    # every token of the dense turn lies in a kept span
    assert line == ["COVERED 5000 5000"], res.stdout


def test_scan_links_and_canonicalizes_like_the_joins(spark):
    """Lexicon scan rows == term-list scan -> link_mentions -> canon join."""
    from cliner_spark.triples import with_canonical

    rows = fixtures.gen_transcripts(n_convs=12, avg_turns=6, seed=11)
    df = fixtures.transcripts_df(spark, rows)
    gaz = fixtures.gazetteer_df(spark)
    canon = canonical_concept_map(gaz)
    terms = [t for (t, *_r) in fixtures.CLINICAL_GAZETTEER]
    joined = with_canonical(link_mentions(scan_mentions_udf(df, terms), gaz), canon)
    cols = ["conv_id", "turn_idx", "tok_start", "tok_end", "mention_text",
            "cui", "concept_type", "canonical", "link_score", "canon_cui"]
    want = {tuple(r) for r in joined.select(*cols).collect()}
    for lex in (pipeline_lexicon(None, canon), pipeline_lexicon(gaz, canon)):
        fused = scan_mentions_udf(df, lex)
        assert fused.columns == cols
        assert {tuple(r) for r in fused.collect()} == want
    assert len(want) > 30
    # without a canonical map the lexicon scan has no canon_cui column
    assert scan_mentions_udf(df, pipeline_lexicon(gaz)).columns == cols[:-1]
