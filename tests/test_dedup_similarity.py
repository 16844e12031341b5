"""Unit tests for dedup, similarity, textstats operators."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from cliner_spark import dedup, similarity, textstats


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def test_exact_dedup_groups(spark):
    df = _docs(spark, ["a b c", "  a  b c ", "x y", "A B C"])
    groups = {r["representative"]: r["n_docs"] for r in dedup.exact_dup_groups(df).collect()}
    # "a b c", " a  b c " and "A B C" normalize to the same fingerprint
    assert groups == {0: 3, 2: 1}


def test_jaccard_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog today"
    near = "the quick brown fox jumps over the lazy dog tomorrow"
    df = _docs(spark, [base, near, "completely different words entirely here now"])
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dedup.jaccard_pairs(df, n=3).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.5
    assert (0, 2) not in pairs


def test_minhash_identical_docs_agree_all_bands(spark):
    df = _docs(spark, ["alpha beta gamma delta", "alpha beta gamma delta", "other words here now"])
    pairs = {(r["doc_a"], r["doc_b"]): r["n_bands"] for r in
             dedup.lsh_candidate_pairs(df, min_bands=1).collect()}
    assert pairs.get((0, 1)) == 4


def test_simhash_matches_manual(spark):
    text = "hello world hello"
    df = _docs(spark, [text])
    got = dedup.simhash(df, bits=16).first()["simhash"]
    sums = [0] * 16
    for tok in text.split():
        hx = hashlib.md5(tok.lower().encode()).hexdigest()[:4]
        for p in range(16):
            d, j = divmod(p, 4)
            bit = (int(hx[d], 16) >> j) & 1
            sums[p] += 2 * bit - 1
    want = sum((1 << p) for p in range(16) if sums[p] > 0)
    assert got == want


def test_brute_force_topk_matches_numpy(spark):
    rng = np.random.RandomState(7)
    vecs = rng.rand(30, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        (r["query_id"], r["rn"]): r["neighbor_id"]
        for r in similarity.brute_force_topk(df, F.col("vec_id") < 3, k=2).collect()
    }
    v64 = vecs.astype("float64")
    for q in range(3):
        sims = v64 @ v64[q] / (np.linalg.norm(v64, axis=1) * np.linalg.norm(v64[q]))
        order = sorted(
            (i for i in range(30) if i != q),
            key=lambda i: (-round(sims[i], 6), i),
        )
        assert got[(q, 1)] == order[0]
        assert got[(q, 2)] == order[1]


def test_lsh_topk_subset_of_bucket(spark):
    rng = np.random.RandomState(3)
    vecs = rng.rand(40, 16).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id bigint, embedding array<float>",
    )
    out = similarity.lsh_topk(df, F.col("vec_id") < 5, k=3, n_planes=4, dims=16).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in out)
    assert all(r["rn"] <= 3 for r in out)
    # deterministic across runs
    out2 = similarity.lsh_topk(df, F.col("vec_id") < 5, k=3, n_planes=4, dims=16).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_embedding_neardup_finds_planted_pair(spark):
    """Planted near-identical vectors (cosine ~1) must be paired — the LSH
    bucket collision probability (1-θ/π)^planes → 1 as θ → 0 — while
    orthogonal vectors must not pass the cosine threshold."""
    rng = np.random.RandomState(7)
    base = rng.rand(16).astype("float64")
    near = base + rng.rand(16) * 1e-3  # cosine ≈ 1
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in near])]
    for i in range(2, 30):  # random background
        rows.append((i, [float(x) for x in rng.rand(16)]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = dedup.embedding_neardup_pairs(
        df, threshold=0.99, n_planes=4, dims=16
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}
    assert all(r["sim"] >= 0.99 for r in pairs)


def test_ivf_topk_deterministic_and_high_recall(spark):
    rng = np.random.RandomState(11)
    vecs = rng.rand(120, 16).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id bigint, embedding array<float>",
    )
    out = similarity.ivf_topk(df, F.col("vec_id") < 8, k=3, n_lists=8, n_probe=3)
    rows = out.collect()
    assert all(r["query_id"] != r["neighbor_id"] and r["rn"] <= 3 for r in rows)
    out2 = similarity.ivf_topk(df, F.col("vec_id") < 8, k=3, n_lists=8, n_probe=3)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, out2.collect()))
    # recall vs brute force: probing 3/8 cells should find most true top-3
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(df, F.col("vec_id") < 8, k=3).collect()
    }
    approx = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_language_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog is here with us"),
            (1, "el gato y la casa que vemos los dias"),
            (2, "der hund und die katze ist nicht hier"),
            (3, "le chat et la maison est une belle chose"),
            (4, "zzz qqq"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["lang"] for r in df.select("doc_id", textstats.language_id(F.col("text")).alias("lang")).collect()}
    assert got == {0: "en", 1: "es", 2: "de", 3: "fr", 4: "und"}


def test_quality_features_values(spark):
    df = _docs(spark, ["The cat, and a dog!"])
    r = textstats.quality_features(df).first()
    assert r["n_tokens"] == 5
    # BPE-ish: The|cat|,|and|a|dog|! -> 7
    assert r["n_bpe_tokens"] == 7
    assert r["stopword_ratio"] == pytest.approx(3 / 5)  # 'The', 'and', 'a'
    assert r["n_chars"] == len("The cat, and a dog!")


def test_rolling_fingerprint_deterministic(spark):
    df = _docs(spark, ["a bb ccc", "a bb ccc", "a bb cccd"])
    rows = textstats.rolling_fingerprint(df).collect()
    by_id = {r["doc_id"]: (r["fp"], r["len_hash"]) for r in rows}
    assert by_id[0] == by_id[1]
    assert by_id[0] != by_id[2]
    # manual polynomial
    acc = 0
    for ln in (1, 2, 3):
        acc = (acc * 1000003 + ln) % (2**31 - 1)
    assert by_id[0][1] == acc


def test_dup_clusters_transitive_and_singletons(spark):
    a = "the quick brown fox jumps over the lazy dog one two three"
    b = "the quick brown fox jumps over the lazy dog one two four"   # near a
    c = "the quick brown fox jumps over the lazy dog one five four"  # near b
    d = "totally unrelated set of words goes right here now friend"
    df = _docs(spark, [a, b, c, d])
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.dup_clusters(df, min_jaccard=0.3).collect()}
    # a-b and b-c are edges; a-c may not be, but CC makes them one cluster
    assert got[0] == got[1] == got[2] == 0
    assert got[3] == 3  # singleton keeps its own id


def test_surface_form_counts_salt_invariant(spark):
    from cliner_spark import fixtures
    from cliner_spark.canonicalize import surface_form_counts
    from cliner_spark.link import link_mentions
    from cliner_spark.mentions import scan_mentions_udf

    rows = fixtures.gen_transcripts(n_convs=8, avg_turns=5, seed=17)
    df = fixtures.transcripts_df(spark, rows)
    terms = sorted({t for (t, *_r) in fixtures.CLINICAL_GAZETTEER})
    linked = link_mentions(
        scan_mentions_udf(df, terms), fixtures.gazetteer_df(spark)
    ).withColumn("canon_cui", F.col("cui"))
    one = {
        (r["canon_cui"], r["surface"]): r["n_mentions"]
        for r in surface_form_counts(linked, n_salt=1).collect()
    }
    many = {
        (r["canon_cui"], r["surface"]): r["n_mentions"]
        for r in surface_form_counts(linked, n_salt=16).collect()
    }
    assert one == many and len(one) > 10


def test_quantize_int8_roundtrip_error_bound(spark):
    """Dequantized values must be within scale/2 of the originals (the
    round()'s half-step bound), and codes within [0, 255]."""
    import numpy as np

    from cliner_spark.similarity import quantize_int8

    rng = np.random.RandomState(7)
    rows = [
        {"vec_id": i, "embedding": [float(x) for x in rng.randn(16)]}
        for i in range(20)
    ] + [{"vec_id": 99, "embedding": [0.5] * 8}]  # constant vector: scale 0
    df = spark.createDataFrame(rows)
    out = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    for i, row in enumerate(rows):
        r = out[row["vec_id"]]
        codes = [int(c) for c in r["q_str"].split(",")]
        assert all(0 <= c <= 255 for c in codes)
        scale = (r["hi"] - r["lo"]) / 255.0
        assert r["max_abs_err"] <= scale / 2 + 1e-12
    assert out[99]["max_abs_err"] == 0.0  # constant vector reconstructs exactly


def test_lsh_bucket_cut_drops_mega_buckets_only(spark):
    """bucket_cut caps duplication-driven hot band buckets: with a corpus of
    verbatim clones the uncapped join emits all clone pairs, a small cap
    drops exactly those mega-bucket pairs, and genuinely distinct docs'
    candidates survive."""
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(20)]
    rows += [(100, "one two three four five six"), (101, "one two three four five seven")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = dedup.lsh_candidate_pairs(df, min_bands=2)
    capped = dedup.lsh_candidate_pairs(df, min_bands=2, bucket_cut=5)
    full_pairs = {(r["doc_a"], r["doc_b"]) for r in full.collect()}
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    # uncapped finds the 20-clone clique (190 pairs) plus the near-dup pair
    assert (100, 101) in full_pairs and len(full_pairs) >= 190
    # capped keeps the real near-dup candidate, drops the clone clique
    assert (100, 101) in capped_pairs
    assert all(a >= 100 for a, _ in capped_pairs), capped_pairs
