"""Independent-oracle property tests for the round-3j operators (Rocchio
PRF retrieval, ANN nDCG, calibration bins, exact KS drift): straight-line
Python replicas on the sf0.001 fixtures — the error class a shared-formula
SQL twin cannot catch."""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _q(spark, name):
    return entry.queries()[name](spark, SF)


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").collect()


def _round6(x):
    """Half-up decimal rounding on the shortest repr of the double --
    matches Spark's BigDecimal.valueOf(double) round() and DuckDB round(),
    where Python's built-in round() is half-even."""
    return float(Decimal(str(float(x))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _toks(text):
    return (text or "").split()


def _bm25_scores(doc_toks, qterms):
    """Replicates textstats-style BM25: per-term score rounded to 6 dp,
    summed exactly (Decimal) so partition order can't matter."""
    n_docs = len(doc_toks)
    dls = {d: float(len(t)) for d, t in doc_toks.items()}
    avgdl = sum(dls.values()) / n_docs
    tf = {}
    for d, toks in doc_toks.items():
        for t in toks:
            t = t.lower()
            if t in qterms:
                tf[(d, t)] = tf.get((d, t), 0) + 1
    df = {}
    for (d, t) in tf:
        df[t] = df.get(t, 0) + 1
    scores = {}
    for (d, t), f in tf.items():
        idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
        s = idf * f * (1.2 + 1) / (f + 1.2 * (1 - 0.75 + 0.75 * dls[d] / avgdl))
        scores.setdefault(d, Decimal(0))
        scores[d] += Decimal(str(_round6(s)))
    return {d: float(v) for d, v in scores.items()}


def test_rocchio_prf_matches_python_replica(spark):
    got = [
        (r["doc_id"], r["score"], r["rk"])
        for r in _q(spark, "q_rocchio_prf").collect()
    ]
    got.sort(key=lambda r: r[2])

    docs = _docs(spark)
    doc_toks = {d["doc_id"]: _toks(d["text"]) for d in docs}
    from cliner_spark.entry_queries import BM25_QUERY

    q0 = {t.lower() for t in BM25_QUERY}

    base = _bm25_scores(doc_toks, q0)
    top5 = sorted(base, key=lambda d: (-base[d], d))[:5]

    tf5, dfd = {}, {}
    for d in top5:
        for t in doc_toks[d]:
            t = t.lower()
            if t not in q0:
                tf5[t] = tf5.get(t, 0) + 1
    for d, toks in doc_toks.items():
        for t in {x.lower() for x in toks}:
            if t in tf5:
                dfd[t] = dfd.get(t, 0) + 1
    n = len(docs)
    exp3 = sorted(
        tf5,
        key=lambda t: (-_round6(tf5[t] * math.log((n + 1) / (dfd[t] + 1))), t),
    )[:3]

    final = _bm25_scores(doc_toks, q0 | set(exp3))
    want = sorted(final, key=lambda d: (-final[d], d))[:10]

    assert [r[0] for r in got] == want
    for doc_id, score, rk in got:
        assert abs(score - final[doc_id]) < 1e-6, (doc_id, score, final[doc_id])
        assert rk == want.index(doc_id) + 1
    # the expansion must actually expand: at least one non-query term mined
    assert len(exp3) == 3 and not (set(exp3) & q0)


def test_ann_ndcg_consistent_with_rankings(spark):
    """The metric is the new code; the two rankings it consumes are already
    independently hash-checked. Recompute nDCG in Python from those exact
    DataFrames and cross-check every row (plus the metric's invariants)."""
    from cliner_spark import similarity as _s
    from cliner_spark.session import ensure_parallelism
    from pyspark.sql import functions as F

    emb = ensure_parallelism(spark.read.parquet(f"{SF}/embeddings.parquet"))
    flt = F.col("vec_id") < 20
    exact = {}
    for r in _s.brute_force_topk(emb, flt, k=3).collect():
        exact[(r["query_id"], r["neighbor_id"])] = r["rn"]
    seeded = {}
    for r in _s.ivf_seeded_topk(emb, flt, k=3, n_lists=16, n_probe=4).collect():
        seeded.setdefault(r["query_id"], []).append((r["rn"], r["neighbor_id"]))

    want = {}
    for q, hits in seeded.items():
        dcg = Decimal(0)
        for pos, nid in hits:
            rel = 4 - exact[(q, nid)] if (q, nid) in exact else 0
            dcg += Decimal(str(_round6((2**rel - 1) / math.log2(pos + 1))))
        idcg = Decimal(0)
        for rn in (1, 2, 3):
            idcg += Decimal(str(_round6((2 ** (4 - rn) - 1) / math.log2(rn + 1))))
        want[q] = (float(dcg), float(idcg))

    rows = _q(spark, "q_ann_ndcg").collect()
    assert {r["query_id"] for r in rows} == set(want)
    for r in rows:
        wd, wi = want[r["query_id"]]
        assert abs(r["dcg"] - wd) < 1e-9
        assert abs(r["idcg"] - wi) < 1e-9
        assert abs(r["ndcg"] - _round6(wd / wi)) < 1e-9
        assert 0.0 <= r["ndcg"] <= 1.0
        # perfect ANN ranking iff dcg == idcg
        got_exact = [n for _, n in sorted(seeded[r["query_id"]])]
        true_top = [n for (q, n), rn in exact.items() if q == r["query_id"]]
        if got_exact == [
            n for n, _ in sorted(
                ((n, exact[(r["query_id"], n)]) for n in true_top),
                key=lambda x: x[1],
            )
        ]:
            assert r["ndcg"] == 1.0


def test_calibration_bins_match_python_replica(spark):
    from cliner_spark.entry_queries import _doc_linked

    pos_docs = {
        int(r["conv_id"])
        for r in _doc_linked(spark, SF).select("conv_id").distinct().collect()
    }
    bins = {}
    for d in _docs(spark):
        toks = _toks(d["text"])
        if not toks:
            continue
        pred = (1000 * len({t.lower() for t in toks})) // len(toks)
        b = min(pred // 100, 9)
        n, npos, spm = bins.get(b, (0, 0, 0))
        bins[b] = (n + 1, npos + (1 if d["doc_id"] in pos_docs else 0), spm + pred)

    rows = _q(spark, "q_calibration_bins").collect()
    assert {r["bin"] for r in rows} == set(bins)
    for r in rows:
        n, npos, spm = bins[r["bin"]]
        assert (r["n"], r["n_pos"], r["sum_pred_milli"]) == (n, npos, spm)
        assert r["gap_num"] == abs(spm - 1000 * npos)
        assert abs(r["mean_pred"] - _round6(spm / (1000 * n))) < 1e-9
        assert abs(r["frac_pos"] - _round6(npos / n)) < 1e-9
        assert abs(r["gap"] - _round6(abs(spm - 1000 * npos) / (1000 * n))) < 1e-9


def test_ks_drift_matches_python_replica(spark):
    a_cnt, b_cnt = {}, {}
    for d in _docs(spark):
        in_a = hashlib.md5(str(d["doc_id"]).encode()).hexdigest()[0] < "8"
        tgt = a_cnt if in_a else b_cnt
        tgt[d["n_chars"]] = tgt.get(d["n_chars"], 0) + 1
    n_a, n_b = sum(a_cnt.values()), sum(b_cnt.values())
    ca = cb = 0
    best = None  # (ks_num, x) with smallest-x tie-break
    for x in sorted(set(a_cnt) | set(b_cnt)):
        ca += a_cnt.get(x, 0)
        cb += b_cnt.get(x, 0)
        num = abs(ca * n_b - cb * n_a)
        if best is None or num > best[0]:
            best = (num, x)

    [r] = _q(spark, "q_ks_drift").collect()
    assert (r["ks_num"], r["x_at_max"], r["n_a"], r["n_b"]) == (
        best[0], best[1], n_a, n_b,
    )
    assert abs(r["ks"] - _round6(best[0] / (n_a * n_b))) < 1e-9
    # ECDF sup is a proper statistic: 0 <= ks_num <= n_a*n_b
    assert 0 <= r["ks_num"] <= n_a * n_b
