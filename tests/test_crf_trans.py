"""Learned CRF transition weights (round-4 verdict item 4: crfsuite
parity). The enabler is the explicit length-masked DP in viterbi_batch /
crf_forward_backward — exact for ARBITRARY transition matrices, where the
old pad-forces-O argument required uniform into-O columns. Checks:
brute-force enumeration with non-uniform transitions, pairwise-marginal
expected counts, finite-difference transition gradients, the fixture P/R
contract with learn_trans=True, and exact shard-sum of the transition
gradient."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd

from cliner_spark import crf, fixtures, oracle_py, tagger
from cliner_spark.chunk import chunk_flat_tags


def _nonuniform_trans(rng) -> np.ndarray:
    """Structural IOB matrix with random weights on the LEGAL entries —
    in particular non-uniform into-O columns, the exact case the old
    padding trick could not decode."""
    trans = tagger.iob_transitions()
    legal = crf.legal_transition_mask(trans)
    pert = rng.normal(scale=1.0, size=trans.shape)
    out = np.where(legal, trans.astype(np.float64) + pert, float(tagger.NEG))
    return out.astype(np.float32)


def _legal_paths(T: int, trans: np.ndarray):
    L = tagger.L
    for path in itertools.product(range(L), repeat=T):
        if trans[0, path[0]] <= tagger.NEG / 2:  # no I-* start
            continue
        if any(
            trans[path[t - 1], path[t]] <= tagger.NEG / 2 for t in range(1, T)
        ):
            continue
        yield path


def test_viterbi_nonuniform_trans_matches_brute_force():
    rng = np.random.default_rng(11)
    for trial in range(8):
        trans = _nonuniform_trans(rng)
        lengths = rng.integers(1, 5, size=4)
        em = rng.normal(size=(int(lengths.sum()), tagger.L)).astype(np.float32)
        got = tagger.viterbi_batch(em, lengths, trans)
        off = 0
        for lg in lengths:
            seq_em = em[off : off + lg]
            best, best_s = None, -np.inf
            for path in _legal_paths(int(lg), trans):
                s = sum(float(seq_em[t, path[t]]) for t in range(lg))
                s += sum(float(trans[path[t - 1], path[t]]) for t in range(1, lg))
                if s > best_s:
                    best, best_s = path, s
            assert tuple(got[off : off + lg]) == best, (trial, lg)
            off += lg


def test_forward_backward_nonuniform_and_pairwise_match_brute_force():
    rng = np.random.default_rng(5)
    L = tagger.L
    for _ in range(6):
        trans = _nonuniform_trans(rng)
        T = int(rng.integers(2, 5))
        em = rng.normal(size=(T, L)).astype(np.float64)
        marg, logZ, exp_tr = crf.crf_forward_backward(
            em, np.asarray([T]), trans, pairwise=True
        )

        scores = {}
        for path in _legal_paths(T, trans):
            s = sum(em[t, path[t]] for t in range(T))
            s += sum(float(trans[path[t - 1], path[t]]) for t in range(1, T))
            scores[path] = s
        mx = max(scores.values())
        Z = sum(np.exp(s - mx) for s in scores.values())
        assert np.isclose(logZ[0], mx + np.log(Z), atol=1e-8)

        want_marg = np.zeros((T, L))
        want_pair = np.zeros((L, L))
        for path, s in scores.items():
            p = np.exp(s - mx) / Z
            for t, lab in enumerate(path):
                want_marg[t, lab] += p
            for t in range(1, T):
                want_pair[path[t - 1], path[t]] += p
        assert np.allclose(marg, want_marg, atol=1e-8)
        assert np.allclose(exp_tr, want_pair, atol=1e-8)


def test_pairwise_ragged_batch_is_sum_of_singletons():
    rng = np.random.default_rng(9)
    trans = _nonuniform_trans(rng)
    lengths = np.asarray([3, 1, 5, 2])
    em = rng.normal(size=(int(lengths.sum()), tagger.L)).astype(np.float64)
    _, _, pair_b = crf.crf_forward_backward(em, lengths, trans, pairwise=True)
    want = np.zeros_like(pair_b)
    off = 0
    for lg in lengths:
        _, _, p1 = crf.crf_forward_backward(
            em[off : off + lg], np.asarray([lg]), trans, pairwise=True
        )
        want += p1
        off += lg
    assert np.allclose(pair_b, want, atol=1e-10)


def _fixture_texts_gold(n_convs=15, seed=11):
    term_type = tagger.best_term_type(fixtures.CLINICAL_GAZETTEER)
    rows = fixtures.gen_transcripts(n_convs=n_convs, avg_turns=6, seed=seed)
    texts, gold = [], []
    for r in rows:
        toks = r["text"].split()
        tags = ["O"] * len(toks)
        for (s, e, mt) in oracle_py.scan_mentions(r["text"], set(term_type)):
            ty = term_type[mt.lower()]
            tags[s] = f"B-{ty}"
            for i in range(s + 1, e + 1):
                tags[i] = f"I-{ty}"
        texts.append(r["text"])
        gold.append(tags)
    return rows, texts, gold


def test_trans_gradient_matches_finite_differences():
    _, texts, gold = _fixture_texts_gold(n_convs=2, seed=5)
    texts, gold = texts[:3], gold[:3]
    model = crf._fresh_base(None)
    rng = np.random.default_rng(1)
    model.W[:] = rng.normal(scale=0.01, size=model.W.shape).astype(np.float32)
    trans0 = _nonuniform_trans(rng)
    model = crf._with_w(model, model.W.astype(np.float32), trans0)

    loss, _gw, gtr = crf.crf_loss_grad(
        texts, gold, model, l2=1e-3, learn_trans=True
    )
    legal = crf.legal_transition_mask(trans0)
    assert np.all(gtr[~legal] == 0.0)  # hard constraints carry no gradient
    eps = 1e-4
    checked = 0
    for i, j in np.argwhere(legal):
        if checked >= 8:
            break
        if abs(gtr[i, j]) < 1e-6:
            continue
        Tp = trans0.astype(np.float64).copy()
        Tp[i, j] += eps
        lp, _, _ = crf.crf_loss_grad(
            texts, gold,
            crf._with_w(model, model.W, Tp.astype(np.float32)),
            l2=1e-3, learn_trans=True,
        )
        Tm = trans0.astype(np.float64).copy()
        Tm[i, j] -= eps
        lm, _, _ = crf.crf_loss_grad(
            texts, gold,
            crf._with_w(model, model.W, Tm.astype(np.float32)),
            l2=1e-3, learn_trans=True,
        )
        fd = (lp - lm) / (2 * eps)
        assert np.isclose(gtr[i, j], fd, rtol=0.05, atol=5e-3), (
            (i, j), gtr[i, j], fd,
        )
        checked += 1
    assert checked >= 4


def test_crf_learn_trans_fixture_span_pr():
    """The standing M1 bar (span P/R >= 0.95) holds with LEARNED
    transitions, the learned matrix moves off the structural prior on
    legal entries, and the hard constraints stay pinned."""
    _, texts, gold = _fixture_texts_gold()
    model = crf.train_crf(
        texts, gold, iters=35, lr=0.5, l2=1e-4, learn_trans=True
    )
    prior = tagger.iob_transitions()
    legal = crf.legal_transition_mask(prior)
    moved = np.abs(model.trans.astype(np.float64) - prior.astype(np.float64))
    assert moved[legal].max() > 0.1, "transitions were not learned"
    assert np.all(model.trans[~legal] == tagger.NEG)

    flat, turn_ids, lengths, pred = tagger.decode_texts(pd.Series(texts), model)
    g = np.concatenate([[tagger.LABEL_IDX[t] for t in ts] for ts in gold])
    assert float((pred == g).mean()) >= 0.95

    spans = chunk_flat_tags(pred, turn_ids, tagger.LABELS)
    got = set()
    if spans:
        r_, s_, e_, ty_ = spans
        got = set(zip(map(int, r_), map(int, s_), map(int, e_), ty_))
    want = set()
    for i, ts in enumerate(gold):
        j = 0
        while j < len(ts):
            if ts[j].startswith("B-"):
                ty = ts[j][2:]
                k = j
                while k + 1 < len(ts) and ts[k + 1] == f"I-{ty}":
                    k += 1
                want.add((i, j, k, ty))
                j = k + 1
            else:
                j += 1
    assert len(want) > 100
    prec = len(got & want) / max(len(got), 1)
    rec = len(got & want) / max(len(want), 1)
    assert prec >= 0.95, (prec, rec)
    assert rec >= 0.95, (prec, rec)


def test_trans_gradient_is_exact_shard_sum():
    _, texts, gold = _fixture_texts_gold(n_convs=6, seed=2)
    rng = np.random.default_rng(3)
    model = crf._fresh_base(None)
    model = crf._with_w(model, model.W, _nonuniform_trans(rng))

    loss_all, gw_all, gt_all = crf.crf_loss_grad(
        texts, gold, model, l2=0.0, learn_trans=True
    )
    loss_sum = 0.0
    gw_sum = np.zeros_like(gw_all)
    gt_sum = np.zeros_like(gt_all)
    for i in range(3):
        l, gw, gt = crf.crf_loss_grad(
            texts[i::3], gold[i::3], model, l2=0.0, learn_trans=True
        )
        loss_sum += l
        gw_sum += gw
        gt_sum += gt
    assert np.isclose(loss_all, loss_sum, rtol=1e-10)
    assert np.allclose(gw_all, gw_sum, atol=1e-8)
    assert np.allclose(gt_all, gt_sum, atol=1e-8)


def test_distributed_crf_learn_trans_trains_fixture(spark):
    """train_crf_distributed(learn_trans=True): shard-summed W AND
    transition gradients drive Adam on the driver; the learned matrix
    moves off the prior, constraints stay pinned, accuracy bar holds."""
    from cliner_spark import fixtures, oracle_py

    term_type = tagger.best_term_type(fixtures.CLINICAL_GAZETTEER)
    rows = fixtures.gen_transcripts(n_convs=8, avg_turns=6, seed=13)
    tx_df = spark.createDataFrame(
        [
            {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"], "text": r["text"]}
            for r in rows
        ]
    )
    gold_rows = []
    texts, gold = [], []
    for r in rows:
        toks = r["text"].split()
        tags = ["O"] * len(toks)
        for s, e, mt in oracle_py.scan_mentions(r["text"], set(term_type)):
            ty = term_type[mt.lower()]
            gold_rows.append(
                {
                    "conv_id": r["conv_id"],
                    "turn_idx": r["turn_idx"],
                    "tok_start": s,
                    "tok_end": e,
                    "concept_type": ty,
                }
            )
            tags[s] = f"B-{ty}"
            for i in range(s + 1, e + 1):
                tags[i] = f"I-{ty}"
        texts.append(r["text"])
        gold.append(tags)
    gold_df = spark.createDataFrame(gold_rows)
    model = crf.train_crf_distributed(
        tx_df, gold_df, iters=15, lr=0.5, l2=1e-4, n_partitions=4,
        learn_trans=True,
    )
    prior = tagger.iob_transitions()
    legal = crf.legal_transition_mask(prior)
    moved = np.abs(model.trans.astype(np.float64) - prior.astype(np.float64))
    assert moved[legal].max() > 0.1
    assert np.all(model.trans[~legal] <= tagger.NEG / 2)
    _, _, _, pred = tagger.decode_texts(pd.Series(texts), model)
    g = np.concatenate([[tagger.LABEL_IDX[t] for t in ts] for ts in gold])
    assert float((pred == g).mean()) >= 0.9
