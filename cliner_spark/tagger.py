"""Sequence tagger (SURVEY.md §2.9 M2 + §2.10 feature_tag_udf; reference:
code/machine_learning/crf.py train/predict + code/model.py, approx/unverified
— SURVEY.md §0).

The reference decodes one sentence at a time through python-crfsuite. Here the
whole path is one `mapInPandas` pass, fully vectorized per Arrow batch:

  text batch -> flat token array [N] (+ turn-id array)
             -> hashed feature indices (features.py, numpy fancy indexing)
             -> gazetteer phrase flags (mentions.TermIndex.kept_spans, the
                scanner's kernel: integer-keyed n-gram probe + shifted-window
                longest/leftmost dominance, so tagger spans == scanner spans
                when the model is the distant-supervision one)
             -> emissions [N, L] -> batched Viterbi over the flat layout
             -> tags -> chunked spans (chunk.py) -> mention rows

Model weights live in ONE sc.broadcast handle; deserialized once per
executor (worker reuse), never per row.

Labels: the i2b2 7-tag IOB set (reference `code/documents.py` tagset).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from cliner_spark import features as FT
from cliner_spark.chunk import chunk_flat_tags
from cliner_spark.mentions import TermIndex, build_lexicon, flatten_batch

CONCEPT_TYPES = ("problem", "test", "treatment")
LABELS = ("O",) + tuple(
    f"{bi}-{t}" for t in CONCEPT_TYPES for bi in ("B", "I")
)
L = len(LABELS)  # 7
LABEL_IDX = {lab: i for i, lab in enumerate(LABELS)}
_B_OF = {t: LABEL_IDX[f"B-{t}"] for t in CONCEPT_TYPES}
_I_OF = {t: LABEL_IDX[f"I-{t}"] for t in CONCEPT_TYPES}

NEG = np.float32(-1e9)


def iob_transitions(bonus: float = 0.0) -> np.ndarray:
    """[L, L] log-domain transition scores; I-x reachable only from B-x/I-x."""
    trans = np.zeros((L, L), dtype=np.float32)
    for t in CONCEPT_TYPES:
        i_lab = _I_OF[t]
        trans[:, i_lab] = NEG
        trans[_B_OF[t], i_lab] = bonus
        trans[i_lab, i_lab] = bonus
    return trans


@dataclass
class TagModel:
    """Broadcastable model artifact (SURVEY.md D8).

    W          [HASH_DIM, L] hashed-feature emission weights
    trans      [L, L] transition scores (log domain)
    term_type  lower phrase -> concept type (best gazetteer row per term:
               score desc, cui asc — identical rule to link.best_gazetteer)
    gaz_weight emission bonus added at gazetteer-flagged positions
    o_bias     emission bonus on O for unflagged tokens
    max_n      max phrase length in tokens
    use_context include W1 prev/next conjunction features
    use_pos    include F8 POS-tag features (features.pos_indices)
    """

    W: np.ndarray
    trans: np.ndarray
    term_type: dict[str, str]
    gaz_weight: float = 10.0
    o_bias: float = 1.0
    max_n: int = 4
    use_context: bool = True
    use_pos: bool = True
    # derived from term_type (save_model does not write them): the
    # gazetteer-flag kernel's index and the B-/I- label of each term id
    index: TermIndex = field(init=False, repr=False, compare=False)
    b_rows: np.ndarray = field(init=False, repr=False, compare=False)
    i_rows: np.ndarray = field(init=False, repr=False, compare=False)

    def __post_init__(self):
        self.index = TermIndex(self.term_type, self.max_n)
        types = [self.term_type[t] for t in self.index.terms]
        self.b_rows = np.asarray([_B_OF[t] for t in types], dtype=np.int64)
        self.i_rows = np.asarray([_I_OF[t] for t in types], dtype=np.int64)


def best_term_type(entries: list[tuple]) -> dict[str, str]:
    """term -> concept_type of its best gazetteer row (mentions.build_lexicon's
    tie-break: score desc, cui asc)."""
    return {t: link.concept_type for t, link in build_lexicon(entries).best.items()}


def make_distant_model(entries: list[tuple], **kw) -> TagModel:
    """Distant-supervision model: zero hashed weights; gazetteer flags and the
    IOB transition structure carry the decision. With this model the Viterbi
    argmax provably reproduces the scanner's longest/leftmost spans typed by
    the best gazetteer row (tests assert it)."""
    term_type = best_term_type(entries)
    max_n = max(len(t.split()) for t in term_type) if term_type else 1
    return TagModel(
        W=np.zeros((FT.HASH_DIM, L), dtype=np.float32),
        trans=iob_transitions(),
        term_type=term_type,
        max_n=max_n,
        **kw,
    )


# ---------------------------------------------------------------------------
# Flattened batch computation
# ---------------------------------------------------------------------------


def gazetteer_flags(low: np.ndarray, turn_ids: np.ndarray, model: TagModel) -> np.ndarray:
    """[N, L] emission bonus matrix from phrase-gazetteer membership
    (mentions.TermIndex.kept_spans does the matching + dominance)."""
    n_tok = len(low)
    bonus = np.zeros((n_tok, L), dtype=np.float32)
    if n_tok == 0 or not model.term_type:
        return bonus

    idx = model.index
    ks, kln, kterm = idx.kept_spans(idx.word_ids(low), turn_ids)
    if len(ks) == 0:
        bonus[:, 0] = 1.0
        return bonus

    bonus[ks, model.b_rows[kterm]] += 1.0
    inner = kln > 1
    if inner.any():
        # I-flags: positions s+1..s+len-1 per kept multi-token span
        rep = (kln[inner] - 1).astype(np.int64)
        pos = np.repeat(ks[inner] + 1, rep) + _ranges(rep)
        bonus[pos, np.repeat(model.i_rows[kterm[inner]], rep)] += 1.0

    flagged = bonus.any(axis=1)
    bonus[~flagged, 0] = 1.0
    return bonus


def _ranges(lengths: np.ndarray) -> np.ndarray:
    """[0..l0-1, 0..l1-1, ...] for an array of run lengths (vectorized)."""
    if len(lengths) == 0:
        return np.zeros(0, dtype=np.int64)
    ends = np.cumsum(lengths)
    out = np.arange(ends[-1], dtype=np.int64)
    out -= np.repeat(ends - lengths, lengths)
    return out


def viterbi_batch(emissions: np.ndarray, lengths: np.ndarray, trans: np.ndarray) -> np.ndarray:
    """Batched Viterbi over the flat layout. emissions [N, L]; lengths [B];
    returns flat tag ids [N]. One numpy step per time index advances every
    turn still running — no per-turn Python loop.

    Turns are sorted by length (descending, stable), so the turns still
    running at step t are a prefix of that order: `dp` is [B, L] and
    back-pointers are one flat int8 [N, L] array indexed by token
    position, so memory is O(N·L) however ragged the batch is. A turn's
    dp row stops changing once t reaches its length, so no transition is
    ever applied past a turn's end — exact for ARBITRARY transition
    matrices (crf.train_crf(learn_trans=True) learns them).
    """
    n_tok = int(lengths.sum())
    if n_tok == 0:
        return np.zeros(0, dtype=np.int64)
    em = emissions.astype(np.float32, copy=False)
    starts = np.cumsum(lengths) - lengths
    order = np.argsort(-lengths, kind="stable")
    order = order[lengths[order] > 0]  # empty turns emit no tags
    lens, starts = lengths[order], starts[order]
    # active[t] = number of turns with length > t (a prefix of `order`)
    active = np.searchsorted(-lens, -np.arange(int(lens[0])), side="left")

    dp = em[starts].astype(np.result_type(em, trans))
    dp[:, trans[0] <= NEG / 2] = NEG  # sequences cannot start with I-*
    back = np.zeros((n_tok, L), dtype=np.int8)
    for t in range(1, len(active)):
        n = active[t]
        pos = starts[:n] + t
        scores = dp[:n, :, None] + trans[None, :, :]  # [n, L_prev, L_cur]
        back[pos] = scores.argmax(axis=1)
        dp[:n] = scores.max(axis=1) + em[pos]

    tags = np.empty(n_tok, dtype=np.int64)
    cur = dp.argmax(axis=1)
    tags[starts + lens - 1] = cur
    for t in range(len(active) - 1, 0, -1):
        n = active[t]
        pos = starts[:n] + t
        cur[:n] = back[pos, cur[:n]]
        tags[pos - 1] = cur[:n]
    return tags


def tag_emissions(
    texts: pd.Series, model: TagModel
) -> tuple[pd.Series, np.ndarray, np.ndarray, np.ndarray]:
    """texts -> (flat tokens, turn_ids, lengths, flat emissions [N, L])."""
    flat, turn_ids, lengths = flatten_batch(texts)
    flat = pd.Series(flat, dtype="object")
    if len(flat) == 0:
        return flat, turn_ids, lengths, np.zeros((0, L), dtype=np.float32)
    fams = FT.feature_indices(flat)
    if model.use_context:
        fams += FT.context_indices(fams, turn_ids)
    if model.use_pos:
        fams += FT.pos_indices(flat)
    em = FT.emissions_from_indices(fams, model.W)
    low = flat.str.lower().to_numpy(dtype=object)
    gflags = gazetteer_flags(low, turn_ids, model)
    em += model.gaz_weight * gflags
    em[:, 0] += np.float32(model.o_bias) * (gflags[:, 0] > 0)
    return flat, turn_ids, lengths, em


def decode_texts(texts: pd.Series, model: TagModel) -> tuple[pd.Series, np.ndarray, np.ndarray, np.ndarray]:
    """texts -> (flat tokens, turn_ids, lengths, flat tag ids)."""
    flat, turn_ids, lengths, em = tag_emissions(texts, model)
    tags = viterbi_batch(em, lengths, model.trans)
    return flat, turn_ids, lengths, tags


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

_MENTION_SCHEMA = (
    "conv_id string, turn_idx int, tok_start int, tok_end int, "
    "mention_text string, concept_type string"
)


def tag_mentions(turns: DataFrame, model: TagModel, text_col: str = "text") -> DataFrame:
    """The fused feature+decode+chunk UDF (SURVEY.md §2.10 #2): transcripts ->
    typed mention rows. Zero shuffle; one mapInPandas stage."""
    spark = turns.sparkSession
    b_model = spark.sparkContext.broadcast(model)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = b_model.value
        for pdf in batches:
            flat, turn_ids, lengths, tags = decode_texts(pdf[text_col], m)
            spans = chunk_flat_tags(tags, turn_ids, LABELS)  # (row, s, e, type)
            if len(spans) == 0:
                yield pd.DataFrame(
                    {
                        "conv_id": pd.Series([], dtype="object"),
                        "turn_idx": pd.Series([], dtype="int32"),
                        "tok_start": pd.Series([], dtype="int32"),
                        "tok_end": pd.Series([], dtype="int32"),
                        "mention_text": pd.Series([], dtype="object"),
                        "concept_type": pd.Series([], dtype="object"),
                    }
                )
                continue
            rows, s, e, typ = spans
            toks = flat.to_numpy(dtype=object)
            starts_of_turn = np.concatenate([[0], np.cumsum(lengths)[:-1]])
            mention_text = [
                " ".join(toks[starts_of_turn[r] + a : starts_of_turn[r] + b + 1])
                for r, a, b in zip(rows, s, e)
            ]
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].to_numpy(dtype=object)[rows],
                    "turn_idx": pd.Series(
                        pdf["turn_idx"].to_numpy()[rows], dtype="int32"
                    ),
                    "tok_start": pd.Series(s, dtype="int32"),
                    "tok_end": pd.Series(e, dtype="int32"),
                    "mention_text": pd.Series(mention_text, dtype="object"),
                    "concept_type": pd.Series(typ, dtype="object"),
                }
            )

    return turns.select("conv_id", "turn_idx", text_col).mapInPandas(
        run, schema=_MENTION_SCHEMA
    )


# ---------------------------------------------------------------------------
# Model persistence (SURVEY.md S3/D8; reference: pickled ClinerModel in
# code/tools.py, approx §0). npz + json sidecar instead of pickle: versioned,
# language-neutral, safe to load (no arbitrary code execution).
# ---------------------------------------------------------------------------


def save_model(model: TagModel, path: str) -> None:
    import json
    import os

    os.makedirs(path, exist_ok=True)
    np.savez_compressed(
        os.path.join(path, "weights.npz"), W=model.W, trans=model.trans
    )
    with open(os.path.join(path, "model.json"), "w") as f:
        json.dump(
            {
                "format_version": 1,
                "labels": list(LABELS),
                "term_type": model.term_type,
                "gaz_weight": model.gaz_weight,
                "o_bias": model.o_bias,
                "max_n": model.max_n,
                "use_context": model.use_context,
                "use_pos": model.use_pos,
            },
            f,
        )


def load_model(path: str) -> TagModel:
    import json
    import os

    with open(os.path.join(path, "model.json")) as f:
        meta = json.load(f)
    if tuple(meta["labels"]) != LABELS:
        raise ValueError(f"label-set mismatch: {meta['labels']} vs {LABELS}")
    arrs = np.load(os.path.join(path, "weights.npz"))
    return TagModel(
        W=arrs["W"],
        trans=arrs["trans"],
        term_type=meta["term_type"],
        gaz_weight=meta["gaz_weight"],
        o_bias=meta["o_bias"],
        max_n=meta["max_n"],
        use_context=meta["use_context"],
        use_pos=meta.get("use_pos", True),
    )


# ---------------------------------------------------------------------------
# Driver-local trainer (SURVEY.md M1 note: training is fixture-scale;
# averaged structured perceptron over the same features + Viterbi)
# ---------------------------------------------------------------------------


def train_perceptron(
    texts: list[str],
    gold_tags: list[list[str]],
    epochs: int = 5,
    base: TagModel | None = None,
) -> TagModel:
    """Averaged structured perceptron. Uses the identical feature hashing and
    Viterbi as inference, so a model trained here is exactly reproducible in
    the distributed decode path."""
    model = base or TagModel(
        W=np.zeros((FT.HASH_DIM, L), dtype=np.float32),
        trans=iob_transitions(),
        term_type={},
        gaz_weight=0.0,
        o_bias=0.0,
    )
    W = model.W
    acc = np.zeros_like(W)
    t_step = 1
    for _ in range(epochs):
        for text, gold in zip(texts, gold_tags):
            s = pd.Series([text])
            flat, turn_ids, lengths, em = tag_emissions(s, model)
            if len(flat) == 0:
                continue
            pred = viterbi_batch(em, lengths, model.trans)
            g = np.asarray([LABEL_IDX[x] for x in gold], dtype=np.int64)
            if len(g) != len(pred):
                raise ValueError("gold/token length mismatch")
            if (pred == g).all():
                t_step += 1
                continue
            fams = FT.feature_indices(flat)
            if model.use_context:
                fams += FT.context_indices(fams, turn_ids)
            if model.use_pos:
                fams += FT.pos_indices(flat)
            for idx in fams:
                np.add.at(W, (idx, g), 1.0)
                np.add.at(W, (idx, pred), -1.0)
                np.add.at(acc, (idx, g), float(t_step))
                np.add.at(acc, (idx, pred), -float(t_step))
            t_step += 1
    W_avg = W - acc / max(t_step, 1)
    return TagModel(
        W=W_avg.astype(np.float32),
        trans=model.trans,
        term_type=model.term_type,
        gaz_weight=model.gaz_weight,
        o_bias=model.o_bias,
        max_n=model.max_n,
        use_context=model.use_context,
    )


def train_perceptron_distributed(
    transcripts: DataFrame,
    gold: DataFrame,
    epochs: int = 16,
    base: TagModel | None = None,
    n_partitions: int | None = None,
    mix_rounds: int = 4,
) -> TagModel:
    """Distributed trainer: ITERATIVE parameter mixing (McDonald et al.
    2010, "Distributed Training Strategies for the Structured Perceptron").
    Each mixing round, every conv_id-sharded partition trains an averaged
    structured perceptron locally — warm-started from the previous round's
    count-weighted mixed weights — and ships back one compressed
    [HASH_DIM, L] matrix; the driver mixes and re-broadcasts. One-shot
    averaging of independently-trained shards measurably cancels feature
    weights (disjoint shards push the same hashed feature in opposite
    directions); the iterative warm start is what makes mixing converge in
    the paper and in our fixture test.

    Unlike the fixture-scale driver-local path, transcripts are NEVER
    collected: gold mention spans are grouped and joined in Spark, only
    weight matrices cross the wire (mix_rounds × n_partitions × ~5 MB).
    Shards sort (conv_id, turn_idx), so the result is deterministic for a
    fixed n_partitions/mix_rounds.
    """
    import io
    import math

    from pyspark.sql import functions as F

    spark = transcripts.sparkSession
    n = n_partitions or spark.sparkContext.defaultParallelism
    base_model = base or TagModel(
        W=np.zeros((FT.HASH_DIM, L), dtype=np.float32),
        trans=iob_transitions(),
        term_type={},
        gaz_weight=0.0,
        o_bias=0.0,
    )
    static_cfg = {
        "trans": base_model.trans,
        "term_type": base_model.term_type,
        "gaz_weight": base_model.gaz_weight,
        "o_bias": base_model.o_bias,
        "max_n": base_model.max_n,
        "use_context": base_model.use_context,
        "use_pos": base_model.use_pos,
        "epochs": int(math.ceil(epochs / mix_rounds)),
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
        .localCheckpoint(eager=True)  # reused every mixing round
    )

    W_mixed = base_model.W
    for _round in range(mix_rounds):
        b_cfg = spark.sparkContext.broadcast({**static_cfg, "W": W_mixed})

        def shard_train(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            texts: list[str] = []
            tags: list[list[str]] = []
            for pdf in batches:
                for text, sp in zip(pdf["text"], pdf["spans"]):
                    toks = (text or "").split()
                    if not toks:
                        continue
                    t = ["O"] * len(toks)
                    for s in sp if sp is not None else []:
                        t[s["tok_start"]] = "B-" + s["concept_type"]
                        for i in range(s["tok_start"] + 1, s["tok_end"] + 1):
                            t[i] = "I-" + s["concept_type"]
                    texts.append(text)
                    tags.append(t)
            if not texts:
                return
            cfg = b_cfg.value
            shard_base = TagModel(
                W=cfg["W"].copy(),
                trans=cfg["trans"],
                term_type=cfg["term_type"],
                gaz_weight=cfg["gaz_weight"],
                o_bias=cfg["o_bias"],
                max_n=cfg["max_n"],
                use_context=cfg["use_context"],
                use_pos=cfg["use_pos"],
            )
            m = train_perceptron(
                texts, tags, epochs=cfg["epochs"], base=shard_base
            )
            buf = io.BytesIO()
            np.savez_compressed(buf, W=m.W)
            yield pd.DataFrame(
                {
                    "n": pd.Series([len(texts)], dtype="int64"),
                    "w": [buf.getvalue()],
                }
            )

        rows = pairs.mapInPandas(shard_train, schema="n bigint, w binary").collect()
        b_cfg.unpersist()
        if not rows:
            break
        total = float(sum(r["n"] for r in rows))
        W = np.zeros(base_model.W.shape, dtype=np.float64)
        for r in rows:
            W += (r["n"] / total) * np.load(io.BytesIO(bytes(r["w"])))[
                "W"
            ].astype(np.float64)
        W_mixed = W.astype(np.float32)

    return TagModel(
        W=W_mixed,
        trans=base_model.trans,
        term_type=base_model.term_type,
        gaz_weight=base_model.gaz_weight,
        o_bias=base_model.o_bias,
        max_n=base_model.max_n,
        use_context=base_model.use_context,
        use_pos=base_model.use_pos,
    )
