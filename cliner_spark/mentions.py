"""Gazetteer mention scanning and linking (SURVEY.md J2/J5/O2; reference:
code/feature_extraction/umls_features.py + interpret_umls.py longest-match
phrase lookup and tie-break, approx/unverified — SURVEY.md §0).

Semantics (defined once; the DuckDB oracle SQL in entry_queries and the
plain-Python oracle_py are checked against it):

  1. Candidates: every n-gram (1 <= n <= MAX_TERM_TOKENS) of the turn's
     whitespace tokens (tokenization.py) whose lowercase join matches a
     gazetteer term.
  2. Dominance filter ("leftmost-longest", set-based): candidate A is dropped
     iff some candidate B overlaps it and B is better — longer, or same
     length with a smaller start. The kept set is provably overlap-free and
     the rule is non-sequential, so it parallelizes (unlike a greedy scan).
  3. Link: a kept span takes the best gazetteer row of its lowercase term —
     highest score, score ties broken by ascending cui (link.best_gazetteer
     is the Spark spelling of the same rule; `build_lexicon` is the one
     Python copy).

Kernel (`TermIndex.kept_spans`): tokens map to int ids through the index's
word dict, and an n-gram is matched as a chain of (prefix_id, word_id) ->
prefix_id probes into one sorted int64 key array, so no n-gram string is
built and every key stays below #prefixes × (vocabulary + 1) whatever the
vocabulary size. In (start, −len) order an overlapping candidate lies at
most (2·max_n−1)·max_n positions away, so dominance is that many shifted
comparisons: O(K·max_n²) time and O(K) memory for K candidates, no padding —
one mention-dense turn cannot inflate its Arrow batch.

Scale: `scan_mentions_udf` is one mapInPandas pass with the index broadcast
once; zero shuffle, Arrow-batched. Given a `Lexicon` (term -> cui,
concept_type, canonical, link_score, canon_cui, built on the driver by
`pipeline_lexicon`) it emits linked, canonicalized mentions, so the pipeline
needs no link join and no canon join; given a term list it emits bare
mention rows. The tagger's gazetteer features use the same kernel.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from cliner_spark import fixtures

MAX_TERM_TOKENS = 4


class TermIndex:
    """Integer-keyed n-gram index over lowercase terms (see module doc).

    A term is indexed iff it is 1..max_n words joined by single spaces (any
    other spelling never equals a join of tokens); `terms[i]` is the term of
    term id i.
    """

    def __init__(self, terms: Iterable[str], max_n: int = MAX_TERM_TOKENS):
        self.max_n = max_n
        self.terms = sorted(
            {t for t in terms if 1 <= len(t.split()) <= max_n and " ".join(t.split()) == t}
        )
        words: dict[str, int] = {}
        for t in self.terms:
            for w in t.split(" "):
                words.setdefault(w, len(words))
        v = self.oov = len(words)  # id of every token outside the vocabulary
        self.vocab = pd.Index(list(words), dtype="object")
        first = np.full(v + 1, -1, dtype=np.int64)  # word id -> 1-word prefix id
        edges: dict[tuple[int, int], int] = {}  # (prefix id, word id) -> prefix id
        prefix_term: list[int] = []
        for ti, t in enumerate(self.terms):
            ws = [words[w] for w in t.split(" ")]
            p = int(first[ws[0]])
            if p < 0:
                p = first[ws[0]] = len(prefix_term)
                prefix_term.append(-1)
            for w in ws[1:]:
                nxt = edges.get((p, w))
                if nxt is None:
                    nxt = edges[(p, w)] = len(prefix_term)
                    prefix_term.append(-1)
                p = nxt
            prefix_term[p] = ti
        self.first = first
        self.prefix_term = np.asarray(prefix_term, dtype=np.int64)
        keys = np.asarray([p * (v + 1) + w for (p, w) in edges], dtype=np.int64)
        order = np.argsort(keys)
        self.edge_keys = keys[order]
        self.edge_child = np.asarray(list(edges.values()), dtype=np.int64)[order]

    def word_ids(self, low_tokens: np.ndarray) -> np.ndarray:
        """lowercase tokens [N] -> int64 word ids [N] (oov for unknown)."""
        ids = self.vocab.get_indexer(low_tokens).astype(np.int64)
        ids[ids < 0] = self.oov
        return ids

    def kept_spans(
        self, ids: np.ndarray, turn_ids: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Dominance-kept term matches over a flat word-id array.

        ids [N] from word_ids; turn_ids [N] non-decreasing (n-grams never
        cross a turn). Returns (flat start, token length, term id) per kept
        span, ordered by start.
        """
        n_tok = len(ids)
        if n_tok == 0 or not self.terms:
            return tuple(np.zeros(0, dtype=np.int64) for _ in range(3))
        stride = self.oov + 1
        p = self.first[ids]
        pos = np.flatnonzero(p >= 0)  # flat starts with a live prefix of length n
        p = p[pos]
        cs, cl, ct = [], [], []
        for n in range(1, self.max_n + 1):
            if n > 1:
                j = pos + (n - 1)
                ok = j < n_tok
                pos, p, j = pos[ok], p[ok], j[ok]
                ok = turn_ids[j] == turn_ids[pos]
                pos, p, j = pos[ok], p[ok], j[ok]
                key = p * stride + ids[j]
                at = np.minimum(np.searchsorted(self.edge_keys, key), len(self.edge_keys) - 1)
                hit = self.edge_keys[at] == key
                pos, p = pos[hit], self.edge_child[at[hit]]
            term = self.prefix_term[p]
            m = term >= 0
            cs.append(pos[m])
            cl.append(np.full(int(m.sum()), n, dtype=np.int64))
            ct.append(term[m])
            if len(pos) == 0 or len(self.edge_keys) == 0:
                break
        s, ln, term = np.concatenate(cs), np.concatenate(cl), np.concatenate(ct)
        order = np.lexsort((-ln, s))
        s, ln, term = s[order], ln[order], term[order]
        e = s + ln - 1
        k = len(s)
        dominated = np.zeros(k, dtype=bool)
        for d in range(1, min((2 * self.max_n - 1) * self.max_n, k - 1) + 1):
            a, b = slice(0, k - d), slice(d, k)
            overlap = (s[b] <= e[a]) & (e[b] >= s[a])
            dominated[a] |= overlap & _better(ln[b], s[b], ln[a], s[a])
            dominated[b] |= overlap & _better(ln[a], s[a], ln[b], s[b])
        keep = ~dominated
        return s[keep], ln[keep], term[keep]


def _better(len_o, s_o, len_c, s_c):
    """o beats c: longer, or same length with a smaller start."""
    return (len_o > len_c) | ((len_o == len_c) & (s_o < s_c))


class Link(NamedTuple):
    cui: str
    concept_type: str
    canonical: str
    link_score: float
    canon_cui: str | None  # None when the lexicon carries no canonical map


class Lexicon(TermIndex):
    """TermIndex + the link row of every term (`best`, keyed by lowercase
    term) and its columns in term-id order (`cols`), canon_cui included iff
    the lexicon was built with a canonical map."""

    def __init__(self, best: dict[str, Link], canonical: bool):
        super().__init__(best)
        self.best = best
        fields = Link._fields if canonical else Link._fields[:-1]
        rows = [best[t] for t in self.terms]
        self.cols = {
            f: np.asarray(
                [r[i] for r in rows], dtype=np.float64 if f == "link_score" else object
            )
            for i, f in enumerate(fields)
        }


def build_lexicon(entries: Iterable[tuple], canon: dict[str, str] | None = None) -> Lexicon:
    """Gazetteer rows (term, cui, sem_type, canonical, score) -> Lexicon.

    Best row per lowercase term: score desc, then cui asc; among rows equal
    on both, the first one wins. canon maps cui -> canonical cui (a cui
    absent from it is its own canonical cui, as in triples.with_canonical);
    None leaves canon_cui out.
    """
    best: dict[str, tuple] = {}
    for term, cui, sem_type, canonical, score in entries:
        t = term.lower()
        key = (-float(score), cui)
        if t not in best or key < best[t][0]:
            best[t] = (key, (cui, sem_type, canonical, float(score)))
    return Lexicon(
        {
            t: Link(cui, sem, canonical, score, None if canon is None else canon.get(cui, cui))
            for t, (_k, (cui, sem, canonical, score)) in best.items()
        },
        canonical=canon is not None,
    )


def pipeline_lexicon(
    gazetteer: DataFrame | None = None, canon_map: DataFrame | None = None
) -> Lexicon:
    """The driver-side lexicon of one run: gazetteer None means
    fixtures.CLINICAL_GAZETTEER, read with no Spark job, otherwise one
    collect; canon_map (cui, canon_cui) takes one collect, None builds a
    lexicon without canon_cui."""
    if gazetteer is None:
        entries = fixtures.CLINICAL_GAZETTEER
    else:
        cols = ["term", "cui", "sem_type", "canonical", "score"]
        entries = [tuple(r) for r in gazetteer.select(*cols).collect()]
    canon = None
    if canon_map is not None:
        canon = dict(canon_map.select("cui", "canon_cui").collect())
    return build_lexicon(entries, canon)


def flatten_batch(texts: pd.Series) -> tuple[list[str], np.ndarray, np.ndarray]:
    """texts [B] -> (flat tokens [N], turn_ids [N], turn_lengths [B])."""
    tok_lists = texts.fillna("").str.split()
    lengths = tok_lists.str.len().to_numpy(dtype=np.int64)
    flat = [t for lst in tok_lists for t in lst]
    turn_ids = np.repeat(np.arange(len(lengths)), lengths)
    return flat, turn_ids, lengths


_MENTION_COLS = "conv_id string, turn_idx int, tok_start int, tok_end int, mention_text string"
_LINK_TYPES = {
    "cui": "string", "concept_type": "string", "canonical": "string",
    "link_score": "double", "canon_cui": "string",
}


def scan_mentions_udf(
    turns: DataFrame,
    lexicon: Lexicon | Iterable[str],
    text_col: str = "text",
    max_n: int = MAX_TERM_TOKENS,
    carry_ts: bool = False,
) -> DataFrame:
    """Gazetteer mention scan: one mapInPandas pass over Arrow batches with
    the index broadcast once, no per-row Python loop inside a batch, zero
    shuffle.

    lexicon: a Lexicon -> linked, canonicalized mention rows (cui,
    concept_type, canonical, link_score, canon_cui appended); a term list ->
    bare mention rows (max_n applies to this form only).
    carry_ts=True passes the event-time `ts` column through (streaming path:
    avoids a stream-stream self-join to re-attach event time downstream).
    """
    linked = isinstance(lexicon, Lexicon)
    index = lexicon if linked else TermIndex((t.lower() for t in lexicon), max_n)
    b_index = turns.sparkSession.sparkContext.broadcast(index)

    cols = ["conv_id", "turn_idx", text_col] + (["ts"] if carry_ts else [])
    schema = ", ".join(
        [_MENTION_COLS]
        + [f"{f} {_LINK_TYPES[f]}" for f in (index.cols if linked else ())]
        + (["ts timestamp"] if carry_ts else [])
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = b_index.value
        for pdf in batches:
            flat, turn_ids, lengths = flatten_batch(pdf[text_col])
            low = np.asarray([t.lower() for t in flat], dtype=object)
            ks, kln, kterm = idx.kept_spans(idx.word_ids(low), turn_ids)
            # flat token index -> (batch row, in-turn token offset)
            offsets = np.cumsum(lengths) - lengths
            row = turn_ids[ks]
            tok_start = ks - offsets[row]
            data = {
                "conv_id": pd.Series(
                    pdf["conv_id"].to_numpy(dtype=object)[row], dtype="object"
                ),
                "turn_idx": pd.Series(pdf["turn_idx"].to_numpy()[row], dtype="int32"),
                "tok_start": pd.Series(tok_start, dtype="int32"),
                "tok_end": pd.Series(tok_start + kln - 1, dtype="int32"),
                # original-case mention text
                "mention_text": pd.Series(
                    [" ".join(flat[s : s + n]) for s, n in zip(ks.tolist(), kln.tolist())],
                    dtype="object",
                ),
            }
            if linked:
                for f, col in idx.cols.items():
                    data[f] = pd.Series(col[kterm], dtype=col.dtype)
            if carry_ts:
                data["ts"] = pd.Series(pdf["ts"].to_numpy()[row], dtype="datetime64[us]")
            yield pd.DataFrame(data)

    return turns.select(*cols).mapInPandas(scan, schema=schema)
