"""Gazetteer mention scanning (SURVEY.md J2/O2; reference:
code/feature_extraction/umls_features.py + interpret_umls.py longest-match
phrase lookup, approx/unverified — SURVEY.md §0).

Semantics (defined once; the DuckDB oracle SQL in entry_queries and the
plain-Python oracle_py are checked against it):

  1. Candidates: every n-gram (1 <= n <= MAX_TERM_TOKENS) of the turn's
     whitespace tokens (tokenization.py) whose lowercase join matches a
     gazetteer term.
  2. Dominance filter ("leftmost-longest", set-based): candidate A is dropped
     iff some candidate B overlaps it and B is better — longer, or same
     length with a smaller start. The kept set is provably overlap-free and
     the rule is non-sequential, so it parallelizes (unlike a greedy scan).

Scale: `scan_mentions_udf` is one mapInPandas pass with a sc.broadcast term
map, vectorized over the batch-flattened token array
(tagger.kept_ngram_spans); zero shuffle, Arrow-batched. The tagger's
gazetteer features share the same kernel.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

MAX_TERM_TOKENS = 4


def scan_mentions_udf(
    turns: DataFrame,
    gazetteer_terms: list[str],
    text_col: str = "text",
    max_n: int = MAX_TERM_TOKENS,
    carry_ts: bool = False,
) -> DataFrame:
    """Gazetteer mention scan: mapInPandas + sc.broadcast term map, fully
    vectorized via tagger.kept_ngram_spans (pandas shift+concat n-gram match
    over the batch-flattened token array + turn-segmented dominance) — no
    per-row Python loop inside the Arrow batch. Zero shuffle.

    carry_ts=True passes the event-time `ts` column through (streaming path:
    avoids a stream-stream self-join to re-attach event time downstream).
    """
    import numpy as np

    from cliner_spark.tagger import flatten_batch, kept_ngram_spans

    spark = turns.sparkSession
    term_map = {t.lower(): t.lower() for t in gazetteer_terms}
    b_terms = spark.sparkContext.broadcast((term_map, max_n))

    cols = ["conv_id", "turn_idx", text_col] + (["ts"] if carry_ts else [])
    schema = (
        "conv_id string, turn_idx int, tok_start int, tok_end int, mention_text string"
        + (", ts timestamp" if carry_ts else "")
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tmap, mx = b_terms.value
        for pdf in batches:
            flat, turn_ids, lengths = flatten_batch(pdf[text_col])
            ks, kln, _ = kept_ngram_spans(flat.str.lower(), turn_ids, tmap, mx)
            # flat token index -> (batch row, in-turn token offset)
            offsets = np.concatenate(([0], np.cumsum(lengths)[:-1])).astype(np.int64)
            row = turn_ids[ks] if len(ks) else np.zeros(0, dtype=np.int64)
            tok_start = ks - offsets[row]
            # original-case mention text, vectorized per span length
            flat_np = flat.to_numpy(dtype=object)
            texts_out = np.empty(len(ks), dtype=object)
            for n in np.unique(kln):
                sel = kln == n
                base = pd.Series(flat_np[ks[sel]], dtype="object")
                rest = [
                    pd.Series(flat_np[ks[sel] + j], dtype="object")
                    for j in range(1, int(n))
                ]
                texts_out[sel] = (
                    base.str.cat(rest, sep=" ") if rest else base
                ).to_numpy(dtype=object)
            data = {
                "conv_id": pd.Series(
                    pdf["conv_id"].to_numpy(dtype=object)[row], dtype="object"
                ),
                "turn_idx": pd.Series(
                    pdf["turn_idx"].to_numpy()[row], dtype="int32"
                ),
                "tok_start": pd.Series(tok_start, dtype="int32"),
                "tok_end": pd.Series(tok_start + kln - 1, dtype="int32"),
                "mention_text": pd.Series(texts_out, dtype="object"),
            }
            if carry_ts:
                data["ts"] = pd.Series(
                    pdf["ts"].to_numpy()[row], dtype="datetime64[us]"
                )
            yield pd.DataFrame(data)

    return turns.select(*cols).mapInPandas(scan, schema=schema)
