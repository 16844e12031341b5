"""NegEx-style assertion classification for detected mentions.

Public CliNER emits concept spans only (SURVEY.md §2 M3/O2); a clinical
knowledge graph built from those spans additionally needs to know whether
each concept is *affirmed*, *negated*, or *uncertain* in its turn —
"denies chest pain" must not produce the same (conv, MENTIONS, chest-pain)
edge as "reports chest pain". This module implements the windowed-trigger
algorithm published as NegEx (Chapman et al., J. Biomedical Informatics
34(5), 2001): a mention is

  NEGATED    when a pre-negation trigger occurs within `window` tokens
             before the span, or a post-negation trigger within `window`
             tokens after it (same turn — windows never cross turns);
  UNCERTAIN  when (not negated and) an uncertainty/hedge trigger occurs in
             either window;
  AFFIRMED   otherwise.

Scale notes (100 TB): the classification is pure JVM column expressions
over the already-tokenized turn (slice + exists over a literal trigger
array) — no join beyond the mention↔turn equi-join the caller already
paid for, no UDF, no shuffle of its own. Trigger lists are tiny literals
embedded in the plan, so whole-stage codegen keeps the entire assertion
pass inside the mention-scan stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Published NegEx trigger subsets. Single tokens match per-token; entries
# containing a space are PHRASE triggers, matched against the space-joined
# window (token-boundary-safe: the window string is padded with spaces).
NEGEX_PRE_NEG = ["no", "not", "without", "denies", "denied", "absence", "negative"]
NEGEX_POST_NEG = ["unlikely", "resolved", "ruled out"]
NEGEX_UNCERTAIN = [
    "possible",
    "possibly",
    "probable",
    "may",
    "might",
    "suspected",
    "questionable",
]

ASSERTION_PRED = {
    "negated": "NEGATED_IN",
    "uncertain": "HEDGED_IN",
    "affirmed": "ASSERTED_IN",
}


def _window_slice(tokens, start0, length):
    """0-based window [start0, start0+length) as a 1-based F.slice."""
    return F.slice(tokens, start0 + F.lit(1), length)


def _any_in(arr, triggers: list[str]):
    """True when the token window contains any trigger: single tokens via
    exists+isin, multi-token phrases via substring match on the space-joined,
    space-padded window (token boundaries = spaces, so no partial-word hits)."""
    words = [t.lower() for t in triggers if " " not in t]
    phrases = [t.lower() for t in triggers if " " in t]
    cond = F.lit(False)
    if words:
        cond = cond | F.exists(arr, lambda x: F.lower(x).isin(*words))
    if phrases:
        joined = F.concat(
            F.lit(" "),
            F.concat_ws(" ", F.transform(arr, lambda x: F.lower(x))),
            F.lit(" "),
        )
        for p in phrases:
            cond = cond | joined.contains(f" {p} ")
    return cond


def classify_assertions(
    mentions: DataFrame,
    turn_tokens: DataFrame,
    pre_neg: list[str] | None = None,
    post_neg: list[str] | None = None,
    uncertain: list[str] | None = None,
    window: int = 4,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    tokens_col: str = "tokens",
) -> DataFrame:
    """mentions(keys..., tok_start, tok_end, ...) × turn_tokens(keys...,
    tokens) -> mentions + `assertion` ∈ {negated, uncertain, affirmed}.

    The join is an equi-join on `keys` (co-partitioned with the mention
    scan that produced `mentions`, so AQE plans it shuffle-free when the
    caller reuses the tokenized turns). Window math is clamped to the turn:
    pre-window = tokens[max(0, tok_start-window) .. tok_start), post-window
    = tokens(tok_end .. min(len, tok_end+window)].
    """
    pre_neg = NEGEX_PRE_NEG if pre_neg is None else pre_neg
    post_neg = NEGEX_POST_NEG if post_neg is None else post_neg
    uncertain = NEGEX_UNCERTAIN if uncertain is None else uncertain

    toks = F.col(tokens_col)
    ts, te = F.col("tok_start"), F.col("tok_end")
    pre_start = F.greatest(F.lit(0), ts - window)
    pre = _window_slice(toks, pre_start, ts - pre_start)
    post_len = F.greatest(F.lit(0), F.least(F.lit(window), F.size(toks) - te - 1))
    post = _window_slice(toks, te + 1, post_len)

    joined = mentions.join(turn_tokens.select(*keys, tokens_col), list(keys))
    negated = _any_in(pre, pre_neg) | _any_in(post, post_neg)
    hedged = _any_in(pre, uncertain) | _any_in(post, uncertain)
    return joined.withColumn(
        "assertion",
        F.when(negated, F.lit("negated"))
        .when(hedged, F.lit("uncertain"))
        .otherwise(F.lit("affirmed")),
    ).drop(tokens_col)

