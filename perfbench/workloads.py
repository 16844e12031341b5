"""Workload definitions: input shape for `fixtures.big_transcripts` plus the
pipeline settings each workload runs with. Inputs are generated from the
benchmark's `--seed` argument only, so one seed always gives one input."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_turns: int
    words_per_turn: int
    filler_weight: int
    hot_share: float
    # None = the CLI default (triples.HOT_CONV_THRESHOLD)
    hot_threshold: int | None


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="predict_long",
            why=(
                "30-token turns, thin mention density: the udf mention scan "
                "dominates and the hot conversation stays below the default "
                "threshold, so salting is bypassed"
            ),
            n_turns=48_000,
            words_per_turn=30,
            filler_weight=8,
            hot_share=0.05,
            hot_threshold=None,
        ),
        Workload(
            name="predict_dense_hot",
            why=(
                "12-token turns at full mention density with one conversation "
                "above the hot threshold: link, triples and the salted sink "
                "carry the work"
            ),
            n_turns=48_000,
            words_per_turn=12,
            filler_weight=1,
            hot_share=0.05,
            hot_threshold=500,
        ),
    )
}

# mention scanner of every timed run: the `predict` CLI default. The traced
# pass times the other one (tagger) as a side layer.
SCANNER = "udf"

# run_resumable protocol of the traced checkpoint pass: the input's
# conv-hash buckets split into this many only_buckets slices (one call
# each, as if the job crashed after every slice), then one call with
# nothing left to do.
RESUME_BUCKETS = 64
RESUME_SLICES = 2
