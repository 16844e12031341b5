"""Python UDTFs (user-defined table functions, Spark 4 `pyspark.sql.functions.udtf`).

The Python-extension surface next to the pandas UDFs (tagger/scan): one input
row → many output rows, usable from SQL via LATERAL or with a whole TABLE(...)
argument.

Two table functions (``sentence_split`` has an exact DuckDB oracle twin,
q_udtf_sentences):

- ``sentence_split`` — LATERAL form: one document row → one row per
  sentence (split on [.!?]+ runs, blank pieces dropped, whitespace-trimmed),
  then pieces longer than MAX_SENT_TOKENS are re-chunked into consecutive
  MAX_SENT_TOKENS-token windows. The reference's line-based sentence model
  (SURVEY.md D2) generalized to free text, with the max-length fallback every
  sequence tagger needs to bound Viterbi sequence length on unpunctuated
  input (exactly the shape of the synthetic corpus).

- ``sessionize_events`` — TABLE-argument form with PARTITION BY/ORDER BY:
  consumes each user's event stream in timestamp order and emits one row per
  gap-delimited session (gaps-and-islands as a table function): a new
  session starts at a user's first event and at every event more than
  SESSION_GAP_SEC after the previous one.

Scale notes: a UDTF runs Python per input row, so neither belongs on the
token-grain hot path (that stays in the Arrow-vectorized mapInPandas tagger);
both are row-bounded — sentence_split emits O(sentences/doc) and the
sessionizer holds only one user's partition (PARTITION BY routes each user to
exactly one consumer, the same contract applyInPandasWithState relies on).
Both are registered with ``useArrow=True`` so row transfer is Arrow-batched.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import udtf

_SENT_RE = re.compile(r"[.!?]+")
SESSION_GAP_SEC = 1800  # 30 min; a gap of exactly this length stays in the session
MAX_SENT_TOKENS = 12  # re-chunk window for unpunctuated pieces


@udtf(returnType="sent_idx int, sentence string", useArrow=True)
class SentenceSplit:
    """text -> (sent_idx, sentence); punctuation pieces trimmed, blanks
    dropped, long pieces re-chunked into MAX_SENT_TOKENS-token windows."""

    def eval(self, text: str):
        i = 0
        for piece in _SENT_RE.split(text or ""):
            piece = piece.strip()  # the DuckDB twin trims with tokenization.WS_TRIM
            if not piece:
                continue
            toks = piece.split()
            for s in range(0, len(toks), MAX_SENT_TOKENS):
                yield i, " ".join(toks[s : s + MAX_SENT_TOKENS])
                i += 1


@udtf(
    returnType=(
        "user_id string, session_id int, n_events int, "
        "start_ts timestamp, end_ts timestamp"
    ),
    useArrow=True,
)
class SessionizeEvents:
    """TABLE(events) PARTITION BY user_id ORDER BY ts -> session summaries.

    A new session starts when the gap to the previous event exceeds
    SESSION_GAP_SEC. Rows arrive in ORDER BY ts order within the partition
    (Spark sorts the partition before feeding the UDTF), so the scan is a
    single O(n) pass holding O(1) state — no buffering of the partition.
    """

    def __init__(self) -> None:
        self._user = None
        self._sid = -1
        self._n = 0
        self._start = None
        self._last = None

    def _flush(self):
        if self._n:
            yield (self._user, self._sid, self._n, self._start, self._last)

    def eval(self, row):
        ts = row.ts
        if self._last is None:
            self._user, self._sid, self._n = row.user_id, 0, 1
            self._start = self._last = ts
            return
        if (ts - self._last).total_seconds() > SESSION_GAP_SEC:
            yield from self._flush()
            self._sid += 1
            self._n = 1
            self._start = ts
        else:
            self._n += 1
        self._last = ts

    def terminate(self):
        yield from self._flush()


def register_udtfs(spark: SparkSession) -> None:
    """Idempotent registration under stable SQL names."""
    spark.udtf.register("sentence_split", SentenceSplit)
    spark.udtf.register("sessionize_events", SessionizeEvents)


def split_sentences(docs: DataFrame) -> DataFrame:
    """LATERAL sentence_split over a documents frame -> (doc_id, sent_idx, sentence)."""
    spark = docs.sparkSession
    register_udtfs(spark)
    docs.createOrReplaceTempView("_udtf_docs_in")
    return spark.sql(
        "SELECT d.doc_id, s.sent_idx, s.sentence "
        "FROM _udtf_docs_in d, LATERAL sentence_split(d.text) s"
    )


def sessionize(events: DataFrame) -> DataFrame:
    """TABLE-argument sessionizer -> one row per (user_id, session_id)."""
    spark = events.sparkSession
    register_udtfs(spark)
    events.createOrReplaceTempView("_udtf_events_in")
    return spark.sql(
        "SELECT s.* FROM sessionize_events("
        "TABLE(_udtf_events_in) PARTITION BY user_id ORDER BY ts) s"
    )
