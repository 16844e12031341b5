"""One tokenizer, checked everywhere (hypothesis): text drawn over every
`str.isspace` character, gazetteer words and look-alike filler must tokenize
like Python `str.split()` in Spark (tokens_col, tokenize_with_offsets) and
DuckDB (sql_tokens), drop as blank exactly when it has no token, and give
identical mention rows from the Arrow scan (term-list and lexicon forms),
the distant-model tagger, the plain-Python oracle and the DuckDB mention
SQL — also for dense, overlapping multi-token hits at turn boundaries."""

from __future__ import annotations

import re

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cliner_spark import fixtures, oracle_py
from cliner_spark.entry_queries import DOC_TERMS, SQL_MENTION_SCAN
from cliner_spark.mentions import build_lexicon, scan_mentions_udf
from cliner_spark.tagger import make_distant_model, tag_mentions
from cliner_spark.tokenization import (
    WS_CLASS,
    drop_blank_turns,
    tokenize_with_offsets,
    tokens_col,
)

ISSPACE = [chr(c) for c in range(0x110000) if chr(c).isspace()]
# every code point a UTF-8 string can hold (no lone surrogates)
ALL_CHARS = "".join(chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF)

_WORDS = sorted({w for t in DOC_TERMS for w in t.split()})
_FILLER = ["the", "of", "x", "Scan", "HASH", "\u200b", "\ufeff", "scan\u200b", "a-b"]
_sparse = st.lists(
    st.one_of(st.sampled_from(ISSPACE), st.sampled_from(_WORDS + _FILLER)),
    max_size=14,
).map("".join)
# back-to-back multi-token hits and the overlaps between them ("sort merge
# join", "full table scan"), starting and ending on term words so that the
# n-grams across two adjacent turns of a batch would match if the scan let
# them
_dense = st.lists(
    st.sampled_from(DOC_TERMS + ["sort merge join", "Full Table Scan", "join", "sort"]),
    min_size=1,
    max_size=10,
).map(" ".join)
_texts = st.lists(st.one_of(_sparse, _dense), min_size=1, max_size=40)


def _as_python_regex(cls: str) -> str:
    return re.sub(r"\\x\{([0-9a-f]+)\}", lambda m: "\\U%08x" % int(m[1], 16), cls)


def test_ws_class_is_the_isspace_set(spark):
    assert len(ISSPACE) == 29
    py = re.compile(_as_python_regex(WS_CLASS))
    assert [c for c in ALL_CHARS if py.fullmatch(c)] == ISSPACE
    # the same text, read by each engine's own regex library
    want = "".join(c for c in ALL_CHARS if not c.isspace())
    got_duck = duckdb.execute(
        f"SELECT regexp_replace(?, '{WS_CLASS}', '', 'g')", [ALL_CHARS]
    ).fetchone()[0]
    assert got_duck == want
    df = spark.createDataFrame([(ALL_CHARS,)], "s string")
    got_spark = df.select(F.regexp_replace("s", WS_CLASS, "").alias("r")).first()["r"]
    assert got_spark == want


@settings(max_examples=12, deadline=None)
@given(_texts)
def test_one_tokenizer_one_scan(spark, texts):
    rows = [(str(i), 0, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")

    toks = {
        r["conv_id"]: (r["a"], r["b"]["tokens"], r["b"]["starts"])
        for r in df.select(
            "conv_id",
            tokens_col("text").alias("a"),
            tokenize_with_offsets("text").alias("b"),
        ).collect()
    }
    for cid, _turn, text in rows:
        a, b, starts = toks[cid]
        assert a == b == text.split()
        assert [text[s : s + len(t)] for s, t in zip(starts, b)] == b

    kept = {r["conv_id"] for r in drop_blank_turns(df).select("conv_id").collect()}
    assert kept == {cid for cid, _turn, text in rows if text.split()}

    want = {
        (cid, s, e, m)
        for cid, _turn, text in rows
        for (s, e, m) in oracle_py.scan_mentions(text, set(DOC_TERMS))
    }
    key = ("conv_id", "tok_start", "tok_end", "mention_text")
    udf = {tuple(r) for r in scan_mentions_udf(df, DOC_TERMS).select(*key).collect()}
    model = make_distant_model(fixtures.DOC_GAZETTEER)
    tagged = {tuple(r) for r in tag_mentions(df, model).select(*key).collect()}

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": [int(c) for c, _t, _x in rows], "text": texts}),
    )
    duck = {
        (str(d), s, e, m) for d, s, e, m in con.execute(SQL_MENTION_SCAN).fetchall()
    }
    assert udf == tagged == duck == want
    # the lexicon form of the same scan links each span to its best row
    links = oracle_py.best_links(fixtures.DOC_GAZETTEER)
    linked = scan_mentions_udf(df, build_lexicon(fixtures.DOC_GAZETTEER))
    assert {tuple(r) for r in linked.select(*key, "cui").collect()} == {
        (*k, links[k[3].lower()][0]) for k in want
    }
