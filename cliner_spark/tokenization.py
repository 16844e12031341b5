"""Tokenization (SURVEY.md P1–P3; reference: code/documents.py ~L90–120,
whitespace split, approx/unverified — SURVEY.md §0).

One definition of whitespace for the whole package: exactly the characters
for which Python's `str.isspace()` is true, i.e. what `str.split()` splits
on. `WS_CLASS` spells that set as one regex character class with `\\x{..}`
escapes, a text that Java regex (Spark) and RE2 (DuckDB) both accept
unchanged. Every tokenizer here and in the DuckDB oracle twins is built from
it:

  tokens_col   Spark expressions (whole-stage codegen, zero Python):
               array_remove(split(coalesce(text, ''), WS_CLASS), '')
  sql_tokens   the same split as a DuckDB SQL fragment
  tokenize_with_offsets
               pandas UDF adding char offsets for the i2b2 .con formatter

A turn is blank when it has no token (`drop_blank_turns`).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_WS_CHARS = (
    r"\x{9}-\x{d}\x{1c}-\x{20}\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
    r"\x{2028}-\x{2029}\x{202f}\x{205f}\x{3000}"
)
WS_CLASS = f"[{_WS_CHARS}]+"
# one leading or trailing whitespace run (regex trim; DuckDB needs the 'g' flag)
WS_TRIM = f"^{WS_CLASS}|{WS_CLASS}$"
_NON_WS = f"[^{_WS_CHARS}]"


def tokens_col(text_col: str | Column = "text") -> Column:
    """Whitespace tokens; null/blank text -> empty array (not [''])."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.array_remove(F.split(F.coalesce(c, F.lit("")), WS_CLASS), "")


def sql_tokens(text_sql: str = "text") -> str:
    """DuckDB twin of tokens_col over the SQL expression `text_sql`."""
    return (
        f"list_filter(string_split_regex(coalesce({text_sql}, ''), '{WS_CLASS}'), "
        "x -> x <> '')"
    )


def tokenize(df: DataFrame, text_col: str = "text", out_col: str = "tokens") -> DataFrame:
    return df.withColumn(out_col, tokens_col(text_col))


def drop_blank_turns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """P3 — reference skips blank lines (documents.py ~L70–80). Keeps the
    turns with at least one token (one non-whitespace character)."""
    return df.filter(F.col(text_col).rlike(_NON_WS))


_TOK_OFFSET_SCHEMA = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(T.StringType()), False),
        T.StructField("starts", T.ArrayType(T.IntegerType()), False),
    ]
)

# for str patterns \S is the complement of the str.isspace() set
_TOKEN_RE = re.compile(r"\S+")


@F.pandas_udf(_TOK_OFFSET_SCHEMA)
def tokenize_with_offsets(text: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized tokenizer returning char start offsets alongside
    tokens (needed only by the .con formatter; the hot path uses tokens_col).
    """
    toks_out, starts_out = [], []
    for s in text.fillna(""):
        ms = list(_TOKEN_RE.finditer(s))
        toks_out.append([m.group() for m in ms])
        starts_out.append([m.start() for m in ms])
    return pd.DataFrame({"tokens": toks_out, "starts": starts_out})
