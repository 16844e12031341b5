"""Entry contract: queries() and oracle_sql() cover exactly the registry,
and the KG-construction core leads their order."""

from __future__ import annotations

import re

import __spark_entry__ as entry
from cliner_spark import entry_queries as EQ


def test_query_order_covers_registry_kg_core_first():
    names = list(entry.queries())
    assert names == list(entry.oracle_sql())
    assert sorted(names) == sorted(EQ.REGISTRY)
    assert EQ.KG_CORE[0] == EQ.ENTRY_QUERY
    assert names[: len(EQ.KG_CORE)] == EQ.KG_CORE
    assert names[len(EQ.KG_CORE):] == [
        n for n in EQ.REGISTRY if n not in EQ.KG_CORE
    ]


def test_no_oracle_reads_tpch_or_events():
    """The registry serves the transcript KG: no oracle reads the TPC-H
    tables or the `events` stream, only `documents` and `embeddings`."""
    word = re.compile(
        r"\b(events|lineitem|orders|customer|supplier|part|nation|region)\b"
    )
    hits = {n: sorted(set(word.findall(s))) for n, s in entry.oracle_sql().items()}
    assert {n: t for n, t in hits.items() if t} == {}
