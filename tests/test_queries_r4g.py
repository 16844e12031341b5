"""Independent-oracle property tests for the round-4r batch: python
replica of the consistent-hashing ring audit, plus the defining
consistent-hashing invariant (old shards never exchange keys)."""

from __future__ import annotations

import hashlib
from collections import Counter

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _q(spark, name):
    return entry.queries()[name](spark, SF)


def _ring(n):
    toks = []
    for s in range(n):
        for v in range(4):
            toks.append((hashlib.md5(f"shard:{s}:{v}".encode()).hexdigest(), s))
    return sorted(toks)


def _assign(ring, h):
    for tok, s in ring:
        if tok >= h:
            return s
    return ring[0][1]


def test_consistent_hashing_matches_replica(spark):
    docs = duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    r8, r9 = _ring(8), _ring(9)
    before, stay, moved, to_new = Counter(), Counter(), Counter(), Counter()
    for (d,) in docs:
        h = hashlib.md5(str(d).encode()).hexdigest()
        s8, s9 = _assign(r8, h), _assign(r9, h)
        before[s8] += 1
        if s9 == s8:
            stay[s8] += 1
        else:
            moved[s8] += 1
            # THE consistent-hashing property: every moved key moves to
            # the new shard, never between old shards
            assert s9 == 8, (d, s8, s9)
            to_new[s8] += 1
    got = {r["shard"]: r for r in (x.asDict() for x in _q(spark, "q_consistent_hashing").collect())}
    assert set(got) == set(before)
    total_moved = sum(moved.values())
    for s, r in got.items():
        assert r["n_before"] == before[s]
        assert r["n_stay"] == stay.get(s, 0)
        assert r["n_moved"] == moved.get(s, 0)
        assert r["n_to_new_shard"] == to_new.get(s, 0)
        assert r["n_moved"] == r["n_to_new_shard"]
        assert r["total_moved"] == total_moved
    # roughly 1/9 of keys move (generous band for a small fixture)
    assert 0 < total_moved < len(docs) // 2
