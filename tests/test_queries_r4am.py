"""Independent-oracle replica tests for the scheduling/stat batch
(q_critical_path / q_cramer_von_mises): a recursive longest-path CPM
check with per-edge feasibility, and a Fractions CvM."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict
from fractions import Fraction
from functools import lru_cache

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_critical_path_matches_replica(spark):
    dur = {t: 1 + int(_md5(f"dur:{t}")[0], 16) for t in range(64)}
    edges = [
        (i, j)
        for i in range(64)
        for j in range(64)
        if j // 8 == i // 8 + 1 and _md5(f"e:{i}-{j}")[0] < "6"
    ]
    preds = defaultdict(list)
    for i, j in edges:
        preds[j].append(i)

    @lru_cache(maxsize=None)
    def es(t):
        return max((es(p) + dur[p] for p in preds[t]), default=0)

    got = {r["task"]: r for r in entry.queries()["q_critical_path"](spark, SF).collect()}
    assert set(got) == set(range(64))
    makespan = max(es(t) + dur[t] for t in range(64))
    for t in range(64):
        r = got[t]
        assert (r["layer"], r["dur"]) == (t // 8, dur[t])
        assert r["es"] == es(t), t
        assert r["ef"] == es(t) + dur[t]
        assert r["n_preds"] == len(preds[t])
        assert r["makespan"] == makespan
        assert r["on_critical_end"] == (1 if es(t) + dur[t] == makespan else 0)
        # feasibility: a task starts no earlier than every pred's finish
        for p in preds[t]:
            assert r["es"] >= got[p]["es"] + dur[p]
    # at least one critical end exists and it sits in some populated layer
    assert any(r["on_critical_end"] == 1 for r in got.values())


def test_cramer_von_mises_matches_replica(spark):
    rows = duckdb.sql(
        f"SELECT n_chars, lang = 'en' FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    a = sorted(x for x, en in rows if en)
    b = sorted(x for x, en in rows if not en)
    n1, n2 = len(a), len(b)
    vals = sorted(set(a) | set(b))
    import bisect

    t_num = 0
    ks = 0
    for v in vals:
        f1 = bisect.bisect_right(a, v)
        f2 = bisect.bisect_right(b, v)
        c1 = f1 - bisect.bisect_left(a, v)
        c2 = f2 - bisect.bisect_left(b, v)
        core = n2 * f1 - n1 * f2
        t_num += core * core * (c1 + c2)
        ks = max(ks, abs(core))
    r = entry.queries()["q_cramer_von_mises"](spark, SF).collect()
    assert len(r) == 1
    r = r[0]
    assert (r["n1"], r["n2"]) == (n1, n2)
    assert r["n_distinct_vals"] == len(vals)
    assert (r["t_num"], r["ks_num"]) == (t_num, ks)
    t = Fraction(t_num * n1 * n2, n1 * n1 * n2 * n2 * (n1 + n2) ** 2)
    assert math.isclose(r["t_stat"], float(t), abs_tol=2e-6)
    # CvM is a sum of squares: strictly positive when the samples differ
    assert r["t_num"] > 0
