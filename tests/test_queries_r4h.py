"""Independent-oracle property tests for the round-4s batch: python
replica of the exact Wasserstein-1 length distance (vs a transport-based
alternative formulation)."""

from __future__ import annotations

from collections import Counter

import duckdb

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _q(spark, name):
    return entry.queries()[name](spark, SF)


def test_wasserstein_matches_transport_replica(spark):
    rows = duckdb.sql(
        f"SELECT lang, n_chars FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    a = sorted(n for lang, n in rows if lang == "en")
    b = sorted(n for lang, n in rows if lang != "en")
    na, nb = len(a), len(b)
    # independent formulation: W1 between empirical CDFs = integral of
    # |F_a - F_b|, computed by sweeping the merged grid
    grid = sorted(set(a) | set(b))
    ca = Counter(a)
    cb = Counter(b)
    fa = fb = 0
    w1_num = 0
    ks_num = 0
    for i, v in enumerate(grid):
        fa += ca.get(v, 0)
        fb += cb.get(v, 0)
        gap = abs(fa * nb - fb * na)
        ks_num = max(ks_num, gap)
        if i + 1 < len(grid):
            w1_num += gap * (grid[i + 1] - v)
    r = _q(spark, "q_wasserstein_lengths").collect()[0].asDict()
    assert r["n_a"] == na and r["n_b"] == nb
    assert r["n_grid"] == len(grid)
    assert r["w1_num"] == w1_num
    assert r["w1_den"] == na * nb
    assert r["ks_num"] == ks_num
    # cross-check against the quantile-transport formulation when the
    # sample sizes allow an exact common refinement (always true):
    # W1 = (1/(na*nb)) * sum over the na*nb common-grid steps
    steps = []
    for x in a:
        steps.extend([x] * nb)
    for_b = []
    for x in b:
        for_b.extend([x] * na)
    steps.sort()
    for_b.sort()
    transport = sum(abs(x - y) for x, y in zip(steps, for_b))
    assert w1_num == transport
