"""Unit tests for round-2 batch 3: sliding windows, funnel, Adamic-Adar."""

from __future__ import annotations

import datetime as dt
import math

from cliner_spark.graph import adamic_adar
from cliner_spark.timeseries import funnel_conversion, sliding_window_counts


def _events(spark, rows):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    return spark.createDataFrame(
        [
            {
                "event_id": i,
                "user_id": u,
                "event_type": t,
                "ts": base + dt.timedelta(seconds=s),
            }
            for i, (u, t, s) in enumerate(rows)
        ]
    )


def test_sliding_window_event_in_three_windows(spark):
    ev = _events(spark, [(1, "view", 60 * 25)])  # 00:25
    got = sorted(
        (r["win_start"].minute, r["n"])
        for r in sliding_window_counts(ev, 30, 10).collect()
    )
    # windows [00:00,00:30) [00:10,00:40) [00:20,00:50) all contain 00:25
    assert got == [(0, 1), (10, 1), (20, 1)]


def test_funnel_depth_order_matters(spark):
    ev = _events(
        spark,
        [
            # user 1: full ordered funnel
            (1, "view", 0), (1, "click", 10), (1, "purchase", 20),
            # user 2: purchase BEFORE click -> depth 2
            (2, "view", 0), (2, "purchase", 5), (2, "click", 10),
            # user 3: click only (no view first) -> depth 0
            (3, "click", 0),
            # user 4: unrelated events -> depth 0
            (4, "error", 0),
            # user 5: view twice, click between -> depth 2 (first-touch view)
            (5, "view", 0), (5, "click", 5), (5, "view", 10),
        ],
    )
    got = {r["user_id"]: r["depth"] for r in funnel_conversion(ev).collect()}
    assert got == {1: 3, 2: 2, 3: 0, 4: 0, 5: 2}


def test_funnel_strictly_after(spark):
    # click at the SAME timestamp as first view does not count
    ev = _events(spark, [(1, "view", 0), (1, "click", 0)])
    got = {r["user_id"]: r["depth"] for r in funnel_conversion(ev).collect()}
    assert got == {1: 1}


def test_adamic_adar_path_graph(spark):
    # path a-b-c: only common-neighbor pair is (a, c) via b, deg(b)=2
    edges = spark.createDataFrame(
        [{"src": "a", "dst": "b"}, {"src": "b", "dst": "c"}]
    )
    got = adamic_adar(edges).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["src"], r["dst"], r["n_common"]) == ("a", "c", 1)
    assert r["score_fp"] == math.floor(1e6 / math.log(2))


def test_adamic_adar_star_hub_contributes_little(spark):
    # star: hub h connected to x1..x4 -> all pairs share h, deg(h)=4
    edges = spark.createDataFrame(
        [{"src": "h", "dst": f"x{i}"} for i in range(1, 5)]
    )
    got = adamic_adar(edges).collect()
    assert len(got) == 6  # C(4,2) pairs
    assert all(r["score_fp"] == math.floor(1e6 / math.log(4)) for r in got)


def test_semdedup_keeps_one_per_cluster(spark):
    import numpy as np

    from cliner_spark.dedup import semdedup_keep

    # two identical vectors (cosine 1.0) + one orthogonal
    v1 = [1.0] + [0.0] * 63
    v3 = [0.0, 1.0] + [0.0] * 62
    emb = spark.createDataFrame(
        [
            {"vec_id": 10, "embedding": v1},
            {"vec_id": 20, "embedding": v1},
            {"vec_id": 30, "embedding": v3},
        ]
    )
    got = {r["vec_id"]: r for r in semdedup_keep(emb, threshold=0.9).collect()}
    assert got[10]["keep"] and got[10]["cluster_id"] == 10
    assert not got[20]["keep"] and got[20]["cluster_id"] == 10
    assert got[30]["keep"] and got[30]["cluster_id"] == 30


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned triple sink layout: a conv-bucket filter must reach
    the scan as a PartitionFilter (directory pruning), not a data filter —
    at 10^12 turns this is the difference between touching 1/64 of the
    files and touching all of them."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "tri")
    df = spark.range(1000).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(8)).alias("bucket")
    )
    df.write.partitionBy("bucket").mode("overwrite").parquet(p)
    plan = (
        spark.read.parquet(p)
        .filter(F.col("bucket") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(bucket" in plan or "PartitionFilters: [" in plan
    # the partition predicate must NOT appear as a post-scan data Filter
    assert plan.index("PartitionFilters") >= 0
    got = spark.read.parquet(p).filter(F.col("bucket") == 3).count()
    assert got == 125


def test_cluster_rewrite_tightens_file_stats(spark, tmp_path):
    """After a cluster-by rewrite, per-file min/max ranges on the cluster
    key must be (near-)disjoint: average probe overlap drops from ~n_files
    (round-robin layout: every file spans the key space) to ~1."""
    import pyspark.sql.functions as F

    from cliner_spark.maintenance import cluster_rewrite, pruned_read

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    # round-robin write: every file gets keys from the whole range
    df = spark.range(4000).select(
        F.format_string("k%05d", F.col("id")).alias("k"), F.col("id").alias("v")
    )
    df.repartition(8).write.mode("overwrite").parquet(src)
    rep = cluster_rewrite(spark, src, dst, "k", n_files=8)
    assert rep["overlap_before"] > 4  # unclustered: most files cover any probe
    assert rep["overlap_after"] <= 2  # clustered: near-disjoint ranges
    # manifest pruning now actually skips files
    _, read, total = pruned_read(spark, dst, "k", "k00100", "k00200")
    assert total == rep["files"] and read <= 2
    # rewrite is lossless
    assert spark.read.parquet(dst).count() == 4000


def test_zorder_rewrite_tightens_both_dims(spark, tmp_path):
    """Z-order vs single-key clustering: sorting by `a` alone leaves every
    file spanning the whole `b` domain; the Morton rewrite must tighten BOTH
    dims' average per-file stat width."""
    import pyspark.sql.functions as F

    from cliner_spark.maintenance import cluster_rewrite, zorder_rewrite

    src = str(tmp_path / "src")
    one_d = str(tmp_path / "one_d")
    zed = str(tmp_path / "zed")
    # 64x64 grid, round-robin files: every file spans both domains
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
    )
    df.repartition(8).write.mode("overwrite").parquet(src)

    cluster_rewrite(spark, src, one_d, "a", n_files=8)
    rep = zorder_rewrite(spark, src, zed, "a", "b", n_files=8)

    def widths(path, col):
        from cliner_spark.maintenance import file_column_stats

        stats = [
            (float(r["min_val"]), float(r["max_val"]))
            for r in file_column_stats(spark, path, [col]).collect()
        ]
        lo = min(s for s, _ in stats)
        hi = max(e for _, e in stats)
        return sum((e - s) / (hi - lo) for s, e in stats) / len(stats)

    # single-key layout: second dim unclustered (every file ~spans b)
    assert widths(one_d, "b") > 0.9
    # z-order: both dims tight (each file owns a quadrant-ish region)
    assert rep["width_after"]["a"] < 0.6 and rep["width_after"]["b"] < 0.6
    assert rep["width_after"]["b"] < widths(one_d, "b") / 2
    # lossless
    assert spark.read.parquet(zed).count() == 4096


def test_morton_interleave_bit_exact(spark):
    """morton_col must equal the straight-line Python bit interleave."""
    import pyspark.sql.functions as F

    from cliner_spark.maintenance import morton_col

    def py_z(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    rows = [(a, b) for a in (0, 1, 5, 255, 1000, 65535) for b in (0, 3, 64, 40000)]
    df = spark.createDataFrame(rows, "a long, b long").select(
        "a", "b", morton_col(F.col("a"), F.col("b")).alias("z")
    )
    for r in df.collect():
        assert r.z == py_z(r.a, r.b), (r.a, r.b)


def test_snapshot_diff_classifies_and_drops_unchanged(spark):
    from cliner_spark.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "C!"), (4, "d")], "doc_id bigint, text string"
    )
    got = {r.doc_id: r.change_type for r in snapshot_diff(old, new, "doc_id", ["text"]).collect()}
    # 2 is unchanged and must not appear at all (delta-sized output)
    assert got == {1: "removed", 3: "changed", 4: "added"}


def test_snapshot_time_travel_and_expiry(spark, tmp_path):
    """Manifest-snapshot table mechanics (the in-repo stand-in for the
    north rule's Iceberg sink): append/overwrite versioning, AS-OF reads
    that ignore on-disk files the manifest doesn't reference, lineage log,
    and expiry that reclaims exactly the unreferenced files."""
    import os

    import pytest

    from cliner_spark.maintenance import (
        current_version,
        expire_snapshots,
        read_snapshot,
        snapshot_append,
        snapshot_log,
        snapshot_overwrite,
    )

    tbl = str(tmp_path / "tbl")
    d1 = spark.range(0, 10).withColumnRenamed("id", "k")
    d2 = spark.range(100, 105).withColumnRenamed("id", "k")
    d3 = spark.range(200, 203).withColumnRenamed("id", "k")

    assert snapshot_append(d1, tbl) == 1
    assert snapshot_overwrite(d2, tbl) == 2
    assert snapshot_append(d3, tbl) == 3
    assert current_version(tbl) == 3

    # AS-OF reads: v1 pre-overwrite rows are still reachable; CURRENT is
    # the overwrite base + the later append, NOT the v1 rows (even though
    # v1's files are still physically in data/)
    assert {r["k"] for r in read_snapshot(spark, tbl, 1).collect()} == set(range(10))
    assert {r["k"] for r in read_snapshot(spark, tbl, 2).collect()} == set(range(100, 105))
    assert {r["k"] for r in read_snapshot(spark, tbl).collect()} == set(
        range(100, 105)
    ) | set(range(200, 203))

    log = {r["version"]: (r["op"], r["parent"]) for r in snapshot_log(spark, tbl).collect()}
    assert log == {1: ("append", 0), 2: ("overwrite", 1), 3: ("append", 2)}

    # expiry: keep v2,v3 -> v1's exclusive files deleted, v1 read raises,
    # CURRENT and v2 still read exactly as before
    deleted = expire_snapshots(tbl, keep_last=2)
    assert deleted and all(f.startswith("data/batch-00001") for f in deleted)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, tbl, 1)
    assert {r["k"] for r in read_snapshot(spark, tbl, 2).collect()} == set(range(100, 105))
    assert current_version(tbl) == 3
    # no dangling parquet outside retained manifests
    on_disk = set()
    for root, _dirs, files in os.walk(os.path.join(tbl, "data")):
        for f in files:
            if f.endswith(".parquet"):
                on_disk.add(os.path.relpath(os.path.join(root, f), tbl))
    referenced = set()
    for v in (2, 3):
        from cliner_spark.maintenance import _read_manifest

        referenced.update(_read_manifest(tbl, v)["files"])
    assert on_disk == referenced


def test_publish_kg_gated_versioned_releases(spark, tmp_path):
    """End-to-end KG release workflow: publish v1, publish v2 with more
    conversations, diff the releases, then prove a poisoned release is
    rejected WITHOUT moving CURRENT (consumers still read v2)."""
    import pytest
    from pyspark.sql import functions as F

    from cliner_spark import fixtures
    from cliner_spark.maintenance import current_version, read_snapshot, snapshot_diff
    from cliner_spark.pipeline import run_pipeline
    from cliner_spark.triples import publish_kg

    tbl = str(tmp_path / "kg")
    rows = fixtures.gen_transcripts(n_convs=6, avg_turns=5, seed=7)
    df = fixtures.transcripts_df(spark, rows)
    gaz = fixtures.gazetteer_df(spark)
    cuis = gaz.select("cui")

    tri1 = run_pipeline(spark, df.filter(F.col("conv_id") < "conv00003"), gazetteer=gaz)["triples"]
    tri2 = run_pipeline(spark, df, gazetteer=gaz)["triples"]
    assert publish_kg(tri1, tbl, cuis) == 1
    assert publish_kg(tri2, tbl, cuis) == 2

    v1 = read_snapshot(spark, tbl, 1)
    v2 = read_snapshot(spark, tbl)
    k1 = {(r["subj"], r["pred"], r["obj"]) for r in v1.collect()}
    k2 = {(r["subj"], r["pred"], r["obj"]) for r in v2.collect()}
    assert k1 < k2  # release 2 strictly extends release 1

    def keyed(df):
        return df.withColumn(
            "kg_key", F.concat_ws("|", "subj", "pred", "obj")
        )

    diff = snapshot_diff(keyed(v1), keyed(v2), key="kg_key", cols=["conv_id"])
    added = {
        tuple(r["kg_key"].split("|"))
        for r in diff.filter(F.col("change_type") == "added").collect()
    }
    assert added == k2 - k1
    assert not {r["change_type"] for r in diff.collect()} - {"added", "changed"}

    # poisoned release: dangling concept -> gate raises, CURRENT stays 2
    poison = tri2.unionByName(
        spark.createDataFrame(
            [("conv:9", "MENTIONS", "concept:ZZZZ", "9", 0)], tri2.schema
        )
    )
    with pytest.raises(RuntimeError, match="integrity gate rejected"):
        publish_kg(poison, tbl, cuis)
    assert current_version(tbl) == 2
    assert {(r["subj"], r["pred"], r["obj"]) for r in read_snapshot(spark, tbl).collect()} == k2
