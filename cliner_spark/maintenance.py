"""Table maintenance: small-file compaction (driver mandate — operational
path for the triple/checkpoint sinks).

A 10^12-turn pipeline writing per-partition incremental batches accumulates
small files; readers then pay per-file open cost and lose row-group-sized
scans. Compaction is metadata-planned (the file LISTING is dimension-sized
even when the data is 100 TB): deterministic first-fit bin packing by
cumulative size, then one rewrite job per bin.

At prod the rewrite would be Iceberg's rewrite_data_files; here the planner
is engine-agnostic and the executor rewrites parquet directories directly
(same jar-absence note as the Iceberg sink, tools/probe_iceberg.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    key_col: str = "path",
    size_col: str = "bytes",
    partition_col: str | None = None,
) -> DataFrame:
    """Assign each file to a compaction bin: files in deterministic key
    order are packed so every bin's START offset is a multiple of
    target_bytes of cumulative input (bin = floor(cum_before / target)).
    Bins therefore hold ~target_bytes each regardless of the input's
    small-file skew, and the assignment is a pure window expression — no
    driver loop, reproducible across engines.

    The un-partitioned window is intentional: a file listing is metadata
    (thousands of rows for a 100 TB table), not data. Pass partition_col to
    plan independently per table partition (window becomes
    partitionBy(partition_col) — parallel and safe at any partition count).
    """
    w = (
        Window.partitionBy(partition_col) if partition_col else Window.partitionBy()
    ).orderBy(key_col).rowsBetween(Window.unboundedPreceding, -1)
    cum_before = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    return files.withColumn(
        "bin", F.floor(cum_before / F.lit(int(target_bytes))).cast("int")
    )


def list_data_files(spark: SparkSession, path: str) -> DataFrame:
    """(path, bytes) listing of a directory's data files via the Hadoop
    FileSystem API (works on file://, hdfs://, s3a:// alike). Metadata-only:
    one driver-side RPC, no data read."""
    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    rows = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith("_") and not name.startswith("."):
            rows.append((st.getPath().toString(), int(st.getLen())))
    return spark.createDataFrame(rows or [], "path string, bytes bigint")


def file_column_stats(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """Manifest-style per-file column stats (min/max/null_count/rows) read
    from parquet FOOTERS only — the metadata Iceberg keeps in manifests,
    reconstructed for a raw parquet directory. Footer reads are a few KB per
    file regardless of data size, so building the stats table costs
    metadata I/O, not a table scan.

    Output: (path, column, min_val, max_val, null_count, num_rows) with
    values rendered as strings (mixed column types in one tall table).
    """
    import pyarrow.parquet as pq

    listing = [r["path"] for r in list_data_files(spark, path).collect()]
    rows = []
    for fpath in listing:
        local = fpath.removeprefix("file:")
        md = pq.read_metadata(local)
        agg: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                name = c.path_in_schema
                if name not in columns:
                    continue
                st = c.statistics
                ent = agg.setdefault(name, [None, None, 0])
                if st is not None and st.has_min_max:
                    ent[0] = st.min if ent[0] is None else min(ent[0], st.min)
                    ent[1] = st.max if ent[1] is None else max(ent[1], st.max)
                if st is not None and st.null_count is not None:
                    ent[2] += st.null_count
        for name, (mn, mx, nulls) in agg.items():
            rows.append(
                (
                    fpath,
                    name,
                    None if mn is None else str(mn),
                    None if mx is None else str(mx),
                    int(nulls),
                    int(md.num_rows),
                )
            )
    return spark.createDataFrame(
        rows or [],
        "path string, column string, min_val string, max_val string,"
        " null_count bigint, num_rows bigint",
    )


def pruned_read(
    spark: SparkSession, path: str, column: str, lo, hi
) -> tuple[DataFrame, int, int]:
    """Read only the files whose footer [min, max] range for `column`
    overlaps [lo, hi] — manifest pruning on raw parquet. Returns
    (dataframe filtered to the exact predicate, files_read, files_total).
    The caller's predicate is re-applied so the result is exact; the stats
    only decide which files to OPEN. NOTE: string-rendered stat comparison —
    use for string keys or zero-padded numerics.
    """
    stats = file_column_stats(spark, path, [column]).filter(F.col("column") == column)
    keep = [
        r["path"]
        for r in stats.collect()
        if r["min_val"] is not None
        and not (r["max_val"] < str(lo) or r["min_val"] > str(hi))
    ]
    total = stats.count()
    if not keep:
        empty = spark.read.parquet(path).filter(F.lit(False))
        return empty, 0, total
    df = spark.read.parquet(*keep).filter(F.col(column).between(lo, hi))
    return df, len(keep), total


def compact_parquet_dir(
    spark: SparkSession, src: str, dst: str, target_bytes: int
) -> int:
    """Rewrite the parquet files under src into dst with ~target_bytes
    files: plan bins from the listing, then one coalesce(1) write per bin
    (bin count is metadata-scale; each write is a distributed read of just
    that bin's files). Returns the number of bins written."""
    plan = compaction_plan(list_data_files(spark, src), target_bytes).collect()
    bins: dict[int, list[str]] = {}
    for r in plan:
        bins.setdefault(r["bin"], []).append(r["path"])
    for b, paths in sorted(bins.items()):
        spark.read.parquet(*paths).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(dst, f"bin={b}")
        )
    return len(bins)


def cluster_rewrite(
    spark: SparkSession,
    src: str,
    dst: str,
    cluster_col: str,
    n_files: int = 8,
) -> dict:
    """Cluster-by rewrite (the Z-ORDER/CLUSTER BY table maintenance verb for
    a single key): rewrite src's files range-partitioned and sorted on
    `cluster_col`, so every output file owns a contiguous, (near-)disjoint
    key range and manifest pruning (pruned_read / Iceberg min-max) can skip
    whole files for point/range predicates.

    repartitionByRange samples the key distribution to build balanced range
    bounds (one extra pass over the key column only), then
    sortWithinPartitions makes each file internally ordered — which also
    tightens per-ROW-GROUP stats, the sub-file pruning unit.

    Returns {files, overlap_before, overlap_after}: overlap = average number
    of files whose [min, max] stat range covers a probed key (1.0 = perfect
    clustering; = file count when every file spans the whole key space —
    the shape an unclustered insert-order layout degrades to).
    """
    def _avg_overlap(path: str) -> float:
        stats = [
            (r["min_val"], r["max_val"])
            for r in file_column_stats(spark, path, [cluster_col]).collect()
            if r["min_val"] is not None
        ]
        if not stats:
            return 0.0
        probes = sorted({s for s, _ in stats} | {e for _, e in stats})
        hits = sum(
            sum(1 for s, e in stats if s <= p <= e) for p in probes
        )
        return round(hits / len(probes), 3)

    before = _avg_overlap(src)
    df = spark.read.parquet(src)
    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(dst)
    )
    after = _avg_overlap(dst)
    n = list_data_files(spark, dst).count()
    return {"files": n, "overlap_before": before, "overlap_after": after}


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a table hash-BUCKETED on `bucket_col` (saveAsTable — bucket
    metadata lives in the catalog; the Iceberg equivalent is a bucket(N, col)
    partition transform). Bucketing pre-pays the shuffle ONCE at write time:
    any later equi-join or aggregation keyed on `bucket_col` between tables
    with the same bucketing reads co-located buckets and runs with ZERO
    Exchange in the physical plan — the difference between re-shuffling
    100 TB per join and never shuffling it again. `sort_cols` additionally
    orders rows inside each bucket file (turn-ordered transcripts read
    sequentially).

    Asserted in tests/test_plans.py: bucketed-bucketed join plan contains no
    Exchange and matches the plain-join result exactly.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


# ---------------------------------------------------------------------------
# Multi-dimensional clustering: Morton (Z-order) interleave
# ---------------------------------------------------------------------------

_SPREAD_ROUNDS = ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555))


def morton_col(a, b):
    """2-D Morton code of two 16-bit-bucketed keys: magic-number bit
    spreading (each round doubles the gap between occupied bits), as pure
    JVM bitwise expressions (shiftleft / bitwiseAND / bitwiseOR on longs),
    zero Python in the row path, fully codegen-able — at 100 TB the z-value
    costs the same as any arithmetic projection."""

    def spread(c):
        s = c.bitwiseAND(F.lit(65535))
        for sh, m in _SPREAD_ROUNDS:
            s = (s.bitwiseOR(F.shiftleft(s, sh))).bitwiseAND(F.lit(m))
        return s

    return spread(a).bitwiseOR(F.shiftleft(spread(b), 1))


def zorder_rewrite(
    spark: SparkSession,
    src: str,
    dst: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
) -> dict:
    """Z-ORDER rewrite: range-partition + sort the table by the Morton
    interleave of TWO keys, so per-file min/max stats are tight on BOTH
    dimensions at once — single-key clustering (cluster_rewrite) makes the
    second key's per-file range span the whole domain, and every predicate
    on it reads every file. This is the layout verb behind Iceberg/Delta
    `rewrite_data_files(strategy => 'sort', sort_order => 'zorder(a, b)')`.

    Returns per-dimension average normalized per-file stat width (0..1,
    lower = tighter pruning) before and after, from parquet footer stats
    only (file_column_stats) — the exact information a manifest-based
    planner uses to skip files.
    """

    def _avg_width(path: str, col: str) -> float:
        # footer stats come back stringified (mixed-type tall table);
        # z-order keys are numeric by contract
        stats = [
            (float(r["min_val"]), float(r["max_val"]))
            for r in file_column_stats(spark, path, [col]).collect()
            if r["min_val"] is not None
        ]
        if not stats:
            return 0.0
        lo = min(s for s, _ in stats)
        hi = max(e for _, e in stats)
        if hi == lo:
            return 0.0
        return round(
            sum((e - s) / (hi - lo) for s, e in stats) / len(stats), 4
        )

    before = {c: _avg_width(src, c) for c in (col_a, col_b)}
    df = spark.read.parquet(src)
    z = morton_col(
        F.col(col_a).cast("long"), F.col(col_b).cast("long")
    ).alias("_z")
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(dst)
    )
    after = {c: _avg_width(dst, c) for c in (col_a, col_b)}
    n = list_data_files(spark, dst).count()
    return {"files": n, "width_before": before, "width_after": after}


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """CDC between two table snapshots (the read side of Iceberg's
    changelog / MERGE INTO): full outer join on `key`, classify each key as
    added / removed / changed by comparing xxhash64 over `cols` (constant
    per-row work however wide the payload — at 100 TB you diff hashes, not
    documents). Unchanged keys are dropped before anything leaves the join,
    so output is delta-sized, not table-sized.
    """
    def fp(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(key).alias("k"), F.xxhash64(*cols).alias("h")
        )

    o, n = fp(old).alias("o"), fp(new).alias("n")
    j = o.join(n, F.col("o.k") == F.col("n.k"), "full_outer")
    return (
        j.select(
            F.coalesce(F.col("o.k"), F.col("n.k")).alias(key),
            F.when(F.col("o.k").isNull(), F.lit("added"))
            .when(F.col("n.k").isNull(), F.lit("removed"))
            .when(F.col("o.h") != F.col("n.h"), F.lit("changed"))
            .alias("change_type"),
        )
        .filter(F.col("change_type").isNotNull())
    )


# --------------------------------------------------------------------------
# Snapshot-manifest table layout: versioned reads (time travel), atomic-ish
# overwrite, and snapshot expiry over plain parquet — the Iceberg table
# mechanics (manifest lists + immutable data files + a CURRENT pointer)
# reimplemented at the north rule's request in a sandbox without the
# iceberg-spark-runtime jars (proof: tools/probe_iceberg.py). Prod swaps
# this for real Iceberg: snapshot_append -> append(), snapshot_overwrite ->
# overwritePartitions(), read_snapshot(v) -> VERSION AS OF, expire_snapshots
# -> expire_snapshots(); the semantics here mirror those contracts.
#
# Layout:
#   <path>/data/batch-<v>/part-*.parquet   immutable, append-only
#   <path>/snapshots/v<v>.json             {"version", "op", "files", "parent"}
#   <path>/snapshots/CURRENT               latest committed version number
#
# Commit protocol: data files are fully written BEFORE the manifest exists,
# and the manifest exists before CURRENT moves — a reader following CURRENT
# never sees a partial batch (single-writer; multi-writer needs the
# atomic-swap/optimistic-retry a real catalog provides).
# --------------------------------------------------------------------------


def _snap_dir(path: str) -> str:
    return os.path.join(path, "snapshots")


def _read_manifest(path: str, version: int) -> dict:
    import json

    mf = os.path.join(_snap_dir(path), f"v{version:05d}.json")
    if not os.path.exists(mf):
        raise FileNotFoundError(
            f"snapshot v{version} expired or never committed: {mf}"
        )
    with open(mf) as f:
        return json.load(f)


def current_version(path: str) -> int:
    cur = os.path.join(_snap_dir(path), "CURRENT")
    if not os.path.exists(cur):
        return 0
    with open(cur) as f:
        return int(f.read().strip())


def _commit_snapshot(df: DataFrame, path: str, op: str) -> int:
    import json

    v = current_version(path) + 1
    batch_dir = os.path.join(path, "data", f"batch-{v:05d}")
    df.write.parquet(batch_dir)
    new_files = sorted(
        os.path.join("data", f"batch-{v:05d}", f)
        for f in os.listdir(batch_dir)
        if f.endswith(".parquet")
    )
    files = new_files
    if op == "append" and v > 1:
        files = _read_manifest(path, v - 1)["files"] + new_files
    os.makedirs(_snap_dir(path), exist_ok=True)
    manifest = {"version": v, "op": op, "parent": v - 1, "files": files}
    with open(os.path.join(_snap_dir(path), f"v{v:05d}.json"), "w") as f:
        json.dump(manifest, f)
    with open(os.path.join(_snap_dir(path), "CURRENT"), "w") as f:
        f.write(str(v))
    return v


def snapshot_append(df: DataFrame, path: str) -> int:
    """Commit df as a new snapshot = parent's files + this batch's files."""
    return _commit_snapshot(df, path, "append")


def snapshot_overwrite(df: DataFrame, path: str) -> int:
    """Commit df as a full replacement snapshot (old files stay on disk for
    time travel until expire_snapshots reclaims them)."""
    return _commit_snapshot(df, path, "overwrite")


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the table AS OF a snapshot version (default: CURRENT). The file
    list comes from the manifest, never from directory listing — which is
    the whole point: overwritten/compacted files still on disk are
    invisible, and a 100 TB table's planning cost is one small JSON read."""
    v = version if version is not None else current_version(path)
    files = _read_manifest(path, v)["files"]
    if not files:
        raise ValueError(f"snapshot v{v} is empty")
    return spark.read.parquet(*[os.path.join(path, f) for f in files])


def snapshot_log(spark: SparkSession, path: str) -> DataFrame:
    """Lineage table over the retained manifests: (version, op, parent,
    n_files) — the metadata-side audit a resumable pipeline reads to decide
    where to restart."""
    rows = []
    sd = _snap_dir(path)
    for f in sorted(os.listdir(sd)):
        if f.startswith("v") and f.endswith(".json"):
            m = _read_manifest(path, int(f[1:6]))
            rows.append((m["version"], m["op"], m["parent"], len(m["files"])))
    return spark.createDataFrame(
        rows, "version int, op string, parent int, n_files int"
    )


def expire_snapshots(path: str, keep_last: int = 2) -> list[str]:
    """Drop all but the newest keep_last manifests and DELETE every data
    file no retained manifest references. Returns the deleted file paths.
    Mirrors Iceberg's expire_snapshots: time travel beyond the retention
    window stops working (read_snapshot raises), storage is reclaimed, and
    CURRENT is untouched."""
    cur = current_version(path)
    keep = set(range(max(1, cur - keep_last + 1), cur + 1))
    sd = _snap_dir(path)
    all_versions = sorted(
        int(f[1:6]) for f in os.listdir(sd) if f.startswith("v") and f.endswith(".json")
    )
    referenced: set[str] = set()
    for v in all_versions:
        if v in keep:
            referenced.update(_read_manifest(path, v)["files"])
    deleted: list[str] = []
    for v in all_versions:
        if v in keep:
            continue
        for rel in _read_manifest(path, v)["files"]:
            if rel not in referenced:
                ap = os.path.join(path, rel)
                if os.path.exists(ap):
                    os.remove(ap)
                    deleted.append(rel)
        os.remove(os.path.join(sd, f"v{v:05d}.json"))
    return sorted(set(deleted))
