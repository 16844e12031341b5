"""Time-series operators over event streams: a banded temporal self-join,
sliding-window counts and ordered funnel conversion."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def banded_interval_join(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "error",
    band_minutes: int = 10,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Temporal band self-join: for every `right_type` event, the
    `left_type` events by the same key in the preceding `band_minutes`
    window ("errors preceded by a click within 10 minutes").

    A naive theta join `l.ts BETWEEN r.ts - band AND r.ts` has no equi key
    beyond user_id and degenerates into a per-key nested loop (fatal when
    one user has millions of events). The scale-safe decomposition buckets
    both sides by floor(ts / band) and joins on (key, bucket) twice — the
    right side against its own bucket AND the previous one — which covers
    every pair within the band with exactly two equi-joins (union before
    the final filter; any qualifying pair spans at most one bucket
    boundary). Catalyst turns both into shuffled hash joins on a composite
    key whose cardinality grows with time, so no key is ever hotter than
    one band's worth of one user's events.
    """
    band_sec = band_minutes * 60
    bucket = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(band_sec)).cast("long")
    l = events.filter(F.col("event_type") == left_type).select(
        F.col(key_col).alias("k"),
        F.col("event_id").alias("left_id"),
        F.col(ts_col).alias("left_ts"),
        bucket.alias("b"),
    )
    r = events.filter(F.col("event_type") == right_type).select(
        F.col(key_col).alias("k"),
        F.col("event_id").alias("right_id"),
        F.col(ts_col).alias("right_ts"),
        bucket.alias("b"),
    )
    same = r.join(l, ["k", "b"])
    prev = r.withColumn("b", F.col("b") - 1).join(l, ["k", "b"])
    pairs = same.unionByName(prev)
    keep = (F.col("left_ts") <= F.col("right_ts")) & (
        F.col("left_ts")
        >= F.col("right_ts") - F.expr(f"INTERVAL {band_sec} SECONDS")
    )
    # ts may be TIMESTAMP_NTZ (no direct long cast); unix_timestamp floors
    # to whole epoch seconds in the session zone, matching the oracle's
    # floor(epoch(ts))
    return pairs.filter(keep).select(
        F.col("k").alias(key_col),
        "left_id",
        "right_id",
        (
            F.unix_timestamp(F.col("right_ts"))
            - F.unix_timestamp(F.col("left_ts"))
        ).alias("lag_sec"),
    )


def sliding_window_counts(
    events: DataFrame,
    window_minutes: int = 30,
    slide_minutes: int = 10,
    group_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window event counts: per group, the count of events in each
    [start, start + window) window sliding every `slide` minutes — the
    overlap-window primitive a rate monitor / anomaly detector runs.

    Spark side uses the built-in F.window(ts, window, slide), which emits
    window/slide assignments inside the project stage (each event lands in
    window/slide = 3 windows here) followed by ONE aggregation — no
    self-join against a window dimension, no spine materialization. That
    per-row fan-out-then-aggregate is the scale-correct shape: output
    cardinality is groups x occupied windows regardless of input size.
    """
    w = F.window(
        F.col(ts_col), f"{window_minutes} minutes", f"{slide_minutes} minutes"
    )
    return (
        events.groupBy(F.col(group_col).alias("grp"), w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("grp").alias(group_col),
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "n",
        )
    )


def funnel_conversion(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel: per user, the deepest step index reached such that
    every earlier step occurred at a strictly earlier timestamp than the
    step after it (first-touch semantics: step k+1 must happen after the
    user's FIRST occurrence of step k). Returns (user, depth) with depth in
    [0, len(steps)] — 0 means the user never did step 1.

    Plan: first-touch funnels only need each step's earliest valid
    timestamp, never the full per-user event sequence — so the chain is
    |steps| conditional min-aggregations, each joining the (user-sized)
    previous-step table back into the step's event slice. Per-user state is
    ONE scalar per step; no collect_list, no window sort of the stream —
    the shape that survives a power user with millions of events. The
    per-step frontier tables are user-cardinality aggregates, so the joins
    shuffle step-slice events against user-keyed frontiers (AQE broadcasts
    them when small).
    """
    users = events.select(F.col(key_col).alias("k")).distinct()
    frontier = None  # (k, t_prev): users who reached the previous step
    depth_tables = []
    for i, s in enumerate(steps):
        sl = events.filter(F.col("event_type") == s).select(
            F.col(key_col).alias("k"), F.col(ts_col).alias("t")
        )
        if frontier is None:
            cur = sl.groupBy("k").agg(F.min("t").alias("t_prev"))
        else:
            cur = (
                sl.join(frontier, "k")
                .filter(F.col("t") > F.col("t_prev"))
                .groupBy("k")
                .agg(F.min("t").alias("t_prev"))
            )
        depth_tables.append(cur.select("k", F.lit(i + 1).alias("d")))
        frontier = cur
    reached = None
    for t in depth_tables:
        reached = t if reached is None else reached.unionByName(t)
    depth = reached.groupBy("k").agg(F.max("d").alias("depth"))
    return users.join(depth, "k", "left").select(
        F.col("k").alias(key_col),
        F.coalesce("depth", F.lit(0)).cast("int").alias("depth"),
    )
