"""Structured Streaming parity + .con format roundtrip (S2/S4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cliner_spark import fixtures, streaming
from cliner_spark.con_format import format_con_lines, parse_con_lines
from cliner_spark.link import link_mentions
from cliner_spark.mentions import scan_mentions_udf


def _linked(spark, rows):
    df = fixtures.transcripts_df(spark, rows)
    terms = sorted({t for (t, *_r) in fixtures.CLINICAL_GAZETTEER})
    m = scan_mentions_udf(df, terms)
    return link_mentions(m, fixtures.gazetteer_df(spark))


def test_con_roundtrip(spark):
    rows = fixtures.gen_transcripts(n_convs=8, avg_turns=5, seed=13)
    linked = _linked(spark, rows)
    con = format_con_lines(linked)
    back = parse_con_lines(con.select("conv_id", "con_line"))
    want = {
        (r["conv_id"], r["turn_idx"], r["tok_start"], r["tok_end"],
         r["mention_text"].lower(), r["concept_type"])
        for r in linked.collect()
    }
    got = {
        (r["conv_id"], r["turn_idx"], r["tok_start"], r["tok_end"],
         r["mention_text"], r["concept_type"])
        for r in back.collect()
    }
    assert got == want and len(want) > 30


def test_parse_con_drops_malformed(spark):
    bad = spark.createDataFrame(
        [
            ("c1", 'c="ok span" 1:0 1:1||t="problem"'),
            ("c1", 'c="cross line" 1:0 2:1||t="problem"'),  # crosses lines
            ("c1", "not a con line"),
            ("c1", 'c="bad offsets" x:y z:w||t="test"'),
        ],
        ["conv_id", "con_line"],
    )
    got = parse_con_lines(bad).collect()
    assert len(got) == 1
    assert got[0]["mention_text"] == "ok span" and got[0]["turn_idx"] == 0


def test_streaming_matches_batch(spark, tmp_path):
    rows = fixtures.gen_transcripts(n_convs=10, avg_turns=5, seed=21)
    df = fixtures.transcripts_df(spark, rows)
    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    # two "arrival batches" as separate files
    df.filter(F.col("conv_id") < "conv00005").coalesce(1).write.parquet(in_dir)
    df.filter(F.col("conv_id") >= "conv00005").coalesce(1).write.mode("append").parquet(in_dir)

    gaz = fixtures.gazetteer_df(spark)
    streaming.run_stream_once(spark, in_dir, out_dir, ck, gaz)

    got = {
        (r["conv_id"], r["turn_idx"], r["tok_start"], r["tok_end"], r["cui"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"], r["tok_start"], r["tok_end"], r["cui"])
        for r in _linked(spark, rows).collect()
    }
    assert got == want and len(want) > 50

    # incremental restart with new data processes only the delta (exactly-once)
    extra = fixtures.gen_transcripts(n_convs=3, avg_turns=4, seed=77)
    for r in extra:
        r["conv_id"] = "zz_" + r["conv_id"]
    fixtures.transcripts_df(spark, extra).coalesce(1).write.mode("append").parquet(in_dir)
    streaming.run_stream_once(spark, in_dir, out_dir, ck, gaz)
    got2 = {
        (r["conv_id"], r["turn_idx"], r["tok_start"], r["tok_end"], r["cui"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want2 = want | {
        (r["conv_id"], r["turn_idx"], r["tok_start"], r["tok_end"], r["cui"])
        for r in _linked(spark, extra).collect()
    }
    assert got2 == want2 and len(want2) > len(want)


def test_stateful_conv_progress_accumulates_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-conversation running totals must carry
    state across a stream restart (incremental drain #2 sees #1's counts)."""
    rows = fixtures.gen_transcripts(n_convs=5, avg_turns=6, seed=41)
    df = fixtures.transcripts_df(spark, rows)
    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    first = df.filter(F.col("turn_idx") < 3)
    second = df.filter(F.col("turn_idx") >= 3)
    first.coalesce(1).write.parquet(in_dir)

    gaz = fixtures.gazetteer_df(spark)
    streaming.run_stateful_once(spark, in_dir, out_dir, ck, gaz)
    second.coalesce(1).write.mode("append").parquet(in_dir)
    streaming.run_stateful_once(spark, in_dir, out_dir, ck, gaz)

    # latest emitted row per conversation = cumulative totals == batch truth
    out = spark.read.parquet(out_dir)
    latest = {
        r["conv_id"]: r
        for r in out.orderBy("n_mentions").collect()  # last wins per conv
    }
    truth = (
        _linked(spark, rows)
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.countDistinct("cui").alias("n_cuis"),
            F.max("turn_idx").alias("max_turn"),
        )
        .collect()
    )
    assert len(truth) > 2
    for t in truth:
        got = latest[t["conv_id"]]
        assert got["n_mentions"] == t["n_mentions"], (t["conv_id"], got)
        assert got["n_cuis"] == t["n_cuis"]
        # max_turn only reflects turns that contained mentions
        assert got["max_turn"] <= t["max_turn"]


def test_streaming_windowed_counts(spark, tmp_path):
    rows = fixtures.gen_transcripts(n_convs=6, avg_turns=5, seed=31)
    df = fixtures.transcripts_df(spark, rows)
    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    df.coalesce(1).write.parquet(in_dir)
    gaz = fixtures.gazetteer_df(spark)
    streaming.run_stream_once(spark, in_dir, out_dir, ck, gaz, windowed=True)
    out = spark.read.parquet(out_dir)
    assert {"window_start", "window_end", "cui", "n_mentions"} <= set(out.columns)
    # append-mode file sink only emits windows finalized by the watermark;
    # rows may be few but schema and non-negativity must hold
    assert out.filter(F.col("n_mentions") <= 0).count() == 0


def test_streaming_triples_match_batch(spark, tmp_path):
    """foreachBatch triple sink == batch pipeline triples on the same input,
    including assertion-refined predicates."""
    from cliner_spark.pipeline import run_pipeline

    rows = fixtures.gen_transcripts(n_convs=8, avg_turns=5, seed=33)
    # plant an explicit negation so NEGATED_IN appears deterministically
    rows[0]["text"] = "patient denies heart attack today"
    df = fixtures.transcripts_df(spark, rows)
    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    df.filter(F.col("conv_id") < "conv00004").coalesce(1).write.parquet(in_dir)
    df.filter(F.col("conv_id") >= "conv00004").coalesce(1).write.mode("append").parquet(in_dir)

    gaz = fixtures.gazetteer_df(spark)
    streaming.run_stream_triples(spark, in_dir, out_dir, ck, gaz, assertions=True)

    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["subj"], r["pred"], r["obj"])
        for r in run_pipeline(spark, df, gazetteer=gaz, assertions=True)["triples"].collect()
    }
    assert got == want and len(want) > 50
    assert any(p == "NEGATED_IN" for (_, p, _o) in got)


def test_dedup_stream_drops_redelivered_turns(spark, tmp_path):
    rows = fixtures.gen_transcripts(n_convs=5, avg_turns=4, seed=11)
    df = fixtures.transcripts_df(spark, rows)
    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    # at-least-once upstream: the same rows land twice as separate files
    df.coalesce(1).write.parquet(in_dir)
    df.coalesce(1).write.mode("append").parquet(in_dir)

    stream = streaming.read_transcript_stream(spark, in_dir)
    q = (
        streaming.dedup_stream(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = spark.read.parquet(out_dir)
    assert out.count() == len(rows)  # every turn exactly once
    assert out.select("conv_id", "turn_idx").distinct().count() == len(rows)


def test_streaming_dedup_gate_blocks_redelivered_near_dup_batch(spark, tmp_path):
    """dedup_gate=True (round-3 verdict item 7): a redelivered batch —
    identical turns plus a lightly-edited near-duplicate under a NEW
    conv_id — must add ZERO triples and ZERO index rows; a genuinely new
    conversation afterwards must still flow through (positive control)."""
    import copy
    import datetime as _dt

    rows = fixtures.gen_transcripts(n_convs=4, avg_turns=4, seed=7)
    rows[0]["text"] = (
        "patient reports severe chest pain and shortness of breath "
        "after the morning exercise session at the clinic"
    )
    df = fixtures.transcripts_df(spark, rows)
    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    gaz = fixtures.gazetteer_df(spark)
    df.coalesce(1).write.parquet(in_dir)
    streaming.run_stream_triples(spark, in_dir, out_dir, ck, gaz, dedup_gate=True)
    tri1 = spark.read.parquet(out_dir).count()
    ing1 = spark.read.parquet(out_dir + "_ingested").count()
    assert tri1 > 0 and ing1 == len(rows)

    # redelivery: the SAME rows again (exact dups by fingerprint) plus a
    # near-dup of the long turn — one word appended, new conv_id (so only
    # MinHash band agreement can catch it, not the key)
    near = copy.deepcopy(rows[0])
    near["conv_id"] = "convZZZZZ"
    near["turn_idx"] = 0
    near["text"] = rows[0]["text"] + " indeed"
    fixtures.transcripts_df(spark, rows + [near]).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    streaming.run_stream_triples(spark, in_dir, out_dir, ck, gaz, dedup_gate=True)
    assert spark.read.parquet(out_dir).count() == tri1
    assert spark.read.parquet(out_dir + "_ingested").count() == ing1

    # positive control: genuinely new content still ingests
    fresh = [
        {
            "conv_id": "convNEW00",
            "turn_idx": 0,
            "role": "user",
            "text": "completely novel discussion of quarterly gardening "
            "schedules with blood test tomorrow",
            "tool": None,
            "ts": rows[0]["ts"] + _dt.timedelta(days=1),
        }
    ]
    fixtures.transcripts_df(spark, fresh).coalesce(1).write.mode("append").parquet(
        in_dir
    )
    streaming.run_stream_triples(spark, in_dir, out_dir, ck, gaz, dedup_gate=True)
    assert spark.read.parquet(out_dir + "_ingested").count() == ing1 + 1
    assert spark.read.parquet(out_dir).count() > tri1


def test_streaming_merge_dedups_cross_batch_edges(spark, tmp_path):
    """merge=True: conversations SPAN micro-batches (split by turn parity),
    yet the sink holds exactly one row per (subj, pred, obj) and the key
    set equals the single-shot batch build — the streaming form of
    triples.incremental_new_triples."""
    from cliner_spark.pipeline import run_pipeline

    rows = fixtures.gen_transcripts(n_convs=6, avg_turns=6, seed=77)
    df = fixtures.transcripts_df(spark, rows)
    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    # every conv contributes turns to BOTH files -> aggregate-grain edges
    # (MENTIONS, SAME_AS) would duplicate across batches without merge
    df.filter(F.col("turn_idx") % 2 == 0).coalesce(1).write.parquet(in_dir)
    df.filter(F.col("turn_idx") % 2 == 1).coalesce(1).write.mode("append").parquet(in_dir)

    gaz = fixtures.gazetteer_df(spark)
    streaming.run_stream_triples(
        spark, in_dir, out_dir, ck, gaz, merge=True, max_files=1
    )

    sink = spark.read.parquet(out_dir).collect()
    keys = [(r["subj"], r["pred"], r["obj"]) for r in sink]
    assert len(keys) == len(set(keys)), "duplicate (subj,pred,obj) in merged sink"
    want = {
        (r["subj"], r["pred"], r["obj"])
        for r in run_pipeline(spark, df, gazetteer=gaz)["triples"].collect()
    }
    assert set(keys) == want and len(want) > 50


def test_streaming_merge_is_idempotent_under_replay(spark, tmp_path):
    """Crash-recovery redelivery: re-running the stream over the SAME input
    with a fresh checkpoint (the worst case — all source files redelivered)
    must leave the merge=True sink unchanged: the per-batch anti-join
    against sink keys makes the append idempotent, i.e. exactly-once
    per (subj, pred, obj) end to end."""
    rows = fixtures.gen_transcripts(n_convs=4, avg_turns=5, seed=91)
    df = fixtures.transcripts_df(spark, rows)
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    df.coalesce(1).write.parquet(in_dir)
    gaz = fixtures.gazetteer_df(spark)

    streaming.run_stream_triples(
        spark, in_dir, out_dir, str(tmp_path / "ck1"), gaz, merge=True, max_files=1
    )
    first = sorted(
        (r["subj"], r["pred"], r["obj"], r["conv_id"], r["turn_idx"])
        for r in spark.read.parquet(out_dir).collect()
    )
    assert len(first) > 20

    # redeliver everything (fresh checkpoint -> source replays all files)
    streaming.run_stream_triples(
        spark, in_dir, out_dir, str(tmp_path / "ck2"), gaz, merge=True, max_files=1
    )
    second = sorted(
        (r["subj"], r["pred"], r["obj"], r["conv_id"], r["turn_idx"])
        for r in spark.read.parquet(out_dir).collect()
    )
    assert second == first


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (watermarked, state-evicting) must emit
    exactly the pairs the batch theta join produces over the same two
    inputs once both streams are drained."""
    left_rows = fixtures.gen_transcripts(n_convs=6, avg_turns=4, seed=31)
    right_rows = fixtures.gen_transcripts(n_convs=6, avg_turns=4, seed=32)
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    fixtures.transcripts_df(spark, left_rows).coalesce(1).write.parquet(ldir)
    fixtures.transcripts_df(spark, right_rows).coalesce(1).write.parquet(rdir)

    gaz = fixtures.gazetteer_df(spark)
    streaming.run_stream_pairs_once(spark, ldir, rdir, out, ck, gaz, band_minutes=10)
    got = {
        (r["conv_id"], r["left_cui"], r["right_cui"], r["left_turn"],
         r["right_turn"], r["lag_sec"])
        for r in spark.read.parquet(out).collect()
    }

    def _with_ts(rows):
        ts = fixtures.transcripts_df(spark, rows).select("conv_id", "turn_idx", "ts")
        return _linked(spark, rows).join(ts, ["conv_id", "turn_idx"])

    l = _with_ts(left_rows).select(
        "conv_id", F.col("cui").alias("left_cui"),
        F.col("turn_idx").alias("left_turn"), F.col("ts").alias("left_ts"),
    )
    r = _with_ts(right_rows).select(
        F.col("conv_id").alias("rc"), F.col("cui").alias("right_cui"),
        F.col("turn_idx").alias("right_turn"), F.col("ts").alias("right_ts"),
    )
    want = {
        (x["conv_id"], x["left_cui"], x["right_cui"], x["left_turn"],
         x["right_turn"], x["lag_sec"])
        for x in l.join(
            r,
            (F.col("conv_id") == F.col("rc"))
            & (F.col("right_ts") >= F.col("left_ts"))
            & (F.col("right_ts") <= F.col("left_ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .select(
            "conv_id", "left_cui", "right_cui", "left_turn", "right_turn",
            (F.unix_timestamp("right_ts") - F.unix_timestamp("left_ts")).alias("lag_sec"),
        )
        .collect()
    }
    assert got == want and len(want) > 0


def test_session_windows_close_on_event_time_timeout(spark, tmp_path):
    """Event-time session windows: sessions stay OPEN in the state store
    while turns keep arriving, and close (emit exactly one row) only when a
    later drain's watermark passes last_ts + gap. Three drains: (1) convs
    A+B arrive, (2) a much-later turn advances the watermark source data,
    (3) the watermark from drain 2 fires A's and B's timeouts."""
    import datetime as dt

    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )

    def tx(rows):
        return spark.createDataFrame(
            [
                (c, i, "user", f"turn {i}", "none", t)
                for (c, i, t) in rows
            ],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )

    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    tx([("A", 0, m(0)), ("A", 1, m(2)), ("B", 0, m(1))]).coalesce(1).write.parquet(in_dir)
    streaming.run_sessions_once(spark, in_dir, out_dir, ck, gap_minutes=5)

    tx([("C", 0, m(60))]).coalesce(1).write.mode("append").parquet(in_dir)
    streaming.run_sessions_once(spark, in_dir, out_dir, ck, gap_minutes=5)

    tx([("D", 0, m(90))]).coalesce(1).write.mode("append").parquet(in_dir)
    streaming.run_sessions_once(spark, in_dir, out_dir, ck, gap_minutes=5)

    out = {r["conv_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert "A" in out and "B" in out, sorted(out)
    assert out["A"]["n_turns"] == 2
    assert out["A"]["session_start"] == m(0) and out["A"]["session_end"] == m(2)
    assert out["B"]["n_turns"] == 1
    # C's timeout (65min) is past the last watermark (90min)? 90 > 65 -> C
    # may close in drain 3; D is certainly still open (no later data).
    assert "D" not in out


def test_watermark_drops_late_data_and_reports_metric(spark, tmp_path):
    """Late events arriving AFTER the checkpointed watermark has passed them
    are dropped by the windowed aggregation, and the drop is visible in the
    query progress (numRowsDroppedByWatermark) — the operational counter
    that distinguishes 'window closed' from 'data silently lost'."""
    import datetime as dt

    in_dir, out_dir, ck = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck"),
    )
    gaz = fixtures.gazetteer_df(spark)
    terms = sorted({t for (t, *_r) in fixtures.CLINICAL_GAZETTEER})[:3]
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def tx(conv, ts, term):
        return {
            "conv_id": conv, "turn_idx": 0, "role": "user",
            "text": f"patient has {term} today", "tool": None, "ts": ts,
        }

    # batch 1: events at noon + 2h -> watermark advances to ~13:50
    fixtures.transcripts_df(
        spark,
        [tx(f"a{i}", base + dt.timedelta(hours=2), terms[0]) for i in range(4)],
    ).coalesce(1).write.parquet(in_dir)
    m1 = streaming.run_stream_once_with_drop_metrics(spark, in_dir, out_dir, ck, gaz)
    assert m1["dropped_by_watermark"] == 0

    # batch 2 (restart from checkpoint): events at noon — 2h LATE, far below
    # the persisted watermark -> dropped, counted. One event per DISTINCT
    # concept: the counter tallies state-operator INPUT rows, i.e. after the
    # map-side partial aggregation, so same-key events collapse first.
    fixtures.transcripts_df(
        spark, [tx(f"b{i}", base, t) for i, t in enumerate(terms)]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    m2 = streaming.run_stream_once_with_drop_metrics(spark, in_dir, out_dir, ck, gaz)
    assert m2["dropped_by_watermark"] == 3

    # and the late rows never reach the sink: no window at noon
    wins = {r["window_start"] for r in spark.read.parquet(out_dir).collect()}
    assert all(w >= base + dt.timedelta(hours=1) for w in wins)


def test_transform_with_state_first_seen_exactly_once(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 typed-state API): incremental
    first-seen discovery emits each (conv_id, cui) exactly once across a
    checkpointed restart, and first_turn matches the batch ground truth —
    including for concepts whose first appearance was in drain #1."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithStateInPandas needs protobuf for its state "
        "server protocol; absent in this container (tools/probe_tws.py)",
    )
    rows = fixtures.gen_transcripts(n_convs=5, avg_turns=6, seed=43)
    df = fixtures.transcripts_df(spark, rows)
    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    first = df.filter(F.col("turn_idx") < 3)
    second = df.filter(F.col("turn_idx") >= 3)
    first.coalesce(1).write.parquet(in_dir)

    gaz = fixtures.gazetteer_df(spark)
    streaming.run_first_seen_once(spark, in_dir, out_dir, ck, gaz)
    # redeliver-safe: append turns >= 3 (some repeat cuis already emitted)
    second.coalesce(1).write.mode("append").parquet(in_dir)
    streaming.run_first_seen_once(spark, in_dir, out_dir, ck, gaz)

    out = spark.read.parquet(out_dir)
    # exactly once: no (conv_id, cui) appears twice across the two drains
    assert out.count() == out.select("conv_id", "cui").distinct().count()

    truth = {
        (r["conv_id"], r["cui"]): r["first_turn"]
        for r in _linked(spark, rows)
        .groupBy("conv_id", "cui")
        .agg(F.min("turn_idx").alias("first_turn"))
        .collect()
    }
    got = {(r["conv_id"], r["cui"]): r["first_turn"] for r in out.collect()}
    assert len(truth) > 5
    assert got == truth


def test_audit_triples_counts_violations(spark):
    """Unit: the gate's check set fires on hand-built corruption — one
    dangling concept obj, one SAME_AS self-loop, one duplicated key — and
    is all-zero on the same frame with the corruption removed."""
    from cliner_spark.triples import audit_triples

    good = [
        ("conv:1", "MENTIONS", "concept:C0001", "1", 0),
        ("conv:1", "ASSERTED_IN", "turn:1#0", "1", 0),
    ]
    bad = good + [
        ("conv:2", "MENTIONS", "concept:ZZZZ", "2", 0),      # dangling
        ("concept:C0001", "SAME_AS", "concept:C0001", "2", 0),  # self-loop
        ("conv:1", "MENTIONS", "concept:C0001", "1", 1),     # dup key
    ]
    schema = "subj string, pred string, obj string, conv_id string, turn_idx int"
    cuis = spark.createDataFrame([("C0001",)], "cui string")
    got_bad = audit_triples(spark.createDataFrame(bad, schema), cuis)
    assert got_bad == {
        "dangling_concept_obj": 1,
        "same_as_self_loop": 1,
        "dup_triples": 1,
    }
    got_good = audit_triples(spark.createDataFrame(good, schema), cuis)
    assert got_good == {
        "dangling_concept_obj": 0,
        "same_as_self_loop": 0,
        "dup_triples": 0,
    }


def test_streaming_integrity_gate_passes_clean_batches(spark, tmp_path):
    """Gate ON over healthy input: stream completes and the sink equals the
    ungated build (the gate is a pure pass-through on clean data)."""
    rows = fixtures.gen_transcripts(n_convs=4, avg_turns=5, seed=13)
    df = fixtures.transcripts_df(spark, rows)
    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    df.coalesce(1).write.parquet(in_dir)
    gaz = fixtures.gazetteer_df(spark)
    streaming.run_stream_triples(
        spark, in_dir, out_dir, ck, gaz, merge=True, integrity_gate=True
    )
    assert spark.read.parquet(out_dir).count() > 20


def test_streaming_integrity_gate_rejects_stale_release(spark, tmp_path):
    """Deploy-skew rejection: the linker runs the full gazetteer but the
    published release (valid_cuis) is missing some cuis -> every batch
    producing those concepts must be REJECTED (stream raises), the
    checkpoint must not commit the batch, and the sink must stay
    unpublished."""
    import pytest
    from pyspark.errors import StreamingQueryException

    rows = fixtures.gen_transcripts(n_convs=4, avg_turns=5, seed=13)
    df = fixtures.transcripts_df(spark, rows)
    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    df.coalesce(1).write.parquet(in_dir)
    gaz = fixtures.gazetteer_df(spark)
    stale = gaz.select("cui").filter(~F.col("cui").endswith("1"))
    with pytest.raises(StreamingQueryException, match="integrity gate rejected"):
        streaming.run_stream_triples(
            spark,
            in_dir,
            out_dir,
            ck,
            gaz,
            integrity_gate=True,
            valid_cuis=stale,
        )
    import os

    assert not os.path.exists(out_dir) or not [
        f for f in os.listdir(out_dir) if f.endswith(".parquet")
    ]
