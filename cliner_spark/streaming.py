"""Structured Streaming surface: incremental transcript ingest -> mention
stream -> triple/metric sinks (SURVEY.md §2.9 notes this as the natural
extension of the batch contract; the batch pipeline stays authoritative).

Everything stateless (scan/link) runs unchanged in streaming mode — the same
lexicon scan (one mapInPandas pass that links inside the scan) is reused, so
batch/stream parity is by construction. Stateful pieces (windowed mention
counts) use event-time watermarks for late data.

At scale: readStream from the Iceberg/parquet landing zone, per-source-file
micro-batches; the scan stage remains zero-shuffle, so throughput matches
the batch path; the windowed agg shuffles only mention-grain rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cliner_spark import schemas
from cliner_spark.mentions import pipeline_lexicon, scan_mentions_udf
from cliner_spark.tokenization import drop_blank_turns


def read_transcript_stream(spark: SparkSession, input_path: str, max_files: int = 16) -> DataFrame:
    return (
        spark.readStream.schema(schemas.TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_path)
    )


def streaming_mentions(stream: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """Stateless streaming mention scan + link (the pipeline's lexicon scan,
    one collect of the gazetteer); keeps event time `ts`."""
    return scan_mentions_udf(
        drop_blank_turns(stream), pipeline_lexicon(gazetteer), carry_ts=True
    )


def windowed_concept_counts(
    linked: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling-window concept counts with late-data watermark."""
    return (
        linked.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("cui"))
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cui",
            "n_mentions",
        )
    )


def stateful_conv_progress(linked: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-conversation progress — total mentions, distinct cuis, last turn —
    maintained across micro-batches in the state store.

    This is the streaming analog of the batch lineage table: each emitted row
    is the conversation's cumulative state as of the micro-batch. State is
    one small tuple per conversation (bounded by active conversations, not
    turns); GroupStateTimeout can evict idle conversations when a timeout is
    configured.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "conv_id string, n_mentions bigint, n_cuis int, max_turn int"
    )
    state_schema = "n bigint, cuis array<string>, max_turn int"

    def update(key, pdfs, state: GroupState):
        import pandas as pd
        (conv_id,) = key
        n, cuis, max_turn = (
            state.get if state.exists else (0, [], -1)
        )
        cui_set = set(cuis)
        for pdf in pdfs:
            n += len(pdf)
            cui_set.update(pdf["cui"].tolist())
            if len(pdf):
                max_turn = max(max_turn, int(pdf["turn_idx"].max()))
        state.update((n, sorted(cui_set), max_turn))
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "n_mentions": [n],
                "n_cuis": [len(cui_set)],
                "max_turn": [max_turn],
            }
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms
        else GroupStateTimeout.NoTimeout
    )
    return (
        linked.select("conv_id", "turn_idx", "cui")
        .groupBy("conv_id")
        .applyInPandasWithState(
            # operator output mode "append": emitted rows are final for
            # the micro-batch, compatible with the file sink
            update, out_schema, state_schema, "append", timeout
        )
    )


def run_stateful_once(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    gazetteer: DataFrame,
) -> None:
    """Drain available input through the stateful per-conversation operator;
    state persists in the checkpoint across restarts (incremental totals)."""
    stream = read_transcript_stream(spark, input_path)
    linked = streaming_mentions(stream, gazetteer)
    q = (
        stateful_conv_progress(linked)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_once(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    gazetteer: DataFrame,
    windowed: bool = False,
) -> None:
    """Drain all available input (Trigger.AvailableNow) into parquet.

    availableNow processes the backlog in rate-limited micro-batches then
    stops — the standard incremental-batch pattern; restarts resume from the
    checkpoint offsets (exactly-once into the file sink).
    """
    stream = read_transcript_stream(spark, input_path)
    linked = streaming_mentions(stream, gazetteer)
    out = windowed_concept_counts(linked) if windowed else linked
    mode = "append"  # file sink supports append; windowed agg emits finalized windows
    q = (
        out.writeStream.format("parquet")
        .outputMode(mode)
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_triples(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    gazetteer: DataFrame,
    assertions: bool = False,
    merge: bool = False,
    max_files: int = 16,
    integrity_gate: bool = False,
    valid_cuis: DataFrame | None = None,
    dedup_gate: bool = False,
    ingested_path: str | None = None,
) -> None:
    """Streaming KG materialization: drain transcript micro-batches through
    the FULL batch pipeline (scan -> link [-> assert] -> canonicalize ->
    triples) via foreachBatch, appending triples to the sink.

    foreachBatch is the standard pattern when a micro-batch needs batch-only
    operators (the mention↔turn-token equi-join of the assertion pass, the
    multi-projection triple union): each micro-batch is a bounded DataFrame,
    so batch/stream parity holds by construction, and the checkpoint gives
    exactly-once file-sink semantics per batch id.

    The concept-canonicalization map is computed ONCE per stream start (it is
    a gazetteer-version artifact, not a per-batch computation) and reused by
    every micro-batch — at 10^12-turn scale the CC iteration must not sit on
    the hot path.

    Dedup scope note: aggregate-grain edges (MENTIONS min-turn provenance,
    SAME_AS first-occurrence) are exact within a micro-batch. When a
    conversation spans micro-batches, the plain append sink can hold one
    such edge per batch. merge=True closes that gap: each batch's triples
    are anti-joined against the keys already in the sink
    (triples.incremental_new_triples — the MERGE INTO ... WHEN NOT MATCHED
    plan) before appending, so the sink stays one-row-per-(subj, pred, obj)
    with first-writer-wins provenance across batch boundaries. On parquet
    that is a per-batch sink read (bounded by sink size, not stream
    history); on the production Iceberg sink the same anti-join IS the
    MERGE INTO, pushed to the table format. Turn-grain edges
    (ASSERTED_IN/NEGATED_IN/HEDGED_IN, LINKED_TO) are exact regardless of
    batch boundaries either way.

    integrity_gate=True runs triples.audit_triples over the exact increment
    about to be appended and RAISES on any violation — the streaming query
    fails, the checkpoint does NOT advance past the batch, and the sink is
    untouched by it: a poisoned batch is rejected, not published, and a
    restart after the upstream fix replays it (exactly-once gating).
    valid_cuis defaults to the linking gazetteer's cui set; passing the
    PUBLISHED release's cui table instead catches the deploy-skew case
    where the linker ran a newer gazetteer than the KG consumers have.

    dedup_gate=True (round-3 verdict item 7) closes the ingest-side dup
    hole: before a micro-batch enters the pipeline, its turns are checked
    against the persisted ingested-turns index (ingested_path, default
    <output_path>_ingested) with dedup.incremental_dedup — exact dups by
    normalized-text fingerprint, near-dups by >=2 agreeing MinHash bands —
    and only `keep` turns proceed. A redelivered or lightly-edited batch
    therefore adds ZERO new docs/triples instead of polluting the KG. The
    index is appended AFTER the triple publish (same at-least-once ordering
    as the sink itself; at production scale it is the persisted
    fingerprint+band Iceberg table the dedup joins would probe directly).
    Joins are batch-driven — the index is never self-paired.
    """
    from pyspark.errors import AnalysisException

    from cliner_spark.canonicalize import canonical_concept_map
    from cliner_spark.dedup import incremental_dedup
    from cliner_spark.pipeline import run_pipeline
    from cliner_spark.triples import audit_triples, incremental_new_triples

    canon = canonical_concept_map(gazetteer).localCheckpoint(eager=True)
    idx_path = ingested_path or (output_path.rstrip("/") + "_ingested")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        new_turns = None
        if dedup_gate:
            batch_docs = batch_df.select(
                F.concat_ws("#", F.col("conv_id"), F.col("turn_idx").cast("string"))
                .alias("doc_key"),
                F.coalesce(F.col("text"), F.lit("")).alias("text"),
            )
            try:
                ingested = sess.read.parquet(idx_path)
            except AnalysisException:
                ingested = None
            if ingested is not None:
                keep_keys = (
                    incremental_dedup(
                        ingested, batch_docs, id_col="doc_key", text_col="text"
                    )
                    .filter(F.col("keep"))
                    .select("doc_key")
                    .localCheckpoint(eager=True)
                )
                batch_df = batch_df.join(
                    keep_keys,
                    F.concat_ws(
                        "#", F.col("conv_id"), F.col("turn_idx").cast("string")
                    )
                    == F.col("doc_key"),
                    "left_semi",
                )
                new_turns = batch_docs.join(keep_keys, "doc_key", "left_semi")
            else:
                new_turns = batch_docs
            new_turns = new_turns.localCheckpoint(eager=True)
            if new_turns.isEmpty():
                return  # whole batch was redelivered/near-dup: publish nothing
        out = run_pipeline(
            batch_df.sparkSession,
            batch_df,
            gazetteer=gazetteer,
            canon_map=canon,
            assertions=assertions,
        )
        tri = out["triples"]
        if merge:
            try:
                existing = batch_df.sparkSession.read.parquet(output_path)
                # materialize the increment BEFORE the write touches the
                # directory it was computed against
                tri = incremental_new_triples(existing, tri).localCheckpoint(
                    eager=True
                )
            except AnalysisException:
                pass  # first batch: sink doesn't exist yet
        if integrity_gate:
            gate_cuis = (
                valid_cuis if valid_cuis is not None else gazetteer.select("cui")
            )
            bad = {k: v for k, v in audit_triples(tri, gate_cuis).items() if v}
            if bad:
                raise RuntimeError(
                    f"integrity gate rejected batch {batch_id}: {bad}"
                )
        tri.write.mode("append").parquet(output_path)
        if dedup_gate and new_turns is not None:
            new_turns.write.mode("append").parquet(idx_path)

    q = (
        read_transcript_stream(spark, input_path, max_files=max_files)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_stream(
    stream: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once turn delivery over an at-least-once upstream:
    dropDuplicatesWithinWatermark on the turn key keeps one state entry per
    key only until the event-time watermark passes it, so state is bounded
    by the (re)delivery window — not by stream history, which is what makes
    streaming dedup viable at 10^12 turns. Re-deliveries later than the
    watermark are the upstream's contract violation, same as any late data.
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_stream_mention_pairs(
    left: DataFrame,
    right: DataFrame,
    band_minutes: int = 10,
    watermark: str = "20 minutes",
) -> DataFrame:
    """Stream-stream interval join (the streaming twin of
    timeseries.banded_interval_join): pair each right-stream mention with
    same-conversation left-stream mentions in the preceding `band_minutes`
    of event time.

    Both sides carry watermarks and the join condition bounds right.ts in
    [left.ts, left.ts + band], which is what lets the state store EVICT
    buffered left rows once the right watermark passes left.ts + band —
    without the time bound the join would buffer both streams forever. The
    equi key (conv_id) partitions state; per-key state is bounded by one
    band of one conversation's rows, the same hot-key bound as the batch
    decomposition.

    Inputs are linked-mention streams (conv_id, turn_idx, cui, ts).
    """
    l = left.select(
        F.col("conv_id"),
        F.col("cui").alias("left_cui"),
        F.col("turn_idx").alias("left_turn"),
        F.col("ts").alias("left_ts"),
    ).withWatermark("left_ts", watermark)
    r = right.select(
        F.col("conv_id").alias("r_conv_id"),
        F.col("cui").alias("right_cui"),
        F.col("turn_idx").alias("right_turn"),
        F.col("ts").alias("right_ts"),
    ).withWatermark("right_ts", watermark)
    cond = (
        (F.col("conv_id") == F.col("r_conv_id"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (
            F.col("right_ts")
            <= F.col("left_ts") + F.expr(f"INTERVAL {band_minutes} MINUTES")
        )
    )
    return l.join(r, cond).select(
        "conv_id",
        "left_cui",
        "right_cui",
        "left_turn",
        "right_turn",
        (
            F.unix_timestamp("right_ts") - F.unix_timestamp("left_ts")
        ).alias("lag_sec"),
    )


def run_stream_pairs_once(
    spark: SparkSession,
    left_path: str,
    right_path: str,
    output_path: str,
    checkpoint_path: str,
    gazetteer: DataFrame,
    band_minutes: int = 10,
) -> None:
    """Drain two transcript directories through the stream-stream interval
    join (each side: scan -> link -> watermark) into a parquet sink."""
    lm = streaming_mentions(read_transcript_stream(spark, left_path), gazetteer)
    rm = streaming_mentions(read_transcript_stream(spark, right_path), gazetteer)
    q = (
        stream_stream_mention_pairs(lm, rm, band_minutes=band_minutes)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def session_windows(stream: DataFrame, gap_minutes: int = 5, wm: str = "0 seconds") -> DataFrame:
    """Event-time session windows with TIMEOUT-based close
    (applyInPandasWithState + EventTimeTimeout): a conversation's session
    stays open in the state store while turns keep arriving; when the
    watermark passes last_turn_ts + gap, the state times out and the CLOSED
    session row (start, end, n_turns) is emitted exactly once, then the
    state is removed.

    This is the stateful pattern the fixed-window aggregation can't express
    — session length is data-driven, so only a timeout can close it. State
    is 3 ints per OPEN conversation; closed sessions leave the store, so
    state size tracks concurrent activity, not history — the property that
    holds at 10^12 turns."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "conv_id string, session_start timestamp, session_end timestamp, n_turns bigint"
    )
    state_schema = "start_ms bigint, last_ms bigint, n bigint"
    gap_ms = gap_minutes * 60 * 1000

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (conv_id,) = key
        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "session_start": [pd.to_datetime(start_ms, unit="ms")],
                    "session_end": [pd.to_datetime(last_ms, unit="ms")],
                    "n_turns": [n],
                }
            )
            return
        start_ms, last_ms, n = state.get if state.exists else (None, None, 0)
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts_ms = pdf["ts"].values.astype("datetime64[ms]").astype("int64")
            mn, mx = int(ts_ms.min()), int(ts_ms.max())
            start_ms = mn if start_ms is None else min(start_ms, mn)
            last_ms = mx if last_ms is None else max(last_ms, mx)
            n += len(pdf)
        state.update((start_ms, last_ms, n))
        state.setTimeoutTimestamp(last_ms + gap_ms)

    return (
        stream.withWatermark("ts", wm)
        .select("conv_id", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_sessions_once(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    gap_minutes: int = 5,
) -> None:
    """Drain available input through the session-window operator; open
    sessions persist in the state store across drains and close (emit) when
    a later drain's watermark passes their gap."""
    stream = read_transcript_stream(spark, input_path)
    q = (
        session_windows(stream, gap_minutes=gap_minutes)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_once_with_drop_metrics(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    gazetteer: DataFrame,
) -> dict:
    """Windowed drain (availableNow) that also harvests the state-store
    operational metrics from the query progress — most importantly
    numRowsDroppedByWatermark, the counter an operator watches to know the
    watermark is discarding late data (silent data loss otherwise). The
    watermark itself persists in the checkpoint, so a restart drops events
    older than the PREVIOUS run's high-water mark — exactly the behavior
    the late-data test pins down.

    Returns {"dropped_by_watermark": int, "state_rows": int}.
    """
    stream = read_transcript_stream(spark, input_path)
    linked = streaming_mentions(stream, gazetteer)
    q = (
        windowed_concept_counts(linked)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = 0
    state_rows = 0
    for prog in q.recentProgress:
        p = prog if isinstance(prog, dict) else prog.asDict()  # version-safe
        for op in p.get("stateOperators") or []:
            dropped += int(op.get("numRowsDroppedByWatermark") or 0)
            state_rows = max(state_rows, int(op.get("numRowsTotal") or 0))
    return {"dropped_by_watermark": dropped, "state_rows": state_rows}


def incremental_first_seen(linked: DataFrame) -> DataFrame:
    """Exactly-once incremental KG-node discovery via Spark 4's
    transformWithStateInPandas (the successor API to applyInPandasWithState:
    typed per-key state variables instead of one opaque tuple).

    Per conversation, a MapState keyed by cui records every concept already
    emitted; each micro-batch emits only the (conv_id, cui, first_turn) rows
    for concepts never seen before in that conversation. Re-delivered input
    after a checkpoint restart cannot re-emit a node (the MapState survives
    in the state store), so downstream MERGE-style KG sinks see each node
    exactly once.

    State size is O(distinct concepts per active conversation) — bounded by
    gazetteer size, not turn count — so at 10^12 turns the state store holds
    |active convs| x |cuis seen| small rows; a ttlDurationMs on the map
    evicts finished conversations in production.

    Requires the RocksDB state store provider (see run_first_seen_once).
    """
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    out_schema = "conv_id string, cui string, first_turn int"

    class FirstSeen(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getMapState(
                "seen", "cui string", "first_turn int"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            (conv_id,) = key
            new: dict[str, int] = {}
            for pdf in rows:
                for cui, turn in zip(pdf["cui"], pdf["turn_idx"]):
                    t = int(turn)
                    if cui in new:
                        if t < new[cui]:
                            new[cui] = t
                    elif not self._seen.containsKey((cui,)):
                        new[cui] = t
            for cui, t in new.items():
                self._seen.updateValue((cui,), (t,))
            if new:
                ks = sorted(new)
                yield pd.DataFrame(
                    {
                        "conv_id": [conv_id] * len(ks),
                        "cui": ks,
                        "first_turn": [new[k] for k in ks],
                    }
                )

        def close(self) -> None:
            pass

    return (
        linked.select("conv_id", "turn_idx", "cui")
        .groupBy("conv_id")
        .transformWithStateInPandas(FirstSeen(), out_schema, "append", "none")
    )


def run_first_seen_once(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    gazetteer: DataFrame,
) -> None:
    """Drain available input through incremental_first_seen. The RocksDB
    state store provider is required by transformWithStateInPandas; set it
    for this query and restore the previous provider after (per-query conf,
    read at query start)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = read_transcript_stream(spark, input_path)
        linked = streaming_mentions(stream, gazetteer)
        q = (
            incremental_first_seen(linked)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", output_path)
            .option("checkpointLocation", checkpoint_path)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
