"""Triple materialization + skew-aware sink (SURVEY.md U2/S6; north rule:
"(subj, pred, obj) triples such as (conv_id, MENTIONS, concept_cui) and
(concept, ASSERTED_IN, turn) partitioned by conv_id hash with explicit
skew-salting on hot conversations").

Triple inventory (each with (conv_id, turn_idx) provenance; ordering
invariant key = (conv_id, turn_idx), stable):

  (conv:<conv_id>,            MENTIONS,    concept:<canon_cui>)  one per
      distinct (conv, canon_cui); provenance turn = first mentioning turn
  (concept:<canon_cui>,       ASSERTED_IN, turn:<conv>#<turn_idx>) one per
      distinct (canon_cui, conv, turn); when the linked mentions carry an
      `assertion` column (assertion.py, pipeline --assertions), the pred
      is refined to NEGATED_IN / HEDGED_IN (negation dominates per turn)
  (mention:<conv>#<turn>#<s>, LINKED_TO,   concept:<cui>)  one per mention
  (concept:<cui>,             SAME_AS,     concept:<canon_cui>)  one per cui
      with canon_cui != cui; provenance = first turn where the cui occurs
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HOT_CONV_THRESHOLD = 100_000  # turns per conversation considered "hot"
DEFAULT_SALT_BUCKETS = 16


def with_canonical(linked: DataFrame, canon_map: DataFrame) -> DataFrame:
    """Attach canon_cui (connected-component label) to linked mentions."""
    return linked.join(F.broadcast(canon_map), "cui", "left").withColumn(
        "canon_cui", F.coalesce(F.col("canon_cui"), F.col("cui"))
    )


def build_triples(linked: DataFrame, canon_map: DataFrame | None = None) -> DataFrame:
    """linked mentions -> triples DF.

    Rows that already carry canon_cui (the lexicon scan) are used as they
    are; otherwise canon_cui is joined from canon_map (with_canonical).
    """
    if "canon_cui" not in linked.columns:
        if canon_map is None:
            raise ValueError("rows without canon_cui need canon_map")
        linked = with_canonical(linked, canon_map)
    # Materialize mention-grain rows ONCE: the four triple projections below
    # each trigger their own job, and without this the upstream scan UDF (the
    # expensive stage) would run four times. localCheckpoint = executor-local
    # materialization (at warehouse scale: a staging table / exchange reuse).
    # Eager, because a lazily-materialized checkpoint evaluates its child
    # outside the tracked SQL execution, so df.observe metrics below it
    # would read 0; the eager one runs as its own execution at no extra scan.
    m = linked.localCheckpoint(eager=True)

    mentions_t = (
        m.groupBy("conv_id", "canon_cui")
        .agg(F.min("turn_idx").alias("turn_idx"))
        .select(
            F.concat(F.lit("conv:"), F.col("conv_id")).alias("subj"),
            F.lit("MENTIONS").alias("pred"),
            F.concat(F.lit("concept:"), F.col("canon_cui")).alias("obj"),
            F.col("conv_id"),
            F.col("turn_idx"),
        )
    )
    if "assertion" in m.columns:
        # assertion-refined edge (assertion.py): any negated mention of the
        # concept in the turn dominates, then hedged, then affirmed — one
        # extra max() in the same aggregation, no new shuffle
        arank = (
            F.when(F.col("assertion") == "negated", 2)
            .when(F.col("assertion") == "uncertain", 1)
            .otherwise(0)
        )
        pred = F.element_at(
            F.array(F.lit("ASSERTED_IN"), F.lit("HEDGED_IN"), F.lit("NEGATED_IN")),
            F.col("_ar") + 1,
        )
        asserted_t = (
            m.groupBy("conv_id", "turn_idx", "canon_cui")
            .agg(F.max(arank).alias("_ar"))
            .select(
                F.concat(F.lit("concept:"), F.col("canon_cui")).alias("subj"),
                pred.alias("pred"),
                F.concat(
                    F.lit("turn:"), F.col("conv_id"), F.lit("#"), F.col("turn_idx")
                ).alias("obj"),
                F.col("conv_id"),
                F.col("turn_idx"),
            )
        )
    else:
        asserted_t = (
            m.select("conv_id", "turn_idx", "canon_cui")
            .distinct()
            .select(
                F.concat(F.lit("concept:"), F.col("canon_cui")).alias("subj"),
                F.lit("ASSERTED_IN").alias("pred"),
                F.concat(
                    F.lit("turn:"), F.col("conv_id"), F.lit("#"), F.col("turn_idx")
                ).alias("obj"),
                F.col("conv_id"),
                F.col("turn_idx"),
            )
        )
    linked_t = m.select(
        F.concat(
            F.lit("mention:"),
            F.col("conv_id"),
            F.lit("#"),
            F.col("turn_idx"),
            F.lit("#"),
            F.col("tok_start"),
        ).alias("subj"),
        F.lit("LINKED_TO").alias("pred"),
        F.concat(F.lit("concept:"), F.col("cui")).alias("obj"),
        F.col("conv_id"),
        F.col("turn_idx"),
    )
    same_as_t = (
        m.filter(F.col("cui") != F.col("canon_cui"))
        .groupBy("cui", "canon_cui")
        .agg(F.min(F.struct("conv_id", "turn_idx")).alias("prov"))
        .select(
            F.concat(F.lit("concept:"), F.col("cui")).alias("subj"),
            F.lit("SAME_AS").alias("pred"),
            F.concat(F.lit("concept:"), F.col("canon_cui")).alias("obj"),
            F.col("prov.conv_id").alias("conv_id"),
            F.col("prov.turn_idx").alias("turn_idx"),
        )
    )
    return (
        mentions_t.unionByName(asserted_t).unionByName(linked_t).unionByName(same_as_t)
    )


TRIPLE_KEY = ["subj", "pred", "obj"]


def merge_triples(*batches: DataFrame) -> DataFrame:
    """Deterministic KG merge: union triple batches, one row per
    (subj, pred, obj), provenance = lexicographic min (conv_id, turn_idx).

    Because every per-key aggregate in build_triples is itself a min (first
    mentioning turn / first asserting conv), merge is associative:
    merge(triples(batch_a), triples(batch_b)) == triples(batch_a ∪ batch_b)
    exactly — re-running the pipeline over accumulated input and merging
    per-batch outputs agree row-for-row. One shuffle on the triple key with
    map-side partial aggregation; assertion-refined preds (NEGATED_IN /
    HEDGED_IN) are part of the key, so refinements from different batches
    coexist rather than silently overwriting.
    """
    out = batches[0]
    for b in batches[1:]:
        out = out.unionByName(b)
    return (
        out.groupBy(*TRIPLE_KEY)
        .agg(F.min(F.struct("conv_id", "turn_idx")).alias("prov"))
        .select(*TRIPLE_KEY, F.col("prov.conv_id").alias("conv_id"),
                F.col("prov.turn_idx").alias("turn_idx"))
    )


def incremental_new_triples(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """Append-only increment: incoming triples whose (subj, pred, obj) key is
    not already in the KG — the `MERGE INTO ... WHEN NOT MATCHED THEN INSERT`
    plan for the Iceberg sink. First-writer-wins provenance (existing rows are
    never rewritten), which is the scale-correct choice: the existing KG is
    10^12-row-sized and stays untouched on disk; only the (small) incoming
    batch shuffles against it, and with the sink bucketed by the same key the
    anti-join is co-located. Use merge_triples for an exact global-min
    provenance rebuild instead.
    """
    return incoming.join(existing.select(*TRIPLE_KEY), TRIPLE_KEY, "left_anti")


def hot_conversations(turns: DataFrame, threshold: int = HOT_CONV_THRESHOLD) -> DataFrame:
    """Pre-pass heavy-hitter detection: conversations with > threshold turns.

    At 10^12-turn scale this is one map-side-combined count over conv_id; the
    result is dimension-sized (few hot convs) and broadcastable.
    """
    return (
        turns.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .filter(F.col("n_turns") > threshold)
        .select("conv_id", "n_turns")
    )


def salted_partition_col(
    hot: DataFrame | None = None,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
):
    """Partition expression: xxhash64(conv_id) everywhere, plus a turn-derived
    salt ONLY for hot conversations so one conv can't serialize a task.
    Returns a function df -> df with a `_pk` partition-key column.
    """

    def apply(df: DataFrame) -> DataFrame:
        if hot is not None:
            df = df.join(F.broadcast(hot.select("conv_id", F.lit(1).alias("_hot"))), "conv_id", "left")
            salt = F.when(
                F.col("_hot").isNotNull(),
                F.pmod(F.xxhash64("turn_idx"), F.lit(salt_buckets)),
            ).otherwise(F.lit(0))
            df = df.withColumn("_pk", F.xxhash64(F.col("conv_id"), salt)).drop("_hot")
        else:
            df = df.withColumn("_pk", F.xxhash64(F.col("conv_id")))
        return df

    return apply


def write_triples(
    triples: DataFrame,
    path: str,
    num_partitions: int | None = None,
    hot: DataFrame | None = None,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Sink: repartition by salted conv-hash, sort within partitions by the
    stable ordering key, write.

    fmt="parquet" (default): plain parquet directory sink.
    fmt="iceberg": the north-rule production target — `path` is a catalog
    table name, written via writeTo(...).using("iceberg") with
    overwritePartitions (per-partition commits, snapshot isolation, the
    semantics checkpoint.py emulates on parquet with dynamic partition
    overwrite). Requires the iceberg-spark-runtime jars + a configured
    catalog; this sandbox has neither (proof: tools/probe_iceberg.py), so
    the path raises a clear error here and is exercised only by the probe.
    The salting/ordering logic above the writer is format-independent.
    """
    df = salted_partition_col(hot, salt_buckets)(triples)
    n = num_partitions or triples.sparkSession.sparkContext.defaultParallelism
    out = (
        df.repartition(n, "_pk")
        .sortWithinPartitions("conv_id", "turn_idx", "pred", "subj", "obj")
        .drop("_pk")
    )
    if fmt == "iceberg":
        writer = out.writeTo(path).using("iceberg")
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    out.write.mode(mode).parquet(path)


def audit_triples(triples: DataFrame, valid_cuis: DataFrame) -> dict[str, int]:
    """Batch-local KG integrity audit — the publish gate's check set (the
    streaming twin of the q_kg_integrity registry query): dangling concept
    objects (cui absent from the supplied gazetteer-release cui set),
    SAME_AS self-loops, and duplicate (subj, pred, obj) rows. Returns
    driver-side counts: the audit is a control decision, and every check
    is dimension-cheap relative to the batch it gates (the dangling check
    anti-joins against the broadcast cui dimension; dup detection is one
    groupBy over the batch increment)."""
    cuis = (
        valid_cuis.select(F.col(valid_cuis.columns[0]).alias("cui"))
        .distinct()
    )
    concept = triples.filter(F.col("obj").startswith("concept:")).withColumn(
        "o_cui", F.expr("substring(obj, 9)")
    )
    dangling = concept.join(
        F.broadcast(cuis), concept["o_cui"] == cuis["cui"], "left_anti"
    )
    self_loop = triples.filter(
        (F.col("pred") == "SAME_AS") & (F.col("subj") == F.col("obj"))
    )
    dup = (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
    )
    return {
        "dangling_concept_obj": dangling.count(),
        "same_as_self_loop": self_loop.count(),
        "dup_triples": dup.count(),
    }


def publish_kg(
    triples: DataFrame,
    table_path: str,
    valid_cuis: DataFrame,
    mode: str = "overwrite",
) -> int:
    """Gated, versioned KG release: run the integrity audit over the EXACT
    frame being published; on any violation raise WITHOUT committing (the
    snapshot table's CURRENT pointer never moves, so consumers keep reading
    the last good release); otherwise commit as a new manifest snapshot and
    return its version. Releases are then time-travelable
    (maintenance.read_snapshot) and diffable (maintenance.snapshot_diff
    between two versions = the KG changelog consumers subscribe to).
    Prod swaps the manifest table for Iceberg; the gate-then-commit
    ordering is the contract."""
    from cliner_spark.maintenance import snapshot_append, snapshot_overwrite

    bad = {k: v for k, v in audit_triples(triples, valid_cuis).items() if v}
    if bad:
        raise RuntimeError(f"publish_kg: integrity gate rejected release: {bad}")
    commit = snapshot_overwrite if mode == "overwrite" else snapshot_append
    return commit(triples, table_path)
