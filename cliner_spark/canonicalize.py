"""Canonicalization (SURVEY.md A4; north rule: "canonicalized via salted
groupBy + connected-components (iterative DataFrame label propagation)").

Concept graph: nodes are cuis; an undirected edge connects two cuis that
share any normalized surface string (term or canonical). Connected-component
label = min(cui) in the component — the canonical concept node. Chains of
shared strings make this genuinely transitive (not just groupBy).

`connected_components` is a generic min-label-propagation fixpoint usable on
any edge list (also used by near-duplicate clustering in dedup.py). Each
iteration is one shuffle on the (small) frontier; lineage is cut with
localCheckpoint every CHECKPOINT_EVERY iterations so plans don't grow
unboundedly (SURVEY.md §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHECKPOINT_EVERY = 3
MAX_ITERATIONS = 50


def concept_edges(gazetteer: DataFrame) -> DataFrame:
    """(src, dst) cui pairs sharing a normalized surface string; src < dst."""
    strings = (
        gazetteer.select(F.col("cui"), F.lower("term").alias("s"))
        .unionByName(gazetteer.select(F.col("cui"), F.lower("canonical").alias("s")))
        .distinct()
    )
    a, b = strings.alias("a"), strings.alias("b")
    return (
        a.join(b, F.col("a.s") == F.col("b.s"))
        .filter(F.col("a.cui") < F.col("b.cui"))
        .select(F.col("a.cui").alias("src"), F.col("b.cui").alias("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame, nodes: DataFrame | None = None
) -> DataFrame:
    """Min-label propagation to fixpoint.

    edges: (src, dst) string columns, undirected (either orientation).
    nodes: optional (node) — isolated nodes to include; defaults to edge
    endpoints. Returns (node, comp) where comp = min node id reachable.

    Runs CHECKPOINT_EVERY rounds with no per-round convergence action,
    checkpoints eagerly, then VERIFIES the fixpoint (one join + limit-1
    count) and repeats until it holds. Pointer jumping does not always
    double the distance the component-min label has travelled when it must
    propagate against the id ordering (e.g. the path 1-6-5-4-3-2 advances
    the '1' frontier by one hop per round), so no round count is trusted
    unverified. Raises RuntimeError if the fixpoint does not hold after
    MAX_ITERATIONS rounds.
    """
    und = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionByName(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    endpoint_nodes = und.select(F.col("u").alias("node")).distinct()
    if nodes is not None:
        all_nodes = nodes.select("node").unionByName(endpoint_nodes).distinct()
    else:
        all_nodes = endpoint_nodes
    labels = all_nodes.withColumn("comp", F.col("node"))
    und = und.localCheckpoint(eager=True)
    labels = labels.localCheckpoint(eager=True)

    def one_round(labels: DataFrame) -> DataFrame:
        # candidate label for each node = min(own, min over neighbors' labels)
        nbr = (
            und.join(labels, und["v"] == labels["node"])
            .select(und["u"].alias("node"), F.col("comp"))
        )
        new_labels = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jumping (comp <- comp[comp]): collapses long chains —
        # same fixpoint, since a node's label is always another node of its
        # component and labels only decrease toward the component min.
        roots = new_labels.select(
            F.col("node").alias("_r"), F.col("comp").alias("_rc")
        )
        return (
            new_labels.join(roots, new_labels["comp"] == F.col("_r"), "left")
            .select(
                F.col("node"),
                F.coalesce(F.col("_rc"), F.col("comp")).alias("comp"),
            )
        )

    def at_fixpoint(labels: DataFrame) -> bool:
        # Min-label propagation has converged iff every edge joins two
        # equally-labelled endpoints: labels are always node ids of the same
        # component and only decrease, the component-min node keeps labelling
        # itself, so edge-agreement forces every node's label to be that min.
        lu = labels.select(F.col("node").alias("_lu_n"), F.col("comp").alias("_lu"))
        lv = labels.select(F.col("node").alias("_lv_n"), F.col("comp").alias("_lv"))
        disagree = (
            und.join(lu, und["u"] == F.col("_lu_n"))
            .join(lv, und["v"] == F.col("_lv_n"))
            .filter(F.col("_lu") != F.col("_lv"))
            .limit(1)
            .count()
        )
        return disagree == 0

    rounds = 0
    while rounds < MAX_ITERATIONS:
        # the pointer-jump SELF-join doubles the logical plan per round, so
        # lineage is cut eagerly on this cadence or analysis cost grows
        # 2^rounds
        for _ in range(CHECKPOINT_EVERY):
            labels = one_round(labels)
        rounds += CHECKPOINT_EVERY
        labels = labels.localCheckpoint(eager=True)
        if at_fixpoint(labels):
            return labels
    raise RuntimeError(f"connected_components: no fixpoint after {rounds} rounds")


def surface_form_counts(
    linked_with_canon: DataFrame, n_salt: int = 16
) -> DataFrame:
    """Salted two-phase aggregation (north rule: "canonicalized via salted
    groupBy"): per canonical concept, the count of each normalized mention
    surface form.

    A hot concept ("the" of clinical text — e.g. one drug mentioned in half
    of all turns) would serialize a single reducer in a naive
    groupBy(canon_cui, surface). Phase 1 spreads each (canon_cui, surface)
    key over n_salt partial groups keyed by a provenance-derived salt;
    phase 2 merges the (tiny) partials. Result is exactly the unsalted
    counts — the SQL oracle computes them with a plain GROUP BY.
    """
    salt = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_salt))
    partial = (
        linked_with_canon.withColumn("_salt", salt)
        .withColumn("surface", F.lower("mention_text"))
        .groupBy("canon_cui", "surface", "_salt")
        .agg(F.count(F.lit(1)).alias("_pn"))
    )
    return (
        partial.groupBy("canon_cui", "surface")
        .agg(F.sum("_pn").alias("n_mentions"))
    )


def canonical_concept_map(gazetteer: DataFrame) -> DataFrame:
    """(cui, canon_cui): every cui -> min cui of its connected component."""
    edges = concept_edges(gazetteer)
    nodes = gazetteer.select(F.col("cui").alias("node")).distinct()
    comps = connected_components(edges, nodes=nodes)
    return comps.select(F.col("node").alias("cui"), F.col("comp").alias("canon_cui"))
