"""End-to-end KG construction pipeline (SURVEY.md §3.1 equivalent lifecycle):

  transcripts -> drop blank turns -> mention scan (zero-shuffle) ->
  entity link (broadcast) -> canonicalize (CC on the dim graph) ->
  triples (unionByName of four projections) -> salted, sorted sink

CLI (the reference's three verbs — cliner predict/evaluate/train):
  python -m cliner_spark.pipeline predict --input tx.parquet --output /tmp/triples
  python -m cliner_spark.pipeline evaluate --predictions p.parquet --gold g.parquet
  python -m cliner_spark.pipeline train --input tx.parquet --gold g.parquet --model m/
  spark-submit --py-files dist/cliner_spark.zip cliner_spark/pipeline.py predict ...
  (bare --input/--output still means predict, back-compat)

Shuffle audit (scale rationale, 10^12 turns):
  - scan: 0 shuffles (per-turn array expressions / mapInPandas)
  - link: 0 shuffles on the fact side (broadcast join; dim-side window is
    dimension-sized)
  - canonicalize: CC iterations shuffle only the cui graph (dim-sized)
  - triples: 2 aggregations (MENTIONS, SAME_AS dedup) + 1 distinct
    (ASSERTED_IN) over mention-grain data — orders of magnitude smaller than
    the turn stream; AQE coalesces
  - sink: 1 repartition by salted conv-hash
"""

from __future__ import annotations

import argparse
import os
import time

from pyspark.sql import DataFrame, SparkSession

from cliner_spark import fixtures
from cliner_spark.canonicalize import canonical_concept_map
from cliner_spark.link import link_mentions
from cliner_spark.mentions import scan_mentions_udf
from cliner_spark.tokenization import drop_blank_turns
from cliner_spark.triples import build_triples, hot_conversations, write_triples


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    gazetteer: DataFrame | None = None,
    scanner: str = "udf",
    canon_map: DataFrame | None = None,
    assertions: bool = False,
    with_metrics: bool = False,
) -> dict[str, DataFrame]:
    """Returns dict with mentions, linked, canon_map, triples DataFrames.

    canon_map: optionally pass the precomputed concept-canonicalization map
    (a gazetteer-version artifact — dimension-sized, independent of the turn
    stream; production computes it once per gazetteer release, not per batch).

    assertions: classify each mention as negated/uncertain/affirmed (NegEx
    windowed triggers, assertion.py) and refine the per-turn concept edge to
    NEGATED_IN / HEDGED_IN / ASSERTED_IN. Adds one equi-join on
    (conv_id, turn_idx) against the tokenized turns — no extra shuffle of
    the turn stream itself.

    with_metrics: attach pyspark Observations (df.observe) at the stage
    boundaries — turn/mention/triple row counts collected as a side effect
    of the sink action, ZERO extra jobs (the metrics-table mandate without
    re-counting the stream). Returned under key "metrics" as
    {stage: Observation}; read obs.get AFTER the first action.
    """
    gaz = gazetteer if gazetteer is not None else fixtures.gazetteer_df(spark)
    terms = [r["term"] for r in gaz.select("term").distinct().collect()]

    from cliner_spark.session import ensure_parallelism

    metrics: dict = {}

    def _observe(df: DataFrame, stage: str) -> DataFrame:
        if not with_metrics:
            return df
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(stage)
        metrics[stage] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows"))

    turns = _observe(drop_blank_turns(ensure_parallelism(transcripts)), "turns")
    # "expr" is an older name for the same Arrow scan, kept for existing callers
    if scanner in ("udf", "expr"):
        mentions = scan_mentions_udf(turns, terms)
    elif scanner == "tagger":
        # Viterbi tagger path (SURVEY.md §7.1 step 3): features -> batched
        # Viterbi decode -> IOB chunking, distant-supervision model. Output
        # spans provably equal the gazetteer scan on gazetteer-planted text,
        # so the same P/R contract holds; drop its concept_type and let
        # link_mentions re-derive it (single source of truth).
        from cliner_spark.tagger import make_distant_model, tag_mentions

        entries = [
            (r["term"], r["cui"], r["sem_type"], r["canonical"], r["score"])
            for r in gaz.collect()
        ]
        mentions = tag_mentions(turns, make_distant_model(entries)).drop("concept_type")
    else:
        raise ValueError(f"unknown scanner {scanner!r}")

    mentions = _observe(mentions, "mentions")
    linked = link_mentions(mentions, gaz)
    if assertions:
        from cliner_spark.assertion import classify_assertions
        from cliner_spark.tokenization import tokenize

        turn_toks = tokenize(turns).select("conv_id", "turn_idx", "tokens")
        linked = classify_assertions(linked, turn_toks)
    if canon_map is None:
        canon_map = canonical_concept_map(gaz)
    triples = _observe(
        build_triples(linked, canon_map=canon_map, eager_checkpoint=with_metrics),
        "triples",
    )
    out = {
        "mentions": mentions,
        "linked": linked,
        "canon_map": canon_map,
        "triples": triples,
    }
    if with_metrics:
        out["metrics"] = metrics
    return out


def _get_cli_spark(name: str, master):
    """getOrCreate + remember whether WE created it (CLI must not stop a
    session owned by the caller, e.g. the pytest fixture)."""
    from pyspark.sql import SparkSession

    from cliner_spark.session import get_spark

    existing = SparkSession.getActiveSession() is not None
    return get_spark(name, master=master), not existing


def cmd_predict(args) -> None:
    """Reference `cliner predict` analog: transcripts -> triples sink."""
    spark, created = _get_cli_spark("cliner_spark.predict", args.master)
    if args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        transcripts = fixtures.transcripts_df(spark)

    t0 = time.time()
    out = run_pipeline(
        spark, transcripts, scanner=args.scanner, assertions=args.assertions,
        with_metrics=True,
    )
    hot = hot_conversations(transcripts, threshold=args.hot_threshold)
    write_triples(out["triples"], args.output, hot=hot)
    n = spark.read.parquet(args.output).count()
    stages = " ".join(
        f"{k}={v.get['rows']}" for k, v in out.get("metrics", {}).items()
    )
    print(f"# stage rows (observed in-flight, zero extra jobs): {stages}")
    print(f"wrote {n} triples to {args.output} in {time.time() - t0:.1f}s")
    if created:
        spark.stop()


def cmd_evaluate(args) -> None:
    """Reference `cliner evaluate` analog: pred vs gold mention parquet ->
    exact + overlap P/R/F1 per class + micro (code/evaluate.py semantics)."""
    from cliner_spark.evaluate import exact_match_counts, overlap_match_counts, prf
    spark, created = _get_cli_spark("cliner_spark.evaluate", args.master)
    pred = spark.read.parquet(args.predictions)
    gold = spark.read.parquet(args.gold)
    for name, counts in (
        ("exact", exact_match_counts(pred, gold)),
        ("overlap", overlap_match_counts(pred, gold)),
    ):
        print(f"== {name} span matching ==")
        for r in prf(counts).orderBy("concept_type").collect():
            print(
                f"  {r['concept_type']:>10}: P={r['precision']:.4f} "
                f"R={r['recall']:.4f} F1={r['f1']:.4f} "
                f"(tp={r['tp']} fp={r['fp']} fn={r['fn']})"
            )
    if created:
        spark.stop()


# Above this many transcript turns, `cliner train` auto-selects the
# distributed parameter-mixing trainer: collecting the corpus to the driver
# is a fixture-scale convenience only (r2 verdict item 5). Overridable for
# tests via CLINER_TRAIN_COLLECT_MAX.
TRAIN_COLLECT_MAX = int(os.environ.get("CLINER_TRAIN_COLLECT_MAX", "50000"))


def cmd_train(args) -> None:
    """Reference `cliner train` analog (SURVEY.md M1): transcripts + gold
    mentions -> model dir. Two objectives share every inference component
    (feature hashing, emissions, Viterbi):

    - perceptron (default): averaged structured perceptron; distributed
      variant = per-partition perceptrons + iterative parameter mixing
    - crf: L2-regularized conditional log-likelihood via forward–backward
      (the reference's actual training objective); distributed variant =
      exact shard-summed batch gradients + driver Adam step

    The distributed trainer (transcripts never collected to the driver, the
    path that survives real data volumes) is used when --distributed is
    passed OR the input exceeds TRAIN_COLLECT_MAX turns; the driver-local
    loop remains for fixture-scale runs."""
    from collections import defaultdict

    from cliner_spark.crf import train_crf, train_crf_distributed
    from cliner_spark.tagger import (
        save_model,
        train_perceptron,
        train_perceptron_distributed,
    )

    spark, created = _get_cli_spark("cliner_spark.train", args.master)
    objective = getattr(args, "objective", "perceptron")
    distributed = args.distributed
    if not distributed:
        # one cheap count decides the strategy; never collect-then-discover
        n_turns = spark.read.parquet(args.input).count()
        if n_turns > TRAIN_COLLECT_MAX:
            print(
                f"# {n_turns} turns > {TRAIN_COLLECT_MAX}: auto-selecting "
                "the distributed trainer"
            )
            distributed = True
    if distributed:
        tx_df = spark.read.parquet(args.input)
        gold_df = spark.read.parquet(args.gold)
        if objective == "crf":
            model = train_crf_distributed(
                tx_df, gold_df, iters=args.epochs,
                learn_trans=getattr(args, "learn_trans", False),
            )
            how = "distributed CRF, exact shard-summed gradients"
        else:
            model = train_perceptron_distributed(
                tx_df, gold_df, epochs=args.epochs
            )
            how = "distributed, parameter mixing"
        save_model(model, args.model)
        print(f"trained ({how}) -> {args.model}")
        if created:
            spark.stop()
        return
    tx = spark.read.parquet(args.input).collect()
    gold = spark.read.parquet(args.gold).collect()
    by_turn = defaultdict(list)
    for g in gold:
        by_turn[(g["conv_id"], g["turn_idx"])].append(g)
    texts, tags = [], []
    for row in tx:
        toks = (row["text"] or "").split()
        if not toks:
            continue
        t = ["O"] * len(toks)
        for g in by_turn.get((row["conv_id"], row["turn_idx"]), []):
            t[g["tok_start"]] = f"B-{g['concept_type']}"
            for i in range(g["tok_start"] + 1, g["tok_end"] + 1):
                t[i] = f"I-{g['concept_type']}"
        texts.append(row["text"])
        tags.append(t)
    if objective == "crf":
        model = train_crf(
            texts, tags, iters=args.epochs,
            learn_trans=getattr(args, "learn_trans", False),
        )
    else:
        model = train_perceptron(texts, tags, epochs=args.epochs)
    save_model(model, args.model)
    print(f"trained ({objective}) on {len(texts)} turns -> {args.model}")
    if created:
        spark.stop()


def cmd_curate(args) -> None:
    """Corpus curation verb: documents parquet -> curated manifest parquet
    (per-stage keep flags + split), partitioned by split, plus a one-line
    JSON drop-reason report on stdout (curate.py)."""
    import json as _json

    from cliner_spark.curate import curate, curation_report

    spark, created = _get_cli_spark("cliner_spark.curate", args.master)
    docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    cur = curate(docs, bench)
    cur.write.partitionBy("split").mode("overwrite").parquet(args.output)
    rep = curation_report(spark.read.parquet(args.output)).collect()[0]
    print(_json.dumps(rep.asDict()))
    if created:
        spark.stop()


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="cliner_spark KG pipeline")
    sub = ap.add_subparsers(dest="cmd")

    p = sub.add_parser("predict", help="transcripts -> triples (flagship)")
    p.add_argument("--input", help="parquet transcripts (default: fixture)")
    p.add_argument("--output", required=True)
    p.add_argument("--scanner", default="udf", choices=["udf", "tagger"])
    p.add_argument(
        "--assertions",
        action="store_true",
        help="NegEx assertion pass: NEGATED_IN/HEDGED_IN refined edges",
    )
    p.add_argument("--master", default=None)
    p.add_argument("--hot-threshold", type=int, default=100_000)
    p.set_defaults(fn=cmd_predict)

    e = sub.add_parser("evaluate", help="pred vs gold mentions -> P/R/F1")
    e.add_argument("--predictions", required=True)
    e.add_argument("--gold", required=True)
    e.add_argument("--master", default=None)
    e.set_defaults(fn=cmd_evaluate)

    t = sub.add_parser(
        "train", help="tagger training (perceptron or CRF; local or distributed)"
    )
    t.add_argument("--input", required=True, help="parquet transcripts")
    t.add_argument("--gold", required=True, help="parquet gold mentions")
    t.add_argument("--model", required=True, help="output model dir")
    t.add_argument("--epochs", type=int, default=16)
    t.add_argument(
        "--objective",
        default="perceptron",
        choices=["perceptron", "crf"],
        help="perceptron = averaged structured perceptron; "
        "crf = L2-regularized conditional log-likelihood (forward-backward)",
    )
    t.add_argument(
        "--distributed",
        action="store_true",
        help="per-partition perceptrons + parameter mixing (no driver collect)",
    )
    t.add_argument(
        "--learn-trans",
        action="store_true",
        help="CRF only: learn transition weights over the legal IOB "
        "entries (crfsuite parity) instead of the fixed structural prior",
    )
    t.add_argument("--master", default=None)
    t.set_defaults(fn=cmd_train)

    c = sub.add_parser("curate", help="documents -> curated corpus manifest")
    c.add_argument("--input", required=True, help="parquet documents")
    c.add_argument("--output", required=True, help="curated manifest dir")
    c.add_argument("--benchmark", help="parquet eval docs for decontamination")
    c.add_argument("--master", default=None)
    c.set_defaults(fn=cmd_curate)

    argv = list(argv) if argv is not None else None
    import sys

    raw = argv if argv is not None else sys.argv[1:]
    # back-compat: bare `--input/--output ...` means predict
    if raw and raw[0].startswith("--"):
        raw = ["predict"] + raw
    args = ap.parse_args(raw)
    if not getattr(args, "fn", None):
        ap.error("missing subcommand (predict | evaluate | train)")
    args.fn(args)


if __name__ == "__main__":
    main()
