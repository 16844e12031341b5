"""Entity linking (SURVEY.md J2/J5/W3; reference: umls_features.py gazetteer
probe + interpret_umls.py longest-match/tie-break, approx/unverified §0).

Tie-break rule (mentions.py semantics 3; the SQL oracle, the python test
oracle and mentions.build_lexicon are checked against it): for a term with
several gazetteer rows, keep the row with the highest score, breaking score
ties by ascending cui (deterministic, no floats in keys downstream).

The pipeline's default scan links inside the scan (mentions.Lexicon); the
join here serves external detectors (the tagger path) and the registry.

Scale note: the tie-break runs on the *gazetteer* (dimension side, tiny)
BEFORE the join, so the fact-side join is a plain broadcast hash join —
zero shuffle of the mention stream, no window over the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def best_gazetteer(gazetteer: DataFrame) -> DataFrame:
    """One row per lowercase term: argmax_(score desc, cui asc)."""
    w = Window.partitionBy("term").orderBy(F.desc("score"), F.asc("cui"))
    return (
        gazetteer.withColumn("term", F.lower("term"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def link_mentions(mentions: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """mentions × broadcast(best-per-term gazetteer) -> linked mentions.

    Adds concept_type (= sem_type of the linked entry), cui, canonical,
    link_score. Inner join: unmatched mentions cannot exist when mentions came
    from the same gazetteer scan; kept inner for safety with external
    detectors (e.g. the Viterbi tagger path).
    """
    g = best_gazetteer(gazetteer).select(
        "term",
        F.col("cui"),
        F.col("sem_type").alias("concept_type"),
        F.col("canonical"),
        F.col("score").alias("link_score"),
    )
    return mentions.join(
        F.broadcast(g), F.lower(mentions["mention_text"]) == g["term"], "inner"
    ).drop("term")


def incremental_relink(
    linked_v1: DataFrame, mentions: DataFrame, gaz_v2: DataFrame, diff: DataFrame
) -> DataFrame:
    """Re-link ONLY what a gazetteer release touched: mentions whose
    lowercase term appears in the release diff (sources.gazetteer_diff) are
    re-scored against v2; everything else keeps its v1 link row untouched.

    Exactness: a term absent from the diff has an identical candidate set
    and scores in both releases, so its best-per-term row cannot change —
    the incremental result equals a full v2 re-link row-for-row. Terms
    REMOVED in v2 drop their links (inner join against v2 finds nothing);
    terms ADDED in v2 affect the mention SCAN, not re-linking — they are
    picked up by scanning new text with the v2 term list (the scan term
    automaton is itself a gazetteer-version artifact).

    Scale: the diff is release-sized (tiny) and broadcast twice (anti/semi);
    the corpus-sized linked table is never shuffled, and only the touched
    slice re-enters the broadcast link join.
    """
    terms = F.broadcast(
        diff.select(F.lower("term").alias("_dterm")).distinct()
    )
    keep = linked_v1.join(
        terms, F.lower(linked_v1["mention_text"]) == F.col("_dterm"), "left_anti"
    )
    stale = mentions.join(
        terms, F.lower(mentions["mention_text"]) == F.col("_dterm"), "left_semi"
    )
    return keep.unionByName(link_mentions(stale, gaz_v2))


def link_fuzzy(
    oov_mentions: DataFrame,
    gazetteer: DataFrame,
    max_dist: int = 2,
    text_col: str = "oov_text",
) -> DataFrame:
    """Typo-robust linking for mentions with no exact gazetteer hit:
    broadcast-nested-loop against the deduped gazetteer with a levenshtein
    bound, then rank-1 per mention by (distance asc, score desc, cui asc).

    Scale note: this runs only on the residual OOV stream (exact linking
    removes the bulk), and the candidate side is the broadcast dimension;
    the levenshtein bound is evaluated JVM-side (codegen), no UDF.
    """
    g = best_gazetteer(gazetteer).select(
        "term", "cui", F.col("score").alias("link_score")
    )
    dist = F.levenshtein(F.col(text_col), F.col("term"))
    j = oov_mentions.join(F.broadcast(g), dist <= max_dist).withColumn(
        "dist", dist.cast("int")
    )
    keys = [c for c in oov_mentions.columns if c != text_col]
    w = Window.partitionBy(*keys, text_col).orderBy(
        F.asc("dist"), F.desc("link_score"), F.asc("cui")
    )
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*oov_mentions.columns, "term", "cui", "dist")
    )
