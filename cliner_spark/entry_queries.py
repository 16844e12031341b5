"""Registry of driver-verifiable queries: every entry pairs a Spark
DataFrame implementation with an ANSI-SQL (DuckDB) oracle twin over the same
parquet tables (SURVEY.md §5.2.3). Column names/types are aligned on both
sides; float aggregations go through DECIMAL(38,4) so sums are exact and
order-independent (Spark partial aggregation vs DuckDB single-node summation
would otherwise differ in last ulps).

The `documents` table doubles as the transcript stand-in: conv_id =
doc_id % 97, turn_idx = rank of doc_id within the conv (both engines compute
this identically), text = text. The gazetteer for these queries is
fixtures.DOC_GAZETTEER, rendered as a literal VALUES list for DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cliner_spark import fixtures, schemas
from cliner_spark.canonicalize import canonical_concept_map
from cliner_spark.link import link_mentions
from cliner_spark.mentions import scan_mentions_udf
from cliner_spark.tokenization import sql_tokens, tokenize, tokens_col
from cliner_spark.triples import build_triples

# --------------------------------------------------------------------------


@dataclass
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None -> driver does rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(name, fn, sql)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def load_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table for compute-heavy (scan/shingle/tag) queries: the
    driver testdata is one small parquet file = one input split, which would
    serialize the whole stage on one core; ensure_parallelism is a no-op when
    the source provides real splits (production)."""
    from cliner_spark.session import ensure_parallelism

    return ensure_parallelism(load(spark, sf_dir, "documents"))


DOC_TERMS = sorted({t for (t, *_r) in fixtures.DOC_GAZETTEER})


def doc_gazetteer_df(spark: SparkSession) -> DataFrame:
    return fixtures.gazetteer_df(spark, fixtures.DOC_GAZETTEER)


GAZ_SQL = fixtures.gazetteer_values_sql(fixtures.DOC_GAZETTEER)

# Shared DuckDB CTE fragments ------------------------------------------------

# tokens per document (empty/blank-safe, the DuckDB twin of tokens_col)
SQL_DOCS_TOKS = f"""
docs AS (
  SELECT doc_id, text, {sql_tokens()} AS toks
  FROM documents
)
"""

# candidate n-grams (n=1..4) + gazetteer match + dominance filter
# (mirrors mentions.scan_mentions_udf; semantics doc in mentions.py)
SQL_KEPT_MENTIONS = f"""
gazv AS (SELECT * FROM {GAZ_SQL}),
cand AS (
  SELECT d.doc_id, CAST(t.i AS INTEGER) AS tok_start,
         CAST(t.i + n.n - 1 AS INTEGER) AS tok_end,
         lower(array_to_string(d.toks[t.i + 1 : t.i + n.n], ' ')) AS term
  FROM docs d,
       unnest(range(len(d.toks))) AS t(i),
       (VALUES (1), (2), (3), (4)) AS n(n)
  WHERE t.i + n.n <= len(d.toks)
),
matched AS (
  SELECT DISTINCT c.doc_id, c.tok_start, c.tok_end, c.term
  FROM cand c WHERE c.term IN (SELECT term FROM gazv)
),
kept AS (
  SELECT m.* FROM matched m
  WHERE NOT EXISTS (
    SELECT 1 FROM matched o
    WHERE o.doc_id = m.doc_id
      AND o.tok_start <= m.tok_end AND o.tok_end >= m.tok_start
      AND (o.tok_end - o.tok_start > m.tok_end - m.tok_start
           OR (o.tok_end - o.tok_start = m.tok_end - m.tok_start
               AND o.tok_start < m.tok_start))
  )
),
mentions AS (
  SELECT k.doc_id, k.tok_start, k.tok_end,
         array_to_string(d.toks[k.tok_start + 1 : k.tok_end + 1], ' ') AS mention_text
  FROM kept k JOIN docs d USING (doc_id)
)
"""

# best gazetteer row per term: score desc, cui asc (mirrors link.best_gazetteer)
SQL_BEST_GAZ = """
best_gaz AS (
  SELECT term, cui, sem_type AS concept_type, canonical, score AS link_score
  FROM (SELECT g.*, row_number() OVER (PARTITION BY term ORDER BY score DESC, cui ASC) AS rn
        FROM gazv g)
  WHERE rn = 1
)
"""

SQL_LINKED = """
linked AS (
  SELECT m.doc_id, m.tok_start, m.tok_end, m.mention_text,
         b.cui, b.concept_type, b.canonical, b.link_score
  FROM mentions m JOIN best_gaz b ON lower(m.mention_text) = b.term
)
"""

# connected components over the concept graph (mirrors canonicalize.py):
# nodes = cuis, edges = shared normalized surface string; label = min reachable
SQL_CANON = """
strings AS (
  SELECT cui, lower(term) AS s FROM gazv
  UNION
  SELECT cui, lower(canonical) AS s FROM gazv
),
cedges AS (
  SELECT DISTINCT a.cui AS src, b.cui AS dst
  FROM strings a JOIN strings b ON a.s = b.s AND a.cui <> b.cui
),
reach(src, dst) AS (
  SELECT cui, cui FROM (SELECT DISTINCT cui FROM gazv)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN cedges e ON r.dst = e.src
),
canon AS (SELECT src AS cui, min(dst) AS canon_cui FROM reach GROUP BY src)
"""


def _doc_mentions_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept mentions over documents with doc_id key (Spark side)."""
    docs = load_docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        "text",
    )
    m = scan_mentions_udf(docs, DOC_TERMS)
    return m.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "tok_start",
        "tok_end",
        "mention_text",
    )


# ===========================================================================
# Pipeline family (SURVEY.md §2: S1, P1–P4, J2, J5, O2, A4, U2)
# ===========================================================================


@register(
    "q_tokenize_stats",
    f"""
WITH {SQL_DOCS_TOKS}
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       toks[1] AS first_tok, toks[len(toks)] AS last_tok
FROM docs
""",
)
def q_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tokenize(load_docs(spark, sf_dir))
    return docs.select(
        "doc_id",
        F.size("tokens").cast("bigint").alias("n_tokens"),
        F.get("tokens", 0).alias("first_tok"),
        F.get("tokens", F.size("tokens") - 1).alias("last_tok"),
    )


SQL_MENTION_SCAN = f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}
SELECT doc_id, tok_start, tok_end, mention_text FROM mentions
"""


@register("q_mention_scan", SQL_MENTION_SCAN)
def q_mention_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_mentions_spark(spark, sf_dir)


@register(
    "q_link_top1",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}
SELECT doc_id, tok_start, tok_end, mention_text, cui, concept_type, link_score
FROM linked
""",
)
def q_link_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _doc_mentions_spark(spark, sf_dir).withColumnRenamed("doc_id", "conv_id")
    linked = link_mentions(
        m.withColumn("turn_idx", F.lit(0)), doc_gazetteer_df(spark)
    )
    return linked.select(
        F.col("conv_id").alias("doc_id"),
        "tok_start",
        "tok_end",
        "mention_text",
        "cui",
        "concept_type",
        "link_score",
    )


@register(
    "q_concept_counts",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}
SELECT cui, concept_type, CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM linked GROUP BY cui, concept_type
""",
)
def q_concept_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _doc_mentions_spark(spark, sf_dir).withColumnRenamed("doc_id", "conv_id")
    linked = link_mentions(m.withColumn("turn_idx", F.lit(0)), doc_gazetteer_df(spark))
    return linked.groupBy("cui", "concept_type").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("conv_id").alias("n_docs"),
    )


_CANON_ROWS: list | None = None


def cached_canon_map(spark: SparkSession) -> DataFrame:
    """The fixture gazetteer's canonical-concept map as a per-process
    artifact: computed ONCE by the real distributed CC (q_canonical_cc
    verifies that operator directly), then reused by every downstream
    consumer as a dimension-sized literal DataFrame — mirroring production,
    where the canon map is a gazetteer-release artifact table read by the
    pipeline, not recomputed per query. Collecting it is legitimate (it is
    broadcast-sized by definition: one row per gazetteer cui).
    """
    global _CANON_ROWS
    if _CANON_ROWS is None:
        _CANON_ROWS = [
            (r["cui"], r["canon_cui"])
            for r in canonical_concept_map(doc_gazetteer_df(spark)).collect()
        ]
    return spark.createDataFrame(_CANON_ROWS, "cui string, canon_cui string")


@register(
    "q_canonical_cc",
    f"""
WITH RECURSIVE gazv AS (SELECT * FROM {GAZ_SQL}), {SQL_CANON}
SELECT cui, canon_cui FROM canon
""",
)
def q_canonical_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return canonical_concept_map(doc_gazetteer_df(spark))


@register(
    "q_canonical_cc_twostar",
    f"""
WITH RECURSIVE gazv AS (SELECT * FROM {GAZ_SQL}), {SQL_CANON}
SELECT cui, canon_cui FROM canon
""",
)
def q_canonical_cc_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same canonical map, computed by the alternating large-star/small-star
    algorithm (canonicalize.connected_components_twostar — proven O(log n)
    rounds, Kiveris et al. 2014) instead of min-label propagation. Shares
    q_canonical_cc's oracle: both must produce the identical component-min
    labelling."""
    from cliner_spark.canonicalize import concept_edges, connected_components_twostar

    gaz = doc_gazetteer_df(spark)
    comps = connected_components_twostar(
        concept_edges(gaz), nodes=gaz.select(F.col("cui").alias("node")).distinct()
    )
    return comps.select(F.col("node").alias("cui"), F.col("comp").alias("canon_cui"))


SQL_TRIPLES = f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_CANON},
tx AS (
  SELECT doc_id, CAST(doc_id % 97 AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY doc_id % 97 ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx
  FROM documents
),
lm AS (
  SELECT t.conv_id, t.turn_idx, m.tok_start, b.cui, c.canon_cui
  FROM mentions m
  JOIN best_gaz b ON lower(m.mention_text) = b.term
  JOIN canon c ON b.cui = c.cui
  JOIN tx t ON m.doc_id = t.doc_id
)
SELECT 'conv:' || conv_id AS subj, 'MENTIONS' AS pred,
       'concept:' || canon_cui AS obj, conv_id, CAST(min(turn_idx) AS INTEGER) AS turn_idx
FROM lm GROUP BY conv_id, canon_cui
UNION ALL
SELECT DISTINCT 'concept:' || canon_cui, 'ASSERTED_IN',
       'turn:' || conv_id || '#' || turn_idx, conv_id, turn_idx
FROM lm
UNION ALL
SELECT 'mention:' || conv_id || '#' || turn_idx || '#' || tok_start, 'LINKED_TO',
       'concept:' || cui, conv_id, turn_idx
FROM lm
UNION ALL
SELECT 'concept:' || cui, 'SAME_AS', 'concept:' || canon_cui, conv_id, turn_idx
FROM (
  SELECT cui, canon_cui, conv_id, turn_idx,
         row_number() OVER (PARTITION BY cui, canon_cui
                            ORDER BY conv_id ASC, turn_idx ASC) AS rn
  FROM lm WHERE cui <> canon_cui
) WHERE rn = 1
"""


def _doc_linked_transcript(spark: SparkSession, sf_dir: str):
    """documents-as-transcript -> linked mentions + gazetteer (shared by the
    triple-family queries)."""
    docs = load_docs(spark, sf_dir)
    w = Window.partitionBy(F.col("doc_id") % 97).orderBy("doc_id")
    tx = docs.select(
        (F.col("doc_id") % 97).cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        "text",
        F.lit("user").alias("role"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    gaz = doc_gazetteer_df(spark)
    mentions = scan_mentions_udf(tx, DOC_TERMS)
    return link_mentions(mentions, gaz), gaz


@register("q_triples", SQL_TRIPLES)
def q_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    linked, gaz = _doc_linked_transcript(spark, sf_dir)
    return build_triples(linked, canon_map=cached_canon_map(spark))


@register("q_triple_upsert", SQL_TRIPLES)
def q_triple_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG maintenance (triples.merge_triples): the transcript
    arrives as two batches (even turns, then odd turns); triples are built
    per batch and merged with min-provenance upsert. Because every per-key
    aggregate in build_triples is a min, the merged KG must equal the
    single-shot build row-for-row — the oracle is q_triples' SQL verbatim.
    """
    from cliner_spark.triples import merge_triples

    linked, gaz = _doc_linked_transcript(spark, sf_dir)
    linked = linked.localCheckpoint(eager=True)  # one scan, two batch filters
    canon = cached_canon_map(spark)
    batch_a = build_triples(linked.filter(F.col("turn_idx") % 2 == 0), canon_map=canon)
    batch_b = build_triples(linked.filter(F.col("turn_idx") % 2 == 1), canon_map=canon)
    return merge_triples(batch_a, batch_b)


ENTRY_QUERY = "q_triples"


# ===========================================================================
# Evaluation family (SURVEY.md J3/J4/U1/A1/A2; reference code/evaluate.py)
# gold = all linked mentions; pred = gold with deterministic perturbations:
#   - dropped where (doc_id + tok_start) % 11 = 3          -> false negatives
#   - mislabeled 'problem' where (doc_id + tok_end) % 13 = 5 -> FP+FN pairs
# ===========================================================================

SQL_PRED_GOLD = f"""
{SQL_BEST_GAZ}, {SQL_LINKED},
gold AS (
  SELECT doc_id, tok_start, tok_end, concept_type FROM linked
),
pred AS (
  SELECT doc_id, tok_start, tok_end,
         CASE WHEN (doc_id + tok_end) % 13 = 5 THEN 'problem' ELSE concept_type END AS concept_type
  FROM linked
  WHERE (doc_id + tok_start) % 11 <> 3
)
"""


def _pred_gold_spark(spark: SparkSession, sf_dir: str):
    m = _doc_mentions_spark(spark, sf_dir).withColumnRenamed("doc_id", "conv_id")
    linked = link_mentions(m.withColumn("turn_idx", F.lit(0)), doc_gazetteer_df(spark))
    gold = linked.select(
        F.col("conv_id").cast("bigint").alias("doc_id"), "tok_start", "tok_end", "concept_type"
    ).cache()  # pred + 3 TP/FP/FN branches reuse it: one scan, not six
    pred = (
        gold.filter((F.col("doc_id") + F.col("tok_start")) % 11 != 3)
        .withColumn(
            "concept_type",
            F.when((F.col("doc_id") + F.col("tok_end")) % 13 == 5, F.lit("problem")).otherwise(
                F.col("concept_type")
            ),
        )
    )
    return pred, gold


_EVAL_KEYS = ["doc_id", "tok_start", "tok_end", "concept_type"]


@register(
    "q_eval_exact",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_PRED_GOLD}
SELECT t.concept_type,
  CAST((SELECT count(*) FROM pred p WHERE p.concept_type = t.concept_type
        AND EXISTS (SELECT 1 FROM gold g WHERE g.doc_id = p.doc_id
          AND g.tok_start = p.tok_start AND g.tok_end = p.tok_end
          AND g.concept_type = p.concept_type)) AS BIGINT) AS tp,
  CAST((SELECT count(*) FROM pred p WHERE p.concept_type = t.concept_type
        AND NOT EXISTS (SELECT 1 FROM gold g WHERE g.doc_id = p.doc_id
          AND g.tok_start = p.tok_start AND g.tok_end = p.tok_end
          AND g.concept_type = p.concept_type)) AS BIGINT) AS fp,
  CAST((SELECT count(*) FROM gold g WHERE g.concept_type = t.concept_type
        AND NOT EXISTS (SELECT 1 FROM pred p WHERE p.doc_id = g.doc_id
          AND p.tok_start = g.tok_start AND p.tok_end = g.tok_end
          AND p.concept_type = g.concept_type)) AS BIGINT) AS fn
FROM (SELECT DISTINCT concept_type FROM pred
      UNION SELECT DISTINCT concept_type FROM gold) t
""",
)
def q_eval_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred, gold = _pred_gold_spark(spark, sf_dir)
    p = pred.select(*_EVAL_KEYS).distinct()
    g = gold.select(*_EVAL_KEYS).distinct()
    tp = p.join(g, _EVAL_KEYS, "left_semi").groupBy("concept_type").agg(F.count(F.lit(1)).alias("tp"))
    fp = p.join(g, _EVAL_KEYS, "left_anti").groupBy("concept_type").agg(F.count(F.lit(1)).alias("fp"))
    fn = g.join(p, _EVAL_KEYS, "left_anti").groupBy("concept_type").agg(F.count(F.lit(1)).alias("fn"))
    types = p.select("concept_type").unionByName(g.select("concept_type")).distinct()
    return (
        types.join(tp, "concept_type", "left")
        .join(fp, "concept_type", "left")
        .join(fn, "concept_type", "left")
        .fillna(0, subset=["tp", "fp", "fn"])
    )


@register(
    "q_eval_overlap",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_PRED_GOLD}
SELECT t.concept_type,
  CAST((SELECT count(*) FROM pred p WHERE p.concept_type = t.concept_type
        AND EXISTS (SELECT 1 FROM gold g WHERE g.doc_id = p.doc_id
          AND g.concept_type = p.concept_type
          AND p.tok_start <= g.tok_end AND p.tok_end >= g.tok_start)) AS BIGINT) AS tp,
  CAST((SELECT count(*) FROM pred p WHERE p.concept_type = t.concept_type
        AND NOT EXISTS (SELECT 1 FROM gold g WHERE g.doc_id = p.doc_id
          AND g.concept_type = p.concept_type
          AND p.tok_start <= g.tok_end AND p.tok_end >= g.tok_start)) AS BIGINT) AS fp,
  CAST((SELECT count(*) FROM gold g WHERE g.concept_type = t.concept_type
        AND NOT EXISTS (SELECT 1 FROM pred p WHERE p.doc_id = g.doc_id
          AND p.concept_type = g.concept_type
          AND g.tok_start <= p.tok_end AND g.tok_end >= p.tok_start)) AS BIGINT) AS fn
FROM (SELECT DISTINCT concept_type FROM pred
      UNION SELECT DISTINCT concept_type FROM gold) t
""",
)
def q_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred, gold = _pred_gold_spark(spark, sf_dir)
    from cliner_spark.evaluate import overlap_match_counts

    p = pred.withColumnRenamed("doc_id", "conv_id").withColumn("turn_idx", F.lit(0))
    g = gold.withColumnRenamed("doc_id", "conv_id").withColumn("turn_idx", F.lit(0))
    return overlap_match_counts(p, g)


@register(
    "q_prf",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_PRED_GOLD},
joined AS (
  SELECT p.concept_type, 1 AS tp, 0 AS fp, 0 AS fn FROM pred p
  WHERE EXISTS (SELECT 1 FROM gold g WHERE g.doc_id = p.doc_id
    AND g.tok_start = p.tok_start AND g.tok_end = p.tok_end
    AND g.concept_type = p.concept_type)
  UNION ALL
  SELECT p.concept_type, 0, 1, 0 FROM pred p
  WHERE NOT EXISTS (SELECT 1 FROM gold g WHERE g.doc_id = p.doc_id
    AND g.tok_start = p.tok_start AND g.tok_end = p.tok_end
    AND g.concept_type = p.concept_type)
  UNION ALL
  SELECT g.concept_type, 0, 0, 1 FROM gold g
  WHERE NOT EXISTS (SELECT 1 FROM pred p WHERE p.doc_id = g.doc_id
    AND p.tok_start = g.tok_start AND p.tok_end = g.tok_end
    AND p.concept_type = g.concept_type)
),
counts AS (
  SELECT coalesce(concept_type, 'ALL') AS concept_type,
         CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(fp) AS BIGINT) AS fp,
         CAST(sum(fn) AS BIGINT) AS fn
  FROM joined GROUP BY ROLLUP (concept_type)
)
SELECT concept_type, tp, fp, fn,
  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END AS precision,
  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END AS recall
FROM counts
""",
)
def q_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred, gold = _pred_gold_spark(spark, sf_dir)
    p = pred.select(*_EVAL_KEYS).distinct()
    g = gold.select(*_EVAL_KEYS).distinct()
    tp = p.join(g, _EVAL_KEYS, "left_semi").select("concept_type", F.lit(1).alias("tp"), F.lit(0).alias("fp"), F.lit(0).alias("fn"))
    fp = p.join(g, _EVAL_KEYS, "left_anti").select("concept_type", F.lit(0).alias("tp"), F.lit(1).alias("fp"), F.lit(0).alias("fn"))
    fn = g.join(p, _EVAL_KEYS, "left_anti").select("concept_type", F.lit(0).alias("tp"), F.lit(0).alias("fp"), F.lit(1).alias("fn"))
    joined = tp.unionByName(fp).unionByName(fn)
    counts = (
        joined.rollup("concept_type")
        .agg(F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn"))
        .withColumn("concept_type", F.coalesce(F.col("concept_type"), F.lit("ALL")))
    )
    prec = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(F.lit(0.0))
    rec = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(F.lit(0.0))
    return counts.withColumn("precision", prec).withColumn("recall", rec)


@register(
    "q_confusion",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_PRED_GOLD}
SELECT g.concept_type AS gold_type, p.concept_type AS pred_type,
       CAST(count(*) AS BIGINT) AS n
FROM gold g JOIN pred p
  ON g.doc_id = p.doc_id AND g.tok_start = p.tok_start AND g.tok_end = p.tok_end
GROUP BY 1, 2
""",
)
def q_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred, gold = _pred_gold_spark(spark, sf_dir)
    keys = ["doc_id", "tok_start", "tok_end"]
    return (
        gold.withColumnRenamed("concept_type", "gold_type")
        .join(pred.withColumnRenamed("concept_type", "pred_type"), keys)
        .groupBy("gold_type", "pred_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ===========================================================================
# Window / ordering family (SURVEY.md W1–W3, O1; common OLAP patterns)
# ===========================================================================


@register(
    "q_topk_events",
    """
SELECT user_id, event_id, value, rn FROM (
  SELECT user_id, event_id, value,
         CAST(row_number() OVER (PARTITION BY user_id
              ORDER BY value DESC, event_id ASC) AS INTEGER) AS rn
  FROM events
) WHERE rn <= 3
""",
)
def q_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )


@register(
    "q_lag_delta",
    """
SELECT event_id, user_id, value,
       lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
       value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
FROM events
""",
)
def q_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "q_sessionize",
    """
WITH flagged AS (
  SELECT user_id, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM (SELECT * FROM flagged) _
),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(max(n_events) AS BIGINT) AS max_session_len
FROM per_session GROUP BY user_id
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE: events are ordered by (ts, event_id) for gap detection; the
    # running session counter uses event_id ordering (event_id is unique and
    # correlates with ts) so both engines cumsum identically.
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_s"),
    )
    w2 = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(Window.unboundedPreceding, 0)
    sess = flagged.withColumn("session_id", F.sum("new_s").over(w2))
    per_session = sess.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n_events"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_len"),
    )


@register(
    "q_asof_join",
    """
SELECT event_id, user_id, o_orderkey FROM (
  SELECT e.event_id, e.user_id, o.o_orderkey,
         row_number() OVER (PARTITION BY e.event_id
             ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) AS rn
  FROM events e LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
) WHERE rn = 1
""",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark lacks a native one): equi key + range predicate,
    then rank-1 per event. The orders side is broadcast (dimension-sized
    relative to the event stream at scale)."""
    ev = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    j = ev.join(
        F.broadcast(orders),
        (F.col("o_custkey") == F.col("user_id")) & (F.col("o_orderdate") <= F.col("ts")),
        "left",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.desc_nulls_last("o_orderdate"), F.desc_nulls_last("o_orderkey")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "o_orderkey")
    )


# ===========================================================================
# Relational family over the TPC-H-ish tables (A1–A3 analogs, joins, rollup)
# Float sums go through DECIMAL(38,4) per-row casts so both engines are exact.
# ===========================================================================


@register(
    "q_tpch_q1",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,4)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,4)")).cast("double").alias("sum_base_price"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,4)"))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q_revenue_by_nation",
    """
SELECT n.n_name,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
       CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY n.n_name
""",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,4)"))
            .cast("double")
            .alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


@register(
    "q_cust_no_orders",
    """
SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY n.n_name
""",
)
def q_cust_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "q_rollup_sales",
    """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(38,4)")).cast("double").alias("sum_qty"),
        )
        .withColumn("l_returnflag", F.coalesce(F.col("l_returnflag"), F.lit("ALL")))
        .withColumn("l_linestatus", F.coalesce(F.col("l_linestatus"), F.lit("ALL")))
    )


@register(
    "q_cube_events",
    """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(user_id % 10 AS VARCHAR), 'ALL') AS user_bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY CUBE (event_type, CAST(user_id % 10 AS VARCHAR))
""",
)
def q_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("user_bucket", (F.col("user_id") % 10).cast("string"))
        .cube("event_type", "user_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("sum_value"),
        )
        .withColumn("event_type", F.coalesce(F.col("event_type"), F.lit("ALL")))
        .withColumn("user_bucket", F.coalesce(F.col("user_bucket"), F.lit("ALL")))
    )


@register(
    "q_percentiles",
    """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
""",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles — Spark `percentile` and DuckDB
    `quantile_cont` share linear-interpolation semantics. (At 100 TB you'd
    use approx_percentile/t-digest; the exact op is the oracle-checkable
    form and the semantics anchor.)"""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@register(
    "q_fuzzy_link",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
oov AS (
  SELECT doc_id, tok_start, tok_end,
         substr(lower(mention_text), 1, length(mention_text) - 1) AS oov_text
  FROM linked WHERE length(mention_text) > 3
),
fcand AS (
  SELECT o.doc_id, o.tok_start, o.tok_end, o.oov_text, b.term, b.cui,
         levenshtein(o.oov_text, b.term) AS dist, b.link_score
  FROM oov o, best_gaz b
  WHERE levenshtein(o.oov_text, b.term) <= 2
)
SELECT doc_id, tok_start, tok_end, oov_text, term, cui, CAST(dist AS INTEGER) AS dist
FROM (
  SELECT c.*, row_number() OVER (
      PARTITION BY doc_id, tok_start, tok_end
      ORDER BY dist ASC, link_score DESC, cui ASC) AS rn
  FROM fcand c
) WHERE rn = 1
""",
)
def q_fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity linking for OOV surface forms (typo robustness):
    edit-distance <= 2 against the broadcast gazetteer, best candidate by
    (distance asc, score desc, cui asc). OOV set is simulated
    deterministically by truncating linked mentions' last character."""
    from cliner_spark.link import best_gazetteer, link_fuzzy

    m = _doc_mentions_spark(spark, sf_dir).withColumnRenamed("doc_id", "conv_id")
    linked = link_mentions(m.withColumn("turn_idx", F.lit(0)), doc_gazetteer_df(spark))
    oov = linked.filter(F.length("mention_text") > 3).select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "tok_start",
        "tok_end",
        F.expr("substring(lower(mention_text), 1, length(mention_text) - 1)").alias(
            "oov_text"
        ),
    )
    return link_fuzzy(oov, doc_gazetteer_df(spark), max_dist=2)


@register(
    "q_events_hourly",
    """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("sum_value"),
        )
    )


# ===========================================================================
# Dedup / similarity / text-analysis family (driver mandate beyond the
# reference: exact + MinHash-LSH + n-gram Jaccard + SimHash dedup, ANN
# search, quality scoring, token counting, fingerprinting, multimodal meta)
# ===========================================================================

from cliner_spark import dedup as _dedup
from cliner_spark import multimodal as _mm
from cliner_spark import similarity as _sim
from cliner_spark import textstats as _ts

SQL_SHINGLES_3 = """
sh AS (
  SELECT DISTINCT d.doc_id,
         lower(array_to_string(d.toks[t.i + 1 : t.i + 3], ' ')) AS shingle
  FROM docs d, unnest(range(len(d.toks))) AS t(i)
  WHERE t.i + 3 <= len(d.toks)
)
"""

SQL_SHINGLES_2 = """
sh2 AS (
  SELECT DISTINCT d.doc_id,
         lower(array_to_string(d.toks[t.i + 1 : t.i + 2], ' ')) AS shingle
  FROM docs d, unnest(range(len(d.toks))) AS t(i)
  WHERE t.i + 2 <= len(d.toks)
)
"""


@register(
    "q_dedup_exact",
    f"""
WITH {SQL_DOCS_TOKS}
SELECT md5(lower(array_to_string(toks, ' '))) AS fp,
       min(doc_id) AS representative, CAST(count(*) AS BIGINT) AS n_docs
FROM docs GROUP BY 1
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.exact_dup_groups(load(spark, sf_dir, "documents"))


@register(
    "q_jaccard_pairs",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_SHINGLES_3},
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) <= 50),
shf AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(common AS BIGINT) AS common,
       CAST(sa.sz AS BIGINT) AS size_a, CAST(sb.sz AS BIGINT) AS size_b,
       CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
FROM common
JOIN sizes sa ON common.doc_a = sa.doc_id
JOIN sizes sb ON common.doc_b = sb.doc_id
""",
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.jaccard_pairs(load_docs(spark, sf_dir), n=3, df_cut=50)


@register(
    "q_minhash_lsh",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_SHINGLES_2},
sig AS (
  SELECT doc_id,
         min(md5('0#' || shingle)) AS h0, min(md5('1#' || shingle)) AS h1,
         min(md5('2#' || shingle)) AS h2, min(md5('3#' || shingle)) AS h3
  FROM sh2 GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, h0 AS sig FROM sig
  UNION ALL SELECT doc_id, 1, h1 FROM sig
  UNION ALL SELECT doc_id, 2, h2 FROM sig
  UNION ALL SELECT doc_id, 3, h3 FROM sig
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_bands
FROM bands a JOIN bands b
  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
""",
)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.lsh_candidate_pairs(load_docs(spark, sf_dir), min_bands=2)


@register(
    "q_dup_clusters",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_SHINGLES_3},
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) <= 50),
shf AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON common.doc_a = sa.doc_id
  JOIN sizes sb ON common.doc_b = sb.doc_id
  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.5
),
dedges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT r.src, e.dst FROM reach r JOIN dedges e ON r.dst = e.src
)
SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
""",
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: Jaccard pair graph -> connected components
    (iterative DataFrame label propagation); singletons self-clustered."""
    return _dedup.dup_clusters(load_docs(spark, sf_dir), min_jaccard=0.5)


@register(
    "q_surface_forms",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}
SELECT b.cui AS canon_cui, lower(m.mention_text) AS surface,
       CAST(count(*) AS BIGINT) AS n_mentions
FROM mentions m JOIN best_gaz b ON lower(m.mention_text) = b.term
GROUP BY 1, 2
""",
)
def q_surface_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase surface-form aggregation (A4). The oracle uses a
    plain GROUP BY — salting must not change the counts. canon_cui here is
    the linked cui (identity canon map keeps the oracle simple; the CC-based
    map is oracle-checked separately in q_canonical_cc/q_triples)."""
    from cliner_spark.canonicalize import surface_form_counts

    m = _doc_mentions_spark(spark, sf_dir).withColumnRenamed("doc_id", "conv_id")
    linked = link_mentions(m.withColumn("turn_idx", F.lit(0)), doc_gazetteer_df(spark))
    return surface_form_counts(linked.withColumn("canon_cui", F.col("cui")))


@register(
    "q_simhash",
    f"""
WITH {SQL_DOCS_TOKS},
tok AS (
  SELECT d.doc_id, substr(md5(lower(u.tok)), 1, 4) AS hx
  FROM docs d, unnest(d.toks) AS u(tok)
),
bits AS (
  SELECT doc_id, p.p AS p,
         ((strpos('0123456789abcdef', substr(hx, (p.p // 4) + 1, 1)) - 1)
          // (1 << (p.p % 4))) % 2 AS bit
  FROM tok, unnest(range(16)) AS p(p)
),
sums AS (SELECT doc_id, p, sum(2 * bit - 1) AS s FROM bits GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS simhash
FROM sums GROUP BY doc_id
""",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.simhash(load_docs(spark, sf_dir), bits=16)


@register(
    "q_embedding_topk",
    """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
j AS (
  SELECT query_id, neighbor_id,
         round(list_sum(list_transform(range(len(qv)), i -> qv[i+1] * cv[i+1]))
               / sqrt(list_sum(list_transform(qv, x -> x * x))
                      * list_sum(list_transform(cv, x -> x * x))), 6) AS sim
  FROM c, q WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, sim, rn FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rn
  FROM j
) WHERE rn <= 3
""",
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    return _sim.brute_force_topk(emb, F.col("vec_id") < 20, k=3)


def _ivf_index_dir(sf_dir: str) -> str:
    """Per-corpus IVF index artifact location (prod: an Iceberg table keyed
    by corpus snapshot; here: a per-user cache path keyed by the corpus
    content fingerprint, so in-place corpus regeneration invalidates the
    index — see artifacts.py)."""
    from cliner_spark import artifacts

    return artifacts.artifact_path("ivf", sf_dir, "v1")


# --- shared ANN SQL fragments (DuckDB twins of similarity.py) --------------

SQL_EMB = "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"


def _sql_cos(a: str, b: str) -> str:
    """Rounded cosine, identical formulation to similarity.cosine_sim."""
    return (
        f"round(list_sum(list_transform(range(64), i -> {a}[i+1] * {b}[i+1]))"
        f" / sqrt(list_sum(list_transform({a}, x -> x * x))"
        f" * list_sum(list_transform({b}, x -> x * x))), 6)"
    )


SQL_EXACT_TOPK = f"""
exact AS (
  SELECT query_id, neighbor_id, sim, rn FROM (
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rn
    FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {_sql_cos('q.v', 'c.v')} AS sim
          FROM e c, e q WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)
  ) WHERE rn <= 3
)
"""

# seeded IVF: cells = argmax rounded cosine to the 16 corpus vectors with the
# smallest md5(vec_id); queries probe their 4 best cells; exact rerank inside
SQL_SEEDED_TOPK = f"""
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
         AS INTEGER) - 1 AS cell, v AS centroid
  FROM (SELECT * FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
),
ssims AS (
  SELECT e.vec_id, e.v, s.cell, {_sql_cos('e.v', 's.centroid')} AS csim
  FROM e CROSS JOIN seeds s
),
scells AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id
           ORDER BY csim DESC, cell ASC) AS r FROM ssims) WHERE r = 1
),
sprobes AS (
  SELECT vec_id AS query_id, v AS qv, cell FROM (
    SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id
           ORDER BY csim DESC, cell ASC) AS r
    FROM ssims WHERE vec_id < 20) WHERE r <= 4
),
seeded AS (
  SELECT query_id, neighbor_id, sim, rn FROM (
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rn
    FROM (SELECT p.query_id, c.vec_id AS neighbor_id,
                 {_sql_cos('p.qv', 'c.v')} AS sim
          FROM scells c JOIN sprobes p USING (cell)
          WHERE p.query_id <> c.vec_id)
  ) WHERE rn <= 3
)
"""

# residual IVF-PQ (FAISS IVFADC, round-4): exact integer-micro-unit cell-
# mean anchors, residual frames, seeded residual codebook, per-(query,
# probed-cell) LUT, ADC ranking. Requires e/seeds/scells/sprobes (SQL_EMB +
# SQL_SEEDED_TOPK) upstream. Mirrors similarity.cell_mean_anchors /
# ivfpq_residual_topk exactly.
SQL_RESIDUAL_CTES = """
aex AS (
  SELECT cell, CAST(t.i AS INT) AS d,
         CAST(round(v[t.i + 1] * 1e6) AS BIGINT) AS xv
  FROM scells, unnest(range(64)) AS t(i)
),
anch AS (
  SELECT cell, list(a ORDER BY d) AS anchor FROM (
    SELECT cell, d, CAST(sum(xv) AS DOUBLE) / count(*) / 1e6 AS a
    FROM aex GROUP BY cell, d
  ) GROUP BY cell
),
res AS (
  SELECT sc.vec_id, sc.cell,
         list_transform(range(64), i -> sc.v[i + 1] - an.anchor[i + 1]) AS rv
  FROM scells sc JOIN anch an USING (cell)
),
rsub AS (
  SELECT m.m, r.vec_id, r.cell, r.rv[m.m * 16 + 1 : m.m * 16 + 16] AS sv
  FROM res r, (SELECT unnest(range(4)) AS m) m
),
rcb AS (
  SELECT m, sv,
         CAST(row_number() OVER (PARTITION BY m
              ORDER BY md5(m::VARCHAR || '#' || vec_id::VARCHAR), vec_id)
              AS INTEGER) - 1 AS code
  FROM rsub
  QUALIFY code < 8
),
rdist AS (
  SELECT s.vec_id, s.m, c.code,
         round(list_sum(list_transform(range(16),
               i -> (s.sv[i + 1] - c.sv[i + 1]) * (s.sv[i + 1] - c.sv[i + 1]))),
               6) AS d
  FROM rsub s JOIN rcb c USING (m)
),
rbestd AS (
  SELECT vec_id, m, code, d FROM (
    SELECT vec_id, m, code, d,
           row_number() OVER (PARTITION BY vec_id, m
                ORDER BY d ASC, code ASC) AS rn
    FROM rdist
  ) WHERE rn = 1
),
qres AS (
  SELECT p.query_id, p.cell,
         list_transform(range(64), i -> p.qv[i + 1] - an.anchor[i + 1]) AS qrv
  FROM sprobes p JOIN anch an USING (cell)
),
rqlut AS (
  SELECT q.query_id, q.cell, c.m, c.code,
         round(list_sum(list_transform(range(16),
               i -> (q.qrv[c.m * 16 + i + 1] - c.sv[i + 1])
                  * (q.qrv[c.m * 16 + i + 1] - c.sv[i + 1]))), 6) AS d
  FROM qres q, rcb c
),
rcand AS (
  SELECT p.query_id, p.cell, s.vec_id AS neighbor_id
  FROM sprobes p JOIN scells s USING (cell)
  WHERE s.vec_id <> p.query_id
),
rpaird AS (
  SELECT c.query_id, c.neighbor_id, b.m, l.d
  FROM rcand c
  JOIN rbestd b ON b.vec_id = c.neighbor_id
  JOIN rqlut l ON l.query_id = c.query_id AND l.cell = c.cell
              AND l.m = b.m AND l.code = b.code
),
radist AS (
  SELECT query_id, neighbor_id,
         round(((max(CASE WHEN m = 0 THEN d END)
               + max(CASE WHEN m = 1 THEN d END))
               + max(CASE WHEN m = 2 THEN d END))
               + max(CASE WHEN m = 3 THEN d END), 6) AS adist
  FROM rpaird GROUP BY 1, 2
)
"""

# sign-random-projection LSH: weights from md5('{plane}#{dim}') first hex
# digit (same grammar as similarity._projection_sign), projection rounded to
# 6 dp before the sign test on both engines
def _sql_lsh_buckets(n_planes: int) -> str:
    """CTEs w/bk/b: per-vector LSH bucket id over n_planes hyperplanes."""
    return f"""
w AS (
  SELECT p, list(CASE WHEN substr(md5(CAST(p AS VARCHAR) || '#' ||
                                      CAST(d AS VARCHAR)), 1, 1)
                      BETWEEN '0' AND '7' THEN 1.0 ELSE -1.0 END
                 ORDER BY d) AS wv
  FROM range({n_planes}) tp(p), range(64) td(d) GROUP BY p
),
bk AS (
  SELECT e.vec_id,
         CAST(sum(CASE WHEN round(list_sum(list_transform(range(64),
                        i -> e.v[i+1] * w.wv[i+1])), 6) > 0
                  THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM e CROSS JOIN w GROUP BY e.vec_id
),
b AS (SELECT e.vec_id, e.v, bk.bucket FROM e JOIN bk USING (vec_id))
"""


SQL_LSH_TOPK = f"""
{_sql_lsh_buckets(8).strip()},
lsh AS (
  SELECT query_id, neighbor_id, sim, rn FROM (
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rn
    FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {_sql_cos('q.v', 'c.v')} AS sim
          FROM b c JOIN b q ON c.bucket = q.bucket
          WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)
  ) WHERE rn <= 3
)
"""


@register(
    "q_embedding_ivf_topk",
    """
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(3 AS BIGINT) AS k,
       TRUE AS recall_ge_050
FROM embeddings WHERE vec_id < 20
""",
)
def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the persisted k-means index artifact, registered as a
    recall-vs-exact ASSERTION so the driver hash-checks it (r2 verdict item
    3 — the raw top-k list itself is not SQL-expressible because the coarse
    quantizer is k-means; the seeded-quantizer twin q_embedding_ivf_seeded
    hash-checks the full result list).

    Spark side does the real work: IVF search from the persisted,
    sample-fit, cell-partitioned index (similarity.build_ivf_index — no
    KMeans fit after first build), exact brute-force top-k, then overall
    recall@3. Emits one row (n_queries, k, recall_ge_050); the oracle pins
    n_queries from the data and the expected recall floor. If the index or
    probe path regresses below 0.5 recall (4/16 probes comfortably exceeds
    it; pytest floor on a harder 3/8 config is 0.5), Spark emits FALSE and
    the value-hash goes red."""
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    flt = F.col("vec_id") < 20
    approx = _sim.ivf_topk(
        emb, flt, k=3, n_lists=16, n_probe=4, index_dir=_ivf_index_dir(sf_dir)
    ).select("query_id", "neighbor_id")
    exact = _sim.brute_force_topk(emb, flt, k=3).select(
        "query_id", "neighbor_id"
    ).localCheckpoint(eager=True)
    hits = approx.join(exact, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    denom = exact.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.countDistinct("query_id").alias("n_queries"),
    )
    return hits.crossJoin(denom).select(
        F.col("n_queries").cast("bigint").alias("n_queries"),
        F.lit(3).cast("bigint").alias("k"),
        (F.col("n_hit") / F.col("n_exact") >= 0.5).alias("recall_ge_050"),
    )


@register(
    "q_embedding_ivf_seeded",
    f"""
WITH {SQL_EMB}, {SQL_SEEDED_TOPK.strip()}
SELECT query_id, neighbor_id, sim, rn FROM seeded
""",
)
def q_embedding_ivf_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verifiable IVF: deterministic md5-sampled seed centroids make the
    whole approximate result engine-reproducible (similarity.ivf_seeded_topk);
    the DuckDB twin replays quantization, probing, and rerank exactly."""
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    return _sim.ivf_seeded_topk(emb, F.col("vec_id") < 20, k=3, n_lists=16, n_probe=4)


@register(
    "q_embedding_lsh_topk",
    f"""
WITH {SQL_EMB}, {SQL_LSH_TOPK.strip()}
SELECT query_id, neighbor_id, sim, rn FROM lsh
""",
)
def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH ANN. The md5-derived hyperplanes are
    engine-independent, so the DuckDB twin reproduces buckets and rerank
    bit-for-bit — a fully hash-checked approximate query."""
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    return _sim.lsh_topk(emb, F.col("vec_id") < 20, k=3, n_planes=8, dims=64)


@register(
    "q_embedding_ann_recall",
    f"""
WITH {SQL_EMB}, {SQL_EXACT_TOPK.strip()}, {SQL_SEEDED_TOPK.strip()}, {SQL_LSH_TOPK.strip()}
SELECT q.query_id, m.method, CAST(coalesce(h.n, 0) AS BIGINT) AS hits,
       CAST(3 AS BIGINT) AS k
FROM (SELECT DISTINCT query_id FROM exact) q
CROSS JOIN (SELECT 'ivf_seeded' AS method UNION ALL SELECT 'lsh') m
LEFT JOIN (
  SELECT a.method, a.query_id, count(*) AS n
  FROM (SELECT 'ivf_seeded' AS method, query_id, neighbor_id FROM seeded
        UNION ALL SELECT 'lsh', query_id, neighbor_id FROM lsh) a
  JOIN exact x ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
  GROUP BY 1, 2
) h ON h.query_id = q.query_id AND h.method = m.method
""",
)
def q_embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 bookkeeping for the two deterministic ANN paths vs the exact
    top-k — per (query, method): how many true top-3 neighbors the
    approximate search recovered. Driver-verifiable end to end because both
    approximations are engine-reproducible."""
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    flt = F.col("vec_id") < 20
    # each top-k is <=60 rows; localCheckpoint so (a) `exact` isn't evaluated
    # twice (hits join + query spine) and (b) the recall joins don't re-run
    # three full similarity plans per branch of the union
    exact = _sim.brute_force_topk(emb, flt, k=3).localCheckpoint(eager=True)
    seeded = _sim.ivf_seeded_topk(emb, flt, k=3, n_lists=16, n_probe=4).localCheckpoint(
        eager=True
    )
    lsh = _sim.lsh_topk(emb, flt, k=3, n_planes=8, dims=64).localCheckpoint(eager=True)
    appx = seeded.select(
        F.lit("ivf_seeded").alias("method"), "query_id", "neighbor_id"
    ).unionByName(lsh.select(F.lit("lsh").alias("method"), "query_id", "neighbor_id"))
    hits = (
        appx.join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("method", "query_id")
        .agg(F.count(F.lit(1)).alias("_h"))
    )
    base = exact.select("query_id").distinct().crossJoin(
        spark.createDataFrame([("ivf_seeded",), ("lsh",)], "method string")
    )
    return base.join(hits, ["method", "query_id"], "left").select(
        "query_id",
        "method",
        F.coalesce(F.col("_h"), F.lit(0)).cast("bigint").alias("hits"),
        F.lit(3).cast("bigint").alias("k"),
    )


@register(
    "q_embedding_neardup",
    f"""
WITH {SQL_EMB}, {_sql_lsh_buckets(4).strip()}
SELECT id_a, id_b, sim FROM (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         {_sql_cos('a.v', 'c.v')} AS sim
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
) WHERE sim >= 0.35
""",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucketed candidates (all-pairs
    guard), exact rounded cosine inside the bucket (dedup.embedding_neardup_pairs).
    Hash-verified — the md5 hyperplanes are engine-reproducible."""
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    return _dedup.embedding_neardup_pairs(emb, threshold=0.35, n_planes=4, dims=64)


@register(
    "q_text_quality",
    f"""
WITH {SQL_DOCS_TOKS}
SELECT doc_id,
  CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(coalesce(text, ''),
       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
  CASE WHEN len(toks) > 0
       THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks)
       ELSE 0.0 END AS avg_token_len,
  CASE WHEN len(toks) > 0
       THEN CAST(len(list_filter(toks, x -> lower(x) IN
            ('the','a','and','of','to','in','was','on','with'))) AS DOUBLE) / len(toks)
       ELSE 0.0 END AS stopword_ratio
FROM docs
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ts.quality_features(load_docs(spark, sf_dir))


_LANG_SQL_HITS = {
    "en": ["the", "and", "of", "is", "was", "with"],
    "es": ["el", "la", "los", "las", "que", "y"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "une"],
}
def _lang_hits_sql(lang: str, words: list[str]) -> str:
    parts = [
        "CASE WHEN contains(' ' || lower(coalesce(text, '')) || ' ', ' "
        + w
        + " ') THEN 1 ELSE 0 END"
        for w in words
    ]
    return f"  ({' + '.join(parts)}) AS h_{lang}"


_LANG_SQL_EXPRS = ",\n".join(
    _lang_hits_sql(lang, words) for lang, words in _LANG_SQL_HITS.items()
)


@register(
    "q_lang_id",
    f"""
WITH h AS (
  SELECT doc_id,
{_LANG_SQL_EXPRS}
  FROM documents
)
SELECT doc_id,
  CASE WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
       WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
       WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
       WHEN h_de = greatest(h_en, h_es, h_de, h_fr) THEN 'de'
       ELSE 'fr' END AS lang
FROM h
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (textstats.language_id) with exact SQL twin —
    tie-breaks and the stopword inventories match token for token."""
    return load(spark, sf_dir, "documents").select(
        "doc_id", _ts.language_id(F.col("text")).alias("lang")
    )


@register(
    "q_token_freq",
    f"""
WITH {SQL_DOCS_TOKS}
SELECT lower(u.tok) AS tok, CAST(count(*) AS BIGINT) AS n
FROM docs, unnest(toks) AS u(tok) GROUP BY 1
""",
)
def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ts.token_frequencies(load_docs(spark, sf_dir))


@register(
    "q_fingerprint",
    f"""
WITH {SQL_DOCS_TOKS}
SELECT doc_id, md5(lower(array_to_string(toks, ' '))) AS fp,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(toks, x -> CAST(len(x) AS BIGINT))),
            (acc, x) -> (acc * 1000003 + x) % 2147483647) AS BIGINT) AS len_hash
FROM docs
""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ts.rolling_fingerprint(load(spark, sf_dir, "documents"))


@register(
    "q_con_format",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}
SELECT doc_id,
       printf('c="%s" %d:%d %d:%d||t="%s"', lower(mention_text),
              1, tok_start, 1, tok_end, concept_type) AS con_line
FROM linked
""",
)
def q_con_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i2b2 .con sink formatting (SURVEY.md S4/F11; reference
    documents.py::write ~L300-360 approx): line numbers are 1-indexed (turn 0
    -> line 1), token offsets 0-indexed end-inclusive, text lowercased."""
    m = _doc_mentions_spark(spark, sf_dir).withColumnRenamed("doc_id", "conv_id")
    linked = link_mentions(m.withColumn("turn_idx", F.lit(0)), doc_gazetteer_df(spark))
    return linked.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        F.format_string(
            'c="%s" %d:%d %d:%d||t="%s"',
            F.lower("mention_text"),
            F.lit(1),
            F.col("tok_start"),
            F.lit(1),
            F.col("tok_end"),
            F.col("concept_type"),
        ).alias("con_line"),
    )


@register(
    "q_con_parse",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}
SELECT doc_id, CAST(0 AS INTEGER) AS turn_idx, tok_start, tok_end,
       lower(mention_text) AS mention_text, concept_type
FROM linked
""",
)
def q_con_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 -> S2 roundtrip: emit i2b2 .con lines (format_string) then parse
    them back (regexp_extract). Identity on the linked mention set modulo the
    reference's lowercasing of stored concept text."""
    from cliner_spark.con_format import format_con_lines, parse_con_lines

    m = _doc_mentions_spark(spark, sf_dir).withColumnRenamed("doc_id", "conv_id")
    linked = link_mentions(m.withColumn("turn_idx", F.lit(0)), doc_gazetteer_df(spark))
    con = format_con_lines(linked).select("conv_id", "con_line")
    return parse_con_lines(con).select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "turn_idx",
        "tok_start",
        "tok_end",
        "mention_text",
        "concept_type",
    )


@register(
    "q_multimodal_meta",
    """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
       sha256(coalesce(text, '')) AS sha
FROM documents
""",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _mm.attach_payload(load(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha256").alias("sha"),
    )


@register(
    "q_media_features",
    """
WITH m AS (
  SELECT doc_id AS media_id, coalesce(text, '') AS t,
         regexp_replace(hex(encode(coalesce(text, ''))), '(.)(.)', '\\2', 'g') AS ln
  FROM documents
)
SELECT media_id,
       CAST(octet_length(encode(t)) AS BIGINT) AS n_bytes,
       sha256(t) AS sha256,
       concat_ws(',',
         length(ln) - length(translate(ln, '08', '')),
         length(ln) - length(translate(ln, '19', '')),
         length(ln) - length(translate(ln, '2A', '')),
         length(ln) - length(translate(ln, '3B', '')),
         length(ln) - length(translate(ln, '4C', '')),
         length(ln) - length(translate(ln, '5D', '')),
         length(ln) - length(translate(ln, '6E', '')),
         length(ln) - length(translate(ln, '7F', ''))) AS hist_csv
FROM m
""",
)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary payloads. The oracle twin
    reproduces the byte histogram mod 8 in pure SQL via the hex low-nibble
    identity (byte % 8 == low-hex-nibble % 8: bucket d matches the two hex
    digits d and d+8), counted with length-after-translate; the histogram is
    serialized as an integer CSV so the value hash is float-format-free and
    the driver's row canonicalizer has a sortable scalar."""
    media = _mm.attach_payload(load(spark, sf_dir, "documents"))
    feats = _mm.extract_features(media, feature_dim=8)
    return feats.select(
        "media_id",
        "n_bytes",
        "sha256",
        F.array_join(F.transform("hist", lambda x: x.cast("string")), ",").alias(
            "hist_csv"
        ),
    )


@register(
    "q_media_frames",
    """
WITH m AS (
  SELECT doc_id AS media_id, lower(hex(encode(coalesce(text, '')))) AS h
  FROM documents
)
SELECT media_id, CAST(t.i AS INTEGER) AS frame_idx,
       CAST(length(substr(h, CAST(t.i * 64 + 1 AS BIGINT), 32)) / 2 AS BIGINT) AS n_bytes,
       substr(h, CAST(t.i * 64 + 1 AS BIGINT), 32) AS frame_hex
FROM m, unnest(range(CAST(ceil(length(h) / 64.0) AS BIGINT))) AS t(i)
WHERE t.i % 2 = 0
""",
)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (multimodal.sample_frames:
    32-byte frames, stride 2, 16-byte crop). The oracle twin slices the
    identical frames in hex space (1 byte = 2 hex chars), so the mapInPandas
    output is hash-checked end to end."""
    media = _mm.attach_payload(load(spark, sf_dir, "documents"))
    return _mm.sample_frames(media, frame_bytes=32, stride=2, crop_bytes=16)


@register(
    "q_tagger_mentions",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}
SELECT m.doc_id, m.tok_start, m.tok_end, m.mention_text,
       b.concept_type
FROM mentions m JOIN best_gaz b ON lower(m.mention_text) = b.term
""",
)
def q_tagger_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi tagger path (SURVEY.md M2+M3, feature_tag_udf): hashed feature
    emissions + gazetteer flags -> batched numpy Viterbi -> IOB chunking.
    With the distant-supervision model the decoded spans provably equal the
    scanner's longest/leftmost spans typed by the best gazetteer row, which
    is exactly the SQL oracle."""
    from cliner_spark.tagger import make_distant_model, tag_mentions

    docs = load_docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        "text",
    )
    model = make_distant_model(fixtures.DOC_GAZETTEER)
    m = tag_mentions(docs, model)
    return m.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "tok_start",
        "tok_end",
        "mention_text",
        "concept_type",
    )


@register(
    "q_iob_roundtrip",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}
SELECT m.doc_id, m.tok_start, m.tok_end, b.concept_type
FROM mentions m JOIN best_gaz b ON lower(m.mention_text) = b.term
""",
)
def q_iob_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 -> M3 roundtrip: linked spans -> per-token IOB tags -> chunked back
    to spans, all inside one mapInPandas stage (chunk.spans_to_flat_tags +
    chunk_flat_tags). Identity on non-overlapping input, so the oracle is the
    linked-span set itself."""
    import numpy as np
    import pandas as pd

    from cliner_spark.chunk import chunk_flat_tags, spans_to_flat_tags
    from cliner_spark.tagger import LABELS

    m = _doc_mentions_spark(spark, sf_dir).withColumnRenamed("doc_id", "conv_id")
    linked = link_mentions(m.withColumn("turn_idx", F.lit(0)), doc_gazetteer_df(spark))
    docs = load_docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"), "text"
    )
    per_doc = (
        linked.groupBy("conv_id")
        .agg(
            F.collect_list(
                F.struct("tok_start", "tok_end", "concept_type")
            ).alias("spans")
        )
        .join(docs, "conv_id")
    )

    def roundtrip(batches):
        # ONE spans_to_flat_tags + chunk_flat_tags call per Arrow batch
        # (both are natively batched over a turn_ids vector); the only
        # Python loop left is flattening the per-doc span lists.
        empty = pd.DataFrame(
            {
                "doc_id": pd.Series([], dtype="int64"),
                "tok_start": pd.Series([], dtype="int32"),
                "tok_end": pd.Series([], dtype="int32"),
                "concept_type": pd.Series([], dtype="object"),
            }
        )
        for pdf in batches:
            if len(pdf) == 0:
                yield empty
                continue
            lengths = (
                pdf["text"].fillna("").str.split().str.len().to_numpy(np.int64)
            )
            rows = np.repeat(
                np.arange(len(pdf)), pdf["spans"].str.len().to_numpy(np.int64)
            )
            tri = [
                (int(r), int(s["tok_start"]), int(s["tok_end"]), s["concept_type"])
                for r, s in zip(rows, (s for lst in pdf["spans"] for s in lst))
            ]
            flat = spans_to_flat_tags(tri, lengths, LABELS)
            turn_ids = np.repeat(np.arange(len(pdf)), lengths)
            chunked = chunk_flat_tags(flat, turn_ids, LABELS)
            if not chunked:
                yield empty
                continue
            rr, ss, ee, ty = chunked
            conv = pdf["conv_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(conv[rr].astype(np.int64), dtype="int64"),
                    "tok_start": pd.Series(ss, dtype="int32"),
                    "tok_end": pd.Series(ee, dtype="int32"),
                    "concept_type": pd.Series(ty, dtype="object"),
                }
            )

    return per_doc.mapInPandas(
        roundtrip,
        schema="doc_id bigint, tok_start int, tok_end int, concept_type string",
    )


@register("q_mention_scan_udf", SQL_MENTION_SCAN)
def q_mention_scan_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same scan and oracle as q_mention_scan, under the registry name that
    COVERAGE and the query priority list already use."""
    return _doc_mentions_spark(spark, sf_dir)


# ===========================================================================
# Assertion + KG-graph family (assertion.py / graph.py)
# ===========================================================================

# Vocab-present stand-in triggers so the windowed-trigger logic is exercised
# on the driver's synthetic documents (clinical NegEx defaults live in
# assertion.NEGEX_*; the algorithm is identical — only the literal lists
# differ). 'slow' pre-negates, 'small' post-negates, 'fast' hedges.
_A_PRE, _A_POST, _A_UNC = ["slow"], ["small"], ["fast"]


@register(
    "q_assertion",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}
SELECT m.doc_id, m.tok_start, m.tok_end, m.mention_text,
       CASE
         WHEN len(list_filter(d.toks[greatest(1, m.tok_start - 3) : m.tok_start],
                              x -> lower(x) IN ('slow'))) > 0
           OR len(list_filter(d.toks[m.tok_end + 2 : least(len(d.toks), m.tok_end + 5)],
                              x -> lower(x) IN ('small'))) > 0
         THEN 'negated'
         WHEN len(list_filter(d.toks[greatest(1, m.tok_start - 3) : m.tok_start],
                              x -> lower(x) IN ('fast'))) > 0
           OR len(list_filter(d.toks[m.tok_end + 2 : least(len(d.toks), m.tok_end + 5)],
                              x -> lower(x) IN ('fast'))) > 0
         THEN 'uncertain'
         ELSE 'affirmed'
       END AS assertion
FROM mentions m JOIN docs d USING (doc_id)
""",
)
def q_assertion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NegEx windowed-trigger assertion classification (assertion.py) over
    detected mentions: window=4 tokens, same-turn, pure JVM expressions."""
    from cliner_spark.assertion import classify_assertions

    m = _doc_mentions_spark(spark, sf_dir)
    toks = tokenize(load_docs(spark, sf_dir)).select("doc_id", "tokens")
    return classify_assertions(
        m, toks, pre_neg=_A_PRE, post_neg=_A_POST, uncertain=_A_UNC,
        window=4, keys=("doc_id",),
    ).select("doc_id", "tok_start", "tok_end", "mention_text", "assertion")


# distinct (doc, concept) pairs + co-occurrence edge list, shared by the
# graph queries (mirrors graph.cooccurrence_edges input shaping)
SQL_DOC_CUI = """
dcui AS (SELECT DISTINCT l.doc_id, l.cui FROM linked l),
coedges AS (
  SELECT a.cui AS src, b.cui AS dst, CAST(count(*) AS BIGINT) AS n_pair
  FROM dcui a JOIN dcui b ON a.doc_id = b.doc_id AND a.cui < b.cui
  GROUP BY a.cui, b.cui
)
"""


def _doc_linked(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _doc_mentions_spark(spark, sf_dir).withColumnRenamed("doc_id", "conv_id")
    return link_mentions(m.withColumn("turn_idx", F.lit(0)), doc_gazetteer_df(spark))


@register(
    "q_cooccur_pmi",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
dcui AS (SELECT DISTINCT l.doc_id, l.cui FROM linked l),
pairs AS (
  SELECT a.cui AS src, b.cui AS dst, CAST(count(*) AS BIGINT) AS n_pair
  FROM dcui a JOIN dcui b ON a.doc_id = b.doc_id AND a.cui < b.cui
  GROUP BY a.cui, b.cui
),
marg AS (SELECT cui, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_node FROM dcui GROUP BY cui),
tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys FROM dcui)
SELECT p.src, p.dst, p.n_pair, ms.n_node AS n_src, md.n_node AS n_dst, t.n_keys,
       round(ln(p.n_pair * t.n_keys / (ms.n_node * md.n_node)), 6) AS pmi
FROM pairs p
JOIN marg ms ON p.src = ms.cui
JOIN marg md ON p.dst = md.cui
CROSS JOIN tot t
""",
)
def q_cooccur_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concept co-occurrence edges with PMI (graph.cooccurrence_edges):
    per-document distinct concept sets self-joined, marginals broadcast."""
    from cliner_spark.graph import cooccurrence_edges

    linked = _doc_linked(spark, sf_dir).withColumnRenamed("conv_id", "doc_id")
    return cooccurrence_edges(linked, key="doc_id", node="cui")


@register(
    "q_kg_degrees",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
dcui AS (SELECT DISTINCT l.doc_id, l.cui FROM linked l),
tri AS (
  SELECT 'doc:' || doc_id AS subj, 'MENTIONS' AS pred, 'concept:' || cui AS obj
  FROM dcui
)
SELECT subj AS node, pred, CAST(count(*) AS BIGINT) AS degree, 'out' AS direction
FROM tri GROUP BY subj, pred
UNION ALL
SELECT obj AS node, pred, CAST(count(*) AS BIGINT) AS degree, 'in' AS direction
FROM tri GROUP BY obj, pred
""",
)
def q_kg_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degree by predicate/direction (graph.degrees) over the
    MENTIONS edge class — the KG's dominant (corpus-sized) edge family."""
    from cliner_spark.graph import degrees

    # materialize once: degrees() consumes the triple set twice (out + in)
    dcui = (
        _doc_linked(spark, sf_dir)
        .select("conv_id", "cui")
        .distinct()
        .localCheckpoint(eager=True)
    )
    tri = dcui.select(
        F.concat(F.lit("doc:"), F.col("conv_id")).alias("subj"),
        F.lit("MENTIONS").alias("pred"),
        F.concat(F.lit("concept:"), F.col("cui")).alias("obj"),
    )
    return degrees(tri).select("node", "pred", "degree", "direction")


@register(
    "q_kg_2hop",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}, {SQL_DOC_CUI},
e2 AS (SELECT src AS s, dst AS t FROM coedges UNION SELECT dst, src FROM coedges),
n1 AS (SELECT DISTINCT t FROM e2 WHERE s = 'CD001'),
n2 AS (
  SELECT DISTINCT e2.t FROM e2 JOIN n1 ON e2.s = n1.t
  WHERE e2.t <> 'CD001' AND e2.t NOT IN (SELECT t FROM n1)
)
SELECT 'CD001' AS node, CAST(0 AS INTEGER) AS hops
UNION ALL SELECT t, CAST(1 AS INTEGER) FROM n1
UNION ALL SELECT t, CAST(2 AS INTEGER) FROM n2
""",
)
def q_kg_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighborhood of concept CD001 over the co-occurrence graph
    (graph.k_hop): per-hop frontier join + anti-join, frontiers broadcast."""
    from cliner_spark.graph import group_concept_pairs, k_hop

    edges = group_concept_pairs(_doc_linked(spark, sf_dir))
    return k_hop(edges, "CD001", k=2).select("node", F.col("hops").cast("int").alias("hops"))


@register(
    "q_kg_bfs",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}, {SQL_DOC_CUI},
e2 AS (SELECT src AS s, dst AS t FROM coedges UNION SELECT dst, src FROM coedges),
bfs(node, hops) AS (
  SELECT 'CD001', 0
  UNION
  SELECT e2.t, bfs.hops + 1
  FROM bfs JOIN e2 ON e2.s = bfs.node
  WHERE bfs.hops < 10
)
SELECT node, CAST(min(hops) AS INTEGER) AS hops FROM bfs GROUP BY node
""",
)
def q_kg_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS shortest distances from CD001 over the concept
    co-occurrence graph, run to frontier EXHAUSTION (graph.bfs_distances —
    data-dependent superstep count, the loop shape fixed-k k_hop can't
    express). The oracle is a recursive CTE: DuckDB's UNION-recursion
    saturates reachability and min(hops) recovers the shortest distance, so
    a Pregel-style iterative algorithm gets a full rows+schema+hash check.
    """
    from cliner_spark.graph import bfs_distances, group_concept_pairs

    edges = group_concept_pairs(_doc_linked(spark, sf_dir))
    return bfs_distances(edges, "CD001", max_hops=10).select(
        "node", F.col("hops").cast("int").alias("hops")
    )


def _pagerank_sql(iters: int = 3) -> str:
    """Unrolled fixed-point PageRank CTE chain mirroring
    graph.pagerank_fixed_point exactly (BIGINT ops only — hash-stable)."""
    ctes = [
        "nodes AS (SELECT DISTINCT s AS node FROM e2)",
        "nn AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS r_init,"
        " CAST(((15 * 1000000000000) // 100) // count(*) AS BIGINT) AS base FROM nodes)",
        "deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e2 GROUP BY s)",
        "r0 AS (SELECT node, nn.r_init AS rank_fp FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"c{i} AS (SELECT e2.t AS node, CAST(sum(r{i-1}.rank_fp // d.deg) AS BIGINT) AS s"
            f" FROM e2 JOIN r{i-1} ON e2.s = r{i-1}.node JOIN deg d ON e2.s = d.s GROUP BY e2.t)"
        )
        ctes.append(
            f"r{i} AS (SELECT nodes.node,"
            f" CAST(nn.base + (85 * coalesce(c{i}.s, 0)) // 100 AS BIGINT) AS rank_fp"
            f" FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON nodes.node = c{i}.node)"
        )
    return ",\n".join(ctes) + f"\nSELECT node, rank_fp FROM r{iters}"


@register(
    "q_pagerank",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}, {SQL_DOC_CUI},
e2 AS (SELECT src AS s, dst AS t FROM coedges UNION SELECT dst, src FROM coedges),
{_pagerank_sql(3)}
""",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration integer fixed-point PageRank over the concept
    co-occurrence graph (graph.pagerank_fixed_point) — the iterative graph
    algorithm is hash-checked against an unrolled SQL twin because BIGINT
    arithmetic is reduction-order-independent."""
    from cliner_spark.graph import group_concept_pairs, pagerank_fixed_point

    edges = group_concept_pairs(_doc_linked(spark, sf_dir))
    return pagerank_fixed_point(edges, iters=3).select("node", "rank_fp")


@register(
    "q_event_transitions",
    """
WITH t AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT prev AS src, event_type AS dst, CAST(count(*) AS BIGINT) AS n
FROM t WHERE prev IS NOT NULL GROUP BY prev, event_type
""",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition counts per user (graph.transition_edges) —
    the same operator backs tool-flow FOLLOWED_BY edges on transcripts."""
    from cliner_spark.graph import transition_edges

    ev = load(spark, sf_dir, "events")
    return transition_edges(ev, "user_id", ["ts", "event_id"], "event_type")


# ===========================================================================
# Corpus-curation family (sampling.py): deterministic sampling, splits,
# decontamination, domain mixing
# ===========================================================================


@register(
    "q_hash_sample",
    """
SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
""",
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic hex-bucket sample (sampling.hash_sample): pure
    function of the key — reproducible across engines/partitionings."""
    from cliner_spark.sampling import hash_sample

    return hash_sample(load(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "bucket"
    )


@register(
    "q_train_split",
    """
WITH b AS (
  SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket FROM documents
)
SELECT CASE WHEN bucket < 'cc' THEN 'train'
            WHEN bucket < 'e6' THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs
FROM b GROUP BY 1
""",
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 hash split assignment + per-split counts
    (sampling.split_assign)."""
    from cliner_spark.sampling import split_assign

    return (
        split_assign(load(spark, sf_dir, "documents"), "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "q_decontaminate",
    f"""
WITH {SQL_DOCS_TOKS},
sh5 AS (
  SELECT DISTINCT d.doc_id,
         lower(array_to_string(d.toks[t.i + 1 : t.i + 3], ' ')) AS shingle
  FROM docs d, unnest(range(len(d.toks))) AS t(i)
  WHERE t.i + 3 <= len(d.toks)
),
bench AS (SELECT DISTINCT shingle FROM sh5 WHERE doc_id % 101 = 0),
cand AS (SELECT * FROM sh5 WHERE doc_id % 101 <> 0)
SELECT c.doc_id, CAST(count(DISTINCT c.shingle) AS BIGINT) AS n_hits
FROM cand c JOIN bench b ON c.shingle = b.shingle
GROUP BY c.doc_id
""",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (sampling.contamination): docs sharing a
    token n-gram with the 'benchmark' subset (doc_id % 101 = 0 stands in
    for an eval suite; n=3 suits the synthetic vocab, production n=13)."""
    from cliner_spark.sampling import contamination

    docs = load_docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 101 == 0)
    return contamination(docs, bench, n=3)


@register(
    "q_mix_weights",
    """
WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source),
t AS (SELECT CAST(count(*) AS BIGINT) AS total, CAST(count(DISTINCT source) AS BIGINT) AS k
      FROM documents)
SELECT c.source, c.n_docs,
       round(CAST(t.total AS DOUBLE) / t.k / c.n_docs, 6) AS weight
FROM c CROSS JOIN t
""",
)
def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-target domain-mixture weights per source
    (sampling.mix_weights)."""
    from cliner_spark.sampling import mix_weights

    return mix_weights(load(spark, sf_dir, "documents"), "source")


# ===========================================================================
# Repetition + bigram-LM quality family (textstats.repetition_features, lm.py)
# ===========================================================================


@register(
    "q_repetition",
    f"""
WITH {SQL_DOCS_TOKS},
g2 AS (
  SELECT d.doc_id, lower(array_to_string(d.toks[t.i + 1 : t.i + 2], ' ')) AS gram
  FROM docs d, unnest(range(len(d.toks))) AS t(i)
  WHERE t.i + 2 <= len(d.toks)
),
gc AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c FROM g2 GROUP BY doc_id, gram),
rep AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END) AS BIGINT) AS dup,
         CAST(max(c * length(gram)) AS BIGINT) AS top,
         CAST(sum(c * length(gram)) AS BIGINT) AS tot
  FROM gc GROUP BY doc_id
),
tokpos AS (
  SELECT d.doc_id, t.i AS i, lower(d.toks[t.i + 1]) AS tok
  FROM docs d, unnest(range(len(d.toks))) AS t(i)
),
isl AS (
  SELECT doc_id, tok, i - row_number() OVER (PARTITION BY doc_id, tok ORDER BY i) AS grp
  FROM tokpos
),
runs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS run FROM isl GROUP BY doc_id, tok, grp),
mr AS (SELECT doc_id, max(run) AS max_run FROM runs GROUP BY doc_id)
SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
       round(CASE WHEN coalesce(r.tot, 0) > 0 THEN CAST(r.dup AS DOUBLE) / r.tot ELSE 0.0 END, 6) AS dup2_frac,
       round(CASE WHEN coalesce(r.tot, 0) > 0 THEN CAST(r.top AS DOUBLE) / r.tot ELSE 0.0 END, 6) AS top2_frac,
       CAST(coalesce(mr.max_run, 0) AS BIGINT) AS max_run
FROM docs d LEFT JOIN rep r USING (doc_id) LEFT JOIN mr USING (doc_id)
""",
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals, zero-shuffle sorted-array fold
    (textstats.repetition_features)."""
    from cliner_spark.textstats import repetition_features

    return repetition_features(load_docs(spark, sf_dir))


# token pairs + unigram/vocab counts shared by the LM queries (mirrors lm.py)
SQL_LM_COUNTS = """
pairs AS (
  SELECT d.doc_id, lower(d.toks[t.i + 1]) AS w1, lower(d.toks[t.i + 2]) AS w2
  FROM docs d, unnest(range(len(d.toks))) AS t(i)
  WHERE t.i + 2 <= len(d.toks)
),
uni AS (
  SELECT lower(t.tok) AS w1, CAST(count(*) AS BIGINT) AS c_w1
  FROM docs d, unnest(d.toks) AS t(tok) GROUP BY 1
),
vv AS (
  SELECT CAST(count(DISTINCT lower(t.tok)) AS BIGINT) AS vocab
  FROM docs d, unnest(d.toks) AS t(tok)
),
bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bigram FROM pairs GROUP BY w1, w2)
"""


@register(
    "q_lm_bigrams",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_LM_COUNTS}
SELECT bg.w1, bg.w2, bg.c_bigram, u.c_w1, vv.vocab,
       round(ln(CAST(bg.c_bigram + 1 AS DOUBLE) / (u.c_w1 + vv.vocab)), 6) AS logp
FROM bg JOIN uni u ON bg.w1 = u.w1 CROSS JOIN vv
""",
)
def q_lm_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1-smoothed corpus bigram LM table (lm.bigram_lm)."""
    from cliner_spark.lm import bigram_lm

    return bigram_lm(load_docs(spark, sf_dir))


@register(
    "q_lm_doc_score",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_LM_COUNTS}
SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CAST(floor(ln(CAST(bg.c_bigram + 1 AS DOUBLE) / (u.c_w1 + vv.vocab)) * 1000000) AS BIGINT)) AS BIGINT) AS score_fp
FROM pairs p
JOIN bg ON p.w1 = bg.w1 AND p.w2 = bg.w2
JOIN uni u ON p.w1 = u.w1
CROSS JOIN vv
GROUP BY p.doc_id
""",
)
def q_lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fixed-point LM score (lm.doc_lm_score) — the perplexity-filter
    signal, BIGINT-exact across engines."""
    from cliner_spark.lm import doc_lm_score

    return doc_lm_score(load_docs(spark, sf_dir))


@register(
    "q_tool_flow",
    """
WITH tx AS (
  SELECT CAST(doc_id % 97 AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY doc_id % 97 ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         source AS tool
  FROM documents
),
t AS (
  SELECT tool, lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
  FROM tx
)
SELECT 'tool:' || prev AS subj, 'FOLLOWED_BY' AS pred, 'tool:' || tool AS obj,
       CAST(count(*) AS BIGINT) AS weight
FROM t WHERE prev IS NOT NULL GROUP BY prev, tool
""",
)
def q_tool_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent tool-flow FOLLOWED_BY triples (graph.tool_flow_triples) over the
    input_hint transcript shape (conv_id, turn_idx, tool) derived from
    documents exactly as q_triples derives it (source = tool stand-in)."""
    from cliner_spark.graph import tool_flow_triples

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.col("doc_id") % 97).orderBy("doc_id")
    tx = docs.select(
        (F.col("doc_id") % 97).cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("source").alias("tool"),
    )
    return tool_flow_triples(tx)


# ===========================================================================
# Scrubbing + profiling family (scrub.py, profile.py)
# ===========================================================================


@register(
    "q_scrub",
    """
SELECT event_id,
       regexp_replace(props, '\\d+', '<NUM>', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(props, '\\d+')) AS BIGINT) AS n_redactions
FROM events
""",
)
def q_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex redaction pass (scrub.scrub) — digit rule here because the
    synthetic tables contain no emails/URLs; the clinical default rule
    chain (URL/EMAIL/PHONE/ID) is pytest-verified on planted strings."""
    from cliner_spark.scrub import scrub

    ev = load(spark, sf_dir, "events").withColumnRenamed("props", "text")
    return scrub(ev, rules=[(r"\d+", "<NUM>")]).select(
        "event_id", "scrubbed", "n_redactions"
    )


@register(
    "q_profile_events",
    """
SELECT 'event_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(min(event_id) AS VARCHAR) AS min_val, CAST(max(event_id) AS VARCHAR) AS max_val
FROM events
UNION ALL
SELECT 'user_id', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT user_id) AS BIGINT),
       CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
FROM events
UNION ALL
SELECT 'event_type', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT event_type) AS BIGINT),
       CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR)
FROM events
""",
)
def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profiler (profiling.profile_table)."""
    from cliner_spark.profiling import profile_table

    return profile_table(
        load(spark, sf_dir, "events"), ["event_id", "user_id", "event_type"]
    )


@register(
    "q_value_hist",
    """
SELECT CAST(floor((value - 0.0) / 5.0) AS BIGINT) AS bucket,
       CAST(floor((value - 0.0) / 5.0) AS BIGINT) * 5.0 + 0.0 AS lo,
       CAST(count(*) AS BIGINT) AS n
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2
""",
)
def q_value_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram over events.value (profiling.histogram)."""
    from cliner_spark.profiling import histogram

    return histogram(load(spark, sf_dir, "events"), "value", 5.0)


# near-dup cluster CTE chain (identical to q_dup_clusters' oracle)
SQL_DUP_CLUSTER_CTES = f"""
{SQL_SHINGLES_3},
keepsh AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) <= 50),
shf AS (SELECT sh.* FROM sh JOIN keepsh USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON common.doc_a = sa.doc_id
  JOIN sizes sb ON common.doc_b = sb.doc_id
  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.5
),
dedges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION SELECT doc_b, doc_a FROM jpairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT r.src, e.dst FROM reach r JOIN dedges e ON r.dst = e.src
),
clusters AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
"""


@register(
    "q_dedup_keep",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_DUP_CLUSTER_CTES}
SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM clusters
""",
)
def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION (curate.py stage 1): keep iff the doc is its
    near-dup cluster's representative (min id)."""
    from cliner_spark.dedup import dup_clusters

    c = dup_clusters(load_docs(spark, sf_dir), min_jaccard=0.5)
    return c.select(
        "doc_id", "cluster_id", (F.col("doc_id") == F.col("cluster_id")).alias("keep")
    )


@register(
    "q_quality_filter",
    f"""
WITH {SQL_DOCS_TOKS},
lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM docs),
bounds AS (
  SELECT quantile_cont(n_tokens, 0.05) AS lo, quantile_cont(n_tokens, 0.95) AS hi
  FROM lens
)
SELECT l.doc_id, l.n_tokens, b.lo, b.hi,
       l.n_tokens >= b.lo AND l.n_tokens <= b.hi AS keep
FROM lens l CROSS JOIN bounds b
""",
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-band quality filter (curate.length_bounds): exact percentile
    bounds broadcast into the per-doc keep decision; approx_percentile is
    the drop-in at 100 TB."""
    from cliner_spark.curate import length_bounds
    from cliner_spark.tokenization import tokenize

    lens = tokenize(load_docs(spark, sf_dir)).select(
        "doc_id", F.size("tokens").cast("bigint").alias("n_tokens")
    )
    b = length_bounds(lens, "n_tokens")
    return lens.crossJoin(F.broadcast(b)).select(
        "doc_id",
        "n_tokens",
        "lo",
        "hi",
        ((F.col("n_tokens") >= F.col("lo")) & (F.col("n_tokens") <= F.col("hi"))).alias(
            "keep"
        ),
    )


@register(
    "q_role_concepts",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}
SELECT CASE CAST(l.doc_id % 3 AS INTEGER) WHEN 0 THEN 'user'
            WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
       l.concept_type, CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT l.cui) AS BIGINT) AS n_concepts
FROM linked l GROUP BY 1, 2
""",
)
def q_role_concepts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concept mentions by speaker role (input_hint's role dimension —
    'who asserted it'): role derived deterministically from doc_id the same
    way q_triples derives conv/turn."""
    linked = _doc_linked(spark, sf_dir)
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
        (F.col("conv_id") % 3).cast("int") + 1,
    )
    return linked.groupBy(role.alias("role"), "concept_type").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("cui").alias("n_concepts"),
    )


@register(
    "q_assertion_triples",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ},
asserted AS (
  SELECT m.doc_id, m.tok_start, m.tok_end, m.mention_text,
         CASE
           WHEN len(list_filter(d.toks[greatest(1, m.tok_start - 3) : m.tok_start],
                                x -> lower(x) IN ('slow'))) > 0
             OR len(list_filter(d.toks[m.tok_end + 2 : least(len(d.toks), m.tok_end + 5)],
                                x -> lower(x) IN ('small'))) > 0
           THEN 'negated'
           WHEN len(list_filter(d.toks[greatest(1, m.tok_start - 3) : m.tok_start],
                                x -> lower(x) IN ('fast'))) > 0
             OR len(list_filter(d.toks[m.tok_end + 2 : least(len(d.toks), m.tok_end + 5)],
                                x -> lower(x) IN ('fast'))) > 0
           THEN 'uncertain'
           ELSE 'affirmed'
         END AS assertion
  FROM mentions m JOIN docs d USING (doc_id)
)
SELECT DISTINCT 'concept:' || b.cui AS subj,
       CASE a.assertion WHEN 'negated' THEN 'NEGATED_IN'
                        WHEN 'uncertain' THEN 'HEDGED_IN'
                        ELSE 'ASSERTED_IN' END AS pred,
       'turn:' || CAST(a.doc_id AS VARCHAR) || '#0' AS obj,
       CAST(a.doc_id AS VARCHAR) AS conv_id, CAST(0 AS INTEGER) AS turn_idx
FROM asserted a JOIN best_gaz b ON lower(a.mention_text) = b.term
""",
)
def q_assertion_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion-refined (concept, NEGATED_IN/HEDGED_IN/ASSERTED_IN, turn)
    edges (assertion.assertion_triples) — the KG output of the --assertions
    pipeline stage, hash-checked end to end."""
    from cliner_spark.assertion import assertion_triples, classify_assertions

    m = _doc_mentions_spark(spark, sf_dir)
    toks = tokenize(load_docs(spark, sf_dir)).select("doc_id", "tokens")
    asserted = classify_assertions(
        m, toks, pre_neg=_A_PRE, post_neg=_A_POST, uncertain=_A_UNC,
        window=4, keys=("doc_id",),
    )
    linked = link_mentions(
        asserted.select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            "tok_start", "tok_end", "mention_text", "assertion",
        ),
        doc_gazetteer_df(spark),
    )
    return assertion_triples(linked)


@register(
    "q_embedding_quantize",
    """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
  FROM embeddings
),
s AS (
  SELECT vec_id, xd,
         list_aggregate(xd, 'min') AS lo, list_aggregate(xd, 'max') AS hi,
         (list_aggregate(xd, 'max') - list_aggregate(xd, 'min')) / 255.0 AS scale
  FROM e
),
q AS (
  SELECT vec_id, xd, lo, hi, scale,
         list_transform(xd, x -> CAST(CASE WHEN scale > 0 THEN round((x - lo) / scale)
                                           ELSE 0 END AS INTEGER)) AS qv
  FROM s
)
SELECT vec_id, lo, hi, array_to_string(qv, ',') AS q_str,
       list_aggregate(list_transform(list_zip(xd, qv),
                      p -> abs(p[1] - (lo + CAST(p[2] AS DOUBLE) * scale))), 'max') AS max_abs_err
FROM q
""",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-range embedding quantization (similarity.quantize_int8):
    4x storage path for the ANN index, with per-vector reconstruction error."""
    from cliner_spark.similarity import quantize_int8

    return quantize_int8(load(spark, sf_dir, "embeddings"))


# ===========================================================================
# Graph analytics round 2b: triangles; skew profiling; approx aggregates
# ===========================================================================


@register(
    "q_triangles",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}, {SQL_DOC_CUI},
e AS (SELECT DISTINCT src AS lo, dst AS hi FROM coedges WHERE src <> dst),
w AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
      FROM e e1 JOIN e e2 ON e1.hi = e2.lo),
tri AS (SELECT w.a, w.b, w.c FROM w JOIN e ON w.a = e.lo AND w.c = e.hi)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS node FROM tri)
GROUP BY node
""",
)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the concept co-occurrence graph
    (graph.triangle_count): canonical low<high orientation, wedge join +
    closing join — each triangle enumerated exactly once."""
    from cliner_spark.graph import group_concept_pairs, triangle_count

    edges = group_concept_pairs(_doc_linked(spark, sf_dir))
    return triangle_count(edges)


@register(
    "q_key_skew",
    """
WITH counts AS (
  SELECT CAST(user_id AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
),
tot AS (SELECT sum(n) AS t, avg(n) AS m FROM counts),
ranked AS (
  SELECT key, n, row_number() OVER (ORDER BY n DESC, key ASC) AS rank
  FROM counts
)
SELECT r.key, r.n, round(r.n / t.t, 6) AS share, round(r.n / t.m, 4) AS skew,
       CAST(r.rank AS INTEGER) AS rank
FROM ranked r CROSS JOIN tot t WHERE r.rank <= 20
""",
)
def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter skew profile of events.user_id (profiling.key_skew):
    the pre-pass that decides whether a shuffle key needs salting. Top-k via
    distributed TakeOrdered, totals broadcast — no global window over the
    (potentially key-cardinality-sized) count table."""
    from cliner_spark.profiling import key_skew

    return key_skew(load(spark, sf_dir, "events"), "user_id", top_k=20)


@register(
    "q_approx_distinct",
    """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS within_bound
FROM events GROUP BY event_type
""",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-count with a verified error bound: the Spark side
    REALLY computes approx_count_distinct (rsd=2%) next to the exact count
    and asserts |approx - exact| <= 5% * exact into `within_bound`; the
    oracle pins the exact count and expects the bound to hold (TRUE). The
    sketch itself is engine-specific so its raw value can't be hash-matched
    — the bound can. At 100 TB the exact column is dropped and the sketch
    is the answer; partial HLL buffers merge map-side."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
    ).select(
        "event_type",
        "n_exact",
        (F.abs(F.col("_approx") - F.col("n_exact"))
         <= 0.05 * F.col("n_exact")).alias("within_bound"),
    )


@register(
    "q_approx_quantile",
    """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50_exact,
       TRUE AS within_bound
FROM events GROUP BY event_type
""",
)
def q_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile with a verified sandwich bound: approx p50
    (accuracy=10000) must lie within the exact [p49, p51] band; the exact
    interpolated median is the hash-checked column. At scale the exact
    percentile (full sort per group) is dropped and the KLL/GK sketch is
    the answer."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_exact"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("_ap"),
        F.expr("percentile(value, 0.49)").alias("_lo"),
        F.expr("percentile(value, 0.51)").alias("_hi"),
    ).select(
        "event_type",
        "p50_exact",
        ((F.col("_ap") >= F.col("_lo")) & (F.col("_ap") <= F.col("_hi"))).alias("within_bound"),
    )


# ===========================================================================
# Relational round 2b: TPC-H q3/q6/q10 (adapted to the testdata columns)
# ===========================================================================


@register(
    "q_tpch_q6",
    """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""",
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecast-revenue: pure scan + filter + 1-row aggregate; the
    plan check is that every predicate reaches PushedFilters and the scan
    reads only 4 columns."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(38,4)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )


@register(
    "q_tpch_q3",
    """
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01' AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) DESC, l_orderkey ASC
LIMIT 10
""",
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping-priority (o_orderpriority stands in for the
    missing o_shippriority): dimension filter broadcast into the fact join,
    DECIMAL revenue so the top-10 ordering is reduction-order-exact."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-06-01")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-06-01")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,4)")
    joined = li.join(
        orders.join(
            F.broadcast(cust.select("c_custkey")), F.col("o_custkey") == F.col("c_custkey")
        ).select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(rev).alias("_rev")
    )
    return (
        agg.orderBy(F.col("_rev").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            F.col("_rev").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


@register(
    "q_tpch_q10",
    """
SELECT c_custkey, c_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) DESC, c_custkey ASC
LIMIT 20
""",
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting: quarter-filtered orders join the
    returned lineitems, customer + nation dims broadcast; DECIMAL revenue
    keeps the top-20 ordering exact."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,4)")
    joined = (
        li.join(orders.select("o_orderkey", "o_custkey"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.sum(rev).alias("_rev")
    )
    return (
        agg.orderBy(F.col("_rev").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", F.col("_rev").cast("double").alias("revenue"),
                "c_acctbal", "n_name")
    )


@register(
    "q_conv_kg_summary",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_CANON},
tx AS (
  SELECT doc_id, CAST(doc_id % 97 AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY doc_id % 97 ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx
  FROM documents
),
lm AS (
  SELECT t.conv_id, t.turn_idx, m.tok_start, b.cui, c.canon_cui
  FROM mentions m
  JOIN best_gaz b ON lower(m.mention_text) = b.term
  JOIN canon c ON b.cui = c.cui
  JOIN tx t ON m.doc_id = t.doc_id
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT cui) AS BIGINT) AS n_cuis,
       CAST(count(DISTINCT canon_cui) AS BIGINT) AS n_concepts,
       CAST(count(DISTINCT turn_idx) AS BIGINT) AS n_turns_active,
       CAST(min(turn_idx) AS INTEGER) AS first_turn
FROM lm GROUP BY conv_id
""",
)
def q_conv_kg_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation KG rollup — the summary table a KG consumer reads
    first: mention volume, surface vs canonical concept cardinality, active
    turns. One shuffle on conv_id over canonical-joined mentions."""
    from cliner_spark.triples import with_canonical

    linked, gaz = _doc_linked_transcript(spark, sf_dir)
    m = with_canonical(linked, cached_canon_map(spark))
    return m.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mentions"),
        F.countDistinct("cui").cast("bigint").alias("n_cuis"),
        F.countDistinct("canon_cui").cast("bigint").alias("n_concepts"),
        F.countDistinct("turn_idx").cast("bigint").alias("n_turns_active"),
        F.min("turn_idx").cast("int").alias("first_turn"),
    )


@register(
    "q_mention_contexts",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}
SELECT m.doc_id, m.tok_start, m.tok_end, m.mention_text,
       coalesce(array_to_string(d.toks[greatest(1, m.tok_start - 1) : m.tok_start], ' '), '') AS left_ctx,
       coalesce(array_to_string(d.toks[m.tok_end + 2 : m.tok_end + 3], ' '), '') AS right_ctx
FROM mentions m JOIN docs d USING (doc_id)
""",
)
def q_mention_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention-centric context windows (±2 tokens) — the training-example
    extraction an entity-linking / embedding fine-tune consumes. One
    equi-join mention->turn tokens, slices as JVM array expressions."""
    w = 2
    docs = load_docs(spark, sf_dir)
    toks = F.col("toks")
    m = _doc_mentions_spark(spark, sf_dir)
    d = docs.select("doc_id", tokens_col("text").alias("toks"))
    left_len = F.least(F.lit(w), F.col("tok_start"))
    return (
        m.join(d, "doc_id")
        .select(
            "doc_id",
            "tok_start",
            "tok_end",
            "mention_text",
            F.concat_ws(
                " ", F.slice(toks, F.col("tok_start") - left_len + 1, left_len)
            ).alias("left_ctx"),
            F.concat_ws(" ", F.slice(toks, F.col("tok_end") + 2, w)).alias(
                "right_ctx"
            ),
        )
    )


@register(
    "q_kg_negatives",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_CANON}, {SQL_LINKED},
pos AS (
  SELECT DISTINCT CAST(l.doc_id AS VARCHAR) AS conv_id, c.canon_cui
  FROM linked l JOIN canon c ON l.cui = c.cui
),
cdim AS (
  SELECT canon_cui, CAST(row_number() OVER (ORDER BY canon_cui) - 1 AS BIGINT) AS rid
  FROM (SELECT DISTINCT canon_cui FROM pos)
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cdim),
px AS (
  SELECT p.conv_id, p.canon_cui,
         CAST(concat('0x', substr(md5(p.conv_id || '|' || p.canon_cui), 1, 8)) AS BIGINT) % n.n AS i1
  FROM pos p CROSS JOIN n
)
SELECT px.conv_id, px.canon_cui AS pos_obj,
       CASE WHEN c1.canon_cui <> px.canon_cui THEN c1.canon_cui ELSE c2.canon_cui END AS neg_obj
FROM px
CROSS JOIN n
JOIN cdim c1 ON c1.rid = px.i1
JOIN cdim c2 ON c2.rid = (px.i1 + 1) % n.n
""",
)
def q_kg_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative samples for KG-embedding training
    (graph.kg_negative_samples): md5-indexed corruption of the object side
    of each (conv, canon_cui) positive — reproducible, hash-checked."""
    from cliner_spark.graph import kg_negative_samples
    from cliner_spark.triples import with_canonical

    linked, gaz = _doc_linked(spark, sf_dir), doc_gazetteer_df(spark)
    m = with_canonical(linked, cached_canon_map(spark))
    return kg_negative_samples(m.select("conv_id", "canon_cui"))


@register(
    "q_bpe_pairs",
    f"""
WITH {SQL_DOCS_TOKS},
wc AS (
  SELECT lower(u.tok) AS w, CAST(count(*) AS BIGINT) AS c
  FROM docs d, unnest(d.toks) AS u(tok)
  GROUP BY 1
)
SELECT substr(w, CAST(i.i AS INTEGER) + 1, 1) AS a,
       substr(w, CAST(i.i AS INTEGER) + 2, 1) AS b,
       CAST(sum(c) AS BIGINT) AS n
FROM wc, unnest(range(strlen(w) - 1)) AS i(i)
GROUP BY 1, 2
""",
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-0 of BPE induction (lm.pair_counts over lm.word_freqs): the
    corpus-weighted adjacent character-pair table the first merge argmax
    reads. Runs over the DISTINCT-word frequency table, so the pair shuffle
    is vocabulary-sized, not corpus-sized. The iterative merge loop itself
    (lm.bpe_merges) is pytest-verified against a plain-Python BPE."""
    from cliner_spark.lm import pair_counts, word_freqs

    return pair_counts(word_freqs(load_docs(spark, sf_dir)))


@register(
    "q_compaction_plan",
    """
SELECT doc_id, bytes, CAST(floor(cum_before / 16384.0) AS INTEGER) AS bin
FROM (
  SELECT doc_id, CAST(strlen(coalesce(text, '')) AS BIGINT) AS bytes,
         coalesce(sum(strlen(coalesce(text, ''))) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM documents
)
""",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (maintenance.compaction_plan): pack
    items in deterministic key order into ~16 KiB bins via a cumulative-sum
    window — the metadata-only planner the triple sink's maintenance path
    uses (documents stand in for the file listing so the oracle can verify
    the packing rule)."""
    from cliner_spark.maintenance import compaction_plan

    sizes = load_docs(spark, sf_dir).select(
        "doc_id",
        F.octet_length(F.coalesce(F.col("text"), F.lit(""))).cast("bigint").alias("bytes"),
    )
    return compaction_plan(sizes, 16384, key_col="doc_id", size_col="bytes")


SQL_TX_LMT = """
tx AS (
  SELECT doc_id, CAST(doc_id % 97 AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY doc_id % 97 ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx
  FROM documents
),
lmt AS (
  SELECT DISTINCT t.conv_id, t.turn_idx, b.cui
  FROM mentions m
  JOIN best_gaz b ON lower(m.mention_text) = b.term
  JOIN tx t ON m.doc_id = t.doc_id
)
"""


@register(
    "q_cooccur_window",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_TX_LMT.strip()}
SELECT a.cui AS src, b.cui AS dst, CAST(count(*) AS BIGINT) AS n_cooc
FROM lmt a
JOIN lmt b ON a.conv_id = b.conv_id
          AND abs(a.turn_idx - b.turn_idx) <= 2
          AND a.cui < b.cui
GROUP BY a.cui, b.cui
""",
)
def q_cooccur_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal KG edges: concept pairs mentioned within ±2 turns in the
    same conversation (graph.windowed_cooccurrence). The Spark plan is a
    BANDED range join (bucket = turn div w, left side expanded to adjacent
    buckets, pure equi-join) — the oracle states the same semantics as the
    naive theta join DuckDB can afford at this scale."""
    from cliner_spark.graph import windowed_cooccurrence

    linked, _ = _doc_linked_transcript(spark, sf_dir)
    return windowed_cooccurrence(linked, window=2)


@register(
    "q_concept_lifespan",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_CANON}, {SQL_TX_LMT.strip()}
SELECT c.canon_cui,
       CAST(min(l.turn_idx) AS INTEGER) AS first_turn,
       CAST(max(l.turn_idx) AS INTEGER) AS last_turn,
       CAST(count(DISTINCT l.conv_id) AS BIGINT) AS n_convs,
       CAST(count(DISTINCT l.conv_id || '#' || l.turn_idx) AS BIGINT) AS n_turns_active
FROM lmt l JOIN canon c ON l.cui = c.cui
GROUP BY c.canon_cui
""",
)
def q_concept_lifespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concept lifespan/drift summary: per canonical concept, first/last
    active turn, conversation reach, and distinct active turns — the
    temporal profile a KG consumer reads to spot emerging or dying
    concepts. One shuffle on canon_cui."""
    from cliner_spark.triples import with_canonical

    linked, gaz = _doc_linked_transcript(spark, sf_dir)
    m = with_canonical(
        linked.select("conv_id", "turn_idx", "cui").distinct(),
        cached_canon_map(spark),
    )
    return m.groupBy("canon_cui").agg(
        F.min("turn_idx").cast("int").alias("first_turn"),
        F.max("turn_idx").cast("int").alias("last_turn"),
        F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
        F.countDistinct("conv_id", "turn_idx").cast("bigint").alias("n_turns_active"),
    )


@register(
    "q_simhash_neardup",
    f"""
WITH {SQL_DOCS_TOKS},
tok AS (
  SELECT d.doc_id, substr(md5(lower(u.tok)), 1, 4) AS hx
  FROM docs d, unnest(d.toks) AS u(tok)
),
bits AS (
  SELECT doc_id, p.p AS p,
         ((strpos('0123456789abcdef', substr(hx, (p.p // 4) + 1, 1)) - 1)
          // (1 << (p.p % 4))) % 2 AS bit
  FROM tok, unnest(range(16)) AS p(p)
),
sums AS (SELECT doc_id, p, sum(2 * bit - 1) AS s FROM bits GROUP BY 1, 2),
sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS simhash
  FROM sums GROUP BY doc_id
),
bands AS (
  SELECT doc_id, simhash, b.b AS band, (simhash >> (b.b * 4)) & 15 AS bv
  FROM sh, unnest(range(4)) AS b(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS ha, b.simhash AS hb
  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
""",
)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (dedup.simhash_pairs): hamming-band blocking
    with the pigeonhole completeness guarantee (4 bands > 3 max hamming) —
    the third member of the near-dup family next to Jaccard and MinHash."""
    return _dedup.simhash_pairs(load_docs(spark, sf_dir), bits=16)


@register(
    "q_stratified_sample",
    """
SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      CASE lang WHEN 'en' THEN '33' WHEN 'de' THEN '80'
                WHEN 'es' THEN 'cc' WHEN 'fr' THEN 'ff' ELSE '00' END
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling (sampling.stratified_hash_sample):
    keep ~20% of en, 50% of de, 80% of es, ~100% of fr, drop zh — the
    language-rebalancing primitive of a corpus-mixture recipe. The bound
    lookup is a literal map, evaluated inside the scan stage."""
    from cliner_spark.sampling import stratified_hash_sample

    return stratified_hash_sample(
        load(spark, sf_dir, "documents"),
        "lang",
        "doc_id",
        {"en": "33", "de": "80", "es": "cc", "fr": "ff"},
    ).select("doc_id", "lang", "bucket")


@register(
    "q_gap_fill",
    """
WITH bounds AS (
  SELECT min(date_trunc('hour', ts)) AS lo, max(date_trunc('hour', ts)) AS hi
  FROM events
),
hours AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
grps AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT g.event_type, h.hour, coalesce(c.n, 0) AS n
FROM hours h CROSS JOIN grps g
LEFT JOIN counts c ON c.event_type = g.event_type AND c.hour = h.hour
""",
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly spine with zero-filled gaps (timeseries.gap_fill_hours):
    sequence()-generated hours x broadcast group dim, left-joined counts —
    the spine is dimension-sized, never fact-sized."""
    from cliner_spark.timeseries import gap_fill_hours

    return gap_fill_hours(load(spark, sf_dir, "events"))


@register(
    "q_gazetteer_diff",
    f"""
WITH gazv AS (SELECT * FROM {GAZ_SQL}),
v2 AS (
  SELECT term, cui, sem_type, canonical,
         CASE WHEN sem_type = 'problem' THEN score + 0.05 ELSE score END AS score
  FROM gazv WHERE cui NOT LIKE '%4'
  UNION ALL
  SELECT 'bloom filter', 'CD999', 'test', 'bloom filter', 0.88
),
o AS (SELECT term, cui, score AS old_score FROM gazv),
n AS (SELECT term, cui, score AS new_score FROM v2)
SELECT coalesce(o.term, n.term) AS term, coalesce(o.cui, n.cui) AS cui,
       round(o.old_score, 4) AS old_score, round(n.new_score, 4) AS new_score,
       CASE WHEN o.old_score IS NULL THEN 'added'
            WHEN n.new_score IS NULL THEN 'removed'
            WHEN o.old_score <> n.new_score THEN 'changed'
            ELSE 'unchanged' END AS change
FROM o FULL OUTER JOIN n ON o.term = n.term AND o.cui = n.cui
WHERE NOT (o.old_score IS NOT NULL AND n.new_score IS NOT NULL
           AND o.old_score = n.new_score)
""",
)
def q_gazetteer_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer release diff (sources.gazetteer_diff): v2 bumps problem
    scores by 0.05, retires cuis ending in 4, adds one concept. The
    changed/removed set is the incremental re-link scope."""
    from cliner_spark.sources import gazetteer_diff

    v1 = doc_gazetteer_df(spark)
    v2 = (
        v1.filter(~F.col("cui").endswith("4"))
        .withColumn(
            "score",
            F.when(F.col("sem_type") == "problem", F.col("score") + 0.05).otherwise(
                F.col("score")
            ),
        )
        .unionByName(
            v1.sparkSession.createDataFrame(
                [("bloom filter", "CD999", "test", "bloom filter", 0.88)],
                v1.schema,
            )
        )
    )
    d = gazetteer_diff(v1, v2)
    return d.select(
        "term", "cui",
        F.round("old_score", 4).alias("old_score"),
        F.round("new_score", 4).alias("new_score"),
        "change",
    )


@register(
    "q_incremental_relink",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS},
v2 AS (
  SELECT term, cui, sem_type, canonical,
         CASE WHEN sem_type = 'problem' THEN score + 0.05 ELSE score END AS score
  FROM gazv WHERE cui NOT LIKE '%4'
  UNION ALL
  SELECT 'bloom filter', 'CD999', 'test', 'bloom filter', 0.88
),
best_gaz2 AS (
  SELECT term, cui, sem_type AS concept_type, score AS link_score
  FROM (SELECT g.*, row_number() OVER (PARTITION BY term ORDER BY score DESC, cui ASC) AS rn
        FROM v2 g)
  WHERE rn = 1
)
SELECT m.doc_id, m.tok_start, m.tok_end, m.mention_text,
       b.cui, b.concept_type, round(b.link_score, 4) AS link_score
FROM mentions m JOIN best_gaz2 b ON lower(m.mention_text) = b.term
""",
)
def q_incremental_relink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-link after a gazetteer release (link.incremental_relink):
    only mentions whose term is in the release diff are re-scored against
    v2; the oracle is the FULL v2 re-link — the incremental path must equal
    it row-for-row (terms outside the diff cannot change their best row).
    Removed cuis (…4) drop their links; the diff is broadcast, the linked
    corpus is never shuffled."""
    from cliner_spark.link import incremental_relink, link_mentions
    from cliner_spark.sources import gazetteer_diff

    m = _doc_mentions_spark(spark, sf_dir).localCheckpoint(eager=True)
    v1 = doc_gazetteer_df(spark)
    v2 = (
        v1.filter(~F.col("cui").endswith("4"))
        .withColumn(
            "score",
            F.when(F.col("sem_type") == "problem", F.col("score") + 0.05).otherwise(
                F.col("score")
            ),
        )
        .unionByName(
            spark.createDataFrame(
                [("bloom filter", "CD999", "test", "bloom filter", 0.88)], v1.schema
            )
        )
    )
    linked_v1 = link_mentions(m, v1)
    out = incremental_relink(linked_v1, m, v2, gazetteer_diff(v1, v2))
    return out.select(
        "doc_id", "tok_start", "tok_end", "mention_text",
        "cui", "concept_type", F.round("link_score", 4).alias("link_score"),
    )


# ===========================================================================
# Retrieval / corpus-duplication family (round 2)
# ===========================================================================


@register(
    "q_tfidf_top_terms",
    f"""
WITH {SQL_DOCS_TOKS},
tk AS (
  SELECT d.doc_id, lower(t.tok) AS term
  FROM docs d, unnest(d.toks) AS t(tok)
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
s AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         round(tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (dfq.df + 1)), 6) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, score, rk FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INTEGER) AS rk
  FROM s
) WHERE rk <= 3
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document (textstats.tfidf_top_terms)."""
    from cliner_spark.textstats import tfidf_top_terms

    return tfidf_top_terms(load_docs(spark, sf_dir), k=3)


BM25_QUERY = ("stream", "vector", "window", "scan")


@register(
    "q_bm25_search",
    f"""
WITH {SQL_DOCS_TOKS},
tk AS (
  SELECT d.doc_id, lower(t.tok) AS term
  FROM docs d, unnest(d.toks) AS t(tok)
),
dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM docs),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tk
  WHERE term IN ('stream', 'vector', 'window', 'scan') GROUP BY 1, 2
),
dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
s AS (
  SELECT tf.doc_id,
         CAST(round(
           ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
           * tf.tf * (1.2 + 1) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)),
           6) AS DECIMAL(38,6)) AS s
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
),
sc AS (SELECT doc_id, CAST(sum(s) AS DOUBLE) AS score FROM s GROUP BY 1)
SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rk
FROM sc ORDER BY score DESC, doc_id ASC LIMIT 10
""",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 over the documents table for a fixed 4-term query
    (textstats.bm25_rank; k1=1.2, b=0.75)."""
    from cliner_spark.textstats import bm25_rank

    return bm25_rank(load_docs(spark, sf_dir), list(BM25_QUERY), k=10)


@register(
    "q_ngram_dup_rate",
    f"""
WITH {SQL_DOCS_TOKS},
pos AS (
  SELECT d.doc_id, lower(array_to_string(d.toks[t.i + 1 : t.i + 3], ' ')) AS gram
  FROM docs d, unnest(range(len(d.toks))) AS t(i)
  WHERE t.i + 3 <= len(d.toks)
),
dup AS (
  SELECT gram FROM (
    SELECT gram, count(DISTINCT doc_id) AS nd FROM pos GROUP BY 1
  ) WHERE nd >= 2
),
dp AS (
  SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_dup_pos
  FROM pos p JOIN dup USING (gram) GROUP BY 1
),
tot AS (
  SELECT doc_id,
         CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS n_pos
  FROM docs
)
SELECT t.doc_id, t.n_pos, coalesce(dp.n_dup_pos, 0) AS n_dup_pos,
       round(CASE WHEN t.n_pos > 0
             THEN CAST(coalesce(dp.n_dup_pos, 0) AS DOUBLE) / t.n_pos
             ELSE 0.0 END, 6) AS dup_rate
FROM tot t LEFT JOIN dp USING (doc_id)
""",
)
def q_ngram_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-document exact 3-gram duplication rate
    (dedup.crossdoc_ngram_dup; production n=13 per Lee et al. 2022)."""
    from cliner_spark.dedup import crossdoc_ngram_dup

    return crossdoc_ngram_dup(load_docs(spark, sf_dir), n=3)


# ===========================================================================
# Round-2 batch 2: TPC-H q5/q18, banded range join, DSIR selection weights
# ===========================================================================


@register(
    "q_tpch_q5",
    """
SELECT n.n_name,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
""",
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the join-order showcase. Fact
    tables (orders, lineitem) join on shuffled keys with the date filter
    pushed below the join; every dimension (customer is dimension-sized
    relative to lineitem, supplier, nation, region) is explicitly broadcast
    so the only shuffles are the two fact-side exchanges; the
    c_nationkey = s_nationkey equality rides the broadcast joins as a
    post-join filter, never a join explosion."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.sum(rev.cast("decimal(38,4)")).cast("double").alias("revenue")
        )
    )


@register(
    "q_tpch_q18",
    """
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 150
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(sum(CAST(l.l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
FROM orders o
JOIN big ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
""",
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): self-semi-join of the fact table
    against its own HAVING aggregate. The `big` order-key set is an
    aggregation output (tiny after the predicate) and is broadcast into
    BOTH fact scans, so lineitem is never shuffled against orders — the
    classic pre-aggregated semi-join reduction."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(F.broadcast(big), "l_orderkey")
        .join(
            o.join(F.broadcast(big), F.col("o_orderkey") == big["l_orderkey"]).select(
                "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,4)")).cast("double").alias("sum_qty"))
    )


@register(
    "q_error_after_click",
    """
WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
r AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error')
SELECT r.user_id, l.event_id AS left_id, r.event_id AS right_id,
       CAST(floor(epoch(r.ts)) AS BIGINT) - CAST(floor(epoch(l.ts)) AS BIGINT) AS lag_sec
FROM r JOIN l ON l.user_id = r.user_id
 AND l.ts <= r.ts AND l.ts >= r.ts - INTERVAL 600 SECONDS
""",
)
def q_error_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal band self-join (timeseries.banded_interval_join): every
    error event paired with same-user clicks in the preceding 10 minutes.
    The oracle is the naive theta join; the Spark plan is the bucketed
    two-equi-join decomposition that survives hot users at scale."""
    from cliner_spark.timeseries import banded_interval_join

    ev = load(spark, sf_dir, "events")
    return banded_interval_join(ev, "click", "error", band_minutes=10)


@register(
    "q_dsir_weights",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_LM_COUNTS},
tdocs AS (SELECT * FROM docs WHERE doc_id % 3 = 0),
tpairs AS (
  SELECT lower(d.toks[t.i + 1]) AS w1, lower(d.toks[t.i + 2]) AS w2,
         CAST(count(*) AS BIGINT) AS cb_t
  FROM tdocs d, unnest(range(len(d.toks))) AS t(i)
  WHERE t.i + 2 <= len(d.toks) GROUP BY 1, 2
),
tuni AS (
  SELECT lower(t.tok) AS w1, CAST(count(*) AS BIGINT) AS cw_t
  FROM tdocs d, unnest(d.toks) AS t(tok) GROUP BY 1
),
tv AS (
  SELECT CAST(count(DISTINCT lower(t.tok)) AS BIGINT) AS v_t
  FROM tdocs d, unnest(d.toks) AS t(tok)
)
SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(
         CAST(floor(ln(CAST(coalesce(tp.cb_t, 0) + 1 AS DOUBLE)
                       / (coalesce(tu.cw_t, 0) + tv.v_t)) * 1000000) AS BIGINT)
         - CAST(floor(ln(CAST(bg.c_bigram + 1 AS DOUBLE) / (u.c_w1 + vv.vocab)) * 1000000) AS BIGINT)
       ) AS BIGINT) AS weight_fp
FROM pairs p
JOIN bg ON p.w1 = bg.w1 AND p.w2 = bg.w2
JOIN uni u ON p.w1 = u.w1
LEFT JOIN tpairs tp ON p.w1 = tp.w1 AND p.w2 = tp.w2
LEFT JOIN tuni tu ON p.w1 = tu.w1
CROSS JOIN vv CROSS JOIN tv
GROUP BY p.doc_id
""",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling weights (lm.importance_weights): target
    domain = doc_id % 3 = 0 slice, background = full corpus."""
    from cliner_spark.lm import importance_weights

    docs = load_docs(spark, sf_dir)
    return importance_weights(docs, docs.filter(F.col("doc_id") % 3 == 0))


@register(
    "q_sliding_counts",
    """
WITH k AS (SELECT unnest(range(3)) AS k)
SELECT e.event_type,
       time_bucket(INTERVAL 10 MINUTES, e.ts) - k.k * INTERVAL 10 MINUTES AS win_start,
       time_bucket(INTERVAL 10 MINUTES, e.ts) - k.k * INTERVAL 10 MINUTES + INTERVAL 30 MINUTES AS win_end,
       CAST(count(*) AS BIGINT) AS n
FROM events e CROSS JOIN k
GROUP BY 1, 2, 3
""",
)
def q_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (30 min window / 10 min slide) event counts per type
    (timeseries.sliding_window_counts; F.window fan-out-then-aggregate)."""
    from cliner_spark.timeseries import sliding_window_counts

    return sliding_window_counts(load(spark, sf_dir, "events"), 30, 10)


@register(
    "q_funnel",
    """
WITH u AS (SELECT DISTINCT user_id FROM events),
s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1
)
SELECT u.user_id,
       CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
                 WHEN s2.user_id IS NOT NULL THEN 2
                 WHEN s1.user_id IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS depth
FROM u
LEFT JOIN s1 ON u.user_id = s1.user_id
LEFT JOIN s2 ON u.user_id = s2.user_id
LEFT JOIN s3 ON u.user_id = s3.user_id
""",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch ordered funnel view->click->purchase per user
    (timeseries.funnel_conversion; chained conditional min-aggregates,
    scalar per-user state)."""
    from cliner_spark.timeseries import funnel_conversion

    return funnel_conversion(load(spark, sf_dir, "events"))


@register(
    "q_adamic_adar",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}, {SQL_DOC_CUI},
e AS (SELECT DISTINCT src, dst FROM coedges),
und AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
deg AS (SELECT u AS w, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
adj AS (SELECT u AS w, v AS x FROM und),
pairs AS (
  SELECT a.x AS a, b.x AS b, a.w AS w
  FROM adj a JOIN adj b ON a.w = b.w AND a.x < b.x
)
SELECT p.a AS src, p.b AS dst, CAST(count(*) AS BIGINT) AS n_common,
       CAST(sum(CAST(floor(1000000.0 / ln(CAST(d.deg AS DOUBLE))) AS BIGINT)) AS BIGINT) AS score_fp
FROM pairs p JOIN deg d ON p.w = d.w AND d.deg >= 2
GROUP BY 1, 2
""",
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link-prediction scores over the concept co-occurrence
    graph (graph.adamic_adar; fixed-point inverse-log-degree sum)."""
    from cliner_spark.graph import adamic_adar

    dcui = (
        _doc_linked(spark, sf_dir)
        .select(F.col("conv_id").alias("doc_id"), "cui")
        .distinct()
        .localCheckpoint(eager=True)
    )
    a, b = dcui.alias("a"), dcui.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.cui") < F.col("b.cui")),
        )
        .select(F.col("a.cui").alias("src"), F.col("b.cui").alias("dst"))
        .distinct()
    )
    return adamic_adar(edges)


@register(
    "q_semdedup",
    f"""
WITH RECURSIVE {SQL_EMB}, {_sql_lsh_buckets(4).strip()},
p AS (
  SELECT id_a, id_b FROM (
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           {_sql_cos('a.v', 'c.v')} AS sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
  ) WHERE sim >= 0.35
),
sedges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM e
  UNION
  SELECT r.src, g.dst FROM reach r JOIN sedges g ON r.dst = g.src
)
SELECT src AS vec_id, min(dst) AS cluster_id, min(dst) = src AS keep
FROM reach GROUP BY src
""",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop decision over embeddings
    (dedup.semdedup_keep; LSH-bucketed cosine pairs -> CC -> min-id rep)."""
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    return _dedup.semdedup_keep(emb, threshold=0.35, n_planes=4, dims=64)


@register(
    "q_frame_dedup",
    """
WITH m AS (
  SELECT doc_id AS media_id, lower(hex(encode(coalesce(text, '')))) AS h
  FROM documents
),
fr AS (
  SELECT media_id, CAST(t.i AS INTEGER) AS frame_idx,
         substr(h, CAST(t.i * 64 + 1 AS BIGINT), 32) AS frame_hex
  FROM m, unnest(range(CAST(ceil(length(h) / 64.0) AS BIGINT))) AS t(i)
  WHERE t.i % 2 = 0
)
SELECT md5(frame_hex) AS frame_md5,
       CAST(count(DISTINCT media_id) AS BIGINT) AS n_media,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       min(media_id) AS rep_media,
       CAST(min(CASE WHEN media_id = mm THEN frame_idx END) AS INTEGER) AS rep_frame_idx
FROM (SELECT *, min(media_id) OVER (PARTITION BY frame_hex) AS mm FROM fr)
GROUP BY frame_hex
HAVING count(DISTINCT media_id) >= 2
""",
)
def q_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-media duplicated sampled frames (multimodal.frame_dedup)."""
    media = _mm.attach_payload(load(spark, sf_dir, "documents"))
    return _mm.frame_dedup(media, frame_bytes=32, stride=2, crop_bytes=16)


# ===========================================================================
# Round-2 batch 5: window stats, pivot, ntile, salted skew join
# ===========================================================================


@register(
    "q_moving_zscore",
    """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, hour, n,
         avg(n) OVER (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS mu,
         stddev_samp(n) OVER (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS sd,
         count(*) OVER (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS nw
  FROM hourly
)
SELECT event_type, hour, n,
       round(CASE WHEN nw >= 3 AND sd > 0 THEN (n - mu) / sd END, 6) AS zscore
FROM w
""",
)
def q_moving_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly signal over hourly event counts:
    mean/stddev of the 5 PRECEDING hours (current row excluded), null until
    the window holds >= 3 points. One aggregation + one window sort over
    the (tiny) hourly rollup — the window runs on groups x hours rows, not
    events."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-5, -1)
    )
    mu, sd, nw = F.avg("n").over(w), F.stddev_samp("n").over(w), F.count(F.lit(1)).over(w)
    return hourly.select(
        "event_type",
        "hour",
        "n",
        F.round(
            F.when((nw >= 3) & (sd > 0), (F.col("n") - mu) / sd), 6
        ).alias("zscore"),
    )


@register(
    "q_source_lang_matrix",
    """
SELECT source,
       CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS en,
       CAST(count(*) FILTER (lang = 'de') AS BIGINT) AS de,
       CAST(count(*) FILTER (lang = 'fr') AS BIGINT) AS fr,
       CAST(count(*) FILTER (lang = 'es') AS BIGINT) AS es,
       CAST(count(*) FILTER (lang = 'zh') AS BIGINT) AS zh
FROM documents GROUP BY source
""",
)
def q_source_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source x language contingency matrix via pivot with an EXPLICIT
    value list — the two-pass infer-distinct-values pivot is a hidden extra
    job at scale; pinning the columns keeps it one aggregation."""
    langs = ["en", "de", "fr", "es", "zh"]
    return (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .pivot("lang", langs)
        .agg(F.count(F.lit(1)))
        .select(
            "source",
            *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c) for c in langs],
        )
    )


@register(
    "q_length_deciles",
    """
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM (
  SELECT n_chars, ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
  FROM documents
)
GROUP BY decile
""",
)
def q_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length decile bounds (ntile with a DETERMINISTIC total order —
    ties broken by doc_id so both engines assign identical tiles). The
    global sort is over (n_chars, doc_id) scalars only; at 100 TB the same
    statistic comes from approx quantiles (q_approx_quantile) — this is the
    exact/auditable variant."""
    docs = load(spark, sf_dir, "documents")
    t = F.ntile(10).over(Window.orderBy("n_chars", "doc_id"))
    return (
        docs.select("n_chars", t.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register(
    "q_salted_join",
    """
WITH dim AS (
  SELECT DISTINCT user_id, 'grp_' || CAST(user_id % 7 AS VARCHAR) AS grp
  FROM events
)
SELECT d.grp, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
FROM events e JOIN dim d ON e.user_id = d.user_id
GROUP BY d.grp
""",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact-to-dim join: the fact side carries a random-free
    deterministic salt (pmod(xxhash64(event_id), 8)); the dim side is
    EXPLODED 8x so every salted fact key finds its replica — the classic
    hot-key defence when the dim is too big to broadcast and one user_id
    dominates the stream. Result is provably salt-invariant (the oracle is
    the plain unsalted join)."""
    n_salt = 8
    ev = load(spark, sf_dir, "events")
    dim = ev.select("user_id").distinct().select(
        "user_id",
        F.concat(F.lit("grp_"), (F.col("user_id") % 7).cast("string")).alias("grp"),
    )
    fact = ev.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salt)))
    dim_r = dim.withColumn(
        "_salt", F.explode(F.array([F.lit(i) for i in range(n_salt)]))
    )
    return (
        fact.join(dim_r, ["user_id", "_salt"])
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("total_value"),
        )
    )


# ===========================================================================
# Round-2 batch 6: trend regression, winsorized mean, cohort retention
# ===========================================================================


@register(
    "q_concept_trend",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_CANON}, {SQL_TX_LMT.strip()},
act AS (
  SELECT c.canon_cui, l.turn_idx // 4 AS bucket, CAST(count(*) AS BIGINT) AS n
  FROM lmt l JOIN canon c ON l.cui = c.cui
  GROUP BY 1, 2
)
SELECT canon_cui, CAST(count(*) AS BIGINT) AS n_buckets,
       round(regr_slope(n, bucket), 6) AS slope
FROM act GROUP BY canon_cui
""",
)
def q_concept_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-concept mention-volume trend: least-squares slope of
    turn-bucketed mention counts (emerging vs dying concepts). regr_slope
    is a single-pass algebraic aggregate in both engines — no window sort,
    one shuffle on canon_cui."""
    from cliner_spark.triples import with_canonical

    linked, gaz = _doc_linked_transcript(spark, sf_dir)
    m = with_canonical(
        linked.select("conv_id", "turn_idx", "cui").distinct(),
        cached_canon_map(spark),
    )
    act = m.groupBy(
        "canon_cui", (F.col("turn_idx") / 4).cast("int").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    return act.groupBy("canon_cui").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.regr_slope(F.col("n").cast("double"), F.col("bucket").cast("double")), 6).alias("slope"),
    )


@register(
    "q_winsorized_mean",
    """
WITH b AS (
  SELECT event_type,
         percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS lo,
         percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(CASE WHEN e.value < b.lo THEN b.lo
                      WHEN e.value > b.hi THEN b.hi
                      ELSE e.value END), 6) AS wmean,
       round(avg(e.value), 6) AS mean
FROM events e JOIN b USING (event_type)
GROUP BY e.event_type
""",
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type (outlier-robust cleaning stat): exact
    p5/p95 bounds per group, values clamped, then averaged. The bounds
    table is group-cardinality (broadcast back); the clamp+avg is one more
    grouped pass — two shuffles total, no global sort."""
    ev = load(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clamped = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    return (
        ev.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(clamped), 6).alias("wmean"),
            F.round(F.avg("value"), 6).alias("mean"),
        )
    )


@register(
    "q_user_retention",
    """
WITH wk AS (
  SELECT user_id, CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) // 7 AS INTEGER) AS week
  FROM events
),
cohort AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY 1),
activity AS (SELECT DISTINCT user_id, week FROM wk)
SELECT c.cohort_week, CAST(a.week - c.cohort_week AS INTEGER) AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM activity a JOIN cohort c USING (user_id)
GROUP BY 1, 2
""",
)
def q_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-active week, counted
    in each later active week offset. Cohort table is user-cardinality
    (broadcast); activity is a distinct aggregate — two shuffles, no
    user x week crossing."""
    ev = load(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")) / 7
    ).cast("int")
    wk = ev.select("user_id", week.alias("week"))
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = wk.distinct()
    return (
        activity.join(F.broadcast(cohort), "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# ===========================================================================
# Round-2 batch 7: grouping sets, min_by/max_by, JSON extraction
# ===========================================================================


@register(
    "q_grouping_sets",
    """
SELECT coalesce(event_type, '<all>') AS event_type,
       coalesce(CAST(extract(hour FROM ts) AS VARCHAR), '<all>') AS hour_of_day,
       CAST(count(*) AS BIGINT) AS n,
       CAST(grouping(event_type) * 2 + grouping(extract(hour FROM ts)) AS INTEGER) AS gid
FROM events
GROUP BY GROUPING SETS ((event_type), (extract(hour FROM ts)), ())
""",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS aggregation (marginals by type, by hour, and
    the grand total in ONE pass — Spark expands the sets inside a single
    Expand+Aggregate, not three scans) with grouping_id disambiguation."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hod")
    )
    g = ev.groupingSets(
        [["event_type"], ["hod"], []], "event_type", "hod"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.grouping("event_type") * 2 + F.grouping("hod")).cast("int").alias("gid"),
    )
    return g.select(
        F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
        F.coalesce(F.col("hod").cast("string"), F.lit("<all>")).alias("hour_of_day"),
        "n",
        "gid",
    )


@register(
    "q_first_last_event",
    """
SELECT user_id,
       CAST(min_by(event_id, ts) AS BIGINT) AS first_event,
       min_by(event_type, ts) AS first_type,
       CAST(max_by(event_id, ts) AS BIGINT) AS last_event,
       max_by(event_type, ts) AS last_type,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY user_id
""",
)
def q_first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event per user via min_by/max_by — ONE aggregation, no
    row_number window over the full stream (the window formulation sorts
    every user's events; the argmin aggregate keeps one candidate per
    partition). ts ties cannot occur in this data (microsecond event grid);
    at scale break ties by (ts, event_id) struct ordering."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.min_by("event_id", "ts").alias("first_event"),
        F.min_by("event_type", "ts").alias("first_type"),
        F.max_by("event_id", "ts").alias("last_event"),
        F.max_by("event_type", "ts").alias("last_type"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_json_props",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type
""",
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property extraction: JSON path into the `props`
    column, aggregated per type. get_json_object evaluates in the scan
    stage (codegen'd Jackson parse, no UDF); at scale prefer from_json with
    an explicit schema once the shape is known — this is the
    exploratory-path twin."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.sum(k).alias("sum_k"),
    )


@register(
    "q_event_trigrams",
    """
WITH s AS (
  SELECT user_id, event_type AS a,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b,
         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS c
  FROM events
)
SELECT a, b, c, CAST(count(*) AS BIGINT) AS n
FROM s WHERE b IS NOT NULL AND c IS NOT NULL
GROUP BY a, b, c
""",
)
def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral 3-gram mining over per-user event sequences (lead x2 over
    a deterministic (ts, event_id) order, then one aggregation) — the
    sequence-pattern rollup a session-modeling pipeline feeds on. The
    window partitions by user, so state per sort is one user's events."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    )
    return (
        s.filter(F.col("b").isNotNull() & F.col("c").isNotNull())
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_conv_turn_stats",
    f"""
WITH {SQL_DOCS_TOKS},
tx AS (
  SELECT CAST(doc_id % 97 AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY doc_id % 97 ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         CAST(len(toks) AS BIGINT) AS n_tokens
  FROM docs
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_turn_tokens,
       CAST(sum(CASE WHEN n_tokens = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_blank_turns
FROM tx GROUP BY conv_id
""",
)
def q_conv_turn_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-grain conversation rollup (S1-family health stats: volume,
    token mass, hottest turn, blank turns) — the table a pipeline operator
    watches for skewed/hot conversations before choosing salt factors."""
    docs = load_docs(spark, sf_dir)
    w = Window.partitionBy(F.col("doc_id") % 97).orderBy("doc_id")
    tx = docs.select(
        (F.col("doc_id") % 97).cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.size(tokens_col("text")).cast("bigint").alias("n_tokens"),
    )
    return tx.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("n_tokens").alias("total_tokens"),
        F.max("n_tokens").alias("max_turn_tokens"),
        F.sum(F.when(F.col("n_tokens") == 0, 1).otherwise(0)).cast("bigint").alias("n_blank_turns"),
    )


@register(
    "q_eval_kappa",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_PRED_GOLD},
aligned AS (
  SELECT g.concept_type AS gold_type, p.concept_type AS pred_type
  FROM gold g JOIN pred p
    ON g.doc_id = p.doc_id AND g.tok_start = p.tok_start AND g.tok_end = p.tok_end
),
cm AS (
  SELECT gold_type, pred_type, count(*) AS n FROM aligned GROUP BY 1, 2
),
rowm AS (SELECT gold_type AS t, sum(n) AS r FROM cm GROUP BY 1),
colm AS (SELECT pred_type AS t, sum(n) AS c FROM cm GROUP BY 1),
marg AS (
  SELECT (SELECT sum(n) FROM cm) AS n_aligned,
         (SELECT sum(CASE WHEN gold_type = pred_type THEN n ELSE 0 END) FROM cm) AS n_agree,
         (SELECT sum(r * c) FROM rowm JOIN colm USING (t)) AS chance
)
SELECT CAST(n_aligned AS BIGINT) AS n_aligned,
       CAST(n_agree AS BIGINT) AS n_agree,
       CAST(n_aligned * n_agree - chance AS BIGINT) AS kappa_num,
       CAST(n_aligned * n_aligned - chance AS BIGINT) AS kappa_den,
       CAST(n_aligned * n_agree - chance AS DOUBLE)
         / CAST(n_aligned * n_aligned - chance AS DOUBLE) AS kappa
FROM marg
""",
)
def q_eval_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the gold and predicted concept types on
    span-aligned mentions (chance-corrected inter-annotator agreement, the
    standard companion to the confusion matrix in annotation-QA).

    kappa = (po - pe) / (1 - pe) is computed from exact integer counts —
    chance = sum over LABELS t of row_t * col_t (matching-label marginal
    products only, per Cohen), kappa_num = N*agree - chance, kappa_den =
    N^2 - chance — so both engines divide the SAME two BIGINTs and the
    double is bit-identical (no order-dependent float summation anywhere).
    The whole thing is one confusion-matrix aggregation (tiny: types x
    types) after the aligned-span equi-join. A randomized replica test
    (tests/test_random_replicas_r2b.py) checks the formula against a
    pure-Python kappa on random dense confusions, where a wrong chance term
    degenerates to division by zero."""
    pred, gold = _pred_gold_spark(spark, sf_dir)
    keys = ["doc_id", "tok_start", "tok_end"]
    cm = (
        gold.withColumnRenamed("concept_type", "gold_type")
        .join(pred.withColumnRenamed("concept_type", "pred_type"), keys)
        .groupBy("gold_type", "pred_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from cliner_spark.evaluate import kappa_from_confusion

    return kappa_from_confusion(cm)


# Shared turn-pair CTE: adjacent-turn distinct-token overlap within each
# derived conversation (docs-as-transcripts convention, header comment).
SQL_TURN_PAIRS = f"""
{SQL_DOCS_TOKS},
tx AS (
  SELECT doc_id % 97 AS conv_id,
         CAST(row_number() OVER (PARTITION BY doc_id % 97 ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         list_distinct(toks) AS dtoks
  FROM docs
),
pairs AS (
  SELECT conv_id, turn_idx, dtoks,
         lag(dtoks) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_toks
  FROM tx
),
overlap AS (
  SELECT conv_id, turn_idx,
         CAST(len(list_intersect(dtoks, prev_toks)) AS BIGINT) AS n_common,
         CAST(len(dtoks) + len(prev_toks) - len(list_intersect(dtoks, prev_toks)) AS BIGINT) AS n_union
  FROM pairs WHERE prev_toks IS NOT NULL
)
"""


@register(
    "q_turn_echo",
    f"""
WITH {SQL_TURN_PAIRS}
SELECT CAST(conv_id AS VARCHAR) AS conv_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(n_common) AS BIGINT) AS sum_common,
       CAST(sum(n_union) AS BIGINT) AS sum_union,
       max(CASE WHEN n_union = 0 THEN 0.0
                ELSE CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) END) AS max_echo,
       CAST(sum(CASE WHEN n_union > 0 AND CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_echo
FROM overlap GROUP BY 1
""",
)
def q_turn_echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-turn echo rate per conversation: distinct-token Jaccard
    between each turn and its predecessor (lag window), rolled up per conv.
    The transcript-QA signal for parroting/copy-looping agents — a high
    echo conversation is degenerate training data.

    Scale: one window (partitioned by conv, state = one conversation) + one
    agg; per-pair Jaccard is exact-integer n_common/n_union so the doubles
    are engine-identical (max / threshold-count only — no float summation).
    The per-conv means are published as exact integer sums (micro-average =
    sum_common/sum_union downstream)."""
    docs = load_docs(spark, sf_dir)
    w = Window.partitionBy(F.col("doc_id") % 97).orderBy("doc_id")
    tx = docs.select(
        (F.col("doc_id") % 97).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.array_distinct(tokens_col("text")).alias("dtoks"),
    )
    wc = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = tx.withColumn("prev_toks", F.lag("dtoks").over(wc)).filter(
        F.col("prev_toks").isNotNull()
    )
    ov = pairs.select(
        "conv_id",
        F.size(F.array_intersect("dtoks", "prev_toks")).cast("bigint").alias("n_common"),
        (
            F.size("dtoks") + F.size("prev_toks") - F.size(F.array_intersect("dtoks", "prev_toks"))
        )
        .cast("bigint")
        .alias("n_union"),
    )
    jac = F.when(F.col("n_union") == 0, F.lit(0.0)).otherwise(
        F.col("n_common").cast("double") / F.col("n_union").cast("double")
    )
    return ov.groupBy(F.col("conv_id").cast("string").alias("conv_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("n_common").alias("sum_common"),
        F.sum("n_union").alias("sum_union"),
        F.max(jac).alias("max_echo"),
        F.sum(F.when(jac >= 0.5, 1).otherwise(0)).cast("bigint").alias("n_high_echo"),
    )


@register(
    "q_conv_segments",
    f"""
WITH {SQL_TURN_PAIRS},
bounds AS (
  SELECT t.conv_id, t.turn_idx,
         CASE WHEN o.turn_idx IS NULL THEN 1
              WHEN o.n_union = 0 OR CAST(o.n_common AS DOUBLE) / CAST(o.n_union AS DOUBLE) < 0.2
              THEN 1 ELSE 0 END AS is_boundary
  FROM tx t LEFT JOIN overlap o ON t.conv_id = o.conv_id AND t.turn_idx = o.turn_idx
),
segs AS (
  SELECT conv_id, turn_idx,
         sum(is_boundary) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                ROWS UNBOUNDED PRECEDING) AS seg_id
  FROM bounds
),
seg_sizes AS (
  SELECT conv_id, seg_id, count(*) AS seg_len FROM segs GROUP BY 1, 2
)
SELECT CAST(conv_id AS VARCHAR) AS conv_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(seg_len) AS BIGINT) AS n_turns,
       CAST(max(seg_len) AS BIGINT) AS max_segment_len
FROM seg_sizes GROUP BY 1
""",
)
def q_conv_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-based conversation segmentation: a turn opens a new segment
    when its distinct-token Jaccard vs the previous turn drops below 0.2
    (topic shift), segment ids via a running boundary sum — sessionize
    applied to content similarity instead of time gaps. Per-conv rollup:
    segment count / turn count / longest segment.

    Scale: two windows over the same conv partitioning (Catalyst reuses the
    sort) + two aggs; boundary decisions compare exact-integer ratios so
    both engines cut identically."""
    docs = load_docs(spark, sf_dir)
    w = Window.partitionBy(F.col("doc_id") % 97).orderBy("doc_id")
    tx = docs.select(
        (F.col("doc_id") % 97).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.array_distinct(tokens_col("text")).alias("dtoks"),
    )
    wc = Window.partitionBy("conv_id").orderBy("turn_idx")
    jac_prev = F.when(
        F.col("prev_toks").isNull(), F.lit(None).cast("double")
    ).otherwise(
        F.when(
            F.size(F.array_union("dtoks", "prev_toks")) == 0, F.lit(0.0)
        ).otherwise(
            F.size(F.array_intersect("dtoks", "prev_toks")).cast("double")
            / (
                F.size("dtoks")
                + F.size("prev_toks")
                - F.size(F.array_intersect("dtoks", "prev_toks"))
            ).cast("double")
        )
    )
    bounds = (
        tx.withColumn("prev_toks", F.lag("dtoks").over(wc))
        .withColumn("jac", jac_prev)
        .select(
            "conv_id",
            "turn_idx",
            F.when(F.col("jac").isNull() | (F.col("jac") < 0.2), 1)
            .otherwise(0)
            .alias("is_boundary"),
        )
    )
    segs = bounds.withColumn(
        "seg_id",
        F.sum("is_boundary").over(
            wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    seg_sizes = segs.groupBy("conv_id", "seg_id").agg(F.count(F.lit(1)).alias("seg_len"))
    return seg_sizes.groupBy(F.col("conv_id").cast("string").alias("conv_id")).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("seg_len").alias("n_turns"),
        F.max("seg_len").alias("max_segment_len"),
    )


@register(
    "q_heavy_hitters",
    f"""
WITH {SQL_DOCS_TOKS},
alltoks AS (SELECT lower(u.tok) AS tok FROM docs, unnest(toks) AS u(tok)),
tot AS (SELECT count(*) AS total FROM alltoks)
SELECT tok, CAST(count(*) AS BIGINT) AS n
FROM alltoks GROUP BY tok
HAVING CAST(count(*) AS DOUBLE) > 0.01 * (SELECT CAST(total AS DOUBLE) FROM tot)
""",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phi=1% heavy-hitter tokens via two-pass Misra-Gries (textstats.
    heavy_hitters): per-partition mergeable sketches -> candidate superset ->
    exact recount of candidates only. The oracle is the brute-force
    GROUP BY/HAVING — outputs match exactly because pass 2 recounts, which is
    the whole point of sketch-then-verify at 100 TB (the shuffle carries only
    candidate tokens, not the full vocabulary)."""
    return _ts.heavy_hitters(load_docs(spark, sf_dir), phi=0.01)


@register(
    "q_tpch_q14",
    """
SELECT CAST(sum(CAST(CASE WHEN p.p_type = 'PROMO'
                     THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END
                AS DECIMAL(38,4))) AS DOUBLE) AS promo_revenue,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,4)))
            AS DOUBLE) AS total_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1996-02-01'
""",
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14 (promo revenue share) on the testdata's column subset: the
    month filter prunes the lineitem scan (PushedFilters on l_shipdate
    min/max footer stats), part is the broadcast side. Revenues published as
    exact DECIMALs; the percentage is downstream arithmetic."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0).cast("decimal(38,4)"))
        .cast("double")
        .alias("promo_revenue"),
        F.sum(rev.cast("decimal(38,4)")).cast("double").alias("total_revenue"),
    )


@register(
    "q_tpch_q19",
    """
SELECT CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,4)))
            AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""",
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19 shape (disjunctive multi-column predicates spanning both
    join sides) on the testdata's column subset. The single-side conjuncts
    Catalyst can factor out (l_quantity BETWEEN 1 AND 30, p_size BETWEEN 1
    AND 15, p_brand IN (...)) push into the scans; the cross-side
    disjunction evaluates post-join. Part is broadcast."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#7")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(cond).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,4)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q_tpch_q12",
    """
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l.l_returnflag
""",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q12 shape (priority-class CASE-sum after a fact-fact join) on
    the testdata's column subset (l_returnflag stands in for l_shipmode).
    The year filter reduces lineitem BEFORE the shuffle join with orders;
    the CASE-sums ride the same aggregation (one shuffle each side, one
    agg)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "q_relations",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
pairs AS (
  SELECT a.doc_id, a.cui AS subj_cui, b.cui AS obj_cui, b.concept_type AS obj_type,
         d.toks[a.tok_end + 2 : b.tok_start] AS gap
  FROM linked a
  JOIN linked b ON a.doc_id = b.doc_id AND a.tok_end < b.tok_start
                AND b.tok_start - a.tok_end <= 8
  JOIN docs d ON d.doc_id = a.doc_id
  WHERE a.concept_type = 'problem'
),
rels AS (
  SELECT doc_id, subj_cui,
         CASE WHEN obj_type = 'treatment' AND list_contains(gap, 'fast')
              THEN 'TREATED_WITH'
              WHEN obj_type = 'test' AND list_contains(gap, 'value')
              THEN 'INVESTIGATED_BY' END AS pred,
         obj_cui
  FROM pairs
)
SELECT subj_cui, pred, obj_cui, CAST(count(*) AS BIGINT) AS n
FROM rels WHERE pred IS NOT NULL
GROUP BY 1, 2, 3
""",
)
def q_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed relation extraction — the KG edge family beyond co-mention:
    (problem, TREATED_WITH, treatment) / (problem, INVESTIGATED_BY, test)
    when a trigger token appears in the gap between two linked mentions at
    most 8 tokens apart. Pattern-based relation extraction is the classic
    rule layer over an NER pipeline (the reference's concept layer feeds it);
    output is the weighted typed-edge table.

    Scale: mention pairs join on doc_id (the theta conditions ride the equi
    key — same shape as eval overlap), the gap slice is a JVM expression on
    the already-present token array, and the trigger test is array_contains
    — zero Python anywhere."""
    m = _doc_mentions_spark(spark, sf_dir).withColumnRenamed("doc_id", "conv_id")
    linked = link_mentions(
        m.withColumn("turn_idx", F.lit(0)), doc_gazetteer_df(spark)
    ).select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "tok_start",
        "tok_end",
        "cui",
        "concept_type",
    )
    docs = load_docs(spark, sf_dir).select("doc_id", tokens_col("text").alias("toks"))
    a = linked.filter(F.col("concept_type") == "problem").select(
        "doc_id",
        F.col("tok_end").alias("a_end"),
        F.col("cui").alias("subj_cui"),
    )
    b = linked.select(
        "doc_id",
        F.col("tok_start").alias("b_start"),
        F.col("cui").alias("obj_cui"),
        F.col("concept_type").alias("obj_type"),
    )
    pairs = (
        a.join(b, "doc_id")
        .filter((F.col("a_end") < F.col("b_start")) & (F.col("b_start") - F.col("a_end") <= 8))
        .join(docs, "doc_id")
        .withColumn(
            "gap",
            F.slice(
                F.col("toks"),
                F.col("a_end") + 2,
                F.col("b_start") - F.col("a_end") - 1,
            ),
        )
    )
    pred = F.when(
        (F.col("obj_type") == "treatment") & F.array_contains("gap", "fast"),
        F.lit("TREATED_WITH"),
    ).when(
        (F.col("obj_type") == "test") & F.array_contains("gap", "value"),
        F.lit("INVESTIGATED_BY"),
    )
    return (
        pairs.withColumn("pred", pred)
        .filter(F.col("pred").isNotNull())
        .groupBy("subj_cui", "pred", "obj_cui")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_coref_antecedent",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
anaphors AS (
  SELECT d.doc_id, CAST(t.i AS INTEGER) AS anaphor_idx
  FROM docs d, unnest(range(len(d.toks))) AS t(i)
  WHERE lower(d.toks[t.i + 1]) = 'the'
),
acand AS (
  SELECT x.doc_id, x.anaphor_idx, m.tok_end, m.cui,
         row_number() OVER (PARTITION BY x.doc_id, x.anaphor_idx
                            ORDER BY m.tok_end DESC, m.cui ASC) AS rn
  FROM anaphors x JOIN linked m
    ON m.doc_id = x.doc_id AND m.tok_end < x.anaphor_idx
   AND x.anaphor_idx - m.tok_end <= 10
)
SELECT doc_id, anaphor_idx, tok_end AS antecedent_end, cui AS antecedent_cui
FROM acand WHERE rn = 1
""",
)
def q_coref_antecedent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreference-lite: resolve each anaphor token to the NEAREST preceding
    linked mention in the same document within a 10-token window (nearest-
    antecedent heuristic, deterministic tie-break on cui) — the cheap
    recall-booster that turns 'the <anaphor>' rows into extra concept
    evidence for the KG. Same plan family as the as-of join: equi-join on
    doc_id with the range predicate riding the key, then a per-anaphor
    top-1 window."""
    docs = load_docs(spark, sf_dir).select("doc_id", tokens_col("text").alias("toks"))
    anaphors = docs.select(
        "doc_id",
        F.posexplode(F.col("toks")).alias("anaphor_idx", "tok"),
    ).filter(F.lower("tok") == "the").select("doc_id", "anaphor_idx")
    m = _doc_mentions_spark(spark, sf_dir).withColumnRenamed("doc_id", "conv_id")
    linked = link_mentions(
        m.withColumn("turn_idx", F.lit(0)), doc_gazetteer_df(spark)
    ).select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        F.col("tok_end"),
        "cui",
    )
    cand = anaphors.join(linked, "doc_id").filter(
        (F.col("tok_end") < F.col("anaphor_idx"))
        & (F.col("anaphor_idx") - F.col("tok_end") <= 10)
    )
    w = Window.partitionBy("doc_id", "anaphor_idx").orderBy(
        F.desc("tok_end"), F.asc("cui")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "anaphor_idx",
            F.col("tok_end").alias("antecedent_end"),
            F.col("cui").alias("antecedent_cui"),
        )
    )


@register(
    "q_kg_walks",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}, {SQL_DOC_CUI.strip().rstrip()},
sym AS (
  SELECT src, dst FROM coedges UNION ALL SELECT dst, src FROM coedges
),
adj AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rank,
         count(*) OVER (PARTITION BY src) AS deg
  FROM sym
),
s0 AS (SELECT DISTINCT src AS walk_start FROM adj),
s1 AS (
  SELECT f.walk_start, a.dst AS step_1
  FROM s0 f JOIN adj a ON a.src = f.walk_start
  WHERE a.rank = CAST(('0x' || substr(md5(f.walk_start || '#1'), 1, 4)) AS BIGINT) % a.deg
),
s2 AS (
  SELECT f.walk_start, f.step_1, a.dst AS step_2
  FROM s1 f JOIN adj a ON a.src = f.step_1
  WHERE a.rank = CAST(('0x' || substr(md5(f.step_1 || '#2'), 1, 4)) AS BIGINT) % a.deg
),
s3 AS (
  SELECT f.walk_start, f.step_1, f.step_2, a.dst AS step_3
  FROM s2 f JOIN adj a ON a.src = f.step_2
  WHERE a.rank = CAST(('0x' || substr(md5(f.step_2 || '#3'), 1, 4)) AS BIGINT) % a.deg
)
SELECT walk_start, step_1, step_2, step_3 FROM s3
""",
)
def q_kg_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic random-walk corpus over the concept co-occurrence
    graph (graph.deterministic_walks): the DeepWalk/node2vec training-data
    generator with engine-reproducible md5 step selection instead of RNG
    state. One 3-step walk per node."""
    from cliner_spark.graph import deterministic_walks

    dcui = (
        _doc_linked(spark, sf_dir)
        .select(F.col("conv_id").alias("doc_id"), "cui")
        .distinct()
    )
    b = dcui.withColumnRenamed("cui", "cui_b")
    edges = (
        dcui.join(b, "doc_id")
        .filter(F.col("cui") < F.col("cui_b"))
        .select(F.col("cui").alias("src"), F.col("cui_b").alias("dst"))
        .distinct()
    )
    return deterministic_walks(edges, steps=3)


@register(
    "q_minhash_calibration",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_SHINGLES_2},
sig AS (
  SELECT doc_id,
         min(md5('0#' || shingle)) AS h0, min(md5('1#' || shingle)) AS h1,
         min(md5('2#' || shingle)) AS h2, min(md5('3#' || shingle)) AS h3
  FROM sh2 GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, h0 AS sig FROM sig
  UNION ALL SELECT doc_id, 1, h1 FROM sig
  UNION ALL SELECT doc_id, 2, h2 FROM sig
  UNION ALL SELECT doc_id, 3, h3 FROM sig
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_bands
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
),
common AS (
  SELECT c.doc_a, c.doc_b, c.n_bands, count(*) AS n_common
  FROM cand c
  JOIN sh2 sa ON sa.doc_id = c.doc_a
  JOIN sh2 sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2, 3
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY doc_id)
SELECT m.doc_a, m.doc_b, m.n_bands,
       CAST(m.n_common AS BIGINT) AS n_common,
       CAST(m.n_bands AS DOUBLE) / 4 AS est_jaccard,
       CAST(m.n_common AS DOUBLE) / (za.sz + zb.sz - m.n_common) AS exact_jaccard,
       abs(CAST(m.n_bands AS DOUBLE) / 4
           - CAST(m.n_common AS DOUBLE) / (za.sz + zb.sz - m.n_common)) AS abs_err
FROM common m
JOIN sizes za ON m.doc_a = za.doc_id
JOIN sizes zb ON m.doc_b = zb.doc_id
""",
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate VERIFICATION + sketch calibration: for every MinHash
    pair colliding on >= 2 of the 4 bands (the dedup path's own candidate
    rule), the estimated Jaccard (agreeing minhashes / 4) next
    to the exact 2-shingle Jaccard computed ONLY for the candidates (the
    standard verify stage of LSH dedup — exact similarity is affordable
    because it runs on the candidate set, never all pairs), plus the
    absolute sketch error. The table an operator reads before trusting a
    sketch threshold at 100 TB."""
    from cliner_spark.dedup import lsh_candidate_pairs, shingles

    docs = load_docs(spark, sf_dir)
    # shingle ONCE: signatures, the common-count join, and the sizes agg all
    # reuse the pinned shingle set instead of re-exploding the corpus 3x
    sh = shingles(docs, 2).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(docs, min_bands=2, sh=sh)
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "n_bands")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    est = F.col("n_bands").cast("double") / 4
    exact = F.col("n_common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    return (
        common.join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_bands",
            F.col("n_common").cast("bigint").alias("n_common"),
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.abs(est - exact).alias("abs_err"),
        )
    )


@register(
    "q_conv_dedup",
    f"""
WITH {SQL_DOCS_TOKS},
tx AS (
  SELECT CAST(doc_id % 97 AS VARCHAR) AS conv_id, doc_id, text
  FROM docs
),
fps AS (
  SELECT conv_id,
         md5(string_agg(coalesce(text, ''), chr(31) ORDER BY doc_id)) AS conv_fp
  FROM tx GROUP BY conv_id
)
SELECT conv_fp, min(conv_id) AS representative,
       CAST(count(*) AS BIGINT) AS n_convs
FROM fps GROUP BY conv_fp
""",
)
def q_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERSATION-level exact dedup: fingerprint = md5 over the turn texts
    in stable turn order (the dedup granularity agent-transcript corpora
    need — whole sessions get re-ingested, not individual turns). Order is
    imposed inside the aggregation (sort_array over (turn_key, text)
    structs), so the fingerprint is partitioning-independent; the group-by
    then yields representative + multiplicity per distinct conversation."""
    docs = load_docs(spark, sf_dir)
    tx = docs.select(
        (F.col("doc_id") % 97).cast("string").alias("conv_id"),
        "doc_id",
        F.coalesce("text", F.lit("")).alias("text"),
    )
    fps = tx.groupBy("conv_id").agg(
        F.md5(
            F.concat_ws(
                "\x1f",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
            )
        ).alias("conv_fp")
    )
    return fps.groupBy("conv_fp").agg(
        F.min("conv_id").alias("representative"),
        F.count(F.lit(1)).alias("n_convs"),
    )


@register(
    "q_context_disambiguation",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS},
ambig AS (
  SELECT term FROM gazv GROUP BY term HAVING count(*) > 1
),
am AS (
  SELECT m.doc_id, m.tok_start, m.tok_end, lower(m.mention_text) AS term,
         d.toks[m.tok_end + 2 : m.tok_end + 4] AS ctx
  FROM mentions m JOIN docs d USING (doc_id)
  WHERE lower(m.mention_text) IN (SELECT term FROM ambig)
),
scored AS (
  SELECT a.doc_id, a.tok_start, a.tok_end, a.term, g.cui,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(a.ctx,
               t -> CAST(('0x' || substr(md5(g.cui || '|' || t), 1, 2)) AS BIGINT))),
           (acc, x) -> acc + x) AS ctx_score,
         row_number() OVER (PARTITION BY a.doc_id, a.tok_start, a.tok_end
                            ORDER BY list_reduce(
                              list_prepend(CAST(0 AS BIGINT),
                                list_transform(a.ctx,
                                  t -> CAST(('0x' || substr(md5(g.cui || '|' || t), 1, 2)) AS BIGINT))),
                              (acc, x) -> acc + x) DESC, g.cui ASC) AS rn
  FROM am a JOIN gazv g ON g.term = a.term
)
SELECT doc_id, tok_start, tok_end, term, cui AS chosen_cui,
       CAST(ctx_score AS BIGINT) AS ctx_score
FROM scored WHERE rn = 1
""",
)
def q_context_disambiguation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-sensitive disambiguation of AMBIGUOUS gazetteer terms (same
    surface form, multiple cuis — the word-sense problem score-based
    tie-breaks can't see): each candidate cui is scored by hash-affinity
    against the 3 tokens FOLLOWING the mention and the argmax wins
    (deterministic md5 affinity stands in for an embedding dot product;
    swap the affinity expression for a real vector similarity at prod — the
    PLAN is identical). Per-mention top-1 window over (mention x candidate),
    candidates broadcast-joined on the term."""
    m = _doc_mentions_spark(spark, sf_dir)
    gaz = doc_gazetteer_df(spark).select(F.lower("term").alias("term"), "cui")
    ambig = gaz.groupBy("term").agg(F.count(F.lit(1)).alias("nc")).filter(
        F.col("nc") > 1
    ).select("term")
    docs = load_docs(spark, sf_dir).select("doc_id", tokens_col("text").alias("toks"))
    am = (
        m.withColumn("term", F.lower("mention_text"))
        .join(F.broadcast(ambig), "term")
        .join(docs, "doc_id")
        .withColumn("ctx", F.slice("toks", F.col("tok_end") + 2, 3))
        .select("doc_id", "tok_start", "tok_end", "term", "ctx")
    )
    scored = am.join(F.broadcast(gaz), "term").withColumn(
        "ctx_score",
        F.aggregate(
            F.transform(
                "ctx",
                lambda t: F.conv(
                    F.substring(F.md5(F.concat(F.col("cui"), F.lit("|"), t)), 1, 2),
                    16,
                    10,
                ).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
    )
    w = Window.partitionBy("doc_id", "tok_start", "tok_end").orderBy(
        F.desc("ctx_score"), F.asc("cui")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "tok_start",
            "tok_end",
            "term",
            F.col("cui").alias("chosen_cui"),
            F.col("ctx_score").cast("bigint").alias("ctx_score"),
        )
    )


@register(
    "q_window_analytics",
    """
SELECT user_id, event_id,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cum_dist,
       nth_value(value, 2) OVER (PARTITION BY user_id ORDER BY value DESC, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS second_best
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
""",
)
def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window completeness (SURVEY §2.5): ntile quartiles,
    percent_rank, cume_dist, and an unbounded nth_value over one shared
    per-user ordering — Catalyst plans all four over a SINGLE sort (one
    Window node), which is the point: adding analytics to an existing
    ordering is free at scale."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "user_id",
        "event_id",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
        F.nth_value("value", 2).over(wall).alias("second_best"),
    )


@register(
    "q_set_ops",
    """
WITH early AS (
  SELECT DISTINCT event_type FROM events WHERE extract(hour FROM ts) < 12
),
late AS (
  SELECT DISTINCT event_type FROM events WHERE extract(hour FROM ts) >= 12
)
SELECT 'both' AS bucket, CAST(count(*) AS BIGINT) AS n
FROM (SELECT event_type FROM early INTERSECT SELECT event_type FROM late)
UNION ALL
SELECT 'early_only', CAST(count(*) AS BIGINT)
FROM (SELECT event_type FROM early EXCEPT SELECT event_type FROM late)
UNION ALL
SELECT 'late_only', CAST(count(*) AS BIGINT)
FROM (SELECT event_type FROM late EXCEPT SELECT event_type FROM early)
""",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation completeness (SURVEY §2.7): INTERSECT / EXCEPT / UNION
    ALL over the morning-vs-afternoon event-type vocabularies. Spark plans
    intersect/except as left-semi/anti joins on the distinct sets —
    dimension-sized, no full-fact shuffle."""
    ev = load(spark, sf_dir, "events")
    early = ev.filter(F.hour("ts") < 12).select("event_type").distinct()
    late = ev.filter(F.hour("ts") >= 12).select("event_type").distinct()
    both = early.intersect(late).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("bucket"), "n"
    )
    eo = early.exceptAll(late).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("early_only").alias("bucket"), "n"
    )
    lo = late.exceptAll(early).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("late_only").alias("bucket"), "n"
    )
    return both.unionByName(eo).unionByName(lo)


@register(
    "q_link_priors",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS},
ambig AS (
  SELECT term FROM gazv GROUP BY term HAVING count(*) > 1
),
am AS (
  SELECT m.doc_id, m.tok_start, m.tok_end, lower(m.mention_text) AS term,
         d.toks[m.tok_end + 2 : m.tok_end + 4] AS ctx
  FROM mentions m JOIN docs d USING (doc_id)
  WHERE lower(m.mention_text) IN (SELECT term FROM ambig)
),
scored AS (
  SELECT a.term, g.cui,
         row_number() OVER (PARTITION BY a.doc_id, a.tok_start, a.tok_end
                            ORDER BY list_reduce(
                              list_prepend(CAST(0 AS BIGINT),
                                list_transform(a.ctx,
                                  t -> CAST(('0x' || substr(md5(g.cui || '|' || t), 1, 2)) AS BIGINT))),
                              (acc, x) -> acc + x) DESC, g.cui ASC) AS rn
  FROM am a JOIN gazv g ON g.term = a.term
),
votes AS (
  SELECT term, cui, count(*) AS n_votes FROM scored WHERE rn = 1 GROUP BY 1, 2
)
SELECT term, cui AS prior_cui, CAST(n_votes AS BIGINT) AS n_votes,
       CAST(n_mentions AS BIGINT) AS n_mentions
FROM (
  SELECT term, cui, n_votes,
         sum(n_votes) OVER (PARTITION BY term) AS n_mentions,
         row_number() OVER (PARTITION BY term ORDER BY n_votes DESC, cui ASC) AS rk
  FROM votes
) WHERE rk = 1
""",
)
def q_link_priors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-learned LINK PRIORS: run the context disambiguator over every
    ambiguous mention, count its per-(term, cui) votes, and keep the
    majority cui per term — the P(cui|term) prior table a second-pass
    linker uses instead of static gazetteer scores (the classic
    learn-from-the-corpus upgrade, entirely label-free). Two aggregations
    over the mention-grain votes; the prior table is dimension-sized."""
    votes = (
        q_context_disambiguation(spark, sf_dir)
        .groupBy("term", F.col("chosen_cui").alias("cui"))
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wt = Window.partitionBy("term")
    wr = Window.partitionBy("term").orderBy(F.desc("n_votes"), F.asc("cui"))
    return (
        votes.withColumn("n_mentions", F.sum("n_votes").over(wt))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "term",
            F.col("cui").alias("prior_cui"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
            F.col("n_mentions").cast("bigint").alias("n_mentions"),
        )
    )


@register(
    "q_assoc_rules",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
dcui AS (SELECT DISTINCT l.doc_id, l.cui FROM linked l),
pairs AS (
  SELECT a.cui AS src, b.cui AS dst, CAST(count(*) AS BIGINT) AS n_pair
  FROM dcui a JOIN dcui b ON a.doc_id = b.doc_id AND a.cui < b.cui
  GROUP BY a.cui, b.cui
),
marg AS (SELECT cui, CAST(count(*) AS BIGINT) AS n_node FROM dcui GROUP BY cui),
tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dcui)
SELECT p.src, p.dst, p.n_pair,
       CAST(p.n_pair AS DOUBLE) / t.n_docs AS support,
       CAST(p.n_pair AS DOUBLE) / ms.n_node AS confidence,
       CAST(p.n_pair * t.n_docs AS DOUBLE) / (ms.n_node * md.n_node) AS lift
FROM pairs p
JOIN marg ms ON p.src = ms.cui
JOIN marg md ON p.dst = md.cui
CROSS JOIN tot t
""",
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over per-document concept sets: support,
    confidence, lift per ordered concept pair (the market-basket companion
    to PMI — lift > 1 marks concept pairs that co-occur beyond chance, the
    edge-weighting a curation pipeline thresholds on). All three measures
    are exact-integer ratios, so the doubles match the oracle bit-for-bit;
    marginals and the doc total broadcast into the pair table."""
    linked = _doc_linked(spark, sf_dir).withColumnRenamed("conv_id", "doc_id")
    dcui = linked.select("doc_id", "cui").distinct().localCheckpoint(eager=True)
    b = dcui.withColumnRenamed("cui", "cui_b")
    pairs = (
        dcui.join(b, "doc_id")
        .filter(F.col("cui") < F.col("cui_b"))
        .groupBy(F.col("cui").alias("src"), F.col("cui_b").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    marg = dcui.groupBy("cui").agg(F.count(F.lit(1)).alias("n_node"))
    tot = dcui.select("doc_id").distinct().agg(F.count(F.lit(1)).alias("n_docs"))
    ms = marg.select(F.col("cui").alias("src"), F.col("n_node").alias("n_src"))
    md = marg.select(F.col("cui").alias("dst"), F.col("n_node").alias("n_dst"))
    return (
        pairs.join(F.broadcast(ms), "src")
        .join(F.broadcast(md), "dst")
        .crossJoin(F.broadcast(tot))
        .select(
            "src",
            "dst",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            (F.col("n_pair").cast("double") / F.col("n_docs")).alias("support"),
            (F.col("n_pair").cast("double") / F.col("n_src")).alias("confidence"),
            (
                (F.col("n_pair") * F.col("n_docs")).cast("double")
                / (F.col("n_src") * F.col("n_dst"))
            ).alias("lift"),
        )
    )


@register(
    "q_vocab_ids",
    f"""
WITH {SQL_DOCS_TOKS},
tf AS (
  SELECT lower(u.tok) AS tok, CAST(count(*) AS BIGINT) AS n
  FROM docs, unnest(toks) AS u(tok) GROUP BY 1
)
SELECT tok, n,
       CAST(row_number() OVER (ORDER BY n DESC, tok ASC) - 1 AS INTEGER) AS token_id
FROM tf WHERE n >= 3
""",
)
def q_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable vocabulary-id assignment (the LM-pipeline staple): tokens with
    frequency >= cutoff get contiguous ids ordered by (count desc, tok asc)
    — deterministic under any partitioning. The global row_number is a
    single-partition sort BY DESIGN: it runs on the already-aggregated
    vocab table (dimension-sized), never on the corpus."""
    tf = _ts.token_frequencies(load_docs(spark, sf_dir)).filter(F.col("n") >= 3)
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    return tf.select(
        "tok", "n", (F.row_number().over(w) - 1).cast("int").alias("token_id")
    )


@register(
    "q_temporal_relations",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_TX_LMT.strip()},
spans AS (
  SELECT conv_id, cui,
         min(turn_idx) AS first_turn, max(turn_idx) AS last_turn
  FROM lmt GROUP BY 1, 2
),
prec AS (
  SELECT a.cui AS src, b.cui AS dst,
         CAST(b.first_turn - a.last_turn AS BIGINT) AS gap
  FROM spans a JOIN spans b
    ON a.conv_id = b.conv_id AND a.cui <> b.cui
   AND a.last_turn < b.first_turn
)
SELECT src, 'PRECEDES' AS pred, dst,
       CAST(count(*) AS BIGINT) AS n_convs,
       CAST(min(gap) AS BIGINT) AS min_gap,
       CAST(max(gap) AS BIGINT) AS max_gap
FROM prec GROUP BY 1, 3
""",
)
def q_temporal_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal KG edges: (a, PRECEDES, b) when concept a's mention span
    ENDS before concept b's span BEGINS within the same conversation —
    strict-order temporal relations, the KG edge family that encodes
    progression (problem before treatment, click before error). One
    aggregation to concept spans (conv x concept grain — tiny), then a
    self-join on conv_id with the order predicate riding the equi key, then
    the edge rollup with conversation support and gap bounds."""
    linked, _gaz = _doc_linked_transcript(spark, sf_dir)
    spans = (
        linked.select("conv_id", "cui", "turn_idx")
        .groupBy("conv_id", "cui")
        .agg(
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .localCheckpoint(eager=True)  # self-join consumes it twice
    )
    a = spans.select("conv_id", F.col("cui").alias("src"), F.col("last_turn").alias("a_last"))
    b = spans.select("conv_id", F.col("cui").alias("dst"), F.col("first_turn").alias("b_first"))
    prec = (
        a.join(b, "conv_id")
        .filter((F.col("src") != F.col("dst")) & (F.col("a_last") < F.col("b_first")))
        .select("src", "dst", (F.col("b_first") - F.col("a_last")).cast("bigint").alias("gap"))
    )
    return prec.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.min("gap").alias("min_gap"),
        F.max("gap").alias("max_gap"),
    ).select("src", F.lit("PRECEDES").alias("pred"), "dst", "n_convs", "min_gap", "max_gap")


# Round-2 additions (remaining TPC-H shapes + corpus document operators)
# register themselves via this module's @register; imported last so every
# helper above is defined. queries_r2's OWN tail imports queries_r3 (round-3
# registrations) — chaining the tail imports keeps every import order
# (entry_queries first, queries_r2 first, or queries_r3 first) cycle-safe:
# each module only reaches into fully-defined attributes of its upstream.
from cliner_spark import queries_r2  # noqa: E402,F401

# --------------------------------------------------------------------------
# Driver correctness-window ordering (round-2 verdict item 2; round-4
# rotation per round-3 verdict items 1+3).
#
# The driver hash-checks only the FIRST 50 entries of
# __spark_entry__.queries() in dict order; plain registration order would
# leave every post-round-1 operator outside that window forever. The round-4
# window is therefore curated as:
#   1. red-history / vacuous-gate queries that must re-certify
#      (q_embedding_ivf_topk: err rows in r1+r2, never driver-green;
#       q_dup_discovery: r3 row was 0-rows-vs-0-rows, re-check after the
#       non-vacuity fix),
#   2. a 38-slot rotation of the 191 queries that have never appeared in any
#      driver CORRECTNESS file, ordered by md5("r4:"+name) so the slice is
#      deterministic but uncorrelated with registration order,
#   3. this round's new registrations (queries_r4.R4_NAMES, newest first),
#   4. the historical priority block, then everything else in registration
#      order. Nothing is dropped — tools/check_oracle.py still covers the
#      full registry every round.
# --------------------------------------------------------------------------

# Union of row keys across CORRECTNESS_r01/r02/r03.json (driver artifacts),
# frozen here so the rotation is reproducible without reading those files at
# import time. 100 names; the other 191 registered queries have never had a
# driver row and feed the rotation below.
DRIVER_CHECKED_R123: frozenset[str] = frozenset([
    'q_agent_loop_detect', 'q_ann_leaderboard', 'q_ann_ndcg', 'q_asof_join',
    'q_assertion', 'q_benford_audit', 'q_between_scatter',
    'q_calibration_bins', 'q_canonical_cc', 'q_canonical_cc_twostar',
    'q_class_scatter', 'q_con_format', 'q_con_parse', 'q_concept_counts',
    'q_concurrency_peak', 'q_confusion', 'q_containment_pairs',
    'q_cooccur_pmi', 'q_copeland_rank', 'q_cube_events', 'q_cust_no_orders',
    'q_cusum_changepoint', 'q_dedup_exact', 'q_dup_clusters',
    'q_dup_discovery', 'q_embedding_ann_recall', 'q_embedding_ivf_seeded',
    'q_embedding_ivf_topk', 'q_embedding_lsh_topk', 'q_embedding_neardup',
    'q_embedding_topk', 'q_entity_salience', 'q_eval_exact',
    'q_eval_overlap', 'q_events_hourly', 'q_fingerprint', 'q_fk_integrity',
    'q_freq_spectrum', 'q_fuzzy_link', 'q_graph_assortativity',
    'q_grounding_audit', 'q_hard_negatives', 'q_instruction_pairs',
    'q_iob_roundtrip', 'q_ivfpq_topk', 'q_jaccard_pairs', 'q_k_anonymity',
    'q_kg2text', 'q_kg_negative_samples', 'q_kn_bigram', 'q_ks_drift',
    'q_lag_delta', 'q_lang_id', 'q_langid_confusion', 'q_leadlag_xcorr',
    'q_link_top1', 'q_lsh_multiprobe', 'q_media_features', 'q_media_frames',
    'q_mention_scan', 'q_mention_scan_udf', 'q_minhash_lsh',
    'q_mixture_plan', 'q_mmr_rerank', 'q_modularity', 'q_multimodal_meta',
    'q_node2vec_walks', 'q_node2vec_weights', 'q_odd_cycle_audit',
    'q_oov_eval', 'q_pack_efficiency', 'q_percentiles', 'q_pps_sample',
    'q_pq_adc_topk', 'q_pq_codes', 'q_prf', 'q_pseudonymize',
    'q_revenue_by_nation', 'q_rocchio_prf', 'q_role_transition_matrix',
    'q_rollup_sales', 'q_sessionize', 'q_shuffle_quality', 'q_simhash',
    'q_source_overlap', 'q_spell_candidates', 'q_sssp_path_counts',
    'q_surface_forms', 'q_tagger_mentions', 'q_text_quality',
    'q_token_freq', 'q_tokenize_stats', 'q_topk_events', 'q_tpch_q1',
    'q_triple_upsert', 'q_triples', 'q_turn_segmentation', 'q_vocab_growth',
    'q_winnow_fingerprints', 'q_winnow_pairs',
])

# Round-4 driver window (all 50 rows full green in CORRECTNESS_r04.json),
# frozen like DRIVER_CHECKED_R123 so the round-5 rotation is reproducible.
DRIVER_CHECKED_R4: frozenset[str] = frozenset([
    'q_assertion_triples', 'q_bm25_search', 'q_burstiness_memory',
    'q_cascade_failure', 'q_compaction_plan', 'q_concept_trend',
    'q_context_disambiguation', 'q_cooccur_window', 'q_dup_discovery',
    'q_embedding_ivf_topk', 'q_error_after_click', 'q_fim_transform',
    'q_first_last_event', 'q_gap_fill', 'q_gray_failure', 'q_group_commit',
    'q_heartbeat_flaps', 'q_incr_agg_merge', 'q_incremental_dedup',
    'q_isa_closure', 'q_jain_fairness', 'q_json_corrupt_audit', 'q_kg_star',
    'q_lexical_diversity', 'q_minhash_error_audit', 'q_perplexity_buckets',
    'q_read_your_writes', 'q_rebalance_plan', 'q_reciprocity',
    'q_relation_cardinality', 'q_relations', 'q_role_concepts',
    'q_rrf_fusion', 'q_salt_plan', 'q_scrub', 'q_set_ops', 'q_split_leakage',
    'q_temporal_relations', 'q_tpch_q10', 'q_tpch_q13', 'q_tpch_q2',
    'q_tpch_q4', 'q_tpch_q7', 'q_tpch_q8', 'q_triple_pattern', 'q_ttl_jitter',
    'q_turn_echo', 'q_udtf_sentences', 'q_variant_props', 'q_zipf_fit',
])

# Must-recertify head of the round-5 window: driver-green queries whose
# CODE changed this round (q_reciprocity's global-window restructure —
# bucketed lag + seam stitch). q_cdc_apply / q_transe_eval also changed
# but have never had a driver row, so they ride the forced-first-timer
# head below instead of consuming a recertify slot.
DRIVER_RECERTIFY: list[str] = [
    "q_reciprocity",
]

# Never-driver-checked queries pinned to the FRONT of the rotation slice:
# code changed this round (q_cdc_apply's engine-agnostic tombstone fold,
# q_transe_eval's two-arm rebuild, q_kcore's oracle unroll budget raised
# to cover sf0.001's 12-round peel depth) or named by the round-4 verdict
# (q_knn_loo_eval: the brute-force gate the new q_knn_loo_ann is audited
# against).
ROTATION_FORCED: list[str] = [
    "q_cdc_apply",
    "q_transe_eval",
    "q_knn_loo_eval",
    "q_kcore",
]

# 50-row window = 3 new (R5_NAMES) + 1 recertify + 46 rotation slots (3
# forced + 43 md5-rotated; ROTATION_SLOTS trims to the window boundary).
# That retires 49 never-checked queries and leaves the never-checked
# count at 465 - 148 - 49 = 268 (< 270, the round-4 verdict target).
ROTATION_SLOTS = 46

DRIVER_PRIORITY: list[str] = [
    # (this round's new registrations — queries_r3.R3_NAMES — are prepended
    # at call time in ordered_registry(), lazily, so import order between
    # the query modules stays acyclic)
    # queries whose code changed this round -> must re-verify in-window
    "q_embedding_ivf_topk",  # new recall-assert formulation (was no_oracle)
    "q_json_corrupt_audit",  # ADVICE: explicit validity predicate
    "q_concept_drift",  # ADVICE: zero-guard on freq_shift
    "q_curriculum_phases",  # ADVICE: integer-exact phase bounds
    # round-2 operators the r2 verdict flagged as builder-harness-only
    "q_isa_closure",
    "q_seq_packing",
    "q_kg_integrity",
    "q_ssjoin",
    "q_incremental_dedup",
    "q_minhash_error_audit",
    "q_tpch_q9",
    "q_tpch_q21",
    "q_tpch_q17",
    "q_semdedup",
    "q_decontaminate",
    "q_scrub",
    "q_dsir_weights",
    "q_bm25_search",
    "q_zorder_layout",
    "q_kmeans",
    "q_kcore",
    "q_pagerank",
    "q_kg_bfs",
    "q_loss_mask",
    "q_chat_render",
    "q_funnel",
    "q_snapshot_diff",
    "q_hits_authority",
    "q_closeness",
    "q_epoch_shuffle",
    "q_udtf_sessions",
    "q_grouped_outliers",
    "q_cogroup_asof",
    "q_weighted_sample",
    "q_dup_span_mask",
    "q_rrf_fusion",
    "q_minhash_calibration",
    # round-1 flagships: keep the KG-construction core inside the window
    "q_triples",
    "q_mention_scan_udf",
    "q_canonical_cc",
    "q_prf",
    "q_eval_exact",
    "q_tagger_mentions",
    "q_link_top1",
    "q_embedding_ann_recall",
    "q_minhash_lsh",
    "q_con_format",
    "q_tokenize_stats",
]


def ordered_registry() -> dict[str, QuerySpec]:
    """REGISTRY re-keyed for the driver's 50-row correctness window
    (round-5 layout, per the round-4 verdict's certification-debt ask):
    this round's 3 new registrations, then the 1-query recertify head
    (code changed + driver-green history), then 46 never-driver-checked
    rotation slots (3 forced code-changed/verdict-named names first, then
    a deterministic md5('r5:...')-rotated slice), then the rest."""
    import hashlib

    from cliner_spark import queries_r4, queries_r5

    r5_new = list(reversed(queries_r5.R5_NAMES))
    checked = DRIVER_CHECKED_R123 | DRIVER_CHECKED_R4
    rotation_pool = sorted(
        (
            n
            for n in REGISTRY
            if n not in checked
            and n not in r5_new
            and n not in DRIVER_RECERTIFY
            and n not in ROTATION_FORCED
        ),
        key=lambda n: hashlib.md5(("r5:" + n).encode()).hexdigest(),
    )
    n_rotate = ROTATION_SLOTS - len(ROTATION_FORCED)
    priority = [
        *r5_new,
        *DRIVER_RECERTIFY,
        *ROTATION_FORCED,
        *rotation_pool[:n_rotate],
        *rotation_pool[n_rotate:],
        *reversed(queries_r4.R4_NAMES),
        *DRIVER_PRIORITY,
    ]
    out = {n: REGISTRY[n] for n in priority if n in REGISTRY}
    for n, s in REGISTRY.items():
        out.setdefault(n, s)
    return out
