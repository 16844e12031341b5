"""Round-3 query registrations.

Same contract as queries_r2: every @register pairs a Spark DataFrame plan
with a DuckDB ANSI-SQL oracle twin over the driver's parquet tables, column
names/types aligned on both sides. Imported by entry_queries AFTER all
helpers exist; R3_NAMES (newest work, highest verification priority) feeds
the front of entry_queries.DRIVER_PRIORITY so the driver's 50-row
correctness window always covers the current round first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from cliner_spark.entry_queries import (  # noqa: F401
    REGISTRY,
    load,
    load_docs,
    register,
)
from cliner_spark.tokenization import sql_tokens, tokens_col

# Names registered by this module, in driver-verification priority order.
R3_NAMES: list[str] = []


def _register_r3(name: str, sql: str | None):
    """@register that also appends to R3_NAMES (driver-window priority)."""

    def deco(fn):
        R3_NAMES.append(name)
        return register(name, sql)(fn)

    return deco


# --------------------------------------------------------------------------
# Round 3a: pure-JVM window twin of the cogrouped-pandas as-of join
# (r2 verdict item 6 — the last >10 s Python surface gets a demonstrably
# cheaper whole-stage-codegen plan producing the identical result)
# --------------------------------------------------------------------------

# identical oracle to q_cogroup_asof: native DuckDB ASOF LEFT JOIN
_ASOF_SQL = """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
r AS (SELECT user_id, ts, max(value) AS rv FROM events
      WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT l.event_id, l.user_id, l.ts, r.rv AS last_right_value,
       epoch_ms(l.ts) - epoch_ms(r.ts) AS gap_ms
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
"""


@_register_r3("q_asof_union_window", _ASOF_SQL)
def q_asof_union_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join as a UNION + last_value window — the built-in
    twin of q_cogroup_asof (same DuckDB ASOF JOIN oracle, byte-identical
    result): tag left (clicks) and pre-aggregated right (purchases) rows,
    sort within user by (ts, side) with right-before-left on ties so
    r.ts <= l.ts is inclusive, and carry the last non-null right value /
    timestamp forward with an ignorenulls last() over ROWS UNBOUNDED
    PRECEDING. The whole plan is one shuffle on user_id and stays inside
    WholeStageCodegen — no Python workers, no Arrow transfer — which is why
    it beats the cogrouped-pandas formulation at any scale. Gap in whole
    ms via integer unix_micros div (exactly DuckDB's epoch_ms floor; the
    synthetic ts carries microsecond fractions so float ms would be
    engine-dependent)."""
    ev = load(spark, sf_dir, "events")
    l = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("rv"),
        F.lit(None).cast("timestamp").alias("rts"),
        F.lit(1).alias("is_left"),
    )
    r = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("rv"))
        .select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            "ts",
            "rv",
            F.col("ts").alias("rts"),
            F.lit(0).alias("is_left"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        l.unionByName(r)
        .withColumn("last_right_value", F.last("rv", ignorenulls=True).over(w))
        .withColumn("lrts", F.last("rts", ignorenulls=True).over(w))
    )
    # parquet ts is TIMESTAMP_NTZ; session tz is pinned UTC (session.py) so
    # the cast reads the wall-clock as UTC — DuckDB's naive-epoch_ms algebra
    ms = lambda c: F.expr(  # noqa: E731
        f"unix_micros(cast({c} as timestamp)) div 1000"
    )
    return carried.filter(F.col("is_left") == 1).select(
        "event_id",
        "user_id",
        "ts",
        "last_right_value",
        (ms("ts") - ms("lrts")).cast("bigint").alias("gap_ms"),
    )


# --------------------------------------------------------------------------
# Round 3b: new KG graph operators — SCC, label-propagation communities,
# eccentricity/diameter (cliner_spark.graph additions)
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import (  # noqa: E402
    SQL_BEST_GAZ,
    SQL_DOC_CUI,
    SQL_DOCS_TOKS,
    SQL_KEPT_MENTIONS,
    SQL_LINKED,
    SQL_TX_LMT,
)
from cliner_spark.queries_r2 import SQL_DOCPAIR_GRAPH, _docpair_edges  # noqa: E402


@_register_r3(
    "q_kg_scc",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_TX_LMT.strip()},
spans AS (
  SELECT conv_id, cui, min(turn_idx) AS first_turn, max(turn_idx) AS last_turn
  FROM lmt GROUP BY 1, 2
),
e AS (
  SELECT DISTINCT a.cui AS src, b.cui AS dst
  FROM spans a JOIN spans b
    ON a.conv_id = b.conv_id AND a.cui <> b.cui AND a.last_turn < b.first_turn
),
reach(s, t) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.s, e.dst FROM reach r JOIN e ON e.src = r.t
),
n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
mut AS (
  SELECT r1.s AS node, r1.t AS peer
  FROM reach r1 JOIN reach r2 ON r1.s = r2.t AND r1.t = r2.s
)
SELECT n.node, least(n.node, coalesce(min(m.peer), n.node)) AS scc_id
FROM n LEFT JOIN mut m USING (node) GROUP BY n.node
""",
)
def q_kg_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the DIRECTED concept-precedence
    graph (edges = q_temporal_relations' PRECEDES pairs): concepts that
    temporally precede each other in different conversations collapse into
    one SCC — the cycle structure a temporal-KG consumer must know before
    treating PRECEDES as a partial order (a DAG-ification pass contracts
    exactly these components). Spark: path-doubling reachability closure
    with verified fixpoint + one transpose join (graph.
    strongly_connected_components); oracle: one-edge-per-step recursive CTE
    — different algorithm, identical labels."""
    from cliner_spark.graph import strongly_connected_components

    edges = (
        REGISTRY["q_temporal_relations"]
        .spark_fn(spark, sf_dir)
        .select("src", "dst")
        .distinct()
    )
    return strongly_connected_components(edges)


@_register_r3(
    "q_lpa_communities",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_DOCPAIR_GRAPH.strip()},
e AS (SELECT lo AS src, hi AS dst FROM ge UNION ALL SELECT hi, lo FROM ge),
n AS (SELECT DISTINCT src AS node FROM e),
l0 AS (SELECT node, node AS lbl FROM n),
c1 AS (SELECT e.dst AS node, l.lbl, count(*) AS c
       FROM e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
l1 AS (SELECT node, lbl FROM (
         SELECT node, lbl,
                row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
         FROM c1) WHERE rn = 1),
c2 AS (SELECT e.dst AS node, l.lbl, count(*) AS c
       FROM e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
l2 AS (SELECT node, lbl FROM (
         SELECT node, lbl,
                row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
         FROM c2) WHERE rn = 1),
c3 AS (SELECT e.dst AS node, l.lbl, count(*) AS c
       FROM e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
l3 AS (SELECT node, lbl FROM (
         SELECT node, lbl,
                row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
         FROM c3) WHERE rn = 1)
SELECT node AS doc_id, lbl AS community FROM l3
""",
)
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the doc-similarity graph
    (graph.label_propagation, 3 synchronous rounds, most-frequent-neighbor
    label with min tie-break): the community structure BETWEEN the
    connected components — CC (q_dup_clusters) says "transitively related",
    LPA says "densely related", which is what a curation pass samples from
    when a whole CC is too coarse to drop. Deterministic by construction
    (synchronous + min tie-break); the oracle unrolls the exact same three
    rounds. Nodes are the graph's node set (docs with >= 1 similar doc)."""
    from cliner_spark.graph import label_propagation

    return label_propagation(_docpair_edges(spark, sf_dir), rounds=3).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("community").cast("long").alias("community"),
    )


@_register_r3(
    "q_kg_eccentricity",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}, {SQL_DOC_CUI.strip()},
e AS (SELECT src, dst FROM coedges UNION ALL SELECT dst, src FROM coedges),
n AS (SELECT DISTINCT src AS node FROM e),
walk(root, node, hops) AS (
  SELECT node, node, 0 FROM n
  UNION
  SELECT w.root, e.dst, w.hops + 1
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.hops < 10
),
d AS (SELECT root, node, min(hops) AS h FROM walk GROUP BY 1, 2)
SELECT root AS node, CAST(max(h) AS INTEGER) AS ecc,
       CAST(count(*) AS BIGINT) AS n_reachable
FROM d GROUP BY root
""",
)
def q_kg_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-concept eccentricity + reachable-set size over the concept
    co-occurrence graph (graph.eccentricity); max(ecc) = graph diameter —
    the KG compactness report (how many hops a graph-walk feature needs to
    cover the vocabulary). Spark expands ALL sources in one multi-source
    BFS (frontier = (root, node) pairs, one shuffle per hop level); the
    oracle replays it as a hop-bounded recursive CTE with min-dist
    aggregation."""
    from cliner_spark.entry_queries import _doc_linked
    from cliner_spark.graph import eccentricity

    d = _doc_linked(spark, sf_dir).select("conv_id", "cui").distinct()
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("a.cui") < F.col("b.cui")),
        )
        .select(F.col("a.cui").alias("src"), F.col("b.cui").alias("dst"))
        .distinct()
    )
    return eccentricity(pairs)


# --------------------------------------------------------------------------
# Round 3c: LLM-training-data operators — CCNet perplexity buckets,
# tokenizer fertility, DPO preference pairs, T5 span corruption,
# cross-split near-dup leakage
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import (  # noqa: E402
    SQL_LM_COUNTS,
    SQL_SHINGLES_3,
)
from cliner_spark.queries_r2 import SQL_TXR, _txr  # noqa: E402


@_register_r3(
    "q_perplexity_buckets",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_LM_COUNTS},
sc AS (
  SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(-CAST(floor(ln(CAST(bg.c_bigram + 1 AS DOUBLE)
                                 / (u.c_w1 + vv.vocab)) * 1000000) AS BIGINT))
              AS BIGINT) AS nll_fp
  FROM pairs p JOIN bg ON p.w1 = bg.w1 AND p.w2 = bg.w2
  JOIN uni u ON p.w1 = u.w1 CROSS JOIN vv
  GROUP BY p.doc_id
),
av AS (SELECT doc_id, n_bigrams, (nll_fp // n_bigrams) // 1000 AS avg_nll_milli
       FROM sc),
freq AS (SELECT avg_nll_milli AS v, CAST(count(*) AS BIGINT) AS c FROM av GROUP BY 1),
cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM freq),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM freq),
b AS (SELECT min(CASE WHEN c.cum >= (t.n + 2) // 3 THEN c.v END) AS b1,
             min(CASE WHEN c.cum >= (2 * t.n + 2) // 3 THEN c.v END) AS b2
      FROM cum c CROSS JOIN tot t)
SELECT a.doc_id, a.n_bigrams, a.avg_nll_milli,
       CASE WHEN a.avg_nll_milli <= b.b1 THEN 'head'
            WHEN a.avg_nll_milli <= b.b2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM av a CROSS JOIN b
""",
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: each document's corpus-bigram-LM
    negative log-likelihood (fixed-point, BIGINT-exact — nll_fp is exactly
    -q_lm_doc_score.score_fp since -Σfloor(x) = Σ(-floor(x))), averaged per
    bigram and coarsened to MILLI-nats, then head/middle/tail by
    integer-exact rank thresholds (the q_curriculum_phases technique:
    smallest value whose exact cumulative count reaches ceil(kN/3)). The
    milli-nat grid is the scale move: the threshold window runs over the
    DISTINCT coarsened values, whose cardinality is bounded by the VALUE
    DOMAIN (a few thousand grid points), not the corpus — so the plan is
    corpus-scan + tiny bounds aggregate at any SF. Head/middle/tail is what
    a CCNet-style pipeline keeps/samples/drops. All integer comparisons on
    positives (Spark `div` == DuckDB `//` there); no float ever reaches a
    bucket predicate."""
    from cliner_spark.lm import doc_lm_score

    sc = doc_lm_score(load_docs(spark, sf_dir)).select(
        "doc_id",
        "n_bigrams",
        F.expr("((-score_fp) div n_bigrams) div 1000").alias("avg_nll_milli"),
    )
    freq = sc.groupBy("avg_nll_milli").agg(F.count(F.lit(1)).alias("c"))
    wc = Window.orderBy("avg_nll_milli").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = freq.select(F.col("avg_nll_milli").alias("v"), F.sum("c").over(wc).alias("cum"))
    tot = freq.agg(F.sum("c").alias("n"))
    b = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(F.when(F.col("cum") >= F.expr("(n + 2) div 3"), F.col("v"))).alias("b1"),
        F.min(F.when(F.col("cum") >= F.expr("(2 * n + 2) div 3"), F.col("v"))).alias("b2"),
    )
    return sc.crossJoin(F.broadcast(b)).select(
        "doc_id",
        "n_bigrams",
        "avg_nll_milli",
        F.when(F.col("avg_nll_milli") <= F.col("b1"), "head")
        .when(F.col("avg_nll_milli") <= F.col("b2"), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


@_register_r3(
    "q_tokenizer_fertility",
    f"""
WITH {SQL_DOCS_TOKS}
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_words,
       CAST(coalesce(list_sum(list_transform(toks, t -> (len(t) + 3) // 4)), 0)
            AS BIGINT) AS n_pieces,
       CAST(coalesce(list_sum(list_transform(toks, t -> len(t))), 0) AS BIGINT)
         AS n_chars,
       CASE WHEN len(toks) > 0
            THEN round(CAST(coalesce(list_sum(list_transform(toks,
                       t -> (len(t) + 3) // 4)), 0) AS DOUBLE) / len(toks), 6)
       END AS fertility
FROM docs
""",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility / token-budget estimation: subword-piece counts
    per document under a deterministic BPE-ish proxy (each word contributes
    ceil(len/4) pieces — the classic ~4-chars-per-token budgeting rule),
    fertility = pieces per whitespace word. This is the pre-tokenization
    cost model a training-data pipeline uses to size context budgets and
    price a corpus in tokens BEFORE running the real (external) tokenizer.
    Pure JVM array algebra (transform + aggregate inside whole-stage
    codegen), zero shuffles; integer piece counts are engine-exact, the
    single reported ratio is one rounded division."""
    docs = load_docs(spark, sf_dir).select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    n_pieces = F.expr(
        "aggregate(transform(toks, t -> (length(t) + 3) div 4), 0L, (a, x) -> a + x)"
    )
    n_chars = F.expr("aggregate(transform(toks, t -> length(t)), 0L, (a, x) -> a + CAST(x AS BIGINT))")
    return docs.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_words"),
        n_pieces.cast("bigint").alias("n_pieces"),
        n_chars.cast("bigint").alias("n_chars"),
        F.when(
            F.size("toks") > 0,
            F.round(n_pieces.cast("double") / F.size("toks"), 6),
        ).alias("fertility"),
    )


@_register_r3(
    "q_dpo_pairs",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_TXR.strip()},
a AS (SELECT conv_id, turn_idx, text, n_toks FROM txr WHERE role = 'assistant'),
r AS (
  SELECT conv_id, turn_idx, text, n_toks,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY n_toks DESC, turn_idx ASC) AS rn_best,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY n_toks ASC, turn_idx DESC) AS rn_worst
  FROM a
)
SELECT b.conv_id,
       CAST(b.turn_idx AS INTEGER) AS chosen_turn_idx,
       CAST(w.turn_idx AS INTEGER) AS rejected_turn_idx,
       b.n_toks AS chosen_len, w.n_toks AS rejected_len,
       b.text AS chosen_text, w.text AS rejected_text
FROM (SELECT * FROM r WHERE rn_best = 1) b
JOIN (SELECT * FROM r WHERE rn_worst = 1) w USING (conv_id)
WHERE b.turn_idx <> w.turn_idx
""",
)
def q_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for DPO/RLHF data prep: per
    conversation, the longest assistant turn is 'chosen' and the shortest
    'rejected' (length as the deterministic stand-in for a reward score —
    swap in any per-turn score column and the plan is unchanged).
    Tie-breaks are chosen-earliest / rejected-latest so two equal-length
    turns still yield a valid pair; single-assistant-turn conversations are
    excluded (chosen == rejected is not a preference). One shuffle on
    conv_id; two rank windows over the same sort."""
    t = _txr(spark, sf_dir).filter(F.col("role") == "assistant")
    wb = Window.partitionBy("conv_id").orderBy(F.desc("n_toks"), F.asc("turn_idx"))
    ww = Window.partitionBy("conv_id").orderBy(F.asc("n_toks"), F.desc("turn_idx"))
    r = t.select(
        "conv_id",
        "turn_idx",
        "text",
        "n_toks",
        F.row_number().over(wb).alias("rn_best"),
        F.row_number().over(ww).alias("rn_worst"),
    )
    b = r.filter(F.col("rn_best") == 1).select(
        "conv_id",
        F.col("turn_idx").alias("chosen_turn_idx"),
        F.col("n_toks").alias("chosen_len"),
        F.col("text").alias("chosen_text"),
    )
    w = r.filter(F.col("rn_worst") == 1).select(
        "conv_id",
        F.col("turn_idx").alias("rejected_turn_idx"),
        F.col("n_toks").alias("rejected_len"),
        F.col("text").alias("rejected_text"),
    )
    return (
        b.join(w, "conv_id")
        .filter(F.col("chosen_turn_idx") != F.col("rejected_turn_idx"))
        .select(
            "conv_id",
            F.col("chosen_turn_idx").cast("int").alias("chosen_turn_idx"),
            F.col("rejected_turn_idx").cast("int").alias("rejected_turn_idx"),
            "chosen_len",
            "rejected_len",
            "chosen_text",
            "rejected_text",
        )
    )


# T5-style span corruption: tokens are masked in fixed blocks of 3; block b
# of doc d is masked iff the first hex digit of md5('d:b') is 0 or 1 (rate
# 1/8). Each masked block renders as ONE '<X>' sentinel in the corrupted
# text; the block's tokens concatenate into the target. Deterministic, pure
# string/array algebra — identical on both engines.
_MASKED = (
    "substring(md5(concat(cast(doc_id as string), ':', "
    "cast(i div 3 as string))), 1, 1) in ('0', '1')"
)
_MASKED_SQL = "substr(md5(doc_id || ':' || (i // 3)), 1, 1) IN ('0', '1')"


@_register_r3(
    "q_span_corruption",
    f"""
WITH {SQL_DOCS_TOKS}
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(list_sum(list_transform(range(len(toks)),
            i -> CASE WHEN {_MASKED_SQL} THEN 1 ELSE 0 END)), 0) AS BIGINT)
         AS n_masked,
       CAST(coalesce(list_sum(list_transform(range(len(toks)),
            i -> CASE WHEN i % 3 = 0 AND {_MASKED_SQL} THEN 1 ELSE 0 END)), 0)
            AS BIGINT) AS n_spans,
       coalesce(array_to_string(list_filter(list_transform(range(len(toks)),
            i -> CASE WHEN NOT ({_MASKED_SQL}) THEN toks[i + 1]
                      WHEN i % 3 = 0 THEN '<X>' END),
            x -> x IS NOT NULL), ' '), '') AS corrupted,
       coalesce(array_to_string(list_filter(list_transform(range(len(toks)),
            i -> CASE WHEN {_MASKED_SQL} THEN toks[i + 1] END),
            x -> x IS NOT NULL), ' '), '') AS target
FROM docs
""",
)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption rendering as a relational projection:
    deterministic hash-selected token blocks (rate 1/8, span length 3)
    drop out of the input and reappear as the denoising target, one
    sentinel per span. The whole op is transform/filter/array_join on the
    token array inside whole-stage codegen — no Python, no shuffle, no
    explode (token-grain rows never materialize) — so it runs at corpus
    scan speed at any SF, which is the property a pretraining-data renderer
    must have. md5 block selection makes the mask a pure function of
    (doc_id, block): reproducible across engines, epochs, and retries."""
    docs = load_docs(spark, sf_dir).select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    n_masked = F.expr(
        f"aggregate(transform(toks, (t, i) -> CASE WHEN {_MASKED} THEN 1 ELSE 0 END),"
        " 0L, (a, x) -> a + x)"
    )
    n_spans = F.expr(
        f"aggregate(transform(toks, (t, i) -> CASE WHEN i % 3 = 0 AND {_MASKED}"
        " THEN 1 ELSE 0 END), 0L, (a, x) -> a + x)"
    )
    corrupted = F.expr(
        f"array_join(filter(transform(toks, (t, i) -> CASE WHEN NOT ({_MASKED})"
        f" THEN t WHEN i % 3 = 0 THEN '<X>' END), x -> x IS NOT NULL), ' ')"
    )
    target = F.expr(
        f"array_join(filter(transform(toks, (t, i) -> CASE WHEN {_MASKED} THEN t END),"
        " x -> x IS NOT NULL), ' ')"
    )
    return docs.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        n_masked.cast("bigint").alias("n_masked"),
        n_spans.cast("bigint").alias("n_spans"),
        corrupted.alias("corrupted"),
        target.alias("target"),
    )


@_register_r3(
    "q_split_leakage",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_SHINGLES_3},
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) <= 50),
shf AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
nd AS (
  SELECT doc_a, doc_b,
         CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
  FROM common
  JOIN sizes sa ON common.doc_a = sa.doc_id
  JOIN sizes sb ON common.doc_b = sb.doc_id
  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.5
),
sp AS (SELECT doc_id,
              CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
                   THEN 'train' ELSE 'eval' END AS split
       FROM docs)
SELECT CASE WHEN pa.split = 'eval' THEN n.doc_a ELSE n.doc_b END AS eval_doc,
       CASE WHEN pa.split = 'eval' THEN n.doc_b ELSE n.doc_a END AS train_doc,
       round(n.jaccard, 6) AS jaccard
FROM nd n
JOIN sp pa ON n.doc_a = pa.doc_id
JOIN sp pb ON n.doc_b = pb.doc_id
WHERE pa.split <> pb.split
""",
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split NEAR-duplicate leakage audit: exact-n-gram
    decontamination (q_decontaminate) misses paraphrase-level overlap, so
    this pass takes the inverted-index near-dup pairs (3-shingle Jaccard >=
    0.5, df-cut — never all-pairs) and keeps those straddling the
    deterministic md5 train/eval split: each row is an eval document whose
    near-twin sits in train — the leakage a benchmark score silently
    inherits. The near-dup index is the same artifact the dedup pass
    already builds, so at 100 TB this audit is one extra broadcast-joined
    filter over it, not a new quadratic scan."""
    from cliner_spark import dedup as _dd

    pairs = _dd.jaccard_pairs(load_docs(spark, sf_dir), n=3, df_cut=50).filter(
        F.col("jaccard") >= 0.5
    )
    split = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "d", "train"
        )
        .otherwise("eval")
        .alias("split"),
    )
    sa = split.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            F.when(F.col("split_a") == "eval", F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("eval_doc"),
            F.when(F.col("split_a") == "eval", F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("train_doc"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Round 3d: KG schema induction, RAG context packing, FIM rendering,
# watermark-lateness profiling, skew salt planning
# --------------------------------------------------------------------------

from cliner_spark.queries_r2 import SQL_TR_CTE  # noqa: E402
from cliner_spark.triples import hot_conversations  # noqa: E402


@_register_r3(
    "q_kg_schema_induction",
    f"""
{SQL_TR_CTE}
SELECT pred,
       split_part(subj, ':', 1) AS subj_type,
       split_part(obj, ':', 1) AS obj_type,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(DISTINCT subj) AS BIGINT) AS n_subj,
       CAST(count(DISTINCT obj) AS BIGINT) AS n_obj
FROM tr GROUP BY 1, 2, 3
""",
)
def q_kg_schema_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG schema induction: the (predicate, subject-type, object-type)
    signature table with edge/entity cardinalities, read straight off the
    materialized triples — the discovered ontology header (MENTIONS:
    conv->concept, ASSERTED_IN: concept->turn, ...) a KG consumer validates
    ingest against, and the FIRST audit that catches a malformed emitter
    (a new (pred, type, type) row appearing = schema drift). Entity types
    are the URI prefix, so the whole query is one split + partial-agg
    groupBy over the KG, no joins."""
    from cliner_spark.queries_r2 import cached_triples

    tr = cached_triples(spark, sf_dir)
    typ = lambda c: F.split(F.col(c), ":", 2).getItem(0)  # noqa: E731
    return tr.select(
        "pred", typ("subj").alias("subj_type"), typ("obj").alias("obj_type"),
        "subj", "obj",
    ).groupBy("pred", "subj_type", "obj_type").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
    )


@_register_r3(
    "q_context_pack",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_TXR.strip()}
SELECT conv_id, turn_idx, role,
       CAST(count(text) OVER w AS BIGINT) AS n_ctx,
       coalesce(string_agg(text, ' <SEP> ') OVER w, '') AS ctx_text
FROM txr
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
""",
)
def q_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-context packing for conversational SFT/RAG rows: every turn
    is paired with its previous <=3 turns' text, '<SEP>'-joined in turn
    order — the (context, turn) training-example shape a dialogue trainer
    consumes, built with ONE window frame (collect_list over ROWS 3
    PRECEDING TO 1 PRECEDING, order pinned by turn_idx) instead of K
    self-joins: one conv_id shuffle total, and the frame never leaves the
    JVM. Turn 0 gets an empty context (coalesced '' on both engines)."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-3, -1)
    )
    return _txr(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "role",
        F.count("text").over(w).cast("bigint").alias("n_ctx"),
        F.coalesce(
            F.array_join(F.collect_list("text").over(w), " <SEP> "), F.lit("")
        ).alias("ctx_text"),
    )


@_register_r3(
    "q_fim_transform",
    f"""
WITH {SQL_DOCS_TOKS},
cut AS (
  SELECT doc_id, toks, len(toks) AS n,
         len(toks) // 3 AS p1, (2 * len(toks)) // 3 AS p2
  FROM docs
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(p1 AS BIGINT) AS n_prefix,
       CAST(p2 - p1 AS BIGINT) AS n_middle,
       '<PRE> ' || coalesce(array_to_string(toks[1:p1], ' '), '')
       || ' <SUF> ' || coalesce(array_to_string(toks[p2 + 1:n], ' '), '')
       || ' <MID> ' || coalesce(array_to_string(toks[p1 + 1:p2], ' '), '')
         AS psm_text
FROM cut
""",
)
def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) rendering in PSM (prefix-suffix-middle)
    order — the code-LLM pretraining transform (Bavarian et al.): the
    document splits at deterministic tertile token cuts, the middle moves
    to the end behind sentinels, so the model learns infilling from plain
    next-token prediction. Pure array-slice + concat projection (no
    explode, no Python, no shuffle); deterministic cuts keep the transform
    reproducible across epochs and engines — the property a 100 TB
    re-render must have."""
    docs = load_docs(spark, sf_dir).select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    cut = docs.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        F.expr("size(toks) div 3").alias("p1"),
        F.expr("(2 * size(toks)) div 3").alias("p2"),
    )
    part = lambda frm, to: F.coalesce(  # noqa: E731
        F.array_join(F.expr(f"slice(toks, {frm}, greatest(0, {to}))"), " "),
        F.lit(""),
    )
    return cut.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("p1").cast("bigint").alias("n_prefix"),
        (F.col("p2") - F.col("p1")).cast("bigint").alias("n_middle"),
        F.concat(
            F.lit("<PRE> "), part("1", "p1"),
            F.lit(" <SUF> "), part("p2 + 1", "n - p2"),
            F.lit(" <MID> "), part("p1 + 1", "p2 - p1"),
        ).alias("psm_text"),
    )


@_register_r3(
    "q_watermark_profile",
    """
WITH seen AS (
  SELECT user_id, event_id, ts,
         max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prior_max
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN ts < prior_max THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(coalesce(max(CASE WHEN ts < prior_max
                 THEN epoch_ms(prior_max) - epoch_ms(ts) END), 0) AS BIGINT)
         AS max_disorder_ms
FROM seen GROUP BY user_id
""",
)
def q_watermark_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder profile per key — the measurement that SIZES a
    streaming watermark: replaying the batch in arrival order (event_id),
    how many events arrive with ts behind the running per-user max, and by
    how much at worst. `withWatermark(delay)` drops exactly the events
    whose disorder exceeds delay, so max_disorder_ms IS the minimum safe
    delay per key (streaming.py's session/interval-join operators consume
    such a bound). One window + one groupBy on the same user_id shuffle;
    ms gaps via integer epoch-ms floor on both engines."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ms = lambda c: F.expr(f"unix_micros(cast({c} as timestamp)) div 1000")  # noqa: E731
    seen = ev.select(
        "user_id",
        "ts",
        F.max("ts").over(w).alias("prior_max"),
    )
    late = F.col("ts") < F.col("prior_max")
    return seen.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(late.cast("long")).alias("n_late"),
        F.coalesce(
            F.max(F.when(late, ms("prior_max") - ms("ts"))), F.lit(0)
        ).cast("bigint").alias("max_disorder_ms"),
    )


@_register_r3(
    "q_salt_plan",
    """
WITH tx AS (
  SELECT CAST(doc_id % 97 AS VARCHAR) AS conv_id FROM documents
),
sizes AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns
          FROM tx GROUP BY conv_id)
SELECT conv_id, n_turns,
       CAST((n_turns + 3) // 4 AS BIGINT) AS salt_factor
FROM sizes WHERE n_turns > 4
""",
)
def q_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salting plan: the heavy-hitter pre-pass (triples.
    hot_conversations — one map-side-combined count, dimension-sized
    output) extended with the recommended salt factor ceil(n_turns/4) per
    hot conversation — the broadcastable plan the salted triple sink
    (triples.salted_partition_col) consumes so one hot conv can never
    serialize a task at 10^12-turn scale. Driver-verifiable twin of the
    util the flagship pipeline already uses."""
    tx = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 97).cast("string").alias("conv_id")
    )
    hot = hot_conversations(tx, threshold=4)
    return hot.select(
        "conv_id",
        F.col("n_turns").cast("bigint").alias("n_turns"),
        F.expr("(n_turns + 3) div 4").cast("bigint").alias("salt_factor"),
    )


# --------------------------------------------------------------------------
# Round 3e: end-to-end curation manifest (the full dedup->decontam->
# repetition->length cascade as ONE oracle-checked plan) + ontology
# acyclicity ingest gate
# --------------------------------------------------------------------------

from cliner_spark.fixtures import ontology_df, ontology_values_sql  # noqa: E402
from cliner_spark.sampling import TRAIN_BOUND, VAL_BOUND  # noqa: E402

# compose the oracle from the ALREADY-HASH-CHECKED component SQLs (DuckDB
# allows a CTE body to carry its own WITH chain), so the cascade's oracle is
# definitionally consistent with each stage's standalone oracle
_CURATE_SQL = f"""
WITH cl AS ({{dup}}),
rp AS ({{rep}}),
ct AS ({{dec}}),
b AS (SELECT quantile_cont(n_tokens, 0.05) AS lo,
             quantile_cont(n_tokens, 0.95) AS hi FROM rp)
SELECT r.doc_id, cl.cluster_id, r.n_tokens,
       cl.cluster_id = r.doc_id AS keep_dedup,
       ct.doc_id IS NULL AS keep_decontam,
       r.dup2_frac <= 0.5 AS keep_repetition,
       (r.n_tokens >= b.lo AND r.n_tokens <= b.hi) AS keep_length,
       (cl.cluster_id = r.doc_id AND ct.doc_id IS NULL
        AND r.dup2_frac <= 0.5
        AND r.n_tokens >= b.lo AND r.n_tokens <= b.hi) AS keep,
       CASE WHEN substr(md5(CAST(r.doc_id AS VARCHAR)), 1, 2) < '{TRAIN_BOUND}'
              THEN 'train'
            WHEN substr(md5(CAST(r.doc_id AS VARCHAR)), 1, 2) < '{VAL_BOUND}'
              THEN 'val'
            ELSE 'test' END AS split
FROM rp r
JOIN cl ON r.doc_id = cl.doc_id
LEFT JOIN ct ON r.doc_id = ct.doc_id
CROSS JOIN b
"""


def _curation_sql() -> str:
    return _CURATE_SQL.format(
        dup=REGISTRY["q_dup_clusters"].sql,
        rep=REGISTRY["q_repetition"].sql,
        dec=REGISTRY["q_decontaminate"].sql,
    )


@_register_r3("q_curation_manifest", _curation_sql())
def q_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation manifest (curate.curate): near-dup cluster
    representative + eval-decontamination + repetition + length-band keep
    flags, the combined verdict, and the hash split — per document, in ONE
    composed plan. This is the pass a training corpus actually ships
    through; the flags make every drop auditable. The oracle NESTS the four
    component queries' own hash-checked SQLs as CTEs, so cascade
    correctness is verified against the same definitions as each stage.
    Scale: the only corpus-wide shuffles are the component ones (shingle
    index, one bounds aggregate); flag joins are id-grain."""
    from cliner_spark.curate import curate

    docs = load_docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 101 == 0)
    out = curate(docs, benchmark=bench)
    return out.select(
        "doc_id",
        "cluster_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "keep_dedup",
        "keep_decontam",
        "keep_repetition",
        "keep_length",
        "keep",
        "split",
    )


_ISA_SQL_R3 = ontology_values_sql()


@_register_r3(
    "q_isa_cycle_audit",
    f"""
WITH RECURSIVE isa AS (SELECT * FROM {_ISA_SQL_R3}),
cl(descendant, ancestor) AS (
  SELECT child, parent FROM isa
  UNION
  SELECT c.descendant, i.parent FROM cl c JOIN isa i ON i.child = c.ancestor
),
n AS (SELECT DISTINCT node FROM (
        SELECT child AS node FROM isa UNION ALL SELECT parent FROM isa))
SELECT CAST((SELECT count(*) FROM n) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM isa) AS BIGINT) AS n_edges,
       CAST((SELECT count(DISTINCT descendant) FROM cl
             WHERE descendant = ancestor) AS BIGINT) AS n_cycle_nodes,
       (SELECT count(*) FROM cl WHERE descendant = ancestor) = 0 AS acyclic
""",
)
def q_isa_cycle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology acyclicity ingest gate: an ISA hierarchy with a cycle makes
    every subsumption rollup double-count, so a release is REJECTED before
    the closure artifact builds if any node reaches itself. Spark computes
    the same reachability closure the ISA operators use (path doubling,
    depth dropped) and counts self-reaching nodes; the oracle replays it
    one edge per step. Emits one audit row (n_nodes, n_edges,
    n_cycle_nodes, acyclic) — data-derived on both engines, red the moment
    a cyclic ontology ships."""
    from cliner_spark.graph import strongly_connected_components

    isa = ontology_df(spark)
    edges = isa.select(F.col("child").alias("src"), F.col("parent").alias("dst"))
    # a node is on a cycle iff its SCC has >1 member (or a self-loop, which
    # the fixture grammar disallows); reuse the SCC operator as the checker
    scc = strongly_connected_components(edges)
    cyc = (
        scc.groupBy("scc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") > 1)
        .agg(F.coalesce(F.sum("sz"), F.lit(0)).alias("n_cycle_nodes"))
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    n_edges = edges.distinct().agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nodes.crossJoin(n_edges)
        .crossJoin(cyc)
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_cycle_nodes").cast("bigint").alias("n_cycle_nodes"),
            (F.col("n_cycle_nodes") == 0).alias("acyclic"),
        )
    )


# --------------------------------------------------------------------------
# Round 3f: ANN index-health profile + embedding per-dimension stats
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import SQL_EMB, SQL_SEEDED_TOPK  # noqa: E402

# seeds/ssims/scells CTEs only (the quantizer), without the probe/rerank tail
_SQL_SEEDED_CELLS = SQL_SEEDED_TOPK[: SQL_SEEDED_TOPK.index("sprobes")].rstrip().rstrip(",")


@_register_r3(
    "q_ivf_cell_profile",
    f"""
WITH {SQL_EMB}, {_SQL_SEEDED_CELLS},
per AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors FROM scells GROUP BY cell),
tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS n FROM per)
SELECT p.cell, p.n_vectors,
       round(CAST(p.n_vectors AS DOUBLE) / t.n, 6) AS share
FROM per p CROSS JOIN tot t
""",
)
def q_ivf_cell_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-health profile: per-cell vector counts and corpus share
    for the seeded IVF quantizer (similarity.seeded_cells — the exact
    assignment ivf_seeded_topk searches). A skewed cell list is the
    vector-search analog of a hot partition: probe latency is driven by the
    LARGEST probed cell, so this profile is the gate that decides when the
    index needs re-seeding (or more lists) — run it per index release, not
    per query. One map-side-combined count over the assignment; the share
    ratio is a 1-row broadcast carry."""
    from cliner_spark import similarity as _s
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    _cent, assigned = _s.seeded_cells(emb, n_lists=16)
    per = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    tot = per.agg(F.sum("n_vectors").alias("n"))
    return per.crossJoin(F.broadcast(tot)).select(
        "cell",
        F.col("n_vectors").cast("bigint").alias("n_vectors"),
        F.round(F.col("n_vectors").cast("double") / F.col("n"), 6).alias("share"),
    )


@_register_r3(
    "q_embedding_dim_stats",
    f"""
WITH {SQL_EMB},
flat AS (
  SELECT CAST(t.i AS INTEGER) AS dim,
         CAST(floor(e.v[t.i + 1] * 1000000) AS BIGINT) AS v_fp
  FROM e, unnest(range(64)) AS t(i)
)
SELECT dim, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(v_fp) AS BIGINT) AS sum_fp,
       CAST(min(v_fp) AS BIGINT) AS min_fp,
       CAST(max(v_fp) AS BIGINT) AS max_fp,
       round(CAST(sum(v_fp) AS DOUBLE) / 1000000 / count(*), 6) AS mean
FROM flat GROUP BY dim
""",
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding distribution stats (the mean-centering /
    whitening pre-pass every cosine-ANN pipeline should run — an off-center
    dimension dominates dot products and collapses LSH buckets): exact
    BIGINT fixed-point sums/min/max per dimension, one rounded mean.
    posexplode is the 64x row expansion, but it feeds straight into a
    partial-aggregated groupBy on 64 keys — the shuffle carries 64 rows per
    partition, not the corpus. Fixed-point floor(v*1e6) keeps every
    aggregate engine-exact (float32 -> double promotion is exact on both
    sides)."""
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    flat = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    ).select(
        F.col("dim").cast("int").alias("dim"),
        F.floor(F.col("v") * 1000000).cast("bigint").alias("v_fp"),
    )
    return flat.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v_fp").alias("sum_fp"),
        F.min("v_fp").alias("min_fp"),
        F.max("v_fp").alias("max_fp"),
        F.round(F.sum("v_fp").cast("double") / 1000000 / F.count(F.lit(1)), 6).alias(
            "mean"
        ),
    )


# --------------------------------------------------------------------------
# Round 3g: zone-map pruning audit, golden-record survivorship, KG path
# explanations
# --------------------------------------------------------------------------

from cliner_spark.maintenance import morton_col, morton_sql  # noqa: E402

_Z3 = morton_sql("l_partkey", "l_suppkey")
# fixed audit predicate, valid at every SF (partkey/suppkey start at 1)
_PRED_SQL = "l_partkey BETWEEN 10 AND 50 AND l_suppkey BETWEEN 1 AND 5"


@_register_r3(
    "q_zonemap_prune_audit",
    f"""
WITH z AS (SELECT l_partkey, l_suppkey, {_Z3} AS zval FROM lineitem),
b AS (
  SELECT zval >> 16 AS zbucket, count(*) AS n_rows,
         min(l_partkey) AS min_p, max(l_partkey) AS max_p,
         min(l_suppkey) AS min_s, max(l_suppkey) AS max_s,
         sum(CASE WHEN {_PRED_SQL} THEN 1 ELSE 0 END) AS n_match
  FROM z GROUP BY 1
),
s AS (
  SELECT b.*, CASE WHEN min_p <= 50 AND max_p >= 10
                    AND min_s <= 5 AND max_s >= 1 THEN 1 ELSE 0 END AS scanned
  FROM b
)
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(scanned) AS BIGINT) AS n_scanned,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN scanned = 1 THEN n_rows ELSE 0 END) AS BIGINT)
         AS rows_scanned,
       CAST(sum(n_match) AS BIGINT) AS rows_matched,
       CASE WHEN sum(n_match) > 0
            THEN round(CAST(sum(CASE WHEN scanned = 1 THEN n_rows ELSE 0 END)
                            AS DOUBLE) / sum(n_match), 6) END AS read_amp
FROM s
""",
)
def q_zonemap_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning EFFECTIVENESS audit for the Z-order layout
    (q_zorder_layout's buckets): for a two-dimensional predicate, how many
    z-buckets a min/max-stats planner would actually scan, how many rows
    that touches, and the read amplification vs the true match count — the
    number that decides whether a table REWRITE (zorder) pays for itself
    before anyone runs it at 100 TB. Every quantity is integer-exact; the
    single ratio is one rounded division (NULL when the predicate matches
    nothing)."""
    li = load(spark, sf_dir, "lineitem")
    z = morton_col(F.col("l_partkey").cast("long"), F.col("l_suppkey").cast("long"))
    pred = (
        F.col("l_partkey").between(10, 50) & F.col("l_suppkey").between(1, 5)
    )
    b = (
        li.select(
            F.shiftright(z, 16).alias("zbucket"), "l_partkey", "l_suppkey",
            pred.cast("long").alias("m"),
        )
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_p"),
            F.max("l_partkey").alias("max_p"),
            F.min("l_suppkey").alias("min_s"),
            F.max("l_suppkey").alias("max_s"),
            F.sum("m").alias("n_match"),
        )
    )
    scanned = (
        (F.col("min_p") <= 50) & (F.col("max_p") >= 10)
        & (F.col("min_s") <= 5) & (F.col("max_s") >= 1)
    ).cast("long")
    return b.select(b["*"], scanned.alias("scanned")).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("scanned").alias("n_scanned"),
        F.sum("n_rows").alias("rows_total"),
        F.sum(F.when(F.col("scanned") == 1, F.col("n_rows")).otherwise(0)).alias(
            "rows_scanned"
        ),
        F.sum("n_match").alias("rows_matched"),
    ).select(
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
        F.col("n_scanned").cast("bigint").alias("n_scanned"),
        F.col("rows_total").cast("bigint").alias("rows_total"),
        F.col("rows_scanned").cast("bigint").alias("rows_scanned"),
        F.col("rows_matched").cast("bigint").alias("rows_matched"),
        F.when(
            F.col("rows_matched") > 0,
            F.round(F.col("rows_scanned").cast("double") / F.col("rows_matched"), 6),
        ).alias("read_amp"),
    )


@_register_r3(
    "q_golden_record",
    f"""
WITH cl AS ({{dup}}),
m AS (SELECT cl.cluster_id, d.doc_id, d.source, d.n_chars
      FROM cl JOIN documents d USING (doc_id))
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(max(n_chars) AS BIGINT) AS max_n_chars,
       string_agg(DISTINCT source, ',' ORDER BY source) AS sources
FROM m GROUP BY cluster_id HAVING count(*) > 1
""".format(dup="{dup}"),
)
def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship (golden-record) view of the near-dup clusters: per
    multi-member cluster, the surviving representative (cluster_id = min
    doc id, the same rule the dedup keep-decision uses) plus the MERGED
    metadata — member count, best (max) length, the sorted union of
    sources — i.e. what an MDM merge writes back so provenance survives
    the drop. One id-grain join + one aggregation over the cluster
    assignment the dedup pass already built."""
    from cliner_spark import dedup as _dd

    docs = load(spark, sf_dir, "documents")
    cl = _dd.dup_clusters(load_docs(spark, sf_dir), min_jaccard=0.5)
    m = cl.join(docs.select("doc_id", "source", "n_chars"), "doc_id")
    return (
        m.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("n_chars").cast("bigint").alias("max_n_chars"),
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias(
                "sources"
            ),
        )
        .filter(F.col("n_members") > 1)
        .select(
            "cluster_id",
            F.col("n_members").cast("bigint").alias("n_members"),
            "max_n_chars",
            "sources",
        )
    )


# patch the {dup} placeholder with the component oracle (kept out of the
# f-string above so the nested SQL's braces survive)
REGISTRY["q_golden_record"] = REGISTRY["q_golden_record"].__class__(
    "q_golden_record",
    REGISTRY["q_golden_record"].spark_fn,
    REGISTRY["q_golden_record"].sql.format(dup=REGISTRY["q_dup_clusters"].sql),
)


@_register_r3(
    "q_kg_path_explain",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}, {SQL_DOC_CUI.strip()},
e AS (SELECT src, dst FROM coedges UNION ALL SELECT dst, src FROM coedges),
walk(node, hops, path) AS (
  SELECT 'CD001', 0, 'CD001'
  UNION
  SELECT e.dst, w.hops + 1, w.path || '>' || e.dst
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.hops < 4
    AND position('>' || e.dst || '>' IN '>' || w.path || '>') = 0
),
d AS (SELECT node, min(hops) AS hops FROM walk GROUP BY node)
SELECT d.node, CAST(d.hops AS INTEGER) AS hops, min(w.path) AS path
FROM d JOIN walk w ON w.node = d.node AND w.hops = d.hops
GROUP BY d.node, d.hops
""",
)
def q_kg_path_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path EXPLANATIONS from concept CD001 over the co-occurrence
    graph (graph.bfs_paths): per reachable concept, the hop distance plus
    one canonical witness path — the "why is B related to A" answer a KG
    serving layer returns next to a recommendation. The witness is the
    lexicographically smallest shortest path; with uniform-width concept
    ids the per-hop min Spark carries equals the global min the oracle
    takes over its (simple-path, hop-bounded) enumeration — BFS witnesses
    stay canonical without enumerating paths at scale."""
    from cliner_spark.entry_queries import _doc_linked
    from cliner_spark.graph import bfs_paths

    d = _doc_linked(spark, sf_dir).select("conv_id", "cui").distinct()
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("a.cui") < F.col("b.cui")),
        )
        .select(F.col("a.cui").alias("src"), F.col("b.cui").alias("dst"))
        .distinct()
    )
    return bfs_paths(pairs, "CD001", max_hops=4).select(
        "node", F.col("hops").cast("int").alias("hops"), "path"
    )


# --------------------------------------------------------------------------
# Round 3h: personalized PageRank (related-entities ranking)
# --------------------------------------------------------------------------


def _ppr_sql(iters: int, seed: str) -> str:
    """Unrolled personalized-PageRank CTE chain mirroring
    graph.pagerank_fixed_point(personalize=seed) exactly (BIGINT only)."""
    scale, seed_mass = 1_000_000_000_000, (15 * 1_000_000_000_000) // 100
    ctes = [
        "nodes AS (SELECT DISTINCT s AS node FROM e2)",
        "deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e2 GROUP BY s)",
        f"r0 AS (SELECT node, CAST(CASE WHEN node = '{seed}' THEN {scale} "
        "ELSE 0 END AS BIGINT) AS rank_fp FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"c{i} AS (SELECT e2.t AS node, CAST(sum(r{i-1}.rank_fp // d.deg) AS BIGINT) AS s"
            f" FROM e2 JOIN r{i-1} ON e2.s = r{i-1}.node JOIN deg d ON e2.s = d.s GROUP BY e2.t)"
        )
        ctes.append(
            f"r{i} AS (SELECT nodes.node,"
            f" CAST(CASE WHEN nodes.node = '{seed}' THEN {seed_mass} ELSE 0 END"
            f" + (85 * coalesce(c{i}.s, 0)) // 100 AS BIGINT) AS rank_fp"
            f" FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node)"
        )
    return ",\n".join(ctes) + f"\nSELECT node, rank_fp FROM r{iters}"


@_register_r3(
    "q_ppr",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}, {SQL_DOC_CUI.strip()},
e2 AS (SELECT src AS s, dst AS t FROM coedges UNION SELECT dst, src FROM coedges),
{_ppr_sql(3, "CD001")}
""",
)
def q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from concept CD001 over the co-occurrence
    graph (graph.pagerank_fixed_point(personalize=...)): all restart mass
    returns to the seed, so rank_fp ranks every concept by RELATEDNESS TO
    THE SEED — the standard KG related-entities/recommendation score,
    complementing global PageRank (q_pagerank) and the path explanations
    (q_kg_path_explain). Same BIGINT fixed-point algebra, so the iterative
    result is hash-checked against a 3-round unrolled SQL twin."""
    from cliner_spark.entry_queries import _doc_linked
    from cliner_spark.graph import group_concept_pairs, pagerank_fixed_point

    edges = group_concept_pairs(_doc_linked(spark, sf_dir))
    return pagerank_fixed_point(edges, iters=3, personalize="CD001").select(
        "node", "rank_fp"
    )


# --------------------------------------------------------------------------
# Round 3i: transcript-native analytics (groundedness, agent loops) +
# LLM-data ops (Kneser-Ney LM, packing frontier, MMR rerank, hard negatives)
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import SQL_DOCS_TOKS  # noqa: E402


def _fp_vec(col):
    """1e-6 fixed-point BIGINT vector: round(x * 1e6) per component.

    float32 -> double promotion is exact and double*1e6 + round is the same
    IEEE operation on both engines (precedent: q_conv_embedding_pool),
    so every downstream integer dot product is engine-exact."""
    return F.transform(
        col.cast("array<double>"),
        lambda x: F.round(x * 1000000).cast("long"),
    )


def _dot_fp(a, b):
    """Exact BIGINT dot product of two fixed-point vectors (zip_with +
    aggregate — one JVM expression, no Python, no explode)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


_SQL_GROUND = f"""
WITH {SQL_DOCS_TOKS},
sh AS (
  SELECT DISTINCT d.doc_id,
         lower(array_to_string(d.toks[t.i + 1 : t.i + 3], ' ')) AS shingle
  FROM docs d, unnest(range(len(d.toks))) AS t(i)
  WHERE t.i + 3 <= len(d.toks)
),
a AS (SELECT doc_id, CAST(doc_id % 97 AS VARCHAR) AS conv_id, shingle
      FROM sh WHERE doc_id % 3 = 1),
tfirst AS (SELECT CAST(doc_id % 97 AS VARCHAR) AS conv_id, shingle,
                  CAST(min(doc_id) AS BIGINT) AS first_tool_doc
           FROM sh WHERE doc_id % 3 = 2 GROUP BY 1, 2),
adocs AS (SELECT doc_id, CAST(doc_id % 97 AS VARCHAR) AS conv_id
          FROM documents WHERE doc_id % 3 = 1),
per AS (
  SELECT a.doc_id,
         CAST(count(*) AS BIGINT) AS n_tri,
         CAST(sum(CASE WHEN t.first_tool_doc < a.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_grounded
  FROM a LEFT JOIN tfirst t ON a.conv_id = t.conv_id AND a.shingle = t.shingle
  GROUP BY 1
)
SELECT d.doc_id, d.conv_id,
       coalesce(p.n_tri, 0) AS n_tri,
       coalesce(p.n_grounded, 0) AS n_grounded
FROM adocs d LEFT JOIN per p USING (doc_id)
"""


@_register_r3("q_grounding_audit", _SQL_GROUND)
def q_grounding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution/groundedness audit for assistant turns: the share of an
    assistant turn's distinct token trigrams that already appeared in an
    EARLIER tool-output turn of the SAME conversation — the RAG-era
    'is the answer supported by the retrieved evidence' signal, and the
    in-conversation complement of q_decontaminate (which checks containment
    against an external benchmark). Roles/turn order use the corpus'
    standard derivation (conv = doc_id % 97, order = doc_id, role =
    doc_id % 3 with 1=assistant 2=tool). Exact integers only: n_tri and
    n_grounded per assistant turn (the consumer thresholds the ratio).

    Scale plan: tool side collapses to (conv, shingle) -> min(turn) — a
    map-side-combined aggregate; the audit join is an equi-join on
    (conv, shingle), partition-local when the corpus is conv-hash
    partitioned (triples.write_triples layout); no window, no all-pairs.
    Assistant turns with <3 tokens are kept as (0, 0) rows via the final
    left join, so coverage accounting never silently drops short turns."""
    from cliner_spark.dedup import shingles

    docs = load_docs(spark, sf_dir)
    sh = shingles(docs, 3).withColumn(
        "conv_id", (F.col("doc_id") % 97).cast("string")
    )
    a = sh.filter(F.col("doc_id") % 3 == 1)
    tfirst = (
        sh.filter(F.col("doc_id") % 3 == 2)
        .groupBy("conv_id", "shingle")
        .agg(F.min("doc_id").alias("first_tool_doc"))
    )
    per = (
        a.join(tfirst, ["conv_id", "shingle"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.sum(
                F.when(F.col("first_tool_doc") < F.col("doc_id"), 1).otherwise(0)
            ).alias("n_grounded"),
        )
    )
    adocs = docs.filter(F.col("doc_id") % 3 == 1).select(
        "doc_id", (F.col("doc_id") % 97).cast("string").alias("conv_id")
    )
    return adocs.join(per, "doc_id", "left").select(
        "doc_id",
        "conv_id",
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
        F.coalesce(F.col("n_grounded"), F.lit(0)).cast("long").alias("n_grounded"),
    )


_SQL_LOOPS = """
WITH tx AS (
  SELECT CAST(doc_id % 97 AS VARCHAR) AS conv_id, doc_id,
         'band' || CAST(n_chars // 400 AS VARCHAR) AS tool
  FROM documents
),
seq AS (
  SELECT conv_id, tool,
         row_number() OVER (PARTITION BY conv_id ORDER BY doc_id) AS rn,
         row_number() OVER (PARTITION BY conv_id, tool ORDER BY doc_id) AS rnt
  FROM tx
)
SELECT conv_id, tool,
       CAST(min(rn) - 1 AS INTEGER) AS start_turn,
       CAST(count(*) AS BIGINT) AS run_len
FROM seq GROUP BY conv_id, tool, rn - rnt
HAVING count(*) >= 2
"""


@_register_r3("q_agent_loop_detect", _SQL_LOOPS)
def q_agent_loop_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stuck-agent loop detection: maximal runs of >= 2 CONSECUTIVE turns
    calling the same tool within a conversation (the 'agent retrying the
    same call forever' smell every transcript pipeline filters before
    training). Classic gaps-and-islands: two row_numbers per (conv) and
    (conv, tool) — their difference is constant exactly within a
    consecutive run — then one groupBy island. Both windows partition by
    conversation, so at 10^12 turns this is two partition-local sorts on
    the conv-hash layout and one map-side-combined aggregate; no self-join,
    no iteration. Turn order = doc_id, conv = doc_id % 97 (the corpus'
    standard transcript derivation). The tool stand-in is the turn's
    LENGTH BAND (n_chars div 400), not documents.source: the synthetic
    source column is exactly periodic in doc_id (src{doc_id % 20}), which
    makes consecutive repeats impossible by construction under any modular
    conv split — a data-derived band gives genuine runs (the fixture
    contract this query documents; production uses the real tool column)."""
    tx = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 97).cast("string").alias("conv_id"),
        "doc_id",
        F.concat(F.lit("band"), F.expr("n_chars div 400").cast("string")).alias(
            "tool"
        ),
    )
    w_all = Window.partitionBy("conv_id").orderBy("doc_id")
    w_tool = Window.partitionBy("conv_id", "tool").orderBy("doc_id")
    seq = tx.select(
        "conv_id",
        "tool",
        F.row_number().over(w_all).alias("rn"),
        F.row_number().over(w_tool).alias("rnt"),
    )
    return (
        seq.groupBy("conv_id", "tool", (F.col("rn") - F.col("rnt")).alias("_isl"))
        .agg(
            (F.min("rn") - 1).cast("int").alias("start_turn"),
            F.count(F.lit(1)).alias("run_len"),
        )
        .filter(F.col("run_len") >= 2)
        .select("conv_id", "tool", "start_turn", "run_len")
    )


_SQL_KN = f"""
WITH {SQL_DOCS_TOKS},
pairs AS (
  SELECT lower(d.toks[t.i + 1]) AS w1, lower(d.toks[t.i + 2]) AS w2
  FROM docs d, unnest(range(len(d.toks))) AS t(i)
  WHERE t.i + 2 <= len(d.toks)
),
bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2),
lt AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS r1
       FROM bg GROUP BY 1),
ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS f2 FROM bg GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS r FROM bg)
SELECT bg.w1, bg.w2, bg.c, lt.c1, lt.r1, ct.f2, t.r,
       CAST((4 * bg.c - 3) * t.r + 3 * lt.r1 * ct.f2 AS BIGINT) AS kn_num,
       CAST(4 * lt.c1 * t.r AS BIGINT) AS kn_den
FROM bg JOIN lt USING (w1) JOIN ct USING (w2) CROSS JOIN tot t
"""


@_register_r3("q_kn_bigram", _SQL_KN)
def q_kn_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney (absolute-discount D=0.75) smoothed bigram LM as EXACT
    RATIONAL arithmetic — the standard LM-quality-filter upgrade over the
    add-1 table (q_lm_bigrams):

        p_kn(w2|w1) = (c - D)/c1 + (D * R1/c1) * (F2/R)

    with c = c(w1 w2), c1 = left-position count of w1, R1 = distinct
    followers of w1 (discount mass fan-out), F2 = distinct predecessors of
    w2 (the continuation count that makes KN back-off count CONTEXTS, not
    tokens), R = total distinct bigram types. With D = 3/4 the probability
    is exactly kn_num/kn_den over BIGINTs (common denominator 4*c1*R), so
    the whole table is hash-exact across engines — no float smoothing grid.
    (Production scores in log-space doubles; this integer form is the
    verification grid, same contract as q_lm_doc_score's fixed point.)

    Plan: three map-side-combined aggregates over ONE bigram table plus two
    broadcast-sized joins on w1/w2 and a 1-row broadcast carry for R; at
    corpus scale the bigram groupBy is the only real shuffle."""
    docs = load_docs(spark, sf_dir)
    toks = tokens_col("text")
    pair_arr = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.lower(F.element_at(toks, i + 1)).alias("w1"),
                F.lower(F.element_at(toks, i + 2)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = docs.select(F.explode(pair_arr).alias("p")).select("p.w1", "p.w2")
    bg = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    lt = bg.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("r1")
    )
    ct = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("f2"))
    tot = bg.agg(F.count(F.lit(1)).alias("r"))
    return (
        bg.join(lt, "w1")
        .join(ct, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c",
            "c1",
            "r1",
            "f2",
            "r",
            ((4 * F.col("c") - 3) * F.col("r") + 3 * F.col("r1") * F.col("f2"))
            .cast("long")
            .alias("kn_num"),
            (4 * F.col("c1") * F.col("r")).cast("long").alias("kn_den"),
        )
    )


_SQL_PACK_EFF = f"""
WITH {SQL_DOCS_TOKS},
lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS l FROM docs),
b AS (SELECT CAST(unnest([64, 128, 256, 512, 1024]) AS BIGINT) AS budget),
agg AS (
  SELECT b.budget,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN l > b.budget THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
         CAST(sum(greatest(l - b.budget, 0)) AS BIGINT) AS tokens_lost,
         CAST(sum(least(l, b.budget)) AS BIGINT) AS kept_tokens
  FROM lens CROSS JOIN b GROUP BY 1
)
SELECT budget, n_docs, n_truncated, tokens_lost, kept_tokens,
       CAST(budget * n_docs - kept_tokens AS BIGINT) AS pad_waste_unpacked,
       CAST((kept_tokens + budget - 1) // budget AS BIGINT) AS packed_seqs_lb,
       CAST(((kept_tokens + budget - 1) // budget) * budget - kept_tokens
            AS BIGINT) AS pad_waste_packed_lb
FROM agg
"""


@_register_r3("q_pack_efficiency", _SQL_PACK_EFF)
def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-budget frontier for sequence packing — the sizing study run
    BEFORE q_seq_packing commits to a budget: for each candidate context
    length, exact counts of truncated docs, tokens lost to truncation,
    padding waste with one-doc-per-sequence, and the bin-packing LOWER
    BOUND on sequence count (ceil(kept/budget)) with its residual pad
    waste. Greedy packing (q_seq_packing) lands between the two waste
    columns, so this bounds the achievable efficiency per budget without
    running the packer. All BIGINT (ceil via (x+b-1) div b — no floats).
    Plan: one length scan x 5 broadcast budget rows -> 5-group aggregate;
    at 10^12 turns this is a single map-side-combined pass."""
    docs = load_docs(spark, sf_dir)
    lens = docs.select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("l")
    )
    budgets = spark.createDataFrame(
        [(64,), (128,), (256,), (512,), (1024,)], "budget long"
    )
    agg = (
        lens.crossJoin(F.broadcast(budgets))
        .groupBy("budget")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("l") > F.col("budget"), 1).otherwise(0)).alias(
                "n_truncated"
            ),
            F.sum(F.greatest(F.col("l") - F.col("budget"), F.lit(0))).alias(
                "tokens_lost"
            ),
            F.sum(F.least(F.col("l"), F.col("budget"))).alias("kept_tokens"),
        )
    )
    seqs_lb = F.expr("(kept_tokens + budget - 1) div budget")
    return agg.select(
        "budget",
        "n_docs",
        "n_truncated",
        "tokens_lost",
        "kept_tokens",
        (F.col("budget") * F.col("n_docs") - F.col("kept_tokens"))
        .cast("long")
        .alias("pad_waste_unpacked"),
        seqs_lb.cast("long").alias("packed_seqs_lb"),
        (seqs_lb * F.col("budget") - F.col("kept_tokens"))
        .cast("long")
        .alias("pad_waste_packed_lb"),
    )


_SQL_FPV = (
    "fpv AS (SELECT vec_id, list_transform(v, x -> "
    "CAST(round(x * 1000000) AS BIGINT)) AS vf FROM e)"
)


def _sql_dot(a: str, b: str) -> str:
    """Exact BIGINT dot product of two fixed-point DuckDB lists."""
    return (
        f"list_sum(list_transform(range(64), i -> {a}[i + 1] * {b}[i + 1]))"
    )


_SQL_MMR = f"""
WITH {SQL_EMB}, {_SQL_FPV},
q AS (SELECT vf AS qf FROM fpv WHERE vec_id = 0),
rel AS (
  SELECT f.vec_id, CAST({_sql_dot('f.vf', 'q.qf')} AS BIGINT) AS rel_fp
  FROM fpv f CROSS JOIN q WHERE f.vec_id <> 0
),
cand AS (SELECT vec_id, rel_fp FROM rel ORDER BY rel_fp DESC, vec_id LIMIT 10),
sims AS (
  SELECT a.vec_id AS i, b.vec_id AS j,
         CAST({_sql_dot('fa.vf', 'fb.vf')} AS BIGINT) AS s
  FROM cand a JOIN fpv fa ON fa.vec_id = a.vec_id
       CROSS JOIN cand b JOIN fpv fb ON fb.vec_id = b.vec_id
  WHERE a.vec_id <> b.vec_id
),
s1 AS (SELECT vec_id, rel_fp, 1 AS rank, 2 * rel_fp AS score_fp
       FROM cand ORDER BY rel_fp DESC, vec_id LIMIT 1),
m2 AS (SELECT s.i AS vec_id, max(s.s) AS maxsim FROM sims s
       JOIN s1 ON s.j = s1.vec_id GROUP BY 1),
s2 AS (SELECT c.vec_id, c.rel_fp, 2 AS rank,
              2 * c.rel_fp - m.maxsim AS score_fp
       FROM cand c JOIN m2 m ON c.vec_id = m.vec_id
       WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
       ORDER BY 2 * c.rel_fp - m.maxsim DESC, c.vec_id LIMIT 1),
sel12 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
m3 AS (SELECT s.i AS vec_id, max(s.s) AS maxsim FROM sims s
       JOIN sel12 ON s.j = sel12.vec_id GROUP BY 1),
s3 AS (SELECT c.vec_id, c.rel_fp, 3 AS rank,
              2 * c.rel_fp - m.maxsim AS score_fp
       FROM cand c JOIN m3 m ON c.vec_id = m.vec_id
       WHERE c.vec_id NOT IN (SELECT vec_id FROM sel12)
       ORDER BY 2 * c.rel_fp - m.maxsim DESC, c.vec_id LIMIT 1)
SELECT CAST(rank AS INTEGER) AS rank, vec_id, rel_fp, score_fp
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
"""


@_register_r3("q_mmr_rerank", _SQL_MMR)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified re-ranking: from the top-10
    relevance candidates for the seed query (vec_id 0's embedding), pick 3
    results greedily by score = (1-λ)·rel − λ·max_{j∈selected} sim(i,j)
    with λ = 1/3, i.e. the integer objective 2·rel_fp − maxsim_fp — the
    standard search-result / few-shot-example diversifier on top of any ANN
    retriever. EVERYTHING is exact BIGINT: 1e-6 fixed-point vectors, integer
    dot products for both relevance and pairwise similarity, integer
    greedy scores, ties broken by vec_id — so the 3 unrolled greedy rounds
    hash-match an unrolled SQL twin without a float anywhere.

    Scale plan: candidate generation is the ANN layer's job (q_embedding_*);
    MMR operates on the O(k²) similarity matrix of ONE candidate set —
    10×10 here — so the rerank joins are broadcast-trivial per query and
    the unrolled-rounds shape is exactly how a serving tier executes greedy
    MMR (k is a constant, never data-sized)."""
    emb = load(spark, sf_dir, "embeddings")
    fpv = emb.select("vec_id", _fp_vec(F.col("embedding")).alias("vf"))
    q = fpv.filter(F.col("vec_id") == 0).select(F.col("vf").alias("qf"))
    rel = (
        fpv.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "vf", _dot_fp(F.col("vf"), F.col("qf")).alias("rel_fp"))
    )
    cand = rel.orderBy(F.desc("rel_fp"), F.asc("vec_id")).limit(10)
    cand = cand.localCheckpoint(eager=True)  # tiny; reused by 3 greedy rounds
    a = cand.select(
        F.col("vec_id").alias("i"), F.col("vf").alias("va")
    )
    b = cand.select(F.col("vec_id").alias("j"), F.col("vf").alias("vb"))
    sims = (
        a.join(b, F.col("i") != F.col("j"))
        .select("i", "j", _dot_fp(F.col("va"), F.col("vb")).alias("s"))
        .localCheckpoint(eager=True)
    )
    cand_slim = cand.select("vec_id", "rel_fp")
    s1 = (
        cand_slim.orderBy(F.desc("rel_fp"), F.asc("vec_id"))
        .limit(1)
        .select(
            F.lit(1).alias("rank"),
            "vec_id",
            "rel_fp",
            (2 * F.col("rel_fp")).alias("score_fp"),
        )
    )
    picks = [s1]
    for r in (2, 3):
        sel_ids = picks[0].select("vec_id")
        for p in picks[1:]:
            sel_ids = sel_ids.unionByName(p.select("vec_id"))
        maxsim = (
            sims.join(sel_ids.withColumnRenamed("vec_id", "j"), "j")
            .groupBy("i")
            .agg(F.max("s").alias("maxsim"))
        )
        scored = (
            cand_slim.join(sel_ids, "vec_id", "left_anti")
            .join(maxsim.withColumnRenamed("i", "vec_id"), "vec_id")
            .select(
                "vec_id",
                "rel_fp",
                (2 * F.col("rel_fp") - F.col("maxsim")).alias("score_fp"),
            )
        )
        picks.append(
            scored.orderBy(F.desc("score_fp"), F.asc("vec_id"))
            .limit(1)
            .select(F.lit(r).alias("rank"), "vec_id", "rel_fp", "score_fp")
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select("rank", "vec_id", "rel_fp", "score_fp")


_SQL_HARDNEG = f"""
WITH {SQL_EMB}, {_SQL_SEEDED_CELLS}, {_SQL_FPV},
cells AS (
  SELECT s.vec_id, s.cell, l.label, f.vf
  FROM scells s JOIN embeddings l USING (vec_id) JOIN fpv f USING (vec_id)
),
p AS (
  SELECT a.vec_id, b.vec_id AS neg_id,
         CAST({_sql_dot('a.vf', 'b.vf')} AS BIGINT) AS sim_fp
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.label <> b.label
)
SELECT vec_id, neg_id, sim_fp, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
              ORDER BY sim_fp DESC, neg_id ASC) AS INTEGER) AS rank
  FROM p
) WHERE rank <= 2
"""


@_register_r3("q_hard_negatives", _SQL_HARDNEG)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for every anchor vector, the 2
    most-similar vectors with a DIFFERENT label inside the anchor's IVF
    cell — the batch-mining step that turns an embedding corpus into
    contrastive training pairs (high-similarity wrong-label examples are
    the gradient-rich negatives). Candidates come from the seeded IVF
    quantizer (similarity.seeded_cells — the SAME hash-checked assignment
    the ANN search probes), so mining inherits the index's partition
    pruning: pairs are generated per cell, never all-pairs; similarity is
    the exact 1e-6 fixed-point BIGINT dot product, ties by neg_id.

    Scale plan: cell-partitioned self-join (cell count is the parallelism
    knob, 16 here / thousands in production) + per-anchor top-2 window
    partitioned by vec_id — both shuffle on keys the index already
    clusters by. A skewed cell shows up in q_ivf_cell_profile BEFORE it
    hurts this join (that profile is the gate)."""
    from cliner_spark import similarity as _s
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    _cent, assigned = _s.seeded_cells(emb, n_lists=16)
    cells = (
        assigned.select("vec_id", "cell")
        .join(emb.select("vec_id", "label", "embedding"), "vec_id")
        .select("vec_id", "cell", "label", _fp_vec(F.col("embedding")).alias("vf"))
    )
    a = cells.select(
        F.col("vec_id"), F.col("cell"), F.col("label"), F.col("vf").alias("va")
    )
    b = cells.select(
        F.col("vec_id").alias("neg_id"),
        F.col("cell"),
        F.col("label").alias("neg_label"),
        F.col("vf").alias("vb"),
    )
    pairs = a.join(b, "cell").filter(F.col("label") != F.col("neg_label")).select(
        "vec_id", "neg_id", _dot_fp(F.col("va"), F.col("vb")).alias("sim_fp")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim_fp"), F.asc("neg_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 2)
        .select("vec_id", "neg_id", "sim_fp", "rank")
    )


# --------------------------------------------------------------------------
# Round 3j: PRF query expansion, ANN ranking quality (nDCG), classifier
# calibration bins, lead-lag series cross-moments, exact KS drift test
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import (  # noqa: E402
    BM25_QUERY,
    SQL_EXACT_TOPK,
    SQL_SEEDED_TOPK,
)

_QT = ", ".join(f"'{t}'" for t in BM25_QUERY)

_SQL_PRF = f"""
WITH {SQL_DOCS_TOKS},
tk AS (SELECT d.doc_id, lower(t.tok) AS term FROM docs d, unnest(d.toks) AS t(tok)),
dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM docs),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
tf0 AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tk
        WHERE term IN ({_QT}) GROUP BY 1, 2),
df0 AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf0 GROUP BY 1),
s0 AS (
  SELECT tf0.doc_id,
         CAST(round(
           ln(1.0 + (st.n_docs - df0.df + 0.5) / (df0.df + 0.5))
           * tf0.tf * (1.2 + 1) / (tf0.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)),
           6) AS DECIMAL(38,6)) AS s
  FROM tf0 JOIN df0 USING (term) JOIN dl USING (doc_id) CROSS JOIN st
),
sc0 AS (SELECT doc_id, CAST(sum(s) AS DOUBLE) AS score FROM s0 GROUP BY 1),
top5 AS (SELECT doc_id FROM sc0 ORDER BY score DESC, doc_id ASC LIMIT 5),
cand AS (SELECT tk.term, CAST(count(*) AS BIGINT) AS tf5
         FROM tk JOIN top5 USING (doc_id)
         WHERE term NOT IN ({_QT}) GROUP BY 1),
dful AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfd FROM tk
         WHERE term IN (SELECT term FROM cand) GROUP BY 1),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
exp3 AS (SELECT c.term FROM cand c JOIN dful USING (term) CROSS JOIN nn
         ORDER BY round(c.tf5 * ln(CAST(nn.n + 1 AS DOUBLE) / (dful.dfd + 1)), 6)
           DESC, c.term ASC LIMIT 3),
qterms AS (SELECT unnest([{_QT}]) AS term UNION ALL SELECT term FROM exp3),
tf AS (SELECT tk.doc_id, tk.term, CAST(count(*) AS DOUBLE) AS tf
       FROM tk JOIN qterms USING (term) GROUP BY 1, 2),
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
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rk
FROM sc ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def _bm25_score_joined(toks, dl, stats, qterms):
    """BM25 scoring where the query-term set is a DataFrame (broadcast
    join instead of a literal isin) — per-term scores rounded to 6 dp and
    summed as DECIMAL so totals are exact and partition-order independent
    (same contract as textstats.bm25_rank)."""
    tf = (
        toks.join(F.broadcast(qterms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
    term_score = F.round(idf * F.col("tf") * (1.2 + 1) / denom, 6)
    return (
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("s", term_score.cast("decimal(38,6)"))
        .groupBy("doc_id")
        .agg(F.sum("s").cast("double").alias("score"))
    )


@_register_r3("q_rocchio_prf", _SQL_PRF)
def q_rocchio_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio): run BM25 for
    the fixed 4-term query, take the top-5 documents as pseudo-relevant,
    mine the 3 highest idf-weighted non-query terms from them
    (round-6 tf5 * ln((N+1)/(df+1)), term-asc tie), and RE-SCORE the corpus
    with the expanded 7-term query — the classic two-pass retrieval
    upgrade a training-data search stack runs when recall matters more
    than latency. The final top-10 is hash-checked end to end because
    every float is rounded to 6 dp before any ordering or DECIMAL sum.

    Scale plan: pass 1 and pass 2 are both standard BM25 shapes (query
    filter pushed into the scan, tiny df/avgdl broadcast carries); the
    feedback set is 5 doc ids (broadcast semi-join) and the expanded term
    set is 7 rows (broadcast) — the expensive thing is two corpus scans,
    which is the algorithm, not the plan."""
    docs = load_docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(tokens_col("text")).alias("term")
    ).select("doc_id", F.lower("term").alias("term"))
    dl = docs.select(
        "doc_id", F.size(tokens_col("text")).cast("double").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    qt = [t.lower() for t in BM25_QUERY]
    q0 = spark.createDataFrame([(t,) for t in qt], "term string")
    base = _bm25_score_joined(toks, dl, stats, q0)
    top5 = (
        base.orderBy(F.desc("score"), F.asc("doc_id")).limit(5).select("doc_id")
    )
    cand = (
        toks.join(F.broadcast(top5), "doc_id")
        .filter(~F.col("term").isin(*qt))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf5"))
    )
    dful = (
        toks.join(F.broadcast(cand.select("term")), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("dfd"))
    )
    nn = docs.agg(F.count(F.lit(1)).alias("n"))
    exp3 = (
        cand.join(dful, "term")
        .crossJoin(F.broadcast(nn))
        .withColumn(
            "escore",
            F.round(
                F.col("tf5")
                * F.log((F.col("n") + 1).cast("double") / (F.col("dfd") + 1)),
                6,
            ),
        )
        .orderBy(F.desc("escore"), F.asc("term"))
        .limit(3)
        .select("term")
    )
    qterms = q0.unionByName(exp3).localCheckpoint(eager=True)
    sc = _bm25_score_joined(toks, dl, stats, qterms)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        sc.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 10)
        .select("doc_id", "score", "rk")
    )


_SQL_NDCG = f"""
WITH {SQL_EMB}, {SQL_EXACT_TOPK.strip()}, {SQL_SEEDED_TOPK.strip()},
j AS (
  SELECT s.query_id, s.rn AS pos,
         CASE WHEN x.rn IS NULL THEN 0 ELSE 4 - x.rn END AS rel
  FROM seeded s LEFT JOIN exact x
    ON s.query_id = x.query_id AND s.neighbor_id = x.neighbor_id
),
dcg AS (
  SELECT query_id,
         CAST(sum(CAST(round((pow(2, rel) - 1) / (ln(CAST(pos + 1 AS DOUBLE)) / ln(2.0)), 6)
                       AS DECIMAL(38,6))) AS DOUBLE) AS dcg
  FROM j GROUP BY 1
),
idcg AS (
  SELECT query_id,
         CAST(sum(CAST(round((pow(2, 4 - rn) - 1) / (ln(CAST(rn + 1 AS DOUBLE)) / ln(2.0)), 6)
                       AS DECIMAL(38,6))) AS DOUBLE) AS idcg
  FROM exact GROUP BY 1
)
SELECT d.query_id, d.dcg, i.idcg, round(d.dcg / i.idcg, 6) AS ndcg
FROM dcg d JOIN idcg i USING (query_id)
"""


@_register_r3("q_ann_ndcg", _SQL_NDCG)
def q_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@3 of the seeded-IVF ANN ranking against the exact top-3 — the
    graded-relevance companion to recall@k (q_embedding_ann_recall):
    relevance of a returned neighbor is 4 - exact_rank (3/2/1, 0 if not in
    the true top-3), gain 2^rel - 1, discount log2(pos + 1). Each
    position's contribution is rounded to 6 dp and summed as DECIMAL, so
    dcg/idcg/ndcg hash-match across engines. A rank-aware metric catches
    what recall cannot: an ANN that finds all 3 true neighbors in reversed
    order scores recall 1.0 but ndcg < 1.

    Scale plan: both rankings are per-query top-3 frames (the query set is
    the broadcast side); the metric join is (query_id, neighbor_id)
    equi-join on k-sized inputs — metric cost is O(queries * k), nothing
    corpus-shaped."""
    from cliner_spark import similarity as _s
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    flt = F.col("vec_id") < 20
    exact = _s.brute_force_topk(emb, flt, k=3).localCheckpoint(eager=True)
    seeded = _s.ivf_seeded_topk(emb, flt, k=3, n_lists=16, n_probe=4)
    log2 = lambda c: F.log(c.cast("double")) / F.log(F.lit(2.0))  # noqa: E731
    j = seeded.alias("s").join(
        exact.select(
            F.col("query_id").alias("xq"),
            F.col("neighbor_id").alias("xn"),
            F.col("rn").alias("xrn"),
        ),
        (F.col("s.query_id") == F.col("xq")) & (F.col("s.neighbor_id") == F.col("xn")),
        "left",
    ).select(
        F.col("s.query_id").alias("query_id"),
        F.col("s.rn").alias("pos"),
        F.when(F.col("xrn").isNull(), 0).otherwise(4 - F.col("xrn")).alias("rel"),
    )
    contrib = F.round(
        (F.pow(F.lit(2.0), F.col("rel")) - 1) / log2(F.col("pos") + 1), 6
    ).cast("decimal(38,6)")
    dcg = j.groupBy("query_id").agg(
        F.sum(contrib).cast("double").alias("dcg")
    )
    icontrib = F.round(
        (F.pow(F.lit(2.0), 4 - F.col("rn")) - 1) / log2(F.col("rn") + 1), 6
    ).cast("decimal(38,6)")
    idcg = exact.groupBy("query_id").agg(
        F.sum(icontrib).cast("double").alias("idcg")
    )
    return dcg.join(idcg, "query_id").select(
        "query_id",
        "dcg",
        "idcg",
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )


_SQL_CALIB = f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM docs
       WHERE len(toks) > 0),
du AS (SELECT d.doc_id, CAST(count(DISTINCT lower(t.tok)) AS BIGINT) AS n_uniq
       FROM docs d, unnest(d.toks) AS t(tok) GROUP BY 1),
pred AS (SELECT dl.doc_id, (1000 * du.n_uniq) // dl.n_toks AS pred_milli
         FROM dl JOIN du USING (doc_id)),
lab AS (SELECT DISTINCT doc_id FROM linked),
b AS (SELECT least(p.pred_milli // 100, 9) AS bin, p.pred_milli,
             CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END AS pos
      FROM pred p LEFT JOIN lab l USING (doc_id))
SELECT CAST(bin AS INTEGER) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(pred_milli) AS BIGINT) AS sum_pred_milli,
       CAST(abs(sum(pred_milli) - 1000 * sum(pos)) AS BIGINT) AS gap_num,
       round(CAST(sum(pred_milli) AS DOUBLE) / (1000 * count(*)), 6) AS mean_pred,
       round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS frac_pos,
       round(CAST(abs(sum(pred_milli) - 1000 * sum(pos)) AS DOUBLE)
             / (1000 * count(*)), 6) AS gap
FROM b GROUP BY 1
"""


@_register_r3("q_calibration_bins", _SQL_CALIB)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram calibration bins for a deterministic quality
    classifier: predicted score = lexical-diversity ratio in exact milli
    units ((1000 * distinct_tokens) div n_tokens — integer division, no
    float anywhere in the score), gold label = the document carries at
    least one gazetteer-linked mention. Ten decile bins (milli div 100,
    top edge clamped into bin 9); per bin the count, positives, the EXACT
    calibration-gap numerator |sum_pred_milli - 1000*n_pos| as BIGINT
    (mean_pred - frac_pos over a common denominator 1000*n), and the three
    rounded ratios. This is the audit a pipeline runs before trusting a
    quality filter's scores as probabilities — the per-bin gap IS the ECE
    integrand. Everything the hash touches is integer algebra; the three
    DOUBLE columns are single rounded divisions of those integers.

    Scale plan: two partial-aggregated groupBys over the corpus (length +
    distinct-token count), a broadcast-sized label set joined on doc_id,
    and a 10-row final aggregate - no windows, no all-pairs."""
    from cliner_spark.entry_queries import _doc_linked

    docs = load_docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(tokens_col("text")).alias("tok")
    ).select("doc_id", F.lower("tok").alias("tok"))
    dl = docs.filter(F.size(tokens_col("text")) > 0).select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("n_toks")
    )
    du = toks.groupBy("doc_id").agg(
        F.countDistinct("tok").alias("n_uniq")
    )
    pred = dl.join(du, "doc_id").select(
        "doc_id", F.expr("(1000 * n_uniq) div n_toks").alias("pred_milli")
    )
    lab = (
        _doc_linked(spark, sf_dir)
        .select(F.col("conv_id").alias("doc_id"))
        .distinct()
        .withColumn("pos", F.lit(1))
    )
    b = pred.join(F.broadcast(lab), "doc_id", "left").select(
        F.least(F.expr("pred_milli div 100"), F.lit(9)).cast("int").alias("bin"),
        "pred_milli",
        F.coalesce(F.col("pos"), F.lit(0)).alias("pos"),
    )
    n, npos, spm = F.count(F.lit(1)), F.sum("pos"), F.sum("pred_milli")
    gap_num = F.abs(spm - 1000 * npos)
    return b.groupBy("bin").agg(
        n.cast("long").alias("n"),
        npos.cast("long").alias("n_pos"),
        spm.cast("long").alias("sum_pred_milli"),
        gap_num.cast("long").alias("gap_num"),
        F.round(spm.cast("double") / (1000 * n), 6).alias("mean_pred"),
        F.round(npos.cast("double") / n, 6).alias("frac_pos"),
        F.round(gap_num.cast("double") / (1000 * n), 6).alias("gap"),
    )


_SQL_LEADLAG = """
WITH ev AS (SELECT epoch_ms(ts) // 3600000 AS h, event_type FROM events
            WHERE event_type IN ('click', 'purchase')),
bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
grid AS (SELECT unnest(generate_series(h0, h1)) AS h FROM bounds),
c AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM ev
      WHERE event_type = 'click' GROUP BY 1),
p AS (SELECT h, CAST(count(*) AS BIGINT) AS p FROM ev
      WHERE event_type = 'purchase' GROUP BY 1),
s AS (SELECT g.h, coalesce(c.c, 0) AS c, coalesce(p.p, 0) AS p
      FROM grid g LEFT JOIN c USING (h) LEFT JOIN p USING (h)),
lags AS (SELECT unnest([0, 1, 2, 3]) AS lag),
m AS (SELECT l.lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a.c) AS BIGINT) AS sx, CAST(sum(b.p) AS BIGINT) AS sy,
             CAST(sum(a.c * b.p) AS BIGINT) AS sxy,
             CAST(sum(a.c * a.c) AS BIGINT) AS sxx,
             CAST(sum(b.p * b.p) AS BIGINT) AS syy
      FROM lags l CROSS JOIN s a JOIN s b ON b.h = a.h + l.lag
      GROUP BY 1)
SELECT CAST(lag AS INTEGER) AS lag, n, sx, sy, sxy, sxx, syy,
       CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
       CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
            THEN round((n * sxy - sx * sy)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * (n * syy - sy * sy)), 6) END AS xcorr
FROM m
"""


@_register_r3("q_leadlag_xcorr", _SQL_LEADLAG)
def q_leadlag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the hourly click series and the
    hourly purchase series at lags 0..3 — does click volume this hour
    predict purchase volume L hours later? Both series are zero-filled
    over the dense hour grid (a missing hour is a 0 observation, not an
    absent row — dropping it would bias every moment), and all five
    cross-moments (n, sx, sy, sxy, sxx, syy) are EXACT BIGINT sums of
    integer counts, as is the covariance numerator n*sxy - sx*sy; only the
    final Pearson ratio touches floats, one rounded division by one sqrt,
    guarded against zero-variance series. This is the campaign-attribution
    / leading-indicator scan an events pipeline runs across metric pairs.

    Scale plan: the corpus-sized work is the two partial-aggregated
    hourly count groupBys; the grid is |hours| rows (tiny even at 100 TB —
    a decade is ~90k hours), the lag fan-out is a 4-row broadcast, and the
    shifted self-join keys on the hour grid, so everything after the first
    aggregation is dimension-sized."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 3600000000"
            ).alias("h"),
            "event_type",
        )
    )
    bounds = ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = bounds.select(F.explode(F.sequence("h0", "h1")).alias("h"))
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("h").agg(F.count(F.lit(1)).alias("p"))
    )
    s = (
        grid.join(c, "h", "left")
        .join(p, "h", "left")
        .select(
            "h",
            F.coalesce("c", F.lit(0)).alias("c"),
            F.coalesce("p", F.lit(0)).alias("p"),
        )
        .localCheckpoint(eager=True)
    )
    lags = spark.range(4).select(F.col("id").cast("int").alias("lag"))
    a = s.crossJoin(F.broadcast(lags))
    b = s.select(
        F.col("h").alias("bh"), F.col("p").alias("bp")
    )
    m = (
        a.join(b, F.col("bh") == F.col("h") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("sx"),
            F.sum("bp").cast("long").alias("sy"),
            F.sum(F.col("c") * F.col("bp")).cast("long").alias("sxy"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("sxx"),
            F.sum(F.col("bp") * F.col("bp")).cast("long").alias("syy"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "lag", "n", "sx", "sy", "sxy", "sxx", "syy",
        num.cast("long").alias("cov_num"),
        F.when(
            denx * deny > 0,
            F.round(
                num / F.sqrt(denx.cast("double") * deny), 6
            ),
        ).alias("xcorr"),
    )


_SQL_KS = """
WITH lab AS (SELECT n_chars AS x,
                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' AS in_a
             FROM documents),
tot AS (SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        FROM lab),
per AS (SELECT x,
               CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt,
               CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b_cnt
        FROM lab GROUP BY 1),
cum AS (SELECT x, sum(a_cnt) OVER (ORDER BY x) AS ca,
               sum(b_cnt) OVER (ORDER BY x) AS cb
        FROM per)
SELECT c.x AS x_at_max,
       CAST(abs(c.ca * t.n_b - c.cb * t.n_a) AS BIGINT) AS ks_num,
       t.n_a, t.n_b,
       round(CAST(abs(c.ca * t.n_b - c.cb * t.n_a) AS DOUBLE)
             / (t.n_a * t.n_b), 6) AS ks
FROM cum c CROSS JOIN tot t
ORDER BY ks_num DESC, x_at_max ASC LIMIT 1
"""


@_register_r3("q_ks_drift", _SQL_KS)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov drift statistic between the
    document-length distributions of the two md5 corpus halves (the repo's
    reproducible split idiom, same as q_concept_drift): D = max_x
    |F_A(x) - F_B(x)|. Put both ECDFs over the common denominator n_a*n_b
    and the supremum becomes pure BIGINT algebra — max |c_a(x)*n_b -
    c_b(x)*n_a| over the distinct pooled values — so the reported argmax
    location and numerator are hash-exact; only the final ratio is one
    rounded division. KS is the standard distribution-level drift gate
    (vs q_concept_drift's per-item TVD) a pipeline runs when a new crawl
    slice arrives: it catches shape shifts (length inflation, truncation)
    that frequency TVD on ids cannot see. Ties between x values are
    resolved to the smallest x so the witness row is deterministic.

    Scale plan: one partial-aggregated groupBy collapses the corpus to
    |distinct lengths| rows (a few thousand even at 100 TB — lengths are
    bounded), and only that dimension-sized frame enters the ordered
    cumulative window; totals ride a 1-row broadcast cross join."""
    lab = load_docs(spark, sf_dir).select(
        F.col("n_chars").alias("x"),
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8")
        .alias("in_a"),
    )
    per = lab.groupBy("x").agg(
        F.sum(F.col("in_a").cast("long")).alias("a_cnt"),
        F.sum((~F.col("in_a")).cast("long")).alias("b_cnt"),
    ).localCheckpoint(eager=True)
    tot = per.agg(
        F.sum("a_cnt").alias("n_a"), F.sum("b_cnt").alias("n_b")
    )
    w = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "x",
        F.sum("a_cnt").over(w).alias("ca"),
        F.sum("b_cnt").over(w).alias("cb"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        F.col("x").alias("x_at_max"),
        F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
        .cast("long")
        .alias("ks_num"),
        "n_a",
        "n_b",
    )
    return (
        d.orderBy(F.desc("ks_num"), F.asc("x_at_max"))
        .limit(1)
        .select(
            "x_at_max",
            "ks_num",
            "n_a",
            "n_b",
            F.round(
                F.col("ks_num").cast("double") / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("ks"),
        )
    )


# --------------------------------------------------------------------------
# Round 3k: transcript structure + KG enrichment — role-transition matrix,
# topic-shift segmentation, per-conversation entity salience, KG-to-text
# verbalization pairs, corrupted-triple negative sampling
# --------------------------------------------------------------------------

_SQL_ROLETRANS = f"""
WITH {SQL_DOCS_TOKS}, {SQL_TXR.strip().rstrip(',')},
pairs AS (
  SELECT lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS from_role,
         role AS to_role
  FROM txr
),
cnt AS (SELECT from_role, to_role, CAST(count(*) AS BIGINT) AS n
        FROM pairs WHERE from_role IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT from_role, CAST(sum(n) AS BIGINT) AS row_total FROM cnt GROUP BY 1)
SELECT c.from_role, c.to_role, c.n, t.row_total,
       round(CAST(c.n AS DOUBLE) / t.row_total, 6) AS p
FROM cnt c JOIN tot t USING (from_role)
"""


@_register_r3("q_role_transition_matrix", _SQL_ROLETRANS)
def q_role_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-transition Markov matrix over the transcript turn sequence:
    counts and conditional probabilities of user/assistant/tool following
    each role (the structural fingerprint of an agent protocol — e.g. a
    healthy tool-use loop is assistant->tool->assistant; user->tool mass is
    a protocol violation, cf. q_role_alternation_audit which flags the
    individual offending rows). Counts and row totals are exact BIGINTs;
    the conditional probability is one rounded division per cell.

    Scale plan: one lag window per conversation partition (the shuffle key
    the whole repo uses), then a 9-cell aggregate joined to a 3-row
    marginal — everything after the window is constant-sized."""
    t = _txr(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = t.select(
        F.lag("role").over(w).alias("from_role"), F.col("role").alias("to_role")
    ).filter(F.col("from_role").isNotNull())
    cnt = pairs.groupBy("from_role", "to_role").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cnt.groupBy("from_role").agg(F.sum("n").cast("long").alias("row_total"))
    return cnt.join(F.broadcast(tot), "from_role").select(
        "from_role",
        "to_role",
        "n",
        "row_total",
        F.round(F.col("n").cast("double") / F.col("row_total"), 6).alias("p"),
    )


_SQL_SEGMENT = f"""
WITH {SQL_DOCS_TOKS}, {SQL_TXR.strip().rstrip(',')},
tk AS (SELECT DISTINCT t.conv_id, t.turn_idx, lower(u.tok) AS tok
       FROM txr t,
            unnest({sql_tokens("t.text")}) AS u(tok)),
sz AS (SELECT conv_id, turn_idx, CAST(count(*) AS BIGINT) AS u
       FROM tk GROUP BY 1, 2),
inter AS (SELECT a.conv_id, b.turn_idx,
                 CAST(count(*) AS BIGINT) AS inter
          FROM tk a JOIN tk b
            ON a.conv_id = b.conv_id AND b.turn_idx = a.turn_idx + 1
               AND a.tok = b.tok
          GROUP BY 1, 2),
adj AS (
  SELECT a.conv_id, b.turn_idx,
         coalesce(sa.u, 0) AS ua, coalesce(sb.u, 0) AS ub,
         coalesce(i.inter, 0) AS inter
  FROM txr a
  JOIN txr b ON a.conv_id = b.conv_id AND b.turn_idx = a.turn_idx + 1
  LEFT JOIN sz sa ON sa.conv_id = a.conv_id AND sa.turn_idx = a.turn_idx
  LEFT JOIN sz sb ON sb.conv_id = b.conv_id AND sb.turn_idx = b.turn_idx
  LEFT JOIN inter i ON i.conv_id = b.conv_id AND i.turn_idx = b.turn_idx
)
SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, ua, ub, inter,
       CAST(ua + ub - inter AS BIGINT) AS uni,
       CASE WHEN ua + ub - inter = 0 THEN FALSE
            ELSE 4 * inter < ua + ub - inter END AS is_boundary
FROM adj
"""


@_register_r3("q_turn_segmentation", _SQL_SEGMENT)
def q_turn_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-shift segmentation of each conversation: for every adjacent
    turn pair, the distinct-token Jaccard overlap in EXACT integer form
    (intersection, union via inclusion-exclusion) and a boundary flag where
    similarity < 1/4 — cross-multiplied as 4*inter < union so the threshold
    never touches a float (TextTiling's lexical-cohesion dip, reduced to
    its integer core). Segment boundaries drive chunking for RAG indexing
    and context-pack splits (q_context_pack packs within topical segments
    at scale). Empty-vs-empty adjacent turns count as cohesive (union 0 ->
    not a boundary), a rule applied identically on both engines.

    Scale plan: token rows shuffle once on conv_id; the intersection is an
    equi-join on (conv, tok) between consecutive turns of the SAME
    conversation partition, never cross-conversation; per-turn sizes and
    the adjacency spine are window-free equi-joins on the same key."""
    t = _txr(spark, sf_dir).localCheckpoint(eager=True)
    tk = t.select(
        "conv_id", "turn_idx", F.explode(tokens_col("text")).alias("tok")
    ).select("conv_id", "turn_idx", F.lower("tok").alias("tok")).distinct()
    sz = tk.groupBy("conv_id", "turn_idx").agg(
        F.count(F.lit(1)).cast("long").alias("u")
    )
    b_tk = tk.select(
        F.col("conv_id").alias("b_conv"),
        (F.col("turn_idx") - 1).alias("a_idx"),
        F.col("tok").alias("b_tok"),
        F.col("turn_idx").alias("b_idx"),
    )
    inter = (
        tk.join(
            b_tk,
            (F.col("conv_id") == F.col("b_conv"))
            & (F.col("turn_idx") == F.col("a_idx"))
            & (F.col("tok") == F.col("b_tok")),
        )
        .groupBy("conv_id", "b_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
        .select(F.col("conv_id"), F.col("b_idx").alias("turn_idx"), "inter")
    )
    spine = (
        t.select("conv_id", "turn_idx")
        .alias("a")
        .join(
            t.select("conv_id", "turn_idx").alias("b"),
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("b.turn_idx") == F.col("a.turn_idx") + 1),
        )
        .select(
            F.col("a.conv_id").alias("conv_id"),
            F.col("a.turn_idx").alias("a_idx"),
            F.col("b.turn_idx").alias("turn_idx"),
        )
    )
    sa = sz.select("conv_id", F.col("turn_idx").alias("a_idx"), F.col("u").alias("ua"))
    sb = sz.select("conv_id", "turn_idx", F.col("u").alias("ub"))
    adj = (
        spine.join(sa, ["conv_id", "a_idx"], "left")
        .join(sb, ["conv_id", "turn_idx"], "left")
        .join(inter, ["conv_id", "turn_idx"], "left")
        .select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.coalesce("ua", F.lit(0)).alias("ua"),
            F.coalesce("ub", F.lit(0)).alias("ub"),
            F.coalesce("inter", F.lit(0)).alias("inter"),
        )
    )
    uni = F.col("ua") + F.col("ub") - F.col("inter")
    return adj.select(
        "conv_id", "turn_idx", "ua", "ub", "inter",
        uni.cast("long").alias("uni"),
        F.when(uni == 0, F.lit(False)).otherwise(4 * F.col("inter") < uni)
        .alias("is_boundary"),
    )


_SQL_SALIENCE = f"""
{SQL_TR_CTE},
a AS (SELECT conv_id, subj, CAST(count(*) AS BIGINT) AS n_turns
      FROM tr WHERE pred = 'ASSERTED_IN' GROUP BY 1, 2),
nd AS (SELECT CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
       FROM tr WHERE pred = 'ASSERTED_IN'),
df AS (SELECT subj, CAST(count(DISTINCT conv_id) AS BIGINT) AS df
       FROM tr WHERE pred = 'ASSERTED_IN' GROUP BY 1),
s AS (SELECT a.conv_id, a.subj AS concept, a.n_turns, df.df,
             round(a.n_turns * ln(CAST(nd.n_convs AS DOUBLE) / df.df), 6)
               AS salience
      FROM a JOIN df USING (subj) CROSS JOIN nd)
SELECT conv_id, concept, n_turns, df, salience,
       CAST(rk AS INTEGER) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY conv_id
                                   ORDER BY salience DESC, concept ASC) AS rk
      FROM s)
WHERE rk <= 3
"""


@_register_r3("q_entity_salience", _SQL_SALIENCE)
def q_entity_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient entities per conversation: tf-idf transplanted to the
    KG — term frequency = turns in which the concept is asserted (from the
    materialized ASSERTED_IN triples), document frequency = conversations
    containing the concept, salience = n_turns * ln(N_convs/df) rounded
    once. The per-conversation entity index a KG serves to summarization /
    conversation-search consumers ("what is this conversation about"),
    complementing the global q_entity_card. Ties rank by concept id so the
    top-3 is deterministic.

    Scale plan: two partial-aggregated groupBys over the triples table
    (conv-grain counts, concept df), a broadcast-joined dimension-sized df
    table, a 1-row N carry, and a per-conversation top-3 window on the
    conv-partitioned frame — no global windows, no corpus self-joins."""
    from cliner_spark.queries_r2 import cached_triples

    tr = cached_triples(spark, sf_dir).filter(F.col("pred") == "ASSERTED_IN")
    a = tr.groupBy("conv_id", "subj").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns")
    )
    nd = tr.agg(F.countDistinct("conv_id").alias("n_convs"))
    df = tr.groupBy("subj").agg(F.countDistinct("conv_id").alias("df"))
    s = (
        a.join(F.broadcast(df), "subj")
        .crossJoin(F.broadcast(nd))
        .select(
            "conv_id",
            F.col("subj").alias("concept"),
            "n_turns",
            "df",
            F.round(
                F.col("n_turns")
                * F.log(F.col("n_convs").cast("double") / F.col("df")),
                6,
            ).alias("salience"),
        )
    )
    w = Window.partitionBy("conv_id").orderBy(
        F.desc("salience"), F.asc("concept")
    )
    return (
        s.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
    )


_SQL_KG2TEXT = f"""
{SQL_TR_CTE},
facts AS (SELECT conv_id, obj || ' (turn ' || CAST(turn_idx AS VARCHAR) || ')'
                   AS fact
          FROM tr WHERE pred = 'MENTIONS'),
r AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_facts,
             'Conversation ' || conv_id || ' mentions '
               || CAST(count(*) AS VARCHAR) || ' concepts: '
               || string_agg(fact, '; ' ORDER BY fact) || '.' AS text
      FROM facts GROUP BY 1)
SELECT conv_id, n_facts, text, md5(text) AS text_md5 FROM r
"""


@_register_r3("q_kg2text", _SQL_KG2TEXT)
def q_kg2text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG-to-text verbalization pairs: render each conversation's MENTIONS
    facts into one deterministic natural-language sentence ('Conversation 7
    mentions 3 concepts: concept:CD001 (turn 2); ...') — the (graph, text)
    training-pair generator for KG-grounded LLM fine-tuning (WebNLG-style),
    built the same way q_chat_render proves byte-identical renders: facts
    are sorted lexicographically before joining so the string is
    order-independent, and the md5 column makes byte equality part of the
    hash check on both engines.

    Scale plan: one groupBy on conv_id (the table's partition key — the
    sort_array/string_agg runs inside the partition-local aggregate); the
    render is pure string concat, no Python."""
    from cliner_spark.queries_r2 import cached_triples

    tr = cached_triples(spark, sf_dir).filter(F.col("pred") == "MENTIONS")
    facts = tr.select(
        "conv_id",
        F.concat(
            F.col("obj"), F.lit(" (turn "),
            F.col("turn_idx").cast("string"), F.lit(")"),
        ).alias("fact"),
    )
    r = facts.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_facts"),
        F.concat(
            F.lit("Conversation "), F.col("conv_id"), F.lit(" mentions "),
            F.count(F.lit(1)).cast("string"), F.lit(" concepts: "),
            F.array_join(F.array_sort(F.collect_list("fact")), "; "),
            F.lit("."),
        ).alias("text"),
    )
    return r.select("conv_id", "n_facts", "text", F.md5("text").alias("text_md5"))


_SQL_KG_NEG = f"""
{SQL_TR_CTE},
pos AS (SELECT conv_id, obj FROM tr WHERE pred = 'MENTIONS'),
vocab AS (SELECT obj, CAST(row_number() OVER (ORDER BY obj) - 1 AS BIGINT) AS idx
          FROM (SELECT DISTINCT obj FROM pos)),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vocab),
att AS (SELECT p.conv_id, p.obj AS pos_obj, CAST(k.k AS INTEGER) AS attempt,
               CAST(('0x' || substr(md5(p.conv_id || '#' || p.obj || '#'
                                        || CAST(k.k AS VARCHAR)), 1, 13))
                    AS BIGINT) % nc.n AS h
        FROM pos p CROSS JOIN nc, unnest([1, 2, 3, 4]) AS k(k)),
negcand AS (SELECT a.conv_id, a.pos_obj, a.attempt, v.obj AS neg_obj
         FROM att a JOIN vocab v ON v.idx = a.h),
negvalid AS (SELECT c.conv_id, c.pos_obj, c.attempt, c.neg_obj
          FROM negcand c LEFT JOIN pos t
            ON t.conv_id = c.conv_id AND t.obj = c.neg_obj
          WHERE c.neg_obj <> c.pos_obj AND t.obj IS NULL)
SELECT conv_id, pos_obj, neg_obj, attempt
FROM negvalid
QUALIFY row_number() OVER (PARTITION BY conv_id, pos_obj ORDER BY attempt) = 1
"""


@_register_r3("q_kg_negative_samples", _SQL_KG_NEG)
def q_kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupted-triple negative sampling for KG-embedding training
    (TransE/DistMult-style): for every positive (conv, MENTIONS, concept),
    deterministically corrupt the object by hashing (conv, concept,
    attempt) into a dense entity-vocabulary index — md5 rejection sampling,
    up to 4 attempts — and keep the FIRST candidate that is neither the
    positive itself nor any true triple of that conversation (the leakage
    filter: a 'negative' that is actually true teaches the model lies).
    Deterministic both engines: the same hash idiom as q_hash_classifier /
    q_epoch_shuffle, so the sampled negatives are reproducible artifacts,
    not RNG. Upgrades q_kg_negatives (round 1): that variant avoids only
    the positive itself via a next-index fallback; this one rejects ANY
    true triple of the conversation (the filtered-corruption setting of
    Bordes et al. 2013 — unfiltered negatives systematically mislabel
    valid facts) and reads the materialized KG artifact instead of
    re-deriving mentions.

    Scale plan: the vocabulary is dimension-sized (its row_number window
    runs on a broadcast-scale frame) and joins back by index as a
    broadcast; attempts are a constant 4x fan-out of the positives; the
    leakage filter is an equi-join on (conv_id, obj) — the table's
    partition key — so rejection sampling never leaves the partition."""
    from cliner_spark.queries_r2 import cached_triples

    pos = (
        cached_triples(spark, sf_dir)
        .filter(F.col("pred") == "MENTIONS")
        .select("conv_id", "obj")
        .localCheckpoint(eager=True)
    )
    vocab = pos.select("obj").distinct()
    vocab = vocab.select(
        "obj",
        (F.row_number().over(Window.orderBy("obj")) - 1)
        .cast("long")
        .alias("idx"),
    )
    nc = vocab.agg(F.count(F.lit(1)).cast("long").alias("n"))
    att = (
        pos.select("conv_id", F.col("obj").alias("pos_obj"))
        .crossJoin(F.broadcast(nc))
        .select(
            "conv_id",
            "pos_obj",
            F.explode(F.array(*[F.lit(k) for k in (1, 2, 3, 4)])).alias(
                "attempt"
            ),
            "n",
        )
        .select(
            "conv_id",
            "pos_obj",
            F.col("attempt").cast("int").alias("attempt"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "#",
                                "conv_id",
                                "pos_obj",
                                F.col("attempt").cast("string"),
                            )
                        ),
                        1,
                        13,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("n")
            ).alias("h"),
        )
    )
    cand = att.join(
        F.broadcast(vocab.select(F.col("idx"), F.col("obj").alias("neg_obj"))),
        att.h == F.col("idx"),
    )
    tp = pos.select("conv_id", F.col("obj").alias("neg_obj"), F.lit(1).alias("is_true"))
    valid = (
        cand.join(tp, ["conv_id", "neg_obj"], "left")
        .filter(
            (F.col("neg_obj") != F.col("pos_obj")) & F.col("is_true").isNull()
        )
        .select("conv_id", "pos_obj", "neg_obj", "attempt")
    )
    w = Window.partitionBy("conv_id", "pos_obj").orderBy("attempt")
    return (
        valid.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("conv_id", "pos_obj", "neg_obj", "attempt")
    )


# --------------------------------------------------------------------------
# Round 3l: lang-id confusion audit, bipartite parity audit, shortest-path
# counting (Brandes sigma DP), instruction-pair mining
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import _LANG_SQL_EXPRS  # noqa: E402

_SQL_LANG_CONF = f"""
WITH h AS (
  SELECT lang AS declared,
{_LANG_SQL_EXPRS}
  FROM documents
),
p AS (
  SELECT declared,
         CASE WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
              WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
              WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
              WHEN h_de = greatest(h_en, h_es, h_de, h_fr) THEN 'de'
              ELSE 'fr' END AS predicted
  FROM h
),
cnt AS (SELECT declared, predicted, CAST(count(*) AS BIGINT) AS n
        FROM p GROUP BY 1, 2),
tot AS (SELECT declared, CAST(sum(n) AS BIGINT) AS row_total FROM cnt GROUP BY 1)
SELECT c.declared, c.predicted, c.n, t.row_total,
       round(CAST(c.n AS DOUBLE) / t.row_total, 6) AS share
FROM cnt c JOIN tot t USING (declared)
"""


@_register_r3("q_langid_confusion", _SQL_LANG_CONF)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language-ID heuristic
    (textstats.language_id, the q_lang_id detector) against the corpus'
    DECLARED lang column — the audit that decides whether a cheap detector
    can replace metadata at ingest, and which declared languages it
    misroutes (zh has no latin-script stopwords here, so its row shows
    exactly where such text lands). Counts and row totals exact; the
    per-cell share is one rounded division.

    Scale plan: the detector is a constant number of JVM contains() probes
    per row inside the scan, then a <=25-cell aggregate and a 5-row
    marginal join — nothing above dimension size after the scan."""
    from cliner_spark import textstats as _ts

    p = load(spark, sf_dir, "documents").select(
        F.col("lang").alias("declared"),
        _ts.language_id(F.col("text")).alias("predicted"),
    )
    cnt = p.groupBy("declared", "predicted").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cnt.groupBy("declared").agg(F.sum("n").cast("long").alias("row_total"))
    return cnt.join(F.broadcast(tot), "declared").select(
        "declared",
        "predicted",
        "n",
        "row_total",
        F.round(F.col("n").cast("double") / F.col("row_total"), 6).alias("share"),
    )


_SQL_ODD_CYCLE = f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}, {SQL_DOC_CUI.strip()},
e AS (SELECT src, dst FROM coedges UNION SELECT dst, src FROM coedges),
bfs(node, hops) AS (
  SELECT 'CD001', 0
  UNION
  SELECT e.dst, bfs.hops + 1 FROM bfs JOIN e ON e.src = bfs.node
  WHERE bfs.hops < 10
),
d AS (SELECT node, CAST(min(hops) AS INTEGER) AS hops FROM bfs GROUP BY node)
SELECT c.src, c.dst, da.hops AS src_hops, db.hops AS dst_hops,
       (da.hops + db.hops) % 2 = 0 AS odd_edge
FROM (SELECT DISTINCT src, dst FROM coedges) c
JOIN d da ON da.node = c.src
JOIN d db ON db.node = c.dst
"""


@_register_r3("q_odd_cycle_audit", _SQL_ODD_CYCLE)
def q_odd_cycle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartiteness / odd-cycle audit of the concept co-occurrence graph:
    2-color every node in CD001's component by BFS-distance parity, then
    flag the edges joining two same-parity nodes — each such edge closes an
    odd cycle, and their absence proves the component bipartite. The check
    a KG schema layer runs before assuming a relation is two-sided
    (e.g. drug-vs-condition layers): ANY odd edge means the 'two kinds of
    node' assumption is broken. Pure integer parity on exact BFS hops.

    Scale plan: one exhaustion BFS (frontier supersteps, node-sized
    broadcast frontiers) plus a single edges-x-distances equi-join;
    distances are node-sized and broadcast."""
    from cliner_spark.entry_queries import _doc_linked
    from cliner_spark.graph import bfs_distances

    d = _doc_linked(spark, sf_dir).select("conv_id", "cui").distinct()
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("a.cui") < F.col("b.cui")),
        )
        .select(F.col("a.cui").alias("src"), F.col("b.cui").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = bfs_distances(pairs, "CD001", max_hops=10).select(
        "node", F.col("hops").cast("int").alias("hops")
    )
    da = dist.select(F.col("node").alias("src"), F.col("hops").alias("src_hops"))
    db = dist.select(F.col("node").alias("dst"), F.col("hops").alias("dst_hops"))
    return (
        pairs.join(F.broadcast(da), "src")
        .join(F.broadcast(db), "dst")
        .select(
            "src", "dst", "src_hops", "dst_hops",
            ((F.col("src_hops") + F.col("dst_hops")) % 2 == 0).alias("odd_edge"),
        )
    )


_SQL_PATH_COUNTS = f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}, {SQL_DOC_CUI.strip()},
e AS (SELECT src, dst FROM coedges UNION ALL SELECT dst, src FROM coedges),
walk(node, hops, path) AS (
  SELECT 'CD001', 0, 'CD001'
  UNION
  SELECT e.dst, w.hops + 1, w.path || '>' || e.dst
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.hops < 4
    AND position('>' || e.dst || '>' IN '>' || w.path || '>') = 0
),
d AS (SELECT node, min(hops) AS hops FROM walk GROUP BY node)
SELECT d.node, CAST(d.hops AS INTEGER) AS hops,
       CAST(count(*) AS BIGINT) AS sigma
FROM d JOIN walk w ON w.node = d.node AND w.hops = d.hops
GROUP BY 1, 2
"""


@_register_r3("q_sssp_path_counts", _SQL_PATH_COUNTS)
def q_sssp_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path COUNTING from concept CD001 (graph.bfs_path_counts):
    per reachable node, the hop distance and the exact number of distinct
    shortest paths — the sigma DP that is the forward pass of Brandes'
    betweenness-centrality algorithm, and on its own the standard
    'relation strength' signal (many independent shortest routes = robust
    relatedness, one bottleneck route = fragile). All-integer level-
    synchronous DP: a new node's sigma is the sum of its frontier
    in-neighbors' sigmas. The oracle enumerates simple paths (hop-bounded,
    like q_kg_path_explain) and counts them at min hops — shortest paths
    are always simple, so the two definitions agree exactly.

    Scale plan: identical superstep shape to q_kg_bfs (frontier-x-edges
    join, broadcast node-sized frontier); the sigma sum rides the existing
    per-superstep aggregation — counting is free on top of BFS."""
    from cliner_spark.entry_queries import _doc_linked
    from cliner_spark.graph import bfs_path_counts

    d = _doc_linked(spark, sf_dir).select("conv_id", "cui").distinct()
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("a.cui") < F.col("b.cui")),
        )
        .select(F.col("a.cui").alias("src"), F.col("b.cui").alias("dst"))
        .distinct()
    )
    return bfs_path_counts(pairs, "CD001", max_hops=4).select(
        "node", F.col("hops").cast("int").alias("hops"), "sigma"
    )


_SQL_INSTR_PAIRS = f"""
WITH {SQL_DOCS_TOKS}, {SQL_TXR.strip()},
nxt AS (
  SELECT conv_id, turn_idx, role, n_toks,
         lead(role) OVER w AS next_role,
         lead(turn_idx) OVER w AS next_idx,
         lead(n_toks) OVER w AS next_toks
  FROM txr
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id,
       CAST(turn_idx AS INTEGER) AS prompt_turn_idx,
       CAST(next_idx AS INTEGER) AS response_turn_idx,
       n_toks AS prompt_toks, next_toks AS response_toks,
       CAST(n_toks + next_toks AS BIGINT) AS pair_toks,
       n_toks + next_toks <= 256 AS fits_budget
FROM nxt WHERE role = 'user' AND next_role = 'assistant'
"""


@_register_r3("q_instruction_pairs", _SQL_INSTR_PAIRS)
def q_instruction_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-pair mining — the most basic SFT extraction there is:
    every (user turn, immediately-following assistant turn) adjacency
    becomes a (prompt, response) candidate, with exact token accounting
    and a 256-token context-fit flag (the budget q_seq_packing packs
    against downstream). Pairs broken by an intervening tool turn are NOT
    mined (the adjacency must be strict — a tool result between user and
    assistant changes what conditioned the response; q_context_pack is the
    operator that widens the context window deliberately).

    Scale plan: one lead() window per conversation partition — the same
    single shuffle every transcript operator here rides; no joins."""
    t = _txr(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = t.select(
        "conv_id",
        "turn_idx",
        "role",
        "n_toks",
        F.lead("role").over(w).alias("next_role"),
        F.lead("turn_idx").over(w).alias("next_idx"),
        F.lead("n_toks").over(w).alias("next_toks"),
    )
    return nxt.filter(
        (F.col("role") == "user") & (F.col("next_role") == "assistant")
    ).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("prompt_turn_idx"),
        F.col("next_idx").cast("int").alias("response_turn_idx"),
        F.col("n_toks").alias("prompt_toks"),
        F.col("next_toks").alias("response_toks"),
        (F.col("n_toks") + F.col("next_toks")).cast("long").alias("pair_toks"),
        (F.col("n_toks") + F.col("next_toks") <= 256).alias("fits_budget"),
    )


# --------------------------------------------------------------------------
# Round 3m (batch 10): privacy audit, typo-robust candidate generation,
# asymmetric containment detection, pairwise-preference aggregation
# --------------------------------------------------------------------------

_K_ANON_SQL = """
SELECT lang, source, CAST(n_chars // 64 AS BIGINT) AS len_band,
       COUNT(*) AS k,
       COUNT(DISTINCT doc_id % 5) AS l_div,
       COUNT(*) < 5 AS at_risk
FROM documents
GROUP BY 1, 2, 3
"""


@_register_r3("q_k_anonymity", _K_ANON_SQL)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over the corpus' quasi-identifiers —
    the privacy gate a training-data release pipeline runs before shipping:
    every (lang, source, length-band) equivalence class is reported with
    its size k (how many records are indistinguishable on the QI tuple),
    the number of distinct sensitive values it carries (l-diversity; the
    synthetic sensitive attribute is the deterministic cohort doc_id % 5),
    and an at_risk flag for classes below the k=5 re-identification
    threshold. Exact integers only.

    Scale plan: one map-side-combined groupBy on low-cardinality keys —
    the same shape as any rollup; no joins, no windows. At 100 TB the QI
    projection prunes to three narrow columns at the parquet scan
    (ReadSchema), and the aggregate output is dimension-sized (|langs| x
    |sources| x |bands|), so the audit costs one corpus scan."""
    docs = load_docs(spark, sf_dir)
    return (
        docs.groupBy(
            "lang",
            "source",
            (F.col("n_chars") - F.col("n_chars") % 64)
            .cast("bigint")
            .alias("len_band_raw"),
        )
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.countDistinct(F.col("doc_id") % 5).alias("l_div"),
        )
        .select(
            "lang",
            "source",
            (F.col("len_band_raw") / 64).cast("bigint").alias("len_band"),
            "k",
            "l_div",
            (F.col("k") < 5).alias("at_risk"),
        )
    )


_SPELL_SQL = f"""
WITH docs AS (
  SELECT doc_id,
         {sql_tokens()} AS toks
  FROM documents
),
q0 AS (
  SELECT doc_id,
         lower(toks[CAST(doc_id % len(toks) AS INT) + 1]) AS w
  FROM docs WHERE len(toks) > 0
),
q1 AS (
  SELECT doc_id, w, CAST(doc_id % length(w) AS INT) + 1 AS pos
  FROM q0 WHERE length(w) >= 3
),
qt AS (
  SELECT substring(w, 1, pos - 1) || substring(w, pos + 1) AS qterm,
         COUNT(DISTINCT doc_id) AS n_docs
  FROM q1 GROUP BY 1
),
vocab AS (
  SELECT DISTINCT lower(t.tok) AS w
  FROM docs d, unnest(d.toks) AS t(tok)
  WHERE length(t.tok) >= 3
),
qv AS (
  SELECT DISTINCT qterm, variant FROM (
    SELECT qterm,
           unnest(list_prepend(qterm,
             list_transform(generate_series(1, length(qterm)),
               i -> substring(qterm, 1, i - 1) || substring(qterm, i + 1)))
           ) AS variant
    FROM qt)
),
vv AS (
  SELECT DISTINCT w, variant FROM (
    SELECT w,
           unnest(list_prepend(w,
             list_transform(generate_series(1, length(w)),
               i -> substring(w, 1, i - 1) || substring(w, i + 1)))
           ) AS variant
    FROM vocab)
),
cand AS (SELECT DISTINCT q.qterm, v.w FROM qv q JOIN vv v USING (variant))
SELECT c.qterm, c.w AS match_term,
       CAST(levenshtein(c.qterm, c.w) AS INT) AS dist, t.n_docs
FROM cand c JOIN qt t USING (qterm)
WHERE levenshtein(c.qterm, c.w) <= 1
"""


def _del_variants(col: str) -> "F.Column":
    """self + all single-character-deletion variants of a string column."""
    return F.expr(
        f"array_union(array({col}), transform(sequence(1, length({col})),"
        f" i -> concat(substring({col}, 1, i - 1), substring({col}, i + 1))))"
    )


@_register_r3("q_spell_candidates", _SPELL_SQL)
def q_spell_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-robust match-candidate generation via FastSS deletion
    neighborhoods (Bocek et al. 2007) — the exact, index-based alternative
    to a quadratic edit-distance join, used for query normalization and
    typo-tolerant gazetteer linking. A deterministic 'query log' of
    corrupted terms is derived in-plan (token at doc_id % |toks|, one
    character deleted at doc_id % len — the standard synthetic-derivation
    idiom this suite uses for roles/conversations). Both the query terms
    and the corpus vocabulary expand to their depth-1 deletion
    neighborhoods U1(s) = {s} + single-deletions(s); the FastSS theorem
    guarantees lev(a,b) <= 1 implies U1(a) and U1(b) intersect, so the
    equi-join on variants is a COMPLETE candidate generator for distance
    <= 1, and each candidate is then verified with the built-in
    levenshtein (both engines implement the identical unit-cost DP).

    Scale plan: the neighborhood explode is linear in term length (L+1
    variants per term), the join is a hash equi-join on short strings, and
    the final levenshtein runs only on candidates — never all pairs. The
    vocab side is dimension-sized and broadcastable; the query side
    aggregates to distinct terms (map-side combine) before exploding."""
    docs = load_docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", tokens_col("text").alias("toks")
    ).filter(F.size("toks") > 0)
    q0 = toks.select(
        "doc_id",
        F.lower(
            F.element_at("toks", (F.col("doc_id") % F.size("toks")).cast("int") + 1)
        ).alias("w"),
    ).filter(F.length("w") >= 3)
    q1 = q0.withColumn("pos", (F.col("doc_id") % F.length("w")).cast("int") + 1)
    qt = (
        q1.select(
            "doc_id",
            F.expr(
                "concat(substring(w, 1, pos - 1), substring(w, pos + 1))"
            ).alias("qterm"),
        )
        .groupBy("qterm")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    vocab = (
        toks.select(F.explode("toks").alias("tok"))
        .select(F.lower("tok").alias("w"))
        .filter(F.length("w") >= 3)
        .distinct()
    )
    qv = qt.select(
        "qterm", F.explode(_del_variants("qterm")).alias("variant")
    ).distinct()
    vv = vocab.select(
        "w", F.explode(_del_variants("w")).alias("variant")
    ).distinct()
    cand = qv.join(F.broadcast(vv), "variant").select("qterm", "w").distinct()
    return (
        cand.filter(F.levenshtein("qterm", "w") <= 1)
        .join(qt, "qterm")
        .select(
            "qterm",
            F.col("w").alias("match_term"),
            F.levenshtein("qterm", "w").cast("int").alias("dist"),
            "n_docs",
        )
    )


_CONTAIN_SQL = f"""
WITH docs AS (
  SELECT doc_id,
         {sql_tokens()} AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         lower(array_to_string(toks[i + 1 : i + 4], ' ')) AS shingle
  FROM docs, unnest(range(len(toks) - 3)) AS t(i)
  WHERE len(toks) >= 4
),
keep AS (SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(DISTINCT doc_id) <= 50),
shk AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shk GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_in, b.doc_id AS doc_out, COUNT(*) AS common
  FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT c.doc_in, c.doc_out, c.common,
       sa.sz AS size_in, sb.sz AS size_out
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_in
JOIN sizes sb ON sb.doc_id = c.doc_out
WHERE 4 * c.common >= 3 * sa.sz
"""


@_register_r3("q_containment_pairs", _CONTAIN_SQL)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs (quote / excerpt detection):
    ordered pairs (doc_in, doc_out) where >= 75% of doc_in's distinct
    4-gram shingles also occur in doc_out — the signal Jaccard near-dup
    misses by construction (a short quote inside a long document has tiny
    Jaccard but containment ~1). The 75% threshold is applied as the exact
    cross-multiplication 4*common >= 3*size_in, so no floats ever enter
    the predicate. Shares q_jaccard_pairs' df-cut contract: shingles in
    more than 50 documents are dropped from the index AND from the sizes,
    so both numerator and denominator live in the same filtered universe.

    Scale plan: identical shape to the inverted-index Jaccard join — the
    candidate generator is the shingle equi-join (never all pairs), the
    df-cut bounds the per-shingle fanout, and at 100 TB the exact-dedup-
    first cascade (BENCH.md duplication-stress study) plus lsh bucket_cut
    bound the hot keys. Containment is directional, so both orders of a
    mutual near-dup pair appear — consumers keep the direction they need
    (small-into-large for quote mining)."""
    from cliner_spark.dedup import DEFAULT_DF_CUT, shingles

    docs = load_docs(spark, sf_dir)
    sh = shingles(docs, 4)
    keep = (
        sh.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= DEFAULT_DF_CUT)
        .select("shingle")
    )
    shk = sh.join(keep, "shingle", "left_semi")
    sizes = shk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = shk.alias("a"), shk.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_in"), F.col("b.doc_id").alias("doc_out")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(
            sizes.withColumnRenamed("doc_id", "doc_in").withColumnRenamed(
                "sz", "size_in"
            ),
            "doc_in",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_out").withColumnRenamed(
                "sz", "size_out"
            ),
            "doc_out",
        )
        .filter(4 * F.col("common") >= 3 * F.col("size_in"))
        .select("doc_in", "doc_out", "common", "size_in", "size_out")
    )


_COPELAND_SQL = f"""
WITH d AS (
  SELECT doc_id, CAST(doc_id % 8 AS INT) AS player,
         len(list_distinct({sql_tokens()})) AS score
  FROM documents
),
m AS (
  SELECT LEAST(a.player, b.player) AS p, GREATEST(a.player, b.player) AS q,
         CASE WHEN a.player < b.player THEN a.score ELSE b.score END AS sp,
         CASE WHEN a.player < b.player THEN b.score ELSE a.score END AS sq
  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
  WHERE a.player <> b.player
),
tally AS (
  SELECT p, q,
         SUM(CASE WHEN sp > sq THEN 1 ELSE 0 END) AS wins_p,
         SUM(CASE WHEN sq > sp THEN 1 ELSE 0 END) AS wins_q
  FROM m GROUP BY 1, 2
),
sides AS (
  SELECT p AS player,
         CASE WHEN wins_p > wins_q THEN 1 ELSE 0 END AS beat,
         CASE WHEN wins_p < wins_q THEN 1 ELSE 0 END AS lost,
         CASE WHEN wins_p = wins_q THEN 1 ELSE 0 END AS tie
  FROM tally
  UNION ALL
  SELECT q AS player,
         CASE WHEN wins_q > wins_p THEN 1 ELSE 0 END,
         CASE WHEN wins_q < wins_p THEN 1 ELSE 0 END,
         CASE WHEN wins_p = wins_q THEN 1 ELSE 0 END
  FROM tally
)
SELECT player, COUNT(*) AS n_opponents,
       CAST(SUM(beat) AS BIGINT) AS beats, CAST(SUM(lost) AS BIGINT) AS losses,
       CAST(SUM(tie) AS BIGINT) AS ties,
       CAST(SUM(beat) - SUM(lost) AS BIGINT) AS copeland
FROM sides GROUP BY 1
"""


@_register_r3("q_copeland_rank", _COPELAND_SQL)
def q_copeland_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copeland pairwise-preference aggregation — the arena-style
    leaderboard over model-variant duels that RLHF / eval pipelines
    aggregate human preferences with (Copeland's method: rank by
    #opponents you beat on majority-of-matches minus #opponents who beat
    you; unlike Elo it is order-independent and exactly computable, so it
    hash-checks). Duels are derived deterministically: consecutive doc_ids
    are a match between players doc_id % 8, won by the doc with the larger
    distinct-token count (exact integer comparison; equal counts are a
    drawn match and majority ties a drawn pair).

    Scale plan: the duel join is a self-join on doc_id+1 — at 100 TB this
    is a window lead() over the ingest order, shown here as the equi-join
    twin so the oracle stays pure SQL. Everything downstream aggregates to
    the player-pair matrix (64 cells) then the player table (8 rows):
    map-side combine all the way, no skew possible."""
    docs = load_docs(spark, sf_dir)
    d = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).cast("int").alias("player"),
        F.size(F.array_distinct(tokens_col("text"))).cast("bigint").alias("score"),
    )
    a, b = d.alias("a"), d.alias("b")
    m = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.player") != F.col("b.player"))
        .select(
            F.least("a.player", "b.player").alias("p"),
            F.greatest("a.player", "b.player").alias("q"),
            F.when(F.col("a.player") < F.col("b.player"), F.col("a.score"))
            .otherwise(F.col("b.score"))
            .alias("sp"),
            F.when(F.col("a.player") < F.col("b.player"), F.col("b.score"))
            .otherwise(F.col("a.score"))
            .alias("sq"),
        )
    )
    tally = m.groupBy("p", "q").agg(
        F.sum(F.when(F.col("sp") > F.col("sq"), 1).otherwise(0)).alias("wins_p"),
        F.sum(F.when(F.col("sq") > F.col("sp"), 1).otherwise(0)).alias("wins_q"),
    )
    sides = tally.select(
        F.col("p").alias("player"),
        F.when(F.col("wins_p") > F.col("wins_q"), 1).otherwise(0).alias("beat"),
        F.when(F.col("wins_p") < F.col("wins_q"), 1).otherwise(0).alias("lost"),
        F.when(F.col("wins_p") == F.col("wins_q"), 1).otherwise(0).alias("tie"),
    ).unionByName(
        tally.select(
            F.col("q").alias("player"),
            F.when(F.col("wins_q") > F.col("wins_p"), 1).otherwise(0).alias("beat"),
            F.when(F.col("wins_q") < F.col("wins_p"), 1).otherwise(0).alias("lost"),
            F.when(F.col("wins_p") == F.col("wins_q"), 1).otherwise(0).alias("tie"),
        )
    )
    return sides.groupBy("player").agg(
        F.count(F.lit(1)).alias("n_opponents"),
        F.sum("beat").alias("beats"),
        F.sum("lost").alias("losses"),
        F.sum("tie").alias("ties"),
        (F.sum("beat") - F.sum("lost")).alias("copeland"),
    )


# --------------------------------------------------------------------------
# Round 3n (batch 11): community quality (modularity), cross-source corpus
# overlap, graph-level degree assortativity
# --------------------------------------------------------------------------

# the exact 3-round LPA unroll (same text as q_lpa_communities' oracle)
_SQL_LPA3 = """
e AS (SELECT lo AS src, hi AS dst FROM ge UNION ALL SELECT hi, lo FROM ge),
n AS (SELECT DISTINCT src AS node FROM e),
l0 AS (SELECT node, node AS lbl FROM n),
c1 AS (SELECT e.dst AS node, l.lbl, count(*) AS c
       FROM e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
l1 AS (SELECT node, lbl FROM (
         SELECT node, lbl,
                row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
         FROM c1) WHERE rn = 1),
c2 AS (SELECT e.dst AS node, l.lbl, count(*) AS c
       FROM e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
l2 AS (SELECT node, lbl FROM (
         SELECT node, lbl,
                row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
         FROM c2) WHERE rn = 1),
c3 AS (SELECT e.dst AS node, l.lbl, count(*) AS c
       FROM e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
l3 AS (SELECT node, lbl FROM (
         SELECT node, lbl,
                row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
         FROM c3) WHERE rn = 1)
"""

_MODULARITY_SQL = f"""
WITH {SQL_DOCS_TOKS}, {SQL_DOCPAIR_GRAPH.strip()},
{_SQL_LPA3.strip()},
m AS (SELECT count(*) AS m FROM ge),
lab AS (SELECT node, lbl AS community FROM l3),
deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
intra AS (
  SELECT la.community, count(*) AS intra_edges
  FROM ge g JOIN lab la ON la.node = g.lo JOIN lab lb ON lb.node = g.hi
  WHERE la.community = lb.community GROUP BY 1
),
comm AS (
  SELECT la.community, count(*) AS n_nodes,
         CAST(sum(d.d) AS BIGINT) AS deg_sum
  FROM lab la JOIN deg d USING (node) GROUP BY 1
)
SELECT c.community, c.n_nodes, coalesce(i.intra_edges, 0) AS intra_edges,
       c.deg_sum,
       CAST(4 * m.m * coalesce(i.intra_edges, 0) - c.deg_sum * c.deg_sum
            AS BIGINT) AS q_num,
       CAST(m.m AS BIGINT) AS m
FROM comm c LEFT JOIN intra i USING (community) CROSS JOIN m
"""

@_register_r3("q_modularity", _MODULARITY_SQL)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities (q_lpa_communities), in
    exact rational form — the community-quality gate a curation pass runs
    before trusting 'densely related' groupings for sampling decisions.
    Per community c over the doc-similarity graph (m unordered edges,
    e_c intra-community edges, d_c = sum of member degrees), the classic
    Q = sum_c [ e_c/m - (d_c/2m)^2 ] is reported as the exact BIGINT
    numerator q_num_c = 4*m*e_c - d_c^2 with the shared denominator 4*m^2
    (the consumer computes Q = sum(q_num)/(4*m^2); q_num > 0 means the
    community is denser than the configuration-model expectation). No
    floats anywhere, so the hash check is exact.

    Scale plan: LPA is the bounded synchronous fixpoint (3 rounds, one
    shuffle per round on the edge list); everything after it is two
    dimension-sized joins (edges x labels for e_c, nodes x degrees for
    d_c) and a groupBy on community. The 1-row m carry is the whitelisted
    broadcast-scalar pattern."""
    from cliner_spark.graph import label_propagation

    edges = _docpair_edges(spark, sf_dir)  # (src < dst) unordered, distinct
    lab = label_propagation(edges, rounds=3).select(
        F.col("node"), F.col("community").cast("long").alias("community")
    )
    both = edges.select(F.col("src").alias("node")).unionAll(
        edges.select(F.col("dst").alias("node"))
    )
    deg = both.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    m = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    la = lab.withColumnRenamed("node", "lo").withColumnRenamed("community", "ca")
    lb = lab.withColumnRenamed("node", "hi").withColumnRenamed("community", "cb")
    intra = (
        edges.select(F.col("src").alias("lo"), F.col("dst").alias("hi"))
        .join(la, "lo")
        .join(lb, "hi")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    comm = (
        lab.join(deg, "node")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").cast("bigint").alias("deg_sum"),
        )
    )
    return (
        comm.join(intra, "community", "left")
        .withColumn("intra_edges", F.coalesce("intra_edges", F.lit(0)))
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            "intra_edges",
            "deg_sum",
            (
                4 * F.col("m") * F.col("intra_edges")
                - F.col("deg_sum") * F.col("deg_sum")
            )
            .cast("bigint")
            .alias("q_num"),
            F.col("m").cast("bigint").alias("m"),
        )
    )


_SOURCE_OVERLAP_SQL = f"""
WITH docs AS (
  SELECT source,
         {sql_tokens()} AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT source,
         lower(array_to_string(toks[i + 1 : i + 5], ' ')) AS shingle
  FROM docs, unnest(range(len(toks) - 4)) AS t(i)
  WHERE len(toks) >= 5
),
sizes AS (SELECT source, count(*) AS sz FROM sh GROUP BY 1),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.src_a, s.src_b, s.shared, sa.sz AS size_a, sb.sz AS size_b
FROM shared s
JOIN sizes sa ON sa.source = s.src_a
JOIN sizes sb ON sb.source = s.src_b
"""


@_register_r3("q_source_overlap", _SOURCE_OVERLAP_SQL)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source 5-gram overlap matrix — the mixture-design audit that
    tells you which corpus sources are textually redundant BEFORE you
    weight them (two crawls of the same sites waste mixture mass; DSIR /
    mix-weight decisions assume sources are distinct). For every source
    pair: the count of distinct 5-gram shingles they share plus each
    side's distinct-shingle total, so the consumer derives both Jaccard
    and directional containment exactly from integers.

    Scale plan: the index is distinct (source, shingle) — a map-side-
    combined dedup that collapses each source's corpus to its shingle
    vocabulary BEFORE any join; the pair expansion per shingle is bounded
    by the number of sources (a dimension, ~tens), never by document
    count, so the join output is |shingle-vocab| x O(|sources|^2) worst
    case with real-world sharing far sparser. No df-cut is needed because
    source-level dedup already removed the per-document fanout."""
    docs = load_docs(spark, sf_dir)
    from cliner_spark.dedup import shingles

    sh = shingles(docs.select(F.col("source"), "text"), 5, id_col="source")
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            sizes.withColumnRenamed("source", "src_a").withColumnRenamed("sz", "size_a"),
            "src_a",
        )
        .join(
            sizes.withColumnRenamed("source", "src_b").withColumnRenamed("sz", "size_b"),
            "src_b",
        )
        .select("src_a", "src_b", "shared", "size_a", "size_b")
    )


_ASSORT_SQL = f"""
WITH docs AS (
  SELECT doc_id,
         {sql_tokens()} AS toks
  FROM documents
),
sh2 AS (
  SELECT DISTINCT doc_id,
         lower(array_to_string(toks[t.i + 1 : t.i + 3], ' ')) AS shingle
  FROM docs, unnest(range(len(toks) - 2)) AS t(i)
  WHERE len(toks) >= 3
),
keep2 AS (SELECT shingle FROM sh2 GROUP BY shingle HAVING count(DISTINCT doc_id) <= 50),
shf2 AS (SELECT sh2.* FROM sh2 JOIN keep2 USING (shingle)),
ge AS (
  SELECT a.doc_id AS lo, b.doc_id AS hi
  FROM shf2 a JOIN shf2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
),
e AS (SELECT lo AS src, hi AS dst FROM ge UNION ALL SELECT hi, lo FROM ge),
deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_dir_edges,
       CAST(sum(da.d + db.d) AS BIGINT) AS s1,
       CAST(sum(da.d * db.d) AS BIGINT) AS s_prod,
       CAST(sum(da.d * da.d + db.d * db.d) AS BIGINT) AS s2
FROM e JOIN deg da ON da.node = e.src JOIN deg db ON db.node = e.dst
"""


@_register_r3("q_graph_assortativity", _ASSORT_SQL)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-assortativity sufficient statistics of the doc-similarity
    graph, exact BIGINT moments over the directed edge list (each
    undirected edge counted in both orientations, the standard Newman
    convention): M = n_dir_edges, s1 = sum(j+k), s_prod = sum(j*k),
    s2 = sum(j^2+k^2) for endpoint degrees (j,k). The Pearson
    assortativity r = (M*s_prod - (s1/2)^2) / (M*s2/2 - (s1/2)^2) is a
    pure function of these four integers, so the consumer derives it
    exactly — positive r means hubs link hubs (dup-cluster cliques),
    negative means star-like quote graphs. Degree-degree correlation is
    the standard check before trusting degree-targeted sampling.

    Scale plan: degrees are one map-side-combined groupBy; the two
    degree joins are broadcastable (degree table is node-dimension);
    the final global aggregate is a single partial-merge reduce. One
    4-column 1-row result — nothing here grows with corpus size except
    the one edge scan."""
    edges = _docpair_edges(spark, sf_dir)
    e = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    da = deg.withColumnRenamed("node", "src").withColumnRenamed("d", "da")
    db = deg.withColumnRenamed("node", "dst").withColumnRenamed("d", "db")
    return (
        e.join(da, "src")
        .join(db, "dst")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dir_edges"),
            F.sum(F.col("da") + F.col("db")).cast("bigint").alias("s1"),
            F.sum(F.col("da") * F.col("db")).cast("bigint").alias("s_prod"),
            F.sum(F.col("da") * F.col("da") + F.col("db") * F.col("db"))
            .cast("bigint")
            .alias("s2"),
        )
    )


# --------------------------------------------------------------------------
# Round 3o (batch 12): seeded product quantization — the memory half of the
# IVF-PQ design every production ANN system (FAISS-style) deploys at scale.
# Vectors are stored as 4 small codes instead of 64 floats (16x memory cut
# before even bit-packing); search scores candidates from per-query lookup
# tables over the CODES without ever re-reading raw vectors. The codebook is
# md5-seeded corpus subvectors (same engine-reproducible trick as
# q_embedding_ivf_seeded) so codes, reconstruction error, and ADC search all
# hash-check against DuckDB; production swaps the seeded codebook for a
# sample-fit k-means one exactly as similarity.build_ivf_index does.
# --------------------------------------------------------------------------

# shared PQ pipeline: codebook (8 codewords x 4 subspaces of 16 dims),
# per-vector argmin codes with rounded-6 distances (ties -> lower code),
# fixed-order recon_err sum. Mirrors similarity.pq_codebook/pq_codes exactly.
_PQ_SQL_BASE = """
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sub AS (
  SELECT m.m, e.vec_id, e.v[m.m * 16 + 1 : m.m * 16 + 16] AS sv
  FROM e, (SELECT unnest(range(4)) AS m) m
),
cb AS (
  SELECT m, sv,
         CAST(row_number() OVER (PARTITION BY m
              ORDER BY md5(m::VARCHAR || '#' || vec_id::VARCHAR), vec_id)
              AS INTEGER) - 1 AS code
  FROM sub
  QUALIFY code < 8
),
dist AS (
  SELECT s.vec_id, s.m, c.code,
         round(list_sum(list_transform(range(16),
               i -> (s.sv[i + 1] - c.sv[i + 1]) * (s.sv[i + 1] - c.sv[i + 1]))),
               6) AS d
  FROM sub s JOIN cb c USING (m)
),
best AS (
  SELECT vec_id, m, code, d FROM (
    SELECT vec_id, m, code, d,
           row_number() OVER (PARTITION BY vec_id, m
                ORDER BY d ASC, code ASC) AS rn
    FROM dist
  ) WHERE rn = 1
),
codes AS (
  SELECT vec_id,
         CAST(max(CASE WHEN m = 0 THEN code END) AS INTEGER) AS code_0,
         CAST(max(CASE WHEN m = 1 THEN code END) AS INTEGER) AS code_1,
         CAST(max(CASE WHEN m = 2 THEN code END) AS INTEGER) AS code_2,
         CAST(max(CASE WHEN m = 3 THEN code END) AS INTEGER) AS code_3,
         round(((max(CASE WHEN m = 0 THEN d END)
               + max(CASE WHEN m = 1 THEN d END))
               + max(CASE WHEN m = 2 THEN d END))
               + max(CASE WHEN m = 3 THEN d END), 6) AS recon_err
  FROM best GROUP BY vec_id
)
"""


@_register_r3(
    "q_pq_codes",
    f"""
WITH {_PQ_SQL_BASE.strip()}
SELECT vec_id, code_0, code_1, code_2, code_3, recon_err FROM codes
""",
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode the whole corpus: per vector, 4 subspace codes (argmin
    rounded-6 squared L2 to the 8 seeded codewords, ties -> lower code)
    plus the fixed-order reconstruction-error sum. Spark side is ONE
    narrow whole-stage-codegen projection per row — the codebook is
    inlined as constants (a production scorer broadcasts it the same
    way), so encoding 10^12 vectors is a single embarrassing-parallel
    scan with no join, no shuffle, no Python. recon_err is the quality
    dial: it is exactly the quantization distortion that decides how
    many PQ bits the corpus needs before recall drops."""
    from cliner_spark import similarity as _sim
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    cb = _sim.pq_codebook(emb)
    return _sim.pq_codes(emb, cb)


@_register_r3(
    "q_pq_adc_topk",
    f"""
WITH {_PQ_SQL_BASE.strip()},
qlut AS (
  SELECT q.vec_id AS query_id, c.m, c.code,
         round(list_sum(list_transform(range(16),
               i -> (q.v[c.m * 16 + i + 1] - c.sv[i + 1])
                  * (q.v[c.m * 16 + i + 1] - c.sv[i + 1]))), 6) AS d
  FROM e q, cb c
  WHERE q.vec_id < 10
),
adist AS (
  SELECT l.query_id, b.vec_id AS neighbor_id,
         round(((max(CASE WHEN l.m = 0 THEN l.d END)
               + max(CASE WHEN l.m = 1 THEN l.d END))
               + max(CASE WHEN l.m = 2 THEN l.d END))
               + max(CASE WHEN l.m = 3 THEN l.d END), 6) AS adist
  FROM best b JOIN qlut l ON l.m = b.m AND l.code = b.code
  WHERE l.query_id <> b.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adist, rn FROM (
  SELECT query_id, neighbor_id, adist,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY adist ASC, neighbor_id ASC) AS INTEGER) AS rn
  FROM adist
) WHERE rn <= 3
""",
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search for queries vec_id < 10:
    candidates are scored by sum_m ||q_m - codeword(code_m)||^2 using only
    their stored CODES — raw corpus vectors are never read at query time,
    which is the entire point of PQ at 10^12 rows. The per-(query,
    subspace) distances form the classic 8-entry lookup table; Spark
    inlines the LUT as an element_at over 8 constant-codeword distance
    expressions selected by the candidate's code — same algebra, zero
    joins beyond the broadcast query spine, stays in codegen. Smallest
    approximate distance wins, ties to the lower neighbor id. At scale
    this composes with the IVF index (probe cells first, ADC inside the
    probed cells) — the candidate set is cell-pruned, not the corpus."""
    from cliner_spark import similarity as _sim
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    cb = _sim.pq_codebook(emb)
    return _sim.pq_adc_topk(emb, cb, F.col("vec_id") < 10, k=3)


# --------------------------------------------------------------------------
# Round 3p (batch 13): data-loader shuffle QA + static training-mixture
# planning — the two bookkeeping steps between a curated corpus and a
# training run. Both are integer-exact (counts and rationals only), so the
# hash check has no float surface at all.
# --------------------------------------------------------------------------


@_register_r3(
    "q_shuffle_quality",
    """
WITH ord AS (
  SELECT doc_id, source,
         row_number() OVER (
           ORDER BY md5('0|' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
  FROM documents
),
adj AS (
  SELECT source,
         CASE WHEN lag(source) OVER (ORDER BY pos) = source
              THEN 1 ELSE 0 END AS same
  FROM ord
),
g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(same) AS BIGINT) AS obs_adj_same
  FROM adj GROUP BY source
)
SELECT source, n_docs, obs_adj_same,
       CAST(n_docs * (n_docs - 1) AS BIGINT) AS exp_num,
       CAST(sum(n_docs) OVER () AS BIGINT) AS exp_den
FROM g
""",
)
def q_shuffle_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial-correlation audit of the epoch-0 md5 shuffle (the QA gate a
    data loader runs before trusting q_epoch_shuffle's order): per source,
    how many ADJACENT positions in the shuffled order carry the same
    source, vs the exact expectation under a uniform random permutation —
    E[same-source adjacencies for s] = n_s*(n_s-1)/N, emitted as the exact
    rational (exp_num, exp_den) so the consumer compares obs*exp_den vs
    exp_num*1 with pure integers. A residual clump (obs far above the
    expectation) means the shuffle is leaking ingest order into training
    batches — the classic cause of per-source loss spikes.

    Scale plan: the global row_number/lag here is gate-SF demonstration
    shape; the production loader shuffles within hash shards, so the same
    audit runs per shard (lag over a partitioned window) and the per-source
    counts merge additively — nothing about the statistic needs a total
    order. The post-aggregation frame is |sources|-sized, so the empty
    OVER () total is dimension-cheap."""
    docs = load_docs(spark, sf_dir)
    w = Window.orderBy(
        F.md5(F.concat(F.lit("0|"), F.col("doc_id").cast("string"))), F.col("doc_id")
    )
    ordd = docs.select("doc_id", "source", F.row_number().over(w).alias("pos"))
    adj = ordd.select(
        "source",
        F.when(F.lag("source").over(Window.orderBy("pos")) == F.col("source"), 1)
        .otherwise(0)
        .alias("same"),
    )
    g = adj.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("same").cast("bigint").alias("obs_adj_same"),
    )
    return g.select(
        "source",
        "n_docs",
        "obs_adj_same",
        (F.col("n_docs") * (F.col("n_docs") - 1)).cast("bigint").alias("exp_num"),
        F.sum("n_docs").over(Window.partitionBy()).cast("bigint").alias("exp_den"),
    )


@_register_r3(
    "q_mixture_plan",
    f"""
WITH toks AS (
  SELECT source,
         CAST(len({sql_tokens()}) AS BIGINT) AS n_toks
  FROM documents
),
sup AS (
  SELECT source, CAST(sum(n_toks) AS BIGINT) AS supply,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM toks GROUP BY source
)
SELECT source, n_docs, supply,
       CAST(sum(supply) OVER () AS BIGINT) AS budget,
       CAST(count(*) OVER () AS BIGINT) AS n_sources,
       CAST((sum(supply) OVER () + count(*) OVER () * supply - 1)
            // (count(*) OVER () * supply) AS BIGINT) AS epochs,
       (count(*) OVER () * supply < sum(supply) OVER ()) AS oversampled
FROM sup
WHERE supply > 0
""",
)
def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static training-mixture plan under a uniform per-source target (the
    degenerate-but-exact core of DoReMi-style mixture design): with token
    budget B = total corpus tokens and S sources, each source owes B/S
    tokens, so a source supplying `supply` tokens trains for
    epochs = ceil(B / (S * supply)) passes — all-integer ceil division
    ((B + S*supply - 1) // (S*supply)), and `oversampled` marks sources
    that must repeat (S*supply < B). Swapping the uniform target for
    learned weights only changes the per-source numerator; the plan stays
    one aggregate + one dimension-sized projection. This is the table a
    data loader consumes to set per-source repeat factors; pairing it with
    q_epoch_shuffle gives the full deterministic loader spec.

    Scale plan: one map-side-combined groupBy(source) over the corpus scan
    is the only full-data pass; the windowed totals run on the
    |sources|-sized frame. Zero floats anywhere — epochs and flags are
    exact, so the hash check cannot rot."""
    docs = load_docs(spark, sf_dir)
    sup = (
        docs.select("source", F.size(tokens_col(F.col("text"))).cast("bigint").alias("n_toks"))
        .groupBy("source")
        .agg(
            F.sum("n_toks").cast("bigint").alias("supply"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        .filter(F.col("supply") > 0)
    )
    w = Window.partitionBy()
    base = sup.select(
        "source",
        "n_docs",
        "supply",
        F.sum("supply").over(w).cast("bigint").alias("budget"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_sources"),
    )
    return base.select(
        "source",
        "n_docs",
        "supply",
        "budget",
        "n_sources",
        F.expr(
            "CAST((budget + n_sources * supply - 1) div (n_sources * supply)"
            " AS BIGINT)"
        ).alias("epochs"),
        F.expr("n_sources * supply < budget").alias("oversampled"),
    )


# --------------------------------------------------------------------------
# Round 3q (batch 14): corpus lexical statistics for tokenizer/LM sizing —
# Heaps-law vocabulary-growth checkpoints and the Good-Turing frequency
# spectrum. Both integer-exact end to end.
# --------------------------------------------------------------------------


@_register_r3(
    "q_vocab_growth",
    f"""
WITH docs AS (
  SELECT doc_id,
         {sql_tokens()} AS toks
  FROM documents
),
ord AS (
  SELECT toks,
         row_number() OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
  FROM docs
),
tok AS (
  SELECT lower(t.tok) AS tok, CAST(min(pos) AS BIGINT) AS first_pos
  FROM ord, unnest(toks) AS t(tok)
  GROUP BY 1
),
bucketed AS (
  SELECT CASE WHEN first_pos <= 2 THEN 2 WHEN first_pos <= 4 THEN 4
              WHEN first_pos <= 8 THEN 8 WHEN first_pos <= 16 THEN 16
              WHEN first_pos <= 32 THEN 32 WHEN first_pos <= 64 THEN 64
              WHEN first_pos <= 128 THEN 128 WHEN first_pos <= 256 THEN 256
              WHEN first_pos <= 512 THEN 512 WHEN first_pos <= 1024 THEN 1024
              WHEN first_pos <= 2048 THEN 2048 WHEN first_pos <= 4096 THEN 4096
         END AS cp, count(*) AS new_types
  FROM tok GROUP BY 1 HAVING cp IS NOT NULL
),
growth AS (
  SELECT CAST(cp AS BIGINT) AS n_docs_seen,
         CAST(sum(new_types) OVER (ORDER BY cp) AS BIGINT) AS vocab_size
  FROM bucketed
)
SELECT n_docs_seen, vocab_size FROM growth
WHERE n_docs_seen <= (SELECT count(*) FROM documents)
""",
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: distinct lowercased token types
    seen within the first 2/4/8/.../4096 documents of the md5 corpus order
    (checkpoints beyond the corpus size are dropped via the 1-row doc-count
    carry). The curve's bend is the empirical Heaps exponent — the input to
    tokenizer vocab sizing and dedup-savings forecasts (a flattening curve
    at 100 TB means new shards add tokens, not types). Computed without any
    per-checkpoint scan: each type is bucketed to the FIRST checkpoint
    covering its first occurrence (one min-aggregate per type), and the
    curve is a cumulative sum over the <=12-row checkpoint frame — so the
    corpus is read once no matter how many checkpoints.

    Scale plan: first_pos is a map-side-combined min per type; the md5
    total order exists only at gate SF (production assigns pos per hash
    shard and merges per-shard growth curves, which bounds the same
    exponent). The only non-equi piece is the 1-row count carry bounding
    the literal spine."""
    docs = load_docs(spark, sf_dir)
    w = Window.orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    ordd = docs.select(
        tokens_col(F.col("text")).alias("toks"), F.row_number().over(w).alias("pos")
    )
    tok = (
        ordd.select(F.explode("toks").alias("tok"), "pos")
        .select(F.lower("tok").alias("tok"), "pos")
        .groupBy("tok")
        .agg(F.min("pos").cast("bigint").alias("first_pos"))
    )
    cp = F.lit(None).cast("bigint")
    for b in [4096, 2048, 1024, 512, 256, 128, 64, 32, 16, 8, 4, 2]:
        cp = F.when(F.col("first_pos") <= b, F.lit(b).cast("bigint")).otherwise(cp)
    bucketed = (
        tok.select(cp.alias("cp"))
        .filter(F.col("cp").isNotNull())
        .groupBy("cp")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    growth = bucketed.select(
        F.col("cp").alias("n_docs_seen"),
        F.sum("new_types").over(Window.orderBy("cp")).cast("bigint").alias("vocab_size"),
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_corpus_docs"))
    return (
        growth.join(F.broadcast(n), F.col("n_docs_seen") <= F.col("n_corpus_docs"))
        .select("n_docs_seen", "vocab_size")
    )


@_register_r3(
    "q_freq_spectrum",
    f"""
WITH docs AS (
  SELECT doc_id, source,
         {sql_tokens()} AS toks
  FROM documents
),
tf AS (
  SELECT source, lower(t.tok) AS tok, count(*) AS c
  FROM docs, unnest(toks) AS t(tok)
  GROUP BY 1, 2
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(count(*) FILTER (c = 1) AS BIGINT) AS n1_hapax,
       CAST(count(*) FILTER (c = 2) AS BIGINT) AS n2_dis,
       CAST(count(*) FILTER (c >= 3) AS BIGINT) AS n3_plus,
       CAST(max(c) AS BIGINT) AS max_freq
FROM tf GROUP BY source
""",
)
def q_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token frequency spectrum (spectrum of spectra): total
    tokens, vocabulary, hapax (freq 1) / dis (freq 2) / 3+ legomena counts,
    and the modal frequency ceiling. The Good-Turing unseen-probability
    mass is exactly n1_hapax/n_tokens — emitted as its two exact integers
    so the downstream LM-smoothing choice (and the q_kn_bigram discount)
    is derived with no float surface. A source whose hapax share balloons
    is either genuinely diverse or full of OCR noise — this is the
    cheapest triage signal before spending on quality scoring.

    Scale plan: two map-side-combined groupBys (term-frequency, then
    per-source spectrum) — the same shuffle shape as q_token_freq; all
    outputs are exact BIGINTs, so the hash check cannot rot."""
    docs = load_docs(spark, sf_dir)
    tf = (
        docs.select("source", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .select("source", F.lower("tok").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum((F.col("c") == 1).cast("long")).cast("bigint").alias("n1_hapax"),
        F.sum((F.col("c") == 2).cast("long")).cast("bigint").alias("n2_dis"),
        F.sum((F.col("c") >= 3).cast("long")).cast("bigint").alias("n3_plus"),
        F.max("c").cast("bigint").alias("max_freq"),
    )


# --------------------------------------------------------------------------
# Round 3r (batch 15): split-hygiene statistics — eval-set OOV rate under
# the train split's vocabulary (the generalization-gap input that
# complements q_decontaminate's overlap direction) and the duplicate-
# discovery curve (dedup-savings forecast over corpus order, the companion
# of q_vocab_growth). Both exact-integer end to end.
# --------------------------------------------------------------------------


@_register_r3(
    "q_oov_eval",
    f"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split,
         {sql_tokens()} AS toks
  FROM documents
),
tv AS (
  SELECT DISTINCT lower(t.tok) AS tok
  FROM docs, unnest(toks) AS t(tok) WHERE split = 'train'
),
ev AS (
  SELECT d.split, d.doc_id, lower(t.tok) AS tok
  FROM docs d, unnest(toks) AS t(tok) WHERE d.split <> 'train'
),
j AS (
  SELECT ev.split, ev.doc_id, ev.tok, (tv.tok IS NOT NULL) AS seen
  FROM ev LEFT JOIN tv ON ev.tok = tv.tok
)
SELECT split,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (NOT seen) AS BIGINT) AS n_oov_occ,
       CAST(count(DISTINCT tok) FILTER (NOT seen) AS BIGINT) AS n_oov_types
FROM j GROUP BY split
""",
)
def q_oov_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary audit of the val/test splits under the TRAIN
    split's vocabulary (same md5 80/10/10 rule as q_train_split): per eval
    split, token occurrences and distinct types never seen in train — the
    exact-integer input to the generalization-gap story (q_decontaminate
    measures leakage INTO eval; this measures coverage OF eval). A test
    split whose OOV mass is near zero while val's is high means the split
    hash is fine but the corpus is topically clustered — resplit by
    cluster, not by document.

    Scale plan: the train vocabulary is a distinct groupBy (vocab-
    dimension, not corpus-dimension) and the eval side joins it on the
    token equi-key — both map-side-combinable shuffles; no window, no
    carry, all BIGINT."""
    from cliner_spark.sampling import split_assign

    docs = split_assign(load_docs(spark, sf_dir), "doc_id")
    toks = docs.select(
        "split", "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).select("split", "doc_id", F.lower("tok").alias("tok"))
    tv = toks.filter(F.col("split") == "train").select("tok").distinct()
    ev = toks.filter(F.col("split") != "train")
    j = ev.join(
        tv.withColumn("seen", F.lit(True)), "tok", "left"
    ).select("split", "doc_id", "tok", F.coalesce("seen", F.lit(False)).alias("seen"))
    return j.groupBy("split").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum((~F.col("seen")).cast("long")).cast("bigint").alias("n_oov_occ"),
        F.countDistinct(F.when(~F.col("seen"), F.col("tok")))
        .cast("bigint")
        .alias("n_oov_types"),
    )


@_register_r3(
    "q_dup_discovery",
    """
WITH ord AS (
  SELECT md5(lower(trim(coalesce(text, '')))) AS th,
         row_number() OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
  FROM documents
),
firsts AS (SELECT th, min(pos) AS first_pos FROM ord GROUP BY th),
dups AS (
  SELECT o.pos FROM ord o JOIN firsts f ON o.th = f.th
  WHERE o.pos > f.first_pos
),
bucketed AS (
  SELECT CASE WHEN pos <= 2 THEN 2 WHEN pos <= 4 THEN 4
              WHEN pos <= 8 THEN 8 WHEN pos <= 16 THEN 16
              WHEN pos <= 32 THEN 32 WHEN pos <= 64 THEN 64
              WHEN pos <= 128 THEN 128 WHEN pos <= 256 THEN 256
              WHEN pos <= 512 THEN 512 WHEN pos <= 1024 THEN 1024
              WHEN pos <= 2048 THEN 2048 WHEN pos <= 4096 THEN 4096
         END AS cp, count(*) AS new_dups
  FROM dups GROUP BY 1 HAVING cp IS NOT NULL
),
grid AS (
  SELECT cp FROM (VALUES (2),(4),(8),(16),(32),(64),(128),(256),(512),
                         (1024),(2048),(4096)) g(cp)
  WHERE cp <= (SELECT count(*) FROM documents)
)
SELECT CAST(grid.cp AS BIGINT) AS n_docs_seen,
       CAST(sum(coalesce(new_dups, 0)) OVER (ORDER BY grid.cp) AS BIGINT)
         AS n_dup_docs
FROM grid LEFT JOIN bucketed ON grid.cp = bucketed.cp
""",
)
def q_dup_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-discovery curve: of the first 2/4/.../4096 documents in
    the md5 corpus order, how many are EXACT duplicates (normalized-text
    hash) of an earlier document — the dedup-savings forecast that pairs
    with q_vocab_growth's type curve (types flatten while dups climb =
    crawling the same sites again). Same one-scan shape: each duplicate is
    bucketed to the first checkpoint covering its position, the curve is a
    cumsum over the <=12-row checkpoint frame, and n_docs_seen doubles as
    the exact denominator (positions are dense), so the dup RATE at each
    checkpoint is the exact rational n_dup_docs/n_docs_seen. The output is
    the FULL zero-filled checkpoint grid (round-3 verdict item 2): a corpus
    with no exact duplicates still yields one row per in-range checkpoint
    with n_dup_docs = 0, so the driver's sf0.01 gate row can never be the
    vacuous empty-vs-empty hash match again.

    Scale plan: min(pos) per text-hash is one map-side-combined groupBy;
    the self-join back is an equi-join on the hash (production skips it —
    count(*)-1 per hash group gives the same dups without the rejoin, but
    the join keeps per-duplicate positions for the curve). The 1-row
    doc-count carry bounds the literal spine, as in q_vocab_growth."""
    docs = load_docs(spark, sf_dir)
    w = Window.orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    ordd = docs.select(
        F.md5(F.lower(F.trim(F.coalesce(F.col("text"), F.lit(""))))).alias("th"),
        F.row_number().over(w).alias("pos"),
    )
    firsts = ordd.groupBy("th").agg(F.min("pos").alias("first_pos"))
    dups = ordd.join(firsts, "th").filter(F.col("pos") > F.col("first_pos"))
    cp = F.lit(None).cast("bigint")
    for b in [4096, 2048, 1024, 512, 256, 128, 64, 32, 16, 8, 4, 2]:
        cp = F.when(F.col("pos") <= b, F.lit(b).cast("bigint")).otherwise(cp)
    bucketed = (
        dups.select(cp.alias("cp"))
        .filter(F.col("cp").isNotNull())
        .groupBy("cp")
        .agg(F.count(F.lit(1)).alias("new_dups"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_corpus_docs"))
    grid = (
        n.select(
            F.explode(
                F.array(
                    *[
                        F.lit(b).cast("bigint")
                        for b in [2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096]
                    ]
                )
            ).alias("cp"),
            "n_corpus_docs",
        )
        .filter(F.col("cp") <= F.col("n_corpus_docs"))
        .select("cp")
    )
    filled = grid.join(F.broadcast(bucketed), "cp", "left").select(
        "cp", F.coalesce("new_dups", F.lit(0)).alias("new_dups")
    )
    return filled.select(
        F.col("cp").alias("n_docs_seen"),
        F.sum("new_dups").over(Window.orderBy("cp")).cast("bigint").alias("n_dup_docs"),
    )


# --------------------------------------------------------------------------
# Round 3s (batch 16): winnowing fingerprints (Schleimer, Wilkerson, Aiken,
# SIGMOD 2003 — the MOSS scheme). Distinct from MinHash/SimHash: winnowing
# GUARANTEES that any match of length >= w+k-1 tokens between two documents
# shares at least one selected fingerprint (positional, not probabilistic),
# which is why plagiarism/license scanners use it over sketches.
# --------------------------------------------------------------------------

_WINNOW_K = 3  # token k-gram size
_WINNOW_W = 4  # window of consecutive k-gram hashes


@_register_r3(
    "q_winnow_fingerprints",
    f"""
WITH docs AS (
  SELECT doc_id,
         {sql_tokens()} AS toks
  FROM documents
),
sh AS (
  SELECT doc_id, CAST(t.i AS BIGINT) AS i,
         md5(lower(array_to_string(toks[t.i + 1 : t.i + {_WINNOW_K}], ' '))) AS h,
         len(toks) - {_WINNOW_K} + 1 AS n_sh
  FROM docs, unnest(range(len(toks) - {_WINNOW_K} + 1)) AS t(i)
  WHERE len(toks) >= {_WINNOW_K}
),
win AS (
  SELECT s.doc_id, s.i, s.h, s.i - o.off AS j
  FROM sh s, unnest(range({_WINNOW_W})) AS o(off)
  WHERE s.i - o.off >= 0 AND s.i - o.off <= s.n_sh - {_WINNOW_W}
),
sel AS (
  SELECT doc_id, i, h FROM (
    SELECT doc_id, j, i, h,
           row_number() OVER (PARTITION BY doc_id, j
                ORDER BY h ASC, i DESC) AS rn
    FROM win
  ) WHERE rn = 1
)
SELECT DISTINCT doc_id, i AS pos, h AS fp FROM sel
""",
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints: hash every token {_WINNOW_K}-gram
    (md5, engine-reproducible), slide a window of w={_WINNOW_W} consecutive
    hashes, and in each window select the minimum hash, ties broken to the
    RIGHTMOST position (the paper's rule, which makes selection a pure
    function of the window contents); the fingerprint set is the distinct
    (pos, hash) selections. Guarantee (tested): every window of w
    consecutive k-grams contributes >=1 selected fingerprint, so any
    verbatim overlap of >= w+k-1 tokens between two documents shares a
    fingerprint — the deterministic complement to the MinHash/SimHash
    sketches, used when missing a clone is not acceptable (license/
    plagiarism scans).

    Plan shape: one shingle scan, a w-way literal explode (x{_WINNOW_W}
    fanout, map-side), and one (doc, window) rank — all partitioned by
    doc_id, so the operator is embarrassingly parallel over documents; no
    corpus-wide shuffle at all. Expected density 2/(w+1) keeps the output
    a small fraction of the shingle count at any scale."""
    docs = load_docs(spark, sf_dir)
    k, wsz = _WINNOW_K, _WINNOW_W
    sh = (
        docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= k)
        .select(
            "doc_id",
            (F.size("toks") - k + 1).alias("n_sh"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - k),
                    lambda i: F.lower(
                        F.concat_ws(" ", F.slice(F.col("toks"), i + 1, k))
                    ),
                )
            ).alias("i", "gram"),
        )
        .select("doc_id", "n_sh", F.col("i").cast("bigint").alias("i"), F.md5("gram").alias("h"))
    )
    win = (
        sh.select(
            "doc_id",
            "i",
            "h",
            F.explode(
                F.filter(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(wsz - 1)),
                        lambda off: F.col("i") - off,
                    ),
                    lambda j: (j >= 0) & (j <= F.col("n_sh") - wsz),
                )
            ).alias("j"),
        )
    )
    rw = Window.partitionBy("doc_id", "j").orderBy(F.asc("h"), F.desc("i"))
    sel = (
        win.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("i").alias("pos"), F.col("h").alias("fp"))
        .distinct()
    )
    return sel


# --------------------------------------------------------------------------
# Round 3t (batch 17): PPS systematic token-budget sampling (the loader-side
# companion of q_mixture_plan) and winnowing clone-pair candidates (the MOSS
# step-2 consumer of q_winnow_fingerprints). Integer-exact / md5-exact.
# --------------------------------------------------------------------------

_PPS_N = 50  # systematic sample size


@_register_r3(
    "q_pps_sample",
    f"""
WITH docs AS (
  SELECT doc_id,
         CAST(len({sql_tokens()}) AS BIGINT) AS n_toks
  FROM documents
),
ord AS (
  SELECT doc_id, n_toks,
         CAST(sum(n_toks) OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM docs WHERE n_toks > 0
),
tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS t FROM docs WHERE n_toks > 0)
SELECT o.doc_id, o.n_toks, o.cum,
       CAST((o.cum * {_PPS_N}) // t - ((o.cum - o.n_toks) * {_PPS_N}) // t
            AS BIGINT) AS n_hits
FROM ord o, tot
WHERE (o.cum * {_PPS_N}) // t > ((o.cum - o.n_toks) * {_PPS_N}) // t
""",
)
def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sample: lay every
    document's tokens end to end in the md5 corpus order and take
    {_PPS_N} equally spaced token positions — a document is selected once
    per grid point falling inside its token interval, i.e. iff
    floor(cum*n/T) > floor((cum-size)*n/T), with n_hits the exact
    multiplicity (documents longer than one stride can be drawn multiple
    times, the PPS semantics a token-budget sampler needs; q_weighted_sample
    draws BY KEY, this draws BY TOKEN MASS). Every quantity is a BIGINT —
    cumulative sums, integer floor-division grid crossings — so the sample
    is engine-exact and reproducible from the corpus alone.

    Scale plan: one cumsum window in the md5 order (production: per-shard
    cumsums + a |shards|-sized offset scan, the standard distributed
    prefix-sum) and a 1-row total carry; selection is a stateless predicate
    per row, so the operator streams."""
    docs = (
        load_docs(spark, sf_dir)
        .select("doc_id", F.size(tokens_col(F.col("text"))).cast("bigint").alias("n_toks"))
        .filter(F.col("n_toks") > 0)
    )
    w = (
        Window.orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordd = docs.select(
        "doc_id", "n_toks", F.sum("n_toks").over(w).cast("bigint").alias("cum")
    )
    tot = docs.agg(F.sum("n_toks").cast("bigint").alias("t"))
    j = ordd.join(F.broadcast(tot))
    hi = F.expr(f"(cum * {_PPS_N}) div t")
    lo = F.expr(f"((cum - n_toks) * {_PPS_N}) div t")
    return (
        j.filter(hi > lo)
        .select("doc_id", "n_toks", "cum", (hi - lo).cast("bigint").alias("n_hits"))
    )


@_register_r3(
    "q_winnow_pairs",
    f"""
WITH docs AS (
  SELECT doc_id,
         {sql_tokens()} AS toks
  FROM documents
),
sh AS (
  SELECT doc_id, CAST(t.i AS BIGINT) AS i,
         md5(lower(array_to_string(toks[t.i + 1 : t.i + {_WINNOW_K}], ' '))) AS h,
         len(toks) - {_WINNOW_K} + 1 AS n_sh
  FROM docs, unnest(range(len(toks) - {_WINNOW_K} + 1)) AS t(i)
  WHERE len(toks) >= {_WINNOW_K}
),
win AS (
  SELECT s.doc_id, s.i, s.h, s.i - o.off AS j
  FROM sh s, unnest(range({_WINNOW_W})) AS o(off)
  WHERE s.i - o.off >= 0 AND s.i - o.off <= s.n_sh - {_WINNOW_W}
),
sel AS (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id, j, i, h,
           row_number() OVER (PARTITION BY doc_id, j
                ORDER BY h ASC, i DESC) AS rn
    FROM win
  ) WHERE rn = 1
),
keep AS (SELECT h FROM sel GROUP BY h HAVING count(*) <= 50),
sf AS (SELECT sel.* FROM sel JOIN keep USING (h))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM sf a JOIN sf b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
""",
)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS step 2: candidate clone pairs = documents sharing >= 2 winnow
    fingerprints (distinct hashes, positions ignored — the pair count is
    what rankers consume; alignment happens on candidates only). Inherits
    the guarantee: any verbatim overlap long enough to span two selected
    fingerprints surfaces here, with no probabilistic miss. Same df-cut
    contract as q_jaccard_pairs/q_containment_pairs (a fingerprint shared
    by > 50 docs is boilerplate, not a clone signal — dropped BEFORE the
    pair join, which bounds fanout per fingerprint at any corpus size)."""
    sel = (
        q_winnow_fingerprints(spark, sf_dir)
        .select("doc_id", F.col("fp").alias("h"))
        .distinct()
    )
    keep = sel.groupBy("h").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= 50)
    sf = sel.join(keep.select("h"), "h")
    a = sf.select(F.col("doc_id").alias("doc_a"), "h")
    b = sf.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


# --------------------------------------------------------------------------
# Round 3u (batch 18): privacy-preserving publication + warehouse integrity
# — consistent entity pseudonymization over the materialized KG (with an
# exact collision audit) and a cross-table orphan-FK audit (the first gate
# a warehouse ingest runs). Exact end to end.
# --------------------------------------------------------------------------


@_register_r3(
    "q_pseudonymize",
    f"""
{SQL_TR_CTE},
ment AS (
  -- explicit outer DISTINCT: inside a WITH RECURSIVE block DuckDB does
  -- not set-dedupe a bare UNION chain in a non-recursive CTE, so the
  -- dedup must be an explicit operator on both engines
  SELECT DISTINCT entity FROM (
    SELECT subj AS entity FROM tr WHERE pred = 'SAME_AS'
    UNION ALL SELECT obj FROM tr WHERE pred = 'SAME_AS'
    UNION ALL SELECT obj FROM tr WHERE pred = 'MENTIONS'
  )
),
al AS (
  SELECT entity,
         'ENT_' || substr(md5(entity), 1, 6) AS alias
  FROM ment
)
SELECT a.alias,
       CAST(count(*) AS BIGINT) AS n_entities,
       min(a.entity) AS example_entity,
       (count(*) > 1) AS collision
FROM al a GROUP BY a.alias
""",
)
def q_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent pseudonymization table for publishing the KG: every
    concept entity (MENTIONS objects + SAME_AS endpoints) maps to a stable
    alias ENT_<md5 prefix> — the SAME entity always gets the same alias
    across shards/reruns (a pure hash, no state), which is what keeps
    joins/aggregations valid on the published data. The query is the
    COLLISION AUDIT a release must pass: group by alias, count entities,
    flag aliases covering more than one entity (6 hex chars = 2^24 space;
    at real entity cardinality you widen the prefix until this query's
    collision column is all false — the audit is how you prove the width
    is sufficient, and the exact integer output makes the check
    hash-stable).

    Scale plan: entity extraction is a union of projections off the KG
    artifact (dimension-sized after distinct); the audit is one groupBy
    over the alias key. No corpus-scale work at all."""
    from cliner_spark.queries_r2 import cached_triples

    tr = cached_triples(spark, sf_dir)
    ment = (
        tr.filter(F.col("pred") == "SAME_AS")
        .select(F.col("subj").alias("entity"))
        .union(tr.filter(F.col("pred") == "SAME_AS").select(F.col("obj").alias("entity")))
        .union(tr.filter(F.col("pred") == "MENTIONS").select(F.col("obj").alias("entity")))
        .distinct()
    )
    al = ment.select(
        "entity",
        F.concat(F.lit("ENT_"), F.substring(F.md5("entity"), 1, 6)).alias("alias"),
    )
    return al.groupBy("alias").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entities"),
        F.min("entity").alias("example_entity"),
        (F.count(F.lit(1)) > 1).alias("collision"),
    )


@_register_r3(
    "q_fk_integrity",
    """
SELECT 'lineitem.l_orderkey->orders' AS fk,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (o.o_orderkey IS NULL) AS BIGINT) AS n_orphans,
       CAST(count(DISTINCT CASE WHEN o.o_orderkey IS NULL
            THEN l.l_orderkey END) AS BIGINT) AS n_orphan_keys
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders.o_custkey->customer',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (c.c_custkey IS NULL) AS BIGINT),
       CAST(count(DISTINCT CASE WHEN c.c_custkey IS NULL
            THEN o.o_custkey END) AS BIGINT)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'customer.c_nationkey->nation',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (n.n_nationkey IS NULL) AS BIGINT),
       CAST(count(DISTINCT CASE WHEN n.n_nationkey IS NULL
            THEN c.c_nationkey END) AS BIGINT)
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'lineitem.l_partkey->part',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (p.p_partkey IS NULL) AS BIGINT),
       CAST(count(DISTINCT CASE WHEN p.p_partkey IS NULL
            THEN l.l_partkey END) AS BIGINT)
FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (s.s_suppkey IS NULL) AS BIGINT),
       CAST(count(DISTINCT CASE WHEN s.s_suppkey IS NULL
            THEN l.l_suppkey END) AS BIGINT)
FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
""",
)
def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the warehouse star schema: for
    each declared FK edge, total rows, orphan rows (FK value with no parent
    key), and distinct orphan key values — the first gate an ingest runs
    before any join-based query is trusted (an orphan rate > 0 silently
    deflates every inner join downstream). All-integer output; a healthy
    load shows n_orphans = 0 on every row, so the hash check doubles as a
    fixture contract.

    Scale plan: each audit is a left join against a DIMENSION (orders/
    customer/nation/part/supplier keys) — broadcastable or bucket-co-
    located; counts are map-side-combined. The fact table (lineitem) is
    scanned once per declared FK; production fuses the two lineitem audits
    into one scan with two broadcast probes, which Spark's AQE already
    does here (both dimension sides broadcast)."""
    li = load(spark, sf_dir, "lineitem")
    od = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer")
    na = load(spark, sf_dir, "nation")
    pa = load(spark, sf_dir, "part")
    su = load(spark, sf_dir, "supplier")

    def audit(fact, fk_col, dim, pk_col, label):
        j = fact.select(F.col(fk_col)).join(
            dim.select(F.col(pk_col)), fact[fk_col] == dim[pk_col], "left"
        )
        orphan = F.col(pk_col).isNull()
        return j.agg(
            F.lit(label).alias("fk"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(orphan.cast("long")).cast("bigint").alias("n_orphans"),
            F.countDistinct(F.when(orphan, F.col(fk_col)))
            .cast("bigint")
            .alias("n_orphan_keys"),
        ).select("fk", "n_rows", "n_orphans", "n_orphan_keys")

    return (
        audit(li, "l_orderkey", od, "o_orderkey", "lineitem.l_orderkey->orders")
        .unionAll(audit(od, "o_custkey", cu, "c_custkey", "orders.o_custkey->customer"))
        .unionAll(audit(cu, "c_nationkey", na, "n_nationkey", "customer.c_nationkey->nation"))
        .unionAll(audit(li, "l_partkey", pa, "p_partkey", "lineitem.l_partkey->part"))
        .unionAll(audit(li, "l_suppkey", su, "s_suppkey", "lineitem.l_suppkey->supplier"))
    )


# --------------------------------------------------------------------------
# Round 3v (batch 19): monitoring + forensic audits — exact-integer CUSUM
# changepoint localization over the daily event series, and a Benford
# first-digit audit over order totals. Zero float surface in either.
# --------------------------------------------------------------------------


@_register_r3(
    "q_cusum_changepoint",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
spine AS (
  SELECT CAST(g.gs AS DATE) AS day
  FROM b, unnest(generate_series(b.dmin, b.dmax, INTERVAL 1 DAY)) AS g(gs)
),
dense AS (
  SELECT s.day, coalesce(d.x, 0) AS x
  FROM spine s LEFT JOIN daily d USING (day)
),
c AS (
  SELECT day, x,
         CAST(sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_k,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(x) OVER () AS BIGINT) AS t
  FROM dense
),
cu AS (
  SELECT day, x, n * s_k - k * t AS cusum_num,
         row_number() OVER (ORDER BY abs(n * s_k - k * t) DESC, day ASC) AS pr
  FROM c
)
SELECT CAST(day AS VARCHAR) AS day, x,
       CAST(cusum_num AS BIGINT) AS cusum_num, (pr = 1) AS is_peak
FROM cu
""",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer CUSUM changepoint localization over the daily event
    volume: with S_k the prefix sum and T/n the series total/length, the
    classic CUSUM deviation S_k - k*(T/n) is scaled by n to the INTEGER
    n*S_k - k*T (same argmax, no division), and the changepoint is the
    day maximizing |cusum_num| (ties -> earliest day). Zero-filled dense
    day grid so silent outage days shift the peak exactly like traffic
    spikes do — the monitoring primitive that localizes WHEN drift
    started, complementing q_ks_drift (which only says THAT two windows
    differ) and q_moving_zscore (pointwise outliers, not level shifts).

    Scale plan: one map-side-combined daily rollup, then every window
    runs on the |days|-sized frame (dimension, not corpus). Production
    partitions the same windows by key for per-tenant changepoints."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    b = daily.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    spine = b.select(
        F.explode(F.sequence("dmin", "dmax", F.expr("interval 1 day"))).alias("day")
    )
    dense = spine.join(daily, "day", "left").select(
        "day", F.coalesce("x", F.lit(0)).cast("bigint").alias("x")
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    c = dense.select(
        "day",
        "x",
        F.sum("x").over(wcum).cast("bigint").alias("s_k"),
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("k"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum("x").over(wall).cast("bigint").alias("t"),
    )
    cu = c.select(
        "day",
        "x",
        (F.col("n") * F.col("s_k") - F.col("k") * F.col("t")).alias("cusum_num"),
    ).withColumn(
        "pr",
        F.row_number().over(Window.orderBy(F.abs(F.col("cusum_num")).desc(), F.asc("day"))),
    )
    return cu.select(
        # ISO string on both engines: the harness's pandas bridge widens a
        # DuckDB DATE to datetime64 (…T00:00:00) while Spark keeps date
        F.col("day").cast("string").alias("day"),
        "x",
        F.col("cusum_num").cast("bigint").alias("cusum_num"),
        (F.col("pr") == 1).alias("is_peak"),
    )


@_register_r3(
    "q_benford_audit",
    """
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders WHERE o_totalprice > 0
),
d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM cents)
SELECT digit,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(count(*)) OVER () AS BIGINT) AS n_total
FROM d GROUP BY digit
""",
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of order totals — the
    classic forensic screen for fabricated or truncated monetary data
    (organic multiplicative amounts follow P(d) = log10(1+1/d); a flat or
    spiked digit histogram flags synthetic injection or a capped field).
    The digit is extracted with integer/string algebra only (2-dp doubles
    -> exact BIGINT cents -> leading char), so the histogram is engine-
    exact; the consumer compares n_orders/n_total per digit against the
    Benford curve with whatever test it prefers — the sufficient
    statistics here are exact.

    Scale plan: stateless per-row digit extraction + one 9-key groupBy;
    the windowed total runs on the 9-row result. Nothing scales past the
    single fact-table scan."""
    od = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = od.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    g = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    return g.select(
        "digit",
        "n_orders",
        F.sum("n_orders").over(Window.partitionBy()).cast("bigint").alias("n_total"),
    )


# --------------------------------------------------------------------------
# Round 3w (batch 20): interval concurrency sweep — peak simultaneous user
# activity via the classic +1/-1 boundary-point scan. Exact integers.
# --------------------------------------------------------------------------


@_register_r3(
    "q_concurrency_peak",
    """
WITH spans AS (
  SELECT user_id, min(ts) AS t0, max(ts) AS t1
  FROM events GROUP BY user_id
),
pts AS (
  SELECT user_id, t0 AS ts, 1 AS delta FROM spans
  UNION ALL
  SELECT user_id, t1, -1 FROM spans
),
sweep AS (
  SELECT user_id, ts, delta,
         CAST(sum(delta) OVER (
           ORDER BY ts, delta DESC, user_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS concurrency
  FROM pts
),
rk AS (
  SELECT user_id, ts, delta, concurrency,
         row_number() OVER (
           ORDER BY concurrency DESC, ts ASC, delta DESC, user_id ASC) AS pr
  FROM sweep
)
SELECT user_id, ts, CAST(delta AS INTEGER) AS delta, concurrency,
       (pr = 1) AS is_peak
FROM rk
""",
)
def q_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-concurrency sweep over user activity spans: each user's
    [first event, last event] interval contributes a +1 boundary at its
    start and a -1 at its end; sorting ALL boundaries by (ts, starts
    before ends, user_id) and running-summing the deltas gives the exact
    number of simultaneously-active users at every boundary instant —
    the capacity/staffing statistic (peak flagged, earliest-instant tie
    rule). The total order includes user_id so equal-timestamp boundaries
    have one deterministic scan order — without it the intermediate
    concurrency values would be permutation-dependent.

    Scale plan: spans are one map-side-combined groupBy; the sweep is a
    single window over the 2x|users| boundary frame (dimension-sized).
    Production partitions the sweep by calendar shard and stitches with
    per-shard carry-in offsets — the same distributed-prefix-sum shape as
    q_pps_sample's token grid."""
    ev = load(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    pts = spans.select(
        "user_id", F.col("t0").alias("ts"), F.lit(1).alias("delta")
    ).unionAll(
        spans.select("user_id", F.col("t1").alias("ts"), F.lit(-1).alias("delta"))
    )
    wsweep = Window.orderBy(
        F.asc("ts"), F.desc("delta"), F.asc("user_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sweep = pts.select(
        "user_id", "ts", "delta",
        F.sum("delta").over(wsweep).cast("bigint").alias("concurrency"),
    )
    rk = sweep.withColumn(
        "pr",
        F.row_number().over(
            Window.orderBy(
                F.desc("concurrency"), F.asc("ts"), F.desc("delta"), F.asc("user_id")
            )
        ),
    )
    return rk.select(
        "user_id", "ts", F.col("delta").cast("int").alias("delta"),
        "concurrency", (F.col("pr") == 1).alias("is_peak"),
    )


# --------------------------------------------------------------------------
# Round 3x (batch 21): embedding-space label-quality audit — within-class
# scatter sufficient statistics in exact fixed-point BIGINT arithmetic.
# --------------------------------------------------------------------------


@_register_r3(
    "q_class_scatter",
    """
WITH fx AS (
  SELECT e.vec_id, e.label, t.i,
         CAST(round(CAST(e.embedding[t.i + 1] AS DOUBLE) * 1000000)
              AS BIGINT) AS v
  FROM embeddings e, unnest(range(64)) AS t(i)
),
pt AS (
  SELECT vec_id, label, CAST(sum(v * v) AS BIGINT) AS norm2
  FROM fx GROUP BY 1, 2
),
dimsum AS (
  SELECT label, i, CAST(sum(v) AS BIGINT) AS s
  FROM fx GROUP BY 1, 2
),
agg AS (
  SELECT p.label,
         CAST(count(*) AS BIGINT) AS n_points,
         CAST(sum(p.norm2) AS BIGINT) AS sum_norm2
  FROM pt p GROUP BY 1
),
cs AS (
  SELECT label, CAST(sum(s * s) AS BIGINT) AS norm2_of_sum
  FROM dimsum GROUP BY 1
)
SELECT a.label, a.n_points, a.sum_norm2, c.norm2_of_sum,
       CAST(a.n_points * a.sum_norm2 - c.norm2_of_sum AS BIGINT) AS within_num
FROM agg a JOIN cs c USING (label)
""",
)
def q_class_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-class scatter of the embedding space per label, as EXACT
    sufficient statistics: coordinates are fixed-pointed to BIGINT
    (round(x*10^6) — float32 inputs carry < 7 significant digits, so the
    quantization is lossless in practice and, crucially, engine-exact),
    and the identity sum_i ||v_i - mu||^2 = (n*sum_i ||v_i||^2 -
    ||sum_i v_i||^2)/n turns the scatter into pure integer arithmetic:
    within_num = n*sum_norm2 - norm2_of_sum = n^2 x the within-class
    variance mass. Comparing within_num/n_points^2 across labels (and
    against the same statistic with labels shuffled) is the standard
    label-quality / cluster-tightness audit before trusting the label
    column for hard-negative mining (q_hard_negatives) or classifier
    training — all derivable downstream with exact rationals.

    Scale plan: one posexplode scan (64 rows per vector, map-side
    partial-agg on both groupBys — integer sums are commutative-exact, so
    no ordering concerns), label-dimension join at the end. No windows,
    no carries, no floats."""
    emb = load(spark, sf_dir, "embeddings")
    fx = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("i", "x"),
    ).select(
        "vec_id", "label", "i",
        F.round(F.col("x").cast("double") * 1000000).cast("bigint").alias("v"),
    )
    pt = fx.groupBy("vec_id", "label").agg(
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("norm2")
    )
    dimsum = fx.groupBy("label", "i").agg(F.sum("v").cast("bigint").alias("s"))
    agg = pt.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("norm2").cast("bigint").alias("sum_norm2"),
    )
    cs = dimsum.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("norm2_of_sum")
    )
    return agg.join(cs, "label").select(
        "label", "n_points", "sum_norm2", "norm2_of_sum",
        (F.col("n_points") * F.col("sum_norm2") - F.col("norm2_of_sum"))
        .cast("bigint")
        .alias("within_num"),
    )


# --------------------------------------------------------------------------
# Round 3y (batch 22): between-class scatter — the Fisher-ratio numerator
# companion of q_class_scatter, exact at a coarser fixed point chosen so
# the cross-multiplied integers stay inside BIGINT at gate scale.
# --------------------------------------------------------------------------


@_register_r3(
    "q_between_scatter",
    """
WITH fx AS (
  SELECT e.label, t.i,
         CAST(round(CAST(e.embedding[t.i + 1] AS DOUBLE) * 1000)
              AS BIGINT) AS v
  FROM embeddings e, unnest(range(64)) AS t(i)
),
dimsum AS (
  SELECT label, i, CAST(sum(v) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS nl
  FROM fx GROUP BY 1, 2
),
gl AS (
  SELECT i, CAST(sum(s) AS BIGINT) AS g, CAST(sum(nl) AS BIGINT) AS nt
  FROM dimsum GROUP BY i
),
diff AS (
  SELECT d.label, d.nl AS nl, g.nt AS nt,
         g.nt * d.s - d.nl * g.g AS dv
  FROM dimsum d JOIN gl g USING (i)
)
SELECT label,
       CAST(min(nl) AS BIGINT) AS n_points,
       CAST(min(nt) AS BIGINT) AS n_total,
       CAST(sum(dv * dv) AS BIGINT) AS between_num
FROM diff GROUP BY label
""",
)
def q_between_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Between-class scatter per label, exact: with per-dimension label
    sums s_l and the global sum S (both BIGINT at a round(1e3 * x)
    fixed point), between_num = ||N*s_l - n_l*S||^2 = N^2 * n_l^2 *
    ||mu_l - mu||^2 — the Fisher-ratio numerator whose denominator is
    q_class_scatter's within_num (consumers combine the two exactly:
    separability_l = between_num/(N^2 * within-side) in rationals). A
    label whose between_num is small relative to its within_num is
    indistinguishable from the global cloud — drop it from contrastive
    mining. The coarser 1e3 quantization (vs within's 1e6) keeps
    N*s_l squared-and-summed inside BIGINT at gate SFs; production on
    10^9+ vectors moves these two columns to DECIMAL(38,0), same plan.

    Scale plan: two map-side-combined integer groupBys (label x dim, then
    dim) and one dimension-sized join — commutative-exact integer sums
    throughout, no windows, no carries beyond the 1-row n_total broadcast.
    (the per-(label, dim) group has exactly n_l rows, so count(*) IS the
    true point count — no exploded-frame rescaling needed.)"""
    emb = load(spark, sf_dir, "embeddings")
    fx = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("i", "x")
    ).select(
        "label", "i",
        F.round(F.col("x").cast("double") * 1000).cast("bigint").alias("v"),
    )
    dimsum = fx.groupBy("label", "i").agg(
        F.sum("v").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("nl"),
    )
    glob = dimsum.groupBy("i").agg(
        F.sum("s").cast("bigint").alias("g"),
        F.sum("nl").cast("bigint").alias("nt"),
    )
    diff = dimsum.join(glob, "i").select(
        "label", "nl",
        (F.col("nt") * F.col("s") - F.col("nl") * F.col("g")).alias("dv"),
    )
    ntot = glob.agg(F.min("nt").cast("bigint").alias("n_total"))
    out = diff.groupBy("label").agg(
        F.min("nl").cast("bigint").alias("n_points"),
        F.sum(F.col("dv") * F.col("dv")).cast("bigint").alias("between_num"),
    )
    return out.join(F.broadcast(ntot)).select(
        "label", "n_points", "n_total", "between_num"
    )


# --------------------------------------------------------------------------
# Round 3z (batch 23): multi-probe LSH — the probes-not-tables recall
# upgrade every at-scale LSH deployment uses (Lv et al., VLDB 2007).
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import SQL_EMB, _sql_cos, _sql_lsh_buckets  # noqa: E402


@_register_r3(
    "q_lsh_multiprobe",
    f"""
WITH {SQL_EMB},
{_sql_lsh_buckets(8).strip()},
qp AS (
  SELECT e.vec_id AS query_id, w.p,
         abs(round(list_sum(list_transform(range(64),
             i -> e.v[i + 1] * w.wv[i + 1])), 6)) AS ap
  FROM e, w WHERE e.vec_id < 20
),
flip AS (
  SELECT query_id, p FROM (
    SELECT query_id, p,
           row_number() OVER (PARTITION BY query_id
                ORDER BY ap ASC, p ASC) AS pr
    FROM qp
  ) WHERE pr <= 2
),
qb AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 20),
probes AS (
  SELECT query_id, qv, bucket AS probe FROM qb
  UNION ALL
  SELECT q.query_id, q.qv, xor(q.bucket, (CAST(1 AS BIGINT) << f.p))
  FROM qb q JOIN flip f USING (query_id)
),
cand AS (
  SELECT pr.query_id, pr.qv, c.vec_id AS neighbor_id, c.v AS cv
  FROM probes pr JOIN b c ON c.bucket = pr.probe
  WHERE c.vec_id <> pr.query_id
)
SELECT query_id, neighbor_id, sim, rn FROM (
  SELECT query_id, neighbor_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rn
  FROM (SELECT query_id, neighbor_id, {_sql_cos('qv', 'cv')} AS sim FROM cand)
) WHERE rn <= 3
""",
)
def q_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-3 for queries vec_id < 20: each query probes its
    own bucket PLUS the two buckets reached by flipping its two lowest-
    |projection| hyperplane bits (the signs most likely wrong for true
    neighbors), then exact-reranks the union — recall comparable to 3 hash
    tables at 1x index storage. Candidate buckets are distinct XOR offsets
    so the union needs no dedup; every projection is rounded-6, making
    bucket ids, flip choices, and the rerank engine-reproducible (fully
    hash-checked, like q_embedding_lsh_topk). Compare the two queries'
    rows: multiprobe's candidate pool strictly contains single-probe's.

    Scale plan: same equi-join-on-bucket shape as single-probe LSH with a
    3x probe fanout on the (tiny, broadcast) query side only — the corpus
    is still hashed once and shuffled once on bucket id."""
    from cliner_spark import similarity as _sim_mod
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    return _sim_mod.lsh_multiprobe_topk(
        emb, F.col("vec_id") < 20, k=3, n_planes=8, n_flip=2
    )


# --------------------------------------------------------------------------
# Round 3aa (batch 24): IVF-PQ end-to-end — the FAISS IVFADC stack (coarse
# cell pruning + code-only asymmetric scoring) as three joins, fully
# hash-checkable via the seeded quantizer + seeded codebook.
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import SQL_SEEDED_TOPK  # noqa: E402


@_register_r3(
    "q_ivfpq_topk",
    f"""
WITH {_PQ_SQL_BASE.strip()},
{SQL_SEEDED_TOPK.strip()},
qq AS (SELECT DISTINCT query_id, qv FROM sprobes),
qlut AS (
  SELECT q.query_id, c.m, c.code,
         round(list_sum(list_transform(range(16),
               i -> (q.qv[c.m * 16 + i + 1] - c.sv[i + 1])
                  * (q.qv[c.m * 16 + i + 1] - c.sv[i + 1]))), 6) AS d
  FROM qq q, cb c
),
candp AS (
  SELECT p.query_id, s.vec_id AS neighbor_id
  FROM sprobes p JOIN scells s USING (cell)
  WHERE s.vec_id <> p.query_id
),
paird AS (
  SELECT c.query_id, c.neighbor_id, b.m, l.d
  FROM candp c
  JOIN best b ON b.vec_id = c.neighbor_id
  JOIN qlut l ON l.query_id = c.query_id AND l.m = b.m AND l.code = b.code
),
adist AS (
  SELECT query_id, neighbor_id,
         round(((max(CASE WHEN m = 0 THEN d END)
               + max(CASE WHEN m = 1 THEN d END))
               + max(CASE WHEN m = 2 THEN d END))
               + max(CASE WHEN m = 3 THEN d END), 6) AS adist
  FROM paird GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adist, rn FROM (
  SELECT query_id, neighbor_id, adist,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY adist ASC, neighbor_id ASC) AS INTEGER) AS rn
  FROM adist
) WHERE rn <= 3
""",
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS IVFADC) end-to-end for queries vec_id < 20: the
    seeded IVF quantizer prunes candidates to each query's 4 best cells
    (of 16), then PQ asymmetric distance ranks the survivors from their
    4x3-bit CODES via the per-query lookup table — raw corpus vectors are
    touched only at index build. This is the composition every production
    vector store deploys (q_embedding_ivf_seeded = IVF alone with exact
    rerank; q_pq_adc_topk = ADC alone over the full corpus; this query =
    both prunings stacked), and because both components are md5-seeded it
    stays fully hash-checked — the approximate result is engine-exact.

    Scale plan: candidates arrive by equi-join on cell (partition-pruned
    at 10^12 rows via the cell-partitioned index artifact), the probe
    spine and codebook broadcast, and scoring is n_sub LUT lookups per
    candidate inside whole-stage codegen."""
    from cliner_spark import similarity as _sim_mod
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    return _sim_mod.ivfpq_seeded_topk(
        emb, F.col("vec_id") < 20, k=3, n_lists=16, n_probe=4
    )


# --------------------------------------------------------------------------
# Round 3ab (batch 25): the ANN family leaderboard — recall@3 of every
# approximate method in the suite against the exact top-3, one exact-integer
# row per method. The single table a platform team reads to pick its
# operating point (and the regression gate that catches any index change).
# --------------------------------------------------------------------------


from cliner_spark.entry_queries import SQL_RESIDUAL_CTES  # noqa: E402

@_register_r3(
    "q_ann_leaderboard",
    f"""
WITH {_PQ_SQL_BASE.strip()},
{SQL_SEEDED_TOPK.strip()},
{_sql_lsh_buckets(8).strip()},
{SQL_EXACT_TOPK.strip()},
{SQL_RESIDUAL_CTES.strip()},
rk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY adist ASC, neighbor_id ASC) AS rn
    FROM radist
  ) WHERE rn <= 3
),
lsh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                ORDER BY {_sql_cos('q.v', 'c.v')} DESC, c.vec_id ASC) AS rn
    FROM b c JOIN b q ON c.bucket = q.bucket
    WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
  ) WHERE rn <= 3
),
mq_flip AS (
  SELECT query_id, p FROM (
    SELECT e.vec_id AS query_id, w.p,
           row_number() OVER (PARTITION BY e.vec_id
                ORDER BY abs(round(list_sum(list_transform(range(64),
                      i -> e.v[i + 1] * w.wv[i + 1])), 6)) ASC, w.p ASC) AS pr
    FROM e, w WHERE e.vec_id < 20
  ) WHERE pr <= 2
),
mq_qb AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 20),
mq_probes AS (
  SELECT query_id, qv, bucket AS probe FROM mq_qb
  UNION ALL
  SELECT q.query_id, q.qv, xor(q.bucket, (CAST(1 AS BIGINT) << f.p))
  FROM mq_qb q JOIN mq_flip f USING (query_id)
),
mpk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT pr.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY pr.query_id
                ORDER BY {_sql_cos('pr.qv', 'c.v')} DESC, c.vec_id ASC) AS rn
    FROM mq_probes pr JOIN b c ON c.bucket = pr.probe
    WHERE c.vec_id <> pr.query_id
  ) WHERE rn <= 3
),
qq AS (SELECT DISTINCT query_id, qv FROM sprobes),
qlut AS (
  SELECT q.query_id, c.m, c.code,
         round(list_sum(list_transform(range(16),
               i -> (q.qv[c.m * 16 + i + 1] - c.sv[i + 1])
                  * (q.qv[c.m * 16 + i + 1] - c.sv[i + 1]))), 6) AS d
  FROM qq q, cb c
),
pq_paird AS (
  SELECT l.query_id, b2.vec_id AS neighbor_id, b2.m, l.d
  FROM best b2 JOIN qlut l ON l.m = b2.m AND l.code = b2.code
  WHERE l.query_id <> b2.vec_id
),
pq_adist AS (
  SELECT query_id, neighbor_id,
         round(((max(CASE WHEN m = 0 THEN d END)
               + max(CASE WHEN m = 1 THEN d END))
               + max(CASE WHEN m = 2 THEN d END))
               + max(CASE WHEN m = 3 THEN d END), 6) AS adist
  FROM pq_paird GROUP BY 1, 2
),
pqk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY adist ASC, neighbor_id ASC) AS rn
    FROM pq_adist
  ) WHERE rn <= 3
),
ivf_candp AS (
  SELECT p.query_id, s.vec_id AS neighbor_id
  FROM sprobes p JOIN scells s USING (cell)
  WHERE s.vec_id <> p.query_id
),
ivf_paird AS (
  SELECT c.query_id, c.neighbor_id, b3.m, l.d
  FROM ivf_candp c
  JOIN best b3 ON b3.vec_id = c.neighbor_id
  JOIN qlut l ON l.query_id = c.query_id AND l.m = b3.m AND l.code = b3.code
),
ivf_adist AS (
  SELECT query_id, neighbor_id,
         round(((max(CASE WHEN m = 0 THEN d END)
               + max(CASE WHEN m = 1 THEN d END))
               + max(CASE WHEN m = 2 THEN d END))
               + max(CASE WHEN m = 3 THEN d END), 6) AS adist
  FROM ivf_paird GROUP BY 1, 2
),
ivfk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY adist ASC, neighbor_id ASC) AS rn
    FROM ivf_adist
  ) WHERE rn <= 3
),
allm AS (
  SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
  UNION ALL SELECT 'lsh_multiprobe', query_id, neighbor_id FROM mpk
  UNION ALL SELECT 'ivf_seeded', query_id, neighbor_id FROM seeded
  UNION ALL SELECT 'pq_adc', query_id, neighbor_id FROM pqk
  UNION ALL SELECT 'ivfpq', query_id, neighbor_id FROM ivfk
  UNION ALL SELECT 'ivfpq_residual', query_id, neighbor_id FROM rk
),
hits AS (
  SELECT a.method, CAST(count(*) AS BIGINT) AS n
  FROM allm a JOIN exact x
    ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
  GROUP BY 1
)
SELECT m.method,
       CAST(coalesce(h.n, 0) AS BIGINT) AS hits,
       (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact
FROM (SELECT 'lsh' AS method UNION ALL SELECT 'lsh_multiprobe'
      UNION ALL SELECT 'ivf_seeded' UNION ALL SELECT 'pq_adc'
      UNION ALL SELECT 'ivfpq' UNION ALL SELECT 'ivfpq_residual') m
LEFT JOIN hits h USING (method)
""",
)
def q_ann_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 leaderboard of the full ANN family against the exact
    brute-force top-3 for queries vec_id < 20: single-bucket LSH,
    multi-probe LSH, seeded IVF (exact rerank inside probed cells),
    full-corpus PQ-ADC, and composed IVF-PQ — one exact-integer
    (hits, n_exact) row per method. Expected ordering at any scale:
    ivf_seeded >= ivfpq (same candidates, exact vs quantized scoring),
    lsh_multiprobe >= lsh (superset candidates). This is the regression
    gate for every index change — any codebook, plane, or seeding edit
    shows up as an integer delta here before it ships.

    Scale plan: each method is its own already-audited plan (see the
    individual queries); the leaderboard adds one union + one equi-join
    against the 60-row exact set and a 5-row method spine."""
    from cliner_spark import similarity as _sm
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    flt = F.col("vec_id") < 20
    # one codebook build shared by pq_adc and ivfpq — each build costs 4
    # driver-side orderBy/limit jobs over the embeddings (round-3 ADVICE)
    cb = _sm.pq_codebook(emb)
    cb_methods = {
        "lsh": _sm.lsh_topk(emb, flt, k=3, n_planes=8),
        "lsh_multiprobe": _sm.lsh_multiprobe_topk(emb, flt, k=3, n_planes=8),
        "ivf_seeded": _sm.ivf_seeded_topk(emb, flt, k=3, n_lists=16, n_probe=4),
        "pq_adc": _sm.pq_adc_topk(emb, cb, flt, k=3),
        "ivfpq": _sm.ivfpq_seeded_topk(
            emb, flt, k=3, n_lists=16, n_probe=4, codebook=cb
        ),
        "ivfpq_residual": _sm.ivfpq_residual_topk(
            emb, flt, k=3, n_lists=16, n_probe=4
        ),
    }
    exact = (
        _sm.brute_force_topk(emb, flt, k=3)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    allm = None
    for name, df in cb_methods.items():
        part = df.select(
            F.lit(name).alias("method"), "query_id", "neighbor_id"
        )
        allm = part if allm is None else allm.unionAll(part)
    hits = allm.join(exact, ["query_id", "neighbor_id"]).groupBy("method").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    spine = emb.sparkSession.createDataFrame(
        [(m,) for m in cb_methods], "method string"
    )
    n_exact = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    return (
        spine.join(hits, "method", "left")
        .select(
            "method", F.coalesce("n", F.lit(0)).cast("bigint").alias("hits")
        )
        .join(F.broadcast(n_exact))
    )


# --------------------------------------------------------------------------
# Round 3ac (batch 26): node2vec biased-walk transition table — the
# preprocessing step of graph-embedding training (Grover & Leskovec 2016),
# expressed as joins with exact integer weights.
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import SQL_DOCS_TOKS  # noqa: E402
from cliner_spark.queries_r2 import SQL_DOCPAIR_GRAPH as _DPG  # noqa: E402


@_register_r3(
    "q_node2vec_weights",
    f"""
WITH {SQL_DOCS_TOKS.strip()},
{_DPG.strip()},
ed AS (
  SELECT lo AS src, hi AS dst FROM ge
  UNION ALL SELECT hi, lo FROM ge
),
tri AS (
  SELECT p.src AS prev, p.dst AS cur, n.dst AS nxt
  FROM ed p JOIN ed n ON n.src = p.dst
),
wts AS (
  SELECT t.prev, t.cur, t.nxt,
         CAST(CASE WHEN t.nxt = t.prev THEN 2
                   WHEN pn.src IS NOT NULL THEN 3
                   ELSE 1 END AS BIGINT) AS w
  FROM tri t
  LEFT JOIN ed pn ON pn.src = t.prev AND pn.dst = t.nxt
)
SELECT prev, cur, nxt, w,
       CAST(sum(w) OVER (PARTITION BY prev, cur) AS BIGINT) AS z
FROM wts
""",
)
def q_node2vec_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec second-order transition table over the doc-similarity
    graph: for every walk state (prev -> cur) and every neighbor nxt of
    cur, the unnormalized integer weight w = 2 if nxt returns to prev,
    3 if nxt is also adjacent to prev (BFS-ish, stays local), 1 otherwise
    (DFS-ish, explores) — the integer cross-multiplied form of the paper's
    1/p, 1, 1/q with (p, q) = (3/2, 3); z = the per-(prev, cur)
    normalizer, so the sampler draws nxt with probability w/z using exact
    rationals. This table IS node2vec preprocessing: a walker needs one
    hash lookup per step, and the (alias-table) build consumes exactly
    these rows. The adjacency test is a LEFT JOIN against the directed
    edge list (no per-row set lookup).

    Scale plan: the wedge join (ed x ed on the shared endpoint) is the
    triangle-counting shape — bounded by sum deg^2, which the df-cut on
    the underlying similarity graph already caps; the normalizer is a
    window over each (prev, cur) group, co-partitioned with the join
    output so no extra shuffle."""
    edges = _docpair_edges(spark, sf_dir)
    ed = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    p = ed.select(F.col("src").alias("prev"), F.col("dst").alias("cur"))
    n = ed.select(F.col("src").alias("cur"), F.col("dst").alias("nxt"))
    tri = p.join(n, "cur")
    pn = ed.select(
        F.col("src").alias("prev"), F.col("dst").alias("nxt"), F.lit(1).alias("adj")
    )
    wts = tri.join(pn, ["prev", "nxt"], "left").select(
        "prev", "cur", "nxt",
        F.when(F.col("nxt") == F.col("prev"), 2)
        .when(F.col("adj").isNotNull(), 3)
        .otherwise(1)
        .cast("bigint")
        .alias("w"),
    )
    return wts.select(
        "prev", "cur", "nxt", "w",
        F.sum("w").over(Window.partitionBy("prev", "cur")).cast("bigint").alias("z"),
    )


# --------------------------------------------------------------------------
# Round 3ad (batch 27): materialized second-order biased walks — node2vec's
# actual training corpus, sampled deterministically from the transition
# table by integer cumulative-weight crossing (md5-seeded, replayable).
# --------------------------------------------------------------------------


@_register_r3(
    "q_node2vec_walks",
    f"""
WITH {SQL_DOCS_TOKS.strip()},
{_DPG.strip()},
ed AS (
  SELECT lo AS src, hi AS dst FROM ge
  UNION ALL SELECT hi, lo FROM ge
),
adj AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rank,
         count(*) OVER (PARTITION BY src) AS deg
  FROM ed
),
tri AS (
  SELECT p.src AS prev, p.dst AS cur, n.dst AS nxt
  FROM ed p JOIN ed n ON n.src = p.dst
),
wts AS (
  SELECT t.prev, t.cur, t.nxt,
         CAST(CASE WHEN t.nxt = t.prev THEN 2
                   WHEN pn.src IS NOT NULL THEN 3
                   ELSE 1 END AS BIGINT) AS w
  FROM tri t
  LEFT JOIN ed pn ON pn.src = t.prev AND pn.dst = t.nxt
),
cw AS (
  SELECT prev, cur, nxt, w,
         CAST(sum(w) OVER (PARTITION BY prev, cur
              ORDER BY nxt ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(w) OVER (PARTITION BY prev, cur) AS BIGINT) AS z
  FROM wts
),
s0 AS (SELECT DISTINCT src AS walk_start FROM ed),
s1 AS (
  SELECT f.walk_start, a.dst AS step_1
  FROM s0 f JOIN adj a ON a.src = f.walk_start
  WHERE a.rank = CAST(('0x' || substr(md5(CAST(f.walk_start AS VARCHAR)
        || '#1'), 1, 4)) AS BIGINT) % a.deg
),
s2 AS (
  SELECT f.walk_start, f.step_1, c.nxt AS step_2
  FROM s1 f JOIN cw c ON c.prev = f.walk_start AND c.cur = f.step_1
  WHERE CAST(('0x' || substr(md5(CAST(f.walk_start AS VARCHAR) || '|'
        || CAST(f.step_1 AS VARCHAR) || '#2'), 1, 4)) AS BIGINT) % c.z
        BETWEEN c.cum - c.w AND c.cum - 1
),
s3 AS (
  SELECT f.walk_start, f.step_1, f.step_2, c.nxt AS step_3
  FROM s2 f JOIN cw c ON c.prev = f.step_1 AND c.cur = f.step_2
  WHERE CAST(('0x' || substr(md5(CAST(f.step_1 AS VARCHAR) || '|'
        || CAST(f.step_2 AS VARCHAR) || '#3'), 1, 4)) AS BIGINT) % c.z
        BETWEEN c.cum - c.w AND c.cum - 1
)
SELECT walk_start, step_1, step_2, step_3 FROM s3
""",
)
def q_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The node2vec training corpus itself: one 3-step walk per node over
    the doc-similarity graph — step 1 uniform (md5 rank over neighbors,
    the q_kg_walks idiom), steps 2-3 SECOND-ORDER BIASED: the walker draws
    r = md5(prev|cur#step) mod z and picks the neighbor whose cumulative
    integer weight interval [cum-w, cum) contains r — exactly
    inverse-transform sampling from the q_node2vec_weights table, with
    zero RNG state, so any shard can regenerate any walk independently
    (the property a 10^12-edge walk corpus needs; stateful RNGs cannot
    shard). Every draw is exact integer arithmetic against the rounded
    table, hence fully hash-checked.

    Scale plan: each step is one equi-join on the walk state (prev, cur)
    against the cumulative table (co-partitioned with the weights build),
    and the per-state interval filter selects exactly one row per walk —
    walk count stays |V| through every step."""
    edges = _docpair_edges(spark, sf_dir)
    ed = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    wadj = Window.partitionBy("src").orderBy("dst")
    adj = ed.select(
        "src", "dst",
        (F.row_number().over(wadj) - 1).alias("rank"),
        F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
    )
    p = ed.select(F.col("src").alias("prev"), F.col("dst").alias("cur"))
    n = ed.select(F.col("src").alias("cur"), F.col("dst").alias("nxt"))
    pn = ed.select(
        F.col("src").alias("prev"), F.col("dst").alias("nxt"), F.lit(1).alias("adj")
    )
    wts = (
        p.join(n, "cur")
        .join(pn, ["prev", "nxt"], "left")
        .select(
            "prev", "cur", "nxt",
            F.when(F.col("nxt") == F.col("prev"), 2)
            .when(F.col("adj").isNotNull(), 3)
            .otherwise(1)
            .cast("bigint")
            .alias("w"),
        )
    )
    wcum = Window.partitionBy("prev", "cur").orderBy("nxt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cw = wts.select(
        "prev", "cur", "nxt", "w",
        F.sum("w").over(wcum).cast("bigint").alias("cum"),
        F.sum("w").over(Window.partitionBy("prev", "cur")).cast("bigint").alias("z"),
    )

    def _hex4(col):
        return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("bigint")

    s0 = ed.select(F.col("src").alias("walk_start")).distinct()
    s1 = (
        s0.join(adj, s0["walk_start"] == adj["src"])
        .filter(
            F.col("rank")
            == _hex4(F.concat(F.col("walk_start").cast("string"), F.lit("#1")))
            % F.col("deg")
        )
        .select("walk_start", F.col("dst").alias("step_1"))
    )
    r2 = _hex4(
        F.concat(
            F.col("walk_start").cast("string"), F.lit("|"),
            F.col("step_1").cast("string"), F.lit("#2"),
        )
    ) % F.col("z")
    s2 = (
        s1.join(
            cw,
            (cw["prev"] == s1["walk_start"]) & (cw["cur"] == s1["step_1"]),
        )
        .filter((r2 >= F.col("cum") - F.col("w")) & (r2 <= F.col("cum") - 1))
        .select("walk_start", "step_1", F.col("nxt").alias("step_2"))
    )
    r3 = _hex4(
        F.concat(
            F.col("step_1").cast("string"), F.lit("|"),
            F.col("step_2").cast("string"), F.lit("#3"),
        )
    ) % F.col("z")
    s3 = (
        s2.join(
            cw,
            (cw["prev"] == s2["step_1"]) & (cw["cur"] == s2["step_2"]),
        )
        .filter((r3 >= F.col("cum") - F.col("w")) & (r3 <= F.col("cum") - 1))
        .select("walk_start", "step_1", "step_2", F.col("nxt").alias("step_3"))
    )
    return s3


# Round-4 registrations chain off this module's tail (same pattern as
# queries_r2 -> queries_r3) so every import order stays cycle-safe.
from cliner_spark import queries_r4  # noqa: E402,F401
