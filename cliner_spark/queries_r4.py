"""Round-4 query registrations.

Same contract as queries_r2/r3: every @register pairs a Spark DataFrame plan
with a DuckDB ANSI-SQL oracle twin over the driver's parquet tables, column
names/types aligned on both sides. Imported from queries_r3's tail so the
chain entry_queries -> queries_r2 -> queries_r3 -> queries_r4 stays
cycle-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from cliner_spark.entry_queries import (  # noqa: F401
    REGISTRY,
    SQL_BEST_GAZ,
    SQL_DOCS_TOKS,
    SQL_KEPT_MENTIONS,
    SQL_LINKED,
    load,
    load_docs,
    register,
)
from cliner_spark.queries_r2 import SQL_DOCPAIR_GRAPH as _DPG4


# --------------------------------------------------------------------------
# Round 4b: residual IVF-PQ (round-3 verdict item 6) — PQ over residuals
# (x − cell centroid), the true FAISS IVFADC encoding. Oracle replays the
# full stack: seeded cells -> residual frames -> seeded residual codebook ->
# codes -> per-(query, probed-cell) LUT -> ADC ranking.
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import (  # noqa: E402
    SQL_EMB,
    SQL_RESIDUAL_CTES,
    SQL_SEEDED_TOPK,
)

_RESIDUAL_SQL_CTES = SQL_RESIDUAL_CTES


@register(
    "q_ivfpq_residual_topk",
    f"""
WITH {SQL_EMB.strip()},
{SQL_SEEDED_TOPK.strip()},
{_RESIDUAL_SQL_CTES.strip()}
SELECT query_id, neighbor_id, adist, rn FROM (
  SELECT query_id, neighbor_id, adist,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY adist ASC, neighbor_id ASC) AS INTEGER) AS rn
  FROM radist
) WHERE rn <= 3
""",
)
def q_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ top-3 for queries vec_id < 20 — the true FAISS
    IVFADC encoding (Jégou et al. 2011): codes quantize x − anchor(cell)
    rather than x (anchor = the exact integer-micro-unit cell MEAN; see
    similarity.cell_mean_anchors for why the seeded representative vector
    is the wrong residual origin), and each query is scored in the
    residual frame of every
    probed cell via one per-cell LUT. Same candidate pruning and code
    budget as q_ivfpq_topk, strictly better use of the codewords (they
    model within-cell detail instead of re-encoding cell position).

    Scale plan: identical cell-equi-join shape as q_ivfpq_topk — residual
    formation is one broadcast join at index build; the per-(query, cell)
    residual probe spine is n_probe rows per query, broadcast. Raw vectors
    never read at query time."""
    from cliner_spark import similarity as _sim_mod
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    return _sim_mod.ivfpq_residual_topk(
        emb, F.col("vec_id") < 20, k=3, n_lists=16, n_probe=4
    )


@register(
    "q_pq_residual_gain",
    f"""
WITH {SQL_EMB.strip()},
{SQL_SEEDED_TOPK.strip()},
{SQL_RESIDUAL_CTES.strip()},
sub AS (
  SELECT m.m, e.vec_id, e.v[m.m * 16 + 1 : m.m * 16 + 16] AS sv
  FROM e, (SELECT unnest(range(4)) AS m) m
),
cbr AS (
  SELECT m, sv,
         CAST(row_number() OVER (PARTITION BY m
              ORDER BY md5(m::VARCHAR || '#' || vec_id::VARCHAR), vec_id)
              AS INTEGER) - 1 AS code
  FROM sub
  QUALIFY code < 8
),
dist AS (
  SELECT s.vec_id, s.m,
         round(list_sum(list_transform(range(16),
               i -> (s.sv[i + 1] - c.sv[i + 1]) * (s.sv[i + 1] - c.sv[i + 1]))),
               6) AS d,
         row_number() OVER (PARTITION BY s.vec_id, s.m
              ORDER BY round(list_sum(list_transform(range(16),
                    i -> (s.sv[i + 1] - c.sv[i + 1])
                       * (s.sv[i + 1] - c.sv[i + 1]))), 6) ASC, c.code ASC)
              AS rn
  FROM sub s JOIN cbr c USING (m)
),
raw_rec AS (
  SELECT vec_id,
         round(((max(CASE WHEN m = 0 THEN d END)
               + max(CASE WHEN m = 1 THEN d END))
               + max(CASE WHEN m = 2 THEN d END))
               + max(CASE WHEN m = 3 THEN d END), 6) AS recon_err
  FROM dist WHERE rn = 1 GROUP BY vec_id
),
res_rec AS (
  SELECT vec_id,
         round(((max(CASE WHEN m = 0 THEN d END)
               + max(CASE WHEN m = 1 THEN d END))
               + max(CASE WHEN m = 2 THEN d END))
               + max(CASE WHEN m = 3 THEN d END), 6) AS recon_err
  FROM rbestd GROUP BY vec_id
)
SELECT 'raw' AS encoding,
       CAST(sum(CAST(round(recon_err * 1e6) AS BIGINT)) AS BIGINT)
         AS distortion_micro,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM raw_rec
UNION ALL
SELECT 'residual',
       CAST(sum(CAST(round(recon_err * 1e6) AS BIGINT)) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM res_rec
""",
)
def q_pq_residual_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantization-distortion ledger raw-PQ vs residual-PQ: total
    reconstruction error (exact BIGINT micro-units, order-independent sum)
    of encoding the corpus with the same 4x3-bit budget, (a) on raw
    vectors, (b) on residuals to the exact cell-mean anchors. This is the
    deterministic form of the IVFADC claim — residual encoding spends the
    code budget on within-cell detail — and the table that justified the
    round-4 anchor fix: anchoring at the seeded representative VECTOR
    (a point on the sphere, not a mean) made distortion 35-48% WORSE;
    mean anchors recover a 5-10% reduction on this corpus (tests assert
    residual < raw).

    Scale plan: two corpus-scan encodings (each a narrow codegen
    projection with the codebook inlined) + one map-side-combinable
    (cell, dim) aggregation for anchors; output is 2 rows."""
    from cliner_spark import similarity as _sim_mod
    from cliner_spark.session import ensure_parallelism

    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    cb = _sim_mod.pq_codebook(emb)
    raw = _sim_mod.pq_codes(emb, cb)
    cents, assigned = _sim_mod.seeded_cells(emb, 16)
    anchors = _sim_mod.cell_mean_anchors(assigned)
    res = assigned.join(F.broadcast(anchors), "cell").select(
        F.col("vec_id"),
        F.zip_with(
            F.col("embedding"), F.col("anchor"), lambda x, y: x.cast("double") - y
        ).alias("_rv"),
    )
    rcb = _sim_mod.pq_codebook(res, vec_col="_rv")
    rcodes = _sim_mod.pq_codes(res, rcb, 64, "vec_id", "_rv")

    def _tot(codes: DataFrame, name: str) -> DataFrame:
        return codes.agg(
            F.sum(F.round(F.col("recon_err") * 1e6).cast("bigint"))
            .cast("bigint")
            .alias("distortion_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        ).select(F.lit(name).alias("encoding"), "distortion_micro", "n_vectors")

    return _tot(raw, "raw").unionAll(_tot(rcodes, "residual"))


# --------------------------------------------------------------------------
# Round 4o: graph / text — k-truss peel, longest common token run over
# near-dup pairs, and corpus BLEU between near-dup pairs.
# --------------------------------------------------------------------------


_LCS_SQL = f"""
WITH {SQL_DOCS_TOKS.strip()},
{_DPG4.strip()},
pg AS (
  SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
         lower(array_to_string(toks[t.i + 1 : t.i + 3], ' ')) AS shingle
  FROM docs, unnest(range(len(toks) - 2)) AS t(i)
  WHERE len(toks) >= 3
),
m AS (
  SELECT e.lo, e.hi, a.pos AS ia, b.pos AS ib
  FROM ge e
  JOIN pg a ON a.doc_id = e.lo
  JOIN pg b ON b.doc_id = e.hi AND b.shingle = a.shingle
),
r AS (
  SELECT lo, hi, ia,
         ia - row_number() OVER (PARTITION BY lo, hi, ia - ib ORDER BY ia)
           AS grp,
         ia - ib AS d
  FROM m
),
runs AS (
  SELECT lo, hi, count(*) AS run FROM r GROUP BY lo, hi, d, grp
)
SELECT lo, hi,
       CAST(max(run) AS BIGINT) AS max_run,
       CAST(max(run) + 2 AS BIGINT) AS lcs_tokens,
       CAST(sum(run) AS BIGINT) AS n_matches
FROM runs GROUP BY 1, 2
"""


@register("q_lcs_pairs", _LCS_SQL)
def q_lcs_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest common token run per near-dup candidate pair — the exact
    substring-dedup primitive (Lee et al. 2022 find verbatim cross-doc
    substrings; this is its pair-local form): positional 3-grams of both
    docs are joined on gram text, a match (ia, ib) lies on diagonal
    d = ia - ib, and a maximal run of consecutive positions on one
    diagonal (islands via the ia - row_number gap trick) of length L
    certifies a verbatim common token substring of L + 2 tokens. (ia, ib)
    pairs are unique by construction — positions are keys — so no
    dedup pass is needed.

    Scale plan: positional grams never leave their doc partition until
    the pair join, which is bounded by the candidate EDGE list (df-cut
    similarity graph), never corpus x corpus; per-pair match volume is
    O(len_a x len_b) only for true heavy clones — exactly the pairs worth
    the work. The diagonal window partitions by (pair, d) — small frames."""
    from cliner_spark.queries_r2 import _docpair_edges
    from cliner_spark.tokenization import tokens_col

    docs = load_docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    sh = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.struct(
                i.cast("bigint").alias("pos"),
                F.lower(F.concat_ws(" ", F.slice(toks, i + 1, 3))).alias(
                    "shingle"
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:bigint,shingle:string>>"))
    pg = docs.select("doc_id", F.explode(sh).alias("s")).select(
        "doc_id", F.col("s.pos").alias("pos"), F.col("s.shingle").alias("shingle")
    )
    e = _docpair_edges(spark, sf_dir).select(
        F.col("src").alias("lo"), F.col("dst").alias("hi")
    )
    a, b = pg.alias("a"), pg.alias("b")
    m = (
        e.join(a, F.col("a.doc_id") == F.col("lo"))
        .join(
            b,
            (F.col("b.doc_id") == F.col("hi"))
            & (F.col("b.shingle") == F.col("a.shingle")),
        )
        .select(
            "lo",
            "hi",
            F.col("a.pos").alias("ia"),
            F.col("b.pos").alias("ib"),
        )
    )
    wd = Window.partitionBy("lo", "hi", F.col("ia") - F.col("ib")).orderBy("ia")
    r = m.select(
        "lo",
        "hi",
        (F.col("ia") - F.col("ib")).alias("d"),
        (F.col("ia") - F.row_number().over(wd)).alias("grp"),
    )
    runs = r.groupBy("lo", "hi", "d", "grp").agg(F.count(F.lit(1)).alias("run"))
    return runs.groupBy("lo", "hi").agg(
        F.max("run").cast("bigint").alias("max_run"),
        (F.max("run") + 2).cast("bigint").alias("lcs_tokens"),
        F.sum("run").cast("bigint").alias("n_matches"),
    )


_BLEU_SQL = f"""
WITH {SQL_DOCS_TOKS.strip()},
{_DPG4.strip()},
uni AS (
  SELECT doc_id, lower(t.x) AS g, CAST(count(*) AS BIGINT) AS c
  FROM docs, unnest(toks) AS t(x) GROUP BY 1, 2
),
big AS (
  SELECT doc_id, lower(array_to_string(toks[t.i + 1 : t.i + 2], ' ')) AS g,
         CAST(count(*) AS BIGINT) AS c
  FROM docs, unnest(range(len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 2 GROUP BY 1, 2
),
ln AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM docs),
c1 AS (
  SELECT e.lo, e.hi, sum(least(a.c, b.c)) AS m
  FROM ge e
  JOIN uni b ON b.doc_id = e.hi
  JOIN uni a ON a.doc_id = e.lo AND a.g = b.g
  GROUP BY 1, 2
),
c2 AS (
  SELECT e.lo, e.hi, sum(least(a.c, b.c)) AS m
  FROM ge e
  JOIN big b ON b.doc_id = e.hi
  JOIN big a ON a.doc_id = e.lo AND a.g = b.g
  GROUP BY 1, 2
),
j AS (
  SELECT ge.lo, ge.hi, lr.n AS n_ref, lc.n AS n_cand,
         coalesce(c1.m, 0) AS m1, coalesce(c2.m, 0) AS m2
  FROM ge
  JOIN ln lr ON lr.doc_id = ge.lo
  JOIN ln lc ON lc.doc_id = ge.hi
  LEFT JOIN c1 ON c1.lo = ge.lo AND c1.hi = ge.hi
  LEFT JOIN c2 ON c2.lo = ge.lo AND c2.hi = ge.hi
  WHERE lc.n >= 2
)
SELECT lo, hi,
       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cand AS BIGINT) AS n_cand,
       CAST(m1 AS BIGINT) AS m1, CAST(m2 AS BIGINT) AS m2,
       round(CAST(m1 AS DOUBLE) / n_cand, 6) AS p1,
       round(CAST(m2 AS DOUBLE) / (n_cand - 1), 6) AS p2,
       round(
         least(1.0, exp(1 - CAST(n_ref AS DOUBLE) / n_cand))
         * sqrt((CAST(m1 AS DOUBLE) / n_cand)
                * (CAST(m2 AS DOUBLE) / (n_cand - 1))), 6) AS bleu2
FROM j
"""


@register("q_bleu_neardup", _BLEU_SQL)
def q_bleu_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BLEU-2 (Papineni 2002) of each near-dup candidate's HIGHER
    doc against its LOWER doc: clipped unigram/bigram precisions as exact
    integer modified counts (sum of min(count_cand, count_ref) per gram),
    brevity penalty min(1, e^(1 - r/c)), geometric mean of p1/p2. The MT
    metric repurposed as a dedup-quality grade: BLEU ~1 means verbatim
    clone (drop), mid-range means template kin (keep one, or mask the
    shared spans q_lcs_pairs localizes), near-0 flags a false-positive
    candidate edge. Exact sufficient statistics (m1, m2, lengths); floats
    only in the rounded convenience columns.

    Scale plan: per-doc gram count tables are map-side-combined and join
    ONLY through the candidate edge list (df-cut bounded, never
    all-pairs); per-pair cost is the true gram overlap. Same join shape
    as the Jaccard/containment family, so the same bucketing holds at
    100 TB."""
    from cliner_spark.queries_r2 import _docpair_edges
    from cliner_spark.tokenization import tokens_col

    docs = load_docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    uni = (
        docs.select("doc_id", F.explode(toks).alias("t"))
        .select("doc_id", F.lower("t").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    bi = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.lower(F.concat_ws(" ", F.slice(toks, i + 1, 2))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    big = (
        docs.select("doc_id", F.explode(bi).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ln = docs.select(
        "doc_id", F.size(toks).cast("bigint").alias("n")
    )
    e = _docpair_edges(spark, sf_dir).select(
        F.col("src").alias("lo"), F.col("dst").alias("hi")
    )

    def clipped(cnt: DataFrame) -> DataFrame:
        a, b = cnt.alias("a"), cnt.alias("b")
        return (
            e.join(b, F.col("b.doc_id") == F.col("hi"))
            .join(
                a,
                (F.col("a.doc_id") == F.col("lo"))
                & (F.col("a.g") == F.col("b.g")),
            )
            .groupBy("lo", "hi")
            .agg(F.sum(F.least(F.col("a.c"), F.col("b.c"))).alias("m"))
        )
    c1 = clipped(uni).withColumnRenamed("m", "m1")
    c2 = clipped(big).withColumnRenamed("m", "m2")
    lr = ln.withColumnRenamed("doc_id", "lo").withColumnRenamed("n", "n_ref")
    lc = ln.withColumnRenamed("doc_id", "hi").withColumnRenamed("n", "n_cand")
    j = (
        e.join(lr, "lo")
        .join(lc, "hi")
        .join(c1, ["lo", "hi"], "left")
        .join(c2, ["lo", "hi"], "left")
        .filter(F.col("n_cand") >= 2)
        .select(
            "lo",
            "hi",
            "n_ref",
            "n_cand",
            F.coalesce("m1", F.lit(0)).cast("bigint").alias("m1"),
            F.coalesce("m2", F.lit(0)).cast("bigint").alias("m2"),
        )
    )
    p1 = F.col("m1").cast("double") / F.col("n_cand")
    p2 = F.col("m2").cast("double") / (F.col("n_cand") - 1)
    bp = F.least(
        F.lit(1.0),
        F.exp(F.lit(1) - F.col("n_ref").cast("double") / F.col("n_cand")),
    )
    return j.select(
        "lo",
        "hi",
        "n_ref",
        "n_cand",
        "m1",
        "m2",
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(bp * F.sqrt(p1 * p2), 6).alias("bleu2"),
    )


# --------------------------------------------------------------------------
# Round 4r: systems operations — consistent-hashing ring audit.
# --------------------------------------------------------------------------

_CHASH_SQL = """
WITH tok8 AS (
  SELECT CAST(s.i AS INT) AS shard, CAST(v.j AS INT) AS vnode,
         md5('shard:' || s.i::VARCHAR || ':' || v.j::VARCHAR) AS tok
  FROM unnest(range(8)) AS s(i), unnest(range(4)) AS v(j)
),
tok9 AS (
  SELECT CAST(s.i AS INT) AS shard, CAST(v.j AS INT) AS vnode,
         md5('shard:' || s.i::VARCHAR || ':' || v.j::VARCHAR) AS tok
  FROM unnest(range(9)) AS s(i), unnest(range(4)) AS v(j)
),
d AS (SELECT doc_id, md5(doc_id::VARCHAR) AS h FROM documents),
a8 AS (
  SELECT d.doc_id,
         coalesce(min(t.tok) FILTER (WHERE t.tok >= d.h),
                  (SELECT min(tok) FROM tok8)) AS sel
  FROM d CROSS JOIN tok8 t GROUP BY d.doc_id, d.h
),
m8 AS (
  SELECT a8.doc_id, t.shard AS s8 FROM a8 JOIN tok8 t ON t.tok = a8.sel
),
a9 AS (
  SELECT d.doc_id,
         coalesce(min(t.tok) FILTER (WHERE t.tok >= d.h),
                  (SELECT min(tok) FROM tok9)) AS sel
  FROM d CROSS JOIN tok9 t GROUP BY d.doc_id, d.h
),
m9 AS (
  SELECT a9.doc_id, t.shard AS s9 FROM a9 JOIN tok9 t ON t.tok = a9.sel
),
j AS (SELECT m8.doc_id, m8.s8, m9.s9 FROM m8 JOIN m9 USING (doc_id))
SELECT s8 AS shard,
       CAST(count(*) AS BIGINT) AS n_before,
       CAST(sum(CASE WHEN s9 = s8 THEN 1 ELSE 0 END) AS BIGINT) AS n_stay,
       CAST(sum(CASE WHEN s9 <> s8 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
       CAST(sum(CASE WHEN s9 = 8 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_to_new_shard,
       CAST(sum(sum(CASE WHEN s9 <> s8 THEN 1 ELSE 0 END)) OVER ()
            AS BIGINT) AS total_moved,
       round(CAST(sum(CASE WHEN s9 <> s8 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS moved_frac
FROM j GROUP BY 1
"""


@register("q_consistent_hashing", _CHASH_SQL)
def q_consistent_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hashing ring audit (Karger 1997) for the doc store: 8
    shards x 4 md5 vnodes on the hex ring, each doc owned by the first
    vnode token >= md5(doc_id) (wrapping to the ring minimum) — then the
    ring grows to 9 shards and the audit counts, per original shard, how
    many docs stay, move, and move TO THE NEW SHARD. The defining
    consistent-hashing property — only ~1/(n+1) of keys move, all of them
    to the new shard, none between old shards — becomes an exact
    assertion surface (n_moved == n_to_new_shard per row). This is the
    resharding-cost ledger a 100 TB doc store consults before scaling
    out; md5-token comparison is plain string order, identical on both
    engines.

    Scale plan: the ring is a 32/36-row broadcast dimension; ownership is
    a per-doc min-over-32 (a broadcast fanout collapsed map-side), one
    pass per ring size. No corpus self-joins."""
    docs = load_docs(spark, sf_dir).select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    )

    def ring(n_shards: int):
        s = spark.range(n_shards).select(F.col("id").cast("int").alias("shard"))
        v = spark.range(4).select(F.col("id").cast("int").alias("vnode"))
        return s.crossJoin(v).select(
            "shard",
            "vnode",
            F.md5(
                F.concat(
                    F.lit("shard:"),
                    F.col("shard").cast("string"),
                    F.lit(":"),
                    F.col("vnode").cast("string"),
                )
            ).alias("tok"),
        )

    def assign(ring_df, out_col: str):
        rmin = ring_df.agg(F.min("tok").alias("ring_min"))
        sel = (
            docs.crossJoin(F.broadcast(ring_df))
            .groupBy("doc_id", "h")
            .agg(
                F.min(F.when(F.col("tok") >= F.col("h"), F.col("tok"))).alias(
                    "ge"
                )
            )
            .crossJoin(F.broadcast(rmin))
            .select(
                "doc_id", F.coalesce(F.col("ge"), F.col("ring_min")).alias("sel")
            )
        )
        return sel.join(ring_df, sel["sel"] == ring_df["tok"]).select(
            "doc_id", F.col("shard").alias(out_col)
        )

    m8 = assign(ring(8), "s8")
    m9 = assign(ring(9), "s9")
    j = m8.join(m9, "doc_id")
    moved = F.sum(F.when(F.col("s9") != F.col("s8"), 1).otherwise(0))
    g = j.groupBy(F.col("s8").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before"),
        F.sum(F.when(F.col("s9") == F.col("s8"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_stay"),
        moved.cast("bigint").alias("n_moved"),
        F.sum(F.when(F.col("s9") == 8, 1).otherwise(0))
        .cast("bigint")
        .alias("n_to_new_shard"),
    )
    wall = Window.partitionBy()
    return g.select(
        "shard",
        "n_before",
        "n_stay",
        "n_moved",
        "n_to_new_shard",
        F.sum("n_moved").over(wall).cast("bigint").alias("total_moved"),
        F.round(F.col("n_moved").cast("double") / F.col("n_before"), 6).alias(
            "moved_frac"
        ),
    )


# --------------------------------------------------------------------------
# Round 4s: distribution distance — exact Wasserstein-1 between source
# length distributions.
# --------------------------------------------------------------------------

_W1_SQL = """
WITH a AS (
  SELECT n_chars AS v, count(*) AS c FROM documents WHERE lang = 'en'
  GROUP BY 1
),
b AS (
  SELECT n_chars AS v, count(*) AS c FROM documents WHERE lang <> 'en'
  GROUP BY 1
),
g AS (
  SELECT v, coalesce(a.c, 0) AS ca, coalesce(b.c, 0) AS cb
  FROM (SELECT v FROM a UNION SELECT v FROM b) u
  LEFT JOIN a USING (v) LEFT JOIN b USING (v)
),
cum AS (
  SELECT v,
         CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS fa,
         CAST(sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS fb,
         CAST(sum(ca) OVER () AS BIGINT) AS na,
         CAST(sum(cb) OVER () AS BIGINT) AS nb,
         lead(v) OVER (ORDER BY v) AS v_next
  FROM g
),
seg AS (
  SELECT v, v_next, fa, fb, na, nb,
         abs(fa * nb - fb * na) * (v_next - v) AS w1_term
  FROM cum WHERE v_next IS NOT NULL
)
SELECT CAST(count(*) + 1 AS BIGINT) AS n_grid,
       CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
       CAST(sum(w1_term) AS BIGINT) AS w1_num,
       CAST(max(na) * max(nb) AS BIGINT) AS w1_den,
       round(CAST(sum(w1_term) AS DOUBLE) / (max(na) * max(nb)), 6) AS w1,
       CAST(max(abs(fa * nb - fb * na)) AS BIGINT) AS ks_num,
       round(CAST(max(abs(fa * nb - fb * na)) AS DOUBLE)
             / (max(na) * max(nb)), 6) AS ks
FROM seg
"""


@register("q_wasserstein_lengths", _W1_SQL)
def q_wasserstein_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Wasserstein-1 (earth-mover) distance between the English and
    non-English document-length distributions, via the 1-D identity
    W1 = integral |F_a - F_b| dv over the merged distinct-value grid:
    each grid segment contributes |F_a(v)·n_b − F_b(v)·n_a| · (v_next − v)
    in exact BIGINTs over the common denominator n_a·n_b; the same
    cross-multiplied CDF gap also yields the exact KS numerator as a
    built-in consistency column (must equal q_ks_drift's formulation).
    W1 is the drift metric that SIZES the shift (how many char-units of
    mass must move) where KS only locates the worst point — the right
    number for deciding whether a per-lang length filter needs re-tuning.

    Scale plan: one map-side-combined value-histogram per side, windows
    over the merged DISTINCT-VALUE grid (bounded by the value domain,
    not the corpus). Same grid discipline as the perplexity thresholds."""
    docs = load_docs(spark, sf_dir)
    a = (
        docs.filter(F.col("lang") == "en")
        .groupBy(F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    b = (
        docs.filter(F.col("lang") != "en")
        .groupBy(F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    g = (
        a.select("v")
        .union(b.select("v"))
        .distinct()
        .join(a, "v", "left")
        .join(b, "v", "left")
        .select(
            "v",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    cum = g.select(
        "v",
        F.sum("ca").over(wc).cast("bigint").alias("fa"),
        F.sum("cb").over(wc).cast("bigint").alias("fb"),
        F.sum("ca").over(wall).cast("bigint").alias("na"),
        F.sum("cb").over(wall).cast("bigint").alias("nb"),
        F.lead("v").over(Window.orderBy("v")).alias("v_next"),
    )
    gap = F.abs(F.col("fa") * F.col("nb") - F.col("fb") * F.col("na"))
    seg = cum.filter(F.col("v_next").isNotNull()).select(
        "fa",
        "fb",
        "na",
        "nb",
        (gap * (F.col("v_next") - F.col("v"))).alias("w1_term"),
        gap.alias("gap"),
    )
    return seg.agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n_grid"),
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
        F.sum("w1_term").cast("bigint").alias("w1_num"),
        (F.max("na") * F.max("nb")).cast("bigint").alias("w1_den"),
        F.round(
            F.sum("w1_term").cast("double") / (F.max("na") * F.max("nb")), 6
        ).alias("w1"),
        F.max("gap").cast("bigint").alias("ks_num"),
        F.round(
            F.max("gap").cast("double") / (F.max("na") * F.max("nb")), 6
        ).alias("ks"),
    )


# --------------------------------------------------------------------------
# Round 4t: graph health — dup-cluster conductance over the doc-similarity
# graph, and the degree CCDF spectrum.
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import SQL_DUP_CLUSTER_CTES  # noqa: E402

_COND_SQL = f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_DUP_CLUSTER_CTES},
{_DPG4.strip()},
lab AS (SELECT doc_id, cluster_id FROM clusters),
e AS (
  SELECT la.cluster_id AS ca, lb.cluster_id AS cb
  FROM ge
  JOIN lab la ON la.doc_id = ge.lo
  JOIN lab lb ON lb.doc_id = ge.hi
),
vol AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS vol FROM (
    SELECT la.cluster_id FROM ge JOIN lab la ON la.doc_id = ge.lo
    UNION ALL
    SELECT lb.cluster_id FROM ge JOIN lab lb ON lb.doc_id = ge.hi
  ) GROUP BY 1
),
tot AS (SELECT CAST(2 * count(*) AS BIGINT) AS vol_total FROM ge),
sz AS (
  SELECT cluster_id, count(*) AS n_docs FROM lab GROUP BY 1
  HAVING count(*) >= 2
),
agg AS (
  SELECT s.cluster_id, s.n_docs, coalesce(v.vol, 0) AS vol,
         coalesce(sum(CASE WHEN e.ca = e.cb THEN 1 ELSE 0 END), 0)
           AS internal,
         0 AS dummy
  FROM sz s
  LEFT JOIN vol v ON v.cluster_id = s.cluster_id
  LEFT JOIN e ON e.ca = s.cluster_id AND e.cb = s.cluster_id
  GROUP BY 1, 2, 3
),
cut AS (
  SELECT cluster_id, CAST(sum(n) AS BIGINT) AS n_cut FROM (
    SELECT ca AS cluster_id, 1 AS n FROM e WHERE ca <> cb
    UNION ALL
    SELECT cb, 1 FROM e WHERE ca <> cb
  ) GROUP BY 1
)
SELECT a.cluster_id, CAST(a.n_docs AS BIGINT) AS n_docs,
       CAST(a.vol AS BIGINT) AS volume,
       CAST(a.internal AS BIGINT) AS internal_edges,
       CAST(coalesce(c.n_cut, 0) AS BIGINT) AS cut_edges,
       CAST(least(a.vol, t.vol_total - a.vol) AS BIGINT) AS min_vol,
       round(CASE WHEN least(a.vol, t.vol_total - a.vol) = 0 THEN 0.0
                  ELSE CAST(coalesce(c.n_cut, 0) AS DOUBLE)
                       / least(a.vol, t.vol_total - a.vol) END, 6)
         AS conductance
FROM agg a LEFT JOIN cut c ON c.cluster_id = a.cluster_id, tot t
"""


@register("q_cluster_conductance", _COND_SQL)
def q_cluster_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conductance of every non-singleton dup cluster against the WEAKER
    doc-similarity graph (common >= 2 shingles): cut edges / min(vol,
    vol_total − vol), all exact integers — the graph-partition quality
    number (low conductance = the cluster is a real community, high =
    the Jaccard >= 0.5 threshold carved through a denser neighborhood
    and the dedup decision boundary deserves a second look). Strict
    cluster labels come from the jaccard CC (q_dup_clusters' exact
    semantics); the edge universe is the candidate graph both DBSCAN and
    the MSF consume — so this ledger is precisely 'how well does the
    strict dedup partition respect the loose similarity structure'.

    Scale plan: two equi-joins attach cluster labels to the edge list's
    endpoints; volumes/cuts are map-side-combined unions over edge
    endpoints. CC runs on pair-graph endpoints only (the dedup module's
    standing argument); nothing touches corpus x corpus."""
    from cliner_spark import dedup
    from cliner_spark.queries_r2 import _docpair_edges

    docs = load_docs(spark, sf_dir)
    lab = dedup.dup_clusters(docs)
    ge = _docpair_edges(spark, sf_dir).select(
        F.col("src").alias("lo"), F.col("dst").alias("hi")
    )
    la = lab.select(F.col("doc_id").alias("lo"), F.col("cluster_id").alias("ca"))
    lb = lab.select(F.col("doc_id").alias("hi"), F.col("cluster_id").alias("cb"))
    e = ge.join(la, "lo").join(lb, "hi").select("ca", "cb")
    vol = (
        e.select(F.col("ca").alias("cluster_id"))
        .unionAll(e.select(F.col("cb").alias("cluster_id")))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vol"))
    )
    tot = e.agg((2 * F.count(F.lit(1))).cast("bigint").alias("vol_total"))
    sz = (
        lab.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    internal = (
        e.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("cluster_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("internal"))
    )
    cut = (
        e.filter(F.col("ca") != F.col("cb"))
        .select(F.col("ca").alias("cluster_id"))
        .unionAll(
            e.filter(F.col("ca") != F.col("cb")).select(
                F.col("cb").alias("cluster_id")
            )
        )
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cut"))
    )
    out = (
        sz.join(vol, "cluster_id", "left")
        .join(internal, "cluster_id", "left")
        .join(cut, "cluster_id", "left")
        .crossJoin(F.broadcast(tot))
    )
    v = F.coalesce(F.col("vol"), F.lit(0))
    nc = F.coalesce(F.col("n_cut"), F.lit(0))
    mv = F.least(v, F.col("vol_total") - v)
    return out.select(
        "cluster_id",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        v.cast("bigint").alias("volume"),
        F.coalesce(F.col("internal"), F.lit(0)).cast("bigint").alias(
            "internal_edges"
        ),
        nc.cast("bigint").alias("cut_edges"),
        mv.cast("bigint").alias("min_vol"),
        F.round(
            F.when(mv == 0, F.lit(0.0)).otherwise(nc.cast("double") / mv), 6
        ).alias("conductance"),
    )


_CCDF_SQL = f"""
WITH {SQL_DOCS_TOKS.strip()},
{_DPG4.strip()},
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT lo AS node FROM ge UNION ALL SELECT hi FROM ge
  ) GROUP BY 1
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
h AS (SELECT d, CAST(count(*) AS BIGINT) AS n_d FROM deg GROUP BY 1)
SELECT h.d AS degree, h.n_d,
       CAST(sum(h.n_d) OVER (ORDER BY h.d DESC
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS n_ge,
       n.n_nodes,
       round(CAST(sum(h.n_d) OVER (ORDER BY h.d DESC
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / n.n_nodes, 6) AS ccdf
FROM h, n
"""


@register("q_degree_ccdf", _CCDF_SQL)
def q_degree_ccdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree CCDF spectrum of the doc-similarity graph (nodes = docs
    with at least one candidate edge): per observed degree the node
    count and the exact complementary-cumulative P(D >= d) rational —
    read on log-log axes this is THE heavy-tail diagnostic (a straight
    CCDF = power-law boilerplate contamination; at 100 TB a fat tail
    here predicts hot keys in every downstream pair join, which is what
    q_skew_audit then sizes). Exact integers except the rounded ccdf.

    Scale plan: degree = one map-side-combined count over edge
    endpoints; the spectrum windows run on the |distinct degrees| frame.
    The 1-row node-total carry is a whitelisted broadcast."""
    from cliner_spark.queries_r2 import _docpair_edges

    ge = _docpair_edges(spark, sf_dir)
    deg = (
        ge.select(F.col("src").alias("node"))
        .unionAll(ge.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    n = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    h = deg.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n_d"))
    wc = Window.orderBy(F.desc("d")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        h.crossJoin(F.broadcast(n))
        .select(
            F.col("d").alias("degree"),
            "n_d",
            F.sum("n_d").over(wc).cast("bigint").alias("n_ge"),
            "n_nodes",
            F.round(
                F.sum("n_d").over(wc).cast("double") / F.col("n_nodes"), 6
            ).alias("ccdf"),
        )
    )


# --------------------------------------------------------------------------
# Round 4u: graph diameter double-sweep + best-of-n selection ledger.
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import SQL_DOC_CUI  # noqa: E402

_DIAM_SQL = f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ},
{SQL_LINKED}, {SQL_DOC_CUI},
e2 AS (SELECT src AS s, dst AS t FROM coedges UNION SELECT dst, src FROM coedges),
bfs1(node, hops) AS (
  SELECT 'CD001', 0
  UNION
  SELECT e2.t, bfs1.hops + 1 FROM bfs1 JOIN e2 ON e2.s = bfs1.node
  WHERE bfs1.hops < 10
),
d1 AS (SELECT node, min(hops) AS hops FROM bfs1 GROUP BY node),
far1 AS (
  SELECT node, hops FROM d1 ORDER BY hops DESC, node ASC LIMIT 1
),
bfs2(node, hops) AS (
  SELECT node, 0 FROM far1
  UNION
  SELECT e2.t, bfs2.hops + 1 FROM bfs2 JOIN e2 ON e2.s = bfs2.node
  WHERE bfs2.hops < 10
),
d2 AS (SELECT node, min(hops) AS hops FROM bfs2 GROUP BY node),
far2 AS (
  SELECT node, hops FROM d2 ORDER BY hops DESC, node ASC LIMIT 1
)
SELECT 'CD001' AS start_node,
       CAST(far1.hops AS INT) AS ecc_start,
       far1.node AS sweep_node,
       CAST(far2.hops AS INT) AS diameter_lb,
       far2.node AS far_node,
       CAST((SELECT count(*) FROM d1) AS BIGINT) AS n_reach_start,
       CAST((SELECT count(*) FROM d2) AS BIGINT) AS n_reach_sweep
FROM far1, far2
"""


@register("q_diameter_sweep", _DIAM_SQL)
def q_diameter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-BFS diameter sweep (the classic 2-sweep lower bound,
    exact on trees and near-tight in practice) over the concept
    co-occurrence graph: BFS from CD001 to exhaustion, hop to the
    farthest reached node (tie -> min id, pinned on both engines), BFS
    again — the second eccentricity is the diameter lower bound the
    iterative-BFS family was missing (q_kg_bfs gives one eccentricity;
    all-pairs BFS is the thing you must NOT do at scale, and the 2-sweep
    is the standard cheap substitute). Also reports both reachable-set
    sizes (connectivity audit of the sweep component).

    Scale plan: exactly two bfs_distances runs (per-superstep
    frontier-x-edges equi-joins, broadcast frontiers); the only driver
    value is the 1-row farthest-node pick between sweeps — the same
    bounded driver-scalar pattern as the BPE top-1 rounds."""
    from cliner_spark.entry_queries import _doc_linked
    from cliner_spark.graph import bfs_distances, group_concept_pairs

    edges = group_concept_pairs(_doc_linked(spark, sf_dir)).localCheckpoint()
    d1 = bfs_distances(edges, "CD001", max_hops=10)
    far1 = (
        d1.orderBy(F.desc("hops"), F.asc("node")).limit(1).collect()[0]
    )
    d2 = bfs_distances(edges, far1["node"], max_hops=10)
    far2 = (
        d2.orderBy(F.desc("hops"), F.asc("node")).limit(1).collect()[0]
    )
    n1, n2 = d1.count(), d2.count()
    return spark.createDataFrame(
        [
            (
                "CD001",
                int(far1["hops"]),
                far1["node"],
                int(far2["hops"]),
                far2["node"],
                n1,
                n2,
            )
        ],
        "start_node string, ecc_start int, sweep_node string, "
        "diameter_lb int, far_node string, n_reach_start bigint, "
        "n_reach_sweep bigint",
    )


_BON_SQL = f"""
WITH {SQL_DOCS_TOKS.strip()},
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM docs
       WHERE len(toks) > 0),
du AS (SELECT d.doc_id, CAST(count(DISTINCT lower(t.tok)) AS BIGINT) AS n_uniq
       FROM docs d, unnest(d.toks) AS t(tok) GROUP BY 1),
sc AS (
  SELECT dd.source, dl.doc_id,
         (1000 * du.n_uniq) // dl.n_toks AS reward
  FROM dl JOIN du USING (doc_id) JOIN documents dd USING (doc_id)
),
gr AS (
  SELECT source, doc_id, reward,
         (row_number() OVER (PARTITION BY source
                             ORDER BY md5(doc_id::VARCHAR), doc_id) - 1) // 4
           AS grp
  FROM sc
),
full_g AS (
  SELECT source, grp FROM gr GROUP BY 1, 2 HAVING count(*) = 4
),
gw AS (
  SELECT gr.source, gr.grp, gr.reward,
         row_number() OVER (PARTITION BY gr.source, gr.grp
                            ORDER BY gr.reward DESC, gr.doc_id ASC) AS rn,
         sum(gr.reward) OVER (PARTITION BY gr.source, gr.grp) AS grp_sum
  FROM gr JOIN full_g USING (source, grp)
),
w AS (
  SELECT source, grp, reward AS win_reward, grp_sum
  FROM gw WHERE rn = 1
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(grp_sum) AS BIGINT) AS base_sum,
       CAST(4 * count(*) AS BIGINT) AS base_den,
       CAST(sum(win_reward) AS BIGINT) AS bon_sum,
       round(CAST(sum(grp_sum) AS DOUBLE) / (4 * count(*)), 6) AS base_mean,
       round(CAST(sum(win_reward) AS DOUBLE) / count(*), 6) AS bon_mean,
       CAST(4 * sum(win_reward) - sum(grp_sum) AS BIGINT) AS uplift_num
FROM w GROUP BY 1
"""


@register("q_best_of_n", _BON_SQL)
def q_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-4 selection ledger per source (the rejection-sampling /
    BoN primitive of RFT data pipelines): docs are md5-grouped into
    complete groups of 4 within each source, the group winner is the max
    deterministic reward (lexical-diversity milli, tie -> min doc_id via
    a pinned row_number), and the ledger reports the
    exact base-mean vs winner-mean sufficient statistics — uplift_num =
    4*sum(winners) - sum(all) over the common denominator 4*n_groups is
    the exact BoN lift, always >= 0 by construction (a replica-test
    invariant). Incomplete trailing groups are excluded (no small-group
    bias).

    Scale plan: one corpus scan for rewards, one window per source for
    md5 grouping (partitioned, not global), map-side-combined group
    rollups. The selection itself never leaves the group key — no pair
    joins."""
    from cliner_spark.tokenization import tokens_col

    docs = load_docs(spark, sf_dir)
    toks_c = tokens_col("text")
    dl = docs.filter(F.size(toks_c) > 0).select(
        "doc_id", "source", F.size(toks_c).cast("long").alias("n_toks")
    )
    du = (
        docs.select("doc_id", F.explode(toks_c).alias("tok"))
        .select("doc_id", F.lower("tok").alias("tok"))
        .groupBy("doc_id")
        .agg(F.countDistinct("tok").alias("n_uniq"))
    )
    sc = dl.join(du, "doc_id").select(
        "source", "doc_id", F.expr("(1000 * n_uniq) div n_toks").alias("reward")
    )
    wgrp = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    gr = sc.select(
        "source",
        "doc_id",
        "reward",
        F.floor((F.row_number().over(wgrp) - 1) / 4).alias("grp"),
    )
    full_g = (
        gr.groupBy("source", "grp")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == 4)
        .select("source", "grp")
    )
    wg = Window.partitionBy("source", "grp")
    gw = gr.join(full_g, ["source", "grp"]).select(
        "source",
        "grp",
        "reward",
        F.row_number()
        .over(wg.orderBy(F.desc("reward"), F.asc("doc_id")))
        .alias("rn"),
        F.sum("reward").over(wg).alias("grp_sum"),
    )
    w = gw.filter(F.col("rn") == 1).select(
        "source", "grp", F.col("reward").alias("win_reward"), "grp_sum"
    )
    return w.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("grp_sum").cast("bigint").alias("base_sum"),
        (4 * F.count(F.lit(1))).cast("bigint").alias("base_den"),
        F.sum("win_reward").cast("bigint").alias("bon_sum"),
        F.round(
            F.sum("grp_sum").cast("double") / (4 * F.count(F.lit(1))), 6
        ).alias("base_mean"),
        F.round(F.sum("win_reward").cast("double") / F.count(F.lit(1)), 6).alias(
            "bon_mean"
        ),
        (4 * F.sum("win_reward") - F.sum("grp_sum"))
        .cast("bigint")
        .alias("uplift_num"),
    )


# --------------------------------------------------------------------------
# Round 4ab: robust statistics + weighted-mass location + weighted SSSP —
# exact order statistics (p50/p90/p99, MAD) per source via partitioned
# ranks, the char-mass weighted median with the Hoover (Robin Hood)
# concentration index, and 4-round multi-source Bellman-Ford over a
# deterministic weighted graph with packed (dist, hub) tie pins — the
# nearest-hub assignment primitive (weighted Voronoi over a graph).
# --------------------------------------------------------------------------

_ORDER_SQL = """
WITH v AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS x FROM documents
),
r AS (
  SELECT source, x,
         CAST(row_number() OVER (PARTITION BY source ORDER BY x, doc_id)
              AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM v
),
picks AS (
  SELECT source, max(n) AS n,
         max(CASE WHEN rn = (n + 1) // 2 THEN x END) AS p50,
         max(CASE WHEN rn = (9 * n + 9) // 10 THEN x END) AS p90,
         max(CASE WHEN rn = (99 * n + 99) // 100 THEN x END) AS p99
  FROM r GROUP BY source
),
a AS (
  SELECT v.source, abs(v.x - p.p50) AS ax, v.doc_id
  FROM v JOIN picks p ON p.source = v.source
),
ar AS (
  SELECT source, ax,
         CAST(row_number() OVER (PARTITION BY source ORDER BY ax, doc_id)
              AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM a
),
mad AS (
  SELECT source, max(CASE WHEN rn = (n + 1) // 2 THEN ax END) AS mad
  FROM ar GROUP BY source
)
SELECT p.source, CAST(p.n AS BIGINT) AS n, CAST(p.p50 AS BIGINT) AS p50,
       CAST(p.p90 AS BIGINT) AS p90, CAST(p.p99 AS BIGINT) AS p99,
       CAST(m.mad AS BIGINT) AS mad,
       round(CAST(p.p99 AS DOUBLE) / p.p50, 6) AS tail_ratio
FROM picks p JOIN mad m ON m.source = p.source
"""


@register("q_order_stats", _ORDER_SQL)
def q_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source order statistics of doc length — p50/p90/p99 as
    the ceil(q*n)-th smallest value (rank formulas (n+1) div 2,
    (9n+9) div 10, (99n+99) div 100; doc_id tie pins) plus the median
    absolute deviation (the robust spread: lower median of |x - p50|,
    second ranked pass). No interpolation, no float percentile
    approximation — the numbers an SLO dashboard should actually pin,
    with tail_ratio = p99/p50 as the skew headline.

    Scale plan: both passes are windows PARTITIONED by source (parallel
    across groups; within a hot group the dist_dense_rank construction
    swaps in unchanged); picks collapse map-side to one row per source."""
    docs = load_docs(spark, sf_dir)
    v = docs.select("source", "doc_id", F.col("n_chars").cast("bigint").alias("x"))
    wp = Window.partitionBy("source")
    r = v.select(
        "source", "x",
        F.row_number().over(wp.orderBy("x", "doc_id")).cast("bigint").alias("rn"),
        F.count("*").over(wp).cast("bigint").alias("n"),
    )
    picks = r.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("x")))
        .cast("bigint")
        .alias("p50"),
        F.max(F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("x")))
        .cast("bigint")
        .alias("p90"),
        F.max(F.when(F.col("rn") == F.expr("(99 * n + 99) div 100"), F.col("x")))
        .cast("bigint")
        .alias("p99"),
    )
    a = v.join(
        picks.select(F.col("source").alias("ps"), "p50"),
        F.col("ps") == F.col("source"),
    ).select("source", F.abs(F.col("x") - F.col("p50")).alias("ax"), "doc_id")
    ar = a.select(
        "source", "ax",
        F.row_number().over(wp.orderBy("ax", "doc_id")).cast("bigint").alias("rn"),
        F.count("*").over(wp).cast("bigint").alias("n"),
    )
    mad = ar.groupBy(F.col("source").alias("ms")).agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("ax")))
        .cast("bigint")
        .alias("mad")
    )
    return picks.join(mad, F.col("ms") == F.col("source")).select(
        "source", "n", "p50", "p90", "p99", "mad",
        F.round(F.col("p99").cast("double") / F.col("p50"), 6).alias("tail_ratio"),
    )


_WMED_SQL = """
WITH v AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS x FROM documents
),
c AS (
  SELECT source, doc_id, x,
         CAST(sum(x) OVER (PARTITION BY source ORDER BY x, doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
         CAST(sum(x) OVER (PARTITION BY source) AS BIGINT) AS w_total,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM v
)
SELECT source, CAST(max(n) AS BIGINT) AS n,
       CAST(max(w_total) AS BIGINT) AS total_chars,
       CAST(min(CASE WHEN 2 * cumw >= w_total THEN x END) AS BIGINT)
         AS weighted_median,
       CAST(sum(abs(n * x - w_total)) AS BIGINT) AS hoover_num,
       CAST(2 * max(n) * max(w_total) AS BIGINT) AS hoover_den,
       round(CAST(sum(abs(n * x - w_total)) AS DOUBLE)
             / (2 * max(n) * max(w_total)), 6) AS hoover_index
FROM c GROUP BY source
"""


@register("q_weighted_median", _WMED_SQL)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-mass weighted median per source — the doc length below which
    half the source's CHARACTERS (not docs) live, i.e. the smallest x
    with 2*cumw(x) >= W over the (x, doc_id)-ordered running mass — plus
    the Hoover / Robin Hood index sum|n*x_i - W| / (2nW), the exact share
    of char mass that would have to move to equalize doc sizes. The pair
    tells a capacity planner where the bytes actually are (weighted
    median >= plain median under right skew) and how concentrated they
    are, complementing q_gini_concentration with the L1 inequality
    measure.

    Scale plan: one scan, all windows partitioned by source, map-side
    combined single-row-per-source output."""
    docs = load_docs(spark, sf_dir)
    v = docs.select("source", "doc_id", F.col("n_chars").cast("bigint").alias("x"))
    wp = Window.partitionBy("source")
    wc = wp.orderBy("x", "doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = v.select(
        "source", "x",
        F.sum("x").over(wc).cast("bigint").alias("cumw"),
        F.sum("x").over(wp).cast("bigint").alias("w_total"),
        F.count("*").over(wp).cast("bigint").alias("n"),
    )
    return c.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("w_total").cast("bigint").alias("total_chars"),
        F.min(F.when(2 * F.col("cumw") >= F.col("w_total"), F.col("x")))
        .cast("bigint")
        .alias("weighted_median"),
        F.sum(F.abs(F.col("n") * F.col("x") - F.col("w_total")))
        .cast("bigint")
        .alias("hoover_num"),
        (2 * F.max("n") * F.max("w_total")).cast("bigint").alias("hoover_den"),
        F.round(
            F.sum(F.abs(F.col("n") * F.col("x") - F.col("w_total"))).cast("double")
            / (2 * F.max("n") * F.max("w_total")),
            6,
        ).alias("hoover_index"),
    )


_BF_ROUNDS = 4
_BF_PACK = 1 << 20  # pack = dist * 2^20 + hub  (lexicographic (dist, hub) min)


def _bf_sql() -> str:
    head = f"""
WITH nodes AS (SELECT vec_id AS v FROM embeddings),
ring AS (
  SELECT a.v AS u, b.v AS t,
         CAST(1 + (strpos('0123456789abcdef',
                          substr(md5('bf:' || a.v::VARCHAR), 1, 1)) - 1)
              AS BIGINT) AS wt
  FROM nodes a JOIN nodes b ON b.v = a.v + 1
),
chord AS (
  SELECT a.v AS u, b.v AS t,
         CAST(18 + (strpos('0123456789abcdef',
                           substr(md5('bf:' || a.v::VARCHAR), 2, 1)) - 1)
              AS BIGINT) AS wt
  FROM nodes a JOIN nodes b ON b.v = a.v + 7
),
edges AS (
  SELECT u, t, wt FROM ring UNION ALL SELECT t, u, wt FROM ring
  UNION ALL SELECT u, t, wt FROM chord UNION ALL SELECT t, u, wt FROM chord
),
d0 AS (
  SELECT v AS node, CAST(v AS BIGINT) AS pack FROM nodes WHERE v % 100 = 0
)"""
    steps = []
    for k in range(1, _BF_ROUNDS + 1):
        steps.append(
            f""",
d{k} AS (
  SELECT node, CAST(min(pack) AS BIGINT) AS pack FROM (
    SELECT node, pack FROM d{k - 1}
    UNION ALL
    SELECT e.t AS node, d.pack + e.wt * {_BF_PACK} AS pack
    FROM d{k - 1} d JOIN edges e ON e.u = d.node
  ) rel GROUP BY node
)"""
        )
    tail = f"""
SELECT n.v AS vec_id,
       CAST(d4.pack // {_BF_PACK} AS BIGINT) AS dist,
       CAST(d4.pack % {_BF_PACK} AS BIGINT) AS hub,
       CAST(CASE WHEN d1.node IS NOT NULL THEN 1
                 WHEN d2.node IS NOT NULL THEN 2
                 WHEN d3.node IS NOT NULL THEN 3
                 WHEN d4.node IS NOT NULL THEN 4 END AS BIGINT)
         AS first_round,
       d4.node IS NOT NULL AS reached
FROM nodes n
LEFT JOIN d1 ON d1.node = n.v
LEFT JOIN d2 ON d2.node = n.v
LEFT JOIN d3 ON d3.node = n.v
LEFT JOIN d4 ON d4.node = n.v
"""
    return head + "".join(steps) + tail


_BF_SQL = _bf_sql()


@register("q_bellman_ford_hubs", _BF_SQL)
def q_bellman_ford_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded Bellman-Ford: every 100th vec_id is a hub with
    distance 0, edges are the deterministic ring (weight 1..16 from an
    md5 nibble) plus +/-7 chords (weight 18..33), and 4 relaxation rounds
    compute each node's exact <=4-hop weighted distance to its nearest
    hub — with ties broken by hub id via the packed key
    dist*2^20 + hub, whose integer min IS the lexicographic (dist, hub)
    min (the max_by-free trick from [[engine-exactness-discipline]]).
    This is the weighted-Voronoi / nearest-facility assignment primitive
    (shard-to-hub routing, cache-placement); first_round records when
    each node was first reached, so the frontier expansion is auditable.
    Unreached nodes keep honest NULLs.

    Scale plan: each round is one equi-join frontier relaxation plus a
    map-side-combinable min — the textbook distributed Bellman-Ford
    (Pregel's hello-world); rounds are localCheckpoint-pinned like the
    BFS/Luby loops. Edge tables never materialize strings."""
    emb = load(spark, sf_dir, "embeddings")
    nodes = emb.select(F.col("vec_id").alias("v"))
    nib = lambda pos: (  # noqa: E731
        F.conv(
            F.substring(F.md5(F.concat(F.lit("bf:"), F.col("u").cast("string"))), pos, 1),
            16,
            10,
        ).cast("bigint")
    )
    def hop(off, base):
        a = nodes.select(F.col("v").alias("u"))
        b = nodes.select(F.col("v").alias("t"))
        return a.join(b, F.col("t") == F.col("u") + off).select(
            "u", "t", (F.lit(base) + nib(1 if off == 1 else 2)).alias("wt")
        )
    ring = hop(1, 1)
    chord = hop(7, 18)
    edges = (
        ring.unionAll(ring.select(F.col("t").alias("u"), F.col("u").alias("t"), "wt"))
        .unionAll(chord)
        .unionAll(chord.select(F.col("t").alias("u"), F.col("u").alias("t"), "wt"))
        .localCheckpoint()
    )
    d = nodes.filter(F.col("v") % 100 == 0).select(
        F.col("v").alias("node"), F.col("v").cast("bigint").alias("pack")
    ).localCheckpoint()
    rounds = []
    for _ in range(_BF_ROUNDS):
        relaxed = d.join(edges, F.col("u") == F.col("node")).select(
            F.col("t").alias("node"),
            (F.col("pack") + F.col("wt") * _BF_PACK).alias("pack"),
        )
        d = (
            d.select("node", "pack")
            .unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("pack").cast("bigint").alias("pack"))
            .localCheckpoint()
        )
        rounds.append(d)
    out = nodes
    for i, dk in enumerate(rounds, 1):
        out = out.join(
            dk.select(F.col("node").alias(f"n{i}"), F.col("pack").alias(f"p{i}")),
            F.col(f"n{i}") == F.col("v"),
            "left",
        )
    return out.select(
        F.col("v").alias("vec_id"),
        F.expr(f"p4 div {_BF_PACK}").cast("bigint").alias("dist"),
        (F.col("p4") % _BF_PACK).cast("bigint").alias("hub"),
        F.when(F.col("n1").isNotNull(), 1)
        .when(F.col("n2").isNotNull(), 2)
        .when(F.col("n3").isNotNull(), 3)
        .when(F.col("n4").isNotNull(), 4)
        .cast("bigint")
        .alias("first_round"),
        F.col("n4").isNotNull().alias("reached"),
    )


# --------------------------------------------------------------------------
# Round 4: scheduling/stat pair — critical-path method over a layered task
# DAG (max-plus relaxation), and the exact-integer Cramér-von Mises
# two-sample statistic.
# --------------------------------------------------------------------------


def _cpm_sql() -> str:
    """7 unrolled max-plus rounds: es_{t+1}(j) = max(es_t(j),
    max over edges i->j of es_t(i) + dur_i)."""
    blocks = []
    prev = "es0"
    for r in range(1, 8):
        blocks.append(
            f"""
es{r} AS (
  SELECT n.task, n.dur,
         CAST(greatest(n.es, coalesce(mx.cand, 0)) AS BIGINT) AS es
  FROM {prev} n
  LEFT JOIN (
    SELECT e.dst AS task, max(p.es + p.dur) AS cand
    FROM edges e JOIN {prev} p ON p.task = e.src
    GROUP BY 1
  ) mx ON mx.task = n.task
)""".strip()
        )
        prev = f"es{r}"
    return ",\n".join(blocks)


_CPM_SQL = f"""
WITH tasks AS (
  SELECT CAST(t.i AS BIGINT) AS task,
         CAST(1 + ('0x' || substr(md5('dur:' || CAST(t.i AS VARCHAR)), 1, 1))
              ::BIGINT AS BIGINT) AS dur
  FROM unnest(range(64)) AS t(i)
),
edges AS (
  SELECT a.task AS src, b.task AS dst
  FROM tasks a JOIN tasks b
    ON b.task // 8 = a.task // 8 + 1
  WHERE substr(md5('e:' || CAST(a.task AS VARCHAR) || '-'
               || CAST(b.task AS VARCHAR)), 1, 1) < '6'
),
es0 AS (SELECT task, dur, CAST(0 AS BIGINT) AS es FROM tasks),
{_cpm_sql()},
fin AS (
  SELECT task, dur, es, es + dur AS ef,
         CAST(task // 8 AS BIGINT) AS layer
  FROM es7
),
mk AS (SELECT CAST(max(ef) AS BIGINT) AS makespan FROM fin),
indeg AS (
  SELECT dst AS task, CAST(count(*) AS BIGINT) AS n_preds
  FROM edges GROUP BY 1
)
SELECT f.task, f.layer, f.dur, f.es, f.ef,
       coalesce(i.n_preds, 0) AS n_preds,
       m.makespan,
       CASE WHEN f.ef = m.makespan THEN 1 ELSE 0 END AS on_critical_end
FROM fin f LEFT JOIN indeg i USING (task) CROSS JOIN mk m
"""


@register("q_critical_path", _CPM_SQL)
def q_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Critical-path method (CPM, Kelley-Walker 1959) over a layered
    64-task DAG (md5 durations 1..16; edges only cross adjacent 8-task
    layers, so the longest path is <= 7 hops BY CONSTRUCTION and 7
    unrolled max-plus relaxation rounds es(j) = max(es(j), max over
    preds es(i) + dur(i)) reach the exact fixpoint — the tropical-
    semiring twin of q_bellman_ford_hubs' min-plus). Earliest start /
    finish per task, the makespan, and the tasks whose finish IS the
    makespan (the critical chain ends) are the schedule a DAG
    orchestrator derives before assigning workers; every number is an
    exact BIGINT and the replica verifies the fixpoint against a
    recursive longest-path computation plus the es >= preds' ef
    feasibility invariant on every edge.

    Scale plan: each round is one equi-join edges-to-states + max
    groupBy (the Pregel relaxation shape); frames are DAG-sized
    (metadata, not corpus). 1-row makespan carry."""
    tasks = spark.range(64).select(
        F.col("id").cast("long").alias("task"),
        (
            1
            + F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("dur:"), F.col("id").cast("string"))), 1, 1
                ),
                16,
                10,
            ).cast("long")
        ).alias("dur"),
    )
    a = tasks.select(F.col("task").alias("src"))
    b = tasks.select(F.col("task").alias("dst"))
    edges = (
        a.crossJoin(b)
        .filter(
            F.floor(F.col("dst") / 8) == F.floor(F.col("src") / 8) + 1
        )
        .filter(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("e:"), F.col("src").cast("string"), F.lit("-"),
                        F.col("dst").cast("string"),
                    )
                ),
                1,
                1,
            )
            < "6"
        )
        .localCheckpoint()
    )
    es = tasks.select("task", "dur", F.lit(0).cast("long").alias("es"))
    for _r in range(7):
        cand = (
            edges.join(
                es.select(
                    F.col("task").alias("src"), F.col("es").alias("p_es"),
                    F.col("dur").alias("p_dur"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("task"))
            .agg(F.max(F.col("p_es") + F.col("p_dur")).alias("cand"))
        )
        es = (
            es.join(cand, "task", "left")
            .select(
                "task", "dur",
                F.greatest("es", F.coalesce("cand", F.lit(0)))
                .cast("long")
                .alias("es"),
            )
            .localCheckpoint()
        )
    fin = es.select(
        "task", "dur", "es",
        (F.col("es") + F.col("dur")).alias("ef"),
        F.floor(F.col("task") / 8).cast("long").alias("layer"),
    )
    mk = fin.agg(F.max("ef").cast("long").alias("makespan"))
    indeg = edges.groupBy(F.col("dst").alias("task")).agg(
        F.count(F.lit(1)).cast("long").alias("n_preds")
    )
    return (
        fin.join(indeg, "task", "left")
        .crossJoin(F.broadcast(mk))
        .select(
            "task", "layer", "dur", "es", "ef",
            F.coalesce("n_preds", F.lit(0)).cast("long").alias("n_preds"),
            "makespan",
            F.when(F.col("ef") == F.col("makespan"), 1)
            .otherwise(0)
            .alias("on_critical_end"),
        )
    )


_CVM_SQL = """
WITH s AS (
  SELECT n_chars AS x,
         CASE WHEN lang = 'en' THEN 'a' ELSE 'b' END AS grp
  FROM documents
),
nn AS (
  SELECT CAST(count(CASE WHEN grp = 'a' THEN 1 END) AS BIGINT) AS n1,
         CAST(count(CASE WHEN grp = 'b' THEN 1 END) AS BIGINT) AS n2
  FROM s
),
vals AS (
  SELECT x,
         CAST(count(CASE WHEN grp = 'a' THEN 1 END) AS BIGINT) AS c1,
         CAST(count(CASE WHEN grp = 'b' THEN 1 END) AS BIGINT) AS c2
  FROM s GROUP BY 1
),
cum AS (
  SELECT x, c1, c2,
         CAST(sum(c1) OVER (ORDER BY x) AS BIGINT) AS f1,
         CAST(sum(c2) OVER (ORDER BY x) AS BIGINT) AS f2
  FROM vals
)
SELECT n1, n2, n_distinct_vals, t_num, ks_num,
       round(CAST(t_num AS DOUBLE) * n1 * n2
             / (CAST(n1 AS DOUBLE) * n1 * n2 * n2
                * (n1 + n2) * (n1 + n2)), 6) AS t_stat
FROM (
  SELECT nn.n1, nn.n2,
         CAST(count(*) AS BIGINT) AS n_distinct_vals,
         CAST(sum((nn.n2 * cum.f1 - nn.n1 * cum.f2)
                  * (nn.n2 * cum.f1 - nn.n1 * cum.f2)
                  * (cum.c1 + cum.c2)) AS BIGINT) AS t_num,
         CAST(max(abs(nn.n2 * cum.f1 - nn.n1 * cum.f2)) AS BIGINT) AS ks_num
  FROM cum CROSS JOIN nn
  GROUP BY nn.n1, nn.n2
)
"""


@register("q_cramer_von_mises", _CVM_SQL)
def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises statistic in exact integers — the
    whole-distribution companion to q_ks_drift's max-gap: over English
    vs non-English document lengths, T = (n1 n2)/(n1+n2)^2 * sum over
    pooled points of (F1 - F2)^2, and the cross-multiplied core
    sum (n2 F1cnt - n1 F2cnt)^2 * weight is a BIGINT because the ECDF
    counts are integers — KS asks 'is there one bad gap', CvM asks 'is
    the whole curve off', and a drift monitor wants both (a slow
    uniform shift hides from KS but accumulates in CvM). The per-value
    weight (c1 + c2) counts pooled multiplicity so ties are exact. The
    KS numerator ships beside it from the same pass as a cross-check
    against the standalone q_ks_drift.

    Scale plan: one value-domain groupBy, one cumulative window over the
    distinct-value frame (value-domain bounded), a 1-row rollup.
    BIGINT envelope: (n2 F1)^2 * n <= n^5 — safe through ~5e3 docs per
    side; t_stat derives from the exact BIGINT t_num in one
    post-projection division — no cross-row double sums anywhere."""
    docs = load_docs(spark, sf_dir)
    s = docs.select(
        F.col("n_chars").alias("x"),
        F.when(F.col("lang") == "en", "a").otherwise("b").alias("grp"),
    )
    nn = s.agg(
        F.count(F.when(F.col("grp") == "a", 1)).cast("long").alias("n1"),
        F.count(F.when(F.col("grp") == "b", 1)).cast("long").alias("n2"),
    )
    vals = s.groupBy("x").agg(
        F.count(F.when(F.col("grp") == "a", 1)).cast("long").alias("c1"),
        F.count(F.when(F.col("grp") == "b", 1)).cast("long").alias("c2"),
    )
    wv = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = vals.select(
        "x", "c1", "c2",
        F.sum("c1").over(wv).cast("long").alias("f1"),
        F.sum("c2").over(wv).cast("long").alias("f2"),
    )
    j = cum.crossJoin(F.broadcast(nn))
    core = F.col("n2") * F.col("f1") - F.col("n1") * F.col("f2")
    agg = j.groupBy("n1", "n2").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_vals"),
        F.sum(core * core * (F.col("c1") + F.col("c2")))
        .cast("long")
        .alias("t_num"),
        F.max(F.abs(core)).cast("long").alias("ks_num"),
    )
    return agg.select(
        "n1", "n2", "n_distinct_vals", "t_num", "ks_num",
        F.round(
            F.col("t_num").cast("double") * F.col("n1") * F.col("n2")
            / (
                F.col("n1").cast("double")
                * F.col("n1")
                * F.col("n2")
                * F.col("n2")
                * (F.col("n1") + F.col("n2"))
                * (F.col("n1") + F.col("n2"))
            ),
            6,
        ).alias("t_stat"),
    )


# --------------------------------------------------------------------------
# Round 4: KG eval — TransE link prediction ranking in exact integer L1
# geometry.
# --------------------------------------------------------------------------


def _nib_sql(prefix: str, idcol: str, i: int) -> str:
    return (
        f"('0x' || substr(md5('{prefix}' || CAST({idcol} AS VARCHAR)), "
        f"{i + 1}, 1))::BIGINT"
    )


_TRANSE_SCORE_SQL = " + ".join(
    f"abs({_nib_sql('emb:', 'c.h', i)} + "
    f"('0x' || substr(md5('rel:similar'), {i + 1}, 1))::BIGINT - "
    f"{_nib_sql('emb:', 'c.t', i)})"
    for i in range(8)
)

_TRANSE_SIG_SCORE_SQL = " + ".join(
    f"abs(('0x' || substr(md5('sigemb:' || CAST(c.h % 16 AS VARCHAR)), "
    f"{i + 1}, 1))::BIGINT - "
    f"('0x' || substr(md5('sigemb:' || CAST(c.t % 16 AS VARCHAR)), "
    f"{i + 1}, 1))::BIGINT)"
    for i in range(8)
)

_TRANSE_SQL = f"""
WITH {SQL_DOCS_TOKS.strip()},
{_DPG4.strip()},
mx AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS n_ent FROM documents),
spine AS (SELECT CAST(t.i AS BIGINT) AS j FROM unnest(range(65)) AS t(i)),
cand AS (
  SELECT e.lo AS h, e.hi AS true_t,
         CASE WHEN f.j = 0 THEN e.hi
              ELSE ('0x' || substr(md5('neg:' || CAST(e.lo AS VARCHAR) || '-'
                     || CAST(e.hi AS VARCHAR) || '-' || CAST(f.j AS VARCHAR)),
                     1, 12))::BIGINT % mx.n_ent END AS t
  FROM ge e CROSS JOIN mx CROSS JOIN spine f
),
cand_sig AS (
  SELECT DISTINCT e.lo AS h, e.lo + 16 AS true_t,
         CASE WHEN f.j = 0 THEN e.lo + 16
              ELSE ('0x' || substr(md5('sneg:' || CAST(e.lo AS VARCHAR) || '-'
                     || CAST(e.lo + 16 AS VARCHAR) || '-'
                     || CAST(f.j AS VARCHAR)),
                     1, 12))::BIGINT % mx.n_ent END AS t
  FROM ge e CROSS JOIN mx CROSS JOIN spine f
  WHERE e.lo + 16 < mx.n_ent
),
dcand AS (SELECT DISTINCT h, true_t, t FROM cand),
scored AS (
  SELECT 'chance' AS arm, c.h, c.true_t, c.t,
         CAST({_TRANSE_SCORE_SQL} AS BIGINT) AS score
  FROM dcand c
  UNION ALL
  SELECT 'signal', c.h, c.true_t, c.t,
         CAST({_TRANSE_SIG_SCORE_SQL} AS BIGINT)
  FROM cand_sig c
),
ranked AS (
  SELECT arm, h, true_t, t, score,
         row_number() OVER (PARTITION BY arm, h, true_t
                            ORDER BY score, t) AS rk,
         count(*) OVER (PARTITION BY arm, h, true_t) AS n_cands
  FROM scored
),
true_rk AS (
  SELECT arm, h, true_t, rk, n_cands FROM ranked WHERE t = true_t
)
SELECT arm,
       CAST(count(*) AS BIGINT) AS n_triples,
       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits1,
       CAST(sum(CASE WHEN rk <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS hits3,
       CAST(sum(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits10,
       CAST(sum(rk) AS BIGINT) AS rank_sum,
       round(CAST(sum(rk) AS DOUBLE) / count(*), 6) AS mean_rank,
       CAST(min(n_cands) AS BIGINT) AS min_cands,
       CAST(max(n_cands) AS BIGINT) AS max_cands
FROM true_rk GROUP BY arm
"""


@register("q_transe_eval", _TRANSE_SQL)
def q_transe_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TransE link-prediction evaluation (Bordes 2013) in exact integer
    geometry, TWO-ARM (round-4 verdict item 5): the filtered-ranking
    protocol (true tail vs 64 md5-corrupted tails drawn from the
    [0, max_id] entity universe, candidate set deduplicated) runs over
    (a) the CHANCE arm — entities embed as 8-dim md5 nibble vectors, a
    md5 relation vector, score = L1 ||e_h + r - e_t|| — where metrics
    must sit at the random baseline (mean rank ~ n_cands/2, hits@10 ~
    10/65), and (b) the SIGNAL arm — 'trained' embeddings that encode
    cluster membership (E(e) = md5 nibbles of e % 16, r = 0, planted
    triples (h, h+16) within-cluster) so score(h, true_t) = 0 exactly
    and only the ~1/16 of negatives landing in the same cluster can tie
    — hits@10 must sit FAR above chance. A leaderboard harness has to
    read both noise and signal correctly before its numbers mean
    anything; the replica asserts the chance band AND the signal band.
    All scores are BIGINTs, zero float anywhere.

    Scale plan: candidates are a 65-row broadcast spine per edge
    (whitelisted), scores are pure projections, ranking windows run on
    65-row frames — never entity x entity."""
    from cliner_spark.queries_r2 import _docpair_edges

    ge = _docpair_edges(spark, sf_dir).select(
        F.col("src").alias("h"), F.col("dst").alias("true_t")
    )
    mx = load_docs(spark, sf_dir).agg(
        (F.max("doc_id") + 1).cast("long").alias("n_ent")
    )
    js = spark.range(65).select(F.col("id").cast("long").alias("j"))

    def corrupt(salt: str):
        return F.when(F.col("j") == 0, F.col("true_t")).otherwise(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(salt), F.col("h").cast("string"),
                            F.lit("-"), F.col("true_t").cast("string"),
                            F.lit("-"), F.col("j").cast("string"),
                        )
                    ),
                    1, 12,
                ),
                16, 10,
            ).cast("long")
            % F.col("n_ent")
        )

    cand = (
        ge.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(js))
        .select("h", "true_t", corrupt("neg:").alias("t"))
        .distinct()
    )
    cand_sig = (
        ge.select("h")
        .crossJoin(F.broadcast(mx))
        .filter(F.col("h") + 16 < F.col("n_ent"))
        .select("h", (F.col("h") + 16).alias("true_t"), "n_ent")
        .crossJoin(F.broadcast(js))
        .select("h", "true_t", corrupt("sneg:").alias("t"))
        .distinct()
    )

    def nib(prefix, expr, i):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), expr.cast("string"))), i + 1, 1
            ),
            16, 10,
        ).cast("long")

    rel = [
        F.conv(F.substring(F.md5(F.lit("rel:similar")), i + 1, 1), 16, 10).cast(
            "long"
        )
        for i in range(8)
    ]
    score = None
    score_sig = None
    for i in range(8):
        term = F.abs(
            nib("emb:", F.col("h"), i) + rel[i] - nib("emb:", F.col("t"), i)
        )
        score = term if score is None else score + term
        # signal embeddings encode cluster id (e % 16); relation = 0
        sterm = F.abs(
            nib("sigemb:", F.col("h") % 16, i)
            - nib("sigemb:", F.col("t") % 16, i)
        )
        score_sig = sterm if score_sig is None else score_sig + sterm
    scored = cand.select(
        F.lit("chance").alias("arm"), "h", "true_t", "t",
        score.cast("long").alias("score"),
    ).unionAll(
        cand_sig.select(
            F.lit("signal").alias("arm"), "h", "true_t", "t",
            score_sig.cast("long").alias("score"),
        )
    )
    wr = Window.partitionBy("arm", "h", "true_t").orderBy("score", "t")
    wp = Window.partitionBy("arm", "h", "true_t")
    ranked = scored.select(
        "arm", "h", "true_t", "t",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n_cands"),
    )
    true_rk = ranked.filter(F.col("t") == F.col("true_t"))
    return true_rk.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.sum(F.when(F.col("rk") == 1, 1).otherwise(0)).cast("long").alias("hits1"),
        F.sum(F.when(F.col("rk") <= 3, 1).otherwise(0)).cast("long").alias("hits3"),
        F.sum(F.when(F.col("rk") <= 10, 1).otherwise(0))
        .cast("long")
        .alias("hits10"),
        F.sum("rk").cast("long").alias("rank_sum"),
        F.round(F.sum("rk").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_rank"
        ),
        F.min("n_cands").cast("long").alias("min_cands"),
        F.max("n_cands").cast("long").alias("max_cands"),
    )
