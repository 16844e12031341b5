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
# Round 4n: product/monitoring analytics — ordered funnel conversion,
# retention cohort matrix, chi-square/Cramér's-V independence audit,
# Mann-Kendall trend + Theil-Sen slope, and an EWMA volume-anomaly ledger.
# Exact-integer sufficient statistics throughout; floats only as rounded
# convenience columns.
# --------------------------------------------------------------------------

_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY 1
),
f AS (
  SELECT 1 AS step, 'signup' AS step_name, count(*) AS n FROM s1
  UNION ALL SELECT 2, 'click', count(*) FROM s2
  UNION ALL SELECT 3, 'purchase', count(*) FROM s3
)
SELECT CAST(step AS INT) AS step, step_name,
       CAST(n AS BIGINT) AS n_users,
       CAST(coalesce(lag(n) OVER (ORDER BY step), n) AS BIGINT) AS prev_users,
       round(CAST(n AS DOUBLE)
             / coalesce(lag(n) OVER (ORDER BY step), n), 6) AS conv_prev,
       CAST(max(CASE WHEN step = 1 THEN n END) OVER () AS BIGINT)
         AS first_users,
       round(CAST(n AS DOUBLE)
             / max(CASE WHEN step = 1 THEN n END) OVER (), 6) AS conv_first
FROM f
"""


@register("q_funnel_conversion", _FUNNEL_SQL)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (signup -> click -> purchase) with the
    STRICT temporal-order semantics real funnel engines use: a user counts
    at step k only if their earliest step-k event happens strictly AFTER
    their earliest qualifying step-(k-1) event (min-ts chaining, not mere
    event presence — a purchase before first click does not convert).
    Emits the 3-row step ledger with exact user counts and step-over-step
    / from-first conversion rationals.

    Scale plan: each step is one filtered scan + an equi-join on user_id
    against the previous (already user-deduped, strictly smaller) step
    frame — broadcastable in practice, hash-co-located otherwise; no
    windows over the fact table, no all-event materialization per user.
    The lag/max windows run on the 3-row step frame."""
    ev = load(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    f = (
        s1.agg(F.lit(1).alias("step"), F.lit("signup").alias("step_name"),
               F.count(F.lit(1)).alias("n"))
        .unionAll(
            s2.agg(F.lit(2).alias("step"), F.lit("click").alias("step_name"),
                   F.count(F.lit(1)).alias("n"))
        )
        .unionAll(
            s3.agg(F.lit(3).alias("step"),
                   F.lit("purchase").alias("step_name"),
                   F.count(F.lit(1)).alias("n"))
        )
    )
    w = Window.orderBy("step")
    wall = Window.partitionBy()
    prev = F.coalesce(F.lag("n").over(w), F.col("n"))
    first = F.max(F.when(F.col("step") == 1, F.col("n"))).over(wall)
    return f.select(
        F.col("step").cast("int").alias("step"),
        "step_name",
        F.col("n").cast("bigint").alias("n_users"),
        prev.cast("bigint").alias("prev_users"),
        F.round(F.col("n").cast("double") / prev, 6).alias("conv_prev"),
        first.cast("bigint").alias("first_users"),
        F.round(F.col("n").cast("double") / first, 6).alias("conv_first"),
    )


_RETENTION_SQL = """
WITH u AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1
),
act AS (
  SELECT DISTINCT e.user_id, u.d0,
         CAST((date_diff('day', u.d0, CAST(e.ts AS DATE))
               - (date_diff('day', u.d0, CAST(e.ts AS DATE)) % 7)) / 7
              AS INT) AS wk
  FROM events e JOIN u ON e.user_id = u.user_id
),
cs AS (SELECT d0, count(*) AS cohort_n FROM u GROUP BY 1),
r AS (SELECT d0, wk, count(*) AS n_active FROM act GROUP BY 1, 2),
mw AS (SELECT max(wk) AS m FROM act),
spine AS (
  SELECT cs.d0, cs.cohort_n, CAST(g.x AS INT) AS wk
  FROM cs, mw, unnest(range(CAST(mw.m + 1 AS BIGINT))) AS g(x)
)
SELECT CAST(s.d0 AS VARCHAR) AS cohort_day, s.wk AS week_offset,
       CAST(s.cohort_n AS BIGINT) AS cohort_users,
       CAST(coalesce(r.n_active, 0) AS BIGINT) AS active_users,
       round(CAST(coalesce(r.n_active, 0) AS DOUBLE) / s.cohort_n, 6)
         AS retention
FROM spine s LEFT JOIN r ON s.d0 = r.d0 AND s.wk = r.wk
"""


@register("q_retention_cohorts", _RETENTION_SQL)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention cohort matrix: users cohorted by first-activity
    day, activity bucketed into 7-day offsets from EACH USER'S OWN day-0
    (not calendar weeks — the unbiased form that doesn't penalize users
    who sign up late in a week), zero-filled over the full cohort x offset
    grid so silent cohorts are visible rows, with exact active/cohort-size
    rationals.

    Scale plan: two map-side-combined groupBys over the fact table (user
    day-0, then distinct user-week activity) and an equi-join on user_id;
    the zero-fill spine is |cohorts| x |offsets| — dimension-sized, built
    from two tiny frames. Day-0 per user is the only per-user state, no
    windows over raw events."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d0"))
    dd = F.datediff(F.col("ts").cast("date"), F.col("d0"))
    act = (
        ev.join(u, "user_id")
        .select(
            "user_id",
            "d0",
            ((dd - dd % 7) / 7).cast("int").alias("wk"),
        )
        .distinct()
    )
    cs = u.groupBy("d0").agg(F.count(F.lit(1)).alias("cohort_n"))
    r = act.groupBy("d0", "wk").agg(F.count(F.lit(1)).alias("n_active"))
    mw = act.agg(F.max("wk").alias("m"))
    spine = cs.crossJoin(mw).select(
        "d0",
        "cohort_n",
        F.explode(F.sequence(F.lit(0), F.col("m"))).alias("wk"),
    )
    out = spine.join(r, ["d0", "wk"], "left")
    na = F.coalesce(F.col("n_active"), F.lit(0))
    return out.select(
        F.col("d0").cast("string").alias("cohort_day"),
        F.col("wk").cast("int").alias("week_offset"),
        F.col("cohort_n").cast("bigint").alias("cohort_users"),
        na.cast("bigint").alias("active_users"),
        F.round(na.cast("double") / F.col("cohort_n"), 6).alias("retention"),
    )


_CHISQ_SQL = """
WITH o AS (
  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2
),
srcs AS (SELECT source, sum(n) AS r FROM o GROUP BY 1),
langs AS (SELECT lang, sum(n) AS c FROM o GROUP BY 1),
tot AS (
  SELECT (SELECT sum(n) FROM o) AS nn,
         (SELECT count(*) FROM srcs) AS nr,
         (SELECT count(*) FROM langs) AS nc
),
cell AS (
  SELECT s.source, l.lang, s.r, l.c, coalesce(o.n, 0) AS obs
  FROM srcs s CROSS JOIN langs l
  LEFT JOIN o ON o.source = s.source AND o.lang = l.lang
),
t AS (
  SELECT cell.*, tot.nn, tot.nr, tot.nc,
         (nn * obs - r * c) * (nn * obs - r * c) AS num,
         nn * r * c AS den
  FROM cell, tot
),
w AS (
  SELECT t.*, sum(CAST(num AS DOUBLE) / den) OVER () AS chi2 FROM t
)
SELECT source, lang, CAST(obs AS BIGINT) AS obs,
       CAST(r AS BIGINT) AS row_total, CAST(c AS BIGINT) AS col_total,
       CAST(num AS BIGINT) AS chisq_num, CAST(den AS BIGINT) AS chisq_den,
       round(CAST(num AS DOUBLE) / den, 6) AS cell_term,
       round(chi2, 6) AS chi2,
       round(sqrt(chi2 / (nn * least(nr - 1, nc - 1))), 6) AS cramers_v
FROM w
"""


@register("q_chisq_independence", _CHISQ_SQL)
def q_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of the source x lang contingency
    table (is language mix independent of crawl source?) with Cramér's V
    effect size. Per-cell sufficient statistics are EXACT BIGINTs via the
    cross-multiplied identity (obs-exp)^2/exp = (N*obs - r*c)^2 / (N*r*c)
    — no float expected-counts; the zero-filled full grid means empty
    cells (a source missing a language entirely) contribute their full
    r*c/N expectation to the statistic, exactly the signal a biased
    crawl shows. chi2 / cramers_v are rounded conveniences (sums of ~100
    exact rationals; value >> 6dp rounding noise).

    Scale plan: one map-side-combined (source, lang) count; everything
    downstream runs on dimension-sized frames (|sources| x |langs| grid).
    The 1-row totals frame rides a broadcast scalar-carry crossJoin
    (whitelisted)."""
    docs = load_docs(spark, sf_dir)
    o = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    srcs = o.groupBy("source").agg(F.sum("n").alias("r"))
    langs = o.groupBy("lang").agg(F.sum("n").alias("c"))
    tot = o.agg(
        F.sum("n").alias("nn"),
        F.countDistinct("source").alias("nr"),
        F.countDistinct("lang").alias("nc"),
    )
    cell = (
        srcs.crossJoin(langs)
        .join(o, ["source", "lang"], "left")
        .select(
            "source", "lang", "r", "c",
            F.coalesce(F.col("n"), F.lit(0)).alias("obs"),
        )
    )
    t = cell.crossJoin(tot).select(
        "*",
        ((F.col("nn") * F.col("obs") - F.col("r") * F.col("c"))
         * (F.col("nn") * F.col("obs") - F.col("r") * F.col("c"))).alias("num"),
        (F.col("nn") * F.col("r") * F.col("c")).alias("den"),
    )
    chi2 = F.sum(F.col("num").cast("double") / F.col("den")).over(
        Window.partitionBy()
    )
    w = t.withColumn("chi2", chi2)
    return w.select(
        "source",
        "lang",
        F.col("obs").cast("bigint").alias("obs"),
        F.col("r").cast("bigint").alias("row_total"),
        F.col("c").cast("bigint").alias("col_total"),
        F.col("num").cast("bigint").alias("chisq_num"),
        F.col("den").cast("bigint").alias("chisq_den"),
        F.round(F.col("num").cast("double") / F.col("den"), 6).alias("cell_term"),
        F.round(F.col("chi2"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("nn") * F.least(F.col("nr") - 1, F.col("nc") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


_MANN_KENDALL_SQL = """
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
  SELECT row_number() OVER (ORDER BY s.day) AS k, coalesce(d.x, 0) AS x
  FROM spine s LEFT JOIN daily d USING (day)
),
pairs AS (
  SELECT a.k AS ka, b.k AS kb,
         CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sg,
         (b.x - a.x) * 1000 AS snum, b.k - a.k AS sden
  FROM dense a JOIN dense b ON a.k < b.k
),
sl AS (
  SELECT sg,
         CAST((snum - ((snum % sden) + sden) % sden) // sden AS BIGINT)
           AS slope_milli,
         ka, kb,
         count(*) OVER () AS n_pairs,
         sum(sg) OVER () AS s_stat,
         row_number() OVER (ORDER BY
           (snum - ((snum % sden) + sden) % sden) // sden, ka, kb) AS pr
  FROM pairs
),
nd AS (SELECT count(*) AS n_days FROM dense),
tie AS (
  SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
  FROM (SELECT count(*) AS t FROM dense GROUP BY x HAVING count(*) > 1)
)
SELECT CAST(nd.n_days AS BIGINT) AS n_days,
       CAST(sl.n_pairs AS BIGINT) AS n_pairs,
       CAST(sl.s_stat AS BIGINT) AS s_stat,
       CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
            - tie.tie_term AS BIGINT) AS var18,
       CAST(sl.slope_milli AS BIGINT) AS ts_slope_milli,
       round(CAST(sl.slope_milli AS DOUBLE) / 1000, 6) AS ts_slope
FROM sl, nd, tie
WHERE sl.pr = (sl.n_pairs + 1) // 2
"""


@register("q_mann_kendall", _MANN_KENDALL_SQL)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test + Theil-Sen slope over the daily event
    volume (zero-filled day grid): S = sum of pairwise signs (exact
    integer), tie-corrected variance as the exact integer 18*Var(S) =
    n(n-1)(2n+5) - sum t(t-1)(2t+5), and the Theil-Sen slope as the LOWER
    MEDIAN of all pairwise slopes in exact milli-units per day — each
    slope floor((xj-xi)*1000 / (kj-ki)) with the engine-stable
    ((a%b)+b)%b floor-mod (Spark's and DuckDB's % both take the
    dividend's sign), so the median is selected from an integer total
    order with (ka, kb) tie pinning. The nonparametric trend primitive —
    robust to outliers that wreck OLS on bursty volumes.

    Scale plan: the pair join is over the DAY GRID (|days|^2 — a
    dimension squared, ~10^5 rows for a year; never the corpus); the raw
    fact table contributes one map-side-combined daily rollup. The 1-row
    n_days / tie-term frames ride whitelisted scalar-carry crossJoins."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    b = daily.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    spine = b.select(
        F.explode(F.sequence("dmin", "dmax", F.expr("interval 1 day"))).alias("day")
    )
    dense = (
        spine.join(daily, "day", "left")
        .select(
            F.row_number().over(Window.orderBy("day")).alias("k"),
            F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
        )
    )
    a, c = dense.alias("a"), dense.alias("b")
    pairs = a.join(c, F.col("a.k") < F.col("b.k")).select(
        F.col("a.k").alias("ka"),
        F.col("b.k").alias("kb"),
        F.when(F.col("b.x") > F.col("a.x"), 1)
        .when(F.col("b.x") < F.col("a.x"), -1)
        .otherwise(0)
        .alias("sg"),
        ((F.col("b.x") - F.col("a.x")) * 1000).alias("snum"),
        (F.col("b.k") - F.col("a.k")).alias("sden"),
    )
    fmod = ((F.col("snum") % F.col("sden")) + F.col("sden")) % F.col("sden")
    slope = ((F.col("snum") - fmod) / F.col("sden")).cast("bigint")
    wall = Window.partitionBy()
    sl = pairs.select(
        "sg",
        slope.alias("slope_milli"),
        "ka",
        "kb",
        F.count(F.lit(1)).over(wall).alias("n_pairs"),
        F.sum("sg").over(wall).alias("s_stat"),
        F.row_number()
        .over(Window.orderBy(slope.asc(), F.asc("ka"), F.asc("kb")))
        .alias("pr"),
    )
    nd = dense.agg(F.count(F.lit(1)).alias("n_days"))
    tie = (
        dense.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    med = sl.filter(
        F.col("pr") == F.floor((F.col("n_pairs") + 1) / 2)
    )
    out = med.crossJoin(nd).crossJoin(tie)
    return out.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("s_stat").cast("bigint").alias("s_stat"),
        (
            F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
            - F.col("tie_term")
        )
        .cast("bigint")
        .alias("var18"),
        F.col("slope_milli").cast("bigint").alias("ts_slope_milli"),
        F.round(F.col("slope_milli").cast("double") / 1000, 6).alias("ts_slope"),
    )


_EWMA_SQL = """
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
off AS (SELECT CAST(t.i + 1 AS INT) AS o FROM unnest(range(16)) AS t(i)),
j AS (
  SELECT g.day, g.x,
         (CAST(1 AS BIGINT) << (16 - off.o)) AS w, h.x AS hx
  FROM dense g CROSS JOIN off
  JOIN dense h ON h.day = g.day - off.o
),
agg AS (
  SELECT day, x,
         CAST(sum(w * hx) AS BIGINT) AS ewma_num,
         CAST(sum(w) AS BIGINT) AS ewma_den
  FROM j GROUP BY 1, 2
)
SELECT CAST(day AS VARCHAR) AS day, x,
       ewma_num, ewma_den,
       round(CAST(ewma_num AS DOUBLE) / ewma_den, 6) AS ewma,
       (x * ewma_den > 2 * ewma_num) AS flag_high,
       (2 * x * ewma_den < ewma_num) AS flag_low
FROM agg
"""


@register("q_ewma_anomaly", _EWMA_SQL)
def q_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA volume-anomaly ledger over the daily event grid: each day's
    baseline is the alpha=1/2 exponentially-weighted mean of the 16 PRIOR
    days (weights 2^(16-o), an exact power-of-two ladder, so ewma_num /
    ewma_den are exact BIGINTs — near the series start the denominator
    self-normalizes over the available history). Anomaly flags are exact
    cross-multiplied comparisons (x > 2*ewma / x < ewma/2) — zero float
    surface in the decision; the rounded ewma column is convenience only.
    The pointwise burst/outage detector complementing CUSUM (level shifts)
    and KS (distribution drift).

    Scale plan: the 16x fanout joins the DAY GRID against itself on an
    equi-key (day - offset) — dimension-sized both sides; the fact table
    contributes one map-side-combined rollup. First day emits no row (no
    prior history, honest rather than a fabricated baseline). Production
    partitions the same shape by tenant key."""
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
    off = spark.range(16).select((F.col("id") + 1).cast("int").alias("o"))
    g, h = dense.alias("g"), dense.alias("h")
    j = (
        g.crossJoin(off)
        .join(h, F.col("h.day") == F.date_sub(F.col("g.day"), F.col("o")))
        .select(
            F.col("g.day").alias("day"),
            F.col("g.x").alias("x"),
            F.expr("shiftleft(CAST(1 AS BIGINT), 16 - o)").alias("w"),
            F.col("h.x").alias("hx"),
        )
    )
    agg = j.groupBy("day", "x").agg(
        F.sum(F.col("w") * F.col("hx")).cast("bigint").alias("ewma_num"),
        F.sum("w").cast("bigint").alias("ewma_den"),
    )
    return agg.select(
        F.col("day").cast("string").alias("day"),
        "x",
        "ewma_num",
        "ewma_den",
        F.round(F.col("ewma_num").cast("double") / F.col("ewma_den"), 6).alias(
            "ewma"
        ),
        (F.col("x") * F.col("ewma_den") > 2 * F.col("ewma_num")).alias(
            "flag_high"
        ),
        (2 * F.col("x") * F.col("ewma_den") < F.col("ewma_num")).alias(
            "flag_low"
        ),
    )


# --------------------------------------------------------------------------
# Round 4o: graph / text / layout — bipartite HITS, k-truss peel, longest
# common token run over near-dup pairs, corpus BLEU between near-dup pairs,
# and a Z-order vs linear file-layout pruning audit.
# --------------------------------------------------------------------------

_HITS_SQL = """
WITH w AS (
  SELECT user_id AS u, event_type AS t, CAST(count(*) AS BIGINT) AS w
  FROM events GROUP BY 1, 2
),
h1 AS (SELECT u, sum(w) AS h FROM w GROUP BY u),
a1 AS (SELECT t, sum(w.w * h1.h) AS a FROM w JOIN h1 USING (u) GROUP BY t),
h2 AS (SELECT u, sum(w.w * a1.a) AS h FROM w JOIN a1 USING (t) GROUP BY u),
a2 AS (SELECT t, sum(w.w * h2.h) AS a FROM w JOIN h2 USING (u) GROUP BY t),
hub AS (
  SELECT 'hub' AS side, CAST(u AS VARCHAR) AS id,
         CAST(h1.h AS BIGINT) AS score1, CAST(h2.h AS BIGINT) AS score2
  FROM h1 JOIN h2 USING (u)
),
auth AS (
  SELECT 'auth' AS side, t AS id,
         CAST(a1.a AS BIGINT) AS score1, CAST(a2.a AS BIGINT) AS score2
  FROM a1 JOIN a2 USING (t)
),
uni AS (SELECT * FROM hub UNION ALL SELECT * FROM auth)
SELECT side, id, score1, score2,
       round(CAST(score2 AS DOUBLE)
             / max(score2) OVER (PARTITION BY side), 6) AS share
FROM uni
"""


@register("q_hits_bipartite", _HITS_SQL)
def q_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) on the weighted user x event-type bipartite
    graph, two exact unrolled iterations from a_0 = 1: hubs are users
    (h = W a), authorities are event types (a = W^T h). Normalization is
    deferred to the END (share = score / side-max as a rounded
    convenience), so every intermediate is an exact BIGINT — the same
    integer-fixed-point trick as q_pagerank / q_katz_centrality, here in
    its bipartite mutual-reinforcement form: a user scores high when
    they do high-authority things; an event type scores high when heavy
    users do it.

    Scale plan: each half-iteration is one equi-join of the weighted edge
    list against a node-score dimension + a map-side-combined groupBy —
    the textbook distributed HITS step; the authority side is tiny and
    broadcasts. Two iterations keep BIGINT exact (score2 <= W_tot^2 *
    max_w); deeper fixpoints switch to the pagerank fixed-point scaling."""
    ev = load(spark, sf_dir, "events")
    w = ev.groupBy(
        F.col("user_id").alias("u"), F.col("event_type").alias("t")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    h1 = w.groupBy("u").agg(F.sum("w").alias("h"))
    a1 = (
        w.join(h1, "u")
        .groupBy("t")
        .agg(F.sum(F.col("w") * F.col("h")).alias("a"))
    )
    h2 = (
        w.join(a1, "t")
        .groupBy("u")
        .agg(F.sum(F.col("w") * F.col("a")).alias("h"))
    )
    a2 = (
        w.join(h2, "u")
        .groupBy("t")
        .agg(F.sum(F.col("w") * F.col("h")).alias("a"))
    )
    hub = h1.join(h2.withColumnRenamed("h", "h2"), "u").select(
        F.lit("hub").alias("side"),
        F.col("u").cast("string").alias("id"),
        F.col("h").cast("bigint").alias("score1"),
        F.col("h2").cast("bigint").alias("score2"),
    )
    auth = a1.join(a2.withColumnRenamed("a", "a2"), "t").select(
        F.lit("auth").alias("side"),
        F.col("t").alias("id"),
        F.col("a").cast("bigint").alias("score1"),
        F.col("a2").cast("bigint").alias("score2"),
    )
    uni = hub.unionAll(auth)
    return uni.select(
        "side",
        "id",
        "score1",
        "score2",
        F.round(
            F.col("score2").cast("double")
            / F.max("score2").over(Window.partitionBy("side")),
            6,
        ).alias("share"),
    )


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


def _interleave_expr(xa: str, xb: str) -> str:
    """Engine-portable 8+8-bit Morton/Z-order interleave as pure integer
    arithmetic (no bit intrinsics — identical text runs on Spark SQL and
    DuckDB): bit i of xa lands at position 2i+1, bit i of xb at 2i."""
    terms = []
    for i in range(8):
        p = 1 << i
        terms.append(
            f"(CASE WHEN ({xa} % {2 * p}) >= {p} THEN {1 << (2 * i + 1)} ELSE 0 END)"
        )
        terms.append(
            f"(CASE WHEN ({xb} % {2 * p}) >= {p} THEN {1 << (2 * i)} ELSE 0 END)"
        )
    return " + ".join(terms)


_ZORDER_SQL = f"""
WITH k AS (
  SELECT CAST(user_id % 256 AS BIGINT) AS ub,
         CAST((day(ts) * 24 + hour(ts)) % 256 AS BIGINT) AS hb
  FROM events
),
z AS (
  SELECT ub, hb, {_interleave_expr('ub', 'hb')} AS zval,
         ub * 256 + hb AS lin
  FROM k
),
f AS (
  SELECT 'zorder' AS layout, CAST((zval - zval % 2048) // 2048 AS INT)
           AS file_id, ub, hb
  FROM z
  UNION ALL
  SELECT 'linear', CAST((lin - lin % 2048) // 2048 AS INT), ub, hb FROM z
)
SELECT layout, file_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(ub) AS BIGINT) AS ub_min, CAST(max(ub) AS BIGINT) AS ub_max,
       CAST(min(hb) AS BIGINT) AS hb_min, CAST(max(hb) AS BIGINT) AS hb_max,
       CAST(max(ub) - min(ub) + max(hb) - min(hb) AS BIGINT) AS span_sum
FROM f GROUP BY 1, 2
"""


@register("q_zorder_layout", _ZORDER_SQL)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) vs linear file-layout audit — the data-layout
    decision behind Delta/Iceberg OPTIMIZE ZORDER: events keyed by
    (user bucket, hour bucket) are assigned to 32 files either by the
    8+8-bit Morton interleave (built from pure integer arithmetic — the
    SAME expression text runs on both engines) or by the linear
    concatenation ub*256+hb, and each file reports its min/max span in
    BOTH dimensions. Z-order bounds both spans at ~sqrt(cells-per-file)
    so min/max file skipping prunes on EITHER predicate; linear bounds
    only the leading dimension and every file spans the full trailing
    range — span_sum makes the difference a single comparable number per
    file. All exact integers.

    Scale plan: stateless per-row key arithmetic + one 64-key groupBy —
    the audit itself is trivially distributed; the real win it certifies
    is at the table-layout layer (range-pruned scans at 100 TB)."""
    ev = load(spark, sf_dir, "events")
    k = ev.select(
        (F.col("user_id") % 256).cast("bigint").alias("ub"),
        (
            (F.dayofmonth("ts") * 24 + F.hour("ts")) % 256
        ).cast("bigint").alias("hb"),
    )
    z = k.select(
        "ub",
        "hb",
        F.expr(_interleave_expr("ub", "hb")).alias("zval"),
        (F.col("ub") * 256 + F.col("hb")).alias("lin"),
    )
    zf = z.select(
        F.lit("zorder").alias("layout"),
        F.floor(F.col("zval") / 2048).cast("int").alias("file_id"),
        "ub",
        "hb",
    )
    lf = z.select(
        F.lit("linear").alias("layout"),
        F.floor(F.col("lin") / 2048).cast("int").alias("file_id"),
        "ub",
        "hb",
    )
    f = zf.unionAll(lf)
    return f.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("ub").cast("bigint").alias("ub_min"),
        F.max("ub").cast("bigint").alias("ub_max"),
        F.min("hb").cast("bigint").alias("hb_min"),
        F.max("hb").cast("bigint").alias("hb_max"),
        (F.max("ub") - F.min("ub") + F.max("hb") - F.min("hb"))
        .cast("bigint")
        .alias("span_sum"),
    )


# --------------------------------------------------------------------------
# Round 4q: experiment/eval statistics — one-way ANOVA across sources, a
# seeded paired sign-flip permutation test, ordered 2-sequence support
# mining, and a deterministic k-fold balance audit.
# --------------------------------------------------------------------------

_ANOVA_SQL = """
WITH g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(n_chars) AS BIGINT) AS sum_g,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS sumsq_g
  FROM documents GROUP BY 1
),
t AS (
  SELECT g.*, sum(n_g) OVER () AS nn, sum(sum_g) OVER () AS tt,
         sum(sumsq_g) OVER () AS ss, count(*) OVER () AS k
  FROM g
),
w AS (
  SELECT t.*,
         sum(CAST(nn * sum_g - n_g * tt AS DOUBLE)
             * (nn * sum_g - n_g * tt) / (CAST(nn AS DOUBLE) * nn * n_g))
           OVER () AS ssb,
         CAST(ss AS DOUBLE) - CAST(tt AS DOUBLE) * tt / nn AS sstot
  FROM t
)
SELECT source, n_g, sum_g, sumsq_g,
       CAST((nn * sum_g - n_g * tt) * (nn * sum_g - n_g * tt) AS BIGINT)
         AS ssb_num,
       CAST(nn * nn * n_g AS BIGINT) AS ssb_den,
       round(ssb, 6) AS ss_between,
       round(sstot - ssb, 6) AS ss_within,
       round((ssb / (k - 1)) / ((sstot - ssb) / (nn - k)), 6) AS f_stat
FROM w
"""


@register("q_anova_sources", _ANOVA_SQL)
def q_anova_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of document length across crawl sources: per-source
    sufficient statistics (n, sum, sum-of-squares — exact BIGINTs over the
    integer n_chars) and the between/within decomposition via the
    cross-multiplied identity SSB = sum_g (N*sum_g - n_g*T)^2 / (N^2 n_g),
    with the F statistic as a rounded convenience. The is-my-corpus-
    homogeneous gate before pooling sources into one training mix: a huge
    F says per-source length norms differ enough that a single global
    length filter is the wrong tool (use per-source thresholds).
    ssb_num/ssb_den pin each source's contribution exactly.

    Scale plan: one map-side-combined groupBy over the corpus; the
    windowed rollups run on the |sources| frame. Identical shuffle shape
    to the scatter/Gini ledgers."""
    docs = load_docs(spark, sf_dir)
    g = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("n_chars").cast("bigint").alias("sum_g"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("sumsq_g"),
    )
    wall = Window.partitionBy()
    t = g.select(
        "*",
        F.sum("n_g").over(wall).alias("nn"),
        F.sum("sum_g").over(wall).alias("tt"),
        F.sum("sumsq_g").over(wall).alias("ss"),
        F.count(F.lit(1)).over(wall).alias("k"),
    )
    dev = F.col("nn") * F.col("sum_g") - F.col("n_g") * F.col("tt")
    ssb_term = (
        dev.cast("double")
        * dev
        / (F.col("nn").cast("double") * F.col("nn") * F.col("n_g"))
    )
    w = t.select(
        "*",
        F.sum(ssb_term).over(wall).alias("ssb"),
        (
            F.col("ss").cast("double")
            - F.col("tt").cast("double") * F.col("tt") / F.col("nn")
        ).alias("sstot"),
    )
    return w.select(
        "source",
        "n_g",
        "sum_g",
        "sumsq_g",
        (dev * dev).cast("bigint").alias("ssb_num"),
        (F.col("nn") * F.col("nn") * F.col("n_g")).cast("bigint").alias("ssb_den"),
        F.round(F.col("ssb"), 6).alias("ss_between"),
        F.round(F.col("sstot") - F.col("ssb"), 6).alias("ss_within"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / ((F.col("sstot") - F.col("ssb")) / (F.col("nn") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


_PERM_B = 64

_PERM_SQL = f"""
WITH u AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              - sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS d
  FROM events GROUP BY 1
),
obs AS (SELECT abs(sum(d)) AS t_obs FROM u),
b AS (SELECT CAST(t.i AS INT) AS b FROM unnest(range({_PERM_B})) AS t(i)),
fl AS (
  SELECT b.b,
         CASE WHEN (strpos('0123456789abcdef',
                           substr(md5(b.b::VARCHAR || '#' || u.user_id::VARCHAR),
                                  1, 1)) - 1) % 2 = 0
              THEN u.d ELSE -u.d END AS sd
  FROM u CROSS JOIN b
),
tb AS (SELECT b, CAST(abs(sum(sd)) AS BIGINT) AS t_b FROM fl GROUP BY 1)
SELECT tb.b, tb.t_b, CAST(obs.t_obs AS BIGINT) AS t_obs,
       (tb.t_b >= obs.t_obs) AS ge_obs,
       CAST(1 + sum(CASE WHEN tb.t_b >= obs.t_obs THEN 1 ELSE 0 END)
                OVER () AS BIGINT) AS p_num,
       CAST({_PERM_B} + 1 AS BIGINT) AS p_den,
       round(CAST(1 + sum(CASE WHEN tb.t_b >= obs.t_obs THEN 1 ELSE 0 END)
                      OVER () AS DOUBLE) / ({_PERM_B} + 1), 6) AS p_value
FROM tb, obs
"""


@register("q_permutation_test", _PERM_SQL)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign-flip permutation test (the exact nonparametric paired
    test, Fisher 1935) of H0 'users click as often as they view': per-user
    paired difference d_u = clicks - views, {_PERM_B} seeded replicas flip
    each user's sign by an md5(b#user) coin, T_b = |sum of flipped
    diffs|, and the standard add-one permutation p-value
    (1 + #{{T_b >= T_obs}}) / (B+1) — every quantity an exact integer, the
    p-value a single rounded division. The deterministic-resample design
    of q_poisson_bootstrap applied to hypothesis testing: any shard can
    regenerate any replica's coins independently.

    Scale plan: one map-side-combined per-user rollup, then a {_PERM_B}-row
    broadcast fanout collapsed straight back to {_PERM_B} counters — one
    corpus pass regardless of B; the windowed p-value runs on the
    {_PERM_B}-row frame."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            - F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        )
        .cast("bigint")
        .alias("d")
    )
    obs = u.agg(F.abs(F.sum("d")).alias("t_obs"))
    b = spark.range(_PERM_B).select(F.col("id").cast("int").alias("b"))
    coin = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("b").cast("string"),
                        F.lit("#"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        % 2
    )
    fl = u.crossJoin(F.broadcast(b)).select(
        "b", F.when(coin == 0, F.col("d")).otherwise(-F.col("d")).alias("sd")
    )
    tb = fl.groupBy("b").agg(F.abs(F.sum("sd")).cast("bigint").alias("t_b"))
    wall = Window.partitionBy()
    out = tb.crossJoin(obs)
    ge = F.sum(F.when(F.col("t_b") >= F.col("t_obs"), 1).otherwise(0)).over(wall)
    return out.select(
        "b",
        "t_b",
        F.col("t_obs").cast("bigint").alias("t_obs"),
        (F.col("t_b") >= F.col("t_obs")).alias("ge_obs"),
        (1 + ge).cast("bigint").alias("p_num"),
        F.lit(_PERM_B + 1).cast("bigint").alias("p_den"),
        F.round((1 + ge).cast("double") / (_PERM_B + 1), 6).alias("p_value"),
    )


_SEQ2_SQL = """
WITH ut AS (
  SELECT user_id, event_type AS t, min(ts) AS mn, max(ts) AS mx
  FROM events GROUP BY 1, 2
),
tot AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
p AS (
  SELECT a.t AS a, b.t AS b,
         CAST(count(*) AS BIGINT) AS n_both,
         CAST(sum(CASE WHEN a.mn < b.mx THEN 1 ELSE 0 END) AS BIGINT)
           AS n_seq
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.t <> b.t
  GROUP BY 1, 2
),
m AS (SELECT t, CAST(count(*) AS BIGINT) AS n_t FROM ut GROUP BY 1)
SELECT p.a, p.b, p.n_both, p.n_seq,
       ma.n_t AS n_a, mb.n_t AS n_b,
       CAST(tot.n_users AS BIGINT) AS n_users,
       round(CAST(p.n_seq AS DOUBLE) / tot.n_users, 6) AS support,
       round(CAST(p.n_seq AS DOUBLE) / ma.n_t, 6) AS confidence,
       round(CAST(p.n_seq AS DOUBLE) * tot.n_users
             / (CAST(ma.n_t AS DOUBLE) * mb.n_t), 6) AS lift
FROM p JOIN m ma ON ma.t = p.a JOIN m mb ON mb.t = p.b, tot
"""


@register("q_seq2_support", _SEQ2_SQL)
def q_seq2_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 2-sequence support mining (the GSP/PrefixSpan length-2
    core): for every ordered event-type pair (a, b), the number of users
    with SOME a-event strictly before SOME b-event — computed from
    per-(user, type) min/max timestamps alone via the exists identity
    min_ts(a) < max_ts(b), so the fact table is never self-joined at the
    event level. Emits exact support / confidence / lift sufficient
    statistics against the type marginals — the sequential complement to
    q_assoc_rules (unordered co-occurrence) and q_funnel_conversion (one
    fixed path).

    Scale plan: one map-side-combined (user, type) rollup; the pair join
    is per-user over the TYPE dimension (|types|^2 rows per user, types
    ~5); marginals and the user total are dimension-sized broadcast
    joins."""
    ev = load(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", F.col("event_type").alias("t")).agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    )
    tot = ev.agg(F.countDistinct("user_id").alias("n_users"))
    a, c = ut.alias("a"), ut.alias("b")
    p = (
        a.join(
            c,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.t") != F.col("b.t")),
        )
        .groupBy(F.col("a.t").alias("a"), F.col("b.t").alias("b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_both"),
            F.sum(F.when(F.col("a.mn") < F.col("b.mx"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_seq"),
        )
    )
    m = ut.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("n_t"))
    ma = m.select(F.col("t").alias("a"), F.col("n_t").alias("n_a"))
    mb = m.select(F.col("t").alias("b"), F.col("n_t").alias("n_b"))
    out = p.join(ma, "a").join(mb, "b").crossJoin(tot)
    return out.select(
        "a",
        "b",
        "n_both",
        "n_seq",
        "n_a",
        "n_b",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.round(F.col("n_seq").cast("double") / F.col("n_users"), 6).alias(
            "support"
        ),
        F.round(F.col("n_seq").cast("double") / F.col("n_a"), 6).alias(
            "confidence"
        ),
        F.round(
            F.col("n_seq").cast("double")
            * F.col("n_users")
            / (F.col("n_a").cast("double") * F.col("n_b")),
            6,
        ).alias("lift"),
    )


_KFOLD_SQL = """
WITH f AS (
  SELECT lang,
         CAST((strpos('0123456789abcdef',
                      substr(md5(doc_id::VARCHAR), 1, 1)) - 1) % 5 AS INT)
           AS fold
  FROM documents
),
lt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM f GROUP BY 1),
grid AS (
  SELECT lt.lang, lt.n_lang, CAST(t.i AS INT) AS fold
  FROM lt, unnest(range(5)) AS t(i)
),
c AS (SELECT lang, fold, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1, 2)
SELECT g.lang, g.fold, g.n_lang,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n,
       CAST(abs(5 * coalesce(c.n, 0) - g.n_lang) AS BIGINT) AS dev_num,
       round(CAST(coalesce(c.n, 0) AS DOUBLE) / g.n_lang, 6) AS frac
FROM grid g LEFT JOIN c ON c.lang = g.lang AND c.fold = g.fold
"""


@register("q_kfold_assignment", _KFOLD_SQL)
def q_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment audit: folds come
    from md5(doc_id) — reproducible on any shard with zero coordination,
    the same RNG-free discipline as the sampling family — and the audit
    reports the per-(lang, fold) cell count against its stratum share
    with the exact cross-multiplied deviation |5n - n_lang| (zero-filled
    grid, so an empty (lang, fold) cell is a visible row, not a missing
    one). Hash folds are NOT stratified by construction; this table is
    how a pipeline decides whether the imbalance is tolerable or a
    per-stratum re-split is needed before eval numbers are trusted.

    Scale plan: stateless per-row fold assignment + one map-side-combined
    groupBy; the grid join runs on |langs| x 5 dimension frames."""
    docs = load_docs(spark, sf_dir)
    f = docs.select(
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10)
            .cast("int")
            % 5
        ).alias("fold"),
    )
    lt = f.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_lang"))
    grid = lt.crossJoin(
        spark.range(5).select(F.col("id").cast("int").alias("fold"))
    )
    c = f.groupBy("lang", "fold").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    out = grid.join(c, ["lang", "fold"], "left")
    n = F.coalesce(F.col("n"), F.lit(0))
    return out.select(
        "lang",
        "fold",
        "n_lang",
        n.cast("bigint").alias("n"),
        F.abs(5 * n - F.col("n_lang")).cast("bigint").alias("dev_num"),
        F.round(n.cast("double") / F.col("n_lang"), 6).alias("frac"),
    )


# --------------------------------------------------------------------------
# Round 4r: systems/streaming operations — consistent-hashing ring audit,
# Fano-factor burstiness ledger, and a watermark-lateness histogram.
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


_FANO_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
b AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
spine AS (
  SELECT et.event_type, CAST(g.gs AS DATE) AS day
  FROM (SELECT DISTINCT event_type FROM events) et, b,
       unnest(generate_series(b.dmin, b.dmax, INTERVAL 1 DAY)) AS g(gs)
),
dense AS (
  SELECT s.event_type, coalesce(d.x, 0) AS x
  FROM spine s LEFT JOIN daily d
    ON d.event_type = s.event_type AND d.day = s.day
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(x) AS BIGINT) AS total,
       CAST(sum(x * x) AS BIGINT) AS sumsq,
       CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT)
         AS var_num,
       CAST(count(*) * sum(x) AS BIGINT) AS fano_den,
       round(CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE)
             / (count(*) * sum(x)), 6) AS fano
FROM dense GROUP BY 1
"""


@register("q_fano_burstiness", _FANO_SQL)
def q_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano-factor burstiness ledger per event type over the zero-filled
    day grid: F = Var/Mean with the population identity n*Var = n*sum(x^2)
    - sum(x)^2, so the statistic is the exact BIGINT rational
    (n*sumsq - total^2) / (n*total) — F ~ 1 is Poisson traffic, F >> 1 is
    bursty (retry storms, batch backfills), F << 1 is suspiciously
    uniform (synthetic injection, rate caps). The per-type complement to
    q_ewma_anomaly (which days) and q_cusum_changepoint (which
    changepoint): this one says which STREAMS need burst-tolerant
    capacity at all.

    Scale plan: one map-side-combined (type, day) rollup; the grid
    zero-fill is |types| x |days| dimension frames; final rollup is
    |types|-sized."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    b = daily.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    et = ev.select("event_type").distinct()
    spine = et.crossJoin(b).select(
        "event_type",
        F.explode(F.sequence("dmin", "dmax", F.expr("interval 1 day"))).alias(
            "day"
        ),
    )
    dense = spine.join(daily, ["event_type", "day"], "left").select(
        "event_type", F.coalesce("x", F.lit(0)).cast("bigint").alias("x")
    )
    n, tot, ss = F.count(F.lit(1)), F.sum("x"), F.sum(F.col("x") * F.col("x"))
    return dense.groupBy("event_type").agg(
        n.cast("bigint").alias("n_days"),
        tot.cast("bigint").alias("total"),
        ss.cast("bigint").alias("sumsq"),
        (n * ss - tot * tot).cast("bigint").alias("var_num"),
        (n * tot).cast("bigint").alias("fano_den"),
        F.round((n * ss - tot * tot).cast("double") / (n * tot), 6).alias(
            "fano"
        ),
    )


_LATE_SQL = """
WITH o AS (
  SELECT event_id, ts,
         max(ts) OVER (ORDER BY md5(event_id::VARCHAR), event_id
                       ROWS UNBOUNDED PRECEDING) AS watermark
  FROM events
),
l AS (
  SELECT CAST(date_diff('second', ts, watermark) AS BIGINT) AS late_s
  FROM o
),
bkt AS (
  SELECT CASE WHEN late_s <= 0 THEN -1
              ELSE length(bin(late_s)) - position('1' IN bin(late_s)) END
           AS bucket,
         late_s
  FROM l
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(CASE WHEN bucket = -1 THEN 0
                 ELSE CAST(1 AS BIGINT) << bucket END AS BIGINT)
         AS bucket_floor_s,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(late_s) AS BIGINT) AS max_late_s,
       CAST(sum(count(*)) OVER () AS BIGINT) AS n_total,
       round(CAST(sum(count(*)) OVER (ORDER BY bucket
                                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / sum(count(*)) OVER (), 6) AS cum_frac
FROM bkt GROUP BY bucket
"""


@register("q_watermark_lateness", _LATE_SQL)
def q_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lateness histogram — the number that CHOOSES a streaming
    watermark delay: each event's lateness is (running max event-time) -
    (its own event-time) in arrival order; the synthetic corpus arrives
    perfectly ts-sorted (lateness would be vacuously 0 — the dup_discovery
    lesson), so arrival is SIMULATED as the md5(event_id) permutation and
    documented as such — production swaps in the real ingest sequence and
    the ledger machinery is identical. Lateness is bucketed into
    power-of-two second bands via the HLL bit-length trick (in-order
    events land in bucket -1). cum_frac per bucket reads directly as 'a
    watermark of 2^k seconds would have admitted this fraction of
    events'; everything except the rounded fraction is exact integers.
    The batch-side calibration for streaming.run_stream_triples'
    withWatermark choice — measured from the data instead of guessed.

    Scale plan: the running max is ONE global-order window (at production
    scale: per-partition arrival sequences, same shape as the PPS
    prefix-sum sharding); buckets collapse map-side to <=34 rows and the
    cumulative window runs on that dimension frame."""
    ev = load(spark, sf_dir, "events")
    w = Window.orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o = ev.select(
        "event_id", "ts", F.max("ts").over(w).alias("watermark")
    )
    late = o.select(
        (
            F.unix_timestamp("watermark") - F.unix_timestamp("ts")
        ).cast("bigint").alias("late_s")
    )
    bucket = F.when(F.col("late_s") <= 0, F.lit(-1)).otherwise(
        F.length(F.expr("bin(late_s)"))
        - F.expr("position('1' IN bin(late_s))")
    )
    bkt = late.select(bucket.cast("int").alias("bucket"), "late_s")
    g = bkt.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("late_s").cast("bigint").alias("max_late_s"),
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.select(
        "bucket",
        F.when(F.col("bucket") == -1, F.lit(0))
        .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), bucket)"))
        .cast("bigint")
        .alias("bucket_floor_s"),
        "n_events",
        "max_late_s",
        F.sum("n_events").over(wall).cast("bigint").alias("n_total"),
        F.round(
            F.sum("n_events").over(wcum).cast("double")
            / F.sum("n_events").over(wall),
            6,
        ).alias("cum_frac"),
    )


# --------------------------------------------------------------------------
# Round 4s: distribution distance + shuffle-skew forensics — exact
# Wasserstein-1 between source length distributions, and a join-key skew
# audit that recommends salting factors.
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


_SKEW_SQL = """
WITH k1 AS (
  SELECT 'lineitem.l_orderkey' AS join_key, l_orderkey AS k FROM lineitem
),
k2 AS (SELECT 'orders.o_custkey', o_custkey FROM orders),
k3 AS (SELECT 'events.user_id', user_id FROM events),
ks AS (SELECT * FROM k1 UNION ALL SELECT * FROM k2 UNION ALL SELECT * FROM k3),
c AS (
  SELECT join_key, k, CAST(count(*) AS BIGINT) AS n
  FROM ks GROUP BY 1, 2
)
SELECT join_key,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(max(n) AS BIGINT) AS max_key_rows,
       CAST(max(n) * count(*) AS BIGINT) AS skew_num,
       CAST(sum(n) AS BIGINT) AS skew_den,
       round(CAST(max(n) * count(*) AS DOUBLE) / sum(n), 6) AS skew_ratio,
       CAST(CASE WHEN max(n) * count(*) <= 4 * sum(n) THEN 1
                 ELSE (max(n) * count(*) + 4 * sum(n) - 1)
                      // (4 * sum(n)) END AS BIGINT) AS rec_salt
FROM c GROUP BY 1
"""


@register("q_skew_audit", _SKEW_SQL)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit over the three hottest shuffle keys in the
    schema (lineitem->orders, orders->customer, events per user): per key
    the exact cardinality/row counts, the skew ratio max_key_rows /
    mean_key_rows as the cross-multiplied rational max·n_keys / n_rows,
    and the SALTING FACTOR a shuffle planner would apply — ceil(skew_ratio
    / 4) with tolerance 4x-mean, computed in exact integer ceiling
    division. This is the table that decides, BEFORE the job runs, which
    joins get salted/AQE-skew-split at 100 TB; the whole mechanism the
    triple sink's salted_partition_col implements is sized by exactly
    this number.

    Scale plan: three map-side-combined per-key counts unioned, one
    |keys|-frame rollup per audit row. No joins at all — the audit of
    joins costs less than any join it tunes."""
    li = load(spark, sf_dir, "lineitem").select(
        F.lit("lineitem.l_orderkey").alias("join_key"),
        F.col("l_orderkey").alias("k"),
    )
    od = load(spark, sf_dir, "orders").select(
        F.lit("orders.o_custkey").alias("join_key"),
        F.col("o_custkey").alias("k"),
    )
    ev = load(spark, sf_dir, "events").select(
        F.lit("events.user_id").alias("join_key"), F.col("user_id").alias("k")
    )
    c = (
        li.unionAll(od)
        .unionAll(ev)
        .groupBy("join_key", "k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    nk, nr, mx = F.count(F.lit(1)), F.sum("n"), F.max("n")
    rec = F.when(mx * nk <= 4 * nr, F.lit(1)).otherwise(
        F.floor((mx * nk + 4 * nr - 1) / (4 * nr))
    )
    return c.groupBy("join_key").agg(
        nk.cast("bigint").alias("n_keys"),
        nr.cast("bigint").alias("n_rows"),
        mx.cast("bigint").alias("max_key_rows"),
        (mx * nk).cast("bigint").alias("skew_num"),
        nr.cast("bigint").alias("skew_den"),
        F.round((mx * nk).cast("double") / nr, 6).alias("skew_ratio"),
        rec.cast("bigint").alias("rec_salt"),
    )


# --------------------------------------------------------------------------
# Round 4t: graph health + Bayesian smoothing — dup-cluster conductance
# over the doc-similarity graph, the degree CCDF spectrum, and
# Laplace-smoothed per-user conversion rates.
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


_LAPLACE_SQL = """
WITH u AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purch,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_click
  FROM events GROUP BY 1
),
g AS (
  SELECT CAST(sum(n_purch) AS BIGINT) AS tot_p,
         CAST(sum(n_click) AS BIGINT) AS tot_c FROM u
)
SELECT u.user_id, u.n_purch, u.n_click,
       CAST(u.n_purch + 1 AS BIGINT) AS post_num,
       CAST(u.n_click + 2 AS BIGINT) AS post_den,
       round(CAST(u.n_purch + 1 AS DOUBLE) / (u.n_click + 2), 6)
         AS smoothed_rate,
       round(CAST(u.n_purch AS DOUBLE) / nullif(u.n_click, 0), 6)
         AS raw_rate,
       round(CAST(g.tot_p AS DOUBLE) / g.tot_c, 6) AS global_rate,
       (CAST(u.n_purch + 1 AS BIGINT) * g.tot_c
        > CAST(u.n_click + 2 AS BIGINT) * g.tot_p) AS above_global
FROM u, g
"""


@register("q_laplace_rates", _LAPLACE_SQL)
def q_laplace_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace (add-one Beta(1,1)) smoothed per-user purchase-per-click
    rates: the posterior mean (purchases+1)/(clicks+2) as an exact
    integer rational beside the undefined-prone raw rate — the standard
    fix for ranking users (or documents, or sources) by a rate when most
    denominators are tiny: zero-click users shrink to 1/2 instead of
    dividing by zero, one-click converters stop topping the leaderboard.
    above_global is the exact cross-multiplied comparison of the
    posterior against the global rate — no float in the decision bit.

    Scale plan: one map-side-combined per-user rollup + a 1-row global
    carry (whitelisted broadcast); pure projection afterwards."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purch"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("n_click"),
    )
    g = u.agg(
        F.sum("n_purch").cast("bigint").alias("tot_p"),
        F.sum("n_click").cast("bigint").alias("tot_c"),
    )
    out = u.crossJoin(F.broadcast(g))
    return out.select(
        "user_id",
        "n_purch",
        "n_click",
        (F.col("n_purch") + 1).cast("bigint").alias("post_num"),
        (F.col("n_click") + 2).cast("bigint").alias("post_den"),
        F.round(
            (F.col("n_purch") + 1).cast("double") / (F.col("n_click") + 2), 6
        ).alias("smoothed_rate"),
        F.round(
            F.col("n_purch").cast("double")
            / F.nullif(F.col("n_click").cast("double"), F.lit(0.0)),
            6,
        ).alias("raw_rate"),
        F.round(F.col("tot_p").cast("double") / F.col("tot_c"), 6).alias(
            "global_rate"
        ),
        (
            (F.col("n_purch") + 1) * F.col("tot_c")
            > (F.col("n_click") + 2) * F.col("tot_p")
        ).alias("above_global"),
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
# Round 4p: marketing-attribution trio — the revenue-credit ledgers every
# product-analytics stack runs over its event stream. Three credit models
# over the same (purchase x preceding-touch) frame: positional (first/last
# touch), game-theoretic (exact 3-player Shapley over coalition conversion
# counts), and the per-user RFM segmentation that feeds campaign targeting.
# --------------------------------------------------------------------------

_TOUCH_ATTR_SQL = """
WITH p AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts,
         CAST(round(value * 100) AS BIGINT) AS p_cents
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, ts AS t_ts, event_id AS t_id, event_type AS t_ch
  FROM events WHERE event_type IN ('click', 'view', 'signup')
),
pt AS (
  SELECT p.p_id, p.p_cents, t.t_ts, t.t_id, t.t_ch
  FROM p LEFT JOIN t
    ON p.user_id = t.user_id AND t.t_ts < p.p_ts
   AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
),
rn AS (
  SELECT p_id, p_cents, t_ch,
         row_number() OVER (PARTITION BY p_id
                            ORDER BY t_ts DESC, t_id DESC) AS rn_l,
         row_number() OVER (PARTITION BY p_id
                            ORDER BY t_ts ASC, t_id ASC) AS rn_f
  FROM pt
),
lastt AS (
  SELECT coalesce(t_ch, 'direct') AS channel,
         CAST(count(*) AS BIGINT) AS n_last,
         CAST(sum(p_cents) AS BIGINT) AS cents_last
  FROM rn WHERE rn_l = 1 GROUP BY 1
),
firstt AS (
  SELECT coalesce(t_ch, 'direct') AS channel,
         CAST(count(*) AS BIGINT) AS n_first,
         CAST(sum(p_cents) AS BIGINT) AS cents_first
  FROM rn WHERE rn_f = 1 GROUP BY 1
)
SELECT coalesce(l.channel, f.channel) AS channel,
       CAST(coalesce(l.n_last, 0) AS BIGINT) AS n_last,
       CAST(coalesce(l.cents_last, 0) AS BIGINT) AS cents_last,
       CAST(coalesce(f.n_first, 0) AS BIGINT) AS n_first,
       CAST(coalesce(f.cents_first, 0) AS BIGINT) AS cents_first,
       round(CAST(coalesce(l.cents_last, 0) AS DOUBLE)
             / sum(coalesce(l.cents_last, 0)) OVER (), 6) AS share_last
FROM lastt l FULL OUTER JOIN firstt f ON l.channel = f.channel
"""


@register("q_touch_attribution", _TOUCH_ATTR_SQL)
def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch revenue attribution: every purchase is
    credited to the latest (and, in the twin column set, the earliest)
    click/view/signup by the same user inside a 7-day lookback window;
    purchases with no preceding touch fall to the 'direct' channel. Pure
    timestamp comparisons (no epoch extraction), exact integer cents, ties
    pinned by event_id — the positional-credit half of the attribution
    trio (q_shapley_attribution is the game-theoretic half).

    Scale plan: purchases x touches is a per-user equi-join (the 7-day
    band is a post-join filter Spark pushes into the join condition);
    fan-in is bounded by per-user activity, the classic user-partitioned
    shape — salt hot users via the q_skew_audit factor if the stream has
    bot traffic. Both picks come from one window pass over the pair frame;
    the final 4-row channel ledger is a map-side-combined rollup."""
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        cents.alias("p_cents"),
    )
    t = ev.filter(F.col("event_type").isin("click", "view", "signup")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("t_ch"),
    )
    pt = p.join(
        t,
        (p["p_user"] == t["t_user"])
        & (t["t_ts"] < p["p_ts"])
        & (t["t_ts"] >= p["p_ts"] - F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    w_l = Window.partitionBy("p_id").orderBy(F.desc("t_ts"), F.desc("t_id"))
    w_f = Window.partitionBy("p_id").orderBy(F.asc("t_ts"), F.asc("t_id"))
    rn = pt.select(
        "p_id",
        "p_cents",
        "t_ch",
        F.row_number().over(w_l).alias("rn_l"),
        F.row_number().over(w_f).alias("rn_f"),
    )
    lastt = (
        rn.filter(F.col("rn_l") == 1)
        .groupBy(F.coalesce("t_ch", F.lit("direct")).alias("channel"))
        .agg(
            F.count("*").cast("bigint").alias("n_last"),
            F.sum("p_cents").cast("bigint").alias("cents_last"),
        )
    )
    firstt = (
        rn.filter(F.col("rn_f") == 1)
        .groupBy(F.coalesce("t_ch", F.lit("direct")).alias("channel"))
        .agg(
            F.count("*").cast("bigint").alias("n_first"),
            F.sum("p_cents").cast("bigint").alias("cents_first"),
        )
    )
    both = lastt.join(firstt, "channel", "full_outer").select(
        "channel",
        F.coalesce("n_last", F.lit(0)).cast("bigint").alias("n_last"),
        F.coalesce("cents_last", F.lit(0)).cast("bigint").alias("cents_last"),
        F.coalesce("n_first", F.lit(0)).cast("bigint").alias("n_first"),
        F.coalesce("cents_first", F.lit(0))
        .cast("bigint")
        .alias("cents_first"),
    )
    w_all = Window.partitionBy(F.lit(1))
    return both.withColumn(
        "share_last",
        F.round(
            F.col("cents_last")
            / F.sum("cents_last").over(w_all).cast("double"),
            6,
        ),
    )


_SHAPLEY_SQL = """
WITH p AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
  WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, ts AS t_ts, event_type AS t_ch FROM events
  WHERE event_type IN ('click', 'view', 'signup')
),
masks AS (
  SELECT p.p_id,
         coalesce(max(CASE WHEN t.t_ch = 'click' THEN 1 END), 0)
         + coalesce(max(CASE WHEN t.t_ch = 'view' THEN 2 END), 0)
         + coalesce(max(CASE WHEN t.t_ch = 'signup' THEN 4 END), 0) AS mask
  FROM p LEFT JOIN t
    ON p.user_id = t.user_id AND t.t_ts < p.p_ts
   AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
  GROUP BY 1
),
mh AS (SELECT mask, CAST(count(*) AS BIGINT) AS n_conv FROM masks GROUP BY 1),
coal AS (
  SELECT s.s, CAST(coalesce(sum(mh.n_conv), 0) AS BIGINT) AS v
  FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) s(s)
  LEFT JOIN mh ON (mh.mask | s.s) = s.s
  GROUP BY 1
),
vw AS (
  SELECT max(CASE WHEN s = 0 THEN v END) AS v0,
         max(CASE WHEN s = 1 THEN v END) AS v1,
         max(CASE WHEN s = 2 THEN v END) AS v2,
         max(CASE WHEN s = 3 THEN v END) AS v3,
         max(CASE WHEN s = 4 THEN v END) AS v4,
         max(CASE WHEN s = 5 THEN v END) AS v5,
         max(CASE WHEN s = 6 THEN v END) AS v6,
         max(CASE WHEN s = 7 THEN v END) AS v7
  FROM coal
)
SELECT c.channel,
       CAST(CASE c.bit
         WHEN 1 THEN 2*(v1 - v0) + (v3 - v2) + (v5 - v4) + 2*(v7 - v6)
         WHEN 2 THEN 2*(v2 - v0) + (v3 - v1) + (v6 - v4) + 2*(v7 - v5)
         ELSE        2*(v4 - v0) + (v5 - v1) + (v6 - v2) + 2*(v7 - v3)
       END AS BIGINT) AS shap6_num,
       CAST(CASE c.bit WHEN 1 THEN v1 WHEN 2 THEN v2 ELSE v4 END
            AS BIGINT) AS v_solo,
       CAST(v0 AS BIGINT) AS v_none,
       CAST(v7 AS BIGINT) AS v_grand,
       CAST(6 * (v7 - v0) AS BIGINT) AS eff_den,
       round(CAST(CASE c.bit
         WHEN 1 THEN 2*(v1 - v0) + (v3 - v2) + (v5 - v4) + 2*(v7 - v6)
         WHEN 2 THEN 2*(v2 - v0) + (v3 - v1) + (v6 - v4) + 2*(v7 - v5)
         ELSE        2*(v4 - v0) + (v5 - v1) + (v6 - v2) + 2*(v7 - v3)
       END AS DOUBLE) / (6 * (v7 - v0)), 6) AS shap_share
FROM (VALUES ('click', 1), ('view', 2), ('signup', 4)) c(channel, bit)
CROSS JOIN vw
"""


@register("q_shapley_attribution", _SHAPLEY_SQL)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-player Shapley-value attribution (the data-driven MTA model
    of Zhao et al. 2018, "Shapley value methods for attribution modeling"):
    each purchase contributes its touched-channel set as a 3-bit mask, the
    coalition game is v(S) = number of conversions reachable using only
    channels in S (mask subset-of S — monotone by construction, v(empty) =
    no-touch conversions), and each channel's Shapley value is the exact
    permutation-weighted marginal sum. With 3 players the 3! weights clear
    to integers at x6: shap6 = 2*(v(i)-v(0)) + sum_j (v(ij)-v(j)) +
    2*(v(N)-v(N\\i)). Efficiency — sum(shap6) == 6*(v(N)-v(empty)) — is a
    replica-test invariant; eff_den ships in the row so the check is
    hash-visible.

    Scale plan: the corpus-sized work is one user-partitioned purchase x
    touch join collapsed to a per-purchase bit-or (map-side combinable);
    everything after operates on the <=8-row mask histogram x 8-row
    coalition spine — driver-scale by construction, same dimension-spine
    shape as q_fs_linkage's agreement patterns."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    t = ev.filter(F.col("event_type").isin("click", "view", "signup")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("t_ch"),
    )
    masks = (
        p.join(
            t,
            (p["p_user"] == t["t_user"])
            & (t["t_ts"] < p["p_ts"])
            & (t["t_ts"] >= p["p_ts"] - F.expr("INTERVAL 7 DAYS")),
            "left",
        )
        .groupBy("p_id")
        .agg(
            (
                F.coalesce(
                    F.max(F.when(F.col("t_ch") == "click", 1)), F.lit(0)
                )
                + F.coalesce(
                    F.max(F.when(F.col("t_ch") == "view", 2)), F.lit(0)
                )
                + F.coalesce(
                    F.max(F.when(F.col("t_ch") == "signup", 4)), F.lit(0)
                )
            ).alias("mask")
        )
    )
    mh = masks.groupBy("mask").agg(F.count("*").cast("bigint").alias("n_conv"))
    spine = spark.range(8).select(F.col("id").cast("int").alias("s"))
    coal = (
        spine.join(
            mh, F.expr("(mask | s) = s"), "left"
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).cast("bigint").alias("v"))
    )
    vw = coal.agg(
        *[
            F.max(F.when(F.col("s") == k, F.col("v"))).alias(f"v{k}")
            for k in range(8)
        ]
    )
    ch = spark.createDataFrame(
        [("click", 1), ("view", 2), ("signup", 4)], "channel string, bit int"
    )
    shap6 = (
        F.when(
            F.col("bit") == 1,
            2 * (F.col("v1") - F.col("v0"))
            + (F.col("v3") - F.col("v2"))
            + (F.col("v5") - F.col("v4"))
            + 2 * (F.col("v7") - F.col("v6")),
        )
        .when(
            F.col("bit") == 2,
            2 * (F.col("v2") - F.col("v0"))
            + (F.col("v3") - F.col("v1"))
            + (F.col("v6") - F.col("v4"))
            + 2 * (F.col("v7") - F.col("v5")),
        )
        .otherwise(
            2 * (F.col("v4") - F.col("v0"))
            + (F.col("v5") - F.col("v1"))
            + (F.col("v6") - F.col("v2"))
            + 2 * (F.col("v7") - F.col("v3")),
        )
    )
    v_solo = (
        F.when(F.col("bit") == 1, F.col("v1"))
        .when(F.col("bit") == 2, F.col("v2"))
        .otherwise(F.col("v4"))
    )
    return ch.crossJoin(F.broadcast(vw)).select(
        "channel",
        shap6.cast("bigint").alias("shap6_num"),
        v_solo.cast("bigint").alias("v_solo"),
        F.col("v0").cast("bigint").alias("v_none"),
        F.col("v7").cast("bigint").alias("v_grand"),
        (6 * (F.col("v7") - F.col("v0"))).cast("bigint").alias("eff_den"),
        F.round(
            shap6.cast("double") / (6 * (F.col("v7") - F.col("v0"))), 6
        ).alias("shap_share"),
    )


_RFM_SQL = """
WITH pur AS (
  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
u AS (
  SELECT user_id,
         CAST(max(date_trunc('day', ts)) AS DATE) AS last_d,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(cents) AS BIGINT) AS monetary_cents
  FROM pur GROUP BY 1
),
anch AS (
  SELECT u.*, max(last_d) OVER () AS anchor_d,
         CAST(count(*) OVER () AS BIGINT) AS n_u
  FROM u
),
r AS (
  SELECT user_id, frequency, monetary_cents, n_u,
         CAST(date_diff('day', last_d, anchor_d) AS BIGINT) AS recency_days
  FROM anch
),
s AS (
  SELECT user_id, recency_days, frequency, monetary_cents,
         5 - ((row_number() OVER (ORDER BY recency_days ASC, user_id ASC)
               - 1) * 5) // n_u AS r_score,
         5 - ((row_number() OVER (ORDER BY frequency DESC, user_id ASC)
               - 1) * 5) // n_u AS f_score,
         5 - ((row_number() OVER (ORDER BY monetary_cents DESC, user_id ASC)
               - 1) * 5) // n_u AS m_score
  FROM r
)
SELECT CAST(user_id AS BIGINT) AS user_id, recency_days, frequency,
       monetary_cents,
       CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment
FROM s
"""


@register("q_rfm_segments", _RFM_SQL)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary), the classic
    campaign-targeting ledger: per purchasing user, exact days since last
    purchase (day-truncated dates — engine-stable, no epoch math), purchase
    count, and lifetime cents; each axis scored 1..5 by the exact rank
    formula 5 - ((rank-1)*5) div n (most-recent / highest gets 5), ties
    pinned by user_id, concatenated into the '555'-style segment label.
    The rank formula replaces ntile() so bucket edges are pure integer
    arithmetic on both engines rather than engine tie-semantics.

    Scale plan: one map-side-combined per-user rollup; the three global
    rankings run over the USER frame, not events (10^8 rows at 10^12
    events). At that scale the rank windows become 3 single-key sorts —
    the documented production swap is 5 broadcast quantile cutoffs per
    axis (computed once from the same exact frame) with bucket-by-cutoff,
    which this formula reproduces exactly on unique-value axes."""
    ev = load(spark, sf_dir, "events")
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    u = pur.groupBy("user_id").agg(
        F.max(F.date_trunc("day", F.col("ts"))).cast("date").alias("last_d"),
        F.count("*").cast("bigint").alias("frequency"),
        F.sum("cents").cast("bigint").alias("monetary_cents"),
    )
    w_all = Window.partitionBy(F.lit(1))
    r = u.select(
        "user_id",
        "frequency",
        "monetary_cents",
        F.count("*").over(w_all).cast("bigint").alias("n_u"),
        F.datediff(F.max("last_d").over(w_all), F.col("last_d"))
        .cast("bigint")
        .alias("recency_days"),
    )
    w_r = Window.orderBy(F.asc("recency_days"), F.asc("user_id"))
    w_f = Window.orderBy(F.desc("frequency"), F.asc("user_id"))
    w_m = Window.orderBy(F.desc("monetary_cents"), F.asc("user_id"))
    s = r.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        (
            5
            - F.expr(
                "CAST((row_number() OVER (ORDER BY recency_days ASC, "
                "user_id ASC) - 1) * 5 AS BIGINT) div n_u"
            )
        ).cast("int").alias("r_score"),
        (
            5
            - F.expr(
                "CAST((row_number() OVER (ORDER BY frequency DESC, "
                "user_id ASC) - 1) * 5 AS BIGINT) div n_u"
            )
        ).cast("int").alias("f_score"),
        (
            5
            - F.expr(
                "CAST((row_number() OVER (ORDER BY monetary_cents DESC, "
                "user_id ASC) - 1) * 5 AS BIGINT) div n_u"
            )
        ).cast("int").alias("m_score"),
    )
    return s.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    )


# --------------------------------------------------------------------------
# Round 4q: LLM-eval / search-loop primitives — self-consistency majority
# voting (Wang et al. 2022), successive halving (Jamieson & Talwalkar
# 2016, the Hyperband inner loop), and offline policy evaluation by replay
# matching (Li et al. WSDM 2011). All three are the deterministic-ledger
# halves of loops a training stack runs constantly: sample-k-vote, tune-
# under-budget, and evaluate-a-policy-from-logs-without-deploying-it.
# --------------------------------------------------------------------------

_MAJVOTE_SQL = """
WITH d AS (
  SELECT doc_id, source, CAST(n_chars % 4 AS INT) AS answer,
         (row_number() OVER (PARTITION BY source
                             ORDER BY md5(doc_id::VARCHAR), doc_id) - 1) // 5
           AS grp
  FROM documents
),
full_g AS (SELECT source, grp FROM d GROUP BY 1, 2 HAVING count(*) = 5),
votes AS (
  SELECT d.source, d.grp, d.answer, CAST(count(*) AS BIGINT) AS n_votes
  FROM d JOIN full_g USING (source, grp)
  GROUP BY 1, 2, 3
),
winner AS (
  SELECT source, grp, answer, n_votes,
         row_number() OVER (PARTITION BY source, grp
                            ORDER BY n_votes DESC, answer ASC) AS rn
  FROM votes
)
SELECT source, CAST(answer AS INT) AS answer,
       CAST(count(*) AS BIGINT) AS n_wins,
       CAST(sum(n_votes) AS BIGINT) AS winner_votes,
       CAST(sum(CASE WHEN n_votes = 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unanimous,
       CAST(sum(2 * n_votes - 5) AS BIGINT) AS margin_sum
FROM winner WHERE rn = 1 GROUP BY 1, 2
"""


@register("q_majority_vote", _MAJVOTE_SQL)
def q_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-consistency majority voting (Wang et al. 2022): docs are
    md5-grouped into complete groups of 5 per source (the "k samples of
    one prompt"), each sample's answer class is the deterministic
    n_chars % 4, and the group's decision is the plurality answer with
    ties pinned to the smallest class. The ledger per (source, winning
    answer) reports wins, the winner's pooled vote count, unanimous
    groups, and the exact aggregate margin sum(2*votes - k) — the
    agreement signal self-consistency uses to gate low-confidence
    answers. Complements q_best_of_n: argmax-by-reward there, plurality
    here.

    Scale plan: one corpus scan, one per-source window for md5 grouping,
    then strictly (source, grp, answer)-keyed aggregations — map-side
    combinable throughout; no pair joins, the vote never leaves its
    group key."""
    docs = load_docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    d = docs.select(
        "doc_id",
        "source",
        (F.col("n_chars") % 4).cast("int").alias("answer"),
        ((F.row_number().over(w) - 1) / 5).cast("bigint").alias("grp"),
    )
    full_g = (
        d.groupBy("source", "grp").count().filter(F.col("count") == 5)
        .drop("count")
    )
    votes = (
        d.join(full_g, ["source", "grp"])
        .groupBy("source", "grp", "answer")
        .agg(F.count("*").cast("bigint").alias("n_votes"))
    )
    w_win = Window.partitionBy("source", "grp").orderBy(
        F.desc("n_votes"), F.asc("answer")
    )
    winner = votes.withColumn("rn", F.row_number().over(w_win)).filter(
        F.col("rn") == 1
    )
    return winner.groupBy("source", "answer").agg(
        F.count("*").cast("bigint").alias("n_wins"),
        F.sum("n_votes").cast("bigint").alias("winner_votes"),
        F.sum(F.when(F.col("n_votes") == 5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_unanimous"),
        F.sum(2 * F.col("n_votes") - 5).cast("bigint").alias("margin_sum"),
    )


_SH_SQL = """
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
         CAST(strpos('0123456789abcdef',
                     substr(md5('cfg:' || doc_id::VARCHAR), 1, 1)) - 1
              AS INT) AS config,
         CAST((strpos('0123456789abcdef',
                      substr(md5('rung:' || doc_id::VARCHAR), 1, 1)) - 1) % 4
              AS INT) AS shard
  FROM documents
),
cells AS (
  SELECT config, shard, CAST(sum(score) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM d GROUP BY 1, 2
),
cfg AS (
  SELECT config,
         CAST(coalesce(sum(CASE WHEN shard < 1 THEN s END), 0) AS BIGINT)
           AS r1_reward,
         CAST(coalesce(sum(CASE WHEN shard < 2 THEN s END), 0) AS BIGINT)
           AS r2_reward,
         CAST(sum(s) AS BIGINT) AS r3_reward,
         CAST(sum(n) AS BIGINT) AS n_docs
  FROM cells GROUP BY 1
),
k1 AS (
  SELECT cfg.*,
         row_number() OVER (ORDER BY r1_reward DESC, config ASC) AS rk1
  FROM cfg
),
k2 AS (
  SELECT k1.*,
         CASE WHEN rk1 <= 8 THEN
           row_number() OVER (PARTITION BY CASE WHEN rk1 <= 8 THEN 1 END
                              ORDER BY CASE WHEN rk1 <= 8 THEN r2_reward END
                                       DESC, config ASC)
         END AS rk2
  FROM k1
),
k3 AS (
  SELECT k2.*,
         CASE WHEN rk2 <= 4 THEN
           row_number() OVER (PARTITION BY CASE WHEN rk2 <= 4 THEN 1 END
                              ORDER BY CASE WHEN rk2 <= 4 THEN r3_reward END
                                       DESC, config ASC)
         END AS rk3
  FROM k2
)
SELECT CAST(config AS INT) AS config, n_docs, r1_reward,
       rk1 <= 8 AS alive2,
       CAST(CASE WHEN rk1 <= 8 THEN r2_reward ELSE -1 END AS BIGINT)
         AS r2_seen,
       coalesce(rk2 <= 4, FALSE) AS alive3,
       CAST(CASE WHEN coalesce(rk2 <= 4, FALSE) THEN r3_reward ELSE -1 END
            AS BIGINT) AS r3_seen,
       CAST(coalesce(CASE WHEN coalesce(rk2 <= 4, FALSE) THEN rk3 END, 0)
            AS INT) AS final_rank
FROM k3
"""


@register("q_successive_halving", _SH_SQL)
def q_successive_halving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Successive halving (Jamieson & Talwalkar AISTATS 2016 — the
    Hyperband inner loop): 16 md5-assigned configs are evaluated on
    nested budget rungs (shard<1, shard<2, all 4 md5 shards of each
    config's docs), the bottom half is eliminated at each rung by exact
    reward (ties pinned to the smaller config id), and survivors re-rank
    on the next rung. Eliminated configs honestly report -1 for unseen
    rungs — the ledger records exactly what the tuner would have
    observed, per rung, including the final top-4 ranking.

    Scale plan: the corpus is touched ONCE to build the 64-cell
    (config x shard) sufficient-statistics table (map-side combined);
    all three elimination rounds are windows over the 16-row config
    frame — the whole 'tuning loop' costs one scan regardless of rung
    count, which is the point of evaluating on nested md5 shards."""
    docs = load_docs(spark, sf_dir)
    hex_pos = "0123456789abcdef"
    d = docs.select(
        F.col("n_chars").cast("bigint").alias("score"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cfg:"), F.col("doc_id").cast("string"))),
                    1,
                    1,
                ),
                16,
                10,
            ).cast("int")
        ).alias("config"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("rung:"), F.col("doc_id").cast("string"))
                    ),
                    1,
                    1,
                ),
                16,
                10,
            ).cast("int")
            % 4
        ).alias("shard"),
    )
    assert hex_pos  # doc parity note: strpos(hex)-1 == conv(hex,16,10)
    cells = d.groupBy("config", "shard").agg(
        F.sum("score").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    cfg = cells.groupBy("config").agg(
        F.coalesce(F.sum(F.when(F.col("shard") < 1, F.col("s"))), F.lit(0))
        .cast("bigint")
        .alias("r1_reward"),
        F.coalesce(F.sum(F.when(F.col("shard") < 2, F.col("s"))), F.lit(0))
        .cast("bigint")
        .alias("r2_reward"),
        F.sum("s").cast("bigint").alias("r3_reward"),
        F.sum("n").cast("bigint").alias("n_docs"),
    )
    w1 = Window.orderBy(F.desc("r1_reward"), F.asc("config"))
    k1 = cfg.withColumn("rk1", F.row_number().over(w1))
    w2 = Window.partitionBy(
        F.when(F.col("rk1") <= 8, 1)
    ).orderBy(F.desc(F.when(F.col("rk1") <= 8, F.col("r2_reward"))), F.asc("config"))
    k2 = k1.withColumn(
        "rk2", F.when(F.col("rk1") <= 8, F.row_number().over(w2))
    )
    w3 = Window.partitionBy(
        F.when(F.col("rk2") <= 4, 1)
    ).orderBy(F.desc(F.when(F.col("rk2") <= 4, F.col("r3_reward"))), F.asc("config"))
    k3 = k2.withColumn(
        "rk3",
        F.when(
            F.coalesce(F.col("rk2") <= 4, F.lit(False)),
            F.row_number().over(w3),
        ),
    )
    return k3.select(
        F.col("config").cast("int").alias("config"),
        "n_docs",
        "r1_reward",
        (F.col("rk1") <= 8).alias("alive2"),
        F.when(F.col("rk1") <= 8, F.col("r2_reward"))
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("r2_seen"),
        F.coalesce(F.col("rk2") <= 4, F.lit(False)).alias("alive3"),
        F.when(
            F.coalesce(F.col("rk2") <= 4, F.lit(False)), F.col("r3_reward")
        )
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("r3_seen"),
        F.coalesce(
            F.when(
                F.coalesce(F.col("rk2") <= 4, F.lit(False)), F.col("rk3")
            ),
            F.lit(0),
        )
        .cast("int")
        .alias("final_rank"),
    )


_REPLAY_SQL = """
WITH logged AS (
  SELECT event_id, user_id, event_type AS action,
         CAST(round(value * 100) AS BIGINT) AS reward_cents
  FROM events WHERE event_type IN ('click', 'view')
),
pol AS (
  SELECT p.policy, l.event_id, l.reward_cents,
         CASE p.policy
           WHEN 'always_click' THEN 'click'
           WHEN 'always_view' THEN 'view'
           ELSE CASE WHEN (strpos('0123456789abcdef',
                           substr(md5('pol:' || l.user_id::VARCHAR), 1, 1))
                           - 1) % 2 = 0
                     THEN 'click' ELSE 'view' END
         END AS chosen,
         l.action
  FROM (VALUES ('always_click'), ('always_view'), ('md5_personalized'))
       p(policy)
  CROSS JOIN logged l
)
SELECT policy,
       CAST(count(*) AS BIGINT) AS n_logged,
       CAST(sum(CASE WHEN chosen = action THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched,
       CAST(sum(CASE WHEN chosen = action THEN reward_cents ELSE 0 END)
            AS BIGINT) AS matched_cents,
       CAST(sum(CASE WHEN chosen = action
                THEN reward_cents * reward_cents ELSE 0 END) AS BIGINT)
         AS matched_cents_sq,
       round(CAST(sum(CASE WHEN chosen = action THEN reward_cents ELSE 0 END)
                  AS DOUBLE)
             / sum(CASE WHEN chosen = action THEN 1 ELSE 0 END), 6)
         AS replay_value
FROM pol GROUP BY 1
"""


@register("q_replay_policy_eval", _REPLAY_SQL)
def q_replay_policy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline policy evaluation by replay matching (Li et al. WSDM 2011):
    three candidate policies — two constant arms and an md5-personalized
    per-user rule — are scored against the logged click/view stream by
    keeping exactly the events where the policy's choice equals the logged
    action and averaging their rewards (unbiased when logging is uniform
    over arms, which the synthetic stream is by construction). Exact
    matched-count / matched-cents / matched-cents² sufficient statistics
    ship in the row, so both the replay value and its variance are
    reproducible downstream without re-scanning logs.

    Scale plan: the 3-row policy spine fans out over one log scan
    (broadcast side is the 3 literals) and collapses map-side to 3 rows —
    no shuffle wider than the policy key; at 10^12 events this is the
    cheapest possible counterfactual evaluation shape (one pass, no
    per-event state)."""
    ev = load(spark, sf_dir, "events")
    logged = ev.filter(F.col("event_type").isin("click", "view")).select(
        "event_id",
        "user_id",
        F.col("event_type").alias("action"),
        F.round(F.col("value") * 100).cast("bigint").alias("reward_cents"),
    )
    pol = spark.createDataFrame(
        [("always_click",), ("always_view",), ("md5_personalized",)],
        "policy string",
    )
    user_arm = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("pol:"), F.col("user_id").cast("string"))),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        % 2
        == 0,
        F.lit("click"),
    ).otherwise(F.lit("view"))
    chosen = (
        F.when(F.col("policy") == "always_click", F.lit("click"))
        .when(F.col("policy") == "always_view", F.lit("view"))
        .otherwise(user_arm)
    )
    matched = F.when(chosen == F.col("action"), 1).otherwise(0)
    return (
        F.broadcast(pol)
        .crossJoin(logged)
        .groupBy("policy")
        .agg(
            F.count("*").cast("bigint").alias("n_logged"),
            F.sum(matched).cast("bigint").alias("n_matched"),
            F.sum(
                F.when(chosen == F.col("action"), F.col("reward_cents"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("matched_cents"),
            F.sum(
                F.when(
                    chosen == F.col("action"),
                    F.col("reward_cents") * F.col("reward_cents"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("matched_cents_sq"),
        )
        .withColumn(
            "replay_value",
            F.round(
                F.col("matched_cents") / F.col("n_matched").cast("double"), 6
            ),
        )
    )


# --------------------------------------------------------------------------
# Round 4r: random-projection geometry + chain analytics. The JL audit is
# the go/no-go table for running ANN on cheaper projected vectors; the
# Markov stationary distribution is the long-run event-mix forecast used
# for capacity planning — both kept engine-exact (literal md5 sign matrix,
# fixed-point 2^20 arithmetic with floor at every step).
# --------------------------------------------------------------------------

import hashlib as _hl  # noqa: E402


def _jl_signs(k: int = 16, d: int = 64) -> list[list[int]]:
    """Deterministic ±1 Achlioptas-style sign matrix: parity of the first
    hex nibble of md5('jl:<j>:<i>'). Computed once at import; embedded as a
    literal in BOTH the Spark plan and the DuckDB oracle, so the projection
    is engine-identical by construction."""
    return [
        [
            1 if int(_hl.md5(f"jl:{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(d)
        ]
        for j in range(k)
    ]


_JL_S = _jl_signs()
_JL_S_SQL = (
    "[" + ", ".join("[" + ", ".join(str(v) for v in row) + "]" for row in _JL_S) + "]"
)

_JL_SQL = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * 1e6) AS BIGINT)) AS mv
  FROM embeddings
),
signs AS (SELECT {_JL_S_SQL} AS s),
proj AS (
  SELECT vec_id, mv,
         list_transform(range(16), j ->
           CAST(list_sum(list_transform(range(64),
                i -> mv[CAST(i AS INT) + 1]
                     * s[CAST(j AS INT) + 1][CAST(i AS INT) + 1]))
                AS BIGINT)) AS pv
  FROM e CROSS JOIN signs
),
pairs AS (
  SELECT a.vec_id AS pair_id,
         CAST(list_sum(list_transform(range(64),
              i -> (a.mv[CAST(i AS INT) + 1] - b.mv[CAST(i AS INT) + 1])
                   * (a.mv[CAST(i AS INT) + 1] - b.mv[CAST(i AS INT) + 1])))
              AS BIGINT) AS d2_orig,
         CAST(list_sum(list_transform(range(16),
              j -> (a.pv[CAST(j AS INT) + 1] - b.pv[CAST(j AS INT) + 1])
                   * (a.pv[CAST(j AS INT) + 1] - b.pv[CAST(j AS INT) + 1])))
              AS BIGINT) AS d2_proj
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % 2 = 0
)
SELECT CAST(pair_id AS BIGINT) AS pair_id, d2_orig, d2_proj,
       CAST(16 * d2_orig AS BIGINT) AS expect_den,
       round(CAST(d2_proj AS DOUBLE) / (16 * d2_orig), 6) AS distortion
FROM pairs
"""


@register("q_jl_distortion", _JL_SQL)
def q_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection distortion audit: every embedding
    is projected 64 -> 16 dims through a literal ±1 md5 sign matrix
    (Achlioptas 2001 database-friendly JL), and consecutive-id pairs
    compare exact squared distances in both spaces as BIGINT micro-unit
    integers. E[d2_proj] = 16 * d2_orig for ±1 signs, so
    distortion = d2_proj / (16 * d2_orig) should concentrate around 1 —
    the one-table answer to "can ANN run on 4x-cheaper vectors here?".
    Zero explode: the projection is aggregate/zip_with over packed arrays
    (whole-stage codegen), the sign matrix a plan literal.

    Scale plan: projection is a projection-only map over the corpus (no
    shuffle); the pair frame is an equi-join on vec_id+1 — at 10^12 rows
    swap in any bounded candidate pair set (the df-cut edge list) without
    touching the distortion algebra."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(round(x * 1e6) AS BIGINT))"
        ).alias("mv"),
    )
    sign_sql = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"CAST({v} AS BIGINT)" for v in row) + ")"
            for row in _JL_S
        )
        + ")"
    )
    proj = e.withColumn(
        "pv",
        F.expr(
            f"transform(sequence(0, 15), j -> aggregate("
            f"zip_with(mv, {sign_sql}[j], (x, s) -> x * s), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v))"
        ),
    )
    a = proj.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("pair_id"),
        F.col("mv").alias("ma"),
        F.col("pv").alias("pa"),
    )
    b = proj.select(
        (F.col("vec_id") - 1).alias("pair_id"),
        F.col("mv").alias("mb"),
        F.col("pv").alias("pb"),
    )
    d2 = "aggregate(zip_with({0}, {1}, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    pairs = a.join(b, "pair_id").select(
        F.col("pair_id").cast("bigint").alias("pair_id"),
        F.expr(d2.format("ma", "mb")).cast("bigint").alias("d2_orig"),
        F.expr(d2.format("pa", "pb")).cast("bigint").alias("d2_proj"),
    )
    return pairs.select(
        "pair_id",
        "d2_orig",
        "d2_proj",
        (16 * F.col("d2_orig")).cast("bigint").alias("expect_den"),
        F.round(
            F.col("d2_proj").cast("double") / (16 * F.col("d2_orig")), 6
        ).alias("distortion"),
    )


_MARKOV_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type AS a, event_type AS b, CAST(count(*) AS BIGINT) AS n_ab
  FROM ordered WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
rowsum AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS r_a FROM trans GROUP BY 1),
p AS (
  SELECT t.a, t.b, (t.n_ab * 1048576) // rs.r_a AS p_fp
  FROM trans t JOIN rowsum rs USING (a)
),
types AS (SELECT DISTINCT event_type AS ty FROM events),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM types),
v0 AS (SELECT ty, 1048576 // nt.n_types AS m FROM types CROSS JOIN nt),
v1 AS (
  SELECT p.b AS ty, CAST(sum(v0.m * p.p_fp) // 1048576 AS BIGINT) AS m
  FROM v0 JOIN p ON p.a = v0.ty GROUP BY 1
),
v2 AS (
  SELECT p.b AS ty, CAST(sum(v1.m * p.p_fp) // 1048576 AS BIGINT) AS m
  FROM v1 JOIN p ON p.a = v1.ty GROUP BY 1
),
v3 AS (
  SELECT p.b AS ty, CAST(sum(v2.m * p.p_fp) // 1048576 AS BIGINT) AS m
  FROM v2 JOIN p ON p.a = v2.ty GROUP BY 1
)
SELECT t.ty AS event_type,
       CAST(coalesce(v1.m, 0) AS BIGINT) AS p1_fp,
       CAST(coalesce(v2.m, 0) AS BIGINT) AS p2_fp,
       CAST(coalesce(v3.m, 0) AS BIGINT) AS p3_fp,
       round(CAST(coalesce(v3.m, 0) AS DOUBLE) / 1048576, 6) AS p3,
       CAST(row_number() OVER (ORDER BY coalesce(v3.m, 0) DESC, t.ty ASC)
            AS INT) AS rnk
FROM types t LEFT JOIN v1 ON v1.ty = t.ty
             LEFT JOIN v2 ON v2.ty = t.ty
             LEFT JOIN v3 ON v3.ty = t.ty
"""


@register("q_markov_stationary", _MARKOV_SQL)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-run event-mix forecast: the user-event chain's empirical
    transition matrix, iterated three power steps from uniform in exact
    2^20 fixed-point arithmetic — P_fp[a][b] = (n_ab << 20) div r_a and
    v' [b] = (sum_a v[a] * P_fp[a][b]) div 2^20, floored at every step so
    both engines compute bit-identical masses (the same fixed-point trick
    as the resource-allocation link score; no float matrix powers). Emits
    the mass after each step — convergence is visible as p2 ≈ p3 — plus
    the final ranking, the table a capacity planner reads for "what does
    the steady-state request mix look like".

    Scale plan: one lag window per user (the only corpus-sized shuffle)
    collapses to a |types|² transition frame; the three iterations are
    joins over that 25-row frame — chain length never multiplies corpus
    cost, which is why the unrolled form is safe at any event volume."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    trans = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("a"), F.col("event_type").alias("b"))
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    rowsum = trans.groupBy("a").agg(F.sum("n_ab").cast("bigint").alias("r_a"))
    p = trans.join(rowsum, "a").select(
        "a", "b", F.expr("(n_ab * 1048576) div r_a").alias("p_fp")
    )
    types = ev.select(F.col("event_type").alias("ty")).distinct()
    nt = types.agg(F.count("*").cast("bigint").alias("n_types"))
    v = types.crossJoin(F.broadcast(nt)).select(
        "ty", F.expr("1048576 div n_types").alias("m")
    )
    vs = []
    for _step in range(3):
        v = (
            v.join(p, v["ty"] == p["a"])
            .groupBy(F.col("b").alias("ty2"))
            .agg(
                F.expr("CAST(sum(m * p_fp) div 1048576 AS BIGINT)").alias("m")
            )
            .withColumnRenamed("ty2", "ty")
        )
        vs.append(v)
    out = types
    for k, vk in enumerate(vs, start=1):
        out = out.join(
            vk.withColumnRenamed("m", f"p{k}_fp"), "ty", "left"
        )
    out = out.select(
        F.col("ty").alias("event_type"),
        *[
            F.coalesce(F.col(f"p{k}_fp"), F.lit(0))
            .cast("bigint")
            .alias(f"p{k}_fp")
            for k in (1, 2, 3)
        ],
    )
    return out.select(
        "*",
        F.round(F.col("p3_fp").cast("double") / 1048576, 6).alias("p3"),
        F.row_number()
        .over(Window.orderBy(F.desc("p3_fp"), F.asc("event_type")))
        .cast("int")
        .alias("rnk"),
    )


# --------------------------------------------------------------------------
# Round 4s: greedy best-first routing over a navigable small-world-style
# graph — the HNSW/NSW layer-0 search primitive (Malkov & Yashunin 2016),
# run as a bounded unrolled descent so the whole approximate search is
# engine-exact and hash-checkable. The graph: a global vec_id ring (the
# connectivity backbone) plus per-LSH-bucket chains (the long-range
# shortcut links a bucketed index gives for free).
# --------------------------------------------------------------------------


def _sql_d2(a: str, b: str) -> str:
    """Exact BIGINT micro-unit squared L2 between two BIGINT lists."""
    return (
        f"CAST(list_sum(list_transform(range(64), i -> "
        f"({a}[CAST(i AS INT) + 1] - {b}[CAST(i AS INT) + 1]) * "
        f"({a}[CAST(i AS INT) + 1] - {b}[CAST(i AS INT) + 1]))) AS BIGINT)"
    )


def _greedy_sql(hops: int = 6) -> str:
    from cliner_spark.entry_queries import SQL_EMB, _sql_lsh_buckets

    parts = [
        f"WITH {SQL_EMB}, {_sql_lsh_buckets(4).strip()},",
        """
m AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(round(x * 1e6) AS BIGINT)) AS mv
  FROM e
),
chain AS (
  SELECT lag(vec_id) OVER (PARTITION BY bucket ORDER BY vec_id) AS a,
         vec_id AS b
  FROM bk QUALIFY a IS NOT NULL
),
ring AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
),
edges AS (SELECT a, b FROM chain UNION SELECT a, b FROM ring),
adj AS (SELECT a AS src, b AS dst FROM edges
        UNION SELECT b AS src, a AS dst FROM edges),
entry AS (SELECT min(vec_id) AS ev FROM e),
qs AS (
  SELECT vec_id AS query_id, mv AS qmv
  FROM m CROSS JOIN entry WHERE vec_id <> entry.ev
  ORDER BY md5('gq:' || vec_id::VARCHAR), vec_id LIMIT 12
),
f0 AS (
  SELECT q.query_id, q.qmv, entry.ev AS cur,
         """
        + _sql_d2("m.mv", "q.qmv")
        + """ AS d2,
         CAST(0 AS INT) AS moves, CAST(1 AS INT) AS last_move
  FROM qs q CROSS JOIN entry JOIN m ON m.vec_id = entry.ev
)""",
    ]
    prev = "f0"
    for k in range(1, hops + 1):
        nd2 = _sql_d2("nb.mv", "f.qmv")
        parts.append(
            f""",
c{k} AS (
  SELECT f.query_id, f.qmv, f.cur, f.d2, f.moves, adj.dst AS nb_id,
         {nd2} AS nd2,
         row_number() OVER (PARTITION BY f.query_id
                            ORDER BY {nd2} ASC, adj.dst ASC) AS rn
  FROM {prev} f JOIN adj ON adj.src = f.cur
  JOIN m nb ON nb.vec_id = adj.dst
),
f{k} AS (
  SELECT query_id, qmv,
         CASE WHEN nd2 < d2 THEN nb_id ELSE cur END AS cur,
         CASE WHEN nd2 < d2 THEN nd2 ELSE d2 END AS d2,
         moves + CASE WHEN nd2 < d2 THEN 1 ELSE 0 END AS moves,
         CASE WHEN nd2 < d2 THEN 1 ELSE 0 END AS last_move
  FROM c{k} WHERE rn = 1
)"""
        )
        prev = f"f{k}"
    parts.append(
        f"""
SELECT f.query_id, s.d2 AS start_d2, f.cur AS final_node, f.d2 AS final_d2,
       CAST(f.moves AS INT) AS n_moves, f.last_move = 0 AS converged,
       CASE WHEN s.d2 > 0
            THEN round(CAST(f.d2 AS DOUBLE) / s.d2, 6) ELSE 0.0 END
         AS dist_ratio
FROM {prev} f JOIN f0 s USING (query_id)"""
    )
    return "\n".join(parts)


_GREEDY_HOPS = 6
_GREEDY_SQL = _greedy_sql(_GREEDY_HOPS)

_SPARK_D2 = (
    "CAST(aggregate(zip_with({0}, {1}, (x, y) -> (x - y) * (x - y)), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS BIGINT)"
)


@register("q_graph_greedy_search", _GREEDY_SQL)
def q_graph_greedy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy best-first vector search over a navigable graph — the NSW /
    HNSW layer-0 primitive (Malkov & Yashunin 2016): from a fixed entry
    node (min vec_id), each of 12 md5-chosen query vectors repeatedly
    hops to its current node's best neighbor (exact BIGINT micro-unit
    squared L2, ties to the smaller id) while that improves, for 6
    unrolled supersteps. The graph is the vec_id ring (connectivity
    backbone) ∪ per-LSH-bucket chains (4 md5 hyperplanes — the shortcut
    links a bucketed index already has). The ledger reports start/final
    exact distances, hop count, convergence, and the distance ratio —
    the searchability audit of the index graph itself.

    Scale plan: bucket chains come from one window per bucket; the ring
    is an equi-self-join; each superstep is frontier(12) x adjacency
    equi-joins with broadcast frontiers and a per-query window —
    never corpus x corpus. localCheckpoint pins the graph and each
    12-row frontier exactly like the BFS/diameter family."""
    from cliner_spark.similarity import lsh_buckets

    emb = load(spark, sf_dir, "embeddings")
    m = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(round(x * 1e6) AS BIGINT))"
        ).alias("mv"),
    ).localCheckpoint()
    bk = lsh_buckets(emb, n_planes=4)
    w_b = Window.partitionBy("bucket").orderBy("vec_id")
    chain = (
        bk.select(
            F.lag("vec_id").over(w_b).alias("a"), F.col("vec_id").alias("b")
        )
        .filter(F.col("a").isNotNull())
    )
    ring = (
        m.select(F.col("vec_id").alias("a"))
        .join(
            m.select((F.col("vec_id") - 1).alias("a"), F.col("vec_id").alias("b")),
            "a",
        )
        .select("a", "b")
    )
    edges = chain.union(ring).distinct()
    adj = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    entry = m.agg(F.min("vec_id").alias("ev"))
    qs = (
        m.crossJoin(F.broadcast(entry))
        .filter(F.col("vec_id") != F.col("ev"))
        .orderBy(
            F.md5(F.concat(F.lit("gq:"), F.col("vec_id").cast("string"))),
            "vec_id",
        )
        .limit(12)
        .select(F.col("vec_id").alias("query_id"), F.col("mv").alias("qmv"))
    )
    f = (
        qs.crossJoin(F.broadcast(entry))
        .join(m.select(F.col("vec_id").alias("ev"), F.col("mv").alias("emv")), "ev")
        .select(
            "query_id",
            "qmv",
            F.col("ev").alias("cur"),
            F.expr(_SPARK_D2.format("emv", "qmv")).alias("d2"),
            F.lit(0).cast("int").alias("moves"),
            F.lit(1).cast("int").alias("last_move"),
        )
        .localCheckpoint()
    )
    f0 = f
    for _k in range(_GREEDY_HOPS):
        nbm = m.select(
            F.col("vec_id").alias("nb_id"), F.col("mv").alias("nb_mv")
        )
        cand = (
            f.join(adj, f["cur"] == adj["src"])
            .join(nbm, F.col("dst") == F.col("nb_id"))
            .withColumn("nd2", F.expr(_SPARK_D2.format("nb_mv", "qmv")))
        )
        w_q = Window.partitionBy("query_id").orderBy(
            F.asc("nd2"), F.asc("nb_id")
        )
        best = cand.withColumn("rn", F.row_number().over(w_q)).filter(
            F.col("rn") == 1
        )
        f = best.select(
            "query_id",
            "qmv",
            F.when(F.col("nd2") < F.col("d2"), F.col("nb_id"))
            .otherwise(F.col("cur"))
            .alias("cur"),
            F.when(F.col("nd2") < F.col("d2"), F.col("nd2"))
            .otherwise(F.col("d2"))
            .alias("d2"),
            (
                F.col("moves")
                + F.when(F.col("nd2") < F.col("d2"), 1).otherwise(0)
            ).cast("int").alias("moves"),
            F.when(F.col("nd2") < F.col("d2"), 1)
            .otherwise(0)
            .cast("int")
            .alias("last_move"),
        ).localCheckpoint()
    return (
        f.join(
            f0.select("query_id", F.col("d2").alias("start_d2")), "query_id"
        )
        .select(
            "query_id",
            "start_d2",
            F.col("cur").alias("final_node"),
            F.col("d2").alias("final_d2"),
            F.col("moves").cast("int").alias("n_moves"),
            (F.col("last_move") == 0).alias("converged"),
            F.when(
                F.col("start_d2") > 0,
                F.round(F.col("d2").cast("double") / F.col("start_d2"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("dist_ratio"),
        )
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
# Round 4af: allocation + privacy + segmentation — k-anonymity / l-diversity
# audit of the customer quasi-identifiers, depth-2 binary changepoint
# segmentation (recursing the round-3 CUSUM localization once), and
# 6-round batch Gale-Shapley deferred acceptance routing docs to source
# reviewers under capacity (McVitie-Wilson parallel proposals — the
# task-to-annotator assignment primitive).
# --------------------------------------------------------------------------

_KANON_SQL = """
WITH q AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat,
         CAST(c_acctbal >= 0 AS INT) AS sens
  FROM customer
),
grp AS (
  SELECT seg, nat, CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT sens) AS BIGINT) AS l_div
  FROM q GROUP BY 1, 2
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT seg || '|' || nat::VARCHAR) AS BIGINT)
           AS n_groups,
         CAST(min(0) AS BIGINT) AS zero
  FROM q
),
lmin AS (SELECT CAST(min(l_div) AS BIGINT) AS min_l FROM grp)
SELECT CAST(k.k AS BIGINT) AS k,
       tot.n_rows, tot.n_groups,
       CAST(sum(CASE WHEN g.n < k.k THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below_k,
       CAST(sum(CASE WHEN g.n < k.k THEN g.n ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       lmin.min_l,
       round(CAST(sum(CASE WHEN g.n < k.k THEN g.n ELSE 0 END) AS DOUBLE)
             / tot.n_rows, 6) AS frac_reidentifiable
FROM (VALUES (2), (5), (10)) k(k)
CROSS JOIN grp g CROSS JOIN tot CROSS JOIN lmin
GROUP BY k.k, tot.n_rows, tot.n_groups, lmin.min_l
"""


@register("q_kanonymity_audit", _KANON_SQL)
def q_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    2007) of the customer table under the quasi-identifier
    (market segment, nation): for k in {2,5,10} the share of rows living
    in groups smaller than k is the re-identification exposure a release
    reviewer signs off on, and min_l (distinct sensitive values — account
    solvency — in the worst group) is the homogeneity-attack floor
    (min_l = 1 means some group leaks its members' attribute outright).
    Complements the DP family (q_dp_release / q_randomized_response):
    this audits what the RAW release leaks before noise is even
    considered.

    Scale plan: one group-by over the quasi-identifier (map-side
    combined), a 3-row k spine, 1-row total/min carries."""
    cust = load(spark, sf_dir, "customer")
    q = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        (F.col("c_acctbal") >= 0).cast("int").alias("sens"),
    )
    grp = q.groupBy("seg", "nat").agg(
        F.count("*").cast("bigint").alias("n"),
        F.countDistinct("sens").cast("bigint").alias("l_div"),
    )
    tot = q.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct(F.concat_ws("|", "seg", "nat")).cast("bigint").alias("n_groups"),
    )
    lmin = grp.agg(F.min("l_div").cast("bigint").alias("min_l"))
    ks = spark.createDataFrame([(2,), (5,), (10,)], "k int")
    return (
        F.broadcast(ks)
        .crossJoin(grp)
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(lmin))
        .groupBy("k", "n_rows", "n_groups", "min_l")
        .agg(
            F.sum(F.when(F.col("n") < F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("groups_below_k"),
            F.sum(F.when(F.col("n") < F.col("k"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("rows_below_k"),
        )
        .select(
            F.col("k").cast("bigint").alias("k"),
            "n_rows", "n_groups", "groups_below_k", "rows_below_k", "min_l",
            F.round(
                F.col("rows_below_k").cast("double") / F.col("n_rows"), 6
            ).alias("frac_reidentifiable"),
        )
    )


_BINSEG_SQL = """
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
  SELECT s.day, coalesce(d.x, 0) AS x,
         CAST(row_number() OVER (ORDER BY s.day) AS BIGINT) AS k
  FROM spine s LEFT JOIN daily d USING (day)
),
c AS (
  SELECT day, x, k,
         CAST(sum(x) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS s_k,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(x) OVER () AS BIGINT) AS t
  FROM dense
),
r1 AS (
  SELECT c.*,
         row_number() OVER (ORDER BY abs(n * s_k - k * t) DESC, day ASC)
           AS pr
  FROM c
),
lvl1 AS (
  SELECT day AS split_day, k AS split_k, n, t, n * s_k - k * t AS cusum_num
  FROM r1 WHERE pr = 1
),
seg AS (
  SELECT c.day, c.x, c.k, c.s_k,
         CASE WHEN c.k <= l.split_k THEN 'left' ELSE 'right' END AS side
  FROM c CROSS JOIN lvl1 l
),
segw AS (
  SELECT side, day, x, k, s_k,
         CAST(count(*) OVER (PARTITION BY side) AS BIGINT) AS sn,
         CAST(sum(x) OVER (PARTITION BY side) AS BIGINT) AS st,
         CAST(min(k) OVER (PARTITION BY side) AS BIGINT) AS firstk
  FROM seg
),
seg0 AS (
  SELECT segw.*,
         CAST(max(CASE WHEN k = firstk THEN s_k - x END)
                OVER (PARTITION BY side) AS BIGINT) AS s0
  FROM segw
),
loc AS (
  SELECT side, day, sn, st,
         k - (firstk - 1) AS local_k, s_k - s0 AS local_s
  FROM seg0
),
r2 AS (
  SELECT side, day, sn, st, local_k,
         sn * local_s - local_k * st AS cusum_num,
         row_number() OVER (PARTITION BY side
                            ORDER BY abs(sn * local_s - local_k * st) DESC,
                                     day ASC) AS pr
  FROM loc
)
SELECT CAST(1 AS BIGINT) AS level, 'all' AS segment,
       CAST(split_day AS VARCHAR) AS split_day,
       CAST(split_k AS BIGINT) AS split_k,
       CAST(cusum_num AS BIGINT) AS cusum_num, n AS seg_n, t AS seg_total
FROM lvl1
UNION ALL
SELECT CAST(2 AS BIGINT), side, CAST(day AS VARCHAR),
       CAST(local_k AS BIGINT), CAST(cusum_num AS BIGINT), sn, st
FROM r2 WHERE pr = 1
"""


@register("q_binary_segmentation", _BINSEG_SQL)
def q_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 binary changepoint segmentation of the daily event volume
    (Scott-Knott / binary segmentation): level 1 localizes the global
    changepoint by the integer CUSUM argmax |n*S_k - k*T| (earliest-day
    tie pins, q_cusum_changepoint's statistic), then each side recurses
    ONCE with segment-local prefix sums (local_s = S_k - S_{k0},
    local_k = k - k0 — pure integer re-anchoring, no rescan). Three rows:
    the split tree a monitoring pipeline turns into regime annotations.
    Bounded depth is honest recursion, like the bounded BFS/BF loops.

    Scale plan: one daily rollup; every window runs on the |days| frame
    or its two halves (dimension, not corpus)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    b = daily.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    spine = b.select(
        F.explode(F.sequence("dmin", "dmax", F.expr("interval 1 day"))).alias("day")
    )
    dense = spine.join(daily, "day", "left").select(
        "day", F.coalesce("x", F.lit(0)).cast("bigint").alias("x")
    ).withColumn("k", F.row_number().over(Window.orderBy("day")).cast("bigint"))
    wall = Window.partitionBy()
    wcum = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = dense.select(
        "day", "x", "k", F.sum("x").over(wcum).cast("bigint").alias("s_k")
    ).withColumn("n", F.count("*").over(wall).cast("bigint")).withColumn(
        "t", F.sum("x").over(wall).cast("bigint")
    )
    lvl1 = (
        c.withColumn(
            "pr",
            F.row_number().over(
                Window.orderBy(
                    F.abs(F.col("n") * F.col("s_k") - F.col("k") * F.col("t")).desc(),
                    F.col("day").asc(),
                )
            ),
        )
        .filter(F.col("pr") == 1)
        .select(
            F.col("day").alias("split_day"), F.col("k").alias("split_k"),
            "n", "t",
            (F.col("n") * F.col("s_k") - F.col("k") * F.col("t")).alias("cusum_num"),
        )
    )
    seg = c.crossJoin(F.broadcast(lvl1.select(F.col("split_k").alias("sk")))).select(
        "day", "x", "k", "s_k",
        F.when(F.col("k") <= F.col("sk"), "left").otherwise("right").alias("side"),
    )
    ws = Window.partitionBy("side")
    segcur = (
        seg.withColumn("sn", F.count("*").over(ws).cast("bigint"))
        .withColumn("st", F.sum("x").over(ws).cast("bigint"))
        .withColumn("firstk", F.min("k").over(ws).cast("bigint"))
        # re-anchor with the segment's FIRST row (s0 = s_k - x there): the
        # previous k0-based lookup pointed OUTSIDE the right partition
        .withColumn(
            "s0",
            F.max(
                F.when(F.col("k") == F.col("firstk"), F.col("s_k") - F.col("x"))
            )
            .over(ws)
            .cast("bigint"),
        )
        .select(
            "side", "day",
            (F.col("k") - (F.col("firstk") - 1)).alias("local_k"),
            (F.col("s_k") - F.col("s0")).alias("local_s"),
            "sn", "st",
        )
    )
    lvl2 = (
        segcur.withColumn(
            "cusum_num",
            F.col("sn") * F.col("local_s") - F.col("local_k") * F.col("st"),
        )
        .withColumn(
            "pr",
            F.row_number().over(
                Window.partitionBy("side").orderBy(
                    F.abs(F.col("cusum_num")).desc(), F.col("day").asc()
                )
            ),
        )
        .filter(F.col("pr") == 1)
    )
    out1 = lvl1.select(
        F.lit(1).cast("bigint").alias("level"),
        F.lit("all").alias("segment"),
        F.col("split_day").cast("string").alias("split_day"),
        F.col("split_k").cast("bigint").alias("split_k"),
        F.col("cusum_num").cast("bigint").alias("cusum_num"),
        F.col("n").alias("seg_n"),
        F.col("t").alias("seg_total"),
    )
    out2 = lvl2.select(
        F.lit(2).cast("bigint").alias("level"),
        F.col("side").alias("segment"),
        F.col("day").cast("string").alias("split_day"),
        F.col("local_k").cast("bigint").alias("split_k"),
        F.col("cusum_num").cast("bigint").alias("cusum_num"),
        F.col("sn").alias("seg_n"),
        F.col("st").alias("seg_total"),
    )
    return out1.unionAll(out2)


_GS_ROUNDS = 6
_GS_CAP = 5


def _gs_sql() -> str:
    head = f"""
WITH papers AS (
  SELECT doc_id FROM documents WHERE doc_id % 5 = 0
),
reviewers AS (SELECT DISTINCT source FROM documents),
grid AS (
  SELECT p.doc_id, r.source,
         md5('ps:' || p.doc_id::VARCHAR || ':' || r.source) AS pscore,
         md5('rs:' || r.source || ':' || p.doc_id::VARCHAR) AS rscore,
         CAST(row_number() OVER (
                PARTITION BY p.doc_id
                ORDER BY md5('ps:' || p.doc_id::VARCHAR || ':' || r.source),
                         r.source) AS BIGINT) AS prank
  FROM papers p CROSS JOIN reviewers r
),
nrev AS (SELECT CAST(count(*) AS BIGINT) AS m FROM reviewers),
s0 AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS ptr, FALSE AS held FROM papers
)"""
    steps = []
    for k in range(1, _GS_ROUNDS + 1):
        steps.append(
            f""",
p{k} AS (
  SELECT s.doc_id, s.ptr, g.source, g.rscore
  FROM s{k - 1} s
  JOIN grid g ON g.doc_id = s.doc_id AND g.prank = s.ptr + 1
  CROSS JOIN nrev
  WHERE s.ptr < nrev.m
),
k{k} AS (
  SELECT doc_id, ptr, source,
         row_number() OVER (PARTITION BY source ORDER BY rscore, doc_id)
           <= {_GS_CAP} AS kept
  FROM p{k}
),
s{k} AS (
  SELECT doc_id, CASE WHEN kept THEN ptr ELSE ptr + 1 END AS ptr,
         kept AS held
  FROM k{k}
  UNION ALL
  SELECT s.doc_id, s.ptr, FALSE
  FROM s{k - 1} s CROSS JOIN nrev WHERE s.ptr >= nrev.m
)"""
        )
    tail = f"""
SELECT s.doc_id, CAST(s.ptr AS BIGINT) AS n_rejections, s.held,
       CASE WHEN s.held THEN g.source END AS reviewer,
       tot.n_held, tot.n_papers
FROM s{_GS_ROUNDS} s
LEFT JOIN grid g ON g.doc_id = s.doc_id AND g.prank = s.ptr + 1
CROSS JOIN (SELECT CAST(sum(CASE WHEN held THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_held,
                   CAST(count(*) AS BIGINT) AS n_papers
            FROM s{_GS_ROUNDS}) tot
"""
    return head + "".join(steps) + tail


_GS_SQL = _gs_sql()


@register("q_stable_matching", _GS_SQL)
def q_stable_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch Gale-Shapley deferred acceptance (McVitie-Wilson parallel
    proposals) routing every 5th doc to the 20 source 'reviewers' under
    capacity 5 — the task-to-annotator assignment primitive. The whole
    per-paper state is (pointer, held): a held paper SITS at preference
    position `pointer`, so pool = everyone at pref[pointer] and one
    reviewer-side rank (md5 score, doc tie pins, top-5 kept) updates the
    round — bumped papers advance their pointer exactly like fresh
    rejections, which is what makes the parallel variant converge to the
    proposer-optimal stable matching at fixpoint. Six rounds, honest
    partial state (held flag, rejection counts, NULL reviewer when
    unplaced), n_held/n_papers carries; the replica replays all six
    rounds exactly AND proves no blocking pair exists among held pairs
    when the round-6 state is a fixpoint.

    Scale plan: each round is one equi-join into the preference grid plus
    one reviewer-partitioned rank — no global windows; the grid is
    papers x reviewer-dimension."""
    docs = load_docs(spark, sf_dir)
    papers = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    reviewers = docs.select("source").distinct()
    grid = (
        papers.crossJoin(reviewers)
        .select(
            "doc_id", "source",
            F.md5(
                F.concat(F.lit("ps:"), F.col("doc_id").cast("string"), F.lit(":"), F.col("source"))
            ).alias("pscore"),
            F.md5(
                F.concat(F.lit("rs:"), F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))
            ).alias("rscore"),
        )
        .withColumn(
            "prank",
            F.row_number()
            .over(Window.partitionBy("doc_id").orderBy("pscore", "source"))
            .cast("bigint"),
        )
        .localCheckpoint()
    )
    m = reviewers.count()
    s = papers.select(
        "doc_id", F.lit(0).cast("bigint").alias("ptr"), F.lit(False).alias("held")
    ).localCheckpoint()
    for _ in range(_GS_ROUNDS):
        pool = (
            s.filter(F.col("ptr") < m)
            .join(
                grid.select(
                    F.col("doc_id").alias("gd"), "source", "rscore",
                    F.col("prank").alias("gp"),
                ),
                (F.col("gd") == F.col("doc_id")) & (F.col("gp") == F.col("ptr") + 1),
            )
            .select("doc_id", "ptr", "source", "rscore")
        )
        kept = pool.withColumn(
            "kept",
            F.row_number().over(Window.partitionBy("source").orderBy("rscore", "doc_id"))
            <= _GS_CAP,
        )
        s = (
            kept.select(
                "doc_id",
                F.when(F.col("kept"), F.col("ptr")).otherwise(F.col("ptr") + 1).alias("ptr"),
                F.col("kept").alias("held"),
            )
            .unionAll(
                s.filter(F.col("ptr") >= m).select(
                    "doc_id", "ptr", F.lit(False).alias("held")
                )
            )
            .localCheckpoint()
        )
    tot = s.agg(
        F.sum(F.when(F.col("held"), 1).otherwise(0)).cast("bigint").alias("n_held"),
        F.count("*").cast("bigint").alias("n_papers"),
    )
    return (
        s.join(
            grid.select(
                F.col("doc_id").alias("gd"), F.col("source").alias("rsrc"),
                F.col("prank").alias("gp"),
            ),
            (F.col("gd") == F.col("doc_id")) & (F.col("gp") == F.col("ptr") + 1),
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.col("ptr").cast("bigint").alias("n_rejections"),
            "held",
            F.when(F.col("held"), F.col("rsrc")).alias("reviewer"),
            "n_held", "n_papers",
        )
    )


# --------------------------------------------------------------------------
# Round 4: storage-layout advisor trio — columnar encoding advisor
# (plain/dict/RLE byte model, parquet-style per-page runs), space-filling
# curve file layout (Hilbert vs Z-order vs row-major zonemap quality), and
# a roaring-bitmap container advisor (array/bitmap/run per 4096-rid chunk).
# --------------------------------------------------------------------------

_ENC_COLS = [
    ("l_returnflag", "l_returnflag"),
    ("l_linestatus", "l_linestatus"),
    ("l_quantity", "CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)"),
    ("l_shipdate", "CAST(CAST(l_shipdate AS DATE) AS VARCHAR)"),
    ("l_suppkey", "CAST(l_suppkey AS VARCHAR)"),
]

_ENC_UNION = "\n  UNION ALL ".join(
    f"SELECT '{n}' AS colname, {e} AS val, l_orderkey, l_linenumber,"
    f" CAST(l_orderkey // 2048 AS BIGINT) AS page FROM lineitem"
    for n, e in _ENC_COLS
)

_ENCODING_SIZE_SQL = f"""
WITH cols AS (
  {_ENC_UNION}
),
runs AS (
  SELECT colname, val,
         CASE WHEN lag(val) OVER (PARTITION BY colname, page
                ORDER BY l_orderkey, l_linenumber, val) IS DISTINCT FROM val
              THEN 1 ELSE 0 END AS is_run_start
  FROM cols
),
dict AS (
  SELECT colname, CAST(count(*) AS BIGINT) AS card,
         CAST(sum(len(val) + 4) AS BIGINT) AS dict_table_bytes
  FROM (SELECT DISTINCT colname, val FROM cols) GROUP BY 1
),
agg AS (
  SELECT colname, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(len(val) + 4) AS BIGINT) AS plain_bytes,
         CAST(sum(is_run_start) AS BIGINT) AS n_runs
  FROM runs GROUP BY 1
),
sized AS (
  SELECT a.colname, a.n_rows, d.card, a.n_runs, a.plain_bytes,
         CASE WHEN d.card <= 256 THEN 1
              WHEN d.card <= 65536 THEN 2 ELSE 4 END AS code_bytes,
         d.dict_table_bytes
  FROM agg a JOIN dict d USING (colname)
),
model AS (
  SELECT colname, n_rows, card, n_runs, plain_bytes,
         CAST(dict_table_bytes + n_rows * code_bytes AS BIGINT) AS dict_bytes,
         CAST(dict_table_bytes + n_runs * (code_bytes + 4) AS BIGINT)
           AS rle_bytes
  FROM sized
)
SELECT colname, n_rows, card, n_runs, plain_bytes, dict_bytes, rle_bytes,
       CASE WHEN plain_bytes <= dict_bytes AND plain_bytes <= rle_bytes
            THEN 'plain'
            WHEN dict_bytes <= rle_bytes THEN 'dict' ELSE 'rle'
       END AS best_encoding,
       round(CAST(least(plain_bytes, dict_bytes, rle_bytes) AS DOUBLE)
             / plain_bytes, 6) AS best_ratio
FROM model
"""


@register("q_encoding_size", _ENCODING_SIZE_SQL)
def q_encoding_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar encoding advisor — the exact byte model a writer consults
    when choosing parquet column encodings: for five lineitem columns
    rendered as strings, plain = sum(len+4), dictionary = dict table +
    n * byte-aligned code width (1/2/4 bytes by cardinality), and RLE =
    dict table + runs * (code + 4-byte length), with runs counted
    PER 2048-key page in the (l_orderkey, l_linenumber) layout order —
    parquet RLE resets per page, which is also what keeps the run count
    embarrassingly parallel. The layout order carries a trailing val
    tiebreak because (l_orderkey, l_linenumber) is NOT unique in this
    fixture — residual ties then hold equal values, which cannot move a
    run boundary, so the count is total-order invariant. best_encoding
    uses the deterministic tie order plain < dict < rle. Low-cardinality flags should pick dict/rle
    and the near-unique suppkey should stay plain — the advisor's sanity
    shape, asserted by the replica.

    Scale plan: the 5-column fanout is a projection-side explode (no
    spine join); runs come from one lag window per (column, page)
    partition — page-local, so no global sort and no single-partition
    window; everything else is map-side-combined groupBys."""
    li = load(spark, sf_dir, "lineitem")
    pairs = [
        ("l_returnflag", F.col("l_returnflag")),
        ("l_linestatus", F.col("l_linestatus")),
        ("l_quantity", F.col("l_quantity").cast("long").cast("string")),
        ("l_shipdate", F.col("l_shipdate").cast("date").cast("string")),
        ("l_suppkey", F.col("l_suppkey").cast("string")),
    ]
    cols = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_orderkey") / 2048).cast("long").alias("page"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(n).alias("colname"), e.alias("val"))
                    for n, e in pairs
                ]
            )
        ).alias("cv"),
    ).select("l_orderkey", "l_linenumber", "page", "cv.colname", "cv.val")
    w = Window.partitionBy("colname", "page").orderBy(
        "l_orderkey", "l_linenumber", "val"
    )
    runs = cols.select(
        "colname",
        "val",
        F.when(
            ~F.lag("val").over(w).eqNullSafe(F.col("val")), 1
        ).otherwise(0).alias("is_run_start"),
    )
    dict_t = (
        cols.select("colname", "val")
        .distinct()
        .groupBy("colname")
        .agg(
            F.count(F.lit(1)).cast("long").alias("card"),
            F.sum(F.length("val") + 4).cast("long").alias("dict_table_bytes"),
        )
    )
    agg = runs.groupBy("colname").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.length("val") + 4).cast("long").alias("plain_bytes"),
        F.sum("is_run_start").cast("long").alias("n_runs"),
    )
    code_bytes = (
        F.when(F.col("card") <= 256, 1)
        .when(F.col("card") <= 65536, 2)
        .otherwise(4)
    )
    m = agg.join(F.broadcast(dict_t), "colname").select(
        "colname", "n_rows", "card", "n_runs", "plain_bytes",
        (F.col("dict_table_bytes") + F.col("n_rows") * code_bytes)
        .cast("long")
        .alias("dict_bytes"),
        (F.col("dict_table_bytes") + F.col("n_runs") * (code_bytes + 4))
        .cast("long")
        .alias("rle_bytes"),
    )
    return m.select(
        "colname", "n_rows", "card", "n_runs", "plain_bytes", "dict_bytes",
        "rle_bytes",
        F.when(
            (F.col("plain_bytes") <= F.col("dict_bytes"))
            & (F.col("plain_bytes") <= F.col("rle_bytes")),
            "plain",
        )
        .when(F.col("dict_bytes") <= F.col("rle_bytes"), "dict")
        .otherwise("rle")
        .alias("best_encoding"),
        F.round(
            F.least("plain_bytes", "dict_bytes", "rle_bytes").cast("double")
            / F.col("plain_bytes"),
            6,
        ).alias("best_ratio"),
    )


def _hilbert_sql_steps() -> str:
    """Chained CTEs h3..h0 applying the order-4 Hilbert xy2d recursion
    (s = 8,4,2,1) to columns (x, y, d). Pure integer arithmetic; the
    rotation cases mirror the classic rot() exactly."""
    out = []
    prev = "cells"
    for i, s in enumerate((8, 4, 2, 1)):
        out.append(
            f"""
h{i} AS (
  SELECT o_orderkey, x0, y0,
         CASE WHEN (y // {s}) % 2 = 1 THEN x
              WHEN (x // {s}) % 2 = 1 THEN 15 - y ELSE y END AS x,
         CASE WHEN (y // {s}) % 2 = 1 THEN y
              WHEN (x // {s}) % 2 = 1 THEN 15 - x ELSE x END AS y,
         d + {s * s} * (CASE WHEN (x // {s}) % 2 = 1
                             THEN 3 - (y // {s}) % 2
                             ELSE (y // {s}) % 2 END) AS d
  FROM {prev}
)"""
        )
        prev = f"h{i}"
    return ",".join(out)


_HILBERT_SQL = f"""
WITH cells AS (
  SELECT o_orderkey,
         CAST(o_custkey % 16 AS BIGINT) AS x0,
         CAST((dayofyear(o_orderdate) - 1) // 23 AS BIGINT) AS y0,
         CAST(o_custkey % 16 AS BIGINT) AS x,
         CAST((dayofyear(o_orderdate) - 1) // 23 AS BIGINT) AS y,
         CAST(0 AS BIGINT) AS d
  FROM orders
),{_hilbert_sql_steps()},
keyed AS (
  SELECT x0 AS x, y0 AS y, d,
         CAST((x0 % 2) + 2 * (y0 % 2) + 4 * ((x0 // 2) % 2)
              + 8 * ((y0 // 2) % 2) + 16 * ((x0 // 4) % 2)
              + 32 * ((y0 // 4) % 2) + 64 * ((x0 // 8) % 2)
              + 128 * ((y0 // 8) % 2) AS BIGINT) AS z
  FROM h3
),
assign AS (
  SELECT 'rowmajor' AS layout, CAST(y AS BIGINT) AS file, x, y FROM keyed
  UNION ALL
  SELECT 'zorder', CAST(z // 16 AS BIGINT), x, y FROM keyed
  UNION ALL
  SELECT 'hilbert', CAST(d // 16 AS BIGINT), x, y FROM keyed
),
boxes AS (
  SELECT layout, file,
         min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM assign GROUP BY 1, 2
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       CAST(sum((max_x - min_x + 1) * (max_y - min_y + 1)) AS BIGINT)
         AS sum_bbox_area,
       CAST(max((max_x - min_x + 1) * (max_y - min_y + 1)) AS BIGINT)
         AS max_bbox_area,
       CAST(count(CASE WHEN max_x >= 4 AND min_x <= 7 THEN 1 END) AS BIGINT)
         AS files_hit_x47,
       CAST(count(CASE WHEN max_y >= 4 AND min_y <= 7 THEN 1 END) AS BIGINT)
         AS files_hit_y47
FROM boxes GROUP BY layout
"""


@register("q_hilbert_layout", _HILBERT_SQL)
def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-filling-curve file-layout advisor: orders are mapped onto a
    16x16 (customer-bucket, day-of-year-bucket) grid and bin-packed into
    16 files under three layouts — row-major (sort by y), bit-interleaved
    Z-order, and an order-4 Hilbert curve (the exact xy2d recursion,
    s = 8,4,2,1 with the n-bound rotation 15-x so coordinates never go
    negative — integer division/modulo sign semantics differ between
    engines below zero — unrolled into integer CASE arithmetic; verified
    a true bijection with unit steps by the replica). Per file the (x, y)
    bounding box is the zonemap a reader prunes with, so sum/max bbox
    area and the file-hit counts for the range predicates x in [4,7] and
    y in [4,7] rank the layouts: row-major prunes only y, the curves
    prune BOTH dimensions with Hilbert's boxes tighter than Z-order's —
    the multi-dimensional clustering argument for Hilbert compaction at
    100 TB, in exact integers.

    Scale plan: curve indices are pure per-row projections (whole-stage
    codegen, no joins); the layout fanout is a 3-way projection union;
    zonemaps come from one map-side-combinable groupBy per (layout, file)
    and a 48-row rollup."""
    orders = load(spark, sf_dir, "orders")
    x0 = (F.col("o_custkey") % 16).cast("long")
    y0 = ((F.dayofyear("o_orderdate") - 1) / 23).cast("long")
    cells = orders.select(
        x0.alias("x0"), y0.alias("y0"),
        x0.alias("x"), y0.alias("y"), F.lit(0).cast("long").alias("d"),
    )
    for s in (8, 4, 2, 1):
        rx = ((F.col("x") / s).cast("long") % 2)
        ry = ((F.col("y") / s).cast("long") % 2)
        cells = cells.select(
            "x0",
            "y0",
            F.when(ry == 1, F.col("x"))
            .when(rx == 1, 15 - F.col("y"))
            .otherwise(F.col("y"))
            .alias("x"),
            F.when(ry == 1, F.col("y"))
            .when(rx == 1, 15 - F.col("x"))
            .otherwise(F.col("x"))
            .alias("y"),
            (
                F.col("d")
                + s * s * F.when(rx == 1, 3 - ry).otherwise(ry)
            ).alias("d"),
        )
    zbits = None
    for i in range(4):
        xb = ((F.col("x0") / (2**i)).cast("long") % 2) * (4**i)
        yb = ((F.col("y0") / (2**i)).cast("long") % 2) * (2 * 4**i)
        zbits = xb + yb if zbits is None else zbits + xb + yb
    keyed = cells.select(
        F.col("x0").alias("x"), F.col("y0").alias("y"), "d",
        zbits.cast("long").alias("z"),
    )
    assign = (
        keyed.select(F.lit("rowmajor").alias("layout"),
                     F.col("y").cast("long").alias("file"), "x", "y")
        .unionAll(
            keyed.select(F.lit("zorder").alias("layout"),
                         (F.col("z") / 16).cast("long").alias("file"), "x", "y")
        )
        .unionAll(
            keyed.select(F.lit("hilbert").alias("layout"),
                         (F.col("d") / 16).cast("long").alias("file"), "x", "y")
        )
    )
    boxes = assign.groupBy("layout", "file").agg(
        F.min("x").alias("min_x"), F.max("x").alias("max_x"),
        F.min("y").alias("min_y"), F.max("y").alias("max_y"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    area = (F.col("max_x") - F.col("min_x") + 1) * (
        F.col("max_y") - F.col("min_y") + 1
    )
    return boxes.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum(area).cast("long").alias("sum_bbox_area"),
        F.max(area).cast("long").alias("max_bbox_area"),
        F.count(F.when((F.col("max_x") >= 4) & (F.col("min_x") <= 7), 1))
        .cast("long")
        .alias("files_hit_x47"),
        F.count(F.when((F.col("max_y") >= 4) & (F.col("min_y") <= 7), 1))
        .cast("long")
        .alias("files_hit_y47"),
    )


_BITMAP_SQL = """
WITH rids AS (
  SELECT o_orderpriority AS val, o_orderkey AS rid,
         CAST(o_orderkey // 4096 AS BIGINT) AS chunk
  FROM orders
),
runs AS (
  SELECT val, chunk, rid,
         CASE WHEN lag(rid) OVER (PARTITION BY val, chunk ORDER BY rid)
                   = rid - 1 THEN 0 ELSE 1 END AS is_run_start
  FROM rids
),
per_chunk AS (
  SELECT val, chunk, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(is_run_start) AS BIGINT) AS n_runs
  FROM runs GROUP BY 1, 2
),
sized AS (
  SELECT val, chunk, n, n_runs,
         2 + 2 * n AS b_array, CAST(512 AS BIGINT) AS b_bitmap,
         2 + 4 * n_runs AS b_run
  FROM per_chunk
),
chosen AS (
  SELECT val, chunk, n, n_runs, b_array, b_bitmap, b_run,
         CASE WHEN b_array <= b_bitmap AND b_array <= b_run THEN 'array'
              WHEN b_bitmap <= b_run THEN 'bitmap' ELSE 'run' END AS cont,
         least(b_array, b_bitmap, b_run) AS b_chosen
  FROM sized
)
SELECT val AS value,
       CAST(sum(n) AS BIGINT) AS n_rids,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(CASE WHEN cont = 'array' THEN 1 END) AS BIGINT) AS n_array,
       CAST(count(CASE WHEN cont = 'bitmap' THEN 1 END) AS BIGINT) AS n_bitmap,
       CAST(count(CASE WHEN cont = 'run' THEN 1 END) AS BIGINT) AS n_run,
       CAST(sum(b_chosen) AS BIGINT) AS bytes_chosen,
       CAST(sum(n) * 8 AS BIGINT) AS bytes_plain,
       round(CAST(sum(b_chosen) AS DOUBLE) / (sum(n) * 8), 6)
         AS compression_ratio
FROM chosen GROUP BY 1
"""


@register("q_bitmap_index", _BITMAP_SQL)
def q_bitmap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roaring-bitmap container advisor (Chambi/Lemire 2016, scaled to
    4096-rid chunks): for each o_orderpriority posting list, every chunk
    picks the cheapest of the three roaring containers — sorted array
    (2 + 2n bytes), fixed bitmap (512 bytes), run container
    (2 + 4*runs) — with the deterministic tie order array < bitmap <
    run; runs are maximal consecutive-rid intervals within the chunk.
    The per-value rollup (container mix, chosen bytes vs the 8-byte/rid
    plain list) is the index-sizing ledger a 100 TB store consults before
    materializing a secondary index: 1/5-selectivity postings should land
    mostly in array containers well under the plain size.

    Scale plan: run detection is one lag window per (value, chunk)
    partition — chunk-local, parallel by construction; container choice
    is pure projection; two map-side-combinable groupBys end in 5 rows."""
    orders = load(spark, sf_dir, "orders")
    rids = orders.select(
        F.col("o_orderpriority").alias("val"),
        F.col("o_orderkey").alias("rid"),
        (F.col("o_orderkey") / 4096).cast("long").alias("chunk"),
    )
    w = Window.partitionBy("val", "chunk").orderBy("rid")
    runs = rids.select(
        "val", "chunk", "rid",
        F.when(F.lag("rid").over(w) == F.col("rid") - 1, 0)
        .otherwise(1)
        .alias("is_run_start"),
    )
    per_chunk = runs.groupBy("val", "chunk").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("is_run_start").cast("long").alias("n_runs"),
    )
    sized = per_chunk.select(
        "val", "n", "n_runs",
        (2 + 2 * F.col("n")).alias("b_array"),
        F.lit(512).cast("long").alias("b_bitmap"),
        (2 + 4 * F.col("n_runs")).alias("b_run"),
    )
    chosen = sized.select(
        "val", "n",
        F.when(
            (F.col("b_array") <= F.col("b_bitmap"))
            & (F.col("b_array") <= F.col("b_run")),
            "array",
        )
        .when(F.col("b_bitmap") <= F.col("b_run"), "bitmap")
        .otherwise("run")
        .alias("cont"),
        F.least("b_array", "b_bitmap", "b_run").alias("b_chosen"),
    )
    return chosen.groupBy(F.col("val").alias("value")).agg(
        F.sum("n").cast("long").alias("n_rids"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.count(F.when(F.col("cont") == "array", 1)).cast("long").alias("n_array"),
        F.count(F.when(F.col("cont") == "bitmap", 1)).cast("long").alias("n_bitmap"),
        F.count(F.when(F.col("cont") == "run", 1)).cast("long").alias("n_run"),
        F.sum("b_chosen").cast("long").alias("bytes_chosen"),
        (F.sum("n") * 8).cast("long").alias("bytes_plain"),
        F.round(
            F.sum("b_chosen").cast("double") / (F.sum("n") * 8), 6
        ).alias("compression_ratio"),
    )


# --------------------------------------------------------------------------
# Round 4: an integer-weight WAND pruning audit (Broder 2003 max-score
# document skipping).
# --------------------------------------------------------------------------


_WAND_SQL = f"""
WITH {SQL_DOCS_TOKS.strip()},
ti AS (
  SELECT d.doc_id, lower(t.tok) AS tok, CAST(count(*) AS BIGINT) AS tf
  FROM docs d, unnest(toks) AS t(tok) GROUP BY 1, 2
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
dft AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf) AS BIGINT) AS cf
  FROM ti GROUP BY 1
),
wt AS (
  SELECT d.tok, d.df, CAST(nn.n // d.df AS BIGINT) AS w
  FROM dft d CROSS JOIN nn
),
qt AS (
  SELECT tok, w,
         CAST((row_number() OVER (ORDER BY cf DESC, tok) - 1) // 2 + 1
              AS BIGINT) AS qid,
         row_number() OVER (ORDER BY cf DESC, tok) AS rn
  FROM dft JOIN wt USING (tok)
  QUALIFY rn <= 10
),
cand AS (
  SELECT q.qid, t.doc_id, q.tok, t.tf * q.w AS part
  FROM qt q JOIN ti t USING (tok)
),
scores AS (
  SELECT qid, doc_id, CAST(sum(part) AS BIGINT) AS score
  FROM cand GROUP BY 1, 2
),
theta AS (
  SELECT qid, score AS th FROM (
    SELECT qid, score,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, doc_id) AS rk
    FROM scores
  ) WHERE rk = 3
),
ubt AS (
  SELECT c.qid, c.tok, CAST(max(c.part) AS BIGINT) AS u
  FROM cand c GROUP BY 1, 2
),
ubd AS (
  SELECT c.qid, c.doc_id, CAST(sum(u.u) AS BIGINT) AS ub
  FROM (SELECT DISTINCT qid, doc_id, tok FROM cand) c
  JOIN ubt u ON u.qid = c.qid AND u.tok = c.tok
  GROUP BY 1, 2
),
j AS (
  SELECT s.qid, s.doc_id, s.score, u.ub, t.th
  FROM scores s JOIN ubd u USING (qid, doc_id) JOIN theta t USING (qid)
),
terms AS (
  SELECT qid, min(tok) AS term_a, max(tok) AS term_b FROM qt GROUP BY 1
)
SELECT j.qid, tm.term_a, tm.term_b,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(max(j.th) AS BIGINT) AS theta,
       CAST(count(CASE WHEN j.ub < j.th THEN 1 END) AS BIGINT) AS n_prunable,
       round(CAST(count(CASE WHEN j.ub < j.th THEN 1 END) AS DOUBLE)
             / count(*), 6) AS prune_rate,
       CAST(max(j.ub) AS BIGINT) AS max_ub,
       CAST(count(CASE WHEN j.ub < j.th AND j.score >= j.th THEN 1 END)
            AS BIGINT) AS n_violations
FROM j JOIN terms tm USING (qid)
GROUP BY 1, 2, 3
"""


@register("q_wand_pruning", _WAND_SQL)
def q_wand_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAND max-score pruning audit (Broder et al. 2003), the
    document-skipping arithmetic behind every web-scale top-k retrieval
    engine, in exact integers: term weights are the integer idf
    surrogate w = N div df (the WAND MECHANICS under audit, not BM25
    calibration — the repo's float BM25 lives in q_bm25_search), five
    2-term queries are drawn from the collection-frequency top-10, and
    for each query theta = the 3rd-best full score, U_t = the max
    single-document contribution of term t, and a candidate is prunable
    iff its upper bound sum U_t < theta — i.e. the engine could skip
    scoring it entirely. n_violations counts prunable docs whose true
    score still reached theta: ZERO by the score <= UB invariant, and
    shipped in-row so the audit proves its own safety. prune_rate is the
    fraction of postings traversal WAND saves at k=3.

    Scale plan: one inverted-index build (map-side-combined), broadcast
    10-row query spine, per-query theta via a bounded window; no
    corpus self-joins. 1-row N carry whitelisted."""
    from cliner_spark.tokenization import tokens_col

    docs = load_docs(spark, sf_dir)
    ti = (
        docs.select(
            "doc_id", F.explode(tokens_col(F.col("text"))).alias("t")
        )
        .select("doc_id", F.lower("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    nn = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    dft = ti.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    wt = dft.crossJoin(F.broadcast(nn)).select(
        "tok", "df", "cf", F.floor(F.col("n") / F.col("df")).cast("long").alias("w")
    )
    rn = F.row_number().over(Window.orderBy(F.desc("cf"), F.asc("tok")))
    qt = (
        wt.select("tok", "w", rn.alias("rn"))
        .filter(F.col("rn") <= 10)
        .select(
            "tok", "w",
            (F.floor((F.col("rn") - 1) / 2) + 1).cast("long").alias("qid"),
        )
    )
    cand = F.broadcast(qt).join(ti, "tok").select(
        "qid", "doc_id", "tok", (F.col("tf") * F.col("w")).alias("part")
    )
    scores = cand.groupBy("qid", "doc_id").agg(
        F.sum("part").cast("long").alias("score")
    )
    theta = (
        scores.select(
            "qid", "score",
            F.row_number()
            .over(
                Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
            )
            .alias("rk"),
        )
        .filter(F.col("rk") == 3)
        .select("qid", F.col("score").alias("th"))
    )
    ubt = cand.groupBy("qid", "tok").agg(F.max("part").cast("long").alias("u"))
    ubd = (
        cand.select("qid", "doc_id", "tok")
        .distinct()
        .join(F.broadcast(ubt), ["qid", "tok"])
        .groupBy("qid", "doc_id")
        .agg(F.sum("u").cast("long").alias("ub"))
    )
    j = scores.join(ubd, ["qid", "doc_id"]).join(F.broadcast(theta), "qid")
    terms = qt.groupBy("qid").agg(
        F.min("tok").alias("term_a"), F.max("tok").alias("term_b")
    )
    return (
        j.groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.max("th").cast("long").alias("theta"),
            F.count(F.when(F.col("ub") < F.col("th"), 1))
            .cast("long")
            .alias("n_prunable"),
            F.round(
                F.count(F.when(F.col("ub") < F.col("th"), 1)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("prune_rate"),
            F.max("ub").cast("long").alias("max_ub"),
            F.count(
                F.when(
                    (F.col("ub") < F.col("th")) & (F.col("score") >= F.col("th")),
                    1,
                )
            )
            .cast("long")
            .alias("n_violations"),
        )
        .join(F.broadcast(terms), "qid")
        .select(
            "qid", "term_a", "term_b", "n_candidates", "theta", "n_prunable",
            "prune_rate", "max_ub", "n_violations",
        )
    )


# --------------------------------------------------------------------------
# Round 4: bipartite-graph / LLM-serving / parametric-trend trio —
# butterfly counting (the bipartite clustering census), a nucleus /
# top-k sampling mass audit over exact bigram successor distributions,
# and OLS with exact rational coefficients + an integer residual-sign
# serial-correlation diagnostic.
# --------------------------------------------------------------------------

_BUTTERFLY_SQL = f"""
WITH {SQL_DOCS_TOKS.strip()},
bt AS (
  SELECT DISTINCT d.doc_id, lower(t.tok) AS tok
  FROM docs d, unnest(toks) AS t(tok)
),
dfk AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM bt GROUP BY 1
),
kept AS (
  SELECT b.doc_id, b.tok FROM bt b JOIN dfk USING (tok) WHERE dfk.df <= 50
),
pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v, CAST(count(*) AS BIGINT) AS c
  FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
wstat AS (
  SELECT CAST(sum((df * (df - 1)) // 2) AS BIGINT) AS wedges,
         CAST(count(*) AS BIGINT) AS n_tokens_used,
         CAST(sum(df) AS BIGINT) AS n_edges
  FROM dfk WHERE df <= 50
),
bstat AS (
  SELECT CAST(coalesce(sum((c * (c - 1)) // 2), 0) AS BIGINT) AS butterflies,
         CAST(count(*) AS BIGINT) AS n_doc_pairs,
         CAST(coalesce(max(c), 0) AS BIGINT) AS max_common
  FROM pairs
)
SELECT w.n_edges, w.n_tokens_used, w.wedges, b.n_doc_pairs, b.max_common,
       b.butterflies,
       round(CAST(b.butterflies AS DOUBLE) / w.wedges, 6) AS butterfly_density
FROM wstat w CROSS JOIN bstat b
"""


@register("q_butterfly_count", _BUTTERFLY_SQL)
def q_butterfly_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterfly census of the bipartite doc-token graph (Sanei-Mehri et
    al. 2018) — the bipartite analog of q_triangles' clustering census:
    a butterfly is a (2 docs x 2 shared tokens) 4-cycle, counted exactly
    as sum over doc pairs of C(common, 2) from the inverted-index pair
    frame, beside the wedge count sum over tokens of C(df, 2) (two docs
    through one token) — their ratio is the bipartite clustering density
    that says how often co-occurrence REPEATS, the cohesion signal dense
    template corpora light up. Tokens with df > 50 are excluded (the
    same df-cut contract as jaccard_pairs: stopword-grade tokens create
    quadratic wedge mass and butterflies among them measure the
    vocabulary, not the corpus; production uses degree-ordered counting
    with the identical cut).

    Scale plan: one inverted-index self-join bounded by the df-cut (per-
    token fanout <= C(50,2)), map-side-combined pair counts, two
    constant-size stat frames crossJoined (1-row carries,
    whitelisted)."""
    from cliner_spark.tokenization import tokens_col

    docs = load_docs(spark, sf_dir)
    bt = (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("t"))
        .select("doc_id", F.lower("t").alias("tok"))
        .distinct()
    )
    dfk = bt.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    kept = bt.join(dfk.filter(F.col("df") <= 50), "tok").select("doc_id", "tok")
    a = kept.select(F.col("tok"), F.col("doc_id").alias("u"))
    b = kept.select(F.col("tok"), F.col("doc_id").alias("v"))
    pairs = (
        a.join(b, "tok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wstat = dfk.filter(F.col("df") <= 50).agg(
        F.sum(((F.col("df") * (F.col("df") - 1)) / 2).cast("long")).alias("wedges"),
        F.count(F.lit(1)).cast("long").alias("n_tokens_used"),
        F.sum("df").cast("long").alias("n_edges"),
    )
    bstat = pairs.agg(
        F.coalesce(F.sum(((F.col("c") * (F.col("c") - 1)) / 2).cast("long")), F.lit(0))
        .cast("long")
        .alias("butterflies"),
        F.count(F.lit(1)).cast("long").alias("n_doc_pairs"),
        F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("max_common"),
    )
    return wstat.crossJoin(F.broadcast(bstat)).select(
        "n_edges", "n_tokens_used", "wedges", "n_doc_pairs", "max_common",
        "butterflies",
        F.round(
            F.col("butterflies").cast("double") / F.col("wedges"), 6
        ).alias("butterfly_density"),
    )


_NUCLEUS_SQL = f"""
WITH {SQL_DOCS_TOKS.strip()},
tk AS (
  SELECT d.doc_id, CAST(t.i AS BIGINT) AS pos, lower(d.toks[t.i + 1]) AS tok
  FROM docs d, unnest(range(len(d.toks))) AS t(i)
),
uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY 1),
ctx AS (
  SELECT tok AS context, n,
         row_number() OVER (ORDER BY n DESC, tok) AS rn
  FROM uni QUALIFY rn <= 8
),
big AS (
  SELECT a.tok AS context, b.tok AS nxt, CAST(count(*) AS BIGINT) AS c
  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.tok IN (SELECT context FROM ctx)
  GROUP BY 1, 2
),
ranked AS (
  SELECT context, nxt, c,
         row_number() OVER (PARTITION BY context ORDER BY c DESC, nxt) AS rk,
         sum(c) OVER (PARTITION BY context ORDER BY c DESC, nxt
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY context) AS tot
  FROM big
),
nuc AS (
  SELECT context, CAST(min(rk) AS BIGINT) AS nucleus_size_p90
  FROM ranked WHERE 10 * cum >= 9 * tot GROUP BY 1
),
agg AS (
  SELECT context, CAST(max(tot) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_successors,
         CAST(max(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS greedy_count,
         max(CASE WHEN rk = 1 THEN nxt END) AS greedy_token,
         CAST(coalesce(sum(CASE WHEN rk <= 5 THEN c END), 0) AS BIGINT)
           AS top5_mass
  FROM ranked GROUP BY 1
)
SELECT a.context, a.n_successors, a.total, a.greedy_token, a.greedy_count,
       n.nucleus_size_p90, a.top5_mass,
       round(CAST(a.top5_mass AS DOUBLE) / a.total, 6) AS top5_rate,
       round(CAST(a.greedy_count AS DOUBLE) / a.total, 6) AS greedy_rate
FROM agg a JOIN nuc n USING (context)
"""


@register("q_nucleus_audit", _NUCLEUS_SQL)
def q_nucleus_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus / top-k sampling mass audit (Holtzman 2020's top-p over
    exact corpus bigram distributions) — the decoding-parameter ledger an
    inference fleet consults before fixing top_p/top_k defaults: for the
    8 most frequent context tokens, successors rank by exact bigram
    count (token tie pins), and nucleus_size_p90 is the SMALLEST prefix
    whose cumulative mass reaches 90%, decided by the cross-multiplied
    integer test 10*cum >= 9*total — no division anywhere near the
    decision. top5_mass (the top-k=5 truncation mass) and the greedy
    argmax token sit beside it: a flat distribution (large nucleus, low
    greedy rate) needs temperature; a peaked one saturates at k=5. All
    counts exact BIGINTs; the two rates are single rounded divisions.

    Scale plan: bigrams come from one positional self-join per doc
    (adjacent positions, equi on doc_id), pre-filtered to the 8-row
    broadcast context set; ranking windows run per-context on
    vocabulary-bounded frames."""
    from cliner_spark.tokenization import tokens_col

    docs = load_docs(spark, sf_dir)
    tk = docs.select(
        "doc_id",
        F.posexplode(tokens_col(F.col("text"))).alias("pos", "t"),
    ).select("doc_id", "pos", F.lower("t").alias("tok"))
    uni = tk.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ctx = (
        uni.select(
            F.col("tok").alias("context"),
            F.row_number().over(Window.orderBy(F.desc("n"), F.asc("tok"))).alias("rn"),
        )
        .filter(F.col("rn") <= 8)
        .select("context")
    )
    a = tk.select("doc_id", "pos", F.col("tok").alias("context")).join(
        F.broadcast(ctx), "context"
    )
    b = tk.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"),
        F.col("tok").alias("nxt"),
    )
    big = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("pos_b") == F.col("pos") + 1),
        )
        .groupBy("context", "nxt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wo = Window.partitionBy("context").orderBy(F.desc("c"), F.asc("nxt"))
    wp = Window.partitionBy("context")
    ranked = big.select(
        "context", "nxt", "c",
        F.row_number().over(wo).alias("rk"),
        F.sum("c").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("c").over(wp).alias("tot"),
    )
    nuc = (
        ranked.filter(10 * F.col("cum") >= 9 * F.col("tot"))
        .groupBy("context")
        .agg(F.min("rk").cast("long").alias("nucleus_size_p90"))
    )
    agg = ranked.groupBy("context").agg(
        F.max("tot").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_successors"),
        F.max(F.when(F.col("rk") == 1, F.col("c"))).cast("long").alias("greedy_count"),
        F.max(F.when(F.col("rk") == 1, F.col("nxt"))).alias("greedy_token"),
        F.coalesce(F.sum(F.when(F.col("rk") <= 5, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("top5_mass"),
    )
    return agg.join(nuc, "context").select(
        "context", "n_successors", "total", "greedy_token", "greedy_count",
        "nucleus_size_p90", "top5_mass",
        F.round(F.col("top5_mass").cast("double") / F.col("total"), 6).alias(
            "top5_rate"
        ),
        F.round(F.col("greedy_count").cast("double") / F.col("total"), 6).alias(
            "greedy_rate"
        ),
    )


_OLS_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
           AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1
),
spine AS (
  SELECT b.event_type, CAST(t.i AS BIGINT) AS t, b.d0 + t.i AS d
  FROM bounds b, unnest(range(CAST(b.d1 - b.d0 + 1 AS BIGINT))) AS t(i)
),
series AS (
  SELECT s.event_type, s.t, coalesce(dy.c, 0) AS x
  FROM spine s LEFT JOIN daily dy
    ON dy.event_type = s.event_type AND dy.d = s.d
),
suff AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS st, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(t * t) AS BIGINT) AS stt,
         CAST(sum(t * x) AS BIGINT) AS stx,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM series GROUP BY 1
),
coefs AS (
  SELECT event_type, n, st, sx, stt, stx, sxx,
         CAST(n * stx - st * sx AS BIGINT) AS b_num,
         CAST(n * stt - st * st AS BIGINT) AS b_den
  FROM suff
),
resid AS (
  SELECT s.event_type,
         s.t,
         c.b_den * s.x * c.n - (c.sx * c.b_den - c.b_num * c.st)
           - c.n * c.b_num * s.t AS r_scaled
  FROM series s JOIN coefs c USING (event_type)
),
signs AS (
  SELECT event_type,
         CASE WHEN r_scaled > 0 THEN 1 WHEN r_scaled < 0 THEN -1 ELSE 0 END
           AS sg,
         lag(CASE WHEN r_scaled > 0 THEN 1 WHEN r_scaled < 0 THEN -1
                  ELSE 0 END)
           OVER (PARTITION BY event_type ORDER BY t) AS sg_prev
  FROM resid
),
ser AS (
  SELECT event_type,
         CAST(count(CASE WHEN sg * sg_prev = 1 THEN 1 END) AS BIGINT)
           AS n_same_sign,
         CAST(count(CASE WHEN sg * sg_prev = -1 THEN 1 END) AS BIGINT)
           AS n_flip_sign
  FROM signs WHERE sg_prev IS NOT NULL GROUP BY 1
)
SELECT c.event_type, c.n AS n_days, c.b_num AS slope_num,
       c.b_den AS slope_den,
       CAST(c.sx * c.b_den - c.b_num * c.st AS BIGINT) AS icept_num,
       CAST(c.n * c.b_den AS BIGINT) AS icept_den,
       round(CAST(c.b_num AS DOUBLE) / c.b_den, 6) AS slope,
       round(CAST(c.sx * c.b_den - c.b_num * c.st AS DOUBLE)
             / (c.n * c.b_den), 6) AS intercept,
       round(CAST(c.b_num AS DOUBLE) * c.b_num
             / (CAST(c.b_den AS DOUBLE)
                * (c.n * c.sxx - c.sx * c.sx)), 6) AS r2,
       s.n_same_sign, s.n_flip_sign
FROM coefs c JOIN ser s USING (event_type)
"""


@register("q_ols_trend", _OLS_SQL)
def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend over the zero-filled daily series — the
    parametric baseline bracketed by q_theil_sen (robust slope) and
    q_mann_kendall (distribution-free test): slope and intercept ship as
    EXACT rationals from integer sufficient statistics (b = (nStx -
    StSx)/(nStt - St^2), a = (Sx*b_den - b_num*St)/(n*b_den)), R^2 as
    one deterministic double chain over them. Serial correlation of the
    residuals — what Durbin-Watson measures, whose exact square sums
    overflow BIGINT — is audited instead through the INTEGER residual
    sign sequence: r_scaled = n*b_den*x_t - (icept-scale) - n*b_num*t is
    an exact integer with the same sign as the true residual, and
    n_same_sign vs n_flip_sign of adjacent days is the runs-style
    positive/negative autocorrelation verdict (same >> flip = sticky
    residuals = understated OLS standard errors).

    Scale plan: one daily rollup, per-type spine explode (no NLJ), one
    sufficient-stats groupBy, one equi-join back for residual signs with
    a per-type lag window on day-domain-bounded frames."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        "event_type",
        F.posexplode(
            F.sequence(F.col("d0"), F.col("d1"))
        ).alias("t", "d"),
    ).select("event_type", F.col("t").cast("long").alias("t"), "d")
    series = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "t", F.coalesce("c", F.lit(0)).cast("long").alias("x")
    )
    suff = series.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("x")).cast("long").alias("stx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    coefs = suff.select(
        "*",
        (F.col("n") * F.col("stx") - F.col("st") * F.col("sx"))
        .cast("long")
        .alias("b_num"),
        (F.col("n") * F.col("stt") - F.col("st") * F.col("st"))
        .cast("long")
        .alias("b_den"),
    )
    resid = series.join(F.broadcast(coefs), "event_type").select(
        "event_type", "t",
        (
            F.col("b_den") * F.col("x") * F.col("n")
            - (F.col("sx") * F.col("b_den") - F.col("b_num") * F.col("st"))
            - F.col("n") * F.col("b_num") * F.col("t")
        ).alias("r_scaled"),
    )
    sg = (
        F.when(F.col("r_scaled") > 0, 1)
        .when(F.col("r_scaled") < 0, -1)
        .otherwise(0)
    )
    wt = Window.partitionBy("event_type").orderBy("t")
    signs = resid.select(
        "event_type", sg.alias("sg"), F.lag(sg).over(wt).alias("sg_prev")
    ).filter(F.col("sg_prev").isNotNull())
    ser = signs.groupBy("event_type").agg(
        F.count(F.when(F.col("sg") * F.col("sg_prev") == 1, 1))
        .cast("long")
        .alias("n_same_sign"),
        F.count(F.when(F.col("sg") * F.col("sg_prev") == -1, 1))
        .cast("long")
        .alias("n_flip_sign"),
    )
    icept_num = F.col("sx") * F.col("b_den") - F.col("b_num") * F.col("st")
    return coefs.join(ser, "event_type").select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("b_num").alias("slope_num"),
        F.col("b_den").alias("slope_den"),
        icept_num.cast("long").alias("icept_num"),
        (F.col("n") * F.col("b_den")).cast("long").alias("icept_den"),
        F.round(F.col("b_num").cast("double") / F.col("b_den"), 6).alias("slope"),
        F.round(
            icept_num.cast("double") / (F.col("n") * F.col("b_den")), 6
        ).alias("intercept"),
        F.round(
            F.col("b_num").cast("double") * F.col("b_num")
            / (
                F.col("b_den").cast("double")
                * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            ),
            6,
        ).alias("r2"),
        "n_same_sign",
        "n_flip_sign",
    )


# --------------------------------------------------------------------------
# Round 4: interval/sketch/seasonality trio — range join via day
# bucketing (the scalable interval-overlap shape), the AMS +/-1
# second-moment sketch audited against exact F2, and the day-of-week
# seasonality ledger.
# --------------------------------------------------------------------------

_INTERVAL_SQL = """
WITH iv AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         min(ts) AS a_start, max(ts) AS a_end
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT CAST(min(CAST(ts AS DATE)) AS TIMESTAMP) AS t0,
         datediff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS nd
  FROM events
),
wins AS (
  SELECT CAST(t.i AS BIGINT) AS win_id,
         b.t0 + INTERVAL 12 HOUR + t.i * (INTERVAL 7 DAY) AS w_start,
         b.t0 + INTERVAL 48 HOUR + t.i * (INTERVAL 7 DAY) AS w_end
  FROM bounds b, unnest(range(CAST(b.nd // 7 + 1 AS BIGINT))) AS t(i)
),
wdays AS (
  SELECT w.win_id, w.w_start, w.w_end, CAST(d.d AS DATE) AS day
  FROM wins w, unnest(generate_series(CAST(w.w_start AS DATE),
                                      CAST(w.w_end AS DATE),
                                      INTERVAL 1 DAY)) AS d(d)
),
cand AS (
  SELECT DISTINCT wd.win_id, wd.w_start, wd.w_end,
         iv.user_id, iv.day, iv.a_start, iv.a_end
  FROM wdays wd JOIN iv ON iv.day = wd.day
),
ol AS (
  SELECT win_id, w_start, w_end, user_id,
         CASE WHEN a_start <= w_end AND w_start <= a_end
              THEN greatest(0, datediff('second',
                     greatest(a_start, w_start), least(a_end, w_end)))
              ELSE 0 END AS ov_s,
         CASE WHEN a_start >= w_start AND a_end <= w_end THEN 1 ELSE 0 END
           AS contained
  FROM cand
)
SELECT win_id,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(count(CASE WHEN ov_s > 0 THEN 1 END) AS BIGINT) AS n_overlapping,
       CAST(sum(ov_s) AS BIGINT) AS overlap_seconds,
       CAST(sum(contained) AS BIGINT) AS n_contained,
       CAST(max(ov_s) AS BIGINT) AS max_overlap_s
FROM ol GROUP BY 1
"""


@register("q_interval_overlap", _INTERVAL_SQL)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap range join via day bucketing — THE shape that
    keeps an interval join off the nested-loop path at scale: user
    activity intervals (per user-day [first_ts, last_ts]) meet a weekly
    36-hour maintenance-window calendar (noon + 36h every 7 days,
    derived from the corpus time origin) by exploding each window into
    its covered DAY buckets and equi-joining on day — candidates are
    bucket-local, then the exact predicate a_start <= w_end AND w_start
    <= a_end filters, so no pair is ever formed outside a shared bucket.
    Overlap durations are exact integer SECONDS via timestamp
    differences (differences are timezone-free on both engines — never
    raw epochs), with the containment count and the candidate count
    beside them so the join's bucket selectivity is itself audited.
    This is the outage-impact question — which user sessions does the
    window touch, for how long — in the formulation that survives 10^12
    rows.

    Scale plan: intervals and windows are groupBy/sequence frames; the
    only join is equi on day with bucket-bounded fanout; dedup before
    the predicate keeps multi-day windows from double counting.
    1-row bounds carry whitelisted."""
    ev = load(spark, sf_dir, "events")
    iv = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.min("ts").alias("a_start"), F.max("ts").alias("a_end"))
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("dmin"),
        F.max(F.col("ts").cast("date")).alias("dmax"),
    ).select(
        F.col("dmin").cast("timestamp").alias("t0"),
        F.datediff("dmax", "dmin").alias("nd"),
    )
    wins = (
        bounds.select(
            F.explode(F.sequence(F.lit(0), (F.col("nd") / 7).cast("long"))).alias(
                "win_id"
            ),
            "t0",
        )
        .select(
            "win_id",
            (
                F.date_add(
                    F.col("t0").cast("date"), (F.col("win_id") * 7).cast("int")
                ).cast("timestamp")
                + F.expr("INTERVAL 12 HOURS")
            ).alias("w_start"),
            (
                F.date_add(
                    F.col("t0").cast("date"), (F.col("win_id") * 7).cast("int")
                ).cast("timestamp")
                + F.expr("INTERVAL 48 HOURS")
            ).alias("w_end"),
        )
    )
    wdays = wins.select(
        "win_id", "w_start", "w_end",
        F.explode(
            F.sequence(
                F.col("w_start").cast("date"), F.col("w_end").cast("date")
            )
        ).alias("day"),
    )
    cand = (
        F.broadcast(wdays)
        .join(iv, "day")
        .select(
            "win_id", "w_start", "w_end", "user_id",
            F.col("day"), "a_start", "a_end",
        )
        .distinct()
    )
    sec = F.unix_timestamp(
        F.least("a_end", "w_end")
    ) - F.unix_timestamp(F.greatest("a_start", "w_start"))
    ov = cand.select(
        "win_id",
        F.when(
            (F.col("a_start") <= F.col("w_end"))
            & (F.col("w_start") <= F.col("a_end")),
            F.greatest(F.lit(0).cast("long"), sec),
        )
        .otherwise(0)
        .alias("ov_s"),
        F.when(
            (F.col("a_start") >= F.col("w_start"))
            & (F.col("a_end") <= F.col("w_end")),
            1,
        )
        .otherwise(0)
        .alias("contained"),
    )
    return ov.groupBy("win_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.count(F.when(F.col("ov_s") > 0, 1)).cast("long").alias("n_overlapping"),
        F.sum("ov_s").cast("long").alias("overlap_seconds"),
        F.sum("contained").cast("long").alias("n_contained"),
        F.max("ov_s").cast("long").alias("max_overlap_s"),
    )


_AMS_SQL = f"""
WITH {SQL_DOCS_TOKS.strip()},
tk AS (
  SELECT d.doc_id, CAST(t.i AS BIGINT) AS pos, lower(d.toks[t.i + 1]) AS tok
  FROM docs d, unnest(range(len(d.toks))) AS t(i)
),
bg AS (
  SELECT a.tok || ' ' || b.tok AS gram, CAST(count(*) AS BIGINT) AS f
  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1
),
f2t AS (SELECT CAST(sum(f * f) AS BIGINT) AS f2 FROM bg),
est AS (SELECT CAST(t.i + 1 AS BIGINT) AS j FROM unnest(range(16)) AS t(i)),
sk AS (
  SELECT e.j,
         CAST(sum(CASE WHEN strpos('0123456789abcdef',
                    substr(md5(CAST(e.j AS VARCHAR) || '#' || b.gram), 1, 1))
                    <= 8 THEN b.f ELSE -b.f END) AS BIGINT) AS y
  FROM est e CROSS JOIN bg b
  GROUP BY 1
),
xs AS (
  SELECT j, y, CAST(y * y AS BIGINT) AS x,
         row_number() OVER (ORDER BY y * y, j) AS rk
  FROM sk
),
med AS (SELECT CAST(x AS BIGINT) AS med_x FROM xs WHERE rk = 8)
SELECT xs.j, xs.y, xs.x, f2t.f2,
       CAST(abs(xs.x - f2t.f2) AS BIGINT) AS abs_err,
       round(CAST(abs(xs.x - f2t.f2) AS DOUBLE) / f2t.f2, 6) AS rel_err,
       med.med_x,
       round(CAST(abs(med.med_x - f2t.f2) AS DOUBLE) / f2t.f2, 6)
         AS med_rel_err
FROM xs CROSS JOIN f2t CROSS JOIN med
"""


@register("q_ams_f2", _AMS_SQL)
def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-moment sketch (Alon-Matias-Szegedy 1996, the Godel-
    prize streaming estimator) over the bigram frequency vector, audited
    against EXACT F2 = sum f^2 (the corpus self-join size / repeat-mass
    statistic that drives skew planning): 16 independent estimators each
    fold the whole vector through a +/-1 md5 sign (nibble <= 8) into one
    BIGINT counter y_j, and y_j^2 is an unbiased F2 estimate; the lower
    median of the 16 (rank 8, (x, j) pin) is the variance-tamed headline
    beside per-estimator exact absolute errors. Everything is integer
    except the two rounded relative errors — the sketch's whole state is
    16 numbers regardless of corpus size, THE point.

    Scale plan: bigram counts are one positional equi-join + groupBy;
    the 16-way fanout is a broadcast estimator spine folded map-side
    into 16 counters; median on a 16-row frame. 1-row F2/median carries
    whitelisted."""
    from cliner_spark.tokenization import tokens_col

    docs = load_docs(spark, sf_dir)
    tk = docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "t")
    ).select("doc_id", "pos", F.lower("t").alias("tok"))
    b = tk.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"),
        F.col("tok").alias("tok_b"),
    )
    bg = (
        tk.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("pos_b") == F.col("pos") + 1),
        )
        .select(F.concat_ws(" ", "tok", "tok_b").alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    f2t = bg.agg(F.sum(F.col("f") * F.col("f")).cast("long").alias("f2"))
    est = spark.range(1, 17).select(F.col("id").cast("long").alias("j"))
    sign_pos = F.substring(
        F.md5(F.concat(F.col("j").cast("string"), F.lit("#"), F.col("gram"))), 1, 1
    ) < "8"
    sk = (
        F.broadcast(est)
        .crossJoin(bg)
        .groupBy("j")
        .agg(
            F.sum(F.when(sign_pos, F.col("f")).otherwise(-F.col("f")))
            .cast("long")
            .alias("y")
        )
    )
    xs = sk.select(
        "j", "y", (F.col("y") * F.col("y")).cast("long").alias("x")
    ).withColumn("rk", F.row_number().over(Window.orderBy("x", "j")))
    med = xs.filter(F.col("rk") == 8).select(F.col("x").alias("med_x"))
    return (
        xs.crossJoin(F.broadcast(f2t))
        .crossJoin(F.broadcast(med))
        .select(
            "j", "y", "x", "f2",
            F.abs(F.col("x") - F.col("f2")).cast("long").alias("abs_err"),
            F.round(
                F.abs(F.col("x") - F.col("f2")).cast("double") / F.col("f2"), 6
            ).alias("rel_err"),
            "med_x",
            F.round(
                F.abs(F.col("med_x") - F.col("f2")).cast("double") / F.col("f2"),
                6,
            ).alias("med_rel_err"),
        )
    )


_DOW_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
spine AS (
  SELECT CAST(d.d AS DATE) AS day
  FROM bounds b, unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS d(d)
),
series AS (
  SELECT s.day, dayofweek(s.day) + 1 AS dow, coalesce(dy.c, 0) AS x
  FROM spine s LEFT JOIN daily dy USING (day)
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all, CAST(sum(x) AS BIGINT) AS s_all
  FROM series
),
grp AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n_d, CAST(sum(x) AS BIGINT) AS s_d
  FROM series GROUP BY 1
),
rk AS (
  SELECT dow, n_d, s_d,
         row_number() OVER (ORDER BY CAST(s_d AS DOUBLE) / n_d DESC, dow)
           AS peak_rank
  FROM grp
)
SELECT CAST(r.dow AS INT) AS dow, r.n_d, r.s_d,
       round(CAST(r.s_d AS DOUBLE) / r.n_d, 6) AS mean_count,
       CAST(r.s_d * t.n_all - t.s_all * r.n_d AS BIGINT) AS dev_num,
       CAST(r.n_d * t.n_all AS BIGINT) AS dev_den,
       CAST(r.peak_rank AS BIGINT) AS peak_rank,
       t.n_all, t.s_all
FROM rk r CROSS JOIN tot t
"""


@register("q_dow_seasonality", _DOW_SQL)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality ledger over the zero-filled daily event
    volume — the weekly-profile companion to q_acf (which sees weekly
    structure as a lag-7 echo; this names the days): per weekday the
    exact (n_days, sum) sufficient pair, the mean as one rounded
    division, the deviation from the global mean as the EXACT
    cross-multiplied rational (s_d * N - S * n_d) / (n_d * N), and the
    peak_rank ordering weekdays by exact-fraction means (double order
    with dow pin — equal fractions give equal doubles). Global carries
    ship in-row so the replica can rebuild the full between/within
    variance decomposition; the between-share itself stays out of the
    query because it is a cross-group double sum (the repo's standing
    rule). The zero-filled spine matters: missing Mondays count as
    zero-volume Mondays, not absent ones.

    Scale plan: one daily rollup, a date-sequence spine join, a 7-row
    groupBy; 1-row global carry (whitelisted)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    series = spine.join(F.broadcast(daily), "day", "left").select(
        F.dayofweek("day").alias("dow"),
        F.coalesce("c", F.lit(0)).cast("long").alias("x"),
    )
    tot = series.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("x").cast("long").alias("s_all"),
    )
    grp = series.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("x").cast("long").alias("s_d"),
    )
    rk = grp.select(
        "*",
        F.row_number()
        .over(
            Window.orderBy(
                F.desc(F.col("s_d").cast("double") / F.col("n_d")), F.asc("dow")
            )
        )
        .alias("peak_rank"),
    )
    return rk.crossJoin(F.broadcast(tot)).select(
        F.col("dow").cast("int").alias("dow"),
        "n_d", "s_d",
        F.round(F.col("s_d").cast("double") / F.col("n_d"), 6).alias("mean_count"),
        (F.col("s_d") * F.col("n_all") - F.col("s_all") * F.col("n_d"))
        .cast("long")
        .alias("dev_num"),
        (F.col("n_d") * F.col("n_all")).cast("long").alias("dev_den"),
        F.col("peak_rank").cast("long").alias("peak_rank"),
        "n_all", "s_all",
    )


# --------------------------------------------------------------------------
# Round 4: query-optimizer trio — System-R cardinality estimation audit
# (q-error), left-deep join-order costing with actual-vs-estimated
# regret, and a partition-key layout advisor.
# --------------------------------------------------------------------------

_JOINCARD_SQL = """
WITH m AS (
  SELECT 'orders_customer' AS join_name,
         (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_left,
         (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_right,
         (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders)
           AS d_left,
         (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer)
           AS d_right,
         (SELECT CAST(count(*) AS BIGINT)
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
           AS actual
  UNION ALL
  SELECT 'lineitem_orders',
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(count(*) AS BIGINT) FROM orders),
         (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem),
         (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders),
         (SELECT CAST(count(*) AS BIGINT)
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
  UNION ALL
  SELECT 'lineitem_part',
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(count(*) AS BIGINT) FROM part),
         (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM lineitem),
         (SELECT CAST(count(DISTINCT p_partkey) AS BIGINT) FROM part),
         (SELECT CAST(count(*) AS BIGINT)
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
)
SELECT join_name, n_left, n_right, d_left, d_right,
       CAST(n_left * n_right AS BIGINT) AS est_num,
       CAST(greatest(d_left, d_right) AS BIGINT) AS est_den,
       round(CAST(n_left AS DOUBLE) * n_right / greatest(d_left, d_right), 4)
         AS est_rows,
       actual,
       round(greatest(
         (CAST(n_left AS DOUBLE) * n_right / greatest(d_left, d_right))
           / actual,
         actual / (CAST(n_left AS DOUBLE) * n_right
                   / greatest(d_left, d_right))), 6) AS q_error
FROM m
"""


@register("q_join_cardinality", _JOINCARD_SQL)
def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """System-R cardinality estimation audit (Selinger 1979): for the
    three canonical TPC-H join edges, the uniformity-assumption estimate
    |A||B| / max(d_A, d_B) ships as an exact integer RATIONAL
    (est_num / est_den) beside the true join size, and the verdict is
    the q-error max(est/actual, actual/est) — the metric the learned-
    cardinality literature standardized on. On FK joins the containment
    assumption is exact, so q-error should sit at ~1.0: this query is
    the regression gate a cost model runs after every stats refresh,
    and the place a 100 TB planner discovers its distinct counts are
    stale before a broadcast decision burns the cluster.

    Scale plan: six count/distinct aggregates (map-side combined; at
    production scale the distinct counts come from the HLL sketches the
    repo already audits in q_hll_audit) + three equi-join counts —
    everything collapses to a 3-row ledger."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")

    def edge(name, a, b, ka, kb):
        na = a.count()
        nb = b.count()
        da = a.select(ka).distinct().count()
        db = b.select(kb).distinct().count()
        actual = a.join(b, a[ka] == b[kb]).count()
        return (name, na, nb, da, db, actual)

    rows = [
        edge("orders_customer", o, c, "o_custkey", "c_custkey"),
        edge("lineitem_orders", li, o, "l_orderkey", "o_orderkey"),
        edge("lineitem_part", li, p, "l_partkey", "p_partkey"),
    ]
    m = spark.createDataFrame(
        rows,
        "join_name string, n_left long, n_right long, d_left long, "
        "d_right long, actual long",
    )
    est = F.col("n_left").cast("double") * F.col("n_right") / F.greatest(
        "d_left", "d_right"
    )
    return m.select(
        "join_name", "n_left", "n_right", "d_left", "d_right",
        (F.col("n_left") * F.col("n_right")).cast("long").alias("est_num"),
        F.greatest("d_left", "d_right").cast("long").alias("est_den"),
        F.round(est, 4).alias("est_rows"),
        "actual",
        F.round(
            F.greatest(est / F.col("actual"), F.col("actual") / est), 6
        ).alias("q_error"),
    )


_JOINORDER_SQL = """
WITH stats AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_c,
    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_o,
    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_l,
    (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderstatus = 'F')
      AS n_of,
    (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer) AS d_cc,
    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders) AS d_oc,
    (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders) AS d_ok,
    (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem) AS d_lk
),
act AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT)
     FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey) AS a_co,
    (SELECT CAST(count(*) AS BIGINT)
     FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey) AS a_ol,
    (SELECT CAST(count(*) AS BIGINT)
     FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
     JOIN lineitem l ON o.o_orderkey = l.l_orderkey) AS a_col,
    (SELECT CAST(count(*) AS BIGINT)
     FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
     WHERE o.o_orderstatus = 'F') AS a_ofl,
    (SELECT CAST(count(*) AS BIGINT)
     FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
     JOIN lineitem l ON o.o_orderkey = l.l_orderkey
     WHERE o.o_orderstatus = 'F') AS a_ofcl
),
plans AS (
  SELECT 'co_then_l' AS plan,
         CAST(s.n_c AS DOUBLE) * s.n_o / greatest(s.d_cc, s.d_oc)
         + (CAST(s.n_c AS DOUBLE) * s.n_o / greatest(s.d_cc, s.d_oc))
           * s.n_l / greatest(s.d_ok, s.d_lk) AS est_cost,
         a.a_co + a.a_col AS actual_cost
  FROM stats s CROSS JOIN act a
  UNION ALL
  SELECT 'ol_then_c',
         CAST(s.n_o AS DOUBLE) * s.n_l / greatest(s.d_ok, s.d_lk)
         + (CAST(s.n_o AS DOUBLE) * s.n_l / greatest(s.d_ok, s.d_lk))
           * s.n_c / greatest(s.d_oc, s.d_cc),
         a.a_ol + a.a_col
  FROM stats s CROSS JOIN act a
  UNION ALL
  SELECT 'filtered_ofl_then_c',
         CAST(s.n_of AS DOUBLE) * s.n_l / greatest(s.d_ok, s.d_lk)
         + (CAST(s.n_of AS DOUBLE) * s.n_l / greatest(s.d_ok, s.d_lk))
           * s.n_c / greatest(s.d_oc, s.d_cc),
         a.a_ofl + a.a_ofcl
  FROM stats s CROSS JOIN act a
),
best AS (
  SELECT min(actual_cost) AS best_actual FROM plans
),
pick AS (
  SELECT plan AS picked FROM (
    SELECT plan, row_number() OVER (ORDER BY est_cost, plan) AS rn FROM plans
  ) WHERE rn = 1
)
SELECT p.plan, round(p.est_cost, 4) AS est_cost, p.actual_cost,
       CASE WHEN p.plan = pk.picked THEN 1 ELSE 0 END AS picked,
       b.best_actual,
       round(CAST(p.actual_cost AS DOUBLE) / b.best_actual, 6)
         AS cost_vs_best
FROM plans p CROSS JOIN best b CROSS JOIN pick pk
"""


@register("q_join_order_cost", _JOINORDER_SQL)
def q_join_order_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-deep join-order mini-optimizer over customer-orders-lineitem
    (the Selinger enumeration in miniature): three valid left-deep plans
    — (C JOIN O) then L, (O JOIN L) then C, and the predicate-pushed
    sigma_F(O) JOIN L then C — are each costed by the materialization
    model (sum of estimated intermediate sizes under the System-R
    uniformity estimate) and by the TRUE intermediate sizes, and the
    picked = argmin-estimate plan carries its regret cost_vs_best
    against the actual optimum. The filtered plan demonstrates WHY
    pushdown wins (the selectivity multiplies through both
    intermediates); a regret near 1.0 is the certificate that the
    estimate ordering matches the true ordering — the property a
    planner actually needs, not accurate absolute numbers.

    Scale plan: the costing inputs are count/distinct aggregates and
    three join counts (stats-table lookups in production); the plan
    frame is 3 rows. Estimate ties pinned by plan name."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    n_c, n_o, n_l = c.count(), o.count(), li.count()
    n_of = o.filter(F.col("o_orderstatus") == "F").count()
    d_cc = c.select("c_custkey").distinct().count()
    d_oc = o.select("o_custkey").distinct().count()
    d_ok = o.select("o_orderkey").distinct().count()
    d_lk = li.select("l_orderkey").distinct().count()
    a_co = c.join(o, c["c_custkey"] == o["o_custkey"]).count()
    a_ol = o.join(li, o["o_orderkey"] == li["l_orderkey"]).count()
    col3 = c.join(o, c["c_custkey"] == o["o_custkey"]).join(
        li, F.col("o_orderkey") == li["l_orderkey"]
    )
    a_col = col3.count()
    of = o.filter(F.col("o_orderstatus") == "F")
    a_ofl = of.join(li, of["o_orderkey"] == li["l_orderkey"]).count()
    a_ofcl = (
        c.join(of, c["c_custkey"] == of["o_custkey"])
        .join(li, F.col("o_orderkey") == li["l_orderkey"])
        .count()
    )
    e_co = n_c * n_o / max(d_cc, d_oc)
    e_ol = n_o * n_l / max(d_ok, d_lk)
    e_ofl = n_of * n_l / max(d_ok, d_lk)
    plans = [
        ("co_then_l", e_co + e_co * n_l / max(d_ok, d_lk), a_co + a_col),
        ("ol_then_c", e_ol + e_ol * n_c / max(d_oc, d_cc), a_ol + a_col),
        (
            "filtered_ofl_then_c",
            e_ofl + e_ofl * n_c / max(d_oc, d_cc),
            a_ofl + a_ofcl,
        ),
    ]
    best_actual = min(a for _p, _e, a in plans)
    picked = min(plans, key=lambda pea: (pea[1], pea[0]))[0]
    df = spark.createDataFrame(
        plans, "plan string, est_cost_raw double, actual_cost long"
    )
    return df.select(
        "plan",
        F.round("est_cost_raw", 4).alias("est_cost"),
        "actual_cost",
        F.when(F.col("plan") == picked, 1).otherwise(0).alias("picked"),
        F.lit(best_actual).cast("long").alias("best_actual"),
        F.round(F.col("actual_cost").cast("double") / best_actual, 6).alias(
            "cost_vs_best"
        ),
    )


_PARTADV_SQL = """
WITH base AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(user_id % 64 AS BIGINT) AS user_bucket,
         date_trunc('hour', ts) AS hr
  FROM events
),
cand AS (
  SELECT 'event_type' AS cand, CAST(event_type AS VARCHAR) AS pk FROM base
  UNION ALL SELECT 'day', CAST(day AS VARCHAR) FROM base
  UNION ALL SELECT 'user_bucket', CAST(user_bucket AS VARCHAR) FROM base
  UNION ALL SELECT 'hour', CAST(hr AS VARCHAR) FROM base
),
per AS (
  SELECT cand, pk, CAST(count(*) AS BIGINT) AS n FROM cand GROUP BY 1, 2
)
SELECT cand,
       CAST(count(*) AS BIGINT) AS n_partitions,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(max(n) AS BIGINT) AS max_rows,
       CAST(min(n) AS BIGINT) AS min_rows,
       CAST(count(CASE WHEN n < 64 THEN 1 END) AS BIGINT) AS n_small,
       CAST(max(n) * count(*) AS BIGINT) AS skew_num,
       CAST(sum(n) AS BIGINT) AS skew_den,
       round(CAST(max(n) AS DOUBLE) * count(*) / sum(n), 6) AS skew_ratio,
       CASE WHEN sum(n) // count(*) BETWEEN 64 AND 8192 THEN 1 ELSE 0 END
         AS avg_in_band
FROM per GROUP BY cand
"""


@register("q_partition_advisor", _PARTADV_SQL)
def q_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key layout advisor — the decision every lakehouse table
    makes once and lives with: four candidate partition schemes for the
    event stream (event_type, day, user_id%64, hour) each report exact
    partition counts, max/min partition sizes, the small-partition count
    (< 64 rows — the small-files problem), and the skew ratio max*P/N as
    a cross-multiplied exact rational (1.0 = perfectly even) with an
    avg-rows-in-band verdict. Too few partitions starve parallelism,
    too many drown the metadata layer, and a hot key serializes one
    task — the three failure modes this table makes visible side by
    side before anyone writes a CREATE TABLE ... PARTITIONED BY.

    Scale plan: the 4-way candidate fanout is a projection union; one
    map-side-combinable groupBy per (candidate, key) then a 4-row
    rollup. No joins."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        (F.col("user_id") % 64).cast("long").alias("user_bucket"),
        F.date_trunc("hour", "ts").alias("hr"),
    )
    cand = (
        base.select(
            F.lit("event_type").alias("cand"),
            F.col("event_type").cast("string").alias("pk"),
        )
        .unionAll(
            base.select(F.lit("day").alias("cand"), F.col("day").cast("string"))
        )
        .unionAll(
            base.select(
                F.lit("user_bucket").alias("cand"),
                F.col("user_bucket").cast("string"),
            )
        )
        .unionAll(
            base.select(F.lit("hour").alias("cand"), F.col("hr").cast("string"))
        )
    )
    per = cand.groupBy("cand", "pk").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return per.groupBy("cand").agg(
        F.count(F.lit(1)).cast("long").alias("n_partitions"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_rows"),
        F.min("n").cast("long").alias("min_rows"),
        F.count(F.when(F.col("n") < 64, 1)).cast("long").alias("n_small"),
        (F.max("n") * F.count(F.lit(1))).cast("long").alias("skew_num"),
        F.sum("n").cast("long").alias("skew_den"),
        F.round(
            F.max("n").cast("double") * F.count(F.lit(1)) / F.sum("n"), 6
        ).alias("skew_ratio"),
        F.when(
            F.floor(F.sum("n") / F.count(F.lit(1))).between(64, 8192), 1
        )
        .otherwise(0)
        .alias("avg_in_band"),
    )


# --------------------------------------------------------------------------
# Round 4: relational/scheduling/stat trio — the skyline (Pareto-front)
# operator via RANGE-frame running maxima, critical-path method over a
# layered task DAG (max-plus relaxation), and the exact-integer
# Cramér-von Mises two-sample statistic.
# --------------------------------------------------------------------------

_SKYLINE_SQL = """
WITH p AS (
  SELECT p_partkey, CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(p_size AS BIGINT) AS size
  FROM part
),
m AS (
  SELECT p_partkey, cents, size,
         max(size) OVER (ORDER BY cents
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_strict,
         max(size) OVER (ORDER BY cents
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_incl
  FROM p
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM p)
SELECT m.p_partkey, m.cents, m.size, t.n_total
FROM m CROSS JOIN tot t
WHERE (m.m_strict IS NULL OR m.m_strict < m.size) AND m.m_incl <= m.size
"""


@register("q_skyline", _SKYLINE_SQL)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-front operator (Borzsony-Kossmann-Stocker 2001)
    over parts, minimizing price and maximizing size — the
    multi-objective SELECT that relational engines never got as a
    keyword: a part is dominated iff some part is strictly cheaper with
    at least equal size, or at most equal price with strictly larger
    size, and BOTH conditions collapse into two RANGE-frame running
    maxima over the price axis (max size strictly below this price; max
    size at-or-below it) — one sort, one window pass, no pair join, the
    formulation that makes 2-D skylines linear after sort at any scale.
    Equal (price, size) twins survive together (neither dominates).
    Exact integer cents; the replica cross-checks with the O(n^2)
    dominance scan and verifies the front is an antichain.

    Scale plan: one global sort window (dist_dense_rank shape at
    production scale); the RANGE frames are value-based so price ties
    are handled exactly; output is front-sized. 1-row count carry."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long").alias("cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    w_strict = (
        Window.orderBy("cents").rangeBetween(Window.unboundedPreceding, -1)
    )
    w_incl = Window.orderBy("cents").rangeBetween(Window.unboundedPreceding, 0)
    m = p.select(
        "p_partkey", "cents", "size",
        F.max("size").over(w_strict).alias("m_strict"),
        F.max("size").over(w_incl).alias("m_incl"),
    )
    tot = p.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (
        m.filter(
            (F.col("m_strict").isNull() | (F.col("m_strict") < F.col("size")))
            & (F.col("m_incl") <= F.col("size"))
        )
        .crossJoin(F.broadcast(tot))
        .select("p_partkey", "cents", "size", "n_total")
    )


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
# Round 4: KG-eval / IVM / mergeable-sampling trio — TransE link
# prediction ranking in exact integer L1 geometry, incremental view
# maintenance audited against full recompute, and the bottom-k
# mergeability certificate.
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


_IVM_SQL = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         substr(md5('u:' || CAST(o_orderkey AS VARCHAR)), 1, 1) < '6' AS upd,
         substr(md5('d:' || CAST(o_orderkey AS VARCHAR)), 1, 1) < '2' AS del
  FROM orders
),
full_v AS (
  SELECT status, CAST(count(*) AS BIGINT) AS f_count,
         CAST(sum(CASE WHEN upd THEN cents + 100 ELSE cents END) AS BIGINT)
           AS f_cents
  FROM base WHERE NOT del GROUP BY 1
),
agg AS (
  SELECT status,
         CAST(count(*) AS BIGINT) AS b_count,
         CAST(sum(cents) AS BIGINT) AS b_cents,
         CAST(count(CASE WHEN del THEN 1 END) AS BIGINT) AS n_del,
         CAST(count(CASE WHEN upd THEN 1 END) AS BIGINT) AS n_upd,
         CAST(sum(CASE WHEN del THEN cents
                       + CASE WHEN upd THEN 100 ELSE 0 END
                  ELSE 0 END) AS BIGINT) AS del_cents_final
  FROM base GROUP BY 1
)
SELECT a.status, a.b_count, a.b_cents, a.n_del, a.n_upd,
       a.del_cents_final,
       CAST(a.b_count - a.n_del AS BIGINT) AS i_count,
       CAST(a.b_cents + 100 * a.n_upd - a.del_cents_final AS BIGINT)
         AS i_cents,
       f.f_count, f.f_cents,
       CASE WHEN a.b_count - a.n_del = f.f_count THEN 1 ELSE 0 END
         AS count_match,
       CASE WHEN a.b_cents + 100 * a.n_upd - a.del_cents_final
                 = f.f_cents THEN 1 ELSE 0 END AS cents_match
FROM agg a JOIN full_v f USING (status)
"""


@register("q_ivm_audit", _IVM_SQL)
def q_ivm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance audit — the algebra that lets a
    materialized SUM/COUNT view absorb a CDC delta without rereading
    the base table, PROVEN against full recompute in the same query:
    under q_cdc_apply's md5 delta (6/16 updated +$1, 2/16 deleted) the
    incremental update is dCount = -n_del and dSum = +100*n_upd -
    del_cents_final — n_upd counts ALL updates because an
    updated-then-deleted row's +100 is applied by the update delta and
    then removed inside its last-value departure; the first draft used
    only live updates and the replica caught the exact 100*n_upd_del
    discrepancy, the classic IVM miscount this audit exists to catch —
    and the
    count_match/cents_match columns ship the exact-equality verdict
    in-row. At 10^12 rows this identity is the difference between a
    5-second view refresh and a full-table rescan.

    Scale plan: two map-side-combinable groupBys over one projection,
    a 3-row equi-join; no windows, no corpus joins."""
    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        (
            F.substring(
                F.md5(F.concat(F.lit("u:"), F.col("o_orderkey").cast("string"))),
                1, 1,
            )
            < "6"
        ).alias("upd"),
        (
            F.substring(
                F.md5(F.concat(F.lit("d:"), F.col("o_orderkey").cast("string"))),
                1, 1,
            )
            < "2"
        ).alias("del"),
    )
    full_v = base.filter(~F.col("del")).groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("f_count"),
        F.sum(
            F.when(F.col("upd"), F.col("cents") + 100).otherwise(F.col("cents"))
        )
        .cast("long")
        .alias("f_cents"),
    )
    agg = base.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("b_count"),
        F.sum("cents").cast("long").alias("b_cents"),
        F.count(F.when(F.col("del"), 1)).cast("long").alias("n_del"),
        F.count(F.when(F.col("upd"), 1)).cast("long").alias("n_upd"),
        F.sum(
            F.when(
                F.col("del"),
                F.col("cents") + F.when(F.col("upd"), 100).otherwise(0),
            ).otherwise(0)
        )
        .cast("long")
        .alias("del_cents_final"),
    )
    i_count = F.col("b_count") - F.col("n_del")
    i_cents = F.col("b_cents") + 100 * F.col("n_upd") - F.col(
        "del_cents_final"
    )
    return agg.join(full_v, "status").select(
        "status", "b_count", "b_cents", "n_del", "n_upd",
        "del_cents_final",
        i_count.cast("long").alias("i_count"),
        i_cents.cast("long").alias("i_cents"),
        "f_count", "f_cents",
        F.when(i_count == F.col("f_count"), 1).otherwise(0).alias("count_match"),
        F.when(i_cents == F.col("f_cents"), 1).otherwise(0).alias("cents_match"),
    )


_BOTTOMK_SQL = """
WITH h AS (
  SELECT o_orderkey AS k, CAST(o_orderkey % 8 AS BIGINT) AS shard,
         md5('bk:' || CAST(o_orderkey AS VARCHAR)) AS hash
  FROM orders
),
shard_bk AS (
  SELECT shard, k, hash,
         row_number() OVER (PARTITION BY shard ORDER BY hash, k) AS srk
  FROM h QUALIFY srk <= 16
),
merged AS (
  SELECT shard, k, hash,
         row_number() OVER (ORDER BY hash, k) AS rk
  FROM shard_bk QUALIFY rk <= 16
),
direct AS (
  SELECT k, hash, row_number() OVER (ORDER BY hash, k) AS rk
  FROM h QUALIFY rk <= 16
)
SELECT m.rk AS rank, m.hash AS merged_hash, d.hash AS direct_hash,
       m.k AS merged_key, d.k AS direct_key, m.shard AS from_shard,
       CASE WHEN m.hash = d.hash AND m.k = d.k THEN 1 ELSE 0 END AS match
FROM merged m JOIN direct d ON d.rk = m.rk
"""


@register("q_bottomk_merge", _BOTTOMK_SQL)
def q_bottomk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k mergeability certificate (the property that makes KMV /
    bottom-k sketches distributed-sound, Cohen-Kaplan 2007): every shard
    keeps its own 16 smallest md5 hashes, the 8 shard summaries union
    into 128 rows, and the global bottom-16 of THAT must equal the
    bottom-16 computed directly over all keys — true by the subset
    argument (a shard's contribution to the global bottom-16 is always
    inside its own bottom-16), and shipped here rank by rank with the
    per-rank match flag and the origin shard, because this identity is
    what licenses tree-reduce aggregation of distinct-count sketches
    with NO accuracy loss. Ties pinned by key; all comparisons exact
    string/integer.

    Scale plan: the shard pass is one per-shard window (parallel by
    construction); the merge ranks a 128-row frame; the direct pass is
    the audit-only baseline (production never runs it — that is the
    point)."""
    orders = load(spark, sf_dir, "orders")
    h = orders.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 8).cast("long").alias("shard"),
        F.md5(F.concat(F.lit("bk:"), F.col("o_orderkey").cast("string"))).alias(
            "hash"
        ),
    )
    ws = Window.partitionBy("shard").orderBy("hash", "k")
    shard_bk = h.select(
        "shard", "k", "hash", F.row_number().over(ws).alias("srk")
    ).filter(F.col("srk") <= 16)
    wm = Window.orderBy("hash", "k")
    merged = shard_bk.select(
        "shard", "k", "hash", F.row_number().over(wm).alias("rk")
    ).filter(F.col("rk") <= 16)
    direct = h.select(
        F.col("k").alias("dk"), F.col("hash").alias("dhash"),
        F.row_number().over(wm).alias("rk"),
    ).filter(F.col("rk") <= 16)
    return merged.join(direct, "rk").select(
        F.col("rk").alias("rank"),
        F.col("hash").alias("merged_hash"),
        F.col("dhash").alias("direct_hash"),
        F.col("k").alias("merged_key"),
        F.col("dk").alias("direct_key"),
        F.col("shard").alias("from_shard"),
        F.when(
            (F.col("hash") == F.col("dhash")) & (F.col("k") == F.col("dk")), 1
        )
        .otherwise(0)
        .alias("match"),
    )


# --------------------------------------------------------------------------
# Round 4: training/experimentation/storage-cost trio — gradient-clipping
# bias ledger, 2x2 factorial interaction contrast, and the LSM
# leveled-vs-tiered compaction cost model.
# --------------------------------------------------------------------------

_CLIP_SQL = """
WITH v AS (
  SELECT CAST(floor(abs(value) * 1000) AS BIGINT) AS x FROM events
),
cs AS (SELECT CAST(c.c AS BIGINT) AS clip
       FROM (VALUES (1000), (4000), (16000)) AS c(c))
SELECT cs.clip,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(CASE WHEN v.x > cs.clip THEN 1 END) AS BIGINT) AS n_clipped,
       CAST(sum(v.x) AS BIGINT) AS sum_raw,
       CAST(sum(least(v.x, cs.clip)) AS BIGINT) AS sum_clipped,
       CAST(sum(least(v.x, cs.clip)) - sum(v.x) AS BIGINT) AS bias_num,
       round(CAST(sum(least(v.x, cs.clip)) - sum(v.x) AS DOUBLE) / count(*),
             6) AS mean_bias,
       round(CAST(count(CASE WHEN v.x > cs.clip THEN 1 END) AS DOUBLE)
             / count(*), 6) AS clip_frac
FROM v CROSS JOIN cs GROUP BY 1
"""


@register("q_clip_bias", _CLIP_SQL)
def q_clip_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-clipping bias ledger (the DP-SGD pre-flight, Abadi
    2016's clip-then-noise step): clipping per-example magnitudes at C
    trades variance for a DETERMINISTIC downward bias, and this audit
    prices it exactly at three clip norms — bias_num = sum(min(x, C)) -
    sum(x) is an exact nonpositive BIGINT, beside the clipped fraction
    that drives the privacy accountant's sensitivity. The C ladder is
    the tuning curve: too low and the bias swamps the signal, too high
    and the noise scaled to C does; the replica holds the monotone
    identities (bias shrinks toward zero and clip_frac falls as C
    grows) and the exact sums. At scale this is one pass of
    map-side-combined conditional sums — the cheapest audit a training
    pipeline ever runs before spending a privacy budget.

    Scale plan: one scan x a 3-row broadcast clip spine (whitelisted),
    collapsed map-side to 3 rows."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(F.floor(F.abs(F.col("value")) * 1000).cast("long").alias("x"))
    cs = spark.createDataFrame([(1000,), (4000,), (16000,)], "clip long")
    j = v.crossJoin(F.broadcast(cs))
    clipped = F.least("x", "clip")
    return j.groupBy("clip").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("x") > F.col("clip"), 1))
        .cast("long")
        .alias("n_clipped"),
        F.sum("x").cast("long").alias("sum_raw"),
        F.sum(clipped).cast("long").alias("sum_clipped"),
        (F.sum(clipped) - F.sum("x")).cast("long").alias("bias_num"),
        F.round(
            (F.sum(clipped) - F.sum("x")).cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_bias"),
        F.round(
            F.count(F.when(F.col("x") > F.col("clip"), 1)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("clip_frac"),
    )


_FACTORIAL_SQL = """
WITH r AS (
  SELECT CASE WHEN substr(md5('fa:' || CAST(event_id AS VARCHAR)), 1, 1)
                   < '8' THEN 1 ELSE 0 END AS a,
         CASE WHEN substr(md5('fb:' || CAST(event_id AS VARCHAR)), 1, 1)
                   < '8' THEN 1 ELSE 0 END AS b,
         CAST(('0x' || substr(md5('fo:' || CAST(event_id AS VARCHAR)), 1, 2))
              AS BIGINT) AS coin
  FROM events
),
cells AS (
  SELECT a, b,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(CASE WHEN coin < 16 * (8 + 2 * a + 2 * b + 3 * a * b)
                    THEN 1 END) AS BIGINT) AS s
  FROM r GROUP BY 1, 2
),
wide AS (
  SELECT max(CASE WHEN a = 0 AND b = 0 THEN n END) AS n00,
         max(CASE WHEN a = 0 AND b = 0 THEN s END) AS s00,
         max(CASE WHEN a = 1 AND b = 0 THEN n END) AS n10,
         max(CASE WHEN a = 1 AND b = 0 THEN s END) AS s10,
         max(CASE WHEN a = 0 AND b = 1 THEN n END) AS n01,
         max(CASE WHEN a = 0 AND b = 1 THEN s END) AS s01,
         max(CASE WHEN a = 1 AND b = 1 THEN n END) AS n11,
         max(CASE WHEN a = 1 AND b = 1 THEN s END) AS s11
  FROM cells
)
SELECT c.a, c.b, c.n, c.s,
       round(CAST(c.s AS DOUBLE) / c.n, 6) AS rate,
       CAST((w.s11 * w.n10 - w.s10 * w.n11) * w.n01 * w.n00
            - (w.s01 * w.n00 - w.s00 * w.n01) * w.n11 * w.n10 AS BIGINT)
         AS interaction_num,
       CAST(w.n11 * w.n10 * w.n01 * w.n00 AS BIGINT) AS interaction_den,
       round((CAST(w.s11 AS DOUBLE) / w.n11 - CAST(w.s10 AS DOUBLE) / w.n10)
             - (CAST(w.s01 AS DOUBLE) / w.n01
                - CAST(w.s00 AS DOUBLE) / w.n00), 6) AS interaction
FROM cells c CROSS JOIN wide w
"""


@register("q_ab_interaction", _FACTORIAL_SQL)
def q_ab_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 factorial interaction contrast — the question a platform
    running two overlapping experiments must answer before shipping
    both: with md5 factors A and B and a planted SUPER-ADDITIVE outcome
    (success byte < 16*(8 + 2A + 2B + 3AB): each factor adds 2/16, the
    combination adds 3/16 MORE than additivity predicts), the
    interaction contrast (r11 - r10) - (r01 - r00) ships as an exact
    cross-multiplied integer rational over the four cell denominators —
    positive means the features synergize, negative means they fight
    (the cannibalization case that makes naive one-at-a-time rollouts
    overcount wins). Cell counts/successes are exact; rates and the
    double contrast are single divisions. The replica rebuilds the four
    cells, checks the rational against Fractions, and asserts the
    planted synergy shows through (interaction ~ +3/16).

    Scale plan: one scan into a 4-cell map-side rollup, a 1-row wide
    carry (whitelisted); den envelope (n/4)^4 stays in BIGINT through
    ~50M events."""
    ev = load(spark, sf_dir, "events")
    r = ev.select(
        F.when(
            F.substring(
                F.md5(F.concat(F.lit("fa:"), F.col("event_id").cast("string"))),
                1, 1,
            )
            < "8",
            1,
        )
        .otherwise(0)
        .alias("a"),
        F.when(
            F.substring(
                F.md5(F.concat(F.lit("fb:"), F.col("event_id").cast("string"))),
                1, 1,
            )
            < "8",
            1,
        )
        .otherwise(0)
        .alias("b"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fo:"), F.col("event_id").cast("string"))),
                1, 2,
            ),
            16, 10,
        ).cast("long").alias("coin"),
    )
    thr = 16 * (8 + 2 * F.col("a") + 2 * F.col("b") + 3 * F.col("a") * F.col("b"))
    cells = r.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("coin") < thr, 1)).cast("long").alias("s"),
    )
    wide = cells.agg(
        *[
            F.max(
                F.when((F.col("a") == ai) & (F.col("b") == bi), F.col(col))
            ).alias(f"{col}{ai}{bi}")
            for ai in (0, 1)
            for bi in (0, 1)
            for col in ("n", "s")
        ]
    )
    inter_num = (
        (F.col("s11") * F.col("n10") - F.col("s10") * F.col("n11"))
        * F.col("n01")
        * F.col("n00")
        - (F.col("s01") * F.col("n00") - F.col("s00") * F.col("n01"))
        * F.col("n11")
        * F.col("n10")
    )
    return cells.crossJoin(F.broadcast(wide)).select(
        "a", "b", "n", "s",
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("rate"),
        inter_num.cast("long").alias("interaction_num"),
        (F.col("n11") * F.col("n10") * F.col("n01") * F.col("n00"))
        .cast("long")
        .alias("interaction_den"),
        F.round(
            (
                F.col("s11").cast("double") / F.col("n11")
                - F.col("s10").cast("double") / F.col("n10")
            )
            - (
                F.col("s01").cast("double") / F.col("n01")
                - F.col("s00").cast("double") / F.col("n00")
            ),
            6,
        ).alias("interaction"),
    )


_LSM_SQL = """
WITH ing AS (
  SELECT CAST(count(*) * 100 AS BIGINT) AS total_bytes FROM events
),
fans AS (SELECT CAST(f.f AS BIGINT) AS fanout
         FROM (VALUES (4), (8), (16)) AS f(f)),
lv AS (SELECT CAST(t.i + 1 AS BIGINT) AS l FROM unnest(range(12)) AS t(i)),
pw AS (
  SELECT f.fanout, lv.l,
         1048576 * power(f.fanout, lv.l) AS cap
  FROM fans f CROSS JOIN lv
),
need AS (
  SELECT pw.fanout, CAST(min(pw.l) AS BIGINT) AS levels
  FROM pw CROSS JOIN ing
  WHERE pw.cap >= ing.total_bytes
  GROUP BY 1
)
SELECT n.fanout, i.total_bytes, n.levels,
       CAST(n.levels * n.fanout AS BIGINT) AS wa_leveled,
       n.levels AS wa_tiered,
       n.levels AS ra_leveled,
       CAST(n.levels * n.fanout AS BIGINT) AS ra_tiered,
       round(CAST(n.levels * n.fanout AS DOUBLE) / n.levels, 4)
         AS leveled_write_penalty
FROM need n CROSS JOIN ing i
"""


@register("q_lsm_cost_model", _LSM_SQL)
def q_lsm_cost_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSM-tree compaction cost model (O'Neil 1996; the RocksDB tuning
    table): with a 1 MiB memtable and the event stream's byte mass
    (100 B/row proxy), the level count is the SMALLEST L with
    memtable * fanout^L >= total — found by an integer comparison over
    a 12-row level spine, no logarithms — and the classic duality ships
    in-row: leveled compaction pays write amplification ~ L * fanout
    for read amplification ~ L, tiered pays the transpose. The fanout
    ladder {4, 8, 16} is the actual knob: bigger fanout means fewer
    levels but each leveled rewrite costs more — the replica recomputes
    L by direct exponentiation and holds the monotone trade (levels
    fall, leveled WA need not). cap stays a DOUBLE comparison column —
    fanout^12 * 2^20 overflows BIGINT at fanout 16, and both engines
    evaluate the identical power() double, so the crossing filter
    agrees bit-for-bit.

    Scale plan: one count aggregate + constant spines; the model frame
    is 3 rows. Broadcast spines whitelisted."""
    ev = load(spark, sf_dir, "events")
    ing = ev.agg((F.count(F.lit(1)) * 100).cast("long").alias("total_bytes"))
    fans = spark.createDataFrame([(4,), (8,), (16,)], "fanout long")
    lv = spark.range(1, 13).select(F.col("id").cast("long").alias("l"))
    pw = fans.crossJoin(F.broadcast(lv)).select(
        "fanout", "l",
        (1048576 * F.pow(F.col("fanout"), F.col("l"))).alias("cap"),
    )
    need = (
        pw.crossJoin(F.broadcast(ing))
        .filter(F.col("cap") >= F.col("total_bytes"))
        .groupBy("fanout")
        .agg(F.min("l").cast("long").alias("levels"))
    )
    return need.crossJoin(F.broadcast(ing)).select(
        "fanout", "total_bytes", "levels",
        (F.col("levels") * F.col("fanout")).cast("long").alias("wa_leveled"),
        F.col("levels").alias("wa_tiered"),
        F.col("levels").alias("ra_leveled"),
        (F.col("levels") * F.col("fanout")).cast("long").alias("ra_tiered"),
        F.round(
            (F.col("levels") * F.col("fanout")).cast("double") / F.col("levels"),
            4,
        ).alias("leveled_write_penalty"),
    )
