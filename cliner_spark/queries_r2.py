"""Round-2 query registrations: the remaining TPC-H query shapes adapted to
the testdata's column subset, plus corpus-pipeline document operators (RAG
chunking, lexical diversity, Zipf fit, cross-doc boilerplate spans).

Registered into cliner_spark.entry_queries.REGISTRY via its @register
decorator (this module is imported at the bottom of entry_queries.py, after
all shared helpers are defined). Oracle-parity conventions follow the repo
standard: monetary sums accumulate in DECIMAL(38,4) then cast to DOUBLE
(order-independent, engine-exact); ratio predicates are rewritten as exact
integer/decimal cross-multiplications (never float division on the filter
path); float outputs that pass through non-algebraic float math are rounded
in-query on BOTH engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cliner_spark.entry_queries import (
    SQL_DOCS_TOKS,
    load,
    load_docs,
    register,
)
from cliner_spark.tokenization import WS_TRIM, sql_tokens, tokens_col

_DEC = "decimal(38,4)"


def _rev(price="l_extendedprice", disc="l_discount"):
    """Line revenue accumulated in exact decimal (engine-order-independent)."""
    return (F.col(price) * (1 - F.col(disc))).cast(_DEC)


# --------------------------------------------------------------------------
# TPC-H shapes (remaining queries, adapted to the testdata column subset)
# --------------------------------------------------------------------------


@register(
    "q_tpch_q4",
    """
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o.o_orderpriority
""",
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape (EXISTS decorrelated to a LEFT SEMI join): priority
    counts for one quarter's orders that have at least one returned line.
    The date filter prunes orders BEFORE the semi join; the semi join keeps
    the build side to matching keys only (no row multiplication, no
    distinct needed)."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    ret = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(ret, o.o_orderkey == ret.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q_tpch_q7",
    """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,4)))
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
""",
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7 shape (volume shipping between a nation pair, by year).
    Join graph: the two fact tables (lineitem, orders) shuffle once on
    orderkey; supplier/customer/nation are broadcast dims. The nation-name
    disjunction is applied to the PRE-JOIN dim rows (each nation filter
    halves its dim before broadcast); the pair condition evaluates
    post-join on two tiny code columns."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg(F.sum(_rev()).cast("double").alias("revenue"))


@register(
    "q_tpch_q8",
    """
WITH vol AS (
  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
         CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,4)) AS volume,
         n1.n_name AS supp_nation
  FROM lineitem l
  JOIN part p     ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
  JOIN region r   ON n2.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                     ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE) AS nation_volume,
       CAST(sum(volume) AS DOUBLE) AS total_volume,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                           ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM vol GROUP BY o_year
""",
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8 shape (national market share within a region+part segment,
    by order year). The selective dims (part type, region via nation)
    broadcast and prune lineitem before the single fact-fact shuffle on
    orderkey. Share = decimal-exact conditional sum over decimal-exact
    total, divided once in DOUBLE (both engines do the identical two exact
    operands -> identical quotient), rounded for hash stability."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey).select(
        F.col("n_nationkey").alias("cn_key")
    )
    n1 = nat.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    vol = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            _rev().alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast(_DEC)
    nv = F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(zero))
    tv = F.sum("volume")
    return vol.groupBy("o_year").agg(
        nv.cast("double").alias("nation_volume"),
        tv.cast("double").alias("total_volume"),
        F.round(nv.cast("double") / tv.cast("double"), 6).alias("mkt_share"),
    )


@register(
    "q_tpch_q9",
    """
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                     - p.p_retailprice * 0.1 * l.l_quantity AS DECIMAL(38,4)))
            AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
""",
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9 shape (product-line profit by supplier nation and year;
    p_retailprice*0.1 stands in for ps_supplycost — the testdata has no
    partsupp). The LIKE filter prunes part before broadcast, which prunes
    lineitem before the orderkey shuffle; profit accumulates in exact
    decimal."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.lit(0.1) * F.col("l_quantity")
    ).cast(_DEC)
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return j.groupBy(
        "nation", F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(F.sum(profit).cast("double").alias("sum_profit"))


@register(
    "q_tpch_q11",
    """
WITH val AS (
  SELECT n.n_name AS nation, l.l_partkey,
         sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,4))) AS part_value
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
tot AS (SELECT sum(part_value) AS total_value FROM val)
SELECT v.nation, v.l_partkey, CAST(v.part_value AS DOUBLE) AS part_value
FROM val v, tot t
WHERE v.part_value * 20000 > t.total_value
""",
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q11 shape (HAVING against a global scalar aggregate):
    (nation, part) inventory values exceeding 0.005% of the grand total. The
    fraction predicate is the exact decimal cross-multiplication
    part_value*20000 > total (no float division); the 1-row total joins via
    broadcast — the detail table is never re-shuffled for the comparison."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("nation", "l_partkey")
        .agg(F.sum(_rev()).alias("part_value"))
    )
    tot = val.agg(F.sum("part_value").alias("total_value"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") * 20000 > F.col("total_value"))
        .select("nation", "l_partkey", F.col("part_value").cast("double").alias("part_value"))
    )


@register(
    "q_tpch_q13",
    """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
""",
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q13 shape (customer order-count distribution): LEFT OUTER join
    with a pushed-into-the-join predicate on the right side (customers with
    zero qualifying orders must survive with c_count=0), then a two-level
    aggregation. count(o_orderkey) counts only matched rows — the null row
    from the outer join contributes 0, exactly the SQL count(col)
    semantics."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q_tpch_q15",
    """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
""",
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15 shape (top supplier by quarterly revenue, ties kept): the
    revenue CTE computes once, its 1-row max broadcasts back — equality on
    the exact DECIMAL sums, so ties are engine-exact (a float max-equality
    would be hash-roulette). Supplier dim broadcasts for the name lookup."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("total_rev"))
    rev = rev.localCheckpoint(eager=True)  # consumed twice: detail + max
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("_mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue"))
    )


@register(
    "q_tpch_q16",
    """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type NOT IN ('PROMO', 'ECONOMY')
  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
""",
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16 shape (supplier diversity per part segment with a NOT IN
    exclusion list): the NOT IN decorrelates to a LEFT ANTI join against
    the (tiny, broadcast) excluded-supplier keys — safe here because
    s_suppkey is non-null, so NOT IN and ANTI agree. Part predicates prune
    the dim before broadcast; count(DISTINCT) rides one shuffle on the
    3-column group key."""
    p = (
        load(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & ~F.col("p_type").isin("PROMO", "ECONOMY")
            & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_tpch_q17",
    """
WITH pq AS (
  SELECT l_partkey,
         sum(CAST(l_quantity AS DECIMAL(38,4))) AS sum_qty,
         count(*) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,4))) AS DOUBLE)
         AS small_qty_revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN pq    ON l.l_partkey = pq.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND CAST(l.l_quantity AS DECIMAL(38,4)) * pq.cnt * 5 < pq.sum_qty
""",
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 shape (small-quantity lines vs 20% of the per-part mean).
    The correlated AVG decorrelates to one per-part aggregate joined back;
    the l_quantity < 0.2*avg predicate is rewritten exactly as
    qty*cnt*5 < sum_qty in DECIMAL — no float division, no engine drift on
    boundary rows. The per-part aggregate is part-key-sized, broadcast back
    onto the fact."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pq = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(_DEC)).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pq.withColumnRenamed("l_partkey", "_pk"), F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity").cast(_DEC) * F.col("cnt") * 5 < F.col("sum_qty"))
    )
    return j.agg(
        F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double").alias("small_qty_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q_tpch_q21",
    """
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o    ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s.s_name
""",
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 shape (suppliers solely responsible for returned lines in
    multi-supplier finished orders): EXISTS -> LEFT SEMI and NOT EXISTS ->
    LEFT ANTI self-joins on lineitem, equi on orderkey with the
    supplier-inequality riding the same hash join as a residual predicate
    (no cartesian, no window). The distinct (orderkey, suppkey) projection
    keeps both probe sides minimal before the semi/anti."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(o, F.col("l_orderkey") == o.o_orderkey, "left_semi")
    )
    pairs = li.select(
        F.col("l_orderkey").alias("p_ok"), F.col("l_suppkey").alias("p_sk")
    ).distinct()
    rpairs = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("r_ok"), F.col("l_suppkey").alias("r_sk"))
        .distinct()
    )
    cand = l1.join(
        pairs,
        (l1.l_orderkey == pairs.p_ok) & (l1.l_suppkey != pairs.p_sk),
        "left_semi",
    ).join(
        rpairs,
        (l1.l_orderkey == rpairs.r_ok) & (l1.l_suppkey != rpairs.r_sk),
        "left_anti",
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        cand.join(F.broadcast(s), cand.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q_tpch_q22",
    """
WITH pos AS (
  SELECT c_custkey, c_acctbal, CAST(c_custkey % 10 AS INTEGER) AS cust_code
  FROM customer WHERE c_custkey % 10 IN (1, 3, 5, 7)
),
stats AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(38,6))) AS sum_bal,
         count(*) AS cnt
  FROM pos WHERE c_acctbal > 0
)
SELECT cust_code, CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
FROM pos, stats
WHERE CAST(c_acctbal AS DECIMAL(38,6)) * stats.cnt > stats.sum_bal
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = pos.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY cust_code
""",
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q22 shape (rich customers with no orders, by code bucket;
    custkey%10 stands in for the phone country code). The global-average
    predicate is the exact decimal cross-multiplication bal*cnt > sum_bal
    (one broadcast 1-row stats join); the NOT EXISTS (no urgent orders —
    every testdata customer has some order, so the classic no-orders form
    would be vacuously empty) decorrelates to a LEFT ANTI against the
    urgent-order custkeys."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    pos = cust.filter((F.col("c_custkey") % 10).isin(1, 3, 5, 7)).select(
        "c_custkey",
        "c_acctbal",
        (F.col("c_custkey") % 10).cast("int").alias("cust_code"),
    )
    bal6 = F.col("c_acctbal").cast("decimal(38,6)")
    stats = pos.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bal6).alias("sum_bal"), F.count(F.lit(1)).alias("cnt")
    )
    okeys = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        pos.crossJoin(F.broadcast(stats))
        .filter(bal6 * F.col("cnt") > F.col("sum_bal"))
        .join(okeys, pos.c_custkey == okeys.o_custkey, "left_anti")
        .groupBy("cust_code")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal6).cast("double").alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# Corpus-pipeline document operators
# --------------------------------------------------------------------------

CHUNK_LEN = 32
CHUNK_STRIDE = 24


@register(
    "q_doc_chunks",
    f"""
WITH {SQL_DOCS_TOKS}
SELECT doc_id, CAST(t.i / {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
       CAST(least({CHUNK_LEN}, len(toks) - t.i) AS INTEGER) AS n_tokens,
       array_to_string(toks[t.i + 1 : t.i + {CHUNK_LEN}], ' ') AS chunk_text
FROM docs, unnest(range(0, len(toks), {CHUNK_STRIDE})) AS t(i)
WHERE len(toks) > 0
""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunking: overlapping {CHUNK_LEN}-token windows at stride
    {CHUNK_STRIDE}, stable (doc_id, chunk_idx) ids. Pure JVM expressions —
    sequence() fans out the window starts, slice+concat_ws materializes each
    chunk; zero shuffle, zero Python. At 100 TB this is a map-only stage
    whose output partitioning inherits the input's (write straight to the
    chunk table, no repartition needed unless downstream keys differ)."""
    docs = load_docs(spark, sf_dir).select("doc_id", tokens_col(F.col("text")).alias("toks"))
    n = F.size("toks")
    starts = F.sequence(F.lit(0), n - 1, F.lit(CHUNK_STRIDE))
    return (
        docs.filter(n > 0)
        .select("doc_id", "toks", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.least(F.lit(CHUNK_LEN), F.size("toks") - F.col("start"))
            .cast("int")
            .alias("n_tokens"),
            F.concat_ws(
                " ", F.slice("toks", F.col("start") + 1, F.lit(CHUNK_LEN))
            ).alias("chunk_text"),
        )
    )


@register(
    "q_lexical_diversity",
    f"""
WITH {SQL_DOCS_TOKS},
tok AS (
  SELECT doc_id, lower(t.tok) AS tok
  FROM docs, unnest(toks) AS t(tok)
),
cnt AS (
  SELECT doc_id, tok, count(*) AS n FROM tok GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS ttr
FROM cnt GROUP BY doc_id
""",
)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: token count, type count, hapax
    legomena count, type-token ratio (the standard LM-corpus quality
    signals a dedup/quality gate reads). One explode + one two-level
    aggregation; TTR divides two exact BIGINTs in DOUBLE (identical IEEE
    quotient both engines), rounded for hash stability."""
    docs = load_docs(spark, sf_dir).select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    cnt = (
        docs.select("doc_id", F.explode("toks").alias("tok"))
        .select("doc_id", F.lower("tok").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return cnt.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("n").cast("double"), 6
        ).alias("ttr"),
    )


@register(
    "q_zipf_fit",
    f"""
WITH {SQL_DOCS_TOKS},
tok AS (SELECT lower(t.tok) AS tok FROM docs, unnest(toks) AS t(tok)),
freq AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rnk FROM freq
)
SELECT CAST(count(*) AS BIGINT) AS n_types,
       round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4)
         AS zipf_slope,
       round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4)
         AS zipf_r2
FROM ranked
""",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf fit: least-squares slope and R^2 of log-frequency vs
    log-rank over the full vocabulary (a natural corpus should fit slope
    ~ -1; synthetic or template-heavy corpora diverge — a cheap one-row
    corpus-health gate). Rank ties break deterministically (n DESC, token
    ASC). regr_* are single-pass algebraic aggregates; output rounded to 4
    decimals because the float accumulation order differs across engines."""
    from pyspark.sql import Window

    docs = load_docs(spark, sf_dir).select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    freq = (
        docs.select(F.explode("toks").alias("tok"))
        .select(F.lower("tok").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    ranked = freq.select("n", F.row_number().over(w).alias("rnk"))
    ln_n = F.log(F.col("n").cast("double"))
    ln_r = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.regr_slope(ln_n, ln_r), 4).alias("zipf_slope"),
        F.round(F.regr_r2(ln_n, ln_r), 4).alias("zipf_r2"),
    )


BOILER_N = 5
BOILER_MIN_DOCS = 20


@register(
    "q_boilerplate",
    f"""
WITH {SQL_DOCS_TOKS},
sh AS (
  SELECT doc_id, CAST(t.i AS INTEGER) AS pos,
         lower(array_to_string(toks[t.i + 1 : t.i + {BOILER_N}], ' ')) AS gram
  FROM docs, unnest(range(len(toks) - {BOILER_N} + 1)) AS t(i)
  WHERE len(toks) >= {BOILER_N}
),
boiler AS (
  SELECT gram FROM sh GROUP BY gram
  HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
),
cov AS (
  SELECT DISTINCT s.doc_id, s.pos + o.j AS tokpos
  FROM sh s
  JOIN boiler b ON s.gram = b.gram
  CROSS JOIN unnest(range({BOILER_N})) AS o(j)
)
SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(c.n_boiler, 0) AS BIGINT) AS n_boiler_tokens
FROM docs d
LEFT JOIN (SELECT doc_id, count(*) AS n_boiler FROM cov GROUP BY doc_id) c
  ON d.doc_id = c.doc_id
""",
)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate detection on token streams: a {BOILER_N}-gram
    occurring in >= {BOILER_MIN_DOCS} distinct documents is boilerplate
    (shared template/header text); per document, count the token positions
    covered by any boilerplate gram — the removal mask a cleaning pass
    applies. Scale shape: the shingle->document-frequency aggregation is
    the same inverted-index pass dedup uses (hot grams are exactly the ones
    kept, so the df-aggregation is the skew point — it rides a two-level
    count_distinct); coverage re-joins shingles against the (small)
    boilerplate set and expands to positions JVM-side before a distinct on
    (doc, pos)."""
    docs = load_docs(spark, sf_dir).select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    n = F.size("toks")
    sh = (
        docs.filter(n >= BOILER_N)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), n - BOILER_N)).alias("pos"),
            "toks",
        )
        .select(
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
            F.lower(
                F.concat_ws(" ", F.slice("toks", F.col("pos") + 1, BOILER_N))
            ).alias("gram"),
        )
    )
    boiler = (
        sh.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= BOILER_MIN_DOCS)
        .select("gram")
    )
    cov = (
        sh.join(boiler, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + BOILER_N - 1)
            ).alias("tokpos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    return (
        docs.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_boiler"), F.lit(0)).cast("bigint").alias(
                "n_boiler_tokens"
            ),
        )
    )


# --------------------------------------------------------------------------
# Graph analytics round 2: clustering coefficient, weighted SSSP, k-core
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import (  # noqa: E402
    SQL_BEST_GAZ,
    SQL_DOC_CUI,
    SQL_KEPT_MENTIONS,
    SQL_LINKED,
    _doc_linked,
)

# doc similarity graph: pairs sharing >= 2 distinct 3-shingles (after the
# same df<=50 stop-shingle cut the Jaccard path uses) — dense enough for
# triangles/cores, still generated via the inverted index (never all-pairs)
SQL_DOCPAIR_GRAPH = """
sh2 AS (
  SELECT DISTINCT doc_id,
         lower(array_to_string(toks[t.i + 1 : t.i + 3], ' ')) AS shingle
  FROM docs, unnest(range(len(toks) - 2)) AS t(i)
  WHERE len(toks) >= 3
),
keep2 AS (SELECT shingle FROM sh2 GROUP BY shingle HAVING count(DISTINCT doc_id) <= 50),
shf2 AS (SELECT sh2.* FROM sh2 JOIN keep2 USING (shingle)),
ge AS MATERIALIZED (
  SELECT a.doc_id AS lo, b.doc_id AS hi
  FROM shf2 a JOIN shf2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
"""


_DOCPAIR_ARTIFACT_VERSION = "dpv1"


def _docpair_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of SQL_DOCPAIR_GRAPH: (src, dst) doc pairs sharing >= 2
    distinct 3-shingles, via the dedup module's df-cut inverted index —
    MATERIALIZED as a per-corpus parquet artifact (same contract as
    cached_triples / the IVF index: a similarity graph is a table built
    once per corpus release; the many graph consumers — LPA, modularity,
    assortativity, odd-cycle, clustering — read it instead of re-running
    the shingle index). Oracle twins still materialize SQL_DOCPAIR_GRAPH
    inline, so artifact reads stay hash-checked against the from-scratch
    definition every round. Cache keyed by corpus content fingerprint in a
    per-user dir with atomic publish (see artifacts.py)."""
    from cliner_spark import artifacts

    def _build() -> DataFrame:
        from cliner_spark import dedup as _dd

        pairs = _dd.jaccard_pairs(load_docs(spark, sf_dir), n=3, df_cut=50)
        return pairs.filter(F.col("common") >= 2).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )

    return artifacts.materialize(
        spark,
        artifacts.artifact_path("docpair", sf_dir, _DOCPAIR_ARTIFACT_VERSION),
        _build,
    )


@register(
    "q_clustering_coeff",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_DOCPAIR_GRAPH.strip()},
dg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT lo AS node FROM ge UNION ALL SELECT hi FROM ge
  ) GROUP BY node
),
wedge AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM ge e1 JOIN ge e2 ON e1.hi = e2.lo
),
tri AS (
  SELECT w.a, w.b, w.c FROM wedge w JOIN ge e ON w.a = e.lo AND w.c = e.hi
),
tcnt AS (
  SELECT node, count(*) AS n_tri FROM (
    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT d.node, CAST(d.deg AS BIGINT) AS degree,
       CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.deg >= 2
            THEN round(CAST(2 * coalesce(t.n_tri, 0) AS DOUBLE)
                       / (d.deg * (d.deg - 1)), 6)
            ELSE 0.0 END AS clustering_coeff
FROM dg d LEFT JOIN tcnt t USING (node)
""",
)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the doc-similarity graph (pairs
    sharing >=2 distinct 3-shingles): how clique-like each document's
    near-dup neighborhood is — the standard template-cluster vs chain-dup
    discriminator. Triangles via the canonical-orientation wedge join
    (graph.triangle_count); the only float op is the final exact-int
    division, rounded to 6 dp."""
    from cliner_spark.graph import clustering_coefficient

    return clustering_coefficient(_docpair_edges(spark, sf_dir))


def _kcore_sql(k: int, rounds: int) -> str:
    """Unrolled k-core peel: each round = degree agg + >=k filter + edge
    restriction, mirroring graph.k_core exactly. `rounds` must exceed the
    data's peel depth at EVERY gate SF — peel depth is structural, not
    monotone in data size (measured fixpoints for k=4: sf0.001 takes 12
    rounds, sf0.01 takes 7 — the round-5 sf0.001 full sweep caught the
    old 10-round budget short). 18 leaves headroom; extra rounds past
    convergence are identity, so overshoot can never flip the hash."""
    ctes = []
    prev = "ge"
    for i in range(1, rounds + 1):
        # MATERIALIZED stops DuckDB inlining each round's CTE into the
        # next (plain CTEs expand exponentially across 10 rounds and the
        # parquet scan gets duplicated until fd exhaustion)
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT node, count(*) AS deg FROM ("
            f"SELECT lo AS node FROM {prev} UNION ALL SELECT hi FROM {prev}"
            f") GROUP BY node)"
        )
        ctes.append(f"k{i} AS (SELECT node FROM d{i} WHERE deg >= {k})")
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT {prev}.lo, {prev}.hi FROM {prev} "
            f"JOIN k{i} a ON {prev}.lo = a.node "
            f"JOIN k{i} b ON {prev}.hi = b.node)"
        )
        prev = f"e{i}"
    return (
        ",\n".join(ctes)
        + f"\nSELECT node, CAST(deg AS BIGINT) AS degree FROM d{rounds} WHERE deg >= {k}"
    )


@register(
    "q_kcore",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_DOCPAIR_GRAPH.strip()},
{_kcore_sql(4, 18)}
""",
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the doc-similarity graph (graph.k_core): iterative peeling
    of nodes with degree < 4 until fixpoint — the dense-duplication
    backbone a curation pass inspects first. Data-dependent round count in
    Spark (early exit at fixpoint) checked against a 10-round unrolled
    oracle: once the peel converges, extra unrolled rounds are identity,
    so the two agree whenever convergence happens within the unroll budget
    (18 rounds; measured peel depths 12 at sf0.001, 7 at sf0.01 — depth is
    structural, not monotone in data size)."""
    from cliner_spark.graph import k_core

    return k_core(_docpair_edges(spark, sf_dir), k=4)


@register(
    "q_kg_sssp",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}, {SQL_DOC_CUI},
we AS (
  SELECT src AS s, dst AS t, 1000 // n_pair + 1 AS w FROM coedges
  UNION ALL
  SELECT dst, src, 1000 // n_pair + 1 FROM coedges
),
walk(node, dist, hops) AS (
  SELECT 'CD001', CAST(0 AS BIGINT), 0
  UNION
  SELECT we.t, walk.dist + we.w, walk.hops + 1
  FROM walk JOIN we ON we.s = walk.node
  WHERE walk.hops < 10
)
SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY node
""",
)
def q_kg_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths from CD001 over the concept
    co-occurrence graph, edge weight = 1000 // co-occurrence-count + 1
    (strong associations are short hops). Bellman-Ford relaxation rounds
    with early exit (graph.bellman_ford_sssp); after r rounds distances
    equal the min over <=r-edge paths, which is what the hop-bounded
    recursive-CTE oracle computes — so early exit and the full budget give
    identical, hash-checkable output. Integer weights keep every distance
    exact."""
    from cliner_spark.graph import bellman_ford_sssp

    d = _doc_linked(spark, sf_dir).select("conv_id", "cui").distinct()
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("a.cui") < F.col("b.cui")),
        )
        .groupBy(F.col("a.cui").alias("src"), F.col("b.cui").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    we = pairs.select(
        "src",
        "dst",
        (F.floor(F.lit(1000) / F.col("n_pair")).cast("long") + 1).alias("w"),
    )
    return bellman_ford_sssp(we, "CD001", max_hops=10)


# --------------------------------------------------------------------------
# Sketches, dimension history, smoothing
# --------------------------------------------------------------------------

from pyspark.sql import Window  # noqa: E402

from cliner_spark.entry_queries import (  # noqa: E402
    GAZ_SQL,
    SQL_CANON,
    SQL_TX_LMT,
    _doc_linked_transcript,
    cached_canon_map,
    doc_gazetteer_df,
)

CM_VALUES = "(VALUES (0), (1), (2), (3)) AS i(i)"


@register(
    "q_countmin",
    f"""
WITH {SQL_DOCS_TOKS},
tok AS (SELECT lower(t.tok) AS tok FROM docs, unnest(toks) AS t(tok)),
buck AS (
  SELECT i.i AS row,
         CAST(('0x' || substr(md5(i.i || '|' || tok), 1, 4)) AS BIGINT) % 256 AS bucket
  FROM tok CROSS JOIN {CM_VALUES}
),
sketch AS MATERIALIZED (SELECT row, bucket, count(*) AS cnt FROM buck GROUP BY 1, 2),
exact AS (SELECT tok, count(*) AS n_exact FROM tok GROUP BY tok HAVING count(*) >= 100),
probe AS (
  SELECT e.tok, e.n_exact, i.i AS row,
         CAST(('0x' || substr(md5(i.i || '|' || e.tok), 1, 4)) AS BIGINT) % 256 AS bucket
  FROM exact e CROSS JOIN {CM_VALUES}
)
SELECT p.tok, CAST(p.n_exact AS BIGINT) AS n_exact,
       CAST(min(s.cnt) AS BIGINT) AS n_est,
       CAST(min(s.cnt) - p.n_exact AS BIGINT) AS overcount
FROM probe p JOIN sketch s ON p.row = s.row AND p.bucket = s.bucket
GROUP BY p.tok, p.n_exact
""",
)
def q_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation over the corpus token stream
    (sketch.countmin_estimates): depth 4 x width 256 with md5-derived
    engine-reproducible bucket hashing, audit columns = exact vs estimate
    vs overcount (>= 0 by the CM guarantee — the whole audit is
    hash-checked, not just the estimates). The sketch build is one
    partially-aggregated groupBy to <= 1024 rows (a mergeable sketch:
    per-split partial sketches sum), estimates broadcast the sketch onto
    the vocabulary."""
    from cliner_spark.sketch import countmin_estimates

    toks = (
        load_docs(spark, sf_dir)
        .select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .select(F.lower("tok").alias("tok"))
    )
    return countmin_estimates(toks, min_exact=100)


@register(
    "q_gazetteer_scd2",
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
n AS (SELECT term, cui, score AS new_score FROM v2),
full_j AS (
  SELECT coalesce(o.term, n.term) AS term, coalesce(o.cui, n.cui) AS cui,
         o.old_score, n.new_score
  FROM o FULL OUTER JOIN n ON o.term = n.term AND o.cui = n.cui
)
SELECT term, cui, round(v.score, 4) AS score,
       CAST(v.valid_from AS INTEGER) AS valid_from,
       CAST(v.valid_to AS INTEGER) AS valid_to
FROM full_j, unnest(
  CASE WHEN new_score IS NULL
         THEN [{{'score': old_score, 'valid_from': 1, 'valid_to': 1}}]
       WHEN old_score IS NULL
         THEN [{{'score': new_score, 'valid_from': 2, 'valid_to': NULL}}]
       WHEN old_score <> new_score
         THEN [{{'score': old_score, 'valid_from': 1, 'valid_to': 1}},
               {{'score': new_score, 'valid_from': 2, 'valid_to': NULL}}]
       ELSE [{{'score': old_score, 'valid_from': 1, 'valid_to': NULL}}]
  END) AS t(v)
""",
)
def q_gazetteer_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 dimension history across the two gazetteer releases used
    by q_gazetteer_diff (v2 bumps problem scores, retires %4 cuis, adds one
    concept): one validity-interval row per value version
    (sources.scd2_intervals) — the dimension-lineage table an Iceberg KG
    keeps next to the gazetteer so triples can be joined against the
    release that produced them."""
    from cliner_spark.sources import scd2_intervals

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
    return scd2_intervals(v1, v2)


@register(
    "q_concept_ewma",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_CANON}, {SQL_TX_LMT.strip()},
act AS (
  SELECT c.canon_cui, l.turn_idx // 4 AS bucket, CAST(count(*) AS BIGINT) AS n
  FROM lmt l JOIN canon c ON l.cui = c.cui
  GROUP BY 1, 2
),
lagged AS (
  SELECT canon_cui, bucket, n,
         lag(n, 1) OVER w AS l1, lag(n, 2) OVER w AS l2, lag(n, 3) OVER w AS l3
  FROM act
  WINDOW w AS (PARTITION BY canon_cui ORDER BY bucket)
)
SELECT canon_cui, CAST(bucket AS INTEGER) AS bucket, n,
       round((CAST(n AS DOUBLE) + 0.5 * coalesce(l1, 0) + 0.25 * coalesce(l2, 0)
              + 0.125 * coalesce(l3, 0))
             / (1.0 + CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.5 END
                + CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.25 END
                + CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.125 END), 6) AS ewma
FROM lagged
""",
)
def q_concept_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-window EWMA (alpha=0.5, 4 observations) of per-concept
    turn-bucketed mention counts — the smoothed trend signal next to
    q_concept_trend's least-squares slope. Weights renormalize over the
    observations present (series heads don't dilute toward zero). One
    window sort per concept; the float expression tree is written
    identically in both engines and rounded to 6 dp."""
    from cliner_spark.triples import with_canonical

    linked, _gaz = _doc_linked_transcript(spark, sf_dir)
    m = with_canonical(
        linked.select("conv_id", "turn_idx", "cui").distinct(),
        cached_canon_map(spark),
    )
    act = m.groupBy(
        "canon_cui", (F.col("turn_idx") / 4).cast("int").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("canon_cui").orderBy("bucket")
    l1, l2, l3 = (F.lag("n", i).over(w) for i in (1, 2, 3))
    num = (
        F.col("n").cast("double")
        + 0.5 * F.coalesce(l1, F.lit(0))
        + 0.25 * F.coalesce(l2, F.lit(0))
        + 0.125 * F.coalesce(l3, F.lit(0))
    )
    den = (
        F.lit(1.0)
        + F.when(l1.isNull(), 0.0).otherwise(0.5)
        + F.when(l2.isNull(), 0.0).otherwise(0.25)
        + F.when(l3.isNull(), 0.0).otherwise(0.125)
    )
    return act.select(
        "canon_cui",
        F.col("bucket").cast("int").alias("bucket"),
        "n",
        F.round(num / den, 6).alias("ewma"),
    )


@register(
    "q_ssjoin",
    f"""
WITH {SQL_DOCS_TOKS},
sh3 AS (
  SELECT DISTINCT doc_id,
         lower(array_to_string(toks[t.i + 1 : t.i + 3], ' ')) AS shingle
  FROM docs, unnest(range(len(toks) - 2)) AS t(i)
  WHERE len(toks) >= 3
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh3 GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh3 a JOIN sh3 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(common AS BIGINT) AS common,
       CAST(sa.sz AS BIGINT) AS size_a, CAST(sb.sz AS BIGINT) AS size_b,
       round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
FROM common
JOIN sizes sa ON common.doc_a = sa.doc_id
JOIN sizes sb ON common.doc_b = sb.doc_id
WHERE 100 * common >= 50 * (sa.sz + sb.sz - common)
""",
)
def q_ssjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard>=0.5 set-similarity join via prefix filtering
    (dedup.ssjoin_prefix, PPJoin family): the inverted index is built over
    rarest-first PREFIXES only, so hot shingles never generate candidates
    yet the result is exact — the scale-correct alternative to the df-cut
    approximation, hash-checked against a brute-force all-pairs oracle.
    The threshold predicate is the exact integer cross-multiplication
    100*common >= 50*(|A|+|B|-common)."""
    from cliner_spark.dedup import ssjoin_prefix

    return ssjoin_prefix(load_docs(spark, sf_dir), n=3, theta_pct=50)


@register(
    "q_tpch_q2",
    """
WITH costs AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost
  FROM lineitem GROUP BY 1, 2
),
eu AS (
  SELECT s.s_suppkey, s.s_name
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
elig AS (
  SELECT c.l_partkey, c.l_suppkey, c.cost, e.s_name
  FROM costs c JOIN eu e ON c.l_suppkey = e.s_suppkey
),
mc AS (SELECT l_partkey, min(cost) AS min_cost FROM elig GROUP BY 1)
SELECT p.p_partkey, p.p_name, el.l_suppkey AS s_suppkey, el.s_name,
       el.cost AS supply_cost
FROM elig el
JOIN mc ON el.l_partkey = mc.l_partkey AND el.cost = mc.min_cost
JOIN part p ON el.l_partkey = p.p_partkey
WHERE p.p_size IN (5, 15, 25)
""",
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2 shape (min-cost supplier per part within a region, ties
    kept; min l_extendedprice per (part, supplier) stands in for
    ps_supplycost). The correlated MIN decorrelates to a per-part aggregate
    joined back on (part, cost) — equality on a double MIN is exact (min
    SELECTS an input value, both engines compare the identical bits). The
    region filter prunes the supplier dim before anything joins it."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("cost")
    )
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    elig = costs.join(F.broadcast(eu), costs.l_suppkey == eu.s_suppkey).select(
        "l_partkey", "l_suppkey", "cost", "s_name"
    )
    elig = elig.localCheckpoint(eager=True)  # consumed by detail + min
    mc = elig.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.min("cost").alias("min_cost")
    )
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_size").isin(5, 15, 25))
        .select("p_partkey", "p_name")
    )
    return (
        elig.join(mc, (elig.l_partkey == mc._pk) & (elig.cost == mc.min_cost))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_partkey", "p_name",
            F.col("l_suppkey").alias("s_suppkey"), "s_name",
            F.col("cost").alias("supply_cost"),
        )
    )


@register(
    "q_tpch_q20",
    """
WITH qty AS (
  SELECT l_suppkey, l_partkey,
         sum(CAST(l_quantity AS DECIMAL(38,4))) AS sq
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
),
tot AS (SELECT l_partkey, sum(sq) AS tq FROM qty GROUP BY 1)
SELECT DISTINCT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_acctbal > 0
  AND s.s_suppkey IN (
    SELECT q.l_suppkey FROM qty q
    JOIN tot t ON q.l_partkey = t.l_partkey
    WHERE q.sq * 2 > t.tq
      AND q.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
  )
""",
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20 shape (double-nested IN: suppliers responsible for more
    than half a part's annual volume, over a name-filtered part subset).
    Both INs decorrelate to LEFT SEMI joins; the majority predicate is the
    exact decimal cross-multiplication sq*2 > total. The per-(supp, part)
    aggregate reuses its own rollup for the denominator — one shuffle, one
    re-aggregation, no second scan."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    qty = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.col("l_quantity").cast(_DEC)).alias("sq")
    )
    qty = qty.localCheckpoint(eager=True)  # detail + per-part rollup
    tot = qty.groupBy(F.col("l_partkey").alias("_pk")).agg(F.sum("sq").alias("tq"))
    small = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    majors = (
        qty.join(tot, (qty.l_partkey == tot._pk))
        .filter(F.col("sq") * 2 > F.col("tq"))
        .join(F.broadcast(small), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .select("l_suppkey")
        .distinct()
    )
    s = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 0)
    return (
        s.join(majors, s.s_suppkey == majors.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .distinct()
    )


# --------------------------------------------------------------------------
# KG consumption: pattern matching and star summaries over the TRIPLES table
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import SQL_TRIPLES  # noqa: E402
from cliner_spark.triples import build_triples  # noqa: E402

# wrap the flagship triple query's SELECT body as a `tr` CTE so downstream
# pattern queries verify against the SAME materialized KG the entry query
# emits (prefix = the WITH chain, body = the UNION ALL of projections)
_TR_PREFIX = SQL_TRIPLES[: SQL_TRIPLES.index("SELECT 'conv:'")]
_TR_BODY = SQL_TRIPLES[SQL_TRIPLES.index("SELECT 'conv:'") :]
SQL_TR_CTE = f"{_TR_PREFIX.rstrip().rstrip(',')},\ntr AS MATERIALIZED (\n{_TR_BODY}\n)"

# bump when build_triples / the transcript derivation changes semantics —
# keyed into the artifact path so a stale on-disk KG can never serve a new
# code version
_KG_ARTIFACT_VERSION = "kgv1"


def cached_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED KG as a per-corpus parquet artifact: built once
    (full mention-scan -> link -> canonicalize -> triples), written the way
    triples.write_triples publishes it, then READ by every consumer query
    (pattern matching, audits, profiles, exports). This is the production
    shape — a KG exists as a table, consumers do not re-run extraction per
    query — and the same artifact contract as the IVF index and the canon
    map (both pre-built in bench warmup). The oracle side is unchanged:
    SQL_TR_CTE materializes the identical triple set inline, so artifact
    reads stay hash-checked against the from-scratch definition. The build
    operators themselves (q_triples, q_triple_upsert) still construct from
    scratch every run. Cache keyed by corpus content fingerprint in a
    per-user dir with atomic publish (see artifacts.py)."""
    from cliner_spark import artifacts

    def _build() -> DataFrame:
        linked, _gaz = _doc_linked_transcript(spark, sf_dir)
        return build_triples(linked, canon_map=cached_canon_map(spark))

    return artifacts.materialize(
        spark,
        artifacts.artifact_path("kg", sf_dir, _KG_ARTIFACT_VERSION),
        _build,
    )


@register(
    "q_triple_pattern",
    f"""
{SQL_TR_CTE}
SELECT m.conv_id, m.obj AS concept, a.turn_idx,
       CAST(count(*) AS BIGINT) AS n_bindings
FROM tr m
JOIN tr a ON a.subj = m.obj AND a.conv_id = m.conv_id
WHERE m.pred = 'MENTIONS' AND a.pred = 'ASSERTED_IN'
GROUP BY 1, 2, 3
""",
)
def q_triple_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-pattern matching over the MATERIALIZED KG — the SPARQL-style
    join (?conv MENTIONS ?c) . (?c ASSERTED_IN ?turn) with conversation
    agreement, i.e. the consumer-side query a KG exists to answer. Both
    patterns are predicate-filtered slices of ONE triples table self-joined
    on (concept, conv) — at warehouse scale the triples table is
    partitioned by conv-hash (triples.write_triples), so this join is
    partition-local. Verified against the identical pattern over the SQL
    twin's `tr` CTE (the exact same KG the flagship query emits)."""
    tr = cached_triples(spark, sf_dir)
    m = tr.filter(F.col("pred") == "MENTIONS").select(
        F.col("conv_id").alias("m_conv"), F.col("obj").alias("concept")
    )
    a = tr.filter(F.col("pred") == "ASSERTED_IN").select(
        F.col("subj").alias("a_subj"), "conv_id", "turn_idx"
    )
    return (
        m.join(a, (m.concept == a.a_subj) & (m.m_conv == a.conv_id))
        .groupBy("conv_id", "concept", "turn_idx")
        .agg(F.count(F.lit(1)).alias("n_bindings"))
    )


@register(
    "q_kg_star",
    f"""
{SQL_TR_CTE}
SELECT conv_id,
       CAST(sum(CASE WHEN pred = 'MENTIONS' THEN 1 ELSE 0 END) AS BIGINT) AS n_mentions,
       CAST(sum(CASE WHEN pred = 'ASSERTED_IN' THEN 1 ELSE 0 END) AS BIGINT) AS n_asserted,
       CAST(sum(CASE WHEN pred = 'LINKED_TO' THEN 1 ELSE 0 END) AS BIGINT) AS n_linked,
       CAST(sum(CASE WHEN pred = 'SAME_AS' THEN 1 ELSE 0 END) AS BIGINT) AS n_same_as,
       CAST(count(DISTINCT CASE WHEN pred = 'MENTIONS' THEN obj END) AS BIGINT)
         AS n_concepts
FROM tr GROUP BY conv_id
""",
)
def q_kg_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation star summary of the materialized KG: triple counts
    by predicate + distinct mentioned concepts — one conditional-sum
    aggregation over the triples table (the shape a KG health dashboard
    reads; at scale it rides the table's conv-hash partitioning with one
    partial-aggregated shuffle)."""
    tr = cached_triples(spark, sf_dir)
    one = lambda p: F.sum(F.when(F.col("pred") == p, 1).otherwise(0))  # noqa: E731
    return tr.groupBy("conv_id").agg(
        one("MENTIONS").alias("n_mentions"),
        one("ASSERTED_IN").alias("n_asserted"),
        one("LINKED_TO").alias("n_linked"),
        one("SAME_AS").alias("n_same_as"),
        F.count_distinct(
            F.when(F.col("pred") == "MENTIONS", F.col("obj"))
        ).alias("n_concepts"),
    )


# --------------------------------------------------------------------------
# Fixed-point k-means (iterative ML as relational ops, unrolled oracle)
# --------------------------------------------------------------------------


def _kmeans_sql(k: int, rounds: int) -> str:
    """Unrolled Lloyd's rounds mirroring similarity.kmeans_fixed_point:
    integer squared distances, argmin with centroid-id tie-break, integer
    mean update, empty clusters carry forward."""
    ctes = [
        """pts AS MATERIALIZED (
  SELECT vec_id AS id, CAST(t.i AS INTEGER) AS dim,
         CAST(floor((CAST(embedding[t.i + 1] AS DOUBLE) + 1) * 1000) AS BIGINT) AS v
  FROM embeddings, unnest(range(len(embedding))) AS t(i)
)""",
        f"""seeds AS (
  SELECT id, row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS c
  FROM (SELECT DISTINCT id FROM pts)
  QUALIFY row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) <= {k}
)""",
        """cent0 AS MATERIALIZED (
  SELECT s.c, p.dim, p.v FROM pts p JOIN seeds s ON p.id = s.id
)""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""d{r} AS (
  SELECT p.id, c.c, sum((p.v - c.v) * (p.v - c.v)) AS dist
  FROM pts p JOIN cent{r - 1} c ON p.dim = c.dim
  GROUP BY p.id, c.c
)"""
        )
        ctes.append(
            f"""a{r} AS MATERIALIZED (
  SELECT id, c, dist FROM (
    SELECT id, c, dist,
           row_number() OVER (PARTITION BY id ORDER BY dist, c) AS rn
    FROM d{r}
  ) WHERE rn = 1
)"""
        )
        ctes.append(
            f"""u{r} AS (
  SELECT a.c, p.dim, sum(p.v) // count(*) AS nv
  FROM a{r} a JOIN pts p ON a.id = p.id
  GROUP BY a.c, p.dim
)"""
        )
        ctes.append(
            f"""cent{r} AS MATERIALIZED (
  SELECT c0.c, c0.dim, coalesce(u.nv, c0.v) AS v
  FROM cent{r - 1} c0
  LEFT JOIN u{r} u ON c0.c = u.c AND c0.dim = u.dim
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id AS vec_id, CAST(c AS INTEGER) AS cluster, CAST(dist AS BIGINT) AS dist
FROM a{rounds}"""
    )


@register("q_kmeans", _kmeans_sql(4, 3))
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point Lloyd's k-means (k=4, 3 rounds) over the embeddings
    table as pure relational ops (similarity.kmeans_fixed_point): integer
    quantized coordinates, exact integer distances and means, md5-seeded
    init — the whole iterative algorithm is hash-checked against a 3-round
    unrolled SQL twin, the same contract as q_pagerank. This is also the
    honest replacement story for MLlib KMeans wherever engine-exact
    reproducibility matters more than convergence speed."""
    from cliner_spark.similarity import kmeans_fixed_point

    emb = load(spark, sf_dir, "embeddings")
    return kmeans_fixed_point(emb, k=4, rounds=3)


@register(
    "q_corr_matrix",
    """
SELECT
  round(corr(l_quantity, l_extendedprice), 6) AS qty_price,
  round(corr(l_quantity, l_discount), 6) AS qty_disc,
  round(corr(l_extendedprice, l_tax), 6) AS price_tax,
  round(corr(l_discount, l_tax), 6) AS disc_tax,
  CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
""",
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations across the lineitem measures — the
    one-pass profiling statistic a feature-engineering pass reads first.
    corr is a single-pass algebraic aggregate in both engines (no window,
    no second scan); rounded to 6 dp because float accumulation order
    differs across engines."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("qty_disc"),
        F.round(F.corr("l_extendedprice", "l_tax"), 6).alias("price_tax"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("disc_tax"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q_table_checksum",
    """
WITH tx AS (
  SELECT CAST(doc_id % 97 AS VARCHAR) AS conv_id, doc_id, coalesce(text, '') AS t
  FROM documents
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || t), 1, 12))
                     AS BIGINT)) AS BIGINT) AS checksum
FROM tx GROUP BY conv_id
""",
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum per conversation partition:
    sum of md5-derived 48-bit integers over (key, payload) rows. The
    anti-entropy primitive for 100 TB replication/backfill verification —
    two replicas (or a resumable run and its re-run) compare one tiny
    checksum row per partition instead of row-level diffs; sums are
    commutative so partition layout and row order don't matter. 48-bit
    values keep the BIGINT sum overflow-free up to ~2^15 rows per
    partition beyond any test SF (overflow would need 2^63/2^48 = 32k
    rows per conversation)."""
    docs = load(spark, sf_dir, "documents")
    tx = docs.select(
        (F.col("doc_id") % 97).cast("string").alias("conv_id"),
        F.col("doc_id"),
        F.coalesce("text", F.lit("")).alias("t"),
    )
    row_h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("t"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    return tx.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_h).alias("checksum"),
    )


# --------------------------------------------------------------------------
# Agent-transcript operational analytics (role/tool/ts dimensions of the
# input_hint schema, synthesized deterministically like q_role_concepts)
# --------------------------------------------------------------------------

SQL_TX_FULL = """
txf AS (
  SELECT CAST(doc_id % 97 AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY doc_id % 97 ORDER BY doc_id) - 1
              AS INTEGER) AS turn_idx,
         CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'user'
              WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         CASE CAST(doc_id % 5 AS INTEGER) WHEN 0 THEN 'search'
              WHEN 1 THEN 'code' WHEN 2 THEN 'browse' ELSE NULL END AS tool,
         CAST(doc_id * 37 + (doc_id * doc_id) % 101 AS BIGINT) AS ts_sec
  FROM documents
)
"""


@register(
    "q_turn_latency",
    f"""
WITH {SQL_TX_FULL.strip()},
gaps AS (
  SELECT conv_id,
         ts_sec - lag(ts_sec) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap
  FROM txf
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap) AS BIGINT) AS min_gap_sec,
       CAST(max(gap) AS BIGINT) AS max_gap_sec,
       round(CAST(sum(gap) AS DOUBLE) / count(*), 6) AS avg_gap_sec
FROM gaps WHERE gap IS NOT NULL GROUP BY conv_id
""",
)
def q_turn_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-turn latency per conversation over the input_hint's ts column
    (deterministically synthesized event times, same doc_id%97 transcript
    convention as q_triples): the agent-responsiveness metric an operator
    dashboards. One window sort per conversation; avg = exact-integer
    sum/count divided once in DOUBLE and rounded."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.col("doc_id") % 97).orderBy("doc_id")
    tx = docs.select(
        (F.col("doc_id") % 97).cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        (F.col("doc_id") * 37 + (F.col("doc_id") * F.col("doc_id")) % 101)
        .cast("bigint")
        .alias("ts_sec"),
    )
    wl = Window.partitionBy("conv_id").orderBy("turn_idx")
    gaps = tx.select(
        "conv_id", (F.col("ts_sec") - F.lag("ts_sec").over(wl)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    return gaps.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap").alias("min_gap_sec"),
        F.max("gap").alias("max_gap_sec"),
        F.round(F.sum("gap").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_gap_sec"
        ),
    )


@register(
    "q_tool_runs",
    f"""
WITH {SQL_TX_FULL.strip()},
marked AS (
  SELECT conv_id, turn_idx, tool,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
         - row_number() OVER (PARTITION BY conv_id, tool ORDER BY turn_idx)
           AS island
  FROM txf WHERE tool IS NOT NULL
),
runs AS (
  SELECT conv_id, tool, island, CAST(count(*) AS BIGINT) AS run_len
  FROM marked GROUP BY 1, 2, 3
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(max(run_len) AS BIGINT) AS longest_run,
       CAST(sum(CASE WHEN run_len >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_retry_runs
FROM runs GROUP BY conv_id
""",
)
def q_tool_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive same-tool call runs per conversation (gaps-and-islands:
    the difference of two row_numbers is constant within a run) — the
    agent-loop / tool-retry detector. A run of length >= 2 means the agent
    called the same tool back-to-back (retry or loop). Two window sorts
    that share the same partition key, one aggregation."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.col("doc_id") % 97).orderBy("doc_id")
    tool = F.element_at(
        F.array(F.lit("search"), F.lit("code"), F.lit("browse"), F.lit(None), F.lit(None)),
        (F.col("doc_id") % 5).cast("int") + 1,
    )
    tx = docs.select(
        (F.col("doc_id") % 97).cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        tool.alias("tool"),
    ).filter(F.col("tool").isNotNull())
    w_all = Window.partitionBy("conv_id").orderBy("turn_idx")
    w_tool = Window.partitionBy("conv_id", "tool").orderBy("turn_idx")
    marked = tx.select(
        "conv_id",
        "tool",
        (F.row_number().over(w_all) - F.row_number().over(w_tool)).alias("island"),
    )
    runs = marked.groupBy("conv_id", "tool", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return runs.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.max("run_len").alias("longest_run"),
        F.sum(F.when(F.col("run_len") >= 2, 1).otherwise(0)).alias("n_retry_runs"),
    )


from cliner_spark.entry_queries import SQL_SHINGLES_2  # noqa: E402


@register(
    "q_incremental_dedup",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_SHINGLES_2.strip()},
bat AS (SELECT doc_id FROM docs WHERE doc_id % 4 = 0),
corp AS (SELECT doc_id FROM docs WHERE doc_id % 4 <> 0),
fp AS (SELECT doc_id, md5(lower(array_to_string(toks, ' '))) AS fp FROM docs),
corp_fp AS (SELECT DISTINCT f.fp FROM fp f JOIN corp USING (doc_id)),
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
pairs AS (
  SELECT b.doc_id AS b_id, c.doc_id AS c_id
  FROM bands b
  JOIN bands c ON b.band = c.band AND b.sig = c.sig
  JOIN bat ON b.doc_id = bat.doc_id
  JOIN corp ON c.doc_id = corp.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
),
cand AS (SELECT b_id AS doc_id, CAST(count(*) AS BIGINT) AS n_candidates
         FROM pairs GROUP BY 1)
SELECT f.doc_id,
       (cf.fp IS NOT NULL) AS exact_dup,
       coalesce(c.n_candidates, 0) AS n_candidates,
       (cf.fp IS NULL AND coalesce(c.n_candidates, 0) = 0) AS keep
FROM fp f
JOIN bat USING (doc_id)
LEFT JOIN corp_fp cf ON f.fp = cf.fp
LEFT JOIN cand c USING (doc_id)
""",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-time dedup of a NEW batch (doc_id%4==0) against the EXISTING
    corpus (dedup.incremental_dedup): exact-fingerprint hit, MinHash-band
    near-dup candidate count, and the keep decision — without ever
    re-pairing the corpus with itself (the only shape that works at 10^12
    docs, where the corpus side is a persisted fingerprint/band index)."""
    from cliner_spark.dedup import incremental_dedup

    docs = load_docs(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    return incremental_dedup(corpus, batch, shingle_n=2)


# --------------------------------------------------------------------------
# Python UDTF surface (Spark 4 table functions) — cliner_spark.tablefuncs
# --------------------------------------------------------------------------


@register(
    "q_udtf_sentences",
    f"""
WITH pieces AS (
  SELECT doc_id, pi, regexp_replace(pc, '{WS_TRIM}', '', 'g') AS pc
  FROM (
    SELECT doc_id, generate_subscripts(pcs, 1) AS pi, UNNEST(pcs) AS pc
    FROM (SELECT doc_id, regexp_split_to_array(text, '[.!?]+') AS pcs
          FROM documents)
  )
  WHERE regexp_replace(pc, '{WS_TRIM}', '', 'g') <> ''
),
toks AS (SELECT doc_id, pi, {sql_tokens("pc")} AS tk FROM pieces),
chunks AS (
  SELECT doc_id, pi,
         UNNEST(generate_series(0, CAST(ceil(len(tk)/12.0) AS INT) - 1)) AS ci,
         tk
  FROM toks
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pi, ci) - 1 AS INT)
         AS sent_idx,
       array_to_string(tk[ci*12+1 : ci*12+12], ' ') AS sentence
FROM chunks
""",
)
def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation as a LATERAL Python UDTF (tablefuncs.SentenceSplit):
    punctuation split + MAX_SENT_TOKENS re-chunking, one doc row fanning out
    to one row per bounded sentence. The oracle reproduces the exact
    split/trim/chunk algebra in SQL (regexp_split + list slicing), so the
    UDTF surface itself is hash-verified. Scale: per-row Python fan-out is
    bounded (O(tokens/12) rows per doc) and stays off the token-grain hot
    path; Arrow-batched row transfer (useArrow=True)."""
    from cliner_spark.tablefuncs import split_sentences

    return split_sentences(load_docs(spark, sf_dir))


@register(
    "q_udtf_sessions",
    """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END
           AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) - 1 AS INT)
           AS session_id
  FROM flagged
)
SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS start_ts, max(ts) AS end_ts
FROM sess GROUP BY user_id, session_id
""",
)
def q_udtf_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization as a TABLE-argument Python UDTF with
    PARTITION BY user_id ORDER BY ts (tablefuncs.SessionizeEvents): a single
    O(n) streaming pass per user holding O(1) state — the third formulation
    of the same algebra next to q_sessionize (window functions) and the
    event-time session window (streaming), each hash-checked against the
    same oracle shape. Session-id ties on equal ts are boundary-safe (equal
    ts ⇒ gap 0 ⇒ same session regardless of intra-tie order)."""
    from cliner_spark.tablefuncs import sessionize

    out = sessionize(load(spark, sf_dir, "events"))
    return out.withColumn("n_events", F.col("n_events").cast("bigint"))


# --------------------------------------------------------------------------
# Grouped-map / cogrouped-map pandas surface — cliner_spark.grouped
# --------------------------------------------------------------------------


@register(
    "q_grouped_outliers",
    """
WITH med AS (SELECT user_id, median(value) AS med FROM events GROUP BY 1),
dev AS (SELECT e.user_id, abs(e.value - m.med) AS ad, m.med
        FROM events e JOIN med m USING (user_id)),
mad AS (SELECT user_id, median(ad) AS mad FROM dev GROUP BY 1)
SELECT d.user_id, CAST(count(*) AS BIGINT) AS n_events,
       any_value(d.med) AS med, any_value(m.mad) AS mad,
       CAST(CASE WHEN any_value(m.mad) > 0
            THEN sum(CASE WHEN d.ad > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END)
            ELSE 0 END AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (user_id)
GROUP BY d.user_id
""",
)
def q_grouped_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust (median/MAD) outlier summary via
    groupBy(user_id).applyInPandas (grouped.robust_user_outliers). numpy's
    linear-interpolated median is bitwise-identical to DuckDB median on
    float64 (validated at sf0.01 and sf0.1), so even the 3*1.4826*MAD cut
    booleans hash-match. One shuffle on user_id; one user's events per
    pandas group."""
    from cliner_spark.grouped import robust_user_outliers

    return robust_user_outliers(load(spark, sf_dir, "events"))


@register(
    "q_cogroup_asof",
    """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
r AS (SELECT user_id, ts, max(value) AS rv FROM events
      WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT l.event_id, l.user_id, l.ts, r.rv AS last_right_value,
       epoch_ms(l.ts) - epoch_ms(r.ts) AS gap_ms
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
""",
)
def q_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user backward as-of alignment (clicks vs latest prior purchase)
    via cogroup(...).applyInPandas + pandas merge_asof (grouped.asof_align)
    — the pandas formulation of the q_asof_join window algebra, with a
    native DuckDB ASOF LEFT JOIN as the oracle. Right side pre-aggregated
    per (user_id, ts) so backward ties are impossible; gaps in whole ms
    (per-side epoch-ms floor) because the synthetic ts carries microsecond
    fractions."""
    from cliner_spark.grouped import asof_align

    ev = load(spark, sf_dir, "events")
    return asof_align(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )


# --------------------------------------------------------------------------
# Z-order (Morton) multi-dimensional clustering — cliner_spark.maintenance
# --------------------------------------------------------------------------

from cliner_spark.maintenance import morton_col, morton_sql  # noqa: E402

_Z_SQL = morton_sql("l_partkey", "l_suppkey")


@register(
    "q_zorder_layout",
    f"""
WITH z AS (
  SELECT l_partkey, l_suppkey, {_Z_SQL} AS zval
  FROM lineitem
)
SELECT CAST(zval >> 16 AS BIGINT) AS zbucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(l_partkey) AS BIGINT) AS min_part,
       CAST(max(l_partkey) AS BIGINT) AS max_part,
       CAST(min(l_suppkey) AS BIGINT) AS min_supp,
       CAST(max(l_suppkey) AS BIGINT) AS max_supp
FROM z GROUP BY 1
""",
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) interleave of (l_partkey, l_suppkey) — the
    multi-dimensional clustering key behind Iceberg/Delta zorder rewrites
    (maintenance.zorder_rewrite) — then per coarse z-bucket min/max of BOTH
    dims, the parquet-footer stats a manifest planner prunes with: tight on
    both dimensions at once, which no single-key sort achieves. Pure JVM
    bitwise expressions (identical generated algebra on the DuckDB side),
    one hash-agg shuffle, integer-exact."""
    li = load(spark, sf_dir, "lineitem")
    z = morton_col(
        F.col("l_partkey").cast("long"), F.col("l_suppkey").cast("long")
    )
    return (
        li.select(
            F.shiftright(z, 16).cast("bigint").alias("zbucket"),
            "l_partkey",
            "l_suppkey",
        )
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").cast("bigint").alias("min_part"),
            F.max("l_partkey").cast("bigint").alias("max_part"),
            F.min("l_suppkey").cast("bigint").alias("min_supp"),
            F.max("l_suppkey").cast("bigint").alias("max_supp"),
        )
    )


@register(
    "q_snapshot_diff",
    """
WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
v2 AS (SELECT doc_id,
              CASE WHEN doc_id % 11 = 0 THEN reverse(text) ELSE text END AS text
       FROM documents WHERE doc_id % 5 <> 0)
SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v1.doc_id IS NULL THEN 'added'
            WHEN v2.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL OR v1.text <> v2.text
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two synthetic snapshots of the documents table
    (maintenance.snapshot_diff): added / removed / changed keys from a full
    outer join, change detection via xxhash64 fingerprints so the compare
    cost is constant per row no matter how wide the payload (the oracle
    compares the text directly — same set algebra). Unchanged keys never
    leave the join: output is delta-sized."""
    from cliner_spark.maintenance import snapshot_diff

    docs = load_docs(spark, sf_dir)
    v1 = docs.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    v2 = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.reverse("text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff(v1, v2, "doc_id", ["text"])


@register(
    "q_incr_agg_merge",
    """
WITH base AS (
  SELECT event_type, count(*) AS n,
         sum(CAST(value AS DECIMAL(38,4))) AS sv
  FROM events WHERE ts < TIMESTAMP '2024-04-01' GROUP BY 1
),
delta AS (
  SELECT event_type, count(*) AS n,
         sum(CAST(value AS DECIMAL(38,4))) AS sv
  FROM events WHERE ts >= TIMESTAMP '2024-04-01' GROUP BY 1
),
merged AS (
  SELECT event_type, n, sv FROM base
  UNION ALL SELECT event_type, n, sv FROM delta
)
SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
       CAST(sum(sv) AS DOUBLE) AS sum_value
FROM merged GROUP BY event_type
""",
)
def q_incr_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a per-type aggregate: the BASE
    snapshot's partial aggregates (count, decimal sum — both algebraic,
    therefore mergeable) are merged with a DELTA batch's partials instead of
    rescanning the base — the 100 TB pattern where the materialized agg is
    table-sized metadata and each refresh touches only the new partition.
    The oracle recomputes the same merge; decimal accumulation keeps the
    float result order-independent across engines."""
    ev = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-04-01").cast("timestamp")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(_DEC)).alias("sv"),
        )

    base = partial(ev.filter(F.col("ts") < cutoff))
    delta = partial(ev.filter(F.col("ts") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
        )
    )


@register(
    "q_unpivot_stats",
    """
WITH wide AS (
  SELECT source, CAST(count(*) AS DOUBLE) AS n_docs,
         avg(n_chars) AS avg_chars, avg(length(text)) AS avg_len
  FROM documents GROUP BY 1
)
SELECT source, 'n_docs' AS metric, n_docs AS value FROM wide
UNION ALL SELECT source, 'avg_chars', avg_chars FROM wide
UNION ALL SELECT source, 'avg_len', avg_len FROM wide
""",
)
def q_unpivot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->tall reshape via the DataFrame `unpivot` relational operator
    (the inverse of q_pivot's contingency matrix; oracle = UNION ALL of
    projections, the relational definition of UNPIVOT). avg over integer
    columns is an exact long sum / count on both engines, so the doubles
    hash-match without rounding. Unpivot is a zero-shuffle projection —
    rows multiply by n_metrics but nothing moves."""
    docs = load_docs(spark, sf_dir)
    wide = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("n_chars").alias("avg_chars"),
        F.avg(F.length("text")).alias("avg_len"),
    )
    return wide.unpivot(
        "source", ["n_docs", "avg_chars", "avg_len"], "metric", "value"
    )


@register(
    "q_weighted_sample",
    """
WITH pr AS (
 SELECT doc_id, n_chars,
   -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1)
       / 4503599627370496.0) / n_chars AS priority
 FROM documents)
SELECT doc_id, n_chars, round(priority, 6) AS priority
FROM (SELECT *, row_number() OVER (ORDER BY priority, doc_id) AS rn FROM pr) t
WHERE rn <= 50
""",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES priorities): u = md5-uniform in (0,1], priority =
    -ln(u)/weight with weight = n_chars, keep the k smallest — longer docs
    proportionally likelier, zero RNG state (pure hash), so distributed
    retries/resumes select the identical sample. The global top-k is a
    TakeOrdered (partial per-partition top-k, no full sort) at scale; the
    hash->uniform->ln algebra is engine-identical (the established md5
    parity idiom), ties broken by doc_id."""
    docs = load_docs(spark, sf_dir)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("long")
        + 1
    ) / F.lit(4503599627370496.0)
    pr = docs.select(
        "doc_id",
        "n_chars",
        (-F.log(u) / F.col("n_chars")).alias("priority"),
    )
    w = Window.orderBy("priority", "doc_id")
    return (
        pr.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("doc_id", "n_chars", F.round("priority", 6).alias("priority"))
    )


@register(
    "q_scd2_pit",
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
n AS (SELECT term, cui, score AS new_score FROM v2),
full_j AS (
  SELECT coalesce(o.term, n.term) AS term, coalesce(o.cui, n.cui) AS cui,
         o.old_score, n.new_score
  FROM o FULL OUTER JOIN n ON o.term = n.term AND o.cui = n.cui
),
scd2 AS (
  SELECT term, cui, round(v.score, 4) AS score, v.valid_from, v.valid_to
  FROM full_j, unnest(
    CASE WHEN new_score IS NULL
           THEN [{{'score': old_score, 'valid_from': 1, 'valid_to': 1}}]
         WHEN old_score IS NULL
           THEN [{{'score': new_score, 'valid_from': 2, 'valid_to': NULL}}]
         WHEN old_score <> new_score
           THEN [{{'score': old_score, 'valid_from': 1, 'valid_to': 1}},
                 {{'score': new_score, 'valid_from': 2, 'valid_to': NULL}}]
         ELSE [{{'score': old_score, 'valid_from': 1, 'valid_to': NULL}}]
    END) AS t(v)
),
terms AS (
  SELECT DISTINCT term FROM (SELECT term FROM gazv UNION ALL SELECT term FROM v2)
),
pit AS (SELECT t.term, v.v AS as_of FROM terms t, (VALUES (1), (2)) v(v)),
resolved AS (
  SELECT a.term, a.as_of, i.cui, i.score,
         row_number() OVER (PARTITION BY a.term, a.as_of
                            ORDER BY i.score DESC NULLS LAST,
                                     i.cui ASC NULLS LAST) AS rn
  FROM pit a LEFT JOIN scd2 i
    ON i.term = a.term AND i.valid_from <= a.as_of
   AND (i.valid_to IS NULL OR a.as_of <= i.valid_to)
)
SELECT term, CAST(as_of AS INTEGER) AS as_of, cui, score
FROM resolved WHERE rn = 1
""",
)
def q_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension resolution over the SCD2 gazetteer history
    (the read side of q_gazetteer_scd2): for every term and every release
    version, the best gazetteer row whose validity interval covers that
    version — how triples built from an old release join the gazetteer AS
    IT WAS, not as it is. Retired terms resolve to NULL at v2 (left join
    kept). Everything is dimension-sized: the interval join is a broadcast
    range join, the top-1 a tiny window."""
    from cliner_spark.sources import scd2_intervals

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
    scd2 = scd2_intervals(v1, v2)
    terms = (
        v1.select("term").unionByName(v2.select("term")).distinct()
    )
    versions = spark.createDataFrame([(1,), (2,)], "as_of int")
    asof = terms.crossJoin(F.broadcast(versions))
    cond = (
        (scd2["term"] == asof["term"])
        & (scd2["valid_from"] <= asof["as_of"])
        & (scd2["valid_to"].isNull() | (asof["as_of"] <= scd2["valid_to"]))
    )
    j = asof.join(F.broadcast(scd2), cond, "left").select(
        asof["term"], asof["as_of"], scd2["cui"], scd2["score"]
    )
    w = Window.partitionBy("term", "as_of").orderBy(
        F.col("score").desc_nulls_last(), F.col("cui").asc_nulls_last()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("term", F.col("as_of").cast("int").alias("as_of"), "cui", "score")
    )


@register(
    "q_variant_props",
    """
SELECT event_type,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS vmin,
       CAST(percentile_cont(0.5) WITHIN GROUP
            (ORDER BY CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
         AS vmedian,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS vmax
FROM events
GROUP BY event_type
""",
)
def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VariantType:
    parse_json(props) -> variant, then typed variant_get path access — the
    open-schema sibling of q_json_props' string-path get_json_object.
    Variant stores a parsed binary form, so repeated path probes don't
    re-parse the JSON text (the 100 TB difference when many fields are
    read); the exact median is computable because the variant path is
    extracted as a typed bigint before aggregation. Oracle reproduces the
    identical algebra over DuckDB's JSON functions."""
    ev = load(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return ev.groupBy("event_type").agg(
        F.min(k).alias("vmin"),
        F.expr(
            "CAST(percentile(try_variant_get(parse_json(props), '$.k', 'bigint'),"
            " 0.5) AS DOUBLE)"
        ).alias("vmedian"),
        F.max(k).alias("vmax"),
    )


# --------------------------------------------------------------------------
# Ontology subsumption (ISA closure + rollup), duplicate-span masking,
# hashed linear classifier inference
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import (  # noqa: E402
    SQL_BEST_GAZ,
    SQL_KEPT_MENTIONS,
    SQL_LINKED,
    _doc_linked,
)
from cliner_spark.fixtures import ontology_df, ontology_values_sql  # noqa: E402

ISA_SQL = ontology_values_sql()


@register(
    "q_isa_closure",
    f"""
WITH RECURSIVE isa AS (SELECT * FROM {ISA_SQL}),
cl(descendant, ancestor, depth) AS (
  SELECT child, parent, 1 FROM isa
  UNION
  SELECT c.descendant, i.parent, c.depth + 1
  FROM cl c JOIN isa i ON i.child = c.ancestor
)
SELECT descendant, ancestor, CAST(min(depth) AS INTEGER) AS depth
FROM cl GROUP BY descendant, ancestor
""",
)
def q_isa_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the ISA ontology over the gazetteer cuis
    (graph.transitive_closure): path doubling, O(log diameter) rounds with
    a VERIFIED fixpoint, vs the oracle's one-edge-per-step recursive CTE —
    two different algorithms, same (descendant, ancestor, min-depth) set.
    The closure is the joinable "is-a*" table subsumption queries need
    (SURVEY §2 S5's UMLS gazetteer ships MRHIER ISA relations alongside
    MRCONSO); built once per ontology release, corpus never scanned."""
    from cliner_spark.graph import transitive_closure

    return transitive_closure(ontology_df(spark)).select(
        "descendant", "ancestor", F.col("depth").cast("int").alias("depth")
    )


@register(
    "q_subsumption_rollup",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
isa AS (SELECT * FROM {ISA_SQL}),
cl(descendant, ancestor) AS (
  SELECT child, parent FROM isa
  UNION
  SELECT c.descendant, i.parent FROM cl c JOIN isa i ON i.child = c.ancestor
),
m AS (SELECT cui FROM linked),
up AS (
  SELECT cl.ancestor AS node FROM m JOIN cl ON m.cui = cl.descendant
  UNION ALL
  SELECT cui AS node FROM m
)
SELECT node, CAST(count(*) AS BIGINT) AS n_mentions
FROM up GROUP BY node
""",
)
def q_subsumption_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention counts rolled UP the ISA hierarchy: each linked mention
    counts toward its own cui and every ancestor (descendant-or-self
    semantics — the SNOMED subsumption aggregate 'how many mentions of any
    kind of scan?'). The corpus-scale side is one scan producing leaf cuis;
    the fan-out join is against the broadcast dimension-sized closure, so
    depth multiplies rows only by mean ontology depth (~4 here, ~10 in
    UMLS), never by corpus size."""
    from cliner_spark.graph import transitive_closure

    linked = _doc_linked(spark, sf_dir).select("cui")
    cl = transitive_closure(ontology_df(spark)).select("descendant", "ancestor")
    up = linked.join(
        F.broadcast(cl), linked["cui"] == cl["descendant"]
    ).select(F.col("ancestor").alias("node"))
    allrows = linked.select(F.col("cui").alias("node")).unionByName(up)
    return allrows.groupBy("node").agg(F.count(F.lit(1)).alias("n_mentions"))


@register(
    "q_dup_span_mask",
    f"""
WITH {SQL_DOCS_TOKS},
g AS (
  SELECT doc_id, CAST(t.i AS INTEGER) AS s,
         lower(array_to_string(toks[t.i + 1 : t.i + 3], ' ')) AS gram
  FROM docs, unnest(range(len(toks) - 2)) AS t(i)
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
sp AS (SELECT doc_id, s, s + 2 AS e FROM g WHERE gram IN (SELECT gram FROM dup)),
isl AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
              THEN 1 ELSE 0 END AS brk
  FROM sp
),
grp AS (
  SELECT doc_id, s, e,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS island
  FROM isl
)
SELECT doc_id, CAST(min(s) AS INTEGER) AS span_start,
       CAST(max(e) AS INTEGER) AS span_end,
       CAST(max(e) - min(s) + 1 AS INTEGER) AS span_toks
FROM grp GROUP BY doc_id, island
""",
)
def q_dup_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-SPAN masking (Lee et al. 2022 'Deduplicating Training Data
    Makes Language Models Better', exact-substring variant): instead of
    dropping whole near-dup documents, find every trigram shared across
    documents and emit the maximal merged token spans to mask per doc —
    the within-doc surgical cousin of q_ngram_dup_rate. Spans from the
    trigram windows are merged with gaps-and-islands (running max(end),
    break when a span starts past prev_end+1 — overlapping AND adjacent
    regions coalesce). Scale: grams explode zero-shuffle via posexplode of
    a transform(sequence) (no window sort on the corpus grain); the dup-gram
    set comes from one groupBy and semi-joins back; only matched windows
    (a small fraction of the corpus) reach the per-doc island windows."""
    docs = load_docs(spark, sf_dir)
    t = docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    grams = t.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("toks") >= 3,
                F.expr(
                    "transform(sequence(0, size(toks)-3),"
                    " i -> lower(concat_ws(' ', slice(toks, i+1, 3))))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("s", "gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gram")
    )
    sp = grams.join(dup, "gram", "left_semi").select(
        "doc_id", "s", (F.col("s") + 2).alias("e")
    )
    w_prev = (
        Window.partitionBy("doc_id").orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-2)) + 1, 1
    ).otherwise(0)
    w_run = Window.partitionBy("doc_id").orderBy("s")
    grp = sp.withColumn("brk", brk).withColumn("island", F.sum("brk").over(w_run))
    return grp.groupBy("doc_id", "island").agg(
        F.min("s").cast("int").alias("span_start"),
        F.max("e").cast("int").alias("span_end"),
        (F.max("e") - F.min("s") + 1).cast("int").alias("span_toks"),
    ).drop("island")


@register(
    "q_hash_classifier",
    f"""
WITH {SQL_DOCS_TOKS},
tok AS (SELECT doc_id, lower(t.tok) AS tok FROM docs, unnest(toks) AS t(tok)),
feat AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT) % 64 AS bucket
  FROM tok
),
scored AS (
  SELECT doc_id,
         CAST(sum((bucket * 2654435761) % 1001 - 500) AS BIGINT) AS score_fp
  FROM feat GROUP BY doc_id
)
SELECT doc_id, score_fp,
       CASE WHEN score_fp > 0 THEN 'keep' ELSE 'drop' END AS label
FROM scored
""",
)
def q_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear classifier INFERENCE (Weinberger et al. 2009;
    the fastText-style quality-filter shape CCNet/RefinedWeb pipelines run
    over every document): token -> md5 bucket (D=64) -> integer weight ->
    per-doc summed score -> keep/drop label. The weight table is a model
    release artifact; here it is synthesized as a deterministic integer
    function of the bucket id ((bucket*2654435761) % 1001 - 500) so the
    DuckDB twin reproduces the exact BIGINT algebra — in production, swap
    in the trained weight map as a broadcast join or a 64-entry CASE
    expression. Everything is JVM expression work on the token explode:
    one scan, one groupBy, no Python, reduction-order-independent integer
    sums."""
    docs = load_docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).select("doc_id", F.lower("tok").alias("tok"))
    bucket = F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("bigint") % 64
    weight = (bucket * F.lit(2654435761).cast("bigint")) % 1001 - 500
    scored = tok.select("doc_id", weight.alias("w")).groupBy("doc_id").agg(
        F.sum("w").cast("bigint").alias("score_fp")
    )
    return scored.select(
        "doc_id",
        "score_fp",
        F.when(F.col("score_fp") > 0, "keep").otherwise("drop").alias("label"),
    )


# --------------------------------------------------------------------------
# KG integrity audit, RDF N-Triples export, LSH blocking-quality audit,
# ontology-aware link agreement
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import SQL_SHINGLES_2  # noqa: E402


@register(
    "q_kg_integrity",
    f"""
{SQL_TR_CTE}
SELECT 'n_triples' AS chk, CAST(count(*) AS BIGINT) AS n FROM tr
UNION ALL
SELECT 'dangling_concept_obj', CAST(count(*) AS BIGINT) FROM tr
WHERE obj LIKE 'concept:%' AND substr(obj, 9) NOT IN (SELECT cui FROM gazv)
UNION ALL
SELECT 'same_as_self_loop', CAST(count(*) AS BIGINT) FROM tr
WHERE pred = 'SAME_AS' AND subj = obj
UNION ALL
SELECT 'same_as_chain', CAST(count(*) AS BIGINT) FROM tr s
WHERE s.pred = 'SAME_AS'
  AND EXISTS (SELECT 1 FROM tr t WHERE t.pred = 'SAME_AS' AND t.subj = s.obj)
UNION ALL
SELECT 'dup_triples', CAST(count(*) AS BIGINT) FROM (
  SELECT subj, pred, obj FROM tr GROUP BY subj, pred, obj HAVING count(*) > 1
)
UNION ALL
SELECT 'mentions_missing_assertion', CAST(count(*) AS BIGINT) FROM tr m
WHERE m.pred = 'MENTIONS'
  AND NOT EXISTS (SELECT 1 FROM tr a WHERE a.pred = 'ASSERTED_IN'
                  AND a.subj = m.obj AND a.conv_id = m.conv_id)
""",
)
def q_kg_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG referential-integrity audit over the materialized triples — the
    validation suite a KG build job runs before publishing a snapshot:
    dangling concept objects (cui absent from the gazetteer release),
    SAME_AS self-loops and non-fixpoint chains (a canonical that itself
    re-maps — exactly the under-converged-CC corruption the ADVICE round
    flagged), duplicate triples, and MENTIONS edges with no matching
    ASSERTED_IN provenance. The expected-zero checks being 0 IS the
    verification; n_triples anchors the audit to a non-degenerate KG.
    Reads the materialized-KG artifact (cached_triples) localCheckpointed
    once, six dimension-cheap audits over it."""
    gaz = doc_gazetteer_df(spark)
    tr = cached_triples(spark, sf_dir).localCheckpoint(eager=True)
    cuis = gaz.select("cui").distinct()
    same_as = tr.filter(F.col("pred") == "SAME_AS")

    def one(chk: str, df) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
            F.lit(chk).alias("chk"), "n"
        )

    dangling = (
        tr.filter(F.col("obj").startswith("concept:"))
        .withColumn("o_cui", F.expr("substring(obj, 9)"))
        .join(cuis, F.col("o_cui") == cuis["cui"], "left_anti")
    )
    chain = same_as.alias("s").join(
        same_as.select(F.col("subj").alias("o2")).distinct(),
        F.col("s.obj") == F.col("o2"),
        "left_semi",
    )
    dup = (
        tr.groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
    )
    men = tr.filter(F.col("pred") == "MENTIONS")
    asrt = (
        tr.filter(F.col("pred") == "ASSERTED_IN")
        .select(F.col("subj").alias("a_subj"), F.col("conv_id").alias("a_conv"))
        .distinct()
    )
    orphan = men.join(
        asrt,
        (men["obj"] == asrt["a_subj"]) & (men["conv_id"] == asrt["a_conv"]),
        "left_anti",
    )
    return (
        one("n_triples", tr)
        .unionByName(one("dangling_concept_obj", dangling))
        .unionByName(one("same_as_self_loop", same_as.filter(F.col("subj") == F.col("obj"))))
        .unionByName(one("same_as_chain", chain))
        .unionByName(one("dup_triples", dup))
        .unionByName(one("mentions_missing_assertion", orphan))
    )


@register(
    "q_ntriples_export",
    f"""
{SQL_TR_CTE}
SELECT conv_id,
       '<urn:cs:' || replace(subj, '#', '%23') || '> <urn:cs:pred:' || pred ||
       '> <urn:cs:' || replace(obj, '#', '%23') || '> .' AS ntriple
FROM tr
""",
)
def q_ntriples_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF N-Triples serialization of the KG — the interchange sink that
    lets the materialized graph load into any triple store (Jena, Virtuoso,
    Neptune bulk loader). IRI-unsafe '#' in mention/turn ids is
    percent-encoded; everything is JVM string concatenation in the scan
    projection (zero shuffle beyond the triple build itself). conv_id rides
    along as the partition column the production writer buckets by."""
    tr = cached_triples(spark, sf_dir)
    enc = lambda c: F.regexp_replace(c, "#", "%23")  # noqa: E731
    return tr.select(
        "conv_id",
        F.concat(
            F.lit("<urn:cs:"), enc(F.col("subj")),
            F.lit("> <urn:cs:pred:"), F.col("pred"),
            F.lit("> <urn:cs:"), enc(F.col("obj")),
            F.lit("> ."),
        ).alias("ntriple"),
    )


@register(
    "q_blocking_quality",
    f"""
WITH {SQL_DOCS_TOKS}, sh2_all AS (
  SELECT DISTINCT d.doc_id,
         lower(array_to_string(d.toks[t.i + 1 : t.i + 2], ' ')) AS shingle
  FROM docs d, unnest(range(len(d.toks))) AS t(i)
  WHERE t.i + 2 <= len(d.toks)
),
sh2 AS (
  SELECT * FROM sh2_all
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON common.doc_a = sa.doc_id
  JOIN sizes sb ON common.doc_b = sb.doc_id
  WHERE common * 2 >= sa.sz + sb.sz - common
),
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
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
),
m AS (
  SELECT (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM cand) AS n_cand,
         (SELECT count(*) FROM truth t JOIN cand c
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit,
         (SELECT count(*) FROM documents
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4') AS n_docs
)
SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n_cand AS BIGINT) AS n_cand,
       CAST(n_hit AS BIGINT) AS n_hit,
       round(CAST(n_hit AS DOUBLE) / nullif(n_true, 0), 6) AS pair_completeness,
       round(1.0 - CAST(n_cand AS DOUBLE) /
             (CAST(n_docs AS DOUBLE) * (n_docs - 1) / 2), 6) AS reduction_ratio
FROM m
""",
)
def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution BLOCKING audit (Christen 2012 metrics): pair
    completeness (recall of MinHash-LSH candidate pairs against the exact
    Jaccard>=0.5 truth set on the same 2-shingle grain) and reduction ratio
    (fraction of the n*(n-1)/2 comparison space the blocking eliminated).
    The truth side deliberately has NO df-cut — it is the exact ground
    truth — so the whole audit runs on a deterministic md5 hash-sample of
    the corpus (bucket < '4' = 4/16 = 25%), which is HOW this release
    gate runs at 100 TB: the quadratic truth join is paid on sample², the
    metrics are unbiased estimates over the sampled universe, and the
    sample is a pure function of doc_id (reproducible across engines and
    releases). Threshold is the exact-integer cross-multiplication
    2*common >= union. Candidates come from the same banding as
    q_minhash_lsh, so this query IS the quality gate for that operator's
    parameters (4 hashes, bands of 1, min_bands=2)."""
    from cliner_spark import dedup as _dd

    docs = load_docs(spark, sf_dir).filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4"
    )
    sh = _dd.shingles(docs, 2).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        sa.join(sb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    truth = (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .filter(F.col("common") * 2 >= F.col("sz_a") + F.col("sz_b") - F.col("common"))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    cand = (
        _dd.lsh_candidate_pairs(docs, min_bands=2, sh=sh)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    n_hit = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    m = n_true.crossJoin(n_cand).crossJoin(n_hit).crossJoin(n_docs)
    return m.select(
        "n_true",
        "n_cand",
        "n_hit",
        F.round(
            F.col("n_hit").cast("double") / F.nullif(F.col("n_true"), F.lit(0)), 6
        ).alias("pair_completeness"),
        F.round(
            1.0
            - F.col("n_cand").cast("double")
            / (F.col("n_docs").cast("double") * (F.col("n_docs") - 1) / 2),
            6,
        ).alias("reduction_ratio"),
    )


@register(
    "q_hier_link_agreement",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_CANON},
isa AS (SELECT * FROM {ISA_SQL}),
cl(descendant, ancestor) AS (
  SELECT child, parent FROM isa
  UNION
  SELECT c.descendant, i.parent FROM cl c JOIN isa i ON i.child = c.ancestor
),
lm AS (
  SELECT b.cui, c.canon_cui
  FROM mentions m
  JOIN best_gaz b ON lower(m.mention_text) = b.term
  JOIN canon c ON b.cui = c.cui
),
rel AS (
  SELECT cui,
         CASE WHEN cui = canon_cui THEN 'exact'
              WHEN EXISTS (SELECT 1 FROM cl
                           WHERE (descendant = cui AND ancestor = canon_cui)
                              OR (descendant = canon_cui AND ancestor = cui))
                THEN 'isa_related'
              WHEN EXISTS (SELECT 1 FROM isa p1 JOIN isa p2 ON p1.parent = p2.parent
                           WHERE p1.child = cui AND p2.child = canon_cui)
                THEN 'sibling'
              ELSE 'unrelated' END AS relation
  FROM lm
)
SELECT relation, CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT cui) AS BIGINT) AS n_cuis
FROM rel GROUP BY relation
""",
)
def q_hier_link_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology-aware agreement between the raw link (best_gaz cui) and the
    canonical concept (CC component label): hierarchical evaluation in the
    Resnik/SNOMED-subsumption tradition — 'exact' (cui IS the canonical),
    'isa_related' (one subsumes the other in the ISA closure), 'sibling'
    (same immediate parent — e.g. 'scan'->CD011 canonicalized to CD004,
    both GRP_SCAN children), 'unrelated' (the CC merge crossed ontology
    categories — the drift signal a KG release gate watches). All ontology
    sides are broadcast dimension joins; the corpus contributes one linked
    scan."""
    from cliner_spark.graph import transitive_closure
    from cliner_spark.triples import with_canonical

    lm = with_canonical(
        _doc_linked(spark, sf_dir).select("cui"), cached_canon_map(spark)
    )
    isa = ontology_df(spark)
    cl = transitive_closure(isa).select("descendant", "ancestor")
    isa_pairs = (
        cl.select(F.col("descendant").alias("x"), F.col("ancestor").alias("y"))
        .unionByName(cl.select(F.col("ancestor").alias("x"), F.col("descendant").alias("y")))
        .distinct()
        .withColumn("isa_rel", F.lit(1))
    )
    sib = (
        isa.alias("p1")
        .join(isa.alias("p2"), F.col("p1.parent") == F.col("p2.parent"))
        .select(F.col("p1.child").alias("x"), F.col("p2.child").alias("y"))
        .distinct()
        .withColumn("sib_rel", F.lit(1))
    )
    j = (
        lm.join(
            F.broadcast(isa_pairs),
            (lm["cui"] == isa_pairs["x"]) & (lm["canon_cui"] == isa_pairs["y"]),
            "left",
        )
        .drop("x", "y")
        .join(
            F.broadcast(sib),
            (lm["cui"] == sib["x"]) & (lm["canon_cui"] == sib["y"]),
            "left",
        )
        .drop("x", "y")
    )
    rel = j.select(
        "cui",
        F.when(F.col("cui") == F.col("canon_cui"), "exact")
        .when(F.col("isa_rel").isNotNull(), "isa_related")
        .when(F.col("sib_rel").isNotNull(), "sibling")
        .otherwise("unrelated")
        .alias("relation"),
    )
    return rel.groupBy("relation").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.count_distinct("cui").alias("n_cuis"),
    )


# --------------------------------------------------------------------------
# KMV join-cardinality sketch, reciprocal-rank-fusion hybrid retrieval,
# transcript ingest gap audit
# --------------------------------------------------------------------------

from cliner_spark.entry_queries import BM25_QUERY  # noqa: E402

_KMV_H = "CAST(('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 13)) AS BIGINT)"
_KMV_EST = "CAST(139611588448485376 AS DOUBLE)"  # (k-1) * 2^52, k=32


@register(
    "q_kmv_join_estimate",
    f"""
WITH
da AS (SELECT DISTINCT o_custkey AS key FROM orders),
db AS (SELECT DISTINCT c_custkey AS key FROM customer),
ka AS (SELECT {_KMV_H} AS h FROM da ORDER BY 1 LIMIT 32),
kb AS (SELECT {_KMV_H} AS h FROM db ORDER BY 1 LIMIT 32),
kg AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT 32),
ov AS (SELECT count(*) AS overlap FROM kg
       WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
m AS (SELECT
  (SELECT count(*) FROM da) AS exact_a,
  (SELECT max(h) FROM ka) AS ua,
  (SELECT count(*) FROM db) AS exact_b,
  (SELECT max(h) FROM kb) AS ub,
  (SELECT count(*) FROM da JOIN db USING (key)) AS exact_inter,
  (SELECT max(h) FROM kg) AS ug,
  (SELECT overlap FROM ov) AS overlap)
SELECT CAST(exact_a AS BIGINT) AS exact_a,
       round({_KMV_EST} / ua, 2) AS est_a,
       CAST(exact_b AS BIGINT) AS exact_b,
       round({_KMV_EST} / ub, 2) AS est_b,
       CAST(exact_inter AS BIGINT) AS exact_inter,
       round((overlap / 32.0) * ({_KMV_EST} / ug), 2) AS est_inter
FROM m
""",
)
def q_kmv_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from KMV (k-minimum-values) distinct
    sketches (Bar-Yossef 2002 / Beyer 2007): sketch orders.o_custkey and
    customer.c_custkey (k=32 smallest md5 values each), merge to the union
    sketch, estimate |A|, |B| and |A∩B| = (overlap/k) * D_union — the
    shuffle-free sizing pass a planner runs before picking a join strategy
    — and audit every estimate against the exact distinct counts in the
    same row. Sketches are TakeOrdered top-k (no full sort, mergeable by
    construction); the only full-width work is the exact audit itself,
    which a production planner would skip."""
    from cliner_spark.sketch import KMV_SPACE, kmv_sketch

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    ka = kmv_sketch(o, "o_custkey").localCheckpoint(eager=True)
    kb = kmv_sketch(c, "c_custkey").localCheckpoint(eager=True)
    kg = (
        ka.unionByName(kb).distinct().orderBy("h").limit(32).localCheckpoint(eager=True)
    )
    est = F.lit(31.0) * F.lit(KMV_SPACE)
    da = o.select(F.col("o_custkey").alias("key")).distinct()
    db = c.select(F.col("c_custkey").alias("key")).distinct()
    one = lambda df, expr, name: df.agg(expr.alias(name))  # noqa: E731
    m = (
        one(da, F.count(F.lit(1)).cast("bigint"), "exact_a")
        .crossJoin(one(ka, F.max("h"), "ua"))
        .crossJoin(one(db, F.count(F.lit(1)).cast("bigint"), "exact_b"))
        .crossJoin(one(kb, F.max("h"), "ub"))
        .crossJoin(one(da.join(db, "key"), F.count(F.lit(1)).cast("bigint"), "exact_inter"))
        .crossJoin(one(kg, F.max("h"), "ug"))
        .crossJoin(
            one(
                kg.join(ka, "h", "left_semi").join(kb, "h", "left_semi"),
                F.count(F.lit(1)),
                "overlap",
            )
        )
    )
    return m.select(
        "exact_a",
        F.round(est / F.col("ua").cast("double"), 2).alias("est_a"),
        "exact_b",
        F.round(est / F.col("ub").cast("double"), 2).alias("est_b"),
        "exact_inter",
        F.round(
            (F.col("overlap") / F.lit(32.0)) * (est / F.col("ug").cast("double")), 2
        ).alias("est_inter"),
    )


@register(
    "q_rrf_fusion",
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
sc AS (SELECT doc_id, CAST(sum(s) AS DOUBLE) AS score FROM s GROUP BY 1),
lex AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS lex_rank
  FROM sc ORDER BY score DESC, doc_id ASC LIMIT 20
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
cvs AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id <> 7),
sims AS (
  SELECT doc_id,
         round(list_sum(list_transform(range(len(qv)), i -> qv[i+1] * cv[i+1]))
               / sqrt(list_sum(list_transform(qv, x -> x * x))
                      * list_sum(list_transform(cv, x -> x * x))), 6) AS sim
  FROM cvs, q
),
den AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS INTEGER) AS dense_rank
  FROM sims ORDER BY sim DESC, doc_id ASC LIMIT 20
),
fused AS (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank,
         round(coalesce(1.0 / (60 + l.lex_rank), 0) + coalesce(1.0 / (60 + d.dense_rank), 0), 6)
           AS rrf_score
  FROM lex l FULL OUTER JOIN den d ON l.doc_id = d.doc_id
)
SELECT doc_id, lex_rank, dense_rank, rrf_score FROM (
  SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS fr FROM fused
) WHERE fr <= 10
""",
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval via reciprocal-rank fusion (Cormack et al. 2009,
    the standard BM25 + dense-vector combiner in modern RAG stacks):
    lexical list = BM25 top-20 for the fixed 4-term query, dense list =
    exact cosine top-20 neighbors of query vector 7 (doc_id and vec_id
    share the id space in the testdata), fused score = sum of 1/(60+rank)
    over the lists a doc appears in, final top-10. Both lists come from
    TakeOrdered top-k paths (no global sorts); the fusion join touches 40
    rows. The same fusion works unchanged over the IVF/LSH ANN lists when
    exact cosine is too expensive."""
    from cliner_spark.session import ensure_parallelism
    from cliner_spark.similarity import brute_force_topk
    from cliner_spark.textstats import bm25_rank

    lex = bm25_rank(load_docs(spark, sf_dir), list(BM25_QUERY), k=20).select(
        "doc_id", F.col("rk").alias("lex_rank")
    )
    emb = ensure_parallelism(load(spark, sf_dir, "embeddings"))
    den = brute_force_topk(emb, F.col("vec_id") == 7, k=20).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rn").alias("dense_rank")
    )
    fused = lex.join(den, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "dense_rank",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("dense_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("fr", F.row_number().over(w))
        .filter(F.col("fr") <= 10)
        .drop("fr")
    )


@register(
    "q_turn_gap_audit",
    """
WITH tx AS (
  SELECT doc_id, CAST(doc_id % 97 AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY doc_id % 97 ORDER BY doc_id) - 1 AS INTEGER)
           AS turn_idx
  FROM documents
),
ingest AS (SELECT * FROM tx WHERE doc_id % 7 <> 3)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(max(turn_idx) AS INTEGER) AS max_turn,
       CAST(max(turn_idx) + 1 - count(*) AS BIGINT) AS n_missing
FROM ingest GROUP BY conv_id
HAVING max(turn_idx) + 1 - count(*) > 0
""",
)
def q_turn_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest completeness audit over the input_hint (conv_id, turn_idx)
    contract: conversations whose turn sequence has HOLES (max_turn+1 !=
    n_turns — the dropped-message signature a 10^12-turn ingest watches
    before any per-turn invariant can hold). The simulated loss drops
    every doc_id % 7 == 3 turn from the canonical transcript mapping; the
    audit is one groupBy with integer algebra — no window, no join, and at
    scale it rides the same conv-hash partitioning as the triple sink."""
    docs = load_docs(spark, sf_dir)
    w = Window.partitionBy(F.col("doc_id") % 97).orderBy("doc_id")
    tx = docs.select(
        "doc_id",
        (F.col("doc_id") % 97).cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
    )
    ingest = tx.filter(F.col("doc_id") % 7 != 3)
    return (
        ingest.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.max("turn_idx").cast("int").alias("max_turn"),
            (F.max("turn_idx") + 1 - F.count(F.lit(1))).alias("n_missing"),
        )
        .filter(F.col("n_missing") > 0)
    )


# --------------------------------------------------------------------------
# LLM-training batch prep: greedy sequence packing + deterministic epoch
# shuffle
# --------------------------------------------------------------------------


@register(
    "q_seq_packing",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS},
d AS (
  SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS bucket,
         CAST(len(toks) AS INTEGER) AS n_toks,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM docs
),
rec(bucket, rn, doc_id, n_toks, fill, pack) AS (
  SELECT bucket, rn, doc_id, n_toks, n_toks, 0 FROM d WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.doc_id, d.n_toks,
         CASE WHEN rec.fill + d.n_toks > 256 THEN d.n_toks
              ELSE rec.fill + d.n_toks END,
         CASE WHEN rec.fill + d.n_toks > 256 THEN rec.pack + 1 ELSE rec.pack END
  FROM rec JOIN d ON d.bucket = rec.bucket AND d.rn = rec.rn + 1
)
SELECT doc_id, bucket, CAST(pack AS INTEGER) AS pack_id, n_toks
FROM rec
""",
)
def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY sequence packing (sample packing for LLM pretraining, e.g.
    Raffel 2020 / GPT-style batch prep): documents fill a 256-token context
    window in deterministic doc_id order; a doc that would overflow starts
    the next pack. The scan is inherently sequential, so parallelism comes
    from SALTING: docs are hashed into 8 independent buckets and each
    bucket packs in isolation inside one applyInPandas group (at 100 TB,
    buckets = thousands, each worker packs its bucket with zero
    coordination — the standard trade: within-bucket exact greedy,
    cross-bucket independence). The oracle is the identical fold as a
    per-bucket recursive CTE."""
    import pandas as pd

    docs = load_docs(spark, sf_dir)
    d = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).cast("int").alias("bucket"),
        F.size(tokens_col(F.col("text"))).cast("int").alias("n_toks"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        packs = []
        fill, pk = 0, -1
        for n in pdf["n_toks"]:
            if pk < 0 or fill + n > 256:
                pk += 1
                fill = int(n)
            else:
                fill += int(n)
            packs.append(pk)
        pdf["pack_id"] = pd.Series(packs, dtype="int32")
        return pdf[["doc_id", "bucket", "pack_id", "n_toks"]]

    return d.groupBy("bucket").applyInPandas(
        pack, schema="doc_id bigint, bucket int, pack_id int, n_toks int"
    )


@register(
    "q_epoch_shuffle",
    """
SELECT doc_id,
       CAST(row_number() OVER (
         ORDER BY md5('0|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS epoch0_pos,
       CAST(row_number() OVER (
         ORDER BY md5('1|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS epoch1_pos
FROM documents
""",
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training shuffle: position = rank of
    md5(epoch|doc_id) — a pure function of (epoch, key), so the order is
    reproducible across reruns/engines, needs no RNG state, and any worker
    can compute any shard's slice independently (the property distributed
    data loaders need; random.shuffle's global state is exactly what does
    NOT scale). Two epochs materialized side by side to show decorrelation.
    The global row_number here is demonstration-sized; the production
    loader sorts within hash shards (locally sorted, globally sharded) and
    never materializes a total order."""
    docs = load_docs(spark, sf_dir)
    w0 = Window.orderBy(F.md5(F.concat(F.lit("0|"), F.col("doc_id").cast("string"))), F.col("doc_id"))
    w1 = Window.orderBy(F.md5(F.concat(F.lit("1|"), F.col("doc_id").cast("string"))), F.col("doc_id"))
    return docs.select(
        "doc_id",
        F.row_number().over(w0).cast("bigint").alias("epoch0_pos"),
        F.row_number().over(w1).cast("bigint").alias("epoch1_pos"),
    )


@register(
    "q_edge_confidence",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_CANON},
lm AS (
  SELECT m.doc_id, c.canon_cui, b.link_score
  FROM mentions m
  JOIN best_gaz b ON lower(m.mention_text) = b.term
  JOIN canon c ON b.cui = c.cui
)
SELECT doc_id, canon_cui, CAST(count(*) AS BIGINT) AS n_mentions,
       max(link_score) AS max_score,
       round(1.0 - list_reduce(
         list_prepend(CAST(1.0 AS DOUBLE), list_sort(list(link_score::DOUBLE))),
         (acc, x) -> acc * (1 - x)), 6) AS noisy_or
FROM lm GROUP BY doc_id, canon_cui
""",
)
def q_edge_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noisy-OR confidence for each (conversation, concept) MENTIONS edge:
    independent-evidence combination 1 - prod(1 - score_i) over the edge's
    mention link scores — the weight a downstream KG ranker consumes
    instead of a bare count. Float products are NOT
    reduction-order-independent, so the fold runs over the SORTED score
    array (sort_array + F.aggregate, one deterministic executor-local pass
    per group, zero extra shuffles) — the same order-pinned-fold trick the
    repetition features use — making the double bit-identical across
    engines and partitionings."""
    from cliner_spark.triples import with_canonical

    lm = with_canonical(
        _doc_linked(spark, sf_dir).select(
            F.col("conv_id").alias("doc_id"), "cui", "link_score"
        ),
        cached_canon_map(spark),
    )
    return lm.groupBy("doc_id", "canon_cui").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.max("link_score").alias("max_score"),
        F.round(
            1.0
            - F.aggregate(
                F.sort_array(F.collect_list(F.col("link_score").cast("double"))),
                F.lit(1.0),
                lambda acc, x: acc * (1 - x),
            ),
            6,
        ).alias("noisy_or"),
    )


# --------------------------------------------------------------------------
# KG profiling / audit round 2c: relation cardinality, contradictions,
# concept similarity, HITS centrality, corpus drift
# --------------------------------------------------------------------------


@register(
    "q_relation_cardinality",
    f"""
{SQL_TR_CTE}
, dtr AS (SELECT DISTINCT subj, pred, obj FROM tr),
outd AS (SELECT pred, subj, CAST(count(*) AS BIGINT) AS c FROM dtr GROUP BY 1, 2),
ind  AS (SELECT pred, obj,  CAST(count(*) AS BIGINT) AS c FROM dtr GROUP BY 1, 2),
base AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS n_edges,
         CAST(count(DISTINCT subj) AS BIGINT) AS n_subj,
         CAST(count(DISTINCT obj) AS BIGINT) AS n_obj
  FROM dtr GROUP BY pred
)
SELECT b.pred, b.n_edges, b.n_subj, b.n_obj,
       o.max_out, i.max_in,
       CASE WHEN o.max_out = 1 AND i.max_in = 1 THEN '1:1'
            WHEN o.max_out = 1 THEN 'N:1'
            WHEN i.max_in = 1 THEN '1:N'
            ELSE 'N:M' END AS card_class
FROM base b
JOIN (SELECT pred, CAST(max(c) AS BIGINT) AS max_out FROM outd GROUP BY pred) o
  ON b.pred = o.pred
JOIN (SELECT pred, CAST(max(c) AS BIGINT) AS max_in FROM ind GROUP BY pred) i
  ON b.pred = i.pred
""",
)
def q_relation_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate relation-cardinality profile over the materialized KG:
    edge/endpoint counts + max fan-out/fan-in over DISTINCT (s,p,o) and the
    derived functional class (1:1 / 1:N / N:1 / N:M) — the schema-inference
    audit an ER/ontology layer runs before declaring a predicate functional
    (e.g. SAME_AS must come out N:1 onto component minima). One distinct
    pass is localCheckpointed and feeds three partial-aggregated rollups;
    the per-pred join sides are predicate-grain (tiny) so both final joins
    broadcast. Scale note: the distinct is the only corpus-sized shuffle and
    rides the triples table's conv-hash partitioning."""
    tr = cached_triples(spark, sf_dir)
    dtr = tr.select("subj", "pred", "obj").distinct().localCheckpoint(eager=True)
    base = dtr.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
    )
    max_out = (
        dtr.groupBy("pred", "subj").count()
        .groupBy("pred").agg(F.max("count").alias("max_out"))
    )
    max_in = (
        dtr.groupBy("pred", "obj").count()
        .groupBy("pred").agg(F.max("count").alias("max_in"))
    )
    return (
        base.join(F.broadcast(max_out), "pred")
        .join(F.broadcast(max_in), "pred")
        .select(
            "pred", "n_edges", "n_subj", "n_obj", "max_out", "max_in",
            F.when((F.col("max_out") == 1) & (F.col("max_in") == 1), "1:1")
            .when(F.col("max_out") == 1, "N:1")
            .when(F.col("max_in") == 1, "1:N")
            .otherwise("N:M")
            .alias("card_class"),
        )
    )


@register(
    "q_contradiction_audit",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ},
asserted AS (
  SELECT m.doc_id, m.mention_text,
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
SELECT CAST(a.doc_id AS VARCHAR) AS conv_id, b.cui,
       CAST(sum(CASE WHEN a.assertion = 'affirmed' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_affirmed,
       CAST(sum(CASE WHEN a.assertion = 'negated' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_negated
FROM asserted a JOIN best_gaz b ON lower(a.mention_text) = b.term
GROUP BY 1, 2
HAVING sum(CASE WHEN a.assertion = 'affirmed' THEN 1 ELSE 0 END) > 0
   AND sum(CASE WHEN a.assertion = 'negated' THEN 1 ELSE 0 END) > 0
""",
)
def q_contradiction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-conversation contradiction audit: concepts BOTH affirmed and
    NegEx-negated within one conversation (SURVEY §2 A-family QA; the KG
    consumer's 'conflicting evidence' report that decides whether a MENTIONS
    edge is trustworthy before release). Reuses the windowed-trigger
    assertion classifier (assertion.classify_assertions, pure JVM window
    expressions) + broadcast gazetteer link; one partial-aggregated groupBy
    on (conv, cui) with a HAVING-style post-filter — no extra shuffle beyond
    the aggregation itself."""
    from cliner_spark.assertion import classify_assertions
    from cliner_spark.entry_queries import (
        _A_POST,
        _A_PRE,
        _A_UNC,
        _doc_mentions_spark,
        tokenize,
    )
    from cliner_spark.link import link_mentions

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
    agg = linked.groupBy("conv_id", "cui").agg(
        F.sum((F.col("assertion") == "affirmed").cast("long")).alias("n_affirmed"),
        F.sum((F.col("assertion") == "negated").cast("long")).alias("n_negated"),
    )
    return agg.filter((F.col("n_affirmed") > 0) & (F.col("n_negated") > 0))


@register(
    "q_concept_jaccard",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}, {SQL_DOC_CUI},
marg AS (SELECT cui, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_node
         FROM dcui GROUP BY cui)
SELECT c.src, c.dst, c.n_pair, ms.n_node AS n_src, md.n_node AS n_dst,
       CAST(ms.n_node + md.n_node - c.n_pair AS BIGINT) AS n_union,
       round(CAST(c.n_pair AS DOUBLE)
             / (ms.n_node + md.n_node - c.n_pair), 6) AS jaccard,
       c.n_pair * 2 >= ms.n_node + md.n_node - c.n_pair AS strong
FROM coedges c
JOIN marg ms ON c.src = ms.cui
JOIN marg md ON c.dst = md.cui
""",
)
def q_concept_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concept-concept Jaccard similarity over conversation co-occurrence
    sets: |convs(a) AND convs(b)| / |convs(a) OR convs(b)| — the KG
    'related concept' edge weight (ontology-free relatedness). The union
    size is derived exactly from integer marginals (inclusion-exclusion, no
    second self-join); the `strong` >=0.5 flag is an exact integer
    cross-multiplication (never a float on the predicate path) and the
    float ratio is a single IEEE division rounded in-query on both engines.
    Marginals are concept-grain (tiny) -> both joins broadcast; the only
    corpus-sized work is the distinct + the co-pair aggregation the PMI
    query already pays."""
    dcui = (
        _doc_linked(spark, sf_dir)
        .select(F.col("conv_id").alias("doc_id"), "cui")
        .distinct()
        .localCheckpoint(eager=True)
    )
    a, b = dcui.alias("a"), dcui.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("a.cui") < F.col("b.cui")))
        .groupBy(F.col("a.cui").alias("src"), F.col("b.cui").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    marg = dcui.groupBy("cui").agg(F.count(F.lit(1)).alias("n_node"))
    ms = marg.select(F.col("cui").alias("src"), F.col("n_node").alias("n_src"))
    md = marg.select(F.col("cui").alias("dst"), F.col("n_node").alias("n_dst"))
    uni = F.col("n_src") + F.col("n_dst") - F.col("n_pair")
    return (
        pairs.join(F.broadcast(ms), "src")
        .join(F.broadcast(md), "dst")
        .select(
            "src", "dst", "n_pair", "n_src", "n_dst",
            uni.cast("long").alias("n_union"),
            F.round(F.col("n_pair").cast("double") / uni, 6).alias("jaccard"),
            (F.col("n_pair") * 2 >= uni).alias("strong"),
        )
    )


@register(
    "q_hits_authority",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
dcui AS (SELECT DISTINCT l.doc_id, l.cui FROM linked l),
a1 AS (SELECT cui, CAST(count(*) AS BIGINT) AS auth1 FROM dcui GROUP BY cui),
h1 AS (SELECT d.doc_id, CAST(sum(a1.auth1) AS BIGINT) AS hub1
       FROM dcui d JOIN a1 USING (cui) GROUP BY d.doc_id),
a2 AS (SELECT d.cui, CAST(sum(h1.hub1) AS BIGINT) AS auth2
       FROM dcui d JOIN h1 USING (doc_id) GROUP BY d.cui)
SELECT a1.cui, a1.auth1, a2.auth2
FROM a1 JOIN a2 ON a1.cui = a2.cui
""",
)
def q_hits_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authority scores (2 unnormalized power-iteration rounds) over
    the bipartite conversation-MENTIONS-concept graph: auth1 = in-degree,
    hub1(conv) = sum of its concepts' auth1, auth2(concept) = sum of its
    conversations' hub1. Unnormalized iterates stay exact BIGINTs
    (reduction-order-independent -> hash-identical across engines and
    partitionings; the per-round L2 normalization of textbook HITS only
    rescales, never reorders, the ranking). The concept-grain auth table is
    tiny -> broadcast onto the edge list; the single corpus-sized shuffle
    per round is the conv-grain hub aggregation, which rides the same
    conv-hash partitioning the triples sink uses."""
    dcui = (
        _doc_linked(spark, sf_dir)
        .select(F.col("conv_id").alias("doc_id"), "cui")
        .distinct()
        .localCheckpoint(eager=True)
    )
    a1 = dcui.groupBy("cui").agg(F.count(F.lit(1)).alias("auth1"))
    h1 = (
        dcui.join(F.broadcast(a1), "cui")
        .groupBy("doc_id")
        .agg(F.sum("auth1").alias("hub1"))
    )
    a2 = (
        dcui.join(h1, "doc_id")
        .groupBy("cui")
        .agg(F.sum("hub1").alias("auth2"))
    )
    return a1.join(F.broadcast(a2), "cui").select("cui", "auth1", "auth2")


@register(
    "q_concept_drift",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
lab AS (SELECT l.cui,
               substr(md5(CAST(l.doc_id AS VARCHAR)), 1, 1) < '8' AS in_a
        FROM linked l),
per AS (SELECT cui,
               CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        FROM lab GROUP BY cui),
tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS t_a, CAST(sum(n_b) AS BIGINT) AS t_b
        FROM per)
SELECT p.cui, p.n_a, p.n_b,
       CAST(abs(p.n_a * t.t_b - p.n_b * t.t_a) AS BIGINT) AS tvd_num,
       CASE WHEN t.t_a * t.t_b > 0
            THEN round(CAST(abs(p.n_a * t.t_b - p.n_b * t.t_a) AS DOUBLE)
                       / (t.t_a * t.t_b), 8) END AS freq_shift
FROM per p CROSS JOIN tot t
""",
)
def q_concept_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-concept distribution drift between two deterministic corpus
    halves (md5 hex-bucket split — the repo's reproducible-sampling idiom):
    |p_A(c) - p_B(c)|, each concept's contribution to the total-variation
    distance between the halves' mention distributions. TVD needs no logs,
    so the whole audit stays EXACT: the numerator |n_a*t_b - n_b*t_a| is
    BIGINT cross-multiplication, only the final reported ratio is one
    rounded IEEE division. This is the train/eval-mixture shift gate a
    data pipeline runs before accepting a new corpus slice. One
    partial-aggregated groupBy; totals are a 1-row broadcast cross join
    (never a global single-partition window)."""
    lab = _doc_linked(spark, sf_dir).select(
        "cui",
        (F.substring(F.md5(F.col("conv_id").cast("string")), 1, 1) < "8")
        .alias("in_a"),
    )
    per = lab.groupBy("cui").agg(
        F.sum(F.col("in_a").cast("long")).alias("n_a"),
        F.sum((~F.col("in_a")).cast("long")).alias("n_b"),
    ).localCheckpoint(eager=True)
    tot = per.agg(
        F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b")
    )
    num = F.abs(F.col("n_a") * F.col("t_b") - F.col("n_b") * F.col("t_a"))
    # zero guard (ADVICE r2): on an empty half Spark's Divide yields NULL
    # but DuckDB's IEEE default yields inf — make the degenerate case an
    # explicit NULL on both engines instead of an engine-dependent value.
    return per.crossJoin(F.broadcast(tot)).select(
        "cui", "n_a", "n_b",
        num.cast("long").alias("tvd_num"),
        F.when(
            F.col("t_a") * F.col("t_b") > 0,
            F.round(num.cast("double") / (F.col("t_a") * F.col("t_b")), 8),
        ).alias("freq_shift"),
    )


# --------------------------------------------------------------------------
# SFT training-prep over transcripts (loss masking, context truncation,
# deterministic chat render) + KG graph round 3 (closeness, quotient graph)
# --------------------------------------------------------------------------

# transcript view with role + per-turn whitespace token counts, derived from
# documents exactly as q_triples/q_tool_flow derive conv/turn/role
SQL_TXR = """
txr AS (
  SELECT CAST(doc_id % 97 AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY doc_id % 97 ORDER BY doc_id) - 1
              AS INTEGER) AS turn_idx,
         CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'user'
              WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         text, CAST(len(toks) AS BIGINT) AS n_toks
  FROM docs
)
"""


def _txr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of SQL_TXR (tokens_col = the repo's whitespace tokenizer)."""
    docs = load_docs(spark, sf_dir)
    w = Window.partitionBy(F.col("doc_id") % 97).orderBy("doc_id")
    return docs.select(
        (F.col("doc_id") % 97).cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.col("doc_id") % 3).cast("int") + 1,
        ).alias("role"),
        F.col("text"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_toks"),
    )


@register(
    "q_loss_mask",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_TXR.strip()},
off AS (
  SELECT conv_id, turn_idx, role, n_toks,
         CAST(coalesce(sum(n_toks) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tok_start
  FROM txr
),
msk AS (
  SELECT *, turn_idx - row_number()
         OVER (PARTITION BY conv_id ORDER BY turn_idx) AS isl
  FROM off WHERE role <> 'assistant'
)
SELECT conv_id,
       CAST(min(tok_start) AS BIGINT) AS span_start_tok,
       CAST(max(tok_start + n_toks) AS BIGINT) AS span_end_tok,
       CAST(count(*) AS BIGINT) AS n_turns_merged,
       CAST(sum(n_toks) AS BIGINT) AS n_masked_toks
FROM msk GROUP BY conv_id, isl
""",
)
def q_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT loss-mask spans: token ranges of non-assistant turns (user/tool),
    with ADJACENT masked turns merged into one span via gaps-and-islands
    (turn_idx - row_number over masked turns) — the per-example attention/
    loss mask a supervised-finetune packer materializes next to the packed
    ids. Token offsets come from a per-conversation running sum (one
    hash-partitioned window, no global sort); the whole plan is two windows
    + one partial-aggregated groupBy on the conversation key the transcript
    table is already partitioned by."""
    from cliner_spark.sftprep import loss_mask_spans

    return loss_mask_spans(_txr(spark, sf_dir))


@register(
    "q_context_truncate",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_TXR.strip()},
rev AS (
  SELECT conv_id, turn_idx, n_toks,
         CAST(sum(n_toks) OVER (
           PARTITION BY conv_id ORDER BY turn_idx DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sfx_toks
  FROM txr
),
tot AS (SELECT conv_id, CAST(sum(n_toks) AS BIGINT) AS total_toks FROM txr
        GROUP BY conv_id)
SELECT r.conv_id,
       CAST(min(r.turn_idx) AS INTEGER) AS first_kept_turn,
       CAST(count(*) AS BIGINT) AS n_kept_turns,
       CAST(sum(r.n_toks) AS BIGINT) AS kept_toks,
       CAST(max(t.total_toks) - sum(r.n_toks) AS BIGINT) AS dropped_toks
FROM rev r JOIN tot t ON r.conv_id = t.conv_id
WHERE r.sfx_toks <= 256
GROUP BY r.conv_id
""",
)
def q_context_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-budget truncation at turn boundaries: keep the maximal SUFFIX
    of turns whose total token count fits a 256-token budget (the
    chat-history clipping every serving/training stack performs — never
    splitting inside a turn). One descending per-conversation running sum,
    a <=budget filter, one groupBy; the conv-grain totals join is a
    same-key equi-join that AQE broadcasts. Conversations whose final turn
    alone exceeds the budget drop out (empty context) — identical semantics
    on both engines."""
    from cliner_spark.sftprep import truncate_to_budget

    return truncate_to_budget(_txr(spark, sf_dir), budget=256)


@register(
    "q_chat_render",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_TXR.strip()}
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(length(string_agg('<|' || role || '|>' || text, chr(10)
                              ORDER BY turn_idx)) AS BIGINT) AS n_chars,
       md5(string_agg('<|' || role || '|>' || text, chr(10)
                      ORDER BY turn_idx)) AS render_md5
FROM txr GROUP BY conv_id
""",
)
def q_chat_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic chat-template render: each conversation assembled as
    '<|role|>text' lines joined by newline IN TURN ORDER, reported as
    (length, md5) so the check proves the rendered training text is
    BYTE-IDENTICAL across engines and partitionings — the property a
    tokenize-then-train pipeline silently depends on. Order is pinned by
    sorting the collected (turn_idx, line) structs inside the row
    (array_sort on the struct's leading int field), never by assuming
    collect order; one partial-aggregated groupBy, zero extra shuffles."""
    from cliner_spark.sftprep import render_chat

    return render_chat(_txr(spark, sf_dir))


@register(
    "q_closeness",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
{SQL_DOC_CUI.strip().rstrip()},
e2 AS (SELECT src AS s, dst AS t FROM coedges UNION SELECT dst, src FROM coedges),
paths(root, node, d) AS (
  SELECT s, t, 1 FROM e2
  UNION
  SELECT p.root, e.t, p.d + 1 FROM paths p JOIN e2 e ON p.node = e.s
  WHERE p.d < 8 AND p.root <> e.t
),
mind AS (SELECT root, node, CAST(min(d) AS BIGINT) AS d FROM paths
         GROUP BY root, node)
SELECT root AS cui, CAST(count(*) AS BIGINT) AS n_reach,
       CAST(sum(d) AS BIGINT) AS sum_dist,
       round(CAST(count(*) AS DOUBLE) / sum(d), 6) AS closeness
FROM mind GROUP BY root
""",
)
def q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness centrality over the concept co-occurrence graph:
    ALL-sources BFS run as ONE multi-source frontier loop (state keyed by
    (root, node), superstep = frontier x edges join minus visited — the
    Pregel shape of graph.bfs_distances generalized to every root at once).
    n_reach/sum_dist stay exact BIGINTs; only the final reported ratio is
    one rounded IEEE division. Scale note: this runs on the CONCEPT graph
    (gazetteer-dimension-sized, thousands-to-millions of nodes — never the
    corpus-sized conv graph), so frontiers broadcast; the 8-hop guard
    matches the oracle's recursion bound and the loop still exits early on
    an empty frontier."""
    from cliner_spark.graph import group_concept_pairs, symmetrize

    sym = symmetrize(
        group_concept_pairs(_doc_linked(spark, sf_dir)).select("src", "dst")
    ).localCheckpoint(eager=True)
    visited = sym.select(
        F.col("src").alias("root"), F.col("dst").alias("node"), F.lit(1).alias("d")
    ).localCheckpoint(eager=True)
    frontier = visited
    for hop in range(2, 9):
        nxt = (
            frontier.join(
                F.broadcast(sym.select(F.col("src").alias("node"),
                                       F.col("dst").alias("nxt"))),
                "node",
            )
            .filter(F.col("root") != F.col("nxt"))
            .select("root", F.col("nxt").alias("node"))
            .distinct()
            .join(visited.select("root", "node"), ["root", "node"], "left_anti")
            .withColumn("d", F.lit(hop))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited.groupBy(F.col("root").alias("cui")).agg(
        F.count(F.lit(1)).alias("n_reach"),
        F.sum("d").alias("sum_dist"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("d"), 6
        ).alias("closeness"),
    )


@register(
    "q_quotient_graph",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
{SQL_CANON.strip().rstrip()},
dcui AS (SELECT DISTINCT l.doc_id, l.cui FROM linked l),
coedges AS (
  SELECT a.cui AS src, b.cui AS dst, CAST(count(*) AS BIGINT) AS n_pair
  FROM dcui a JOIN dcui b ON a.doc_id = b.doc_id AND a.cui < b.cui
  GROUP BY a.cui, b.cui
),
mapped AS (
  SELECT least(coalesce(cs.canon_cui, e.src), coalesce(cd.canon_cui, e.dst)) AS qsrc,
         greatest(coalesce(cs.canon_cui, e.src), coalesce(cd.canon_cui, e.dst)) AS qdst,
         e.n_pair
  FROM coedges e
  LEFT JOIN canon cs ON e.src = cs.cui
  LEFT JOIN canon cd ON e.dst = cd.cui
)
SELECT qsrc, qdst, CAST(count(*) AS BIGINT) AS n_underlying,
       CAST(sum(n_pair) AS BIGINT) AS weight
FROM mapped WHERE qsrc <> qdst GROUP BY qsrc, qdst
""",
)
def q_quotient_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG summarization: the QUOTIENT of the concept co-occurrence graph
    under SAME_AS canonicalization — every cui endpoint mapped to its
    connected-component canonical id (cached canon_map artifact, broadcast),
    intra-component edges collapsed away, surviving edges re-ordered
    (least/greatest) and their weights summed. This is the deduplicated
    'entity graph' a KG serves AFTER entity resolution, vs the raw
    surface-form graph before it. Endpoint mapping is two broadcast
    left joins against the dimension-sized canon artifact; the only
    corpus-sized work is the co-pair aggregation itself."""
    cm = cached_canon_map(spark)
    dcui = (
        _doc_linked(spark, sf_dir)
        .select(F.col("conv_id").alias("doc_id"), "cui")
        .distinct()
        .localCheckpoint(eager=True)
    )
    a, b = dcui.alias("a"), dcui.alias("b")
    e = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("a.cui") < F.col("b.cui")))
        .groupBy(F.col("a.cui").alias("src"), F.col("b.cui").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    cs = cm.select(F.col("cui").alias("src"), F.col("canon_cui").alias("c_src"))
    cd = cm.select(F.col("cui").alias("dst"), F.col("canon_cui").alias("c_dst"))
    mapped = (
        e.join(F.broadcast(cs), "src", "left")
        .join(F.broadcast(cd), "dst", "left")
        .select(
            F.least(
                F.coalesce(F.col("c_src"), F.col("src")),
                F.coalesce(F.col("c_dst"), F.col("dst")),
            ).alias("qsrc"),
            F.greatest(
                F.coalesce(F.col("c_src"), F.col("src")),
                F.coalesce(F.col("c_dst"), F.col("dst")),
            ).alias("qdst"),
            "n_pair",
        )
    )
    return (
        mapped.filter(F.col("qsrc") != F.col("qdst"))
        .groupBy("qsrc", "qdst")
        .agg(
            F.count(F.lit(1)).alias("n_underlying"),
            F.sum("n_pair").alias("weight"),
        )
    )


# --------------------------------------------------------------------------
# Agent-transcript analytics round 2d: protocol audit, tool reliability,
# conversation-level embedding pooling
# --------------------------------------------------------------------------


@register(
    "q_role_alternation_audit",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_TXR.strip()},
seq AS (
  SELECT conv_id, turn_idx, role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM txr
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS BIGINT)
         AS n_same_role_runs,
       CAST(sum(CASE WHEN prev_role = 'user' AND role = 'tool' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_tool_after_user,
       max(CASE WHEN turn_idx = 0 THEN role END) AS first_role,
       (max(CASE WHEN turn_idx = 0 THEN role END) <> 'user'
        OR sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) > 0) AS violates
FROM seq GROUP BY conv_id
""",
)
def q_role_alternation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript protocol audit per conversation: consecutive same-role
    turns, tool turns invoked directly off a user turn (an agent loop must
    route through the assistant), and whether the conversation opens with
    'user' — the ingest-QA gate a training pipeline applies before a
    transcript becomes SFT data (input_hint's role dimension). One
    hash-partitioned lag window + one partial-aggregated groupBy on the
    conversation key; no extra shuffles."""
    tx = _txr(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    seq = tx.select(
        "conv_id", "turn_idx", "role", F.lag("role").over(w).alias("prev_role")
    )
    same = (F.col("role") == F.col("prev_role")).cast("long")
    tau = ((F.col("prev_role") == "user") & (F.col("role") == "tool")).cast("long")
    first = F.max(F.when(F.col("turn_idx") == 0, F.col("role")))
    return seq.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(same).alias("n_same_role_runs"),
        F.sum(tau).alias("n_tool_after_user"),
        first.alias("first_role"),
        ((first != "user") | (F.sum(same) > 0)).alias("violates"),
    )


@register(
    "q_tool_wilson",
    f"""
WITH {SQL_TX_FULL.strip()},
seq AS (
  SELECT tool,
         lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role
  FROM txf
),
agg AS (
  SELECT tool, CAST(count(*) AS BIGINT) AS n_calls,
         CAST(sum(CASE WHEN next_role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_success
  FROM seq WHERE tool IS NOT NULL GROUP BY tool
)
SELECT tool, n_calls, n_success,
       round(CAST(n_success AS DOUBLE) / n_calls, 6) AS p_hat,
       round((CAST(n_success AS DOUBLE) / n_calls
                + 1.9208 / n_calls
                - 1.96 * sqrt((CAST(n_success AS DOUBLE) / n_calls)
                              * (1 - CAST(n_success AS DOUBLE) / n_calls) / n_calls
                              + 0.9604 / (CAST(n_calls AS DOUBLE) * n_calls)))
             / (1 + 3.8416 / n_calls), 6) AS wilson_lb
FROM agg
""",
)
def q_tool_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool reliability with a Wilson-score LOWER bound at 95%: success
    proxy = the tool turn hands control back to the assistant (next turn's
    role) rather than re-entering the tool. The lower bound is the ranking
    statistic a tool-selection policy consumes instead of the raw rate
    (penalizes small n). All counts are exact BIGINTs; the Wilson formula
    is evaluated with the IDENTICAL IEEE operation tree on both engines
    (z=1.96 constants folded: z^2=3.8416, z^2/2=1.9208, z^2/4=0.9604) and
    rounded in-query. One lead window + one tiny (tool-grain) aggregate."""
    from cliner_spark.entry_queries import load

    docs = load(spark, sf_dir, "documents")
    w97 = Window.partitionBy(F.col("doc_id") % 97).orderBy("doc_id")
    txf = docs.select(
        (F.col("doc_id") % 97).cast("string").alias("conv_id"),
        (F.row_number().over(w97) - 1).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.col("doc_id") % 3).cast("int") + 1,
        ).alias("role"),
        F.element_at(
            F.array(F.lit("search"), F.lit("code"), F.lit("browse"),
                    F.lit(None).cast("string"), F.lit(None).cast("string")),
            (F.col("doc_id") % 5).cast("int") + 1,
        ).alias("tool"),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    seq = txf.select("tool", F.lead("role").over(w).alias("next_role"))
    agg = (
        seq.filter(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.sum((F.col("next_role") == "assistant").cast("long")).alias("n_success"),
        )
    )
    n = F.col("n_calls")
    p = F.col("n_success").cast("double") / n
    wilson = (
        p + 1.9208 / n
        - 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n.cast("double") * n))
    ) / (1 + 3.8416 / n)
    return agg.select(
        "tool", "n_calls", "n_success",
        F.round(p, 6).alias("p_hat"),
        F.round(wilson, 6).alias("wilson_lb"),
    )


@register(
    "q_conv_embedding_pool",
    """
WITH e AS (
  SELECT CAST(vec_id % 97 AS VARCHAR) AS conv_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
  FROM embeddings
),
expl AS (
  SELECT conv_id, CAST(t.i AS INTEGER) AS dim,
         CAST(round(xd[t.i + 1] * 1000000) AS BIGINT) AS v_fp
  FROM e, unnest(range(len(xd))) AS t(i)
)
SELECT conv_id, dim,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(v_fp) AS BIGINT) AS sum_fp
FROM expl GROUP BY conv_id, dim
""",
)
def q_conv_embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level embedding mean-pool: every turn vector mapped to
    its conversation (vec_id % 97, the corpus' conv derivation), pooled
    per dimension in 1e-6 FIXED-POINT BIGINT arithmetic — exact,
    reduction-order-independent, hash-identical across engines and
    partitionings (float sums are not; this is the same fixed-point trick
    the PageRank/EWMA family uses). The pooled vector is what a
    conversation-grain ANN/dedup index consumes; (sum_fp, n_vecs) IS the
    mean (kept as the exact integer pair — a rounded float mean would
    tie-break differently per engine on exact halves). Plan: posexplode (zero
    shuffle, fan-out 64) + ONE partial-aggregated groupBy on
    (conv, dim) — at 100 TB this rides AQE with map-side combine; no
    collect, no window."""
    emb = load(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 97).cast("string").alias("conv_id"),
        F.col("embedding"),
    )
    expl = emb.select(
        "conv_id",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "conv_id",
        F.col("dim").cast("int").alias("dim"),
        F.round(F.col("x").cast("double") * 1000000).cast("long").alias("v_fp"),
    )
    return expl.groupBy("conv_id", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("v_fp").alias("sum_fp"),
    )


# --------------------------------------------------------------------------
# Round 2e: ingest contract audit, concept burstiness (hot-key detector),
# related-concept top-k, vocabulary coverage curve
# --------------------------------------------------------------------------


@register(
    "q_contract_audit",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_TXR.strip()},
per_conv AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         CAST(count(DISTINCT turn_idx) AS BIGINT) AS n_distinct_turns,
         CAST(max(turn_idx) AS BIGINT) AS max_turn,
         CAST(sum(CASE WHEN turn_idx < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         CAST(sum(CASE WHEN role NOT IN ('user','assistant','tool')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_role,
         CAST(sum(CASE WHEN text IS NULL OR trim(text) = ''
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text
  FROM txr GROUP BY conv_id
)
SELECT CAST(count(*) AS BIGINT) AS n_convs,
       CAST(sum(n_turns) AS BIGINT) AS n_rows,
       CAST(sum(n_turns - n_distinct_turns) AS BIGINT) AS n_dup_turn_keys,
       CAST(sum(CASE WHEN max_turn + 1 <> n_distinct_turns THEN 1 ELSE 0 END)
         AS BIGINT) AS n_noncontiguous_convs,
       CAST(sum(n_neg) AS BIGINT) AS n_negative_turn_idx,
       CAST(sum(n_bad_role) AS BIGINT) AS n_bad_role,
       CAST(sum(n_empty_text) AS BIGINT) AS n_empty_text,
       (sum(n_turns - n_distinct_turns) = 0
        AND sum(CASE WHEN max_turn + 1 <> n_distinct_turns THEN 1 ELSE 0 END) = 0
        AND sum(n_neg) = 0 AND sum(n_bad_role) = 0
        AND sum(n_empty_text) = 0) AS contract_ok
FROM per_conv
""",
)
def q_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-table DATA-CONTRACT audit in one pass: duplicate
    (conv_id, turn_idx) keys, non-contiguous turn sequences, negative
    indices, out-of-domain roles, empty text — the schema-beyond-types
    checks an ingest gate runs before a batch is admitted (complements
    q_turn_gap_audit's hole detection and the streaming integrity gate's
    triple-level checks). Two partial-aggregated groupBys (conv grain,
    then a single global row); no windows, no joins."""
    pc = _txr(spark, sf_dir).groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.countDistinct("turn_idx").alias("n_distinct_turns"),
        F.max("turn_idx").cast("long").alias("max_turn"),
        F.sum((F.col("turn_idx") < 0).cast("long")).alias("n_neg"),
        F.sum(
            (~F.col("role").isin("user", "assistant", "tool")).cast("long")
        ).alias("n_bad_role"),
        F.sum(
            (F.col("text").isNull() | (F.trim("text") == "")).cast("long")
        ).alias("n_empty_text"),
    )
    dup = F.sum(F.col("n_turns") - F.col("n_distinct_turns"))
    nc = F.sum((F.col("max_turn") + 1 != F.col("n_distinct_turns")).cast("long"))
    neg, badr, emp = F.sum("n_neg"), F.sum("n_bad_role"), F.sum("n_empty_text")
    return pc.agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.sum("n_turns").alias("n_rows"),
        dup.alias("n_dup_turn_keys"),
        nc.alias("n_noncontiguous_convs"),
        neg.alias("n_negative_turn_idx"),
        badr.alias("n_bad_role"),
        emp.alias("n_empty_text"),
        ((dup == 0) & (nc == 0) & (neg == 0) & (badr == 0) & (emp == 0))
        .alias("contract_ok"),
    )


@register(
    "q_concept_burstiness",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
per AS (
  SELECT l.cui, l.doc_id, CAST(count(*) AS BIGINT) AS c
  FROM linked l GROUP BY l.cui, l.doc_id
),
st AS (
  SELECT cui, CAST(count(*) AS BIGINT) AS n_convs,
         CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss
  FROM per GROUP BY cui
)
SELECT cui, n_convs, s AS n_mentions, ss AS sum_sq,
       round(CAST(n_convs * ss - s * s AS DOUBLE) / (n_convs * s), 6) AS fano,
       n_convs * ss - s * s > n_convs * s AS overdispersed
FROM st
""",
)
def q_concept_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-concept burstiness (Fano factor = variance/mean of per-
    conversation mention counts): the HOT-KEY detector that feeds the
    pipeline's skew-salting decision — an overdispersed concept (fano > 1)
    concentrates in few conversations and will skew any groupBy/join keyed
    on it, exactly the case triples.salted_partition_col exists for. The
    moments (n, sum, sum-of-squares) are exact BIGINTs so the
    overdispersion PREDICATE is an integer cross-multiplication
    (n*ss - s^2 > n*s, never a float compare); only the reported ratio is
    one rounded IEEE division. Two partial-aggregated groupBys."""
    per = (
        _doc_linked(spark, sf_dir)
        .groupBy("cui", "conv_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    st = per.groupBy("cui").agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    num = F.col("n_convs") * F.col("ss") - F.col("s") * F.col("s")
    return st.select(
        "cui", "n_convs",
        F.col("s").alias("n_mentions"),
        F.col("ss").alias("sum_sq"),
        F.round(num.cast("double") / (F.col("n_convs") * F.col("s")), 6)
        .alias("fano"),
        (num > F.col("n_convs") * F.col("s")).alias("overdispersed"),
    )


@register(
    "q_related_topk",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED}, {SQL_DOC_CUI},
marg AS (SELECT cui, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_node
         FROM dcui GROUP BY cui),
sym AS (
  SELECT src AS a, dst AS b, n_pair FROM coedges
  UNION ALL
  SELECT dst, src, n_pair FROM coedges
),
scored AS (
  SELECT s.a, s.b, s.n_pair,
         CAST(ma.n_node + mb.n_node - s.n_pair AS BIGINT) AS n_union,
         CAST(s.n_pair AS DOUBLE)
           / (ma.n_node + mb.n_node - s.n_pair) AS j
  FROM sym s JOIN marg ma ON s.a = ma.cui JOIN marg mb ON s.b = mb.cui
),
rk AS (
  SELECT a, b, n_pair, n_union, round(j, 6) AS jaccard,
         row_number() OVER (PARTITION BY a ORDER BY j DESC, b ASC) AS rnk
  FROM scored
)
SELECT a AS cui, b AS related_cui, n_pair, n_union, jaccard,
       CAST(rnk AS BIGINT) AS rnk
FROM rk WHERE rnk <= 3
""",
)
def q_related_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Related concepts' recommendation: top-3 neighbors per concept by
    co-occurrence Jaccard — the KG-serving feature behind a 'see also'
    panel. The rank key is the UNROUNDED single-division double (identical
    IEEE op on both engines) with a deterministic cui tie-break, so the
    row_number cut is engine-stable; the displayed score is rounded
    in-query. Ranking runs per-concept (window partitioned by the
    dimension-sized concept key — never a global sort); marginals
    broadcast."""
    dcui = (
        _doc_linked(spark, sf_dir)
        .select(F.col("conv_id").alias("doc_id"), "cui")
        .distinct()
        .localCheckpoint(eager=True)
    )
    a, b = dcui.alias("a"), dcui.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("a.cui") < F.col("b.cui")))
        .groupBy(F.col("a.cui").alias("src"), F.col("b.cui").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    sym = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "n_pair")
    ).select(F.col("src").alias("a"), F.col("dst").alias("b"), "n_pair")
    marg = dcui.groupBy("cui").agg(F.count(F.lit(1)).alias("n_node"))
    ma = marg.select(F.col("cui").alias("a"), F.col("n_node").alias("na"))
    mb = marg.select(F.col("cui").alias("b"), F.col("n_node").alias("nb"))
    uni = F.col("na") + F.col("nb") - F.col("n_pair")
    scored = (
        sym.join(F.broadcast(ma), "a").join(F.broadcast(mb), "b")
        .select(
            "a", "b", "n_pair",
            uni.cast("long").alias("n_union"),
            (F.col("n_pair").cast("double") / uni).alias("j"),
        )
    )
    w = Window.partitionBy("a").orderBy(F.col("j").desc(), F.col("b").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("a").alias("cui"), F.col("b").alias("related_cui"),
            "n_pair", "n_union",
            F.round("j", 6).alias("jaccard"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    "q_vocab_coverage",
    f"""
WITH {SQL_DOCS_TOKS},
tok AS (SELECT lower(t.tok) AS tok FROM docs, unnest(toks) AS t(tok)),
freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY tok),
rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok ASC) AS r FROM freq)
SELECT CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(sum(f) AS BIGINT) AS total_occurrences,
       CAST(sum(CASE WHEN r <= 100 THEN f ELSE 0 END) AS BIGINT) AS cov_100,
       CAST(sum(CASE WHEN r <= 1000 THEN f ELSE 0 END) AS BIGINT) AS cov_1000,
       CAST(sum(CASE WHEN r <= 10000 THEN f ELSE 0 END) AS BIGINT) AS cov_10000,
       round(CAST(sum(CASE WHEN r <= 100 THEN f ELSE 0 END) AS DOUBLE)
             / sum(f), 6) AS ratio_100,
       round(CAST(sum(CASE WHEN r <= 1000 THEN f ELSE 0 END) AS DOUBLE)
             / sum(f), 6) AS ratio_1000
FROM rk
""",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all token OCCURRENCES the
    top-100/1k/10k vocabulary covers — the statistic that sizes a
    tokenizer's vocab (and predicts OOV rate) before a BPE train run.
    Deterministic ranking (freq desc, token asc). Scale note: the global
    row_number over the VOCAB (dimension-sized, not corpus-sized) is the
    one single-partition window here — at UMLS/real-vocab scale you'd
    replace it with the two-pass threshold trick q_heavy_hitters uses; the
    corpus-sized work (tokenize + freq groupBy) is all partial-aggregated."""
    toks = load_docs(spark, sf_dir).select(
        F.explode(tokens_col(F.col("text"))).alias("tok")
    ).select(F.lower("tok").alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    w = Window.orderBy(F.col("f").desc(), F.col("tok").asc())
    rk = freq.select("tok", "f", F.row_number().over(w).alias("r"))
    c100 = F.sum(F.when(F.col("r") <= 100, F.col("f")).otherwise(0))
    c1k = F.sum(F.when(F.col("r") <= 1000, F.col("f")).otherwise(0))
    c10k = F.sum(F.when(F.col("r") <= 10000, F.col("f")).otherwise(0))
    return rk.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("f").alias("total_occurrences"),
        c100.alias("cov_100"),
        c1k.alias("cov_1000"),
        c10k.alias("cov_10000"),
        F.round(c100.cast("double") / F.sum("f"), 6).alias("ratio_100"),
        F.round(c1k.cast("double") / F.sum("f"), 6).alias("ratio_1000"),
    )


# --------------------------------------------------------------------------
# Round 2f: extractive summarization + dictionary topic tagging
# --------------------------------------------------------------------------


@register(
    "q_extractive_summary",
    rf"""
WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
dtok AS (
  SELECT DISTINCT doc_id,
         lower(t.tok) AS tok
  FROM (SELECT doc_id,
               {sql_tokens()} AS toks
        FROM documents) d, unnest(toks) AS t(tok)
),
df AS (SELECT tok, CAST(count(*) AS BIGINT) AS dfc FROM dtok GROUP BY tok),
pieces AS (
  SELECT doc_id, pi, regexp_replace(pc, '{WS_TRIM}', '', 'g') AS sentence
  FROM (SELECT doc_id, generate_subscripts(pcs, 1) AS pi, UNNEST(pcs) AS pc
        FROM (SELECT doc_id, regexp_split_to_array(text, '[.!?]+') AS pcs
              FROM documents))
  WHERE regexp_replace(pc, '{WS_TRIM}', '', 'g') <> ''
),
stok AS (
  SELECT p.doc_id, p.pi, p.sentence, lower(t.tok) AS tok
  FROM pieces p, unnest({sql_tokens("p.sentence")}) AS t(tok)
),
scored AS (
  SELECT s.doc_id, s.pi, s.sentence,
         CAST(sum(nd.n - df.dfc) AS BIGINT) AS rarity_score,
         CAST(count(*) AS BIGINT) AS n_scored_toks
  FROM stok s JOIN df ON s.tok = df.tok CROSS JOIN nd
  GROUP BY s.doc_id, s.pi, s.sentence
)
SELECT doc_id, sentence, rarity_score, n_scored_toks
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY rarity_score DESC, pi ASC) AS rn
      FROM scored)
WHERE rn = 1
""",
)
def q_extractive_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extractive one-sentence summary per document: sentences split on
    terminal punctuation, each scored by its RARITY MASS — sum over tokens
    of (n_docs - doc_frequency), the exact-integer analog of idf weighting
    (monotone in idf, no logs, so the ranking stays BIGINT-exact and
    engine-identical; position breaks ties). This is the summary/snippet
    picker a retrieval layer shows next to a hit. The df table is
    vocab-dimension-sized -> broadcast onto sentence tokens; the 1-row
    corpus-size carry is a broadcast scalar attach (whitelisted NLJ, same
    as q_tfidf_top_terms); ranking is a per-doc window, never global."""
    docs = load_docs(spark, sf_dir)
    nd = docs.agg(F.count(F.lit(1)).alias("n"))
    dtok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).select("doc_id", F.lower("tok").alias("tok")).distinct()
    df = dtok.groupBy("tok").agg(F.count(F.lit(1)).alias("dfc"))
    pieces = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), r"[.!?]+")).alias("pi", "pc"),
        )
        .select(
            "doc_id", "pi", F.regexp_replace("pc", WS_TRIM, "").alias("sentence")
        )
        .filter(F.col("sentence") != "")
    )
    stok = pieces.select(
        "doc_id", "pi", "sentence", F.explode(tokens_col("sentence")).alias("tok")
    ).select("doc_id", "pi", "sentence", F.lower("tok").alias("tok"))
    scored = (
        stok.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(nd))
        .groupBy("doc_id", "pi", "sentence")
        .agg(
            F.sum(F.col("n") - F.col("dfc")).alias("rarity_score"),
            F.count(F.lit(1)).alias("n_scored_toks"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("rarity_score").desc(), F.col("pi").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "sentence", "rarity_score", "n_scored_toks")
    )


TOPIC_DICT = [
    ("joins", "join"), ("joins", "hash"), ("joins", "sort"),
    ("scanning", "scan"), ("scanning", "filter"), ("scanning", "column"),
    ("performance", "slow"), ("performance", "fast"),
    ("performance", "big"), ("performance", "small"),
    ("batching", "batch"), ("batching", "row"), ("batching", "group"),
]
_TOPIC_VALUES = ", ".join(f"('{t}', '{w}')" for t, w in TOPIC_DICT)


@register(
    "q_topic_tags",
    f"""
WITH {SQL_DOCS_TOKS},
topics(topic, term) AS (VALUES {_TOPIC_VALUES}),
tok AS (SELECT doc_id, lower(t.tok) AS tok FROM docs, unnest(toks) AS t(tok)),
hits AS (
  SELECT k.doc_id, tp.topic, CAST(count(*) AS BIGINT) AS n_matches
  FROM tok k JOIN topics tp ON k.tok = tp.term
  GROUP BY k.doc_id, tp.topic
)
SELECT doc_id, topic, n_matches,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY n_matches DESC, topic ASC) AS BIGINT)
         AS topic_rank
FROM hits WHERE n_matches >= 3
""",
)
def q_topic_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-label dictionary topic tagging: a broadcast (topic, term)
    lexicon joined onto the token stream, topics with >=3 matching
    occurrences assigned per document and ranked deterministically
    (count desc, topic asc) — the curation-time domain labeler that feeds
    mixture weighting (q_mix_weights) when no trained classifier is
    available. The lexicon is tiny -> broadcast hash join on the token
    stream; one partial-aggregated groupBy; ranking windows over the
    per-doc key."""
    lex = spark.createDataFrame(TOPIC_DICT, "topic string, term string")
    tok = load_docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).select("doc_id", F.lower("tok").alias("tok"))
    hits = (
        tok.join(F.broadcast(lex), tok.tok == lex.term)
        .groupBy("doc_id", "topic")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_matches").desc(), F.col("topic").asc()
    )
    return (
        hits.filter(F.col("n_matches") >= 3)
        .withColumn("topic_rank", F.row_number().over(w).cast("long"))
        .select("doc_id", "topic", "n_matches", "topic_rank")
    )


# --------------------------------------------------------------------------
# Round 2g: KG serving views — edge provenance bundles, entity cards
# --------------------------------------------------------------------------


@register(
    "q_edge_provenance",
    f"""
{SQL_TR_CTE}
SELECT conv_id, subj AS concept,
       CAST(count(*) AS BIGINT) AS n_evidence,
       CAST(min(turn_idx) AS INTEGER) AS first_turn,
       CAST(max(turn_idx) AS INTEGER) AS last_turn,
       string_agg(CAST(turn_idx AS VARCHAR), ',' ORDER BY turn_idx)
         AS evidence_turns
FROM tr WHERE pred = 'ASSERTED_IN'
GROUP BY conv_id, subj
""",
)
def q_edge_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROVENANCE bundle per (conversation, concept) KG edge: every
    supporting turn, ordered, plus first/last evidence position — the
    payload a KG serving layer attaches so a consumer can jump to the
    exact turns that asserted an edge (and an auditor can re-verify it).
    The turn list is assembled ORDER-PINNED (in-row array_sort of
    (turn_idx) structs before joining — never relying on collect order),
    so the string is byte-identical across engines/partitionings. One
    predicate-filtered slice of the materialized triples + one
    partial-aggregated groupBy riding the table's conv-hash partitioning."""
    tr = cached_triples(spark, sf_dir)
    ev = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("turn_idx")))),
            lambda x: x["turn_idx"].cast("string"),
        ),
        ",",
    )
    return (
        tr.filter(F.col("pred") == "ASSERTED_IN")
        .groupBy("conv_id", F.col("subj").alias("concept"))
        .agg(
            F.count(F.lit(1)).alias("n_evidence"),
            F.min("turn_idx").cast("int").alias("first_turn"),
            F.max("turn_idx").cast("int").alias("last_turn"),
            ev.alias("evidence_turns"),
        )
    )


@register(
    "q_entity_card",
    f"""
WITH RECURSIVE {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
{SQL_CANON.strip().rstrip()},
lm AS (
  SELECT coalesce(c.canon_cui, l.cui) AS canon_cui, l.doc_id,
         lower(l.mention_text) AS form
  FROM linked l LEFT JOIN canon c ON l.cui = c.cui
)
SELECT canon_cui,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_convs,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT form) AS BIGINT) AS n_forms,
       string_agg(DISTINCT form, '|' ORDER BY form) AS surface_forms
FROM lm GROUP BY canon_cui
""",
)
def q_entity_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY CARD per canonical concept: conversation reach, mention
    volume, and the full sorted surface-form inventory merged under the
    SAME_AS component — the one-row-per-entity serving view a KG browser
    renders (and the human-readable check that canonicalization actually
    merged the variants it should). Endpoint mapping is one broadcast left
    join against the canon artifact; the distinct-form list is built from
    collect_set + in-row sort (deterministic, never collect-ordered); one
    partial-aggregated groupBy on the dimension-sized canonical key."""
    from cliner_spark.triples import with_canonical

    lm = with_canonical(
        _doc_linked(spark, sf_dir).select(
            F.col("conv_id").alias("doc_id"), "cui",
            F.lower("mention_text").alias("form"),
        ),
        cached_canon_map(spark),
    )
    forms = F.array_join(F.array_sort(F.collect_set("form")), "|")
    return lm.groupBy("canon_cui").agg(
        F.countDistinct("doc_id").alias("n_convs"),
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("form").alias("n_forms"),
        forms.alias("surface_forms"),
    )


# --------------------------------------------------------------------------
# Round 2h: gazetteer lifecycle — candidate surface-form mining, ambiguity
# inventory
# --------------------------------------------------------------------------


@register(
    "q_gazetteer_candidates",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_KEPT_MENTIONS}, {SQL_BEST_GAZ}, {SQL_LINKED},
nbr AS (
  SELECT l.cui, lower(d.toks[l.tok_start]) AS neighbor, 'L' AS side
  FROM linked l JOIN docs d USING (doc_id) WHERE l.tok_start >= 1
  UNION ALL
  SELECT l.cui, lower(d.toks[l.tok_end + 2]) AS neighbor, 'R' AS side
  FROM linked l JOIN docs d USING (doc_id)
  WHERE l.tok_end + 2 <= len(d.toks)
),
cnt AS (
  SELECT cui, neighbor, side, CAST(count(*) AS BIGINT) AS n_ctx
  FROM nbr WHERE neighbor IS NOT NULL AND neighbor <> ''
  GROUP BY cui, neighbor, side
)
SELECT cui, neighbor, side, n_ctx,
       CAST(row_number() OVER (PARTITION BY cui
                               ORDER BY n_ctx DESC, neighbor ASC, side ASC)
            AS BIGINT) AS rnk
FROM cnt
QUALIFY rnk <= 5
""",
)
def q_gazetteer_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer EXPANSION mining: the tokens that most often flank a
    linked mention of each concept, ranked per cui — the candidate list a
    curator reviews to add new surface forms / trigger words to the next
    gazetteer release (the KG improving its own dimension, the UMLS-ETL
    loop closed). One equi-join mention->turn tokens with JVM array
    indexing (no window over the corpus), one partial-aggregated groupBy,
    and a per-concept ranking window on the dimension-sized cui key."""
    from cliner_spark.entry_queries import _doc_mentions_spark
    from cliner_spark.link import link_mentions

    docs = load_docs(spark, sf_dir)
    d = docs.select("doc_id", tokens_col("text").alias("toks"))
    linked = link_mentions(
        _doc_mentions_spark(spark, sf_dir)
        .withColumnRenamed("doc_id", "conv_id")
        .withColumn("turn_idx", F.lit(0)),
        doc_gazetteer_df(spark),
    ).select(F.col("conv_id").alias("doc_id"), "cui", "tok_start", "tok_end")
    j = linked.join(d, "doc_id")
    left = j.filter(F.col("tok_start") >= 1).select(
        "cui",
        F.lower(F.element_at("toks", F.col("tok_start"))).alias("neighbor"),
        F.lit("L").alias("side"),
    )
    right = j.filter(F.col("tok_end") + 2 <= F.size("toks")).select(
        "cui",
        F.lower(F.element_at("toks", F.col("tok_end") + 2)).alias("neighbor"),
        F.lit("R").alias("side"),
    )
    cnt = (
        left.unionByName(right)
        .filter(F.col("neighbor").isNotNull() & (F.col("neighbor") != ""))
        .groupBy("cui", "neighbor", "side")
        .agg(F.count(F.lit(1)).alias("n_ctx"))
    )
    w = Window.partitionBy("cui").orderBy(
        F.col("n_ctx").desc(), F.col("neighbor").asc(), F.col("side").asc()
    )
    return (
        cnt.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
    )


@register(
    "q_ambiguous_terms",
    f"""
WITH gazv AS (SELECT * FROM {GAZ_SQL})
SELECT term, CAST(count(DISTINCT cui) AS BIGINT) AS n_cuis,
       string_agg(DISTINCT cui, ',' ORDER BY cui) AS cuis,
       CAST(max(score) AS DOUBLE) AS max_score
FROM gazv GROUP BY term
HAVING count(DISTINCT cui) > 1
""",
)
def q_ambiguous_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer AMBIGUITY inventory: surface forms claimed by more than
    one concept — the ER worklist that decides which terms need
    context-sensitive disambiguation (q_context_disambiguation) instead of
    the best-score default. Dimension-sized aggregation; the cui list is
    sorted in-row (deterministic, never collect-ordered)."""
    gaz = doc_gazetteer_df(spark)
    return (
        gaz.groupBy("term")
        .agg(
            F.countDistinct("cui").alias("n_cuis"),
            F.array_join(F.array_sort(F.collect_set("cui")), ",").alias("cuis"),
            F.max("score").cast("double").alias("max_score"),
        )
        .filter(F.col("n_cuis") > 1)
    )


# --------------------------------------------------------------------------
# Round 2i: curriculum phase assignment, corrupt-JSON ingest audit
# --------------------------------------------------------------------------


@register(
    "q_curriculum_phases",
    f"""
WITH {SQL_DOCS_TOKS},
lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM docs),
freq AS (SELECT n_toks, CAST(count(*) AS BIGINT) AS c FROM lens GROUP BY n_toks),
cum AS (SELECT n_toks, sum(c) OVER (ORDER BY n_toks) AS cum FROM freq),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM freq),
b AS (SELECT min(CASE WHEN c.cum >= (t.n + 2) // 3 THEN c.n_toks END) AS b1,
             min(CASE WHEN c.cum >= (2 * t.n + 2) // 3 THEN c.n_toks END) AS b2
      FROM cum c CROSS JOIN tot t)
SELECT l.doc_id, l.n_toks,
       CAST(CASE WHEN l.n_toks <= b.b1 THEN 1
                 WHEN l.n_toks <= b.b2 THEN 2
                 ELSE 3 END AS INTEGER) AS phase
FROM lens l CROSS JOIN b
""",
)
def q_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment: documents bucketed
    short->medium->long by EXACT length tertiles — the easy-first ordering
    a curriculum trainer feeds batches in. Implemented the 100 TB way from
    the start: tertile BOUNDS come from one tiny aggregate broadcast back
    over the corpus (never a global ntile sort of the fact table —
    equal-size ntile also splits ties across phases nondeterministically;
    boundary-inclusive CASE keeps equal-length docs in the same phase).

    Per ADVICE r2 the bounds are INTEGER-EXACT rank thresholds, not
    interpolated percentiles: b_k = the smallest length whose exact
    cumulative count reaches ceil(k*N/3) (pure integer arithmetic on both
    engines — `div`/`//` — so the phase predicate never touches a float
    and a 1-ulp engine difference can't flip a boundary doc). The global
    cumulative window runs over the DISTINCT-length frequency table
    (dimension-sized), not the corpus."""
    lens = load_docs(spark, sf_dir).select(
        "doc_id", F.size(tokens_col(F.col("text"))).cast("long").alias("n_toks")
    )
    freq = lens.groupBy("n_toks").agg(F.count(F.lit(1)).alias("c"))
    wc = Window.orderBy("n_toks").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = freq.select("n_toks", F.sum("c").over(wc).alias("cum"))
    tot = freq.agg(F.sum("c").alias("n"))
    b = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 2) div 3"), F.col("n_toks"))
        ).alias("b1"),
        F.min(
            F.when(F.col("cum") >= F.expr("(2 * n + 2) div 3"), F.col("n_toks"))
        ).alias("b2"),
    )
    return lens.crossJoin(F.broadcast(b)).select(
        "doc_id", "n_toks",
        F.when(F.col("n_toks") <= F.col("b1"), 1)
        .when(F.col("n_toks") <= F.col("b2"), 2)
        .otherwise(3)
        .cast("int")
        .alias("phase"),
    )


@register(
    "q_json_corrupt_audit",
    """
WITH ev AS (
  SELECT event_type,
         CASE WHEN event_id % 7 = 0
              THEN substr(props, 1, len(props) - 1) ELSE props END AS props
  FROM events
),
parsed AS (
  SELECT event_type, json_valid(props) AS ok,
         CASE WHEN json_valid(props)
              THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
  FROM ev
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
       CAST(sum(CASE WHEN ok AND k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing_k,
       CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM parsed GROUP BY event_type
""",
)
def q_json_corrupt_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record ingest audit for a semi-structured column: rows whose
    JSON fails to parse are COUNTED (never silently dropped or nulled into
    the stats) alongside the valid-row aggregate — the permissive-mode
    bookkeeping every JSON ingest needs before trusting a field. Corruption
    is synthesized deterministically (event_id % 7 loses its closing brace
    — truncation, because BOTH parsers must agree it is malformed; a
    TRAILING-garbage corruption exposed that Spark's get_json_object
    accepts 'valid object + junk' while DuckDB's json_valid rejects it)
    since the fixture JSON is all-valid.

    Per ADVICE r2: unparseable JSON (n_corrupt — explicit validity
    predicate: Spark get_json_object($) IS NULL vs DuckDB json_valid) is
    counted SEPARATELY from valid JSON whose $.k is absent or non-numeric
    (n_missing_k — Spark's cast nulls non-numerics, the oracle uses
    TRY_CAST for the same semantics). One projection + one
    partial-aggregated groupBy."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.when(
            F.col("event_id") % 7 == 0,
            F.expr("substring(props, 1, length(props) - 1)"),
        ).otherwise(F.col("props")).alias("props"),
    )
    ok = F.get_json_object("props", "$").isNotNull()
    parsed = ev.select(
        "event_type",
        ok.alias("ok"),
        F.when(ok, F.get_json_object("props", "$.k").cast("long")).alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~F.col("ok")).cast("long")).alias("n_corrupt"),
        F.sum((F.col("ok") & F.col("k").isNull()).cast("long")).alias(
            "n_missing_k"
        ),
        F.sum(F.col("k").isNotNull().cast("long")).alias("n_valid"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


# --------------------------------------------------------------------------
# Round 2j: dialog acts, role token share, n-gram novelty
# --------------------------------------------------------------------------


@register(
    "q_dialog_acts",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_TXR.strip()},
acts AS (
  SELECT conv_id, role,
         CASE WHEN text LIKE '%?%' THEN 'question'
              WHEN text LIKE '%!%' THEN 'exclaim'
              ELSE 'statement' END AS act
  FROM txr
)
SELECT conv_id, role, act, CAST(count(*) AS BIGINT) AS n_turns
FROM acts GROUP BY conv_id, role, act
""",
)
def q_dialog_acts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic dialog-act histogram per (conversation, role): question /
    exclaim / statement by terminal-punctuation cue — the cheap
    conversational-shape signal a transcript-quality model consumes (e.g.
    'assistant that never answers questions' detection). Pure JVM CASE
    projection + one partial-aggregated groupBy on the conversation key."""
    act = (
        F.when(F.col("text").contains("?"), "question")
        .when(F.col("text").contains("!"), "exclaim")
        .otherwise("statement")
    )
    return (
        _txr(spark, sf_dir)
        .select("conv_id", "role", act.alias("act"))
        .groupBy("conv_id", "role", "act")
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )


@register(
    "q_role_token_share",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_TXR.strip()},
per AS (
  SELECT conv_id,
         CAST(sum(CASE WHEN role = 'assistant' THEN n_toks ELSE 0 END) AS BIGINT)
           AS assistant_toks,
         CAST(sum(n_toks) AS BIGINT) AS total_toks
  FROM txr GROUP BY conv_id
)
SELECT conv_id, assistant_toks, total_toks,
       round(CAST(assistant_toks AS DOUBLE) / total_toks, 6) AS assistant_share,
       assistant_toks * 2 > total_toks AS assistant_dominant
FROM per WHERE total_toks > 0
""",
)
def q_role_token_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assistant verbosity share per conversation: fraction of all tokens
    spoken by the assistant — the SFT-data QA stat that flags transcripts
    where the model-to-be-learned-from barely speaks (low share) or
    monologues (high share). The dominance PREDICATE is an exact integer
    cross-multiplication; only the reported share is one rounded IEEE
    division. One conditional-sum groupBy."""
    per = _txr(spark, sf_dir).groupBy("conv_id").agg(
        F.sum(
            F.when(F.col("role") == "assistant", F.col("n_toks")).otherwise(0)
        ).alias("assistant_toks"),
        F.sum("n_toks").alias("total_toks"),
    )
    return per.filter(F.col("total_toks") > 0).select(
        "conv_id", "assistant_toks", "total_toks",
        F.round(
            F.col("assistant_toks").cast("double") / F.col("total_toks"), 6
        ).alias("assistant_share"),
        (F.col("assistant_toks") * 2 > F.col("total_toks"))
        .alias("assistant_dominant"),
    )


@register(
    "q_ngram_novelty",
    f"""
WITH {SQL_DOCS_TOKS},
sh AS (
  SELECT DISTINCT doc_id,
         lower(array_to_string(toks[t.i + 1 : t.i + 3], ' ')) AS shingle
  FROM docs, unnest(range(len(toks) - 2)) AS t(i)
),
firsts AS (SELECT shingle, CAST(min(doc_id) AS BIGINT) AS first_doc
           FROM sh GROUP BY shingle)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novelty
FROM sh s JOIN firsts f ON s.shingle = f.shingle
GROUP BY s.doc_id
""",
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY against everything ingested before it
    (doc_id = arrival order): the fraction of a doc's distinct 3-shingles
    whose FIRST corpus occurrence is this doc — the marginal-contribution
    curve a dedup/curation budget uses to decide when a source is
    exhausted (novelty trending to 0 = stop ingesting). first-occurrence
    table is one groupBy over the distinct shingle set (same unit the
    Jaccard/boilerplate family already builds); the join back is
    shingle-keyed and partial-aggregated. No window over the corpus, no
    ordering dependence — min(doc_id) is the arrival rule."""
    docs = load_docs(spark, sf_dir).select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    sh = (
        docs.select(
            "doc_id",
            F.explode(
                # guard: Spark's sequence(0, -1) DESCENDS (it is not empty),
                # so short docs need an explicit empty array
                F.when(
                    F.size("toks") >= 3,
                    F.transform(
                        F.sequence(F.lit(0), F.size("toks") - 3),
                        lambda i: F.lower(
                            F.concat_ws(" ", F.slice(F.col("toks"), i + 1, 3))
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("shingle"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    j = sh.join(firsts, "shingle")
    novel = F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        novel.alias("n_novel"),
        F.round(novel.cast("double") / F.count(F.lit(1)), 6).alias("novelty"),
    )


# --------------------------------------------------------------------------
# Round 2k: MinHash estimate-vs-exact error audit (completes the
# sketch-with-verified-error family: HLL / CMS / KMV / approx-percentile)
# --------------------------------------------------------------------------


@register(
    "q_minhash_error_audit",
    f"""
WITH {SQL_DOCS_TOKS}, {SQL_SHINGLES_2},
sig AS (
  SELECT doc_id,
         min(md5('0#' || shingle)) AS h0, min(md5('1#' || shingle)) AS h1,
         min(md5('2#' || shingle)) AS h2, min(md5('3#' || shingle)) AS h3
  FROM sh2 GROUP BY doc_id
),
comp AS (
  SELECT doc_id, 0 AS i, h0 AS sig FROM sig
  UNION ALL SELECT doc_id, 1, h1 FROM sig
  UNION ALL SELECT doc_id, 2, h2 FROM sig
  UNION ALL SELECT doc_id, 3, h3 FROM sig
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_match
  FROM comp a JOIN comp b ON a.i = b.i AND a.sig = b.sig AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh2 GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN sh2 a ON a.doc_id = c.doc_a
  JOIN sh2 b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b, c.n_match, co.n_common,
       CAST(sa.sz + sb.sz - co.n_common AS BIGINT) AS n_union,
       round(c.n_match / 4.0, 6) AS est_sim,
       round(CAST(co.n_common AS DOUBLE) / (sa.sz + sb.sz - co.n_common), 6)
         AS exact_sim,
       abs(c.n_match * (sa.sz + sb.sz - co.n_common) - 4 * co.n_common)
         <= 2 * (sa.sz + sb.sz - co.n_common) AS within_half
FROM cand c
JOIN common co ON c.doc_a = co.doc_a AND c.doc_b = co.doc_b
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
""",
)
def q_minhash_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash similarity ESTIMATE vs the EXACT Jaccard it estimates, per
    LSH candidate pair — the error audit that closes the sketch family
    (HLL / Count-Min / KMV / approx-percentile all carry one): est =
    matching components / 4, exact = |A∩B|/|A∪B| on the same 2-shingle
    sets, plus a `within_half` acceptance flag evaluated as an exact
    BIGINT cross-multiplication (|m·u − 4c| ≤ 2u ⟺ |est − exact| ≤ 0.5 —
    never a float predicate). The exact side is computed ONLY for the
    candidate pairs (the verify-candidates-not-corpus pattern
    q_lsh_verified uses): intersections come from two shingle joins
    against the pair list, so at 100 TB cost scales with candidates, not
    pairs²."""
    from cliner_spark import dedup as _dd

    docs = load_docs(spark, sf_dir)
    cand = _dd.lsh_candidate_pairs(docs, min_bands=2).withColumnRenamed(
        "n_bands", "n_match"
    )
    sh2 = _dd.shingles(docs, n=2).localCheckpoint(eager=True)
    sizes = sh2.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh2.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh2.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        F.broadcast(cand.select("doc_a", "doc_b"))
        .join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    uni = F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    return (
        cand.join(common, ["doc_a", "doc_b"])
        .join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a", "doc_b", "n_match", "n_common",
            uni.cast("long").alias("n_union"),
            F.round(F.col("n_match") / F.lit(4.0), 6).alias("est_sim"),
            F.round(F.col("n_common").cast("double") / uni, 6).alias("exact_sim"),
            (
                F.abs(F.col("n_match") * uni - 4 * F.col("n_common"))
                <= 2 * uni
            ).alias("within_half"),
        )
    )


# Round-3 additions register themselves via entry_queries' @register;
# imported at THIS module's tail so every queries_r2 helper/fragment it
# reuses (SQL_DOCPAIR_GRAPH, SQL_TR_CTE, SQL_TXR, cached_triples, ...) is
# defined regardless of which query module an importer loads first.
from cliner_spark import queries_r3  # noqa: E402,F401
