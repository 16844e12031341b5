"""Large-scale training-data deduplication operators (driver mandate).

All operators are pure DataFrame expressions (JVM-side, codegen'd):
- exact dedup: md5 fingerprint of normalized text, hash groupBy
- n-gram Jaccard: shingle inverted index + document-frequency cut (skew
  control: a shingle occurring in >df_cut docs is a stop-shingle and
  generates no candidate pairs — the classic hot-key guard at 100 TB)
- MinHash + LSH banding: signature h_i = min over shingles of
  md5(i || '#' || shingle) (string-min of a cryptographic hex is a valid
  permutation surrogate and reproduces bit-identically in any engine),
  candidate pairs = docs agreeing on >= min_bands of the band values
- SimHash: 16-bit sign-aggregated token hash (weighted by occurrence)

MinHash/LSH/SimHash use md5 rather than xxhash64 deliberately: the oracle
(DuckDB) has md5 with identical semantics, so dedup results are
cross-engine verifiable. At production scale xxhash64 would be ~4x faster;
swap the hash function, not the algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cliner_spark.tokenization import tokens_col

DEFAULT_DF_CUT = 50
N_MINHASHES = 4
SIMHASH_BITS = 16


def normalized_fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, fp): md5 of whitespace-normalized lowercase text."""
    return df.select(
        F.col(id_col),
        F.md5(F.lower(F.concat_ws(" ", tokens_col(text_col)))).alias("fp"),
    )


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per fingerprint group: representative = min id, group size."""
    return (
        normalized_fingerprint(df, id_col, text_col)
        .groupBy("fp")
        .agg(F.min(id_col).alias("representative"), F.count(F.lit(1)).alias("n_docs"))
    )


def shingles(df: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct lowercase token n-gram shingles per document."""
    toks = tokens_col(text_col)
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.lower(F.concat_ws(" ", F.slice(toks, i + 1, n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    df_cut: int = DEFAULT_DF_CUT,
    min_jaccard: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup candidate pairs by n-gram Jaccard over an inverted index.

    Jaccard is computed on the df-cut shingle sets (both |A| and |common|
    use the same filtered universe — the spec the oracle mirrors).
    """
    sh = shingles(df, n, id_col, text_col)
    keep = (
        sh.groupBy("shingle")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") <= df_cut)
        .select("shingle")
    )
    sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("sz", "size_a"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("sz", "size_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out.select("doc_a", "doc_b", "common", "size_a", "size_b", "jaccard")


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = N_MINHASHES,
    shingle_n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    sh: DataFrame | None = None,
) -> DataFrame:
    """(id, h0..h{k-1}): h_i = min md5(i # shingle) as hex string.

    sh: optionally pass a precomputed/persisted (id, shingle) set so callers
    that also need the shingles (e.g. the LSH verify stage) shingle ONCE —
    at 100 TB the shingle explode is the expensive pass, not the min-agg."""
    if sh is None:
        sh = shingles(df, shingle_n, id_col, text_col)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}#"), F.col("shingle")))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    df: DataFrame,
    n_hashes: int = N_MINHASHES,
    shingle_n: int = 2,
    min_bands: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    sh: DataFrame | None = None,
    bucket_cut: int | None = None,
) -> DataFrame:
    """Pairs agreeing on >= min_bands of the n (1-row) bands.

    bucket_cut: optionally drop band buckets holding more than this many
    docs before the self-join. A duplication-heavy corpus turns band
    buckets into hot keys (a bucket of B docs emits B^2/2 candidate pairs —
    measured 193 s vs 8 s for the df-cut Jaccard index on a 50k-doc corpus
    where every doc had 10 exact copies), and docs sharing a mega-bucket
    are near-certain duplicates that the CHEAP exact-dedup pass
    (exact_dup_groups) already collapses — so at scale run exact dedup
    first and cap the buckets, exactly the standard cascade ordering.
    None (default) keeps the exhaustive semantics the oracle replays."""
    sig = minhash_signatures(df, n_hashes, shingle_n, id_col, text_col, sh=sh)
    bands = None
    for i in range(n_hashes):
        b = sig.select(F.col(id_col), F.lit(i).alias("band"), F.col(f"h{i}").alias("sig"))
        bands = b if bands is None else bands.unionByName(b)
    if bucket_cut is not None:
        keep = (
            bands.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= bucket_cut)
            .select("band", "sig")
        )
        bands = bands.join(keep, ["band", "sig"])
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .filter(F.col("n_bands") >= min_bands)
    )


def dup_clusters(
    df: DataFrame,
    n: int = 3,
    df_cut: int = DEFAULT_DF_CUT,
    min_jaccard: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate clusters: connected components over the Jaccard pair
    graph (edges = pairs with jaccard >= min_jaccard). Returns
    (doc_id, cluster_id) for EVERY document — singletons are their own
    cluster; cluster_id = min doc_id in the component.

    Scale: the pair graph after the df_cut + threshold is tiny relative to
    the corpus; the CC loop (canonicalize.connected_components) runs over
    edge ENDPOINTS only — singletons (the overwhelming majority of a 100 TB
    corpus) never enter the iterative rounds and are attached afterwards by
    a single left join, label = own id. Cluster ids are numeric min (no
    lexicographic trap).
    """
    from cliner_spark.canonicalize import connected_components

    pairs = jaccard_pairs(df, n=n, df_cut=df_cut, min_jaccard=min_jaccard,
                          id_col=id_col, text_col=text_col)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comps = connected_components(edges).withColumnRenamed("node", id_col)
    return (
        df.select(F.col(id_col))
        .join(comps, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("comp"), F.col(id_col)).alias("cluster_id"),
        )
    )


def simhash(
    df: DataFrame,
    bits: int = SIMHASH_BITS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, simhash): sign-aggregated token hash over `bits` bits taken from
    the first hex chars of md5(token); occurrence-weighted."""
    assert bits % 4 == 0 and bits <= 32
    n_hex = bits // 4
    tok = (
        df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
        .withColumn("hx", F.substring(F.md5(F.lower("tok")), 1, n_hex))
    )
    # per hex digit position d (0-based), value 0..15 -> 4 bits
    contrib_aggs = []
    for p in range(bits):
        d, j = divmod(p, 4)
        digit = F.conv(F.substring("hx", d + 1, 1), 16, 10).cast("int")
        bit = F.floor(digit / (2**j)).cast("int") % 2
        contrib_aggs.append(F.sum(bit * 2 - 1).alias(f"s{p}"))
    agg = tok.groupBy(id_col).agg(*contrib_aggs)
    sim = None
    for p in range(bits):
        term = F.when(F.col(f"s{p}") > 0, F.lit(2**p)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select(F.col(id_col), sim.cast("bigint").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    bits: int = SIMHASH_BITS,
    n_bands: int = 4,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-duplicate pairs via hamming-band blocking:
    (doc_a, doc_b, hamming) for pairs with hamming(simhash) <= max_hamming.

    The fingerprint is split into n_bands bit-bands; candidates must share
    at least one full band (equi-join on (band, value) — never all-pairs).
    Pigeonhole guarantee: with n_bands > max_hamming the blocking is
    EXHAUSTIVE, not approximate — <=max_hamming differing bits cannot touch
    all n_bands, so every qualifying pair shares some band. Verification is
    a JVM popcount on the XOR of the two fingerprints.
    """
    assert n_bands > max_hamming, "need n_bands > max_hamming for completeness"
    assert bits % n_bands == 0
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    sh = simhash(df, bits=bits, id_col=id_col, text_col=text_col)
    bands = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(F.array(*[F.lit(b) for b in range(n_bands)])).alias("band"),
    ).withColumn(
        "bv",
        F.expr(f"shiftright(simhash, band * {band_bits})").bitwiseAND(F.lit(mask)),
    )
    a = bands.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("ha"), "band", "bv"
    )
    b = bands.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("hb"), "band", "bv"
    )
    cand = (
        a.join(b, ["band", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.filter(ham <= max_hamming).select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    n_planes: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (driver mandate: the
    embedding-space member of the dedup family).

    All-pairs guard: candidates are restricted to a shared
    sign-random-projection bucket (similarity.lsh_buckets) — the equi-join
    on bucket replaces the O(n²) cross product, exactly the shape of the
    minhash band join — then the exact rounded cosine is checked inside the
    bucket. Collision probability per plane is 1 - θ/π, so recall → 1 as
    cosine → 1: true near-duplicates (the 100 TB dedup regime) are almost
    never lost, while distant pairs are pruned before any dot product.
    Deterministic md5 hyperplanes make the result engine-reproducible
    (DuckDB oracle twin replays it bit-for-bit).
    """
    from cliner_spark.similarity import cosine_sim, lsh_buckets

    b = lsh_buckets(emb, n_planes, dims, id_col, vec_col)
    a = b.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket")
    c = b.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket")
    return (
        a.join(c, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", cosine_sim(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def crossdoc_ngram_dup(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document exact n-gram duplication rate per document (the
    corpus-level substring-dup signal of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", at n-gram granularity):

      n_pos      — number of n-gram positions in the doc
      n_dup_pos  — positions whose gram also occurs in >=1 OTHER doc
      dup_rate   — n_dup_pos / n_pos (0.0 when the doc has no grams)

    Scale shape: gram->doc-count is a two-level aggregation (map-side
    partial combine collapses within-doc repeats before the shuffle); the
    duplicated-gram set joins back as a LEFT SEMI join on the gram key —
    never a fact x fact join, and AQE's skew split handles stop-gram
    hot keys. Per-position rows exist only inside the stage that feeds the
    final per-doc count; nothing corpus-sized is ever collected.
    """
    toks = tokens_col(text_col)
    grams_arr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.lower(F.concat_ws(" ", F.slice(toks, i + 1, n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = df.select(F.col(id_col), F.explode(grams_arr).alias("gram"))
    dup_grams = (
        pos.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    dup_pos = (
        pos.join(dup_grams, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_pos"))
    )
    totals = df.select(
        F.col(id_col), F.size(grams_arr).cast("bigint").alias("n_pos")
    )
    return (
        totals.join(dup_pos, id_col, "left")
        .select(
            F.col(id_col),
            F.greatest("n_pos", F.lit(0).cast("bigint")).alias("n_pos"),
            F.coalesce("n_dup_pos", F.lit(0).cast("bigint")).alias("n_dup_pos"),
            F.round(
                F.when(
                    F.col("n_pos") > 0,
                    F.coalesce("n_dup_pos", F.lit(0).cast("bigint"))
                    / F.col("n_pos").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_rate"),
        )
    )


def semdedup_keep(
    emb: DataFrame,
    threshold: float = 0.35,
    n_planes: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup decision (Abbas et al. 2023): cluster
    embedding near-duplicates (cosine >= threshold within an LSH bucket)
    by connected components, keep exactly one representative per cluster
    (the min id). Returns (id, cluster_id, keep) for EVERY vector.

    Scale: pairs come from embedding_neardup_pairs (bucketed, never
    all-pairs); the CC loop runs over pair-graph ENDPOINTS only —
    singletons join in afterwards with keep = true, so the iterative part
    touches only near-duplicate vectors (a sliver of a 100 TB corpus).
    """
    from cliner_spark.canonicalize import connected_components

    pairs = embedding_neardup_pairs(
        emb, threshold=threshold, n_planes=n_planes, dims=dims,
        id_col=id_col, vec_col=vec_col,
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comps = connected_components(edges).withColumnRenamed("node", id_col)
    return (
        emb.select(F.col(id_col))
        .join(comps, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("comp"), F.col(id_col)).alias("cluster_id"),
            (
                F.coalesce(F.col("comp"), F.col(id_col)) == F.col(id_col)
            ).alias("keep"),
        )
    )


def ssjoin_prefix(
    df: DataFrame,
    n: int = 3,
    theta_pct: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT thresholded set-similarity join via prefix filtering (the
    PPJoin family, Xiao et al. 2008) — all pairs with n-gram-set Jaccard
    >= theta_pct/100, with NO df-cut approximation and NO all-pairs stage.

    Prefix principle: order each document's shingle set by a global total
    order (document frequency asc, shingle asc — rarest first); if
    J(A,B) >= t then A and B must share a shingle within their first
    |X| - ceil(t*|X|) + 1 shingles. So the inverted index is built over
    PREFIXES only — the hot head of the df distribution (the shingles the
    df-cut would drop) sits at the END of the order and almost never lands
    in a prefix, which is what makes this exact AND skew-safe: candidate
    generation cost tracks rare-shingle frequency, verification touches
    candidates only. The final threshold predicate is the exact integer
    cross-multiplication 100*common >= theta_pct*(|A|+|B|-common).

    theta_pct is an integer percentage so the filter stays in exact
    integer arithmetic end to end (float thresholds drift on boundaries).
    """
    sh = shingles(df, n, id_col, text_col)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    ranked = sh.join(dfreq, "shingle")
    w = Window.partitionBy(id_col).orderBy(F.asc("_df"), F.asc("shingle"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    prefix = (
        ranked.withColumn("_rn", F.row_number().over(w))
        .join(sizes, id_col)
        .filter(
            F.col("_rn")
            <= F.col("sz") - F.ceil(F.col("sz") * theta_pct / 100) + 1
        )
        .select(id_col, "shingle")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("doc_a"), F.col("shingle").alias("_sa"))
    sb = sh.select(F.col(id_col).alias("_db"), F.col("shingle").alias("_sb"))
    common = (
        cand.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("_db")) & (F.col("_sa") == F.col("_sb")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("sz", "size_a"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("sz", "size_b"), "doc_b")
        .filter(
            100 * F.col("common")
            >= theta_pct * (F.col("size_a") + F.col("size_b") - F.col("common"))
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common")),
                6,
            ),
        )
    )
    return out.select("doc_a", "doc_b", "common", "size_a", "size_b", "jaccard")


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    shingle_n: int = 3,
    n_hashes: int = N_MINHASHES,
    min_bands: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus without re-deduping the
    corpus — the production arrival-time shape (at 10^12 docs you never
    re-pair the history; the corpus side is a persisted fingerprint + band
    index this function would read as a table).

    Per batch document:
      exact_dup    — normalized-text fingerprint already present in corpus
      n_candidates — corpus docs agreeing on >= min_bands MinHash bands
      keep         — not an exact dup and no near-dup candidate

    Joins are batch-driven: the corpus fingerprint set is probed with a
    LEFT SEMI-shaped join (small batch side), band matches are
    (band, sig)-equi — never batch x corpus.
    """
    corp_fp = normalized_fingerprint(corpus, id_col, text_col).select("fp").distinct()
    batch_fp = normalized_fingerprint(batch, id_col, text_col)
    exact = (
        batch_fp.join(corp_fp.withColumnRenamed("fp", "_cfp"),
                      F.col("fp") == F.col("_cfp"), "left")
        .select(id_col, F.col("_cfp").isNotNull().alias("exact_dup"))
    )

    def _bands(df: DataFrame, side: str) -> DataFrame:
        sig = minhash_signatures(df, n_hashes, shingle_n, id_col, text_col)
        out = None
        for i in range(n_hashes):
            b = sig.select(
                F.col(id_col).alias(f"{side}_id"),
                F.lit(i).alias("band"),
                F.col(f"h{i}").alias("sig"),
            )
            out = b if out is None else out.unionByName(b)
        return out

    cand = (
        _bands(batch, "b")
        .join(_bands(corpus, "c"), ["band", "sig"])
        .groupBy("b_id", "c_id")
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .filter(F.col("n_bands") >= min_bands)
        .groupBy("b_id")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
        .withColumnRenamed("b_id", id_col)
    )
    return (
        exact.join(cand, id_col, "left")
        .select(
            id_col,
            "exact_dup",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
            (~F.col("exact_dup") & (F.coalesce("n_candidates", F.lit(0)) == 0)).alias(
                "keep"
            ),
        )
    )
