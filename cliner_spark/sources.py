"""Gazetteer ETL (SURVEY.md S5; reference analog:
code/feature_extraction/umls_dir/create_sqliteDB.py, approx/unverified §0).

The reference builds a SQLite string->CUI/TUI store from UMLS RRF files
(MRCONSO.RRF / MRSTY.RRF — pipe-separated, no header). Here the same ETL is
one Spark job: RRF-as-CSV scan -> project/dedupe/join -> gazetteer parquet,
which then broadcasts into the linking stage. At 100 TB-corpus scale the
gazetteer remains dimension-sized (UMLS ~ millions of rows) — one shuffle on
cui to join concept strings with semantic types, then a coalesced write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cliner_spark.tokenization import drop_blank_turns

# MRCONSO.RRF columns (subset we use, 0-based positions in the 18-col format)
_CONSO_COLS = {0: "cui", 1: "lat", 2: "ts", 4: "pref", 11: "sab", 14: "str"}
# MRSTY.RRF: cui, tui, stn, sty, atui, cvf
_STY_COLS = {0: "cui", 1: "tui", 3: "sty"}


def read_rrf(spark: SparkSession, path: str, col_map: dict[int, str]) -> DataFrame:
    """Read a pipe-separated RRF file (no header, trailing '|')."""
    df = spark.read.csv(path, sep="|", header=False)
    return df.select(
        *[F.col(f"_c{i}").alias(name) for i, name in col_map.items()]
    )


def build_gazetteer(
    spark: SparkSession,
    mrconso_path: str,
    mrsty_path: str,
    languages: tuple[str, ...] = ("ENG",),
    type_map: dict[str, str] | None = None,
) -> DataFrame:
    """MRCONSO + MRSTY -> gazetteer(term, cui, sem_type, canonical, score).

    - term: lowercase concept string (one row per distinct (term, cui))
    - canonical: the concept's preferred string (TS='P' row), lowercase
    - sem_type: mapped from the semantic-type name via type_map (defaults to
      the i2b2 3-way problem/test/treatment buckets); unmapped types dropped
    - score: 0.99 for preferred strings, 0.7 otherwise (deterministic)
    """
    type_map = type_map if type_map is not None else DEFAULT_TYPE_MAP
    conso = read_rrf(spark, mrconso_path, _CONSO_COLS).filter(
        F.col("lat").isin(*languages)
    )
    sty = read_rrf(spark, mrsty_path, _STY_COLS)

    map_expr = F.create_map(
        *[F.lit(x) for pair in type_map.items() for x in pair]
    )
    typed = (
        sty.withColumn("sem_type", map_expr[F.col("sty")])
        .filter(F.col("sem_type").isNotNull())
        .select("cui", "sem_type")
        .distinct()
    )

    pref = (
        conso.filter(F.col("ts") == "P")
        .groupBy("cui")
        .agg(F.min(F.lower("str")).alias("canonical"))
    )
    terms = conso.select(
        "cui",
        F.lower("str").alias("term"),
        F.when(F.col("ts") == "P", F.lit(0.99)).otherwise(F.lit(0.7)).alias("score"),
    ).groupBy("cui", "term").agg(F.max("score").alias("score"))

    return (
        terms.join(typed, "cui")
        .join(pref, "cui", "left")
        .withColumn("canonical", F.coalesce("canonical", "term"))
        .select("term", "cui", "sem_type", "canonical", "score")
    )


DEFAULT_TYPE_MAP = {
    "Disease or Syndrome": "problem",
    "Sign or Symptom": "problem",
    "Pathologic Function": "problem",
    "Neoplastic Process": "problem",
    "Mental or Behavioral Dysfunction": "problem",
    "Injury or Poisoning": "problem",
    "Laboratory Procedure": "test",
    "Diagnostic Procedure": "test",
    "Laboratory or Test Result": "test",
    "Therapeutic or Preventive Procedure": "treatment",
    "Pharmacologic Substance": "treatment",
    "Clinical Drug": "treatment",
    "Antibiotic": "treatment",
}


# ---------------------------------------------------------------------------
# Raw i2b2 document ingestion (the reference's actual on-disk input: paired
# <record>.txt / <record>.con files — SURVEY.md S1/S2)
# ---------------------------------------------------------------------------


def _file_stem(path_col, ext: str):
    return F.regexp_replace(
        F.element_at(F.split(path_col, "/"), -1), rf"\.{ext}$", ""
    )


def read_i2b2_docs(spark: SparkSession, txt_glob: str) -> DataFrame:
    """Raw i2b2 .txt records -> transcript-shaped (conv_id, turn_idx, text).

    Each file is one record (conv_id = filename stem); each line one turn —
    the reference's annotation unit (.con line numbers are 1-based line
    indices). `wholetext` reads each file as ONE row, so line order is
    structural (posexplode over split), not an accident of partitioning —
    the per-turn text-equality invariant needs that stability. At scale one
    file = one row is exactly right for documents; the downstream
    ensure_parallelism handles few-huge-files skew.
    """
    # NB: the wholetext kwarg, not .option("wholetext", ...) — .text()
    # re-sets its own options and silently drops a prior .option() value
    raw = spark.read.text(txt_glob, wholetext=True).select(
        F.input_file_name().alias("_path"), "value"
    )
    return drop_blank_turns(
        raw.select(
            _file_stem(F.col("_path"), "txt").alias("conv_id"),
            F.posexplode(F.split(F.col("value"), "\n")).alias("turn_idx", "text"),
        )
    )


def read_i2b2_cons(spark: SparkSession, con_glob: str) -> DataFrame:
    """Raw i2b2 .con annotation files -> gold mention rows
    (conv_id, turn_idx, tok_start, tok_end, mention_text, concept_type).

    Plain line-per-row text read (records self-describe their line numbers,
    so file-internal order is irrelevant); conv_id from the filename stem;
    parsing/malformed-drop semantics are con_format.parse_con_lines.
    """
    from cliner_spark.con_format import parse_con_lines

    raw = spark.read.text(con_glob).select(
        F.input_file_name().alias("_path"), F.col("value").alias("con_line")
    )
    return parse_con_lines(
        raw.select(_file_stem(F.col("_path"), "con").alias("conv_id"), "con_line")
    )


def gazetteer_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Dimension-version diff for gazetteer releases (UMLS updates twice a
    year): (term, cui, old_score, new_score, change) where change ∈
    {added, removed, changed} — unchanged rows are dropped. One full-outer
    join on the natural key; both sides are dimension-sized (broadcastable
    next to the corpus, shuffled against each other here). Downstream, the
    changed/removed set is exactly the re-link scope: only mentions whose
    cui appears in the diff need re-scoring against the new release.
    """
    o = old.select("term", "cui", F.col("score").alias("old_score"))
    n = new.select("term", "cui", F.col("score").alias("new_score"))
    full = o.join(n, ["term", "cui"], "full_outer")
    change = (
        F.when(F.col("old_score").isNull(), "added")
        .when(F.col("new_score").isNull(), "removed")
        .when(F.col("old_score") != F.col("new_score"), "changed")
        .otherwise("unchanged")
    )
    return full.withColumn("change", change).filter(F.col("change") != "unchanged")


# ---------------------------------------------------------------------------
# Transcript ingestion from interchange formats (JSONL / CSV)
# ---------------------------------------------------------------------------


def _transcripts_with_corrupt():
    # StructType.add mutates in place — copy the shared schema, don't extend it.
    from pyspark.sql import types as T

    from cliner_spark import schemas

    return T.StructType(
        list(schemas.TRANSCRIPTS.fields) + [T.StructField("_corrupt", T.StringType(), True)]
    )


def read_transcripts_json(spark: SparkSession, path: str) -> DataFrame:
    """JSONL transcripts -> (transcript schema + _corrupt string).

    PERMISSIVE mode with an explicit corrupt-record column: malformed lines
    land in `_corrupt` instead of killing a 10^12-row ingest (FAILFAST) or
    vanishing silently (DROPMALFORMED). Callers quarantine
    `WHERE _corrupt IS NOT NULL` rows to a dead-letter sink and proceed
    (Spark requires materializing — cache/write — before a query that
    touches ONLY the corrupt column; normal scans that read data columns
    are unaffected). Schema is enforced, never inferred — inference is a full extra pass at
    scale and drifts with the data.
    """
    return (
        spark.read.schema(_transcripts_with_corrupt())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )


def read_transcripts_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV transcripts (headered) with the same PERMISSIVE quarantine
    contract as read_transcripts_json."""
    return (
        spark.read.schema(_transcripts_with_corrupt())
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )


def read_transcripts_evolving(spark: SparkSession, *paths: str) -> DataFrame:
    """Read parquet transcript batches whose schemas have DRIFTED (columns
    added in later batches, columns not yet present in earlier ones) and
    normalize every batch to the canonical transcript schema
    (schemas.TRANSCRIPTS).

    mergeSchema unions the physical schemas (a footer-level operation);
    missing canonical columns are then filled with typed NULLs and extras
    dropped, so downstream operators always see exactly the input_hint
    shape. A batch missing a NON-NULLABLE canonical column (conv_id /
    turn_idx) is a contract violation and raises instead of fabricating
    keys.
    """
    from cliner_spark import schemas

    df = spark.read.option("mergeSchema", True).parquet(*paths)
    present = set(df.columns)
    cols = []
    for f in schemas.TRANSCRIPTS.fields:
        if f.name in present:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        elif not f.nullable:
            raise ValueError(
                f"evolving read: required column '{f.name}' absent from every batch"
            )
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def read_transcripts_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC transcripts (the columnar alternative in mixed-lake estates —
    Hive-era tables are commonly ORC). Schema enforced, never inferred,
    same contract as the parquet path: ORC carries file/stripe min-max
    stats, so predicate pushdown and column pruning behave like parquet."""
    from cliner_spark import schemas

    return spark.read.schema(schemas.TRANSCRIPTS).orc(path)


def write_transcripts_orc(df: DataFrame, path: str) -> None:
    """ORC transcript sink (zstd): partition-shape decisions (salting,
    sortWithinPartitions) are the caller's, as with the parquet sink."""
    df.write.mode("overwrite").option("compression", "zstd").orc(path)


def scd2_intervals(old: DataFrame, new: DataFrame) -> DataFrame:
    """Slowly-changing-dimension (type 2) history from two gazetteer
    releases: one validity-interval row per (term, cui, score) version —
    (score, valid_from=1, valid_to=1) for retired v1 values,
    (score, valid_from=2, valid_to=NULL) for values introduced in v2, and a
    single open (valid_from=1, valid_to=NULL) row when the value never
    changed. The standard dimension-history build: one full-outer join on
    the natural key, then an exploded per-branch row array — no window, no
    second pass; both sides dimension-sized.
    """
    o = old.select("term", "cui", F.col("score").alias("old_score"))
    n = new.select("term", "cui", F.col("score").alias("new_score"))
    full = o.join(n, ["term", "cui"], "full_outer")
    removed = F.struct(
        F.col("old_score").alias("score"), F.lit(1).alias("valid_from"),
        F.lit(1).cast("int").alias("valid_to"),
    )
    added = F.struct(
        F.col("new_score").alias("score"), F.lit(2).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
    )
    unchanged = F.struct(
        F.col("old_score").alias("score"), F.lit(1).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
    )
    rows = (
        F.when(F.col("new_score").isNull(), F.array(removed))
        .when(F.col("old_score").isNull(), F.array(added))
        .when(F.col("old_score") != F.col("new_score"), F.array(removed, added))
        .otherwise(F.array(unchanged))
    )
    return full.select("term", "cui", F.explode(rows).alias("v")).select(
        "term",
        "cui",
        F.round(F.col("v.score"), 4).alias("score"),
        F.col("v.valid_from").alias("valid_from"),
        F.col("v.valid_to").alias("valid_to"),
    )
