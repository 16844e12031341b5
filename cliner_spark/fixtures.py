"""Deterministic fixtures (FIXTURES.md): transcripts, gazetteers, and the
distributed large-scale transcript generator for benchmarking.

Two gazetteers:
- CLINICAL_GAZETTEER — i2b2-style clinical lexicon used by the pytest P/R≥0.95
  gate (reference analog: UMLS SQLite built by
  code/feature_extraction/umls_dir/create_sqliteDB.py, approx — SURVEY.md §0).
- DOC_GAZETTEER — a lexicon over the driver testdata `documents` vocabulary,
  the single source of truth shared by `__spark_entry__.queries()` (Spark) and
  `oracle_sql()` (DuckDB VALUES rendering) so both engines scan identical data.

Everything is seed-deterministic; no RNG at query time (per-turn text-equality
invariant, BASELINE.json:input_hint).
"""

from __future__ import annotations

import datetime as _dt
import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cliner_spark import schemas

# --------------------------------------------------------------------------
# Gazetteer entries: (term, cui, sem_type, canonical, score)
# Variant clusters share a cui; canonical strings chain clusters together so
# connected-components canonicalization (A4) has real transitive work.
# Ambiguous terms (same term, two cuis) exercise the J5 link tie-break.
# --------------------------------------------------------------------------

CLINICAL_GAZETTEER: list[tuple[str, str, str, str, float]] = [
    # myocardial infarction cluster: chain C0001 -- C0002 via shared strings
    ("heart attack", "C0001", "problem", "myocardial infarction", 0.95),
    ("myocardial infarction", "C0001", "problem", "myocardial infarction", 0.99),
    ("mi", "C0002", "problem", "myocardial infarction", 0.60),
    ("acute mi", "C0002", "problem", "myocardial infarction", 0.85),
    # diabetes cluster, chained: C0003 -- C0004 via "diabetes mellitus"
    ("diabetes", "C0003", "problem", "diabetes mellitus", 0.90),
    ("diabetes mellitus", "C0003", "problem", "diabetes mellitus", 0.99),
    ("dm", "C0004", "problem", "diabetes mellitus", 0.55),
    ("type two diabetes", "C0004", "problem", "diabetes mellitus", 0.92),
    # hypertension
    ("hypertension", "C0005", "problem", "hypertension", 0.99),
    ("high blood pressure", "C0005", "problem", "hypertension", 0.93),
    ("htn", "C0006", "problem", "hypertension", 0.58),
    # pneumonia / chest pain / fever
    ("pneumonia", "C0007", "problem", "pneumonia", 0.99),
    ("chest pain", "C0008", "problem", "chest pain", 0.97),
    ("fever", "C0009", "problem", "fever", 0.96),
    ("shortness of breath", "C0010", "problem", "dyspnea", 0.94),
    ("dyspnea", "C0011", "problem", "dyspnea", 0.98),
    # tests
    ("blood test", "C0101", "test", "blood panel", 0.90),
    ("blood panel", "C0102", "test", "blood panel", 0.95),
    ("cbc", "C0102", "test", "blood panel", 0.80),
    ("chest x ray", "C0103", "test", "chest radiograph", 0.96),
    ("chest radiograph", "C0104", "test", "chest radiograph", 0.97),
    ("ecg", "C0105", "test", "electrocardiogram", 0.88),
    ("ekg", "C0105", "test", "electrocardiogram", 0.88),
    ("electrocardiogram", "C0106", "test", "electrocardiogram", 0.99),
    ("mri", "C0107", "test", "magnetic resonance imaging", 0.97),
    ("ct scan", "C0108", "test", "computed tomography", 0.95),
    ("glucose test", "C0109", "test", "glucose test", 0.92),
    # treatments
    ("aspirin", "C0201", "treatment", "aspirin", 0.99),
    ("insulin", "C0202", "treatment", "insulin", 0.99),
    ("insulin therapy", "C0202", "treatment", "insulin", 0.95),
    ("metformin", "C0203", "treatment", "metformin", 0.99),
    ("bypass surgery", "C0204", "treatment", "coronary bypass", 0.94),
    ("coronary bypass", "C0205", "treatment", "coronary bypass", 0.97),
    ("antibiotics", "C0206", "treatment", "antibiotics", 0.96),
    ("physical therapy", "C0207", "treatment", "physical therapy", 0.95),
    ("oxygen therapy", "C0208", "treatment", "oxygen therapy", 0.93),
    # ambiguity: "ablation" maps to two cuis; J5 keeps higher score then min cui
    ("ablation", "C0209", "treatment", "cardiac ablation", 0.70),
    ("ablation", "C0210", "treatment", "tissue ablation", 0.80),
    ("cardiac ablation", "C0209", "treatment", "cardiac ablation", 0.96),
]

# Lexicon over the driver `documents` vocabulary (see TESTDATA.md). Multi-token
# phrases like "hash join" / "table scan" genuinely occur in that text, and the
# overlap between "sort merge" and "merge join" exercises the dominance rule.
DOC_GAZETTEER: list[tuple[str, str, str, str, float]] = [
    ("hash join", "CD001", "problem", "hash join", 0.95),
    ("merge join", "CD002", "problem", "sort merge join", 0.90),
    ("sort merge", "CD003", "problem", "sort merge join", 0.92),
    ("table scan", "CD004", "test", "full table scan", 0.93),
    ("full table scan", "CD005", "test", "full table scan", 0.97),
    ("window", "CD006", "test", "window function", 0.80),
    ("stream", "CD007", "treatment", "stream", 0.85),
    ("vector", "CD008", "treatment", "vector", 0.84),
    ("agg", "CD009", "treatment", "aggregation", 0.75),
    # ambiguous term: two cuis for "scan" — tie-break keeps CD011 (score)
    ("scan", "CD010", "test", "scan op", 0.70),
    ("scan", "CD011", "test", "full table scan", 0.78),
    # chain CD004 -- CD005 (shared "full table scan") -- CD012 (shared phrase)
    ("sequential scan", "CD012", "test", "full table scan", 0.88),
]


# --------------------------------------------------------------------------
# ISA ontology over the DOC_GAZETTEER cuis (UMLS/SNOMED-style subsumption
# hierarchy; reference analog: the MRHIER/ISA relations a UMLS install ships
# next to the MRCONSO gazetteer the S5 ETL reads). Deterministic (child,
# parent) edges: leaf cuis CD001..CD012 hang under three interior category
# nodes which chain to a single root — depth 4, with one deeper chain
# (CD012 -> GRP_SCAN -> CAT_TEST -> ROOT) so transitive closure has real
# multi-hop work. Pure data, no RNG.
# --------------------------------------------------------------------------

DOC_ONTOLOGY: list[tuple[str, str]] = [
    ("CD001", "GRP_JOIN"),
    ("CD002", "GRP_JOIN"),
    ("CD003", "GRP_JOIN"),
    ("CD004", "GRP_SCAN"),
    ("CD005", "GRP_SCAN"),
    ("CD010", "GRP_SCAN"),
    ("CD011", "GRP_SCAN"),
    ("CD012", "GRP_SCAN"),
    ("CD006", "CAT_EXEC"),
    ("CD007", "CAT_EXEC"),
    ("CD008", "CAT_EXEC"),
    ("CD009", "CAT_EXEC"),
    ("GRP_JOIN", "CAT_REL"),
    ("GRP_SCAN", "CAT_REL"),
    ("CAT_REL", "ROOT"),
    ("CAT_EXEC", "ROOT"),
]


def ontology_df(spark: SparkSession, edges=None) -> DataFrame:
    edges = edges if edges is not None else DOC_ONTOLOGY
    return spark.createDataFrame(edges, "child string, parent string")


def ontology_values_sql(edges=None) -> str:
    """Render the ISA edges as a SQL VALUES list (DuckDB oracle twin)."""
    edges = edges if edges is not None else DOC_ONTOLOGY
    rows = ", ".join(f"('{c}', '{p}')" for (c, p) in edges)
    return f"(VALUES {rows}) AS isa(child, parent)"


def gazetteer_rows(entries: list[tuple[str, str, str, str, float]]) -> list[dict]:
    return [
        {"term": t, "cui": c, "sem_type": s, "canonical": canon, "score": sc}
        for (t, c, s, canon, sc) in entries
    ]


def gazetteer_df(spark: SparkSession, entries=None) -> DataFrame:
    """The gazetteer as a JVM-side local relation (built from an Arrow
    table): reading it starts no Python worker, unlike an RDD of pickled
    rows, and every job of the canonical-map iteration reads it."""
    import pyarrow as pa

    entries = entries if entries is not None else CLINICAL_GAZETTEER
    arrow_schema = pa.schema(
        [(f, pa.float64() if f == "score" else pa.string()) for f in schemas.GAZETTEER.names]
    )
    table = pa.Table.from_pylist(gazetteer_rows(entries), schema=arrow_schema)
    return spark.createDataFrame(table, schema=schemas.GAZETTEER)


def gazetteer_values_sql(entries=None) -> str:
    """Render the gazetteer as a SQL VALUES list (DuckDB oracle twin)."""
    entries = entries if entries is not None else DOC_GAZETTEER
    rows = ", ".join(
        "('{}', '{}', '{}', '{}', {})".format(t.replace("'", "''"), c, s, canon.replace("'", "''"), sc)
        for (t, c, s, canon, sc) in entries
    )
    return f"(VALUES {rows}) AS gaz(term, cui, sem_type, canonical, score)"


# --------------------------------------------------------------------------
# Seeded transcript generator (driver-side, small scale: unit + golden tests)
# --------------------------------------------------------------------------

FILLER_WORDS = (
    "patient reports the a with and was noted on follow up denies stable "
    "yesterday today plan continue monitor discussed started review labs "
    "visit exam clinic notes morning evening mild severe improving unchanged"
).split()

ROLES = ("user", "assistant", "tool")
TOOLS = (None, "search", "chart_lookup", None, "calculator", None)

_EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)


def gen_transcripts(
    n_convs: int = 20,
    avg_turns: int = 10,
    seed: int = 42,
    hot_conv_factor: int = 20,
    gazetteer=None,
    plant_rate: float = 0.6,
) -> list[dict]:
    """Deterministic transcripts with planted gazetteer phrases.

    conv 0 is a "hot" conversation with hot_conv_factor× the turns to exercise
    skew salting. Text is byte-stable for a given seed (per-turn text-equality
    invariant).
    """
    gazetteer = gazetteer if gazetteer is not None else CLINICAL_GAZETTEER
    terms = [t for (t, *_rest) in gazetteer]
    rng = random.Random(seed)
    rows: list[dict] = []
    for c in range(n_convs):
        conv_id = f"conv{c:05d}"
        n_turns = avg_turns * (hot_conv_factor if c == 0 else 1)
        n_turns = max(2, n_turns + rng.randint(-2, 2))
        for t in range(n_turns):
            words = [rng.choice(FILLER_WORDS) for _ in range(rng.randint(4, 12))]
            if rng.random() < plant_rate:
                for _ in range(rng.randint(1, 3)):
                    pos = rng.randint(0, len(words))
                    words[pos:pos] = rng.choice(terms).split()
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": t,
                    "role": ROLES[(c + t) % 3],
                    "text": " ".join(words),
                    "tool": TOOLS[(c * 7 + t) % len(TOOLS)],
                    "ts": _EPOCH + _dt.timedelta(seconds=c * 10000 + t * 30),
                }
            )
    return rows


def transcripts_df(spark: SparkSession, rows: list[dict] | None = None, **kw) -> DataFrame:
    rows = rows if rows is not None else gen_transcripts(**kw)
    return spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)


# --------------------------------------------------------------------------
# Distributed transcript generator (bench scale). Pure JVM-side expressions —
# no driver loop, no python UDF — so generation itself scales to any SF.
# --------------------------------------------------------------------------


def big_transcripts(
    spark: SparkSession,
    n_turns: int,
    n_convs: int,
    seed: int = 42,
    hot_share: float = 0.05,
    words_per_turn: int = 12,
    gazetteer=None,
    filler_weight: int = 1,
) -> DataFrame:
    """seed-deterministic transcripts built with spark.range + xxhash64 word
    picks. A hot_share fraction of all turns lands in conv00000 (skew).
    Gazetteer-term tokens are part of the vocabulary so multi-token phrases
    occur naturally; filler_weight repeats the filler vocabulary to thin
    mention density toward realistic levels (1 = dense, 8 ≈ a few mentions
    per hundred tokens).
    """
    gazetteer = gazetteer if gazetteer is not None else CLINICAL_GAZETTEER
    gaz_tokens = {w for term, *_ in gazetteer for w in term.split()}
    vocab = sorted(gaz_tokens | set(FILLER_WORDS))
    vocab += sorted(set(FILLER_WORDS)) * max(0, filler_weight - 1)
    vocab_arr = F.array(*[F.lit(w) for w in vocab])
    v = len(vocab)

    df = spark.range(n_turns).withColumnRenamed("id", "gid")
    hot_cut = int(n_turns * hot_share)
    conv_num = F.when(F.col("gid") < hot_cut, F.lit(0)).otherwise(
        (F.xxhash64(F.col("gid"), F.lit(seed)) % (n_convs - 1) + (n_convs - 1)) % (n_convs - 1) + 1
    )
    df = df.withColumn("conv_num", conv_num)
    word_cols = [
        F.element_at(
            vocab_arr,
            (
                (F.xxhash64(F.col("gid"), F.lit(seed * 31 + i)) % v + v) % v
            ).cast("int")
            + 1,
        )
        for i in range(words_per_turn)
    ]
    df = (
        df.withColumn("conv_id", F.format_string("conv%05d", F.col("conv_num")))
        .withColumn("text", F.concat_ws(" ", *word_cols))
        .withColumn(
            "turn_idx",
            (F.row_number().over(Window.partitionBy("conv_id").orderBy("gid")) - 1).cast("int"),
        )
        .withColumn("role", F.element_at(F.array(*[F.lit(r) for r in ROLES]), (F.col("gid") % 3).cast("int") + 1))
        .withColumn("tool", F.when(F.col("gid") % 5 == 0, F.lit("search")).otherwise(F.lit(None).cast("string")))
        .withColumn("ts", F.timestamp_seconds(F.lit(1704067200) + F.col("gid")))
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )
    return df
