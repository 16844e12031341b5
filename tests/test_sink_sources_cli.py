"""Skew-salted sink (S6), gazetteer ETL (S5), model persistence (S3),
and the three reference CLI verbs (predict/evaluate/train)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from cliner_spark import fixtures, tagger
from cliner_spark.pipeline import main as cli_main, run_pipeline
from cliner_spark.triples import hot_conversations, write_triples


def test_salted_sink_spreads_hot_conversation(spark, tmp_path):
    # conv 0 is generated hot (20x turns)
    rows = fixtures.gen_transcripts(n_convs=12, avg_turns=6, seed=23, hot_conv_factor=40)
    tx = fixtures.transcripts_df(spark, rows)
    hot = hot_conversations(tx, threshold=100)
    hot_ids = {r["conv_id"] for r in hot.collect()}
    assert hot_ids == {"conv00000"}

    out = run_pipeline(spark, tx)
    path = str(tmp_path / "triples")
    write_triples(out["triples"], path, num_partitions=8, hot=hot, salt_buckets=4)

    got = spark.read.parquet(path)
    # same triples as unsalted write (salting must not change content)
    assert got.count() == out["triples"].count()

    # the hot conversation's rows span multiple salt buckets -> multiple
    # physical partitions; verify via input_file_name
    files_per_conv = (
        got.withColumn("f", F.input_file_name())
        .groupBy("conv_id")
        .agg(F.countDistinct("f").alias("n_files"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_conv = {r["conv_id"]: r for r in files_per_conv}
    assert by_conv["conv00000"]["n_files"] > 1, by_conv["conv00000"]
    # non-hot conversations stay unsplit (one file each)
    assert all(r["n_files"] == 1 for c, r in by_conv.items() if c != "conv00000")


def test_build_gazetteer_from_rrf(spark, tmp_path):
    from cliner_spark.sources import build_gazetteer

    conso = tmp_path / "MRCONSO.RRF"
    # CUI|LAT|TS|LUI|STT|SUI|ISPREF|AUI|SAUI|SCUI|SDUI|SAB|TTY|CODE|STR|SRL|SUPPRESS|CVF|
    conso.write_text(
        "C01|ENG|P|L1|PF|S1|Y|A1|||S|SNOMED|PT|1|Myocardial Infarction|0|N||\n"
        "C01|ENG|S|L2|VO|S2|N|A2|||S|SNOMED|SY|1|Heart Attack|0|N||\n"
        "C01|FRE|S|L3|VO|S3|N|A3|||S|SNOMED|SY|1|Infarctus|0|N||\n"
        "C02|ENG|P|L4|PF|S4|Y|A4|||S|LNC|PT|2|Blood Panel|0|N||\n"
        "C03|ENG|P|L5|PF|S5|Y|A5|||S|RXN|PT|3|Aspirin|0|N||\n"
        "C04|ENG|P|L6|PF|S6|Y|A6|||S|SNOMED|PT|4|Unmapped Thing|0|N||\n"
    )
    sty = tmp_path / "MRSTY.RRF"
    sty.write_text(
        "C01|T047|B2.2|Disease or Syndrome|AT1||\n"
        "C02|T059|B1.3|Laboratory Procedure|AT2||\n"
        "C03|T121|A1.4|Pharmacologic Substance|AT3||\n"
        "C04|T999|X|Unknown Semantic Type|AT4||\n"
    )
    gaz = build_gazetteer(spark, str(conso), str(sty))
    rows = {(r["term"], r["cui"]): r for r in gaz.collect()}
    assert ("myocardial infarction", "C01") in rows
    assert ("heart attack", "C01") in rows
    assert ("infarctus", "C01") not in rows  # non-ENG dropped
    assert ("unmapped thing", "C04") not in rows  # unmapped sem type dropped
    r = rows[("heart attack", "C01")]
    assert r["sem_type"] == "problem"
    assert r["canonical"] == "myocardial infarction"  # preferred string
    assert r["score"] == 0.7  # non-preferred
    assert rows[("aspirin", "C03")]["sem_type"] == "treatment"
    assert rows[("blood panel", "C02")]["sem_type"] == "test"
    assert rows[("myocardial infarction", "C01")]["score"] == 0.99

    # produced gazetteer drops into the pipeline unchanged
    tx = fixtures.transcripts_df(
        spark,
        [{"conv_id": "c", "turn_idx": 0, "role": "user",
          "text": "patient had a Heart Attack today", "tool": None, "ts": None}],
    )
    linked = run_pipeline(spark, tx, gazetteer=gaz)["linked"].collect()
    assert len(linked) == 1 and linked[0]["cui"] == "C01"


def test_model_save_load_roundtrip(tmp_path):
    model = tagger.make_distant_model(fixtures.CLINICAL_GAZETTEER)
    model.W[:100] = np.random.RandomState(0).rand(100, tagger.L).astype(np.float32)
    tagger.save_model(model, str(tmp_path / "m"))
    back = tagger.load_model(str(tmp_path / "m"))
    assert (back.W == model.W).all() and (back.trans == model.trans).all()
    assert back.term_type == model.term_type
    assert back.max_n == model.max_n and back.use_context == model.use_context
    texts = pd.Series(["patient with heart attack on aspirin"])
    a = tagger.decode_texts(texts, model)[3]
    b = tagger.decode_texts(texts, back)[3]
    assert (a == b).all()


def test_cli_predict_evaluate_train(spark, tmp_path, capsys):
    rows = fixtures.gen_transcripts(n_convs=6, avg_turns=5, seed=29)
    tx_path = str(tmp_path / "tx")
    fixtures.transcripts_df(spark, rows).write.parquet(tx_path)

    out_path = str(tmp_path / "triples")
    cli_main(["predict", "--input", tx_path, "--output", out_path])
    assert spark.read.parquet(out_path).count() > 50

    # gold = scanner output; predictions = same -> perfect scores
    from cliner_spark import oracle_py

    gold = spark.createDataFrame(
        oracle_py.gold_mentions(rows, fixtures.CLINICAL_GAZETTEER)
    )
    gold_path = str(tmp_path / "gold")
    gold.write.parquet(gold_path)
    cli_main(["evaluate", "--predictions", gold_path, "--gold", gold_path])
    printed = capsys.readouterr().out
    assert "P=1.0000 R=1.0000 F1=1.0000" in printed

    model_path = str(tmp_path / "model")
    cli_main(["train", "--input", tx_path, "--gold", gold_path,
              "--model", model_path, "--epochs", "2"])
    m = tagger.load_model(model_path)
    assert m.W.any()  # training actually moved weights


def test_i2b2_raw_pair_roundtrip(spark, tmp_path):
    """Reference on-disk format: paired .txt/.con files -> transcripts +
    gold mentions; planted annotations evaluate at P=R=1 vs the scan."""
    import os

    from cliner_spark.sources import read_i2b2_cons, read_i2b2_docs

    d = tmp_path / "i2b2"
    os.makedirs(d)
    (d / "rec1.txt").write_text(
        "patient has a heart attack today\nno other complaints\n"
    )
    (d / "rec1.con").write_text(
        'c="heart attack" 1:3 1:4||t="problem"\n'
        "malformed line that must be dropped\n"
    )
    (d / "rec2.txt").write_text("history of diabetes mellitus\n\n")
    (d / "rec2.con").write_text('c="diabetes mellitus" 1:2 1:3||t="problem"\n')

    docs = read_i2b2_docs(spark, str(d / "*.txt"))
    got_docs = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in docs.collect()
    }
    assert got_docs[("rec1", 0)] == "patient has a heart attack today"
    assert got_docs[("rec1", 1)] == "no other complaints"
    assert got_docs[("rec2", 0)] == "history of diabetes mellitus"
    assert ("rec2", 1) not in got_docs  # blank line filtered

    gold = read_i2b2_cons(spark, str(d / "*.con"))
    rows = {
        (r["conv_id"], r["turn_idx"], r["tok_start"], r["tok_end"], r["concept_type"])
        for r in gold.collect()
    }
    assert rows == {
        ("rec1", 0, 3, 4, "problem"),
        ("rec2", 0, 2, 3, "problem"),
    }

    # end-to-end: scan the raw docs with the clinical gazetteer and align
    from cliner_spark.evaluate import exact_match_counts, prf
    from cliner_spark.mentions import scan_mentions_udf

    terms = sorted({t for (t, *_r) in fixtures.CLINICAL_GAZETTEER})
    pred = scan_mentions_udf(docs, terms).select(
        "conv_id", "turn_idx", "tok_start", "tok_end"
    )
    gold_k = gold.select("conv_id", "turn_idx", "tok_start", "tok_end")
    counts = prf(
        exact_match_counts(
            pred.withColumn("concept_type", F.lit("any")),
            gold_k.withColumn("concept_type", F.lit("any")),
        )
    ).collect()
    micro = [r for r in counts if r["concept_type"] == "any"][0]
    assert micro["precision"] == 1.0 and micro["recall"] == 1.0


def test_json_csv_transcript_ingest_quarantines_corrupt(spark, tmp_path):
    from cliner_spark.sources import read_transcripts_csv, read_transcripts_json

    jl = tmp_path / "tx.jsonl"
    jl.write_text(
        '{"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "hello there", "tool": null, "ts": "2024-01-01T00:00:00"}\n'
        "this is not json at all\n"
        '{"conv_id": "c1", "turn_idx": 1, "role": "assistant", "text": "hi", "tool": "search", "ts": "2024-01-01T00:00:30"}\n'
    )
    # Spark forbids filtering on ONLY the corrupt column straight off the
    # scan (SQLSTATE 0A000) — materialize first, per its documented guidance
    df = read_transcripts_json(spark, str(jl)).cache()
    good = df.filter("_corrupt IS NULL")
    bad = df.filter("_corrupt IS NOT NULL")
    assert good.count() == 2 and bad.count() == 1
    rows = {(r["conv_id"], r["turn_idx"]): r["text"] for r in good.collect()}
    assert rows == {("c1", 0): "hello there", ("c1", 1): "hi"}

    cs = tmp_path / "tx.csv"
    cs.write_text(
        "conv_id,turn_idx,role,text,tool,ts\n"
        "c2,0,user,hello csv,,2024-01-01T00:00:00\n"
        'c2,not_an_int,user,broken row,,2024-01-01T00:00:30\n'
    )
    dfc = read_transcripts_csv(spark, str(cs)).cache()
    assert dfc.filter("_corrupt IS NULL").count() == 1
    assert dfc.filter("_corrupt IS NOT NULL").count() == 1


def test_evolving_schema_read_normalizes_batches(spark, tmp_path):
    """Batch v1 lacks `tool`, batch v2 adds it plus an extra column; the
    evolving read must union both under the exact canonical transcript
    schema with NULL tool for v1 rows, extras dropped, and raise only when
    a required key column is missing everywhere."""
    import pytest

    from cliner_spark import schemas
    from cliner_spark.sources import read_transcripts_evolving

    p1, p2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    spark.createDataFrame(
        [("c1", 0, "user", "hello", None)],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    ).write.parquet(p1)
    spark.createDataFrame(
        [("c2", 0, "agent", "hi", "search", None, "extra")],
        "conv_id string, turn_idx int, role string, text string, tool string,"
        " ts timestamp, debug_blob string",
    ).write.parquet(p2)

    out = read_transcripts_evolving(spark, p1, p2)
    # parquet reads are nullable by construction; names/types/order must match
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in schemas.TRANSCRIPTS.fields
    ]
    rows = {r["conv_id"]: r for r in out.collect()}
    assert rows["c1"]["tool"] is None and rows["c2"]["tool"] == "search"
    assert "debug_blob" not in out.columns

    p3 = str(tmp_path / "b3")
    spark.createDataFrame([("no keys",)], "text string").write.parquet(p3)
    with pytest.raises(ValueError, match="conv_id"):
        read_transcripts_evolving(spark, p3)


def test_orc_transcript_roundtrip_runs_pipeline(spark, tmp_path):
    """ORC source/sink: write fixture transcripts as zstd ORC, read them back
    through the enforced schema, run the full pipeline, and get the same
    triples as the parquet path (format must be semantics-neutral)."""
    from cliner_spark import fixtures
    from cliner_spark.pipeline import run_pipeline
    from cliner_spark.sources import read_transcripts_orc, write_transcripts_orc

    tx = fixtures.transcripts_df(spark)
    p = str(tmp_path / "tx_orc")
    write_transcripts_orc(tx, p)
    back = read_transcripts_orc(spark, p)
    # nullability flags differ between createDataFrame and the enforced
    # schema; names+types are the contract
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in tx.schema.fields
    ]
    want = sorted(
        tuple(r)
        for r in run_pipeline(spark, tx)["triples"]
        .select("conv_id", "subj", "pred", "obj", "turn_idx")
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in run_pipeline(spark, back)["triples"]
        .select("conv_id", "subj", "pred", "obj", "turn_idx")
        .collect()
    )
    assert got == want and len(got) > 0
