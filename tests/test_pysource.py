"""Python DataSource connectors (pysource.py): batch i2b2 format parity with
the expression-based loaders, .con writer round-trip, and exactly-once
replayable streaming source."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cliner_spark import sources
from cliner_spark.con_format import format_con_lines, parse_con_lines
from cliner_spark.pysource import register_sources, write_con_dir


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    """A small paired .txt/.con corpus written from deterministic fixtures."""
    d = tmp_path_factory.mktemp("i2b2corpus")
    docs = {
        "rec-001": "fever noted today\n\nchest pain since tuesday\nplan aspirin",
        "rec-002": "no complaints\nblood test ordered",
        "rec-emptyish": "\n\n",
    }
    cons = {
        "rec-001": (
            'c="fever" 1:0 1:0||t="problem"\n'
            'c="chest pain" 3:0 3:1||t="problem"\n'
            "malformed line that must be skipped\n"
            'c="crossline" 1:0 2:1||t="problem"\n'
            'c="aspirin" 4:1 4:1||t="treatment"\n'
        ),
        "rec-002": 'c="blood test" 2:0 2:1||t="test"\n',
    }
    for stem, text in docs.items():
        (d / f"{stem}.txt").write_text(text, encoding="utf-8")
    for stem, text in cons.items():
        (d / f"{stem}.con").write_text(text, encoding="utf-8")
    return str(d)


def test_i2b2_turns_matches_expression_loader(spark, corpus_dir):
    register_sources(spark)
    via_ds = spark.read.format("i2b2").option("mode", "turns").load(corpus_dir)
    via_expr = sources.read_i2b2_docs(spark, os.path.join(corpus_dir, "*.txt"))
    key = ["conv_id", "turn_idx", "text"]
    assert _rows(via_ds, *key) == _rows(via_expr, *key)
    # blank lines dropped but physical line numbering preserved
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in via_ds.filter(F.col("conv_id") == "rec-001").collect()
    }
    assert got == {
        ("rec-001", 0): "fever noted today",
        ("rec-001", 2): "chest pain since tuesday",
        ("rec-001", 3): "plan aspirin",
    }


def test_i2b2_mentions_matches_expression_loader(spark, corpus_dir):
    register_sources(spark)
    via_ds = spark.read.format("i2b2").option("mode", "mentions").load(corpus_dir)
    via_expr = sources.read_i2b2_cons(spark, os.path.join(corpus_dir, "*.con"))
    key = ["conv_id", "turn_idx", "tok_start", "tok_end"]
    assert _rows(via_ds, *key) == _rows(via_expr, *key)
    # malformed + cross-line records skipped; 4 valid mentions total
    assert via_ds.count() == 4


def test_i2b2_partition_planning_covers_all_files(spark, corpus_dir):
    register_sources(spark)
    df = (
        spark.read.format("i2b2")
        .option("mode", "turns")
        .option("numPartitions", 2)
        .load(corpus_dir)
    )
    assert df.rdd.getNumPartitions() == 2
    assert df.select("conv_id").distinct().count() == 2  # rec-emptyish all blank


def test_con_writer_roundtrip_and_overwrite(spark, tmp_path):
    register_sources(spark)
    out = str(tmp_path / "con_out")
    mentions = spark.createDataFrame(
        [
            ("conv-a", 0, 0, 0, "Fever", "problem"),
            ("conv-a", 2, 1, 2, "chest pain", "problem"),
            ("conv-b", 1, 0, 1, "blood test", "test"),
        ],
        "conv_id string, turn_idx int, tok_start int, tok_end int, "
        "mention_text string, concept_type string",
    )
    write_con_dir(mentions, out)
    assert sorted(os.listdir(out)) == ["_SUCCESS", "conv-a.con", "conv-b.con"]

    # file content == format_con_lines (reference emit grammar, O1 order)
    read_back = spark.read.format("i2b2").option("mode", "mentions").load(out)
    reparsed = parse_con_lines(
        format_con_lines(
            mentions.join(
                spark.createDataFrame(
                    [("conv-a",), ("conv-b",)], "conv_id string"
                ),
                "conv_id",
            ).withColumn("mention_text", F.lower("mention_text"))
        ).withColumnRenamed("con_line", "con_line")
    )
    key = ["conv_id", "turn_idx", "tok_start", "tok_end"]
    got = _rows(read_back, *key)
    want = _rows(
        mentions.withColumn("mention_text", F.lower("mention_text")), *key
    )
    assert got == want
    assert _rows(reparsed, *key) == want

    # overwrite replaces: second write with one conv must clear conv-b
    write_con_dir(mentions.filter(F.col("conv_id") == "conv-a"), out)
    assert sorted(p for p in os.listdir(out) if p.endswith(".con")) == ["conv-a.con"]


def test_transcript_stream_deterministic_and_resumable(spark, tmp_path):
    register_sources(spark)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def run_batches():
        q = (
            spark.readStream.format("transcript_stream")
            .option("rowsPerBatch", 64)
            .option("convs", 8)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batches()
    first = spark.read.parquet(sink)
    n1 = first.count()
    assert n1 >= 64
    # restart from checkpoint: no duplicate (conv_id, turn_idx) pairs ever
    run_batches()
    again = spark.read.parquet(sink)
    n2 = again.count()
    assert n2 > n1  # stream advanced
    assert again.select("conv_id", "turn_idx").distinct().count() == n2

    # schema is exactly the north-rule input shape
    assert [f.name for f in again.schema.fields] == [
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
    ]
    # determinism: same offset range re-read gives identical text
    row = again.filter(
        (F.col("conv_id") == "conv-00003") & (F.col("turn_idx") == 0)
    ).collect()
    assert len(row) == 1
    from cliner_spark.pysource import _row_at

    assert row[0].text == _row_at(3, 8)[3]


def test_stream_feeds_mention_scan(spark, tmp_path):
    """The stream's text column composes with the batch mention scanner
    (foreachBatch-style path): KG construction over a live transcript feed."""
    register_sources(spark)
    from cliner_spark.mentions import scan_mentions_udf

    # materialize two deterministic batches via the generator primitive
    from cliner_spark.pysource import _row_at

    rows = [_row_at(i, 8) for i in range(128)]
    df = spark.createDataFrame(rows, schema=(
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    ))
    found = scan_mentions_udf(df, ["fever", "chest pain", "blood test"])
    assert found.count() > 0
    assert set(found.select("mention_text").distinct().toPandas()["mention_text"]) <= {
        "fever",
        "chest pain",
        "blood test",
    }
