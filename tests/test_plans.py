"""Physical-plan assertions: the scale properties claimed in docstrings
(pushdown, broadcast joins, zero-shuffle scan) must be visible in the
optimized plans, not just asserted in prose (SURVEY.md §4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cliner_spark import fixtures
from cliner_spark.link import link_mentions
from cliner_spark.mentions import scan_mentions_udf
from cliner_spark.tokenization import drop_blank_turns


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def full_plan(df) -> str:
    return df._jdf.queryExecution().toString()


def test_parquet_filter_pushdown_and_pruning(spark, tmp_path):
    p = str(tmp_path / "li")
    fixtures.transcripts_df(spark).write.parquet(p)
    df = (
        spark.read.parquet(p)
        .filter(F.col("conv_id") == "conv00001")
        .select("conv_id", "turn_idx")
    )
    s = full_plan(df)
    # predicate reaches the scan...
    assert "PushedFilters: [IsNotNull(conv_id), EqualTo(conv_id,conv00001)" in s, s
    # ...and only the two projected columns are read
    assert "ReadSchema: struct<conv_id:string,turn_idx:int>" in s, s


def test_link_is_broadcast_join_no_fact_shuffle(spark):
    tx = fixtures.transcripts_df(spark)
    gaz = fixtures.gazetteer_df(spark)
    terms = sorted({t for (t, *_r) in fixtures.CLINICAL_GAZETTEER})
    linked = link_mentions(scan_mentions_udf(drop_blank_turns(tx), terms), gaz)
    s = plan(linked)
    assert "BroadcastHashJoin" in s, s
    assert "SortMergeJoin" not in s, s
    # the mention/fact side must not be exchanged before the join: the only
    # allowed exchange is the broadcast of the dimension side
    fact_side = s.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning" not in fact_side, s


def test_scan_stage_is_shuffle_free(spark):
    tx = fixtures.transcripts_df(spark)
    terms = sorted({t for (t, *_r) in fixtures.CLINICAL_GAZETTEER})
    s = plan(scan_mentions_udf(drop_blank_turns(tx), terms))
    assert "Exchange" not in s, s  # tokenize+scan: zero shuffle by design


def test_topk_uses_single_partial_aggregation_shape(spark):
    # two-phase (partial+final) hash aggregation: exactly one shuffle
    ev = fixtures.transcripts_df(spark)
    agg = ev.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    s = plan(agg)
    assert s.count("Exchange hashpartitioning") == 1, s
    assert "partial_count" in s, s  # map-side combine present


def test_neardup_has_no_cartesian_product(spark):
    """Embedding near-dup must pair via the bucket equi-join, never a cross
    product — the property that survives a 100x corpus."""
    import numpy as np

    from cliner_spark import dedup

    rng = np.random.RandomState(0)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.rand(16)]) for i in range(50)],
        "vec_id bigint, embedding array<float>",
    )
    s = plan(dedup.embedding_neardup_pairs(df, threshold=0.3, n_planes=4, dims=16))
    assert "CartesianProduct" not in s, s
    assert "BroadcastNestedLoopJoin" not in s, s


def test_ivf_from_index_broadcasts_probes_no_corpus_shuffle(spark):
    """The IVF candidate join must broadcast the (tiny) probe side; the
    corpus side must not be exchanged — at 10^12 vectors a corpus shuffle
    is the difference between an index probe and a table scan."""
    import numpy as np

    from cliner_spark import similarity

    rng = np.random.RandomState(1)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.rand(16)]) for i in range(60)],
        "vec_id bigint, embedding array<float>",
    )
    cent, assigned = similarity.build_ivf_index(df, n_lists=4)
    out = similarity.ivf_topk_from_index(
        cent, assigned, F.col("vec_id") < 5, k=3, n_probe=2
    )
    s = plan(out)
    assert "BroadcastHashJoin" in s, s
    # the corpus (neighbor/cell) side is never hash-exchanged: every hash
    # exchange in the plan keys on query_id — probe ranking and the final
    # rerank window, both sized by the (tiny) query batch
    import re

    keys = re.findall(r"Exchange hashpartitioning\((\w+)", s)
    assert keys and all(k == "query_id" for k in keys), (keys, s)


def test_fuzzy_link_broadcasts_dimension(spark):
    from cliner_spark.link import link_fuzzy

    oov = spark.createDataFrame(
        [(1, 0, 1, "hash joi")], "doc_id bigint, tok_start int, tok_end int, oov_text string"
    )
    s = plan(link_fuzzy(oov, fixtures.gazetteer_df(spark, fixtures.DOC_GAZETTEER)))
    assert "BroadcastNestedLoopJoin" in s or "BroadcastHashJoin" in s, s


def test_repetition_features_zero_shuffle(spark):
    # sorted-array fold: the whole computation must stay in the scan stage
    from cliner_spark.textstats import repetition_features

    docs = spark.createDataFrame([{"doc_id": 1, "text": "a b a b"}])
    s = plan(repetition_features(docs))
    assert "Exchange" not in s, s


def test_assertion_adds_no_extra_shuffle_beyond_join(spark):
    # assertion windows are row-local expressions; plan = mention/token join
    # only, with no aggregation exchange introduced by the classification
    from cliner_spark.assertion import classify_assertions
    from cliner_spark.tokenization import tokenize

    turns = tokenize(
        spark.createDataFrame([{"conv_id": "c", "turn_idx": 0, "text": "no pain"}])
    )
    mentions = spark.createDataFrame(
        [{"conv_id": "c", "turn_idx": 0, "tok_start": 1, "tok_end": 1}]
    )
    s = plan(
        classify_assertions(mentions, turns.select("conv_id", "turn_idx", "tokens"))
    )
    assert "HashAggregate" not in s, s


def test_contamination_broadcasts_benchmark_side(spark):
    from cliner_spark.sampling import contamination

    docs = spark.createDataFrame(
        [{"doc_id": i, "text": "w x y z " * 4} for i in range(10)]
    )
    bench = docs.filter(F.col("doc_id") == 0)
    s = plan(contamination(docs, bench, n=3))
    # benchmark shingles arrive via broadcast, not a corpus-side shuffle join
    assert "BroadcastHashJoin" in s, s
    assert "SortMergeJoin" not in s, s


def test_lm_score_broadcasts_lm_table(spark):
    from cliner_spark.lm import doc_lm_score

    docs = spark.createDataFrame([{"doc_id": i, "text": "a b c a b"} for i in range(5)])
    s = plan(doc_lm_score(docs))
    assert "BroadcastHashJoin" in s, s


def test_windowed_cooccurrence_is_equi_join_no_cartesian(spark):
    """The banded range join must execute as a hash/sort-merge equi-join on
    (conv, bucket) — never a nested-loop theta join, which would degenerate
    to per-conversation all-pairs on 10^5-turn hot conversations."""
    from cliner_spark.graph import windowed_cooccurrence

    df = spark.createDataFrame(
        [(f"c{i%3}", i % 11, f"CU{i%5}") for i in range(60)],
        "conv_id string, turn_idx int, cui string",
    )
    s = plan(windowed_cooccurrence(df, window=2))
    assert "CartesianProduct" not in s, s
    assert "BroadcastNestedLoopJoin" not in s, s


def test_compaction_plan_partitioned_window_has_no_global_sort(spark):
    """With partition_col, the planner's window partitions by the table
    partition — the plan must hash-partition on it (parallel), not funnel
    everything through a single global sort partition."""
    from cliner_spark.maintenance import compaction_plan

    files = spark.createDataFrame(
        [(f"pt{i%4}", f"f{i:03d}", 1000 + i) for i in range(40)],
        "pt string, path string, bytes bigint",
    )
    s = plan(compaction_plan(files, 4096, partition_col="pt"))
    assert "hashpartitioning(pt" in s, s
    assert "SinglePartition" not in s, s


def test_bucketed_join_has_no_exchange_and_matches_plain_join(spark):
    """Bucketed co-located join: two tables written bucketed on conv_id with
    the same bucket count must equi-join with ZERO Exchange in the physical
    plan (the shuffle was pre-paid at write time), and produce exactly the
    plain-join rows. This is the repeated-join strategy at 100 TB: bucket the
    transcript and mention tables once, never shuffle either again."""
    from cliner_spark.maintenance import write_bucketed

    turns = spark.createDataFrame(
        [(f"c{i % 11}", i, f"turn text {i}") for i in range(200)],
        "conv_id string, turn_idx int, text string",
    )
    mentions = spark.createDataFrame(
        [(f"c{i % 11}", i % 7, f"m{i}") for i in range(80)],
        "conv_id string, turn_idx int, mention string",
    )
    write_bucketed(turns, "bkt_turns", "conv_id", n_buckets=8, sort_cols=["turn_idx"])
    write_bucketed(mentions, "bkt_mentions", "conv_id", n_buckets=8)
    try:
        bt = spark.table("bkt_turns")
        bm = spark.table("bkt_mentions").withColumnRenamed("turn_idx", "m_turn_idx")
        # merge hint: at test scale AQE would (correctly) pick broadcast; the
        # property under test is the BUCKETED SMJ shape, i.e. what the plan
        # degrades to at 100 TB where neither side broadcasts
        j = bt.hint("merge").join(bm, "conv_id").select("conv_id", "turn_idx", "mention")
        s = plan(j)
        assert "Exchange" not in s, s
        assert "SortMergeJoin" in s, s
        got = sorted(tuple(r) for r in j.collect())
        want = sorted(
            tuple(r)
            for r in turns.hint("merge")
            .join(mentions.withColumnRenamed("turn_idx", "m_turn_idx"), "conv_id")
            .select("conv_id", "turn_idx", "mention")
            .collect()
        )
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_turns")
        spark.sql("DROP TABLE IF EXISTS bkt_mentions")


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew evidence: a hot-key fact joined to a dim under AQE with
    skew-join enabled must execute as SortMergeJoin(skew=true) reading an
    'AQEShuffleRead skewed' — i.e. Spark SPLIT the hot partition at runtime
    instead of letting one task straggle. This is the engine-level safety
    net UNDER the pipeline's explicit salting (triples.salted_partition_col
    handles hot conversations at write time; AQE catches residual skew at
    join time). Session confs are saved and restored (try/finally) — the
    checkpoint.py lesson: never leak conf mutations to other tests."""
    import pyspark.sql.functions as F

    tuned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32768",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "16",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001
            saved[k] = None
        spark.conf.set(k, v)
    try:
        # 3/4 of the fact lands on key 0 (the "hot conversation"); padding
        # pushes the hot partition past the skew threshold
        fact = spark.range(0, 400000).select(
            F.when(F.col("id") % 4 != 3, 0).otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("x" * 120), F.col("id").cast("string")).alias("pad"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = fact.join(dim, "k")
        assert j.count() == 400000
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_prunes_fact_scan(spark, tmp_path):
    """Catalyst DPP evidence: a conv-partitioned fact joined to a FILTERED
    dimension must inject a dynamicpruning subquery into the fact's
    FileScan — i.e. at 100 TB the scan reads only the partitions the dim
    filter selects, discovered at runtime from the broadcast build side
    (this is how 'load one gazetteer release / one conv cohort' queries
    avoid full-table scans on the partitioned triples/transcript tables).
    Asserted on the EXECUTED plan plus the row count proving the semantic
    result is unchanged."""
    import pyspark.sql.functions as F

    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try:
        fact = spark.range(0, 100000).select(
            (F.col("id") % 50).alias("pk"), F.col("id").alias("v")
        )
        fact.write.mode("overwrite").partitionBy("pk").parquet(str(tmp_path / "fact"))
        spark.range(0, 50).select(
            F.col("id").alias("pk"), (F.col("id") % 5).alias("cat")
        ).write.mode("overwrite").parquet(str(tmp_path / "dim"))
        f = spark.read.parquet(str(tmp_path / "fact"))
        dm = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("cat") == 2)
        j = f.join(dm, "pk")
        assert j.count() == 20000  # 10 of 50 partitions survive
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", prev)


def test_runtime_bloom_filter_injected_on_probe_side(spark, tmp_path):
    """Runtime-filter evidence: with runtime bloom filters on and broadcast
    off (the big-shuffle-join regime of a 100 TB fact x selective dim), the
    optimizer must build a bloom_filter_agg from the filtered dim and probe
    it on the fact side BEFORE the shuffle — rows that cannot join never
    leave the scan stage. Conf save/restore per the checkpoint.py lesson."""
    import pyspark.sql.functions as F

    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001
            saved[k] = None
        spark.conf.set(k, v)
    try:
        spark.range(0, 200000).select(
            (F.col("id") % 50000).alias("k"), F.col("id").alias("v")
        ).write.mode("overwrite").parquet(str(tmp_path / "fact"))
        spark.range(0, 50000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("c")
        ).write.mode("overwrite").parquet(str(tmp_path / "dim"))
        f = spark.read.parquet(str(tmp_path / "fact"))
        dm = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("c") == 3)
        j = f.join(dm, "k")
        assert j.count() > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_plan_lint_global_window_detector():
    """tools/plan_lint.count_global_windows: flags ordered windows with no
    partition spec and empty OVER() windows; ignores partitioned windows
    (ordered or not). Canned lines taken from real Spark 4 executedPlan
    output."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
    )
    import importlib

    pl = importlib.import_module("plan_lint")
    global_ordered = (
        "+- Window [row_number() windowspecdefinition(id#0L ASC NULLS FIRST,"
        " specifiedwindowframe(RowFrame, unboundedpreceding$(),"
        " currentrow$())) AS r#2], [id#0L ASC NULLS FIRST]"
    )
    partitioned_ordered = (
        "+- Window [row_number() windowspecdefinition(g#1L, id#0L ASC NULLS"
        " FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(),"
        " currentrow$())) AS r#4], [g#1L], [id#0L ASC NULLS FIRST]"
    )
    partitioned_unordered = (
        "+- Window [count(1) windowspecdefinition(g#1L,"
        " specifiedwindowframe(RowFrame, unboundedpreceding$(),"
        " unboundedfollowing$())) AS c#2L], [g#1L]"
    )
    empty_over = (
        "+- Window [count(1) windowspecdefinition(specifiedwindowframe("
        "RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS c#4L]"
    )
    assert pl.count_global_windows(global_ordered) == 1
    assert pl.count_global_windows(partitioned_ordered) == 0
    assert pl.count_global_windows(partitioned_unordered) == 0
    assert pl.count_global_windows(empty_over) == 1
    both = "\n".join([global_ordered, partitioned_ordered, empty_over])
    assert pl.count_global_windows(both) == 2


def test_plan_lint_entries_name_registered_queries():
    """Every plan-lint whitelist and frozen-count entry names a registered
    query, and an entry for an unregistered one is reported as stale."""
    import importlib
    import json
    import os
    import sys

    import __spark_entry__ as entry

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
    )
    pl = importlib.import_module("plan_lint")
    with open(pl.COUNTS_PATH) as f:
        frozen = json.load(f)
    qs = entry.queries()
    assert pl.stale_entries(qs, frozen) == []
    assert pl.stale_entries(qs, {**frozen, "q_gone": {"GlobalWindow": 1}}) == ["q_gone"]
