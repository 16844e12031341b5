"""Unit + plan tests for round-2 batch 2: banded temporal self-join and DSIR
importance weights."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from cliner_spark.lm import FP, importance_weights
from cliner_spark.timeseries import banded_interval_join


def _events(spark, rows):
    # rows: (event_id, user_id, event_type, sec_offset)
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    return spark.createDataFrame(
        [
            {
                "event_id": i,
                "user_id": u,
                "event_type": t,
                "ts": base + dt.timedelta(seconds=s),
            }
            for (i, u, t, s) in rows
        ]
    )


def test_band_join_crosses_bucket_boundary(spark):
    ev = _events(
        spark,
        [
            (1, 7, "click", 599),   # bucket 0 (600s buckets)
            (2, 7, "error", 601),   # bucket 1 -> pair via prev-bucket join
            (3, 7, "click", 1300),  # AFTER the error -> excluded
            (4, 8, "click", 0),
            (5, 8, "error", 600),   # exactly band seconds later -> included
            (6, 9, "click", 0),
            (7, 9, "error", 700),   # 700s > 600s band -> excluded
            (8, 1, "click", 50),
            (9, 2, "error", 60),    # different user -> excluded
        ],
    )
    got = sorted(
        (r["left_id"], r["right_id"], r["lag_sec"])
        for r in banded_interval_join(ev, "click", "error", band_minutes=10).collect()
    )
    assert got == [(1, 2, 2), (4, 5, 600)]


def test_band_join_plan_has_no_nested_loop(spark):
    ev = _events(spark, [(1, 7, "click", 0), (2, 7, "error", 10)])
    plan = banded_interval_join(ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_importance_weights_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            {"doc_id": 0, "text": "a b"},          # target bigram
            {"doc_id": 1, "text": "c d"},          # background-only bigram
        ]
    )
    target = docs.filter(F.col("doc_id") == 0)
    got = {r["doc_id"]: r for r in importance_weights(docs, target).collect()}
    # background LM: vocab=4, each unigram c=1, each bigram c=1
    bg = math.floor(math.log(2 / 5) * FP)
    # target LM: vocab=2 ('a','b'); 'a b' seen once -> ln(2/3)
    t_ab = math.floor(math.log(2 / 3) * FP)
    # 'c d' unseen, 'c' OOV -> ln(1/(0+2))
    t_cd = math.floor(math.log(1 / 2) * FP)
    assert got[0]["weight_fp"] == t_ab - bg
    assert got[1]["weight_fp"] == t_cd - bg
    assert got[0]["weight_fp"] > got[1]["weight_fp"]  # target doc upweighted
