"""Cluster-resilience property: a Python/Arrow stage must yield COMPLETE,
correct output when task attempts fail transiently — on a 1000-executor
cluster lost/preempted tasks are routine, and Spark's task retry must make
the operator's output indistinguishable from a clean run (no missing and no
duplicated partitions). Runs in a subprocess because the retry-enabled
master (local[4,2]) cannot be obtained from the already-running fixture JVM
(getOrCreate reuses the existing context)."""

from __future__ import annotations

import os
import subprocess
import sys

# the checkout under test; the subprocess runs there, not in a fixed path
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4,2]")  # 4 threads, 2 attempts/task
    .appName("retry_test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

def flaky(batches):
    tc = TaskContext.get()
    # first attempt of partition 1 dies AFTER emitting a batch — the retry
    # must supersede the partial output, not append to it
    emitted = False
    for pdf in batches:
        yield pd.DataFrame({"id": pdf["id"], "v": pdf["id"] * 2})
        emitted = True
        if tc.partitionId() == 1 and tc.attemptNumber() == 0 and emitted:
            raise RuntimeError("injected transient failure")

df = spark.range(0, 1000).repartition(4)
rows = df.mapInPandas(flaky, schema="id long, v long").collect()
ids = sorted(r.id for r in rows)
assert len(rows) == 1000, len(rows)
assert ids == list(range(1000)), "missing or duplicated ids after retry"
assert sum(r.v for r in rows) == 2 * sum(range(1000))
print("RETRY_OK", len(rows))
spark.stop()
"""


def test_arrow_stage_survives_transient_task_failure():
    p = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True, text=True, timeout=240, cwd=ROOT,
    )
    assert "RETRY_OK 1000" in p.stdout, (p.stdout[-2000:], p.stderr[-2000:])
