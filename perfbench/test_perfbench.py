"""Tests of the benchmark itself. Run from the repository root:

  python3 -m pytest perfbench -q -p no:cacheprovider

The run tests start the benchmark as a subprocess at a tiny input size
(about 1-2 minutes each, mostly Spark set-up).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import metrics
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
# the layers of the traced path, in call order
PATH_LAYERS = ["tokenization", "mentions", "link", "triples", "triples.hot", "sink"]
TINY_TURNS = 3000


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        RUN + args, cwd=cwd, capture_output=True, text=True, timeout=600
    )


def test_benchmark_json_names_match_the_code():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.per_layer()
    assert spec["paths"] == ["perfbench"]


def _tiny_run(trace: int) -> tuple[list[str], dict]:
    proc = _run([
        "--workload", "predict_dense_hot", "--seed", "5", "--seconds", "1",
        "--trace", str(trace), "--turns", str(TINY_TURNS),
    ])
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.fixture(scope="module")
def untraced_run():
    return _tiny_run(0)


@pytest.fixture(scope="module")
def traced_run():
    return _tiny_run(1)


@pytest.mark.parametrize(
    "run, section", [("untraced_run", "end_to_end"), ("traced_run", "per_layer")]
)
def test_every_metric_printed_with_its_unit(request, run, section):
    lines, result = request.getfixturevalue(run)
    wanted = _spec()[section]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    # the human-readable report names every metric with its unit as well
    report = {ln.split()[1]: ln.split()[-1] for ln in lines[:-1] if ln.startswith("# ")}
    for m in wanted:
        assert report.get(m["name"]) == m["unit"], m["name"]


def test_traced_layers_sum_to_traced_total_within_overhead(traced_run):
    _lines, result = traced_run
    m = {k: v["value"] for k, v in result["metrics"].items()}
    layer_sum = sum(m[f"{layer}.wall_s"] for layer in PATH_LAYERS)
    gap = m["trace.total_s"] - layer_sum
    assert 0 <= gap <= m["trace.overhead_s"], (gap, m["trace.overhead_s"])
    # the Python boundary and the checkpoint counters were read
    for layer in ("mentions", "tagger"):
        for metric, _unit in metrics.LAYER_EXTRAS[layer]:
            assert m[f"{layer}.{metric}"] > 0, f"{layer}.{metric}"
    assert m["checkpoint.scan_amplification"] > 1
    # every attempt scans the whole input: the bucket filter is not pushed
    # into the parquet reader
    assert m["checkpoint.input_rows_read"] >= TINY_TURNS
    assert m["sink.task_skew"] >= 1


def test_dropped_triple_trips_the_gate(tmp_path):
    from cliner_spark import fixtures
    from cliner_spark.pipeline import run_pipeline
    from cliner_spark.session import get_spark
    from cliner_spark.triples import write_triples

    from perfbench.check import matches, reference_fingerprint, sink_fingerprint

    spark = get_spark("perfbench_gate", master="local[2]", shuffle_partitions=2)
    try:
        rows = fixtures.gen_transcripts(n_convs=6, avg_turns=5, seed=3)
        reference = reference_fingerprint(rows, fixtures.CLINICAL_GAZETTEER)
        sink = str(tmp_path / "sink")
        tx = fixtures.transcripts_df(spark, rows)
        write_triples(run_pipeline(spark, tx, scanner="expr")["triples"], sink)
        good = spark.read.parquet(sink)
        assert matches(sink_fingerprint(good), reference)

        # one triple fewer: the key set differs, the gate fails
        victim = good.orderBy("subj", "pred", "obj").first()
        dropped = good.filter(
            ~((good.subj == victim.subj) & (good.pred == victim.pred) & (good.obj == victim.obj))
        )
        assert sink_fingerprint(dropped).rows == sink_fingerprint(good).rows - 1
        assert not matches(sink_fingerprint(dropped), reference)

        # one triple twice: same key set, counted as a duplicate instead
        doubled = sink_fingerprint(good.unionByName(good.limit(1)))
        assert matches(doubled, reference)
        assert doubled.dup_triples == 1
    finally:
        spark.stop()


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _run(["--workload", "predict_long", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
