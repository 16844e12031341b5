"""Per-layer readings from Spark's own bookkeeping, taken from outside the
program around each public call.

- Jobs of a layer: the job group the tracer sets before the call
  (`SparkContext.setJobGroup`), resolved with the status tracker.
- Stage totals (task run time, JVM CPU, shuffle, spill, input, failed
  tasks, per-task times): the app status store,
  `sc._jsc.sc().statusStore()`.
- SQL node metrics (the Python-boundary counters of a mapInPandas node):
  the SQLMetric accumulators of the layer's executed plan, the same values
  the SQL status store renders as text.
- Rows a file scan read inside a call whose DataFrames the benchmark never
  sees (`checkpoint.run_resumable`): the SQL status store,
  `spark._jsparkSession.sharedState().statusStore()`, walked from the
  executions that ran the call's jobs to their parquet scan nodes.

All of these work with `spark.ui.enabled=false`.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


class SparkProbe:
    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = self._sc.statusTracker()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the finished jobs' final numbers."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def _stages(self, job_ids: list[int]) -> list:
        out = []
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    out.append(self._store.lastStageAttempt(int(sid)))
                except Py4JJavaError:  # stage skipped (reused shuffle): no attempt stored
                    continue
        return out

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        tot = {
            "task_s": 0.0,
            "jvm_cpu_s": 0.0,
            "failed_tasks": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "input_bytes": 0,
            "input_rows_read": 0,
        }
        for st in self._stages(job_ids):
            tot["task_s"] += st.executorRunTime() / 1e3
            tot["jvm_cpu_s"] += st.executorCpuTime() / 1e9
            tot["failed_tasks"] += st.numFailedTasks()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.diskBytesSpilled()
            tot["input_bytes"] += st.inputBytes()
            tot["input_rows_read"] += st.inputRecords()
        return tot

    def scan_rows(self, job_ids: list[int], path: str) -> int:
        """Rows output by the parquet scans of `path` in the SQL executions
        that ran any of `job_ids`."""
        jobs = set(job_ids)
        total = 0
        for ex in _scala(self._sql.executionsList()):
            if not jobs & {int(j) for j in _scala(ex.jobs().keys())}:
                continue
            eid = ex.executionId()
            values = {int(kv._1()): kv._2() for kv in _scala(self._sql.executionMetrics(eid))}
            for node in _scala(self._sql.planGraph(eid).allNodes()):
                if not (node.name().startswith("Scan parquet") and path in node.desc()):
                    continue
                for m in _scala(node.metrics()):
                    # a node no task ran (an adaptive plan's replaced scan)
                    # has no value in the store: it read nothing
                    if m.name() == "number of output rows":
                        total += int(values.get(int(m.accumulatorId()), "0").replace(",", ""))
        return total

    def task_skew(self, job_ids: list[int]) -> float:
        """max / median task run time of the stage that wrote the most
        output bytes (the file-writing stage of a sink)."""
        stages = [s for s in self._stages(job_ids) if s.outputBytes() > 0]
        if not stages:
            return 0.0
        st = max(stages, key=lambda s: s.outputBytes())
        tasks = self._store.taskList(st.stageId(), st.attemptId(), st.numTasks())
        times = []
        it = tasks.iterator()
        while it.hasNext():
            m = it.next().taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        med = statistics.median(times) if times else 0
        return max(times) / med if med else 0.0


def _scala(coll):
    """Python iterator over a Scala collection reached through py4j."""
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def plan_metrics(df: DataFrame) -> dict[str, int]:
    """SQLMetric values of `df`'s executed plan, summed per metric key over
    every node (adaptive plans are walked through their final stages)."""
    out: dict[str, int] = {}

    def walk(node) -> None:
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = out.get(kv._1(), 0) + kv._2().value()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            walk(node.plan())
        else:
            ch = node.children().iterator()
            while ch.hasNext():
                walk(ch.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def python_boundary(metrics: dict[str, int]) -> dict[str, float]:
    """Python-worker counters of an Arrow UDF node, in s and bytes (Spark
    keeps these times in ms). A counter missing on this Spark version
    raises rather than reading as 0."""
    return {
        "python_run_s": metrics["pythonTotalTime"] / 1e3,
        "python_start_s": (metrics["pythonBootTime"] + metrics["pythonInitTime"]) / 1e3,
        "arrow_bytes_to_python": metrics["pythonDataSent"],
        "arrow_bytes_from_python": metrics["pythonDataReceived"],
    }


def job_group(layer: str) -> str:
    """Spark job group the benchmark sets while `layer` runs."""
    return f"perfbench:{layer}"


class Tracer:
    """Records one span per layer: wall time around the call plus the
    status-store readings of the jobs it ran. Spans are kept in memory
    (`self.layers`) and written out by the caller."""

    def __init__(self, spark: SparkSession, probe: SparkProbe, sampler):
        self._sc = spark.sparkContext
        self._probe = probe
        self._sampler = sampler
        self.layers: dict[str, dict[str, float]] = {}

    @contextmanager
    def layer(self, name: str):
        rec: dict[str, float] = {}
        self._sc.setJobGroup(job_group(name), name)
        self._sampler.take_peak()
        self._sampler.resume()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self._sampler.pause()
            rec["worker_peak_rss_mb"] = self._sampler.take_peak()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        self.record(name, rec)

    def record(self, name: str, rec: dict[str, float]) -> None:
        """Fill in the status-store readings of the layer's job group after
        the layer ran."""
        self._probe.drain()
        jobs = self._probe.job_ids(job_group(name))
        rec["jobs"] = len(jobs)
        rec.update(self._probe.stage_totals(jobs))
        rec["_job_ids"] = jobs
        self.layers[name] = rec
