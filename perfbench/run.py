"""KG-construction benchmark: transcript turns -> published triples.

Run from the repository root:

  python3 perfbench/run.py --workload predict_long --seed 1 --seconds 4 --trace 0

One process, one Spark session at local[<cpus this process may use>].
Each run:

1. set-up (timed as setup_s): session start + Python-worker warm-up,
   `canonical_concept_map` build (once per process: it is a
   gazetteer-release artifact), then WARMUP_RUNS untimed warm-up
   pipeline runs. Between session start and the canonical map, input
   generation with `fixtures.big_transcripts` from --seed and the
   reference triple set from `oracle_py.pipeline_triples` (neither timed,
   nor part of setup_s);
2. a closed loop for --seconds: `pipeline.run_pipeline` ->
   `triples.hot_conversations` + `triples.write_triples`, one run after
   another from this single client; every run's sink is checked against
   the reference outside the timed region;
3. with --trace 1, one more pass that calls each layer's public function
   separately and materialises its output before the next layer consumes
   it, reading Spark's status stores around each call (spark_probe.py),
   plus side passes for the layers the workload's path does not run
   (`tagger.tag_mentions`, and `checkpoint.run_resumable` over sliced buckets).

Human-readable lines start with '#'. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; --trace 0 reports
the end-to-end metrics, --trace 1 the per-layer ones (metrics.py).
Exits non-zero without a result when the package under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402
from perfbench.workloads import RESUME_BUCKETS, RESUME_SLICES, SCANNER, WORKLOADS  # noqa: E402

WORK_DIR = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"
# untimed pipeline runs before the closed loop, charged to setup_s. The first
# run in a fresh JVM takes about twice a steady run; after it the JIT is
# still compiling and the next run is 15-20% slower.
WARMUP_RUNS = 2
MAX_FAILED_RUNS = 3


def _identity(batches):
    yield from batches


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _host_steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot, summed
    over all CPUs (0 where the kernel does not account it). Printed per
    timed run: on a shared host it explains part of the slow runs (README)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    steal = int(fields[8]) if len(fields) > 8 else 0
    return steal / os.sysconf("SC_CLK_TCK")


class Bench:
    def __init__(self, workload, seed: int, seconds: float, n_turns: int, work: str):
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.n_turns = n_turns
        self.work = work
        self.cores = _cores()
        self.spark = None
        self.sampler = None
        self.attempted = 0
        self.failed = 0
        self.setup: dict[str, float] = {}
        self.peak_rss = 0.0

    # ------------------------------------------------------------ lifecycle

    def _environment(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        # keep every file Spark, the JVM and the Python workers write inside
        # the work directory
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # scan nodes must show their whole input path (SparkProbe.scan_rows)
            "spark.sql.maxMetadataStringLength": "1000",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }

    def close(self) -> None:
        if self.sampler is not None:
            self.sampler.close()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                # the gateway JVM exits once its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:  # last resort: do not leave it running
                    proc.kill()
                    proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # ---------------------------------------------------------------- steps

    def start(self) -> None:
        conf = self._environment()
        from cliner_spark.session import get_spark

        from perfbench.rss import WorkerRssSampler
        from perfbench.spark_probe import job_group

        self.sampler = WorkerRssSampler().start()
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]", extra_conf=conf
        )
        sc = self.spark.sparkContext
        sc.setJobGroup(job_group("session"), "session")
        self.warm_rows = (
            self.spark.range(self.cores * 4)
            .repartition(self.cores * 2)
            .mapInPandas(_identity, schema="id long")
            .count()
        )
        self.setup["session"] = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)

    def build_canon(self) -> None:
        from cliner_spark import fixtures
        from cliner_spark.canonicalize import canonical_concept_map

        from perfbench.spark_probe import job_group

        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        sc.setJobGroup(job_group("canonicalize"), "canonicalize")
        self.gaz = fixtures.gazetteer_df(self.spark)
        self.canon = canonical_concept_map(self.gaz).localCheckpoint(eager=True)
        self.setup["canonicalize"] = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)

    def make_input(self) -> None:
        """Seeded input + its reference fingerprint (not timed)."""
        from cliner_spark import fixtures

        from perfbench.check import parquet_reference

        w = self.w
        path = self.input_path = os.path.join(self.work, "input")
        fixtures.big_transcripts(
            self.spark,
            n_turns=self.n_turns,
            n_convs=max(64, self.n_turns // 200),
            seed=self.seed,
            hot_share=w.hot_share,
            words_per_turn=w.words_per_turn,
            filler_weight=w.filler_weight,
        ).repartition(self.cores * 2).write.mode("overwrite").parquet(path)
        self.tx = self.spark.read.parquet(path)
        self.input_turns, self.reference = parquet_reference(
            path, fixtures.CLINICAL_GAZETTEER
        )

    @property
    def hot_threshold(self) -> int:
        from cliner_spark.triples import HOT_CONV_THRESHOLD

        return self.w.hot_threshold if self.w.hot_threshold is not None else HOT_CONV_THRESHOLD

    def pipeline_once(self, sink: str) -> float:
        """One closed-loop run: run_pipeline call to sink write returned, as
        the `predict` CLI runs it (with_metrics on) but with the prebuilt
        canonical map."""
        from cliner_spark.pipeline import run_pipeline
        from cliner_spark.triples import hot_conversations, write_triples

        t0 = time.perf_counter()
        out = run_pipeline(
            self.spark, self.tx, scanner=SCANNER, canon_map=self.canon, with_metrics=True
        )
        hot = hot_conversations(self.tx, threshold=self.hot_threshold)
        write_triples(out["triples"], sink, hot=hot)
        return time.perf_counter() - t0

    def checked(self, sink: str):
        """Sink fingerprint + verdict; counts the run as attempted."""
        from perfbench.check import matches, sink_fingerprint

        chk = sink_fingerprint(self.spark.read.parquet(sink))
        self.attempted += 1
        if not matches(chk, self.reference):
            self.failed += 1
            print(f"# WRONG sink {sink}: {chk} vs reference {self.reference}", file=sys.stderr)
        return chk

    def warmup(self) -> None:
        sink = os.path.join(self.work, "sink")
        for i in range(WARMUP_RUNS):
            self.setup[f"warmup{i + 1}"] = self.pipeline_once(sink)

    def timed_loop(self) -> dict[str, float]:
        from perfbench.check import sink_bytes

        sink = os.path.join(self.work, "sink")
        walls, stolen, per_triple = [], [], []
        self.sampler.resume()
        t_end = time.perf_counter() + self.seconds
        while not walls or time.perf_counter() < t_end:
            self.sampler.take_peak()
            steal0 = _host_steal_s()
            try:
                wall = self.pipeline_once(sink)
            except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
                traceback.print_exc()
                self.attempted += 1
                self.failed += 1
                if not walls and self.failed >= MAX_FAILED_RUNS:
                    raise  # nothing to report without one finished run
                continue
            stolen.append((_host_steal_s() - steal0) / (wall * os.cpu_count()))
            rss = self.sampler.take_peak()
            chk = self.checked(sink)
            walls.append(wall)
            per_triple.append(sink_bytes(sink) / max(chk.rows, 1))
            self.peak_rss = max(self.peak_rss, rss)
            self.last_check = chk
        self.sampler.pause()
        self.walls = walls
        print(f"# timed runs: {len(walls)}; wall s: {[round(x, 3) for x in walls]}; "
              f"host steal share: {[round(x, 3) for x in stolen]}")
        return {
            "turns_per_s": self.input_turns / statistics.median(self.walls),
            "setup_s": sum(self.setup.values()),
            "worker_peak_rss_mb": self.peak_rss,
            "sink_bytes_per_triple": statistics.median(per_triple),
        }

    # --------------------------------------------------------------- traced

    def _scan_layer(self, tr, name: str, turns):
        from perfbench.spark_probe import plan_metrics, python_boundary

        with tr.layer(name) as rec:
            df = self._scan_df(name, turns)
            out = df.localCheckpoint(eager=True)
        rec.update(python_boundary(plan_metrics(df)))
        rec["rows_out"] = out.count()
        return out

    def _scan_df(self, name: str, turns):
        if name == "mentions":
            from cliner_spark.mentions import scan_mentions_udf

            terms = [r["term"] for r in self.gaz.select("term").distinct().collect()]
            return scan_mentions_udf(turns, terms)
        from cliner_spark.tagger import make_distant_model, tag_mentions

        entries = [
            (r["term"], r["cui"], r["sem_type"], r["canonical"], r["score"])
            for r in self.gaz.collect()
        ]
        return tag_mentions(turns, make_distant_model(entries)).drop("concept_type")

    def traced(self) -> dict[str, float]:
        from cliner_spark.link import link_mentions
        from cliner_spark.session import ensure_parallelism
        from cliner_spark.tokenization import drop_blank_turns
        from cliner_spark.triples import build_triples, hot_conversations, write_triples

        from perfbench.check import data_files, sink_bytes
        from perfbench.spark_probe import SparkProbe, Tracer

        probe = SparkProbe(self.spark)
        tr = Tracer(self.spark, probe, self.sampler)
        tr.record("session", {"wall_s": self.setup["session"], "rows_out": self.warm_rows})
        tr.record("canonicalize",
                  {"wall_s": self.setup["canonicalize"], "rows_out": self.canon.count()})

        # the workload's own path, layer by layer
        sink = os.path.join(self.work, "sink_traced")
        t0 = time.perf_counter()
        with tr.layer("tokenization") as rec:
            turns = drop_blank_turns(ensure_parallelism(self.tx)).localCheckpoint(eager=True)
        rec["rows_out"] = turns.count()
        mentions = self._scan_layer(tr, "mentions", turns)
        with tr.layer("link") as rec:
            linked = link_mentions(mentions, self.gaz).localCheckpoint(eager=True)
        rec["rows_out"] = linked.count()
        with tr.layer("triples") as rec:
            triples = build_triples(linked, canon_map=self.canon).localCheckpoint(eager=True)
        rec["rows_out"] = triples.count()
        with tr.layer("triples.hot") as rec:
            hot = hot_conversations(self.tx, threshold=self.hot_threshold).localCheckpoint(eager=True)
        rec["rows_out"] = hot.count()
        with tr.layer("sink") as rec:
            write_triples(triples, sink, hot=hot)
            t_end = time.perf_counter()
        total = t_end - t0
        chk = self.checked(sink)
        rec.update(
            rows_out=chk.rows,
            bytes_written=sink_bytes(sink),
            files=len(data_files(sink)),
            task_skew=probe.task_skew(rec["_job_ids"]),
        )

        # side passes: layers off this workload's path, on the same input
        self._scan_layer(tr, "tagger", turns)
        self._checkpoint_layer(tr, probe)

        # every metric must have been read: a missing one raises here
        out = {}
        for layer, extras in metrics.LAYER_EXTRAS.items():
            for metric, _unit in metrics.BASE + extras:
                out[f"{layer}.{metric}"] = tr.layers[layer][metric]
        untraced = statistics.median(self.walls)
        out.update({
            "trace.total_s": total,
            "trace.untraced_s": untraced,
            "trace.overhead_s": total - untraced,
        })
        self._write_spans(tr.layers, out)
        return out

    def _checkpoint_layer(self, tr, probe) -> None:
        from cliner_spark.checkpoint import run_resumable

        from perfbench.spark_probe import job_group

        out_dir = os.path.join(self.work, "resume")
        shutil.rmtree(out_dir, ignore_errors=True)
        slices = [
            [b for b in range(RESUME_BUCKETS) if b % RESUME_SLICES == i]
            for i in range(RESUME_SLICES)
        ]
        results, walls, attempt_jobs = [], [], []
        group = job_group("checkpoint")
        with tr.layer("checkpoint") as rec:
            # one call per slice (a crash after each), then a resume with
            # nothing left to do
            for only in slices + [None]:
                probe.drain()
                before = set(probe.job_ids(group))
                t0 = time.perf_counter()
                results.append(run_resumable(
                    self.spark, self.tx, out_dir, n_buckets=RESUME_BUCKETS,
                    run_id="perfbench", scanner=SCANNER, only_buckets=only,
                ))
                walls.append(time.perf_counter() - t0)
                probe.drain()
                attempt_jobs.append(sorted(set(probe.job_ids(group)) - before))
        chk = self.checked(f"{out_dir}/triples")
        # transcript rows each attempt scanned, from its own jobs only: the
        # read-backs of the sink and of the progress table are not counted
        scanned = [probe.scan_rows(jobs, self.input_path) for jobs in attempt_jobs]
        rec.update(
            noop_s=walls[-1],
            rows_out=sum(r["rows_out"] for r in results),
            dup_triples=chk.dup_triples,
            input_rows_read=sum(scanned),
            scan_amplification=max(
                n / r["rows_in"] for n, r in zip(scanned, results) if r["rows_in"]
            ),
            progress_rows=self.spark.read.parquet(f"{out_dir}/progress").count(),
        )

    def _write_spans(self, layers: dict, flat: dict) -> None:
        spans = {k: {m: v for m, v in rec.items() if not m.startswith("_")}
                 for k, rec in layers.items()}
        with open(os.path.join(self.work, "trace.json"), "w") as f:
            json.dump({"workload": self.w.name, "seed": self.seed,
                       "layers": spans, "metrics": flat}, f, indent=1)


def _report(values: dict[str, float], units: dict[str, str]) -> None:
    for name, unit in units.items():
        print(f"# {name:<40} {values[name]:>16.6g} {unit}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--turns", type=int, default=None,
                    help="override the workload's input size (tests)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cliner_spark", "pipeline.py")):
        print(f"perfbench: no cliner_spark package under {ROOT}", file=sys.stderr)
        return 2

    w = WORKLOADS[args.workload]
    work = os.path.join(WORK_DIR, w.name)
    shutil.rmtree(work, ignore_errors=True)
    bench = Bench(w, args.seed, args.seconds, args.turns or w.n_turns, work)
    t_start = time.perf_counter()
    try:
        bench.start()
        t_input = time.perf_counter()
        bench.make_input()
        t_input = time.perf_counter() - t_input
        bench.build_canon()
        bench.warmup()
        e2e = bench.timed_loop()
        traced = bench.traced() if args.trace else None
    finally:
        bench.close()

    print(f"# workload {w.name} seed {args.seed} turns {bench.input_turns} "
          f"local[{bench.cores}] scanner {SCANNER}; input + reference {t_input:.1f} s "
          f"(not in setup_s); whole run {time.perf_counter() - t_start:.1f} s")
    _report(e2e, metrics.END_TO_END)
    for part, secs in bench.setup.items():
        print(f"# {'  setup: ' + part:<40} {secs:>16.6g} s")
    print(f"# {'error_rate':<40} {bench.failed / bench.attempted:>16.6g} fraction")
    print(f"# {'dup_triples':<40} {bench.last_check.dup_triples:>16d} rows")
    if traced is None:
        result = e2e
        units = metrics.END_TO_END
    else:
        _report(traced, metrics.per_layer())
        result = traced
        units = metrics.per_layer()
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": result[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
