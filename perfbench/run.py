"""spark-levmatch benchmark: one workload per run, closed loop, one client,
Spark at local[<cores>].

    python3 perfbench/run.py --workload link_batch --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from --seed; every op's
output is checked. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with --trace 0,
the per-layer metrics of a traced run with --trace 1. The line before it
records the host (cores, RAM, chosen heap, steal share, job-latency canary)
and the sample counts, for explaining a noisy run; nothing gates on it.

Everything the run writes lives under .perfbench_work/ in the repository
root and is removed at exit, except the span dump of a traced run."""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

PROCESS_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench_work")

SETUP_REPS = 3       # set-ups per run, each in a fresh JVM; setup_s is their median
MIN_SAMPLES = 5      # warm ops measured even when --seconds runs out first
CANARY_JOBS = 10
TRACE_OPS = 2        # ops per mode: untraced, spans only, materialized
KERNEL_SAMPLE = 8 * 3072
KERNEL_REPS = 3
LAYERS = ("sources", "canonicalize", "candidates", "scoring", "clustering", "staging")


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = parse_args()
    work = os.path.join(WORK_BASE, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file Spark, the JVM and the package write stays in `work`
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path.insert(1, ROOT)
    sys.dont_write_bytecode = True  # leave the checkout's files as they are
    try:
        try:
            import liblevenshtein_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: liblevenshtein_spark not importable from {ROOT}: {e}",
                  file=sys.stderr)
            return 2
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        return Run(args, work, WORKLOADS[args.workload]).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_BASE)  # only when no traced run left spans in it


class Run:
    def __init__(self, args, work: str, workload_cls):
        import procfs

        self.args, self.work = args, work
        self.cores = os.cpu_count() or 1
        self.mem = procfs.mem_total_bytes()
        self.heap_gb = procfs.driver_heap_gb(self.mem)
        self.wl = workload_cls(work, args.seed, self.cores)
        self.pid = os.getpid()
        self.attempted = self.failed = 0
        self.info: dict = {"workload": self.wl.name, "seed": args.seed,
                           "trace": args.trace, "failures": []}

    # -- session ----------------------------------------------------------------
    def session(self, event_log: str | None = None):
        from liblevenshtein_spark.session import build_session

        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": f"{self.heap_gb}g",
            # a fixed, pre-touched heap, which peak_rss_mb subtracts: what
            # is left is what the program adds (JVM off-heap and native
            # memory, Python workers), not when the collector chose to grow
            # the heap. No perf-data file, which the JVM would write under
            # /tmp whatever java.io.tmpdir says.
            "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={self.work}/tmp "
                                              f"-Xms{self.heap_gb}g -XX:+AlwaysPreTouch "
                                              "-XX:-UsePerfData"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # the Arrow batch size scripts/linkage_job.py runs with
            "spark.sql.execution.arrow.maxRecordsPerBatch": "3072",
        }
        if event_log is not None:
            os.makedirs(event_log, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + event_log
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return build_session(app_name=f"perfbench-{self.wl.name}",
                             master=f"local[{self.cores}]",
                             shuffle_partitions=2 * self.cores, extra_conf=conf)

    @staticmethod
    def shutdown(spark) -> None:
        """Stop the context, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None

    def canary(self, spark) -> float:
        lat = []
        for _ in range(CANARY_JOBS):
            t0 = time.perf_counter()
            spark.range(1000).count()
            lat.append(time.perf_counter() - t0)
        return statistics.median(lat)

    # -- ops ----------------------------------------------------------------------
    def one(self, spark, tracer=None) -> tuple[float, float] | None:
        """One timed op plus its output check; None when it failed."""
        import procfs
        from workloads import CheckFailed

        self.attempted += 1
        try:
            self.wl.prepare()
            cpu0 = procfs.tree_cpu_s(self.pid)
            t0 = time.perf_counter()
            if tracer is None:
                out = self.wl.op(spark)
            else:
                with tracer.op(self.wl.name):
                    out = self.wl.op(spark, tracer)
            elapsed = time.perf_counter() - t0
            cpu = procfs.tree_cpu_s(self.pid) - cpu0
            self.wl.check(spark, out)
        except CheckFailed as e:
            self.fail(str(e))
            return None
        except Exception:
            self.fail(traceback.format_exc())
            return None
        return elapsed, cpu

    def phase(self, name: str) -> None:
        """Record when a phase of the run ended, in seconds since start."""
        self.info.setdefault("phase_end_s", {})[name] = round(time.perf_counter() - PROCESS_START, 2)

    def fail(self, message: str) -> None:
        self.failed += 1
        self.info["failures"].append(message[-2000:])
        print(f"perfbench: op failed: {message}", file=sys.stderr)

    def warm_samples(self, spark, seconds: float) -> list[tuple[float, float]]:
        for _ in range(self.wl.warmup_ops):
            self.one(spark)
        self.phase("warmup")
        samples = []
        start = time.perf_counter()
        # a hard stop at twice the window keeps a failing op from looping
        while time.perf_counter() - start < 2 * seconds:
            if time.perf_counter() - start >= seconds and len(samples) >= MIN_SAMPLES:
                break
            s = self.one(spark)
            if s is not None:
                samples.append(s)
        return samples

    def finish_checks(self, spark) -> None:
        from workloads import CheckFailed

        self.attempted += 1
        try:
            self.info["counts"] = self.wl.finish(spark)
        except CheckFailed as e:
            self.fail(str(e))
        except Exception:
            self.fail(traceback.format_exc())

    # -- the run --------------------------------------------------------------------
    def execute(self) -> int:
        import procfs

        steal0, total0 = procfs.cpu_ticks()
        self.phase("start")
        self.wl.generate()
        self.phase("generate")

        # a traced run logs events from its one set-up on; its set-up is
        # not reported
        event_log = os.path.join(self.work, "eventlog") if self.args.trace else None
        with procfs.RssSampler(self.pid) as rss:
            # each set-up starts from no JVM: JVM launch and session, then
            # the workload's staging
            setups, spark = [], None
            for _ in range(1 if self.args.trace else SETUP_REPS):
                if spark is not None:
                    self.wl.unstage(spark)
                    self.shutdown(spark)
                t0 = time.perf_counter()
                spark = self.session(event_log)
                self.wl.stage(spark)
                setups.append(time.perf_counter() - t0)
            self.info["setups_s"] = setups
            self.phase("setup")
            self.info["process_to_first_op_s"] = time.perf_counter() - PROCESS_START
            try:
                if self.args.trace:
                    metrics = self.traced(spark, event_log)
                else:
                    metrics = self.untraced(spark, setups)
                    metrics["peak_rss_mb"] = (rss.peak / 2**20 - 1024 * self.heap_gb, "MB")
                self.info["rss"] = {"tree_peak_mb": rss.peak / 2**20,
                                    "heap_subtracted_mb": 1024 * self.heap_gb,
                                    "shared_skipped": rss.skipped}
            finally:
                self.wl.unstage(spark)
                self.shutdown(spark)
                self.phase("shutdown")

        steal1, total1 = procfs.cpu_ticks()
        self.info["host"] = {
            "cores": self.cores, "mem_total_gb": self.mem / 2**30,
            "driver_heap_gb": self.heap_gb,
            "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            **self.info.pop("canary", {}),
        }
        print(json.dumps(self.info))
        print(json.dumps({
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }, allow_nan=False))
        return 0

    def untraced(self, spark, setups: list[float]) -> dict:
        cold = self.one(spark)
        self.phase("cold")
        # where a streaming cold op spent its time, to explain its spread
        self.info["cold_durations_ms"] = [p["durationMs"] for p in self.wl.progress()]
        canary_start = self.canary(spark)
        samples = self.warm_samples(spark, self.args.seconds)
        self.phase("measure")
        self.info["canary"] = {"canary_start_s": canary_start,
                               "canary_end_s": self.canary(spark)}
        self.finish_checks(spark)
        self.phase("finish")
        times = sorted(s[0] for s in samples)
        n = len(times)
        # recorded, not gated: a single sample, and ingest_stream's first
        # micro-batch takes about 5.7 s or about 8.3 s from one fresh
        # process to the next, which spread it 0.33 of its median over ten
        # runs (NOTES.md)
        ops = {"cold_op_s": cold[0] if cold else None,
               "warmup_ops": self.wl.warmup_ops, "op_samples": n,
               "op_s": [round(s[0], 3) for s in samples]}
        if n > 10:
            # the highest percentile with at least ten samples above it
            p = 100 * (n - 10) // n
            ops[f"op_p{p}_s"] = statistics.quantiles(times, n=100, method="inclusive")[p - 1]
        self.info["ops"] = ops
        # a metric no op could measure is null; the run is then not correct
        return {
            "setup_s": (statistics.median(setups), "s"),
            "op_p50_s": (statistics.median(times) if times else None, "s"),
            "op_cpu_s": (statistics.median(s[1] for s in samples) if samples else None, "s"),
            "state_bytes_per_input_byte": (self.wl.state_bytes(spark) / self.wl.input_bytes, "B/B"),
        }

    def traced(self, spark, event_log: str) -> dict:
        from spans import COUNT_GROUP, Tracer, job_group_metrics

        # the cold op and the warm-up run untraced
        sc = spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", "warmup")
        for _ in range(1 + self.wl.warmup_ops):
            self.one(spark)

        # untraced and span-only ops alternate, so warm-up drift does not
        # land on one side of the overhead comparison
        fused = Tracer(spark, materialize=False, prefix="fused:")
        untraced, traced = [], []
        for _ in range(TRACE_OPS):
            sc.setLocalProperty("spark.jobGroup.id", "untraced")
            untraced.append(self.one(spark))
            sc.setLocalProperty("spark.jobGroup.id", None)
            with fused.patched():
                traced.append(self.one(spark, fused))
        untraced = [s[0] for s in untraced if s]
        traced = [s[0] for s in traced if s]
        staged = Tracer(spark, materialize=True)
        with staged.patched():
            staged_ops = [s[0] for s in (self.one(spark, staged) for _ in range(TRACE_OPS)) if s]
        progress = self.wl.progress()[-TRACE_OPS:]
        self.finish_checks(spark)
        state_bytes = self.wl.state_bytes(spark) if self.wl.name == "ingest_stream" else 0
        self.wl.unstage(spark)
        spark.stop()  # flushes and closes the event log
        groups = job_group_metrics(event_log)
        staged.dump(os.path.join(WORK_BASE, "traces",
                                 f"{self.wl.name}-seed{self.args.seed}.json"))

        k = TRACE_OPS
        g = {name: groups.get(name, {}) for name in LAYERS}
        c = staged.counts

        def per_op(value) -> float:
            return value / k

        m: dict[str, tuple] = {}
        cand, scor, clus = g["candidates"], g["scoring"], g["clustering"]
        m["sources.load_s"] = (per_op(staged.wall("sources")), "s")
        m["sources.rows"] = (per_op(c.get("sources.rows", 0)), "count")
        m["canonicalize.wall_s"] = (per_op(staged.wall("canonicalize")), "s")
        m["canonicalize.rows_out"] = (per_op(c.get("canonicalize.rows_out", 0)), "count")
        m["candidates.wall_s"] = (per_op(staged.wall("candidates")), "s")
        m["candidates.jobs"] = (per_op(cand.get("jobs", 0)), "count")
        m["candidates.tasks"] = (per_op(cand.get("tasks", 0)), "count")
        m["candidates.task_p50_s"] = (cand.get("task_p50_s", 0.0), "s")
        m["candidates.task_max_s"] = (cand.get("task_max_s", 0.0), "s")
        m["candidates.shuffle_write_mb"] = (per_op(cand.get("shuffle_write_bytes", 0)) / 2**20, "MB")
        m["candidates.pairs_out"] = (per_op(c.get("candidates.pairs_out", 0)), "count")
        pairs_in = c.get("scoring.pairs_in", 0)
        m["candidates.match_yield"] = (c.get("scoring.matches_out", 0) / pairs_in
                                       if pairs_in and "scoring.matches_out" in c else 0.0, "ratio")
        m["scoring.wall_s"] = (per_op(staged.wall("scoring")), "s")
        m["scoring.pairs_in"] = (per_op(pairs_in), "count")
        m["scoring.python_sent_mb"] = (per_op(scor.get("python_sent_bytes", 0)) / 2**20, "MB")
        m["scoring.python_returned_mb"] = (per_op(scor.get("python_returned_bytes", 0)) / 2**20, "MB")
        m["scoring.executor_cpu_s"] = (per_op(scor.get("executor_cpu_s", 0.0)), "s")
        m["scoring.gc_s"] = (per_op(scor.get("gc_s", 0.0)), "s")
        m.update(self.kernel_probe())
        m["clustering.wall_s"] = (per_op(staged.wall("clustering")), "s")
        m["clustering.jobs"] = (per_op(clus.get("jobs", 0)), "count")
        m["clustering.edges_in"] = (per_op(c.get("clustering.edges_in", 0)), "count")
        m["clustering.clusters_out"] = (per_op(c.get("clustering.clusters_out", 0)), "count")
        duration = lambda key: (statistics.median(p["durationMs"].get(key, 0) for p in progress) / 1e3
                                if progress else 0.0)
        m["streaming.add_batch_s"] = (duration("addBatch"), "s")
        m["streaming.planning_s"] = (duration("queryPlanning"), "s")
        m["streaming.wal_commit_s"] = (duration("walCommit"), "s")
        m["staging.bytes_written"] = (per_op(c.get("staging.bytes_written", 0)), "B")
        m["staging.state_mb"] = (state_bytes / 2**20, "MB")
        fused_groups = [v for name, v in groups.items() if name.startswith("fused:")]
        m["spark.jobs_per_op"] = (sum(v["jobs"] for v in fused_groups) / k, "count")
        m["spark.tasks_per_op"] = (sum(v["tasks"] for v in fused_groups) / k, "count")
        m["spark.failed_tasks"] = (sum(v["failed_tasks"] for v in groups.values()), "count")
        stage_sum = sum(staged.wall(name) for name in LAYERS) / k
        # medians stay null when every op of a mode failed (not correct)
        base = statistics.median(untraced) if untraced else None
        traced_p50 = statistics.median(traced) if traced else None
        m["trace.untraced_op_s"] = (base, "s")
        m["trace.traced_op_s"] = (traced_p50, "s")
        m["trace.overhead_share"] = (traced_p50 / base - 1 if base and traced_p50 else None, "ratio")
        m["trace.staged_op_s"] = (statistics.median(staged_ops) if staged_ops else None, "s")
        m["trace.stage_sum_s"] = (stage_sum, "s")
        m["trace.fused_over_stage_sum"] = (base / stage_sum if base and stage_sum else None, "ratio")
        self.info["count_group_jobs"] = groups.get(COUNT_GROUP, {}).get("jobs", 0)
        self.check_layers(staged, groups, progress)
        return m

    def check_layers(self, staged, groups: dict, progress: list[dict]) -> None:
        """A layer the workload runs that shows no wall time or no Spark
        jobs in the traced run means the spans or job groups missed it; the
        check counts as a failed op."""
        from workloads import CheckFailed

        self.attempted += 1
        silent = []
        for layer in self.wl.layers:
            if layer == "streaming":
                seen = any(p["durationMs"].get("addBatch", 0) > 0 for p in progress)
            else:
                seen = staged.wall(layer) > 0 and groups.get(layer, {}).get("jobs", 0) > 0
            if not seen:
                silent.append(layer)
        if silent:
            self.fail(str(CheckFailed(f"traced run saw no wall time or no jobs in {silent}")))

    def kernel_probe(self) -> dict:
        """batch_banded_distance_arrow called directly, single-threaded in
        this process, on KERNEL_SAMPLE seeded near-duplicate pairs, in Arrow
        batches of the session's size."""
        import numpy as np

        from inputs import MAX_DISTANCE, hard_pairs
        from liblevenshtein_spark.kernels.banded import batch_banded_distance_arrow
        from workloads import CheckFailed

        table, dists = hard_pairs(self.args.seed, KERNEL_SAMPLE)
        batches = table.to_batches(max_chunksize=3072)
        reps = []
        for _ in range(KERNEL_REPS):
            t0 = time.perf_counter()
            got = [batch_banded_distance_arrow(b.column(1), b.column(2), MAX_DISTANCE)
                   for b in batches]
            reps.append(time.perf_counter() - t0)
        self.attempted += 1
        if not np.array_equal(np.concatenate(got), np.array(dists)):
            self.fail(str(CheckFailed("kernel probe distances differ from the planted ones")))
        lengths = np.array([len(s) for s in table.column(1).to_pylist()])
        return {
            "kernel.pairs_per_s": (len(dists) / statistics.median(reps), "1/s"),
            "kernel.cells": (int(lengths.sum()) * (2 * MAX_DISTANCE + 1), "count"),
            "kernel.bytes_in": (sum(b.size for col in (1, 2) for b in table.column(col).chunks[0].buffers()
                                    if b is not None), "B"),
        }


if __name__ == "__main__":
    sys.exit(main())
