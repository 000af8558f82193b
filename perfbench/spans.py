"""Tracing for the per-layer run: spans around the calls into each layer,
one Spark job group per layer, and the event-log parser that aggregates
task metrics per job group.

Spans are recorded from the benchmark's side by wrapping the layer
functions the pipeline and streaming modules call (module attributes are
swapped for the traced run and restored after it). Spans and counts stay in
memory; `Tracer.dump` writes them once at the end of the run."""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from liblevenshtein_spark.plans import pipeline
from liblevenshtein_spark.streaming import incremental

_GROUP = "spark.jobGroup.id"
COUNT_GROUP = "trace.count"

# (module, attribute, layer): every call into a layer the traced workloads make
LAYER_CALLS = [
    (pipeline, "canonicalize", "canonicalize"),
    (pipeline, "block_keys", "candidates"),
    (pipeline, "candidate_pairs", "candidates"),
    (pipeline, "score_pairs", "scoring"),
    (pipeline, "assign_clusters", "clustering"),
    (incremental, "canonicalize", "canonicalize"),
    (incremental, "block_keys", "candidates"),
    (incremental, "candidate_pairs", "candidates"),
    (incremental, "score_pairs", "scoring"),
    (incremental, "staged_append", "staging"),
]


class Tracer:
    """Spans (name, start, end, parent, op id) and per-layer counters.

    With `materialize`, each layer's DataFrame result is checkpointed inside
    its span, so the span holds the layer's own work, as a staged run does;
    without it the spans only bracket plan construction and eager actions,
    which is how much the span and job-group bookkeeping alone costs."""

    def __init__(self, spark, materialize: bool, prefix: str = ""):
        self.spark, self.materialize, self.prefix = spark, materialize, prefix
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self.op_id: int | None = None
        self.op_span: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty(_GROUP)
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": stack[-1] if stack else self.op_span, "start": time.perf_counter()}
        stack.append(sid)
        sc.setLocalProperty(_GROUP, self.prefix + (group or name))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            sc.setLocalProperty(_GROUP, prev_group)
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def op(self, name: str):
        self.op_id, self.op_span = next(self._ids), None
        with self.span(name, group="op") as rec:
            self.op_span = rec["id"]
            yield rec
        self.op_span = None

    def count(self, key: str, n: int) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    def rows(self, df: DataFrame) -> int:
        """Row count of a materialized frame, in its own job group so it
        never adds to a layer's job and task numbers."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(_GROUP)
        sc.setLocalProperty(_GROUP, COUNT_GROUP)
        try:
            return df.count()
        finally:
            sc.setLocalProperty(_GROUP, prev)

    def _checkpoint(self, result):
        if isinstance(result, DataFrame):
            return result.localCheckpoint(eager=True)
        if isinstance(result, tuple) and len(result) == 2 and result[0] is result[1]:
            frame = self._checkpoint(result[0])
            return frame, frame
        if isinstance(result, tuple):
            return tuple(self._checkpoint(r) for r in result)
        return result

    def _counted(self, name: str, args: tuple, out) -> None:
        """Layer counters, read from materialized frames after the span."""
        if name == "canonicalize":
            self.count("canonicalize.rows_out", self.rows(out))
        elif name == "candidate_pairs":
            self.count("candidates.pairs_out", self.rows(out))
        elif name == "score_pairs":
            self.count("scoring.pairs_in", self.rows(args[0]))
            self.count("scoring.matches_out", self.rows(
                out.filter(F.col("distance") <= args[2].max_distance)))
        elif name == "assign_clusters":
            self.count("clustering.edges_in", self.rows(args[1]))
            self.count("clustering.clusters_out",
                       self.rows(out.select("cluster_id").distinct()))

    def wrap(self, fn, layer: str):
        name = fn.__name__

        def traced(*args, **kwargs):
            if name == "staged_append":
                before = dir_bytes(args[1])
            with self.span(layer):
                out = fn(*args, **kwargs)
                if self.materialize:
                    out = self._checkpoint(out)
            if name == "staged_append":
                self.count("staging.bytes_written", dir_bytes(args[1]) - before)
            elif self.materialize:
                self._counted(name, args, out)
            return out

        traced.__name__ = name
        return traced

    def wrap_batch(self, fn):
        """The streaming foreachBatch body: the micro-batch's source read
        becomes its own span, then the body runs under a `batch` span."""
        def traced(batch_turns, batch_id, *args, **kwargs):
            with self.span("sources"):
                if self.materialize:
                    batch_turns = batch_turns.localCheckpoint(eager=True)
            if self.materialize:
                self.count("sources.rows", self.rows(batch_turns))
            with self.span("batch", group="op"):
                return fn(batch_turns, batch_id, *args, **kwargs)
        return traced

    @contextlib.contextmanager
    def patched(self):
        """Route every call in LAYER_CALLS through a span for the block."""
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in LAYER_CALLS]
        try:
            for (mod, attr, layer), (_, _, fn) in zip(LAYER_CALLS, saved):
                setattr(mod, attr, self.wrap(fn, layer))
            link_batch = incremental._link_batch
            incremental._link_batch = self.wrap_batch(link_batch)
            saved.append((incremental, "_link_batch", link_batch))
            yield self
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    # -- summaries ----------------------------------------------------------
    def wall(self, name: str) -> float:
        """Summed duration of the outermost spans named `name` (a layer
        called twice within one op counts once per call, nested calls
        once)."""
        by_id = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            parent = by_id.get(s["parent"])
            if parent is not None and parent["name"] == name:
                continue
            total += s["end"] - s["start"]
        return total

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # a staged file renamed away mid-walk
                pass
    return total


# -- event log ----------------------------------------------------------------
_SENT = "data sent to Python workers"
_RETURNED = "data returned from Python workers"


def job_group_metrics(event_log_dir: str) -> dict[str, dict]:
    """Aggregate SparkListenerTaskEnd metrics per job group from the
    JSON-lines event logs under `event_log_dir`."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def group(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "tasks": 0, "failed_tasks": 0, "task_s": [],
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "python_sent_bytes": 0,
            "python_returned_bytes": 0,
        })

    paths = sorted(os.path.join(root, f) for root, _dirs, files in os.walk(event_log_dir)
                   for f in files if not f.startswith(("appstatus", ".")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(_GROUP) or "none"
                    group(g)["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    agg = group(stage_group.get(ev["Stage ID"], "none"))
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    agg["tasks"] += 1
                    if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
                        agg["failed_tasks"] += 1
                    agg["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
                    agg["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    agg["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    for acc in info.get("Accumulables", ()):
                        if acc.get("Name") == _SENT:
                            agg["python_sent_bytes"] += int(acc.get("Update", 0))
                        elif acc.get("Name") == _RETURNED:
                            agg["python_returned_bytes"] += int(acc.get("Update", 0))
    for agg in groups.values():
        ts = agg.pop("task_s")
        agg["task_p50_s"] = statistics.median(ts) if ts else 0.0
        agg["task_max_s"] = max(ts) if ts else 0.0
    return groups
