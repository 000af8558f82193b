"""The workloads. Each generates and writes its seeded input (untimed),
stages it on a session (timed as set-up), runs one timed op, checks the
op's output, and checks the run as a whole at the end.

A check raises CheckFailed; the runner counts that op as failed."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from liblevenshtein_spark import LinkConfig
from liblevenshtein_spark.plans import run_linkage
from liblevenshtein_spark.streaming.incremental import (
    start_incremental_linkage,
    stream_transcripts,
)

from inputs import MAX_DISTANCE, Corpus
from spans import dir_bytes

# Counts pinned for the seeds the benchmark ships with (run.py's default
# seed and one other): entities, candidate pairs, matches, clusters.
PINNED_LINK_COUNTS = {
    1: (3520, 1882, 1659, 2000),
    2: (3502, 1859, 1638, 2000),
}


class CheckFailed(Exception):
    pass


class Workload:
    """What the runner calls. generate() builds the seeded input and writes
    its files (untimed); stage() is part of a set-up, timed and repeated;
    prepare() runs before each op, outside its timing. `layers` are the
    layers a traced run must see run."""

    name: str
    warmup_ops: int
    layers: tuple[str, ...]
    input_bytes: int

    def __init__(self, work: str, seed: int, cores: int):
        self.seed, self.cores = seed, cores

    def stage(self, spark) -> None:
        pass

    def unstage(self, spark) -> None:
        pass

    def prepare(self) -> None:
        pass

    def progress(self) -> list[dict]:
        """Streaming progress of the micro-batches run so far."""
        return []


def _write_files(table, directory: str, n_files: int) -> int:
    """Write `table` as n_files parquet files; returns their total bytes."""
    shutil.rmtree(directory, ignore_errors=True)
    os.makedirs(directory)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(directory, f"part-{i:05d}.parquet"))
    return dir_bytes(directory)


def _pairs(df) -> set:
    return {(r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()}


class LinkBatch(Workload):
    """The production batch job, as scripts/linkage_job.py runs it: read the
    transcripts parquet, run_linkage, write matches and clusters, count
    them back."""

    name = "link_batch"
    n_base = 2000
    warmup_ops = 2
    layers = ("sources", "canonicalize", "candidates", "scoring", "clustering")

    def __init__(self, work: str, seed: int, cores: int):
        super().__init__(work, seed, cores)
        self.input = os.path.join(work, "transcripts")
        self.output = os.path.join(work, "linkage_out")
        self.conf = LinkConfig(algorithm="standard", max_distance=MAX_DISTANCE)

    def generate(self) -> None:
        corpus = Corpus(self.seed, self.n_base)
        ids = sorted(corpus.turns)
        self.table = corpus.table(ids)
        self.matches, self.clusters = corpus.expected(ids)
        self.input_bytes = _write_files(self.table, self.input, 4)

    def op(self, spark, tracer=None) -> tuple[int, int]:
        transcripts = spark.read.parquet(self.input)
        if tracer is not None:
            with tracer.span("sources"):
                if tracer.materialize:
                    transcripts = transcripts.localCheckpoint(eager=True)
            if tracer.materialize:
                tracer.count("sources.rows", tracer.rows(transcripts))
        res = run_linkage(transcripts, self.conf)
        res.matches.write.mode("overwrite").parquet(f"{self.output}/matches")
        res.clusters.write.mode("overwrite").parquet(f"{self.output}/clusters")
        n_m = spark.read.parquet(f"{self.output}/matches").count()
        n_c = (spark.read.parquet(f"{self.output}/clusters")
               .select("cluster_id").distinct().count())
        return n_m, n_c

    def check(self, spark, out) -> None:
        n_m, n_c = out
        got_m = _pairs(spark.read.parquet(f"{self.output}/matches"))
        got_c = {r["conv_id"]: r["cluster_id"]
                 for r in spark.read.parquet(f"{self.output}/clusters").collect()}
        if got_m != self.matches or n_m != len(self.matches):
            raise CheckFailed(f"link_batch matches: {n_m} rows, "
                              f"{len(got_m ^ self.matches)} differ from the expected set")
        if got_c != self.clusters or n_c != len(set(self.clusters.values())):
            raise CheckFailed(f"link_batch clusters: {n_c} clusters; planted "
                              "duplicates not all in their base's cluster")

    def finish(self, spark) -> dict:
        counts = (len(self.clusters),
                  run_linkage(spark.read.parquet(self.input), self.conf).pairs.count(),
                  len(self.matches), len(set(self.clusters.values())))
        pinned = PINNED_LINK_COUNTS.get(self.seed)
        if pinned is not None and counts != pinned:
            raise CheckFailed(f"link_batch counts {counts} != pinned {pinned}")
        if counts[1] < counts[2]:
            raise CheckFailed(f"fewer candidate pairs {counts[1]} than matches {counts[2]}")
        return dict(zip(("entities", "candidate_pairs", "matches", "clusters"), counts))

    def state_bytes(self, spark) -> int:
        return dir_bytes(self.output)


class IngestStream(Workload):
    """Incremental ingest: one long-running start_incremental_linkage query
    (skew_probe=False) fed one batch file at a time; an op is one
    micro-batch, from the file landing to its commit."""

    name = "ingest_stream"
    batch_convs = 400
    n_base = 30_000  # ~130 batch files, far more than a run consumes
    warmup_ops = 3
    layers = ("sources", "canonicalize", "candidates", "scoring", "staging", "streaming")

    def __init__(self, work: str, seed: int, cores: int):
        super().__init__(work, seed, cores)
        self.input = os.path.join(work, "stream_in")
        self.state = os.path.join(work, "state")
        self.conf = LinkConfig(algorithm="standard", max_distance=MAX_DISTANCE,
                               skew_probe=False)
        self.query = None

    def generate(self) -> None:
        self.corpus = Corpus(self.seed, self.n_base)
        # each batch file is written just before its op (prepare)
        self.batches = self.corpus.batches(self.batch_convs)

    def stage(self, spark) -> None:
        for d in (self.input, self.state):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.input)
        self.fed = 0
        self.input_bytes = 0
        self.query = start_incremental_linkage(
            stream_transcripts(spark, self.input), self.conf, self.state,
            trigger_available_now=False)
        # the query has started and found its empty input: the first
        # file can land
        self.query.processAllAvailable()

    def unstage(self, spark) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def prepare(self) -> None:
        """Write the next batch file hidden in the input dir (file sources
        skip dot files), so the op itself is one rename."""
        if self.fed == len(self.batches):
            raise RuntimeError("ingest_stream ran out of batch files")
        name = f"batch-{self.fed:05d}.parquet"
        self.next = (os.path.join(self.input, "." + name), os.path.join(self.input, name))
        pq.write_table(self.corpus.table(self.batches[self.fed]), self.next[0])

    def op(self, spark, tracer=None) -> int:
        os.replace(*self.next)
        self.query.processAllAvailable()
        self.input_bytes += os.path.getsize(self.next[1])
        self.fed += 1
        return self.fed

    def check(self, spark, out) -> None:
        err = self.query.exception()
        if err is not None or not self.query.isActive:
            raise CheckFailed(f"ingest_stream query stopped: {err}")

    def progress(self) -> list[dict]:
        return [p for p in self.query.recentProgress if p["numInputRows"] > 0]

    def finish(self, spark) -> dict:
        """The sink holds each matching pair once (the module's exactly-once
        claim) and equals link_batch's matches over the same conversations."""
        ids = [c for batch in self.batches[:self.fed] for c in batch]
        expected, _ = self.corpus.expected(ids)
        cols = ("id_a", "id_b", "distance")
        sink = [tuple(r) for r in
                spark.read.parquet(os.path.join(self.state, "matches")).select(*cols).collect()]
        union = spark.read.parquet(*[os.path.join(self.input, f"batch-{i:05d}.parquet")
                                     for i in range(self.fed)])
        conf = LinkConfig(algorithm="standard", max_distance=MAX_DISTANCE)
        batch = {tuple(r) for r in run_linkage(union, conf).matches.select(*cols).collect()}
        got = {(a, b) for a, b, _ in sink}
        if len(sink) != len(set(sink)) or set(sink) != batch or got != expected:
            raise CheckFailed(
                f"ingest_stream sink: {len(sink)} rows, {len(set(sink))} distinct, "
                f"{len(set(sink) ^ batch)} differ from the batch linkage, "
                f"{len(got ^ expected)} from the expected set")
        return {"batches": self.fed, "conversations": len(ids), "matches": len(got)}

    def state_bytes(self, spark) -> int:
        return dir_bytes(self.state)


WORKLOADS = {w.name: w for w in (LinkBatch, IngestStream)}
