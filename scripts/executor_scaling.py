"""True N-vs-4N *executor* scaling on one host: Spark local-cluster mode.

`local[K]` puts all executor threads in one JVM, so scaling K conflates the
engine with single-JVM artifacts (one GC, one Arrow feed). Spark's
`local-cluster[W, C, mem]` launches W real worker JVMs with C cores each —
`local-cluster[1,8]` vs `local-cluster[4,8]` is literally 1 executor vs 4
executors (the north rule's N vs 4N), each with its own JVM, GC, Python
workers and Arrow feed; only the physical DRAM/L3 and the hypervisor's ~8%
CPU steal stay shared (see BASELINE.md "hardware control": the box's own
8->32-process ceiling is ~0.75-0.85).

Workload: the bench corpus's kernel-bound near-duplicate scoring stage
(hard_pairs from bench.py) — deterministic, identical input at both sizes.
Best-of-HEALTHY-canary per size (noisy-neighbor VM; canary < 0.15 s).

Fixed-cost amortization (round 3): a ~2.5 s fixed per-JOB cost (scheduling,
checkpoint-read ramp, agg/collect) deflates the 4-executor side far more
than the 1-executor side — at the old 1.7 M-pair workload t(4N) ≈ W/32 + f
is mostly f, capping observable efficiency at ~0.5 on perfect hardware.
Production stages run minutes, so the honest proxy amortizes: the
checkpointed pair set is union-replicated `--replicate`× INSIDE one job
(scored rows = replicate × pairs, storage unchanged), with the checkpoint
partitioned at (workers·cores·2)/replicate so every cluster size runs the
same 2 waves/core.

Writes BENCH_EXECUTOR_SCALING.json and appends the measured row to
BASELINE.md (healthy captures only).
Usage: python scripts/executor_scaling.py [--sf-dir PATH]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER_SRC = r"""
import json, statistics, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from bench import ensure_corpus, hard_pairs
from liblevenshtein_spark import LinkConfig
from liblevenshtein_spark.operators.canonicalize import canonicalize
from liblevenshtein_spark.operators.scoring import attach_texts, score_attached
from liblevenshtein_spark.session import build_session

workers, cores, sf_dir = {workers}, {cores}, {sf_dir!r}
variants, rep = {variants}, {replicate}
spark = build_session(
    app_name="executor-scaling",
    master=f"local-cluster[{{workers}},{{cores}},8192]",
    shuffle_partitions=workers * cores * 2,
    extra_conf={{
        "spark.ui.enabled": "false",
        "spark.executor.memory": "7g",
        # pinned slices run driver + worker JVM + executor + Python workers
        # flat-out on N cores; stock 10s/120s heartbeat deadlines produce
        # spurious executor-lost under that contention
        "spark.executor.heartbeatInterval": "30s",
        "spark.network.timeout": "600s",
    }},
)
conf = LinkConfig(algorithm="standard", max_distance=2, blocking_scheme="segments")
transcripts = spark.read.parquet(ensure_corpus(spark, sf_dir)).localCheckpoint(eager=True)
canonical = canonicalize(transcripts).localCheckpoint(eager=True)
hpairs, hentities = hard_pairs(canonical, variants=variants)
# checkpoint the JOINED frame: the timed quantity is pairs SCORED per sec
# (the scoring stage proper); the join is measured by the e2e bench.
# Partition count divides by the replicate factor so the union below lands
# on workers*cores*2 total partitions — the same 2 waves/core at every
# cluster size.
parts = max(workers * cores * 2 // rep, 1)
attached = (
    attach_texts(hpairs, hentities)
    .repartition(parts)
    .localCheckpoint(eager=True)
)
n = attached.count()
big = attached
for _ in range(rep - 1):
    big = big.unionByName(attached)

def run():
    return (
        score_attached(big, conf)
        .agg(F.count("distance").alias("c"), F.sum("distance").alias("s"))
        .collect()[0]["c"]
    )

scored = run()  # warmup: python workers + numpy import on every executor
lat = []
for _ in range(10):
    t = time.time(); spark.range(1000).count(); lat.append(time.time() - t)
canary = round(statistics.median(lat), 3)
t0 = time.time(); run(); run()
dt = (time.time() - t0) / 2
print(json.dumps({{"workers": workers, "cores": cores, "pairs": scored,
                   "sec": round(dt, 2), "pairs_per_sec": round(scored / dt, 1),
                   "job_latency_canary_sec": canary,
                   "canary_healthy": canary < 0.15}}))
spark.stop()
"""


def measure(workers: int, cores: int, sf_dir: str, variants: int,
            replicate: int) -> dict:
    src = WORKER_SRC.format(repo=REPO, workers=workers, cores=cores,
                            sf_dir=sf_dir, variants=variants,
                            replicate=replicate)
    cmd = [sys.executable, "-c", src]
    total = workers * cores
    host = os.cpu_count() or total
    if total < host:
        # pin the whole tree (driver JVM + worker JVMs + Python workers) to
        # exactly the cluster slice's cores — an unpinned 1-executor run
        # free-rides on the idle cores and inflates the small-N baseline
        cmd = ["taskset", "-c", f"0-{total - 1}", *cmd]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or not lines:
        # crashed attempt (e.g. executor lost under pinned contention):
        # record it as failed instead of killing the whole study
        print(json.dumps({"workers": workers, "cores": cores,
                          "failed": True, "rc": out.returncode,
                          "stderr_tail": out.stderr[-400:]}), flush=True)
        return None
    r = json.loads(lines[-1])
    print(json.dumps(r), flush=True)
    return r


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--variants", type=int, default=288)
    ap.add_argument("--replicate", type=int, default=4)
    ap.add_argument("--attempts", type=int, default=3)
    args = ap.parse_args()

    best = {}
    attempts = {}
    healthy_best = True
    for w in (1, 4):
        runs = [measure(w, args.cores, args.sf_dir, args.variants, args.replicate)
                for _ in range(args.attempts)]
        runs = [r for r in runs if r is not None]
        attempts[w] = runs
        if not runs:
            raise SystemExit(f"all attempts failed at workers={w}")
        pool = [r for r in runs if r.get("canary_healthy")]
        if not pool:
            pool, healthy_best = runs, False
        best[w] = max(r["pairs_per_sec"] for r in pool)
    eff = round(best[4] / (4.0 * best[1]), 3)
    result = {
        "metric": "executor_scaling_efficiency_1_to_4",
        "value": eff,
        "unit": "ratio",
        "config": (f"local-cluster[W,{args.cores},8192], kernel-bound near-dup scoring, "
                   f"{args.variants} variants x{args.replicate} union-replicated "
                   "(fixed per-job cost amortized), canary-gated best-of"),
        "tput_1_executor": best[1],
        "tput_4_executors": best[4],
        "all_bests_canary_healthy": healthy_best,
        "attempts": attempts,
    }
    # cores=8 keeps the original artifact name; other widths (e.g. the
    # 2-cores/worker run that stays inside the host's linear 2->8-thread
    # region) get their own file so both studies coexist
    out = ("BENCH_EXECUTOR_SCALING.json" if args.cores == 8
           else f"BENCH_EXECUTOR_SCALING_c{args.cores}.json")
    with open(os.path.join(REPO, out), "w") as f:
        json.dump(result, f, indent=2)
    if not healthy_best:
        print(json.dumps(result))
        return
    row = ("| measured: executor scaling 1→4 (local-cluster[W,{c}]) | {e:.2f} "
           "(tput {t1:,.0f} → {t4:,.0f} pairs/s) | true multi-JVM executors, one host; "
           "shared-DRAM ceiling ~0.75–0.85 applies | `{out}` |\n").format(
        c=args.cores, e=eff, t1=best[1], t4=best[4], out=out)
    path = os.path.join(REPO, "BASELINE.md")
    md = open(path).read()
    marker = "| measured: scaling efficiency |"
    same_cores = f"executor scaling 1→4 (local-cluster[W,{args.cores}])"
    if same_cores in md:
        md = re.sub(r"\| measured: executor scaling 1→4 \(local-cluster\[W,"
                    + str(args.cores) + r"\]\)[^\n]*\n", row, md)
        open(path, "w").write(md)
    elif marker in md:
        lines = md.splitlines(keepends=True)
        for i, ln in enumerate(lines):
            if ln.startswith(marker):
                lines.insert(i + 1, row)
                break
        open(path, "w").write("".join(lines))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
