"""Steadiness check: run every workload on several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (third minus
first quartile, as a share of the median) next to the metric's bound.

    python3 perfbench/steadiness.py --runs 10 [--workloads link_batch,...]
        [--first-seed 101] [--out set1.json]
    python3 perfbench/steadiness.py --compare set1.json set2.json

Runs are sequential, each in a fresh process, with the run_seconds of
BENCHMARK.json. A spread at or above its bound is flagged in the printout.
The report keeps each run's info line (host record, op samples, RSS) beside
the metrics. --compare reads two reports and flags every metric whose
median got worse from the first to the second by more than its bound."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out", default=None)
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    if args.compare:
        return compare(bench, *args.compare)
    report: dict = {"run_seconds": bench["run_seconds"], "runs": args.runs, "workloads": {}}
    for workload in args.workloads.split(","):
        values: dict[str, list[float]] = {name: [] for name in bounds}
        hosts = []
        failures = 0
        for i in range(args.runs):
            seed = args.first_seed + i
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                failures += 1
                continue
            result = json.loads(lines[-1])
            info = json.loads(lines[-2])
            hosts.append({"seed": seed, **info["host"], **info.get("ops", {}),
                          **info.get("rss", {}), "setups_s": info.get("setups_s"),
                          "phase_end_s": info.get("phase_end_s")})
            failures += not result["correct"]
            for name in bounds:
                values[name].append(result["metrics"][name]["value"])
            print(f"{workload} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        rows = {}
        for name, vals in values.items():
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            rows[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                          "bound": bounds[name], "values": vals}
            flag = "" if spread < bounds[name] else "  OVER BOUND"
            print(f"  {workload}/{name}: median {med:.4g} spread {spread:.3f} "
                  f"(bound {bounds[name]}){flag}")
        report["workloads"][workload] = {"failed_runs": failures, "metrics": rows,
                                         "runs": hosts}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


def compare(bench: dict, first: str, second: str) -> int:
    reports = []
    for path in (first, second):
        with open(path) as f:
            reports.append(json.load(f))
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        sign = 1 if m["better"] == "lower" else -1
        for workload, rows in reports[0]["workloads"].items():
            a = rows["metrics"].get(name)
            b = reports[1]["workloads"].get(workload, {}).get("metrics", {}).get(name)
            if a is None or b is None:
                continue
            change = b["median"] / a["median"] - 1
            flag = "  WORSE THAN BOUND" if sign * change > bound else ""
            print(f"{workload}/{name}: {a['median']:.4g} -> {b['median']:.4g} "
                  f"({change:+.3f}, bound {bound}){flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
