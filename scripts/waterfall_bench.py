"""Waterfall exact-contraction benchmark: single-pass kernel scoring over
ALL candidate pairs vs the two-pass waterfall plan (exact pass on
byte-identical fingerprints, fuzzy kernel pass on one representative per
distinct fingerprint, expanded back to member pairs) on a dup-heavy corpus.

The production question this answers: web-scale transcript corpora are
dominated by exact repeats (the same greeting/boilerplate conversation
millions of times). Edit distance is a function of the fingerprints alone,
so the kernel only ever needs to see one member per distinct fingerprint —
with replication factor R, candidate pairs inside duplicated regions grow
~R^2 while distinct-fingerprint pairs stay constant. The waterfall plan's
kernel/Arrow volume is O(distinct-fp pairs) + an output-bounded exact pass.

Corpus: the driver-contract derived corpus (documents + planted d/e
near-dups) with every conversation replicated R times under distinct ids —
byte-identical fingerprints, the worst case for single-pass scoring and the
model of template-dominated web data. Single-pass runs FIRST (warm-path
bias favors it), and the waterfall match set is verified EXACTLY equal
(symmetric difference = 0) before timings are reported.

Writes BENCH_WATERFALL.json.
Usage: python scripts/waterfall_bench.py [--sf-dir /root/testdata/sf0.1] [--replicas 5]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from liblevenshtein_spark import LinkConfig, driver_queries as dq  # noqa: E402
from liblevenshtein_spark.functions.blocking import deletion_neighborhood  # noqa: E402
from liblevenshtein_spark.operators.scoring import score_pairs  # noqa: E402
from liblevenshtein_spark.operators.waterfall import (  # noqa: E402
    exact_groups, exact_pairs, expand_rep_matches,
)
from liblevenshtein_spark.session import build_session, ship_package  # noqa: E402


def _candidates(canon: DataFrame) -> DataFrame:
    sig = canon.withColumn("sig", F.expr(f"substring(fingerprint, 1, {dq.SIG_LEN})"))
    keys = sig.select(
        "conv_id", F.explode(deletion_neighborhood("sig", 1)).alias("block_key")
    ).distinct()
    return (
        keys.select(F.col("conv_id").alias("_ida"), "block_key")
        .join(keys.select(F.col("conv_id").alias("_idb"), "block_key"), "block_key")
        .filter(F.col("_ida") < F.col("_idb"))
        .select(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"))
        .distinct()
    )


def _score(pairs: DataFrame, canon: DataFrame) -> DataFrame:
    return score_pairs(pairs, canon, LinkConfig(algorithm="standard", max_distance=2))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--replicas", type=int, default=5)
    args = ap.parse_args()

    spark = build_session(
        app_name="waterfall-bench",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "48g"},
    )
    ship_package(spark)

    canon0 = dq._canonical(spark, args.sf_dir).select("conv_id", "fingerprint", "fp_len")
    rep_ix = spark.range(args.replicas).select(F.col("id").alias("_r"))
    canon = (
        canon0.crossJoin(F.broadcast(rep_ix))
        .select(
            F.when(F.col("_r") == 0, F.col("conv_id"))
            .otherwise(F.concat("conv_id", F.lit("_x"), F.col("_r"))).alias("conv_id"),
            "fingerprint", "fp_len",
        )
        .localCheckpoint(eager=True)
    )
    n_entities = canon.count()
    n_distinct_fp = canon.select("fingerprint").distinct().count()

    # --- single pass (runs first: warm-path bias favors it) ---------------
    t0 = time.time()
    cand_full = _candidates(canon).localCheckpoint(eager=True)
    n_kernel_single = cand_full.count()  # every candidate pair hits the kernel
    matches_single = (
        _score(cand_full, canon).filter(F.col("distance") <= 2)
        .localCheckpoint(eager=True)
    )
    n_matches_single = matches_single.count()
    t_single = time.time() - t0

    # --- waterfall ---------------------------------------------------------
    t0 = time.time()
    mapping = exact_groups(canon).localCheckpoint(eager=True)
    exact = exact_pairs(mapping).withColumn("distance", F.lit(0).cast("int"))
    reps = canon.join(mapping.select(F.col("rep").alias("conv_id")).distinct(), "conv_id")
    cand_rep = _candidates(reps).localCheckpoint(eager=True)
    n_kernel_waterfall = cand_rep.count()
    rep_matches = _score(cand_rep, reps).filter(F.col("distance") <= 2)
    fuzzy = expand_rep_matches(rep_matches, mapping)
    matches_wf = exact.unionByName(fuzzy).localCheckpoint(eager=True)
    n_matches_wf = matches_wf.count()
    t_waterfall = time.time() - t0

    # --- exact-parity verification (outside the timed regions) -------------
    diff = (
        matches_single.exceptAll(matches_wf).count()
        + matches_wf.exceptAll(matches_single).count()
    )
    assert diff == 0, f"waterfall != single-pass: symmetric diff {diff}"
    assert n_matches_single == n_matches_wf

    out = {
        "metric": "waterfall_vs_single_pass",
        "sf_dir": args.sf_dir,
        "cpus": args.cpus,
        "replicas": args.replicas,
        "n_entities": n_entities,
        "n_distinct_fingerprints": n_distinct_fp,
        "kernel_pairs_single": n_kernel_single,
        "kernel_pairs_waterfall": n_kernel_waterfall,
        "kernel_pair_reduction": round(n_kernel_single / max(n_kernel_waterfall, 1), 2),
        "n_matches": n_matches_single,
        "single_pass_sec": round(t_single, 2),
        "waterfall_sec": round(t_waterfall, 2),
        "speedup": round(t_single / t_waterfall, 2),
        "exact_parity": True,
        "unit": "sec",
    }
    print(json.dumps(out))
    with open(os.path.join(REPO, "BENCH_WATERFALL.json"), "w") as f:
        json.dump(out, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
