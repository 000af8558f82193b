"""Production job entry point for spark-submit (BASELINE.json north_rule:
"run via spark-submit --py-files on a multi-executor cluster").

    spark-submit --master <cluster> \
        --py-files <zip from session.build_pyfiles_zip()> \
        scripts/linkage_job.py \
        --input  <transcripts parquet dir> \
        --output <output dir> \
        [--algorithm standard] [--max-distance 2]

Reads the Iceberg-shaped transcripts table, runs the full linkage pipeline
(canonicalize -> block -> score -> match -> cluster), and writes
`<output>/matches` and `<output>/clusters` as parquet. The master and
executor topology come from spark-submit, not from this script.
Build the --py-files zip with:
    python -c "from liblevenshtein_spark.session import build_pyfiles_zip; print(build_pyfiles_zip())"
or run scripts/submit_demo.sh (builds the zip + runs an end-to-end demo).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--algorithm", default="standard",
                    choices=["standard", "transposition", "merge_and_split"])
    ap.add_argument("--max-distance", type=int, default=2)
    ap.add_argument("--blocking-scheme", default="segments",
                    choices=["segments", "deletions"])
    ap.add_argument("--cluster-strategy", default="cc", choices=["cc", "star"],
                    help="cc: transitive connected components; star: one-hop "
                         "diameter<=2 star clustering (mega-cluster mitigation)")
    ap.add_argument("--contract-exact", action="store_true",
                    help="collapse exact-duplicate fingerprints before linkage")
    args = ap.parse_args()

    from liblevenshtein_spark import LinkConfig
    from liblevenshtein_spark.plans.pipeline import run_linkage
    from liblevenshtein_spark.session import ENGINE_CONF

    # master/executors come from spark-submit; only job-level conf here
    spark = (
        SparkSession.builder.appName("liblevenshtein-spark-linkage")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )

    conf = LinkConfig(algorithm=args.algorithm, max_distance=args.max_distance,
                      blocking_scheme=args.blocking_scheme,
                      cluster_strategy=args.cluster_strategy)
    res = run_linkage(spark.read.parquet(args.input), conf,
                      contract_exact=args.contract_exact)
    res.matches.write.mode("overwrite").parquet(f"{args.output}/matches")
    res.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    n_m = spark.read.parquet(f"{args.output}/matches").count()
    n_c = (spark.read.parquet(f"{args.output}/clusters")
           .select("cluster_id").distinct().count())
    print(f"linkage_job done: matches={n_m} clusters={n_c}")
    spark.stop()


if __name__ == "__main__":
    main()
