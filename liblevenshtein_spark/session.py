"""SparkSession construction with the scale-oriented defaults this engine
assumes: AQE (runtime re-planning + skew-join splitting), Arrow-batched
Python UDF transport, and sane shuffle-partition counts for local runs.

On a real cluster these land in spark-defaults / the submit command; the
helper exists so tests, bench.py and __spark_entry__.py share one config
surface."""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def build_pyfiles_zip() -> str:
    """Build (or refresh) the --py-files zip of this package and return its
    path — used by ship_package and by spark-submit wrappers
    (scripts/submit_demo.sh)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # one zip per checkout: with a shared name, a checkout whose sources are
    # older than another checkout's zip would ship that other package
    tag = hashlib.sha1(pkg_dir.encode()).hexdigest()[:12]
    zip_path = os.path.join(tempfile.gettempdir(), f"liblevenshtein_spark_pyfiles_{tag}.zip")
    # rebuild when any source file is newer than the cached zip — a stale
    # zip makes remote executors import old code (symptom: ImportError /
    # wrong results ONLY in local-cluster or real-cluster mode)
    newest_src = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest_src:
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "liblevenshtein_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    return zip_path


def ship_package(spark: SparkSession) -> None:
    """Ship liblevenshtein_spark to executors (the local-mode equivalent of
    `spark-submit --py-files`, BASELINE.json north_rule). Without this,
    Python workers spawned outside the repo cwd cannot unpickle the
    UDF kernels (ModuleNotFoundError on the executor side)."""
    spark.sparkContext.addPyFile(build_pyfiles_zip())


# Engine-level SQL/Arrow settings, shared by build_session and the
# spark-submit job (scripts/linkage_job.py), which cannot call build_session
# because its master and executors come from spark-submit.
ENGINE_CONF = {
    # AQE: coalesce tiny shuffle partitions, split skewed ones — the
    # runtime half of the skew story (salting is the static half).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transport for the mapInArrow scorer (the JVM<->Python crossing).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ~3k-row Arrow batches: the DP working set stays L2-resident in the
    # kernel and JVM serialization overlaps Python compute; the BASELINE.md
    # sweep found a 3072-8192 plateau and chose 3072.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "3072",
    # Spark's 10 MB broadcast default is far below what this engine's
    # executors carry: the scoring stage re-joins texts BY ID onto the
    # (much larger) pair stream, and broadcasting an entity text table
    # of up to ~128 MB avoids shuffling the pair stream twice —
    # measured 7x on a 209k-entity / 629k-pair smoke (BASELINE.md
    # "attach-join strategy"). Beyond the threshold AQE falls back to
    # sort-merge, which is the correct plan at billions of entities.
    "spark.sql.autoBroadcastJoinThreshold": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
}


def build_session(
    app_name: str = "liblevenshtein-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=ENGINE_CONF)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
