"""P3/P4 — blocking-key explosion and the candidate-pair self equi-join
(SURVEY.md §2.4), the Spark-native stand-in for the reference's lazy
DAWG ∩ automaton intersection queue (SURVEY.md §2.3 B4).

Scale design:
* the join shuffles only (id, block_key) — texts are re-joined by id at
  scoring time, halving shuffle width (SURVEY.md §4.2);
* canonical ordering + dropDuplicates guarantees each unordered pair is
  scored exactly once even when several key schemes/keys agree;
* hot keys (empty/boilerplate segments) are handled by an explicit salted
  cartesian decomposition — each hot key's build rows are hashed into g_b
  groups and probe rows into g_p groups, and every (i, j) group pair becomes
  an independent join task, bounding per-task fan-out at ~threshold^2 while
  preserving completeness. AQE skew-join is the runtime backstop on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import LinkConfig
from ..functions.blocking import (
    deletion_neighborhood,
    exploded_keys,
    probe_keys,
    segment_keys,
)

__all__ = ["block_keys", "candidate_pairs", "salted_cross_pairs", "cross_source_pairs"]


def block_keys(entities: DataFrame, conf: LinkConfig, id_col: str = "conv_id",
               text_col: str = "fingerprint") -> tuple[DataFrame, DataFrame]:
    """Return (build_keys, probe_keys) DataFrames of (id, block_key).

    For the deletion scheme both sides are the same neighborhood (FastSS is
    symmetric); for the segment scheme the build side is the k exact
    segments and the probe side is the shifted-substring keys."""
    n = conf.max_distance
    if conf.blocking_scheme == "deletions":
        keys = deletion_neighborhood(text_col, conf.effective_deletion_depth)
        built = exploded_keys(entities, id_col, text_col, keys)
        return built, built
    k = conf.effective_segments
    # Segments join on xxhash64(key) bigints instead of raw 'i|len|segment'
    # strings (segments of multi-KB fingerprints otherwise dominate shuffle
    # bytes). Complete: equal segments hash equal; a hash collision only
    # adds a candidate pair that scoring rejects.
    built = exploded_keys(entities, id_col, text_col, segment_keys(text_col, k, hashed=True))
    probes = exploded_keys(entities, id_col, text_col, probe_keys(text_col, k, n, hashed=True))
    return built, probes


def _key_counts(df: DataFrame, name: str) -> DataFrame:
    return df.groupBy("block_key").agg(F.count("*").alias(name))


def candidate_pairs(
    build: DataFrame,
    probe: DataFrame,
    conf: LinkConfig,
    id_col: str = "conv_id",
) -> DataFrame:
    """Hash equi-join build-side keys against probe-side keys, canonicalize
    the pair ordering, and dedup: (id_a < id_b) distinct pairs. Keys whose
    per-side cardinality exceeds the hot threshold go through the salted
    decomposition path.

    Both key sets are materialized up front: hot-key detection, the cold
    join and the hot join each consume them, and without a checkpoint every
    branch would re-run the substring-explode key generation (the probe
    side is tens of keys per entity — re-evaluating it 3x dominated the
    blocking stage at the 210k-entity smoke scale). On a cluster this is
    the natural place for an Iceberg/parquet intermediate instead."""
    # On the latency path (skew_probe=False, streaming micro-batches) the
    # checkpoints are LAZY: they still cut key-explode re-evaluation across
    # consumers, but materialize inside the batch's own action instead of
    # as a blocking driver job at plan-construction time.
    eager = conf.skew_probe
    if build is probe:
        # deletion scheme: FastSS neighborhoods are symmetric and block_keys
        # returns the SAME frame for both roles — one materialization, not
        # two identical ones
        build = probe = build.localCheckpoint(eager=eager)
    else:
        # one side-tagged checkpoint instead of two: both key explosions
        # materialize in a single job (fixed per-job cost is the dominant
        # term at benchmark scale; at cluster scale it is one intermediate
        # table instead of two)
        tagged = (
            build.select(id_col, "block_key", F.lit(0).alias("_side"))
            .unionByName(probe.select(id_col, "block_key", F.lit(1).alias("_side")))
            .localCheckpoint(eager=eager)
        )
        build = tagged.filter(F.col("_side") == 0).drop("_side")
        probe = tagged.filter(F.col("_side") == 1).drop("_side")
    def _plain_pairs() -> DataFrame:
        return (
            build.select(F.col(id_col).alias("_ida"), "block_key")
            .join(probe.select(F.col(id_col).alias("_idb"), "block_key"), "block_key")
            .filter(F.col("_ida") != F.col("_idb"))
            .select(
                F.least("_ida", "_idb").alias("id_a"),
                F.greatest("_ida", "_idb").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )

    # Latency path (conf.skew_probe=False): skip hot-key detection and its
    # eager driver action entirely — streaming _link_batch calls this per
    # micro-batch, and a batch known to sit below hot_key_threshold per key
    # makes the plain equi-join logically identical (see LinkConfig).
    if not conf.skew_probe:
        return _plain_pairs()

    t = conf.hot_key_threshold
    # Skew-probe cost at scale is a full aggregation pass over the key
    # table per side. For production thresholds (t >= 1000) a deterministic
    # 1-in-RATE row sample makes that pass ~RATE x cheaper while still
    # flagging every key near the threshold with overwhelming probability:
    # a key at t expects t/RATE >= 50 sampled rows and we flag at half
    # that, so a true hot key is missed only on a >2x downward sampling
    # deviation (Chernoff-negligible at 50+ expected), and even then the
    # salted path is a PERFORMANCE decomposition, never a correctness gate
    # (logical no-op, pytest-pinned) — a missed borderline key just runs
    # through the plain join under the AQE skew backstop. Keys between t/2
    # and t may now flag where the exact probe let them pass; they take the
    # no-op salted route, which only re-shapes tasks. Low thresholds keep
    # the exact counts: the tests and the candidate_pairs_salted gate force
    # the salted path with tiny t, where sampling noise could flip the
    # decomposition decision the gates pin down.
    _SAMPLE_RATE = 20
    if t >= 1000:
        def _sampled(df: DataFrame) -> DataFrame:
            return df.filter(
                F.pmod(F.xxhash64("block_key", id_col), F.lit(_SAMPLE_RATE)) == 0
            )
        flag_t = max(t // (2 * _SAMPLE_RATE), 1)
        hot_plan = (
            _key_counts(_sampled(build), "c_build")
            .join(_key_counts(_sampled(probe), "c_probe"), "block_key")
            .filter((F.col("c_build") > flag_t) | (F.col("c_probe") > flag_t))
            # scale sampled counts back up: the salted grid sizes its task
            # groups from these (a fan-out bound heuristic, not correctness)
            .select(
                "block_key",
                (F.col("c_build") * _SAMPLE_RATE).alias("c_build"),
                (F.col("c_probe") * _SAMPLE_RATE).alias("c_probe"),
            )
        )
    else:
        hot_plan = (
            _key_counts(build, "c_build")
            .join(_key_counts(probe, "c_probe"), "block_key")
            .filter((F.col("c_build") > t) | (F.col("c_probe") > t))
        )

    # Existence probe and materialization fused into one job: take(1) on
    # the aggregate plan replaces the old eager-checkpoint-then-limit-count
    # PAIR of jobs, so the common unskewed corpus pays a single (sampled)
    # aggregation and skips straight to the plain equi-join — logically
    # identical, since with hot_keys empty the left_anti passes everything
    # through and hot_pairs is empty. The (tiny, corpus/threshold-bounded)
    # hot-key table is checkpointed only when skew actually exists, where
    # the four joins below reuse it instead of re-running the aggregation
    # per consumer.
    if not hot_plan.take(1):
        return _plain_pairs()
    hot_keys = hot_plan.localCheckpoint(eager=True)

    cold_build = build.join(F.broadcast(hot_keys.select("block_key")), "block_key", "left_anti")
    cold_probe = probe.join(F.broadcast(hot_keys.select("block_key")), "block_key", "left_anti")
    cold_pairs = (
        cold_build.select(F.col(id_col).alias("_ida"), "block_key")
        .join(cold_probe.select(F.col(id_col).alias("_idb"), "block_key"), "block_key")
        .filter(F.col("_ida") != F.col("_idb"))
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
        )
    )

    hot_build = build.join(F.broadcast(hot_keys), "block_key")
    hot_probe = probe.join(F.broadcast(hot_keys), "block_key")
    hot_pairs = salted_cross_pairs(hot_build, hot_probe, id_col, t)

    return cold_pairs.unionByName(hot_pairs).dropDuplicates(["id_a", "id_b"])


def salted_cross_pairs(
    hot_build: DataFrame, hot_probe: DataFrame, id_col: str, threshold: int
) -> DataFrame:
    """Distinct unordered id pairs for hot keys via salted grid join.

    Build rows of a key with count c_build are hashed into
    g_b = ceil(c_build / threshold) groups (likewise probe -> g_p); the join
    runs on (key, i, j) over the full g_b x g_p task grid. Each build row is
    replicated g_p times and each probe row g_b times, so every cross pair
    appears in exactly one task and no task exceeds ~threshold^2 output."""
    def grouped(df: DataFrame, cnt_col: str, alias: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(alias),
            "block_key",
            F.greatest(F.lit(1), F.ceil(F.col("c_build") / threshold)).cast("int").alias("g_b"),
            F.greatest(F.lit(1), F.ceil(F.col("c_probe") / threshold)).cast("int").alias("g_p"),
            F.pmod(F.xxhash64(F.col(id_col)), F.greatest(F.lit(1), F.ceil(F.col(cnt_col) / threshold)).cast("int")).cast("int").alias("gid"),
        )

    left = grouped(hot_build, "c_build", "_ida").select(
        "_ida", "block_key",
        F.col("gid").alias("ti"),
        F.explode(F.sequence(F.lit(0), F.col("g_p") - 1)).alias("tj"),
    )
    right = grouped(hot_probe, "c_probe", "_idb").select(
        "_idb", "block_key",
        F.explode(F.sequence(F.lit(0), F.col("g_b") - 1)).alias("ti"),
        F.col("gid").alias("tj"),
    )
    return (
        left.join(right, ["block_key", "ti", "tj"])
        .filter(F.col("_ida") != F.col("_idb"))
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def cross_source_pairs(
    keys_a: DataFrame,
    keys_b: DataFrame,
    id_col: str = "conv_id",
) -> DataFrame:
    """Two-TABLE record linkage candidate generation (Fellegi-Sunter's A x B
    setting), as opposed to within-table deduplication: join source-A
    blocking keys against source-B keys and keep only CROSS-source pairs,
    with side identity preserved — id_a is always the A record, id_b always
    the B record (no least/greatest canonicalization, because the sides are
    different tables and downstream survivorship/one-to-one assignment
    needs to know which is which).

    This is the linkage mode for mastering a new ingest source against an
    existing entity master: |A x B| candidates are bounded by shared keys
    exactly like dedup blocking, within-source duplicates are deliberately
    NOT proposed (each source is assumed internally deduped, or handled by
    a separate dedup pass), and the output feeds the same scoring kernel.

    Scale shape: one hash equi-join on block_key + one dedup shuffle on the
    pair key. Skewed keys should be pre-bounded upstream (key schemes with
    df caps) or routed through candidate_pairs' salted path when A x B
    shares the hot-key problem; this operator stays the plain-join shape
    because cross-source key distributions are typically the SMALL new
    batch against the master index — the classic broadcast-or-shuffle
    decision AQE already makes from runtime stats."""
    a = keys_a.select(F.col(id_col).alias("id_a"), "block_key")
    b = keys_b.select(F.col(id_col).alias("id_b"), "block_key")
    return (
        a.join(b, "block_key")
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
