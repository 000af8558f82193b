"""Driver-contract queries (__spark_entry__.py): one entry per implemented
operator (SURVEY.md §2.4), each with an equivalent DuckDB oracle SQL where
SQL-expressible.

Because /root/testdata has no transcripts table, a transcripts-shaped corpus
is DERIVED deterministically from `documents` in a way both engines express
identically (BASELINE.json input_hint shape):

  corpus   : base rows 'c<doc_id>' (full text), planted near-duplicates
             'd<doc_id>' (doc_id%3==0, last char deleted -> fingerprint
             distance 1..2) and 'e<doc_id>' (doc_id%7==0, last two chars
             deleted)
  transcripts : each corpus text chunked into 100-char turns,
             turn_idx = chunk index, role alternating user/assistant

so the linkage pipeline has real matches and clusters to find, and DuckDB
can recompute every stage (levenshtein() is the scoring oracle; a recursive
CTE is the connected-components oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import LinkConfig
from .functions.blocking import deletion_neighborhood
from .operators.canonicalize import canonicalize
from .operators.topk import topk_candidates
from .operators.clustering import assign_clusters, fold_clusters
from .operators.metrics import (banded_truth_pairs, bcubed,
                                pairwise_confusion, rand_stats)
from .operators.candidates import cross_source_pairs as cross_source_pairs_op
from .operators.scoring import score_pairs
from .operators.transduce import (
    add_terms,
    compile_dictionary,
    transduce,
    transduce_per_query,
)
from .session import ship_package

TURN_WIDTH = 100
SIG_LEN = 16
SEP = "\x1e"  # chr(30)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# Derived corpus / transcripts (Spark side)
# ---------------------------------------------------------------------------

def derive_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    base = d.select(
        F.concat(F.lit("c"), F.col("doc_id").cast("string")).alias("conv_id"), "text"
    )
    dup3 = (
        d.filter((F.col("doc_id") % 3 == 0) & (F.length("text") > 1))
        .select(
            F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("conv_id"),
            F.expr("substring(text, 1, length(text) - 1)").alias("text"),
        )
    )
    dup7 = (
        d.filter((F.col("doc_id") % 7 == 0) & (F.length("text") > 2))
        .select(
            F.concat(F.lit("e"), F.col("doc_id").cast("string")).alias("conv_id"),
            F.expr("substring(text, 1, length(text) - 2)").alias("text"),
        )
    )
    return base.unionByName(dup3).unionByName(dup7)


def derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = derive_corpus(spark, sf_dir)
    return (
        corpus.withColumn(
            "n_turns", F.ceil(F.length("text") / F.lit(float(TURN_WIDTH))).cast("int")
        )
        .select(
            "conv_id", "text",
            F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
        )
        .select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.when(F.col("turn_idx") % 2 == 0, F.lit("user"))
            .otherwise(F.lit("assistant")).alias("role"),
            F.expr(f"substring(text, turn_idx * {TURN_WIDTH} + 1, {TURN_WIDTH})").alias("text"),
            F.lit("").alias("tool"),
        )
    )


# DuckDB CTE chain shared by every transcript-based oracle. NOTE: keep in
# exact semantic lockstep with derive_corpus/derive_transcripts above.
DUCK_TRANSCRIPTS = f"""
WITH corpus AS MATERIALIZED (
  SELECT 'c' || CAST(doc_id AS VARCHAR) AS conv_id, text FROM documents
  UNION ALL
  SELECT 'd' || CAST(doc_id AS VARCHAR), substring(text, 1, length(text) - 1)
  FROM documents WHERE doc_id % 3 = 0 AND length(text) > 1
  UNION ALL
  SELECT 'e' || CAST(doc_id AS VARCHAR), substring(text, 1, length(text) - 2)
  FROM documents WHERE doc_id % 7 = 0 AND length(text) > 2
),
transcripts AS MATERIALIZED (
  SELECT conv_id,
         CAST(i AS INT) AS turn_idx,
         CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         substring(text, CAST(i AS INT) * {TURN_WIDTH} + 1, {TURN_WIDTH}) AS text,
         '' AS tool
  FROM (
    SELECT conv_id, text,
           unnest(range(0, CAST(ceil(length(text) / {TURN_WIDTH}.0) AS BIGINT))) AS i
    FROM corpus
  )
),
canonical AS MATERIALIZED (
  SELECT conv_id,
         CAST(count(*) AS INT) AS n_turns,
         string_agg(text, chr(30) ORDER BY turn_idx) AS fingerprint
  FROM transcripts GROUP BY conv_id
),
canonical2 AS MATERIALIZED (
  SELECT conv_id, n_turns, fingerprint,
         CAST(length(fingerprint) AS INT) AS fp_len,
         substring(fingerprint, 1, {SIG_LEN}) AS sig
  FROM canonical
),
sig_keys AS MATERIALIZED (
  SELECT DISTINCT conv_id, sig AS block_key FROM canonical2
  UNION
  SELECT DISTINCT conv_id,
         substring(sig, 1, CAST(i AS INT) - 1) || substring(sig, CAST(i AS INT) + 1) AS block_key
  FROM (SELECT conv_id, sig, unnest(range(1, length(sig) + 1)) AS i FROM canonical2)
),
cand_pairs AS MATERIALIZED (
  SELECT DISTINCT least(a.conv_id, b.conv_id) AS id_a,
                  greatest(a.conv_id, b.conv_id) AS id_b
  FROM sig_keys a JOIN sig_keys b ON a.block_key = b.block_key
  WHERE a.conv_id < b.conv_id
),
scored AS MATERIALIZED (
  SELECT p.id_a, p.id_b,
         CAST(least(levenshtein(ca.fingerprint, cb.fingerprint), 3) AS INT) AS distance
  FROM cand_pairs p
  JOIN canonical2 ca ON ca.conv_id = p.id_a
  JOIN canonical2 cb ON cb.conv_id = p.id_b
  WHERE abs(ca.fp_len - cb.fp_len) <= 2
),
matches AS MATERIALIZED (
  SELECT id_a, id_b, distance FROM scored WHERE distance <= 2
)
"""


# ---------------------------------------------------------------------------
# Spark-side pipeline stages over the derived corpus
# ---------------------------------------------------------------------------

def q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_transcripts(spark, sf_dir)


# Session-scoped memo for intermediates shared by many contract entries
# (canonical records, scored pairs): the driver runs every entry in one
# SparkSession, and without sharing, each linkage entry re-executes the
# whole canonicalize -> block -> score chain — ~10 redundant kernel passes
# per gate run. Checkpointed once per (session, sf_dir); testdata is
# immutable, so no invalidation. This is the sandbox stand-in for the
# persisted canonical/scored tables a production pipeline reads.
_MEMO: dict = {}


def _cached_df(spark: SparkSession, sf_dir: str, name: str, builder) -> DataFrame:
    app_id = spark.sparkContext.applicationId
    # evict entries from stopped sessions: a long-lived process cycling many
    # SparkSessions would otherwise accumulate dead DataFrame references and
    # checkpoint metadata without bound
    stale = [k for k in _MEMO if k[0] != app_id]
    for k in stale:
        del _MEMO[k]
    key = (app_id, sf_dir, name)
    df = _MEMO.get(key)
    if df is None:
        df = builder().localCheckpoint(eager=True)
        _MEMO[key] = df
    return df


def _canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_df(
        spark, sf_dir, "canonical",
        lambda: canonicalize(derive_transcripts(spark, sf_dir), SEP),
    )


def q_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _canonical(spark, sf_dir).select("conv_id", "n_turns", "fingerprint", "fp_len")


def _sig_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = _canonical(spark, sf_dir).withColumn(
        "sig", F.expr(f"substring(fingerprint, 1, {SIG_LEN})")
    )
    return canon.select(
        "conv_id", F.explode(deletion_neighborhood("sig", 1)).alias("block_key")
    ).distinct()


def q_block_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sig_keys(spark, sf_dir)


def q_block_keys_qgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 q-gram option: positional q-gram blocking keys over the documents
    table (high-recall heuristic scheme; the completeness-gated schemes are
    deletions/segments)."""
    from .functions.blocking import qgram_keys

    return _docs(spark, sf_dir).select(
        "doc_id", F.explode(qgram_keys("text", q=3, pos_bucket=8)).alias("block_key")
    ).distinct()


def q_block_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = _sig_keys(spark, sf_dir)
    return (
        keys.groupBy("block_key")
        .agg(F.count("*").cast("int").alias("n_records"))
        .filter(F.col("n_records") > 1)
    )


def q_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = _sig_keys(spark, sf_dir)
    a = keys.select(F.col("conv_id").alias("_ida"), "block_key")
    b = keys.select(F.col("conv_id").alias("_idb"), "block_key")
    return (
        a.join(b, "block_key")
        .filter(F.col("_ida") < F.col("_idb"))
        .select(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"))
        .distinct()
    )


def q_candidate_pairs_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4's skew machinery through the hard gate: the real candidate_pairs
    operator with hot_key_threshold=4, so every key with >4 members routes
    through hot-key detection + the salted g_b × g_p grid join while the
    rest take the cold path — and the union must reproduce EXACTLY the
    plain equi-join pair set (same oracle as candidate_pairs). Salting is a
    physical decomposition; any difference in the logical result is a bug."""
    from .operators.candidates import candidate_pairs as candidate_pairs_op

    keys = _sig_keys(spark, sf_dir)
    conf = LinkConfig(algorithm="standard", max_distance=2, hot_key_threshold=4)
    return candidate_pairs_op(keys, keys, conf).select("id_a", "id_b")


def q_score_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        ship_package(spark)
        return score_pairs(q_candidate_pairs(spark, sf_dir), _canonical(spark, sf_dir),
                           LinkConfig(algorithm="standard", max_distance=2))

    return _cached_df(spark, sf_dir, "scored", build)


def q_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_score_pairs(spark, sf_dir).filter(F.col("distance") <= 2)


def q_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 option: normalized similarity 1 - d / max(len) attached to the
    scored pairs (operators.scoring.normalized_similarity), rounded for
    hash-stable float rendering."""
    from .operators.scoring import normalized_similarity

    scored = q_score_pairs(spark, sf_dir)
    canon = _canonical(spark, sf_dir).select("conv_id", "fingerprint")
    return normalized_similarity(scored, canon).withColumn(
        "similarity", gate_round4(F.col("similarity"))
    )


def q_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        ship_package(spark)
        matches = q_matches(spark, sf_dir).select("id_a", "id_b")
        entities = _canonical(spark, sf_dir).select("conv_id")
        return assign_clusters(entities, matches)

    return _cached_df(spark, sf_dir, "clusters", build)


def q_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC fold through the hard gate: the match edges are split
    deterministically (xxhash64 parity) into a 'historical' half and a
    'new ingest batch' half; the historical half is clustered, then the
    assignment — not the historical edges — is folded with the new batch
    via clustering.fold_clusters. The result must equal full-history CC
    (shares the `clusters` oracle verbatim), proving assignment-as-star-
    forest folding is lossless. At 10^12-turn scale this is what each
    ingest batch runs instead of re-clustering the whole match history."""
    ship_package(spark)
    matches = q_matches(spark, sf_dir).select("id_a", "id_b").localCheckpoint(eager=True)
    entities = _canonical(spark, sf_dir).select("conv_id")
    is_new = F.xxhash64("id_a", "id_b") % 2 == 0
    prior = assign_clusters(entities, matches.filter(~is_new))
    return fold_clusters(entities, prior, matches.filter(is_new))


def q_score_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8's kernel-distance histogram (operators.metrics.score_distribution)
    over the scored candidate pairs — sentinel bucket (n+1) included, so
    threshold drift and band-cap saturation are visible in one tiny agg."""
    from .operators.metrics import score_distribution

    scored = q_score_pairs(spark, sf_dir)
    return score_distribution(scored).select(
        "distance", F.col("n_pairs").cast("bigint").alias("n_pairs")
    )


def q_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 depth: entity-cluster size histogram — the first thing an ER
    operator inspects (a mega-cluster here means blocking or threshold
    drift). Two tiny aggs over the cluster assignment; output is
    O(max cluster size) rows."""
    clusters = q_clusters(spark, sf_dir)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").cast("int").alias("size"))
        .groupBy("size")
        .agg(F.count("*").cast("bigint").alias("n_clusters"))
    )


def q_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER's final step — the golden record: one row per entity cluster with
    the min-id representative and merged stats over members. One hash agg
    over (assignment ⋈ canonical); the survivor rule (min id) is the same
    deterministic keeper used across the dedup suite."""
    clusters = q_clusters(spark, sf_dir)
    canon = _canonical(spark, sf_dir).select("conv_id", "n_turns", "fp_len")
    return (
        clusters.join(canon, "conv_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("int").alias("n_members"),
            F.min("conv_id").alias("rep_conv"),
            F.sum("n_turns").cast("bigint").alias("total_turns"),
            F.max("fp_len").cast("int").alias("max_fp_len"),
        )
    )


def q_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-level survivorship (data fusion) over the entity clusters —
    operators/clustering.py::golden_records: longest-value completeness rule
    for the fingerprint (reported as survivor length + source id; the src's
    fingerprint IS the surviving value), most-frequent rule for the 8-char
    prefix, numeric sum/max fusion for n_turns. All tie-breaks deterministic
    (min id / lexicographic), so the fused records hash-match the SQL
    replica exactly."""
    from .operators.clustering import golden_records

    ship_package(spark)
    clusters = q_clusters(spark, sf_dir)
    ents = _canonical(spark, sf_dir).select(
        "conv_id", "n_turns", "fingerprint",
        F.substring("fingerprint", 1, 8).alias("prefix8"),
    )
    out = golden_records(clusters, ents, longest=("fingerprint",),
                         mode=("prefix8",), sums=("n_turns",), maxs=("n_turns",))
    return out.select(
        "cluster_id", "n_members", "rep",
        F.length("fingerprint_survivor").cast("int").alias("survivor_len"),
        F.col("fingerprint_survivor_src").alias("survivor_src"),
        "prefix8_mode",
        F.col("n_turns_sum").cast("bigint").alias("n_turns_sum"),
        F.col("n_turns_max").cast("int").alias("n_turns_max"),
    )


def q_stable_entity_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID-stitching across runs — operators/clustering.py::stable_entity_ids.
    A 'previous run' is simulated deterministically in BOTH engines by
    clustering the md5-parity half of the match edges (portable split:
    substring(md5(id_a || '|' || id_b), 1, 1) < '8' — Spark and DuckDB
    render identical lowercase hex), previous entity ids are 'ent:' + that
    run's cluster root, and the current full-history assignment then
    inherits ids by mutual-best member overlap; unmatched clusters mint
    'new:' ids. Run-to-run id persistence is what downstream joins key on
    at 10^12-turn scale — cluster roots alone rename on every merge."""
    from .operators.clustering import stable_entity_ids

    ship_package(spark)
    matches = q_matches(spark, sf_dir).select("id_a", "id_b").localCheckpoint(eager=True)
    entities = _canonical(spark, sf_dir).select("conv_id")
    is_hist = F.substring(F.md5(F.concat_ws("|", "id_a", "id_b")), 1, 1) < "8"
    prev = assign_clusters(entities, matches.filter(is_hist)).select(
        "conv_id", F.concat(F.lit("ent:"), "cluster_id").alias("entity_id"))
    curr = q_clusters(spark, sf_dir)
    return stable_entity_ids(prev, curr)


# Single source of truth for the scheme-bit -> name mapping: both the Spark
# CASE chain and the DuckDB oracle CASE are generated from this dict, and
# NEITHER has a fallback branch — an unmapped future scheme value becomes
# NULL in both engines (dropped by collect_set / string_agg identically)
# instead of being silently mislabeled as some existing scheme.
SCHEME_NAMES = {1: "deletions", 2: "qgrams", 4: "snm"}


def _scheme_name_col() -> Column:
    expr = None
    for bit, name in sorted(SCHEME_NAMES.items()):
        cond = F.col("scheme") == bit
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return expr


def _scheme_name_sql() -> str:
    whens = " ".join(f"WHEN {bit} THEN '{name}'"
                     for bit, name in sorted(SCHEME_NAMES.items()))
    return f"CASE scheme {whens} END"


def q_match_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Match explainability — operators/metrics.py::match_provenance over
    the multi-scheme pair stream (_scheme_pairs: deletions / purged q-grams
    / sorted-neighborhood): every accepted match annotated with the sorted
    comma-joined list of schemes that proposed it and the scheme count.
    The audit table behind blocking-budget decisions: a match carried by
    one scheme alone is that scheme's keep-evidence."""
    from .operators.metrics import match_provenance

    uni = _scheme_pairs(spark, sf_dir)
    named = uni.withColumn("scheme", _scheme_name_col())
    matches = q_matches(spark, sf_dir)
    return match_provenance(matches, named)


def _noisy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Match graph + planted noise bridges, the shared input of the graph-
    audit entries (edge_support / cluster_cohesion / clusters_robust).

    The derived corpus's genuine match graph is triangle-clean (c/d/e
    triples), so bridge pruning would be a no-op on it; to make the gate
    actually exercise the defense, deterministic FALSE-POSITIVE edges are
    planted in both engines: every doc with doc_id % 40 == 0 whose
    successor doc exists gains a spurious distance-2 edge between the two
    base records — the signature of threshold drift welding unrelated
    entities. Unioned with the real matches and deduped to min distance."""
    def build() -> DataFrame:
        matches = q_matches(spark, sf_dir).select("id_a", "id_b", "distance")
        d1 = _docs(spark, sf_dir).select(F.col("doc_id").alias("i")).filter(
            F.col("i") % 40 == 0)
        d2 = _docs(spark, sf_dir).select(F.col("doc_id").alias("j"))
        ca = F.concat(F.lit("c"), F.col("i").cast("string"))
        cb = F.concat(F.lit("c"), F.col("j").cast("string"))
        bridges = d1.join(d2, F.col("j") == F.col("i") + 1).select(
            F.least(ca, cb).alias("id_a"),
            F.greatest(ca, cb).alias("id_b"),
            F.lit(2).cast("int").alias("distance"),
        )
        return (
            matches.unionByName(bridges)
            .groupBy("id_a", "id_b")
            .agg(F.min("distance").cast("int").alias("distance"))
        )

    return _cached_df(spark, sf_dir, "noisy_matches", build)


def q_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Match-graph triangle support (operators/graph.py::edge_support) over
    the noise-injected match graph: for every edge, the number of common
    neighbors corroborating it. support=0 rows are exactly the
    uncorroborated links `clusters_robust` prunes — here the planted
    bridges plus genuine pairs with no shared third duplicate. One
    adjacency self-join on ids; no texts, no kernel."""
    from .operators.graph import edge_support

    return edge_support(_noisy_matches(spark, sf_dir)).select(
        "id_a", "id_b",
        F.col("distance").cast("int").alias("distance"),
        F.col("support").cast("int").alias("support"),
    )


def q_cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster edge density (operators/graph.py::cluster_cohesion) of
    the noisy match graph's CC clusters: the mega-cluster drift metric —
    bridge-welded clusters surface as size-6 density-~0.3 rows while
    genuine duplicate groups stay near 1.0. Two hash aggs + a key join;
    output O(|clusters|)."""
    from .operators.graph import cluster_cohesion

    noisy = _noisy_matches(spark, sf_dir)
    ents = _canonical(spark, sf_dir).select("conv_id")
    assign = assign_clusters(ents, noisy)
    return cluster_cohesion(assign, noisy).select(
        "cluster_id",
        F.col("size").cast("int").alias("size"),
        F.col("n_edges").cast("bigint").alias("n_edges"),
        "density",
    )


def q_clusters_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridge-pruned re-clustering (operators/graph.py::robust_clusters)
    over the noise-injected match graph: clusters larger than 3 are
    suspect; inside them, weak (distance >= 2) edges with zero triangle
    support are dropped and the suspect subgraph re-clustered. The planted
    bridges all die (distance 2, support 0), restoring the genuine c/d/e
    clusters; real distance-2 edges survive where a triangle corroborates
    them, and strong distance-1 edges are never touched. The oracle
    recomputes the whole prune in SQL with two recursive-CTE CC passes."""
    from .operators.graph import robust_clusters

    noisy = _noisy_matches(spark, sf_dir)
    ents = _canonical(spark, sf_dir).select("conv_id")
    return robust_clusters(ents, noisy, min_support=1, size_threshold=3,
                           weak_distance=2)


# Shared peel depth for the two matching entries: the oracles unroll exactly
# this many locally-dominant rounds, and the engine entries pass it as
# max_rounds — so a corpus that ever needs a deeper peel fails LOUDLY with
# one_to_one's RuntimeError naming the bound, instead of a silent oracle
# hash mismatch. (Gate corpora converge in <= 2 rounds; 8 is margin.)
_PEEL_UNROLL = 8


def q_match_one_to_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-source linkage assignment (operators/matching.py::one_to_one):
    the cross-source matches (probe records d*/e* vs reference records c*)
    reduced to a greedy maximum-weight ONE-TO-ONE matching via iterated
    locally-dominant edge selection (Preis 1999) — each reference record
    is consumed by at most one probe and vice versa, the assignment
    constraint every two-source ER deployment ends with. `round` audits
    the peel depth (round 1 = mutual best). Engine and oracle share the
    same _PEEL_UNROLL round budget: the oracle unrolls that many peel
    rounds and the engine passes it as max_rounds, so exceeding it raises
    instead of hash-mismatching."""
    from .operators.matching import one_to_one

    pairs = (
        q_matches(spark, sf_dir)
        .filter(F.col("id_a").startswith("c") & ~F.col("id_b").startswith("c"))
        .select(
            F.col("id_b").alias("probe_id"),
            F.col("id_a").alias("ref_id"),
            "distance",
        )
    )
    return one_to_one(pairs, "probe_id", "ref_id", "distance",
                      max_rounds=_PEEL_UNROLL).select(
        "probe_id", "ref_id",
        F.col("distance").cast("int").alias("distance"),
        "round",
    )


def q_entity_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 entity-history intervals (operators/clustering.py::
    entity_history) across three simulated linkage runs: the match edges
    are split by a portable md5 hex digit into monotone-growing subsets
    (< '6', < 'b', all) — run over run, clusters merge and their min-id
    roots rename, exactly the churn the history table records. Output is
    one validity interval per (record, entity id) island with the
    warehouse convention valid_to = next interval's valid_from (NULL +
    is_current=1 on the open one). The oracle replays all three CC runs
    as recursive CTEs and the gaps-and-islands collapse in SQL windows."""
    from .operators.clustering import entity_history

    ship_package(spark)
    matches = q_matches(spark, sf_dir).select("id_a", "id_b").localCheckpoint(eager=True)
    ents = _canonical(spark, sf_dir).select("conv_id")
    digit = F.substring(F.md5(F.concat_ws("|", "id_a", "id_b")), 1, 1)
    runs = None
    for run_id, thresh in ((1, "6"), (2, "b"), (3, None)):
        sub = matches if thresh is None else matches.filter(digit < thresh)
        a = assign_clusters(ents, sub).select(
            F.lit(run_id).cast("int").alias("run_id"), "conv_id",
            F.concat(F.lit("ent:"), "cluster_id").alias("entity_id"),
        )
        runs = a if runs is None else runs.unionByName(a)
    return entity_history(runs).select(
        "conv_id", "entity_id",
        F.col("valid_from").cast("int").alias("valid_from"),
        F.col("valid_to").cast("int").alias("valid_to"),
        "is_current",
    )


def q_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row pipeline health summary — the at-a-glance audit a linkage
    deployment dashboards after every run: entity/candidate/scored/match/
    cluster counts, entities absorbed into multi-member clusters,
    blocking reduction ratio (vs C(n,2), DOUBLE-cast denominator) and the
    match rate of scored pairs. Six 1-row aggregates crossJoined — every
    input is the memoized stage table, so the whole entry is O(1) output
    over already-materialized intermediates."""
    from functools import reduce

    canon = _canonical(spark, sf_dir).select("conv_id")
    sizes = q_clusters(spark, sf_dir).groupBy("cluster_id").agg(
        F.count("*").alias("_sz"))
    parts = [
        canon.agg(F.count("*").cast("bigint").alias("n_entities")),
        q_candidate_pairs(spark, sf_dir).agg(
            F.count("*").cast("bigint").alias("n_candidates")),
        q_score_pairs(spark, sf_dir).agg(
            F.count("*").cast("bigint").alias("n_scored")),
        q_matches(spark, sf_dir).agg(
            F.count("*").cast("bigint").alias("n_matches")),
        sizes.agg(F.count("*").cast("bigint").alias("n_clusters")),
        sizes.filter(F.col("_sz") >= 2).agg(
            F.coalesce(F.sum("_sz"), F.lit(0)).cast("bigint")
            .alias("n_merged_entities")),
    ]
    row = reduce(lambda a, b: a.crossJoin(b), parts)
    half_pairs = (F.col("n_entities").cast("double")
                  * (F.col("n_entities") - 1) / 2)
    return row.select(
        "n_entities", "n_candidates", "n_scored", "n_matches",
        "n_clusters", "n_merged_entities",
        gate_round4(1.0 - F.col("n_candidates") / half_pairs).alias("reduction_ratio"),
        gate_round4(F.col("n_matches") / F.col("n_scored").cast("double")).alias("match_rate"),
    )




def q_cluster_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-over-run clustering diff (operators/clustering.py::cluster_diff):
    the release-comparison table between a prior linkage run (matches whose
    pair-hash digit < 'b' — the entity_history run-2 subset) and the
    current full-match run. Every intersection row is classified
    stable / merged_into / split_from / reshuffled. The oracle replays both
    CC runs as recursive CTEs and the same size/intersection joins."""
    from .operators.clustering import cluster_diff

    ship_package(spark)
    matches = q_matches(spark, sf_dir).select("id_a", "id_b").localCheckpoint(eager=True)
    ents = _canonical(spark, sf_dir).select("conv_id")
    digit = F.substring(F.md5(F.concat_ws("|", "id_a", "id_b")), 1, 1)
    old = assign_clusters(ents, matches.filter(digit < "b"))
    new = assign_clusters(ents, matches)
    return cluster_diff(old, new)


def q_blocking_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-layer drift monitor (operators/metrics.py::blocking_key_drift):
    PSI decomposition of the block-SIZE histogram between a deterministic
    hash split of the corpus — ref = entities whose md5 first hex digit
    < '8', cur = the rest. At 10^12-turn scale this runs per ingest batch
    against the trailing window; the frequency-class bucketing keeps the
    monitor O(dozens of rows) regardless of key-vocabulary size."""
    from .operators.metrics import blocking_key_drift

    keys = _sig_keys(spark, sf_dir)
    digit = F.substring(F.md5(F.col("conv_id")), 1, 1)
    return blocking_key_drift(keys.filter(digit < "8"), keys.filter(digit >= "8"))


def q_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability curve (operators/metrics.py::calibration_bins): per
    Monge-Elkan score decile over the blocked candidate stream, the
    empirical probability that the pair is a GENERATIVE duplicate (gold
    identity = conv_id sans source prefix — the eval_bcubed gold). The ME
    score is the calibrated one because it actually SPREADS over [0, 1] on
    candidates (the banded lev similarity collapses into the top decile on
    multi-hundred-char fingerprints, which would make the curve one row);
    this is the table that turns a raw comparator score into a defensible
    match probability and picks auto-accept / review thresholds."""
    from .operators.metrics import calibration_bins

    sim = q_similarity_me(spark, sf_dir)
    gold = F.expr("substring(id_a, 2)") == F.expr("substring(id_b, 2)")
    return calibration_bins(sim, gold, score_col="me_sim", n_bins=10)


def q_link_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table record linkage (operators/candidates.py::cross_source_pairs):
    the corpus is hash-split into source A (md5 digit < '8') and source B,
    A-side deletion keys join B-side keys ONLY (no within-source pairs,
    side identity preserved), and surviving cross pairs are scored with the
    banded kernel at n=2. This is the A x B mastering mode — a new ingest
    source linked against the entity master — as opposed to within-table
    dedup; links within the band are returned with their exact distance."""
    ship_package(spark)
    keys = _sig_keys(spark, sf_dir)
    digit = F.substring(F.md5(F.col("conv_id")), 1, 1)
    pairs = cross_source_pairs_op(keys.filter(digit < "8"), keys.filter(digit >= "8"))
    scored = score_pairs(pairs, _canonical(spark, sf_dir),
                         LinkConfig(algorithm="standard", max_distance=2))
    return scored.filter(F.col("distance") <= 2)


def q_similarity_soft_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftTFIDF comparator (operators/comparators.py::soft_tfidf_pairs) on
    the blocked candidate stream: IDF-weighted token overlap with
    Jaro-Winkler bridging (theta=0.9) over each entity's head tokens —
    Cohen et al. 2003's best-performing name-matching metric, completing
    the soft-comparator family next to tfidf (exact-token) and
    monge_elkan (unweighted char-bridging)."""
    from .operators.comparators import soft_tfidf_pairs

    ship_package(spark)
    pairs = q_candidate_pairs(spark, sf_dir)
    canon = _canonical(spark, sf_dir).select("conv_id", "fingerprint")
    return soft_tfidf_pairs(pairs, canon, head_chars=TURN_WIDTH, theta=0.9)


def _bloom_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom encodings (Schnell et al. 2009) of every entity's 16-char sig:
    bigrams, k=4 portable-md5 hashes, m=256 bits (operators/pprl.py)."""
    from .operators.pprl import bloom_encode

    canon = _canonical(spark, sf_dir).withColumn(
        "sig", F.expr(f"substring(fingerprint, 1, {SIG_LEN})")
    )
    return bloom_encode(canon, id_col="conv_id", text_col="sig", q=2, k=4, m=256)


def q_similarity_pprl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-preserving comparator (operators/pprl.py::dice_pairs): Dice
    coefficient over Bloom-filter encodings of each entity's sig, computed
    on the blocked candidate stream — the Schnell/Bachteler/Reiher 2009
    PPRL scheme, the comparator a linkage unit uses when the two sides may
    exchange only hashed encodings, never cleartext.  Encoding hashes are
    portable md5 so the DuckDB oracle reproduces identical bit sets."""
    from .operators.pprl import dice_pairs

    pairs = q_candidate_pairs(spark, sf_dir)
    return dice_pairs(pairs, _bloom_encoded(spark, sf_dir))


def q_pprl_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Private blocking (operators/pprl.py::bloom_band_candidates): LSH-style
    banding over the Bloom encodings themselves — candidate pairs generated
    WITHOUT touching cleartext, the blocking half of the PPRL stack
    (Durham et al. 2012 composite-blocking shape).  m=256 bits, 16 bands
    of 16 bit positions; a pair is a candidate iff >= 2 bands' exact bit
    subsets match (the multi-band agreement rule — single-band agreement
    is chance-level on natural-language bigram sets).  Only (id, band_key)
    rides the self-join shuffle."""
    from .operators.pprl import bloom_band_candidates

    return bloom_band_candidates(_bloom_encoded(spark, sf_dir), m=256, bands=16, min_bands=2)


def q_turn_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation delta (operators/alignment.py::align_turns): anchored
    prefix/suffix turn alignment for every matched pair — which turns the
    near-duplicate pair shares verbatim and how wide each side's changed
    region is.  Pure joins + aggs keyed by the pair ids; linear in matched
    turn volume, no per-pair DP, no Python."""
    from .operators.alignment import align_turns

    matches = q_matches(spark, sf_dir).select("id_a", "id_b")
    turns = derive_transcripts(spark, sf_dir).select("conv_id", "turn_idx", "text")
    return align_turns(matches, turns)


def q_pprl_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Private A×B mastering (operators/pprl.py::bloom_band_candidates two-
    table mode): the corpus's md5-split index side (digit < '8') holds the
    persisted Bloom-band index, the rest is the new-ingest batch; banded
    candidates pair index×batch ONLY (side identity preserved, no
    within-side pairs), then Dice >= 0.95 on the encodings yields the
    private cross links — the PPRL twin of link_cross_source, with no
    cleartext exchanged after encoding."""
    from .operators.pprl import bloom_band_candidates, dice_pairs

    enc = _bloom_encoded(spark, sf_dir)
    digit = F.substring(F.md5(F.col("id")), 1, 1)
    idx, batch = enc.filter(digit < "8"), enc.filter(digit >= "8")
    cands = bloom_band_candidates(idx, m=256, bands=16, min_bands=2, other=batch)
    return dice_pairs(cands, enc).filter(F.col("dice") >= 0.95)


def q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Match-graph transitivity audit (operators/graph.py::transitivity_stats):
    the wedge census + global clustering coefficient of the match stream —
    open wedges are matches CC will weld without pairwise evidence, the
    per-run leading indicator of threshold drift and mega-cluster welds."""
    from .operators.graph import transitivity_stats

    return transitivity_stats(q_matches(spark, sf_dir).select("id_a", "id_b"))


def q_eval_pprl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-utility report: run the FULLY PRIVATE pipeline (Bloom-band
    blocking at min_bands=2 → Dice >= 0.95 on the encodings — no cleartext
    touched after encoding) and score it against the cleartext match
    stream (banded Levenshtein <= 2).  One row: match volumes of each
    pipeline, their overlap, and precision/recall of private vs cleartext
    — the table a linkage unit signs off before an encodings-only
    deployment.  Private precision < 1 is structural, not a bug: the
    encodings see only the 16-char sig field, so same-sig non-duplicates
    are indistinguishable to the private side."""
    from .operators.pprl import bloom_band_candidates, dice_pairs

    enc = _bloom_encoded(spark, sf_dir)
    private = (
        dice_pairs(bloom_band_candidates(enc, m=256, bands=16, min_bands=2), enc)
        .filter(F.col("dice") >= 0.95)
        .select("id_a", "id_b")
    )
    cleartext = q_matches(spark, sf_dir).select("id_a", "id_b")
    common = private.join(cleartext, ["id_a", "id_b"])
    np_ = private.agg(F.count(F.lit(1)).cast("bigint").alias("n_private"))
    nc = cleartext.agg(F.count(F.lit(1)).cast("bigint").alias("n_cleartext"))
    nj = common.agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    return (
        np_.crossJoin(nc)
        .crossJoin(nj)
        .select(
            "n_private",
            "n_cleartext",
            "n_common",
            gate_round4(F.col("n_common") / F.col("n_private").cast("double"))
            .alias("precision"),
            gate_round4(F.col("n_common") / F.col("n_cleartext").cast("double"))
            .alias("recall"),
        )
    )


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship_package(spark)
    scored = q_score_pairs(spark, sf_dir).select(
        F.col("id_a").alias("query_id"), F.col("id_b").alias("candidate"), "distance"
    )
    return topk_candidates(scored, k=2).select("query_id", "candidate", "distance",
                                               F.col("rank").cast("int").alias("rank"))


# ---------------------------------------------------------------------------
# Transduce over a word dictionary derived from documents + nation
# ---------------------------------------------------------------------------

def _word_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single source of the word-token stream (documents whitespace
    tokens + lowered nation names) behind every transduce/spell entry:
    the dictionary is its distinct() and spell_suggest_weighted's
    frequency table is its groupBy-count — one tokenization to keep in
    lockstep with the DUCK_WORDS oracle fragment."""
    doc_words = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split(F.col("text"), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
    )
    nation_words = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select(F.lower(F.col("n_name")).alias("term"))
    )
    return doc_words.unionByName(nation_words)


def _word_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _word_tokens(spark, sf_dir).distinct()


def _word_queries(dictionary: DataFrame) -> DataFrame:
    # deterministic near-miss queries: delete the first char of each term
    return dictionary.filter(F.length("term") > 2).select(
        F.concat(F.lit("q_"), F.col("term")).alias("query_id"),
        F.expr("substring(term, 2, length(term))").alias("term"),
    )


_DUCK_WORDS_BODY = """
dict AS (
  SELECT DISTINCT w AS term FROM (
    SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS w
    FROM documents
    UNION ALL
    SELECT lower(n_name) FROM nation
  )
),
queries AS (
  SELECT 'q_' || term AS query_id, substring(term, 2) AS query_term
  FROM dict WHERE length(term) > 2
)
"""

DUCK_WORDS = "\nWITH " + _DUCK_WORDS_BODY


def _bfs_transduce_sql(n: int, variant: str) -> str:
    """DuckDB oracle for the restricted transduce variants as a shortest-path
    BFS over the edit lattice, mirroring kernels/oracles.py EXACTLY: when the
    next characters match, only the free match move is allowed (the
    recursions short-circuit on equal heads), otherwise unit-cost edit moves
    — so on the trap pair ("ca","abc") transposition yields the restricted 3,
    not DuckDB's unrestricted damerau_levenshtein 2.

    Completeness of the prefilters: restricted-transposition distance >=
    unrestricted Damerau, so damerau_levenshtein <= n is a superset; a merge
    (two chars -> one) or split is expressible as <= 2 plain edits, so
    levenshtein <= 2n is a superset for merge_and_split. The BFS then
    computes the exact restricted distance with cost capped at n."""
    if variant == "transposition":
        pre = f"damerau_levenshtein(q.query_term, d.term) <= {n}"
        extra_moves = "(2, 2, 1, 'trans'),"
    elif variant == "merge_and_split":
        pre = f"levenshtein(q.query_term, d.term) <= {2 * n}"
        extra_moves = "(1, 2, 1, 'split'), (2, 1, 1, 'merge'),"
    else:
        raise ValueError(variant)
    return f"""
WITH RECURSIVE {_DUCK_WORDS_BODY},
pairs AS (
  SELECT q.query_id, q.query_term, d.term AS candidate,
         length(q.query_term) AS la, length(d.term) AS lb
  FROM queries q CROSS JOIN dict d
  WHERE abs(length(q.query_term) - length(d.term)) <= {n}
    AND {pre}
),
moves(di, dj, c, kind) AS (
  SELECT * FROM (VALUES
    (1, 1, 0, 'match'), (1, 1, 1, 'sub'), (1, 0, 1, 'del'), (0, 1, 1, 'ins'),
    {extra_moves}
  ) v
),
bfs(query_id, candidate, i, j, cost) AS (
  SELECT query_id, candidate, 0, 0, 0 FROM pairs
  UNION
  SELECT s.query_id, s.candidate, s.i + m.di, s.j + m.dj, s.cost + m.c
  FROM bfs s
  JOIN pairs p ON p.query_id = s.query_id AND p.candidate = s.candidate
  CROSS JOIN moves m
  WHERE CASE m.kind
    WHEN 'match' THEN s.i < p.la AND s.j < p.lb
      AND substring(p.query_term, s.i + 1, 1) = substring(p.candidate, s.j + 1, 1)
    WHEN 'sub' THEN s.cost < {n} AND s.i < p.la AND s.j < p.lb
      AND substring(p.query_term, s.i + 1, 1) <> substring(p.candidate, s.j + 1, 1)
    WHEN 'del' THEN s.cost < {n} AND s.i < p.la
      AND (s.j >= p.lb OR substring(p.query_term, s.i + 1, 1) <> substring(p.candidate, s.j + 1, 1))
    WHEN 'ins' THEN s.cost < {n} AND s.j < p.lb
      AND (s.i >= p.la OR substring(p.query_term, s.i + 1, 1) <> substring(p.candidate, s.j + 1, 1))
    WHEN 'trans' THEN s.cost < {n} AND s.i + 1 < p.la AND s.j + 1 < p.lb
      AND substring(p.query_term, s.i + 1, 1) <> substring(p.candidate, s.j + 1, 1)
      AND substring(p.query_term, s.i + 1, 1) = substring(p.candidate, s.j + 2, 1)
      AND substring(p.query_term, s.i + 2, 1) = substring(p.candidate, s.j + 1, 1)
    WHEN 'split' THEN s.cost < {n} AND s.i < p.la AND s.j + 1 < p.lb
      AND substring(p.query_term, s.i + 1, 1) <> substring(p.candidate, s.j + 1, 1)
    WHEN 'merge' THEN s.cost < {n} AND s.i + 1 < p.la AND s.j < p.lb
      AND substring(p.query_term, s.i + 1, 1) <> substring(p.candidate, s.j + 1, 1)
  END
)
SELECT p.query_id, p.query_term, p.candidate, CAST(min(s.cost) AS INT) AS distance
FROM bfs s
JOIN pairs p ON p.query_id = s.query_id AND p.candidate = s.candidate
WHERE s.i = p.la AND s.j = p.lb
GROUP BY p.query_id, p.query_term, p.candidate"""


def q_transduce_standard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship_package(spark)
    conf = LinkConfig(algorithm="standard", max_distance=1, blocking_scheme="deletions")
    d = _word_dictionary(spark, sf_dir)
    return transduce(_word_queries(d), compile_dictionary(d, conf), conf)


def q_transduce_transposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship_package(spark)
    conf = LinkConfig(algorithm="transposition", max_distance=2, blocking_scheme="deletions")
    d = _word_dictionary(spark, sf_dir)
    return transduce(_word_queries(d), compile_dictionary(d, conf), conf)


def q_transduce_merge_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship_package(spark)
    conf = LinkConfig(algorithm="merge_and_split", max_distance=1, blocking_scheme="deletions")
    d = _word_dictionary(spark, sf_dir)
    return transduce(_word_queries(d), compile_dictionary(d, conf), conf)


def q_transduce_per_query_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3's transduce(term, n) overload through the hard gate: every query
    carries its own distance budget (n = length(query_term) % 3 — a
    deterministic 0/1/2 mix), the dictionary is compiled once at the batch
    cap n=2, and per-row probe keys + a per-row post-filter enforce each
    budget. Oracle: DuckDB levenshtein with the same per-row n."""
    ship_package(spark)
    conf = LinkConfig(algorithm="standard", max_distance=2, blocking_scheme="deletions")
    d = _word_dictionary(spark, sf_dir)
    q = _word_queries(d).select(
        "query_id", "term", (F.length("term") % 3).cast("int").alias("n")
    )
    return transduce_per_query(q, compile_dictionary(d, conf), conf)


def q_spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's marquee consumption pattern (spelling correction,
    README.md:26-33): transduce each near-miss query against the word
    dictionary at n=2 and keep the 3 best suggestions per query, ranked by
    (distance, candidate) — A3 transduce composed with P10 top-k, the
    distributed analogue of lazily taking the first few candidates (A6)."""
    ship_package(spark)
    conf = LinkConfig(algorithm="standard", max_distance=2, blocking_scheme="deletions")
    d = _word_dictionary(spark, sf_dir)
    out = transduce(_word_queries(d), compile_dictionary(d, conf), conf)
    return topk_candidates(out.select("query_id", "candidate", "distance"), k=3).select(
        "query_id", "candidate", "distance", F.col("rank").cast("int").alias("rank")
    )


def q_spell_suggest_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted spelling correction — the production ranking the
    reference's own demo implies (README.md:26-33 corrects toward COMMON
    words): transduce at n=2, then rank candidates by (distance ASC,
    corpus frequency DESC, term ASC) and keep the 3 best. The frequency
    table is one hash agg over the corpus token stream (map-side combine),
    joined to the candidate set BY TERM after blocking — frequencies never
    ride the transduce join, so the scale shape of `spell_suggest` is
    unchanged plus one broadcast-sized dictionary join."""
    from pyspark.sql import Window

    ship_package(spark)
    conf = LinkConfig(algorithm="standard", max_distance=2, blocking_scheme="deletions")
    freqs = (
        _word_tokens(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    d = freqs.select("term")
    out = transduce(_word_queries(d), compile_dictionary(d, conf), conf)
    scored = out.join(freqs.withColumnRenamed("term", "candidate"), "candidate")
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("freq").desc(), F.col("candidate").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "candidate",
                F.col("distance").cast("int").alias("distance"), "freq", "rank")
    )


def q_transduce_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-tolerant transduce (autocomplete correction — the incremental-
    search extension of the Schulz–Mihov automaton family): a dictionary
    term is accepted iff SOME prefix of it is within n=1 of the query, and
    the emitted distance is d_prefix(q, t) = min over prefixes p of t of
    d(q, p). Re-expressed Spark-natively with EXISTING gated operators: the
    dictionary explodes to its (term, prefix) pairs (bounded by max term
    length — exactly what a type-ahead index materializes), the distinct
    prefixes become the compiled dictionary, standard transduce runs at
    n=1, and a groupBy-min folds prefix hits back to terms. Completeness is
    inherited from transduce's recall=1.0 guarantee because the prefix
    explosion is exhaustive."""
    ship_package(spark)
    conf = LinkConfig(algorithm="standard", max_distance=1,
                      blocking_scheme="deletions")
    d = _word_dictionary(spark, sf_dir)
    prefixes = d.select(
        "term",
        F.explode(
            F.expr("transform(sequence(1, length(term)), i -> substring(term, 1, i))")
        ).alias("candidate"),
    )
    pdict = prefixes.select(F.col("candidate").alias("term")).distinct()
    out = transduce(_word_queries(d), compile_dictionary(pdict, conf), conf)
    return (
        out.select("query_id", "candidate", "distance")
        .join(prefixes, "candidate")
        .groupBy("query_id", "term")
        .agg(F.min("distance").cast("int").alias("distance"))
        .select("query_id", F.col("term").alias("candidate"), "distance")
    )


def q_similarity_jw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler re-ranking of the transduce candidate set — record
    linkage's standard short-string comparator as a SECOND scoring family
    beside edit distance: candidates are generated by the n<=2 Levenshtein
    automaton (cheap, banded), then re-ranked by JW similarity (prefix-
    weighted, favors typo-at-the-end matches), top-3 per query. At scale
    the JW kernel only ever sees the blocked candidate stream, never the
    quadratic pair space. Ranking is over the ROUNDED similarity so
    cross-engine float ulps can't reorder ties (gate_round4 convention)."""
    from pyspark.sql import Window

    from .operators.scoring import jaro_winkler_udf

    ship_package(spark)
    conf = LinkConfig(algorithm="standard", max_distance=2, blocking_scheme="deletions")
    d = _word_dictionary(spark, sf_dir)
    out = transduce(_word_queries(d), compile_dictionary(d, conf), conf)
    from .functions.text import gate_round4

    jw = jaro_winkler_udf()
    scored = out.select(
        "query_id", "candidate", gate_round4(jw("query_term", "candidate")).alias("jw")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("jw").desc(), F.col("candidate").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    )


def q_scored_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 checkpoint ledger through the hard gate: score the candidate pairs
    in bucketed waves with an INJECTED CRASH after wave 2, then resume — the
    resumed job anti-joins the completed-bucket ledger so finished buckets
    are never rescored (BASELINE.json north_star: killed job resumes without
    rescoring). The final sink must equal the one-shot `score_pairs` result,
    so this entry shares its oracle."""
    import tempfile

    from .operators.ledger import completed_buckets, run_scored_waves

    ship_package(spark)
    conf = LinkConfig(algorithm="standard", max_distance=2, checkpoint_buckets=16)
    pairs = q_candidate_pairs(spark, sf_dir).localCheckpoint(eager=True)
    canon = _canonical(spark, sf_dir).localCheckpoint(eager=True)
    out = tempfile.mkdtemp(prefix="levledger_") + "/run"
    try:
        run_scored_waves(spark, pairs, canon, conf, out, waves=4, fail_after_waves=2)
        raise AssertionError("injected failure did not fire")
    except RuntimeError:
        pass
    n_before = completed_buckets(spark, out).count()
    assert 0 < n_before < conf.checkpoint_buckets, n_before
    scored = run_scored_waves(spark, pairs, canon, conf, out, waves=4)
    return scored.select("id_a", "id_b", "distance")


def q_ledger_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9's AUDIT SIDE through the hard gate: the per-bucket lineage table
    itself — (bucket, n_pairs scored, n_matches, wave), including 0-rows
    for buckets with no feasible pairs — recomputed independently by the
    SQL oracle. Buckets use the portable md5 hash (`bucketed(...,
    portable=True)`) precisely so an external engine CAN audit the ledger:
    at 10^12-turn scale this is the query an operator runs against the
    Iceberg audit side-table to answer 'which partitions are done, and do
    their counts reconcile with an independent recount'."""
    import tempfile

    from .operators.ledger import completed_buckets, run_scored_waves

    ship_package(spark)
    conf = LinkConfig(algorithm="standard", max_distance=2, checkpoint_buckets=16)
    pairs = q_candidate_pairs(spark, sf_dir).localCheckpoint(eager=True)
    canon = _canonical(spark, sf_dir).localCheckpoint(eager=True)
    out = tempfile.mkdtemp(prefix="levlineage_") + "/run"
    run_scored_waves(spark, pairs, canon, conf, out, waves=4,
                     portable_buckets=True)
    return completed_buckets(spark, out).select(
        F.col("bucket").cast("int"),
        F.col("n_pairs").cast("bigint"),
        F.col("n_matches").cast("bigint"),
        F.col("wave").cast("int"),
    )


def q_dictionary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 serialize/deserialize: persist the word dictionary as a sorted
    plain-text term list (the reference's PlainTextSerializer format) and
    read it back — the returned term set must be unchanged."""
    import tempfile

    from .sources.dictionary_io import read_terms_text, write_terms_text

    path = tempfile.mkdtemp(prefix="levdict_") + "/terms"
    write_terms_text(_word_dictionary(spark, sf_dir), path, num_files=4)
    return read_terms_text(spark, path)


def q_dictionary_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 serialize/deserialize, binary form: persist the word dictionary in
    the front-coded LLD1 block format (the reference's protobuf/bytecode
    serializer analogue `[PK] serialization/`) and read it back through the
    binaryFile source — the decoded term set must be unchanged. Shares the
    plain-text entry's oracle: the on-disk encoding must be invisible."""
    import tempfile

    from .sources.dictionary_io import read_terms_binary, write_terms_binary

    ship_package(spark)
    path = tempfile.mkdtemp(prefix="levdictb_") + "/terms"
    write_terms_binary(_word_dictionary(spark, sf_dir), path, num_files=4)
    return read_terms_binary(spark, path)


def q_stream_linkage_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of `matches`: the derived transcripts are
    drained through the incremental-linkage stream in two micro-batches; the
    accumulated match sink must equal the batch pipeline's match set. Uses
    the same sig-prefix deletion blocking as the batch entries so the DuckDB
    oracle is shared with `matches`."""
    import tempfile

    from .streaming.incremental import start_incremental_linkage, stream_transcripts

    ship_package(spark)
    work = tempfile.mkdtemp(prefix="levstream_")
    src, state = work + "/src", work + "/state"
    t = derive_transcripts(spark, sf_dir).withColumn("ts", F.lit(None).cast("timestamp"))
    half = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    for g in range(2):
        (t.withColumn("_g", half).filter(F.col("_g") == g).drop("_g")
         .coalesce(1).write.mode("append").parquet(src))

    conf = LinkConfig(algorithm="standard", max_distance=2)
    q = start_incremental_linkage(
        stream_transcripts(spark, src, max_files_per_trigger=1), conf, state,
        block_fn=_sig_block_keys,
    )
    q.awaitTermination()
    m = spark.read.parquet(state + "/matches")
    return m.dropDuplicates(["id_a", "id_b"]).select(
        "id_a", "id_b", F.col("distance").cast("int").alias("distance")
    )


def q_eval_pairwise_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule headline metric through the hard gate: pairwise
    precision/recall/F1 of the blocked pipeline's match set against the
    FULL brute-force truth — every entity pair within distance 2, computed
    with NO blocking — so blocking recall losses (not just scoring errors)
    would surface as fn > 0 here.

    Truth generation is still scale-shaped: distance<=2 implies
    |fp_len diff|<=2, so each entity explodes to five (len+delta) keys and
    the truth pair stream is an EQUI-join on exact target length — a
    length-banded exhaustive scan, not a cross join. The kernel scores the
    banded pairs with the same mapInArrow path as the pipeline."""
    truth = _truth_pairs(spark, sf_dir)
    preds = q_matches(spark, sf_dir)
    return pairwise_confusion(truth, preds)


def _truth_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized blocking-free truth pair set (every entity pair within
    distance 2, length-banded exhaustive scan) — shared by the pairwise-F1
    and threshold-sweep evaluation entries."""

    def build() -> DataFrame:
        ship_package(spark)
        canon = _canonical(spark, sf_dir).select("conv_id", "fingerprint", "fp_len")
        return banded_truth_pairs(canon, 2, "standard")

    return _cached_df(spark, sf_dir, "truth_pairs", build)


# Entity-sample rate for the sampled-truth eval mode: keep hash-bucket
# < rate*10000 of entities (operators.sampling.sample_corpus convention).
TRUTH_SAMPLE_RATE = 0.25


def q_eval_pairwise_f1_sampled(spark: SparkSession, sf_dir: str,
                               rate: float = TRUTH_SAMPLE_RATE) -> DataFrame:
    """Sampled-truth pairwise F1 — the sf>=1 evaluation mode. The full
    blocking-free truth scan (eval_pairwise_f1) is inherently quadratic
    within equal-length bands: fine at sf0.1, unusable at sf>=1. This
    entry draws a deterministic entity sample (portable-md5 hash bucket,
    operators.sampling.sample_corpus — layout-independent, identical in
    DuckDB) and computes the exact confusion ON THE INDUCED PAIR SUBGRAPH:
    truth restricted to sampled×sampled pairs, predictions restricted the
    same way, so precision/recall are exact for the sample.

    Extrapolation (documented, standard pair-sampling estimator): entity
    rate r keeps ~r^2 of all pairs; tp/fp/fn scale by ~1/r^2 with
    variance driven by the largest duplicate groups (each group of size g
    contributes Binomial(g, r) sampled members). precision/recall/F1 are
    ratio estimators and carry no 1/r^2 factor — they are unbiased up to
    group-size effects and are what this entry reports. Truth cost drops
    from O(n^2/bands) to O((rn)^2/bands): r=0.25 -> 16x; sf1 passes
    rate=0.05 (`truth_sample_rate` in BENCH_SF1.json) for a 400x cut.

    NOTE: the registered DuckDB oracle is PINNED to the default rate
    (hash bucket < TRUTH_SAMPLE_RATE*10000 = 2500) — gate comparisons
    must call this with the default; a custom `rate` is for standalone
    use (as in the BENCH_SF1.json run) and has no matching oracle."""
    from .operators.sampling import sample_corpus

    canon = _canonical(spark, sf_dir).select("conv_id", "fingerprint", "fp_len")
    samp = sample_corpus(canon, rate, key_col="conv_id",
                         salt="truthsample").localCheckpoint(eager=False)
    truth = banded_truth_pairs(samp, 2, "standard").select("id_a", "id_b")
    ids = samp.select("conv_id")
    preds = (
        q_matches(spark, sf_dir)
        .join(ids.withColumnRenamed("conv_id", "id_a"), "id_a", "left_semi")
        .join(ids.withColumnRenamed("conv_id", "id_b"), "id_b", "left_semi")
    )
    return pairwise_confusion(truth, preds)


def q_eval_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise P/R/F1 at EVERY match threshold 0..3 in one pass
    (operators.metrics.threshold_sweep) against the same blocking-free
    banded truth as `eval_pairwise_f1` — the tuning curve for choosing the
    transducer's n (the reference fixes it per transducer, README.md:13-15).
    Threshold 3 is the scored-stream cap (score_pairs' n+1 sentinel), so
    the sweep's top row also audits the sentinel convention cross-engine."""
    from .operators.metrics import threshold_sweep

    return threshold_sweep(
        _truth_pairs(spark, sf_dir), q_score_pairs(spark, sf_dir), [0, 1, 2, 3]
    )


def q_similarity_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token TF-IDF cosine (WHIRL-style soft join, Cohen 1998) over the
    BLOCKED candidate stream (operators.comparators.tfidf_cosine_pairs) —
    a second soft-scoring family beside edit distance and Jaro-Winkler:
    pairs sharing rare vocabulary score high even when raw edit distance
    is large. Pure JVM expressions end-to-end (no Python); the sparse
    (id, token) weight join is candidate-bounded, never all-pairs."""
    from .operators.comparators import tfidf_cosine_pairs

    pairs = q_candidate_pairs(spark, sf_dir)
    canon = _canonical(spark, sf_dir)
    return tfidf_cosine_pairs(pairs, canon, sep=SEP)


def q_similarity_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 fan-out-capped TF-IDF variant through the hard gate:
    each document's weight vector truncated to its K=5 highest-weight
    tokens (w DESC, token ASC tie-break — deterministic in both engines)
    BEFORE norms and dot products, so cosine is exact over the kept
    vectors. K=5 at gate scale is small enough that truncation actually
    bites (long fingerprints have dozens of tokens), gating the kept-set
    selection, the post-truncation norm, and the zero-overlap contract
    cross-engine. Scale rationale: BENCH_TFIDF_TOPK.json (18.5x weight-row
    fan-out cut on a long-doc corpus)."""
    from .operators.comparators import tfidf_cosine_pairs

    pairs = q_candidate_pairs(spark, sf_dir)
    canon = _canonical(spark, sf_dir)
    return tfidf_cosine_pairs(pairs, canon, sep=SEP, topk_tokens=5)


def q_similarity_me(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric set-Monge-Elkan similarity (Monge & Elkan 1996) with the
    Jaro-Winkler inner kernel over each candidate pair's FIRST-TURN tokens
    (operators.comparators.monge_elkan_pairs): the hybrid token-level
    comparator ER uses for multi-word fields. Token cross product is
    bounded per pair; inner JW values round to 4dp BEFORE the max so
    cross-engine ulps cannot flip which token wins."""
    from .operators.comparators import monge_elkan_pairs

    ship_package(spark)
    pairs = q_candidate_pairs(spark, sf_dir)
    canon = _canonical(spark, sf_dir)
    return monge_elkan_pairs(pairs, canon, sep=SEP, head_chars=TURN_WIDTH)


def q_similarity_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble match score over the scored pair stream — the standard ER
    practice (Magellan-style feature fusion) of combining comparator
    FAMILIES so no single failure mode owns the decision: banded-Levenshtein
    similarity on full fingerprints (edit structure), Jaro-Winkler on the
    16-char sigs (prefix-weighted short-string), and token TF-IDF cosine
    (rare-vocabulary affinity), fused with fixed weights 0.5/0.2/0.3.
    Every component is round4'd BEFORE the weighted sum (the repo's
    cross-engine float convention); cost is one pass per comparator over
    the already-blocked stream, nothing quadratic.

    Defined on the MATCH stream (distance <= n) only: the banded kernel
    emits the sentinel n+1 for "beyond the band", not a true distance, so
    1 - (n+1)/max_len would fabricate ~0.97+ similarity for long
    fingerprints that are arbitrarily far apart.  Restricting to matches
    keeps every sim_lev a real normalized distance.  Caveat (documented,
    by design): sim_jw runs on the 16-char sigs that the deletion-
    neighborhood blocking scheme also keys on, so it is positively
    correlated with candidate membership and acts as a prefix-confidence
    feature, not an independent signal — the 0.5-weight lev component on
    the FULL fingerprint is the discriminating term."""
    from .operators.comparators import tfidf_cosine_pairs
    from .operators.scoring import jaro_winkler_udf, normalized_similarity

    ship_package(spark)
    scored = q_score_pairs(spark, sf_dir).filter(F.col("distance") <= 2)
    canon = _canonical(spark, sf_dir)
    lev = normalized_similarity(
        scored, canon.select("conv_id", "fingerprint")
    ).select("id_a", "id_b", gate_round4(F.col("similarity")).alias("sim_lev"))
    sigs = canon.select(
        "conv_id", F.expr(f"substring(fingerprint, 1, {SIG_LEN})").alias("sig")
    )
    sa = sigs.select(F.col("conv_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("conv_id").alias("id_b"), F.col("sig").alias("sig_b"))
    jw = jaro_winkler_udf()
    jws = (
        scored.select("id_a", "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", gate_round4(jw(F.col("sig_a"), F.col("sig_b"))).alias("sim_jw")
        )
    )
    cos = tfidf_cosine_pairs(q_candidate_pairs(spark, sf_dir), canon, sep=SEP).select(
        "id_a", "id_b", F.col("cosine").alias("sim_tfidf")
    )
    return (
        lev.join(jws, ["id_a", "id_b"])
        .join(cos, ["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            "sim_lev",
            "sim_jw",
            "sim_tfidf",
            gate_round4(
                0.5 * F.col("sim_lev") + 0.2 * F.col("sim_jw") + 0.3 * F.col("sim_tfidf")
            ).alias("fused"),
        )
    )


def q_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic star clustering (operators.clustering.star_clusters)
    over the match graph — the bounded-diameter complement to transitive
    CC: every member is a DIRECT match of its center, so one noisy edge
    can never weld mega-clusters, and the physical plan is a FIXED 3-join
    dataflow with zero driver-side iteration (CC needs O(log n) rounds)."""
    matches = q_matches(spark, sf_dir)
    entities = _canonical(spark, sf_dir).select("conv_id")
    from .operators.clustering import star_clusters

    return star_clusters(entities, matches)


def q_eval_bcubed_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed of STAR clustering vs gold identity on the same strict
    (distance<=1) match graph `eval_bcubed` scores CC on — the
    quantitative half of the CC-vs-star decision: star's diameter-<=2
    guarantee trades recall (chains split) for precision (no noisy-edge
    mega-cluster welds), and this entry puts exact numbers on that trade
    so an operator can pick a clustering per workload from the gate
    artifacts instead of folklore."""
    from .operators.clustering import star_clusters

    matches1 = (
        q_score_pairs(spark, sf_dir)
        .filter(F.col("distance") <= 1)
        .select("id_a", "id_b")
    )
    entities = _canonical(spark, sf_dir).select("conv_id")
    pred = star_clusters(entities, matches1).select(
        "conv_id", F.col("star_id").alias("cluster_id")
    )
    rec = pred.withColumn("gold_id", F.expr("substring(conv_id, 2)"))
    return bcubed(rec)


def q_candidate_pairs_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-scheme blocking union with per-pair provenance: the deletion
    neighborhood (bit 1), positional sig q-grams (bit 2), and the
    sorted-neighborhood window (bit 4) each propose pairs; the union
    aggregates a scheme bitmask + scheme count per pair. This is the audit
    surface for blocking-budget decisions at scale — which scheme EARNS
    its candidate volume — and the input meta-blocking weights; one
    union + one hash agg on the (narrow) pair ids, no texts, no kernel.

    The q-gram scheme applies BLOCK PURGING (Papadakis block cleaning):
    buckets larger than 64 entities are dropped before the self-join —
    sig prefixes repeat heavily in real corpora, and without the cap the
    hot grams alone contribute O(hot²) pairs (measured ~100 M extrapolated
    at sf0.1). The purge keeps the scheme's pair volume ∝ corpus × cap."""
    uni = _scheme_pairs(spark, sf_dir)
    return uni.groupBy("id_a", "id_b").agg(
        F.sum("scheme").cast("int").alias("schemes"),
        F.count(F.lit(1)).cast("int").alias("n_schemes"),
    )


def _scheme_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, scheme) rows, one per (pair, proposing scheme):
    deletion=1, purged sig q-grams=2, sorted-neighborhood window=4.
    Memoized: candidate_pairs_union and eval_scheme_quality both consume
    it, and sorted_neighborhood_pairs eagerly runs rank jobs at plan-build
    time on every call."""
    return _cached_df(spark, sf_dir, "scheme_pairs", lambda: _build_scheme_pairs(spark, sf_dir))


def _build_scheme_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship_package(spark)
    from .functions.blocking import qgram_keys
    from .operators.ranking import sorted_neighborhood_pairs

    dele = q_candidate_pairs(spark, sf_dir).select(
        "id_a", "id_b", F.lit(1).alias("scheme")
    )
    ents = _canonical(spark, sf_dir).select(
        "conv_id", F.expr(f"substring(fingerprint, 1, {SIG_LEN})").alias("sig")
    )
    # materialized once: consumed by both the small_keys aggregation and
    # the purge join below, which would otherwise re-run the q-gram explode
    # + distinct shuffle twice inside this one build
    qk_raw = ents.select(
        "conv_id", F.explode(qgram_keys("sig", q=3, pos_bucket=8)).alias("block_key")
    ).distinct().localCheckpoint(eager=True)
    small_keys = (
        qk_raw.groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= 64)
        .select("block_key")
    )
    qk = qk_raw.join(small_keys, "block_key")
    qa = qk.select(F.col("conv_id").alias("_ida"), "block_key")
    qb = qk.select(F.col("conv_id").alias("_idb"), "block_key")
    qg = (
        qa.join(qb, "block_key")
        .filter(F.col("_ida") < F.col("_idb"))
        .select(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"))
        .distinct()
        .select("id_a", "id_b", F.lit(2).alias("scheme"))
    )
    snm = (
        sorted_neighborhood_pairs(ents, "sig", window=4)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
        .select("id_a", "id_b", F.lit(4).alias("scheme"))
    )
    return dele.unionByName(qg).unionByName(snm)


def q_eval_scheme_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-scheme blocking quality report — the decision table for which
    blocking family EARNS its candidate volume: for each scheme (deletion,
    purged sig q-grams, sorted-neighborhood) the candidate count, how many
    brute-force-truth pairs it catches, its pairs completeness, and its
    reduction ratio. `eval_blocking_recall` audits the production
    (deletion) scheme alone; this extends the same two ER metrics across
    every registered family so scheme selection is data-driven. One join
    of the (narrow) scheme-tagged pair stream against the memoized banded
    truth, one hash agg by scheme — no texts, no kernel."""
    from .functions.text import gate_round4

    uni = _scheme_pairs(spark, sf_dir)
    truth = _truth_pairs(spark, sf_dir).select("id_a", "id_b").withColumn("_t", F.lit(1))
    n_ents = _canonical(spark, sf_dir).select(
        F.count(F.lit(1)).cast("bigint").alias("n_entities")
    )
    n_truth = truth.select(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    agg = (
        uni.join(truth, ["id_a", "id_b"], "left")
        .groupBy("scheme")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cand"),
            F.coalesce(F.sum(F.when(F.col("_t").isNotNull(), 1)), F.lit(0))
            .cast("bigint")
            .alias("n_caught"),
        )
    )
    return (
        agg.crossJoin(F.broadcast(n_ents))
        .crossJoin(F.broadcast(n_truth))
        .select(
            "scheme",
            "n_cand",
            "n_caught",
            gate_round4(
                F.when(F.col("n_true") == 0, F.lit(1.0)).otherwise(
                    F.col("n_caught") / F.col("n_true")
                )
            ).alias("pairs_completeness"),
            gate_round4(
                # n_entities casts to double BEFORE the multiply: bigint
                # n*(n-1) overflows past ~3e9 entities (and ANSI mode would
                # throw), while the DuckDB oracle already multiplies in
                # DOUBLE — this keeps both engines on the same arithmetic
                # at the 1e12-turn design scale.
                1.0
                - F.col("n_cand")
                / (F.col("n_entities").cast("double") * (F.col("n_entities") - 1) / 2)
            ).alias("reduction_ratio"),
        )
        .orderBy("scheme")
    )


def q_block_keys_phonetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic (American Soundex) blocking keys over the word dictionary
    (functions.blocking.phonetic_key = JVM built-in soundex): the classic
    dirty-name blocking family — 'smith'/'smyth' share a bucket at ANY edit
    distance, complementing the distance-bounded deletion neighborhoods.
    Restricted to alphabetic terms (Spark passes non-letter-prefixed
    strings through unchanged). The DuckDB oracle re-implements Soundex
    from the published algorithm (letter→digit map, H/W transparent,
    vowels separate, adjacent codes collapse) in set-based SQL.

    The synthetic vocabulary is tiny (~47 distinct words), so — the same
    way the corpus plants near-duplicate conversations — the term set
    plants a sound-alike variant `term || 'a'` for every word (appending a
    vowel never changes a Soundex code), guaranteeing each bucket exercises
    the bucket self-join."""
    from .functions.blocking import phonetic_key

    return _phonetic_terms(spark, sf_dir).select(
        "term", phonetic_key("term").alias("block_key")
    )


def _phonetic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    part_words = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select(F.explode(F.split("p_name", " ")).alias("term"))
    )
    base = (
        _word_dictionary(spark, sf_dir)
        .unionByName(part_words)
        .filter(F.col("term").rlike("^[a-z]+$"))
        .distinct()
    )
    variants = base.select(F.concat(F.col("term"), F.lit("a")).alias("term"))
    return base.unionByName(variants).distinct()


def q_candidate_pairs_phonetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The phonetic family end-to-end: soundex-bucket self-join generates
    candidate word pairs, each verified with exact Levenshtein capped at 3
    (the scored-stream sentinel convention). Short words stay on the JVM
    built-in `levenshtein` — the kernel's Arrow crossing only pays for
    itself on long fingerprints (BASELINE.md 'Kernel vs JVM built-in')."""
    keys = q_block_keys_phonetic(spark, sf_dir)
    a = keys.select(F.col("term").alias("term_a"), "block_key")
    b = keys.select(F.col("term").alias("term_b"), "block_key")
    return (
        a.join(b, "block_key")
        .filter(F.col("term_a") < F.col("term_b"))
        .select(
            "term_a",
            "term_b",
            F.least(F.levenshtein("term_a", "term_b"), F.lit(3))
            .cast("int")
            .alias("distance"),
        )
    )


def q_eval_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed precision/recall/F1 (operators.metrics.bcubed) of the
    linkage clusters against GOLD entity identity. The synthetic corpus
    derives each conversation from exactly one base document ('c'/'d'/'e'
    prefix + doc_id), so the gold entity is substring(conv_id, 2) — ground
    truth the pipeline never sees. Clustering here runs at the STRICTER
    max_distance=1 threshold: the 2-edit 'e' variants fall out of their
    gold group unless bridged by a 'd' sibling (doc_id % 21), so recall is
    fractional by construction and the averaging math is exercised on both
    engines, not just the degenerate all-1.0 point."""
    ship_package(spark)
    matches1 = (
        q_score_pairs(spark, sf_dir)
        .filter(F.col("distance") <= 1)
        .select("id_a", "id_b")
    )
    entities = _canonical(spark, sf_dir).select("conv_id")
    pred = assign_clusters(entities, matches1)
    rec = pred.withColumn("gold_id", F.expr("substring(conv_id, 2)"))
    return bcubed(rec)


def q_eval_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-stage quality audit — the two numbers every blocking
    scheme is judged by in the ER literature: PAIRS COMPLETENESS (the
    fraction of true distance<=2 pairs that survive candidate
    generation; a blocking recall loss here is invisible to scoring) and
    REDUCTION RATIO (1 - candidates / C(n,2), how much of the quadratic
    pair space blocking prunes). eval_pairwise_f1 measures the pipeline
    end-to-end; this isolates the blocking stage so a recall regression
    can be attributed to keys vs kernel.

    Truth is the same length-banded brute-force scan as eval_pairwise_f1
    (equi-join on exploded target length, no cross join); everything
    else is counts — the candidate set is never joined to texts."""
    ship_package(spark)
    canon = _canonical(spark, sf_dir).select("conv_id", "fingerprint", "fp_len")
    truth = (
        banded_truth_pairs(canon, 2, "standard")
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    cand = q_candidate_pairs(spark, sf_dir)
    caught = cand.join(truth, ["id_a", "id_b"], "left_semi")
    from .functions.text import gate_round4

    agg = (
        canon.agg(F.count("*").cast("bigint").alias("n_entities"))
        .crossJoin(truth.agg(F.count("*").cast("bigint").alias("n_true")))
        .crossJoin(cand.agg(F.count("*").cast("bigint").alias("n_cand")))
        .crossJoin(caught.agg(F.count("*").cast("bigint").alias("n_caught")))
    )
    total = F.expr("n_entities * (n_entities - 1L) DIV 2")
    pc = F.when(F.col("n_true") == 0, F.lit(1.0)).otherwise(
        F.col("n_caught") / F.col("n_true"))
    rr = F.lit(1.0) - F.col("n_cand") / total
    return agg.select(
        "n_entities", "n_true", "n_cand", "n_caught",
        gate_round4(pc).alias("pairs_completeness"),
        gate_round4(rr).alias("reduction_ratio"),
    )


def q_eval_blocking_recall_sampled(spark: SparkSession, sf_dir: str,
                                   rate: float = TRUTH_SAMPLE_RATE) -> DataFrame:
    """Sampled-truth twin of `eval_blocking_recall` — the second of the two
    quadratic truth scans that must not run full at sf>=1. Same portable-md5
    entity sample ('truthsample' salt, shared with eval_pairwise_f1_sampled
    so one sample serves both audits): truth, candidate set, entity count,
    and C(n,2) denominator are ALL computed on the induced subgraph, so
    pairs_completeness and reduction_ratio are exact for the sample and
    consistent estimators of the full-corpus ratios (see
    q_eval_pairwise_f1_sampled for the variance notes)."""
    from .functions.text import gate_round4
    from .operators.sampling import sample_corpus

    canon = _canonical(spark, sf_dir).select("conv_id", "fingerprint", "fp_len")
    samp = sample_corpus(canon, rate, key_col="conv_id",
                         salt="truthsample").localCheckpoint(eager=False)
    truth = (
        banded_truth_pairs(samp, 2, "standard")
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    ids = samp.select("conv_id")
    cand = (
        q_candidate_pairs(spark, sf_dir)
        .join(ids.withColumnRenamed("conv_id", "id_a"), "id_a", "left_semi")
        .join(ids.withColumnRenamed("conv_id", "id_b"), "id_b", "left_semi")
    )
    caught = cand.join(truth, ["id_a", "id_b"], "left_semi")
    agg = (
        samp.agg(F.count("*").cast("bigint").alias("n_entities"))
        .crossJoin(truth.agg(F.count("*").cast("bigint").alias("n_true")))
        .crossJoin(cand.agg(F.count("*").cast("bigint").alias("n_cand")))
        .crossJoin(caught.agg(F.count("*").cast("bigint").alias("n_caught")))
    )
    total = F.col("n_entities").cast("double") * (F.col("n_entities") - 1) / 2
    pc = F.when(F.col("n_true") == 0, F.lit(1.0)).otherwise(
        F.col("n_caught") / F.col("n_true"))
    # n_entities <= 1 makes C(n,2) = 0: guard like the n_true == 0 guard
    # above (Spark non-ANSI division yields NULL, DuckDB IEEE yields -inf
    # — the engines would diverge on a degenerate-but-legal tiny sample)
    rr = F.when(F.col("n_entities") <= 1, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.col("n_cand") / total)
    return agg.select(
        "n_entities", "n_true", "n_cand", "n_caught",
        gate_round4(pc).alias("pairs_completeness"),
        gate_round4(rr).alias("reduction_ratio"),
    )


def q_clusters_multilevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested entity resolution at two strictness levels in one output:
    cluster_d1 (edges at distance<=1, near-certain merges) and cluster_d2
    (the pipeline's distance<=2 clusters). d1 clusters nest inside d2
    components by construction, so downstream consumers can pick a
    precision/recall point per use (dedup wants d1, recall-oriented
    linkage wants d2) without re-running the pipeline. Both levels are CC
    over the SAME scored pair set — the kernel pass is shared and the
    extra level costs only a second CC over an even sparser edge set."""
    ship_package(spark)
    scored = q_score_pairs(spark, sf_dir)
    entities = _canonical(spark, sf_dir).select("conv_id")
    strict = assign_clusters(
        entities, scored.filter(F.col("distance") <= 1).select("id_a", "id_b")
    ).withColumnRenamed("cluster_id", "cluster_d1")
    loose = q_clusters(spark, sf_dir).withColumnRenamed("cluster_id", "cluster_d2")
    return strict.join(loose, "conv_id")


def _fs_ents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity comparison fields for the Fellegi–Sunter entries."""
    return _canonical(spark, sf_dir).select(
        "conv_id", "n_turns", "fp_len",
        F.expr(f"substring(fingerprint, 1, {SIG_LEN})").alias("sig"),
    )


def _fs_attach(pairs: DataFrame, ents: DataFrame) -> DataFrame:
    ga = ents.select(F.col("conv_id").alias("id_a"),
                     F.col("n_turns").alias("nt_a"),
                     F.col("fp_len").alias("fl_a"),
                     F.col("sig").alias("sig_a"))
    gb = ents.select(F.col("conv_id").alias("id_b"),
                     F.col("n_turns").alias("nt_b"),
                     F.col("fp_len").alias("fl_b"),
                     F.col("sig").alias("sig_b"))
    return pairs.join(ga, "id_a").join(gb, "id_b")


def q_fs_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter model estimation (operators.metrics.fs_model) over
    three entity-field comparisons: n_turns equality, fp_len within-2
    agreement, sig-prefix equality. m comes from the pipeline's matched
    pairs (pseudo-labels), u from a deterministic offset pairing — rank
    entities by md5(conv_id) and pair rank r with rank r + N//2, a
    fixed 'random' pairing both engines reproduce exactly. At 10^12-turn
    scale u-estimation runs on a bounded hash-sample of entities first,
    so the rank window never sees the full table; everything after the
    gammas is two 1-row aggregates."""
    from .operators.metrics import fs_model

    ship_package(spark)
    ents = _fs_ents(spark, sf_dir).localCheckpoint(eager=False)

    def gammas(pairs: DataFrame) -> DataFrame:
        return _fs_attach(pairs, ents).select(
            (F.col("nt_a") == F.col("nt_b")).cast("long").alias("turns"),
            (F.abs(F.col("fl_a") - F.col("fl_b")) <= 2).cast("long").alias("len2"),
            (F.col("sig_a") == F.col("sig_b")).cast("long").alias("sig"),
        )
    from pyspark.sql import Window

    m_pairs = q_matches(spark, sf_dir).select("id_a", "id_b")
    rn = ents.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.md5("conv_id")))
    ).crossJoin(F.broadcast(ents.agg((F.count("*") / 2).cast("bigint").alias("half"))))
    u_pairs = (
        rn.filter(F.col("rn") <= F.col("half"))
        .select(F.col("conv_id").alias("id_a"), (F.col("rn") + F.col("half")).alias("_rn2"))
        .join(rn.select(F.col("conv_id").alias("id_b"), F.col("rn").alias("_rn2")), "_rn2")
        .select("id_a", "id_b")
    )
    return fs_model(gammas(m_pairs), gammas(u_pairs), ["turns", "len2", "sig"])


def q_candidate_pairs_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo) through the hard
    gate: entities sorted by (sig, conv_id), every pair within a width-4
    window emitted. The third blocking family beside key-equality
    (deletions/segments/q-grams) and LSH — candidate volume is linear in n
    and IMMUNE to key skew (a hot key contributes only window-adjacent
    pairs). The global rank is computed distributed (range partition +
    per-partition offsets, operators/ranking.py), never via a
    single-partition window; oracle recomputes with row_number."""
    from .operators.ranking import sorted_neighborhood_pairs

    ship_package(spark)
    ents = _canonical(spark, sf_dir).select(
        "conv_id", F.expr(f"substring(fingerprint, 1, {SIG_LEN})").alias("sig")
    )
    return sorted_neighborhood_pairs(ents, "sig", window=4)


def q_meta_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-blocking (Papadakis et al.): weight every candidate pair by
    how many blocking keys it co-occurs in (CBS — common blocks scheme)
    and prune single-key coincidences (cbs >= 2). At web scale this is
    the standard candidate-graph pruning pass between blocking and
    scoring: it cuts kernel work on exactly the pairs most likely to be
    false candidates, with one groupBy on the pair ids — no texts, no
    kernel."""
    ship_package(spark)
    keys = _sig_keys(spark, sf_dir)
    a = keys.select(F.col("conv_id").alias("_ida"), "block_key")
    b = keys.select(F.col("conv_id").alias("_idb"), "block_key")
    return (
        a.join(b, "block_key")
        .filter(F.col("_ida") < F.col("_idb"))
        .groupBy(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"))
        .agg(F.count("*").cast("bigint").alias("cbs"))
        .filter(F.col("cbs") >= 2)
    )


def q_review_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning review queue: the 20 candidate pairs whose total
    Fellegi–Sunter weight sits closest to the decision boundary (|w| -> 0)
    — the pairs a human labeler (or an LLM judge) should see first, the
    selection rule every ER product ships. Deterministic: the sort key is
    the exact integer |weight_1e4| with (id_a, id_b) tiebreak, planned as
    TakeOrderedAndProject (no global sort materializes)."""
    w = q_pair_weights(spark, sf_dir)
    return (
        w.withColumn("abs_w", F.abs(F.col("weight_1e4")))
        .orderBy("abs_w", "id_a", "id_b")
        .limit(20)
        .select("id_a", "id_b", "weight_1e4", "abs_w")
    )


def q_pair_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FS scoring composed end-to-end: every candidate pair gets its total
    Fellegi–Sunter match weight — the sum over fields of w_agree when the
    field agrees, w_disagree when it doesn't, from the fs_model estimates.
    Weights ride as INTEGER ten-thousandths so the per-pair sum is
    order-free (float summation order differs between engines at ulp
    level; integer sums cannot). Scale shape: the per-field weights are
    pivoted into ONE broadcast row and the total weight is a pure
    projection over the attached pair stream — zero shuffle beyond the
    attach joins (no explode, no re-aggregation on pair ids); in
    production the weight threshold replaces (or gates) the kernel's
    distance threshold for fields the kernel can't see."""
    ship_package(spark)
    ents = _fs_ents(spark, sf_dir)
    model = q_fs_model(spark, sf_dir).select(
        "field",
        F.round(F.col("w_agree") * 10000).cast("bigint").alias("wa"),
        F.round(F.col("w_disagree") * 10000).cast("bigint").alias("wd"),
    )
    def pick(side: str, field: str):
        return F.max(F.when(F.col("field") == field, F.col(side)))
    wide = model.agg(*[
        pick(side, f).alias(f"{side}_{f}")
        for f in ("turns", "len2", "sig") for side in ("wa", "wd")
    ])
    pairs = q_candidate_pairs(spark, sf_dir)
    weight = (
        F.when(F.col("nt_a") == F.col("nt_b"), F.col("wa_turns")).otherwise(F.col("wd_turns"))
        + F.when(F.abs(F.col("fl_a") - F.col("fl_b")) <= 2, F.col("wa_len2")).otherwise(F.col("wd_len2"))
        + F.when(F.col("sig_a") == F.col("sig_b"), F.col("wa_sig")).otherwise(F.col("wd_sig"))
    )
    return (
        _fs_attach(pairs, ents)
        .crossJoin(F.broadcast(wide))
        .select("id_a", "id_b", weight.cast("bigint").alias("weight_1e4"))
    )


def q_eval_rand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(Adjusted) Rand index + exact pair-level confusion counts
    (operators.metrics.rand_stats) of the distance<=1 clusters against
    gold identity — same strict threshold as eval_bcubed so the pair
    counts are non-degenerate (fp=0 but fn>0 from the dropped 2-edit
    variants). The four pair counts are exact bigints derived from
    C(n,2) sums over the contingency table, so the gate compares
    integers; rand_index/adjusted_rand are the only float emissions."""
    ship_package(spark)
    matches1 = (
        q_score_pairs(spark, sf_dir)
        .filter(F.col("distance") <= 1)
        .select("id_a", "id_b")
    )
    entities = _canonical(spark, sf_dir).select("conv_id")
    pred = assign_clusters(entities, matches1)
    rec = pred.withColumn("gold_id", F.expr("substring(conv_id, 2)"))
    return rand_stats(rec)


def _sig_block_keys(canon: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Sig-prefix deletion blocking (the scheme of q_block_keys) as a
    streaming block_fn, so streaming and batch share one DuckDB oracle."""
    sig = canon.withColumn("sig", F.expr(f"substring(fingerprint, 1, {SIG_LEN})"))
    keys = sig.select(
        "conv_id", F.explode(deletion_neighborhood("sig", 1)).alias("block_key")
    ).distinct()
    return keys, keys


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect) — keep names/aliases in lockstep with the
# Spark callables above; the driver sorts columns by name and hashes values.
# ---------------------------------------------------------------------------

# Shared oracle fragments: the blocking-free banded truth pair set and the
# star-assignment CTE chain (parameterized by the edge CTE) — single source
# so engine-vs-oracle fixes cannot silently diverge across entries.
_DUCK_TRUTH = """truth AS (
  SELECT ca.conv_id AS id_a, cb.conv_id AS id_b
  FROM canonical2 ca JOIN canonical2 cb
    ON ca.conv_id < cb.conv_id AND abs(ca.fp_len - cb.fp_len) <= 2
  WHERE levenshtein(ca.fingerprint, cb.fingerprint) <= 2
)"""


def _duck_star(matches_cte: str) -> str:
    return """sym AS (
  SELECT id_a AS src, id_b AS dst FROM {m}
  UNION ALL SELECT id_b, id_a FROM {m}
),
min_nb AS (SELECT src, min(dst) AS min_nb FROM sym GROUP BY src),
centers AS (
  SELECT c.conv_id FROM canonical2 c LEFT JOIN min_nb m ON m.src = c.conv_id
  WHERE m.min_nb IS NULL OR m.min_nb > c.conv_id
),
center_nb AS (
  SELECT e.src, min(e.dst) AS star_nb
  FROM sym e JOIN centers ct ON ct.conv_id = e.dst
  GROUP BY e.src
)""".replace("{m}", matches_cte)


LINKAGE_ORACLES: dict[str, str] = {
    "transcripts": DUCK_TRANSCRIPTS + "SELECT conv_id, turn_idx, role, text, tool FROM transcripts",
    "canonicalize": DUCK_TRANSCRIPTS + "SELECT conv_id, n_turns, fingerprint, fp_len FROM canonical2",
    "block_keys": DUCK_TRANSCRIPTS + "SELECT conv_id, block_key FROM sig_keys",
    "block_keys_qgram": """
SELECT DISTINCT doc_id,
       CASE WHEN length(text) < 3 THEN '0|' || text
            ELSE CAST(CAST((p - 1) // 8 AS INT) AS VARCHAR) || '|' || substring(text, CAST(p AS INT), 3)
       END AS block_key
FROM (
  SELECT doc_id, text,
         unnest(range(1, greatest(length(text) - 1, 2))) AS p
  FROM documents
)
WHERE length(text) >= 3 OR p = 1""",
    "block_metrics": DUCK_TRANSCRIPTS + (
        "SELECT block_key, CAST(count(*) AS INT) AS n_records FROM sig_keys "
        "GROUP BY block_key HAVING count(*) > 1"
    ),
    "candidate_pairs": DUCK_TRANSCRIPTS + "SELECT id_a, id_b FROM cand_pairs",
    "candidate_pairs_salted": DUCK_TRANSCRIPTS + "SELECT id_a, id_b FROM cand_pairs",
    "score_pairs": DUCK_TRANSCRIPTS + "SELECT id_a, id_b, distance FROM scored",
    "score_distribution": DUCK_TRANSCRIPTS
    + "SELECT distance, CAST(count(*) AS BIGINT) AS n_pairs FROM scored GROUP BY distance",
    "scored_resume": DUCK_TRANSCRIPTS + "SELECT id_a, id_b, distance FROM scored",
    "similarity": DUCK_TRANSCRIPTS + """
SELECT s.id_a, s.id_b, s.distance,
       round(CASE WHEN greatest(ca.fp_len, cb.fp_len) = 0 THEN 1.0
             ELSE 1.0 - CAST(s.distance AS DOUBLE) / greatest(ca.fp_len, cb.fp_len)
             END + 0.000000001, 4) AS similarity
FROM scored s
JOIN canonical2 ca ON ca.conv_id = s.id_a
JOIN canonical2 cb ON cb.conv_id = s.id_b""",
    "matches": DUCK_TRANSCRIPTS + "SELECT id_a, id_b, distance FROM matches",
    "clusters": DUCK_TRANSCRIPTS + """,
nodes AS (SELECT conv_id FROM canonical2),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM matches
  UNION ALL SELECT id_b, id_a FROM matches
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM nodes
    UNION
    SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node
  ) SELECT * FROM r
)
SELECT node AS conv_id, min(root) AS cluster_id FROM reach GROUP BY node""",
    "cluster_stats": DUCK_TRANSCRIPTS + """,
nodes AS (SELECT conv_id FROM canonical2),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM matches
  UNION ALL SELECT id_b, id_a FROM matches
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM nodes
    UNION
    SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node
  ) SELECT * FROM r
),
assign AS (
  SELECT node AS conv_id, min(root) AS cluster_id FROM reach GROUP BY node
),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS INT) AS size FROM assign GROUP BY cluster_id
)
SELECT size, CAST(count(*) AS BIGINT) AS n_clusters FROM sizes GROUP BY size""",
    "cluster_canonical": DUCK_TRANSCRIPTS + """,
nodes AS (SELECT conv_id FROM canonical2),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM matches
  UNION ALL SELECT id_b, id_a FROM matches
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM nodes
    UNION
    SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node
  ) SELECT * FROM r
),
assign AS (
  SELECT node AS conv_id, min(root) AS cluster_id FROM reach GROUP BY node
)
SELECT a.cluster_id,
       CAST(count(*) AS INT) AS n_members,
       min(a.conv_id) AS rep_conv,
       CAST(sum(c.n_turns) AS BIGINT) AS total_turns,
       CAST(max(c.fp_len) AS INT) AS max_fp_len
FROM assign a JOIN canonical2 c ON c.conv_id = a.conv_id
GROUP BY a.cluster_id""",
    "golden_records": DUCK_TRANSCRIPTS + """,
nodes AS (SELECT conv_id FROM canonical2),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM matches
  UNION ALL SELECT id_b, id_a FROM matches
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM nodes
    UNION
    SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node
  ) SELECT * FROM r
),
assign AS (
  SELECT node AS conv_id, min(root) AS cluster_id FROM reach GROUP BY node
),
ents AS (
  SELECT a.cluster_id, c.conv_id, c.n_turns, c.fingerprint, c.fp_len,
         substring(c.fingerprint, 1, 8) AS prefix8
  FROM assign a JOIN canonical2 c ON c.conv_id = a.conv_id
),
base AS (
  SELECT cluster_id, CAST(count(*) AS INT) AS n_members, min(conv_id) AS rep,
         CAST(sum(n_turns) AS BIGINT) AS n_turns_sum,
         CAST(max(n_turns) AS INT) AS n_turns_max
  FROM ents GROUP BY cluster_id
),
surv AS (
  SELECT cluster_id, fp_len AS survivor_len, conv_id AS survivor_src,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY fp_len DESC, conv_id ASC) AS r
  FROM ents
),
md AS (
  -- NULL values never win the mode (engine filters isNotNull before
  -- counting), and an all-NULL cluster still emits a row (LEFT JOIN below)
  SELECT cluster_id, prefix8 AS prefix8_mode,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY count(*) DESC, prefix8 ASC) AS r
  FROM ents WHERE prefix8 IS NOT NULL GROUP BY cluster_id, prefix8
)
SELECT b.cluster_id, b.n_members, b.rep, s.survivor_len, s.survivor_src,
       m.prefix8_mode, b.n_turns_sum, b.n_turns_max
FROM base b
JOIN surv s ON s.cluster_id = b.cluster_id AND s.r = 1
LEFT JOIN md m ON m.cluster_id = b.cluster_id AND m.r = 1""",
    "stable_entity_ids": DUCK_TRANSCRIPTS + """,
split AS (
  SELECT id_a, id_b,
         substring(md5(id_a || '|' || id_b), 1, 1) < '8' AS is_hist
  FROM matches
),
edges_h AS (
  SELECT id_a AS src, id_b AS dst FROM split WHERE is_hist
  UNION ALL SELECT id_b, id_a FROM split WHERE is_hist
),
reach_h AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM canonical2
    UNION
    SELECT e.dst, r.root FROM r JOIN edges_h e ON e.src = r.node
  ) SELECT * FROM r
),
prev AS (
  SELECT node AS conv_id, 'ent:' || min(root) AS entity_id
  FROM reach_h GROUP BY node
),
edges_f AS (
  SELECT id_a AS src, id_b AS dst FROM matches
  UNION ALL SELECT id_b, id_a FROM matches
),
reach_f AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM canonical2
    UNION
    SELECT e.dst, r.root FROM r JOIN edges_f e ON e.src = r.node
  ) SELECT * FROM r
),
curr AS (
  SELECT node AS conv_id, min(root) AS cluster_id FROM reach_f GROUP BY node
),
overlap AS (
  SELECT c.cluster_id, p.entity_id, count(*) AS n
  FROM curr c JOIN prev p ON p.conv_id = c.conv_id
  GROUP BY c.cluster_id, p.entity_id
),
ranked AS (
  SELECT cluster_id, entity_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n DESC, entity_id ASC) AS rc,
         row_number() OVER (PARTITION BY entity_id
                            ORDER BY n DESC, cluster_id ASC) AS re
  FROM overlap
),
carried AS (SELECT cluster_id, entity_id FROM ranked WHERE rc = 1 AND re = 1)
SELECT c.conv_id, c.cluster_id,
       coalesce(k.entity_id, 'new:' || c.cluster_id) AS entity_id,
       CAST(k.entity_id IS NOT NULL AS INT) AS carried
FROM curr c LEFT JOIN carried k ON k.cluster_id = c.cluster_id""",
    "topk_candidates": DUCK_TRANSCRIPTS + """
SELECT query_id, candidate, distance, rank FROM (
  SELECT id_a AS query_id, id_b AS candidate, distance,
         CAST(row_number() OVER (PARTITION BY id_a ORDER BY distance ASC, id_b ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= 2""",
    "transduce_standard": DUCK_WORDS + """
SELECT q.query_id, q.query_term, d.term AS candidate,
       CAST(levenshtein(q.query_term, d.term) AS INT) AS distance
FROM queries q CROSS JOIN dict d
WHERE levenshtein(q.query_term, d.term) <= 1""",
    # restricted variants: DuckDB has no restricted damerau / merge-split
    # function, so the oracle is an edit-lattice BFS (recursive CTE) that
    # mirrors kernels/oracles.py move-for-move — see _bfs_transduce_sql.
    "transduce_transposition": _bfs_transduce_sql(2, "transposition"),
    "transduce_merge_split": _bfs_transduce_sql(1, "merge_and_split"),
    "transduce_per_query_n": DUCK_WORDS + """
, nq AS (
  SELECT query_id, query_term, CAST(length(query_term) % 3 AS INT) AS n
  FROM queries
)
SELECT q.query_id, q.query_term, q.n, d.term AS candidate,
       CAST(levenshtein(q.query_term, d.term) AS INT) AS distance
FROM nq q CROSS JOIN dict d
WHERE levenshtein(q.query_term, d.term) <= q.n""",
    "dictionary_roundtrip": DUCK_WORDS + "SELECT term FROM dict",
    "dictionary_binary_roundtrip": DUCK_WORDS + "SELECT term FROM dict",
    "spell_suggest": DUCK_WORDS + """
SELECT query_id, candidate, distance, rank FROM (
  SELECT q.query_id, d.term AS candidate,
         CAST(levenshtein(q.query_term, d.term) AS INT) AS distance,
         CAST(row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY levenshtein(q.query_term, d.term) ASC, d.term ASC) AS INT) AS rank
  FROM queries q CROSS JOIN dict d
  WHERE levenshtein(q.query_term, d.term) <= 2
) WHERE rank <= 3""",
    "ledger_lineage": DUCK_TRANSCRIPTS + """,
bucketed AS (
  SELECT CAST(CAST(('0x' || substring(md5(id_a || '|' || id_b), 1, 15)) AS BIGINT) % 16 AS INT) AS bucket,
         distance
  FROM scored
),
agg AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN distance <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
  FROM bucketed GROUP BY bucket
),
all_buckets AS (
  SELECT CAST(unnest(range(0, 16)) AS INT) AS bucket
)
SELECT b.bucket,
       coalesce(a.n_pairs, 0) AS n_pairs,
       coalesce(a.n_matches, 0) AS n_matches,
       CAST(b.bucket % 4 AS INT) AS wave
FROM all_buckets b LEFT JOIN agg a USING (bucket)""",
    "similarity_jw": DUCK_WORDS + """
SELECT query_id, candidate, jw, rank FROM (
  SELECT q.query_id, d.term AS candidate,
         round(jaro_winkler_similarity(q.query_term, d.term) + 0.000000001, 4) AS jw,
         CAST(row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY round(jaro_winkler_similarity(q.query_term, d.term) + 0.000000001, 4) DESC,
                    d.term ASC) AS INT) AS rank
  FROM queries q CROSS JOIN dict d
  WHERE levenshtein(q.query_term, d.term) <= 2
) WHERE rank <= 3""",
    "stream_linkage_matches": DUCK_TRANSCRIPTS + "SELECT id_a, id_b, distance FROM matches",
    "eval_pairwise_f1": DUCK_TRANSCRIPTS + """
, """ + _DUCK_TRUTH + """,
conf AS (
  SELECT
    CAST(coalesce(sum(CASE WHEN t.id_a IS NOT NULL AND m.id_a IS NOT NULL THEN 1 END), 0) AS BIGINT) AS tp,
    CAST(coalesce(sum(CASE WHEN t.id_a IS NULL THEN 1 END), 0) AS BIGINT) AS fp,
    CAST(coalesce(sum(CASE WHEN m.id_a IS NULL THEN 1 END), 0) AS BIGINT) AS fn
  FROM truth t FULL OUTER JOIN matches m
    ON t.id_a = m.id_a AND t.id_b = m.id_b
)
SELECT tp, fp, fn,
  CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE floor(10000.0 * tp / (tp + fp) + 0.5) END AS BIGINT) AS precision_1e4,
  CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE floor(10000.0 * tp / (tp + fn) + 0.5) END AS BIGINT) AS recall_1e4,
  CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE floor(10000.0 * 2 * tp / (2 * tp + fp + fn) + 0.5) END AS BIGINT) AS f1_1e4
FROM conf""",
}

# Incremental folding is a physical re-plan of CC, not a semantic change:
# the gate is exact equality with full-history clustering.
LINKAGE_ORACLES["clusters_incremental"] = LINKAGE_ORACLES["clusters"]

# Sampled-truth eval: the portable-md5 entity sample (rate 0.25 -> bucket
# < 2500 of 10000, same hash family as corpus_sample) induces the pair
# subgraph on BOTH the truth scan and the prediction stream. The
# (samp, struth) fragment is a module constant shared by both sampled
# oracles — single source, and the gate stages it once per session the way
# it stages _DUCK_TRUTH (the struth scan is the rate^2-cut brute force;
# at sf1 it is still ~20 min of DuckDB, paid once instead of per entry).
_DUCK_SAMPLED_TRUTH = """samp AS MATERIALIZED (
  SELECT * FROM canonical2
  WHERE CAST(('0x' || substring(md5('truthsample' || '|' || conv_id), 1, 15)) AS BIGINT) % 10000 < 2500
),
struth AS MATERIALIZED (
  SELECT ca.conv_id AS id_a, cb.conv_id AS id_b
  FROM samp ca JOIN samp cb
    ON ca.conv_id < cb.conv_id AND abs(ca.fp_len - cb.fp_len) <= 2
  WHERE levenshtein(ca.fingerprint, cb.fingerprint) <= 2
)"""

LINKAGE_ORACLES["eval_pairwise_f1_sampled"] = DUCK_TRANSCRIPTS + """
, """ + _DUCK_SAMPLED_TRUTH + """,
spreds AS (
  SELECT m.id_a, m.id_b FROM matches m
  JOIN samp a ON a.conv_id = m.id_a
  JOIN samp b ON b.conv_id = m.id_b
),
conf AS (
  SELECT
    CAST(coalesce(sum(CASE WHEN t.id_a IS NOT NULL AND m.id_a IS NOT NULL THEN 1 END), 0) AS BIGINT) AS tp,
    CAST(coalesce(sum(CASE WHEN t.id_a IS NULL THEN 1 END), 0) AS BIGINT) AS fp,
    CAST(coalesce(sum(CASE WHEN m.id_a IS NULL THEN 1 END), 0) AS BIGINT) AS fn
  FROM struth t FULL OUTER JOIN spreds m
    ON t.id_a = m.id_a AND t.id_b = m.id_b
)
SELECT tp, fp, fn,
  CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE floor(10000.0 * tp / (tp + fp) + 0.5) END AS BIGINT) AS precision_1e4,
  CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE floor(10000.0 * tp / (tp + fn) + 0.5) END AS BIGINT) AS recall_1e4,
  CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE floor(10000.0 * 2 * tp / (2 * tp + fp + fn) + 0.5) END AS BIGINT) AS f1_1e4
FROM conf"""

# Sampled blocking audit: same entity sample as eval_pairwise_f1_sampled;
# truth, candidates, n and the C(n,2) denominator all on the induced
# subgraph.
LINKAGE_ORACLES["eval_blocking_recall_sampled"] = DUCK_TRANSCRIPTS + """
, """ + _DUCK_SAMPLED_TRUTH + """,
scand AS MATERIALIZED (
  SELECT c.id_a, c.id_b FROM cand_pairs c
  JOIN samp a ON a.conv_id = c.id_a
  JOIN samp b ON b.conv_id = c.id_b
),
agg AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM samp) AS n_entities,
    (SELECT CAST(count(*) AS BIGINT) FROM struth) AS n_true,
    (SELECT CAST(count(*) AS BIGINT) FROM scand) AS n_cand,
    (SELECT CAST(count(*) AS BIGINT)
     FROM scand c JOIN struth t ON c.id_a = t.id_a AND c.id_b = t.id_b
    ) AS n_caught
)
SELECT n_entities, n_true, n_cand, n_caught,
       round(CASE WHEN n_true = 0 THEN 1.0
                  ELSE CAST(n_caught AS DOUBLE) / n_true
             END + 0.000000001, 4) AS pairs_completeness,
       round(CASE WHEN n_entities <= 1 THEN 1.0
                  ELSE 1.0 - CAST(n_cand AS DOUBLE) / (CAST(n_entities AS DOUBLE) * (n_entities - 1) / 2)
             END + 0.000000001, 4) AS reduction_ratio
FROM agg"""

# Shared oracle scaffold for the extrinsic clustering metrics: CC over the
# STRICT (distance<=1) match set, gold entity = substring(conv_id, 2), then
# the (cluster, gold) contingency table `cg` both metrics decompose over.
_GOLD_CONTINGENCY = DUCK_TRANSCRIPTS + """,
matches1 AS (SELECT id_a, id_b FROM scored WHERE distance <= 1),
nodes AS (SELECT conv_id FROM canonical2),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM matches1
  UNION ALL SELECT id_b, id_a FROM matches1
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM nodes
    UNION
    SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node
  ) SELECT * FROM r
),
assign AS (
  SELECT node AS conv_id, min(root) AS cluster_id FROM reach GROUP BY node
),
rec AS (
  SELECT conv_id, cluster_id, substring(conv_id, 2) AS gold_id FROM assign
),
cg AS (
  SELECT cluster_id, gold_id, count(*) AS n_cg
  FROM rec GROUP BY cluster_id, gold_id
)"""

# B-cubed vs gold identity: same n_cg**2/n_c contingency decomposition as
# operators.metrics.bcubed, ulp-shifted rounding.
LINKAGE_ORACLES["eval_bcubed"] = _GOLD_CONTINGENCY + """,
cs AS (SELECT cluster_id, sum(n_cg) AS n_c FROM cg GROUP BY cluster_id),
gs AS (SELECT gold_id, sum(n_cg) AS n_g FROM cg GROUP BY gold_id),
pr AS (
  SELECT CAST(sum(n_cg) AS BIGINT) AS n_entities,
         sum(CAST(n_cg AS DOUBLE) * n_cg / n_c) AS sp,
         sum(CAST(n_cg AS DOUBLE) * n_cg / n_g) AS sr
  FROM cg JOIN cs USING (cluster_id) JOIN gs USING (gold_id)
),
fin AS (
  SELECT n_entities, sp / n_entities AS p, sr / n_entities AS r FROM pr
)
SELECT n_entities,
       round(p + 0.000000001, 4) AS bcubed_precision,
       round(r + 0.000000001, 4) AS bcubed_recall,
       round(CASE WHEN p + r = 0 THEN 0
                  ELSE 2 * p * r / (p + r) END + 0.000000001, 4) AS bcubed_f1
FROM fin"""

# Fellegi–Sunter model: m from matched pairs, u from the deterministic
# md5-rank offset pairing; weights in the exact fs_model expression order.
# Shared CTE scaffold up to `calc` so fs_model and pair_weights stay in
# lockstep.
_FS_CALC = DUCK_TRANSCRIPTS + """,
ents AS (SELECT conv_id, n_turns, fp_len, sig FROM canonical2),
mg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_m,
         CAST(sum(CASE WHEN a.n_turns = b.n_turns THEN 1 ELSE 0 END) AS BIGINT) AS ma_turns,
         CAST(sum(CASE WHEN abs(a.fp_len - b.fp_len) <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS ma_len2,
         CAST(sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS BIGINT) AS ma_sig
  FROM matches mm JOIN ents a ON a.conv_id = mm.id_a
  JOIN ents b ON b.conv_id = mm.id_b
),
rnk AS (SELECT conv_id, n_turns, fp_len, sig,
               row_number() OVER (ORDER BY md5(conv_id)) AS rn
        FROM ents),
nn AS (SELECT CAST(count(*) // 2 AS BIGINT) AS half FROM ents),
ug AS (
  SELECT CAST(count(*) AS BIGINT) AS n_u,
         CAST(sum(CASE WHEN a.n_turns = b.n_turns THEN 1 ELSE 0 END) AS BIGINT) AS ua_turns,
         CAST(sum(CASE WHEN abs(a.fp_len - b.fp_len) <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS ua_len2,
         CAST(sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS BIGINT) AS ua_sig
  FROM rnk a JOIN nn ON a.rn <= nn.half
  JOIN rnk b ON b.rn = a.rn + nn.half
),
stacked AS (
  SELECT 'turns' AS field, n_m, ma_turns AS m_agree, n_u, ua_turns AS u_agree FROM mg, ug
  UNION ALL SELECT 'len2', n_m, ma_len2, n_u, ua_len2 FROM mg, ug
  UNION ALL SELECT 'sig', n_m, ma_sig, n_u, ua_sig FROM mg, ug
),
calc AS (
  SELECT field, n_m, m_agree, n_u, u_agree,
         (m_agree + 1.0) / (n_m + 2.0) AS m,
         (u_agree + 1.0) / (n_u + 2.0) AS u
  FROM stacked
)"""

LINKAGE_ORACLES["fs_model"] = _FS_CALC + """
SELECT field, n_m, m_agree, n_u, u_agree,
       round(m + 0.000000001, 4) AS m,
       round(u + 0.000000001, 4) AS u,
       round(log2(m / u) + 0.000000001, 4) AS w_agree,
       round(log2((1.0 - m) / (1.0 - u)) + 0.000000001, 4) AS w_disagree
FROM calc"""

# Meta-blocking CBS weights over the deletion-key graph.
LINKAGE_ORACLES["meta_blocking"] = DUCK_TRANSCRIPTS + """
SELECT a.conv_id AS id_a, b.conv_id AS id_b,
       CAST(count(*) AS BIGINT) AS cbs
FROM sig_keys a JOIN sig_keys b ON a.block_key = b.block_key
WHERE a.conv_id < b.conv_id
GROUP BY a.conv_id, b.conv_id
HAVING count(*) >= 2"""

# Sorted-neighborhood blocking: rank by (sig, conv_id), pairs within the
# width-4 window. id_a is always the lower-ranked entity on both sides.
LINKAGE_ORACLES["candidate_pairs_snm"] = DUCK_TRANSCRIPTS + """,
rnk AS (
  SELECT conv_id, row_number() OVER (ORDER BY sig, conv_id) AS r
  FROM canonical2
)
SELECT a.conv_id AS id_a, b.conv_id AS id_b
FROM rnk a JOIN rnk b ON b.r > a.r AND b.r <= a.r + 3"""

# FS scoring composed end-to-end: integer ten-thousandth weights summed
# per candidate pair (integer sum = order-free, gate-exact).
LINKAGE_ORACLES["pair_weights"] = _FS_CALC + """,
model AS (
  SELECT field,
         CAST(round(round(log2(m / u) + 0.000000001, 4) * 10000) AS BIGINT) AS wa,
         CAST(round(round(log2((1.0 - m) / (1.0 - u)) + 0.000000001, 4) * 10000) AS BIGINT) AS wd
  FROM calc
),
pair_g AS (
  SELECT p.id_a, p.id_b, f.field,
         CASE f.field
           WHEN 'turns' THEN CASE WHEN a.n_turns = b.n_turns THEN 1 ELSE 0 END
           WHEN 'len2' THEN CASE WHEN abs(a.fp_len - b.fp_len) <= 2 THEN 1 ELSE 0 END
           ELSE CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END
         END AS agree
  FROM cand_pairs p
  JOIN ents a ON a.conv_id = p.id_a
  JOIN ents b ON b.conv_id = p.id_b
  CROSS JOIN (SELECT unnest(['turns', 'len2', 'sig']) AS field) f
)
SELECT g.id_a, g.id_b,
       CAST(sum(CASE WHEN g.agree = 1 THEN mo.wa ELSE mo.wd END) AS BIGINT) AS weight_1e4
FROM pair_g g JOIN model mo ON mo.field = g.field
GROUP BY g.id_a, g.id_b"""

# Review queue: exact-integer boundary distance, deterministic tiebreak.
LINKAGE_ORACLES["review_queue"] = LINKAGE_ORACLES["pair_weights"].replace(
    """SELECT g.id_a, g.id_b,
       CAST(sum(CASE WHEN g.agree = 1 THEN mo.wa ELSE mo.wd END) AS BIGINT) AS weight_1e4
FROM pair_g g JOIN model mo ON mo.field = g.field
GROUP BY g.id_a, g.id_b""",
    """, pw AS (
  SELECT g.id_a, g.id_b,
         CAST(sum(CASE WHEN g.agree = 1 THEN mo.wa ELSE mo.wd END) AS BIGINT) AS weight_1e4
  FROM pair_g g JOIN model mo ON mo.field = g.field
  GROUP BY g.id_a, g.id_b
)
SELECT id_a, id_b, weight_1e4, CAST(abs(weight_1e4) AS BIGINT) AS abs_w
FROM pw ORDER BY abs_w, id_a, id_b LIMIT 20""",
)

# Blocking-stage audit: same brute-force truth CTE as eval_pairwise_f1,
# counts over cand_pairs; float ratios via the gate_round4 convention.
LINKAGE_ORACLES["eval_blocking_recall"] = DUCK_TRANSCRIPTS + """
, """ + _DUCK_TRUTH + """,
agg AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM canonical2) AS n_entities,
    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
    (SELECT CAST(count(*) AS BIGINT) FROM cand_pairs) AS n_cand,
    (SELECT CAST(count(*) AS BIGINT)
     FROM cand_pairs c JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b
    ) AS n_caught
)
SELECT n_entities, n_true, n_cand, n_caught,
       round(CASE WHEN n_true = 0 THEN 1.0
                  ELSE CAST(n_caught AS DOUBLE) / n_true
             END + 0.000000001, 4) AS pairs_completeness,
       round(1.0 - CAST(n_cand AS DOUBLE) / (n_entities * (n_entities - 1) // 2)
             + 0.000000001, 4) AS reduction_ratio
FROM agg"""

# Threshold sweep: same banded truth CTE as eval_pairwise_f1, full-outer
# joined against the scored stream ONCE, then unnested over the threshold
# list — mirrors metrics.threshold_sweep's broadcast-cross-join plan.
LINKAGE_ORACLES["eval_threshold_sweep"] = DUCK_TRANSCRIPTS + """
, """ + _DUCK_TRUTH + """,
joined AS (
  SELECT (t.id_a IS NOT NULL) AS is_t, s.distance AS d
  FROM truth t FULL OUTER JOIN scored s ON t.id_a = s.id_a AND t.id_b = s.id_b
),
th AS (SELECT CAST(unnest([0, 1, 2, 3]) AS INT) AS threshold),
agg AS (
  SELECT threshold,
         CAST(coalesce(sum(CASE WHEN is_t AND d IS NOT NULL AND d <= threshold THEN 1 END), 0) AS BIGINT) AS tp,
         CAST(coalesce(sum(CASE WHEN NOT is_t AND d IS NOT NULL AND d <= threshold THEN 1 END), 0) AS BIGINT) AS fp,
         CAST(coalesce(sum(CASE WHEN is_t AND NOT (d IS NOT NULL AND d <= threshold) THEN 1 END), 0) AS BIGINT) AS fn
  FROM joined CROSS JOIN th GROUP BY threshold
)
SELECT threshold, tp, fp, fn,
  CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE floor(10000.0 * tp / (tp + fp) + 0.5) END AS BIGINT) AS precision_1e4,
  CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE floor(10000.0 * tp / (tp + fn) + 0.5) END AS BIGINT) AS recall_1e4,
  CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE floor(10000.0 * 2 * tp / (2 * tp + fp + fn) + 0.5) END AS BIGINT) AS f1_1e4
FROM agg"""

# TF-IDF cosine soft comparator: the exact smoothed-idf formula of
# comparators.tfidf_cosine_pairs (ln((N+1)/(df+1)) + 1), sparse dot product
# as an (id, token) equi-join from the candidate pairs; gate_round4 rounding.
def _duck_tfidf_sql(topk: int | None = None) -> str:
    """One source of truth for the TF-IDF oracle CTE chain; `topk` inserts
    the per-doc weight-vector truncation CTE (mirrors
    comparators.tfidf_cosine_pairs(topk_tokens=topk): rank on the
    4dp-ROUNDED weight DESC, token ASC — round-before-rank keeps the kept
    set identical across engines when weights differ by < 1 ulp)."""
    if topk is None:
        w_cte = """w AS MATERIALIZED (
  SELECT id, token, tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS w
  FROM tf JOIN dfreq USING (token) CROSS JOIN nd
),"""
    else:
        w_cte = f"""w0 AS MATERIALIZED (
  SELECT id, token, tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS w
  FROM tf JOIN dfreq USING (token) CROSS JOIN nd
),
w AS MATERIALIZED (
  SELECT id, token, w FROM (
    SELECT id, token, w,
           row_number() OVER (PARTITION BY id ORDER BY round(w, 4) DESC, token ASC) AS rk
    FROM w0
  ) WHERE rk <= {topk}
),"""
    return """
, toks AS MATERIALIZED (
  SELECT conv_id AS id,
         unnest(list_filter(regexp_split_to_array(replace(fingerprint, chr(30), ' '), '\\s+'), x -> x <> '')) AS token
  FROM canonical2
),
tf AS MATERIALIZED (SELECT id, token, CAST(count(*) AS DOUBLE) AS tf FROM toks GROUP BY id, token),
dfreq AS MATERIALIZED (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM canonical2),
""" + w_cte + """
norms AS MATERIALIZED (SELECT id, sqrt(sum(w * w)) AS norm FROM w GROUP BY id),
dots AS MATERIALIZED (
  SELECT p.id_a, p.id_b, sum(wa.w * wb.w) AS dot
  FROM cand_pairs p
  JOIN w wa ON wa.id = p.id_a
  JOIN w wb ON wb.id = p.id_b AND wb.token = wa.token
  GROUP BY p.id_a, p.id_b
),
cosv AS MATERIALIZED (
  SELECT p.id_a, p.id_b,
         round(CASE WHEN d.dot IS NULL THEN 0.0
                    ELSE d.dot / (na.norm * nb.norm) END + 0.000000001, 4) AS cosine
  FROM cand_pairs p
  LEFT JOIN dots d ON d.id_a = p.id_a AND d.id_b = p.id_b
  LEFT JOIN norms na ON na.id = p.id_a
  LEFT JOIN norms nb ON nb.id = p.id_b
)"""


_DUCK_TFIDF = _duck_tfidf_sql()

LINKAGE_ORACLES["similarity_tfidf"] = (
    DUCK_TRANSCRIPTS + _DUCK_TFIDF
    + "SELECT id_a, id_b, cosine FROM cosv"
)

# Top-K-truncated variant: per-doc weight vectors cut to the K=5 highest
# weights (round(w,4) DESC, token ASC tie-break) before norms/dots —
# mirrors comparators.tfidf_cosine_pairs(topk_tokens=5) exactly, via the
# same _duck_tfidf_sql template as the exact entry (one source of truth).
LINKAGE_ORACLES["similarity_tfidf_topk"] = (
    DUCK_TRANSCRIPTS + _duck_tfidf_sql(topk=5)
    + "SELECT id_a, id_b, cosine FROM cosv"
)

# Ensemble fusion: lev-similarity + sig-JW + tfidf cosine, each round4'd
# before the fixed-weight sum (0.5/0.2/0.3), over the scored pair stream.
LINKAGE_ORACLES["similarity_fused"] = DUCK_TRANSCRIPTS + _DUCK_TFIDF + """,
sims AS (
  SELECT s.id_a, s.id_b,
         round(CASE WHEN greatest(ca.fp_len, cb.fp_len) = 0 THEN 1.0
               ELSE 1.0 - CAST(s.distance AS DOUBLE) / greatest(ca.fp_len, cb.fp_len)
               END + 0.000000001, 4) AS sim_lev,
         round(jaro_winkler_similarity(ca.sig, cb.sig) + 0.000000001, 4) AS sim_jw
  FROM scored s
  JOIN canonical2 ca ON ca.conv_id = s.id_a
  JOIN canonical2 cb ON cb.conv_id = s.id_b
  WHERE s.distance <= 2
)
SELECT s.id_a, s.id_b, s.sim_lev, s.sim_jw, c.cosine AS sim_tfidf,
       round(0.5 * s.sim_lev + 0.2 * s.sim_jw + 0.3 * c.cosine + 0.000000001, 4) AS fused
FROM sims s JOIN cosv c ON c.id_a = s.id_a AND c.id_b = s.id_b"""

# Monge-Elkan with JW inner over first-turn tokens: inner JW rounds to 4dp
# BEFORE the max (same tie convention as similarity_jw's rank).
LINKAGE_ORACLES["similarity_me"] = DUCK_TRANSCRIPTS + f"""
, toks AS MATERIALIZED (
  SELECT DISTINCT conv_id AS id,
         unnest(list_filter(regexp_split_to_array(replace(substring(fingerprint, 1, {TURN_WIDTH}), chr(30), ' '), '\\s+'), x -> x <> '')) AS token
  FROM canonical2
),
crossed AS (
  SELECT p.id_a, p.id_b, a.token AS tok_a, b.token AS tok_b,
         round(jaro_winkler_similarity(a.token, b.token) + 0.000000001, 4) AS jw
  FROM cand_pairs p
  JOIN toks a ON a.id = p.id_a
  JOIN toks b ON b.id = p.id_b
),
ab AS (
  SELECT id_a, id_b, round(avg(best) + 0.000000001, 4) AS me_ab FROM (
    SELECT id_a, id_b, tok_a, max(jw) AS best FROM crossed GROUP BY id_a, id_b, tok_a
  ) GROUP BY id_a, id_b
),
ba AS (
  SELECT id_a, id_b, round(avg(best) + 0.000000001, 4) AS me_ba FROM (
    SELECT id_a, id_b, tok_b, max(jw) AS best FROM crossed GROUP BY id_a, id_b, tok_b
  ) GROUP BY id_a, id_b
)
SELECT p.id_a, p.id_b,
       round(CASE WHEN ab.me_ab IS NULL THEN 0.0
                  ELSE (ab.me_ab + ba.me_ba) / 2.0 END + 0.000000001, 4) AS me_sim
FROM cand_pairs p
LEFT JOIN ab ON ab.id_a = p.id_a AND ab.id_b = p.id_b
LEFT JOIN ba ON ba.id_a = p.id_a AND ba.id_b = p.id_b"""

# American Soundex in set-based SQL, mirroring Spark's UTF8String.soundex:
# letter->digit map with H/W coded 7 and dropped (transparent — same codes
# separated by H/W collapse), vowels coded 0 (kept through the collapse so
# they SEPARATE same codes, then stripped), adjacent equal codes collapse
# via an indexed list_filter (DuckDB's RE2 has no backreferences), first
# letter kept verbatim with its own code participating in the collapse.
_DUCK_SOUNDEX = """
pbase AS (
  SELECT DISTINCT term FROM (
    SELECT term FROM dict
    UNION ALL
    SELECT unnest(regexp_split_to_array(p_name, ' ')) FROM part
  ) WHERE regexp_matches(term, '^[a-z]+$')
),
alpha AS (
  SELECT DISTINCT term FROM (
    SELECT term FROM pbase UNION ALL SELECT term || 'a' FROM pbase
  )
),
sx1 AS (
  SELECT term, upper(term) AS up,
         translate(upper(term), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230127022455012623017202') AS codes
  FROM alpha
),
sx2 AS (
  SELECT term, up, codes,
         list_filter(regexp_split_to_array(codes, ''), c -> c <> '7') AS kept
  FROM sx1
),
sx3 AS (
  SELECT term, up, codes,
         coalesce(array_to_string(list_filter(kept, (c, i) -> i = 1 OR c <> kept[i - 1]), ''), '') AS coll
  FROM sx2
),
sx4 AS (
  SELECT term, up,
         CASE WHEN substring(codes, 1, 1) = '7' THEN coll ELSE substring(coll, 2) END AS tail
  FROM sx3
),
skeys AS (
  SELECT term,
         substring(up, 1, 1) || substring(replace(tail, '0', '') || '000', 1, 3) AS block_key
  FROM sx4
)
"""

LINKAGE_ORACLES["block_keys_phonetic"] = (
    DUCK_WORDS + ", " + _DUCK_SOUNDEX + "SELECT term, block_key FROM skeys"
)

LINKAGE_ORACLES["candidate_pairs_phonetic"] = DUCK_WORDS + ", " + _DUCK_SOUNDEX + """
SELECT a.term AS term_a, b.term AS term_b,
       CAST(least(levenshtein(a.term, b.term), 3) AS INT) AS distance
FROM skeys a JOIN skeys b ON a.block_key = b.block_key AND a.term < b.term"""

# Star clustering: centers = nodes with no smaller-id neighbor; members
# attach to their smallest center neighbor, else self. No recursion — the
# whole assignment is two aggregates and three joins, mirrored exactly.
LINKAGE_ORACLES["clusters_star"] = DUCK_TRANSCRIPTS + """
, """ + _duck_star("matches") + """
SELECT c.conv_id,
       CASE WHEN ct.conv_id IS NOT NULL THEN c.conv_id
            ELSE coalesce(cb.star_nb, c.conv_id) END AS star_id
FROM canonical2 c
LEFT JOIN centers ct ON ct.conv_id = c.conv_id
LEFT JOIN center_nb cb ON cb.src = c.conv_id"""

# B-cubed of star clustering on the strict (distance<=1) graph: the star
# assignment replaces eval_bcubed's recursive-CC reach, same contingency
# decomposition tail.
LINKAGE_ORACLES["eval_bcubed_star"] = DUCK_TRANSCRIPTS + """
, matches1 AS (SELECT id_a, id_b FROM scored WHERE distance <= 1),
""" + _duck_star("matches1") + """,
rec AS (
  SELECT c.conv_id,
         CASE WHEN ct.conv_id IS NOT NULL THEN c.conv_id
              ELSE coalesce(cb.star_nb, c.conv_id) END AS cluster_id,
         substring(c.conv_id, 2) AS gold_id
  FROM canonical2 c
  LEFT JOIN centers ct ON ct.conv_id = c.conv_id
  LEFT JOIN center_nb cb ON cb.src = c.conv_id
),
cg AS (
  SELECT cluster_id, gold_id, count(*) AS n_cg
  FROM rec GROUP BY cluster_id, gold_id
),
cs AS (SELECT cluster_id, sum(n_cg) AS n_c FROM cg GROUP BY cluster_id),
gs AS (SELECT gold_id, sum(n_cg) AS n_g FROM cg GROUP BY gold_id),
pr AS (
  SELECT CAST(sum(n_cg) AS BIGINT) AS n_entities,
         sum(CAST(n_cg AS DOUBLE) * n_cg / n_c) AS sp,
         sum(CAST(n_cg AS DOUBLE) * n_cg / n_g) AS sr
  FROM cg JOIN cs USING (cluster_id) JOIN gs USING (gold_id)
),
fin AS (
  SELECT n_entities, sp / n_entities AS p, sr / n_entities AS r FROM pr
)
SELECT n_entities,
       round(p + 0.000000001, 4) AS bcubed_precision,
       round(r + 0.000000001, 4) AS bcubed_recall,
       round(CASE WHEN p + r = 0 THEN 0
                  ELSE 2 * p * r / (p + r) END + 0.000000001, 4) AS bcubed_f1
FROM fin"""

# Blocking union with provenance: deletion sig keys (bit 1), positional
# sig q-grams (bit 2, mirroring functions.blocking.qgram_keys), width-4
# sorted neighborhood (bit 4); bitmask = sum over distinct-per-scheme pairs.
# The scheme CTE chain is shared with eval_scheme_quality.
_DUCK_SCHEMES = """
, qkeys_raw AS (
  SELECT DISTINCT conv_id, block_key FROM (
    SELECT conv_id,
           CASE WHEN length(sig) < 3 THEN '0|' || sig
                ELSE CAST(CAST(floor((p - 1) / 8) AS INT) AS VARCHAR) || '|' || substring(sig, CAST(p AS INT), 3)
           END AS block_key
    FROM (
      SELECT conv_id, sig,
             unnest(range(1, CASE WHEN length(sig) < 3 THEN 2 ELSE length(sig) - 1 END)) AS p
      FROM canonical2
    )
  )
),
qkeys AS (
  SELECT conv_id, block_key FROM qkeys_raw
  WHERE block_key IN (
    SELECT block_key FROM qkeys_raw GROUP BY block_key HAVING count(*) <= 64
  )
),
qpairs AS (
  SELECT DISTINCT least(a.conv_id, b.conv_id) AS id_a,
                  greatest(a.conv_id, b.conv_id) AS id_b
  FROM qkeys a JOIN qkeys b ON a.block_key = b.block_key AND a.conv_id < b.conv_id
),
rnk AS (
  SELECT conv_id, row_number() OVER (ORDER BY sig, conv_id) AS r
  FROM canonical2
),
spairs AS (
  SELECT DISTINCT least(a.conv_id, b.conv_id) AS id_a,
                  greatest(a.conv_id, b.conv_id) AS id_b
  FROM rnk a JOIN rnk b ON b.r > a.r AND b.r <= a.r + 3
),
uni AS (
  SELECT id_a, id_b, 1 AS scheme FROM cand_pairs
  UNION ALL SELECT id_a, id_b, 2 FROM qpairs
  UNION ALL SELECT id_a, id_b, 4 FROM spairs
)"""

LINKAGE_ORACLES["candidate_pairs_union"] = DUCK_TRANSCRIPTS + _DUCK_SCHEMES + """
SELECT id_a, id_b, CAST(sum(scheme) AS INT) AS schemes,
       CAST(count(*) AS INT) AS n_schemes
FROM uni GROUP BY id_a, id_b"""

# Match explainability: the scheme-tagged pair stream named and rolled up
# per pair, left-joined onto the accepted matches (left join: a match no
# scheme proposed would surface as schemes='' — a blocking-recall hole).
LINKAGE_ORACLES["match_provenance"] = DUCK_TRANSCRIPTS + _DUCK_SCHEMES + f""",
named AS (
  SELECT id_a, id_b, {_scheme_name_sql()} AS scheme
  FROM uni
),
per_pair AS (
  SELECT id_a, id_b,
         string_agg(DISTINCT scheme, ',' ORDER BY scheme) AS schemes,
         CAST(count(DISTINCT scheme) AS INT) AS n_schemes
  FROM named GROUP BY id_a, id_b
)
SELECT m.id_a, m.id_b, m.distance,
       coalesce(p.schemes, '') AS schemes,
       coalesce(p.n_schemes, 0) AS n_schemes
FROM matches m LEFT JOIN per_pair p ON p.id_a = m.id_a AND p.id_b = m.id_b"""

# Per-scheme blocking quality: the union's scheme-tagged pair stream left-
# joined against the banded truth, one agg by scheme; same completeness /
# reduction-ratio encoding as eval_blocking_recall.
LINKAGE_ORACLES["eval_scheme_quality"] = DUCK_TRANSCRIPTS + _DUCK_SCHEMES + """,
""" + _DUCK_TRUTH + """,
consts AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM canonical2) AS n_entities,
         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true
),
agg AS (
  SELECT u.scheme,
         CAST(count(*) AS BIGINT) AS n_cand,
         CAST(coalesce(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_caught
  FROM uni u LEFT JOIN truth t ON t.id_a = u.id_a AND t.id_b = u.id_b
  GROUP BY u.scheme
)
SELECT scheme, n_cand, n_caught,
       round(CASE WHEN n_true = 0 THEN 1.0
                  ELSE CAST(n_caught AS DOUBLE) / n_true END + 0.000000001, 4) AS pairs_completeness,
       round(1.0 - CAST(n_cand AS DOUBLE) / (CAST(n_entities AS DOUBLE) * (n_entities - 1) / 2)
             + 0.000000001, 4) AS reduction_ratio
FROM agg CROSS JOIN consts
ORDER BY scheme"""

# Two-level nested clustering: two recursive reach CTEs over the strict
# (distance<=1) and pipeline (distance<=2) edge sets.
LINKAGE_ORACLES["clusters_multilevel"] = DUCK_TRANSCRIPTS + """,
matches1 AS (SELECT id_a, id_b FROM scored WHERE distance <= 1),
edges1 AS (
  SELECT id_a AS src, id_b AS dst FROM matches1
  UNION ALL SELECT id_b, id_a FROM matches1
),
reach1 AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM canonical2
    UNION
    SELECT e.dst, r.root FROM r JOIN edges1 e ON e.src = r.node
  ) SELECT * FROM r
),
assign1 AS (
  SELECT node AS conv_id, min(root) AS cluster_d1 FROM reach1 GROUP BY node
),
edges2 AS (
  SELECT id_a AS src, id_b AS dst FROM matches
  UNION ALL SELECT id_b, id_a FROM matches
),
reach2 AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM canonical2
    UNION
    SELECT e.dst, r.root FROM r JOIN edges2 e ON e.src = r.node
  ) SELECT * FROM r
),
assign2 AS (
  SELECT node AS conv_id, min(root) AS cluster_d2 FROM reach2 GROUP BY node
)
SELECT a1.conv_id, a1.cluster_d1, a2.cluster_d2
FROM assign1 a1 JOIN assign2 a2 ON a1.conv_id = a2.conv_id"""

# Rand / adjusted-Rand vs gold identity: C(n,2) sums over the same
# contingency table; integer pair counts, float ratios in the exact
# expression order of operators.metrics.rand_stats.
LINKAGE_ORACLES["eval_rand"] = _GOLD_CONTINGENCY + """,
tp_row AS (
  SELECT CAST(sum(n_cg) AS BIGINT) AS n,
         CAST(sum(n_cg * (n_cg - 1) // 2) AS BIGINT) AS tp
  FROM cg
),
c_row AS (
  SELECT CAST(sum(n_c * (n_c - 1) // 2) AS BIGINT) AS sum_c
  FROM (SELECT cluster_id, sum(n_cg) AS n_c FROM cg GROUP BY cluster_id)
),
g_row AS (
  SELECT CAST(sum(n_g * (n_g - 1) // 2) AS BIGINT) AS sum_g
  FROM (SELECT gold_id, sum(n_cg) AS n_g FROM cg GROUP BY gold_id)
),
row0 AS (
  SELECT n, tp, sum_c, sum_g, n * (n - 1) // 2 AS total
  FROM tp_row, c_row, g_row
),
fin AS (
  SELECT n, tp,
         sum_c - tp AS fp,
         sum_g - tp AS fn,
         total - sum_c - sum_g + tp AS tn,
         CASE WHEN total = 0 THEN 1.0
              ELSE CAST(tp + (total - sum_c - sum_g + tp) AS DOUBLE) / total
         END AS ri,
         CAST(sum_c AS DOUBLE) * sum_g / total AS expected,
         (sum_c + sum_g) / 2.0 AS max_index
  FROM row0
)
SELECT n AS n_entities,
       tp AS pair_tp,
       CAST(fp AS BIGINT) AS pair_fp,
       CAST(fn AS BIGINT) AS pair_fn,
       CAST(tn AS BIGINT) AS pair_tn,
       round(ri + 0.000000001, 4) AS rand_index,
       round(CASE WHEN max_index - expected = 0 THEN 1.0
                  ELSE (tp - expected) / (max_index - expected)
             END + 0.000000001, 4) AS adjusted_rand
FROM fin"""

# Leakage-safe split: extend the clusters oracle's CTE chain with the same
# portable-md5 bucket keyed off cluster_id (thresholds derived from
# SPLIT_FRACTIONS so both sides compare identical integers).
SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
_T1 = int(round(SPLIT_FRACTIONS["train"] * 10000))
_T2 = _T1 + int(round(SPLIT_FRACTIONS["val"] * 10000))
LINKAGE_ORACLES["cluster_split"] = LINKAGE_ORACLES["clusters"].replace(
    "SELECT node AS conv_id, min(root) AS cluster_id FROM reach GROUP BY node",
    f""", assign AS (
  SELECT node AS conv_id, min(root) AS cluster_id FROM reach GROUP BY node
), bkt AS (
  SELECT conv_id, cluster_id,
         CAST(('0x' || substring(md5('split' || '|' || cluster_id), 1, 15)) AS BIGINT) % 10000 AS b
  FROM assign
)
SELECT conv_id, cluster_id,
       CASE WHEN b < {_T1} THEN 'train'
            WHEN b < {_T2} THEN 'val'
            ELSE 'test' END AS split
FROM bkt""",
)

def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split over the linkage clusters: the
    split bucket is hashed from cluster_id (sampling.split_assign), so
    near-duplicate conversations — members of the same entity cluster —
    can never straddle the train/eval boundary. The decontamination guard
    a 10^12-turn corpus needs between linkage and training."""
    from .operators.sampling import split_assign

    return split_assign(q_clusters(spark, sf_dir), SPLIT_FRACTIONS)


# Shared oracle fragment for the graph-audit entries: noisy match graph
# (matches + planted bridges), adjacency, per-edge triangle support, and the
# baseline CC assignment over the noisy edges. Keep in exact lockstep with
# _noisy_matches / operators/graph.py.
_DUCK_NOISY = """,
bridges AS (
  SELECT least('c' || CAST(d1.doc_id AS VARCHAR), 'c' || CAST(d1.doc_id + 1 AS VARCHAR)) AS id_a,
         greatest('c' || CAST(d1.doc_id AS VARCHAR), 'c' || CAST(d1.doc_id + 1 AS VARCHAR)) AS id_b,
         2 AS distance
  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
  WHERE d1.doc_id % 40 = 0
),
noisy AS MATERIALIZED (
  SELECT id_a, id_b, CAST(min(distance) AS INT) AS distance
  FROM (SELECT id_a, id_b, distance FROM matches
        UNION ALL SELECT id_a, id_b, distance FROM bridges)
  GROUP BY id_a, id_b
),
nadj AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM noisy
  UNION ALL SELECT id_b, id_a FROM noisy
),
nsupp AS MATERIALIZED (
  SELECT n.id_a, n.id_b, n.distance, CAST(coalesce(t.support, 0) AS INT) AS support
  FROM noisy n LEFT JOIN (
    SELECT n2.id_a, n2.id_b, count(*) AS support
    FROM noisy n2
    JOIN nadj x ON x.u = n2.id_a
    JOIN nadj y ON y.u = n2.id_b AND y.v = x.v
    GROUP BY n2.id_a, n2.id_b
  ) t ON t.id_a = n.id_a AND t.id_b = n.id_b
),
nedges AS (
  SELECT id_a AS src, id_b AS dst FROM noisy
  UNION ALL SELECT id_b, id_a FROM noisy
),
nreach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM canonical2
    UNION
    SELECT e.dst, r.root FROM r JOIN nedges e ON e.src = r.node
  ) SELECT * FROM r
),
nassign AS MATERIALIZED (
  SELECT node AS conv_id, min(root) AS cluster_id FROM nreach GROUP BY node
)
"""

LINKAGE_ORACLES["edge_support"] = DUCK_TRANSCRIPTS + _DUCK_NOISY + """
SELECT id_a, id_b, distance, support FROM nsupp"""

LINKAGE_ORACLES["cluster_cohesion"] = DUCK_TRANSCRIPTS + _DUCK_NOISY + """,
nsizes AS (
  SELECT cluster_id, CAST(count(*) AS INT) AS size FROM nassign GROUP BY cluster_id
),
nintra AS (
  SELECT a.cluster_id, CAST(count(*) AS BIGINT) AS n_edges
  FROM noisy n JOIN nassign a ON a.conv_id = n.id_a
  GROUP BY a.cluster_id
)
SELECT s.cluster_id, s.size,
       CAST(coalesce(i.n_edges, 0) AS BIGINT) AS n_edges,
       round(CAST(coalesce(i.n_edges, 0) AS DOUBLE)
             / (CAST(s.size AS DOUBLE) * (s.size - 1) / 2)
             + 0.000000001, 4) AS density
FROM nsizes s LEFT JOIN nintra i ON i.cluster_id = s.cluster_id
WHERE s.size >= 2"""

LINKAGE_ORACLES["clusters_robust"] = DUCK_TRANSCRIPTS + _DUCK_NOISY + """,
nsuspect AS (
  SELECT cluster_id FROM nassign GROUP BY cluster_id HAVING count(*) > 3
),
nkept AS (
  SELECT s.id_a, s.id_b FROM nsupp s
  JOIN nassign a ON a.conv_id = s.id_a
  WHERE NOT (a.cluster_id IN (SELECT cluster_id FROM nsuspect)
             AND s.support < 1 AND s.distance >= 2)
),
kedges AS (
  SELECT id_a AS src, id_b AS dst FROM nkept
  UNION ALL SELECT id_b, id_a FROM nkept
),
kreach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM canonical2
    UNION
    SELECT e.dst, r.root FROM r JOIN kedges e ON e.src = r.node
  ) SELECT * FROM r
)
SELECT node AS conv_id, min(root) AS cluster_id FROM kreach GROUP BY node"""


def _one_to_one_oracle(rounds: int) -> str:
    """Template-generated unrolled peel: K rounds of locally-dominant edge
    selection, each round = two window ranks + NOT IN removals — the exact
    SQL mirror of operators/matching.py::one_to_one's loop body."""
    parts = [""",
o2o_rem0 AS MATERIALIZED (
  SELECT id_b AS probe_id, id_a AS ref_id, distance FROM matches
  WHERE id_a LIKE 'c%' AND id_b NOT LIKE 'c%'
)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
o2o_dom{k} AS MATERIALIZED (
  SELECT probe_id, ref_id, distance, {k} AS round FROM (
    SELECT probe_id, ref_id, distance,
           row_number() OVER (PARTITION BY probe_id ORDER BY distance, ref_id) AS rl,
           row_number() OVER (PARTITION BY ref_id ORDER BY distance, probe_id) AS rr
    FROM o2o_rem{k - 1}
  ) WHERE rl = 1 AND rr = 1
),
o2o_rem{k} AS MATERIALIZED (
  SELECT r.* FROM o2o_rem{k - 1} r
  WHERE r.probe_id NOT IN (SELECT probe_id FROM o2o_dom{k})
    AND r.ref_id NOT IN (SELECT ref_id FROM o2o_dom{k})
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT probe_id, ref_id, CAST(distance AS INT) AS distance, "
        f"CAST(round AS INT) AS round FROM o2o_dom{k}"
        for k in range(1, rounds + 1)
    )
    return "".join(parts) + "\n" + union


LINKAGE_ORACLES["match_one_to_one"] = DUCK_TRANSCRIPTS + _one_to_one_oracle(_PEEL_UNROLL)


def _run_assign_sql(run_id: int, where: str) -> str:
    """One simulated linkage run for the entity_history oracle: CC over the
    md5-split match subset as a recursive CTE, emitting (run_id, conv_id,
    'ent:' || cluster_id)."""
    return f""",
hedges{run_id} AS (
  SELECT id_a AS src, id_b AS dst FROM hsplit {where}
  UNION ALL SELECT id_b, id_a FROM hsplit {where}
),
hreach{run_id} AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM canonical2
    UNION
    SELECT e.dst, r.root FROM r JOIN hedges{run_id} e ON e.src = r.node
  ) SELECT * FROM r
),
hrun{run_id} AS (
  SELECT {run_id} AS run_id, node AS conv_id,
         'ent:' || min(root) AS entity_id
  FROM hreach{run_id} GROUP BY node
)"""


LINKAGE_ORACLES["entity_history"] = DUCK_TRANSCRIPTS + """,
hsplit AS MATERIALIZED (
  SELECT id_a, id_b, substring(md5(id_a || '|' || id_b), 1, 1) AS digit
  FROM matches
)""" + _run_assign_sql(1, "WHERE digit < '6'") \
     + _run_assign_sql(2, "WHERE digit < 'b'") \
     + _run_assign_sql(3, "") + """,
hruns AS (
  SELECT * FROM hrun1 UNION ALL SELECT * FROM hrun2 UNION ALL SELECT * FROM hrun3
),
hflagged AS (
  SELECT *, CASE WHEN lag(entity_id) OVER w IS NULL
                   OR lag(entity_id) OVER w <> entity_id THEN 1 ELSE 0 END AS chg
  FROM hruns WINDOW w AS (PARTITION BY conv_id ORDER BY run_id)
),
hislands AS (
  SELECT *, sum(chg) OVER (PARTITION BY conv_id ORDER BY run_id) AS isl
  FROM hflagged
),
hiv AS (
  SELECT conv_id, entity_id, CAST(min(run_id) AS INT) AS valid_from
  FROM hislands GROUP BY conv_id, entity_id, isl
)
SELECT conv_id, entity_id, valid_from,
       CAST(lead(valid_from) OVER w2 AS INT) AS valid_to,
       CAST(lead(valid_from) OVER w2 IS NULL AS INT) AS is_current
FROM hiv WINDOW w2 AS (PARTITION BY conv_id ORDER BY valid_from)"""


LINKAGE_ORACLES["pipeline_summary"] = DUCK_TRANSCRIPTS + """,
nodes AS (SELECT conv_id FROM canonical2),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM matches
  UNION ALL SELECT id_b, id_a FROM matches
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM nodes
    UNION
    SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node
  ) SELECT * FROM r
),
assign AS (
  SELECT node AS conv_id, min(root) AS cluster_id FROM reach GROUP BY node
),
csizes AS (
  SELECT cluster_id, count(*) AS sz FROM assign GROUP BY cluster_id
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM canonical2) AS n_entities,
  (SELECT CAST(count(*) AS BIGINT) FROM cand_pairs) AS n_candidates,
  (SELECT CAST(count(*) AS BIGINT) FROM scored) AS n_scored,
  (SELECT CAST(count(*) AS BIGINT) FROM matches) AS n_matches,
  (SELECT CAST(count(*) AS BIGINT) FROM csizes) AS n_clusters,
  (SELECT CAST(coalesce(sum(sz), 0) AS BIGINT) FROM csizes WHERE sz >= 2) AS n_merged_entities,
  round(1.0 - (SELECT count(*) FROM cand_pairs)
            / ((SELECT CAST(count(*) AS DOUBLE) FROM canonical2)
               * ((SELECT count(*) FROM canonical2) - 1) / 2)
        + 0.000000001, 4) AS reduction_ratio,
  round((SELECT count(*) FROM matches)
        / (SELECT CAST(count(*) AS DOUBLE) FROM scored)
        + 0.000000001, 4) AS match_rate"""


LINKAGE_ORACLES["transduce_prefix"] = DUCK_WORDS + """,
prefixes AS MATERIALIZED (
  SELECT term, substring(term, 1, CAST(L AS INT)) AS prefix
  FROM (SELECT term, unnest(range(1, length(term) + 1)) AS L FROM dict)
)
SELECT q.query_id, p.term AS candidate,
       CAST(min(levenshtein(q.query_term, p.prefix)) AS INT) AS distance
FROM queries q CROSS JOIN prefixes p
GROUP BY q.query_id, p.term
HAVING min(levenshtein(q.query_term, p.prefix)) <= 1"""


LINKAGE_ORACLES["spell_suggest_weighted"] = """
WITH freqs AS MATERIALIZED (
  SELECT w AS term, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS w
    FROM documents
    UNION ALL
    SELECT lower(n_name) FROM nation
  ) GROUP BY w
),
queries AS (
  SELECT 'q_' || term AS query_id, substring(term, 2) AS query_term
  FROM freqs WHERE length(term) > 2
)
SELECT query_id, candidate, distance, freq, rank FROM (
  SELECT q.query_id, d.term AS candidate,
         CAST(levenshtein(q.query_term, d.term) AS INT) AS distance,
         d.freq,
         CAST(row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY levenshtein(q.query_term, d.term) ASC, d.freq DESC, d.term ASC
         ) AS INT) AS rank
  FROM queries q CROSS JOIN freqs d
  WHERE levenshtein(q.query_term, d.term) <= 2
) WHERE rank <= 3"""




# Run-over-run clustering diff: replay both CC runs (prior = pair-hash
# digit < 'b', current = all matches) as recursive CTEs, then classify
# every (old_cluster, new_cluster) intersection.
LINKAGE_ORACLES["cluster_diff"] = DUCK_TRANSCRIPTS + """,
hsplit AS MATERIALIZED (
  SELECT id_a, id_b, substring(md5(id_a || '|' || id_b), 1, 1) AS digit
  FROM matches
)""" + _run_assign_sql(1, "WHERE digit < 'b'") + _run_assign_sql(2, "") + """,
cdo AS (SELECT conv_id, substring(entity_id, 5) AS old_cluster FROM hrun1),
cdn AS (SELECT conv_id, substring(entity_id, 5) AS new_cluster FROM hrun2),
cdi AS (
  SELECT o.old_cluster, n.new_cluster, CAST(count(*) AS BIGINT) AS n_common
  FROM cdo o JOIN cdn n USING (conv_id) GROUP BY 1, 2
),
cdos AS (SELECT old_cluster, CAST(count(*) AS BIGINT) AS old_size FROM cdo GROUP BY 1),
cdns AS (SELECT new_cluster, CAST(count(*) AS BIGINT) AS new_size FROM cdn GROUP BY 1)
SELECT i.old_cluster, i.new_cluster, i.n_common, o.old_size, n.new_size,
       CASE WHEN i.n_common = o.old_size AND i.n_common = n.new_size THEN 'stable'
            WHEN i.n_common = o.old_size THEN 'merged_into'
            WHEN i.n_common = n.new_size THEN 'split_from'
            ELSE 'reshuffled' END AS kind
FROM cdi i
JOIN cdos o ON o.old_cluster = i.old_cluster
JOIN cdns n ON n.new_cluster = i.new_cluster"""


# Blocking drift: block-size log2 histogram PSI between the md5 hash split
# of the corpus (ref digit < '8', cur >= '8'), Laplace-smoothed over the
# union bucket vocabulary.
LINKAGE_ORACLES["blocking_drift"] = DUCK_TRANSCRIPTS + """,
bdr AS (SELECT block_key, count(*) AS n FROM sig_keys
        WHERE substring(md5(conv_id), 1, 1) < '8' GROUP BY 1),
bdc AS (SELECT block_key, count(*) AS n FROM sig_keys
        WHERE substring(md5(conv_id), 1, 1) >= '8' GROUP BY 1),
bdrh AS (SELECT CAST(floor(log2(n)) AS INT) AS size_bucket,
                CAST(count(*) AS BIGINT) AS n_keys_ref FROM bdr GROUP BY 1),
bdch AS (SELECT CAST(floor(log2(n)) AS INT) AS size_bucket,
                CAST(count(*) AS BIGINT) AS n_keys_cur FROM bdc GROUP BY 1),
bdj AS (
  SELECT coalesce(r.size_bucket, c.size_bucket) AS size_bucket,
         coalesce(r.n_keys_ref, 0) AS n_keys_ref,
         coalesce(c.n_keys_cur, 0) AS n_keys_cur
  FROM bdrh r FULL OUTER JOIN bdch c ON r.size_bucket = c.size_bucket
),
bdt AS (SELECT CAST(count(*) AS DOUBLE) AS k,
               CAST(sum(n_keys_ref) AS DOUBLE) AS tr,
               CAST(sum(n_keys_cur) AS DOUBLE) AS tc FROM bdj)
SELECT size_bucket, n_keys_ref, n_keys_cur,
       round((n_keys_ref + 0.5) / (tr + 0.5 * k) + 0.000000001, 4) AS p_ref,
       round((n_keys_cur + 0.5) / (tc + 0.5 * k) + 0.000000001, 4) AS p_cur,
       round(((n_keys_cur + 0.5) / (tc + 0.5 * k) - (n_keys_ref + 0.5) / (tr + 0.5 * k))
             * ln(((n_keys_cur + 0.5) / (tc + 0.5 * k)) / ((n_keys_ref + 0.5) / (tr + 0.5 * k)))
             + 0.000000001, 4) AS psi_term
FROM bdj CROSS JOIN bdt"""


# Score calibration: Monge-Elkan score deciles vs generative gold identity
# (conv_id sans source-prefix letter — the eval_bcubed gold). Reuses the
# similarity_me fragment verbatim as a subquery so the binned score is
# byte-identical to the gated ME entry.
LINKAGE_ORACLES["score_calibration"] = LINKAGE_ORACLES["similarity_me"].replace(
    "SELECT p.id_a, p.id_b,\n       round(CASE WHEN ab.me_ab IS NULL",
    """, calme AS (
SELECT p.id_a, p.id_b,
       round(CASE WHEN ab.me_ab IS NULL""",
).replace(
    "LEFT JOIN ba ON ba.id_a = p.id_a AND ba.id_b = p.id_b",
    """LEFT JOIN ba ON ba.id_a = p.id_a AND ba.id_b = p.id_b
),
calb AS (
  SELECT least(CAST(floor(me_sim * 10) AS INT), 9) AS bin,
         CASE WHEN substring(id_a, 2) = substring(id_b, 2) THEN 1 ELSE 0 END AS y
  FROM calme
)
SELECT bin,
       round(bin / 10.0 + 0.000000001, 4) AS bin_lo,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(y) AS BIGINT) AS n_true,
       round(sum(y) / CAST(count(*) AS DOUBLE) + 0.000000001, 4) AS "precision"
FROM calb GROUP BY bin""",
)


# Two-table A x B record linkage: cross-source candidate join on the
# deletion keys, banded scoring, links at distance <= 2.
LINKAGE_ORACLES["link_cross_source"] = DUCK_TRANSCRIPTS + """,
lsa AS (SELECT conv_id, block_key FROM sig_keys WHERE substring(md5(conv_id), 1, 1) < '8'),
lsb AS (SELECT conv_id, block_key FROM sig_keys WHERE substring(md5(conv_id), 1, 1) >= '8'),
lsp AS (SELECT DISTINCT a.conv_id AS id_a, b.conv_id AS id_b
        FROM lsa a JOIN lsb b USING (block_key))
SELECT p.id_a, p.id_b,
       CAST(levenshtein(ca.fingerprint, cb.fingerprint) AS INT) AS distance
FROM lsp p
JOIN canonical2 ca ON ca.conv_id = p.id_a
JOIN canonical2 cb ON cb.conv_id = p.id_b
WHERE abs(ca.fp_len - cb.fp_len) <= 2
  AND levenshtein(ca.fingerprint, cb.fingerprint) <= 2"""


# SoftTFIDF: L2-normalized smoothed-IDF weights over DISTINCT head tokens,
# JW-bridged best partner per anchor (round-before-rank: jw DESC, partner
# ASC), theta=0.9, per-direction sums rounded then symmetrized.
LINKAGE_ORACLES["similarity_soft_tfidf"] = DUCK_TRANSCRIPTS + f"""
, shd AS MATERIALIZED (
  SELECT DISTINCT conv_id AS id,
         unnest(list_filter(regexp_split_to_array(replace(substring(fingerprint, 1, {TURN_WIDTH}), chr(30), ' '), '\\s+'), x -> x <> '')) AS token
  FROM canonical2
),
sdf AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM shd GROUP BY token),
snd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM canonical2),
sw AS MATERIALIZED (
  SELECT id, token, (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS w
  FROM shd JOIN sdf USING (token) CROSS JOIN snd
),
snorm AS (SELECT id, sqrt(sum(w * w)) AS nrm FROM sw GROUP BY id),
sv AS MATERIALIZED (SELECT id, token, w / nrm AS v FROM sw JOIN snorm USING (id)),
scross AS MATERIALIZED (
  SELECT p.id_a, p.id_b, a.token AS tok_a, b.token AS tok_b, a.v AS v_a, b.v AS v_b,
         round(jaro_winkler_similarity(a.token, b.token) + 0.000000001, 4) AS jw
  FROM cand_pairs p
  JOIN sv a ON a.id = p.id_a
  JOIN sv b ON b.id = p.id_b
),
sdirs AS (
  SELECT id_a, id_b, 0 AS dir, tok_a AS anchor, tok_b AS partner,
         v_a AS v_anchor, v_b AS v_partner, jw FROM scross
  UNION ALL
  SELECT id_a, id_b, 1, tok_b, tok_a, v_b, v_a, jw FROM scross
),
sbest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY id_a, id_b, dir, anchor ORDER BY jw DESC, partner ASC) AS rk
    FROM sdirs
  ) WHERE rk = 1 AND jw >= 0.9
),
sdirsum AS (
  SELECT id_a, id_b, dir,
         round(sum(v_anchor * v_partner * jw) + 0.000000001, 4) AS s_dir
  FROM sbest GROUP BY id_a, id_b, dir
),
ssoft AS (
  SELECT id_a, id_b, round(sum(s_dir) / 2.0 + 0.000000001, 4) AS soft_tfidf
  FROM sdirsum GROUP BY id_a, id_b
)
SELECT p.id_a, p.id_b, coalesce(s.soft_tfidf, 0.0) AS soft_tfidf
FROM cand_pairs p
LEFT JOIN ssoft s ON s.id_a = p.id_a AND s.id_b = p.id_b"""


# PPRL Bloom encoding fragment (Schnell et al. 2009), shared by the dice
# comparator and the private-blocking entry: bigrams of each entity's sig,
# k=4 portable-md5 hash functions, m=256 bits.  The md5-hex-to-int parse
# mirrors Spark's conv(substring(md5(..),1,8),16,10) exactly.
_DUCK_PPRL_BITS = """,
pgr AS MATERIALIZED (
  SELECT DISTINCT conv_id AS id, substring(sig, CAST(i AS INT), 2) AS gram
  FROM (SELECT conv_id, sig,
               unnest(range(1, greatest(length(sig) - 1, 1) + 1)) AS i
        FROM canonical2)
),
pbits AS MATERIALIZED (
  SELECT DISTINCT id,
         CAST(CAST('0x' || substring(md5(gram || ':' || CAST(j AS INT)), 1, 8) AS BIGINT) % 256 AS INT) AS bit
  FROM pgr, range(0, 4) AS t(j)
)"""


# Dice coefficient over the Bloom encodings on the blocked candidate
# stream.  Sparse formulation: |A∩B| is a bit-keyed join count, |A|/|B|
# per-id bit counts — only sizes matter, identical to Spark's
# array_intersect over the sorted-distinct bit arrays.
LINKAGE_ORACLES["similarity_pprl"] = DUCK_TRANSCRIPTS + _DUCK_PPRL_BITS + """,
pn AS (SELECT id, count(*) AS nb FROM pbits GROUP BY id),
pint AS (
  SELECT p.id_a, p.id_b, count(*) AS ni
  FROM cand_pairs p
  JOIN pbits a ON a.id = p.id_a
  JOIN pbits b ON b.id = p.id_b AND b.bit = a.bit
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b,
       round(2.0 * coalesce(pi.ni, 0) / (na.nb + nbb.nb) + 0.000000001, 4) AS dice
FROM cand_pairs p
JOIN pn na ON na.id = p.id_a
JOIN pn nbb ON nbb.id = p.id_b
LEFT JOIN pint pi ON pi.id_a = p.id_a AND pi.id_b = p.id_b"""


# Private blocking: band the bit positions into 16 ranges of 16; key = the
# exact sorted bit list within the band; candidates = pairs agreeing on
# >= 2 bands (multi-band agreement).  Empty bands emit no key in both
# engines.
# Oracle scale note (round 5): this band-signature self-join is
# pair-quadratic within identical-signature groups. At the gate scales
# (sf0.001-0.1) groups are small and the oracle runs in seconds; at the
# synthetic sf1 dir DuckDB materialized >100 GB on a hot signature and the
# three banded-PPRL oracles are therefore excluded from the sf1 contract
# waves (the ENGINE side distributes the same join under Spark/AQE and
# feeds candidate-bounded Dice scoring).
LINKAGE_ORACLES["pprl_candidates"] = DUCK_TRANSCRIPTS + _DUCK_PPRL_BITS + """,
pband AS MATERIALIZED (
  SELECT id, bit // 16 AS band, string_agg(bit, ',' ORDER BY bit) AS band_sig
  FROM pbits GROUP BY id, bit // 16
)
SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS INT) AS n_shared_bands
FROM pband a
JOIN pband b ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id
GROUP BY a.id, b.id
HAVING count(*) >= 2"""


# Wedge census / global clustering coefficient of the match graph.
LINKAGE_ORACLES["transitivity"] = DUCK_TRANSCRIPTS + """,
tadj AS MATERIALIZED (
  SELECT id_a AS v, id_b AS u FROM matches
  UNION ALL SELECT id_b, id_a FROM matches
),
twedge AS (
  SELECT a.u AS u1, b.u AS u2 FROM tadj a JOIN tadj b ON a.v = b.v AND a.u < b.u
),
tflag AS (
  SELECT CASE WHEN m.id_a IS NULL THEN 0 ELSE 1 END AS closed
  FROM twedge w LEFT JOIN matches m ON m.id_a = w.u1 AND m.id_b = w.u2
),
tne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM matches),
tws AS (SELECT CAST(count(*) AS BIGINT) AS n_wedges,
               CAST(coalesce(sum(closed), 0) AS BIGINT) AS n_closed_wedges
        FROM tflag)
SELECT n_edges, n_wedges, n_closed_wedges,
       CAST(n_wedges - n_closed_wedges AS BIGINT) AS n_open_wedges,
       CASE WHEN n_wedges = 0 THEN 0.0
            ELSE round(n_closed_wedges / CAST(n_wedges AS DOUBLE) + 0.000000001, 4)
       END AS transitivity
FROM tne CROSS JOIN tws"""


# Privacy-utility report: the fully private pipeline (band blocking at
# min_bands=2, Dice >= 0.95 on the encodings) scored against the
# cleartext banded-Levenshtein match stream.
LINKAGE_ORACLES["eval_pprl"] = DUCK_TRANSCRIPTS + _DUCK_PPRL_BITS + """,
pband AS MATERIALIZED (
  SELECT id, bit // 16 AS band, string_agg(bit, ',' ORDER BY bit) AS band_sig
  FROM pbits GROUP BY id, bit // 16
),
pcand AS MATERIALIZED (
  SELECT a.id AS id_a, b.id AS id_b
  FROM pband a JOIN pband b ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id
  GROUP BY a.id, b.id HAVING count(*) >= 2
),
pn AS (SELECT id, count(*) AS nb FROM pbits GROUP BY id),
pint AS (
  SELECT p.id_a, p.id_b, count(*) AS ni FROM pcand p
  JOIN pbits a ON a.id = p.id_a
  JOIN pbits b ON b.id = p.id_b AND b.bit = a.bit
  GROUP BY p.id_a, p.id_b
),
ppriv AS (
  SELECT p.id_a, p.id_b
  FROM pcand p
  JOIN pn na ON na.id = p.id_a
  JOIN pn nbb ON nbb.id = p.id_b
  LEFT JOIN pint pi ON pi.id_a = p.id_a AND pi.id_b = p.id_b
  WHERE round(2.0 * coalesce(pi.ni, 0) / (na.nb + nbb.nb) + 0.000000001, 4) >= 0.95
),
pnp AS (SELECT CAST(count(*) AS BIGINT) AS n_private FROM ppriv),
pnc AS (SELECT CAST(count(*) AS BIGINT) AS n_cleartext FROM matches),
pnj AS (SELECT CAST(count(*) AS BIGINT) AS n_common
        FROM ppriv JOIN matches USING (id_a, id_b))
SELECT n_private, n_cleartext, n_common,
       round(n_common / CAST(n_private AS DOUBLE) + 0.000000001, 4) AS "precision",
       round(n_common / CAST(n_cleartext AS DOUBLE) + 0.000000001, 4) AS recall
FROM pnp CROSS JOIN pnc CROSS JOIN pnj"""


# Private A x B mastering: banded candidates pair the md5-split index
# side with the batch side only, then Dice >= 0.95 on the encodings.
LINKAGE_ORACLES["pprl_cross_source"] = DUCK_TRANSCRIPTS + _DUCK_PPRL_BITS + """,
pband AS MATERIALIZED (
  SELECT id, bit // 16 AS band, string_agg(bit, ',' ORDER BY bit) AS band_sig
  FROM pbits GROUP BY id, bit // 16
),
xcand AS MATERIALIZED (
  SELECT a.id AS id_a, b.id AS id_b
  FROM pband a
  JOIN pband b ON a.band = b.band AND a.band_sig = b.band_sig
  WHERE substring(md5(a.id), 1, 1) < '8' AND substring(md5(b.id), 1, 1) >= '8'
  GROUP BY a.id, b.id HAVING count(*) >= 2
),
pn AS (SELECT id, count(*) AS nb FROM pbits GROUP BY id),
xint AS (
  SELECT p.id_a, p.id_b, count(*) AS ni FROM xcand p
  JOIN pbits a ON a.id = p.id_a
  JOIN pbits b ON b.id = p.id_b AND b.bit = a.bit
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b,
       round(2.0 * coalesce(xi.ni, 0) / (na.nb + nbb.nb) + 0.000000001, 4) AS dice
FROM xcand p
JOIN pn na ON na.id = p.id_a
JOIN pn nbb ON nbb.id = p.id_b
LEFT JOIN xint xi ON xi.id_a = p.id_a AND xi.id_b = p.id_b
WHERE round(2.0 * coalesce(xi.ni, 0) / (na.nb + nbb.nb) + 0.000000001, 4) >= 0.95"""


# Anchored prefix/suffix turn alignment over the match stream: forward
# pass keyed by turn_idx, reverse pass keyed by offset-from-the-end; a
# side missing a row counts as a mismatch (FULL JOIN + NULL checks), the
# suffix is capped at min(n) - prefix.
LINKAGE_ORACLES["turn_alignment"] = DUCK_TRANSCRIPTS + """,
mta AS MATERIALIZED (
  SELECT m.id_a, m.id_b, t.turn_idx AS idx, t.text AS txt_a
  FROM matches m JOIN transcripts t ON t.conv_id = m.id_a
),
mtb AS MATERIALIZED (
  SELECT m.id_a, m.id_b, t.turn_idx AS idx, t.text AS txt_b
  FROM matches m JOIN transcripts t ON t.conv_id = m.id_b
),
mfwd AS (
  SELECT id_a, id_b,
         min(CASE WHEN a.txt_a IS NULL OR b.txt_b IS NULL OR a.txt_a <> b.txt_b
                  THEN idx END) AS first_diff
  FROM mta a FULL JOIN mtb b USING (id_a, id_b, idx)
  GROUP BY id_a, id_b
),
mra AS (SELECT a.id_a, a.id_b, ca.n_turns - 1 - a.idx AS off, a.txt_a
        FROM mta a JOIN canonical2 ca ON ca.conv_id = a.id_a),
mrb AS (SELECT b.id_a, b.id_b, cb.n_turns - 1 - b.idx AS off, b.txt_b
        FROM mtb b JOIN canonical2 cb ON cb.conv_id = b.id_b),
mrev AS (
  SELECT id_a, id_b,
         min(CASE WHEN a.txt_a IS NULL OR b.txt_b IS NULL OR a.txt_a <> b.txt_b
                  THEN off END) AS first_rdiff
  FROM mra a FULL JOIN mrb b USING (id_a, id_b, off)
  GROUP BY id_a, id_b
),
mfin AS (
  SELECT m.id_a, m.id_b, ca.n_turns AS na, cb.n_turns AS nb,
         least(coalesce(f.first_diff, 1073741824),
               least(ca.n_turns, cb.n_turns)) AS lcp,
         coalesce(r.first_rdiff, 1073741824) AS rdiff
  FROM matches m
  JOIN canonical2 ca ON ca.conv_id = m.id_a
  JOIN canonical2 cb ON cb.conv_id = m.id_b
  JOIN mfwd f ON f.id_a = m.id_a AND f.id_b = m.id_b
  JOIN mrev r ON r.id_a = m.id_a AND r.id_b = m.id_b
)
SELECT id_a, id_b,
       CAST(na AS INT) AS n_turns_a, CAST(nb AS INT) AS n_turns_b,
       CAST(lcp AS INT) AS aligned_prefix,
       CAST(least(rdiff, least(na, nb) - lcp) AS INT) AS aligned_suffix,
       CAST(na - lcp - least(rdiff, least(na, nb) - lcp) AS INT) AS changed_a,
       CAST(nb - lcp - least(rdiff, least(na, nb) - lcp) AS INT) AS changed_b
FROM mfin"""


LINKAGE_QUERIES = {
    "transcripts": q_transcripts,
    "canonicalize": q_canonicalize,
    "block_keys": q_block_keys,
    "block_keys_qgram": q_block_keys_qgram,
    "block_metrics": q_block_metrics,
    "candidate_pairs": q_candidate_pairs,
    "candidate_pairs_salted": q_candidate_pairs_salted,
    "score_pairs": q_score_pairs,
    "score_distribution": q_score_distribution,
    "scored_resume": q_scored_resume,
    "similarity": q_similarity,
    "matches": q_matches,
    "clusters": q_clusters,
    "clusters_incremental": q_clusters_incremental,
    "cluster_split": q_cluster_split,
    "cluster_stats": q_cluster_stats,
    "cluster_canonical": q_cluster_canonical,
    "golden_records": q_golden_records,
    "stable_entity_ids": q_stable_entity_ids,
    "match_provenance": q_match_provenance,
    "edge_support": q_edge_support,
    "cluster_cohesion": q_cluster_cohesion,
    "clusters_robust": q_clusters_robust,
    "match_one_to_one": q_match_one_to_one,
    "entity_history": q_entity_history,
    "spell_suggest_weighted": q_spell_suggest_weighted,
    "transduce_prefix": q_transduce_prefix,
    "pipeline_summary": q_pipeline_summary,
    "topk_candidates": q_topk,
    "transduce_standard": q_transduce_standard,
    "transduce_per_query_n": q_transduce_per_query_n,
    "transduce_transposition": q_transduce_transposition,
    "transduce_merge_split": q_transduce_merge_split,
    "dictionary_roundtrip": q_dictionary_roundtrip,
    "dictionary_binary_roundtrip": q_dictionary_binary_roundtrip,
    "spell_suggest": q_spell_suggest,
    "similarity_jw": q_similarity_jw,
    "ledger_lineage": q_ledger_lineage,
    "stream_linkage_matches": q_stream_linkage_matches,
    "eval_pairwise_f1": q_eval_pairwise_f1,
    "eval_pairwise_f1_sampled": q_eval_pairwise_f1_sampled,
    "eval_bcubed": q_eval_bcubed,
    "eval_rand": q_eval_rand,
    "eval_blocking_recall": q_eval_blocking_recall,
    "eval_blocking_recall_sampled": q_eval_blocking_recall_sampled,
    "clusters_multilevel": q_clusters_multilevel,
    "fs_model": q_fs_model,
    "pair_weights": q_pair_weights,
    "candidate_pairs_snm": q_candidate_pairs_snm,
    "meta_blocking": q_meta_blocking,
    "review_queue": q_review_queue,
    "similarity_tfidf": q_similarity_tfidf,
    "similarity_tfidf_topk": q_similarity_tfidf_topk,
    "similarity_me": q_similarity_me,
    "eval_threshold_sweep": q_eval_threshold_sweep,
    "block_keys_phonetic": q_block_keys_phonetic,
    "candidate_pairs_phonetic": q_candidate_pairs_phonetic,
    "clusters_star": q_clusters_star,
    "candidate_pairs_union": q_candidate_pairs_union,
    "eval_bcubed_star": q_eval_bcubed_star,
    "eval_scheme_quality": q_eval_scheme_quality,
    "similarity_fused": q_similarity_fused,
    "cluster_diff": q_cluster_diff,
    "blocking_drift": q_blocking_drift,
    "score_calibration": q_score_calibration,
    "link_cross_source": q_link_cross_source,
    "similarity_soft_tfidf": q_similarity_soft_tfidf,
    "similarity_pprl": q_similarity_pprl,
    "pprl_candidates": q_pprl_candidates,
    "turn_alignment": q_turn_alignment,
    "transitivity": q_transitivity,
    "eval_pprl": q_eval_pprl,
    "pprl_cross_source": q_pprl_cross_source,
}


# ---------------------------------------------------------------------------
# Training-data pipeline queries over documents / embeddings
# ---------------------------------------------------------------------------

from .functions.text import gate_round4, lang_id, lang_scores, normalized_fingerprint, quality_columns  # noqa: E402
from .operators import analytics, ann, dedup, multimodal, temporal  # noqa: E402


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", *quality_columns("text"))


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import bpe_ish_token_count

    return _docs(spark, sf_dir).select(
        "doc_id", bpe_ish_token_count("text").alias("n_bpe_tokens")
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", *lang_scores("text")).withColumn(
        "lang_pred", lang_id()
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", normalized_fingerprint("text").alias("fp")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


def q_dedup_exact_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the NORMALIZED fingerprint (lowercased,
    non-alphanumerics stripped) — catches whitespace/punctuation-only dups
    the byte-exact variant misses."""
    return dedup.exact_dedup(_docs(spark, sf_dir), normalized=True)


NGRAM_DF_CAP = 20  # stop-shingle guard ACTIVE in the registered entry


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.5, df_cap=NGRAM_DF_CAP
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), n_perms=16, bands=4, shingle_n=3, threshold=0.5
    )


def q_dedup_merge_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjoint near-dup merge wave (operators/matching.py::one_to_one in
    general-graph mode): the MinHash-LSH near-dup pairs reduced to a greedy
    maximum-weight MATCHING by exact Jaccard (desc, ids tie-break) — the
    largest-affinity set of merges where no document is touched twice, i.e.
    what one parallel merge/apply wave can safely execute. Iterated
    locally-dominant edge selection on a shared id space: symmetrize to an
    incidence list, keep edges preferred by BOTH endpoints, peel. Engine
    and oracle share the _PEEL_UNROLL round budget (the oracle unrolls
    that many rounds; the engine passes it as max_rounds, so a
    deeper-than-budget corpus raises loudly instead of hash-mismatching —
    the LSH graph has no degree bound, unlike the bipartite entry)."""
    from .operators.matching import one_to_one

    pairs = q_dedup_minhash_lsh(spark, sf_dir)
    return one_to_one(pairs, "id_a", "id_b", "jaccard", ascending=False,
                      bipartite=False, max_rounds=_PEEL_UNROLL).select(
        "id_a", "id_b", "jaccard", "round")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: docs with doc_id % 4 == 0 arrive as the
    new batch; the rest are the already-indexed corpus, represented ONLY by
    their persisted (id, band_key) LSH index — the new batch is deduped
    against corpus + itself without re-shingling old docs (verify
    re-shingles just the candidate rows). Oracle = the full-corpus MinHash
    pair set restricted to pairs touching a new doc."""
    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    stored = dedup.minhash_band_keys(old, n_perms=16, bands=4, shingle_n=3)
    return dedup.incremental_minhash_pairs(
        new, stored, docs, n_perms=16, bands=4, shingle_n=3, threshold=0.5
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(_docs(spark, sf_dir), bits=32, bands=4, max_hamming=3)


CONTAINMENT_THRESHOLD = 0.2  # value distribution is bimodal at this sf


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.containment_pairs(
        _docs(spark, sf_dir), n=3, threshold=CONTAINMENT_THRESHOLD,
        df_cap=NGRAM_DF_CAP,
    )


EVAL_MOD = 25   # doc_id % EVAL_MOD == 0 -> eval/benchmark split
DECON_NGRAM = 5


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % EVAL_MOD == 0 act as
    the held-out benchmark; every other doc is scored for 5-gram overlap
    against the broadcast eval shingle set."""
    from .operators.corpus_quality import contamination

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % EVAL_MOD != 0)
    evalset = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    return contamination(train, evalset, n=DECON_NGRAM)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.corpus_quality import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate spans: maximal token ranges covered by
    5-grams occurring in >= 2 distinct documents (word-granularity
    substring dedup a la Lee et al. 2022). The oracle recomputes the
    whole path — positioned grams, doc-frequency filter, islands merge —
    in SQL."""
    from .operators.corpus_quality import boilerplate_spans

    return boilerplate_spans(_docs(spark, sf_dir), n=5, min_docs=2)


def q_scrub_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal: drop every boilerplate-span token and re-join
    the survivors in original order; gated on the reconstructed clean_text
    string itself plus kept/removed token counts."""
    from .operators.corpus_quality import scrub_boilerplate

    return scrub_boilerplate(_docs(spark, sf_dir), n=5, min_docs=2)


def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrub over a deterministically PII-planted corpus: every
    5th doc gets an email, a URL, and a long digit run appended (the
    synthetic documents contain none), so the regex pass has real work and
    its non-match passthrough is exercised on the other 80%."""
    from .functions.text import scrub_columns

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"), did, F.lit("@example.com see "),
                    F.lit("https://ex.com/p"), did,
                    F.lit(" id 90210"), did,
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return planted.select("doc_id", *scrub_columns("text"))


QUALITY_MIN_SCORE = 0.85
QUALITY_MIN_TOKENS = 20


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate: the filter stage a pipeline runs between scoring and
    sampling — keep docs above the composite-score and token floors."""
    stats = _docs(spark, sf_dir).select("doc_id", *quality_columns("text"))
    return stats.filter(
        (F.col("quality_score") >= QUALITY_MIN_SCORE)
        & (F.col("n_tokens") >= QUALITY_MIN_TOKENS)
    ).select("doc_id", "n_tokens", "quality_score")


SAMPLE_RATE = 0.25
MIX_WEIGHTS = {f"src{i}": (1.0, 0.5, 0.2, 0.0)[i % 4] for i in range(20)}
N_SHARDS = 8


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import sample_corpus

    return sample_corpus(_docs(spark, sf_dir), SAMPLE_RATE).select(
        "doc_id", "source", "lang"
    )


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import mix_corpus

    return mix_corpus(_docs(spark, sf_dir), MIX_WEIGHTS).select(
        "doc_id", "source", "lang"
    )


def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import shard_assign

    return shard_assign(_docs(spark, sf_dir), N_SHARDS)


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup group assignment (keep-one-per-group) over the MinHash-LSH
    pair set: transitive CC + min-id canonical."""
    ship_package(spark)
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, n_perms=16, bands=4, shingle_n=3, threshold=0.5
    ).localCheckpoint(eager=True)
    return dedup.dedup_groups(docs, pairs)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_embed_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann.cosine_dup_pairs(_emb(spark, sf_dir), threshold=0.35)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return ann.brute_force_topk(e, e.filter(F.col("vec_id") < 10), k=5)


def q_embed_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship_package(spark)
    return ann.lsh_ann_pairs(_emb(spark, sf_dir), threshold=0.35)


def _lsh_ann_oracle_sql(threshold: float = 0.35, dim: int = 64,
                        n_planes: int = 16, bands: int = 4,
                        seed: int = 42) -> str:
    """Full DuckDB oracle for the random-hyperplane LSH ANN path: the seeded
    Gaussian hyperplanes (identical to ann.lsh_signature_udf's, same rng
    stream) are embedded as SQL literals, so DuckDB recomputes the exact
    sign-bit signatures, band buckets, candidate join and cosine verify —
    the whole scale path is hash-gated, not just its output row count.
    Sign agreement is float-robust: a bit could only flip if a dot product
    sat within ~1e-13 of zero, which the seeded Gaussian planes make
    vanishingly unlikely (checked at both test sfs)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes))
    bit_terms = []
    for k in range(n_planes):
        vec = ", ".join(repr(float(x)) for x in planes[:, k])
        bit_terms.append(
            f"(CASE WHEN list_dot_product(emb_d, [{vec}]) > 0 "
            f"THEN CAST({1 << k} AS BIGINT) ELSE 0 END)"
        )
    sig = "\n     + ".join(bit_terms)
    chunk_bits = n_planes // bands
    mask = (1 << chunk_bits) - 1
    return f"""
WITH embd AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d
  FROM embeddings
),
sigs AS (
  SELECT vec_id, {sig} AS sig
  FROM embd
),
chunks AS (
  SELECT vec_id, CAST(c AS INT) AS chunk,
         (sig >> (CAST(c AS INT) * {chunk_bits})) & {mask} AS chunk_val
  FROM sigs, (SELECT unnest(range(0, {bands})) AS c)
),
cands AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
  WHERE a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])) + 0.000000001, 4) AS cosine
FROM cands c
JOIN embeddings ea ON ea.vec_id = c.id_a
JOIN embeddings eb ON eb.vec_id = c.id_b
WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])) + 0.000000001, 4) >= {threshold}"""


def _semdedup_oracle_sql(threshold: float = 0.35) -> str:
    """Oracle for ann.semantic_dedup: the full LSH candidate/verify chain
    (hyperplane literals, _lsh_ann_oracle_sql) wrapped as a pair CTE, then
    the same recursive-CTE connected-components + min-id keep rule the
    dedup_groups oracle uses — over vec_ids."""
    pair_sql = _lsh_ann_oracle_sql(threshold)
    return f"""
WITH lsh_pairs AS (
  SELECT id_a, id_b FROM ({pair_sql})
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM lsh_pairs
  UNION ALL SELECT id_b, id_a FROM lsh_pairs
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node
  ) SELECT * FROM r
)
SELECT node AS vec_id, min(root) AS dup_group,
       (node = min(root)) AS is_kept
FROM reach GROUP BY node"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index probed on ALL cells == brute force exactly, so this shares
    the ann_cosine_topk oracle; partial-probe recall is a pytest property
    (tests/test_ann.py)."""
    e = _emb(spark, sf_dir)
    cents = ann.ivf_centroids(e, n_cells=4, refine_iters=1)
    return ann.ivf_topk(
        ann.ivf_index(e, cents), e.filter(F.col("vec_id") < 10), cents,
        k=5, nprobe=len(cents),
    )


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel analysis (operators/analytics.py::
    event_funnel) over the events table: per user, earliest 'view', then
    earliest 'click' strictly after it, then earliest 'purchase' strictly
    after that — the greedy-completion funnel (the MATCH_RECOGNIZE shape
    Spark lacks natively, re-expressed as stage-filtered hash aggs chained
    by per-user key joins). Timestamps ride as epoch-microsecond bigints
    (the event_sessions convention); `stage` counts stages reached."""
    from .operators.analytics import event_funnel

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_funnel(events, ["view", "click", "purchase"])


def q_event_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window — the one frame type the window taxonomy still
    lacked (rows-cumulative / session / hopping / lag / rank are gated
    elsewhere): per event, the trailing ONE-HOUR sum and count of the same
    user's event values, the frame bounded by event TIME (RANGE BETWEEN
    3.6e9 µs PRECEDING AND CURRENT ROW over epoch-microseconds), not row
    position — identical-timestamp peers enter the frame identically in
    both engines by RANGE semantics. Values sum in exact integer cents;
    the oracle CASTs its window sum back to BIGINT (DuckDB sum(BIGINT) →
    HUGEINT, the event_sessions lesson). One user-partitioned window pass;
    at 10^12 events the user-id hash partitioning is the natural layout."""
    from pyspark.sql import Window

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cents = F.round(F.col("value") * 100).cast("long")
    w = (Window.partitionBy("user_id").orderBy("us")
         .rangeBetween(-3_600_000_000, 0))
    return (
        events.select("event_id", "user_id", us.alias("us"), cents.alias("_c"))
        .select(
            "event_id", "user_id", "us",
            F.sum("_c").over(w).cast("bigint").alias("trail_1h_cents"),
            F.count("*").over(w).cast("bigint").alias("trail_1h_n"),
        )
    )


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows over the events table (30-minute inactivity
    gap): Spark's native session_window; the DuckDB oracle is the classic
    gaps-and-islands formulation. Values are summed in exact integer cents
    so float addition order cannot break hash parity, and session bounds are
    emitted as epoch-microsecond BIGINTS (the events_asof / event_gap_stats
    convention — integers hash identically under any normalizer, unlike
    formatted timestamp strings, which failed the driver hash in r01+r02
    despite matching the local replica)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").cast("int").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("session_start_us"),
            F.unix_micros(F.col("w.end").cast("timestamp")).alias("session_end_us"),
            "n_events", "sum_value_cents",
        )
    )


def q_event_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type stats with a JSON-path extraction from the props
    column (json scalar-function coverage)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.count("*").cast("int").alias("n_events"),
        # coalesce pins the all-null-group case to a concrete bigint 0 —
        # nullable aggregate rendering is hasher-sensitive across harnesses
        F.coalesce(
            F.sum(F.get_json_object("props", "$.k").cast("long")), F.lit(0).cast("long")
        ).alias("sum_k"),
        F.countDistinct("user_id").cast("int").alias("n_users"),
    )


def q_event_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariantType coverage (Spark 4's binary semi-structured type, distinct
    from the string-path get_json_object in event_json_stats): props is
    parsed ONCE into a variant (`parse_json`) and fields are extracted with
    `variant_get` — the shredded-access pattern that, over Parquet variant
    columns at 100 TB, avoids re-tokenizing JSON text per field. The oracle
    re-derives the same stats via DuckDB json_extract."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = ev.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "long").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").cast("int").alias("n_events"),
        F.coalesce(F.sum("k"), F.lit(0)).cast("bigint").alias("sum_k"),
        F.coalesce(F.min("k"), F.lit(0)).cast("bigint").alias("min_k"),
        F.coalesce(F.max("k"), F.lit(0)).cast("bigint").alias("max_k"),
    )


def q_corpus_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY … LIMIT through the hard gate (the one sort/limit
    shape per-group top-k doesn't exercise). Spark plans this as
    TakeOrderedAndProject — per-partition top-k then a driver merge of
    k·partitions rows — NOT a global sort shuffle; ties broken by doc_id
    so the limit boundary is deterministic on both engines."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "n_chars", "lang")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(20)
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec decode through the hard gate: synth_media generates
    genuine PNG/WAV/AVI container bytes from doc_id, real_decode PARSES
    them (IHDR / fmt+data / avih, CRC-checked), and the oracle recomputes
    the generation formulas from doc_id — proving parse∘generate == formula
    on every row. n_bytes is decoded but not gated (zlib-compressed PNG
    sizes are not SQL-recomputable)."""
    ship_package(spark)
    media = multimodal.synth_media(_docs(spark, sf_dir))
    return multimodal.decode_media(media).select(
        "doc_id", "kind", "width", "height", "duration_ms"
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize through the hard gate: source geometry parsed from the real
    PNG IHDR / AVI avih+strf bytes, target geometry fixed, and thumb_pix0
    = the first byte of the resampled thumb, i.e. the source's REAL decoded
    (0,0) pixel — PNG inflate+unfilter on image rows, DIB un-stride +
    bottom-up flip on video rows. The oracle recomputes it from the
    generation formula, so the hash gates actual pixel content on both
    branches; the full thumb buffer is dropped (not SQL-recomputable)."""
    ship_package(spark)
    media = multimodal.synth_media(_docs(spark, sf_dir))
    return multimodal.resize_media(media).select(
        "doc_id", "kind", "src_width", "src_height", "width", "height",
        "thumb_pix0"
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the hard gate: duration/fps parsed from the
    real avih header, frames demuxed from the real movi chunks (skipping
    interleaved odd-length '01tx' caption chunks); frame_len is the demuxed
    chunk's byte length (= DIB stride x height) and pix0 the decoded
    top-left pixel of the sampled frame — the oracle recomputes both from
    the generation formula, proving the RIFF walk honors chunk sizes /
    even-byte padding AND the DIB decode honors stride + bottom-up order."""
    ship_package(spark)
    media = multimodal.synth_media(_docs(spark, sf_dir))
    return multimodal.sample_frames(media).select(
        "doc_id", "frame_idx", "ts_ms", "frame_len", "pix0"
    )


def q_embed_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style group assignment over the LSH-bucketed cosine pair
    graph (ann.semantic_dedup): the scale path for embedding dedup, hash-
    gated end-to-end (hyperplanes + CC both recomputed by the oracle)."""
    ship_package(spark)
    return ann.semantic_dedup(_emb(spark, sf_dir), threshold=0.35)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-preferred near-dup survivor selection: MinHash-LSH pair graph
    -> CC groups -> keep the highest-quality member (ties -> min doc_id)."""
    ship_package(spark)
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, n_perms=16, bands=4, shingle_n=3, threshold=0.5
    ).localCheckpoint(eager=True)
    scored = docs.select("doc_id", *quality_columns("text")).select(
        "doc_id", "quality_score"
    )
    return dedup.keep_best_groups(scored, pairs)


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.tfidf_topk(_docs(spark, sf_dir), k=3)


def q_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return analytics.event_gap_stats(ev)


def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.corpus_rollup(_docs(spark, sf_dir))


def q_event_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return analytics.event_running_totals(ev)


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase event picks up the most recent
    at-or-before click by the same user (operators/temporal.asof_join —
    single-shuffle union + last-ignoring-nulls window; the DuckDB oracle is
    a NATIVE `ASOF LEFT JOIN`, a genuinely independent implementation)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return temporal.asof_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )


def q_events_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: per error event, count/sum the same user's
    clicks in the preceding hour (operators/temporal.range_join_agg —
    two-bucket band join; the oracle is DuckDB's raw inequality join)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return temporal.range_join_agg(
        ev.filter(F.col("event_type") == "error"),
        ev.filter(F.col("event_type") == "click"),
        window_us=3_600_000_000,
    )


def q_dedup_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-level exact dedup across the derived transcript corpus
    (dedup.dedup_turns): planted near-duplicate conversations share long
    turn prefixes, so cross-conversation duplicate turns exist by
    construction; first occurrence in (conv_id, turn_idx) order wins."""
    return dedup.dedup_turns(derive_transcripts(spark, sf_dir))


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window chunking (W=64, S=48) over the documents table —
    the context-window split a training pipeline runs before sequence
    packing. Narrow plan: scan → tokenize → posexplode grid → slice; zero
    shuffles (operators/chunking.py)."""
    from .operators.chunking import chunk_documents

    return chunk_documents(_docs(spark, sf_dir))


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard concatenate-and-split sequence packing (capacity 128):
    where each document lands in the packed training stream
    (operators/chunking.pack_sequences)."""
    from .operators.chunking import pack_sequences

    return pack_sequences(_docs(spark, sf_dir))


def q_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-accuracy audit: sketch estimate vs exact Jaccard
    (+ integer-scaled absolute error) on the LSH candidate set."""
    return dedup.minhash_estimate_pairs(_docs(spark, sf_dir))


def q_corpus_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with an explicit value list (no distinct pre-scan): per-source
    rows, per-language count columns."""
    return analytics.corpus_pivot(_docs(spark, sf_dir))


def q_corpus_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt direction: wide per-source stats back to tidy
    (source, metric, value) rows."""
    return analytics.corpus_unpivot(_docs(spark, sf_dir))


def q_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank deciles of n_chars via the value-histogram
    decomposition (no approx_percentile, no global row sort)."""
    return analytics.length_deciles(_docs(spark, sf_dir))


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 per-vector quantization of the embeddings table; the
    full quantized lattice rides the hash via qvec_csv."""
    return ann.quantize_embeddings(_emb(spark, sf_dir))


def q_corpus_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (lang, source): all four grouping sets in one pass —
    ROLLUP's missing per-source slice (analytics.corpus_cube)."""
    return analytics.corpus_cube(_docs(spark, sf_dir))


def q_event_hop_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding/hopping window aggregate (30-minute windows every 10
    minutes) per event type — the overlapping-window shape tumbling
    (stream_event_windows) and session (event_sessions) entries don't
    cover (analytics.event_hop_windows)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return analytics.event_hop_windows(ev)


def q_event_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed scalar functions through the hard gate: from_json ->
    map<string,bigint> -> explode(map) -> per-key aggregate; the oracle
    re-derives the map entries with positional regexp extraction
    (analytics.event_props_map)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return analytics.event_props_map(ev)


def q_stream_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState conversation reassembly through the hard gate:
    turn events (deterministic synthetic event times) are drained as a
    3-file stream — two conversation halves plus a far-future flush row that
    advances the watermark past every quiet period — and the stateful
    assembler's (conv_id, n_turns, fingerprint) output must equal batch
    canonicalize (shared canonical2 oracle). The flush conversation itself
    never times out, so it stays in state and is absent from the output."""
    import tempfile
    import uuid

    from .sources.tables import TRANSCRIPTS_SCHEMA
    from .streaming.stateful import assemble_conversations

    t = derive_transcripts(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("turn_idx"))
    )
    work = tempfile.mkdtemp(prefix="levreasm_")
    src = work + "/src"
    half = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    for g in range(2):
        (t.withColumn("_g", half).filter(F.col("_g") == g).drop("_g")
         .select(*TRANSCRIPTS_SCHEMA.fieldNames())
         .coalesce(1).write.mode("append").parquet(src))
    flush = spark.createDataFrame(
        [("_flush", 0, "user", "x", "",
          __import__("datetime").datetime(2030, 1, 1))],
        TRANSCRIPTS_SCHEMA,
    )
    flush.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    assembled = assemble_conversations(
        stream, watermark_delay="2 minutes", gap_ms=60_000
    )
    name = "reasm_" + uuid.uuid4().hex[:8]
    q = (
        assembled.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "conv_id", F.col("n_turns").cast("int").alias("n_turns"), "fingerprint"
    )


def q_transcripts_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source-connector parity: derived transcripts written as
    JSON and read back under the ENFORCED canonical schema (inference is a
    full extra pass at 100 TB) must equal the parquet-derived rows — shares
    the `transcripts` oracle."""
    import tempfile

    from .sources.tables import read_transcripts, write_transcripts

    work = tempfile.mkdtemp(prefix="levjson_")
    t = derive_transcripts(spark, sf_dir).withColumn(
        "ts", F.lit(None).cast("timestamp")
    )
    write_transcripts(t, work + "/t", fmt="json")
    return read_transcripts(spark, work + "/t", fmt="json").select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )


def q_transcripts_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source-connector parity (the other columnar format a lakehouse
    migration actually encounters): transcripts written as ORC and read
    back under the enforced canonical schema must equal the
    parquet-derived rows — shares the `transcripts` oracle. Columnar
    pruning/pushdown applies the same as parquet (native OrcScan)."""
    import tempfile

    from .sources.tables import read_transcripts, write_transcripts

    work = tempfile.mkdtemp(prefix="levorc_")
    t = derive_transcripts(spark, sf_dir).withColumn(
        "ts", F.lit(None).cast("timestamp")
    )
    write_transcripts(t, work + "/t", fmt="orc")
    return read_transcripts(spark, work + "/t", fmt="orc").select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )


def q_stream_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation through the Structured
    Streaming engine: the events table is drained as a 2-file stream
    (maxFilesPerTrigger=1, Trigger.AvailableNow) into a complete-mode
    windowed aggregate; the result must equal the batch GROUP BY. Window
    starts are emitted as epoch-microsecond bigints (Spark's 1970-epoch
    window origin and DuckDB's time_bucket 2000-01-01 origin coincide for
    divisor-of-a-day widths)."""
    import tempfile
    import uuid

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    work = tempfile.mkdtemp(prefix="levstreamwin_")
    src = work + "/src"
    half = F.pmod(F.xxhash64(F.col("event_id").cast("string")), F.lit(2))
    for g in range(2):
        (ev.withColumn("_g", half).filter(F.col("_g") == g).drop("_g")
         .coalesce(1).write.mode("append").parquet(src))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        # watermarks require TIMESTAMP; the UTC session tz makes the
        # NTZ cast wall-clock-preserving
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
        .agg(
            F.count("*").cast("int").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
    )
    name = "win_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.unix_micros(F.col("win.start").cast("timestamp")).alias("window_start_us"),
        "event_type", "n_events", "sum_value_cents",
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: the turn stream is drained as a 2-file
    stream (split by a hash of (conv_id, turn_idx) so copies of the same
    turn text land in DIFFERENT micro-batches) through streaming
    `dropDuplicates` keyed on the normalized-text group — the keyed-state
    dedup operator a streaming ingest pipeline runs ahead of storage. Only
    the dedup key rides the stream (which physical row survives a
    micro-batch is not deterministic; the key set is), and the surviving
    group set joins back to the batch-computed canonical mapping — so the
    oracle checks BOTH that streaming state deduped across batches (row
    count = distinct groups) and the canonical attribution."""
    import tempfile
    import uuid

    turns = derive_transcripts(spark, sf_dir)
    grouped = turns.select(
        "conv_id", "turn_idx", F.md5(F.lower("text")).alias("dup_group")
    )
    work = tempfile.mkdtemp(prefix="levstreamdedup_")
    src = work + "/src"
    half = F.pmod(
        F.xxhash64(F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"))),
        F.lit(2),
    )
    for g in range(2):
        (grouped.withColumn("_g", half).filter(F.col("_g") == g).drop("_g")
         .coalesce(1).write.mode("append").parquet(src))
    stream = (
        spark.readStream.schema(grouped.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .select("dup_group")
        .dropDuplicates(["dup_group"])
    )
    name = "dedup_" + uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    canonical = grouped.groupBy("dup_group").agg(
        F.min(F.struct("conv_id", "turn_idx")).alias("_keep"),
        F.count("*").cast("int").alias("n_occurrences"),
    )
    return spark.table(name).join(canonical, "dup_group").select(
        "dup_group",
        F.col("_keep.conv_id").alias("canonical_conv"),
        F.col("_keep.turn_idx").alias("canonical_turn"),
        "n_occurrences",
    )


DUCK_TOKENS = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks, text
  FROM documents
)
"""

DUCK_SHINGLES = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, CAST(i AS INT), CAST(i AS INT) + 2), ' ') AS shingle
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM toks WHERE len(toks) >= 3)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jac AS (
  SELECT i.id_a, i.id_b,
         round(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) + 0.000000001, 4) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
)
"""

# MinHash signature / banding / LSH candidates + verified pairs, shared by
# the dedup_minhash_lsh and dedup_groups oracles. Mirrors
# operators/dedup.py minhash_lsh_pairs (16 perms, 4 bands, 3-shingles,
# jaccard >= 0.5, portable 60-bit md5 hash family).
DUCK_MINHASH = DUCK_SHINGLES + """,
sigs AS (
  SELECT doc_id, perm,
         min(CAST(('0x' || substring(md5(CAST(perm AS VARCHAR) || '|' || shingle), 1, 15)) AS BIGINT)) AS minhash
  FROM shingles, (SELECT unnest(range(0, 16)) AS perm)
  GROUP BY doc_id, perm
),
band_keys AS (
  SELECT doc_id,
         (CAST(CAST(perm // 4 AS INT) AS VARCHAR) || '|' ||
          string_agg(CAST(perm AS VARCHAR) || ':' || CAST(minhash AS VARCHAR), ','
                     ORDER BY CAST(perm AS VARCHAR) || ':' || CAST(minhash AS VARCHAR))) AS band_key
  FROM sigs GROUP BY doc_id, perm // 4
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM band_keys a JOIN band_keys b ON a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
mh_pairs AS (
  SELECT c.id_a, c.id_b, j.jaccard
  FROM cands c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
  WHERE j.jaccard >= 0.5
)
"""

TEXT_STATS_SQL = """
SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars,
  CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS INT) AS n_tokens,
  round((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) / greatest(length(text), 1) + 0.000000001, 4) AS alpha_ratio,
  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1) + 0.000000001, 4) AS digit_ratio,
  round((length(text) - length(regexp_replace(text, '\\s', '', 'g'))) / greatest(length(text), 1) + 0.000000001, 4) AS space_ratio,
  round(CASE WHEN len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) > 0
        THEN (length(text) - (length(text) - length(regexp_replace(text, '\\s', '', 'g'))))
             / CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS DOUBLE)
        ELSE 0.0 END + 0.000000001, 4) AS mean_token_len,
  round(
    (CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 0.25 ELSE 0.0 END)
    + 0.25 * ((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) / greatest(length(text), 1))
    + 0.25 * (1.0 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1))
    + 0.25 * least(
        (CASE WHEN len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) > 0
         THEN (length(text) - (length(text) - length(regexp_replace(text, '\\s', '', 'g'))))
              / CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS DOUBLE)
         ELSE 0.0 END) / 8.0, 1.0) + 0.000000001, 4) AS quality_score
FROM documents"""

# scrubbed-text SQL built from the SAME SCRUB_PATTERNS constants as the
# Spark side (sequential replace; independent counts on the original text)
from .functions.text import SCRUB_PATTERNS as _SCRUB  # noqa: E402

_scrub_expr = "text"
for _, _pat, _repl in _SCRUB:
    _scrub_expr = f"regexp_replace({_scrub_expr}, '{_pat}', '{_repl}', 'g')"
_scrub_counts = ",\n  ".join(
    f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{name}"
    for name, pat, _ in _SCRUB
)
TEXT_SCRUB_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 5 = 0
           THEN ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com see https://ex.com/p' || CAST(doc_id AS VARCHAR)
                || ' id 90210' || CAST(doc_id AS VARCHAR)
           ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
  {_scrub_expr} AS scrubbed,
  {_scrub_counts}
FROM planted"""

DATA_ORACLES: dict[str, str] = {
    "text_stats": TEXT_STATS_SQL,
    "text_scrub": TEXT_SCRUB_SQL,
    "quality_filter": f"""
SELECT doc_id, n_tokens, quality_score FROM ({TEXT_STATS_SQL})
WHERE quality_score >= {QUALITY_MIN_SCORE} AND n_tokens >= {QUALITY_MIN_TOKENS}""",
    "lang_id": DUCK_TOKENS + """
SELECT doc_id,
  CAST(len(list_intersect(list_distinct(toks), ['the','and','of','to','a','in','is','it','you','that'])) AS INT) AS score_en,
  CAST(len(list_intersect(list_distinct(toks), ['der','die','und','das','ist','nicht','du','ich','mit','ein'])) AS INT) AS score_de,
  CAST(len(list_intersect(list_distinct(toks), ['le','la','et','les','des','un','une','est','je','pas'])) AS INT) AS score_fr,
  CAST(len(list_intersect(list_distinct(toks), ['el','los','y','de','que','en','se','para','con','por'])) AS INT) AS score_es,
  CASE
    WHEN greatest(
      len(list_intersect(list_distinct(toks), ['the','and','of','to','a','in','is','it','you','that'])),
      len(list_intersect(list_distinct(toks), ['der','die','und','das','ist','nicht','du','ich','mit','ein'])),
      len(list_intersect(list_distinct(toks), ['le','la','et','les','des','un','une','est','je','pas'])),
      len(list_intersect(list_distinct(toks), ['el','los','y','de','que','en','se','para','con','por']))) = 0 THEN 'und'
    WHEN len(list_intersect(list_distinct(toks), ['the','and','of','to','a','in','is','it','you','that'])) = greatest(
      len(list_intersect(list_distinct(toks), ['the','and','of','to','a','in','is','it','you','that'])),
      len(list_intersect(list_distinct(toks), ['der','die','und','das','ist','nicht','du','ich','mit','ein'])),
      len(list_intersect(list_distinct(toks), ['le','la','et','les','des','un','une','est','je','pas'])),
      len(list_intersect(list_distinct(toks), ['el','los','y','de','que','en','se','para','con','por']))) THEN 'en'
    WHEN len(list_intersect(list_distinct(toks), ['der','die','und','das','ist','nicht','du','ich','mit','ein'])) = greatest(
      len(list_intersect(list_distinct(toks), ['der','die','und','das','ist','nicht','du','ich','mit','ein'])),
      len(list_intersect(list_distinct(toks), ['le','la','et','les','des','un','une','est','je','pas'])),
      len(list_intersect(list_distinct(toks), ['el','los','y','de','que','en','se','para','con','por']))) THEN 'de'
    WHEN len(list_intersect(list_distinct(toks), ['le','la','et','les','des','un','une','est','je','pas'])) = greatest(
      len(list_intersect(list_distinct(toks), ['le','la','et','les','des','un','une','est','je','pas'])),
      len(list_intersect(list_distinct(toks), ['el','los','y','de','que','en','se','para','con','por']))) THEN 'fr'
    ELSE 'es'
  END AS lang_pred
FROM toks""",
    "doc_fingerprint": """
SELECT doc_id, md5(lower(regexp_replace(text, '[^A-Za-z0-9]+', '', 'g'))) AS fp
FROM documents""",
    "bpe_token_count": r"""
SELECT doc_id,
  CAST(len(list_filter(
    regexp_extract_all(text, '(''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+|\s+)', 1),
    x -> NOT regexp_matches(x, '^\s+$'))) AS INT) AS n_bpe_tokens
FROM documents""",
    "dedup_exact": """
WITH keyed AS (SELECT doc_id, md5(text) AS dup_group FROM documents),
groups AS (SELECT dup_group, min(doc_id) AS canonical_id FROM keyed GROUP BY dup_group)
SELECT k.doc_id, k.dup_group, g.canonical_id, k.doc_id = g.canonical_id AS is_canonical
FROM keyed k JOIN groups g USING (dup_group)""",
    "dedup_exact_norm": """
WITH keyed AS (
  SELECT doc_id,
         md5(lower(regexp_replace(text, '[^A-Za-z0-9]+', '', 'g'))) AS dup_group
  FROM documents
),
groups AS (SELECT dup_group, min(doc_id) AS canonical_id FROM keyed GROUP BY dup_group)
SELECT k.doc_id, k.dup_group, g.canonical_id, k.doc_id = g.canonical_id AS is_canonical
FROM keyed k JOIN groups g USING (dup_group)""",
    # the oracle computes jaccard over ALL shingle-sharing pairs then
    # restricts to the capped candidate set — value-identical to the capped
    # Spark plan (the cap only prunes PAIR GENERATION, not the values)
    "dedup_ngram_jaccard": DUCK_SHINGLES + f""",
nostop AS (
  SELECT s.doc_id, s.shingle FROM shingles s
  JOIN (SELECT shingle FROM shingles GROUP BY shingle
        HAVING count(*) <= {NGRAM_DF_CAP}) f USING (shingle)
),
candp AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM nostop a JOIN nostop b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
)
SELECT j.id_a, j.id_b, j.jaccard
FROM jac j JOIN candp c ON c.id_a = j.id_a AND c.id_b = j.id_b
WHERE j.jaccard >= 0.5""",
    "dedup_minhash_lsh": DUCK_MINHASH + "SELECT id_a, id_b, jaccard FROM mh_pairs",
    "dedup_incremental": DUCK_MINHASH
    + "SELECT id_a, id_b, jaccard FROM mh_pairs WHERE id_a % 4 = 0 OR id_b % 4 = 0",
    # containment over the SAME capped candidate set as dedup_ngram_jaccard;
    # intersections exact (stop shingles still count), denominator = smaller set
    "dedup_containment": DUCK_SHINGLES + f""",
nostop AS (
  SELECT s.doc_id, s.shingle FROM shingles s
  JOIN (SELECT shingle FROM shingles GROUP BY shingle
        HAVING count(*) <= {NGRAM_DF_CAP}) f USING (shingle)
),
candp AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM nostop a JOIN nostop b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       round(i.n_inter / least(sa.n_sh, sb.n_sh) + 0.000000001, 4) AS containment
FROM candp c
JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE round(i.n_inter / least(sa.n_sh, sb.n_sh) + 0.000000001, 4) >= {CONTAINMENT_THRESHOLD}""",
    "decontaminate": f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, CAST(i AS INT), CAST(i AS INT) + {DECON_NGRAM - 1}), ' ') AS shingle
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {DECON_NGRAM - 2})) AS i
        FROM toks WHERE len(toks) >= {DECON_NGRAM})
),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {EVAL_MOD} = 0),
tr AS (SELECT * FROM sh WHERE doc_id % {EVAL_MOD} <> 0),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY doc_id),
hits AS (SELECT doc_id, count(*) AS n_hit FROM tr JOIN ev USING (shingle) GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(z.n_sh, 0) AS INT) AS n_shingles,
       CAST(coalesce(h.n_hit, 0) AS INT) AS n_contaminated,
       round(coalesce(h.n_hit, 0) / greatest(coalesce(z.n_sh, 0), 1) + 0.000000001, 4) AS contamination,
       coalesce(h.n_hit, 0) > 0 AS is_contaminated
FROM documents d
LEFT JOIN sizes z USING (doc_id)
LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % {EVAL_MOD} <> 0""",
    "corpus_sample": f"""
SELECT doc_id, source, lang FROM documents
WHERE CAST(('0x' || substring(md5('sample' || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
      < {int(round(SAMPLE_RATE * 10000))}""",
    "corpus_mix": """
SELECT doc_id, source, lang FROM documents
WHERE CAST(('0x' || substring(md5('mix' || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
      < (CASE source """ + " ".join(
        f"WHEN '{s}' THEN {int(round(r * 10000))}"
        for s, r in sorted(MIX_WEIGHTS.items())
    ) + " ELSE 0 END)",
    "shard_assign": """
SELECT CAST(CAST(('0x' || substring(md5('shard' || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS INT) AS shard_id,
       CAST(count(*) AS INT) AS n_docs,
       CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens
FROM documents GROUP BY 1""",
    "repetition_stats": """
WITH toks AS MATERIALIZED (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
),
t AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
tc AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok),
pt AS (SELECT doc_id, sum(c) AS n_tok, count(*) AS n_dist, max(c) AS top_tok
       FROM tc GROUP BY doc_id),
g AS (
  SELECT doc_id,
         array_to_string(list_slice(toks, CAST(i AS INT), CAST(i AS INT) + 1), ' ') AS gram
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        FROM toks WHERE len(toks) >= 2)
),
gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
pg AS (SELECT doc_id, max(c) AS top_gram FROM gc GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(pt.n_tok, 0) AS INT) AS n_tokens,
       CAST(coalesce(pt.n_dist, 0) AS INT) AS n_distinct_tokens,
       round((coalesce(pt.n_tok, 0) - coalesce(pt.n_dist, 0))
             / greatest(coalesce(pt.n_tok, 0), 1) + 0.000000001, 4) AS dup_token_frac,
       round(coalesce(pt.top_tok, 0) / greatest(coalesce(pt.n_tok, 0), 1) + 0.000000001, 4) AS top_token_frac,
       CAST(coalesce(pg.top_gram, 0) AS INT) AS top_bigram_count,
       round(2 * coalesce(pg.top_gram, 0) / greatest(coalesce(pt.n_tok, 0), 1) + 0.000000001, 4) AS top_bigram_frac
FROM documents d
LEFT JOIN pt USING (doc_id)
LEFT JOIN pg USING (doc_id)""",
    # boilerplate: positioned 5-grams -> doc-frequency >= 3 filter ->
    # gaps-and-islands merge of overlapping/adjacent windows (running max
    # of span ends) — the same three stages as operators.corpus_quality
    "boilerplate_spans": """
WITH toks AS MATERIALIZED (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(list_slice(toks, CAST(i AS INT), CAST(i AS INT) + 4), ' ') AS gram
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
        FROM toks WHERE len(toks) >= 5)
),
hot AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
marked AS (SELECT g.doc_id, g.pos FROM grams g JOIN hot USING (gram)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS new_isl
  FROM marked
),
islands AS (
  SELECT doc_id, pos, sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM flagged
)
SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + 4 AS INT) AS span_end,
       CAST(max(pos) + 4 - min(pos) + 1 AS INT) AS span_tokens
FROM islands GROUP BY doc_id, isl""",
    "scrub_boilerplate": """
WITH toks AS MATERIALIZED (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(list_slice(toks, CAST(i AS INT), CAST(i AS INT) + 4), ' ') AS gram
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
        FROM toks WHERE len(toks) >= 5)
),
hot AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
marked AS (SELECT g.doc_id, g.pos FROM grams g JOIN hot USING (gram)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS new_isl
  FROM marked
),
islands AS (
  SELECT doc_id, pos, sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM flagged
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e FROM islands GROUP BY doc_id, isl
),
covered AS (SELECT doc_id, CAST(unnest(range(s, e + 1)) AS INT) AS pos FROM spans),
tok_rows AS (
  SELECT doc_id, CAST(i AS INT) AS pos, toks[CAST(i AS INT)] AS tok
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM toks)
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM tok_rows t
  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean, count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, coalesce(a.clean, '') AS clean_text,
       CAST(len(d.toks) AS INT) AS n_tokens,
       CAST(len(d.toks) - coalesce(a.n_kept, 0) AS INT) AS n_removed_tokens
FROM toks d LEFT JOIN agg a USING (doc_id)""",
    "dedup_groups": DUCK_MINHASH + """,
edges AS (
  SELECT id_a AS src, id_b AS dst FROM mh_pairs
  UNION ALL SELECT id_b, id_a FROM mh_pairs
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node
  ) SELECT * FROM r
)
SELECT node AS doc_id, min(root) AS dup_group,
       (node = min(root)) AS is_canonical
FROM reach GROUP BY node""",
    "dedup_simhash": DUCK_TOKENS + """,
tok_h AS (
  SELECT DISTINCT doc_id, tok,
         CAST(('0x' || substring(md5('sim' || '|' || tok), 1, 15)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM toks)
),
votes AS (
  SELECT doc_id, CAST(b AS INT) AS bit, sum(((h >> CAST(b AS INT)) & 1) * 2 - 1) AS v
  FROM tok_h, (SELECT unnest(range(0, 32)) AS b)
  GROUP BY doc_id, b
),
sims AS (
  SELECT doc_id, sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS simhash
  FROM votes GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, simhash, CAST(c AS INT) AS chunk,
         (simhash >> (CAST(c AS INT) * 8)) & 255 AS chunk_val
  FROM sims, (SELECT unnest(range(0, 4)) AS c)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3""",
    "embed_cosine_pairs": """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) + 0.000000001, 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) + 0.000000001, 4) >= 0.35""",
    "embed_lsh_ann": _lsh_ann_oracle_sql(threshold=0.35),
    "ann_ivf_topk": """
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) + 0.000000001, 4) AS cosine,
         CAST(row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) + 0.000000001, 4) DESC, c.vec_id ASC
         ) AS INT) AS rank
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 10
) WHERE rank <= 5""",
    "ann_cosine_topk": """
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) + 0.000000001, 4) AS cosine,
         CAST(row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) + 0.000000001, 4) DESC, c.vec_id ASC
         ) AS INT) AS rank
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 10
) WHERE rank <= 5""",
    "event_sessions": """
WITH e AS (
  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
),
m AS (
  SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
            THEN 1 ELSE 0 END AS brk
  FROM e
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM m
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
       CAST(count(*) AS INT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_value_cents
FROM s GROUP BY user_id, sess""",
    "event_json_stats": """
SELECT event_type,
       CAST(count(*) AS INT) AS n_events,
       CAST(coalesce(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)), 0) AS BIGINT) AS sum_k,
       CAST(count(DISTINCT user_id) AS INT) AS n_users
FROM events GROUP BY event_type""",
    # the formulas below mirror operators/multimodal.py::_gen_payload — the
    # Spark side PARSES real PNG/WAV/AVI bytes, the oracle recomputes the
    # generator's doc_id arithmetic
    "multimodal_meta": """
SELECT doc_id,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  CASE WHEN doc_id % 3 = 0 THEN CAST(16 + doc_id % 48 AS INT)
       WHEN doc_id % 3 = 2 THEN CAST(8 + doc_id % 32 AS INT) END AS width,
  CASE WHEN doc_id % 3 = 0 THEN CAST(16 + (doc_id // 2) % 32 AS INT)
       WHEN doc_id % 3 = 2 THEN CAST(8 + (doc_id // 2) % 24 AS INT) END AS height,
  CASE WHEN doc_id % 3 = 1 THEN CAST((800 + doc_id % 8000) // 8 AS INT)
       WHEN doc_id % 3 = 2 THEN CAST((10 + doc_id % 120) * 40 AS INT) END AS duration_ms
FROM documents""",
    # thumb_pix0 = source pixel (0,0): image pixel formula (id*31 + idx*7) % 256
    # at idx 0; video frame-0 DIB pixel formula (id*7 + i*13 + y*5 + x*3) % 256
    # at (i, x, y) = 0 — nearest-neighbor maps target (0,0) to source (0,0)
    "multimodal_resize": """
SELECT doc_id,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' ELSE 'video' END AS kind,
  CASE WHEN doc_id % 3 = 0 THEN CAST(16 + doc_id % 48 AS INT)
       ELSE CAST(8 + doc_id % 32 AS INT) END AS src_width,
  CASE WHEN doc_id % 3 = 0 THEN CAST(16 + (doc_id // 2) % 32 AS INT)
       ELSE CAST(8 + (doc_id // 2) % 24 AS INT) END AS src_height,
  CAST(32 AS INT) AS width,
  CAST(32 AS INT) AS height,
  CASE WHEN doc_id % 3 = 0 THEN CAST((doc_id * 31) % 256 AS INT)
       ELSE CAST((doc_id * 7) % 256 AS INT) END AS thumb_pix0
FROM documents WHERE doc_id % 3 IN (0, 2)""",
    # frame_len = 4-byte-stride DIB size; pix0 = decoded top-left pixel of the
    # stored frame covering ts (stored = least(i*25, nf-1) at 25 fps / 1000 ms)
    "multimodal_frames": """
SELECT doc_id, CAST(i AS INT) AS frame_idx, CAST(i * 1000 AS INT) AS ts_ms,
       CAST(((8 + doc_id % 32 + 3) // 4) * 4 * (8 + (doc_id // 2) % 24) AS INT) AS frame_len,
       CAST((doc_id * 7 + least(i * 25, 10 + doc_id % 120 - 1) * 13) % 256 AS INT) AS pix0
FROM (
  SELECT doc_id,
         unnest(range(0, least(32, ((10 + doc_id % 120) * 40) // 1000 + 1))) AS i
  FROM documents WHERE doc_id % 3 = 2
)""",
    "embed_semdedup": _semdedup_oracle_sql(threshold=0.35),
    "dedup_keep_best": DUCK_MINHASH + f""",
edges AS (
  SELECT id_a AS src, id_b AS dst FROM mh_pairs
  UNION ALL SELECT id_b, id_a FROM mh_pairs
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node
  ) SELECT * FROM r
),
grp AS (
  SELECT node AS doc_id, min(root) AS dup_group FROM reach GROUP BY node
),
q AS (SELECT doc_id, quality_score FROM ({TEXT_STATS_SQL})),
ranked AS (
  SELECT g.doc_id, g.dup_group, q.quality_score,
         row_number() OVER (
           PARTITION BY g.dup_group
           ORDER BY q.quality_score DESC, g.doc_id ASC
         ) AS rn
  FROM grp g JOIN q ON q.doc_id = g.doc_id
)
SELECT doc_id, dup_group, quality_score, (rn = 1) AS is_kept FROM ranked""",
    "tfidf_terms": DUCK_TOKENS + f""",
terms AS (SELECT doc_id, unnest(toks) AS term FROM toks),
tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
nd AS (SELECT count(*) AS n FROM documents),
dfq AS (
  SELECT term,
         CAST(round(ln((nd.n + 1) / (count(*) + 1.0)) * {analytics.IDF_SCALE}) AS BIGINT) AS idf_1e4
  FROM tf, nd GROUP BY term, nd.n
),
scored AS MATERIALIZED (
  SELECT tf.doc_id, tf.term, CAST(tf.tf AS INT) AS tf, dfq.idf_1e4,
         CAST(tf.tf * dfq.idf_1e4 AS BIGINT) AS tfidf_1e4
  FROM tf JOIN dfq USING (term)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf_1e4 DESC, term ASC
  ) AS rank
  FROM scored
)
SELECT doc_id, term, tf, idf_1e4, tfidf_1e4, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3""",
    "event_gap_stats": """
WITH g AS (
  SELECT user_id, value,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS gap_us
  FROM events
)
SELECT user_id, CAST(count(*) AS INT) AS n_events,
       CAST(coalesce(sum(gap_us), 0) AS BIGINT) AS sum_gap_us,
       CAST(coalesce(max(gap_us), 0) AS BIGINT) AS max_gap_us,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM g GROUP BY user_id""",
    "corpus_rollup": """
SELECT coalesce(lang, '<all>') AS lang,
       coalesce(source, '<all>') AS source,
       CAST(grouping(lang) * 2 + grouping(source) AS INT) AS grouping_lvl,
       CAST(count(*) AS INT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY ROLLUP (lang, source)""",
    "stream_event_windows": """
SELECT epoch_us(time_bucket(INTERVAL '6 hours', ts)) AS window_start_us,
       event_type,
       CAST(count(*) AS INT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY 1, 2""",
    # connector parity: JSON/ORC roundtrips must reproduce the parquet rows
    "transcripts_json": LINKAGE_ORACLES["transcripts"],
    "transcripts_orc": LINKAGE_ORACLES["transcripts"],
    # stateful reassembly must reproduce batch canonicalization exactly
    "stream_reassembly": DUCK_TRANSCRIPTS
    + "SELECT conv_id, n_turns, fingerprint FROM canonical2",
    # independent oracle: DuckDB's NATIVE ASOF JOIN (vs the union+window
    # re-expression on the Spark side). Inclusive at-or-before semantics
    # on both sides; no (user_id, ts) ties exist in the events tables, so
    # the tie convention can't bite.
    "events_asof": """
WITH probe AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
build AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT p.event_id AS probe_id,
       epoch_us(p.ts) AS probe_us,
       CAST(coalesce(b.event_id, -1) AS BIGINT) AS match_id,
       CAST(coalesce(epoch_us(p.ts) - epoch_us(b.ts), -1) AS BIGINT) AS lag_us
FROM probe p ASOF LEFT JOIN build b
  ON p.user_id = b.user_id AND p.ts >= b.ts""",
    # oracle = the raw inequality join the bucketed band join re-expresses
    "events_range_agg": """
WITH probe AS (
  SELECT event_id, user_id, epoch_us(ts) AS us
  FROM events WHERE event_type = 'error'
),
build AS (
  SELECT user_id, epoch_us(ts) AS us, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'click'
)
SELECT p.event_id AS probe_id, p.us AS probe_us,
       CAST(count(b.us) AS INT) AS n_in_range,
       CAST(coalesce(sum(b.cents), 0) AS BIGINT) AS sum_cents
FROM probe p LEFT JOIN build b
  ON p.user_id = b.user_id
 AND b.us >= p.us - 3600000000 AND b.us < p.us
GROUP BY p.event_id, p.us""",
    "stream_dedup": DUCK_TRANSCRIPTS + """
, keyed AS (
  SELECT conv_id, turn_idx, md5(lower(text)) AS dup_group FROM transcripts
),
ranked AS (
  SELECT dup_group, conv_id, turn_idx,
         row_number() OVER (
           PARTITION BY dup_group ORDER BY conv_id, turn_idx) AS rn,
         count(*) OVER (PARTITION BY dup_group) AS n_occ
  FROM keyed
)
SELECT dup_group, conv_id AS canonical_conv, turn_idx AS canonical_turn,
       CAST(n_occ AS INT) AS n_occurrences
FROM ranked WHERE rn = 1""",
    "dedup_turns": DUCK_TRANSCRIPTS + """
, keyed AS (
  SELECT conv_id, turn_idx, lower(text) AS norm FROM transcripts
)
SELECT conv_id, turn_idx,
       CAST(count(*) OVER (PARTITION BY norm) AS INT) AS n_occurrences,
       (row_number() OVER (
          PARTITION BY norm ORDER BY conv_id, turn_idx) > 1) AS is_dup
FROM keyed""",
    "event_running_totals": """
SELECT event_id, user_id,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
  CAST(count(*) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS running_n,
  CAST(ntile(4) OVER (
    PARTITION BY user_id
    ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id ASC) AS INT)
    AS value_quartile
FROM events""",
    # same chunk grid as operators/chunking.py: W=64, S=48, starts
    # 0..(nb-1)*S with nb-1 = ceil((n-W)/S) = (n-W+S-1) // S for n > W
    "doc_chunks": DUCK_TOKENS + """,
sized AS (SELECT doc_id, toks, len(toks) AS n FROM toks WHERE len(toks) > 0),
grid AS (
  SELECT doc_id, toks,
         unnest(generate_series(
           0,
           CASE WHEN n <= 64 THEN 0 ELSE ((n - 64 + 47) // 48) * 48 END,
           48)) AS start_tok
  FROM sized
),
chunks AS (
  SELECT doc_id, CAST(start_tok // 48 AS INT) AS chunk_idx,
         CAST(start_tok AS INT) AS start_tok,
         list_slice(toks, start_tok + 1, start_tok + 64) AS chunk
  FROM grid
)
SELECT doc_id, chunk_idx, start_tok,
       CAST(len(chunk) AS INT) AS n_chunk_tokens,
       array_to_string(chunk, ' ') AS chunk_text,
       md5(array_to_string(chunk, ' ')) AS chunk_hash
FROM chunks""",
    "corpus_pivot": """
SELECT source,
  CAST(count(*) FILTER (WHERE lang = 'de') AS INT) AS n_de,
  CAST(count(*) FILTER (WHERE lang = 'en') AS INT) AS n_en,
  CAST(count(*) FILTER (WHERE lang = 'es') AS INT) AS n_es,
  CAST(count(*) FILTER (WHERE lang = 'fr') AS INT) AS n_fr,
  CAST(count(*) FILTER (WHERE lang = 'zh') AS INT) AS n_zh
FROM documents GROUP BY source""",
    "corpus_unpivot": """
WITH wide AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM documents GROUP BY source
)
SELECT source, 'n_docs' AS metric, n_docs AS value FROM wide
UNION ALL SELECT source, 'sum_chars', sum_chars FROM wide
UNION ALL SELECT source, 'n_langs', n_langs FROM wide""",
    # exact nearest-rank deciles over the n_chars value histogram —
    # rank = ceil(p*n/10) in integer arithmetic, identical to the Spark plan
    "length_deciles": """
WITH hist AS (SELECT n_chars AS value, count(*) AS cnt FROM documents GROUP BY n_chars),
cum AS (
  SELECT value, cnt, sum(cnt) OVER (
    ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
tot AS (SELECT count(*) AS n FROM documents),
dec AS (
  SELECT d AS decile, CAST((d * n + 9) // 10 AS BIGINT) AS rank
  FROM (SELECT unnest(generate_series(1, 9)) AS d), tot
)
SELECT CAST(decile AS INT) AS decile, rank, CAST(value AS BIGINT) AS value
FROM cum JOIN dec ON cum.cum >= dec.rank AND cum.cum - cum.cnt < dec.rank""",
    # same per-shard cumulative-offset packing grid as pack_sequences
    "seq_pack": DUCK_TOKENS + """,
sized AS (
  SELECT d.source AS shard, t.doc_id, len(t.toks) AS n
  FROM toks t JOIN documents d USING (doc_id)
  WHERE len(t.toks) > 0
),
cum AS (
  SELECT shard, doc_id, n,
         sum(n) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS off
  FROM sized
)
SELECT shard, doc_id, CAST(n AS INT) AS n_tokens,
       CAST(off AS BIGINT) AS offset_in_shard,
       CAST(off // 128 AS INT) AS first_seq,
       CAST((off + n - 1) // 128 AS INT) AS last_seq,
       CAST((off + n - 1) // 128 - off // 128 AS INT) AS n_boundary_splits
FROM cum""",
    # sketch estimate (matching components / 16) vs exact jaccard per LSH
    # candidate; collision-only candidates coalesce to jaccard 0.0
    "dedup_minhash_est": DUCK_MINHASH + """,
est AS (
  SELECT c.id_a, c.id_b,
         CAST(count(*) FILTER (WHERE sa.minhash = sb.minhash) AS INT) AS est_16
  FROM cands c
  JOIN sigs sa ON sa.doc_id = c.id_a
  JOIN sigs sb ON sb.doc_id = c.id_b AND sb.perm = sa.perm
  GROUP BY c.id_a, c.id_b
)
SELECT e.id_a, e.id_b, e.est_16,
       coalesce(j.jaccard, 0.0) AS jaccard,
       CAST(round(abs(e.est_16 / 16.0 - coalesce(j.jaccard, 0.0)) * 10000) AS BIGINT)
         AS abs_err_1e4
FROM est e LEFT JOIN jac j ON j.id_a = e.id_a AND j.id_b = e.id_b""",
    # int8 symmetric quantization: identical double-precision expression
    # shape as ann.quantize_embeddings (cast-to-double first, then
    # x*127.0/scale, round half away from zero)
    "embed_quantize": """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
),
sc AS (SELECT vec_id, dv, list_max(list_transform(dv, x -> abs(x))) AS scale FROM base),
qv AS (
  SELECT vec_id, scale, len(dv) AS n_dims,
    CASE WHEN scale = 0 THEN list_transform(dv, x -> 0)
         ELSE list_transform(dv, x -> CAST(round(x * 127.0 / scale) AS INT))
    END AS q
  FROM sc
)
SELECT vec_id, CAST(n_dims AS INT) AS n_dims,
  CAST(round(scale * 1000000) AS BIGINT) AS scale_1e6,
  CAST(list_sum(q) AS BIGINT) AS sum_q,
  array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ',') AS qvec_csv
FROM qv""",
    "corpus_cube": """
SELECT coalesce(lang, '<all>') AS lang,
       coalesce(source, '<all>') AS source,
       CAST(grouping(lang) * 2 + grouping(source) AS INT) AS grouping_lvl,
       CAST(count(*) AS INT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY CUBE (lang, source)""",
    # hopping windows: every event lands in exactly window/slide = 3
    # epoch-aligned windows (its own 10-minute bucket and the two before),
    # since ts < bucket + slide <= (bucket - 2*slide) + window
    "event_hop_windows": """
SELECT CAST(epoch_us(time_bucket(INTERVAL '10 minutes', ts)) - k * 600000000 AS BIGINT)
         AS window_start_us,
       event_type,
       CAST(count(*) AS INT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events, (SELECT unnest(range(0, 3)) AS k) ks
GROUP BY 1, 2""",
    # positional zip of keys/values re-derives the flat integer-valued JSON
    # object generically — key discovery itself is gated, not hardcoded
    "event_props_map": """
WITH entries AS (
  SELECT unnest(regexp_extract_all(props, '"([^"]+)"\\s*:', 1)) AS key,
         CAST(unnest(regexp_extract_all(props, ':\\s*(-?\\d+)', 1)) AS BIGINT) AS val
  FROM events
)
SELECT key, CAST(count(*) AS INT) AS n_events,
       CAST(sum(val) AS BIGINT) AS sum_val,
       CAST(min(val) AS BIGINT) AS min_val,
       CAST(max(val) AS BIGINT) AS max_val
FROM entries GROUP BY key""",
    "event_variant_stats": """
WITH k AS (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, CAST(count(*) AS INT) AS n_events,
       CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_k,
       CAST(coalesce(min(k), 0) AS BIGINT) AS min_k,
       CAST(coalesce(max(k), 0) AS BIGINT) AS max_k
FROM k GROUP BY event_type""",
    "corpus_top_docs": """
SELECT doc_id, n_chars, lang FROM documents
ORDER BY n_chars DESC, doc_id ASC LIMIT 20""",
}

def _merge_plan_oracle(rounds: int) -> str:
    """Unrolled general-graph locally-dominant peel over mh_pairs — the SQL
    mirror of one_to_one(bipartite=False): symmetrize to an incidence list,
    per-node preferred edge, keep edges preferred twice, remove matched
    nodes, repeat."""
    parts = [DUCK_MINHASH + """,
g_rem0 AS MATERIALIZED (SELECT id_a, id_b, jaccard FROM mh_pairs)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
g_pref{k} AS (
  SELECT id_a, id_b, jaccard FROM (
    SELECT id_a, id_b, jaccard,
           row_number() OVER (PARTITION BY node
                              ORDER BY jaccard DESC, id_a, id_b) AS r
    FROM (SELECT id_a AS node, id_a, id_b, jaccard FROM g_rem{k - 1}
          UNION ALL
          SELECT id_b, id_a, id_b, jaccard FROM g_rem{k - 1})
  ) WHERE r = 1
),
g_dom{k} AS MATERIALIZED (
  SELECT id_a, id_b, min(jaccard) AS jaccard, {k} AS round
  FROM g_pref{k} GROUP BY id_a, id_b HAVING count(*) = 2
),
g_rem{k} AS MATERIALIZED (
  SELECT r.* FROM g_rem{k - 1} r
  WHERE r.id_a NOT IN (SELECT id_a FROM g_dom{k} UNION ALL SELECT id_b FROM g_dom{k})
    AND r.id_b NOT IN (SELECT id_a FROM g_dom{k} UNION ALL SELECT id_b FROM g_dom{k})
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT id_a, id_b, jaccard, CAST(round AS INT) AS round FROM g_dom{k}"
        for k in range(1, rounds + 1)
    )
    return "".join(parts) + "\n" + union


DATA_ORACLES["dedup_merge_plan"] = _merge_plan_oracle(_PEEL_UNROLL)


DATA_ORACLES["event_trailing_window"] = """
SELECT event_id, user_id, epoch_us(ts) AS us,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS trail_1h_cents,
       count(*) OVER w AS trail_1h_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"""


DATA_ORACLES["event_funnel"] = """
WITH s1 AS (
  SELECT user_id, min(epoch_us(ts)) AS view_us
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS click_us
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.view_us
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS purchase_us
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.click_us
  GROUP BY e.user_id
)
SELECT s1.user_id, s1.view_us, s2.click_us, s3.purchase_us,
       CAST(1 + (CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END) AS INT) AS stage
FROM s1
LEFT JOIN s2 ON s2.user_id = s1.user_id
LEFT JOIN s3 ON s3.user_id = s1.user_id"""


DATA_QUERIES = {
    "text_stats": q_text_stats,
    "text_scrub": q_text_scrub,
    "quality_filter": q_quality_filter,
    "bpe_token_count": q_bpe_token_count,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "dedup_exact": q_dedup_exact,
    "dedup_exact_norm": q_dedup_exact_norm,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_incremental": q_dedup_incremental,
    "dedup_merge_plan": q_dedup_merge_plan,
    "dedup_simhash": q_dedup_simhash,
    "dedup_containment": q_dedup_containment,
    "dedup_groups": q_dedup_groups,
    "decontaminate": q_decontaminate,
    "repetition_stats": q_repetition_stats,
    "corpus_sample": q_corpus_sample,
    "corpus_mix": q_corpus_mix,
    "shard_assign": q_shard_assign,
    "embed_cosine_pairs": q_embed_cosine_pairs,
    "ann_cosine_topk": q_ann_topk,
    "embed_lsh_ann": q_embed_lsh_ann,
    "ann_ivf_topk": q_ann_ivf_topk,
    "event_sessions": q_event_sessions,
    "event_funnel": q_event_funnel,
    "event_trailing_window": q_event_trailing_window,
    "event_json_stats": q_event_json_stats,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_frames": q_multimodal_frames,
    "embed_semdedup": q_embed_semdedup,
    "dedup_keep_best": q_dedup_keep_best,
    "tfidf_terms": q_tfidf_terms,
    "event_gap_stats": q_event_gap_stats,
    "corpus_rollup": q_corpus_rollup,
    "stream_event_windows": q_stream_event_windows,
    "transcripts_json": q_transcripts_json,
    "transcripts_orc": q_transcripts_orc,
    "stream_reassembly": q_stream_reassembly,
    "event_running_totals": q_event_running_totals,
    "events_asof": q_events_asof,
    "events_range_agg": q_events_range_agg,
    "dedup_turns": q_dedup_turns,
    "stream_dedup": q_stream_dedup,
    "doc_chunks": q_doc_chunks,
    "seq_pack": q_seq_pack,
    "dedup_minhash_est": q_dedup_minhash_est,
    "corpus_pivot": q_corpus_pivot,
    "corpus_unpivot": q_corpus_unpivot,
    "length_deciles": q_length_deciles,
    "embed_quantize": q_embed_quantize,
    "corpus_cube": q_corpus_cube,
    "event_hop_windows": q_event_hop_windows,
    "event_props_map": q_event_props_map,
    "event_variant_stats": q_event_variant_stats,
    "corpus_top_docs": q_corpus_top_docs,
    # registered LAST on purpose: keeps every previously-registered entry's
    # position stable under a driver capture that truncates at 50 entries
    "boilerplate_spans": q_boilerplate_spans,
    "scrub_boilerplate": q_scrub_boilerplate,
}


# ---------------------------------------------------------------------------
# Round-4 additions: waterfall (multi-pass) linkage, clerical-adjudication
# loop closure, and the trigram-LM corpus-quality scorer
# ---------------------------------------------------------------------------

def q_waterfall_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waterfall mastering through the hard gate: the corpus is augmented
    with byte-identical replicas ('f<doc_id>' mirrors 'c<doc_id>' for
    doc_id % 5 == 0, the same deterministic-augmentation trick the 'd'/'e'
    near-dups use), then the two-pass plan runs — deterministic exact pass
    (operators.waterfall.exact_groups/exact_pairs, distance 0 without
    touching the kernel), fuzzy kernel pass on one REPRESENTATIVE per
    distinct fingerprint only, expanded back to member pairs. Because
    blocking keys and edit distance are functions of the fingerprint,
    contraction is a logical no-op: the result must equal single-pass
    matches over the augmented corpus, which the oracle derives from the
    base `matches` CTE by relabeling (fp('fN') == fp('cN') implies every
    f-involving pair is a relabeled base pair plus the (cN, fN, 0) pairs).
    At 10^12-turn scale this is the headline cost lever: kernel calls drop
    from O(candidate pairs) to O(distinct-fingerprint pairs)."""
    from .operators.waterfall import exact_groups, exact_pairs, expand_rep_matches

    ship_package(spark)
    canon = _canonical(spark, sf_dir).select("conv_id", "fingerprint", "fp_len")
    doc_num = F.expr("CAST(substring(conv_id, 2) AS BIGINT)")
    repl = (
        canon.filter(F.col("conv_id").startswith("c") & (doc_num % 5 == 0))
        .withColumn("conv_id", F.concat(F.lit("f"), F.expr("substring(conv_id, 2)")))
    )
    aug = canon.unionByName(repl)
    mapping = exact_groups(aug)
    exact = exact_pairs(mapping).withColumn("distance", F.lit(0).cast("int"))
    reps = aug.join(mapping.select(F.col("rep").alias("conv_id")).distinct(), "conv_id")
    sig = reps.withColumn("sig", F.expr(f"substring(fingerprint, 1, {SIG_LEN})"))
    keys = sig.select(
        "conv_id", F.explode(deletion_neighborhood("sig", 1)).alias("block_key")
    ).distinct()
    pairs = (
        keys.select(F.col("conv_id").alias("_ida"), "block_key")
        .join(keys.select(F.col("conv_id").alias("_idb"), "block_key"), "block_key")
        .filter(F.col("_ida") < F.col("_idb"))
        .select(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"))
        .distinct()
    )
    rep_matches = score_pairs(
        pairs, reps, LinkConfig(algorithm="standard", max_distance=2)
    ).filter(F.col("distance") <= 2)
    fuzzy = expand_rep_matches(rep_matches, mapping)
    return exact.unionByName(fuzzy)


LINKAGE_QUERIES["waterfall_linkage"] = q_waterfall_linkage
LINKAGE_ORACLES["waterfall_linkage"] = DUCK_TRANSCRIPTS + """,
repl AS MATERIALIZED (
  SELECT 'c' || CAST(doc_id AS VARCHAR) AS c_id,
         'f' || CAST(doc_id AS VARCHAR) AS f_id
  FROM documents WHERE doc_id % 5 = 0
),
aug AS (
  SELECT id_a, id_b, distance FROM matches
  UNION
  SELECT least(r.f_id, m.id_b), greatest(r.f_id, m.id_b), m.distance
  FROM matches m JOIN repl r ON r.c_id = m.id_a
  UNION
  SELECT least(m.id_a, r.f_id), greatest(m.id_a, r.f_id), m.distance
  FROM matches m JOIN repl r ON r.c_id = m.id_b
  UNION
  SELECT least(ra.f_id, rb.f_id), greatest(ra.f_id, rb.f_id), m.distance
  FROM matches m
  JOIN repl ra ON ra.c_id = m.id_a
  JOIN repl rb ON rb.c_id = m.id_b
  UNION
  SELECT least(c_id, f_id), greatest(c_id, f_id), 0 FROM repl
)
SELECT id_a, id_b, CAST(distance AS INT) AS distance FROM aug"""


def q_clusters_adjudicated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clerical-review loop closure through the hard gate: a deterministic
    10% sample of the scored stream (portable 60-bit md5 bucket — the same
    hash family as corpus_sample, recomputable in DuckDB) plays the role of
    reviewer decisions: sampled MATCHES are rejected, sampled NON-matches
    (banded distance sentinel > n) are accepted, then
    operators.clustering.apply_adjudications folds both into the match
    graph and re-runs transitive closure. Exercises both edit directions
    plus the broadcast anti-join/union shape that keeps the match stream
    unshuffled before CC."""
    from .functions.text import portable_hash64
    from .operators.clustering import apply_adjudications

    ship_package(spark)
    scored = q_score_pairs(spark, sf_dir)
    bucket = portable_hash64(F.lit("adjudicate"), F.col("id_a"), F.col("id_b")) % 10
    adjudications = (
        scored.withColumn("_b", bucket)
        .filter(F.col("_b") == 0)
        .select(
            "id_a", "id_b",
            F.when(F.col("distance") <= 2, F.lit("reject"))
            .otherwise(F.lit("accept")).alias("decision"),
        )
    )
    matches = scored.filter(F.col("distance") <= 2).select("id_a", "id_b")
    entities = _canonical(spark, sf_dir).select("conv_id")
    return apply_adjudications(entities, matches, adjudications)


LINKAGE_QUERIES["clusters_adjudicated"] = q_clusters_adjudicated
LINKAGE_ORACLES["clusters_adjudicated"] = DUCK_TRANSCRIPTS + """,
adjb AS MATERIALIZED (
  SELECT id_a, id_b, distance,
         CAST(('0x' || substring(md5('adjudicate' || '|' || id_a || '|' || id_b), 1, 15)) AS BIGINT) % 10 AS b
  FROM scored
),
accepts AS (SELECT id_a, id_b FROM adjb WHERE b = 0 AND distance > 2),
rejects AS (SELECT id_a, id_b FROM adjb WHERE b = 0 AND distance <= 2),
adjedges AS (
  SELECT e.id_a, e.id_b FROM (
    SELECT id_a, id_b FROM matches UNION ALL SELECT id_a, id_b FROM accepts
  ) e
  WHERE NOT EXISTS (
    SELECT 1 FROM rejects r WHERE r.id_a = e.id_a AND r.id_b = e.id_b
  )
),
nodes AS (SELECT conv_id FROM canonical2),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM adjedges
  UNION ALL SELECT id_b, id_a FROM adjedges
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM nodes
    UNION
    SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node
  ) SELECT * FROM r
)
SELECT node AS conv_id, min(root) AS cluster_id FROM reach GROUP BY node"""


def q_quality_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style self-trained char-trigram LM quality scores over the
    documents table (operators.corpus_quality.trigram_lm_scores)."""
    from .operators.corpus_quality import trigram_lm_scores

    return trigram_lm_scores(_docs(spark, sf_dir))


DATA_QUERIES["quality_lm"] = q_quality_lm
DATA_ORACLES["quality_lm"] = """
WITH d AS MATERIALIZED (
  SELECT doc_id, norm FROM (
    SELECT doc_id,
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g') AS norm
    FROM documents
  ) WHERE length(norm) >= 3
),
tri AS MATERIALIZED (
  SELECT doc_id, substring(norm, CAST(i AS INT), 3) AS tri
  FROM (SELECT doc_id, norm, unnest(range(1, length(norm) - 1)) AS i FROM d)
),
model AS (SELECT tri, count(*) AS c FROM tri GROUP BY tri),
tot AS (SELECT sum(c) AS t_total, count(*) AS v_size FROM model),
model_p AS (
  SELECT tri,
         CAST(round(ln((c + 1) / CAST(t_total + v_size AS DOUBLE)) * 10000) AS BIGINT) AS logp_1e4
  FROM model, tot
),
doc_scored AS (
  SELECT t.doc_id,
         CAST(count(*) AS INT) AS n_trigrams,
         CAST(sum(p.logp_1e4) AS BIGINT) AS logp_sum
  FROM tri t JOIN model_p p ON p.tri = t.tri
  GROUP BY t.doc_id
)
SELECT doc_id, n_trigrams,
       round(logp_sum / 10000.0 / n_trigrams + 0.000000001, 4) AS lm_logprob_avg,
       round(exp(-(logp_sum / 10000.0 / n_trigrams)) + 0.000000001, 4) AS lm_ppl
FROM doc_scored"""


# ---------------------------------------------------------------------------
# Round-4 additions (continued): auxiliary-evidence fusion (temporal decay,
# relational tool profiles), greedy blocking-scheme learning, and
# unsupervised Fellegi–Sunter EM
# ---------------------------------------------------------------------------

def q_temporal_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal record linkage (Li–Dong–Srivastava, PVLDB 4(11) 2011 —
    agreement decay) through the hard gate: each conversation gets a
    deterministic day-of-year (portable 60-bit md5 bucket % 365 — the
    engine-portable stand-in for the transcript's own `ts` column, which
    the derived corpus lacks), and every matched pair's similarity decays
    by the RATIONAL kernel 1/(1 + |Δdays|/τ), τ = 30 days
    (operators.evidence.time_decay_weights; rational, not exp, so both
    engines compute identical doubles before the gate rounding). One
    narrow join per side onto the match stream — nothing quadratic."""
    from .functions.text import gate_round4, portable_hash64
    from .operators.evidence import time_decay_weights

    ship_package(spark)
    days = _canonical(spark, sf_dir).select(
        "conv_id",
        (portable_hash64(F.lit("convday"), F.col("conv_id")) % 365)
        .cast("int").alias("day"),
    )
    out = time_decay_weights(q_matches(spark, sf_dir), days, tau=30.0)
    return out.select(
        "id_a", "id_b", "distance", "delta_ts",
        gate_round4(F.col("decay_w_raw")).alias("decay_w"),
        gate_round4(
            (F.lit(1.0) - F.col("distance") / F.lit(3.0)) * F.col("decay_w_raw")
        ).alias("decayed_sim"),
    )


LINKAGE_QUERIES["temporal_linkage"] = q_temporal_linkage
LINKAGE_ORACLES["temporal_linkage"] = DUCK_TRANSCRIPTS + """,
days AS (
  SELECT conv_id,
         CAST(CAST(('0x' || substring(md5('convday' || '|' || conv_id), 1, 15)) AS BIGINT) % 365 AS INT) AS day
  FROM canonical2
),
tl AS (
  SELECT m.id_a, m.id_b, m.distance,
         CAST(abs(da.day - db.day) AS INT) AS delta_ts,
         1.0 / (1.0 + abs(da.day - db.day) / 30.0) AS w
  FROM matches m
  JOIN days da ON da.conv_id = m.id_a
  JOIN days db ON db.conv_id = m.id_b
)
SELECT id_a, id_b, distance, delta_ts,
       round(w + 0.000000001, 4) AS decay_w,
       round((1.0 - distance / 3.0) * w + 0.000000001, 4) AS decayed_sim
FROM tl"""


def q_collective_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational-evidence fusion (Bhattacharya–Getoor collective ER,
    VLDB J. 2007, one evidence round) through the hard gate: each
    conversation owns a sparse TOOL profile — the input-schema `tool`
    column is empty in the derived corpus, so assistant turns get the
    deterministic stand-in 'tool_' || md5(text)[0] (16 possible tools,
    identical in DuckDB) — and every matched pair fuses its textual
    similarity with the Jaccard overlap of the two profiles
    (operators.evidence.relational_jaccard: sparse (id, item) joins, no
    dense sets, cost ∝ Σ_pairs |common items|)."""
    from .functions.text import gate_round4
    from .operators.evidence import relational_jaccard

    ship_package(spark)
    profile = (
        derive_transcripts(spark, sf_dir)
        .filter(F.col("role") == "assistant")
        .select(
            "conv_id",
            F.concat(F.lit("tool_"), F.substring(F.md5("text"), 1, 1)).alias("item"),
        )
        .distinct()
    )
    out = relational_jaccard(
        q_matches(spark, sf_dir).select("id_a", "id_b", "distance"), profile
    )
    return out.select(
        "id_a", "id_b", "distance", "n_common", "n_union",
        gate_round4(F.col("rel_jaccard_raw")).alias("rel_jaccard"),
        gate_round4(
            0.6 * (F.lit(1.0) - F.col("distance") / F.lit(3.0))
            + 0.4 * F.col("rel_jaccard_raw")
        ).alias("fused"),
    )


LINKAGE_QUERIES["collective_linkage"] = q_collective_linkage
LINKAGE_ORACLES["collective_linkage"] = DUCK_TRANSCRIPTS + """,
profile AS (
  SELECT DISTINCT conv_id, 'tool_' || substring(md5(text), 1, 1) AS item
  FROM transcripts WHERE role = 'assistant'
),
sizes AS (SELECT conv_id, CAST(count(*) AS INT) AS n FROM profile GROUP BY conv_id),
inter AS (
  SELECT m.id_a, m.id_b, CAST(count(*) AS INT) AS n_common
  FROM matches m
  JOIN profile pa ON pa.conv_id = m.id_a
  JOIN profile pb ON pb.conv_id = m.id_b AND pb.item = pa.item
  GROUP BY m.id_a, m.id_b
),
j AS (
  SELECT m.id_a, m.id_b, m.distance,
         coalesce(i.n_common, 0) AS n_common,
         coalesce(sa.n, 0) + coalesce(sb.n, 0) - coalesce(i.n_common, 0) AS n_union
  FROM matches m
  LEFT JOIN inter i ON i.id_a = m.id_a AND i.id_b = m.id_b
  LEFT JOIN sizes sa ON sa.conv_id = m.id_a
  LEFT JOIN sizes sb ON sb.conv_id = m.id_b
)
SELECT id_a, id_b, distance,
       CAST(n_common AS INT) AS n_common,
       CAST(n_union AS INT) AS n_union,
       round(CASE WHEN n_union = 0 THEN 0.0
                  ELSE CAST(n_common AS DOUBLE) / n_union END + 0.000000001, 4) AS rel_jaccard,
       round(0.6 * (1.0 - distance / 3.0)
             + 0.4 * (CASE WHEN n_union = 0 THEN 0.0
                           ELSE CAST(n_common AS DOUBLE) / n_union END)
             + 0.000000001, 4) AS fused
FROM j"""


def q_blocking_scheme_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme LEARNING (Michelson–Knoblock BSL / greedy set
    cover) through the hard gate: the three registered scheme families
    (deletion neighborhood, purged sig q-grams, sorted neighborhood) are
    ranked by individual truth recall, each caught truth pair is
    attributed to its FIRST covering scheme, and the entry emits the
    greedy cumulative recall/cost curve — `eval_scheme_quality` reports
    each scheme in isolation; this answers the budget question "which
    schemes do I KEEP" (operators.metrics.greedy_scheme_selection). The
    GATE entry pins the full banded truth (matching its oracle); at
    sf>=1 callers pass the hash-sampled truth to the operator instead,
    exactly as the BENCH_SF1_EVIDENCE.json run did."""
    from .operators.metrics import greedy_scheme_selection

    return greedy_scheme_selection(
        _scheme_pairs(spark, sf_dir),
        _truth_pairs(spark, sf_dir).select("id_a", "id_b"),
    )


LINKAGE_QUERIES["blocking_scheme_learn"] = q_blocking_scheme_learn
LINKAGE_ORACLES["blocking_scheme_learn"] = (
    DUCK_TRANSCRIPTS + _DUCK_SCHEMES + """,
""" + _DUCK_TRUTH + """,
per AS (
  SELECT u.scheme, CAST(count(*) AS BIGINT) AS n_cand,
         CAST(coalesce(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_caught
  FROM uni u LEFT JOIN truth t ON t.id_a = u.id_a AND t.id_b = u.id_b
  GROUP BY u.scheme
),
ranked AS (
  SELECT scheme, n_cand, n_caught,
         CAST(row_number() OVER (ORDER BY n_caught DESC, scheme ASC) AS INT) AS pick_order
  FROM per
),
attrib AS (
  SELECT pick_order, CAST(count(*) AS BIGINT) AS marginal_caught FROM (
    SELECT u.id_a, u.id_b, min(r.pick_order) AS pick_order
    FROM uni u
    JOIN truth t ON t.id_a = u.id_a AND t.id_b = u.id_b
    JOIN ranked r ON r.scheme = u.scheme
    GROUP BY u.id_a, u.id_b
  ) GROUP BY pick_order
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
curve AS (
  SELECT r.pick_order, r.scheme, r.n_cand, r.n_caught,
         CAST(coalesce(a.marginal_caught, 0) AS BIGINT) AS marginal_caught,
         CAST(sum(coalesce(a.marginal_caught, 0)) OVER (ORDER BY r.pick_order) AS BIGINT) AS cum_caught,
         CAST(sum(r.n_cand) OVER (ORDER BY r.pick_order) AS BIGINT) AS cum_cost
  FROM ranked r LEFT JOIN attrib a ON a.pick_order = r.pick_order
)
SELECT pick_order, scheme, n_cand, n_caught, marginal_caught, cum_caught, cum_cost,
       round(CASE WHEN n_true = 0 THEN 1.0
                  ELSE CAST(cum_caught AS DOUBLE) / n_true END + 0.000000001, 4) AS cum_recall
FROM curve CROSS JOIN nt"""
)


def q_fs_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSUPERVISED Fellegi–Sunter estimation by EM (Winkler 1988 /
    Splink's core loop) through the hard gate — `fs_model` needs
    pseudo-labels; this needs none: the pair stream is the scored
    candidate set plus the deterministic offset pairing (the same
    non-match mass source as fs_model), the three field gammas collapse
    to the 8-row pattern histogram in one aggregation, and 25 fixed EM
    iterations run driver-side over those 8 floats
    (operators.metrics.fs_em — bounded collect, like fs_model's 1-row
    aggs). Fixed iterations keep the estimate a pure function of the
    histogram; the DuckDB oracle unrolls the identical recurrence as 25
    chained CTEs, left-associated products and all. The global
    row_number for the offset pairing mirrors fs_model (at 10^12-turn
    scale it runs on a bounded hash-sample of entities)."""
    from pyspark.sql import Window

    from .operators.metrics import fs_em

    ship_package(spark)
    ents = _fs_ents(spark, sf_dir)
    cand = q_score_pairs(spark, sf_dir).select("id_a", "id_b")
    rn = ents.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.md5("conv_id")))
    ).crossJoin(F.broadcast(ents.agg((F.count("*") / 2).cast("bigint").alias("half"))))
    u_pairs = (
        rn.filter(F.col("rn") <= F.col("half"))
        .select(F.col("conv_id").alias("id_a"), (F.col("rn") + F.col("half")).alias("_rn2"))
        .join(rn.select(F.col("conv_id").alias("id_b"), F.col("rn").alias("_rn2")), "_rn2")
        .select("id_a", "id_b")
    )
    gammas = _fs_attach(cand.unionByName(u_pairs), ents).select(
        (F.col("nt_a") == F.col("nt_b")).cast("long").alias("turns"),
        (F.abs(F.col("fl_a") - F.col("fl_b")) <= 2).cast("long").alias("len2"),
        (F.col("sig_a") == F.col("sig_b")).cast("long").alias("sig"),
    )
    return fs_em(gammas, ["turns", "len2", "sig"], iters=25)


def _fs_em_oracle(iters: int = 25) -> str:
    """Generate the chained-CTE EM unroll mirroring operators.metrics.fs_em
    exactly: same init (0.5 / 0.9 / 0.1), same left-associated products,
    same clamp literals (0.000001 / 0.999999), same update order."""
    prod = (
        "{p}.lam * (CASE WHEN h.g1 = 1.0 THEN {p}.m1 ELSE 1.0 - {p}.m1 END)"
        " * (CASE WHEN h.g2 = 1.0 THEN {p}.m2 ELSE 1.0 - {p}.m2 END)"
        " * (CASE WHEN h.g3 = 1.0 THEN {p}.m3 ELSE 1.0 - {p}.m3 END) AS pm,\n"
        "         (1.0 - {p}.lam) * (CASE WHEN h.g1 = 1.0 THEN {p}.u1 ELSE 1.0 - {p}.u1 END)"
        " * (CASE WHEN h.g2 = 1.0 THEN {p}.u2 ELSE 1.0 - {p}.u2 END)"
        " * (CASE WHEN h.g3 = 1.0 THEN {p}.u3 ELSE 1.0 - {p}.u3 END) AS pu"
    )
    # every em{k} is MATERIALIZED: DuckDB inlines plain CTEs once per
    # column reference, so a 25-deep recurrence would otherwise explode
    # exponentially at plan time (observed: the unmaterialized form never
    # finishes planning even on the sf0.001 corpus)
    steps = ["em0 AS MATERIALIZED (SELECT 0.5 AS lam, 0.9 AS m1, 0.9 AS m2, 0.9 AS m3, "
             "0.1 AS u1, 0.1 AS u2, 0.1 AS u3)"]
    for k in range(1, iters + 1):
        steps.append(f"""em{k} AS MATERIALIZED (
  SELECT least(greatest(s / t, 0.000001), 0.999999) AS lam,
         least(greatest(a1 / s, 0.000001), 0.999999) AS m1,
         least(greatest(a2 / s, 0.000001), 0.999999) AS m2,
         least(greatest(a3 / s, 0.000001), 0.999999) AS m3,
         least(greatest(b1 / w, 0.000001), 0.999999) AS u1,
         least(greatest(b2 / w, 0.000001), 0.999999) AS u2,
         least(greatest(b3 / w, 0.000001), 0.999999) AS u3
  FROM (
    SELECT sum(n * r) AS s, sum(n * (1.0 - r)) AS w, sum(n) AS t,
           sum(n * r * g1) AS a1, sum(n * r * g2) AS a2, sum(n * r * g3) AS a3,
           sum(n * (1.0 - r) * g1) AS b1, sum(n * (1.0 - r) * g2) AS b2,
           sum(n * (1.0 - r) * g3) AS b3
    FROM (
      SELECT n, g1, g2, g3, pm / (pm + pu) AS r
      FROM (
        SELECT h.n, h.g1, h.g2, h.g3,
               {prod.format(p=f"em{k - 1}")}
        FROM hist h CROSS JOIN em{k - 1}
      )
    )
  )
)""")
    last = f"em{iters}"
    return (
        DUCK_TRANSCRIPTS + """,
rnk AS (SELECT conv_id, row_number() OVER (ORDER BY md5(conv_id)) AS rn
        FROM canonical2),
nn AS (SELECT CAST(count(*) // 2 AS BIGINT) AS half FROM canonical2),
empairs AS (
  SELECT id_a, id_b FROM scored
  UNION ALL
  SELECT a.conv_id, b.conv_id
  FROM rnk a JOIN nn ON a.rn <= nn.half JOIN rnk b ON b.rn = a.rn + nn.half
),
hist AS MATERIALIZED (
  SELECT CASE WHEN ea.n_turns = eb.n_turns THEN 1.0 ELSE 0.0 END AS g1,
         CASE WHEN abs(ea.fp_len - eb.fp_len) <= 2 THEN 1.0 ELSE 0.0 END AS g2,
         CASE WHEN ea.sig = eb.sig THEN 1.0 ELSE 0.0 END AS g3,
         CAST(count(*) AS DOUBLE) AS n
  FROM empairs p
  JOIN canonical2 ea ON ea.conv_id = p.id_a
  JOIN canonical2 eb ON eb.conv_id = p.id_b
  GROUP BY 1, 2, 3
),
""" + ",\n".join(steps) + f"""
SELECT 'turns' AS field, round(m1 + 0.000000001, 4) AS m_prob,
       round(u1 + 0.000000001, 4) AS u_prob,
       round(log2(m1 / u1) + 0.000000001, 4) AS w_agree FROM {last}
UNION ALL SELECT 'len2', round(m2 + 0.000000001, 4),
       round(u2 + 0.000000001, 4), round(log2(m2 / u2) + 0.000000001, 4) FROM {last}
UNION ALL SELECT 'sig', round(m3 + 0.000000001, 4),
       round(u3 + 0.000000001, 4), round(log2(m3 / u3) + 0.000000001, 4) FROM {last}
UNION ALL SELECT '_lambda', round(lam + 0.000000001, 4),
       round(1.0 - lam + 0.000000001, 4), round(0.0 + 0.000000001, 4) FROM {last}"""
    )


LINKAGE_QUERIES["fs_em"] = q_fs_em
LINKAGE_ORACLES["fs_em"] = _fs_em_oracle(25)


def q_pair_weights_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-FREQUENCY agreement weights (Winkler's frequency-based
    matching refinement of Fellegi–Sunter): agreeing on a RARE sig value
    is far stronger match evidence than agreeing on a common one, so the
    u-probability is estimated PER VALUE — for a pair agreeing on sig s
    with value frequency f_s among N entities, u_s = (f_s - 1)/(N - 1)
    (the chance a random other entity shares s); disagreeing pairs carry
    the global expected agreement u_bar = Σ f(f-1) / (N(N-1)). The
    emitted weight is log2(m/u_s) on agreement (m = 0.95, the plug-in
    match-agreement rate) and log2((1-m)/(1-u_bar)) on disagreement.

    Scale shape: sig frequencies are one map-side-combined agg joined
    back by sig; u_bar and N are 1-row aggs riding broadcast crossJoins
    (the repo's scalar convention); everything else is per-candidate
    projection arithmetic. Nothing quadratic, no Python."""
    from .functions.text import gate_round4

    ship_package(spark)
    ents = _fs_ents(spark, sf_dir).select("conv_id", "sig")
    n_row = ents.agg(F.count("*").cast("bigint").alias("n_ents"))
    freq = ents.groupBy("sig").agg(F.count("*").cast("bigint").alias("f"))
    ubar_row = freq.crossJoin(F.broadcast(n_row)).agg(
        (F.sum(F.col("f").cast("double") * (F.col("f") - 1))
         / F.first((F.col("n_ents").cast("double") * (F.col("n_ents") - 1))))
        .alias("u_bar")
    )
    sa = ents.select(F.col("conv_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = ents.select(F.col("conv_id").alias("id_b"), F.col("sig").alias("sig_b"))
    cand = (
        q_score_pairs(spark, sf_dir).select("id_a", "id_b")
        .join(sa, "id_a").join(sb, "id_b")
        .join(freq.select(F.col("sig").alias("sig_a"), "f"), "sig_a", "left")
        .crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(ubar_row))
    )
    agree = F.col("sig_a") == F.col("sig_b")
    u_val = F.when(
        agree, (F.col("f") - 1).cast("double") / (F.col("n_ents") - 1)
    ).otherwise(F.col("u_bar"))
    w = F.when(agree, F.log2(F.lit(0.95) / u_val)).otherwise(
        F.log2((F.lit(1.0) - F.lit(0.95)) / (F.lit(1.0) - F.col("u_bar")))
    )
    return cand.select(
        "id_a", "id_b",
        agree.cast("int").alias("sig_agree"),
        F.when(agree, F.col("f")).otherwise(F.lit(0)).cast("bigint").alias("sig_freq"),
        gate_round4(u_val).alias("u_val"),
        gate_round4(w).alias("w_freq"),
    )


LINKAGE_QUERIES["pair_weights_freq"] = q_pair_weights_freq
LINKAGE_ORACLES["pair_weights_freq"] = DUCK_TRANSCRIPTS + """,
nrow AS (SELECT CAST(count(*) AS BIGINT) AS n_ents FROM canonical2),
freq AS (SELECT sig, CAST(count(*) AS BIGINT) AS f FROM canonical2 GROUP BY sig),
ubar AS (
  SELECT sum(CAST(f AS DOUBLE) * (f - 1))
         / (SELECT CAST(n_ents AS DOUBLE) * (n_ents - 1) FROM nrow) AS u_bar
  FROM freq
),
pw AS (
  SELECT s.id_a, s.id_b,
         (ca.sig = cb.sig) AS agree,
         fa.f AS f,
         n.n_ents, u.u_bar
  FROM scored s
  JOIN canonical2 ca ON ca.conv_id = s.id_a
  JOIN canonical2 cb ON cb.conv_id = s.id_b
  LEFT JOIN freq fa ON fa.sig = ca.sig
  CROSS JOIN nrow n CROSS JOIN ubar u
)
SELECT id_a, id_b,
       CAST(CASE WHEN agree THEN 1 ELSE 0 END AS INT) AS sig_agree,
       CAST(CASE WHEN agree THEN f ELSE 0 END AS BIGINT) AS sig_freq,
       round(CASE WHEN agree THEN CAST(f - 1 AS DOUBLE) / (n_ents - 1)
                  ELSE u_bar END + 0.000000001, 4) AS u_val,
       round(CASE WHEN agree
                  THEN log2(0.95 / (CAST(f - 1 AS DOUBLE) / (n_ents - 1)))
                  ELSE log2((1.0 - 0.95) / (1.0 - u_bar)) END + 0.000000001, 4) AS w_freq
FROM pw"""


def q_threshold_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tuning-loop closure: the single best match threshold by pairwise F1
    from the full sweep (`eval_threshold_sweep`), ties resolved to the
    LOWEST threshold (fewer kernel-accepted pairs for equal F1 — the
    cheaper operating point). One row; at scale it reads the 4-row sweep
    table, so the cost IS the sweep's."""
    sweep = q_eval_threshold_sweep(spark, sf_dir)
    return (
        sweep.orderBy(F.col("f1_1e4").desc(), F.col("threshold").asc())
        .limit(1)
    )


LINKAGE_QUERIES["threshold_autotune"] = q_threshold_autotune
LINKAGE_ORACLES["threshold_autotune"] = (
    LINKAGE_ORACLES["eval_threshold_sweep"]
    + "\nORDER BY f1_1e4 DESC, threshold ASC LIMIT 1"
)


def q_waterfall_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest exact contraction through the hard gate: the corpus
    splits into two deterministic batches (portable-md5 parity of
    conv_id), batch 1 builds the persisted (fingerprint, rep) index,
    batch 2 folds in via operators.waterfall.incremental_exact_groups —
    batch-1 CANON IS NEVER RE-READ, only its narrow index. The emitted
    mapping normalizes each group's sticky rep to the group-min member id
    (a per-rep min + join-back), which must equal the one-shot
    exact_groups over the full corpus — proving the incremental fold
    loses nothing and the per-batch kernel work stays ∝ unseen-distinct
    fingerprints."""
    from .functions.text import portable_hash64
    from .operators.waterfall import (
        fingerprint_index, incremental_exact_groups, normalize_reps)

    ship_package(spark)
    canon = _canonical(spark, sf_dir).select("conv_id", "fingerprint")
    parity = portable_hash64(F.lit("wfbatch"), F.col("conv_id")) % 2
    batch1 = canon.filter(parity == 0)
    batch2 = canon.filter(parity == 1)
    index = fingerprint_index(batch1)
    map1, _ = incremental_exact_groups(index, batch1)  # replay = pure index hit
    map2, _ = incremental_exact_groups(index, batch2)
    return normalize_reps(map1.unionByName(map2))


LINKAGE_QUERIES["waterfall_incremental"] = q_waterfall_incremental
LINKAGE_ORACLES["waterfall_incremental"] = DUCK_TRANSCRIPTS + """,
reps AS (SELECT fingerprint, min(conv_id) AS rep FROM canonical2 GROUP BY fingerprint)
SELECT c.conv_id, r.rep FROM canonical2 c JOIN reps r USING (fingerprint)"""


def q_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding tuning table (Leskovec–Rajaraman–Ullman, MMDS
    ch. 3): for every (bands b, rows-per-band r) factorization of the
    16-permutation signature budget and a 5%-step Jaccard grid, the
    candidate probability 1 - (1 - s^r)^b and the config's S-curve
    threshold (1/b)^(1/r) — the decision table behind the registered
    `dedup_minhash_lsh` configuration (16 perms, 4 bands × 4 rows:
    threshold ≈ 0.71). Pure literal arithmetic (pow only), 95 rows."""
    from .functions.text import gate_round4

    cfg = spark.createDataFrame(
        [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)],
        "n_bands int, rows_per_band int",
    )
    grid = spark.range(1, 20).select((F.col("id") * 5).cast("int").alias("jaccard_pct"))
    s = F.col("jaccard_pct") / F.lit(100.0)
    return cfg.crossJoin(grid).select(
        "n_bands", "rows_per_band", "jaccard_pct",
        gate_round4(
            F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(s, F.col("rows_per_band")),
                               F.col("n_bands"))
        ).alias("p_candidate"),
        gate_round4(
            F.pow(F.lit(1.0) / F.col("n_bands"), F.lit(1.0) / F.col("rows_per_band"))
        ).alias("s_threshold"),
    )


DATA_QUERIES["lsh_tuning"] = q_lsh_tuning
DATA_ORACLES["lsh_tuning"] = """
WITH cfg AS (
  SELECT * FROM (VALUES (16, 1), (8, 2), (4, 4), (2, 8), (1, 16))
  AS t(n_bands, rows_per_band)
),
grid AS (SELECT CAST(i * 5 AS INT) AS jaccard_pct
         FROM (SELECT unnest(range(1, 20)) AS i))
SELECT n_bands, rows_per_band, jaccard_pct,
       round(1.0 - pow(1.0 - pow(jaccard_pct / 100.0, rows_per_band), n_bands)
             + 0.000000001, 4) AS p_candidate,
       round(pow(1.0 / n_bands, 1.0 / rows_per_band) + 0.000000001, 4) AS s_threshold
FROM cfg CROSS JOIN grid"""


# ---------------------------------------------------------------------------
# Canopy blocking (McCallum-Nigam) + BPE merge statistics
# ---------------------------------------------------------------------------

CANOPY_MOD = 4       # ~25% of entities become candidate centers
CANOPY_T1 = 0.35     # loose membership threshold (sig 3-gram Jaccard)
CANOPY_T2 = 0.75     # tight lock/demotion threshold
CANOPY_DF_CAP = 64   # block purging: grams above this df skip PAIR GENERATION


def q_candidate_pairs_canopy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canopy blocking end-to-end (operators/canopy.py): cheap-metric
    canopies over the 16-char signatures — hash-selected centers,
    deterministic T2 center contraction, T1-loose / T2-locked membership,
    exact-sig residual fallback — then candidate pairs = distinct canonical
    co-members.  The oracle replays the whole path in SQL: purged
    gram-inverted-index candidate generation, exact Jaccard rescoring
    against full gram sets, the same window lock rule, and the residual
    union.  Jaccard is round4'd before EVERY threshold compare so both
    engines gate on the same double (the repo's knife-edge convention)."""
    from .operators.canopy import canopy_members, canopy_pairs

    ents = _canonical(spark, sf_dir).select(
        "conv_id", F.expr(f"substring(fingerprint, 1, {SIG_LEN})").alias("sig")
    )
    m = canopy_members(ents, "conv_id", "sig", CANOPY_MOD, CANOPY_T1,
                       CANOPY_T2, q=3, df_cap=CANOPY_DF_CAP)
    return canopy_pairs(m)


LINKAGE_QUERIES["candidate_pairs_canopy"] = q_candidate_pairs_canopy
LINKAGE_ORACLES["candidate_pairs_canopy"] = DUCK_TRANSCRIPTS + f""",
sig_grams AS MATERIALIZED (
  SELECT DISTINCT conv_id,
         CASE WHEN length(sig) < 3 THEN sig
              ELSE substring(sig, CAST(p AS INT), 3) END AS gram
  FROM (SELECT conv_id, sig,
               unnest(range(1, greatest(length(sig) - 1, 2))) AS p
        FROM canonical2)
  WHERE length(sig) >= 3 OR p = 1
),
gsize AS MATERIALIZED (
  SELECT conv_id, count(*) AS n_g FROM sig_grams GROUP BY conv_id
),
gp AS MATERIALIZED (
  SELECT s.conv_id, s.gram FROM sig_grams s
  JOIN (SELECT gram FROM sig_grams GROUP BY gram
        HAVING count(*) <= {CANOPY_DF_CAP}) r USING (gram)
),
centers0 AS MATERIALIZED (
  SELECT conv_id FROM canonical2
  WHERE CAST(('0x' || substring(md5(conv_id), 1, 15)) AS BIGINT)
        % {CANOPY_MOD} = 0
),
cand_cc AS MATERIALIZED (
  SELECT DISTINCT a.conv_id AS id_a, b.conv_id AS id_b
  FROM gp a JOIN gp b ON a.gram = b.gram
  JOIN centers0 ca ON ca.conv_id = a.conv_id
  JOIN centers0 cb ON cb.conv_id = b.conv_id
  WHERE a.conv_id < b.conv_id
),
cc_j AS MATERIALIZED (
  SELECT c.id_a, c.id_b,
         round(CAST(count(*) AS DOUBLE)
               / (any_value(za.n_g) + any_value(zb.n_g) - count(*))
               + 0.000000001, 4) AS j
  FROM cand_cc c
  JOIN sig_grams ga ON ga.conv_id = c.id_a
  JOIN sig_grams gb ON gb.conv_id = c.id_b AND gb.gram = ga.gram
  JOIN gsize za ON za.conv_id = c.id_a
  JOIN gsize zb ON zb.conv_id = c.id_b
  GROUP BY c.id_a, c.id_b
),
centers AS MATERIALIZED (
  SELECT c0.conv_id FROM centers0 c0
  LEFT JOIN (SELECT DISTINCT id_b FROM cc_j WHERE j >= {CANOPY_T2}) d
    ON d.id_b = c0.conv_id
  WHERE d.id_b IS NULL
),
cand_ec AS MATERIALIZED (
  SELECT DISTINCT a.conv_id AS id_a, b.conv_id AS id_b
  FROM gp a JOIN gp b ON a.gram = b.gram
  JOIN centers c2 ON c2.conv_id = b.conv_id
  WHERE a.conv_id <> b.conv_id
),
ej AS MATERIALIZED (
  SELECT * FROM (
    SELECT c.id_a, c.id_b,
           round(CAST(count(*) AS DOUBLE)
                 / (any_value(za.n_g) + any_value(zb.n_g) - count(*))
                 + 0.000000001, 4) AS j
    FROM cand_ec c
    JOIN sig_grams ga ON ga.conv_id = c.id_a
    JOIN sig_grams gb ON gb.conv_id = c.id_b AND gb.gram = ga.gram
    JOIN gsize za ON za.conv_id = c.id_a
    JOIN gsize zb ON zb.conv_id = c.id_b
    GROUP BY c.id_a, c.id_b
  ) WHERE j >= {CANOPY_T1}
),
ranked AS MATERIALIZED (
  SELECT id_a, id_b, j,
         row_number() OVER (PARTITION BY id_a ORDER BY j DESC, id_b ASC) AS rn,
         max(j) OVER (PARTITION BY id_a) AS mj
  FROM ej
),
members AS MATERIALIZED (
  SELECT id_a AS conv_id, id_b AS canopy_id FROM ranked
  WHERE (mj >= {CANOPY_T2} AND rn = 1) OR mj < {CANOPY_T2}
  UNION ALL
  SELECT conv_id, conv_id FROM centers
  UNION ALL
  SELECT c2.conv_id, 'r|' || c2.sig
  FROM canonical2 c2
  LEFT JOIN (SELECT DISTINCT id_a FROM ej) e ON e.id_a = c2.conv_id
  LEFT JOIN centers cc ON cc.conv_id = c2.conv_id
  WHERE e.id_a IS NULL AND cc.conv_id IS NULL
)
SELECT DISTINCT a.conv_id AS id_a, b.conv_id AS id_b
FROM members a JOIN members b ON a.canopy_id = b.canopy_id
WHERE a.conv_id < b.conv_id"""


BPE_MERGE_TOP_N = 50


def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training statistic (operators/analytics.bpe_merge_pairs):
    corpus-weighted adjacent-symbol-pair frequencies — the table the first
    BPE merge step maximizes over.  The expensive explode runs on the
    DISTINCT vocabulary (Sennrich's word-frequency trick), so at 100 TB
    the only corpus-sized pass is the initial word count."""
    from .operators.analytics import bpe_merge_pairs

    return bpe_merge_pairs(_docs(spark, sf_dir), top_n=BPE_MERGE_TOP_N)


DATA_QUERIES["bpe_merge_pairs"] = q_bpe_merge_pairs
DATA_ORACLES["bpe_merge_pairs"] = f"""
WITH vocab AS MATERIALIZED (
  SELECT word, count(*) AS wc FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
    FROM documents
  ) WHERE length(word) >= 2 GROUP BY word
),
pairs AS MATERIALIZED (
  SELECT substring(word, CAST(p AS INT), 2) AS pair, wc
  FROM (SELECT word, wc, unnest(range(1, length(word))) AS p FROM vocab)
),
agg AS (
  SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count FROM pairs GROUP BY pair
)
SELECT pair, pair_count, rank FROM (
  SELECT pair, pair_count,
         CAST(row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS INT)
           AS rank
  FROM agg
) WHERE rank <= {BPE_MERGE_TOP_N}"""


# ---------------------------------------------------------------------------
# Round-4 session-3 wave: pivot correlation clustering
# ---------------------------------------------------------------------------

PIVOT_ROUNDS = 10


def q_clusters_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation-clustering pivot (operators.clustering.pivot_clusters):
    the Ailon–Charikar–Newman greedy pivot rule run as a deterministic
    round-synchronous parallel loop with salted-md5 priorities. Sits
    between CC and star on the precision/recall dial: like star, every
    member is a DIRECT match of its pivot (diameter <= 2, no noisy-edge
    mega-cluster welds); unlike star, assigned nodes are REMOVED and the
    rule re-runs on the residual graph, so nodes star would strand as
    singletons regroup under later-round pivots — the structure behind
    pivot's expected-3-approximation for correlation clustering."""
    matches = q_matches(spark, sf_dir)
    entities = _canonical(spark, sf_dir).select("conv_id")
    from .operators.clustering import pivot_clusters

    return pivot_clusters(entities, matches, max_rounds=PIVOT_ROUNDS)


def _pivot_oracle(rounds: int = PIVOT_ROUNDS) -> str:
    """Unroll the round-synchronous pivot rule as chained MATERIALIZED CTEs
    (same lesson as _fs_em_oracle: plain CTEs inline per reference and the
    K-deep recurrence explodes at plan time). Each round k computes the
    live-subgraph edges e{k}, per-node min neighbor priority nm{k}, local
    minima piv{k}, attachments att{k}, then folds into asg{k+1}/un{k+1}.
    Priorities are md5('pivot|' || id) in both engines (lowercase hex,
    lexicographic compare) so the greedy order is bit-identical."""
    steps = _pivot_steps(rounds, src="matches")
    final = (
        f"SELECT c.conv_id, coalesce(a.cluster, c.conv_id) AS pivot_id\n"
        f"FROM canonical2 c LEFT JOIN (\n"
        f"  SELECT node, cluster FROM asg{rounds}\n"
        f"  UNION ALL SELECT node, node FROM un{rounds}\n"
        f") a ON a.node = c.conv_id"
    )
    return DUCK_TRANSCRIPTS + ",\n" + ",\n".join(steps) + "\n" + final


def _pivot_steps(rounds: int, src: str) -> list[str]:
    """The unrolled pivot-round CTE list over edge source CTE `src`
    (id_a, id_b) — shared by the clusters_pivot and eval_bcubed_pivot
    oracles."""
    steps = [
        f"sym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM {src}"
        f" UNION ALL SELECT id_b, id_a FROM {src})",
        "un0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym)",
        "asg0 AS MATERIALIZED (SELECT CAST(NULL AS VARCHAR) AS node,"
        " CAST(NULL AS VARCHAR) AS cluster WHERE 1 = 0)",
    ]
    for k in range(rounds):
        steps.append(
            f"e{k} AS MATERIALIZED (SELECT s.src, s.dst FROM sym s"
            f" JOIN un{k} a ON a.node = s.src JOIN un{k} b ON b.node = s.dst)"
        )
        steps.append(
            f"nm{k} AS (SELECT src, min(md5('pivot|' || dst)) AS mn"
            f" FROM e{k} GROUP BY src)"
        )
        steps.append(
            f"piv{k} AS MATERIALIZED (SELECT u.node FROM un{k} u"
            f" LEFT JOIN nm{k} m ON m.src = u.node"
            f" WHERE m.src IS NULL OR md5('pivot|' || u.node) < m.mn)"
        )
        steps.append(
            f"att{k} AS (SELECT e.src AS node,"
            f" arg_min(e.dst, md5('pivot|' || e.dst)) AS cluster"
            f" FROM e{k} e JOIN piv{k} p ON p.node = e.dst"
            f" WHERE e.src NOT IN (SELECT node FROM piv{k}) GROUP BY e.src)"
        )
        steps.append(
            f"asg{k + 1} AS MATERIALIZED (SELECT node, cluster FROM asg{k}"
            f" UNION ALL SELECT node, node FROM piv{k}"
            f" UNION ALL SELECT node, cluster FROM att{k})"
        )
        steps.append(
            f"un{k + 1} AS MATERIALIZED (SELECT node FROM un{k}"
            f" WHERE node NOT IN (SELECT node FROM asg{k + 1}))"
        )
    return steps


LINKAGE_QUERIES["clusters_pivot"] = q_clusters_pivot
LINKAGE_ORACLES["clusters_pivot"] = _pivot_oracle(PIVOT_ROUNDS)


def q_dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS prefix-filtered set-similarity self-join
    (operators.dedup.ppjoin_pairs — AllPairs/PPJoin, Bayardo WWW'07 / Xiao
    WWW'08): documents' shingles are globally ordered rarest-first and only
    each document's short prefix enters the self-join, with the positional
    overlap bound pruning candidates before the exact-Jaccard verify. The
    oracle is the UNBLOCKED brute-force shingle join at the same threshold,
    so the gate certifies losslessness on the real corpus — the exact
    counterpoint to dedup_ngram_jaccard's df_cap (lossy-by-design) and
    dedup_minhash_lsh's probabilistic banding."""
    from .operators import dedup

    return dedup.ppjoin_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


DATA_QUERIES["dedup_ppjoin"] = q_dedup_ppjoin
DATA_ORACLES["dedup_ppjoin"] = DUCK_SHINGLES + """
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5"""


def q_eval_vmeasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-measure (operators.metrics.vmeasure — Rosenberg & Hirschberg 2007)
    of the strict distance<=1 CC clusters against gold identity: the
    entropy lens on the same contingency table eval_bcubed and eval_rand
    average arithmetically, completing the standard extrinsic-eval trio
    (pairwise F1 / B-cubed / information-theoretic). Runs on the same
    fractional-recall clustering as eval_bcubed so conditional entropies
    are exercised away from the degenerate all-1.0 point."""
    from .operators.metrics import vmeasure

    ship_package(spark)
    matches1 = (
        q_score_pairs(spark, sf_dir)
        .filter(F.col("distance") <= 1)
        .select("id_a", "id_b")
    )
    entities = _canonical(spark, sf_dir).select("conv_id")
    pred = assign_clusters(entities, matches1)
    rec = pred.withColumn("gold_id", F.expr("substring(conv_id, 2)"))
    return vmeasure(rec)


LINKAGE_QUERIES["eval_vmeasure"] = q_eval_vmeasure
LINKAGE_ORACLES["eval_vmeasure"] = _GOLD_CONTINGENCY + """,
cs AS (SELECT cluster_id, sum(n_cg) AS n_c FROM cg GROUP BY cluster_id),
gs AS (SELECT gold_id, sum(n_cg) AS n_g FROM cg GROUP BY gold_id),
cond AS (
  SELECT CAST(sum(n_cg) AS BIGINT) AS n_entities,
         sum(-CAST(n_cg AS DOUBLE) * ln(CAST(n_cg AS DOUBLE) / n_c)) AS hgc_raw,
         sum(-CAST(n_cg AS DOUBLE) * ln(CAST(n_cg AS DOUBLE) / n_g)) AS hcg_raw
  FROM cg JOIN cs USING (cluster_id) JOIN gs USING (gold_id)
),
hg AS (
  SELECT sum(-CAST(n_g AS DOUBLE) * ln(CAST(n_g AS DOUBLE))) / sum(n_g)
         + ln(CAST(sum(n_g) AS DOUBLE)) AS h_gold
  FROM gs
),
hc AS (
  SELECT sum(-CAST(n_c AS DOUBLE) * ln(CAST(n_c AS DOUBLE))) / sum(n_c)
         + ln(CAST(sum(n_c) AS DOUBLE)) AS h_pred
  FROM cs
),
hv AS (
  SELECT n_entities,
         CASE WHEN h_gold <= 0 THEN 1.0
              ELSE 1.0 - (hgc_raw / n_entities) / h_gold END AS hom,
         CASE WHEN h_pred <= 0 THEN 1.0
              ELSE 1.0 - (hcg_raw / n_entities) / h_pred END AS com
  FROM cond, hg, hc
)
SELECT n_entities,
       round(hom + 0.000000001, 4) AS homogeneity,
       round(com + 0.000000001, 4) AS completeness,
       round(CASE WHEN hom + com = 0 THEN 0
                  ELSE 2 * hom * com / (hom + com) END + 0.000000001, 4) AS v_measure
FROM hv"""


def q_match_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-nearest-neighbor sparsification of the match graph
    (operators.graph.knn_graph, k=2): every node keeps only its 2 nearest
    match edges and an edge survives only if BOTH endpoints keep it — the
    degree cap that bounds clustering work to O(k·n) edges and suppresses
    hub records before CC at 10^12-turn scale. Deterministic tie-break by
    neighbor id makes the cut hash-stable cross-engine."""
    from .operators.graph import knn_graph

    ship_package(spark)
    return knn_graph(q_matches(spark, sf_dir), k=2, mutual=True)


LINKAGE_QUERIES["match_knn_graph"] = q_match_knn_graph
LINKAGE_ORACLES["match_knn_graph"] = DUCK_TRANSCRIPTS + """,
sym AS (
  SELECT id_a AS src, id_b AS dst, distance AS d FROM matches
  UNION ALL SELECT id_b, id_a, distance FROM matches
),
rk AS (
  SELECT src, dst, d,
         row_number() OVER (PARTITION BY src ORDER BY d, dst) AS rnk
  FROM sym
),
fwd AS (SELECT src AS id_a, dst AS id_b, d AS distance, rnk AS rank_a
        FROM rk WHERE src < dst),
rev AS (SELECT dst AS id_a, src AS id_b, rnk AS rank_b
        FROM rk WHERE src > dst)
SELECT f.id_a, f.id_b, f.distance,
       CAST(f.rank_a AS INT) AS rank_a, CAST(r.rank_b AS INT) AS rank_b
FROM fwd f JOIN rev r ON r.id_a = f.id_a AND r.id_b = f.id_b
WHERE f.rank_a <= 2 AND r.rank_b <= 2"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event stream
    (operators.analytics.event_transitions): counts + integer-scaled
    P(next | prev) for every observed type pair."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return analytics.event_transitions(ev)


DATA_QUERIES["event_transitions"] = q_event_transitions
DATA_ORACLES["event_transitions"] = """
WITH steps AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n_trans
  FROM (
    SELECT event_type,
           lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type
    FROM events
  )
  WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
marg AS (
  SELECT prev_type, sum(n_trans) AS n_from_prev FROM steps GROUP BY prev_type
)
SELECT s.prev_type, s.next_type,
       CAST(s.n_trans AS BIGINT) AS n_trans,
       CAST(m.n_from_prev AS BIGINT) AS n_from_prev,
       CAST(floor(1000000.0 * s.n_trans / m.n_from_prev + 0.5) AS BIGINT)
         AS p_next_1e6
FROM steps s JOIN marg m USING (prev_type)"""


def q_corpus_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row lexical profile (operators.analytics.corpus_zipf):
    token/type counts, type-token ratio, and the ln-ln least-squares Zipf
    slope/intercept; the vocabulary rank comes from the distributed
    global_rank (range partition + broadcast offsets), not a
    single-partition window."""
    return analytics.corpus_zipf(_docs(spark, sf_dir))


DATA_QUERIES["corpus_zipf"] = q_corpus_zipf
DATA_ORACLES["corpus_zipf"] = """
WITH tf AS (
  SELECT term, count(*) AS freq
  FROM (
    SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS term
    FROM documents
  )
  GROUP BY term
),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS rank FROM tf
)
SELECT CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(freq) AS BIGINT) AS n_tokens,
       round(CAST(count(*) AS DOUBLE) / sum(freq) + 0.000000001, 4)
         AS type_token_ratio,
       round(regr_slope(ln(CAST(freq AS DOUBLE)), ln(CAST(rank AS DOUBLE)))
             + 0.000000001, 4) AS zipf_slope,
       round(regr_intercept(ln(CAST(freq AS DOUBLE)), ln(CAST(rank AS DOUBLE)))
             + 0.000000001, 4) AS zipf_intercept
FROM ranked"""


def q_dedup_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup ledger
    (operators.chunking.cdc_dedup_stats): rolling-hash chunk boundaries
    (LBFS/FastCDC scheme — boundaries anchored to content, so shared
    passages align across documents regardless of offset shifts), then
    per-document counts of exactly-repeated chunk mass corpus-wide. The
    min-gap boundary suppression is a deterministic left-to-right fold
    (higher-order array aggregate in Spark, a per-doc recursive walk in
    the DuckDB oracle — two genuinely independent formulations)."""
    from .operators.chunking import cdc_dedup_stats

    return cdc_dedup_stats(_docs(spark, sf_dir))


DATA_QUERIES["dedup_cdc"] = q_dedup_cdc
DATA_ORACLES["dedup_cdc"] = """
WITH RECURSIVE pos AS (
  SELECT doc_id, text, unnest(range(2, length(text) - 8 + 2)) AS p
  FROM documents WHERE length(text) >= 9
),
hits AS (
  SELECT doc_id, CAST(p AS INT) AS p FROM pos
  WHERE CAST(('0x' || substring(md5(substring(text, CAST(p AS INT), 8)), 1, 15))
             AS BIGINT) % 64 = 0
),
bounds AS (SELECT doc_id, list_sort(list(p)) AS bs FROM hits GROUP BY doc_id),
walk(doc_id, bs, i, last_kept, kept) AS (
  SELECT doc_id, bs, 1, 1, CAST([] AS INT[]) FROM bounds
  UNION ALL
  SELECT doc_id, bs, i + 1,
         CASE WHEN bs[i] - last_kept >= 16 THEN bs[i] ELSE last_kept END,
         CASE WHEN bs[i] - last_kept >= 16 THEN list_append(kept, bs[i])
              ELSE kept END
  FROM walk WHERE i <= len(bs)
),
final_kept AS (SELECT doc_id, kept FROM walk WHERE i = len(bs) + 1),
cuts AS (
  SELECT d.doc_id, d.text,
         list_concat(
           list_concat(CAST([1] AS INT[]), coalesce(k.kept, CAST([] AS INT[]))),
           [CAST(length(d.text) + 1 AS INT)]
         ) AS cuts
  FROM documents d LEFT JOIN final_kept k USING (doc_id)
  WHERE length(d.text) > 0
),
chunks AS (
  SELECT doc_id,
         CAST(cuts[CAST(i AS INT) + 1] - cuts[CAST(i AS INT)] AS INT) AS chunk_len,
         md5(substring(text, cuts[CAST(i AS INT)],
                       cuts[CAST(i AS INT) + 1] - cuts[CAST(i AS INT)])) AS chunk_hash
  FROM (SELECT doc_id, text, cuts, unnest(range(1, len(cuts))) AS i FROM cuts)
),
occ AS (SELECT chunk_hash, count(*) AS occ FROM chunks GROUP BY chunk_hash)
SELECT c.doc_id,
       CAST(count(*) AS INT) AS n_chunks,
       CAST(sum(c.chunk_len) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN o.occ > 1 THEN 1 ELSE 0 END) AS INT) AS n_dup_chunks,
       CAST(sum(CASE WHEN o.occ > 1 THEN c.chunk_len ELSE 0 END) AS BIGINT)
         AS dup_chars,
       CAST(floor(10000.0 * sum(CASE WHEN o.occ > 1 THEN c.chunk_len ELSE 0 END)
                  / sum(c.chunk_len) + 0.5) AS BIGINT) AS dup_ratio_1e4
FROM chunks c JOIN occ o USING (chunk_hash)
GROUP BY c.doc_id"""


def q_eval_bcubed_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed of PIVOT correlation clustering vs gold identity on the same
    strict (distance<=1) graph eval_bcubed (CC) and eval_bcubed_star score
    — the third row of the clustering decision table: pivot keeps star's
    diameter-<=2 guarantee but regroups the nodes star strands, so its
    recall sits between star's and CC's while precision stays 1.0 on this
    corpus. Together the three entries turn cluster-strategy selection
    (LinkConfig.cluster_strategy) into a measured decision."""
    from .operators.clustering import pivot_clusters

    ship_package(spark)
    matches1 = (
        q_score_pairs(spark, sf_dir)
        .filter(F.col("distance") <= 1)
        .select("id_a", "id_b")
    )
    entities = _canonical(spark, sf_dir).select("conv_id")
    pred = pivot_clusters(entities, matches1, max_rounds=PIVOT_ROUNDS).select(
        "conv_id", F.col("pivot_id").alias("cluster_id")
    )
    rec = pred.withColumn("gold_id", F.expr("substring(conv_id, 2)"))
    return bcubed(rec)


def _pivot_bcubed_oracle(rounds: int = PIVOT_ROUNDS) -> str:
    steps = ["matches1 AS MATERIALIZED (SELECT id_a, id_b FROM scored WHERE distance <= 1)"]
    steps += _pivot_steps(rounds, src="matches1")
    steps.append(
        f"assign AS MATERIALIZED (SELECT c.conv_id,"
        f" coalesce(a.cluster, c.conv_id) AS cluster_id,"
        f" substring(c.conv_id, 2) AS gold_id"
        f" FROM canonical2 c LEFT JOIN ("
        f"   SELECT node, cluster FROM asg{rounds}"
        f"   UNION ALL SELECT node, node FROM un{rounds}"
        f" ) a ON a.node = c.conv_id)"
    )
    steps.append(
        "cg AS (SELECT cluster_id, gold_id, count(*) AS n_cg"
        " FROM assign GROUP BY cluster_id, gold_id)"
    )
    steps.append("cs AS (SELECT cluster_id, sum(n_cg) AS n_c FROM cg GROUP BY cluster_id)")
    steps.append("gs AS (SELECT gold_id, sum(n_cg) AS n_g FROM cg GROUP BY gold_id)")
    steps.append(
        "pr AS (SELECT CAST(sum(n_cg) AS BIGINT) AS n_entities,"
        " sum(CAST(n_cg AS DOUBLE) * n_cg / n_c) AS sp,"
        " sum(CAST(n_cg AS DOUBLE) * n_cg / n_g) AS sr"
        " FROM cg JOIN cs USING (cluster_id) JOIN gs USING (gold_id))"
    )
    steps.append(
        "fin AS (SELECT n_entities, sp / n_entities AS p, sr / n_entities AS r FROM pr)"
    )
    final = (
        "SELECT n_entities,\n"
        "       round(p + 0.000000001, 4) AS bcubed_precision,\n"
        "       round(r + 0.000000001, 4) AS bcubed_recall,\n"
        "       round(CASE WHEN p + r = 0 THEN 0\n"
        "                  ELSE 2 * p * r / (p + r) END + 0.000000001, 4) AS bcubed_f1\n"
        "FROM fin"
    )
    return DUCK_TRANSCRIPTS + ",\n" + ",\n".join(steps) + "\n" + final


LINKAGE_QUERIES["eval_bcubed_pivot"] = q_eval_bcubed_pivot
LINKAGE_ORACLES["eval_bcubed_pivot"] = _pivot_bcubed_oracle(PIVOT_ROUNDS)


# ---------------------------------------------------------------------------
# Round-4 session-4 wave: retraction, duplicate-population estimation,
# process (tool-sequence) similarity, ingest profiling
# ---------------------------------------------------------------------------


def q_retract_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten retraction (operators/clustering.py::
    retract_entities): entities whose portable-md5 first hex digit is 'f'
    (~1/16 of the corpus, deterministic in both engines) are deleted from
    the standing cluster assignment; clusters untouched by the deletion
    keep their rows verbatim, affected clusters re-run CC on surviving
    internal edges only.  The oracle recomputes connected components from
    scratch on the survivor graph, so the gate certifies that incremental
    repair == full re-cluster (node deletion can split components but
    never merge them — the invariant the fast path rests on)."""
    from .operators.clustering import retract_entities

    ship_package(spark)
    clusters = q_clusters(spark, sf_dir)
    matches = q_matches(spark, sf_dir).select("id_a", "id_b")
    deleted = _canonical(spark, sf_dir).filter(
        F.substring(F.md5("conv_id"), 1, 1) == "f"
    ).select("conv_id")
    return retract_entities(clusters, matches, deleted)


LINKAGE_QUERIES["retract_entities"] = q_retract_entities
LINKAGE_ORACLES["retract_entities"] = DUCK_TRANSCRIPTS + """,
kept AS (
  SELECT conv_id FROM canonical2 WHERE substring(md5(conv_id), 1, 1) <> 'f'
),
kept_edges AS (
  SELECT id_a AS src, id_b AS dst FROM matches
  WHERE substring(md5(id_a), 1, 1) <> 'f' AND substring(md5(id_b), 1, 1) <> 'f'
  UNION ALL
  SELECT id_b, id_a FROM matches
  WHERE substring(md5(id_a), 1, 1) <> 'f' AND substring(md5(id_b), 1, 1) <> 'f'
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM kept
    UNION
    SELECT e.dst, r.root FROM r JOIN kept_edges e ON e.src = r.node
  ) SELECT * FROM r
)
SELECT node AS conv_id, min(root) AS cluster_id FROM reach GROUP BY node"""


def q_dedup_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture–recapture estimate of the total duplicate-pair
    population (operators/metrics.py::capture_recapture) from two
    imperfect detectors run over the same corpus: detector A = sorted-
    neighborhood matching (window 4 over the sig sort), detector B =
    exact-sig-equality blocking, both scored with the banded kernel at
    n=2.  One audit row: each detector's match count, the recapture
    overlap, the Chapman population estimate and the implied number of
    still-missed duplicates — 'how many duplicates remain' WITHOUT ground
    truth, the census-linkage technique (Winkler) every large-corpus
    dedup run should report.  Caveat (documented, inherent to the
    method): both detectors key on the sig prefix, so positive capture
    correlation biases the estimate low relative to truly independent
    detectors; the entry is the estimator mechanics through the hard
    gate, the scheme choice is per-deployment."""
    from .operators.metrics import capture_recapture
    from .operators.ranking import sorted_neighborhood_pairs

    ship_package(spark)
    conf = LinkConfig(algorithm="standard", max_distance=2)
    canon = _canonical(spark, sf_dir)
    texts = canon.select("conv_id", "fingerprint")
    ents = canon.select(
        "conv_id", F.expr(f"substring(fingerprint, 1, {SIG_LEN})").alias("sig")
    )
    snm = sorted_neighborhood_pairs(ents, "sig", window=4).select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    ).distinct()
    cap_a = score_pairs(snm, texts, conf).filter(F.col("distance") <= 2)
    sa = ents.select(F.col("conv_id").alias("id_a"), "sig")
    sb = ents.select(F.col("conv_id").alias("id_b"), "sig")
    sig_eq = sa.join(sb, "sig").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    cap_b = score_pairs(sig_eq, texts, conf).filter(F.col("distance") <= 2)
    return capture_recapture(cap_a, cap_b)


LINKAGE_QUERIES["dedup_estimate"] = q_dedup_estimate
LINKAGE_ORACLES["dedup_estimate"] = DUCK_TRANSCRIPTS + """,
rnk AS (
  SELECT conv_id, row_number() OVER (ORDER BY sig, conv_id) AS r
  FROM canonical2
),
snm_band AS (
  SELECT least(a.conv_id, b.conv_id) AS id_a,
         greatest(a.conv_id, b.conv_id) AS id_b
  FROM rnk a JOIN rnk b ON b.r > a.r AND b.r <= a.r + 3
),
cap_a AS (
  SELECT DISTINCT p.id_a, p.id_b
  FROM (
    SELECT s.id_a, s.id_b, x.fingerprint AS fa, y.fingerprint AS fb
    FROM snm_band s
    JOIN canonical2 x ON x.conv_id = s.id_a
    JOIN canonical2 y ON y.conv_id = s.id_b
    WHERE abs(x.fp_len - y.fp_len) <= 2
  ) p
  WHERE levenshtein(p.fa, p.fb) <= 2
),
sig_eq AS (
  SELECT a.conv_id AS id_a, b.conv_id AS id_b
  FROM canonical2 a JOIN canonical2 b
    ON a.sig = b.sig AND a.conv_id < b.conv_id
),
cap_b AS (
  SELECT DISTINCT p.id_a, p.id_b
  FROM (
    SELECT s.id_a, s.id_b, x.fingerprint AS fa, y.fingerprint AS fb
    FROM sig_eq s
    JOIN canonical2 x ON x.conv_id = s.id_a
    JOIN canonical2 y ON y.conv_id = s.id_b
    WHERE abs(x.fp_len - y.fp_len) <= 2
  ) p
  WHERE levenshtein(p.fa, p.fb) <= 2
),
counts AS (
  SELECT CAST((SELECT count(*) FROM cap_a) AS BIGINT) AS n_a,
         CAST((SELECT count(*) FROM cap_b) AS BIGINT) AS n_b,
         CAST((SELECT count(*) FROM cap_a JOIN cap_b USING (id_a, id_b)) AS BIGINT) AS n_both
)
SELECT n_a, n_b, n_both,
       CAST((n_a + 1) * (n_b + 1) // (n_both + 1) - 1 AS BIGINT) AS est_total,
       CAST((n_a + 1) * (n_b + 1) // (n_both + 1) - 1
            - (n_a + n_b - n_both) AS BIGINT) AS est_missed
FROM counts"""


def q_similarity_tool_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-similarity comparator for AGENT transcripts: order-sensitive
    edit distance over each conversation's tool-call SEQUENCE — two runs
    that invoked the same tools in the same order are process-duplicates
    even when their prose differs, the sequence twin of
    collective_linkage's order-free tool-profile Jaccard.  The per-turn
    symbol is a TEXT-HASH stand-in for the `tool` column (first md5 hex
    char of the turn text — the derived gate corpus leaves `tool` null,
    so the hash provides a deterministic 16-symbol alphabet the way a
    real tool id would; same convention as collective_linkage); each
    conversation compresses
    to a ≤n_turns-char string over that 16-symbol alphabet, and the
    EXISTING banded kernel scores the candidate stream on the encoded
    strings (max_distance 2, sentinel 3) — the kernels are
    alphabet-agnostic, so 'token-level edit distance' is literally
    dictionary-encode + the same operator.  Sequence order is
    deterministic even on duplicate (conv_id, turn_idx) rows: Spark's
    sort_array over struct(turn_idx, ch) tiebreaks on ch, and the oracle
    string_agg ORDERs BY (turn_idx, symbol) to match — without the
    second key, user-supplied data with repeated turn_idx values would
    desync the engines.  Cost: the encoded strings are ~60x shorter than
    fingerprints, so the kernel pass is noise; one groupBy builds the
    sequences."""

    ship_package(spark)
    t = derive_transcripts(spark, sf_dir)
    seq = (
        t.select("conv_id", "turn_idx", F.substring(F.md5("text"), 1, 1).alias("ch"))
        .groupBy("conv_id")
        .agg(F.sort_array(F.collect_list(F.struct("turn_idx", "ch"))).alias("ordered"))
        .select(
            "conv_id",
            F.array_join(F.expr("transform(ordered, t -> t.ch)"), "").alias("fingerprint"),
        )
    )
    pairs = q_candidate_pairs(spark, sf_dir)
    conf = LinkConfig(algorithm="standard", max_distance=2)
    return score_pairs(pairs, seq, conf).select(
        "id_a", "id_b", F.col("distance").alias("seq_distance")
    )


LINKAGE_QUERIES["similarity_tool_seq"] = q_similarity_tool_seq
LINKAGE_ORACLES["similarity_tool_seq"] = DUCK_TRANSCRIPTS + """,
toolseq AS MATERIALIZED (
  SELECT conv_id,
         string_agg(substring(md5(text), 1, 1), ''
                    ORDER BY turn_idx, substring(md5(text), 1, 1)) AS seq
  FROM transcripts GROUP BY conv_id
)
SELECT p.id_a, p.id_b,
       CAST(least(levenshtein(a.seq, b.seq), 3) AS INT) AS seq_distance
FROM cand_pairs p
JOIN toolseq a ON a.conv_id = p.id_a
JOIN toolseq b ON b.conv_id = p.id_b
WHERE abs(length(a.seq) - length(b.seq)) <= 2"""


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time column profiling (operators/analytics.py::
    profile_columns) over the transcripts table: per column, row/null/
    distinct counts and min/max/total string-rendering length — the
    data-quality report a production linkage run opens with (unexpected
    null rates or distinct-count collapse upstream of blocking is the
    most common silent recall killer).  One scan; see the operator
    docstring for the multi-DISTINCT Expand plan shape."""
    from .operators.analytics import profile_columns

    t = derive_transcripts(spark, sf_dir)
    return profile_columns(t, ["conv_id", "turn_idx", "role", "text", "tool"])


_PROFILE_COL_SQL = """
  SELECT '{c}' AS column_name,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT CAST({c} AS VARCHAR)) AS BIGINT) AS n_distinct,
         CAST(min(length(CAST({c} AS VARCHAR))) AS INT) AS min_len,
         CAST(max(length(CAST({c} AS VARCHAR))) AS INT) AS max_len,
         CAST(sum(length(CAST({c} AS VARCHAR))) AS BIGINT) AS sum_len
  FROM transcripts"""

LINKAGE_QUERIES["profile_table"] = q_profile_table
LINKAGE_ORACLES["profile_table"] = DUCK_TRANSCRIPTS + "\n" + "\nUNION ALL\n".join(
    _PROFILE_COL_SQL.format(c=c) for c in ["conv_id", "turn_idx", "role", "text", "tool"]
)


def q_progressive_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pay-as-you-go (progressive) ER budget curve (Whang et al. 2013 /
    Papenbrock et al.): rank every candidate pair by a FREE ordering
    signal — CBS, the number of blocking keys the pair co-occurs in
    (meta-blocking's weight, already computed before any kernel work) —
    and report, per spending decile of that ranked stream, how much of
    the total match volume a scoring budget cut off there would have
    found.  A steep curve certifies the ordering: most matches sit in the
    first deciles, so a 10x-smaller kernel budget keeps most recall —
    the table that decides 'can we afford full scoring this run'.

    Scale shape: key-count agg on the pair stream (no texts), the
    distributed global_rank (range partition + broadcast offsets — no
    single-partition window), one bucket agg; the cumulative window runs
    over TEN rows.  Integer bucket arithmetic ((rank-1)*10 DIV n) keeps
    decile edges cross-engine exact."""
    from pyspark.sql import Window

    from .operators.ranking import global_rank

    ship_package(spark)
    keys = _sig_keys(spark, sf_dir)
    a = keys.select(F.col("conv_id").alias("_ida"), "block_key")
    b = keys.select(F.col("conv_id").alias("_idb"), "block_key")
    cbs = (
        a.join(b, "block_key")
        .filter(F.col("_ida") < F.col("_idb"))
        .groupBy(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cbs"))
    )
    ranked = global_rank(cbs.withColumn("_negcbs", -F.col("cbs")),
                         ["_negcbs", "id_a", "id_b"])
    n_total = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    matches = q_matches(spark, sf_dir).select(
        "id_a", "id_b", F.lit(1).alias("_m")
    )
    flagged = (
        ranked.crossJoin(F.broadcast(n_total))
        .join(matches, ["id_a", "id_b"], "left")
        .select(
            F.expr("CAST((rank - 1) * 10 DIV _n AS INT)").alias("decile"),
            F.coalesce("_m", F.lit(0)).alias("_m"),
        )
    )
    agg = flagged.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("_m").cast("bigint").alias("n_matches"),
    )
    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return agg.select(
        "decile", "n_pairs", "n_matches",
        F.sum("n_matches").over(cum).cast("bigint").alias("cum_matches"),
        gate_round4(
            F.sum("n_matches").over(cum)
            / F.greatest(F.sum("n_matches").over(tot), F.lit(1))
        ).alias("cum_recall"),
    )


LINKAGE_QUERIES["progressive_recall"] = q_progressive_recall
LINKAGE_ORACLES["progressive_recall"] = DUCK_TRANSCRIPTS + """,
cbs AS MATERIALIZED (
  SELECT a.conv_id AS id_a, b.conv_id AS id_b, count(*) AS cbs
  FROM sig_keys a JOIN sig_keys b ON a.block_key = b.block_key
  WHERE a.conv_id < b.conv_id
  GROUP BY a.conv_id, b.conv_id
),
ranked AS (
  SELECT id_a, id_b,
         row_number() OVER (ORDER BY cbs DESC, id_a, id_b) AS rn,
         count(*) OVER () AS n
  FROM cbs
),
flagged AS (
  SELECT CAST((r.rn - 1) * 10 // r.n AS INT) AS decile,
         CASE WHEN m.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_match
  FROM ranked r LEFT JOIN matches m USING (id_a, id_b)
),
agg AS (
  SELECT decile,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(is_match) AS BIGINT) AS n_matches
  FROM flagged GROUP BY decile
)
SELECT decile, n_pairs, n_matches,
       CAST(sum(n_matches) OVER (ORDER BY decile) AS BIGINT) AS cum_matches,
       round(CAST(sum(n_matches) OVER (ORDER BY decile) AS DOUBLE)
             / greatest(sum(n_matches) OVER (), 1) + 0.000000001, 4) AS cum_recall
FROM agg"""


def q_clusters_exemplar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Medoid canonical-record selection (operators/clustering.py::
    cluster_exemplars) for every multi-member entity cluster: the member
    with minimum summed edit distance to its co-members, computed in
    closed form from the SCORED pair stream only (unscored intra-cluster
    pairs count the sentinel n+1) — no within-cluster all-pairs
    expansion, no re-scoring.  The actual-record complement of
    golden_records' synthetic field fusion."""
    from .operators.clustering import cluster_exemplars

    ship_package(spark)
    return cluster_exemplars(
        q_clusters(spark, sf_dir), q_score_pairs(spark, sf_dir)
    )


LINKAGE_QUERIES["clusters_exemplar"] = q_clusters_exemplar
LINKAGE_ORACLES["clusters_exemplar"] = DUCK_TRANSCRIPTS + """,
nodes AS (SELECT conv_id FROM canonical2),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM matches
  UNION ALL SELECT id_b, id_a FROM matches
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT conv_id, conv_id FROM nodes
    UNION
    SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node
  ) SELECT * FROM r
),
assign AS (
  SELECT node AS conv_id, min(root) AS cluster_id FROM reach GROUP BY node
),
sizes AS (
  SELECT cluster_id, count(*) AS n FROM assign GROUP BY cluster_id
  HAVING count(*) >= 2
),
intra AS (
  SELECT s.id_a, s.id_b, s.distance, x.cluster_id
  FROM scored s
  JOIN assign x ON x.conv_id = s.id_a
  JOIN assign y ON y.conv_id = s.id_b
  WHERE x.cluster_id = y.cluster_id
),
gains AS (
  SELECT conv_id, sum(gain) AS deficit FROM (
    SELECT id_a AS conv_id, 3 - distance AS gain FROM intra
    UNION ALL
    SELECT id_b, 3 - distance FROM intra
  ) GROUP BY conv_id
),
cost AS (
  SELECT a.cluster_id, a.conv_id, s.n,
         3 * (s.n - 1) - coalesce(g.deficit, 0) AS total
  FROM assign a
  JOIN sizes s USING (cluster_id)
  LEFT JOIN gains g ON g.conv_id = a.conv_id
)
SELECT cluster_id, conv_id AS exemplar_id,
       CAST(n AS INT) AS n_members,
       CAST(total AS BIGINT) AS exemplar_cost
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY cluster_id ORDER BY total, conv_id) AS rn
  FROM cost
) WHERE rn = 1"""


def q_corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sampling (operators/sampling.py::
    stratified_sample): strata are (source, length-bucket-of-200-chars);
    within each, the 5 docs with the smallest portable-md5 rank survive —
    the balanced eval/holdout draw a Bernoulli sample can't give on
    skewed corpora.  WindowGroupLimit plan (per-partition top-k before
    the shuffle)."""
    from .operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source",
        F.expr("CAST(length(text) DIV 200 AS INT)").alias("len_bucket"),
    )
    return stratified_sample(docs, ["source", "len_bucket"], k=5)


LINKAGE_QUERIES["corpus_sample_stratified"] = q_corpus_sample_stratified
LINKAGE_ORACLES["corpus_sample_stratified"] = """
SELECT doc_id, source, len_bucket
FROM (
  SELECT doc_id, source,
         CAST(length(text) // 200 AS INT) AS len_bucket,
         row_number() OVER (
           PARTITION BY source, CAST(length(text) // 200 AS INT)
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= 5"""


def q_eval_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality closure: recall of the scale path (embed_lsh_ann —
    banded hyperplane LSH + cosine>=0.35 verify) against BRUTE-FORCE
    top-5 truth, per truth rank — the decay curve (rank-1 neighbors are
    near-dups the bands almost always co-bucket; rank-5 neighbors sit
    closer to the threshold) that decides bands/planes settings before a
    production rollout, computed entirely inside the gate so both engines
    re-derive truth AND the LSH path from scratch.  Truth neighbors below
    the verify threshold are unreachable by construction; the curve
    reports that honestly rather than normalizing it away.  The
    brute-force side is a declared oracle anchor (all-pairs cosine), fine
    at gate scales; the LSH side is the audited scale path."""
    ship_package(spark)
    e = _emb(spark, sf_dir)
    truth = ann.brute_force_topk(e, e, k=5).select(
        "query_id", "neighbor_id", "rank",
        F.least("query_id", "neighbor_id").alias("id_a"),
        F.greatest("query_id", "neighbor_id").alias("id_b"),
    )
    lsh = ann.lsh_ann_pairs(e, threshold=0.35).select(
        "id_a", "id_b", F.lit(1).alias("_hit")
    )
    return (
        truth.join(lsh, ["id_a", "id_b"], "left")
        .groupBy("rank")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_truth"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("bigint").alias("n_found"),
        )
        .select(
            "rank", "n_truth", "n_found",
            gate_round4(F.col("n_found") / F.col("n_truth")).alias("recall"),
        )
    )


LINKAGE_QUERIES["eval_ann_recall"] = q_eval_ann_recall
LINKAGE_ORACLES["eval_ann_recall"] = f"""
WITH lsh AS MATERIALIZED (
  SELECT id_a, id_b FROM ({_lsh_ann_oracle_sql(0.35)})
),
truth AS MATERIALIZED (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(
               CAST(q.embedding AS DOUBLE[]),
               CAST(c.embedding AS DOUBLE[])) + 0.000000001, 4) DESC,
             c.vec_id ASC
           ) AS INT) AS rank
    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  ) WHERE rank <= 5
),
flagged AS (
  SELECT t.rank,
         CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM truth t LEFT JOIN lsh l
    ON l.id_a = least(t.query_id, t.neighbor_id)
   AND l.id_b = greatest(t.query_id, t.neighbor_id)
)
SELECT rank,
       CAST(count(*) AS BIGINT) AS n_truth,
       CAST(sum(hit) AS BIGINT) AS n_found,
       round(sum(hit) / CAST(count(*) AS DOUBLE) + 0.000000001, 4) AS recall
FROM flagged GROUP BY rank"""


def q_block_filtering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Papadakis BLOCK FILTERING (the third member of the block-processing
    family beside purging — candidate_pairs_union — and meta-blocking /
    CBS): each ENTITY keeps only its ceil(0.6·n) smallest blocks, so
    hot keys are dropped per-entity exactly where they contribute least
    marginal recall (an entity in a huge block almost always shares a
    smaller, more selective block with its true matches).  Emits the
    filtered candidate pair stream.  Cost: one block-size agg, one
    per-entity window over ~17 keys (WindowGroupLimit shape), then the
    usual key equi-join over the RETAINED keys only — at web scale this
    cuts the bucket-join fan-out of exactly the hottest keys without a
    global pair materialization.  Integer ceil via (6n+9) DIV 10 keeps
    the retention boundary cross-engine exact."""
    from .functions.blocking import filter_blocks

    ship_package(spark)
    retained = filter_blocks(_sig_keys(spark, sf_dir), ratio_tenths=6)
    a = retained.select(F.col("conv_id").alias("id_a"), "block_key")
    b = retained.select(F.col("conv_id").alias("id_b"), "block_key")
    return (
        a.join(b, "block_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


LINKAGE_QUERIES["block_filtering"] = q_block_filtering
LINKAGE_ORACLES["block_filtering"] = DUCK_TRANSCRIPTS + """,
bsizes AS (
  SELECT block_key, count(*) AS bsize FROM sig_keys GROUP BY block_key
),
ranked AS (
  SELECT k.conv_id, k.block_key,
         row_number() OVER (
           PARTITION BY k.conv_id ORDER BY s.bsize, k.block_key) AS rn,
         count(*) OVER (PARTITION BY k.conv_id) AS nk
  FROM sig_keys k JOIN bsizes s USING (block_key)
),
retained AS (
  SELECT conv_id, block_key FROM ranked WHERE rn <= (6 * nk + 9) // 10
)
SELECT DISTINCT a.conv_id AS id_a, b.conv_id AS id_b
FROM retained a JOIN retained b ON a.block_key = b.block_key
WHERE a.conv_id < b.conv_id"""


def q_fork_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-conversation FORK detection, the partial-overlap linkage
    global near-dup matching cannot see: two conversations that share a
    run of >= 3 consecutive identical turns (a forked session, a
    copy-pasted prologue, a replayed agent prefix) while their FULL
    fingerprints may be arbitrarily far apart.  Turn-window shingling —
    the turn-granularity analog of dedup_cdc's char-level chunks and the
    discovery-mode complement of turn_alignment (which explains pairs the
    matcher ALREADY joined): each conversation emits a portable-md5 gram
    per 3-consecutive-turn window (separator-joined; grams are
    CONTENT-only — no position tag — so runs match by content wherever
    they sit in either conversation). Null turn text is filtered out
    before windowing, in the Spark plan AND the oracle alike: Spark's
    concat_ws SKIPS null elements while SQL `||` nullifies the whole
    gram, so on nullable inputs the two recipes silently diverge unless
    nulls are removed up front (the derived gate transcripts are never
    null, but TRANSCRIPTS_SCHEMA declares text nullable). Pairs
    sharing >= 2 distinct window grams are reported with their shared
    volume and a flag for whether global matching already caught them
    (is_near_dup; rows with false are the pure forks — invisible to every
    other operator in the repo).  Hot boilerplate windows are dropped by
    the dedup suite's stop-shingle discipline (df_cap=64, documented
    recall trade) so the gram join cannot quadratic-blow on a templated
    greeting turn.  Cost: one turn-window pass (windows ≈ turns), a
    df-capped gram self-join, one pair agg — no kernels, no texts on the
    shuffle."""
    from pyspark.sql import Window

    ship_package(spark)
    t = derive_transcripts(spark, sf_dir).filter(F.col("text").isNotNull())
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    grams = (
        t.select(
            "conv_id",
            F.md5(F.concat_ws("\x1f",
                              F.col("text"),
                              F.lead("text", 1).over(w),
                              F.lead("text", 2).over(w))).alias("gram"),
            F.lead("text", 2).over(w).alias("_t2"),
        )
        .filter(F.col("_t2").isNotNull())
        .select("conv_id", "gram")
        .distinct()
    )
    hot = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_df")) \
        .filter(F.col("_df") > 64).select("gram")
    cool = grams.join(F.broadcast(hot), "gram", "left_anti")
    a = cool.select(F.col("conv_id").alias("id_a"), "gram")
    b = cool.select(F.col("conv_id").alias("id_b"), "gram")
    pairs = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_windows"))
        .filter(F.col("n_shared_windows") >= 2)
    )
    matches = q_matches(spark, sf_dir).select(
        "id_a", "id_b", F.lit(True).alias("_nd"))
    return pairs.join(matches, ["id_a", "id_b"], "left").select(
        "id_a", "id_b", "n_shared_windows",
        F.coalesce("_nd", F.lit(False)).alias("is_near_dup"),
    )


LINKAGE_QUERIES["fork_detection"] = q_fork_detection
LINKAGE_ORACLES["fork_detection"] = DUCK_TRANSCRIPTS + """,
grams AS MATERIALIZED (
  SELECT DISTINCT conv_id,
         md5(text || chr(31) || t1 || chr(31) || t2) AS gram
  FROM (
    SELECT conv_id, text,
           lead(text, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS t1,
           lead(text, 2) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS t2
    FROM transcripts WHERE text IS NOT NULL
  ) WHERE t2 IS NOT NULL
),
cool AS (
  SELECT g.conv_id, g.gram FROM grams g
  LEFT JOIN (
    SELECT gram FROM grams GROUP BY gram HAVING count(*) > 64
  ) h ON h.gram = g.gram
  WHERE h.gram IS NULL
),
pairs AS (
  SELECT a.conv_id AS id_a, b.conv_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_shared_windows
  FROM cool a JOIN cool b ON a.gram = b.gram
  WHERE a.conv_id < b.conv_id
  GROUP BY a.conv_id, b.conv_id
  HAVING count(*) >= 2
)
SELECT p.id_a, p.id_b, p.n_shared_windows,
       (m.id_a IS NOT NULL) AS is_near_dup
FROM pairs p LEFT JOIN matches m USING (id_a, id_b)"""


def q_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest ANN (operators/ann.py::incremental_lsh_pairs): the
    embeddings table splits deterministically (md5 first hex < '8' = the
    persisted corpus, rest = the new ingest batch); the old side
    contributes ONLY its persisted (id, chunk, chunk_val) band keys —
    old vectors are never re-signed — and the batch probes them by band
    key plus itself, cosine-verified at 0.35.  Completes the repo's
    rolling-ingest trio (minhash dedup index `dedup_incremental`,
    waterfall fingerprint index `waterfall_incremental`, and now the ANN
    band index); the oracle recomputes both sides from the embedded
    hyperplane literals, so the whole incremental path is SQL-checked,
    not just its counts."""
    ship_package(spark)
    e = _emb(spark, sf_dir)
    digit = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
    old, batch = e.filter(digit < "8"), e.filter(digit >= "8")
    index_keys = ann.lsh_band_keys(old)
    return ann.incremental_lsh_pairs(index_keys, batch, e, threshold=0.35)


def _incremental_lsh_oracle_sql(threshold: float = 0.35, dim: int = 64,
                                n_planes: int = 16, bands: int = 4,
                                seed: int = 42) -> str:
    """Oracle for the incremental ANN path: same hyperplane-literal
    signature/band chain as _lsh_ann_oracle_sql, with the candidate CTE
    restricted to new×old + new×new (old×old pairs belong to earlier
    batches)."""
    base = _lsh_ann_oracle_sql(threshold, dim, n_planes, bands, seed)
    old_cands = """cands AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
  WHERE a.vec_id < b.vec_id
)"""
    new_cands = """side AS (
  SELECT vec_id,
         substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8' AS is_old
  FROM embeddings
),
cands AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
  JOIN side sa ON sa.vec_id = a.vec_id
  JOIN side sb ON sb.vec_id = b.vec_id
  WHERE a.vec_id < b.vec_id AND NOT (sa.is_old AND sb.is_old)
)"""
    assert base.count(old_cands) == 1
    return base.replace(old_cands, new_cands)


LINKAGE_QUERIES["ann_incremental"] = q_ann_incremental
LINKAGE_ORACLES["ann_incremental"] = _incremental_lsh_oracle_sql()


def q_similarity_token_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-sort-ratio (the fuzzywuzzy/RapidFuzz workhorse): sort each
    side's FIRST-TURN tokens alphabetically, re-join, and take normalized
    banded edit distance on the sorted strings — word-order-insensitive
    fuzzy matching ('john smith' vs 'smith john' scores 1.0), the
    comparator that closes the fuzzy-matching family beside raw
    Levenshtein (order-sensitive), Jaro-Winkler (prefix-weighted),
    Monge-Elkan (best-pair token alignment) and TF-IDF cosine (weighted
    bag).  Sorting is a pure JVM array op; the scoring pass is the
    EXISTING banded kernel (max_distance 2, sentinel 3) on strings
    capped at one turn width; ratio = 1 - d/max_len, round4, sentinel
    rows floor at their capped bound rather than fabricating closeness.
    Cost: one narrow projection + the standard score path over the
    already-blocked stream."""

    ship_package(spark)
    canon = _canonical(spark, sf_dir)
    head = F.expr(f"substring(fingerprint, 1, {TURN_WIDTH})")
    sorted_head = canon.select(
        "conv_id",
        F.array_join(
            F.array_sort(F.filter(F.split(head, " "), lambda t: t != "")),
            " ",
        ).alias("fingerprint"),
    )
    pairs = q_candidate_pairs(spark, sf_dir)
    conf = LinkConfig(algorithm="standard", max_distance=2)
    scored = score_pairs(pairs, sorted_head, conf)
    la = sorted_head.select(F.col("conv_id").alias("id_a"),
                            F.length("fingerprint").alias("_la"))
    lb = sorted_head.select(F.col("conv_id").alias("id_b"),
                            F.length("fingerprint").alias("_lb"))
    return (
        scored.join(la, "id_a").join(lb, "id_b")
        .select(
            "id_a", "id_b",
            F.col("distance").alias("sorted_distance"),
            gate_round4(
                F.when(F.greatest("_la", "_lb") == 0, F.lit(1.0))
                .otherwise(1 - F.col("distance") / F.greatest("_la", "_lb"))
            ).alias("token_sort_ratio"),
        )
    )


LINKAGE_QUERIES["similarity_token_sort"] = q_similarity_token_sort
LINKAGE_ORACLES["similarity_token_sort"] = DUCK_TRANSCRIPTS + f""",
sorted_head AS MATERIALIZED (
  SELECT conv_id,
         array_to_string(
           list_sort(list_filter(
             string_split(substring(fingerprint, 1, {TURN_WIDTH}), ' '),
             t -> t <> '')),
           ' ') AS s
  FROM canonical2
)
SELECT p.id_a, p.id_b,
       CAST(least(levenshtein(a.s, b.s), 3) AS INT) AS sorted_distance,
       round(CASE WHEN greatest(length(a.s), length(b.s)) = 0 THEN 1.0
             ELSE 1.0 - CAST(least(levenshtein(a.s, b.s), 3) AS DOUBLE)
                  / greatest(length(a.s), length(b.s))
             END + 0.000000001, 4) AS token_sort_ratio
FROM cand_pairs p
JOIN sorted_head a ON a.conv_id = p.id_a
JOIN sorted_head b ON b.conv_id = p.id_b
WHERE abs(length(a.s) - length(b.s)) <= 2"""


def q_transduce_after_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary MUTATION parity — the reference's remove(term) surface on
    mutable dictionaries ([PK] SortedDawg add/remove): a deterministic
    ~1/4 of terms (portable-md5 first hex < '4') is deleted from the
    ALREADY-COMPILED dictionary by a term anti-join — surviving keys are
    NOT recompiled — and transduce over the mutated index must equal
    transduce over a dictionary compiled fresh from the surviving terms
    (the oracle takes the recompile route; any stale or lost key on the
    mutation route hash-mismatches).  At 10^12-turn scale this is the
    difference between an O(|deleted|) index delete and an O(|dict|)
    rebuild per retention event — the dictionary-side sibling of
    retract_entities."""
    ship_package(spark)
    conf = LinkConfig(algorithm="standard", max_distance=1,
                      blocking_scheme="deletions")
    d = _word_dictionary(spark, sf_dir)
    compiled = compile_dictionary(d, conf)
    removed = d.filter(F.substring(F.md5("term"), 1, 1) < "4").select(
        F.col("term").alias("candidate"))
    mutated = compiled.join(removed, "candidate", "left_anti")
    return transduce(_word_queries(d), mutated, conf)


LINKAGE_QUERIES["transduce_after_remove"] = q_transduce_after_remove
LINKAGE_ORACLES["transduce_after_remove"] = DUCK_WORDS + """
SELECT q.query_id, q.query_term, d.term AS candidate,
       CAST(levenshtein(q.query_term, d.term) AS INT) AS distance
FROM queries q CROSS JOIN dict d
WHERE substring(md5(d.term), 1, 1) >= '4'
  AND levenshtein(q.query_term, d.term) <= 1"""


def q_transduce_after_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary MUTATION parity, insertion side — the reference's
    incremental add(term) on mutable dictionaries ([PK] SortedDawg
    incremental construction; the symmetric twin of transduce_after_remove):
    the index is compiled from ONLY the terms with portable-md5 first hex
    >= '4' (~3/4 of the vocabulary), then a batch holding every term with
    first hex < '6' — i.e. all the missing terms PLUS a ['4','6') slice the
    index already contains — is appended via operators.transduce.add_terms
    (anti-join against the index's candidate set, compile keys for the
    unseen terms only; re-adds are dropped, proving add-idempotence on the
    same gate).  Transduce over the appended index must equal transduce
    over the FULL vocabulary compiled fresh — the oracle takes the
    recompile route, so any lost, stale, or doubled key on the append
    route hash-mismatches.  At 10^12-turn scale this is the difference
    between an O(|batch|) broadcast-append per ingest event and an
    O(|dict|) rebuild — the dictionary-side sibling of
    waterfall_incremental's persisted-index fold."""
    ship_package(spark)
    conf = LinkConfig(algorithm="standard", max_distance=1,
                      blocking_scheme="deletions")
    d = _word_dictionary(spark, sf_dir)
    base = d.filter(F.substring(F.md5("term"), 1, 1) >= "4")
    batch = d.filter(F.substring(F.md5("term"), 1, 1) < "6")
    appended = add_terms(compile_dictionary(base, conf), batch, conf)
    return transduce(_word_queries(d), appended, conf)


LINKAGE_QUERIES["transduce_after_add"] = q_transduce_after_add
LINKAGE_ORACLES["transduce_after_add"] = DUCK_WORDS + """
SELECT q.query_id, q.query_term, d.term AS candidate,
       CAST(levenshtein(q.query_term, d.term) AS INT) AS distance
FROM queries q CROSS JOIN dict d
WHERE levenshtein(q.query_term, d.term) <= 1"""


def q_exact_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mega-group pair-emission guard (operators/waterfall.py::exact_pairs
    max_group_size), hash-gated on BOTH branches: conversations grouped by
    a deliberately coarse template key (first fingerprint token — the gate
    corpus has no byte-identical fingerprints, so this plays the role the
    repeated boilerplate template plays at 10^12-turn scale, yielding
    groups of ~8-39 members at every SF), emitted with max_group_size=20.
    Groups at or under the cap must produce their verbatim C(n,2) pair
    sets; larger groups exactly the n-1 min-member star rows — the oracle
    recomputes both branches relationally, so a wrong branch cut, hub
    choice, or pair orientation hash-mismatches. The star emission is
    CC-identical to the full emission for the transitive consumer
    (pytest: test_exact_pairs_mega_group_guard; measured 49,996x emission
    cut on a 100k-replica template, BENCH_MEGA_GROUP.json)."""
    from .operators.waterfall import exact_groups, exact_pairs

    canon = _canonical(spark, sf_dir)
    pseudo = canon.select(
        "conv_id", F.substring_index("fingerprint", " ", 1).alias("fingerprint")
    )
    return exact_pairs(exact_groups(pseudo), max_group_size=20)


LINKAGE_QUERIES["exact_pairs_capped"] = q_exact_pairs_capped
LINKAGE_ORACLES["exact_pairs_capped"] = DUCK_TRANSCRIPTS + """
, g AS MATERIALIZED (
  SELECT conv_id,
         split_part(fingerprint, ' ', 1) AS k,
         min(conv_id) OVER (PARTITION BY split_part(fingerprint, ' ', 1)) AS hub,
         count(*) OVER (PARTITION BY split_part(fingerprint, ' ', 1)) AS gsz
  FROM canonical2
)
SELECT a.conv_id AS id_a, b.conv_id AS id_b
FROM g a JOIN g b ON a.k = b.k AND a.conv_id < b.conv_id
WHERE a.gsz <= 20
UNION ALL
SELECT least(conv_id, hub) AS id_a, greatest(conv_id, hub) AS id_b
FROM g WHERE gsz > 20 AND conv_id <> hub"""
