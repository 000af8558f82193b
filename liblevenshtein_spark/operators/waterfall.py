"""Waterfall (multi-pass) linkage: deterministic exact pass first, fuzzy
kernel pass on distinct fingerprints only — the standard MDM/mastering
pattern (cheap deterministic rules resolve the bulk; the probabilistic
comparator only ever sees what the rules could not decide).

Exact-duplicate CONTRACTION is the scale lever: at 10^12-turn scale the
corpus is dominated by repeated boilerplate conversations (the same
greeting template millions of times).  Because edit distance is a function
of the fingerprints alone, d(a, b) depends only on (fp(a), fp(b)) — so the
kernel stage may score one REPRESENTATIVE per distinct fingerprint and
every member pair inherits the representative pair's distance EXACTLY (no
approximation).  Kernel calls and Arrow transfer drop from O(candidate
pairs) to O(distinct-fingerprint pairs), and the blocked join itself runs
on the contracted entity set, which also deflates the hottest blocking
keys (identical fingerprints share all their keys by construction).

The expansion is exact-parity because blocking keys are a function of the
fingerprint too: members of a group share every key, so candidate(a, b)
implies candidate(rep(a), rep(b)), and the length-band prefilter commutes
with contraction (equal fingerprints have equal lengths).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["exact_groups", "exact_pairs", "expand_rep_matches",
           "incremental_exact_groups", "fingerprint_index", "normalize_reps"]


def exact_groups(canon: DataFrame, id_col: str = "conv_id",
                 fp_col: str = "fingerprint") -> DataFrame:
    """(id, fingerprint, ...) -> (id, rep) where rep is the minimum id among
    entities with a byte-identical fingerprint.

    One shuffle keyed on the fingerprint (exact equality needs the full
    value on the wire once — the same budget the exact-dedup operator
    already pays); the min-id reduction partial-aggregates map-side.  The
    rep map is (id, rep) only, so everything downstream rides narrow
    columns."""
    reps = (
        canon.groupBy(fp_col)
        .agg(F.min(id_col).alias("rep"))
    )
    return canon.join(reps, fp_col).select(id_col, "rep")


def fingerprint_index(canon: DataFrame, id_col: str = "conv_id",
                      fp_col: str = "fingerprint") -> DataFrame:
    """The persisted exact-contraction index: one (fingerprint, rep) row
    per distinct fingerprint, rep = min member id — a single
    map-side-combined aggregation (the same shape
    incremental_exact_groups uses for its unseen set)."""
    return canon.groupBy(fp_col).agg(F.min(id_col).alias("rep"))


def normalize_reps(mapping: DataFrame, id_col: str = "conv_id") -> DataFrame:
    """Re-label sticky reps to the group-min member id so an incrementally
    built mapping compares directly against one-shot exact_groups output
    (per-rep min + join-back on the narrow (id, rep) pairs). Shared by
    the batch gate entry and the streaming sink reader so the
    normalization convention cannot diverge."""
    norm = mapping.groupBy("rep").agg(F.min(id_col).alias("_g"))
    return mapping.join(norm, "rep").select(id_col, F.col("_g").alias("rep"))


def incremental_exact_groups(index: DataFrame, new_canon: DataFrame,
                             id_col: str = "conv_id",
                             fp_col: str = "fingerprint"
                             ) -> tuple[DataFrame, DataFrame]:
    """Fold a NEW ingest batch into a persisted exact-contraction index —
    the rolling-ingest shape of the waterfall plan: `index` is the
    persisted (fingerprint, rep) dictionary of every fingerprint ever
    seen; the old corpus itself is NEVER re-read.

    Returns (mapping, new_index_rows):
      mapping        — (id, rep) for every new-batch entity: batch rows
                       whose fingerprint is already indexed inherit the
                       EXISTING rep (sticky reps — downstream incremental
                       clustering folds see a stable node id), unseen
                       fingerprints get min-new-id reps;
      new_index_rows — (fingerprint, rep) for the unseen fingerprints
                       only: the index append, and exactly the set of
                       representatives the kernel pass must score this
                       batch (everything else was decided by the rules).

    Scale shape: one key join of the batch against the index (probe,
    never scan — the 10^12-turn index is a bucketed table and this is an
    Exchange-free lookup) plus one left-anti + min-agg on the batch side
    only. Kernel/Arrow work per batch ∝ unseen-distinct fingerprints,
    the same contraction guarantee as the batch plan
    (BENCH_WATERFALL.json: 654× at 20× replication)."""
    hits = new_canon.join(index, fp_col).select(id_col, "rep")
    misses = new_canon.join(index.select(fp_col), fp_col, "left_anti")
    new_reps = misses.groupBy(fp_col).agg(F.min(id_col).alias("rep"))
    miss_map = misses.join(new_reps, fp_col).select(id_col, "rep")
    return hits.unionByName(miss_map), new_reps


def exact_pairs(mapping: DataFrame, id_col: str = "conv_id",
                max_group_size: int | None = None) -> DataFrame:
    """All within-group pairs (id_a < id_b) from an exact_groups map — the
    deterministic-rule matches, emitted without touching the kernel.

    Output-bounded in the default case: the self-join on rep produces
    exactly the pairs a linkage product must report for byte-identical
    records; group sizes are the corpus's exact-duplicate multiplicities,
    so the cost is the size of the answer.  But a pathological mega-group
    (one boilerplate fingerprint repeated 10^6+ times in a 10^12-turn
    corpus) makes that ANSWER quadratic — 10^12 pairs from a single
    template — which no downstream consumer can absorb either.

    ``max_group_size`` is the guard: groups at or under the threshold emit
    their full C(n,2) pair set as before; groups ABOVE it emit only the
    n-1 STAR pairs from the group's minimum member id to every other
    member.  The star preserves within-group connectivity EXACTLY, so any
    transitive consumer (cluster_cc / assign_clusters — the pipeline's
    default sink for these edges) produces byte-identical clusters while
    the mega-group's emission drops from quadratic to linear (3,000-replica
    stress: 4,498,500 -> 2,999 rows, tests/test_waterfall.py).  Only a
    consumer that needs every literal pair row (e.g. a pair-level audit
    export) should leave the knob off — and then capping belongs to its
    retention policy, not here.  None (default) preserves the historical
    emit-everything behavior."""
    a = mapping.select(F.col("rep"), F.col(id_col).alias("id_a"))
    b = mapping.select(F.col("rep"), F.col(id_col).alias("id_b"))
    if max_group_size is None:
        return (
            a.join(b, "rep")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
    sizes = mapping.groupBy("rep").agg(
        F.count(F.lit(1)).alias("_gsz"), F.min(id_col).alias("_hub")
    )
    tagged = mapping.join(sizes, "rep")
    small = tagged.filter(F.col("_gsz") <= max_group_size)
    full = (
        small.select("rep", F.col(id_col).alias("id_a"))
        .join(small.select("rep", F.col(id_col).alias("id_b")), "rep")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    star = (
        tagged.filter((F.col("_gsz") > max_group_size)
                      & (F.col(id_col) != F.col("_hub")))
        .select(
            F.least(id_col, "_hub").alias("id_a"),
            F.greatest(id_col, "_hub").alias("id_b"),
        )
    )
    return full.unionByName(star)


def expand_rep_matches(rep_matches: DataFrame, mapping: DataFrame,
                       id_col: str = "conv_id",
                       extra_cols: tuple[str, ...] = ("distance",)) -> DataFrame:
    """Expand representative-level fuzzy matches back to member pairs.

    rep_matches is (id_a, id_b, *extra_cols) over representative ids;
    every (member-of-a, member-of-b) pair inherits the row's extra
    columns verbatim (exact, not approximate — see module docstring).
    Pairs are re-normalized to id_a < id_b since member ids need not
    preserve the representatives' order. Two joins against the narrow
    (id, rep) map; the map side broadcasts when small and shuffles on
    rep otherwise — either way the fingerprints themselves never ride."""
    m_a = mapping.select(F.col("rep").alias("id_a"), F.col(id_col).alias("_ma"))
    m_b = mapping.select(F.col("rep").alias("id_b"), F.col(id_col).alias("_mb"))
    return (
        rep_matches.join(m_a, "id_a").join(m_b, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            *extra_cols,
        )
    )
