from .alignment import align_turns
from .candidates import (block_keys, candidate_pairs, cross_source_pairs,
                         salted_cross_pairs)
from .canonicalize import canonicalize, turns_roundtrip
from .canopy import canopy_members, canopy_pairs
from .clustering import (affected_subgraph, apply_adjudications,
                         assign_clusters, cluster_diff, cluster_exemplars,
                         connected_components, entity_history, golden_records,
                         retract_entities, stable_entity_ids)
from .comparators import soft_tfidf_pairs
from .graph import cluster_cohesion, edge_support, robust_clusters
from .matching import one_to_one
from .ann import incremental_lsh_pairs, lsh_band_keys
from .analytics import profile_columns
from .metrics import blocking_key_drift, calibration_bins, capture_recapture
from .sampling import stratified_sample
from .pprl import bloom_band_candidates, bloom_encode, dice_pairs
from .corpus_quality import trigram_lm_scores
from .scoring import attach_texts, match_filter, score_pairs
from .waterfall import exact_groups, exact_pairs, expand_rep_matches

__all__ = [
    "affected_subgraph", "align_turns", "apply_adjudications",
    "assign_clusters", "attach_texts", "block_keys",
    "blocking_key_drift", "bloom_band_candidates", "bloom_encode",
    "calibration_bins", "candidate_pairs", "canonicalize", "canopy_members",
    "canopy_pairs", "capture_recapture", "cluster_cohesion", "cluster_exemplars",
    "cluster_diff", "connected_components", "cross_source_pairs", "dice_pairs",
    "edge_support", "entity_history", "exact_groups",
    "exact_pairs", "expand_rep_matches", "golden_records",
    "incremental_lsh_pairs", "lsh_band_keys",
    "match_filter", "one_to_one", "profile_columns", "retract_entities",
    "robust_clusters", "salted_cross_pairs",
    "score_pairs", "soft_tfidf_pairs", "stable_entity_ids",
    "stratified_sample",
    "trigram_lm_scores", "turns_roundtrip",
]
