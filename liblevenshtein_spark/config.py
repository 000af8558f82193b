"""Pipeline configuration — the Spark-native analogue of the reference's
TransducerBuilder (universal-automata/liblevenshtein: builder with
algorithm / defaultMaxDistance / includeDistance / dictionary attributes,
README.md:13-21). A `LinkConfig` selects the distance kernel variant, the
blocking-key scheme and the scale knobs; it is a plain dataclass so jobs can
ship it with spark-submit --py-files."""

from __future__ import annotations

from dataclasses import dataclass, field

ALGORITHMS = ("standard", "transposition", "merge_and_split")

# Record separator used to join per-turn texts into one fingerprint string.
# The turns array stays authoritative (SURVEY.md §7.3 item 4); fixtures
# guarantee text never contains this control char.
FINGERPRINT_SEP = "\x1e"


@dataclass(frozen=True)
class LinkConfig:
    """Configuration for the blocking + scoring + clustering pipeline."""

    algorithm: str = "standard"
    max_distance: int = 2
    include_distance: bool = True  # reference's includeDistance builder flag
    # Comparison alphabet for the distance kernels:
    #   'codepoint' : Unicode code points (Python semantics; the default)
    #   'utf16'     : UTF-16 code units — bit-for-bit the Java reference's
    #                 String.charAt comparison `[PK]` (astral characters
    #                 count as their surrogate pair). The two only differ
    #                 outside the BMP. Blocking keys stay code-point-based
    #                 and remain COMPLETE because d_codepoint <= d_utf16
    #                 (property-tested, tests/test_kernel_properties.py),
    #                 so any pair within a utf16 budget is also within the
    #                 same code-point budget the keys are built for; the
    #                 native |length| prefilter is likewise sound since
    #                 |cp_len_a - cp_len_b| <= d_codepoint.
    units: str = "codepoint"

    # --- blocking ---------------------------------------------------------
    # 'segments'  : PassJoin-style even segments + shifted-substring probes
    #               (complete for all variants; the default for long
    #               fingerprints / transcripts).
    # 'deletions' : FastSS deletion neighborhoods (complete for standard and
    #               transposition at depth n; merge_and_split needs depth 2n
    #               — SURVEY.md §4.3). Best for short terms (word dicts).
    blocking_scheme: str = "segments"
    # Number of segments; None -> derived from variant:
    #   standard: n+1, transposition / merge_and_split: 2n+1
    # (a transposition/merge/split can damage two adjacent segments with one
    # unit of cost, so pigeonhole needs 2n+1 intact-candidate segments).
    n_segments: int | None = None
    # Deletion-neighborhood depth; None -> n (standard/transposition), 2n (m&s).
    deletion_depth: int | None = None
    # Cap on records sharing one raw block key before salting/demotion kicks in.
    hot_key_threshold: int = 5000
    # Run the hot-key detection aggregate + bounded existence probe inside
    # candidate_pairs (one eager driver action at plan-construction time).
    # Default True: correct on skewed corpora, amortized in batch jobs.
    # Set False for latency-sensitive micro-batches (streaming _link_batch
    # invokes candidate_pairs per batch) where the batch is known to sit
    # below hot_key_threshold per key — the plain equi-join is then
    # logically identical and the per-batch blocking driver round-trip
    # disappears.
    skew_probe: bool = True

    # --- scale knobs ------------------------------------------------------
    shuffle_partitions: int | None = None  # None -> leave session value
    cc_max_iterations: int = 50
    checkpoint_buckets: int = 64  # resume-ledger granularity (P9)
    # Clustering strategy (beyond the reference, which has no clustering):
    # 'cc'   : transitive large-star/small-star connected components —
    #          chains a-b-c merge even when d(a,c) > n (the default).
    # 'star' : deterministic one-hop CENTER-by-id — diameter <= 2, every
    #          member a DIRECT match of its center; the mega-cluster
    #          mitigation choice, and a fixed 3-join dataflow with zero
    #          driver-side iteration (see eval_bcubed_star for the
    #          measured precision/recall trade).
    # 'pivot': Ailon-Charikar-Newman correlation-clustering pivot in its
    #          round-synchronous parallel form — diameter <= 2 like star,
    #          but assigned nodes leave the graph and the rule re-runs on
    #          the residual, so nodes star would strand as singletons
    #          regroup under later-round pivots (expected-3-approximation
    #          structure; see eval_bcubed_pivot).
    cluster_strategy: str = "cc"

    fingerprint_sep: str = FINGERPRINT_SEP

    def __post_init__(self) -> None:
        if self.algorithm not in ALGORITHMS:
            raise ValueError(f"algorithm must be one of {ALGORITHMS}")
        if self.max_distance < 0:
            raise ValueError("max_distance must be >= 0")
        # The banded kernel stores DP cells as uint8 (values <= n+2), so the
        # distance budget is capped; surface that at config time instead of
        # deep inside an executor task (kernels.banded._MAX_N).
        if self.max_distance > 200:
            raise ValueError(
                "max_distance must be <= 200 (uint8 DP-cell kernel limit)"
            )
        if self.units not in ("codepoint", "utf16"):
            raise ValueError("units must be 'codepoint' or 'utf16'")
        if self.blocking_scheme not in ("segments", "deletions"):
            raise ValueError("blocking_scheme must be 'segments' or 'deletions'")
        if self.cluster_strategy not in ("cc", "star", "pivot"):
            raise ValueError("cluster_strategy must be 'cc', 'star' or 'pivot'")

    @property
    def effective_segments(self) -> int:
        if self.n_segments is not None:
            return self.n_segments
        n = self.max_distance
        return n + 1 if self.algorithm == "standard" else 2 * n + 1

    @property
    def effective_deletion_depth(self) -> int:
        if self.deletion_depth is not None:
            return self.deletion_depth
        n = self.max_distance
        return 2 * n if self.algorithm == "merge_and_split" else n
