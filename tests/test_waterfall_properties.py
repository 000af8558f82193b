"""Property-based proof of the waterfall contraction claim
(operators/waterfall.py module docstring): because edit distance is a
function of the fingerprints alone, scoring ONE representative per distinct
fingerprint and expanding representative matches back to member pairs —
plus the distance-0 within-group pairs — reproduces the single-pass match
set EXACTLY, for ANY corpus and ANY distance budget.

Pure-Python mirror of exact_groups/exact_pairs/expand_rep_matches over the
exact recursive oracle (no SparkSession — hundreds of randomized corpora
per run via hypothesis; the Spark-side twins are gated by
tests/test_waterfall_incremental.py, the waterfall_linkage contract entry,
and the exceptAll parity recorded in BENCH_WATERFALL.json)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from liblevenshtein_spark.kernels.oracles import distance as oracle_distance

# small alphabet + short strings force heavy fingerprint collisions, the
# regime the contraction exists for
_fp = st.text(alphabet="ab", min_size=0, max_size=5)
_corpus = st.lists(_fp, min_size=1, max_size=10)


def _single_pass(fps: list[str], n: int) -> set[tuple[int, int, int]]:
    out = set()
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            d = oracle_distance(fps[i], fps[j], "standard")
            if d <= n:
                out.add((i, j, d))
    return out


def _waterfall(fps: list[str], n: int) -> set[tuple[int, int, int]]:
    # exact_groups: rep = min id per distinct fingerprint
    rep: dict[str, int] = {}
    for i, fp in enumerate(fps):
        rep.setdefault(fp, i)
    members: dict[int, list[int]] = {}
    for i, fp in enumerate(fps):
        members.setdefault(rep[fp], []).append(i)

    out = set()
    # exact pairs: within-group, distance 0
    for ms in members.values():
        for x in range(len(ms)):
            for y in range(x + 1, len(ms)):
                out.add((ms[x], ms[y], 0))
    # fuzzy pass on representatives only, expanded back to member pairs
    reps = sorted(members)
    for x in range(len(reps)):
        for y in range(x + 1, len(reps)):
            ra, rb = reps[x], reps[y]
            d = oracle_distance(fps[ra], fps[rb], "standard")
            if d <= n:
                for ma in members[ra]:
                    for mb in members[rb]:
                        out.add((min(ma, mb), max(ma, mb), d))
    return out


@settings(max_examples=300, deadline=None)
@given(corpus=_corpus, n=st.integers(min_value=0, max_value=3))
def test_waterfall_equals_single_pass(corpus, n):
    assert _waterfall(corpus, n) == _single_pass(corpus, n)


@settings(max_examples=100, deadline=None)
@given(corpus=_corpus, n=st.integers(min_value=0, max_value=2),
       replicas=st.integers(min_value=2, max_value=4))
def test_waterfall_kernel_volume_invariant_under_replication(corpus, n, replicas):
    """Replicating every entity R times must not change the fuzzy pass's
    input: the representative set size equals the DISTINCT fingerprint
    count, independent of R — the whole point of the contraction."""
    replicated = corpus * replicas
    rep: dict[str, int] = {}
    for i, fp in enumerate(replicated):
        rep.setdefault(fp, i)
    assert len(rep) == len(set(corpus))
    assert _waterfall(replicated, n) == _single_pass(replicated, n)
