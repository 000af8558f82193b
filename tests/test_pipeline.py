"""End-to-end pipeline test (SURVEY.md M1–M3): transcripts -> clusters must
match the brute-force oracle (all-pairs kernel distances + union-find) and
hit the F1 >= 0.99 gate on the planted labeled pairs (BASELINE.json)."""

from __future__ import annotations

import itertools

import pytest

from pyspark.sql import functions as F

from liblevenshtein_spark.config import FINGERPRINT_SEP, LinkConfig
from liblevenshtein_spark.kernels.banded import batch_banded_distance
from liblevenshtein_spark.plans.pipeline import run_linkage
from liblevenshtein_spark.sources.tables import TRANSCRIPTS_SCHEMA
from liblevenshtein_spark.testdata_gen import gen_transcript_rows

from test_clustering import union_find


def _fingerprints(rows):
    convs = {}
    for conv_id, turn_idx, _r, text, _t, _ts in rows:
        convs.setdefault(conv_id, []).append((turn_idx, text))
    return {cid: FINGERPRINT_SEP.join(t for _, t in sorted(ts)) for cid, ts in convs.items()}


@pytest.mark.parametrize("algorithm", ["standard", "transposition", "merge_and_split"])
def test_pipeline_matches_brute_force(spark, algorithm):
    rows, planted = gen_transcript_rows(
        n_base=35, dup_fraction=0.6, max_edits=2, algorithm=algorithm
    )
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    conf = LinkConfig(algorithm=algorithm, max_distance=2, hot_key_threshold=200)
    res = run_linkage(df, conf)

    fps = _fingerprints(rows)
    ids = sorted(fps)
    combos = list(itertools.combinations(ids, 2))
    d = batch_banded_distance(
        [fps[a] for a, _ in combos], [fps[b] for _, b in combos], 2, algorithm
    )
    true_matches = {
        (a, b): int(dist) for (a, b), dist in zip(combos, d) if dist <= 2
    }

    got_matches = {
        (r.id_a, r.id_b): r.distance for r in res.matches.collect()
    }
    assert got_matches == true_matches  # exact accepted-set + distance parity

    want_clusters = union_find(ids, list(true_matches))
    got_clusters = {r.conv_id: r.cluster_id for r in res.clusters.collect()}
    assert got_clusters == want_clusters

    # Planted dups must actually land in their base's cluster (sanity that
    # the fixture exercised the match path).
    assert planted, "fixture must plant duplicates"
    linked = sum(
        1 for dup, (base, _) in planted.items()
        if got_clusters[dup] == got_clusters[base]
    )
    assert linked / len(planted) == pytest.approx(1.0)


def test_pairwise_f1_gate(spark):
    """Pairwise F1 >= 0.99 vs the oracle match set (BASELINE.json metric).
    With complete blocking + exact kernels this is exactly 1.0."""
    rows, _ = gen_transcript_rows(n_base=60, dup_fraction=0.5, max_edits=2)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    conf = LinkConfig(algorithm="standard", max_distance=2, hot_key_threshold=500)
    res = run_linkage(df, conf)

    fps = _fingerprints(rows)
    ids = sorted(fps)
    combos = list(itertools.combinations(ids, 2))
    d = batch_banded_distance(
        [fps[a] for a, _ in combos], [fps[b] for _, b in combos], 2, "standard"
    )
    truth = {pair for pair, dist in zip(combos, d) if dist <= 2}
    got = {(r.id_a, r.id_b) for r in res.matches.collect()}

    tp = len(truth & got)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(truth) if truth else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert f1 >= 0.99, (precision, recall)


_SCORE_ENTS = [("a", "kitten"), ("b", "sitten"), ("c", "sittin"), ("d", "zzzzzzzzzz"),
               ("e", "kitte"), ("f", ""), ("g", "cafés"), ("h", "cafes"),
               ("i", "acfés"), ("j", "ab"), ("k", ""),
               ("l", "\U0001D49Citten"), ("m", "\U0001D49Ditten")]
_SCORE_PAIRS = [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("e", "a"), ("f", "e"),
                ("g", "a"), ("g", "e"), ("g", "h"), ("i", "g"), ("f", "j"), ("f", "k"),
                ("l", "a"), ("l", "m"), ("a", "missing")]


@pytest.mark.parametrize("algorithm,units", [
    ("standard", "codepoint"), ("transposition", "codepoint"),
    ("merge_and_split", "codepoint"), ("standard", "utf16"),
])
def test_score_pairs_matches_oracle(spark, algorithm, units):
    """score_pairs equals the pure-Python oracle capped at the n+1 sentinel,
    on ASCII text and on non-ASCII text ("cafés" and the astral letters send
    a batch down the Arrow entry's list fallback), including the empty
    string. Under units='utf16' an astral character is two code units, so
    the oracle runs on the surrogate-expanded text. Pairs outside the
    code-point length band are dropped before the kernel, never scored, and
    a pair naming an unknown id is dropped by the text attach."""
    from liblevenshtein_spark.kernels.oracles import distance
    from liblevenshtein_spark.operators.scoring import score_pairs

    from test_utf16_units import u16_units

    n = 2
    ents = spark.createDataFrame(_SCORE_ENTS, "conv_id string, fingerprint string")
    pairs = spark.createDataFrame(_SCORE_PAIRS, "id_a string, id_b string")
    text = dict(_SCORE_ENTS)
    units_of = u16_units if units == "utf16" else str
    want = {
        (a, b, min(distance(units_of(text[a]), units_of(text[b]), algorithm), n + 1))
        for a, b in _SCORE_PAIRS
        if a in text and b in text and abs(len(text[a]) - len(text[b])) <= n
    }
    conf = LinkConfig(algorithm=algorithm, max_distance=n, units=units)
    got = {tuple(r) for r in score_pairs(pairs, ents, conf).collect()}
    assert got == want
    assert {d for _, _, d in want} == {0, 1, 2, n + 1}  # fixture spans the band
    assert ("l", "a", 2 if units == "utf16" else 1) in want


def test_score_pairs_runs_kernel_once(spark):
    """A distance filter over the scored frame must not make Catalyst
    evaluate the kernel twice: the executed plan holds exactly one
    MapInArrow node."""
    from liblevenshtein_spark.operators.scoring import score_pairs

    ents = spark.createDataFrame(_SCORE_ENTS, "conv_id string, fingerprint string")
    pairs = spark.createDataFrame(_SCORE_PAIRS, "id_a string, id_b string")
    conf = LinkConfig(algorithm="standard", max_distance=2)
    matched = score_pairs(pairs, ents, conf).filter(F.col("distance") <= 2)
    assert matched.collect()
    plan = matched._jdf.queryExecution().executedPlan().toString()
    # after execution AQE prints the final plan, then the initial one
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInArrow") == 1, plan


def test_score_pairs_preserves_id_types_and_passthrough(spark):
    """Non-string ids keep their types through the mapInArrow scorer, and
    extra pair columns ride through unchanged (round-2 ADVICE fix)."""
    from liblevenshtein_spark.config import LinkConfig
    from liblevenshtein_spark.operators.scoring import score_pairs

    conf = LinkConfig(algorithm="standard", max_distance=2)
    ents = spark.createDataFrame(
        [(1, "kitten"), (2, "sitten"), (3, "zzz")],
        "conv_id long, fingerprint string",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 7), (1, 3, 9)], "id_a long, id_b long, bucket int"
    )
    out = score_pairs(pairs, ents, conf)
    assert [f.simpleString() for f in out.schema.fields] == [
        "id_a:bigint", "id_b:bigint", "bucket:int", "distance:int"
    ]
    rows = {(r.id_a, r.id_b, r.bucket, r.distance) for r in out.collect()}
    assert rows == {(1, 2, 7, 1)}  # (1,3) fails the native length-band filter


def test_contract_exact_preserves_clusters(spark):
    """contract_exact=True must yield the IDENTICAL cluster partition while
    scoring only representatives (corpus planted with exact duplicates and
    near-duplicates of duplicated entities)."""
    from pyspark.sql import functions as F

    rows, _ = gen_transcript_rows(n_base=25, dup_fraction=0.6, max_edits=2, seed=5)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    # exact copies of every conversation (x2 for some) -> exact groups
    copy1 = df.withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("_x1")))
    copy2 = (df.filter(F.xxhash64("conv_id") % 2 == 0)
             .withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("_x2"))))
    full = df.unionByName(copy1).unionByName(copy2)

    conf = LinkConfig(algorithm="standard", max_distance=2, hot_key_threshold=500)
    plain = run_linkage(full, conf, contract_exact=False)
    contracted = run_linkage(full, conf, contract_exact=True)

    want = {(r.conv_id, r.cluster_id) for r in plain.clusters.collect()}
    got = {(r.conv_id, r.cluster_id) for r in contracted.clusters.collect()}
    assert got == want

    # the contracted run scored strictly fewer pairs (no within-group pairs)
    assert contracted.scored.count() < plain.scored.count()
    # and rep-level matches are a subset of the member-level set
    rep_m = {(r.id_a, r.id_b) for r in contracted.matches.collect()}
    all_m = {(r.id_a, r.id_b) for r in plain.matches.collect()}
    assert rep_m <= all_m and len(rep_m) > 0


def test_cluster_strategy_star(spark):
    """run_linkage(cluster_strategy='star') produces the one-hop star
    assignment over the same match graph: every member is a DIRECT match
    of its center, and the match set equals the cc-strategy run's."""
    from liblevenshtein_spark.config import LinkConfig
    from liblevenshtein_spark.plans.pipeline import run_linkage
    from liblevenshtein_spark.sources.tables import TRANSCRIPTS_SCHEMA
    from liblevenshtein_spark.testdata_gen import gen_transcript_rows

    rows, _ = gen_transcript_rows(n_base=25, dup_fraction=0.6, max_edits=2, seed=11)
    t = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    cc = run_linkage(t, LinkConfig(max_distance=2, cluster_strategy="cc"))
    st = run_linkage(t, LinkConfig(max_distance=2, cluster_strategy="star"))
    assert sorted(r["conv_id"] for r in cc.clusters.collect()) == \
           sorted(r["conv_id"] for r in st.clusters.collect())
    # star members attach to a direct neighbor (or themselves)
    edges = {(r["id_a"], r["id_b"]) for r in st.matches.select("id_a", "id_b").collect()}
    sym = edges | {(b, a) for a, b in edges}
    for r in st.clusters.collect():
        assert r["cluster_id"] == r["conv_id"] or (r["conv_id"], r["cluster_id"]) in sym
    # matches identical across strategies (clustering is downstream)
    assert cc.matches.count() == st.matches.count()


def test_cluster_strategy_validation():
    from liblevenshtein_spark.config import LinkConfig

    import pytest as _pytest
    with _pytest.raises(ValueError, match="cluster_strategy"):
        LinkConfig(cluster_strategy="bogus")


def test_cluster_strategy_star_contracted(spark):
    """star + contract_exact is DEFINED as star over distinct fingerprints
    with exact-duplicate members expanded into their rep's cluster — so
    exact duplicates ALWAYS co-cluster (a guarantee plain star lacks:
    two exact duplicates whose neighborhood has no center self-center
    separately)."""
    from liblevenshtein_spark.config import LinkConfig
    from liblevenshtein_spark.plans.pipeline import run_linkage
    from liblevenshtein_spark.sources.tables import TRANSCRIPTS_SCHEMA
    from liblevenshtein_spark.testdata_gen import gen_transcript_rows

    rows, _ = gen_transcript_rows(n_base=20, dup_fraction=0.5, max_edits=2, seed=5)
    # plant byte-identical duplicates of some conversations' turns
    exact = [
        tuple([str(r[0]) + "_x0", *list(r)[1:]])
        for r in rows
        if str(r[0]).endswith("0") and "_dup" not in str(r[0])
    ]
    t = spark.createDataFrame(list(rows) + exact, TRANSCRIPTS_SCHEMA)
    conf = LinkConfig(max_distance=2, cluster_strategy="star")
    res = run_linkage(t, conf, contract_exact=True)
    # exact duplicates (max_edits=0 -> dups are byte-identical) co-cluster
    from liblevenshtein_spark.operators.canonicalize import canonicalize

    canon = canonicalize(t)
    joined = res.clusters.join(canon.select("conv_id", "fingerprint"), "conv_id")
    n_violations = (
        joined.groupBy("fingerprint")
        .agg(F.countDistinct("cluster_id").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert n_violations == 0
    # all entities assigned exactly once
    assert res.clusters.count() == canon.count()


def test_cluster_strategy_pivot(spark):
    """run_linkage(cluster_strategy='pivot') runs pivot correlation
    clustering over the same match graph: every member is a DIRECT match
    of its pivot, the assignment equals the standalone operator, and the
    match set is identical across strategies."""
    from liblevenshtein_spark.config import LinkConfig
    from liblevenshtein_spark.operators.clustering import pivot_clusters
    from liblevenshtein_spark.plans.pipeline import run_linkage
    from liblevenshtein_spark.sources.tables import TRANSCRIPTS_SCHEMA
    from liblevenshtein_spark.testdata_gen import gen_transcript_rows

    rows, _ = gen_transcript_rows(n_base=25, dup_fraction=0.6, max_edits=2, seed=11)
    t = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    cc = run_linkage(t, LinkConfig(max_distance=2, cluster_strategy="cc"))
    pv = run_linkage(t, LinkConfig(max_distance=2, cluster_strategy="pivot"))
    assert sorted(r["conv_id"] for r in cc.clusters.collect()) == \
           sorted(r["conv_id"] for r in pv.clusters.collect())
    edges = {(r["id_a"], r["id_b"]) for r in pv.matches.select("id_a", "id_b").collect()}
    sym = edges | {(b, a) for a, b in edges}
    for r in pv.clusters.collect():
        assert r["cluster_id"] == r["conv_id"] or (r["conv_id"], r["cluster_id"]) in sym
    assert cc.matches.count() == pv.matches.count()
    # pipeline assignment == standalone operator on the same graph
    want = {
        r["conv_id"]: r["pivot_id"]
        for r in pivot_clusters(
            cc.canonical.select("conv_id"), cc.matches.select("id_a", "id_b")
        ).collect()
    }
    got = {r["conv_id"]: r["cluster_id"] for r in pv.clusters.collect()}
    assert got == want
