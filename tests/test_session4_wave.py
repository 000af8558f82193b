"""Session-4 wave: retraction repair parity, capture–recapture closed form,
column profiling, and token-sequence distance via dictionary encoding.

retract_entities' contract is the graph fact it rests on: deleting nodes can
split a connected component but never merge two, so repairing only affected
clusters must equal a full re-cluster of the survivor graph — asserted here
against a pure-python union-find over randomized graphs (bridges included),
for BOTH physical CC strategies (driver fast path and distributed loop).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from liblevenshtein_spark.operators.clustering import (
    assign_clusters, retract_entities,
)
from liblevenshtein_spark.operators.metrics import capture_recapture
from liblevenshtein_spark.operators.analytics import profile_columns

from test_clustering import union_find


def _random_graph(rng, n_nodes, n_edges):
    nodes = [f"n{i:03d}" for i in range(n_nodes)]
    edges = set()
    while len(edges) < n_edges:
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    return nodes, sorted(edges)


def test_retract_parity_randomized(spark):
    # six disjoint random trials, node ids prefixed t{trial}_, run as ONE
    # graph per CC path; components never span trials, so each trial's
    # restriction of the repaired assignment must equal its own union-find
    rng = random.Random(7)
    nodes, edges, deleted, want = [], [], [], {}
    for trial in range(6):
        t_nodes, t_edges = _random_graph(rng, 40, rng.randint(10, 60))
        t_deleted = set(rng.sample(t_nodes, rng.randint(1, 12)))
        survivors = [n for n in t_nodes if n not in t_deleted]
        kept_edges = [(a, b) for a, b in t_edges
                      if a not in t_deleted and b not in t_deleted]
        pre = f"t{trial}_"
        want[trial] = {pre + n: pre + c
                       for n, c in union_find(survivors, kept_edges).items()}
        nodes += [pre + n for n in t_nodes]
        edges += [(pre + a, pre + b) for a, b in t_edges]
        deleted += [pre + d for d in t_deleted]

    nodes_df = spark.createDataFrame([(n,) for n in nodes], ["conv_id"])
    edges_df = spark.createDataFrame(edges, ["id_a", "id_b"])
    deleted_df = spark.createDataFrame([(d,) for d in deleted], ["conv_id"])
    for threshold in (1_000_000, 0):
        assignment = assign_clusters(nodes_df, edges_df,
                                     small_graph_edges=threshold)
        got = {
            r.conv_id: r.cluster_id
            for r in retract_entities(
                assignment, edges_df, deleted_df,
                small_graph_edges=threshold
            ).collect()
        }
        for trial, want_t in want.items():
            got_t = {n: c for n, c in got.items()
                     if n.startswith(f"t{trial}_")}
            assert got_t == want_t, (
                f"trial={trial} small_graph_edges={threshold}")
        assert len(got) == sum(len(w) for w in want.values())


def test_retract_bridge_splits_cluster(spark):
    # a - b - c chained through bridge b: deleting b must split {a,c}
    nodes_df = spark.createDataFrame([("a",), ("b",), ("c",)], ["conv_id"])
    edges_df = spark.createDataFrame([("a", "b"), ("b", "c")], ["id_a", "id_b"])
    assignment = assign_clusters(nodes_df, edges_df)
    out = {
        r.conv_id: r.cluster_id
        for r in retract_entities(
            assignment, edges_df,
            spark.createDataFrame([("b",)], ["conv_id"]),
        ).collect()
    }
    assert out == {"a": "a", "c": "c"}


def test_retract_untouched_cluster_passes_through(spark):
    nodes_df = spark.createDataFrame(
        [("a",), ("b",), ("x",), ("y",)], ["conv_id"])
    edges_df = spark.createDataFrame([("a", "b"), ("x", "y")], ["id_a", "id_b"])
    assignment = assign_clusters(nodes_df, edges_df)
    out = {
        r.conv_id: r.cluster_id
        for r in retract_entities(
            assignment, edges_df,
            spark.createDataFrame([("y",)], ["conv_id"]),
        ).collect()
    }
    assert out == {"a": "a", "b": "a", "x": "x"}


def test_capture_recapture_closed_form(spark):
    pairs = lambda rows: spark.createDataFrame(rows, ["id_a", "id_b"])
    a = pairs([("a", "b"), ("c", "d"), ("e", "f"), ("g", "h")])
    b = pairs([("a", "b"), ("c", "d"), ("i", "j")])
    row = capture_recapture(a, b).collect()[0]
    assert (row.n_a, row.n_b, row.n_both) == (4, 3, 2)
    # Chapman: (4+1)*(3+1)//(2+1) - 1 = 20//3 - 1 = 5
    assert row.est_total == 5
    assert row.est_missed == 5 - (4 + 3 - 2)


def test_capture_recapture_zero_overlap(spark):
    pairs = lambda rows: spark.createDataFrame(rows, ["id_a", "id_b"])
    row = capture_recapture(
        pairs([("a", "b")]), pairs([("c", "d")])
    ).collect()[0]
    assert (row.n_a, row.n_b, row.n_both) == (1, 1, 0)
    assert row.est_total == (2 * 2) // 1 - 1 == 3


def test_profile_columns_with_nulls(spark):
    df = spark.createDataFrame(
        [("r1", 10, None), ("r2", 7, "xy"), ("r3", 10, "")],
        ["sid", "num", "txt"],
    )
    out = {r.column_name: r for r in
           profile_columns(df, ["sid", "num", "txt"]).collect()}
    assert out["sid"].n_rows == 3 and out["sid"].n_nulls == 0
    assert out["sid"].n_distinct == 3
    assert (out["sid"].min_len, out["sid"].max_len, out["sid"].sum_len) == (2, 2, 6)
    # ints profile their string rendering: '10','7','10'
    assert out["num"].n_distinct == 2
    assert (out["num"].min_len, out["num"].max_len, out["num"].sum_len) == (1, 2, 5)
    # nulls are counted but excluded from distinct/length stats
    assert out["txt"].n_nulls == 1
    assert out["txt"].n_distinct == 2  # 'xy' and ''
    assert (out["txt"].min_len, out["txt"].max_len, out["txt"].sum_len) == (0, 2, 2)


def test_tool_seq_dictionary_encoding_is_token_levenshtein(spark):
    """Token-level edit distance == char distance on dictionary-encoded
    sequences: verify the encode-then-banded-kernel path against a
    python token-list Levenshtein."""
    from liblevenshtein_spark.config import LinkConfig
    from liblevenshtein_spark.operators.scoring import score_pairs

    def lev(xs, ys):
        prev = list(range(len(ys) + 1))
        for i, x in enumerate(xs, 1):
            cur = [i]
            for j, y in enumerate(ys, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (x != y)))
            prev = cur
        return prev[-1]

    seqs = {
        "c1": ["search", "read", "edit", "bash"],
        "c2": ["search", "read", "edit"],          # one deletion
        "c3": ["search", "grep", "edit", "bash"],  # one substitution
        "c4": ["bash", "bash", "bash", "bash"],    # far
    }
    vocab = {t: chr(65 + i) for i, t in enumerate(
        sorted({t for s in seqs.values() for t in s}))}
    enc = {k: "".join(vocab[t] for t in s) for k, s in seqs.items()}
    ents = spark.createDataFrame(
        [(k, v) for k, v in enc.items()], ["conv_id", "fingerprint"])
    ids = sorted(seqs)
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]],
        ["id_a", "id_b"],
    )
    conf = LinkConfig(algorithm="standard", max_distance=2)
    got = {(r.id_a, r.id_b): r.distance
           for r in score_pairs(pairs, ents, conf).collect()}
    for (a, b), d in got.items():
        want = min(lev(seqs[a], seqs[b]), 3)
        assert d == want, (a, b, d, want)
    # the length-band prefilter may drop |len diff| > 2 pairs; every
    # surviving true pair must be present
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if abs(len(seqs[a]) - len(seqs[b])) <= 2:
                assert (a, b) in got


def test_cluster_exemplars_closed_form(spark):
    """Closed-form medoid vs brute force on a hand graph: cluster {a,b,c}
    with scored distances a-b=1, b-c=2, a-c unscored (counts sentinel 3)."""
    from liblevenshtein_spark.operators.clustering import cluster_exemplars

    assignment = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("z", "z")],
        ["conv_id", "cluster_id"],
    )
    scored = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 2)], ["id_a", "id_b", "distance"]
    )
    out = {r.cluster_id: r for r in
           cluster_exemplars(assignment, scored).collect()}
    # totals: a = 1 + 3 = 4, b = 1 + 2 = 3, c = 2 + 3 = 5 -> medoid b
    assert out["a"].exemplar_id == "b" and out["a"].exemplar_cost == 3
    assert out["a"].n_members == 3
    assert "z" not in out  # singletons emit no exemplar row


def test_cluster_exemplars_tie_breaks_to_min_id(spark):
    from liblevenshtein_spark.operators.clustering import cluster_exemplars

    assignment = spark.createDataFrame(
        [("a", "a"), ("b", "a")], ["conv_id", "cluster_id"])
    scored = spark.createDataFrame([("a", "b", 1)], ["id_a", "id_b", "distance"])
    row = cluster_exemplars(assignment, scored).collect()[0]
    assert row.exemplar_id == "a" and row.exemplar_cost == 1


def test_stratified_sample_exact_k(spark):
    from liblevenshtein_spark.operators.sampling import stratified_sample

    rows = [(i, "s%d" % (i % 3)) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = stratified_sample(df, ["source"], k=4).collect()
    by_stratum = {}
    for r in out:
        by_stratum.setdefault(r.source, set()).add(r.doc_id)
    assert all(len(v) == 4 for v in by_stratum.values())
    # deterministic: same draw twice
    out2 = {(r.source, r.doc_id) for r in
            stratified_sample(df, ["source"], k=4).collect()}
    assert {(r.source, r.doc_id) for r in out} == out2
    # small stratum: keeps everything when fewer than k rows
    tiny = spark.createDataFrame([(1, "only"), (2, "only")], ["doc_id", "source"])
    assert stratified_sample(tiny, ["source"], k=5).count() == 2


def test_block_filtering_retention_and_subset(spark):
    """Exercise the SHIPPED filter_blocks: per-entity retention is exactly
    ceil(0.6*n) smallest blocks, retained keys are each entity's smallest,
    and the filtered candidate pair set is a subset of unfiltered."""
    import math

    from liblevenshtein_spark.functions.blocking import filter_blocks

    rows = []
    # entity e_i carries keys k0..k_{i%5}; low-index keys are hottest
    for i in range(30):
        for k in range(1 + i % 5):
            rows.append((f"e{i:02d}", f"k{k}"))
    keys = spark.createDataFrame(rows, ["conv_id", "block_key"])
    retained = filter_blocks(keys, ratio_tenths=6)
    got = {(r.conv_id, r.block_key) for r in retained.collect()}
    per_entity = {}
    for c, k in got:
        per_entity.setdefault(c, set()).add(k)
    n_keys = {}
    for c, k in rows:
        n_keys[c] = n_keys.get(c, 0) + 1
    for c, n in n_keys.items():
        assert len(per_entity.get(c, ())) == math.ceil(0.6 * n), (c, n)
    # retained keys are each entity's SMALLEST blocks
    bsize = {}
    for c, k in rows:
        bsize[k] = bsize.get(k, 0) + 1
    all_keys = {}
    for c, k in rows:
        all_keys.setdefault(c, set()).add(k)
    for c in all_keys:
        kept = per_entity.get(c, set())
        dropped = all_keys[c] - kept
        if kept and dropped:
            assert max(bsize[k] for k in kept) <= min(bsize[k] for k in dropped)

    def pair_set(key_df):
        a = key_df.selectExpr("conv_id as id_a", "block_key")
        b = key_df.selectExpr("conv_id as id_b", "block_key")
        return {(r.id_a, r.id_b) for r in
                a.join(b, "block_key").filter("id_a < id_b")
                .select("id_a", "id_b").distinct().collect()}

    filtered_pairs = pair_set(retained)
    all_pairs = pair_set(keys)
    assert filtered_pairs and filtered_pairs <= all_pairs
    assert len(filtered_pairs) < len(all_pairs)  # hot keys actually cut


def test_retract_state_folds_stale_assignment_first(spark, tmp_path):
    """A match batch appended AFTER the last fold must be absorbed before
    retraction repairs clusters (retract_entities ignores unfolded edges,
    so skipping the fold would mint wrong cluster ids)."""
    import os

    from pyspark.sql import functions as F

    from liblevenshtein_spark.streaming.incremental import retract_state

    state = str(tmp_path / "state")
    os.makedirs(state)
    nodes = ["a", "b", "x", "y"]
    spark.createDataFrame([(n, n, 0, 1) for n in nodes],
                          ["conv_id", "fingerprint", "fp_len", "n_turns"]) \
        .write.parquet(os.path.join(state, "entities"))
    # batch 0: edge (a, x) -> folded into clusters below
    # batch 1: edge (x, y) -> appended AFTER the fold (stale)
    spark.createDataFrame([("a", "x", 0, 0), ("x", "y", 0, 1)],
                          ["id_a", "id_b", "distance", "batch_id"]) \
        .write.parquet(os.path.join(state, "matches"))
    spark.createDataFrame([("a", "a"), ("x", "a"), ("b", "b"), ("y", "y")],
                          ["conv_id", "cluster_id"]) \
        .write.parquet(os.path.join(state, "clusters"))
    spark.createDataFrame([(0,)], "batch_id long") \
        .write.parquet(os.path.join(state, "clusters_hwm"))

    # delete a: without the fold, cluster {a,x} would repair to {x} alone
    # and the stale (x,y) edge would be ignored; with the fold, x and y
    # belong together
    out = retract_state(
        spark, state, spark.createDataFrame([("a",)], ["conv_id"]))
    got = {r.conv_id: r.cluster_id for r in out.collect()}
    assert got == {"b": "b", "x": "x", "y": "x"}


def test_retract_state_noop_on_missing_state(spark, tmp_path):
    """A deletion batch racing ahead of the first ingest commit is a
    graceful no-op, not a wedged stream."""
    import os

    from liblevenshtein_spark.streaming.incremental import retract_state

    state = str(tmp_path / "fresh")
    os.makedirs(state)
    out = retract_state(
        spark, state, spark.createDataFrame([("a",)], ["conv_id"]))
    assert out is None


def test_retract_state_purges_waterfall_index(spark, tmp_path):
    """RTBF must purge text-derived state: deleted ids leave dict_keys,
    and fp_index groups re-elect the min surviving member (or forget the
    fingerprint entirely when no member survives)."""
    import os

    from liblevenshtein_spark.streaming.incremental import retract_state

    state = str(tmp_path / "wf")
    os.makedirs(state)
    spark.createDataFrame(
        [("a", "FP1", 3, 1), ("b", "FP1", 3, 1), ("c", "FP2", 3, 1)],
        ["conv_id", "fingerprint", "fp_len", "n_turns"]) \
        .write.parquet(os.path.join(state, "entities"))
    spark.createDataFrame([("a", "k1"), ("b", "k1"), ("c", "k2")],
                          ["conv_id", "block_key"]) \
        .write.parquet(os.path.join(state, "dict_keys"))
    spark.createDataFrame([("a", "b", 0, 0)],
                          ["id_a", "id_b", "distance", "batch_id"]) \
        .write.parquet(os.path.join(state, "matches"))
    spark.createDataFrame([("a", "a"), ("b", "a"), ("c", "c")],
                          ["conv_id", "cluster_id"]) \
        .write.parquet(os.path.join(state, "clusters"))
    spark.createDataFrame([(0,)], "batch_id long") \
        .write.parquet(os.path.join(state, "clusters_hwm"))
    # waterfall sink: group {a,b} under sticky rep a; singleton {c}
    spark.createDataFrame([("a", "a", 0), ("b", "a", 0), ("c", "c", 0)],
                          ["conv_id", "rep", "batch_id"]) \
        .write.parquet(os.path.join(state, "mapping"))
    spark.createDataFrame([("FP1", "a"), ("FP2", "c")],
                          ["fingerprint", "rep"]) \
        .write.parquet(os.path.join(state, "fp_index"))

    retract_state(spark, state,
                  spark.createDataFrame([("a",), ("c",)], ["conv_id"]))

    assert {r.conv_id for r in
            spark.read.parquet(os.path.join(state, "dict_keys")).collect()} \
        == {"b"}
    # rep a re-elected to b (surviving member); FP2 forgotten with c
    fp = {(r.fingerprint, r.rep) for r in
          spark.read.parquet(os.path.join(state, "fp_index")).collect()}
    assert fp == {("FP1", "b")}
    mp = {(r.conv_id, r.rep) for r in
          spark.read.parquet(os.path.join(state, "mapping")).collect()}
    assert mp == {("b", "b")}
    cl = {r.conv_id: r.cluster_id for r in
          spark.read.parquet(os.path.join(state, "clusters")).collect()}
    assert cl == {"b": "b"}


def test_incremental_lsh_union_equals_full(spark):
    """new×old + new×new (incremental) ∪ old×old (prior batches) must equal
    the one-shot lsh_ann_pairs output on the union corpus — the
    losslessness contract of the rolling-ingest ANN index."""
    import numpy as np

    from liblevenshtein_spark.operators.ann import (
        incremental_lsh_pairs, lsh_ann_pairs, lsh_band_keys)

    rng = np.random.default_rng(5)
    dim = 64
    base = rng.standard_normal((12, dim))
    rows = []
    for i in range(12):
        rows.append((i, [float(x) for x in base[i]]))
        # near-duplicate of each vector under a new id
        rows.append((100 + i, [float(x) for x in base[i] + 0.01 * rng.standard_normal(dim)]))
    # an old×old near-dup pair so the prior-batch set is non-trivial
    rows.append((50, [float(x) for x in base[0] + 0.01 * rng.standard_normal(dim)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    old = emb.filter("vec_id < 100")
    new = emb.filter("vec_id >= 100")

    full = {(r.id_a, r.id_b) for r in
            lsh_ann_pairs(emb, threshold=0.35).collect()}
    prior = {(r.id_a, r.id_b) for r in
             lsh_ann_pairs(old, threshold=0.35).collect()}
    incr = {(r.id_a, r.id_b) for r in
            incremental_lsh_pairs(lsh_band_keys(old), new, emb,
                                  threshold=0.35).collect()}
    assert incr | prior == full
    assert incr and prior  # both sides non-trivial
    # incremental emits no old×old pair
    assert all(a >= 100 or b >= 100 for a, b in incr)


def test_token_sort_is_order_insensitive(spark):
    """'john smith' vs 'smith john' must reach distance 0 / ratio 1.0 on
    the sorted-head path, while the raw fingerprints differ."""
    from liblevenshtein_spark.config import LinkConfig
    from liblevenshtein_spark.operators.scoring import score_pairs

    ents = spark.createDataFrame(
        [("a", "john smith"), ("b", "smith john"), ("c", "john smyth")],
        ["conv_id", "head"],
    )
    sorted_head = ents.selectExpr(
        "conv_id",
        "array_join(array_sort(filter(split(head, ' '), t -> t != '')), ' ')"
        " AS fingerprint",
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], ["id_a", "id_b"])
    conf = LinkConfig(algorithm="standard", max_distance=2)
    got = {(r.id_a, r.id_b): r.distance
           for r in score_pairs(pairs, sorted_head, conf).collect()}
    assert got[("a", "b")] == 0          # pure reorder
    assert got[("a", "c")] == 1          # smith -> smyth after sorting
    assert got[("b", "c")] == 1
