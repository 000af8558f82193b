"""Structured Streaming incremental linkage: streaming the corpus in
micro-batches must produce exactly the batch pipeline's match set and
cluster partition (one implementation, two execution modes), and the
watermarked metrics stream must agree with the batch aggregation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from liblevenshtein_spark.config import LinkConfig
from liblevenshtein_spark.operators.candidates import block_keys, candidate_pairs
from liblevenshtein_spark.operators.canonicalize import canonicalize
from liblevenshtein_spark.operators.clustering import assign_clusters
from liblevenshtein_spark.operators.scoring import match_filter, score_pairs
from liblevenshtein_spark.sources.tables import TRANSCRIPTS_SCHEMA
from liblevenshtein_spark.streaming import (
    clusters_from_sink,
    matches_from_sink,
    start_incremental_linkage,
    stream_transcripts,
    stream_turn_metrics,
)
from liblevenshtein_spark.testdata_gen import gen_transcript_rows

CONF = LinkConfig(algorithm="standard", max_distance=2, blocking_scheme="segments")


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """Transcript corpus written as 3 parquet files (1 conversation group
    per file, every conversation whole within its file) so
    maxFilesPerTrigger=1 yields 3 micro-batches."""
    rows, planted = gen_transcript_rows(n_base=40, dup_fraction=0.6, max_edits=2, seed=7)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    src = str(tmp_path_factory.mktemp("stream_src"))
    grouped = df.withColumn("grp", F.pmod(F.xxhash64(F.expr("substring(conv_id, 1, 10)")), F.lit(3)))
    for g in range(3):
        (grouped.filter(F.col("grp") == g).drop("grp")
         .coalesce(1).write.mode("append").parquet(src))
    return src, df


def _batch_matches(df):
    canon = canonicalize(df, CONF.fingerprint_sep)
    build, probe = block_keys(canon, CONF)
    pairs = candidate_pairs(build, probe, CONF)
    return match_filter(score_pairs(pairs, canon.select("conv_id", "fingerprint"), CONF), CONF), canon


def test_incremental_matches_equal_batch(spark, corpus, tmp_path):
    src, df = corpus
    state = str(tmp_path / "state")
    stream = stream_transcripts(spark, src, max_files_per_trigger=1)
    q = start_incremental_linkage(stream, CONF, state)
    q.awaitTermination(timeout=600)

    got = {(r.id_a, r.id_b, r.distance)
           for r in matches_from_sink(spark, state).collect()}
    batch_df, _ = _batch_matches(df)
    want = {(r.id_a, r.id_b, r.distance) for r in batch_df.collect()}
    assert got == want and len(want) > 0


def test_incremental_clusters_equal_batch(spark, corpus, tmp_path):
    src, df = corpus
    state = str(tmp_path / "state")
    q = start_incremental_linkage(
        stream_transcripts(spark, src, max_files_per_trigger=1), CONF, state
    )
    q.awaitTermination(timeout=600)

    batch_matches, canon = _batch_matches(df)
    want = assign_clusters(canon.select("conv_id"), batch_matches.select("id_a", "id_b"))
    got = clusters_from_sink(spark, state)
    # cluster ids are min-member on both paths -> directly comparable
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_resume_after_restart_is_idempotent(spark, corpus, tmp_path):
    """Drain the stream, then restart against the same checkpoint: no new
    micro-batches run, the match sink is unchanged (exactly-once resume —
    the streaming twin of the P9 ledger)."""
    src, df = corpus
    state = str(tmp_path / "state")
    q = start_incremental_linkage(
        stream_transcripts(spark, src, max_files_per_trigger=1), CONF, state
    )
    q.awaitTermination(timeout=600)
    before = sorted(tuple(r) for r in matches_from_sink(spark, state).collect())

    q2 = start_incremental_linkage(
        stream_transcripts(spark, src, max_files_per_trigger=1), CONF, state
    )
    q2.awaitTermination(timeout=600)
    after = sorted(tuple(r) for r in matches_from_sink(spark, state).collect())
    assert after == before


def test_stream_turn_metrics_match_batch(spark, corpus, tmp_path):
    src, df = corpus
    metrics = stream_turn_metrics(
        stream_transcripts(spark, src), window="1 minute", watermark="2 minutes"
    )
    q = (
        metrics.writeStream.format("memory").queryName("turn_metrics")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=600)
    got = {tuple(r) for r in spark.sql(
        "SELECT window_start, window_end, role, n_turns FROM turn_metrics"
    ).collect()}

    max_ts = df.agg(F.max("ts")).collect()[0][0]
    want_all = {tuple(r) for r in (
        df.groupBy(F.window("ts", "1 minute").alias("win"), "role")
        .agg(F.count("*").alias("n_turns"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"), "role", "n_turns")
    ).collect()}
    # append mode emits exactly the windows the final watermark
    # (max event time - 2 minutes) has closed; later windows stay open
    import datetime as dt
    closed = {w for w in want_all if w[1] <= max_ts - dt.timedelta(minutes=2)}
    assert got == closed and len(closed) > 0


def test_replayed_conversation_never_self_matches(spark, tmp_path):
    """A conv_id re-seen in a later micro-batch (CDC replay / duplicate
    delivery) must not join itself via old state and emit distance-0
    self-edges (round-2 ADVICE fix)."""
    rows, _ = gen_transcript_rows(n_base=10, dup_fraction=0.5, max_edits=2, seed=11)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    src = str(tmp_path / "src")
    # same full corpus written twice -> batch 2 replays every conv_id
    df.coalesce(1).write.mode("append").parquet(src)
    df.coalesce(1).write.mode("append").parquet(src)

    state = str(tmp_path / "state")
    stream = stream_transcripts(spark, src, max_files_per_trigger=1)
    q = start_incremental_linkage(stream, CONF, state)
    q.awaitTermination(timeout=600)

    m = matches_from_sink(spark, state)
    assert m.filter(F.col("id_a") == F.col("id_b")).count() == 0
    got = {(r.id_a, r.id_b) for r in m.collect()}
    batch_df, _ = _batch_matches(df)
    want = {(r.id_a, r.id_b) for r in batch_df.collect()}
    assert got == want


def test_inconsistent_state_fails_loudly(spark, tmp_path):
    """dict_keys present without entities (crash between the two appends)
    must raise a repair-hint error, not an AttributeError (round-2 ADVICE
    fix)."""
    import pyspark.errors

    rows, _ = gen_transcript_rows(n_base=4, dup_fraction=0.0, max_edits=1, seed=3)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    src = str(tmp_path / "src")
    df.coalesce(1).write.mode("append").parquet(src)

    state = str(tmp_path / "state")
    # fabricate the crash window: dict_keys exists, entities does not
    spark.createDataFrame(
        [("cX", "k1", 5)], "conv_id string, block_key string, fp_len int"
    ).write.parquet(state + "/dict_keys")

    stream = stream_transcripts(spark, src, max_files_per_trigger=1)
    q = start_incremental_linkage(stream, CONF, state)
    with pytest.raises(pyspark.errors.exceptions.base.PySparkException) as ei:
        q.awaitTermination(timeout=600)
    assert "inconsistent linkage state" in str(ei.value)


@pytest.mark.parametrize("table", ["entities", "dict_keys"])
def test_corrupt_state_fails_loudly(spark, tmp_path, table):
    """A published state part file that cannot be read must fail the next
    batch with an error naming it, not read as empty state (which would link
    the batch against nothing and drop every cross-batch pair)."""
    import glob

    import pyspark.errors

    rows, _ = gen_transcript_rows(n_base=6, dup_fraction=0.5, max_edits=1, seed=5)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    src = str(tmp_path / "src")
    df.coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path / "state")

    def run():
        q = start_incremental_linkage(
            stream_transcripts(spark, src, max_files_per_trigger=1), CONF, state)
        q.awaitTermination(timeout=600)

    run()
    (part,) = glob.glob(f"{state}/{table}/part-*")
    with open(part, "wb") as f:
        f.write(b"not a parquet file")
    df.coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(pyspark.errors.exceptions.base.PySparkException) as ei:
        run()
    assert os.path.basename(part) in str(ei.value)


def test_compact_state_dedups_and_preserves_results(spark, tmp_path):
    """After replayed batches bloat the append-only state, compact_state
    must shrink dict_keys/entities to their deduped row counts WITHOUT
    changing the match set, and the stream must keep working against the
    compacted state."""
    from liblevenshtein_spark.streaming import compact_state

    rows, _ = gen_transcript_rows(n_base=10, dup_fraction=0.5, max_edits=2, seed=21)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    src = str(tmp_path / "src")
    df.coalesce(1).write.mode("append").parquet(src)
    df.coalesce(1).write.mode("append").parquet(src)  # replay -> duplicate state

    state = str(tmp_path / "state")
    q = start_incremental_linkage(
        stream_transcripts(spark, src, max_files_per_trigger=1), CONF, state)
    q.awaitTermination(timeout=600)
    before = {(r.id_a, r.id_b, r.distance)
              for r in matches_from_sink(spark, state).collect()}

    stats = compact_state(spark, state)
    assert stats["dict_keys"]["after"] < stats["dict_keys"]["before"]
    assert stats["entities"]["after"] < stats["entities"]["before"]
    n_conv = df.select("conv_id").distinct().count()
    assert stats["entities"]["after"] == n_conv

    after = {(r.id_a, r.id_b, r.distance)
             for r in matches_from_sink(spark, state).collect()}
    assert after == before

    # new data arriving after compaction still links against old state
    rows2, _ = gen_transcript_rows(n_base=10, dup_fraction=0.5, max_edits=2, seed=21)
    extra = (spark.createDataFrame(rows2, TRANSCRIPTS_SCHEMA)
             .withColumn("conv_id", F.concat(F.lit("re_"), F.col("conv_id"))))
    extra.coalesce(1).write.mode("append").parquet(src)
    q = start_incremental_linkage(
        stream_transcripts(spark, src, max_files_per_trigger=1), CONF, state)
    q.awaitTermination(timeout=600)
    m = matches_from_sink(spark, state)
    # re_X is a copy of X -> every original conv matches its re_ twin
    cross = m.filter(F.col("id_b").startswith("re_") | F.col("id_a").startswith("re_"))
    assert cross.count() >= n_conv


def test_fold_clusters_state_incremental_maintenance(spark, corpus, tmp_path):
    """Incrementally maintained assignment (fold_clusters_state) must equal
    the full recompute (clusters_from_sink) when folded mid-stream and
    again at the end — and a crash between the clusters and high-water-mark
    writes (simulated by deleting the hwm) must heal by idempotent re-fold."""
    import shutil

    from liblevenshtein_spark.streaming import fold_clusters_state

    import glob
    import os
    import shutil as sh

    src, df = corpus
    state = str(tmp_path / "state")
    parts = sorted(glob.glob(os.path.join(src, "part-*")))
    assert len(parts) >= 2
    # stage 1: a source dir with only the first file; drain + fold
    src2 = str(tmp_path / "src2")
    os.makedirs(src2)
    sh.copy(parts[0], src2)
    q = start_incremental_linkage(
        stream_transcripts(spark, src2, max_files_per_trigger=1), CONF, state
    )
    q.awaitTermination(timeout=600)
    mid = fold_clusters_state(spark, state)
    want_mid = clusters_from_sink(spark, state)
    assert {tuple(r) for r in mid.collect()} == {tuple(r) for r in want_mid.collect()}

    # stage 2: remaining files arrive; resume from the same checkpoint,
    # fold again — equals full recompute over everything
    for p in parts[1:]:
        sh.copy(p, src2)
    q2 = start_incremental_linkage(
        stream_transcripts(spark, src2, max_files_per_trigger=1), CONF, state
    )
    q2.awaitTermination(timeout=600)
    got = fold_clusters_state(spark, state)
    want = clusters_from_sink(spark, state)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}

    # simulated crash: hwm lost after the clusters write -> re-fold is a no-op
    shutil.rmtree(str(tmp_path / "state" / "clusters_hwm"))
    healed = fold_clusters_state(spark, state)
    assert {tuple(r) for r in healed.collect()} == {tuple(r) for r in want.collect()}


def test_midbatch_kill_no_lost_or_duplicate_matches(spark, corpus, tmp_path):
    """Exactly-once sink audit (the streaming twin of scored_resume): kill
    the stream INSIDE a micro-batch — after the matches append, before the
    dict_keys/entities state fold, i.e. before the checkpoint commit —
    then restart against the same checkpoint.  The failed batch must
    replay (raw sink contains duplicate rows for it), and the deduped
    match set must equal the batch oracle exactly: nothing lost to the
    crash, nothing duplicated after sink dedup."""
    from liblevenshtein_spark.streaming import incremental

    src, df = corpus
    state = str(tmp_path / "state")

    real_append = incremental._append
    calls = {"matches": 0, "killed": False}

    def flaky_append(frame, path):
        real_append(frame, path)
        if path.endswith("matches"):
            calls["matches"] += 1
            if calls["matches"] == 2 and not calls["killed"]:
                calls["killed"] = True
                raise RuntimeError("injected kill: match sink written, state fold lost")

    incremental._append = flaky_append
    try:
        q = start_incremental_linkage(
            stream_transcripts(spark, src, max_files_per_trigger=1), CONF, state
        )
        with pytest.raises(Exception, match="injected kill"):
            q.awaitTermination(timeout=600)
    finally:
        incremental._append = real_append
    assert calls["killed"], "kill must have fired mid-stream"

    q2 = start_incremental_linkage(
        stream_transcripts(spark, src, max_files_per_trigger=1), CONF, state
    )
    q2.awaitTermination(timeout=600)

    raw = spark.read.parquet(str(tmp_path / "state" / "matches"))
    deduped = matches_from_sink(spark, state)
    n_raw, n_dedup = raw.count(), deduped.count()
    assert n_raw > n_dedup, "replayed batch must have re-appended its matches"

    batch_df, canon = _batch_matches(df)
    want = {(r.id_a, r.id_b, r.distance) for r in batch_df.collect()}
    got = {(r.id_a, r.id_b, r.distance) for r in deduped.collect()}
    assert got == want and len(want) > 0

    want_clusters = assign_clusters(canon.select("conv_id"), batch_df.select("id_a", "id_b"))
    got_clusters = clusters_from_sink(spark, state)
    assert ({tuple(r) for r in got_clusters.collect()}
            == {tuple(r) for r in want_clusters.collect()})


def test_streaming_waterfall_fold_matches_batch_groups(spark, corpus, tmp_path):
    """The streaming exact-contraction fold (persisted (fp, rep) index +
    per-batch mapping) must reproduce one-shot exact_groups over the full
    corpus after normalization, and the index must hold exactly the
    distinct fingerprints."""
    from liblevenshtein_spark.operators.waterfall import exact_groups
    from liblevenshtein_spark.streaming import (
        start_incremental_waterfall, stream_transcripts,
        waterfall_groups_from_sink)

    src, df = corpus
    state = str(tmp_path / "wf_state")
    ckpt = str(tmp_path / "wf_ckpt")
    stream = stream_transcripts(spark, src, max_files_per_trigger=1)
    q = start_incremental_waterfall(stream, state, ckpt,
                                    sep=CONF.fingerprint_sep)
    q.awaitTermination(120)

    canon = canonicalize(df, CONF.fingerprint_sep).select("conv_id", "fingerprint")
    batch_groups = {(r.conv_id, r.rep) for r in exact_groups(canon).collect()}
    stream_groups = {
        (r.conv_id, r.rep)
        for r in waterfall_groups_from_sink(spark, state).collect()
    }
    assert stream_groups == batch_groups

    idx = spark.read.parquet(state + "/fp_index")
    assert idx.count() == canon.select("fingerprint").distinct().count()
    assert idx.groupBy("fingerprint").count().filter("count > 1").count() == 0


def test_streaming_retraction_equals_batch_retract(spark, corpus, tmp_path):
    """Deletion requests folded per micro-batch (start_retraction_stream)
    must leave the persisted state identical to ONE batch retraction of
    the union of all deletes — and replaying an already-applied delete
    batch must be a no-op (the crash/replay safety argument)."""
    import os

    from liblevenshtein_spark.operators.clustering import retract_entities
    from liblevenshtein_spark.streaming import fold_clusters_state
    from liblevenshtein_spark.streaming.incremental import (
        retract_state, start_retraction_stream)

    src, df = corpus
    state = str(tmp_path / "state")
    q = start_incremental_linkage(
        stream_transcripts(spark, src, max_files_per_trigger=1), CONF, state
    )
    q.awaitTermination(timeout=600)
    fold_clusters_state(spark, state)

    # freeze pre-retraction state driver-side (the stream mutates the dirs)
    assignment0 = spark.read.parquet(os.path.join(state, "clusters")) \
        .localCheckpoint(eager=True)
    matches0 = spark.read.parquet(os.path.join(state, "matches")) \
        .select("id_a", "id_b").localCheckpoint(eager=True)

    ids = sorted(r.conv_id for r in assignment0.select("conv_id").collect())
    batch1, batch2 = ids[::7], ids[3::9]  # overlapping deterministic batches
    del_src = str(tmp_path / "deletes")
    os.makedirs(del_src)
    for i, batch in enumerate([batch1, batch2]):
        (spark.createDataFrame([(x,) for x in batch], "conv_id string")
         .coalesce(1).write.mode("append").parquet(del_src))

    stream = (spark.readStream.schema("conv_id string")
              .option("maxFilesPerTrigger", 1).parquet(del_src))
    rq = start_retraction_stream(stream, state, str(tmp_path / "del_ckpt"))
    rq.awaitTermination(timeout=600)

    union = spark.createDataFrame(
        [(x,) for x in sorted(set(batch1) | set(batch2))], "conv_id string")
    want = {tuple(r) for r in
            retract_entities(assignment0, matches0, union).collect()}
    got = {tuple(r) for r in
           spark.read.parquet(os.path.join(state, "clusters")).collect()}
    assert got == want and len(got) > 0

    # deleted ids are gone from every state table
    gone = {x for x in set(batch1) | set(batch2)}
    for name, col in [("clusters", "conv_id"), ("entities", "conv_id")]:
        left = {r[col] for r in
                spark.read.parquet(os.path.join(state, name)).collect()}
        assert not (left & gone), name
    m = spark.read.parquet(os.path.join(state, "matches"))
    assert m.filter(F.col("id_a").isin(list(gone))
                    | F.col("id_b").isin(list(gone))).count() == 0

    # replaying batch1 over fully-applied state is a no-op
    retract_state(spark, state,
                  spark.createDataFrame([(x,) for x in batch1],
                                        "conv_id string"))
    again = {tuple(r) for r in
             spark.read.parquet(os.path.join(state, "clusters")).collect()}
    assert again == want


@pytest.fixture(scope="module")
def retract_template_state(spark, corpus, tmp_path_factory):
    """Fully-ingested + folded linkage state, built once and copied per
    crash-window param (retract_state mutates the dirs)."""
    from liblevenshtein_spark.streaming import fold_clusters_state

    src, _df = corpus
    state = str(tmp_path_factory.mktemp("retract_tpl") / "state")
    q = start_incremental_linkage(
        stream_transcripts(spark, src, max_files_per_trigger=1), CONF, state
    )
    q.awaitTermination(timeout=600)
    fold_clusters_state(spark, state)
    return state


@pytest.mark.parametrize("crash_at_swap", [1, 2, 3, 4, 5])
def test_retract_crash_window_replay(spark, retract_template_state, tmp_path,
                                     monkeypatch, crash_at_swap):
    """Kill retract_state at EVERY directory-swap point and replay: the
    replayed batch must converge to the same state as an uninterrupted
    retraction (== retract_entities full recompute), with the deleted ids
    gone from every table. Swap order under the repair-first protocol:
    1 = fold_clusters_state's clusters swap, 2 = the clusters repair swap,
    3 = entities prune, 4 = dict_keys prune, 5 = matches prune. Window 3
    is the one the old prune-first order corrupted (entities pruned,
    clusters repaired against survivor-only entities on replay); under
    repair-first the replay re-adds deleted ids as fold singletons and
    removes them again (streaming/incremental.py::retract_state docstring)."""
    import os
    import shutil

    from liblevenshtein_spark.operators.clustering import retract_entities
    from liblevenshtein_spark.streaming import incremental as incr

    state = str(tmp_path / "state")
    shutil.copytree(retract_template_state, state)

    assignment0 = spark.read.parquet(os.path.join(state, "clusters")) \
        .localCheckpoint(eager=True)
    matches0 = spark.read.parquet(os.path.join(state, "matches")) \
        .select("id_a", "id_b").localCheckpoint(eager=True)
    ids = sorted(r.conv_id for r in assignment0.select("conv_id").collect())
    deleted_ids = ids[::5]
    deletes = spark.createDataFrame([(x,) for x in deleted_ids],
                                    "conv_id string")
    want = {tuple(r) for r in
            retract_entities(assignment0, matches0, deletes).collect()}

    real_swap = incr._swap_dir
    calls = {"n": 0}

    def crashing_swap(tmp, path):
        calls["n"] += 1
        if calls["n"] == crash_at_swap:
            raise RuntimeError("injected crash before swap %d" % crash_at_swap)
        real_swap(tmp, path)

    monkeypatch.setattr(incr, "_swap_dir", crashing_swap)
    with pytest.raises(RuntimeError, match="injected crash"):
        incr.retract_state(spark, state, deletes)
    monkeypatch.setattr(incr, "_swap_dir", real_swap)

    # replay the same deletion batch over the partially-applied state
    incr.retract_state(spark, state, deletes)

    got = {tuple(r) for r in
           spark.read.parquet(os.path.join(state, "clusters")).collect()}
    assert got == want and len(got) > 0
    gone = set(deleted_ids)
    # deleted ids appear nowhere: not as members, not as cluster ids (RTBF)
    assert not ({r.cluster_id for r in
                 spark.read.parquet(os.path.join(state, "clusters")).collect()}
                & gone)
    for name in ("entities", "dict_keys"):
        left = {r.conv_id for r in
                spark.read.parquet(os.path.join(state, name)).collect()}
        assert not (left & gone), name
    m = spark.read.parquet(os.path.join(state, "matches"))
    assert m.filter(F.col("id_a").isin(list(gone))
                    | F.col("id_b").isin(list(gone))).count() == 0
