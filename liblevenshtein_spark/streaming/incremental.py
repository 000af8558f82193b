"""Structured Streaming — incremental record linkage.

The reference is single-shot/batch (a static dictionary queried on demand,
universal-automata/liblevenshtein README.md:13-24), but a transcripts table
at 10^12-turn scale is append-only in practice, so the engine provides an
incremental path: new conversations arrive on a stream, are canonicalized
and blocked per micro-batch, joined against the *accumulated* compiled
dictionary (every previously seen conversation's blocking keys, persisted as
an append-only keyed table) plus themselves, scored with the same banded
kernel, and appended to a matches sink. The batch operators are reused
verbatim inside ``foreachBatch`` — one implementation, two execution modes.

Unit of arrival is a conversation: all turns of a conv_id are assumed to be
present in the micro-batch that introduces it (the common
"conversation-completed" CDC event). Turn-level late data would need
watermarked stateful reassembly (`applyInPandasWithState`); out of scope —
the batch pipeline re-run over the full table is the late-data story.

State layout under ``state_dir``:
  dict_keys/   append-only (conv_id, block_key, fingerprint-length) parquet —
               the growing compiled dictionary (reference A1/A5 analogue)
  entities/    append-only (conv_id, fingerprint, fp_len, n_turns) parquet
  matches/     append-only (id_a, id_b, distance, batch_id) parquet sink
  checkpoint/  Spark Structured Streaming checkpoint (exactly-once over the
               file source; a killed stream resumes at the last committed
               micro-batch — the streaming twin of the P9 ledger)

Matches are emitted exactly once per unordered pair: within-batch pairs via
the canonical (id_a < id_b) self-join, cross pairs via new-probe x old-build
only (old x old was emitted by earlier batches).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import LinkConfig
from ..operators.candidates import block_keys, candidate_pairs
from ..operators.canonicalize import canonicalize
from ..operators.clustering import assign_clusters
from ..operators.scoring import match_filter, score_pairs
from ..sources.staging import staged_append
from ..sources.tables import TRANSCRIPTS_SCHEMA

__all__ = [
    "stream_transcripts",
    "start_incremental_linkage",
    "compact_state",
    "matches_from_sink",
    "clusters_from_sink",
    "fold_clusters_state",
    "retract_state",
    "start_retraction_stream",
    "stream_turn_metrics",
    "start_incremental_waterfall",
    "waterfall_groups_from_sink",
]


def stream_transcripts(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of transcript turns (Iceberg-shaped parquet dir;
    on a real cluster this is the Iceberg/Kafka CDC feed)."""
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def _append(df: DataFrame, path: str) -> None:
    # all-or-nothing batch append (sources/staging.py): a kill anywhere
    # leaves the prior state byte-intact or the batch fully committed —
    # Spark's own append committer can expose a torn batch when the job
    # dies mid-commit, which would force every reader to re-derive a
    # partial-batch replay argument
    staged_append(df, path)


def _read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a persisted state table, or None when nothing has been published
    to it yet: the directory is missing, or holds only a `.stage_*` dir left
    by a kill during its first staged_append. Every other read error (a
    corrupt footer, a schema conflict, permissions) propagates — reading it
    as empty state would link the batch against nothing and silently miss
    every cross-batch pair."""
    if not os.path.isdir(path) or not any(
            name.startswith("part-") for name in os.listdir(path)):
        return None
    return spark.read.parquet(path)


def _link_batch(
    batch_turns: DataFrame,
    batch_id: int,
    conf: LinkConfig,
    state_dir: str,
    block_fn=None,
) -> None:
    """foreachBatch body: canonicalize -> block -> (new x new) + (new x old)
    -> score -> append matches; then fold the batch into the dictionary.

    `block_fn(canon) -> (build_keys, probe_keys)` overrides the blocking
    scheme (default: conf's scheme via operators.candidates.block_keys)."""
    spark = batch_turns.sparkSession
    dict_path = os.path.join(state_dir, "dict_keys")
    ent_path = os.path.join(state_dir, "entities")
    match_path = os.path.join(state_dir, "matches")

    canon = canonicalize(batch_turns, conf.fingerprint_sep).localCheckpoint(eager=True)
    if canon.isEmpty():
        return
    build, probe = block_fn(canon) if block_fn is not None else block_keys(canon, conf)
    if build is probe:
        # deletion scheme: keep the identity so candidate_pairs' single-
        # materialization fast path engages instead of the tagged union
        build = probe = build.localCheckpoint(eager=True)
    else:
        build = build.localCheckpoint(eager=True)
        probe = probe.localCheckpoint(eager=True)

    # within-batch pairs (canonical ordering dedups symmetric hits)
    pairs = candidate_pairs(build, probe, conf)
    entities = canon.select("conv_id", "fingerprint")

    old_build = _read_or_none(spark, dict_path)
    old_entities = _read_or_none(spark, ent_path)
    if old_build is not None and old_entities is None:
        # Crash window: a prior batch appended dict_keys but died before the
        # entities append. dict_keys without texts cannot be scored against;
        # fail loudly with a repair hint instead of an opaque AttributeError.
        raise RuntimeError(
            f"inconsistent linkage state under {state_dir!r}: {dict_path} "
            f"exists but {ent_path} does not (batch died between the "
            "dict_keys and entities appends). Delete dict_keys/ to rebuild "
            "state from the entities table, or delete the whole state dir "
            "to replay from the checkpoint."
        )
    if old_build is not None:
        old_entities = old_entities.select("conv_id", "fingerprint")
        # new-probe x old-build only: old x old pairs were emitted by the
        # batches that introduced them. The _ida != _idb guard matters on
        # replay: after a partially-folded batch (or any re-seen conv_id)
        # a conversation would otherwise join itself via old state and emit
        # distance-0 self-match edges.
        cross = (
            probe.select(F.col("conv_id").alias("_ida"), "block_key")
            .join(old_build.select(F.col("conv_id").alias("_idb"), "block_key"), "block_key")
            .filter(F.col("_ida") != F.col("_idb"))
            .select(
                F.least("_ida", "_idb").alias("id_a"),
                F.greatest("_ida", "_idb").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        pairs = pairs.unionByName(cross).dropDuplicates(["id_a", "id_b"])
        entities = entities.unionByName(old_entities).dropDuplicates(["conv_id"])

    scored = score_pairs(pairs, entities, conf)
    matches = match_filter(scored, conf).withColumn("batch_id", F.lit(batch_id))
    _append(matches, match_path)

    # fold the batch into persistent state LAST: if the task dies mid-batch,
    # replay re-emits this batch's matches but never misses pairs.
    _append(build, dict_path)
    _append(canon.select("conv_id", "fingerprint", "fp_len", "n_turns"), ent_path)


def start_incremental_linkage(
    stream: DataFrame,
    conf: LinkConfig,
    state_dir: str,
    trigger_available_now: bool = True,
    block_fn=None,
):
    """Start the incremental-linkage stream; returns the StreamingQuery.

    ``trigger_available_now=True`` drains everything currently in the source
    then stops (backfill mode); False runs continuously on the default
    micro-batch trigger. ``block_fn`` overrides the blocking scheme."""
    writer = (
        stream.writeStream.foreachBatch(
            lambda df, bid: _link_batch(df, bid, conf, state_dir, block_fn)
        )
        .option("checkpointLocation", os.path.join(state_dir, "checkpoint"))
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_state(spark: SparkSession, state_dir: str) -> dict:
    """Rewrite the append-only linkage state deduplicated: replayed batches
    append duplicate (conv_id, block_key) / (conv_id, ...) rows, and a
    long-running stream pays for them in every cross join. Run this
    offline (stream stopped) — it atomically replaces dict_keys/ and
    entities/ with deduped copies and returns before/after row counts.

    At cluster scale this is the Iceberg rewrite-data-files maintenance
    job; here it is a parquet rewrite via a temp dir + directory swap."""
    import shutil
    import tempfile

    out = {}
    for sub, keys in (("dict_keys", ["conv_id", "block_key"]),
                      ("entities", ["conv_id"])):
        path = os.path.join(state_dir, sub)
        df = _read_or_none(spark, path)
        if df is None:
            continue
        before = df.count()
        tmp = tempfile.mkdtemp(prefix=f"compact_{sub}_",
                               dir=os.path.dirname(path.rstrip("/")))
        deduped = df.dropDuplicates(keys)
        deduped.write.mode("overwrite").parquet(tmp)
        after = spark.read.parquet(tmp).count()
        _swap_dir(tmp, path)
        out[sub] = {"before": before, "after": after}
    return out


def _swap_dir(tmp: str, path: str) -> None:
    """Replace `path` with `tmp` via rename. Crash-safe against the stale
    leftovers a previous interrupted swap can leave behind: a lingering
    `path + '.old'` from a crash between the two renames would make
    os.rename(path, old) fail with ENOTEMPTY forever, wedging folds until
    manual cleanup — so clear it first."""
    import shutil

    if os.path.exists(path):
        old = path + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(tmp, path)


def matches_from_sink(spark: SparkSession, state_dir: str) -> DataFrame:
    """Accumulated match edges (deduped across replayed batches)."""
    m = spark.read.parquet(os.path.join(state_dir, "matches"))
    return m.dropDuplicates(["id_a", "id_b"]).select("id_a", "id_b", "distance")


def clusters_from_sink(spark: SparkSession, state_dir: str) -> DataFrame:
    """Entity clusters over everything linked so far (CC is global —
    recomputed from the match sink on demand; see fold_clusters_state for
    the incrementally maintained twin)."""
    entities = spark.read.parquet(os.path.join(state_dir, "entities")).select("conv_id")
    matches = matches_from_sink(spark, state_dir).select("id_a", "id_b")
    return assign_clusters(entities.dropDuplicates(["conv_id"]), matches)


def fold_clusters_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Incrementally maintained cluster assignment: fold ONLY the match
    edges appended since the last fold (batch_id high-water mark) into the
    persisted assignment via operators.clustering.fold_clusters, instead of
    re-running CC over the whole match sink. Measured 2.1x faster than the
    full recompute on an ER-shaped 7.9M-edge history (BENCH_FOLD.json) —
    and the gap grows with history volume, since per-fold cost is
    ∝ |entities| + |new edges| while clusters_from_sink is ∝ |all edges|.

    Extra state under ``state_dir``:
      clusters/        assignment parquet (conv_id, cluster_id)
      clusters_hwm/    1-row parquet: highest folded matches batch_id

    Crash-safe by write order (clusters BEFORE hwm) + fold idempotence:
    a crash between the two writes makes the next call re-fold an
    already-folded batch, which is a no-op on the assignment (star-forest
    folding is idempotent; the same property the test suite gates).

    Run this offline (ingest stream stopped) with a single caller, like
    compact_state: two overlapping folds — or a fold racing a stream that
    writes the same state_dir — race on the clusters/hwm directory swaps."""
    import tempfile

    clusters_path = os.path.join(state_dir, "clusters")
    hwm_path = os.path.join(state_dir, "clusters_hwm")
    entities = (
        spark.read.parquet(os.path.join(state_dir, "entities"))
        .select("conv_id").dropDuplicates(["conv_id"])
    )
    matches = spark.read.parquet(os.path.join(state_dir, "matches"))

    hwm_df = _read_or_none(spark, hwm_path)
    prior = _read_or_none(spark, clusters_path)
    hwm = -1
    if hwm_df is not None and prior is not None:
        hwm = hwm_df.agg(F.max("batch_id").alias("b")).collect()[0]["b"]
    new_edges = (
        matches.filter(F.col("batch_id") > hwm)
        .select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
        .localCheckpoint(eager=True)
    )
    max_bid = matches.agg(F.coalesce(F.max("batch_id"), F.lit(-1)).alias("b")).collect()[0]["b"]

    if prior is None:
        assignment = assign_clusters(entities, new_edges)
    else:
        from ..operators.clustering import fold_clusters

        assignment = fold_clusters(entities, prior, new_edges)
    assignment = assignment.localCheckpoint(eager=True)

    # atomic-ish swap (same pattern as compact_state), clusters before hwm;
    # sweep tmp dirs orphaned by a crash mid-write (offline/single-caller
    # per the docstring, so nothing live matches the prefix)
    import glob
    import shutil

    parent = os.path.dirname(clusters_path.rstrip("/")) or "."
    for stale in glob.glob(os.path.join(parent, ".tmp_clusters_*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = tempfile.mkdtemp(prefix=".tmp_clusters_", dir=parent)
    assignment.write.mode("overwrite").parquet(tmp)
    _swap_dir(tmp, clusters_path)
    spark.createDataFrame([(int(max_bid),)], "batch_id long").write.mode(
        "overwrite"
    ).parquet(hwm_path)
    return spark.read.parquet(clusters_path)


def _waterfall_batch(batch_turns: DataFrame, batch_id: int, state_dir: str,
                     sep: str) -> None:
    """foreachBatch body for the streaming exact-contraction fold: the
    micro-batch canonicalizes, probes the persisted (fingerprint, rep)
    index (operators.waterfall.incremental_exact_groups — old corpus
    never re-read), appends its (conv_id, rep) mapping, and appends ONLY
    its unseen fingerprints to the index.

    Crash/replay safety (mapping append BEFORE index append): a replay
    with the index already folded routes every batch row through the
    hits path and reproduces the SAME sticky reps (the appended reps
    were this batch's min ids), so duplicate mapping rows are
    value-identical and the reader's dropDuplicates is exact; the
    left-anti guarantees the index never gains duplicate fingerprints."""
    from ..operators.waterfall import incremental_exact_groups

    spark = batch_turns.sparkSession
    idx_path = os.path.join(state_dir, "fp_index")
    map_path = os.path.join(state_dir, "mapping")

    canon = canonicalize(batch_turns, sep).select(
        "conv_id", "fingerprint"
    ).localCheckpoint(eager=True)
    if canon.isEmpty():
        return
    index = _read_or_none(spark, idx_path)
    if index is None:
        index = spark.createDataFrame([], "fingerprint string, rep string")
    mapping, new_reps = incremental_exact_groups(index, canon)
    _append(mapping.withColumn("batch_id", F.lit(batch_id)), map_path)
    _append(new_reps, idx_path)


def start_incremental_waterfall(stream: DataFrame, state_dir: str,
                                checkpoint_dir: str,
                                sep: str = "\x1e"):
    """Streaming twin of the waterfall exact pass: maintain the persisted
    exact-contraction state ((fingerprint, rep) index + per-entity
    mapping) over a transcript stream. Downstream, the fuzzy kernel pass
    runs on the index's representatives only — per micro-batch, exactly
    the batch's unseen fingerprints (see BENCH_WATERFALL_INCR.json:
    a 140k-entity replay batch contributes ZERO kernel reps)."""
    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: _waterfall_batch(df, bid, state_dir, sep)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def waterfall_groups_from_sink(spark: SparkSession, state_dir: str) -> DataFrame:
    """Normalized exact-duplicate groups from the streaming sink: sticky
    reps (stable across batches) re-labeled to the group-min member id so
    the result is directly comparable with one-shot exact_groups."""
    from ..operators.waterfall import normalize_reps

    mapping = (
        spark.read.parquet(os.path.join(state_dir, "mapping"))
        .dropDuplicates(["conv_id"])
    )
    return normalize_reps(mapping)


def stream_turn_metrics(stream: DataFrame, window: str = "1 minute",
                        watermark: str = "2 minutes") -> DataFrame:
    """Watermarked windowed turn-volume metrics (ops dashboard): rows per
    (event-time window, role), late data beyond the watermark dropped."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "role")
        .agg(
            F.count("*").alias("n_turns"),
            F.approx_count_distinct("conv_id").alias("n_convs"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "role", "n_turns", "n_convs",
        )
    )


def retract_state(spark: SparkSession, state_dir: str,
                  deletes: DataFrame) -> DataFrame | None:
    """Apply a right-to-be-forgotten deletion batch to the persisted
    linkage state: bring the cluster assignment current (fold any match
    batches appended since the last fold — retract_entities requires a
    fully-folded assignment, see its precondition), then prune the
    deleted ids from EVERY state table that carries them or their
    text-derived data — entities/ (fingerprints), dict_keys/ (blocking
    keys are fingerprint substrings), matches/, and, when the state dir
    is a waterfall sink, mapping/ + fp_index/ (full fingerprints; groups
    whose sticky rep is deleted re-elect the minimum surviving member,
    so normalize_reps-normalized groups are unchanged and a group with
    no survivor forgets its fingerprint entirely) — and finally repair
    clusters/ via operators.clustering.retract_entities (cost ∝
    affected-cluster mass, the deletion twin of fold_clusters_state).
    Returns the repaired assignment, or None if the state dir has no
    clusters yet.

    Write order (and why replay is safe at EVERY crash point):
      1. fold_clusters_state — brings clusters/ current (this swap is
         visible: mid-run readers can observe a folded-but-unretracted
         assignment until step 2 lands; the state dir is offline per the
         contract below, so no external reader races it);
      2. repair clusters/ (retract_entities over the survivor edge set,
         computed in-memory — matches/ on disk is untouched so far);
      3. prune entities/, dict_keys/, matches/, waterfall mapping/ +
         fp_index/.
    Clusters are repaired BEFORE the supporting tables are pruned —
    deliberately.  If the prunes ran first, a crash between the entities
    prune and the clusters repair would leave a replay folding against
    survivor-only entities: the deleted ids would vanish from the
    assignment silently (no assignment row -> empty affected set), so
    clusters that should split would stay merged and a deleted conv_id
    could persist as a cluster_id value — both a divergence from the
    full-recompute postcondition and an RTBF leak.  With repair-first,
    a replay at any crash point converges: if the crash hit before the
    step-2 swap, the replay just redoes fold+repair (fold is
    idempotent); if it hit after, the fold re-adds the deleted ids as
    SINGLETONS (entities/ still holds them but the repaired assignment's
    star edges no longer link them to anything) and retract_entities
    removes those singleton rows again, reproducing the same repaired
    assignment; once the entities prune lands, the deleted ids appear in
    no table and every remaining step is a no-op anti-join.  The
    crash-window replay test (tests/test_streaming.py::
    test_retract_crash_window_replay) drives each window explicitly.
    Missing tables are skipped (a deletion batch racing ahead of the
    first ingest commit is a no-op, not a wedged stream).
    Offline/single-caller, like compact_state and fold_clusters_state:
    concurrent directory swaps race."""
    import tempfile

    from ..operators.clustering import retract_entities

    deletes = deletes.select("conv_id").dropDuplicates(["conv_id"]) \
        .localCheckpoint(eager=True)
    if deletes.isEmpty():
        return _read_or_none(spark, os.path.join(state_dir, "clusters"))

    def _prune_swap(name: str, df) -> None:
        import glob
        import shutil

        path = os.path.join(state_dir, name)
        parent = os.path.dirname(path.rstrip("/")) or "."
        for stale in glob.glob(os.path.join(parent, f".tmp_{name}_*")):
            shutil.rmtree(stale, ignore_errors=True)
        tmp = tempfile.mkdtemp(prefix=f".tmp_{name}_", dir=parent)
        df.write.mode("overwrite").parquet(tmp)
        _swap_dir(tmp, path)

    entities = _read_or_none(spark, os.path.join(state_dir, "entities"))
    matches = _read_or_none(spark, os.path.join(state_dir, "matches"))
    prior = _read_or_none(spark, os.path.join(state_dir, "clusters"))

    # fold BEFORE pruning: retract_entities ignores edges the assignment
    # has not absorbed, so a stale assignment (match batches appended
    # since the last fold) must be brought current first
    if prior is not None and entities is not None and matches is not None:
        prior = fold_clusters_state(spark, state_dir).localCheckpoint(eager=True)

    # survivor edges, computed in-memory BEFORE any on-disk prune: the
    # clusters repair must land while matches/ and entities/ still hold
    # the pre-retraction state (see write-order note in the docstring)
    kept_matches = None
    if matches is not None:
        kept_matches = (
            matches
            .join(deletes.select(F.col("conv_id").alias("id_a")), "id_a", "left_anti")
            .join(deletes.select(F.col("conv_id").alias("id_b")), "id_b", "left_anti")
            .localCheckpoint(eager=True)
        )

    # step 2: repair clusters FIRST (crash after this swap -> replay's
    # fold re-adds deleted ids as singletons and the repair removes them
    # again; crash before -> replay redoes fold+repair from scratch)
    if prior is not None and kept_matches is not None:
        repaired = retract_entities(
            prior, kept_matches.select("id_a", "id_b"), deletes
        ).localCheckpoint(eager=True)
        _prune_swap("clusters", repaired)

    # step 3: prune the supporting tables
    if entities is not None:
        _prune_swap("entities",
                    entities.join(deletes, "conv_id", "left_anti")
                    .localCheckpoint(eager=True))

    dict_keys = _read_or_none(spark, os.path.join(state_dir, "dict_keys"))
    if dict_keys is not None:
        _prune_swap("dict_keys",
                    dict_keys.join(deletes, "conv_id", "left_anti")
                    .localCheckpoint(eager=True))

    if kept_matches is not None:
        _prune_swap("matches", kept_matches)

    mapping = _read_or_none(spark, os.path.join(state_dir, "mapping"))
    fp_index = _read_or_none(spark, os.path.join(state_dir, "fp_index"))
    if mapping is not None and fp_index is not None:
        kept_map = mapping.join(deletes, "conv_id", "left_anti")
        new_reps = (
            kept_map.join(deletes.select(F.col("conv_id").alias("rep")), "rep")
            .groupBy("rep")
            .agg(F.min("conv_id").alias("_new_rep"))
            .localCheckpoint(eager=True)
        )
        remapped = (
            kept_map.join(new_reps, "rep", "left")
            .withColumn("rep", F.coalesce("_new_rep", F.col("rep")))
            .drop("_new_rep")
            .localCheckpoint(eager=True)
        )
        _prune_swap("mapping", remapped)
        kept_fp = (
            fp_index.join(new_reps, "rep", "left")
            .withColumn("rep", F.coalesce("_new_rep", F.col("rep")))
            .drop("_new_rep")
            .join(deletes.select(F.col("conv_id").alias("rep")), "rep", "left_anti")
            .localCheckpoint(eager=True)
        )
        _prune_swap("fp_index", kept_fp)

    if prior is None or kept_matches is None:
        return prior
    return spark.read.parquet(os.path.join(state_dir, "clusters"))


def start_retraction_stream(stream: DataFrame, state_dir: str,
                            checkpoint_dir: str):
    """Streaming twin of retract_state: a stream of deletion requests
    (conv_id rows) folds into the persisted linkage state per
    micro-batch.  Replay-safe because retract_state is idempotent per
    batch (see its docstring); exactly-once therefore degrades to
    at-least-once-with-no-effect, the same argument as the match sink's
    replay audit."""
    def _body(df: DataFrame, _bid: int) -> None:
        retract_state(df.sparkSession, state_dir, df)

    return (
        stream.writeStream.foreachBatch(_body)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
