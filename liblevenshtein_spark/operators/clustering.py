"""P7 — transitive clustering of the match graph via iterative
large-star / small-star connected components (Kiveris et al., "Connected
Components in MapReduce and Beyond") — the entity-cluster stage beyond the
reference's per-query candidate sets (SURVEY.md §1.2, BASELINE.json
north_star).

DataFrame-only implementation: each round is two (explode-direction,
groupBy-min, join) passes; lineage is truncated every round with an eager
localCheckpoint, convergence is an edge-set fixpoint check, and iterations
are capped by conf.cc_max_iterations (SURVEY.md §7.3 item 6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["large_star", "small_star", "connected_components", "assign_clusters", "star_clusters",
           "fold_clusters", "golden_records", "stable_entity_ids", "entity_history",
           "cluster_diff", "apply_adjudications", "pivot_clusters"]


def _canon(edges: DataFrame) -> DataFrame:
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )


def large_star(edges: DataFrame) -> DataFrame:
    """For every node u: connect each strictly-larger neighbor to the
    minimum of u's neighborhood (including u)."""
    bidir = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = bidir.groupBy("src").agg(F.min("dst").alias("_mn")).select(
        "src", F.least("_mn", "src").alias("m")
    )
    return _canon(
        bidir.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def small_star(edges: DataFrame) -> DataFrame:
    """Direct each edge from the larger to the smaller endpoint; for every
    node u connect all smaller-or-equal neighbors (and u) to the minimum."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = directed.groupBy("src").agg(F.min("dst").alias("m"))
    joined = directed.join(mins, "src")
    return _canon(
        joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .unionByName(joined.select("src", F.col("m").alias("dst")))
    )


def _fingerprint(edges: DataFrame):
    row = edges.select(
        F.count("*").alias("c"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return row["c"], row["h"]


def _local_components(edges: DataFrame) -> DataFrame:
    """Driver-side union-find over a collected sparse edge list, returning
    the same min-rooted star forest (src=root, dst=child) the distributed
    loop converges to.

    This is runtime-adaptive physical strategy selection, the same idea as
    AQE picking a broadcast join from runtime stats: below the edge
    threshold the iterative loop is pure scheduling overhead (~15 jobs of
    fixed per-job latency for microseconds of compute), while one bounded
    collect + one createDataFrame finishes in two jobs with an identical
    result. Union-by-min preserves the cluster_id = min-member-id contract;
    Python's code-point string ordering matches Spark's UTF8String binary
    ordering, so roots agree with least()/greatest() in the distributed
    path."""
    return _union_find_stars(edges.sparkSession, edges.collect(), edges.schema)


def _union_find_stars(spark, rows, schema) -> DataFrame:
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for row in rows:
        ra, rb = find(row[0]), find(row[1])
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra

    stars = [(find(x), x) for x in parent]
    stars = [(r, x) for r, x in stars if r != x]
    return spark.createDataFrame(stars, schema)


def connected_components(matches: DataFrame, max_iterations: int = 50,
                         rounds_per_check: int = 2,
                         small_graph_edges: int = 1_000_000) -> DataFrame:
    """matches(id_a, id_b) -> stable edge set (node -> component root).

    Alternates large-star / small-star to fixpoint. Lineage is truncated
    with an eager localCheckpoint and convergence is probed (count +
    bit_xor signature) once every `rounds_per_check` rounds, not every
    round: each checkpoint and each probe is its own Spark job, and on
    high-steal hosts the per-job fixed latency — not the shuffle bytes —
    dominates iterative CC. Probing every 2nd round halves the job count
    for at most one wasted (idempotent) round past the fixpoint; the
    plan between checkpoints stays a bounded 2 rounds (4 shuffles) deep.

    When the deduped canonical edge set is at most `small_graph_edges`,
    the component roots are resolved with a driver-side union-find instead
    (see _local_components). The size probe IS the collect: a
    limit(threshold+1) collect is bounded by the threshold (~50-100 MB of
    id pairs at the 1M default) and short-circuits via CollectLimit on a
    larger graph instead of scanning it, and when the graph fits the
    collected rows are the full edge set — one job decides the strategy
    AND feeds the union-find. At 10^12-turn scale a post-threshold match
    graph simply takes the distributed loop. Pass small_graph_edges=0 to
    force the loop."""
    edges = _canon(
        matches.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ).localCheckpoint(eager=True)
    if small_graph_edges > 0:
        probe = edges.limit(small_graph_edges + 1).collect()
        if len(probe) <= small_graph_edges:
            return _union_find_stars(edges.sparkSession, probe, edges.schema)
    sig = _fingerprint(edges)
    done = 0
    while done < max_iterations:
        for _ in range(min(rounds_per_check, max_iterations - done)):
            edges = small_star(large_star(edges))
            done += 1
        edges = edges.localCheckpoint(eager=True)
        new_sig = _fingerprint(edges)
        if new_sig == sig:
            break
        sig = new_sig
    return edges


def assign_clusters(entities: DataFrame, matches: DataFrame,
                    id_col: str = "conv_id",
                    max_iterations: int = 50,
                    small_graph_edges: int = 1_000_000) -> DataFrame:
    """(id) x matches -> (id, cluster_id) where cluster_id is the minimum
    member id of the connected component (singletons cluster to themselves)."""
    stars = connected_components(matches, max_iterations,
                                 small_graph_edges=small_graph_edges)
    # After convergence the canonical edge set is a star forest stored as
    # (root=min, child=max); map each child to its root, min-reduced
    # defensively.
    roots = stars.groupBy("dst").agg(F.min("src").alias("cluster_id")).select(
        F.col("dst").alias(id_col), "cluster_id"
    )
    return (
        entities.select(id_col)
        .join(roots, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
    )


def fold_clusters(entities: DataFrame, assignment: DataFrame,
                  new_matches: DataFrame, id_col: str = "conv_id",
                  max_iterations: int = 50,
                  small_graph_edges: int = 1_000_000) -> DataFrame:
    """Incrementally fold a batch of NEW match edges into an existing
    cluster assignment without replaying the historical edge set.

    The prior assignment (id -> cluster_id, cluster_id = min member id) is
    itself a star forest that preserves the connectivity of every edge ever
    folded in, so CC(star(assignment) ∪ new_edges) == CC(all edges ever).
    At 10^12-turn scale this is the difference between re-clustering the
    full match history every ingest batch and clustering |entities|-many
    depth-1 star edges plus the new batch: the stars are already at the
    large-star/small-star fixpoint shape, so the loop converges in ~2
    rounds regardless of how deep the original merge chains were. This is
    the batch twin of streaming/incremental.clusters_from_sink (which
    recomputes CC from the whole sink).

    Result is identical to assign_clusters(entities, union of all matches)
    — cluster ids stay the min member id, so folding is associative and
    idempotent across batches."""
    prior = assignment.filter(F.col(id_col) != F.col("cluster_id")).select(
        F.col(id_col).alias("id_a"), F.col("cluster_id").alias("id_b")
    )
    edges = prior.unionByName(new_matches.select("id_a", "id_b"))
    return assign_clusters(entities, edges, id_col, max_iterations,
                           small_graph_edges=small_graph_edges)


def affected_subgraph(assignment: DataFrame, matches: DataFrame,
                      deleted: DataFrame, id_col: str = "conv_id"):
    """Decompose a deletion batch against a standing assignment into
    (untouched assignment rows, surviving members of affected clusters,
    surviving intra-affected-cluster edges).  Used by retract_entities;
    the edge volume in BENCH_RETRACT.json was measured through it, so it
    is, by construction, the edge set the operator actually feeds CC.

    Edges are kept only when BOTH endpoints sit in the same affected
    cluster of `assignment` — an edge the assignment has not folded yet
    (endpoints in different clusters, or an endpoint the assignment has
    never seen) is ignored: the assignment is authoritative for
    connectivity, and repairing against unfolded edges would mint
    cluster ids that are not member ids.  Fold first (fold_clusters /
    fold_clusters_state), then retract."""
    deleted = deleted.select(id_col).distinct()
    flagged = assignment.join(
        deleted.withColumn("_del", F.lit(1)), id_col, "left"
    )
    affected = (
        flagged.filter(F.col("_del").isNotNull())
        .select("cluster_id").distinct()
    )
    untouched = assignment.join(affected, "cluster_id", "left_anti").select(
        id_col, "cluster_id"
    )
    survivors = (
        flagged.filter(F.col("_del").isNull())
        .join(affected, "cluster_id")
        .select(id_col)
    )
    sub_edges = (
        matches.select("id_a", "id_b")
        .join(
            assignment.select(F.col(id_col).alias("id_a"),
                              F.col("cluster_id").alias("_ca")),
            "id_a",
        )
        .join(
            assignment.select(F.col(id_col).alias("id_b"),
                              F.col("cluster_id").alias("_cb")),
            "id_b",
        )
        .filter(F.col("_ca") == F.col("_cb"))
        .join(affected.select(F.col("cluster_id").alias("_ca")), "_ca")
        .join(deleted.select(F.col(id_col).alias("id_a")), "id_a", "left_anti")
        .join(deleted.select(F.col(id_col).alias("id_b")), "id_b", "left_anti")
        .select("id_a", "id_b")
    )
    return untouched, survivors, sub_edges


def retract_entities(assignment: DataFrame, matches: DataFrame,
                     deleted: DataFrame, id_col: str = "conv_id",
                     max_iterations: int = 50,
                     small_graph_edges: int = 1_000_000) -> DataFrame:
    """Right-to-be-forgotten retraction: remove a set of entities from an
    existing cluster assignment and repair ONLY the clusters they touched.

    Deleting nodes can SPLIT a connected component but can never MERGE two
    of them, so every cluster with no deleted member keeps its assignment
    row verbatim — including its cluster_id, since the id is the minimum
    member id and that member, being undeleted, still anchors it.  Only
    the affected clusters re-run connected components, on their surviving
    internal edges.  At 10^12-turn scale a deletion batch therefore costs
    one semi-join over the assignment plus CC over the affected-cluster
    subgraph (bounded by deleted-cluster mass), NOT a re-cluster of the
    full match graph — the deletion-side twin of fold_clusters (which
    handles additions the same incremental way).

    PRECONDITION: `assignment` must have folded every edge in `matches`
    (both endpoints of every edge in one cluster).  Edges the assignment
    has not absorbed are IGNORED by the repair (see affected_subgraph) —
    fold pending batches first, as streaming.retract_state does.  Under
    that precondition the result is identical to
    assign_clusters(entities - deleted, edges among survivors)."""
    untouched, survivors, sub_edges = affected_subgraph(
        assignment, matches, deleted, id_col
    )
    repaired = assign_clusters(survivors, sub_edges, id_col, max_iterations,
                               small_graph_edges=small_graph_edges)
    return untouched.unionByName(repaired)


def star_clusters(entities: DataFrame, matches: DataFrame,
                  id_col: str = "conv_id") -> DataFrame:
    """Deterministic one-hop star clustering (the CENTER family, Haveliwala
    et al. 2000, with document order replaced by id order so the result is
    order-free and cross-engine reproducible): centers are the nodes with
    no smaller-id neighbor, every other node attaches to its smallest
    center neighbor, and nodes with no center neighbor fall back to
    self-centers.

    The semantic complement to transitive-closure CC (`assign_clusters`):
    CC chains a–b–c into one entity even when d(a,c) > n, so a single
    noisy edge can weld mega-clusters; star clusters have diameter <= 2
    (every member is a DIRECT match of its center), the standard
    mega-cluster mitigation in web-scale ER.

    Physically this is a FIXED 3-join dataflow — two hash aggregations and
    three key joins, no driver-side iteration at all (CC needs
    O(log n) rounds) — so it also serves as the bounded-latency clustering
    path for streaming folds. No two centers are ever adjacent (a center
    has no smaller neighbor, so a neighboring center would contradict
    whichever id is larger), which makes the assignment well-defined.
    """
    sym = matches.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        matches.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    min_nb = sym.groupBy("src").agg(F.min("dst").alias("min_nb"))
    nodes = entities.select(F.col(id_col))
    centers = (
        nodes.join(min_nb, nodes[id_col] == min_nb["src"], "left")
        .filter(F.col("min_nb").isNull() | (F.col("min_nb") > F.col(id_col)))
        .select(id_col)
    )
    center_nb = (
        sym.join(centers.select(F.col(id_col).alias("dst")), "dst")
        .groupBy("src")
        .agg(F.min("dst").alias("star_nb"))
    )
    is_center = centers.withColumn("_c", F.lit(1))
    return (
        nodes.join(is_center, id_col, "left")
        .join(center_nb, nodes[id_col] == center_nb["src"], "left")
        .select(
            F.col(id_col),
            F.when(F.col("_c").isNotNull(), F.col(id_col))
            .otherwise(F.coalesce(F.col("star_nb"), F.col(id_col)))
            .alias("star_id"),
        )
    )


def cluster_exemplars(assignment: DataFrame, scored: DataFrame,
                      id_col: str = "conv_id",
                      max_distance: int = 2) -> DataFrame:
    """Medoid canonical-record selection: for every multi-member cluster,
    the member minimizing the summed edit distance to its co-members —
    the record a mastering pipeline publishes when it wants an ACTUAL
    representative rather than golden_records' synthetic field fusion.

    Unscored intra-cluster pairs (never candidates, or beyond the band)
    count the kernel's sentinel distance n+1, which gives the closed form
        total(m) = (n+1)·(|C|-1) − Σ_scored pairs at m (n+1 − d)
    so the computation touches ONLY the scored edge stream plus the
    assignment — no all-pairs expansion within clusters, no re-scoring.
    Cost: two assignment joins to restrict scored pairs to intra-cluster
    edges, one endpoint-exploded sum, one per-cluster argmin window
    (WindowGroupLimit; clusters are small by construction).  All-integer
    arithmetic, deterministic (cost, id) tie-break."""
    sentinel = max_distance + 1
    ca = assignment.select(F.col(id_col).alias("id_a"),
                           F.col("cluster_id").alias("_ca"))
    cb = assignment.select(F.col(id_col).alias("id_b"),
                           F.col("cluster_id").alias("_cb"))
    intra = (
        scored.select("id_a", "id_b", "distance")
        .join(ca, "id_a").join(cb, "id_b")
        .filter(F.col("_ca") == F.col("_cb"))
        .select("id_a", "id_b", (F.lit(sentinel) - F.col("distance")).alias("_gain"))
    )
    gains = (
        intra.select(F.col("id_a").alias(id_col), "_gain")
        .unionByName(intra.select(F.col("id_b").alias(id_col), "_gain"))
        .groupBy(id_col)
        .agg(F.sum("_gain").cast("bigint").alias("_deficit"))
    )
    sizes = assignment.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_members")
    ).filter(F.col("n_members") >= 2)
    cost = (
        assignment.join(sizes, "cluster_id")
        .join(gains, id_col, "left")
        .select(
            "cluster_id", id_col, "n_members",
            (F.lit(sentinel) * (F.col("n_members") - 1)
             - F.coalesce("_deficit", F.lit(0))).cast("bigint").alias("exemplar_cost"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy("exemplar_cost", id_col)
    return (
        cost.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("cluster_id", F.col(id_col).alias("exemplar_id"),
                "n_members", "exemplar_cost")
    )


def golden_records(assignment: DataFrame, entities: DataFrame,
                   id_col: str = "conv_id", cluster_col: str = "cluster_id",
                   longest: tuple[str, ...] = (), mode: tuple[str, ...] = (),
                   sums: tuple[str, ...] = (), maxs: tuple[str, ...] = ()) -> DataFrame:
    """Field-level survivorship (data fusion): one fused GOLDEN RECORD per
    entity cluster, with a deterministic survivor rule per attribute —
    the step after clustering in a classic ER pipeline (the reference stops
    at candidate sets; this mirrors the merge/fusion stage of
    Fellegi–Sunter-era record linkage systems `[PK]`).

    Rules (all ties broken deterministically so the result is
    engine-reproducible and oracle-checkable):

    * ``longest``  — completeness rule: keep the cluster's longest value
      (code-point length), ties -> the value of the smallest ``id_col``;
      emits ``<col>_survivor`` and its source id ``<col>_survivor_src``.
    * ``mode``     — frequency rule: the cluster's most frequent value,
      ties -> lexicographically smallest value; emits ``<col>_mode``.
    * ``sums`` / ``maxs`` — numeric fusion aggregates (``<col>_sum`` /
      ``<col>_max``).

    Always emits ``n_members`` and ``rep`` (min member id). Scale shape:
    every rule is keyed by ``cluster_col`` — the ``longest`` fields share
    ONE window pass (single shuffle), each ``mode`` field is a
    (cluster, value) hash agg with map-side combine feeding a tiny
    per-cluster window, and the numeric aggregates ride the base hash agg.
    Post-ER clusters are small by construction (mega-clusters are a defect
    the star strategy exists to prevent), so per-cluster windows never see
    pathological partitions."""
    from pyspark.sql import Window

    joined = assignment.select(id_col, cluster_col).join(entities, id_col)

    base = joined.groupBy(cluster_col).agg(
        F.count("*").cast("int").alias("n_members"),
        F.min(id_col).alias("rep"),
        *[F.sum(c).alias(f"{c}_sum") for c in sums],
        *[F.max(c).alias(f"{c}_max") for c in maxs],
    )
    out = base

    if longest:
        # all fields rank inside ONE window projection (same partitioning,
        # one shuffle); each field then contributes its rank-1 winner row
        w = Window.partitionBy(cluster_col)
        proj = [cluster_col]
        for c in longest:
            rank = F.row_number().over(
                w.orderBy(F.length(c).desc_nulls_last(), F.col(id_col).asc())
            )
            proj += [F.col(c).alias(f"{c}_survivor"),
                     F.col(id_col).alias(f"{c}_survivor_src"),
                     rank.alias(f"_r_{c}")]
        surv = joined.select(*proj)
        for c in longest:
            out = out.join(
                surv.filter(F.col(f"_r_{c}") == 1)
                    .select(cluster_col, f"{c}_survivor", f"{c}_survivor_src"),
                cluster_col, "left")

    for c in mode:
        counts = (
            joined.filter(F.col(c).isNotNull())
            .groupBy(cluster_col, c).agg(F.count("*").alias("_n"))
        )
        w = Window.partitionBy(cluster_col).orderBy(
            F.col("_n").desc(), F.col(c).asc()
        )
        winner = (
            counts.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select(cluster_col, F.col(c).alias(f"{c}_mode"))
        )
        out = out.join(winner, cluster_col, "left")
    return out


def stable_entity_ids(prev: DataFrame, curr: DataFrame,
                      id_col: str = "conv_id",
                      cluster_col: str = "cluster_id",
                      entity_col: str = "entity_id",
                      mint_namespace: str = "new") -> DataFrame:
    """ID-stitching across linkage runs: carry PERSISTENT entity ids from a
    previous assignment onto the current one, so downstream consumers keep
    a stable key while clusters merge, split, and absorb new records.

    CC cluster ids here are min-member ids, which are NOT stable: a newly
    ingested record with a smaller id, or a merge of two clusters, renames
    the cluster even though the entity is "the same". Production ER systems
    solve this with an id-crosswalk step after every run `[PK]` (the
    reference's transducer has no run-to-run state; this is pipeline
    infrastructure the 10^12-turn deployment needs).

    Matching rule — deterministic MUTUAL best overlap: count shared members
    per (current cluster, previous entity); a cluster inherits an entity id
    iff each is the other's argmax (ties broken by smallest entity id /
    cluster id). Mutual-best is the standard greedy 1-1 approximation of
    max-weight bipartite matching that both engines can express with two
    window ranks — no iteration, no driver loop. Clusters that win no
    previous id (genuinely new entities, or the minority fragment of a
    split) mint ``<mint_namespace>:<cluster_id>``.

    Uniqueness contract: every entity id maps to at most one cluster
    PROVIDED no id in ``prev`` already lives in ``mint_namespace``. When
    the operator's own output is chained as the next run's ``prev`` (the
    normal production loop), pass a fresh per-run namespace — a run id,
    batch id, or date (``mint_namespace=f"run{n}"``) — exactly as a
    publisher would allocate from a sequence; a reused namespace could
    collide a carried ``new:X`` with a later cluster minting ``new:X``
    after a split moves record X.

    Inputs: ``prev`` (id_col, entity_col), ``curr`` (id_col, cluster_col).
    Output: one row per current record (id, cluster_id, entity_id,
    carried:int). Scale shape: the overlap table is at most one row per
    record before the hash agg's map-side combine collapses it to one row
    per (cluster, entity) — O(|clusters|) survivors; the two ranking
    windows run on that collapsed table, never on the corpus."""
    from pyspark.sql import Window

    overlap = (
        curr.join(prev, id_col)
        .groupBy(cluster_col, entity_col)
        .agg(F.count("*").alias("_n"))
    )
    wc = Window.partitionBy(cluster_col).orderBy(
        F.col("_n").desc(), F.col(entity_col).asc())
    we = Window.partitionBy(entity_col).orderBy(
        F.col("_n").desc(), F.col(cluster_col).asc())
    carried = (
        overlap.withColumn("_rc", F.row_number().over(wc))
        .withColumn("_re", F.row_number().over(we))
        .filter((F.col("_rc") == 1) & (F.col("_re") == 1))
        .select(cluster_col, entity_col)
    )
    return (
        curr.join(carried, cluster_col, "left")
        .withColumn("carried", F.col(entity_col).isNotNull().cast("int"))
        .withColumn(entity_col, F.coalesce(
            F.col(entity_col),
            F.concat(F.lit(f"{mint_namespace}:"), F.col(cluster_col))))
        .select(id_col, cluster_col, entity_col, "carried")
    )


def entity_history(assignments: DataFrame, id_col: str = "conv_id",
                   run_col: str = "run_id",
                   entity_col: str = "entity_id") -> DataFrame:
    """SCD2-style entity history: collapse per-run entity assignments into
    validity intervals — the temporal twin of `stable_entity_ids` (which
    stitches ids ACROSS runs; this records WHEN each id held).

    Input: one row per (record, run): (id_col, run_col, entity_col), where
    run_col is an orderable run number/date. Consecutive runs in which a
    record kept the same entity id collapse into one interval
    (gaps-and-islands); a record that leaves and later returns to an entity
    id gets two intervals, as SCD2 requires. Output: one row per interval —
    (id, entity_id, valid_from, valid_to, is_current) with the warehouse
    convention valid_to = the NEXT interval's valid_from (exclusive bound),
    NULL + is_current=1 on the open interval. "Consecutive" means adjacent
    observations of the record, so a record absent from some runs treats
    its next observed run as adjacent.

    Scale shape: two window passes partitioned by record id (change flag
    via lag, island id via running sum) + one hash agg + one lead window on
    the collapsed intervals — runs-per-record is small (one per linkage
    run), so partitions are tiny; nothing is ever corpus-global. This is
    the history TABLE builder a 10^12-turn deployment materializes after
    every linkage run so downstream joins can time-travel entity ids."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(run_col)
    prev = F.lag(entity_col).over(w)
    flagged = assignments.select(id_col, run_col, entity_col).withColumn(
        "_chg", F.when(prev.isNull() | (prev != F.col(entity_col)), 1).otherwise(0)
    )
    islands = flagged.withColumn(
        "_isl", F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    iv = islands.groupBy(id_col, "_isl", entity_col).agg(
        F.min(run_col).alias("valid_from")
    )
    wv = Window.partitionBy(id_col).orderBy("valid_from")
    nxt = F.lead("valid_from").over(wv)
    return iv.select(
        id_col, entity_col,
        F.col("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().cast("int").alias("is_current"),
    )


def cluster_diff(old: DataFrame, new: DataFrame, id_col: str = "conv_id",
                 cluster_col: str = "cluster_id") -> DataFrame:
    """Run-over-run clustering diff: the release-comparison table an ER
    deployment reviews before promoting a new linkage run — which clusters
    survived unchanged, which merged, which split, and which entities
    appeared/disappeared. Complements `entity_history` (WHEN an id held)
    and `stable_entity_ids` (id stitching): this is the cluster-grain
    change report between exactly two runs.

    Input: two assignment tables (id_col, cluster_col). Output: one row per
    non-empty (old_cluster, new_cluster) intersection — plus one-sided rows
    for entities present in only one run — with the intersection size, both
    cluster sizes, and a `kind` classification:

    - ``stable``     — the clusters are identical (n_common = both sizes);
    - ``merged_into``— the old cluster was absorbed whole into a larger new
                       cluster (n_common = old_size < new_size);
    - ``split_from`` — the new cluster is a strict fragment of the old one
                       (n_common = new_size < old_size);
    - ``reshuffled`` — partial overlap on both sides (entities crossed
                       cluster boundaries, not a clean merge/split);
    - ``added`` / ``removed`` — the entity exists in only one run.

    Scale shape: one full-outer join on the entity id (co-partitioned
    shuffle, linear in entities), two hash aggs for the sizes (map-side
    combine), and two broadcast-sized joins keyed by cluster id. Rows out
    are bounded by the number of cluster intersections <= entities; no
    stage is quadratic, so the diff costs about one linkage-assignment
    write at any corpus size."""
    o = old.select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("old_cluster"))
    n = new.select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("new_cluster"))
    joined = o.join(n, "_id", "full_outer")
    inter = joined.groupBy("old_cluster", "new_cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )
    old_sz = o.groupBy("old_cluster").agg(F.count(F.lit(1)).cast("bigint").alias("old_size"))
    new_sz = n.groupBy("new_cluster").agg(F.count(F.lit(1)).cast("bigint").alias("new_size"))
    res = (
        inter.join(old_sz, "old_cluster", "left")
        .join(new_sz, "new_cluster", "left")
    )
    kind = (
        F.when(F.col("old_cluster").isNull(), F.lit("added"))
        .when(F.col("new_cluster").isNull(), F.lit("removed"))
        .when(
            (F.col("n_common") == F.col("old_size"))
            & (F.col("n_common") == F.col("new_size")),
            F.lit("stable"),
        )
        .when(F.col("n_common") == F.col("old_size"), F.lit("merged_into"))
        .when(F.col("n_common") == F.col("new_size"), F.lit("split_from"))
        .otherwise(F.lit("reshuffled"))
    )
    return res.select(
        "old_cluster", "new_cluster", "n_common", "old_size", "new_size",
        kind.alias("kind"),
    )


def apply_adjudications(entities: DataFrame, matches: DataFrame,
                        adjudications: DataFrame,
                        id_col: str = "conv_id",
                        pair_cols: tuple[str, str] = ("id_a", "id_b"),
                        decision_col: str = "decision") -> DataFrame:
    """Fold clerical-review decisions into the match graph and re-cluster —
    the step that closes the review loop opened by the review-queue
    operator (metrics.review_queue selects the pairs a human sees; this
    applies what the human decided).

    `adjudications` rows are (id_a, id_b, decision) with decision in
    {'accept', 'reject'}: rejected pairs are REMOVED from the match edge
    set (orientation-free — pairs are normalized to (least, greatest)
    before the anti-join, so a reviewer labeling (b, a) still kills edge
    (a, b)), accepted pairs are ADDED, then transitive closure reruns via
    assign_clusters. An accepted pair that already matches is harmless
    (CC is duplicate-edge tolerant); a pair labeled both accept and reject
    resolves to REJECT (the anti-join runs last), the conservative choice
    for a linkage product.

    Scale shape: adjudications are human-generated and therefore tiny
    relative to the match graph at any corpus size — both the reject
    anti-join and the accept union broadcast the adjudication side, so
    the match stream is never reshuffled before CC itself.
    """
    a, b = pair_cols
    lo, hi = F.least(F.col(a), F.col(b)), F.greatest(F.col(a), F.col(b))

    def _norm(df: DataFrame) -> DataFrame:
        return df.select(lo.alias(a), hi.alias(b))

    dec = F.lower(F.col(decision_col))
    rejects = _norm(adjudications.filter(dec == "reject"))
    accepts = _norm(adjudications.filter(dec == "accept"))
    edges = (
        _norm(matches)
        .unionByName(accepts)
        .join(F.broadcast(rejects), [a, b], "left_anti")
    )
    return assign_clusters(entities, edges, id_col=id_col)


def _pivot_pri(col) -> Column:
    """Engine-portable node priority: lowercase-hex md5 of a salted id.

    Both Spark and DuckDB render md5 as lowercase hex, so lexicographic
    comparison of the digest agrees bit-for-bit across engines — the same
    portability trick the lineage ledger uses for row hashes. The salt
    decorrelates the priority order from the id order star_clusters uses
    (an adversary — or a skewed id scheme — that sorts ids along a match
    chain would otherwise make the greedy order degenerate)."""
    return F.md5(F.concat(F.lit("pivot|"), col.cast("string")))


def _local_pivot(spark, rows, max_rounds: int, schema):
    """Driver-side replica of the round-synchronous pivot rule over a
    collected edge list — the same adaptive small-graph strategy selection
    as _local_components, and bit-identical to the distributed loop (the
    rounds are synchronous in both, so there is no execution-order
    freedom to diverge)."""
    import hashlib

    def pri(x: str) -> str:
        return hashlib.md5(f"pivot|{x}".encode()).hexdigest()

    adj: dict = {}
    for r in rows:
        adj.setdefault(r[0], set()).add(r[1])
        adj.setdefault(r[1], set()).add(r[0])
    assign: dict = {}
    live = set(adj)
    for _ in range(max_rounds):
        if not live:
            break
        pivots = {
            u for u in live
            if all(pri(u) < pri(v) for v in adj[u] if v in live)
        }
        newly = {u: u for u in pivots}
        for u in live - pivots:
            cands = [v for v in adj[u] if v in pivots]
            if cands:
                newly[u] = min(cands, key=pri)
        assign.update(newly)
        live -= set(newly)
    for u in live:  # max_rounds exhausted: defensive self-assign
        assign[u] = u
    return spark.createDataFrame([(k, v) for k, v in assign.items()], schema)


def pivot_clusters(entities: DataFrame, matches: DataFrame,
                   id_col: str = "conv_id", max_rounds: int = 12,
                   small_graph_edges: int = 1_000_000) -> DataFrame:
    """Correlation-clustering pivot (Ailon-Charikar-Newman, JACM 2008) as a
    deterministic round-synchronous data-parallel loop (the ParallelPivot /
    C4 scheme of Pan et al., NIPS 2015), priorities from a salted md5 so
    the "random" greedy order is reproducible cross-engine.

    Round rule, applied to the subgraph induced by still-unassigned nodes:
    a node whose priority beats every unassigned neighbor becomes a PIVOT
    (own cluster); every other unassigned node with at least one pivot
    neighbor attaches to its minimum-priority pivot neighbor; everyone
    else waits for the next round on the residual graph. Two adjacent
    nodes can never both pivot (priorities are distinct), and each round
    eliminates at least the global-minimum node of every live component,
    so the loop terminates; with ~random priorities it takes O(log n)
    rounds w.h.p.

    Semantics vs the other clustering modes: CC (`assign_clusters`) chains
    a-b-c into one entity even when d(a,c) > n; star (`star_clusters`)
    fixes that in ONE pass but strands every node whose only neighbors are
    non-centers as a singleton. Pivot iterates on the residual graph, so
    stranded nodes get reconsidered and can form their own groups — the
    expected-3-approximation structure for correlation clustering, with
    every member a DIRECT match of its pivot (cluster diameter <= 2).

    Scale shape: each round is two hash aggregations and three key joins
    on the LIVE edge set, which shrinks geometrically; lineage is
    truncated per round with eager localCheckpoints. Below
    `small_graph_edges` the driver-side replica runs instead (one bounded
    collect — see connected_components for the strategy-probe rationale);
    the distributed loop is the 10^12-turn path."""
    edges = _canon(
        matches.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ).localCheckpoint(eager=True)
    spark = edges.sparkSession
    assign_schema = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("cluster")
    ).schema
    if small_graph_edges > 0:
        probe = edges.limit(small_graph_edges + 1).collect()
        if len(probe) <= small_graph_edges:
            assign = _local_pivot(spark, probe, max_rounds, assign_schema)
            return (
                entities.select(id_col)
                .join(assign.withColumnRenamed("node", id_col), id_col, "left")
                .select(
                    F.col(id_col),
                    F.coalesce("cluster", F.col(id_col)).alias("pivot_id"),
                )
            )

    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    un_nodes = sym.select(F.col("src").alias("node")).distinct() \
        .localCheckpoint(eager=True)
    un_edges = sym.localCheckpoint(eager=True)
    assign = spark.createDataFrame([], assign_schema)
    for _ in range(max_rounds):
        nbr_min = un_edges.groupBy("src").agg(
            F.min(_pivot_pri(F.col("dst"))).alias("_mn")
        )
        piv = (
            un_nodes.join(nbr_min, un_nodes["node"] == nbr_min["src"], "left")
            .filter(
                F.col("_mn").isNull()
                | (_pivot_pri(F.col("node")) < F.col("_mn"))
            )
            .select("node")
        )
        att = (
            un_edges.join(piv.select(F.col("node").alias("dst")), "dst")
            .join(piv.select(F.col("node").alias("src")), "src", "left_anti")
            .groupBy("src")
            .agg(F.min_by("dst", _pivot_pri(F.col("dst"))).alias("cluster"))
            .select(F.col("src").alias("node"), "cluster")
        )
        newly = piv.select(
            "node", F.col("node").alias("cluster")
        ).unionByName(att)
        assign = assign.unionByName(newly).localCheckpoint(eager=True)
        un_nodes = un_nodes.join(newly.select("node"), "node", "left_anti") \
            .localCheckpoint(eager=True)
        if un_nodes.isEmpty():
            break
        un_edges = (
            un_edges.join(un_nodes.select(F.col("node").alias("src")), "src")
            .join(un_nodes.select(F.col("node").alias("dst")), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    # max_rounds exhausted without convergence: defensive self-assign
    assign = assign.unionByName(
        un_nodes.select("node", F.col("node").alias("cluster"))
    )
    return (
        entities.select(id_col)
        .join(assign.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster", F.col(id_col)).alias("pivot_id"),
        )
    )
