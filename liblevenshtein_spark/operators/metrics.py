"""P8 — pipeline observability metrics (SURVEY.md §2.4): per-block candidate
counts, score distribution, and blocking reduction ratio. These make skew
visible (SURVEY.md §7.3 item 5) and feed the checkpoint ledger's lineage
rows. All native aggregations."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "block_stats", "score_distribution", "reduction_ratio", "hot_keys",
    "pairwise_confusion", "bcubed", "rand_stats", "vmeasure", "fs_model", "fs_em",
    "banded_truth_pairs", "match_provenance",
    "blocking_key_drift", "calibration_bins", "greedy_scheme_selection",
]


def match_provenance(matches: DataFrame, scheme_pairs: DataFrame,
                     scheme_col: str = "scheme") -> DataFrame:
    """Explainability for every accepted match: WHICH blocking scheme(s)
    proposed the pair. ER audits ask this constantly — a match found only
    by one scheme is the evidence for keeping that scheme's candidate
    budget, and a match found by none (possible when matches come from an
    external/manual source) is a blocking-recall hole surfaced as
    schemes=''. Output: the match columns plus ``schemes`` (sorted
    comma-joined scheme names — a hash-stable string, not a set) and
    ``n_schemes``.

    Scale shape: one hash agg of the scheme-tagged pair stream (narrow:
    ids + scheme name, map-side combined) and one left join keyed on the
    pair ids — the match set is tiny relative to candidates, so AQE
    broadcast-joins it in practice; no texts and no kernel ride this."""
    # one agg pass: collect_set already dedups, so n_schemes is the set
    # size — a count_distinct here would plan a second two-phase aggregate
    dedup = F.sort_array(F.collect_set(scheme_col))
    per_pair = (
        scheme_pairs.groupBy("id_a", "id_b")
        .agg(
            F.array_join(dedup, ",").alias("schemes"),
            F.size(dedup).cast("int").alias("n_schemes"),
        )
    )
    return (
        matches.join(per_pair, ["id_a", "id_b"], "left")
        .withColumn("schemes", F.coalesce("schemes", F.lit("")))
        .withColumn("n_schemes", F.coalesce("n_schemes", F.lit(0)))
    )


def banded_truth_pairs(canon: DataFrame, max_distance: int = 2,
                       algorithm: str = "standard",
                       units: str = "codepoint") -> DataFrame:
    """Blocking-FREE exhaustive truth scan, the single source of truth
    semantics for every evaluation entry (pairwise F1, threshold sweep,
    blocking recall, and their sampled twins): all canonical-ordered
    (id_a, id_b, distance) pairs within `max_distance`, found by a
    length-banded equi-join — |len_a - len_b| <= n is a necessary
    condition for distance <= n, expressed as an explode of the 2n+1
    target lengths so Catalyst plans a hash equi-join, never a cross
    join. Quadratic WITHIN equal-length bands by construction (it is an
    audit, not a pipeline stage); at sf>=1 feed it a hash-sampled entity
    frame (operators.sampling.sample_corpus) instead of the full corpus.

    `canon` must carry (conv_id, fingerprint, fp_len). `units` must match
    the pipeline under audit (LinkConfig.units) so truth distances are in
    the same unit system as the scored distances; the code-point length
    band stays a valid necessary condition under utf16 too, because one
    UTF-16 code-unit edit changes the code-point count by at most one."""
    from ..config import LinkConfig
    from .scoring import score_attached

    left = canon.select(
        F.col("conv_id").alias("id_a"),
        F.col("fingerprint").alias("fp_a"),
        F.explode(F.array(*[F.col("fp_len") + F.lit(d)
                            for d in range(-max_distance, max_distance + 1)])
                  ).alias("_lk"),
    )
    right = canon.select(
        F.col("conv_id").alias("id_b"),
        F.col("fingerprint").alias("fp_b"),
        F.col("fp_len").alias("_lk"),
    )
    conf = LinkConfig(algorithm=algorithm, max_distance=max_distance, units=units)
    band = (
        left.join(right, "_lk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
    )
    return score_attached(band, conf, text_a="fp_a", text_b="fp_b").filter(
        F.col("distance") <= max_distance
    )


def pairwise_confusion(truth: DataFrame, preds: DataFrame) -> DataFrame:
    """Pairwise-linkage evaluation (the BASELINE.json headline metric):
    truth and preds are canonical-ordered (id_a, id_b) pair sets; returns a
    single row (tp, fp, fn, precision_1e4, recall_1e4, f1_1e4) with the
    ratios integer-scaled for hash-stable cross-engine comparison.

    One full-outer hash join on the pair key, then a single global
    aggregate — no collect, no cross join; scales with |truth ∪ preds|."""
    t = truth.select("id_a", "id_b").withColumn("_t", F.lit(1))
    p = preds.select("id_a", "id_b").withColumn("_p", F.lit(1))
    conf = t.join(p, ["id_a", "id_b"], "full_outer")
    both = F.col("_t").isNotNull() & F.col("_p").isNotNull()
    agg = conf.agg(
        F.coalesce(F.sum(F.when(both, 1).otherwise(0)), F.lit(0)).cast("bigint").alias("tp"),
        F.coalesce(F.sum(F.when(F.col("_t").isNull(), 1).otherwise(0)), F.lit(0)).cast("bigint").alias("fp"),
        F.coalesce(F.sum(F.when(F.col("_p").isNull(), 1).otherwise(0)), F.lit(0)).cast("bigint").alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")

    def ratio(num, den, name):
        return F.when(den == 0, F.lit(0)).otherwise(
            F.floor(F.lit(10000.0) * num / den + F.lit(0.5))
        ).cast("bigint").alias(name)

    return agg.select(
        "tp", "fp", "fn",
        ratio(tp, tp + fp, "precision_1e4"),
        ratio(tp, tp + fn, "recall_1e4"),
        ratio(2 * tp, 2 * tp + fp + fn, "f1_1e4"),
    )


def bcubed(assignments: DataFrame, pred_col: str = "cluster_id",
           gold_col: str = "gold_id") -> DataFrame:
    """B-cubed extrinsic clustering evaluation (Bagga & Baldwin 1998) —
    the standard entity-resolution complement to pairwise F1: per-record
    precision |C(r) ∩ G(r)| / |C(r)| and recall |C(r) ∩ G(r)| / |G(r)|,
    averaged over records. Unlike pairwise F1 it is not dominated by the
    largest clusters, so over-merge and under-merge show up even when big
    clusters are right.

    `assignments` carries one row per record with its predicted cluster id
    (`pred_col`) and gold entity id (`gold_col`). Returns a single row
    (n_entities, bcubed_precision, bcubed_recall, bcubed_f1).

    Scale shape: the identity Σ_r |C(r)∩G(r)|/|C(r)| = Σ_{c,g} n_cg²/n_c
    turns the per-record definition into aggregates over the contingency
    table — one groupBy on the record table, then two groupBys over the
    (cluster, gold) table, which is no larger than the record count and in
    practice tiny. No joins back to records, no per-record windows; sizes
    are cast to double before squaring so a 10^9-member cluster cannot
    overflow ANSI bigint multiplication."""
    cg = assignments.groupBy(pred_col, gold_col).agg(F.count("*").alias("n_cg"))
    c_sizes = cg.groupBy(pred_col).agg(F.sum("n_cg").alias("n_c"))
    g_sizes = cg.groupBy(gold_col).agg(F.sum("n_cg").alias("n_g"))
    sq = F.col("n_cg").cast("double") * F.col("n_cg")
    agg = (
        cg.join(c_sizes, pred_col).join(g_sizes, gold_col)
        .agg(
            F.sum("n_cg").cast("bigint").alias("n_entities"),
            F.sum(sq / F.col("n_c")).alias("_sp"),
            F.sum(sq / F.col("n_g")).alias("_sr"),
        )
    )
    from ..functions.text import gate_round4

    p = F.col("_sp") / F.col("n_entities")
    r = F.col("_sr") / F.col("n_entities")
    f1 = F.when(p + r == 0, F.lit(0.0)).otherwise(2 * p * r / (p + r))
    return agg.select(
        "n_entities",
        gate_round4(p).alias("bcubed_precision"),
        gate_round4(r).alias("bcubed_recall"),
        gate_round4(f1).alias("bcubed_f1"),
    )


def rand_stats(assignments: DataFrame, pred_col: str = "cluster_id",
               gold_col: str = "gold_id") -> DataFrame:
    """(Adjusted) Rand index of a predicted clustering against gold
    identity, with the EXACT pair-level confusion counts it derives from:
    pair_tp (same cluster, same gold), pair_fp (same cluster, different
    gold), pair_fn (different cluster, same gold), pair_tn. Hubert &
    Arabie's chance-corrected ARI; the pair counts are exact bigints, so
    the gate compares integers, and rand_index/adjusted_rand are the only
    float emissions (computed from those integers in one fixed expression
    order on both engines).

    Same contingency-table decomposition as `bcubed` — pair counts follow
    from C(n,2) sums over n_cg / cluster sizes / gold sizes, never from
    materializing pairs: one record groupBy then three one-row aggregates.
    C(n,2) uses integer DIV so counts stay exact; products that can exceed
    bigint at extreme scale (sum_c * sum_g) are computed in double only
    inside the chance-correction ratio."""
    cg = assignments.groupBy(pred_col, gold_col).agg(F.count("*").alias("n_cg"))
    cg = cg.localCheckpoint(eager=False)

    def comb2(col: str) -> Column:
        return F.expr(f"{col} * ({col} - 1L) DIV 2")

    tp_row = cg.agg(
        F.sum("n_cg").cast("bigint").alias("n"),
        F.sum(comb2("n_cg")).cast("bigint").alias("tp"),
    )
    c_row = (cg.groupBy(pred_col).agg(F.sum("n_cg").alias("n_c"))
             .agg(F.sum(comb2("n_c")).cast("bigint").alias("sum_c")))
    g_row = (cg.groupBy(gold_col).agg(F.sum("n_cg").alias("n_g"))
             .agg(F.sum(comb2("n_g")).cast("bigint").alias("sum_g")))
    row = tp_row.crossJoin(c_row).crossJoin(g_row)  # three 1-row aggregates

    from ..functions.text import gate_round4

    n, tp = F.col("n"), F.col("tp")
    total = F.expr("n * (n - 1L) DIV 2")
    # ANSI mode: `/` throws on a zero divisor even inside an untaken CASE
    # branch, so the zero-pair degenerate case needs a safe denominator.
    safe_total = F.when(total == 0, F.lit(1)).otherwise(total)
    fp = F.col("sum_c") - tp
    fn = F.col("sum_g") - tp
    tn = total - F.col("sum_c") - F.col("sum_g") + tp
    ri = F.when(total == 0, F.lit(1.0)).otherwise((tp + tn) / safe_total)
    expected = F.col("sum_c").cast("double") * F.col("sum_g") / safe_total
    max_index = (F.col("sum_c") + F.col("sum_g")) / F.lit(2.0)
    ari = F.when(max_index - expected == 0, F.lit(1.0)).otherwise(
        (tp - expected) / (max_index - expected))
    return row.select(
        n.alias("n_entities"),
        tp.alias("pair_tp"),
        fp.cast("bigint").alias("pair_fp"),
        fn.cast("bigint").alias("pair_fn"),
        tn.cast("bigint").alias("pair_tn"),
        gate_round4(ri).alias("rand_index"),
        gate_round4(ari).alias("adjusted_rand"),
    )


def fs_model(match_gammas: DataFrame, random_gammas: DataFrame,
             fields: list[str]) -> DataFrame:
    """Fellegi–Sunter probabilistic-linkage model estimation: given 0/1
    field-agreement (gamma) columns over (a) pseudo-labeled MATCH pairs
    and (b) deterministic RANDOM pairings, estimate per-field
    m = P(agree | match) and u = P(agree | non-match) with add-one
    smoothing, and emit the log2 agreement/disagreement weights a scorer
    sums per pair (w_agree = log2(m/u), w_disagree = log2((1-m)/(1-u))).
    This is the Splink-style estimation recipe: u from random pairings
    (true matches are vanishingly rare among them), m from the blocked
    high-confidence match set standing in for EM labels.

    Output: one row per field —
    (field, n_m, m_agree, n_u, u_agree, m, u, w_agree, w_disagree);
    the counts are exact bigints, the four floats gate-rounded.

    Scale shape: each gamma frame collapses to ONE aggregate row (count +
    one sum per field); the field table is built by `stack` over the
    crossJoined pair of 1-row aggregates — nothing per-pair survives the
    aggregation."""
    from ..functions.text import gate_round4

    def collapse(df: DataFrame, n_name: str, prefix: str) -> DataFrame:
        return df.agg(
            F.count("*").cast("bigint").alias(n_name),
            *[F.sum(f).cast("bigint").alias(f"{prefix}_{f}") for f in fields],
        )

    m_row = collapse(match_gammas, "n_m", "ma")
    u_row = collapse(random_gammas, "n_u", "ua")
    stacked = ", ".join(f"'{f}', ma_{f}, ua_{f}" for f in fields)
    rows = m_row.crossJoin(u_row).selectExpr(
        "n_m", "n_u",
        f"stack({len(fields)}, {stacked}) AS (field, m_agree, u_agree)",
    )
    m = (F.col("m_agree") + 1.0) / (F.col("n_m") + 2.0)
    u = (F.col("u_agree") + 1.0) / (F.col("n_u") + 2.0)
    return rows.select(
        "field", "n_m", "m_agree", "n_u", "u_agree",
        gate_round4(m).alias("m"),
        gate_round4(u).alias("u"),
        gate_round4(F.log2(m / u)).alias("w_agree"),
        gate_round4(F.log2((1.0 - m) / (1.0 - u))).alias("w_disagree"),
    )


def fs_em(gammas: DataFrame, fields: list[str], iters: int = 25,
          init_lambda: float = 0.5, init_m: float = 0.9,
          init_u: float = 0.1) -> DataFrame:
    """UNSUPERVISED Fellegi–Sunter parameter estimation by
    expectation-maximization over the gamma-pattern histogram — the Splink /
    Winkler (1988) recipe, where `fs_model` above needs pseudo-labels this
    needs none: given 0/1 field-agreement columns over the candidate pair
    stream, EM alternately (E) scores each agreement PATTERN's match
    responsibility r = λ·Πm / (λ·Πm + (1-λ)·Πu) and (M) re-estimates
    λ = Σ n·r / Σ n, m_j = Σ n·r·γ_j / Σ n·r, u_j = Σ n·(1-r)·γ_j / Σ n·(1-r),
    with every parameter clamped to [1e-6, 1-1e-6] so degenerate fields
    cannot zero a product.

    Scale shape: the pair stream collapses to the 2^k-row pattern HISTOGRAM
    in one map-side-combined aggregation; the EM loop then runs driver-side
    over ≤2^k floats (k = len(fields), 8 rows here) — a bounded, justified
    collect exactly like fs_model's 1-row aggregates. Nothing per-pair ever
    reaches the driver, and the iteration count is fixed (not convergence-
    polled), so the whole estimate is one Spark job + O(2^k · iters) driver
    flops. Fixed iterations also make the result a pure function of the
    histogram — reproducible in any engine (the DuckDB oracle unrolls the
    same recurrence as chained CTEs).

    Returns one row per field (field, m_prob, u_prob, w_agree) plus a
    '_lambda' row carrying (λ, 1-λ, NULL-as-0.0); floats gate-rounded.
    """
    from ..functions.text import gate_round4

    hist_rows = (
        gammas.groupBy(*fields).agg(F.count("*").cast("bigint").alias("_n")).collect()
    )
    if not hist_rows:
        raise ValueError("fs_em: empty gamma input — no pairs to estimate from")
    patterns = [([float(r[f]) for f in fields], float(r["_n"])) for r in hist_rows]
    # deterministic order so the float-sum association matches reruns
    patterns.sort(key=lambda p: p[0])

    # literal 0.999999 (not 1.0 - 1e-6): both engines parse the decimal
    # literal to the same correctly-rounded double, while the subtraction
    # could land an ulp away from the SQL oracle's least(..., 0.999999)
    def clamp(x: float) -> float:
        return min(max(x, 0.000001), 0.999999)

    lam = init_lambda
    m = [init_m] * len(fields)
    u = [init_u] * len(fields)
    for _ in range(iters):
        s = t = w = 0.0
        a = [0.0] * len(fields)
        b = [0.0] * len(fields)
        for g, n in patterns:
            pm, pu = lam, 1.0 - lam
            for j in range(len(fields)):
                pm *= m[j] if g[j] else 1.0 - m[j]
                pu *= u[j] if g[j] else 1.0 - u[j]
            r = pm / (pm + pu)
            s += n * r
            w += n * (1.0 - r)
            t += n
            for j in range(len(fields)):
                a[j] += n * r * g[j]
                b[j] += n * (1.0 - r) * g[j]
        lam = clamp(s / t)
        m = [clamp(a[j] / s) for j in range(len(fields))]
        u = [clamp(b[j] / w) for j in range(len(fields))]

    import math

    rows = [(f, m[j], u[j], math.log2(m[j] / u[j])) for j, f in enumerate(fields)]
    rows.append(("_lambda", lam, 1.0 - lam, 0.0))
    out = gammas.sparkSession.createDataFrame(
        rows, "field string, m_prob double, u_prob double, w_agree double"
    )
    return out.select(
        "field",
        gate_round4(F.col("m_prob")).alias("m_prob"),
        gate_round4(F.col("u_prob")).alias("u_prob"),
        gate_round4(F.col("w_agree")).alias("w_agree"),
    )


def greedy_scheme_selection(scheme_pairs: DataFrame, truth: DataFrame) -> DataFrame:
    """Blocking-scheme LEARNING (Michelson–Knoblock BSL, AAAI 2006 /
    greedy weighted set cover): rank candidate blocking schemes by
    individual truth recall, then attribute every caught truth pair to the
    FIRST scheme (in rank order) that covers it, yielding each scheme's
    MARGINAL recall and the cumulative recall/cost curve of the greedy
    scheme union — the decision table for "which schemes earn their
    candidate volume under a pair budget".

    `scheme_pairs`: (id_a, id_b, scheme) one row per (pair, proposing
    scheme); `truth`: (id_a, id_b) gold pairs. Output: one row per scheme —
    (pick_order, scheme, n_cand, n_caught, marginal_caught, cum_caught,
    cum_cost, cum_recall).

    Scale shape: per-scheme stats are one hash agg over the narrow tagged
    pair stream joined to truth; ranking and the cumulative windows run on
    the #schemes-row table (broadcast-joined back for attribution); the
    truth-pair attribution is a min() agg over (truth pair × covering
    scheme) rows — bounded by truth coverage, never all-pairs.
    """
    from pyspark.sql import Window

    from ..functions.text import gate_round4

    t = truth.select("id_a", "id_b").withColumn("_t", F.lit(1))
    per = (
        scheme_pairs.join(t, ["id_a", "id_b"], "left")
        .groupBy("scheme")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cand"),
            F.coalesce(F.sum(F.when(F.col("_t").isNotNull(), 1)), F.lit(0))
            .cast("bigint").alias("n_caught"),
        )
    )
    order_w = Window.orderBy(F.col("n_caught").desc(), F.col("scheme").asc())
    ranked = per.withColumn("pick_order", F.row_number().over(order_w).cast("int"))
    # attribute each caught truth pair to its first covering scheme
    covered = (
        scheme_pairs.join(truth.select("id_a", "id_b"), ["id_a", "id_b"])
        .join(F.broadcast(ranked.select("scheme", "pick_order")), "scheme")
        .groupBy("id_a", "id_b")
        .agg(F.min("pick_order").alias("pick_order"))
        .groupBy("pick_order")
        .agg(F.count("*").cast("bigint").alias("marginal_caught"))
    )
    n_truth = truth.select(F.count(F.lit(1)).cast("bigint").alias("_n_true"))
    cum_w = Window.orderBy("pick_order").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ranked.join(covered, "pick_order", "left")
        .withColumn("marginal_caught",
                    F.coalesce(F.col("marginal_caught"), F.lit(0)).cast("bigint"))
        .withColumn("cum_caught", F.sum("marginal_caught").over(cum_w).cast("bigint"))
        .withColumn("cum_cost", F.sum("n_cand").over(cum_w).cast("bigint"))
        .crossJoin(F.broadcast(n_truth))
        .select(
            "pick_order", "scheme", "n_cand", "n_caught", "marginal_caught",
            "cum_caught", "cum_cost",
            gate_round4(
                F.when(F.col("_n_true") == 0, F.lit(1.0))
                .otherwise(F.col("cum_caught") / F.col("_n_true"))
            ).alias("cum_recall"),
        )
    )


def block_stats(keys: DataFrame) -> DataFrame:
    """(id, block_key) -> per-key cardinality stats: one row per key with
    its record count and implied candidate-pair mass (count choose 2)."""
    return (
        keys.groupBy("block_key")
        .agg(F.count("*").alias("n_records"))
        .withColumn("pair_mass", (F.col("n_records") * (F.col("n_records") - 1) / 2).cast("long"))
    )


def hot_keys(keys: DataFrame, top: int = 20) -> DataFrame:
    """The `top` heaviest blocking keys — the skew watchlist."""
    return block_stats(keys).orderBy(F.desc("n_records")).limit(top)


def score_distribution(scored: DataFrame, distance_col: str = "distance") -> DataFrame:
    """Histogram of kernel distances (sentinel bucket included) plus
    summary percentiles as a single small DataFrame."""
    return (
        scored.groupBy(distance_col)
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(distance_col)
    )


def reduction_ratio(n_entities: int, n_candidate_pairs: int) -> float:
    """1 - candidates / allpairs: how much work blocking eliminated."""
    all_pairs = n_entities * (n_entities - 1) / 2
    if all_pairs == 0:
        return 1.0
    return 1.0 - n_candidate_pairs / all_pairs


def summarize(keys: DataFrame, pairs: DataFrame, scored: DataFrame, n_entities: int) -> dict:
    """Driver-side summary dict (small aggregates only — no data collect)."""
    n_pairs = pairs.count()
    dist = {r[0]: r[1] for r in score_distribution(scored).collect()}
    top = [(r.block_key, r.n_records) for r in hot_keys(keys, 5).collect()]
    return {
        "n_entities": n_entities,
        "n_candidate_pairs": n_pairs,
        "reduction_ratio": reduction_ratio(n_entities, n_pairs),
        "distance_histogram": dist,
        "hottest_keys": top,
    }


def threshold_sweep(
    truth: DataFrame, scored: DataFrame, thresholds: list[int]
) -> DataFrame:
    """Pairwise precision/recall/F1 at EVERY candidate match threshold in
    one pass — the tuning curve an ER practitioner reads before fixing
    `max_distance` (the reference fixes n per transducer, README.md:13-15;
    this is the evidence for choosing it).

    One full-outer join of the truth pair set with the SCORED pair set
    (distances kept), then a broadcast cross join against the tiny
    threshold list and a single hash aggregate by threshold — the join and
    agg cost |truth ∪ scored| × |thresholds| regardless of corpus size.
    Same integer-scaled ratio encoding as `pairwise_confusion`.
    """
    t = truth.select("id_a", "id_b").withColumn("_t", F.lit(1))
    s = scored.select("id_a", "id_b", F.col("distance").alias("_d"))
    joined = t.join(s, ["id_a", "id_b"], "full_outer")
    th = joined.sparkSession.createDataFrame(
        [(int(x),) for x in thresholds], "threshold int"
    )
    crossed = joined.crossJoin(F.broadcast(th))
    pred = F.col("_d").isNotNull() & (F.col("_d") <= F.col("threshold"))
    is_t = F.col("_t").isNotNull()
    agg = crossed.groupBy("threshold").agg(
        F.coalesce(F.sum(F.when(is_t & pred, 1)), F.lit(0)).cast("bigint").alias("tp"),
        F.coalesce(F.sum(F.when(~is_t & pred, 1)), F.lit(0)).cast("bigint").alias("fp"),
        F.coalesce(F.sum(F.when(is_t & ~pred, 1)), F.lit(0)).cast("bigint").alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")

    def ratio(num, den, name):
        return F.when(den == 0, F.lit(0)).otherwise(
            F.floor(F.lit(10000.0) * num / den + F.lit(0.5))
        ).cast("bigint").alias(name)

    return agg.select(
        "threshold", "tp", "fp", "fn",
        ratio(tp, tp + fp, "precision_1e4"),
        ratio(tp, tp + fn, "recall_1e4"),
        ratio(2 * tp, 2 * tp + fp + fn, "f1_1e4"),
    ).orderBy("threshold")


def blocking_key_drift(ref_keys: DataFrame, cur_keys: DataFrame,
                       key_col: str = "block_key") -> DataFrame:
    """Population-stability monitor for the blocking layer: compare the
    block-SIZE distribution of a reference batch against the current batch
    and report a per-bucket PSI decomposition. This is the drift alarm a
    10^12-turn deployment runs on every ingest — a vocabulary shift or a
    new hot key shows up as mass moving between size buckets long before
    the candidate-pair count explodes.

    Per-key PSI would be wrong at scale (the key vocabulary is unbounded
    and mostly singleton), so keys are first histogrammed by
    ``floor(log2(block size))`` — the standard frequency-class monitor.
    Output: one row per size bucket present in either batch —
    (size_bucket, n_keys_ref, n_keys_cur, p_ref, p_cur, psi_term) where
    the p's are Laplace-smoothed key-share proportions over the union
    bucket vocabulary and PSI = Σ psi_term, psi_term =
    (p_cur - p_ref) * ln(p_cur / p_ref).

    Scale shape: two hash aggs per side (key counts with map-side combine,
    then the ~dozens-row bucket histogram), a full-outer join on the tiny
    bucket table, and the union-vocabulary totals riding a broadcast 1-row
    cross join — no collect, nothing proportional to the corpus after the
    first agg."""
    from ..functions.text import gate_round4

    def _hist(keys: DataFrame, out: str) -> DataFrame:
        per_key = keys.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n"))
        return (
            per_key.select(
                F.floor(F.log2(F.col("_n"))).cast("int").alias("size_bucket")
            )
            .groupBy("size_bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias(out))
        )

    joined = (
        _hist(ref_keys, "n_keys_ref")
        .join(_hist(cur_keys, "n_keys_cur"), "size_bucket", "full_outer")
        .select(
            "size_bucket",
            F.coalesce("n_keys_ref", F.lit(0)).alias("n_keys_ref"),
            F.coalesce("n_keys_cur", F.lit(0)).alias("n_keys_cur"),
        )
    )
    totals = joined.agg(
        F.count(F.lit(1)).cast("double").alias("_k"),
        F.sum("n_keys_ref").cast("double").alias("_tr"),
        F.sum("n_keys_cur").cast("double").alias("_tc"),
    )
    p_ref = (F.col("n_keys_ref") + 0.5) / (F.col("_tr") + 0.5 * F.col("_k"))
    p_cur = (F.col("n_keys_cur") + 0.5) / (F.col("_tc") + 0.5 * F.col("_k"))
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "size_bucket", "n_keys_ref", "n_keys_cur",
            gate_round4(p_ref).alias("p_ref"),
            gate_round4(p_cur).alias("p_cur"),
            gate_round4((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("psi_term"),
        )
    )


def calibration_bins(scored: DataFrame, labels: Column,
                     score_col: str = "similarity", n_bins: int = 10) -> DataFrame:
    """Score-calibration table: bin a similarity score into `n_bins`
    fixed-width bins over [0, 1] and report the empirical match rate per
    bin against a truth label — the reliability curve that turns a raw
    comparator score into a defensible match probability (and the review
    tool for choosing auto-accept / clerical-review thresholds).

    `labels` is a boolean Column evaluated against the scored stream (e.g.
    generative gold identity, or membership in a labeled pair set joined
    upstream). Output: one row per non-empty bin — (bin, bin_lo, n_pairs,
    n_true, precision). Scores land in bin floor(score * n_bins), with
    score = 1.0 clamped into the top bin.

    Scale shape: one projection + one hash agg with map-side combine over
    the already-scored candidate stream; output is n_bins rows. Nothing
    rescans texts or the kernel."""
    from ..functions.text import gate_round4

    bin_col = F.least(
        F.floor(F.col(score_col) * n_bins), F.lit(n_bins - 1)
    ).cast("int")
    return (
        scored.select(bin_col.alias("bin"), labels.cast("int").alias("_y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("_y").cast("bigint").alias("n_true"),
        )
        .select(
            "bin",
            gate_round4(F.col("bin") / float(n_bins)).alias("bin_lo"),
            "n_pairs",
            "n_true",
            gate_round4(F.col("n_true") / F.col("n_pairs").cast("double")).alias("precision"),
        )
    )


def vmeasure(assignments: DataFrame, pred_col: str = "cluster_id",
             gold_col: str = "gold_id") -> DataFrame:
    """V-measure (Rosenberg & Hirschberg, EMNLP 2007): the entropy-based
    extrinsic clustering evaluation — homogeneity h = 1 - H(G|C)/H(G)
    (each predicted cluster holds one gold entity), completeness
    c = 1 - H(C|G)/H(C) (each gold entity lands in one cluster), and their
    harmonic mean V. Complements the repo's other two extrinsic lenses:
    pairwise F1 is dominated by the biggest clusters, B-cubed averages
    per-record, V-measure is the information-theoretic view that is
    invariant to cluster-id permutation and penalizes both over- and
    under-merge through conditional entropy.

    Degenerate conventions (matching the paper): h = 1 when H(G) = 0
    (single gold entity), c = 1 when H(C) = 0; V = 0 when h + c = 0.

    Scale shape: identical to bcubed — everything reduces over the
    (cluster, gold) contingency table, which is never larger than the
    record count: one groupBy on the record table, two side aggs for the
    marginals, natural-log arithmetic in plain JVM expressions. No joins
    back to records, nothing quadratic."""
    from ..functions.text import gate_round4

    cg = assignments.groupBy(pred_col, gold_col).agg(F.count("*").alias("n_cg"))
    c_sizes = cg.groupBy(pred_col).agg(F.sum("n_cg").alias("n_c"))
    g_sizes = cg.groupBy(gold_col).agg(F.sum("n_cg").alias("n_g"))
    joined = cg.join(c_sizes, pred_col).join(g_sizes, gold_col)
    n_cg = F.col("n_cg").cast("double")
    agg = joined.agg(
        F.sum("n_cg").cast("bigint").alias("n_entities"),
        F.sum(-n_cg * F.log(n_cg / F.col("n_c"))).alias("_hgc_raw"),
        F.sum(-n_cg * F.log(n_cg / F.col("n_g"))).alias("_hcg_raw"),
    )
    hg = (
        g_sizes.agg(F.sum("n_g").cast("double").alias("_n"),
                    F.sum(-F.col("n_g").cast("double")
                          * F.log(F.col("n_g").cast("double"))).alias("_s"))
        .select((F.col("_s") / F.col("_n") + F.log(F.col("_n"))).alias("h_gold"))
    )
    hc = (
        c_sizes.agg(F.sum("n_c").cast("double").alias("_n"),
                    F.sum(-F.col("n_c").cast("double")
                          * F.log(F.col("n_c").cast("double"))).alias("_s"))
        .select((F.col("_s") / F.col("_n") + F.log(F.col("_n"))).alias("h_pred"))
    )
    row = agg.crossJoin(F.broadcast(hg)).crossJoin(F.broadcast(hc))
    n = F.col("n_entities").cast("double")
    h_g_given_c = F.col("_hgc_raw") / n
    h_c_given_g = F.col("_hcg_raw") / n
    hom = F.when(F.col("h_gold") <= F.lit(0.0), F.lit(1.0)).otherwise(
        F.lit(1.0) - h_g_given_c / F.col("h_gold")
    )
    com = F.when(F.col("h_pred") <= F.lit(0.0), F.lit(1.0)).otherwise(
        F.lit(1.0) - h_c_given_g / F.col("h_pred")
    )
    v = F.when(hom + com == 0, F.lit(0.0)).otherwise(
        2 * hom * com / (hom + com)
    )
    return row.select(
        "n_entities",
        gate_round4(hom).alias("homogeneity"),
        gate_round4(com).alias("completeness"),
        gate_round4(v).alias("v_measure"),
    )


def capture_recapture(pairs_a: DataFrame, pairs_b: DataFrame) -> DataFrame:
    """Chapman capture–recapture estimate of the TOTAL duplicate-pair
    population from two independent imperfect detectors (Lincoln–Petersen
    with Chapman's small-sample correction — the standard census tool for
    'how many duplicates did we miss', applied to ER exactly as in
    Winkler's census-linkage error-rate work): detector A marks n_a pairs,
    detector B recaptures n_b of which n_both were already marked, so the
    population estimate is (n_a+1)(n_b+1)/(n_both+1) - 1.

    Both inputs must be canonical (id_a < id_b) pair streams.  The
    estimator stays in INTEGER arithmetic (bigint DIV) so both engines
    round identically; est_missed is the estimate minus the union actually
    found.  Scale shape: two count aggs plus one pair-keyed join — cost is
    the smaller detector's pair volume, nothing corpus-sized."""
    a = pairs_a.select("id_a", "id_b").distinct()
    b = pairs_b.select("id_a", "id_b").distinct()
    na = a.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    nb = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    nj = a.join(b, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_both")
    )
    est = F.expr("(n_a + 1) * (n_b + 1) DIV (n_both + 1) - 1")
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nj))
        .select(
            "n_a", "n_b", "n_both",
            est.cast("bigint").alias("est_total"),
            (est - (F.col("n_a") + F.col("n_b") - F.col("n_both")))
            .cast("bigint").alias("est_missed"),
        )
    )
