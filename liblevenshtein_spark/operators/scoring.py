"""P5/P6 — pairwise scoring with the vectorized banded-Levenshtein kernel,
then the match filter (SURVEY.md §2.4).

Every banded distance the engine computes goes through `score_attached`:
one mapInArrow node over (text_a, text_b) columns calling
kernels.banded.batch_banded_distance_arrow. Distances above the budget come
back as the sentinel n+1 (reference B6 early termination), so
`match_filter` is a plain native `distance <= n` predicate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..config import LinkConfig

__all__ = ["jaro_winkler_udf", "attach_texts", "score_pairs",
           "score_attached", "match_filter", "normalized_similarity"]


def jaro_winkler_udf():
    """Arrow-batched pandas UDF for Jaro-Winkler similarity
    (kernels.jaro.batch_jaro_winkler) — the standard SHORT-string
    comparator for name/word/key linkage. Keep long fingerprints on the
    banded Levenshtein path: JW's match window is inherently ±L/2, so its
    cost is O(la·lb) per pair with no banded shortcut.

    Marked nondeterministic (it is in fact deterministic) so Catalyst never
    duplicates the kernel: a filter over the similarity column would
    otherwise be pushed below the projection and evaluate the UDF twice."""

    @pandas_udf("double")
    def jw(a: pd.Series, b: pd.Series) -> pd.Series:
        from ..kernels.jaro import batch_jaro_winkler

        out = batch_jaro_winkler(a.fillna("").tolist(), b.fillna("").tolist())
        return pd.Series(out)

    return jw.asNondeterministic()


def attach_texts(
    pairs: DataFrame,
    entities: DataFrame,
    id_col: str = "conv_id",
    text_col: str = "fingerprint",
) -> DataFrame:
    """Re-join the (narrow) pair ids with their texts just before scoring —
    texts never ride through the blocking join (SURVEY.md §4.2)."""
    ea = entities.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"))
    eb = entities.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"))
    # equi-joins put the join key first; re-select to keep the caller's
    # column order stable (it flows through score_attached's passthrough)
    return pairs.join(ea, "id_a").join(eb, "id_b").select(
        *pairs.columns, "text_a", "text_b"
    )


def score_pairs(
    pairs: DataFrame,
    entities: DataFrame,
    conf: LinkConfig,
    id_col: str = "conv_id",
    text_col: str = "fingerprint",
) -> DataFrame:
    """(id_a, id_b) -> (id_a, id_b, distance). Applies the length-band
    pre-filter (|len_a - len_b| <= n, valid for all three variants — every
    unit op changes length by at most 1) natively before the kernel sees the
    pair, so Python only ever scores feasible pairs.

    Uses mapInArrow: the kernel decodes string columns straight from Arrow
    buffers (no pandas Series, no Python string objects), and a
    map-partitions node cannot be duplicated or pushed through by Catalyst,
    so a downstream distance-filter never re-runs the kernel."""
    return score_attached(attach_texts(pairs, entities, id_col, text_col), conf)


def score_attached(with_texts: DataFrame, conf: LinkConfig,
                   text_a: str = "text_a", text_b: str = "text_b",
                   drop_texts: bool = True) -> DataFrame:
    """Scoring stage proper over a pre-joined frame carrying two text
    columns: native length-band filter, then the mapInArrow kernel. Split out
    for callers that attach the texts themselves (self-joins, truth scans,
    transduce) and for benchmarks that checkpoint the join and time pure
    scoring.

    Every column except the two text columns is passed through unchanged
    (original types preserved — non-string ids work), with `distance: int`
    appended. By default the text columns are dropped so multi-KB payloads
    never ride past the kernel; `drop_texts=False` keeps them (short-term
    workloads like transduce, where the output wants the words)."""
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, StructField, StructType

    n = conf.max_distance
    algorithm = conf.algorithm
    units = conf.units
    # Length prefilter counts code points; sound for units='utf16' too,
    # since |cp_len_a - cp_len_b| <= d_codepoint <= d_utf16 (config.py).
    feasible = with_texts.filter(
        F.abs(F.length(text_a) - F.length(text_b)) <= n
    )
    dropped = () if not drop_texts else (text_a, text_b)
    keep = [f for f in feasible.schema.fields if f.name not in dropped]
    keep_names = [f.name for f in keep]
    out_schema = StructType(list(keep) + [StructField("distance", IntegerType())])

    def score(batches):
        from ..kernels.banded import batch_banded_distance_arrow

        for batch in batches:
            d = batch_banded_distance_arrow(
                batch.column(text_a), batch.column(text_b), n, algorithm, units
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep_names] + [pa.array(d, type=pa.int32())],
                keep_names + ["distance"],
            )

    return feasible.mapInArrow(score, out_schema)


def match_filter(scored: DataFrame, conf: LinkConfig) -> DataFrame:
    """Keep pairs within the distance budget (the reference's accepted
    candidate set, README.md:13-15)."""
    return scored.filter(F.col("distance") <= conf.max_distance)


def normalized_similarity(scored: DataFrame, entities: DataFrame,
                          id_col: str = "conv_id", text_col: str = "fingerprint") -> DataFrame:
    """Optional 1 - d / max(len) similarity column (P6 option).

    Sentinel caveat: the banded kernel emits n+1 for "beyond the band", so
    on a row with distance == max_distance+1 this column is an UPPER bound
    on the true similarity, not an estimate — the `distance` column rides
    along so consumers can (and should) filter to distance <= n before
    treating similarity as a score. Ensemble consumers must not fuse
    sentinel rows (similarity_fused restricts to the match stream for
    exactly this reason)."""
    lens = entities.select(F.col(id_col), F.length(text_col).alias("_len"))
    la = lens.select(F.col(id_col).alias("id_a"), F.col("_len").alias("len_a"))
    lb = lens.select(F.col(id_col).alias("id_b"), F.col("_len").alias("len_b"))
    return (
        scored.join(la, "id_a").join(lb, "id_b")
        .withColumn(
            "similarity",
            F.when(F.greatest("len_a", "len_b") == 0, F.lit(1.0)).otherwise(
                1.0 - F.col("distance") / F.greatest("len_a", "len_b")
            ),
        )
        .drop("len_a", "len_b")
    )
