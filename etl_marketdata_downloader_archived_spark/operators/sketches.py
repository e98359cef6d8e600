"""Mergeable distinct-count sketch rollups (HyperLogLog).

The 100 TB pattern behind every "distinct users over <any date range>"
dashboard: pre-aggregate one HLL sketch per (bucket) during ingest,
persist the binary sketches in the lake, and answer any later range /
regrouping by UNIONING sketches - never rescanning the fact table.
Spark ships the Apache DataSketches HLL as built-in aggregates
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``,
3.5+); this module is the thin, typed composition plus the estimate
contract tests rely on.

Scale shape: building is one hash aggregate (partial sketches combine
map-side - sketch union is commutative/associative, so AQE/partition
order cannot change the merged registers); answering touches only the
bucket-count-bounded sketch table. Error is the standard HLL bound
(~1.04/sqrt(2^lg_k), ~0.8% at the default lg_k=14); sketches at
different lg_k still union (DataSketches downsamples to the coarser).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def build_distinct_sketches(
    df: DataFrame,
    value: str,
    bucket_cols: list[str],
    lg_k: int = 14,
) -> DataFrame:
    """One HLL sketch of distinct ``value`` per bucket: the ingest-time
    pre-aggregation. Output = bucket_cols + ``sketch`` (BinaryType,
    lake-persistable; parquet round-trip is tested)."""
    return df.groupBy(*bucket_cols).agg(
        F.hll_sketch_agg(value, F.lit(lg_k)).alias("sketch")
    )


def estimate_distinct(
    sketches: DataFrame,
    group_cols: list[str] | None = None,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Union sketches (optionally per regrouping key) and estimate the
    distinct count. Any filter applied to ``sketches`` first (a date
    range, a source subset) makes this an arbitrary-range distinct
    query over pre-aggregated state - the fact table is never touched."""
    est = F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).alias(
        "n_distinct_est"
    )
    if group_cols:
        return sketches.groupBy(*group_cols).agg(est)
    return sketches.agg(est)


# ------------------------------------------------------- theta sketches
# Theta (Apache DataSketches) adds what HLL cannot: SET ALGEBRA over
# the sketches. Retention (|A intersect B|), churn (|A \ B|), and
# cross-segment overlap all become scalar operations over
# bucket-count-bounded state - the fact table is scanned exactly once,
# at build time.


def build_theta_sketches(
    df: DataFrame,
    value: str,
    bucket_cols: list[str],
) -> DataFrame:
    """One theta sketch of distinct ``value`` per bucket. Same
    map-side-combining aggregate shape as the HLL builder; prefer
    theta when later queries need intersections/differences, HLL when
    they only need unions (HLL state is smaller)."""
    return df.groupBy(*bucket_cols).agg(
        F.expr(f"theta_sketch_agg({value})").alias("sketch")
    )


def theta_estimate(
    sketches: DataFrame,
    group_cols: list[str] | None = None,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Union theta sketches (optionally per regrouping key) and
    estimate the distinct count."""
    est = F.expr(
        f"theta_sketch_estimate(theta_union_agg({sketch_col}))"
    ).alias("n_distinct_est")
    if group_cols:
        return sketches.groupBy(*group_cols).agg(est)
    return sketches.agg(est)


def _theta_binop(fn: str, a, b):
    from pyspark.sql.functions import call_function

    return call_function(
        "theta_sketch_estimate", call_function(fn, a, b)
    )


def retention(
    sketches: DataFrame,
    bucket_col: str,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Consecutive-bucket retention/churn table from a sketch table
    alone: for each bucket, the estimated distinct count, the overlap
    with the PREVIOUS bucket (retained), and the difference (churned).
    A self-lag over bucket order - never touches the fact table."""
    from pyspark.sql import Window as W

    w = W.orderBy(bucket_col)
    lagged = sketches.select(
        bucket_col,
        F.col(sketch_col).alias("_cur"),
        F.lag(sketch_col).over(w).alias("_prev"),
    )
    return lagged.select(
        bucket_col,
        F.expr("theta_sketch_estimate(_cur)").alias("n_distinct_est"),
        F.when(
            F.col("_prev").isNotNull(), _theta_binop("theta_intersection", F.col("_prev"), F.col("_cur"))
        ).alias("retained_est"),
        F.when(
            F.col("_prev").isNotNull(), _theta_binop("theta_difference", F.col("_prev"), F.col("_cur"))
        ).alias("churned_est"),
    )


# ----------------------------------------------------- heavy hitters


def build_topk_sketches(
    df: DataFrame,
    value: str,
    bucket_cols: list[str],
    max_items_tracked: int = 10000,
) -> DataFrame:
    """Mergeable heavy-hitter (approx top-k) state per bucket: the
    ingest half of 'top items over <any range>' without rescanning.
    ``max_items_tracked`` bounds sketch size (and is the accuracy
    knob)."""
    return df.groupBy(*bucket_cols).agg(
        F.expr(
            f"approx_top_k_accumulate({value}, {max_items_tracked})"
        ).alias("topk_state")
    )


def estimate_topk(
    sketches: DataFrame,
    k: int,
    group_cols: list[str] | None = None,
    state_col: str = "topk_state",
) -> DataFrame:
    """Combine per-bucket top-k states (optionally per regrouping key)
    and return the merged top-k as (item, count) rows."""
    est = F.expr(
        f"approx_top_k_estimate(approx_top_k_combine({state_col}), {k})"
    ).alias("topk")
    grouped = (
        sketches.groupBy(*group_cols).agg(est)
        if group_cols
        else sketches.agg(est)
    )
    keep = ([*group_cols] if group_cols else [])
    return grouped.select(
        *keep, F.explode("topk").alias("hit")
    ).select(*keep, "hit.item", "hit.count")


# ------------------------------------------------- quantile sketches
# Completes the sketch family (HLL distincts, theta set algebra, top-k
# heavy hitters) with quantiles. Spark's percentile_approx keeps its
# state internal (no accumulate/combine surface), so this uses
# coordinated bottom-k sampling: per bucket, keep the k rows whose
# xxhash64(record id) is smallest. Because every bucket samples by the
# SAME hash, the union of two buckets' sketches re-sliced to its k
# smallest hashes IS the sketch of the unioned data - merge is exact
# (deterministic, associative, commutative), not approximate; only the
# quantile ESTIMATE carries sampling error (~1/sqrt(k) in rank).
#
# Scale shape: build is one shuffle of (bucket, hash, value) triples
# with the rank filter pushed map-side (WindowGroupLimit), so at most k
# rows per bucket per input partition cross the wire; the sketch table
# is bucket-count x k doubles; any-range/regrouped quantiles touch only
# the sketch table.


def build_quantile_sketches(
    df: DataFrame,
    value: str,
    id_cols: list[str],
    bucket_cols: list[str],
    k: int = 512,
    coordinate: Column | None = None,
) -> DataFrame:
    """One bottom-k-by-hash uniform value sample per bucket. ``id_cols``
    must identify a row (the sampling coordinate); ``value`` is cast to
    double. Output = bucket_cols + ``qsketch``
    (array<struct<h,v:double>>, sorted by h - lake-persistable).

    ``coordinate`` overrides the sampling hash (default
    ``xxhash64(*id_cols)``, the cheapest uniform 8-byte coordinate).
    Any deterministic uniform-ish total order works - e.g.
    ``md5(concat_ws('|', *id_cols))`` yields a coordinate an external
    engine can replay, making the whole sketch pipeline
    differentially checkable (the registered ``quantile_rollup`` query
    does exactly this); merge/estimate are coordinate-type-agnostic."""
    from pyspark.sql import Window as W

    tagged = df.select(
        *bucket_cols,
        (coordinate if coordinate is not None else F.xxhash64(*id_cols)).alias(
            "h"
        ),
        F.col(value).cast("double").alias("v"),
    )
    w = W.partitionBy(*bucket_cols).orderBy("h", "v")
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_list(F.struct("h", "v"))).alias("qsketch"))
    )


def merge_quantile_sketches(
    sketches: DataFrame,
    group_cols: list[str] | None = None,
    k: int = 512,
    sketch_col: str = "qsketch",
) -> DataFrame:
    """Union sketches (optionally per regrouping key) by concatenating
    and re-slicing to the k smallest hashes - exactly the sketch that a
    direct build over the unioned raw data would produce. Bounded:
    inputs are <=k entries each and the sketch table is bucket-sized."""
    merged = F.slice(
        F.array_sort(F.flatten(F.collect_list(sketch_col))), 1, k
    ).alias(sketch_col)
    if group_cols:
        return sketches.groupBy(*group_cols).agg(merged)
    return sketches.agg(merged)


def estimate_quantiles(
    sketches: DataFrame,
    probs: list[float],
    group_cols: list[str] | None = None,
    k: int = 512,
    sketch_col: str = "qsketch",
) -> DataFrame:
    """Merge (per ``group_cols`` when given) and report nearest-rank
    quantile estimates, one ``q_<prob>`` column per requested prob."""
    merged = merge_quantile_sketches(sketches, group_cols, k, sketch_col)
    vals = F.array_sort(
        F.transform(F.col(sketch_col), lambda x: x["v"])
    )
    m = F.size(vals)
    cols = [
        F.element_at(
            vals,
            F.greatest(F.lit(1), F.ceil(F.lit(p) * m).cast("int")),
        ).alias(f"q_{str(p).replace('.', '_')}")
        for p in probs
    ]
    keep = [*group_cols] if group_cols else []
    return merged.select(*keep, *cols)
