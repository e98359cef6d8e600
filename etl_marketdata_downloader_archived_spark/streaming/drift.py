"""Streaming distribution-drift monitor.

The streaming twin of the batch `ks_drift` query: every micro-batch's
value distribution is compared (binned two-sample KS) against a STATIC
reference distribution fixed when the monitor starts - the alarm that
catches an upstream feed going bad (unit change, silent truncation,
schema rot) within one trigger interval instead of at the next
backfill audit.

Scale shape:
- The reference corpus is scanned ONCE at start: global [lo, hi]
  bounds (one scalar aggregate) + per-(group, bin) counts, cached -
  groups x bins rows, dimension-sized regardless of reference size.
- Per micro-batch: one partial-combined aggregate of the batch onto
  the SAME fixed bin grid, unioned with the cached reference counts
  into operators.profile.ks_from_counts - the window input is bounded
  by groups x bins, never by batch or reference row count.
- foreachBatch is the right streaming construct here: KS needs a
  full-distribution comparison per trigger (not an incremental
  aggregate), and the batch inside foreachBatch is exactly that.
  Values outside the reference range clamp to the edge bins, so a
  range-shifted feed shows up as mass piling into a boundary bin.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.profile import ks_from_counts
from .file_source import _start

__all__ = ["reference_counts", "batch_ks", "start_drift_monitor"]


def _bucket(value_col: str, lo: float, hi: float, bins: int):
    # fixed-grid bin with clamped edges: floor((v-lo)/(hi-lo)*bins),
    # clamped into [0, bins-1] so out-of-range batch values land in
    # the edge bins instead of new grid points the reference lacks
    raw = F.floor(
        (F.col(value_col) - F.lit(lo)) / F.lit(hi - lo) * F.lit(bins)
    )
    return F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("int")


def reference_counts(
    ref_df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    bins: int = 64,
    cache: bool = True,
) -> tuple[DataFrame, float, float]:
    """One-time reference aggregation: returns (counts, lo, hi) where
    counts has by + (_v, _ca, _cb=0) - one row per (group, bin),
    cached so each micro-batch reuses it without rescanning the
    reference corpus. Pass ``cache=False`` for a one-shot batch
    certificate (drift_monitor_batch): persisting + eagerly
    materializing a table the caller evaluates exactly once is a
    wasted cache-build job."""
    keys = list(by or [])
    ref_df = ref_df.filter(F.col(value_col).isNotNull())
    lo, hi = ref_df.agg(F.min(value_col), F.max(value_col)).first()
    if lo is None:
        # a monitor with no reference distribution is a config error,
        # not a degenerate grid: fail at start, not NULL-KS per batch
        raise ValueError(
            f"drift reference has no non-null {value_col!r} values"
        )
    if hi == lo:
        hi = lo + 1.0
    counts = (
        ref_df.groupBy(*keys, _bucket(value_col, lo, hi, bins).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_ca"))
        .withColumn("_cb", F.lit(0).cast("long"))
    )
    if cache:
        # stream-lifetime cache BY DESIGN: the reference histogram is
        # re-read every micro-batch; it is released with the session
        # (or spark.catalog.clearCache() after query.stop())
        counts = counts.persist()
        counts.count()  # materialize the cache before the stream starts
    return counts, float(lo), float(hi)


def _batch_counts(
    batch_df: DataFrame,
    value_col: str,
    keys: list[str],
    lo: float,
    hi: float,
    bins: int,
) -> DataFrame:
    """One partial-combined aggregate of the batch onto the fixed
    grid: keys + (_v, _cb, _ca=0) - groups x bins rows."""
    return (
        batch_df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, _bucket(value_col, lo, hi, bins).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_cb"))
        .withColumn("_ca", F.lit(0).cast("long"))
    )


def _ks_merged(ref: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    merged = (
        ref.unionByName(b.select(*keys, "_v", "_ca", "_cb"))
        .groupBy(*keys, "_v")
        .agg(F.sum("_ca").alias("_ca"), F.sum("_cb").alias("_cb"))
    )
    return ks_from_counts(merged, keys)


def batch_ks(
    batch_df: DataFrame,
    ref: DataFrame,
    lo: float,
    hi: float,
    value_col: str,
    by: list[str] | None = None,
    bins: int = 64,
) -> DataFrame:
    """Binned KS of one batch against the prepared reference counts:
    by + (ks, n_a, n_b) with n_a = reference rows, n_b = batch rows."""
    keys = list(by or [])
    return _ks_merged(ref, _batch_counts(batch_df, value_col, keys, lo, hi, bins), keys)


def start_drift_monitor(
    stream_df: DataFrame,
    reference_df: DataFrame,
    value_col: str,
    checkpoint: str,
    on_result: Callable[[DataFrame, int], None],
    by: list[str] | None = None,
    bins: int = 64,
    threshold: float | None = None,
    trigger_available_now: bool = True,
    alarm_on_silent: bool = True,
):
    """Start the monitor: per micro-batch, compute the binned KS per
    group against the fixed reference and hand the result frame (with
    batch_id, status, and is_drift when ``threshold`` is set) to
    ``on_result``. Returns the StreamingQuery.

    One-sided groups are structural failures, not missing data: a
    group in the batch with no reference counterpart (new stratum)
    always alarms, and a reference group absent from a NON-empty
    batch alarms when ``alarm_on_silent`` (default) - set it False
    for sparse feeds where per-trigger absence is ordinary and only
    the status column should carry the signal. A wholly empty
    micro-batch is an idle trigger, not drift: every group gets
    status 'batch_empty' and is_drift false. In no case does the NULL
    ks of a one-sided ECDF propagate into a silent NULL alarm."""
    ref, lo, hi = reference_counts(reference_df, value_col, by, bins)

    keys = list(by or [])

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        # one scan of the batch total: the aggregated counts are cached
        # and reused for the emptiness probe AND the KS union (isEmpty
        # on the raw source would be a second scan per trigger)
        b = _batch_counts(batch_df, value_col, keys, lo, hi, bins).persist()
        empty = (b.agg(F.coalesce(F.sum("_cb"), F.lit(0))).first()[0] or 0) == 0
        out = _ks_merged(ref, b, keys)
        out = out.withColumn("batch_id", F.lit(batch_id)).withColumn(
            "status",
            F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), F.lit("ok"))
            .when(F.col("n_a") == 0, F.lit("new_group"))
            .otherwise(F.lit("batch_empty" if empty else "batch_silent")),
        )
        if threshold is not None:
            out = out.withColumn(
                "is_drift",
                F.when(F.col("status") == "ok", F.col("ks") > F.lit(threshold))
                .when(F.col("status") == "new_group", F.lit(True))
                .when(F.col("status") == "batch_silent", F.lit(alarm_on_silent))
                .otherwise(F.lit(False)),
            )
        try:
            on_result(out, batch_id)
        finally:
            # on_result consumes out within the trigger (collect/write);
            # release the batch-counts cache before the next one
            b.unpersist()

    return _start(stream_df, on_batch, checkpoint, trigger_available_now)
