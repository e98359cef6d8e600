"""SCD Type-2 history: interval-versioned state from an append log.

The reference's catalog is last-write-wins (a point update rewrites the
CSV row - ``data-downloader/data_downloader.py:47-58`` keeps no
history). The warehouse-grade counterpart keeps every state a key ever
held as [valid_from, valid_to) versions, so any past point in time is
reconstructable. Built from the same append-log landing pattern the
lake already uses (io.write_lake + latest_per_key readers).

Scale shape: one hash-partition on the key + a per-key sort (a single
window pass, linear state); consecutive duplicate observations collapse
BEFORE version numbering, so re-observing an unchanged state never
opens a version. Point-in-time reads are a filter over the history
table - at 100 TB the history is dimension-sized (rows = state
CHANGES, not observations) and typically broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..io import _read_recovered, publish_small_table, read_version


def scd2_history(
    log: DataFrame,
    keys: list[str],
    ts_col: str,
    attrs: list[str],
) -> DataFrame:
    """Collapse an observation log into SCD2 versions.

    ``log`` holds one row per observation of a key's state (possibly
    unchanged, possibly many per day). Output: one row per (key,
    version) carrying ``attrs``, with ``valid_from`` (first observation
    of the state), ``valid_to`` (start of the NEXT state, null while
    current), ``is_current``. Ties on ``ts_col`` within a key resolve
    to the last row by attribute order (deterministic); equality is
    null-safe (NULL -> NULL is not a change).
    """
    per_key = W.partitionBy(*keys).orderBy(ts_col, *attrs)
    state = F.struct(*attrs)
    changed = (
        log.select(*keys, ts_col, *attrs)
        .withColumn("_prev", F.lag(state).over(per_key))
        # first observation (prev null) or a null-safe state change
        .filter(F.col("_prev").isNull() | ~state.eqNullSafe(F.col("_prev")))
        .drop("_prev")
    )
    versioned = W.partitionBy(*keys).orderBy(ts_col, *attrs)
    return (
        changed.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead("valid_from").over(versioned))
        .withColumn("version", F.row_number().over(versioned))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(ts_col)
    )


def snapshot_at(
    history: DataFrame, at, partition_date_col: str | None = None
) -> DataFrame:
    """Point-in-time read: the state every key held at ``at`` (a
    timestamp/date literal or Column). A pure filter over the history
    table - no window, no join. When the history table is partitioned
    on a valid_from DATE column, pass it as ``partition_date_col``: the
    row predicate is on ``valid_from`` (not the partition column), so
    only the explicit ``partition <= date(at)`` conjunct lets the scan
    skip partitions opened after the snapshot instant (PartitionFilters
    - plan-asserted in tests)."""
    at = F.lit(at)
    out = history.filter(
        (F.col("valid_from") <= at)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > at))
    )
    if partition_date_col:
        out = out.filter(F.col(partition_date_col) <= F.to_date(at))
    return out.drop("valid_to", "is_current")


def scd2_merge(
    current_history: DataFrame,
    new_log: DataFrame,
    keys: list[str],
    ts_col: str,
    attrs: list[str],
) -> DataFrame:
    """Incremental SCD2 maintenance: fold a new batch of observations
    into an existing history WITHOUT replaying the full log. Only the
    open (is_current) versions of keys present in the batch join the
    recompute; closed versions and untouched keys pass through
    untouched. Cost is O(batch + open versions of touched keys).

    Assumes monotone ingest: every new observation is at-or-after the
    open version's valid_from for its key (the streaming/landing
    pattern). Late data older than a key's OPEN version would need its
    closed versions re-opened - that is a full ``scd2_history`` rebuild
    for that key, not an incremental fold.
    """
    touched = new_log.select(*keys).distinct()
    affected_open = current_history.filter("is_current").join(
        F.broadcast(touched), on=keys, how="semi"
    )
    untouched = current_history.join(
        F.broadcast(touched), on=keys, how="anti"
    ).unionByName(
        current_history.filter(~F.col("is_current")).join(
            F.broadcast(touched), on=keys, how="semi"
        )
    )
    # replay = open versions (as observations at their valid_from)
    #        + the new batch; rebuilt versions renumber from the max
    #          closed version per key
    replay = affected_open.select(
        *keys, F.col("valid_from").alias(ts_col), *attrs
    ).unionByName(new_log.select(*keys, ts_col, *attrs))
    rebuilt = scd2_history(replay, keys, ts_col, attrs)
    base = (
        untouched.filter(~F.col("is_current"))
        .groupBy(*keys)
        .agg(F.max("version").alias("_base"))
    )
    rebuilt = (
        rebuilt.join(F.broadcast(base), on=keys, how="left")
        .withColumn(
            "version", F.col("version") + F.coalesce("_base", F.lit(0))
        )
        .drop("_base")
    )
    return untouched.unionByName(rebuilt)


def scd2_foreach_batch(
    path: str,
    keys: list[str],
    ts_col: str,
    attrs: list[str],
):
    """Streaming SCD2 sink: a foreachBatch function that folds each
    micro-batch into the persistent history at ``path`` via
    ``scd2_merge`` (first batch bootstraps with ``scd2_history``).
    Streaming ingest IS the monotone-arrival case the incremental fold
    assumes. ``path`` may be any Hadoop URI (file://, hdfs://,
    s3a://...). The merged history is published with
    ``io.publish_small_table`` (stage, then rename-swap), so a crash
    mid-write keeps the previous history instead of deleting it;
    history tables are dimension-sized (rows = state changes), so the
    single-file publish is the catalog-update pattern, not a
    fact-table rewrite.

    Usage::

        stream.writeStream.foreachBatch(
            scd2_foreach_batch("/lake/catalog_history", ["k"], "ts", ["status"])
        ).option("checkpointLocation", ckpt).start()
    """
    def fold(batch_df: DataFrame, _epoch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = _read_recovered(spark, path)
        if cur is None:
            merged = scd2_history(batch_df, keys, ts_col, attrs)
        else:
            merged = scd2_merge(cur, batch_df, keys, ts_col, attrs)
        publish_small_table(merged, path)

    return fold


def bitemporal_read(
    spark,
    root: str,
    valid_at,
    tx_version: int | None = None,
) -> DataFrame:
    """Bitemporal point read: "what did we BELIEVE at transaction
    time T about the state that held at valid time V". Composes the
    engine's two time dimensions - a VERSIONED table (io.publish_
    version: immutable v=N snapshots = transaction time) whose
    payload is an SCD2 HISTORY table (valid_from/valid_to = valid
    time) - into the query both audits and reproducible backtests
    need: pin the belief (``tx_version``, default the pointed-to
    latest), then snapshot the pinned history at ``valid_at``.

    A late-arriving correction lands as a NEW published version of
    the history, so earlier tx_versions keep answering with the old
    belief - exactly the property a versioned history has and a
    mutable one cannot offer. Pure composition: one pinned snapshot
    scan + snapshot_at's filter; no join, no window."""
    return snapshot_at(read_version(spark, root, tx_version), valid_at)
