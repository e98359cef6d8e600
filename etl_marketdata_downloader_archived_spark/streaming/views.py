"""Streaming materialized-view maintenance: a CDC/upsert stream keeps
a `io.build_join_view` materialization fresh, repairing only the
buckets each micro-batch touches.

The composition is the point: `foreachBatch` folds the batch into the
keyed left store (upserts win by change ordinal, deletes leave
tombstones), then hands the SAME batch's keys to
`io.refresh_join_view` as the delta - so view maintenance cost per
batch is O(batch keys + their bucket rows), never O(view), and the
view stays publish-consistent (each bucket wholly old or wholly new)
while the stream runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .file_source import _start

__all__ = ["start_join_view_maintenance"]


def start_join_view_maintenance(
    updates: DataFrame,
    *,
    left_path: str,
    right: DataFrame,
    on: str,
    view_path: str,
    checkpoint: str,
    n_buckets: int = 64,
    op_col: str = "op",
    delete_value: str = "delete",
    seq_col: str = "ts",
):
    """Maintain LEFT (a keyed store at ``left_path``) and the
    materialized LEFT⋈RIGHT view from a stream of change rows.

    ``updates`` carries the left table's columns plus ``op_col``
    ('upsert' or ``delete_value``) and ``seq_col`` (a change ordinal,
    unique per key - a CDC LSN or event time; NEVER derived from
    arrival position, which task retries reorder). The ordinal
    PERSISTS in the store and deletes leave TOMBSTONE rows, so a
    stale change redelivered in a LATER micro-batch (at-least-once
    upstream) loses to the stored newer one instead of silently
    rolling the key back - intra-batch conflicts resolve by the same
    rule (highest seq wins; on an exact redelivery tie the batch row
    applies, which re-writes the identical value). A store row
    without the ordinal columns (a pre-existing plain snapshot)
    participates as older-than-everything.

    Each batch: fold the winners into the store (staged rename swap -
    the store is dimension-sized; a fact-sized left pairs the same
    refresh call with io.merge_partitioned instead), then repair the
    view for exactly the batch's keys via io.refresh_join_view
    against the store's LIVE rows (tombstones filtered). Replayed
    batches are idempotent: fold and repair are deterministic
    functions of (store state, batch). The store grows by one
    tombstone row per deleted key; age them out with an ordinary
    retention sweep once past the CDC redelivery horizon. Missing
    store reads FAIL the stream - only verified absence counts as
    first-batch (a blanket except would turn a transient read error
    into silent store truncation), and the store publish is
    stage-then-rename (io.publish_small_table): a crash mid-publish
    leaves the previous snapshot restorable, never an absent dir that
    a replay would mistake for first-batch. Returns the
    StreamingQuery."""
    from ..io import _read_recovered, publish_small_table, refresh_join_view

    left_cols = [c for c in updates.columns if c not in (op_col, seq_col)]

    def fold(batch: DataFrame, _epoch_id: int) -> None:
        spark = batch.sparkSession
        if batch.isEmpty():
            return
        from pyspark.sql import Window as W

        rn = F.row_number().over(
            W.partitionBy(on).orderBy(F.col(seq_col).desc())
        )
        winners = (
            batch.withColumn("_rn", rn)
            .filter(F.col("_rn") == 1)
            .select(
                *left_cols,
                F.col(seq_col).alias("_seq"),
                (F.col(op_col) == delete_value).alias("_deleted"),
                F.lit(1).alias("_src"),  # batch beats store on a tie
            )
            .localCheckpoint(eager=True)
        )
        keys = winners.select(on).distinct()
        cur = _read_recovered(spark, left_path)
        if cur is not None:
            # a pre-existing plain snapshot (no ordinal columns)
            # participates as older-than-everything, live
            if "_seq" not in cur.columns:
                cur = cur.withColumn(
                    "_seq", F.lit(None).cast(winners.schema["_seq"].dataType)
                )
            if "_deleted" not in cur.columns:
                cur = cur.withColumn("_deleted", F.lit(False))
            cur = cur.select(*left_cols, "_seq", "_deleted").withColumn(
                "_src", F.lit(0)
            )
            contested = cur.join(F.broadcast(keys), on, "semi")
            others = cur.join(F.broadcast(keys), on, "left_anti")
            pick = F.row_number().over(
                W.partitionBy(on).orderBy(
                    F.col("_seq").desc_nulls_last(),
                    F.col("_src").desc(),
                )
            )
            merged = (
                contested.unionByName(winners)
                .withColumn("_rn", pick)
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            new_store = others.unionByName(merged).drop("_src")
        else:
            new_store = winners.drop("_src")
        publish_small_table(new_store, left_path)
        left_now = (
            spark.read.parquet(left_path)
            .filter(~F.col("_deleted"))
            .select(*left_cols)
        )
        refresh_join_view(
            spark, view_path, left_now, right, on, keys,
            n_buckets=n_buckets,
        )

    return _start(updates, fold, checkpoint)
