"""Streaming right-to-be-forgotten with a durable audit trail.

``stateful.streaming_purge_filter`` is the in-flight suppression
operator (engine state store, TTL) - but it DROPS the suppressed rows
silently, which answers the latency half of a GDPR story and not the
evidence half: a deletion request is answered with counts. This
module is the composed twin of ``io.purge_keys(audit_path=...)``: a
``foreachBatch`` loop that maintains the doomed-key set as a small
keyed store (crash-safe via ``io.publish_small_table``, the
views.py discipline), forwards each batch's surviving rows to the
lake, and APPENDS one audit row per (key, batch) with its
``rows_suppressed`` count - so batch purge audit + stream filter
audit reconcile against a ground-truth count (the pytest twin).

Suppression semantics match ``streaming_purge_filter`` exactly: a
purge directive suppresses its key's data rows from the directive's
timestamp onward (directive-before-data on an equal timestamp), the
doom persists across batches, the directive row itself never
forwards, and re-purging an already-doomed key is a no-op.

Idempotent replay: both the data and audit sinks write to a
``batch=<id>`` subdirectory with overwrite, so an at-least-once
``foreachBatch`` replay rewrites the same files instead of
double-appending (the file-sink replay rule) - and the store carries
(key, doom_ts, doom_batch), not bare keys, so a replay of the batch
that DOOMED a key (crash after the store publish, before the
checkpoint commit) judges that batch's rows by timestamp exactly as
the first run did instead of blanket-suppressing them under the
carried doom; later batches suppress on the carried doom alone (the
stateful twin's boolean). The store fold itself is idempotent
(earliest doom wins; re-purges never update it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .file_source import _start

__all__ = ["start_purge_with_audit"]


def start_purge_with_audit(
    df: DataFrame,
    *,
    key: str,
    kind: str,
    ts: str,
    out_path: str,
    audit_path: str,
    store_path: str,
    checkpoint: str,
    purge_value: str = "purge",
):
    """Run the purge filter over ``df`` (data rows + purge directives
    distinguished by ``kind`` == ``purge_value``), appending survivors
    under ``out_path/batch=<id>/`` and per-key suppression audit rows
    (key, rows_suppressed, batch_id, source='stream_filter') under
    ``audit_path/batch=<id>/``. ``store_path`` holds the doomed-key
    set between batches (subject-sized; retention sweep once the
    deletion obligation expires, like the views.py tombstones).
    Returns the StreamingQuery."""
    from ..io import _read_recovered, publish_small_table

    data_cols = [c for c in df.columns]

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch.isEmpty():
            return
        directives = (
            batch.filter(F.col(kind) == purge_value)
            .groupBy(key)
            .agg(F.min(ts).alias("_doom_ts"))
        )
        stored = _read_recovered(spark, store_path)
        if stored is None:
            stored = spark.createDataFrame(
                [],
                batch.select(
                    F.col(key),
                    F.col(ts).alias("_doom_ts"),
                    F.lit(0).cast("long").alias("_doom_batch"),
                ).schema,
            )
        # a NULL kind is DATA (the stateful twin's pandas compare is
        # null-false too); SQL `kind != 'purge'` alone would silently
        # drop NULL-kind rows under three-valued logic
        data = batch.filter(
            F.col(kind).isNull() | (F.col(kind) != purge_value)
        )
        # suppressed = keys doomed in an EARLIER batch (any ts - the
        # stateful twin's carried boolean) OR rows at/after the key's
        # doom timestamp from THIS batch (equal ts counts: the
        # directive orders before data at a tie). The store carries
        # (_doom_ts, _doom_batch) precisely so a REPLAY of the batch
        # that doomed a key - after a crash between the store publish
        # and the checkpoint commit - recomputes the same _drop as the
        # first run: rows of the dooming batch are judged by ts, rows
        # of later batches by the carried doom.
        tagged = (
            data.join(
                F.broadcast(
                    stored.select(
                        F.col(key),
                        F.col("_doom_ts").alias("_old_ts"),
                        F.col("_doom_batch").alias("_old_batch"),
                    )
                ),
                key,
                "left",
            )
            .join(F.broadcast(directives), key, "left")
            .withColumn(
                "_drop",
                (F.col("_old_batch") < F.lit(batch_id))
                | (
                    (F.col("_old_batch") == F.lit(batch_id))
                    & (F.col(ts) >= F.col("_old_ts"))
                )
                | (
                    F.col("_doom_ts").isNotNull()
                    & (F.col(ts) >= F.col("_doom_ts"))
                ),
            )
        )
        survivors = tagged.filter(
            ~F.coalesce(F.col("_drop"), F.lit(False))
        ).select(*data_cols)
        audit = (
            tagged.filter(F.col("_drop"))
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("rows_suppressed"))
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .withColumn("source", F.lit("stream_filter"))
        )
        # batch=<id> subdir + overwrite = replay-idempotent file sink
        survivors.write.mode("overwrite").parquet(
            f"{out_path.rstrip('/')}/batch={batch_id}"
        )
        audit_rows = audit.collect()  # subject-sized
        if audit_rows:
            spark.createDataFrame(audit_rows, audit.schema).coalesce(
                1
            ).write.mode("overwrite").parquet(
                f"{audit_path.rstrip('/')}/batch={batch_id}"
            )
        # fold the new dooms into the store LAST, stamped with the
        # dooming batch + first directive ts: a crash before this
        # point replays against the old store, a crash AFTER it
        # replays against the new store - both recompute identical
        # outputs (see the _drop derivation above). Re-purges of an
        # already-doomed key never update the store (earliest doom
        # wins), so they stay no-ops.
        new_keys = (
            directives.join(stored.select(key), key, "left_anti")
            .select(
                F.col(key),
                F.col("_doom_ts"),
                F.lit(batch_id).cast("long").alias("_doom_batch"),
            )
        )
        if new_keys.limit(1).count() > 0:
            publish_small_table(stored.unionByName(new_keys), store_path)

    return _start(df, fold, checkpoint)
