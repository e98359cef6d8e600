"""File-arrival streaming: the reference's bucket-notification trigger
re-expressed as a Structured Streaming file source + foreachBatch sink.

Reference mapping:
- ``s3:ObjectCreated:* prefix in/`` -> downloader lambda
  (market-data-downloader-create-bucket/market_data_downloader_create_bucket.py:80-102)
  becomes ``spark.readStream`` on the ``in/`` directory: each new file
  is a task message in the next micro-batch.
- SQS ack-on-success (data-downloader/data_downloader.py:58,112,...)
  becomes the checkpoint: offsets commit after the batch's sink work
  finishes, so a crash replays the batch (at-least-once) and the
  manifest anti-join makes the replay idempotent.
- staging lifecycle in/ -> processing/ -> done/
  (market-data-downloader-create-folders/...py:20-22) becomes
  ``cleanSource=archive``: consumed inputs move to the archive dir.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def _start(
    df: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Run ``process`` per micro-batch, checkpoint-as-ack: the one
    ``foreachBatch`` tail of the package's streaming sinks.
    ``available_now`` runs until the source is drained (run-to-
    completion in tests and backfills); False keeps Spark's default
    trigger, a micro-batch as soon as the previous one ends."""
    w = df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def file_task_stream(
    spark: SparkSession,
    in_dir: str,
    archive_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded task stream: one JSON line per task file landed in
    ``in_dir``. ``max_files_per_trigger`` is the micro-batch rate limit
    (the reference polls 5 tasks per invocation,
    data-downloader/data_downloader.py:210-213)."""
    r = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if archive_dir is not None:
        r = r.option("cleanSource", "archive").option("sourceArchiveDir", archive_dir)
    return r.load(in_dir).withColumnRenamed("value", "task_json")


def start_lake_sink(
    tasks: DataFrame,
    lake_dir: str,
    manifest_dir: str,
    checkpoint_dir: str,
    quarantine_dir: str | None = None,
    catalog_path: str | None = None,
    allow_network: bool = False,
) -> StreamingQuery:
    """Run the batch downloader per micro-batch; checkpoint = ack.

    foreachBatch is the sanctioned place for multi-sink, side-effectful
    batch logic in a stream - exactly the downloader's shape (lake +
    manifest + quarantine + catalog flagging from one batch)."""
    from ..plans.downloader import run_downloader

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        out = run_downloader(
            batch.sparkSession,
            batch,
            lake_dir,
            manifest_dir,
            quarantine_dir=quarantine_dir,
            catalog_path=catalog_path,
            allow_network=allow_network,
        )
        # all sinks are written inside run_downloader; free the
        # batch's checkpoint blocks so a long-running stream does not
        # accumulate one set per micro-batch
        out["release"]()

    return _start(tasks, process, checkpoint_dir)
