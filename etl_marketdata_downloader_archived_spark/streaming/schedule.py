"""Scheduled harvest: the reference's CloudWatch-timer entry point
re-expressed as a Structured Streaming processing-time trigger - no
external orchestrator needed to run the scheduler -> queue ->
downloader loop end-to-end in Spark.

Reference mapping (SURVEY.md section 3.1): CloudWatch schedule ->
`data_harvester.handler` per interval becomes a rate-source stream
triggered every ``tick_seconds``; each tick re-reads the MUTABLE
source catalog (point updates - error flags, re-activations - land
between ticks, exactly like the reference's per-invocation S3 read),
computes the due task set via plans.harvester.harvest_tasks, and
lands one JSON-lines task file in the directory
``file_task_stream`` watches. The downstream downloader stream picks
it up as its next micro-batch - the SQS hop, minus SQS.

Scale: the per-tick work is catalog-sized (a dimension table by
definition); the rate source rows are ignored - they are the clock,
not data. Each tick's file is written by Spark to a dot-prefixed
staging dir (invisible to the watching stream) and renamed in whole,
so the consumer never reads a half-written task file.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from ..io import _vfs


def start_scheduled_harvest(
    spark: SparkSession,
    catalog_path: str,
    interval: str,
    task_dir: str,
    checkpoint: str,
    tick_seconds: int = 60,
    now_fn: Callable[[], datetime] | None = None,
    read_catalog_fn: Callable[[SparkSession, str], DataFrame] | None = None,
):
    """Start the scheduler; returns the StreamingQuery. ``now_fn``
    pins the harvest clock per tick (tests); None uses the engine's
    current_timestamp. Empty due-sets write no file (the reference
    likewise enqueues nothing)."""
    from ..plans.harvester import harvest_tasks
    from ..sources.catalog import read_catalog

    reader = read_catalog_fn or read_catalog
    # self-recovery at entry (the engine-wide mutator rule): a
    # scheduler stopped mid-tick strands its dot-staging dir; the
    # checkpoint replays that batch and rewrites the stage, so the
    # stranded copy is pure debris - sweep it before ticking
    sweep_stale_ticks(spark, task_dir)

    def on_tick(_batch: DataFrame, batch_id: int) -> None:
        catalog = reader(spark, catalog_path)
        tasks = harvest_tasks(
            catalog, interval, now_fn() if now_fn else None
        ).select("task_json")
        publish_tick(spark, task_dir, batch_id, tasks)

    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.foreachBatch(on_tick)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{tick_seconds} seconds")
        .start()
    )


def publish_tick(
    spark: SparkSession, task_dir: str, batch_id: int, tasks: DataFrame
) -> str | None:
    """Atomically land one tick's due-set as a CONTENT-ADDRESSED task
    file ``tick-<batch>-<sha256[:12]>.jsonl``; returns the published
    path (None for an empty due-set).

    Why content-addressed: a checkpoint-replayed batch re-reads the
    CURRENT (possibly mutated) catalog. Publishing over a plain
    ``tick-N`` name would silently replace a file the downstream file
    stream already ingested and never re-reads - the delta between the
    old and new due-sets would be dropped until the next tick. Hashing
    the payload into the name makes a changed replay land a NEW file
    the stream DOES read; an identical replay re-lands its own name
    (no-op; downstream stays idempotent via the lake's dedup
    manifest). The file is staged dot-prefixed (invisible to the
    watching stream) and renamed in whole, so a consumer never reads a
    half-written task file; rows are sorted so a given due-set is
    byte-deterministic and its hash stable across replays."""
    import hashlib

    jvm_path, fs = _vfs(spark, task_dir)
    stage = f"{task_dir}/.tick-{batch_id}"
    tasks.coalesce(1).sortWithinPartitions("task_json").write.mode(
        "overwrite"
    ).text(stage)
    published = None
    # one coalesced writer -> at most one part file; zero when the
    # due-set is empty (header-less text writes no part)
    for st in fs.listStatus(jvm_path(stage)):
        if not st.getPath().getName().startswith("part-"):
            continue
        if st.getLen() == 0:
            continue
        stream = fs.open(st.getPath())
        try:
            payload = bytes(
                spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()
        digest = hashlib.sha256(payload).hexdigest()[:12]
        name = f"tick-{batch_id}-{digest}.jsonl"
        target = jvm_path(f"{task_dir}/{name}")
        # an identical replay re-lands its own name: clear it so the
        # rename cannot silently return false and strand the fresh
        # task set in the staging dir about to be deleted
        fs.delete(target, False)
        if not fs.rename(st.getPath(), target):
            raise IOError(
                f"scheduled harvest: could not publish tick {batch_id}"
            )
        # local-FS rename drags a checksum sidecar along; it is
        # dot-prefixed (invisible to the watching stream) but there is
        # no reason to leave debris in the queue dir
        fs.delete(jvm_path(f"{task_dir}/.{name}.crc"), False)
        published = f"{task_dir}/{name}"
    fs.delete(jvm_path(stage), True)
    return published


def sweep_stale_ticks(spark: SparkSession, task_dir: str) -> list[str]:
    """Delete stranded ``.tick-<N>`` staging dirs (a scheduler stopped
    between stage-write and publish leaves one). Safe any time the
    scheduler is NOT running: stage dirs are consumed only by the
    synchronous publish that wrote them, and a died publish's batch
    replays from the checkpoint and rewrites its stage from scratch.
    Called by start_scheduled_harvest at entry; returns the swept
    paths."""
    jvm_path, fs = _vfs(spark, task_dir)
    root = jvm_path(task_dir)
    swept: list[str] = []
    if not fs.exists(root):
        return swept
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(".tick-") and st.isDirectory():
            fs.delete(st.getPath(), True)
            swept.append(f"{task_dir}/{name}")
    return swept
