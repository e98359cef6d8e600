"""Staging-folder lifecycle: in/ -> processing/ -> done/.

The reference provisions exactly these three prefixes and moves each
task file through them (market-data-downloader-create-folders/
market_data_downloader_create_folders.py:20-22). The streaming twin
mostly subsumes the hop (checkpoint + cleanSource=archive), but the
poll-mode batch runner keeps the explicit lifecycle: claim the batch by
moving it to processing/ (so a concurrent runner can't double-claim),
process, then move to done/. A crash mid-processing leaves the files in
processing/ for inspection/requeue - same operational story as the
reference's bucket.

All moves go through the Hadoop FileSystem API, so the same code works
on file://, HDFS and object stores with a rename-capable committer.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..io import _vfs


def ensure_dirs(spark: SparkSession, *dirs: str) -> None:
    """mkdir -p for each staging prefix (the create-folders lambda)."""
    for d in dirs:
        jvm_path, fs = _vfs(spark, d)
        fs.mkdirs(jvm_path(d))


def move_files(
    spark: SparkSession, src_dir: str, dst_dir: str, only: list[str] | None = None
) -> list[str]:
    """Move files in ``src_dir`` to ``dst_dir``; returns the names
    ACTUALLY moved. Rename-based (atomic per file on HDFS/posix), and
    the rename's boolean result is honored: a file another runner
    claimed first (or a name collision at the destination) is simply
    not reported as moved - this is what makes the claim step safe
    under concurrent pollers. ``only`` restricts the sweep to specific
    names (the claimed batch)."""
    jvm_path, fs = _vfs(spark, src_dir)
    src, dst = jvm_path(src_dir), jvm_path(dst_dir)
    fs.mkdirs(dst)
    moved = []
    if not fs.exists(src):
        return moved
    for status in fs.listStatus(src):
        if status.isFile():
            name = status.getPath().getName()
            if only is not None and name not in only:
                continue
            if fs.rename(status.getPath(), jvm_path(dst, name)):
                moved.append(name)
    return moved


def process_staged(
    spark: SparkSession,
    in_dir: str,
    processing_dir: str,
    done_dir: str,
    process,
) -> list[str]:
    """One poll-mode batch through the staging lifecycle: claim in/ ->
    processing/, call ``process(file_names)``, then processing/ ->
    done/. Returns the processed file names; on a process() raise the
    claimed files stay in processing/ (the reference's crashed-lambda
    state)."""
    ensure_dirs(spark, in_dir, processing_dir, done_dir)
    claimed = move_files(spark, in_dir, processing_dir)
    if not claimed:
        return []
    process(claimed)
    # move ONLY this round's claim: files a previous crashed run left in
    # processing/ must stay there for inspection/requeue, never get
    # swept into done/ unprocessed
    move_files(spark, processing_dir, done_dir, only=claimed)
    return claimed
