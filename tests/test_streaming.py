"""Streaming tests (SURVEY.md section 5.2 item 5): file-arrival source
driving the downloader via foreachBatch, windowed aggregations through
a real memory-sink stream, watermark late-data drop, and
cross-batch stateful dedup."""

from __future__ import annotations

import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from etl_marketdata_downloader_archived_spark.streaming import (
    file_task_stream,
    session_agg,
    start_lake_sink,
    tumbling_agg,
    watermarked_dedup,
)


# ------------------------------------------------- file-arrival source


def test_file_arrival_drives_downloader(spark, tmp_path) -> None:
    remote = tmp_path / "remote"
    remote.mkdir()
    (remote / "data_1.csv").write_text("x\n1\n")
    (remote / "data_2.csv").write_text("y\n2\n")

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    task = {
        "ID": "1",
        "URL": f"file://{remote}/data_1.csv",
        "TYPE": "DIRECT",
        "PATTERN": "data_1.csv",
        "UTC": "0",
    }
    (in_dir / "task1.json").write_text(json.dumps(task))

    lake = str(tmp_path / "lake")
    manifest = str(tmp_path / "manifest")
    stream = file_task_stream(spark, str(in_dir), max_files_per_trigger=5)
    q = start_lake_sink(stream, lake, manifest, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    landed = spark.read.parquet(lake)
    assert [r.file_name for r in landed.collect()] == ["data_1.csv"]

    # second arrival: only the new task lands; checkpoint skips task1
    task2 = dict(task, ID="2", URL=f"file://{remote}/data_2.csv", PATTERN="data_2.csv")
    (in_dir / "task2.json").write_text(json.dumps(task2))
    q2 = start_lake_sink(
        file_task_stream(spark, str(in_dir)), lake, manifest, str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    names = sorted(r.file_name for r in spark.read.parquet(lake).collect())
    assert names == ["data_1.csv", "data_2.csv"]


# ------------------------------------------------- windows on a stream


def _event_stream(spark, tmp_path, rows):
    src = tmp_path / "events_src"
    src.mkdir()
    (src / "batch1.json").write_text(
        "\n".join(json.dumps(r) for r in rows)
    )
    raw = (
        spark.readStream.format("text").load(str(src))
    )
    parsed = raw.select(
        F.from_json("value", "user_id LONG, ts TIMESTAMP, v DOUBLE").alias("j")
    ).select("j.*")
    return parsed


def test_tumbling_window_stream(spark, tmp_path) -> None:
    rows = [
        {"user_id": 1, "ts": "2024-06-01 12:00:30", "v": 1.0},
        {"user_id": 1, "ts": "2024-06-01 12:05:10", "v": 2.0},
        {"user_id": 2, "ts": "2024-06-01 12:14:59", "v": 3.0},
    ]
    agg = tumbling_agg(
        _event_stream(spark, tmp_path, rows),
        "ts",
        "10 minutes",
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("total"),
        watermark="1 hour",
    )
    # complete mode: every trigger emits the full window table (append
    # would wait for the watermark to close each window in a LATER
    # batch - exercised in test_watermark_drops_late_rows)
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.w.start.minute, r.n, float(r.total))
        for r in spark.sql("select * from tumbling_out").collect()
    }
    assert got == {(0, 2, 3.0), (10, 1, 3.0)}


def test_session_window_batch_semantics(spark) -> None:
    df = spark.createDataFrame(
        [
            (1, datetime(2024, 6, 1, 12, 0, 0)),
            (1, datetime(2024, 6, 1, 12, 3, 0)),   # same session (gap 5m)
            (1, datetime(2024, 6, 1, 12, 30, 0)),  # new session
            (2, datetime(2024, 6, 1, 12, 1, 0)),
        ],
        ["user_id", "ts"],
    )
    out = session_agg(df, "ts", "5 minutes", ["user_id"], F.count(F.lit(1)).alias("n"))
    per_user = sorted((r.user_id, r.n) for r in out.collect())
    assert per_user == [(1, 1), (1, 2), (2, 1)]


def test_stream_stream_interval_join(spark, tmp_path) -> None:
    """Two live file streams, equi+interval joined: each click pairs
    with views of the same user within [-1m, +5m]; the streamed result
    matches the identical batch-mode join (unified semantics)."""
    from etl_marketdata_downloader_archived_spark.streaming import interval_join

    views = [
        {"user_id": 1, "ts": "2024-06-01 12:00:00", "v": 1.0},
        {"user_id": 1, "ts": "2024-06-01 12:04:00", "v": 2.0},
        {"user_id": 1, "ts": "2024-06-01 12:30:00", "v": 3.0},  # outside band
        {"user_id": 2, "ts": "2024-06-01 12:00:30", "v": 4.0},  # other user
    ]
    clicks = [
        {"user_id": 1, "ts": "2024-06-01 12:01:00", "v": 10.0},
    ]

    def mk_stream(name, rows):
        src = tmp_path / name
        src.mkdir()
        (src / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
        return (
            spark.readStream.format("text").load(str(src))
            .select(F.from_json("value", "user_id LONG, ts TIMESTAMP, v DOUBLE").alias("j"))
            .select("j.*")
        )

    joined = interval_join(
        mk_stream("clicks", clicks),
        mk_stream("views", views),
        ["user_id"],
        "ts",
        "ts",
        "1 minute",
        "5 minutes",
        watermark="1 hour",
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("r.ts").alias("view_ts"),
        F.col("r.v").alias("view_v"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.user_id, float(r.view_v)) for r in spark.sql("select * from ssj_out").collect()}
    assert got == {(1, 1.0), (1, 2.0)}

    # identical call on batch frames gives the same pairs
    bv = spark.createDataFrame(
        [(r["user_id"], datetime.fromisoformat(r["ts"]), r["v"]) for r in views],
        ["user_id", "ts", "v"],
    )
    bc = spark.createDataFrame(
        [(r["user_id"], datetime.fromisoformat(r["ts"]), r["v"]) for r in clicks],
        ["user_id", "ts", "v"],
    )
    batch = interval_join(bc, bv, ["user_id"], "ts", "ts", "1 minute", "5 minutes", "1 hour")
    bgot = {
        (r.user_id, float(r.view_v))
        for r in batch.select(
            F.col("l.user_id").alias("user_id"), F.col("r.v").alias("view_v")
        ).collect()
    }
    assert bgot == got


def test_watermark_drops_late_rows(spark, tmp_path) -> None:
    """Two checkpointed runs: run 1 advances the watermark to 13:50;
    run 2's input is entirely behind it and must be dropped (update
    mode filters rows older than the restored watermark)."""
    src = tmp_path / "late_src"
    src.mkdir()
    ckpt = str(tmp_path / "late_ckpt")
    out_dir = str(tmp_path / "late_out")

    def run() -> None:
        raw = spark.readStream.format("text").load(str(src))
        parsed = raw.select(
            F.from_json("value", "user_id LONG, ts TIMESTAMP, v DOUBLE").alias("j")
        ).select("j.*")
        agg = tumbling_agg(
            parsed, "ts", "10 minutes", F.count(F.lit(1)).alias("n"),
            watermark="10 minutes",
        )

        def sink(batch, batch_id: int) -> None:
            batch.select(F.col("w.start").alias("w_start"), "n").write.mode(
                "append"
            ).parquet(out_dir)

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    on_time = [
        {"user_id": 1, "ts": "2024-06-01 12:00:00", "v": 1.0},
        {"user_id": 1, "ts": "2024-06-01 14:00:00", "v": 1.0},  # watermark -> 13:50
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in on_time))
    run()
    first = spark.read.parquet(out_dir).collect()
    noon1 = [r.n for r in first if r.w_start.hour == 12 and r.w_start.minute == 0]
    assert noon1 == [1]

    # behind the checkpointed watermark -> dropped, no update emitted
    (src / "b2.json").write_text(
        json.dumps({"user_id": 9, "ts": "2024-06-01 12:00:01", "v": 99.0})
    )
    run()
    assert spark.read.parquet(out_dir).count() == len(first)


def test_watermarked_dedup_cross_batch(spark, tmp_path) -> None:
    src = tmp_path / "dedup_src"
    src.mkdir()
    (src / "b1.json").write_text(
        json.dumps({"file_name": "a.csv", "ts": "2024-06-01 12:00:00"})
        + "\n"
        + json.dumps({"file_name": "a.csv", "ts": "2024-06-01 12:00:05"})
    )
    (src / "b2.json").write_text(
        json.dumps({"file_name": "a.csv", "ts": "2024-06-01 12:01:00"})
        + "\n"
        + json.dumps({"file_name": "b.csv", "ts": "2024-06-01 12:01:00"})
    )
    raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(str(src))
    parsed = raw.select(
        F.from_json("value", "file_name STRING, ts TIMESTAMP").alias("j")
    ).select("j.*")
    deduped = watermarked_dedup(parsed, "ts", ["file_name"], "1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    names = sorted(r.file_name for r in spark.sql("select * from dedup_out").collect())
    assert names == ["a.csv", "b.csv"]  # duplicate suppressed across batches


def test_streaming_corpus_ingest(spark, tmp_path) -> None:
    """The corpus pre-filter on a live stream: quality/language gates
    and decontamination drop bad docs in-batch; the fingerprint dedup
    suppresses a reformatted duplicate arriving in a LATER micro-batch;
    survivors land in the corpus lake exactly once."""
    from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
        benchmark_gram_index,
        start_corpus_ingest,
    )

    eval_text = ("the quick brown fox jumps over the lazy dog near the "
                 "river bank every single day")
    good = ("the pipeline keeps many useful english words with plenty of "
            "variety so the quality gate and the language gate both pass "
            "without any trouble at all today")
    src = tmp_path / "docs_src"
    src.mkdir()
    (src / "b1.json").write_text(
        json.dumps({"doc_id": 1, "text": good, "arrival_ts": "2024-06-01 12:00:00"})
        + "\n"
        + json.dumps({"doc_id": 2, "text": "x!! y?? !!!", "arrival_ts": "2024-06-01 12:00:01"})
        + "\n"
        + json.dumps({"doc_id": 3, "text": eval_text + " the end", "arrival_ts": "2024-06-01 12:00:02"})
    )
    (src / "b2.json").write_text(
        json.dumps({"doc_id": 4, "text": good.upper() + "!", "arrival_ts": "2024-06-01 12:05:00"})
        + "\n"
        + json.dumps({"doc_id": 5, "text": good + " fresh tail of new words", "arrival_ts": "2024-06-01 12:05:01"})
    )
    bench = spark.createDataFrame([(0, eval_text)], ["doc_id", "text"])
    grams = benchmark_gram_index(bench)

    raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(str(src))
    docs = raw.select(
        F.from_json("value", "doc_id LONG, text STRING, arrival_ts TIMESTAMP").alias("j")
    ).select("j.*")
    q = start_corpus_ingest(
        docs,
        corpus_dir=str(tmp_path / "corpus"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        bench_grams=grams,
    )
    q.awaitTermination(120)
    landed = spark.read.parquet(str(tmp_path / "corpus"))
    ids = sorted(r.doc_id for r in landed.collect())
    # 1 survives; 2 junk; 3 contaminated; 4 is 1 reformatted (same
    # fingerprint, later batch) -> suppressed; 5 genuinely new
    assert ids == [1, 5]
    assert all(r.bench_overlap < 0.5 for r in landed.collect())


def test_streaming_neardup_ingest(spark, tmp_path) -> None:
    """Near-dup admission on a live stream: batch 1 seeds corpus and
    posting store; batch 2's near-dup of a batch-1 doc is rejected via
    the store (no corpus re-signature), its novel doc admitted, and
    the store grows so batch 3 rejects a near-dup of batch 2."""
    from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
        start_corpus_ingest_neardup,
    )

    base = ("the quick brown fox jumps over the lazy dog near the river "
            "bank every single day without fail in all weather")
    novel = ("entirely new english words the gate accepts with plenty of "
             "variety about the spark operators that clean the corpus")
    src = tmp_path / "nd_src"
    src.mkdir()

    def run() -> None:
        raw = spark.readStream.format("text").load(str(src))
        docs = raw.select(
            F.from_json("value", "doc_id LONG, text STRING").alias("j")
        ).select("j.*")
        q = start_corpus_ingest_neardup(
            docs,
            corpus_dir=str(tmp_path / "nd_corpus"),
            postings_dir=str(tmp_path / "nd_postings"),
            checkpoint_dir=str(tmp_path / "nd_ckpt"),
        )
        q.awaitTermination(180)

    (src / "b1.json").write_text(json.dumps({"doc_id": 1, "text": base}))
    run()
    (src / "b2.json").write_text(
        json.dumps({"doc_id": 10, "text": base + " indeed"})
        + "\n"
        + json.dumps({"doc_id": 11, "text": novel})
    )
    run()
    (src / "b3.json").write_text(
        json.dumps({"doc_id": 20, "text": novel + " again"})
    )
    run()
    ids = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "nd_corpus")).collect())
    assert ids == [1, 11]
    post_ids = {r.doc_id for r in spark.read.parquet(str(tmp_path / "nd_postings")).collect()}
    assert post_ids == {1, 11}


def test_corpus_ingest_restart_is_idempotent(spark, tmp_path) -> None:
    """Restarting the ingest against the same checkpoint reprocesses
    nothing: the consumed source offsets are the ack (A26 semantics on
    the corpus path)."""
    from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
        start_corpus_ingest,
    )

    good = ("the pipeline keeps many useful english words with plenty of "
            "variety so the quality gate and the language gate both pass")
    src = tmp_path / "docs_src"
    src.mkdir()
    (src / "b1.json").write_text(
        json.dumps({"doc_id": 1, "text": good, "arrival_ts": "2024-06-01 12:00:00"})
    )

    def run() -> None:
        raw = spark.readStream.format("text").load(str(src))
        docs = raw.select(
            F.from_json("value", "doc_id LONG, text STRING, arrival_ts TIMESTAMP").alias("j")
        ).select("j.*")
        q = start_corpus_ingest(
            docs,
            corpus_dir=str(tmp_path / "corpus"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

    run()
    run()  # same checkpoint, no new files -> no new rows
    landed = spark.read.parquet(str(tmp_path / "corpus"))
    assert [r.doc_id for r in landed.collect()] == [1]


def test_file_source_archives_consumed_inputs(spark, tmp_path) -> None:
    """A30 staging lifecycle: consumed task files move out of in/ to
    the archive dir (in -> done), so re-listing in/ stays cheap."""
    import os

    from etl_marketdata_downloader_archived_spark.streaming import file_task_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    archive = tmp_path / "done"
    (in_dir / "t1.json").write_text('{"ID":"1"}')

    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run() -> None:
        stream = file_task_stream(spark, str(in_dir), archive_dir=str(archive))
        q = (
            stream.writeStream.foreachBatch(
                lambda b, _id: b.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(out_dir).count() == 1

    # the source archives batch N's files when planning batch N+1, so a
    # second (checkpointed) run with new input triggers the move of t1
    (in_dir / "t2.json").write_text('{"ID":"2"}')
    run()

    import time as _t

    archived: list[str] = []
    for _ in range(30):
        archived = [
            f
            for _, _, fs in os.walk(str(archive))
            for f in fs
            if f.endswith(".json")
        ]
        if archived and not os.path.exists(in_dir / "t1.json"):
            break
        _t.sleep(1)  # the cleaner moves files asynchronously
    assert "t1.json" in archived
    assert not os.path.exists(in_dir / "t1.json")


def test_session_window_stream(spark, tmp_path) -> None:
    """Session windows through a real stream: two files -> two
    micro-batches; complete mode shows merged sessions per key."""
    src = tmp_path / "sess_src"
    src.mkdir()
    (src / "b1.json").write_text(
        json.dumps({"user_id": 1, "ts": "2024-06-01 12:00:00"})
        + "\n"
        + json.dumps({"user_id": 1, "ts": "2024-06-01 12:03:00"})
    )
    (src / "b2.json").write_text(
        json.dumps({"user_id": 1, "ts": "2024-06-01 12:30:00"})
    )
    raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(str(src))
    parsed = raw.select(
        F.from_json("value", "user_id LONG, ts TIMESTAMP").alias("j")
    ).select("j.*")
    agg = session_agg(
        parsed, "ts", "5 minutes", ["user_id"], F.count(F.lit(1)).alias("n"),
        watermark="1 hour",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sessions = sorted(
        (r.user_id, r.n) for r in spark.sql("select * from sess_out").collect()
    )
    assert sessions == [(1, 1), (1, 2)]  # 12:00-12:03 merged; 12:30 separate


def test_streaming_error_path_composes_quarantine_and_catalog(spark, tmp_path) -> None:
    """The streaming twin wires the composed error path end to end: a
    failing task in a micro-batch lands in quarantine WITH an attempt
    count and flags its source active=2 in the catalog - no caller
    composition (reference handle_error semantics under foreachBatch)."""
    from etl_marketdata_downloader_archived_spark.sources.catalog import (
        read_catalog,
        write_catalog,
    )

    cat_dir = str(tmp_path / "catalog")
    cat_rows = spark.createDataFrame(
        [("9", "file:///nope.html", "hourly", None, 1, None, None, "LINKS", "p", 0)],
        "id string, url string, interval string, col3 string, active int, "
        "col5 string, col6 string, type string, pattern string, utc_offset int",
    )
    write_catalog(cat_rows, cat_dir)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    task = {
        "ID": "9",
        "URL": "file:///definitely/missing.html",
        "TYPE": "LINKS",
        "PATTERN": "p",
        "UTC": "0",
    }
    (in_dir / "task9.json").write_text(json.dumps(task))

    qdir = str(tmp_path / "quarantine")
    q = start_lake_sink(
        file_task_stream(spark, str(in_dir)),
        str(tmp_path / "lake"),
        str(tmp_path / "manifest"),
        str(tmp_path / "ckpt"),
        quarantine_dir=qdir,
        catalog_path=cat_dir,
    )
    q.awaitTermination(120)

    qrows = spark.read.parquet(qdir).collect()
    assert len(qrows) == 1 and qrows[0].ID == "9" and qrows[0].attempts == 1
    flags = {r.id: r.active for r in read_catalog(spark, cat_dir, fmt="parquet").collect()}
    assert flags["9"] == 2


def test_lake_sink_releases_what_each_batch_pinned(spark, tmp_path) -> None:
    """Each micro-batch of the lake sink frees every block it pinned,
    the local checkpoints included (the batch outcome, the attempts
    snapshot, the flagged catalog), which unpersist() and clearCache()
    leave in place: after two batches with failures no new RDD holds a
    cached partition."""
    from etl_marketdata_downloader_archived_spark.sources.catalog import write_catalog

    jsc = spark.sparkContext._jsc.sc()

    def cached_rdds() -> set[int]:
        return {i.id() for i in jsc.getRDDStorageInfo() if i.numCachedPartitions() > 0}

    before = cached_rdds()
    remote = tmp_path / "remote"
    remote.mkdir()
    (remote / "ok.csv").write_text("x\n1\n")
    cat_dir = str(tmp_path / "catalog")
    write_catalog(
        spark.createDataFrame(
            [("7", "file:///nope.html", "hourly", None, 1, None, None, "LINKS", "p", 0)],
            "id string, url string, interval string, col3 string, active int, "
            "col5 string, col6 string, type string, pattern string, utc_offset int",
        ),
        cat_dir,
    )
    tasks = [
        {"ID": "6", "URL": f"file://{remote}/ok.csv", "TYPE": "DIRECT", "PATTERN": "ok.csv"},
        {"ID": "7", "URL": f"file://{remote}/missing.html", "TYPE": "LINKS", "PATTERN": "p"},
        {"ID": "8", "URL": f"file://{remote}/gone.csv", "TYPE": "DIRECT", "PATTERN": "gone.csv"},
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    qdir = str(tmp_path / "quarantine")
    for tick in range(2):
        (in_dir / f"tick{tick}.json").write_text("\n".join(json.dumps(t) for t in tasks))
        q = start_lake_sink(
            file_task_stream(spark, str(in_dir)),
            str(tmp_path / "lake"),
            str(tmp_path / "manifest"),
            str(tmp_path / "ckpt"),
            quarantine_dir=qdir,
            catalog_path=cat_dir,
        )
        q.awaitTermination(120)
        assert q.exception() is None

    assert sorted((r.ID, r.attempts) for r in spark.read.parquet(qdir).collect()) == [
        ("7", 1), ("7", 2), ("8", 1), ("8", 2)
    ]
    assert cached_rdds() - before == set()


def test_streaming_bars_feed_batch_indicators(spark, tmp_path) -> None:
    """Lambda composition: streaming OHLC bars land in a checkpointed
    parquet sink; the batch indicator panel then reads the landed bars
    - streaming ingest and batch analytics meet at the lake, no
    special-casing on either side."""
    from etl_marketdata_downloader_archived_spark.operators import (
        timeseries as TS,
    )

    rows = [
        {"sym": "A", "ts": "2024-06-01 09:05:00", "event_id": 1, "price": 10.0, "qty": 1},
        {"sym": "A", "ts": "2024-06-01 10:10:00", "event_id": 2, "price": 12.0, "qty": 2},
        {"sym": "A", "ts": "2024-06-01 11:20:00", "event_id": 3, "price": 9.0, "qty": 1},
        # advances the watermark past the 11:00 bar's close so append
        # mode flushes hours 9-11; its own 13:00 bar stays open
        {"sym": "A", "ts": "2024-06-01 13:59:00", "event_id": 4, "price": 9.5, "qty": 1},
    ]
    src = tmp_path / "ticks"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    ticks = (
        spark.readStream.format("text")
        .load(str(src))
        .select(
            F.from_json(
                "value",
                "sym STRING, ts TIMESTAMP, event_id LONG, price DOUBLE, qty LONG",
            ).alias("j")
        )
        .select("j.*")
    )
    bars = TS.streaming_ohlc_bars(
        ticks, "sym", "ts", "price", "qty",
        window="1 hour", watermark="1 hour",
        tie_break="event_id", price_scale=100,
    )
    sink = str(tmp_path / "bars_lake")
    q = (
        bars.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    landed = spark.read.parquet(sink)
    # append mode emits only watermark-closed bars: the final
    # watermark (13:59 - 1h) passes the 09/10/11 bar closes; the
    # 13:00 bar's state is still open when the stream drains
    assert landed.count() == 3
    panel = {
        r.bar_ts.hour: r
        for r in TS.indicator_panel(
            landed, "sym", "bar_ts", "close", zscore_rows=3
        ).collect()
    }
    assert panel[9].log_return is None
    import math

    assert abs(panel[10].log_return - math.log(12.0 / 10.0)) < 1e-12
    assert panel[10].drawdown == 0.0  # at the running max
    assert abs(panel[11].log_return - math.log(9.0 / 12.0)) < 1e-12
    assert abs(panel[11].drawdown - (9.0 / 12.0 - 1.0)) < 1e-12


def test_kafka_task_stream_fails_with_actionable_error(spark) -> None:
    """The Kafka task-source adapter (the SQS-queue analogue,
    SURVEY 1.1-B) must fail at CONSTRUCTION with an error naming the
    missing connector package when spark-sql-kafka is not on the
    classpath - not surface Spark's bare failed-to-find-data-source
    at stream start. (With the connector present it returns the same
    single task_json column the file source produces; no broker in
    this environment, so that path runs only where Kafka exists.)"""
    import pytest

    from etl_marketdata_downloader_archived_spark.streaming import (
        kafka_task_stream,
    )

    try:
        df = kafka_task_stream(
            spark, "localhost:9092", "tasks", max_offsets_per_trigger=5
        )
    except RuntimeError as exc:
        assert "spark-sql-kafka" in str(exc)
    else:
        # connector available: contract parity with file_task_stream
        assert df.columns == ["task_json"]
        assert df.isStreaming


def test_kafka_adapter_contract_double(spark, tmp_path, monkeypatch) -> None:
    """Drive the Kafka adapter's OWN code path minus the socket
    (VERDICT r10 item 4): a source double presents the exact Kafka
    wire schema (key/value binary, topic/partition/offset metadata)
    as a real streaming DataFrame, so kafka_task_stream's
    binary-value -> task_json decode executes in a live micro-batch
    and feeds start_lake_sink end-to-end. Also pins the option
    wiring the broker would see (bootstrap.servers, subscribe,
    startingOffsets, maxOffsetsPerTrigger, extra passthrough)."""
    from pyspark.sql import SparkSession
    from pyspark.sql.streaming import DataStreamReader

    from etl_marketdata_downloader_archived_spark.streaming import (
        kafka_task_stream,
    )

    remote = tmp_path / "remote"
    remote.mkdir()
    (remote / "k_data.csv").write_text("x\n1\n")
    src = tmp_path / "topic_msgs"
    src.mkdir()
    task = {
        "ID": "k1",
        "URL": f"file://{remote}/k_data.csv",
        "TYPE": "DIRECT",
        "PATTERN": "k_data.csv",
        "UTC": "0",
    }
    (src / "m1.json").write_text(json.dumps(task))

    captured: dict[str, str] = {}

    class _FakeKafkaReader:
        """DataStreamReader double: records options, and load() emits
        the spark-sql-kafka source's documented output schema from a
        real file stream (value is BINARY, exactly what the adapter
        must decode)."""

        def __init__(self, session: SparkSession) -> None:
            self._spark = session
            self._fmt: str | None = None

        def format(self, fmt: str) -> "_FakeKafkaReader":
            self._fmt = fmt
            return self

        def option(self, k: str, v: str) -> "_FakeKafkaReader":
            captured[k] = v
            return self

        def load(self):
            assert self._fmt == "kafka"
            raw = (
                DataStreamReader(self._spark)
                .format("text")
                .load(str(src))
            )
            return raw.select(
                F.lit(None).cast("binary").alias("key"),
                F.encode("value", "UTF-8").alias("value"),
                F.lit(captured.get("subscribe")).alias("topic"),
                F.lit(0).alias("partition"),
                F.lit(0).cast("long").alias("offset"),
                F.current_timestamp().alias("timestamp"),
                F.lit(0).alias("timestampType"),
            )

    monkeypatch.setattr(
        SparkSession,
        "readStream",
        property(lambda self: _FakeKafkaReader(self)),
    )

    tasks = kafka_task_stream(
        spark,
        "broker-1:9092,broker-2:9092",
        "tasks",
        starting_offsets="earliest",
        max_offsets_per_trigger=5,
        extra_options={"kafka.group.id": "etl-tasks"},
    )
    assert captured["kafka.bootstrap.servers"] == "broker-1:9092,broker-2:9092"
    assert captured["subscribe"] == "tasks"
    assert captured["startingOffsets"] == "earliest"
    assert captured["maxOffsetsPerTrigger"] == "5"
    assert captured["kafka.group.id"] == "etl-tasks"
    assert tasks.columns == ["task_json"]
    assert tasks.isStreaming

    lake = str(tmp_path / "lake")
    q = start_lake_sink(
        tasks, lake, str(tmp_path / "manifest"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert q.exception() is None
    landed = spark.read.parquet(lake)
    assert [r.file_name for r in landed.collect()] == ["k_data.csv"]


def test_scheduled_harvest_ticks_and_sees_catalog_updates(spark, tmp_path) -> None:
    """The CloudWatch-schedule analogue: a processing-time trigger
    re-reads the MUTABLE catalog each tick and lands a whole task file
    per tick in the watched directory. A catalog edit between ticks
    must be reflected in the next tick's tasks; files appear whole
    (renamed in from a dot-staging dir), one per non-empty tick."""
    import glob
    import json
    import time
    from datetime import datetime

    from etl_marketdata_downloader_archived_spark.streaming.schedule import (
        start_scheduled_harvest,
    )

    cat = tmp_path / "catalog.csv"
    cat.write_text(
        "1,http://h/a_{year}.csv,hourly,x,1,y,z,DIRECT,a_{year}.csv,0\r\n"
        "2,http://h/b.html,hourly,x,1,y,z,LINKS,unused,0\r\n"
    )
    task_dir = tmp_path / "in"
    task_dir.mkdir()

    q = start_scheduled_harvest(
        spark,
        str(cat),
        "hourly",
        str(task_dir),
        checkpoint=str(tmp_path / "ckpt"),
        tick_seconds=2,
        now_fn=lambda: datetime(2024, 6, 15, 22, 30),
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if glob.glob(f"{task_dir}/tick-*.jsonl"):
                break
            time.sleep(0.5)
        first = sorted(glob.glob(f"{task_dir}/tick-*.jsonl"))
        assert first, "no tick file appeared"
        tasks = [
            json.loads(line)
            for line in open(first[0]).read().splitlines()
        ]
        assert {t["ID"] for t in tasks} == {"1", "2"}
        # template expanded with the pinned clock
        assert any(t["URL"].endswith("a_2024.csv") for t in tasks)

        # catalog point update between ticks: deactivate source 2
        cat.write_text(
            "1,http://h/a_{year}.csv,hourly,x,1,y,z,DIRECT,a_{year}.csv,0\r\n"
            "2,http://h/b.html,hourly,x,0,y,z,LINKS,unused,0\r\n"
        )
        # a tick already in flight may still carry the old catalog;
        # the NEXT fully-fresh tick must reflect the edit - poll the
        # numerically-latest file until it does (lexicographic sort
        # would put tick-10 before tick-9)
        def latest_ids():
            # tick-<batch>-<contenthash>.jsonl: order by batch number
            files = sorted(
                glob.glob(f"{task_dir}/tick-*.jsonl"),
                key=lambda f: int(f.split("tick-")[-1].split("-")[0]),
            )
            if not files:
                return None
            return {
                json.loads(line)["ID"]
                for line in open(files[-1]).read().splitlines()
            }

        while time.time() < deadline and latest_ids() != {"1"}:
            time.sleep(0.5)
        assert latest_ids() == {"1"}, "catalog update never reached a tick"
    finally:
        q.stop()
    # stop() can interrupt a tick between stage-write and publish, so
    # a stranded .tick-N dir is legitimate at this instant; the
    # contract is (a) it is DOT-PREFIXED (invisible to the watching
    # stream - no consumer ever saw a half-written file) and (b) the
    # next scheduler start sweeps it (self-recovery at entry)
    from etl_marketdata_downloader_archived_spark.streaming.schedule import (
        sweep_stale_ticks,
    )

    sweep_stale_ticks(spark, str(task_dir))
    stray = [
        f for f in glob.glob(f"{task_dir}/.tick-*") if not f.endswith(".crc")
    ]
    assert stray == []
    # and the published queue is intact: every visible file is a
    # whole renamed tick
    assert all(
        "/tick-" in f for f in glob.glob(f"{task_dir}/tick-*.jsonl")
    )


def test_tick_replay_content_addressed(spark, tmp_path) -> None:
    """A checkpoint-replayed tick that recomputes a DIFFERENT due-set
    (the catalog mutated between the original tick and its replay)
    must land a NEW file the downstream stream actually reads - the
    old fixed tick-N name silently replaced a file the stream had
    already consumed, orphaning the delta. Identical replays stay
    idempotent (same content hash -> same name), and the hash is
    row-order-insensitive (the publish sorts)."""
    import glob
    import os
    import time

    from etl_marketdata_downloader_archived_spark.streaming.schedule import (
        publish_tick,
    )

    task_dir = str(tmp_path / "in")
    os.makedirs(task_dir)

    due_v1 = spark.createDataFrame(
        [('{"ID":"1"}',), ('{"ID":"2"}',)], "task_json string"
    )
    p1 = publish_tick(spark, task_dir, 7, due_v1)
    assert p1 and os.path.basename(p1).startswith("tick-7-")

    # identical replay (row order shuffled): SAME name, one file
    due_v1_shuffled = spark.createDataFrame(
        [('{"ID":"2"}',), ('{"ID":"1"}',)], "task_json string"
    )
    assert publish_tick(spark, task_dir, 7, due_v1_shuffled) == p1
    assert glob.glob(f"{task_dir}/tick-7-*.jsonl") == [p1]

    # replay against a MUTATED catalog: new content -> NEW file,
    # original preserved
    due_v2 = spark.createDataFrame([('{"ID":"1"}',)], "task_json string")
    p2 = publish_tick(spark, task_dir, 7, due_v2)
    assert p2 != p1
    assert sorted(glob.glob(f"{task_dir}/tick-7-*.jsonl")) == sorted([p1, p2])

    # empty due-set publishes nothing
    empty = spark.createDataFrame([], "task_json string")
    assert publish_tick(spark, task_dir, 8, empty) is None

    # the downstream file stream sees BOTH due-sets - the replayed
    # one included (the exact delta the fixed-name scheme dropped)
    q = (
        spark.readStream.format("text")
        .load(task_dir)
        .writeStream.format("memory")
        .queryName("tick_replay_probe")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    seen = [r.value for r in spark.sql(
        "select value from tick_replay_probe"
    ).collect()]
    assert seen.count('{"ID":"1"}') == 2  # v1 file + replayed v2 file
    assert seen.count('{"ID":"2"}') == 1


def test_full_loop_scheduler_to_lake(spark, tmp_path) -> None:
    """The ENTIRE reference system live in one process: the scheduled
    harvester ticks against a mutable catalog and lands task files;
    the file task stream picks them up; the downloader fetches the
    (file://) sources and lands the lake + manifest - CloudWatch ->
    harvester -> SQS -> downloader -> S3, with zero components outside
    Spark. Asserts the payload arrives intact and replays stay
    idempotent across ticks (same task re-enqueued every tick; the
    manifest anti-join lands it once)."""
    import glob
    import time
    from datetime import datetime

    from etl_marketdata_downloader_archived_spark.streaming.schedule import (
        start_scheduled_harvest,
    )

    remote = tmp_path / "remote"
    remote.mkdir()
    (remote / "prices_2024.csv").write_text("px\n1.5\n")

    cat = tmp_path / "catalog.csv"
    cat.write_text(
        f"1,file://{remote}/prices_{{year}}.csv,hourly,x,1,y,z,DIRECT,"
        "prices_{year}.csv,0\r\n"
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    lake = str(tmp_path / "lake")
    manifest = str(tmp_path / "manifest")

    sched = start_scheduled_harvest(
        spark,
        str(cat),
        "hourly",
        str(in_dir),
        checkpoint=str(tmp_path / "ck_sched"),
        tick_seconds=2,
        now_fn=lambda: datetime(2024, 6, 15, 22, 30),
    )
    sink = None
    try:
        # wait for at least two ticks (the second re-enqueues the same
        # task - the idempotence case), then drain the queue once
        deadline = time.time() + 90
        while time.time() < deadline:
            if len(glob.glob(f"{in_dir}/tick-*.jsonl")) >= 2:
                break
            time.sleep(0.5)
        assert len(glob.glob(f"{in_dir}/tick-*.jsonl")) >= 2
        stream = file_task_stream(spark, str(in_dir), max_files_per_trigger=50)
        sink = start_lake_sink(
            stream, lake, manifest, str(tmp_path / "ck_sink")
        )
        sink.awaitTermination(120)

        landed = spark.read.parquet(lake).collect()
        assert [r.file_name for r in landed] == ["prices_2024.csv"]
        assert bytes(landed[0].content).decode() == "px\n1.5\n"
        from etl_marketdata_downloader_archived_spark.plans.downloader import (
            read_manifest_current,
        )

        assert read_manifest_current(spark, manifest).count() == 1
    finally:
        sched.stop()
        if sink is not None and sink.isActive:
            sink.stop()


def test_seasonal_monitor_stream_equals_batch(spark, tmp_path) -> None:
    """Streaming seasonal-naive deviation == the batch query's grid
    arithmetic under a hostile 2-batch split: hour-level data split
    ACROSS batches AND late baseline rows arriving after the
    dependent hour already emitted. The monitor must (a) compare
    cumulative counts, (b) RE-EMIT an hour whose baseline a later
    batch updated, so last-emission-per-hour equals the batch
    computation on the full data; hours with no lagged baseline carry
    status='no_baseline', never silent absence."""
    import os as _os
    import time as _time
    from collections import Counter
    from datetime import datetime, timedelta

    from etl_marketdata_downloader_archived_spark.streaming.quality_monitor import (
        start_seasonal_monitor,
    )

    h = lambda d, hh: f"2024-06-0{d} {hh:02d}:15:00"  # noqa: E731
    # day1 09h: 4 rows total, SPLIT 2+2 across the batches (late
    # baseline); day2 09h: 2 rows in batch 0 (emits vs partial
    # baseline, must be re-emitted by batch 1); day2 10h: batch 1,
    # no day1 10h baseline at all -> no_baseline
    b0 = [("x", h(1, 9)), ("x", h(1, 9)), ("x", h(2, 9)), ("x", h(2, 9))]
    b1 = [("x", h(1, 9)), ("x", h(1, 9)), ("x", h(2, 10))]

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for name, rows in (("b0.json", b0), ("b1.json", b1)):
        (in_dir / name).write_text(
            "\n".join(
                json.dumps({"event_type": g, "ts": t}) for g, t in rows
            )
        )
    now = _time.time()
    _os.utime(in_dir / "b0.json", (now - 10, now - 10))
    _os.utime(in_dir / "b1.json", (now, now))

    emitted: list = []

    def on_result(df, batch_id):
        emitted.append((batch_id, df.collect()))

    stream = (
        spark.readStream.schema("event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    q = start_seasonal_monitor(
        stream,
        "ts",
        checkpoint=str(tmp_path / "ckpt"),
        on_result=on_result,
        by=["event_type"],
    )
    q.awaitTermination(120)

    assert len(emitted) == 2
    rows0 = {r.hour_ts: r for r in emitted[0][1]}
    d1h9 = datetime(2024, 6, 1, 9)
    d2h9 = datetime(2024, 6, 2, 9)
    d2h10 = datetime(2024, 6, 2, 10)
    # batch 0: day1 09h has no baseline; day2 09h compares to the
    # PARTIAL day1 count (2 vs 2 - cumulative semantics, honest at
    # that point in time)
    assert rows0[d1h9].status == "no_baseline"
    assert (rows0[d2h9].n, rows0[d2h9].n_prev) == (2, 2)
    assert rows0[d2h9].deviation == 0.0 and not rows0[d2h9].is_anomaly

    # batch 1 touches day1 09h -> must RE-EMIT day2 09h with the
    # completed baseline, plus the new day2 10h with no baseline
    rows1 = {r.hour_ts: r for r in emitted[1][1]}
    assert (rows1[d1h9].n, rows1[d1h9].status) == (4, "no_baseline")
    assert (rows1[d2h9].n, rows1[d2h9].n_prev) == (2, 4)
    assert rows1[d2h9].deviation == (2.0 - 4.0) / 4.0
    assert rows1[d2h9].is_anomaly  # 2*|2-4| >= 4
    assert rows1[d2h10].status == "no_baseline"

    # twin: last emission per hour == the batch query's arithmetic
    # over the FULL data
    grid = Counter()
    for g, t in b0 + b1:
        dt = datetime.strptime(t, "%Y-%m-%d %H:%M:%S")
        grid[(g, dt.replace(minute=0, second=0))] += 1
    last = {}
    for _bid, rows in emitted:
        for r in rows:
            last[(r.event_type, r.hour_ts)] = r
    day = timedelta(hours=24)
    for (g, hh), n in grid.items():
        r = last[(g, hh)]
        assert r.n == n
        prev = grid.get((g, hh - day))
        if prev is None:
            assert r.status == "no_baseline" and r.n_prev is None
        else:
            assert r.n_prev == prev
            assert r.deviation == (n - prev) / prev
            assert r.is_anomaly == (2 * abs(n - prev) >= prev)


def test_trending_monitor_stream_equals_batch(spark, tmp_path) -> None:
    """Cumulative heavy-hitter emissions: each batch's top-k reflects
    the WHOLE stream so far (carried combined sketch state), and the
    final emission equals the batch sketch build+estimate over the
    union - exact here because the tracked-item budget covers the
    item universe."""
    import os as _os
    import time as _time

    from etl_marketdata_downloader_archived_spark.operators.sketches import (
        build_topk_sketches,
        estimate_topk,
    )
    from etl_marketdata_downloader_archived_spark.streaming.quality_monitor import (
        start_trending_monitor,
    )

    b0 = ["a"] * 5 + ["b"] * 3 + ["c"] * 1
    b1 = ["c"] * 6 + ["b"] * 1
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for name, items in (("b0.json", b0), ("b1.json", b1)):
        (in_dir / name).write_text(
            "\n".join(json.dumps({"item_id": it}) for it in items)
        )
    now = _time.time()
    _os.utime(in_dir / "b0.json", (now - 10, now - 10))
    _os.utime(in_dir / "b1.json", (now, now))

    emitted: dict = {}

    def on_result(df, batch_id):
        emitted[batch_id] = {
            r.item: (r["count"], r.rank) for r in df.collect()
        }

    stream = (
        spark.readStream.schema("item_id string")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    q = start_trending_monitor(
        stream,
        "item_id",
        checkpoint=str(tmp_path / "ckpt"),
        on_result=on_result,
        k=10,
        max_items_tracked=100,
    )
    q.awaitTermination(120)

    assert len(emitted) == 2
    # batch 0: stream-so-far counts
    assert emitted[0] == {"a": (5, 1), "b": (3, 2), "c": (1, 3)}
    # batch 1: CUMULATIVE - c overtakes via the carried state
    assert emitted[1] == {"c": (7, 1), "a": (5, 2), "b": (4, 3)}

    # twin vs the batch sketch path over the union
    full = spark.createDataFrame(
        [(it,) for it in b0 + b1], "item_id string"
    )
    want = {
        r.item: r["count"]
        for r in estimate_topk(
            build_topk_sketches(full, "item_id", [], 100), 10
        ).collect()
    }
    assert {i: c for i, (c, _r) in emitted[1].items()} == want


def test_trending_monitor_grouped_keeps_groups_separate(spark, tmp_path) -> None:
    """Grouped mode: per-group cumulative top-k with independent
    rank sequences; a group absent from a batch still carries its
    state into later emissions."""
    import os as _os
    import time as _time

    from etl_marketdata_downloader_archived_spark.streaming.quality_monitor import (
        start_trending_monitor,
    )

    b0 = [("us", "a"), ("us", "a"), ("eu", "x")]
    b1 = [("us", "b"), ("us", "b"), ("us", "b")]  # eu absent this batch
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for name, rows in (("b0.json", b0), ("b1.json", b1)):
        (in_dir / name).write_text(
            "\n".join(
                json.dumps({"region": g, "item_id": it}) for g, it in rows
            )
        )
    now = _time.time()
    _os.utime(in_dir / "b0.json", (now - 10, now - 10))
    _os.utime(in_dir / "b1.json", (now, now))

    emitted: dict = {}

    def on_result(df, batch_id):
        emitted[batch_id] = {
            (r.region, r.item): (r["count"], r.rank) for r in df.collect()
        }

    stream = (
        spark.readStream.schema("region string, item_id string")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    q = start_trending_monitor(
        stream,
        "item_id",
        checkpoint=str(tmp_path / "ckpt"),
        on_result=on_result,
        by=["region"],
        k=5,
        max_items_tracked=100,
    )
    q.awaitTermination(120)

    assert emitted[0] == {
        ("us", "a"): (2, 1),
        ("eu", "x"): (1, 1),
    }
    # eu state survives a batch with no eu rows; us ranks re-shuffle
    assert emitted[1] == {
        ("us", "b"): (3, 1),
        ("us", "a"): (2, 2),
        ("eu", "x"): (1, 1),
    }


def test_cumulative_monitors_refuse_snapshotless_checkpoint(
    spark, tmp_path
) -> None:
    """The one unrecoverable restart made LOUD: a checkpoint with
    committed batches but NO state snapshot (a pre-snapshot run, or a
    hand-deleted state dir) cannot resume exactly - the store would
    restart empty and silently under-count - so start() must raise.
    With the snapshot intact the same restart resumes (covered by the
    resume tests)."""
    import shutil

    import pytest as _pytest

    from etl_marketdata_downloader_archived_spark.streaming.quality_monitor import (
        start_seasonal_monitor,
        start_trending_monitor,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b0.json").write_text(
        json.dumps({"event_type": "x", "ts": "2024-06-01 09:00:00"})
    )
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema("event_type string, ts timestamp").json(
        str(in_dir)
    )
    q = start_seasonal_monitor(
        stream, "ts", checkpoint=ckpt, on_result=lambda df, b: None
    )
    q.awaitTermination(120)

    shutil.rmtree(tmp_path / "ckpt" / "state_snapshots")
    with _pytest.raises(ValueError, match="no state snapshot"):
        start_seasonal_monitor(
            stream, "ts", checkpoint=ckpt, on_result=lambda df, b: None
        )
    with _pytest.raises(ValueError, match="no state snapshot"):
        start_trending_monitor(
            stream, "event_type", checkpoint=ckpt,
            on_result=lambda df, b: None,
        )


def test_seasonal_monitor_resumes_exactly(spark, tmp_path) -> None:
    """Kill/restart mid-stream: batch 0 runs, the monitor stops, and
    a NEW start against the SAME checkpoint processes batch 1 on top
    of the persisted state snapshot - final emissions equal the
    uninterrupted batch computation over the full data (the same
    cumulative-baseline arithmetic the stream==batch twin pins)."""
    from collections import Counter
    from datetime import datetime, timedelta

    from etl_marketdata_downloader_archived_spark.streaming.quality_monitor import (
        start_seasonal_monitor,
    )

    h = lambda d, hh: f"2024-06-0{d} {hh:02d}:15:00"  # noqa: E731
    b0 = [("x", h(1, 9)), ("x", h(1, 9)), ("x", h(2, 9)), ("x", h(2, 9))]
    b1 = [("x", h(1, 9)), ("x", h(1, 9)), ("x", h(2, 10))]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    emitted: list = []

    def on_result(df, batch_id):
        emitted.append((batch_id, df.collect()))

    def run_once():
        stream = (
            spark.readStream.schema("event_type string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        q = start_seasonal_monitor(
            stream, "ts", checkpoint=ckpt,
            on_result=on_result, by=["event_type"],
        )
        q.awaitTermination(120)

    (in_dir / "b0.json").write_text(
        "\n".join(json.dumps({"event_type": g, "ts": t}) for g, t in b0)
    )
    run_once()  # processes batch 0, then the query terminates
    assert [bid for bid, _ in emitted] == [0]

    (in_dir / "b1.json").write_text(
        "\n".join(json.dumps({"event_type": g, "ts": t}) for g, t in b1)
    )
    run_once()  # RESTART: must resume from the snapshot, not refuse
    assert [bid for bid, _ in emitted] == [0, 1]

    # identical final-state contract as the uninterrupted twin
    grid = Counter()
    for g, t in b0 + b1:
        dt = datetime.strptime(t, "%Y-%m-%d %H:%M:%S")
        grid[(g, dt.replace(minute=0, second=0))] += 1
    last = {}
    for _bid, rows in emitted:
        for r in rows:
            last[(r.event_type, r.hour_ts)] = r
    day = timedelta(hours=24)
    for (g, hh), n in grid.items():
        r = last[(g, hh)]
        assert r.n == n
        prev = grid.get((g, hh - day))
        if prev is None:
            assert r.status == "no_baseline" and r.n_prev is None
        else:
            assert (r.n_prev, r.deviation) == (prev, (n - prev) / prev)
    # the re-emit rule survived the restart: batch 1's late day-1 rows
    # must re-emit day-2 09h against the COMPLETED baseline
    rows1 = {r.hour_ts: r for r in emitted[1][1]}
    assert rows1[datetime(2024, 6, 2, 9)].n_prev == 4


def test_seasonal_monitor_replay_is_idempotent(spark, tmp_path) -> None:
    """Crash between snapshot and commit, simulated by deleting the
    last commit marker: the restart REPLAYS that batch, which must
    re-base on the prior snapshot and emit byte-identical rows -
    never double-merge."""
    import os

    from etl_marketdata_downloader_archived_spark.streaming.quality_monitor import (
        start_seasonal_monitor,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    emitted: list = []

    def run_once():
        stream = (
            spark.readStream.schema("event_type string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        q = start_seasonal_monitor(
            stream, "ts", checkpoint=str(ckpt),
            on_result=lambda df, b: emitted.append((b, df.collect())),
            by=["event_type"],
        )
        q.awaitTermination(120)

    (in_dir / "b0.json").write_text(
        "\n".join(
            json.dumps({"event_type": "x", "ts": "2024-06-01 09:15:00"})
            for _ in range(3)
        )
    )
    run_once()
    (in_dir / "b1.json").write_text(
        json.dumps({"event_type": "x", "ts": "2024-06-02 09:15:00"})
    )
    run_once()
    assert [bid for bid, _ in emitted] == [0, 1]

    os.remove(ckpt / "commits" / "1")  # crash-before-commit twin
    crc = ckpt / "commits" / ".1.crc"  # ChecksumFS shadow of the marker
    if crc.exists():
        os.remove(crc)
    run_once()  # replays batch 1
    assert [bid for bid, _ in emitted] == [0, 1, 1]
    first = sorted(map(tuple, emitted[1][1]))
    replay = sorted(map(tuple, emitted[2][1]))
    assert replay == first  # idempotent: same cumulative counts
    assert first[0][2:4] == (1, 3)  # n=1, n_prev = day-1 count 3 (not 6)


def test_trending_monitor_resumes_exactly(spark, tmp_path) -> None:
    """Kill/restart for the trending monitor: the combined sketch
    state round-trips through the parquet snapshot, so a restarted
    run's emission still reflects the WHOLE stream (c overtakes a
    only if batch 0's counts survived the restart)."""
    from etl_marketdata_downloader_archived_spark.streaming.quality_monitor import (
        start_trending_monitor,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    emitted: dict = {}

    def run_once():
        stream = (
            spark.readStream.schema("item_id string")
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        q = start_trending_monitor(
            stream, "item_id", checkpoint=ckpt,
            on_result=lambda df, b: emitted.__setitem__(
                b, {r.item: (r["count"], r.rank) for r in df.collect()}
            ),
            k=10, max_items_tracked=100,
        )
        q.awaitTermination(120)

    (in_dir / "b0.json").write_text(
        "\n".join(
            json.dumps({"item_id": it})
            for it in ["a"] * 5 + ["b"] * 3 + ["c"]
        )
    )
    run_once()
    assert emitted[0] == {"a": (5, 1), "b": (3, 2), "c": (1, 3)}

    (in_dir / "b1.json").write_text(
        "\n".join(
            json.dumps({"item_id": it}) for it in ["c"] * 6 + ["b"]
        )
    )
    run_once()  # restart resumes the sketch state
    assert emitted[1] == {"c": (7, 1), "a": (5, 2), "b": (4, 3)}


def test_seasonal_monitor_store_guard_fails_loudly(spark, tmp_path) -> None:
    """A group column whose cardinality outgrows the control table
    must fail the stream with the guard's message - loud, like the
    checkpoint refusal - not silently shed state."""
    import pytest as _pytest

    from etl_marketdata_downloader_archived_spark.streaming.quality_monitor import (
        start_seasonal_monitor,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b0.json").write_text(
        "\n".join(
            json.dumps(
                {"event_type": f"g{i}", "ts": "2024-06-01 09:00:00"}
            )
            for i in range(8)
        )
    )
    stream = spark.readStream.schema(
        "event_type string, ts timestamp"
    ).json(str(in_dir))
    q = start_seasonal_monitor(
        stream, "ts", checkpoint=str(tmp_path / "ckpt"),
        on_result=lambda df, b: None, by=["event_type"],
        max_store_rows=3,
    )
    with _pytest.raises(Exception, match="max_store_rows"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()


def test_seasonal_monitor_horizon_ages_out(spark, tmp_path) -> None:
    """Rolling horizon bounds the store: hours older than
    horizon+lag are EVICTED from the persisted snapshot (the
    store's on-disk twin), late data touching them emits
    status='beyond_horizon' with no cumulative claim, and in-horizon
    hours keep the exact batch-twin arithmetic."""
    from datetime import datetime

    import pytest as _pytest

    from etl_marketdata_downloader_archived_spark.streaming.quality_monitor import (
        start_seasonal_monitor,
    )

    with _pytest.raises(ValueError, match="horizon_hours"):
        start_seasonal_monitor(
            spark.readStream.schema("ts timestamp").json(str(tmp_path)),
            "ts", checkpoint=str(tmp_path / "c0"),
            on_result=lambda df, b: None, horizon_hours=12, lag_hours=24,
        )

    ts = lambda d, hh: f"2024-06-0{d} {hh:02d}:15:00"  # noqa: E731
    # b0: day1 08h + day2 09h; b1 pushes max to day4 09h -> with
    # horizon=24 and lag=24, emit cutoff = day3 09h and keep cutoff =
    # day2 09h, so the late day1 08h row is beyond everyone's
    # baseline: batch-local count, never merged, evicted from store
    b0 = [ts(1, 8), ts(2, 9)]
    b1 = [ts(3, 9), ts(4, 9), ts(1, 8)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for name, rows in (("b0.json", b0), ("b1.json", b1)):
        (in_dir / name).write_text(
            "\n".join(json.dumps({"ts": t}) for t in rows)
        )
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(in_dir / "b0.json", (now - 10, now - 10))
    _os.utime(in_dir / "b1.json", (now, now))

    emitted: dict = {}
    stream = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    ckpt = tmp_path / "ckpt"
    q = start_seasonal_monitor(
        stream, "ts", checkpoint=str(ckpt),
        on_result=lambda df, b: emitted.__setitem__(
            b, {r.hour_ts: r for r in df.collect()}
        ),
        horizon_hours=24,
    )
    q.awaitTermination(120)

    d1h8 = datetime(2024, 6, 1, 8)
    d3h9 = datetime(2024, 6, 3, 9)
    d4h9 = datetime(2024, 6, 4, 9)
    r = emitted[1][d1h8]
    assert r.status == "beyond_horizon"
    assert r.n == 1  # batch-local: no cumulative claim (b0's row aged out)
    assert r.n_prev is None and r.deviation is None and not r.is_anomaly
    # in-horizon hours keep exact arithmetic: day4 09h vs day3 09h
    assert emitted[1][d4h9].status == "ok"
    assert (emitted[1][d4h9].n, emitted[1][d4h9].n_prev) == (1, 1)
    assert emitted[1][d3h9].status == "ok"  # baseline day2 09h kept

    # the aged-out hour is GONE from the persisted store snapshot
    snap = spark.read.parquet(str(ckpt / "state_snapshots" / "batch-1"))
    held_hours = {
        datetime.fromtimestamp(r["_hour_us"] / 1_000_000)
        for r in snap.collect()
    }
    assert d1h8 not in held_hours
    assert {datetime(2024, 6, 2, 9), d3h9, d4h9} <= held_hours


def test_seasonal_monitor_horizon_all_null_first_batch(
    spark, tmp_path
) -> None:
    """An all-NULL-timestamp first batch under horizon_hours must not
    crash (NULL rows drop by contract, leaving no horizon anchor) -
    and the next batch with real timestamps proceeds normally."""
    import os as _os
    import time as _time
    from datetime import datetime

    from etl_marketdata_downloader_archived_spark.streaming.quality_monitor import (
        start_seasonal_monitor,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b0.json").write_text(json.dumps({"ts": None}))
    (in_dir / "b1.json").write_text(
        json.dumps({"ts": "2024-06-01 09:15:00"})
    )
    now = _time.time()
    _os.utime(in_dir / "b0.json", (now - 10, now - 10))
    _os.utime(in_dir / "b1.json", (now, now))

    emitted: dict = {}
    stream = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    q = start_seasonal_monitor(
        stream, "ts", checkpoint=str(tmp_path / "ckpt"),
        on_result=lambda df, b: emitted.__setitem__(b, df.collect()),
        horizon_hours=24,
    )
    q.awaitTermination(120)
    assert emitted[0] == []  # nothing to emit, but no crash
    assert len(emitted[1]) == 1
    r = emitted[1][0]
    assert r.hour_ts == datetime(2024, 6, 1, 9)
    assert (r.n, r.status) == (1, "no_baseline")


def test_streaming_join_view_maintenance(spark, tmp_path) -> None:
    """A CDC stream of left-side upserts/deletes maintains BOTH the
    keyed left store and the materialized join view; after three
    micro-batches both equal the from-scratch fold, and the seq rule
    (highest change ordinal per key wins within a batch) holds."""
    import json as _json
    import time as _time

    from pyspark.sql import functions as F

    from etl_marketdata_downloader_archived_spark.io import build_join_view
    from etl_marketdata_downloader_archived_spark.streaming.views import (
        start_join_view_maintenance,
    )

    right = spark.createDataFrame(
        [(k, f"R{k}") for k in range(1, 8)], "k bigint, rval string"
    )
    left0 = spark.createDataFrame(
        [(1, "a0"), (2, "b0")], "k bigint, lval string"
    )
    left_path = str(tmp_path / "left")
    view = str(tmp_path / "view")
    left0.coalesce(1).write.parquet(left_path)
    build_join_view(left0, right, "k", view, n_buckets=4)

    batches = [
        # upsert new key 3; update key 2 twice in-batch (seq 11 wins)
        [(3, "c1", "upsert", 10), (2, "b1", "upsert", 9),
         (2, "b2", "upsert", 11)],
        # delete key 1; upsert key 4
        [(1, None, "delete", 20), (4, "d1", "upsert", 21)],
        # re-upsert the deleted key 1; STALE redelivery of key 2's
        # seq-9 change in a LATER batch must lose to the stored seq-11
        [(1, "a2", "upsert", 30), (2, "b1", "upsert", 9)],
    ]
    src = tmp_path / "cdc"
    src.mkdir()
    for i, rows in enumerate(batches, 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                _json.dumps({"k": k, "lval": v, "op": op, "ts": ts})
                for k, v, op, ts in rows
            )
        )
        _time.sleep(1.1)

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    upd = raw.select(
        F.from_json(
            "value", "k LONG, lval STRING, op STRING, ts LONG"
        ).alias("j")
    ).select("j.*")
    q = start_join_view_maintenance(
        upd,
        left_path=left_path,
        right=right,
        on="k",
        view_path=view,
        checkpoint=str(tmp_path / "ckpt"),
        n_buckets=4,
    )
    q.awaitTermination(180)

    want_left = {1: "a2", 2: "b2", 3: "c1", 4: "d1"}
    store = spark.read.parquet(left_path)
    got_left = {
        r.k: r.lval for r in store.filter("NOT _deleted").collect()
    }
    assert got_left == want_left  # incl. b2 surviving the stale replay
    got_view = sorted(
        (r.k, r.lval, r.rval)
        for r in spark.read.parquet(view).drop("_bucket").collect()
    )
    assert got_view == sorted(
        (k, v, f"R{k}") for k, v in want_left.items()
    )


def test_streaming_join_view_survives_crashed_store_swap(
    spark, tmp_path
) -> None:
    """A publish crash between the store swap's two renames (live dir
    renamed aside to __old, stage never moved in) must NOT read as
    first-batch on the next trigger: the fold self-recovers the
    previous snapshot, so previously-folded keys survive (ADVICE r9:
    a delete-then-write overwrite here silently truncated the store
    to the replayed batch's winners)."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from etl_marketdata_downloader_archived_spark.io import build_join_view
    from etl_marketdata_downloader_archived_spark.streaming.views import (
        start_join_view_maintenance,
    )

    right = spark.createDataFrame(
        [(k, f"R{k}") for k in range(1, 6)], "k bigint, rval string"
    )
    left0 = spark.createDataFrame([(1, "a0")], "k bigint, lval string")
    left_path = str(tmp_path / "left")
    view = str(tmp_path / "view")
    left0.coalesce(1).write.parquet(left_path)
    build_join_view(left0, right, "k", view, n_buckets=2)

    src = tmp_path / "cdc"
    src.mkdir()

    def run(name: str, rows) -> None:
        (src / name).write_text(
            "\n".join(
                _json.dumps({"k": k, "lval": v, "op": "upsert", "ts": ts})
                for k, v, ts in rows
            )
        )
        raw = spark.readStream.format("text").load(str(src))
        upd = raw.select(
            F.from_json(
                "value", "k LONG, lval STRING, op STRING, ts LONG"
            ).alias("j")
        ).select("j.*")
        q = start_join_view_maintenance(
            upd,
            left_path=left_path,
            right=right,
            on="k",
            view_path=view,
            checkpoint=str(tmp_path / "ckpt"),
            n_buckets=2,
        )
        q.awaitTermination(120)

    run("b1.json", [(2, "b1", 10)])
    _time.sleep(1.1)
    # crash twin: the NEXT publish died after renaming live aside
    _os.rename(left_path, left_path + "__old")
    run("b2.json", [(3, "c1", 20)])
    store = spark.read.parquet(left_path)
    got = {r.k: r.lval for r in store.filter("NOT _deleted").collect()}
    # key 1 (initial snapshot) and key 2 (batch 1) both survive the
    # crashed swap; a truncating rebuild would have left only key 3
    assert got == {1: "a0", 2: "b1", 3: "c1"}
    assert not _os.path.exists(left_path + "__old")
    got_view = sorted(
        (r.k, r.lval, r.rval)
        for r in spark.read.parquet(view).drop("_bucket").collect()
    )
    assert got_view == [(1, "a0", "R1"), (2, "b1", "R2"), (3, "c1", "R3")]


def test_watermark_replay_matches_stream(spark, tmp_path) -> None:
    """The batch replay model (streaming.windows.watermark_replay) must
    reproduce a REAL append-mode watermarked stream row-for-row: same
    late-drop set (window end <= watermark drops, equality included),
    same emitted windows (closed under the final watermark). The feed
    deliberately exercises the equality edge: a row whose window end
    lands exactly ON the in-effect watermark."""
    import os

    from etl_marketdata_downloader_archived_spark.streaming import (
        tumbling_agg,
        watermark_replay,
    )

    src = tmp_path / "wm_src"
    src.mkdir()
    ckpt = str(tmp_path / "wm_ckpt")
    batches = [
        # batch 0: on-time rows, max ts 00:25 -> wm after = 00:20
        [
            {"ts": "2024-01-01 00:00:30", "v": 1},
            {"ts": "2024-01-01 00:05:00", "v": 2},
            {"ts": "2024-01-01 00:25:00", "v": 4},
        ],
        # batch 1 (wm = 00:20): 00:07 -> window end 00:10 <= wm DROP;
        # 00:15 -> end 00:20 == wm DROP (equality edge); 00:21 keeps;
        # 00:45 advances wm to 00:40
        [
            {"ts": "2024-01-01 00:07:00", "v": 8},
            {"ts": "2024-01-01 00:15:00", "v": 16},
            {"ts": "2024-01-01 00:21:00", "v": 32},
            {"ts": "2024-01-01 00:45:00", "v": 64},
        ],
        # batch 2: flush + one more open window
        [{"ts": "2024-01-01 01:30:00", "v": 128}],
        # batch 3: far-future row closes everything before it
        [{"ts": "2024-01-01 03:00:00", "v": 256}],
    ]

    emitted: list[tuple] = []

    def sink(b, bid: int) -> None:
        emitted.extend(
            (r["start"], r["n"], r["s"])
            for r in b.select("w.start", "n", "s").collect()
        )

    for i, rows in enumerate(batches):
        (src / f"b{i}.json").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )
        raw = spark.readStream.format("text").load(str(src))
        parsed = raw.select(
            F.from_json("value", "ts TIMESTAMP, v LONG").alias("j")
        ).select("j.*")
        agg = tumbling_agg(
            parsed,
            "ts",
            "10 minutes",
            F.count("*").alias("n"),
            F.sum("v").alias("s"),
            watermark="5 minutes",
        )
        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None

    flat = [
        dict(r, batch_id=i)
        for i, rows in enumerate(batches)
        for r in rows
    ]
    feed = spark.createDataFrame(
        [(r["ts"], r["v"], r["batch_id"]) for r in flat],
        "ts STRING, v LONG, batch_id INT",
    ).withColumn("ts", F.to_timestamp("ts"))
    flagged = watermark_replay(
        feed, "ts", "batch_id", delay_ms=300_000, width_ms=600_000
    )
    replay = {
        (r["w_start_ms"]): (r["n"], r["s"])
        for r in flagged.filter("emitted")
        .groupBy("w_start_ms")
        .agg(
            F.count(F.when(~F.col("late_dropped"), 1)).alias("n"),
            F.sum(F.when(~F.col("late_dropped"), F.col("v"))).alias("s"),
        )
        .collect()
    }
    got = {
        int(s.timestamp() * 1000): (n, v) for s, n, v in emitted
    }
    assert got == replay
    # the equality-edge row (end == wm) and the fully-late row are the
    # ONLY drops, and the replay flags exactly them
    drops = sorted(
        r["v"] for r in flagged.filter("late_dropped").collect()
    )
    assert drops == [8, 16]


def test_streaming_trailing_distinct_matches_batch(spark, tmp_path) -> None:
    """The streaming trailing-7-day distinct panel must converge to
    the batch cover-day query on the same feed: multi-batch arrival
    (users repeating within and across days), update-mode counts read
    at the end, duplicates collapsed exactly once per (user, day)."""
    from etl_marketdata_downloader_archived_spark.streaming import (
        streaming_trailing_distinct,
    )

    src = tmp_path / "act_src"
    src.mkdir()
    batches = [
        [
            {"u": 1, "ts": "2024-03-01 10:00:00"},
            {"u": 2, "ts": "2024-03-01 11:00:00"},
            {"u": 1, "ts": "2024-03-01 12:00:00"},  # same-day dup
        ],
        [
            {"u": 1, "ts": "2024-03-02 09:00:00"},
            {"u": 3, "ts": "2024-03-04 09:00:00"},
            {"u": 2, "ts": "2024-03-09 09:00:00"},
        ],
        [{"u": 1, "ts": "2024-03-01 13:00:00"}],  # cross-batch dup
    ]
    results: dict = {}

    def sink(b, bid: int) -> None:
        for r in b.collect():
            results[r.cover_day] = r.active_keys  # update mode: last wins

    ckpt = str(tmp_path / "act_ckpt")
    for i, rows in enumerate(batches):
        (src / f"b{i}.json").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )
        raw = spark.readStream.format("text").load(str(src))
        parsed = raw.select(
            F.from_json("value", "u LONG, ts TIMESTAMP").alias("j")
        ).select("j.*")
        q = (
            streaming_trailing_distinct(parsed, "ts", "u", late_days=3)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None

    flat = [r for rows in batches for r in rows]
    feed = spark.createDataFrame(
        [(r["u"], r["ts"]) for r in flat], "u LONG, ts STRING"
    ).select("u", F.to_timestamp("ts").alias("ts"))
    act = feed.select("u", F.col("ts").cast("date").alias("day")).distinct()
    batch = {
        r.cover_day: r.n
        for r in act.select(
            "u",
            F.explode(
                F.expr("sequence(day, date_add(day, 6), interval 1 day)")
            ).alias("cover_day"),
        )
        .distinct()
        .groupBy("cover_day")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert results == batch
    # spot-check: March 2 window covers Mar 1 + Mar 2 activity = users {1,2}
    # (u1 contributes via BOTH days - the second dedup must collapse it
    # even though the two source events are a day apart, the horizon
    # bug the review caught)
    import datetime as dt

    assert results[dt.date(2024, 3, 2)] == 2

def test_streaming_trailing_distinct_state_evicts(spark, tmp_path) -> None:
    """ADVICE r11: the trailing-distinct aggregation must window on
    the watermarked event-time column so finalized days EVICT - the
    derived-date group key accumulated one state row per calendar
    day forever. Feed activity 60 days apart (horizon 8 days): after
    the watermark passes January, the total state row count must be
    bounded by the RECENT horizon, not by every day ever seen."""
    from etl_marketdata_downloader_archived_spark.streaming import (
        streaming_trailing_distinct,
    )

    src = tmp_path / "evict_src"
    src.mkdir()
    batches = [
        [{"u": u, "ts": "2024-01-01 10:00:00"} for u in range(5)],
        [{"u": u, "ts": "2024-03-01 10:00:00"} for u in range(5)],
        # third batch pushes the watermark past March 1's cover too
        [{"u": 1, "ts": "2024-03-20 10:00:00"}],
    ]
    ckpt = str(tmp_path / "evict_ckpt")
    state_rows = []
    for i, rows in enumerate(batches):
        (src / f"b{i}.json").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )
        raw = spark.readStream.format("text").load(str(src))
        parsed = raw.select(
            F.from_json("value", "u LONG, ts TIMESTAMP").alias("j")
        ).select("j.*")
        q = (
            streaming_trailing_distinct(parsed, "ts", "u", late_days=1)
            .writeStream.foreachBatch(lambda b, bid: b.count())
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
        prog = q.lastProgress
        if prog and prog.get("stateOperators"):
            state_rows.append(
                sum(op["numRowsTotal"] for op in prog["stateOperators"])
            )
    # January: 5 users x 7 cover days = 35 dedup rows + 7 agg rows.
    # If nothing evicted, the final batch would still hold >= 84 rows
    # (Jan 42 + Mar 42); with eviction only the March-20 tail remains.
    assert state_rows, "no state metrics captured"
    assert state_rows[-1] < 30, (
        f"state not evicted: {state_rows} rows across batches"
    )

def test_kafka_double_malformed_json_quarantine(
    spark, tmp_path, monkeypatch
) -> None:
    """Kafka contract double, error-path extension (VERDICT r11 item
    7): a topic mixing one valid task, one malformed-JSON message,
    and one unknown-TYPE message must land the valid file, quarantine
    the other two with NAMED reasons (the malformed payload quoted,
    not a NULL reason), and keep the stream alive; the
    per-partition-offsets startingOffsets JSON and failOnDataLoss
    must pass through the option surface verbatim."""
    from pyspark.sql import SparkSession
    from pyspark.sql.streaming import DataStreamReader

    from etl_marketdata_downloader_archived_spark.streaming import (
        kafka_task_stream,
    )

    remote = tmp_path / "remote"
    remote.mkdir()
    (remote / "ok.csv").write_text("x\n1\n")
    src = tmp_path / "topic_msgs"
    src.mkdir()
    good = {
        "ID": "g1",
        "URL": f"file://{remote}/ok.csv",
        "TYPE": "DIRECT",
        "PATTERN": "ok.csv",
        "UTC": "0",
    }
    bad_type = {
        "ID": "b1",
        "URL": "file:///nowhere",
        "TYPE": "CARRIER_PIGEON",
        "PATTERN": "x",
        "UTC": "0",
    }
    (src / "m.json").write_text(
        json.dumps(good)
        + "\n{this is not json at all"
        + "\n"
        + json.dumps(bad_type)
    )

    captured: dict[str, str] = {}

    class _FakeKafkaReader:
        def __init__(self, session: SparkSession) -> None:
            self._spark = session
            self._fmt: str | None = None

        def format(self, fmt: str) -> "_FakeKafkaReader":
            self._fmt = fmt
            return self

        def option(self, k: str, v: str) -> "_FakeKafkaReader":
            captured[k] = v
            return self

        def load(self):
            assert self._fmt == "kafka"
            raw = (
                DataStreamReader(self._spark)
                .format("text")
                .load(str(src))
            )
            return raw.select(
                F.lit(None).cast("binary").alias("key"),
                F.encode("value", "UTF-8").alias("value"),
                F.lit(captured.get("subscribe")).alias("topic"),
                F.lit(0).alias("partition"),
                F.lit(0).cast("long").alias("offset"),
                F.current_timestamp().alias("timestamp"),
                F.lit(0).alias("timestampType"),
            )

    monkeypatch.setattr(
        SparkSession,
        "readStream",
        property(lambda self: _FakeKafkaReader(self)),
    )

    offsets_json = '{"tasks":{"0":23,"1":-2}}'
    tasks = kafka_task_stream(
        spark,
        "broker-1:9092",
        "tasks",
        starting_offsets=offsets_json,
        extra_options={"failOnDataLoss": "false"},
    )
    assert captured["startingOffsets"] == offsets_json
    assert captured["failOnDataLoss"] == "false"

    lake = str(tmp_path / "lake")
    qdir = str(tmp_path / "quarantine")
    q = start_lake_sink(
        tasks,
        lake,
        str(tmp_path / "manifest"),
        str(tmp_path / "ckpt"),
        quarantine_dir=qdir,
    )
    q.awaitTermination(120)
    assert q.exception() is None

    landed = spark.read.parquet(lake)
    assert [r.file_name for r in landed.collect()] == ["ok.csv"]
    quarantined = {
        (r.ID, r.REASON) for r in spark.read.parquet(qdir).collect()
    }
    assert ("b1", "unknown TYPE: CARRIER_PIGEON") in quarantined
    malformed = [
        (i, reason)
        for i, reason in quarantined
        if i is not None and i.startswith("malformed:")
    ]
    assert len(malformed) == 1
    # the sentinel key is the retry identity the DLQ gate counts on
    assert "malformed or TYPE-less task JSON" in malformed[0][1]
    assert "{this is not json at all" in malformed[0][1]

def test_streaming_exact_admission_ingest(spark, tmp_path) -> None:
    """EXACT Jaccard admission on a live stream (the recall-1.0 twin
    of the near-dup ingest): batch 1 seeds the corpus and collapses
    an intra-batch duplicate to its min-id representative; batch 2's
    high-overlap doc is rejected against the PERSISTED corpus via the
    two-corpus join while a below-threshold doc sharing a prefix of
    words is ADMITTED (exactness cuts both ways - no false
    rejections); batch 3 rejects against a batch-2 admission (the
    corpus grew)."""
    from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
        start_corpus_ingest_exact,
    )

    base = ("the quick brown fox jumps over the lazy dog near the river "
            "bank every single day without fail in all weather")
    novel = ("entirely new english words the gate accepts with plenty of "
             "variety about the spark operators that clean the corpus")
    half = ("the quick brown fox jumps over the lazy dog near small "
            "green engines that sort tables and merge batches quickly")
    src = tmp_path / "ex_src"
    src.mkdir()

    def run() -> None:
        raw = spark.readStream.format("text").load(str(src))
        docs = raw.select(
            F.from_json("value", "doc_id LONG, text STRING").alias("j")
        ).select("j.*")
        q = start_corpus_ingest_exact(
            docs,
            corpus_dir=str(tmp_path / "ex_corpus"),
            postings_dir=str(tmp_path / "ex_postings"),
            checkpoint_dir=str(tmp_path / "ex_ckpt"),
            jaccard_threshold=0.7,
        )
        q.awaitTermination(180)

    (src / "b1.json").write_text(
        json.dumps({"doc_id": 2, "text": base})
        + "\n"
        + json.dumps({"doc_id": 1, "text": base})  # intra-batch dup
    )
    run()
    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "ex_corpus")).collect()
    )
    assert ids == [1]  # min-id representative

    (src / "b2.json").write_text(
        json.dumps({"doc_id": 10, "text": base + " indeed"})  # ~0.95: reject
        + "\n"
        + json.dumps({"doc_id": 11, "text": novel})           # novel: admit
        + "\n"
        + json.dumps({"doc_id": 12, "text": half})            # ~0.3: ADMIT
    )
    run()
    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "ex_corpus")).collect()
    )
    assert ids == [1, 11, 12]

    (src / "b3.json").write_text(
        json.dumps({"doc_id": 20, "text": novel + " again"})  # vs batch 2
    )
    run()
    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "ex_corpus")).collect()
    )
    assert ids == [1, 11, 12]
    # the posting store carries exactly the admitted docs (batch 3's
    # rejection came from batch 2's PERSISTED postings - the corpus
    # was only read for the candidate rows)
    post_ids = {
        r._id
        for r in spark.read.parquet(
            str(tmp_path / "ex_postings")
        ).collect()
    }
    assert post_ids == {1, 11, 12}

def test_streaming_trailing_distinct_non_utc_timezone(spark, tmp_path) -> None:
    """Review finding: F.window aligns to UTC-epoch midnights while
    cover_day casts to timestamp under the SESSION zone - deriving
    the output day from the window start shifted every label one day
    under non-UTC zones. The emitted key is now the cover_day column
    itself; under Asia/Tokyo the labels must be the literal calendar
    days the batch twin computes."""
    from etl_marketdata_downloader_archived_spark.streaming import (
        streaming_trailing_distinct,
    )

    src = tmp_path / "tz_src"
    src.mkdir()
    (src / "b0.json").write_text(
        json.dumps({"u": 1, "ts": "2024-03-01 10:00:00"})
        + "\n"
        + json.dumps({"u": 2, "ts": "2024-03-02 11:00:00"})
    )
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        results: dict = {}

        def sink(b, bid: int) -> None:
            for r in b.collect():
                results[r.cover_day] = r.active_keys

        raw = spark.readStream.format("text").load(str(src))
        parsed = raw.select(
            F.from_json("value", "u LONG, ts TIMESTAMP").alias("j")
        ).select("j.*")
        q = (
            streaming_trailing_distinct(parsed, "ts", "u", late_days=1)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tz_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
        import datetime as dt

        # March 1 activity covers Mar 1-7; Mar 2 covers Mar 2-8
        assert results[dt.date(2024, 3, 1)] == 1
        assert results[dt.date(2024, 3, 2)] == 2
        assert results[dt.date(2024, 3, 8)] == 1
        assert dt.date(2024, 2, 29) not in results
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)

def test_exact_admission_missing_store_fails_loud(spark, tmp_path) -> None:
    """Review finding: a corpus WITHOUT its posting store (deleted,
    migrated, corrupted) must fail loud - silently screening against
    nothing would admit duplicates of the whole corpus. A zero-row
    store (legitimate: only unshingleable docs admitted) still
    screens fine."""
    import pyspark.sql.utils  # noqa: F401

    from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
        start_corpus_ingest_exact,
    )

    # seed a corpus WITHOUT a posting store
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog near here")],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "ms_corpus"))

    src = tmp_path / "ms_src"
    src.mkdir()
    (src / "b.json").write_text(
        json.dumps({"doc_id": 2, "text": "entirely new english words "
                    "about the spark operators that clean the corpus"})
    )
    raw = spark.readStream.format("text").load(str(src))
    docs = raw.select(
        F.from_json("value", "doc_id LONG, text STRING").alias("j")
    ).select("j.*")
    q = start_corpus_ingest_exact(
        docs,
        corpus_dir=str(tmp_path / "ms_corpus"),
        postings_dir=str(tmp_path / "ms_postings"),
        checkpoint_dir=str(tmp_path / "ms_ckpt"),
    )
    try:
        q.awaitTermination(120)
    except Exception:  # noqa: BLE001 - surfaced via exception() below
        pass
    exc = q.exception()
    assert exc is not None and "posting store" in str(exc)

def test_exact_admission_crash_between_appends_heals(spark, tmp_path) -> None:
    """Crash-order pinning (VERDICT r12): a crash BETWEEN the two
    appends leaves ORPHAN postings (postings-first order). On replay
    the orphan must not reject its own doc (the verify joins
    candidates back to CORPUS rows, and the doc is not in the corpus),
    so the doc is admitted; afterward a near-dup of it IS rejected.
    The reverse order (corpus-first) would leave the doc invisible to
    every future screen - the permanent silent recall hole."""
    from etl_marketdata_downloader_archived_spark.operators.dedup import (
        word_shingles,
    )
    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        jaccard_prefix_postings,
        write_postings_meta,
    )
    from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
        start_corpus_ingest_exact,
    )

    doc_x = ("the quick brown fox jumps over the lazy dog near the river "
             "bank every single day without fail in all weather")
    cdir, pdir = str(tmp_path / "cr_corpus"), str(tmp_path / "cr_postings")

    # simulate the crashed batch: sidecar + postings landed, corpus
    # row did NOT (exactly the state a kill between the appends leaves)
    write_postings_meta(spark, pdir, 0.7, buckets=64)
    orphan = spark.createDataFrame([(5, doc_x)], "doc_id long, text string")
    jaccard_prefix_postings(
        orphan.select("doc_id", word_shingles("text", 3).alias("_toks")),
        "doc_id", "_toks", 0.7, bucket_by=64,
    ).write.mode("append").partitionBy("_bk").parquet(pdir)

    src = tmp_path / "cr_src"
    src.mkdir()

    def run() -> None:
        raw = spark.readStream.format("text").load(str(src))
        docs = raw.select(
            F.from_json("value", "doc_id LONG, text STRING").alias("j")
        ).select("j.*")
        q = start_corpus_ingest_exact(
            docs, corpus_dir=cdir, postings_dir=pdir,
            checkpoint_dir=str(tmp_path / "cr_ckpt"),
            jaccard_threshold=0.7,
        )
        q.awaitTermination(180)
        assert q.exception() is None, q.exception()

    # the replayed batch re-delivers doc 5: orphan postings must not
    # block it, and the store dedups nothing silently
    (src / "b1.json").write_text(json.dumps({"doc_id": 5, "text": doc_x}))
    run()
    ids = sorted(r.doc_id for r in spark.read.parquet(cdir).collect())
    assert ids == [5]  # admitted despite its own orphan postings

    # the screen is WHOLE: a later near-dup of doc 5 is rejected
    (src / "b2.json").write_text(
        json.dumps({"doc_id": 9, "text": doc_x + " indeed"})
    )
    run()
    ids = sorted(r.doc_id for r in spark.read.parquet(cdir).collect())
    assert ids == [5]


def test_neardup_ingest_crash_between_appends_heals(spark, tmp_path) -> None:
    """Same crash-order pinning for the near-dup variant (the r12
    verdict's top item: it had the appends REVERSED, so this exact
    scenario silently lost the doc's postings forever)."""
    from etl_marketdata_downloader_archived_spark.operators.dedup import (
        band_postings,
    )
    from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
        start_corpus_ingest_neardup,
    )

    doc_x = ("the quick brown fox jumps over the lazy dog near the river "
             "bank every single day without fail in all weather")
    cdir, pdir = str(tmp_path / "nc_corpus"), str(tmp_path / "nc_postings")

    # crashed-batch state: postings landed, corpus row did not
    orphan = spark.createDataFrame([(5, doc_x)], "doc_id long, text string")
    band_postings(orphan, "doc_id", "text").write.mode("append").parquet(pdir)

    src = tmp_path / "nc_src"
    src.mkdir()

    def run() -> None:
        raw = spark.readStream.format("text").load(str(src))
        docs = raw.select(
            F.from_json("value", "doc_id LONG, text STRING").alias("j")
        ).select("j.*")
        q = start_corpus_ingest_neardup(
            docs, corpus_dir=cdir, postings_dir=pdir,
            checkpoint_dir=str(tmp_path / "nc_ckpt"),
        )
        q.awaitTermination(180)
        assert q.exception() is None, q.exception()

    (src / "b1.json").write_text(json.dumps({"doc_id": 5, "text": doc_x}))
    run()
    assert sorted(
        r.doc_id for r in spark.read.parquet(cdir).collect()
    ) == [5]
    (src / "b2.json").write_text(
        json.dumps({"doc_id": 9, "text": doc_x + " indeed"})
    )
    run()
    assert sorted(
        r.doc_id for r in spark.read.parquet(cdir).collect()
    ) == [5]


def test_neardup_ingest_missing_store_fails_loud(spark, tmp_path) -> None:
    """ADVICE r12 propagation: a corpus WITHOUT its posting store must
    fail loud in the near-dup variant too (the bare-except absence
    probe silently screened against nothing)."""
    from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
        start_corpus_ingest_neardup,
    )

    good = ("the pipeline keeps many useful english words with plenty of "
            "variety so the quality gate and the language gate both pass")
    spark.createDataFrame(
        [(1, good, "en", 0.9, 0.2, "fp1")],
        "doc_id long, text string, lang_guess string, quality double, "
        "sw_ratio double, fp string",
    ).write.parquet(str(tmp_path / "ml_corpus"))

    src = tmp_path / "ml_src"
    src.mkdir()
    (src / "b.json").write_text(json.dumps({"doc_id": 2, "text": good}))
    raw = spark.readStream.format("text").load(str(src))
    docs = raw.select(
        F.from_json("value", "doc_id LONG, text STRING").alias("j")
    ).select("j.*")
    q = start_corpus_ingest_neardup(
        docs,
        corpus_dir=str(tmp_path / "ml_corpus"),
        postings_dir=str(tmp_path / "ml_postings"),
        checkpoint_dir=str(tmp_path / "ml_ckpt"),
    )
    try:
        q.awaitTermination(120)
    except Exception:  # noqa: BLE001 - surfaced via exception() below
        pass
    exc = q.exception()
    assert exc is not None and "posting store" in str(exc)


@pytest.mark.parametrize("ingest", ["exact", "neardup"])
def test_posting_ingest_unreadable_corpus_fails_batch(
    spark, tmp_path, ingest
) -> None:
    """ADVICE r12 (medium): a corpus that EXISTS but cannot be read
    (corrupt footer standing in for any transient IO failure) must
    FAIL the micro-batch - the old bare-except treated it as
    'first batch, no corpus yet' and silently skipped both the
    similarity screen and the replay anti-join. Both posting-store
    ingests share the probe."""
    import os

    from etl_marketdata_downloader_archived_spark.operators.dedup import (
        write_band_meta,
    )
    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        write_postings_meta,
    )
    from etl_marketdata_downloader_archived_spark.streaming import (
        corpus_ingest,
    )

    cdir = tmp_path / "ur_corpus"
    cdir.mkdir()
    (cdir / "part-00000.parquet").write_bytes(b"NOT A PARQUET FILE")
    pdir = str(tmp_path / "ur_postings")
    if ingest == "exact":
        write_postings_meta(spark, pdir, 0.7, buckets=64)
    else:
        write_band_meta(spark, pdir, 32, 8, 3, 0.7, buckets=64)

    src = tmp_path / "ur_src"
    src.mkdir()
    (src / "b.json").write_text(
        json.dumps({"doc_id": 2, "text": "entirely new english words "
                    "about the spark operators that clean the corpus"})
    )
    raw = spark.readStream.format("text").load(str(src))
    docs = raw.select(
        F.from_json("value", "doc_id LONG, text STRING").alias("j")
    ).select("j.*")
    q = getattr(corpus_ingest, f"start_corpus_ingest_{ingest}")(
        docs,
        corpus_dir=str(cdir),
        postings_dir=pdir,
        checkpoint_dir=str(tmp_path / "ur_ckpt"),
        jaccard_threshold=0.7,
    )
    try:
        q.awaitTermination(120)
    except Exception:  # noqa: BLE001 - surfaced via exception() below
        pass
    assert q.exception() is not None  # loud, not a silent skip
    # and NOTHING was admitted into the broken corpus
    assert sorted(os.listdir(cdir)) == ["part-00000.parquet"]


def test_exact_admission_chain_keeps_non_matching_end(spark, tmp_path) -> None:
    """Intra-batch sequential semantics at the INGEST level (ADVICE
    r12): docs a~b and b~c arrive in one batch with a!~c. The greedy
    admission keeps a AND c (b's rejection un-blocks c); the old
    greatest-of-every-pair drop discarded both b and c."""
    from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
        start_corpus_ingest_exact,
    )

    # shingle Jaccards (3-gram): a-mid 0.393, mid-c 0.314, a-c 0.0;
    # all three pass the language/quality/stopword gates
    mid = ("the quick brown fox jumps over the lazy dog near the river "
           "bank every single day without fail in all weather today and "
           "then some")
    a = ("the quick brown fox jumps over the lazy dog near the river "
         "bank while spark engines sort tables")
    c = ("here the readers find all of the words in the prose so bank "
         "every single day without fail in all weather today and then "
         "some")
    src = tmp_path / "ch_src"
    src.mkdir()
    (src / "b1.json").write_text(
        json.dumps({"doc_id": 1, "text": a})
        + "\n" + json.dumps({"doc_id": 2, "text": mid})
        + "\n" + json.dumps({"doc_id": 3, "text": c})
    )
    raw = spark.readStream.format("text").load(str(src))
    docs = raw.select(
        F.from_json("value", "doc_id LONG, text STRING").alias("j")
    ).select("j.*")
    q = start_corpus_ingest_exact(
        docs,
        corpus_dir=str(tmp_path / "ch_corpus"),
        postings_dir=str(tmp_path / "ch_postings"),
        checkpoint_dir=str(tmp_path / "ch_ckpt"),
        jaccard_threshold=0.3,
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "ch_corpus")).collect()
    )
    assert ids == [1, 3]

def test_neardup_ingest_rejects_lsh_parameter_drift(spark, tmp_path) -> None:
    """The band store's _meta sidecar (r13): resuming the ingest with
    different LSH parameters must fail loud - mismatched band hashes
    never collide, so a drift would not error, it would silently
    admit duplicates of the whole corpus."""
    from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
        start_corpus_ingest_neardup,
    )

    base = ("the quick brown fox jumps over the lazy dog near the river "
            "bank every single day without fail in all weather")
    src = tmp_path / "pd_src"
    src.mkdir()

    def run(**kw) -> object:
        raw = spark.readStream.format("text").load(str(src))
        docs = raw.select(
            F.from_json("value", "doc_id LONG, text STRING").alias("j")
        ).select("j.*")
        q = start_corpus_ingest_neardup(
            docs,
            corpus_dir=str(tmp_path / "pd_corpus"),
            postings_dir=str(tmp_path / "pd_postings"),
            checkpoint_dir=str(tmp_path / "pd_ckpt"),
            **kw,
        )
        try:
            q.awaitTermination(180)
        except Exception:  # noqa: BLE001 - surfaced via exception()
            pass
        return q.exception()

    (src / "b1.json").write_text(json.dumps({"doc_id": 1, "text": base}))
    assert run() is None
    (src / "b2.json").write_text(
        json.dumps({"doc_id": 2, "text": base + " extra tail words"})
    )
    exc = run(bands=16, num_hashes=32)
    assert exc is not None and "LSH parameters" in str(exc)
    # resuming with the ORIGINAL parameters still works
    assert run() is None

@pytest.mark.parametrize("ingest", ["neardup", "exact"])
def test_posting_ingest_sheared_sidecar_fails_loud(
    spark, tmp_path, ingest
) -> None:
    """Review finding (the guard both posting-store ingests share): a
    _bk-partitioned store whose _meta sidecar was lost must fail
    loud - treating it as legacy-unbucketed would append unbucketed
    rows into the partitioned layout, and once the true sidecar is
    restored those rows are pruned out of every screen."""
    import shutil

    from etl_marketdata_downloader_archived_spark.operators.dedup import (
        band_postings,
        word_shingles,
    )
    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        jaccard_prefix_postings,
    )
    from etl_marketdata_downloader_archived_spark.streaming import (
        corpus_ingest,
    )

    base = ("the quick brown fox jumps over the lazy dog near the river "
            "bank every single day without fail in all weather")
    pdir = tmp_path / "sh_postings"
    seed = spark.createDataFrame([(1, base)], "doc_id long, text string")
    if ingest == "neardup":
        postings = band_postings(seed, "doc_id", "text", bucket_by=64)
    else:
        postings = jaccard_prefix_postings(
            seed.select("doc_id", word_shingles("text", 3).alias("_toks")),
            "doc_id", "_toks", 0.7, bucket_by=64,
        )
    postings.write.mode("append").partitionBy("_bk").parquet(str(pdir))
    shutil.rmtree(pdir / "_meta", ignore_errors=True)  # the shear

    src = tmp_path / "sh_src"
    src.mkdir()
    (src / "b.json").write_text(json.dumps({"doc_id": 2, "text": base}))
    raw = spark.readStream.format("text").load(str(src))
    docs = raw.select(
        F.from_json("value", "doc_id LONG, text STRING").alias("j")
    ).select("j.*")
    q = getattr(corpus_ingest, f"start_corpus_ingest_{ingest}")(
        docs,
        corpus_dir=str(tmp_path / "sh_corpus"),
        postings_dir=str(pdir),
        checkpoint_dir=str(tmp_path / "sh_ckpt"),
    )
    try:
        q.awaitTermination(120)
    except Exception:  # noqa: BLE001 - surfaced via exception() below
        pass
    exc = q.exception()
    assert exc is not None and "_meta sidecar is missing" in str(exc)


def test_exact_ingest_legacy_threshold_drift_in_crash_window(
    spark, tmp_path
) -> None:
    """Review finding: a LEGACY (pre-sidecar) store replayed in the
    crash window - postings landed, corpus append never did - must
    still fail loud on a threshold drift BEFORE appending postings at
    the new threshold (the old code only validated inside the
    corpus-exists branch, so the store got polluted first)."""
    import os

    from etl_marketdata_downloader_archived_spark.operators.dedup import (
        word_shingles,
    )
    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        jaccard_prefix_postings,
    )
    from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
        start_corpus_ingest_exact,
    )

    doc = ("the quick brown fox jumps over the lazy dog near the river "
           "bank every single day without fail in all weather")
    pdir = str(tmp_path / "lg_postings")
    # legacy store (no sidecar) built at threshold 0.7; NO corpus dir
    # (the crash window)
    seed = spark.createDataFrame([(5, doc)], "doc_id long, text string")
    jaccard_prefix_postings(
        seed.select("doc_id", word_shingles("text", 3).alias("_toks")),
        "doc_id", "_toks", 0.7,
    ).write.mode("append").parquet(pdir)
    n_before = len(os.listdir(pdir))

    src = tmp_path / "lg_src"
    src.mkdir()
    (src / "b.json").write_text(json.dumps({"doc_id": 5, "text": doc}))
    raw = spark.readStream.format("text").load(str(src))
    docs = raw.select(
        F.from_json("value", "doc_id LONG, text STRING").alias("j")
    ).select("j.*")
    q = start_corpus_ingest_exact(
        docs,
        corpus_dir=str(tmp_path / "lg_corpus"),
        postings_dir=pdir,
        checkpoint_dir=str(tmp_path / "lg_ckpt"),
        jaccard_threshold=0.5,  # the drift
    )
    try:
        q.awaitTermination(120)
    except Exception:  # noqa: BLE001 - surfaced via exception() below
        pass
    exc = q.exception()
    assert exc is not None and "threshold" in str(exc)
    # the store was NOT polluted with 0.5-threshold postings
    assert len(os.listdir(pdir)) == n_before


@pytest.mark.parametrize(
    "ingest, store_id", [("exact", "_id"), ("neardup", "doc_id")]
)
def test_posting_ingest_auto_compacts_past_trigger(
    spark, tmp_path, ingest, store_id
) -> None:
    """VERDICT r13 item 2: posting-store maintenance wired into the
    ingest loop. Replay-duplicated postings (the crash-between-appends
    shape) are reclaimed by the NEXT batch automatically once the
    store's data-file count crosses ``compact_trigger_files`` - no
    operator action - and the screen's admission decisions are
    unchanged across the compaction. Both posting-store ingests share
    the commit that runs it."""
    from etl_marketdata_downloader_archived_spark.streaming import (
        corpus_ingest,
    )

    base = ("the quick brown fox jumps over the lazy dog near the river "
            "bank every single day without fail in all weather")
    novel = ("entirely new english words the gate accepts with plenty of "
             "variety about the spark operators that clean the corpus")
    src = tmp_path / "ac_src"
    src.mkdir()
    pdir = str(tmp_path / "ac_postings")

    def run(trigger) -> None:
        raw = spark.readStream.format("text").load(str(src))
        docs = raw.select(
            F.from_json("value", "doc_id LONG, text STRING").alias("j")
        ).select("j.*")
        q = getattr(corpus_ingest, f"start_corpus_ingest_{ingest}")(
            docs,
            corpus_dir=str(tmp_path / "ac_corpus"),
            postings_dir=pdir,
            checkpoint_dir=str(tmp_path / "ac_ckpt"),
            jaccard_threshold=0.7,
            # 2 buckets so the post-compaction floor is 2 and a
            # trigger of 3 is valid under the ADVICE-r14 self-defeating-
            # trigger guard (the original trigger=1 now rejects loudly,
            # by design - see test_ingest_rejects_self_defeating_
            # compaction_trigger)
            store_bucket_count=2,
            compact_trigger_files=trigger,
        )
        q.awaitTermination(180)

    (src / "b1.json").write_text(json.dumps({"doc_id": 1, "text": base}))
    run(trigger=None)  # maintenance off: seed the store untouched
    store = lambda: spark.read.parquet(pdir)  # noqa: E731
    p1 = store().count()
    # simulate the at-least-once replay that crashed between the two
    # appends: the admitted doc's postings land a SECOND time
    dup = store().collect()
    spark.createDataFrame(dup, store().schema).write.mode(
        "append"
    ).partitionBy("_bk").parquet(pdir)
    assert store().count() == 2 * p1  # replay growth is real

    # next batch, trigger=3 files (floor is 2 with 2 buckets): the
    # replay-doubled store is past the trigger, so the batch appends,
    # then compacts IN-LINE
    (src / "b2.json").write_text(
        json.dumps({"doc_id": 10, "text": base + " indeed"})   # reject vs 1
        + "\n"
        + json.dumps({"doc_id": 11, "text": novel})            # admit
    )
    run(trigger=3)
    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "ac_corpus")).collect()
    )
    assert ids == [1, 11]  # screen decisions unchanged by maintenance
    # the replay duplicates are GONE: store rows are distinct and
    # carry exactly the admitted docs
    rows = store().collect()
    assert len(rows) == len({tuple(r) for r in rows})
    assert {r[store_id] for r in rows} == {1, 11}
    import os

    assert not os.path.exists(pdir + "__old")
    assert not os.path.exists(pdir + "__stage")

    # and the compacted store still REJECTS: batch 3 near-dup of 11
    (src / "b3.json").write_text(
        json.dumps({"doc_id": 20, "text": novel + " again"})
    )
    run(trigger=3)
    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "ac_corpus")).collect()
    )
    assert ids == [1, 11]


@pytest.mark.parametrize("ingest", ["neardup", "exact"])
def test_posting_ingest_heals_crashed_compaction(
    spark, tmp_path, ingest
) -> None:
    """recover_posting_store wired into the ingest entry: a compaction
    that crashed between its two renames (live missing, __old intact)
    heals at the NEXT batch without operator action - the batch runs
    and screens against the restored store instead of failing with
    the missing-store guard. Both posting-store ingests share the
    heal."""
    import shutil

    from etl_marketdata_downloader_archived_spark.streaming import (
        corpus_ingest,
    )

    base = ("the quick brown fox jumps over the lazy dog near the river "
            "bank every single day without fail in all weather")
    src = tmp_path / "hc_src"
    src.mkdir()
    pdir = str(tmp_path / "hc_postings")

    def run() -> None:
        raw = spark.readStream.format("text").load(str(src))
        docs = raw.select(
            F.from_json("value", "doc_id LONG, text STRING").alias("j")
        ).select("j.*")
        q = getattr(corpus_ingest, f"start_corpus_ingest_{ingest}")(
            docs,
            corpus_dir=str(tmp_path / "hc_corpus"),
            postings_dir=pdir,
            checkpoint_dir=str(tmp_path / "hc_ckpt"),
            jaccard_threshold=0.5,
        )
        q.awaitTermination(180)

    (src / "b1.json").write_text(json.dumps({"doc_id": 1, "text": base}))
    run()
    # crash state: live renamed aside mid-swap
    shutil.move(pdir, pdir + "__old")

    (src / "b2.json").write_text(
        json.dumps({"doc_id": 10, "text": base + " indeed"})  # near-dup
    )
    run()  # heals, then screens
    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "hc_corpus")).collect()
    )
    assert ids == [1]  # the near-dup was rejected against the healed store
    import os

    assert os.path.exists(pdir) and not os.path.exists(pdir + "__old")


def test_ingest_rejects_self_defeating_compaction_trigger(spark) -> None:
    """ADVICE r14: a compact_trigger_files at or below the
    post-compaction file floor (one data file per store bucket) makes
    EVERY batch rerun a full-store compaction forever - silently. Both
    posting-store ingests must refuse it loudly at entry, before any
    stream starts."""
    import pytest

    from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
        start_corpus_ingest_exact,
        start_corpus_ingest_neardup,
    )

    docs = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="post-compaction file floor"):
        start_corpus_ingest_exact(
            docs, "/tmp/never/corpus", "/tmp/never/post", "/tmp/never/ck",
            store_bucket_count=64, compact_trigger_files=64,
        )
    with pytest.raises(ValueError, match="post-compaction file floor"):
        start_corpus_ingest_neardup(
            docs, "/tmp/never/corpus", "/tmp/never/post", "/tmp/never/ck",
            store_bucket_count=64, compact_trigger_files=10,
        )


def test_dsir_ingest_admits_toward_target_with_evolving_model(
    spark, tmp_path
) -> None:
    """Streaming DSIR admission (r14): per-batch weights match a
    plain-python replay of the evolving model EXACTLY (fixed target
    counts, raw counts accumulating batch by batch under the md5
    coordinate), on-target docs admit and off-vocab docs reject, the
    raw model folds EVERY gated doc (admitted or not) with the
    batch-id marker recorded, and a third batch is weighted under the
    grown model."""
    import hashlib
    import math
    from collections import Counter

    from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
        start_corpus_ingest_dsir,
    )

    stop = "the and is of to a in"
    sci = "physics quantum energy momentum field theory particle wave"
    shop = "price discount store basket checkout brand product offer"
    t_texts = [f"{stop} {sci}", f"{stop} energy momentum theory wave physics"]
    target = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(t_texts)], ["doc_id", "text"]
    )
    m, seed = 64, 42

    src = tmp_path / "dsir_src"
    src.mkdir()
    mdir = str(tmp_path / "dsir_model")
    cdir = str(tmp_path / "dsir_corpus")

    def run() -> None:
        raw = spark.readStream.format("text").load(str(src))
        docs = raw.select(
            F.from_json("value", "doc_id LONG, text STRING").alias("j")
        ).select("j.*")
        q = start_corpus_ingest_dsir(
            docs,
            corpus_dir=cdir,
            model_dir=mdir,
            checkpoint_dir=str(tmp_path / "dsir_ckpt"),
            target=target,
            min_log_weight=thresh,
            m=m,
            seed=seed,
            algo="md5",
            min_quality=0.0,
        )
        q.awaitTermination(180)

    batches = [
        [(1, f"{stop} quantum energy field theory wave"),
         (2, f"{stop} {shop}")],
        [(3, f"{stop} momentum particle physics energy quantum"),
         (4, f"{stop} checkout brand offer discount store price")],
        [(5, f"{stop} energy theory wave field momentum")],
    ]

    # ---- plain-python replay of the evolving model ----
    def words(t):
        import re

        return [w for w in re.split("[^a-z]+", t.lower()) if w]

    def grams(t):
        ws = words(t)
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    def bucket(g):
        return int(hashlib.md5(f"{seed}:{g}".encode()).hexdigest()[:8], 16) % m

    c_t: Counter = Counter()
    for t in t_texts:
        c_t.update(bucket(g) for g in grams(t))
    t_t_total = sum(c_t.values())
    c_r: Counter = Counter()
    expected_weights = {}
    for rows in batches:
        t_r_total = sum(c_r.values())
        for did, t in rows:
            expected_weights[did] = sum(
                math.log(c_t[bucket(g)] + 1)
                - math.log(c_r[bucket(g)] + 1)
                + math.log(t_r_total + m)
                - math.log(t_t_total + m)
                for g in grams(t)
            )
        for _, t in rows:  # model folds EVERY gated doc
            c_r.update(bucket(g) for g in grams(t))
    # threshold from the replay: split batch 1's on-target doc from
    # its off-vocab sibling (raw weight MAGNITUDES depend on bucket
    # collisions at small m - only the ordering is portable)
    assert expected_weights[1] > expected_weights[2]
    thresh = (expected_weights[1] + expected_weights[2]) / 2.0
    expected_admitted = [d for d, w in expected_weights.items() if w >= thresh]

    for i, rows in enumerate(batches, 1):
        (src / f"b{i}.json").write_text(
            "\n".join(json.dumps({"doc_id": d, "text": t}) for d, t in rows)
        )
        run()

    got = {
        r.doc_id: r.log_weight
        for r in spark.read.parquet(cdir).collect()
    }
    assert sorted(got) == sorted(expected_admitted)
    assert 1 in got and 2 not in got  # threshold splits them by design
    for did, w in got.items():
        assert abs(w - expected_weights[did]) < 1e-9
    # the raw model equals the replay's counts exactly, marker at the
    # last non-empty batch
    model = {
        r.bucket: (r.c_r, r._applied_batch)
        for r in spark.read.parquet(mdir + "/raw").collect()
    }
    for b, cnt in c_r.items():
        assert model[b][0] == cnt
    assert max(mk for _, mk in model.values()) == len(batches) - 1
