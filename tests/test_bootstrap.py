"""Bootstrap / provisioning tests (reference entry point 3)."""

from __future__ import annotations

import json
import os

from etl_marketdata_downloader_archived_spark.bootstrap import (
    bootstrap,
    clean_staging,
    provision_warehouse,
    warehouse_exists,
)


def test_provision_is_idempotent(tmp_path) -> None:
    root = str(tmp_path / "wh")
    assert not warehouse_exists(root)
    p1 = provision_warehouse(root)
    p2 = provision_warehouse(root)
    assert p1 == p2 and warehouse_exists(root)
    for name in ("in", "processing", "done", "lake", "manifest"):
        assert os.path.isdir(p1[name])


def test_clean_staging(tmp_path) -> None:
    root = str(tmp_path / "wh")
    paths = provision_warehouse(root)
    (tmp_path / "wh" / "in" / "x.json").write_text("{}")
    (tmp_path / "wh" / "done" / "y.json").write_text("{}")
    assert clean_staging(root) == 2
    assert os.listdir(paths["in"]) == []


def test_bootstrap_with_stream(spark, tmp_path) -> None:
    """Full loop: provision -> drop a task file into in/ -> the stream
    lands it in the lake."""
    remote = tmp_path / "remote"
    remote.mkdir()
    (remote / "f.bin").write_bytes(b"abc")

    root = str(tmp_path / "wh")
    out = bootstrap(spark, root, start_stream=False)
    task = {
        "ID": "1",
        "URL": f"file://{remote}/f.bin",
        "TYPE": "DIRECT",
        "PATTERN": "f.bin",
        "UTC": "0",
    }
    in_dir = out["paths"]["in"]
    with open(os.path.join(in_dir, "t1.json"), "w") as f:
        json.dump(task, f)

    out2 = bootstrap(spark, root, start_stream=True)
    out2["query"].awaitTermination(120)
    landed = spark.read.parquet(out["paths"]["lake"])
    assert [r.file_name for r in landed.collect()] == ["f.bin"]


def test_write_lake_caps_records_per_file(spark, tmp_path) -> None:
    """File sizing knob: maxRecordsPerFile splits task output so no
    parquet file exceeds the cap (the too-large half of file sizing;
    compact_lake handles the too-small half)."""
    import glob

    from etl_marketdata_downloader_archived_spark.io import write_lake

    df = spark.range(100).selectExpr("id", "'A' as source_type").coalesce(1)
    path = str(tmp_path / "lake")
    write_lake(df, path, max_records_per_file=20)
    files = glob.glob(f"{path}/source_type=A/*.parquet")
    assert len(files) >= 5
    assert spark.read.parquet(path).count() == 100


def test_analyze_table_feeds_cbo_stats(spark, tmp_path) -> None:
    """ANALYZE TABLE materializes row-count + column stats the CBO
    reads for join reordering; assert the stats actually land in the
    catalog."""
    from etl_marketdata_downloader_archived_spark.io import analyze_table

    spark.sql("DROP TABLE IF EXISTS stats_probe")
    spark.range(1000).selectExpr("id", "id % 7 AS grp").write.mode(
        "overwrite"
    ).saveAsTable("stats_probe")
    analyze_table(spark, "stats_probe", ["grp"])
    detail = {
        r.col_name: r.data_type
        for r in spark.sql("DESCRIBE TABLE EXTENDED stats_probe").collect()
    }
    assert "1000 bytes" in detail.get("Statistics", "") or "rows" in detail.get(
        "Statistics", ""
    )
    colstats = {
        r.info_name: r.info_value
        for r in spark.sql("DESCRIBE EXTENDED stats_probe grp").collect()
    }
    assert colstats.get("distinct_count") == "7"
    spark.sql("DROP TABLE stats_probe")


def test_merge_partitioned_touches_only_affected_partitions(spark, tmp_path) -> None:
    """Partition-scoped MERGE: updates upsert into their partitions,
    untouched partitions keep their exact files (identity by path +
    mtime), and non-updated rows in touched partitions survive."""
    import glob
    import os

    from etl_marketdata_downloader_archived_spark.io import merge_partitioned

    path = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
        ["id", "part", "val"],
    )
    base.write.partitionBy("part").parquet(path)
    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/part=*/[!_]*.parquet")
    }

    updates = spark.createDataFrame(
        [(2, "a", 99), (5, "a", 50), (6, "b", 60)], ["id", "part", "val"]
    )
    merge_partitioned(spark, path, updates, keys=["id"], partition_col="part")

    got = {r.id: (r.part, r.val) for r in spark.read.parquet(path).collect()}
    assert got == {
        1: ("a", 10),   # untouched row in a touched partition survives
        2: ("a", 99),   # updated
        3: ("b", 30),
        4: ("c", 40),   # untouched partition
        5: ("a", 50),   # inserted
        6: ("b", 60),   # inserted
    }
    # partition c's files are bit-identical (never rewritten)
    after_c = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/part=c/[!_]*.parquet")
    }
    assert after_c == {f: m for f, m in before.items() if "part=c" in f}
    # partitions a and b were rewritten
    assert all(
        f not in after_c for f in before if "part=a" in f or "part=b" in f
    )


def test_incremental_rollup_matches_oneshot_and_scopes_rewrites(
    spark, tmp_path
) -> None:
    """Two increments (the second carrying late data for an old
    partition) produce exactly the one-shot rollup over all facts;
    partitions the delta does not touch keep their files."""
    import glob
    import os

    from pyspark.sql import functions as F

    from etl_marketdata_downloader_archived_spark.io import (
        incremental_rollup,
        rollup_delta,
    )

    path = str(tmp_path / "rollup")
    cols = ["day", "source", "user_id", "amount"]
    batch1 = spark.createDataFrame(
        [
            ("d1", "a", 1, 10.0),
            ("d1", "a", 2, 20.0),
            ("d1", "b", 1, 5.0),
            ("d2", "a", 3, 7.0),
        ],
        cols,
    )
    batch2 = spark.createDataFrame(
        [
            ("d2", "a", 3, 9.0),   # d2 grows
            ("d2", "a", 4, 1.0),
            ("d1", "b", 9, 2.0),   # late data for d1/b
        ],
        cols,
    )
    spec = [
        ("amount", "sum"),
        ("amount", "count"),
        ("amount", "max"),
        ("user_id", "hll"),
    ]
    keys = ["day", "source"]
    incremental_rollup(spark, path, batch1, keys, "day", spec)
    files_d1 = set(glob.glob(f"{path}/day=d1/[!_]*.parquet"))
    incremental_rollup(
        spark, path, batch2.filter("day = 'd2'"), keys, "day", spec
    )
    # d1 untouched by a d2-only delta
    assert set(glob.glob(f"{path}/day=d1/[!_]*.parquet")) == files_d1
    incremental_rollup(
        spark, path, batch2.filter("day = 'd1'"), keys, "day", spec
    )

    got = spark.read.parquet(path)
    oneshot = rollup_delta(batch1.unionByName(batch2), keys, spec)
    est = lambda df: {  # noqa: E731
        (r.day, r.source): (
            r.amount_sum,
            r.amount_count,
            r.amount_max,
            r.users,
        )
        for r in df.select(
            "day",
            "source",
            "amount_sum",
            "amount_count",
            "amount_max",
            F.hll_sketch_estimate("user_id_hll").alias("users"),
        ).collect()
    }
    assert est(got) == est(oneshot)


def test_incremental_rollup_into_a_uri_path(spark, tmp_path) -> None:
    """A ``file://`` rollup path is found again by the next increment,
    which merges into it instead of re-creating it."""
    from etl_marketdata_downloader_archived_spark.io import incremental_rollup

    path = (tmp_path / "rollup").as_uri()
    facts = spark.createDataFrame(
        [("d1", "a", 10.0), ("d2", "a", 5.0)], ["day", "source", "amount"]
    )
    spec = [("amount", "sum"), ("amount", "count")]
    for day in ("d1", "d2", "d1"):
        incremental_rollup(
            spark, path, facts.filter(f"day = '{day}'"),
            ["day", "source"], "day", spec,
        )
    got = {
        (r.day, r.source): (r.amount_sum, r.amount_count)
        for r in spark.read.parquet(path).collect()
    }
    assert got == {("d1", "a"): (20.0, 2), ("d2", "a"): (5.0, 1)}


def test_streaming_ingest_maintains_incremental_rollup(spark, tmp_path) -> None:
    """foreachBatch + incremental_rollup: a file stream lands two
    micro-batches and the persistent rollup table ends exactly where a
    one-shot rollup over all facts would - the streaming half of the
    O(delta) maintenance pattern (each micro-batch is the delta)."""
    import json as _json

    from pyspark.sql import functions as F

    from etl_marketdata_downloader_archived_spark.io import (
        incremental_rollup,
        rollup_delta,
    )

    src = tmp_path / "facts"
    src.mkdir()
    rollup_path = str(tmp_path / "rollup")
    keys, spec = ["day", "source"], [
        ("amount", "sum"),
        ("amount", "count"),
        ("user_id", "hll"),
    ]
    schema = "day STRING, source STRING, user_id LONG, amount DOUBLE"

    batches = [
        [
            {"day": "d1", "source": "a", "user_id": 1, "amount": 10.0},
            {"day": "d1", "source": "b", "user_id": 2, "amount": 5.0},
        ],
        [
            {"day": "d1", "source": "a", "user_id": 1, "amount": 3.0},
            {"day": "d2", "source": "a", "user_id": 3, "amount": 7.0},
        ],
    ]

    def fold(batch_df, _epoch):
        incremental_rollup(
            batch_df.sparkSession, rollup_path, batch_df, keys, "day", spec
        )

    all_rows = []
    for i, rows in enumerate(batches):
        (src / f"b{i}.json").write_text(
            "\n".join(_json.dumps(r) for r in rows)
        )
        all_rows += rows
        stream = (
            spark.readStream.format("text")
            .load(str(src))
            .select(F.from_json("value", schema).alias("j"))
            .select("j.*")
        )
        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    oneshot = rollup_delta(
        spark.createDataFrame(
            [(r["day"], r["source"], r["user_id"], r["amount"]) for r in all_rows],
            ["day", "source", "user_id", "amount"],
        ),
        keys,
        spec,
    )
    snap = lambda df: {  # noqa: E731
        (r.day, r.source): (r.amount_sum, r.amount_count, r.users)
        for r in df.select(
            "day", "source", "amount_sum", "amount_count",
            F.hll_sketch_estimate("user_id_hll").alias("users"),
        ).collect()
    }
    assert snap(spark.read.parquet(rollup_path)) == snap(oneshot)


def test_compact_files_rewrites_only_fragmented_partitions(spark, tmp_path) -> None:
    """File-count compaction: a partition fragmented into many tiny
    files coalesces to the few its bytes need; a partition already at
    one file keeps its exact files; rows are unchanged."""
    import glob
    import os

    from etl_marketdata_downloader_archived_spark.io import compact_files

    path = str(tmp_path / "lake")
    frag = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(400)], ["id", "part", "val"]
    ).repartition(8)
    tidy = spark.createDataFrame(
        [(i, "b", float(i)) for i in range(400, 450)], ["id", "part", "val"]
    ).coalesce(1)
    frag.write.partitionBy("part").parquet(path)
    tidy.write.mode("append").partitionBy("part").parquet(path)
    assert len(glob.glob(f"{path}/part=a/[!_]*.parquet")) == 8
    before_b = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/part=b/[!_]*.parquet")
    }
    assert len(before_b) == 1

    stats = compact_files(spark, path, "part", target_mb=128)
    assert stats["partitions_compacted"] == 1
    assert stats["files_before"] == 9
    assert len(glob.glob(f"{path}/part=a/[!_]*.parquet")) == 1
    assert stats["files_after"] == 2
    # the tidy partition was never rewritten
    assert {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/part=b/[!_]*.parquet")
    } == before_b
    got = spark.read.parquet(path)
    assert got.count() == 450
    assert got.groupBy().sum("val").collect()[0][0] == sum(
        float(i) for i in range(450)
    )
    # idempotent: a second pass finds nothing to do
    assert compact_files(spark, path, "part", target_mb=128) == {
        "partitions_compacted": 0,
        "files_before": 2,
        "files_after": 2,
    }


def test_write_audit_publish_gates_and_appends(spark, tmp_path) -> None:
    """WAP: a clean batch publishes (staging drained into the live
    table, merging partitions); a dirty batch is refused - live table
    unchanged, staged copy kept for inspection."""
    import glob

    from pyspark.sql import functions as F

    from etl_marketdata_downloader_archived_spark.io import write_audit_publish

    path = str(tmp_path / "tbl")
    rules = {
        "amount_positive": F.col("amount") > 0,
        "id_not_null": F.col("id").isNotNull(),
    }
    cols = ["id", "part", "amount"]

    r1 = write_audit_publish(
        spark,
        spark.createDataFrame([(1, "a", 5.0), (2, "b", 3.0)], cols),
        path,
        rules,
        partition_cols=("part",),
    )
    assert r1 == {
        "published": True, "n_rows": 2, "n_violations": 0,
        "staging": f"{path}__staging",
    }
    # second clean batch merges into existing partition dirs
    r2 = write_audit_publish(
        spark,
        spark.createDataFrame([(3, "a", 1.0)], cols),
        path,
        rules,
        partition_cols=("part",),
    )
    assert r2["published"] and not glob.glob(f"{path}__staging/*")
    assert {
        (r.id, r.part, r.amount) for r in spark.read.parquet(path).collect()
    } == {(1, "a", 5.0), (2, "b", 3.0), (3, "a", 1.0)}

    # dirty batch: one violation out of two rows > max_violation_frac=0
    r3 = write_audit_publish(
        spark,
        spark.createDataFrame([(4, "a", -9.0), (5, "b", 2.0)], cols),
        path,
        rules,
        partition_cols=("part",),
    )
    assert r3 == {
        "published": False, "n_rows": 2, "n_violations": 1,
        "staging": f"{path}__staging",
    }
    # live table untouched; staging kept for inspection
    assert spark.read.parquet(path).count() == 3
    assert spark.read.parquet(f"{path}__staging").count() == 2


def test_write_audit_publish_replace_mode_is_idempotent(spark, tmp_path) -> None:
    """mode="replace": re-publishing a batch overwrites the live files
    in the staged partitions instead of duplicating rows, and
    partitions absent from the staged write keep their files."""
    import glob
    import os

    from pyspark.sql import functions as F

    from etl_marketdata_downloader_archived_spark.io import write_audit_publish

    path = str(tmp_path / "tbl")
    rules = {"amount_positive": F.col("amount") > 0}
    cols = ["id", "part", "amount"]

    write_audit_publish(
        spark,
        spark.createDataFrame([(1, "a", 5.0), (2, "b", 3.0)], cols),
        path,
        rules,
        partition_cols=("part",),
        mode="replace",
    )
    b_files = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/part=b/[!_]*.parquet")
    }
    # publish a REVISED partition-a batch twice: replace semantics keep
    # exactly the latest copy, and partition b's files are untouched
    for _ in range(2):
        r = write_audit_publish(
            spark,
            spark.createDataFrame([(1, "a", 7.0)], cols),
            path,
            rules,
            partition_cols=("part",),
            mode="replace",
        )
        assert r["published"]
    assert {
        (r.id, r.part, r.amount) for r in spark.read.parquet(path).collect()
    } == {(1, "a", 7.0), (2, "b", 3.0)}
    assert {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/part=b/[!_]*.parquet")
    } == b_files

    import pytest

    with pytest.raises(ValueError, match="unknown mode"):
        write_audit_publish(
            spark,
            spark.createDataFrame([(1, "a", 1.0)], cols),
            path,
            rules,
            mode="merge",
        )


def test_compact_files_handles_escaped_partition_values(spark, tmp_path) -> None:
    """Partition values Spark URL-escapes in directory names (space,
    ':') still compact: the dir name is unquoted before matching the
    typed column, so escaped partitions are neither skipped nor
    miscounted."""
    import glob

    from etl_marketdata_downloader_archived_spark.io import compact_files

    path = str(tmp_path / "lake")
    # "a b:c" escapes to part=a%20b%3Ac on disk
    frag = spark.createDataFrame(
        [(i, "a b:c", float(i)) for i in range(300)], ["id", "part", "val"]
    ).repartition(6)
    frag.write.partitionBy("part").parquet(path)
    [dirname] = [
        d.split("/")[-1] for d in glob.glob(f"{path}/part=*") if "/_" not in d
    ]
    assert "%" in dirname  # precondition: the value really is escaped
    assert len(glob.glob(f"{path}/{dirname}/[!_]*.parquet")) == 6

    stats = compact_files(spark, path, "part", target_mb=128)
    assert stats == {
        "partitions_compacted": 1, "files_before": 6, "files_after": 1,
    }
    got = spark.read.parquet(path)
    assert got.count() == 300
    assert got.select("part").distinct().collect()[0][0] == "a b:c"


def test_publish_partitions_reader_sees_only_old_or_new(spark, tmp_path) -> None:
    """The atomic-publish contract behind merge_partitioned /
    incremental_rollup: with a fully-written stage dir already on
    disk, a reader of the live table still sees exactly the OLD rows;
    after publish_partitions exactly the NEW rows - never a mix of
    old and new files within a partition (the dynamic-partition-
    overwrite failure mode this replaced). Partition dir names travel
    verbatim, URL-escaped values included; leftover backup dirs from
    a crashed publish are cleaned up."""
    import glob
    import os

    from etl_marketdata_downloader_archived_spark.io import publish_partitions

    path = str(tmp_path / "lake")
    old = spark.createDataFrame(
        [(1, "a b:c", 10), (2, "plain", 20)], ["id", "part", "val"]
    )
    old.write.partitionBy("part").parquet(path)

    # simulate a prior crashed publish leaving a recovery copy behind
    os.makedirs(f"{path}__backup/part=plain")
    with open(f"{path}__backup/part=plain/junk", "w") as f:
        f.write("stale")

    new = spark.createDataFrame(
        [(1, "a b:c", 11), (3, "plain", 30)], ["id", "part", "val"]
    )
    stage = path + "__stage"
    new.write.partitionBy("part").parquet(stage)

    # interleaved reader between stage and publish: old rows only
    mid = {(r.id, r.part, r.val) for r in spark.read.parquet(path).collect()}
    assert mid == {(1, "a b:c", 10), (2, "plain", 20)}

    publish_partitions(spark, path, stage, "part")

    after = {(r.id, r.part, r.val) for r in spark.read.parquet(path).collect()}
    assert after == {(1, "a b:c", 11), (3, "plain", 30)}
    assert not os.path.exists(stage)
    assert not os.path.exists(f"{path}__backup")
    # no stray swap artifacts in the root (the writer's _SUCCESS marker
    # is expected and reader-invisible)
    assert glob.glob(f"{path}/_*") == [f"{path}/_SUCCESS"]


def test_vacuum_maintenance_recovers_then_cleans(spark, tmp_path) -> None:
    """Every crash window the swap disciplines leave behind must be
    closable by vacuum_maintenance: a partition stranded in __backup
    with no live copy is RESTORED; a superseded backup, a half-written
    stage, and a leftover whole-table __old are deleted."""
    import os

    from etl_marketdata_downloader_archived_spark.io import vacuum_maintenance

    path = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], ["id", "part", "val"]
    ).write.partitionBy("part").parquet(path)

    # crash mid-publish: part=b was renamed aside, replacement never
    # landed - live lacks it, backup holds the only copy
    os.makedirs(f"{path}__backup")
    os.rename(f"{path}/part=b", f"{path}__backup/part=b")
    # plus a superseded backup of part=a (live copy still present)
    os.makedirs(f"{path}__backup/part=a")
    with open(f"{path}__backup/part=a/stale", "w") as f:
        f.write("x")
    # and a half-written stage
    os.makedirs(f"{path}__stage/part=a")
    with open(f"{path}__stage/part=a/half", "w") as f:
        f.write("y")

    report = vacuum_maintenance(spark, path)

    got = {(r.id, r.part, r.val) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a", 10), (2, "b", 20)}  # part=b restored
    assert f"{path}/part=b" in report["recovered"]
    assert not os.path.exists(f"{path}__backup")
    assert not os.path.exists(f"{path}__stage")

    # crash mid-compact-swap: live dir renamed to __old, compact copy
    # never swapped in - the whole table must come back
    os.rename(path, f"{path}__old")
    report2 = vacuum_maintenance(spark, path)
    assert report2["recovered"] == [path]
    assert {r.part for r in spark.read.parquet(path).collect()} == {"a", "b"}

    # idempotent on a clean lake
    assert vacuum_maintenance(spark, path) == {"recovered": [], "removed": []}


def test_rerun_merge_after_crashed_publish_recovers_backup(spark, tmp_path) -> None:
    """The documented crash recovery is 'rerun the mutation': after a
    publish dies with a partition renamed aside (live lacks it, backup
    holds the only copy), rerunning merge_partitioned must first
    restore that partition - otherwise the merge reads a live table
    without its rows and the publish deletes the only remaining copy."""
    import os

    from etl_marketdata_downloader_archived_spark.io import merge_partitioned

    path = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "b", 30)], ["id", "part", "val"]
    ).write.partitionBy("part").parquet(path)

    # crash window: part=b renamed aside, replacement never landed
    os.makedirs(f"{path}__backup")
    os.rename(f"{path}/part=b", f"{path}__backup/part=b")

    updates = spark.createDataFrame([(2, "b", 99)], ["id", "part", "val"])
    merge_partitioned(spark, path, updates, keys=["id"], partition_col="part")

    got = {(r.id, r.part, r.val) for r in spark.read.parquet(path).collect()}
    # row 3 existed only in the stranded backup - it must survive
    assert got == {(1, "a", 10), (2, "b", 99), (3, "b", 30)}
    assert not os.path.exists(f"{path}__backup")


def test_read_lake_evolving_spans_schema_versions(spark, tmp_path) -> None:
    """Old partitions written before a column existed must read as
    typed NULLs under the merged schema, and an expected contract
    fills columns no file carries yet - today's plan runs over every
    historical partition unchanged."""
    from pyspark.sql import types as T

    from etl_marketdata_downloader_archived_spark.io import read_lake_evolving

    path = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "a")], ["id", "val"]
    ).write.mode("append").parquet(path)
    spark.createDataFrame(
        [(2, "b", 0.5)], ["id", "val", "score"]
    ).write.mode("append").parquet(path)

    got = read_lake_evolving(spark, path)
    assert set(got.columns) == {"id", "val", "score"}
    rows = {r.id: r for r in got.collect()}
    assert rows[1].score is None and rows[2].score == 0.5

    contract = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("lang", T.StringType()),  # nothing has it yet
        ]
    )
    got2 = read_lake_evolving(spark, path, expected=contract)
    assert dict(got2.dtypes)["lang"] == "string"
    assert all(r.lang is None for r in got2.collect())


def test_read_lake_evolving_contract_casts_types(spark, tmp_path) -> None:
    """A contract declaring a wider type than every file carries casts
    the column in place (int -> double), and matching is
    case-insensitive - no NULL shadow column for a case-variant
    historical name."""
    from pyspark.sql import types as T

    from etl_marketdata_downloader_archived_spark.io import read_lake_evolving

    path = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, 7), (2, 9)], ["id", "Score"]
    ).write.parquet(path)
    contract = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    got = read_lake_evolving(spark, path, expected=contract)
    assert set(got.columns) == {"id", "Score"}  # no duplicate column
    assert dict(got.dtypes)["Score"] == "double"
    assert {r.Score for r in got.collect()} == {7.0, 9.0}


def test_compact_lake_recovers_crashed_publish_first(spark, tmp_path) -> None:
    """compact_lake after a crashed partition publish must restore the
    stranded backup BEFORE compacting - otherwise the 'current state'
    it swaps in silently drops that partition's keys."""
    import os

    from etl_marketdata_downloader_archived_spark.io import compact_lake

    path = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "a", 10, 100), (2, "b", 20, 100), (2, "b", 21, 200)],
        ["id", "part", "val", "ts"],
    ).write.partitionBy("part").parquet(path)
    os.makedirs(f"{path}__backup")
    os.rename(f"{path}/part=b", f"{path}__backup/part=b")

    compact_lake(
        spark, path, keys=("id",), ts_col="ts", partition_cols=("part",)
    )
    got = {(r.id, r.part, r.val) for r in spark.read.parquet(path).collect()}
    # id=2's latest row (ts=200) survives via the restored backup
    assert got == {(1, "a", 10), (2, "b", 21)}


def test_publish_partitions_under_live_concurrent_reader(spark, tmp_path) -> None:
    """A reader hammering the table WHILE publish_partitions swaps 300
    partitions must only ever observe, per partition, wholly-old or
    wholly-new content (or a transient absence/listing race, the
    documented two-rename window - retried, never mixed data and never
    a half-written file set)."""
    import threading

    from pyspark.sql import functions as F

    from etl_marketdata_downloader_archived_spark.io import publish_partitions

    path = str(tmp_path / "lake")
    n_parts = 300
    old = spark.createDataFrame(
        [(p, 0) for p in range(n_parts)], ["part", "version"]
    )
    old.repartition("part").write.partitionBy("part").parquet(path)
    new = spark.createDataFrame(
        [(p, 1) for p in range(n_parts)], ["part", "version"]
    )
    stage = path + "__stage"
    new.repartition("part").write.partitionBy("part").parquet(stage)

    violations: list[str] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                rows = spark.read.parquet(path).groupBy("part").agg(
                    F.collect_set("version").alias("vs"),
                    F.count(F.lit(1)).alias("n"),
                ).collect()
            except Exception as exc:
                # ONLY the documented two-rename absence window is
                # retryable; anything else (conflicting partition
                # columns from backup leakage, corrupt footers from a
                # half-written file set) is exactly what this test
                # exists to catch
                msg = str(exc)
                if any(
                    tok in msg
                    for tok in (
                        "FileNotFound", "does not exist",
                        "PATH_NOT_FOUND", "NoSuchFile",
                    )
                ):
                    continue
                violations.append(f"reader exception: {msg[:200]}")
                continue
            for r in rows:
                if len(r.vs) != 1 or r.n != 1:
                    violations.append(f"part={r.part} versions={r.vs} n={r.n}")

    t = threading.Thread(target=reader)
    t.start()
    try:
        publish_partitions(spark, path, stage, "part")
    finally:
        stop.set()
        t.join(60)
    assert violations == []
    final = spark.read.parquet(path)
    assert final.count() == n_parts
    assert final.agg(F.min("version"), F.max("version")).first() == (1, 1)


def test_maintenance_lock_excludes_and_breaks_stale(spark, tmp_path) -> None:
    """Advisory single-writer lock: a second acquire fails while held,
    release frees it, and a lock older than the TTL (a crashed writer)
    is broken by the next acquirer."""
    import os
    import time

    import pytest

    from etl_marketdata_downloader_archived_spark.io import (
        MaintenanceLockHeld,
        maintenance_lock,
    )

    path = str(tmp_path / "lake")
    os.makedirs(path)

    with maintenance_lock(spark, path):
        assert os.path.exists(f"{path}__lock")
        with pytest.raises(MaintenanceLockHeld, match="held for"):
            with maintenance_lock(spark, path):
                pass
    assert not os.path.exists(f"{path}__lock")  # released

    # stale lock from a crashed writer: backdate its mtime past the ttl
    with open(f"{path}__lock", "w"):
        pass
    old = time.time() - 100
    os.utime(f"{path}__lock", (old, old))
    with maintenance_lock(spark, path, ttl_s=10):
        pass  # broken and re-acquired
    assert not os.path.exists(f"{path}__lock")


def test_maintenance_lock_takeover_race_single_winner(spark, tmp_path) -> None:
    """Two contenders both observe ONE expired lock: exactly one
    proceeds; the loser raises MaintenanceLockHeld at every stall
    point of the old delete-then-create TOCTOU.

    Stage 1 - both race the rename itself: the loser's rename finds no
    source file and raises. Stage 2 - the loser stalls even longer,
    until the winner has re-acquired with a FRESH lock: the loser's
    rename then lands on that fresh file, the mtime check detects the
    theft, restores the winner's lock (same owner nonce), and raises."""
    import os
    import time

    import pytest

    from etl_marketdata_downloader_archived_spark.io import (
        MaintenanceLockHeld,
        _takeover_expired,
        maintenance_lock,
    )

    path = str(tmp_path / "lake")
    os.makedirs(path)
    lock = f"{path}__lock"

    # One expired lock from a crashed writer; both contenders capture
    # the SAME stale observation (they both passed the age check).
    with open(lock, "w") as f:
        f.write("crashed-writer-nonce")
    old = time.time() - 100
    os.utime(lock, (old, old))
    stale_mtime = int(os.stat(lock).st_mtime * 1000)

    # Stage 1: winner breaks the lock first; loser's rename has no
    # source left and raises instead of deleting anything.
    _takeover_expired(spark, path, stale_mtime)
    assert not os.path.exists(lock)
    with pytest.raises(MaintenanceLockHeld, match="takeover race"):
        _takeover_expired(spark, path, stale_mtime)

    # Stage 2: winner has re-acquired (fresh lock, fresh nonce); the
    # stalled loser finally runs its rename with the stale
    # observation. It must NOT remove the winner's fresh lock.
    with maintenance_lock(spark, path, owner="winner"):
        fresh = open(lock).read()
        assert fresh.startswith("winner:")
        with pytest.raises(MaintenanceLockHeld, match="already replaced"):
            _takeover_expired(spark, path, stale_mtime)
        assert os.path.exists(lock)
        assert open(lock).read() == fresh  # restored byte-identical
    assert not os.path.exists(lock)  # winner's release still works
    assert not [p for p in os.listdir(tmp_path) if "takeover" in p]


def test_maintenance_lock_release_checks_owner(spark, tmp_path) -> None:
    """A holder that overran its TTL and was taken over must NOT
    delete the new holder's lock on release - release verifies the
    owner nonce first (the old finally-block deleted uncondition-
    ally, unlocking a third writer under the new holder's feet)."""
    import os

    from etl_marketdata_downloader_archived_spark.io import maintenance_lock

    path = str(tmp_path / "lake")
    os.makedirs(path)
    lock = f"{path}__lock"

    with maintenance_lock(spark, path, owner="overrunner"):
        # Simulate an expired-TTL takeover while the job overruns:
        # the lock file now belongs to someone else.
        with open(lock, "w") as f:
            f.write("new-holder:cafebabe")
    assert os.path.exists(lock)  # foreign lock survived our release
    assert open(lock).read() == "new-holder:cafebabe"
    os.remove(lock)


def test_maintenance_lock_readback_detects_lost_create_race(
    spark, tmp_path, monkeypatch
) -> None:
    """On local/Checksum filesystems create(overwrite=false) is
    exists-then-open, NOT atomic - two contenders can both pass the
    exists check and both write; last nonce wins the file. The
    read-back verification makes the overwritten contender yield:
    simulate the lost race by having the read-back see a foreign
    nonce - the contender must raise MaintenanceLockHeld and must NOT
    delete the winner's lock file."""
    import os

    import pytest

    from etl_marketdata_downloader_archived_spark import io as io_mod

    path = str(tmp_path / "lake")
    os.makedirs(path)
    lock = f"{path}__lock"

    monkeypatch.setattr(
        io_mod, "_read_lock_owner", lambda spark, lock: "winner:feedbeef"
    )
    with pytest.raises(
        io_mod.MaintenanceLockHeld, match="read-back nonce mismatch"
    ):
        with io_mod.maintenance_lock(spark, path):
            raise AssertionError("must not enter the critical section")
    # the file is the (simulated) winner's - the loser left it alone
    assert os.path.exists(lock)


def test_maintenance_lock_failed_nonce_write_cleans_up(
    spark, tmp_path, monkeypatch
) -> None:
    """If the exclusive create succeeds but writing the nonce fails
    (disk full, stream error), the half-written lock must be removed
    before the error propagates - otherwise every writer is blocked
    until the TTL on a lock nobody holds. The failure is injected
    into the REAL acquisition path by shadowing the module-global
    name ``bytearray`` (module globals win over builtins), so the
    create has landed and the nonce write is what raises."""
    import os

    import pytest

    from etl_marketdata_downloader_archived_spark import io as io_mod

    path = str(tmp_path / "lake")
    os.makedirs(path)
    lock = f"{path}__lock"

    def boom(*a, **k):
        raise OSError("No space left on device")

    monkeypatch.setattr(io_mod, "bytearray", boom, raising=False)
    with pytest.raises(OSError, match="No space left"):
        with io_mod.maintenance_lock(spark, path):
            raise AssertionError("must not enter the critical section")
    assert not os.path.exists(lock)  # half-written lock cleaned up

    # with the fault removed, a fresh acquisition succeeds right away
    monkeypatch.undo()
    with io_mod.maintenance_lock(spark, path):
        assert os.path.exists(lock)
    assert not os.path.exists(lock)


def test_maintenance_lock_local_claim_is_atomic_exclusive(
    spark, tmp_path, monkeypatch
) -> None:
    """The local-FS claim is java.io.File.createNewFile - atomic
    O_CREAT|O_EXCL - so a lock file that appears between the
    staleness check and the claim makes the contender LOSE cleanly
    (no overwrite, no double-acquire). Simulated by disabling the
    staleness gate and pre-creating the file."""
    import os

    import pytest

    from etl_marketdata_downloader_archived_spark import io as io_mod

    path = str(tmp_path / "lake")
    os.makedirs(path)
    lock = f"{path}__lock"
    monkeypatch.setattr(
        io_mod, "_break_expired_lock", lambda *a, **k: None
    )
    with open(lock, "w") as f:
        f.write("other-holder:cafe")
    with pytest.raises(
        io_mod.MaintenanceLockHeld, match="lost the lock race"
    ):
        with io_mod.maintenance_lock(spark, path):
            raise AssertionError("must not enter the critical section")
    # the other holder's file is untouched - no truncation, no delete
    assert open(lock).read() == "other-holder:cafe"


def test_purge_keys_erases_and_scopes_rewrites(spark, tmp_path) -> None:
    """Right-to-be-forgotten: doomed keys vanish, partial partitions
    are rewritten in place, fully-doomed partitions are DELETED (the
    swap alone would silently keep them), untouched partitions keep
    their exact files, and re-running is a no-op."""
    import glob
    import os

    from etl_marketdata_downloader_archived_spark.io import purge_keys

    path = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [
            (1, "a", 10), (2, "a", 20),      # partial: key 2 doomed
            (3, "b x", 30),                   # fully doomed (+escaping)
            (4, "c", 40), (5, "c", 50),       # untouched
        ],
        ["id", "part", "val"],
    )
    base.write.partitionBy("part").parquet(path)
    before_c = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/part=c/[!_]*.parquet")
    }

    doomed = spark.createDataFrame([(2,), (3,), (99,)], ["id"])
    audit = purge_keys(spark, path, doomed, ["id"], "part")
    assert audit == [("a", 1), ("b x", 1)]

    got = {r.id: (r.part, r.val) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10), 4: ("c", 40), 5: ("c", 50)}
    # the fully-doomed partition directory is gone
    assert not glob.glob(f"{path}/part=b*")
    # untouched partition: bit-identical files
    after_c = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/part=c/[!_]*.parquet")
    }
    assert after_c == before_c

    # idempotent: nothing left to purge -> empty audit, zero rewrites
    before_all = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/part=*/[!_]*.parquet")
    }
    assert purge_keys(spark, path, doomed, ["id"], "part") == []
    after_all = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/part=*/[!_]*.parquet")
    }
    assert after_all == before_all


def test_purge_keys_null_partition_and_full_wipe(spark, tmp_path) -> None:
    """Review regressions: (a) NULL partition values (the Hive
    default dir) must actually purge - both the partial-rewrite
    branch (isin never matches NULL) and the full-delete branch (the
    dir is __HIVE_DEFAULT_PARTITION__, not 'part=None'); (b) a purge
    that empties the whole lake leaves the rerun a documented no-op,
    not a schema-inference crash."""
    import glob

    from etl_marketdata_downloader_archived_spark.io import purge_keys

    # (a) NULL partition, partial then full
    path = str(tmp_path / "lake_null")
    spark.createDataFrame(
        [(1, None, 10), (2, None, 20), (3, "a", 30)],
        "id bigint, part string, val int",
    ).write.partitionBy("part").parquet(path)
    audit = purge_keys(
        spark, path, spark.createDataFrame([(2,)], ["id"]), ["id"], "part"
    )
    assert audit == [(None, 1)]
    got = {r.id for r in spark.read.parquet(path).collect()}
    assert got == {1, 3}  # key 2 actually gone from the NULL partition
    audit = purge_keys(
        spark, path, spark.createDataFrame([(1,)], ["id"]), ["id"], "part"
    )
    assert audit == [(None, 1)]
    assert not glob.glob(f"{path}/part=__HIVE_DEFAULT_PARTITION__*")
    assert {r.id for r in spark.read.parquet(path).collect()} == {3}

    # (b) wipe everything, then rerun
    path2 = str(tmp_path / "lake_wipe")
    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2)], "id bigint, part string, val int"
    ).write.partitionBy("part").parquet(path2)
    doomed = spark.createDataFrame([(1,), (2,)], ["id"])
    assert purge_keys(spark, path2, doomed, ["id"], "part") == [
        ("a", 1), ("b", 1)
    ]
    assert not glob.glob(f"{path2}/part=*")
    # rerun on the emptied lake: no-op, no crash
    assert purge_keys(spark, path2, doomed, ["id"], "part") == []
