"""SCD Type-2 history: version collapsing, point-in-time snapshots,
and the incremental-merge == full-rebuild invariant."""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F

from etl_marketdata_downloader_archived_spark.operators.history import (
    scd2_history,
    scd2_merge,
    snapshot_at,
)


def _t(d, h=0):
    return datetime(2024, 6, d, h)


LOG = [
    # key A: X, X (dup), Y, Y (dup), back to X
    ("A", _t(1), "X", 1),
    ("A", _t(2), "X", 1),
    ("A", _t(3), "Y", 2),
    ("A", _t(4), "Y", 2),
    ("A", _t(5), "X", 1),
    # key B: one state with a NULL attr, re-observed (no new version),
    # then the NULL fills in (that IS a change)
    ("B", _t(1), "S", None),
    ("B", _t(3), "S", None),
    ("B", _t(6), "S", 9),
]
COLS = ["k", "ts", "status", "score"]


def test_scd2_collapses_and_versions(spark) -> None:
    hist = scd2_history(
        spark.createDataFrame(LOG, COLS), ["k"], "ts", ["status", "score"]
    )
    got = {
        (r.k, r.version): (r.status, r.score, r.valid_from, r.valid_to, r.is_current)
        for r in hist.collect()
    }
    assert got == {
        ("A", 1): ("X", 1, _t(1), _t(3), False),
        ("A", 2): ("Y", 2, _t(3), _t(5), False),
        ("A", 3): ("X", 1, _t(5), None, True),
        ("B", 1): ("S", None, _t(1), _t(6), False),
        ("B", 2): ("S", 9, _t(6), None, True),
    }


def test_snapshot_at_matches_brute_force(spark) -> None:
    hist = scd2_history(
        spark.createDataFrame(LOG, COLS), ["k"], "ts", ["status", "score"]
    )
    for day in (1, 2, 3, 4, 5, 6, 7):
        at = _t(day, h=12)
        got = {
            r.k: (r.status, r.score) for r in snapshot_at(hist, at).collect()
        }
        expected = {}
        for k, ts, status, score in LOG:
            if ts <= at and (k not in expected or ts >= expected[k][0]):
                expected[k] = (ts, status, score)
        assert got == {k: v[1:] for k, v in expected.items()}, day


def test_scd2_merge_equals_full_rebuild(spark) -> None:
    """Folding a new batch into an existing history (touching one key,
    leaving another alone, starting with an unchanged re-observation)
    gives row-for-row the history a full-log rebuild gives."""
    batch1 = [r for r in LOG if r[1] <= _t(4)]
    batch2 = [
        ("A", _t(5), "X", 1),       # change for A
        ("B", _t(5), "S", None),    # unchanged re-observation: no version
        ("C", _t(5), "N", 0),       # brand-new key
    ]
    keys, ts, attrs = ["k"], "ts", ["status", "score"]
    full = scd2_history(
        spark.createDataFrame(batch1 + batch2, COLS), keys, ts, attrs
    )
    inc = scd2_merge(
        scd2_history(spark.createDataFrame(batch1, COLS), keys, ts, attrs),
        spark.createDataFrame(batch2, COLS),
        keys,
        ts,
        attrs,
    )
    key = lambda df: sorted(  # noqa: E731
        (r.k, r.version, r.status, r.score, r.valid_from, r.valid_to, r.is_current)
        for r in df.collect()
    )
    assert key(inc) == key(full)


def test_scd2_plan_is_single_window_pass(spark) -> None:
    """The history build is one hash-partition on the key: the two
    windows share (partition, order) so they collapse into one sort."""
    log = spark.createDataFrame(LOG, COLS)
    plan = (
        scd2_history(log, ["k"], "ts", ["status", "score"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_streaming_scd2_sink_equals_full_rebuild(spark, tmp_path) -> None:
    """Two micro-batches through the foreachBatch SCD2 sink leave the
    persistent history exactly where a one-shot rebuild over the full
    log would."""
    import json as _json

    from etl_marketdata_downloader_archived_spark.operators.history import (
        scd2_foreach_batch,
    )

    src = tmp_path / "obs"
    src.mkdir()
    hist_path = str(tmp_path / "hist")
    keys, ts, attrs = ["k"], "ts", ["status", "score"]
    schema = "k STRING, ts TIMESTAMP, status STRING, score LONG"

    batches = [
        [r for r in LOG if r[1] <= _t(4)],
        [r for r in LOG if r[1] > _t(4)] + [("C", _t(6), "N", 0)],
    ]
    fold = scd2_foreach_batch(hist_path, keys, ts, attrs)
    for i, rows in enumerate(batches):
        (src / f"b{i}.json").write_text(
            "\n".join(
                _json.dumps(
                    {"k": k, "ts": str(t), "status": s, "score": sc}
                )
                for k, t, s, sc in rows
            )
        )
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

    full = scd2_history(
        spark.createDataFrame(
            batches[0] + batches[1], COLS
        ),
        keys,
        ts,
        attrs,
    )
    key = lambda df: sorted(  # noqa: E731
        (r.k, r.version, r.status, r.score, r.valid_from, r.valid_to, r.is_current)
        for r in df.collect()
    )
    assert key(spark.read.parquet(hist_path)) == key(full)


def test_scd2_sink_folds_into_a_uri_path(spark, tmp_path) -> None:
    """A ``file://`` history path is found again on the next batch:
    the fold merges into it instead of re-bootstrapping over it, and
    the publish leaves no stage or aside copy behind."""
    from etl_marketdata_downloader_archived_spark.operators.history import (
        scd2_foreach_batch,
    )

    hist = tmp_path / "hist"
    attrs = ["status", "score"]
    fold = scd2_foreach_batch(hist.as_uri(), ["k"], "ts", attrs)
    rows_a = [r for r in LOG if r[0] == "A"]
    fold(spark.createDataFrame(rows_a[:3], COLS), 0)
    fold(spark.createDataFrame(rows_a[3:], COLS), 1)

    key = lambda df: sorted(  # noqa: E731
        (r.version, r.status, r.valid_from, r.valid_to, r.is_current)
        for r in df.collect()
    )
    full = scd2_history(spark.createDataFrame(rows_a, COLS), ["k"], "ts", attrs)
    assert key(spark.read.parquet(hist.as_uri())) == key(full)
    assert len(key(full)) == 3
    assert sorted(p.name for p in tmp_path.iterdir()) == ["hist"]


def test_scd2_randomized_differential_vs_brute_force(spark) -> None:
    """Randomized logs (duplicate states, ties, nulls, many keys) vs a
    per-key python replay of the SCD2 semantics."""
    import random

    rng = random.Random(7)
    statuses = ["X", "Y", "Z", None]
    log = []
    for _ in range(300):
        k = f"k{rng.randrange(12)}"
        ts = _t(rng.randrange(1, 28), rng.randrange(24))
        log.append((k, ts, rng.choice(statuses), rng.choice([1, 2, None])))
    # drop exact (k, ts) duplicate observations: two different states at
    # the SAME instant have no defined order in any SCD2 engine
    seen, dedup = set(), []
    for r in log:
        if (r[0], r[1]) not in seen:
            seen.add((r[0], r[1]))
            dedup.append(r)
    got = {
        (r.k, r.version): (r.status, r.score, r.valid_from, r.valid_to)
        for r in scd2_history(
            spark.createDataFrame(dedup, COLS), ["k"], "ts", ["status", "score"]
        ).collect()
    }

    expected = {}
    by_key = {}
    for k, ts, st, sc in sorted(dedup, key=lambda r: (r[0], r[1])):
        by_key.setdefault(k, []).append((ts, (st, sc)))
    for k, obs in by_key.items():
        versions = []
        for ts, state in obs:
            if not versions or versions[-1][1] != state:
                versions.append((ts, state))
        for i, (ts, state) in enumerate(versions):
            nxt = versions[i + 1][0] if i + 1 < len(versions) else None
            expected[(k, i + 1)] = (state[0], state[1], ts, nxt)
    assert got == expected


def test_stream_enrichment_sees_history_updates_between_batches(
    spark, tmp_path
) -> None:
    """Stream-static join against the SCD2 history's CURRENT versions:
    Spark re-evaluates the static side per micro-batch, so a history
    update between batches changes the enrichment - the live-catalog
    join pattern (no restart needed when the dimension changes)."""
    import json as _json

    from etl_marketdata_downloader_archived_spark.operators.history import (
        scd2_foreach_batch,
    )

    hist_path = str(tmp_path / "hist")
    fold = scd2_foreach_batch(hist_path, ["k"], "ts", ["status", "score"])

    out = tmp_path / "out"
    enriched_rows = {}

    def run_batch(i, events):
        # per-run source/checkpoint: the memory sink cannot recover a
        # checkpoint, and the point here is the STATIC side's per-batch
        # re-evaluation, not source offset tracking
        src = tmp_path / f"ev{i}"
        src.mkdir()
        (src / f"b{i}.json").write_text(
            "\n".join(_json.dumps(r) for r in events)
        )
        stream = (
            spark.readStream.format("text")
            .load(str(src))
            .select(F.from_json("value", "ev_id LONG, k STRING").alias("j"))
            .select("j.*")
        )
        current = (
            spark.read.parquet(hist_path)
            .filter("is_current")
            .select("k", "status")
        )
        q = (
            stream.join(current, on="k", how="left")
            .writeStream.format("memory")
            .queryName(f"enriched_{i}")
            .option("checkpointLocation", str(out / f"ckpt{i}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        for r in spark.sql(f"select * from enriched_{i}").collect():
            enriched_rows[r.ev_id] = r.status

    # seed history: A -> X
    fold(spark.createDataFrame([("A", _t(1), "X", 1)], COLS), 0)
    run_batch(0, [{"ev_id": 1, "k": "A"}])
    # history moves on: A -> Y ; next micro-batch must see Y
    fold(spark.createDataFrame([("A", _t(2), "Y", 2)], COLS), 1)
    run_batch(1, [{"ev_id": 2, "k": "A"}])

    assert enriched_rows == {1: "X", 2: "Y"}


def test_snapshot_at_prunes_partitions(spark, tmp_path) -> None:
    """A valid_from-date-partitioned history with the partition
    predicate skips partitions opened after the snapshot instant
    (PartitionFilters in the scan), and still answers correctly."""
    path = str(tmp_path / "hist")
    hist = scd2_history(
        spark.createDataFrame(LOG, COLS), ["k"], "ts", ["status", "score"]
    ).withColumn("vf_date", F.to_date("valid_from"))
    hist.write.partitionBy("vf_date").parquet(path)

    at = _t(2, h=12)
    snap = snapshot_at(spark.read.parquet(path), at, partition_date_col="vf_date")
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "vf_date" in plan.split("PartitionFilters", 1)[1][:200]
    got = {r.k: (r.status, r.score) for r in snap.collect()}
    assert got == {"A": ("X", 1), "B": ("S", None)}


def test_bitemporal_read_pins_belief_and_validity(spark, tmp_path) -> None:
    """Two published versions of an SCD2 history (the second carrying
    a late correction): the same valid-time question answers
    differently under each transaction version, and the old belief
    stays readable after the correction."""
    from etl_marketdata_downloader_archived_spark.io import publish_version
    from etl_marketdata_downloader_archived_spark.operators.history import (
        bitemporal_read,
        scd2_history,
    )

    root = str(tmp_path / "dim_history")
    t = lambda s: datetime(2024, 1, s, tzinfo=timezone.utc)  # noqa: E731

    log_v1 = spark.createDataFrame(
        [(1, t(1), "bronze"), (1, t(10), "silver")],
        "id bigint, ts timestamp, tier string",
    )
    publish_version(scd2_history(log_v1, ["id"], "ts", ["tier"]), root)

    # late correction: on Jan 5 the tier had ALREADY changed to gold
    log_v2 = spark.createDataFrame(
        [(1, t(1), "bronze"), (1, t(5), "gold"), (1, t(10), "silver")],
        "id bigint, ts timestamp, tier string",
    )
    publish_version(scd2_history(log_v2, ["id"], "ts", ["tier"]), root)

    ask = t(7)  # valid-time question: state on Jan 7
    v1_belief = bitemporal_read(spark, root, ask, tx_version=1).collect()
    v2_belief = bitemporal_read(spark, root, ask).collect()  # latest
    assert [r.tier for r in v1_belief] == ["bronze"]
    assert [r.tier for r in v2_belief] == ["gold"]
    # and the current valid-time state agrees across beliefs
    assert [
        r.tier
        for r in bitemporal_read(spark, root, t(12), tx_version=1).collect()
    ] == ["silver"]
    assert [
        r.tier for r in bitemporal_read(spark, root, t(12)).collect()
    ] == ["silver"]
