"""applyInPandasWithState: cross-batch retry counting with redrive
semantics (the reference's maxReceiveCount -> DLQ, restated)."""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from etl_marketdata_downloader_archived_spark.streaming.stateful import track_attempts


def test_attempt_counter_crosses_to_dlq(spark, tmp_path) -> None:
    src = tmp_path / "failures"
    src.mkdir()
    # batch 1: task A fails 3 times, task B once
    (src / "b1.json").write_text(
        "\n".join(json.dumps({"ID": i}) for i in ["A", "A", "A", "B"])
    )
    time.sleep(1.1)
    # batch 2: A fails twice more (crosses 5), B once (stays alive)
    (src / "b2.json").write_text(
        "\n".join(json.dumps({"ID": i}) for i in ["A", "A", "B"])
    )

    raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(str(src))
    failures = raw.select(F.from_json("value", "ID STRING").alias("j")).select("j.*")
    tracked = track_attempts(failures, max_attempts=5)

    q = (
        tracked.writeStream.format("memory")
        .queryName("attempts_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("select * from attempts_out").collect()
    by_key: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: r.attempts):
        by_key.setdefault(r.ID, []).append((r.attempts, r.dead))

    # A: cumulative 3 then 5; the death notice fires exactly once,
    # on the crossing batch
    assert by_key["A"] == [(3, False), (5, True)]
    # B: never crosses
    assert by_key["B"] == [(1, False), (2, False)]


def test_streaming_ewma_carries_state_across_batches(spark, tmp_path) -> None:
    """The streaming EWMA's per-key carry must make two micro-batches
    equal one batch pass over the concatenated series (the recursion
    seeds from the stored last value, not from scratch)."""
    from etl_marketdata_downloader_archived_spark.operators import timeseries as TS
    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_ewma,
    )

    b1 = [("A", "2024-03-01 09:00:00", 10.0), ("A", "2024-03-01 09:01:00", 12.0),
          ("B", "2024-03-01 09:00:30", 100.0)]
    b2 = [("A", "2024-03-01 09:02:00", 11.0), ("B", "2024-03-01 09:03:00", 104.0)]

    src = tmp_path / "ticks"
    src.mkdir()
    for i, rows in enumerate((b1, b2), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps({"sym": s, "ts": t, "price": p}) for s, t, p in rows
            )
        )
        time.sleep(1.1)

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    ticks = raw.select(
        F.from_json("value", "sym STRING, ts TIMESTAMP, price DOUBLE").alias("j")
    ).select("j.*")
    out = streaming_ewma(ticks, "sym", "ts", "price", alpha=0.5)

    q = (
        out.writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.sym, r.ts): r.ewma for r in spark.sql("select * from ewma_out").collect()
    }

    both = spark.createDataFrame(
        [(s, t, p) for s, t, p in b1 + b2], ["sym", "ts_s", "price"]
    ).select("sym", F.col("ts_s").cast("timestamp").alias("ts"), "price")
    expected = {
        (r.sym, r.ts): r.ewma
        for r in TS.ewma(both, "sym", "ts", "price", alpha=0.5).collect()
    }
    assert set(streamed) == set(expected)
    for k in expected:
        assert abs(streamed[k] - expected[k]) < 1e-12


def test_streaming_sessionize_carries_sessions_across_batches(
    spark, tmp_path
) -> None:
    """Two micro-batches must label events exactly like one batch pass
    (operators.sessions.sessionize): an open session continues across
    the batch boundary, a long gap spanning batches opens a new one."""
    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        sessionize,
    )
    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_sessionize,
    )

    b1 = [(1, 1, "2024-03-01 09:00:00"), (1, 2, "2024-03-01 09:10:00"),
          (2, 3, "2024-03-01 09:00:00")]
    b2 = [(1, 4, "2024-03-01 09:20:00"),   # continues user1 session 1
          (1, 5, "2024-03-01 11:00:00"),   # gap -> session 2
          (2, 6, "2024-03-01 10:30:00")]   # gap -> user2 session 2

    src = tmp_path / "ev"
    src.mkdir()
    for i, rows in enumerate((b1, b2), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps({"user_id": u, "event_id": e, "ts": t})
                for u, e, t in rows
            )
        )
        time.sleep(1.1)

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    ev = raw.select(
        F.from_json(
            "value", "user_id LONG, event_id LONG, ts TIMESTAMP"
        ).alias("j")
    ).select("j.*")
    out = streaming_sessionize(
        ev, "user_id", "ts", gap="30 minutes", tiebreak="event_id"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {r.event_id: r.session_seq
                for r in spark.sql("select * from sess_out").collect()}

    both = spark.createDataFrame(
        b1 + b2, ["user_id", "event_id", "ts_s"]
    ).select("user_id", "event_id",
             F.col("ts_s").cast("timestamp").alias("ts"))
    expected = {r.event_id: r.session_seq
                for r in sessionize(both, "user_id", "ts",
                                    gap="30 minutes",
                                    tiebreak_col="event_id").collect()}
    assert streamed == expected
    assert expected[5] == 2 and expected[6] == 2  # the cross-batch splits


def test_streaming_sessionize_day_gap_equals_batch(spark, tmp_path) -> None:
    """``gap`` takes any interval string the batch twin's INTERVAL
    takes: a "1 day" stream labels events like one batch pass (a gap
    of exactly one day stays in-session, a longer one breaks), and the
    transformWithState port's step parses the same gap."""
    import pandas as pd

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        sessionize,
    )
    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_sessionize,
    )
    from etl_marketdata_downloader_archived_spark.streaming.topk_state import (
        _SessionizeProcessor,
    )

    b1 = [(1, 1, "2024-03-01 09:00:00"), (1, 2, "2024-03-01 20:00:00"),
          (2, 3, "2024-03-01 00:00:00")]
    b2 = [(1, 4, "2024-03-02 10:00:00"),   # 14 h: user1 session 1
          (1, 5, "2024-03-03 11:00:00"),   # 25 h: session 2
          (2, 6, "2024-03-02 00:00:00"),   # exactly 1 day: session 1
          (2, 7, "2024-03-03 00:00:01")]   # 1 day + 1 s: session 2

    src = tmp_path / "ev"
    src.mkdir()
    for i, rows in enumerate((b1, b2), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps({"user_id": u, "event_id": e, "ts": t})
                for u, e, t in rows
            )
        )
        time.sleep(1.1)

    ev = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
        .select(
            F.from_json(
                "value", "user_id LONG, event_id LONG, ts TIMESTAMP"
            ).alias("j")
        )
        .select("j.*")
    )
    q = (
        streaming_sessionize(ev, "user_id", "ts", gap="1 day")
        .writeStream.format("memory")
        .queryName("sess_day_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sess_day_out").collect()
    streamed = {(r.user_id, r.ts): r.session_seq for r in rows}

    both = spark.createDataFrame(
        b1 + b2, ["user_id", "event_id", "ts_s"]
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    expected = {
        (r.user_id, r.ts): r.session_seq
        for r in sessionize(both, "user_id", "ts", gap="1 day").collect()
    }
    assert streamed == expected
    assert sorted(expected.values()) == [1, 1, 1, 1, 1, 2, 2]

    proc = _SessionizeProcessor("ts", "1 day", None, ["user_id", "ts"], None)
    proc.init(_FakeTWSHandle())
    labels = []
    for batch in (b1, b2):
        pdf = pd.DataFrame(
            [(u, t) for u, _e, t in batch if u == 2], columns=["user_id", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        for out in proc.handleInputRows((2,), iter([pdf]), None):
            labels.extend(out["session_seq"])
    assert labels == [1, 1, 2]


class _FakeGroupState:
    """applyInPandasWithState's GroupState, recorded: what the fold
    stores, removes and re-arms."""

    def __init__(self, value=None, timed_out=False):
        self.value = value
        self.hasTimedOut = timed_out
        self.timeouts: list = []
        self.removed = False

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.timeouts.append(ms)


class _GroupedFrame:
    """Stands in for a DataFrame: keeps what ``_fold`` hands to
    ``groupBy(...).applyInPandasWithState``."""

    def groupBy(self, *keys):
        self.keys = keys
        return self

    def applyInPandasWithState(self, func, **kwargs):
        self.func, self.kwargs = func, kwargs
        return self


def test_fold_group_state_protocol() -> None:
    """The one GroupState protocol every applyInPandasWithState
    operator runs through: a timed-out key is removed and emits
    nothing; a key's frames reach ``step`` concatenated with its
    carried state; a None new state leaves store and timeout alone;
    the TTL re-arms only on a stored update; an empty ``out`` is not
    emitted; an empty batch never reaches ``step``."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        _fold,
    )

    calls: list = []
    replies: dict = {}

    def step(key, pdf, prev):
        calls.append((key, pdf["v"].tolist(), prev))
        return replies[key]

    frame = _fold(
        _GroupedFrame(), ["k"], step, "k string", "n long", 500,
        output_mode="update",
    )
    assert frame.keys == ("k",)
    assert frame.kwargs == {
        "outputStructType": "k string",
        "stateStructType": "n long",
        "outputMode": "update",
        "timeoutConf": GroupStateTimeout.ProcessingTimeTimeout,
    }
    run = lambda key, frames, state: list(  # noqa: E731
        frame.func(key, iter(frames), state)
    )
    emitted = pd.DataFrame({"k": ["a"]})

    # a new key: concatenated frames, prev None, state stored, TTL armed
    replies[("a",)] = (emitted, (6,))
    new = _FakeGroupState()
    outs = run(
        ("a",), [pd.DataFrame({"v": [1, 2]}), pd.DataFrame({"v": [3]})], new
    )
    assert calls[-1] == (("a",), [1, 2, 3], None)
    assert new.value == (6,) and new.timeouts == [500]
    assert len(outs) == 1 and outs[0] is emitted

    # None new state + empty out: store and timeout untouched, no emit
    replies[("b",)] = (emitted.iloc[:0], None)
    kept = _FakeGroupState(value=(4,))
    assert run(("b",), [pd.DataFrame({"v": [9]})], kept) == []
    assert calls[-1] == (("b",), [9], (4,))
    assert kept.value == (4,) and kept.timeouts == [] and not kept.removed

    # a timed-out key is removed, emits nothing, never reaches step
    n_calls = len(calls)
    expired = _FakeGroupState(value=(4,), timed_out=True)
    assert run(("b",), [], expired) == []
    assert expired.removed and not expired.exists and expired.timeouts == []
    assert len(calls) == n_calls

    # an empty batch is a no-op
    idle = _FakeGroupState(value=(4,))
    assert run(("b",), [pd.DataFrame({"v": []})], idle) == []
    assert len(calls) == n_calls and idle.value == (4,)

    # no TTL: NoTimeout, and an update stores without arming anything
    plain = _fold(_GroupedFrame(), ["k"], step, "k string", "n long", None)
    assert plain.kwargs["timeoutConf"] == GroupStateTimeout.NoTimeout
    assert plain.kwargs["outputMode"] == "append"
    fresh = _FakeGroupState()
    list(plain.func(("a",), iter([pd.DataFrame({"v": [1]})]), fresh))
    assert fresh.value == (6,) and fresh.timeouts == []


def test_streaming_attribution_equals_batch(spark, tmp_path) -> None:
    """Streaming last-touch attribution over two micro-batches ==
    the batch operator over the concatenated events - including a
    cross-batch attribution (touch in batch 1, conversion in batch
    2), a same-instant touch that must NOT shadow an older valid one,
    and an out-of-lookback conversion."""
    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        attribute_conversions,
    )
    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_attribution,
    )

    b1 = [
        (1, 10, "click", 100),
        (2, 20, "view", 50),
        # same-instant pair: touch 31 at t=200 arrives BEFORE the
        # conversion 32 at t=200 in (ts,id) order - conversion must
        # attribute to the STRICTLY earlier click 30, not go null,
        # and not see touch 31
        (3, 30, "click", 150), (3, 31, "view", 200), (3, 32, "buy", 200),
    ]
    b1 += [
        # cross-batch same-instant shadow: view 41 at t=300 is the
        # LAST event of batch 1 and must stay PENDING in state - a
        # conversion at t=300 in batch 2 attributes to the strictly
        # earlier click 40, exactly as the batch operator does
        (4, 40, "click", 100), (4, 41, "view", 300),
    ]
    b2 = [
        (1, 11, "buy", 400),       # cross-batch: touch 10 from b1
        (2, 21, "buy", 5000),      # outside lookback -> unattributed
        (3, 33, "buy", 260),       # view 31 now strictly earlier
        (4, 42, "buy", 300),       # same instant as the pending touch
        (4, 43, "buy", 350),       # clock advanced: view 41 now wins
    ]
    src = tmp_path / "ev"
    src.mkdir()
    for i, rows in enumerate((b1, b2), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps(
                    {"user_id": u, "event_id": e, "event_type": ty, "us": t}
                )
                for u, e, ty, t in rows
            )
        )
        time.sleep(1.1)

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    ev = raw.select(
        F.from_json(
            "value",
            "user_id LONG, event_id LONG, event_type STRING, us LONG",
        ).alias("j")
    ).select("j.*")
    out = streaming_attribution(
        ev, "user_id", "us", "event_type", "event_id",
        conversion_type="buy",
        channel_types=["click", "view"],
        lookback_us=1000,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attr_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r.conversion_id: (r.channel, r.touch_id, r.latency_us)
        for r in spark.sql("select * from attr_out").collect()
    }

    both = spark.createDataFrame(
        b1 + b2, "user_id long, event_id long, event_type string, us long"
    )
    batch = {
        r.conversion_id: (r.channel, r.touch_id, r.latency_us)
        for r in attribute_conversions(
            both, "user_id", "us", "event_type", "event_id",
            conversion_type="buy",
            channel_types=["click", "view"],
            lookback_us=1000,
        ).collect()
    }
    assert streamed == batch
    assert batch[32] == ("click", 30, 50)   # same-instant shadow case
    assert batch[11] == ("click", 10, 300)  # cross-batch carry
    assert batch[21] == (None, None, None)  # out of lookback
    assert batch[33] == ("view", 31, 60)
    assert batch[42] == ("click", 40, 200)  # cross-BATCH shadow case
    assert batch[43] == ("view", 41, 50)    # pending settles next tick


def test_streaming_transitions_equals_batch(spark, tmp_path) -> None:
    """Pair emissions across two micro-batches equal the batch
    transition operator's pair counts on the union - including the
    pair that STRADDLES the batch boundary (predecessor in batch 1,
    successor in batch 2), emitted exactly once."""
    from collections import Counter

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        event_transitions,
    )
    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_transitions,
    )

    b1 = [(1, 1, "view", "2024-03-01 09:00:00"),
          (1, 2, "click", "2024-03-01 09:10:00"),
          (2, 3, "view", "2024-03-01 09:00:00")]
    b2 = [(1, 4, "purchase", "2024-03-01 09:20:00"),  # click->purchase straddles
          (2, 5, "view", "2024-03-01 10:30:00"),
          (2, 6, "error", "2024-03-01 10:31:00")]

    src = tmp_path / "ev"
    src.mkdir()
    for i, rows in enumerate((b1, b2), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps(
                    {"user_id": u, "event_id": e, "event_type": et, "ts": t}
                )
                for u, e, et, t in rows
            )
        )
        time.sleep(1.1)

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    ev = raw.select(
        F.from_json(
            "value",
            "user_id LONG, event_id LONG, event_type STRING, ts TIMESTAMP",
        ).alias("j")
    ).select("j.*")
    out = streaming_transitions(
        ev, "user_id", "ts", "event_type", tiebreak="event_id"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("trans_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = Counter(
        (r.from_event, r.to_event)
        for r in spark.sql("select * from trans_out").collect()
    )

    both = spark.createDataFrame(
        b1 + b2, ["user_id", "event_id", "event_type", "ts_s"]
    ).select(
        "user_id", "event_id", "event_type",
        F.col("ts_s").cast("timestamp").alias("ts"),
    )
    want = {
        (r.from_event, r.to_event): r.n_pair
        for r in event_transitions(
            both, "user_id", "ts", "event_type", "event_id"
        ).collect()
    }
    assert dict(streamed) == want
    assert streamed[("click", "purchase")] == 1  # the straddling pair


def test_streaming_transitions_int_events_and_null_values(
    spark, tmp_path
) -> None:
    """Review regressions: (a) a non-string event column must
    round-trip through the carried state (state schema follows the
    input dtype - the str() coercion bug); (b) pairs touching a NULL
    event VALUE drop on both sides exactly like the batch operator -
    including a NULL carried across the batch boundary, which must
    not become the string 'None'."""
    from collections import Counter

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        event_transitions,
    )
    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_transitions,
    )

    # user 1: 10, NULL, 30 - both its pairs touch the NULL and drop
    # (the NULL straddles the boundary via state); user 2: clean int
    # codes with the (8 -> 9) pair straddling the boundary
    b1 = [(1, 1, 10, "2024-03-01 09:00:00"),
          (1, 2, None, "2024-03-01 09:10:00"),
          (2, 3, 7, "2024-03-01 09:00:00"),
          (2, 4, 8, "2024-03-01 09:05:00")]
    b2 = [(1, 5, 30, "2024-03-01 09:20:00"),
          (2, 6, 9, "2024-03-01 09:30:00")]

    src = tmp_path / "ev"
    src.mkdir()
    for i, rows in enumerate((b1, b2), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps(
                    {"user_id": u, "event_id": e, "code": c, "ts": t}
                )
                for u, e, c, t in rows
            )
        )
        time.sleep(1.1)

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    ev = raw.select(
        F.from_json(
            "value", "user_id LONG, event_id LONG, code LONG, ts TIMESTAMP"
        ).alias("j")
    ).select("j.*")
    out = streaming_transitions(
        ev, "user_id", "ts", "code", tiebreak="event_id"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("trans_int_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = Counter(
        (r.from_event, r.to_event)
        for r in spark.sql("select * from trans_int_out").collect()
    )

    both = spark.createDataFrame(
        b1 + b2, "user_id long, event_id long, code long, ts_s string"
    ).select(
        "user_id", "event_id", "code",
        F.col("ts_s").cast("timestamp").alias("ts"),
    )
    want = Counter()
    for r in event_transitions(
        both, "user_id", "ts", "code", "event_id"
    ).collect():
        want[(r.from_event, r.to_event)] += r.n_pair
    assert streamed == want
    assert streamed == Counter({(7, 8): 1, (8, 9): 1})
    assert (10, None) not in streamed and (None, 30) not in streamed


def test_streaming_reconciliation_equals_batch(spark, tmp_path) -> None:
    """Streaming order-vs-lines reconciliation over two micro-batches:
    every touched order re-emits its cumulative verdict, so a
    late-arriving line FLIPS the status the moment it lands
    (mismatch->ok for order 1, ok->mismatch for order 2), a line
    referencing no order emits 'no_order', and the last emission per
    order equals the batch worklist arithmetic (reconcile_worklist's
    int-cents expression) over the concatenated lines."""
    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_reconciliation,
    )

    orders = spark.createDataFrame(
        [(1, "F", 10.00), (2, "O", 20.00)],
        "o_orderkey bigint, o_orderstatus string, o_totalprice double",
    )
    # (orderkey, extprice, disc, tax) -> cents via round(e*(1-d)*(1+t)*100)
    b1 = [(1, 5.00, 0.0, 0.0), (2, 19.99, 0.0, 0.0)]
    b2 = [(1, 5.00, 0.0, 0.0), (2, 1.00, 0.0, 0.0), (4, 3.33, 0.0, 0.0)]
    src = tmp_path / "lines"
    src.mkdir()
    for i, rows in enumerate((b1, b2), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps(
                    {
                        "l_orderkey": k,
                        "l_extendedprice": e,
                        "l_discount": d,
                        "l_tax": t,
                    }
                )
                for k, e, d, t in rows
            )
        )
        time.sleep(1.1)

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    lines = raw.select(
        F.from_json(
            "value",
            "l_orderkey bigint, l_extendedprice double, "
            "l_discount double, l_tax double",
        ).alias("j")
    ).select("j.*")
    out = streaming_reconciliation(lines, orders, tolerance_c=5)
    q = (
        out.writeStream.format("memory")
        .queryName("recon_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "select *, 0 as _b from recon_out"
    ).collect()
    # memory sink appends in batch order; split emissions by n_lines
    # progression per order instead of relying on sink metadata
    by_order: dict = {}
    for r in rows:
        by_order.setdefault(r.o_orderkey, []).append(r)
    for k in by_order:
        by_order[k].sort(key=lambda r: r.n_lines)

    # batch 1 verdicts: order 1 short by 500 (mismatch), order 2
    # within 1 cent (ok)
    o1 = by_order[1]
    assert (o1[0].line_c, o1[0].abs_diff_c, o1[0].status) == (
        500, 500, "mismatch",
    )
    # late line flips order 1 to ok: cumulative 1000 == order_c
    assert (o1[1].line_c, o1[1].n_lines, o1[1].abs_diff_c, o1[1].status) == (
        1000, 2, 0, "ok",
    )
    o2 = by_order[2]
    assert (o2[0].line_c, o2[0].abs_diff_c, o2[0].status) == (
        1999, 1, "ok",
    )
    assert (o2[1].line_c, o2[1].abs_diff_c, o2[1].status) == (
        2099, 99, "mismatch",
    )
    o4 = by_order[4]
    assert len(o4) == 1
    assert (o4[0].status, o4[0].order_c, o4[0].abs_diff_c) == (
        "no_order", None, None,
    )
    assert (o4[0].line_c, o4[0].n_lines) == (333, 1)

    # twin: last emission per order == the batch arithmetic over ALL
    # lines (reconcile_worklist's expression, python-replayed)
    from _helpers import half_up

    def cents(e, d, t):
        return half_up(e * (1 - d) * (1 + t) * 100)

    full: dict = {}
    for k, e, d, t in b1 + b2:
        c, n = full.get(k, (0, 0))
        full[k] = (c + cents(e, d, t), n + 1)
    order_c = {1: 1000, 2: 2000}
    for k, (c, n) in full.items():
        last = by_order[k][-1]
        assert (last.line_c, last.n_lines) == (c, n)
        if k in order_c:
            want_diff = abs(order_c[k] - c)
            assert last.abs_diff_c == want_diff
            assert last.status == ("ok" if want_diff <= 5 else "mismatch")
        else:
            assert last.status == "no_order"


def test_streaming_fd_monitor_equals_batch(spark, tmp_path) -> None:
    """Streaming FD monitor over two micro-batches == batch
    fd_violations on the concatenated rows: a cross-batch violation
    (consistent in batch 1, broken by batch 2) emits the moment it
    breaks, a within-batch violation emits immediately and does NOT
    re-emit when untouched, a healthy key never appears, and a NULL
    dependent counts as a distinct state."""
    from etl_marketdata_downloader_archived_spark.operators.quality import (
        fd_violations,
    )
    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_fd_monitor,
    )

    b1 = [("X", "a"), ("Y", "ok"), ("Z", "p"), ("Z", "q"), ("W", "v")]
    b2 = [("X", "b"), ("Y", "ok"), ("W", None)]
    src = tmp_path / "rows"
    src.mkdir()
    for i, rows in enumerate((b1, b2), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps({"k": k, "v": v}) for k, v in rows
            )
        )
        time.sleep(1.1)

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    rows_df = raw.select(
        F.from_json("value", "k string, v string").alias("j")
    ).select("j.*")
    out = streaming_fd_monitor(rows_df, "k", "v")
    q = (
        out.writeStream.format("memory")
        .queryName("fd_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from fd_out").collect()

    # Z violates within batch 1 and is untouched in batch 2 -> exactly
    # one emission; X and W become violating in batch 2; Y never
    per = {}
    for r in got:
        per.setdefault(r.k, []).append(r)
    assert set(per) == {"X", "Z", "W"}
    assert len(per["Z"]) == 1
    # last emission per key == the batch operator on the full data
    full = spark.createDataFrame(b1 + b2, "k string, v string")
    want = {
        r.k: (r.n_distinct, r.n_rows, r.witness_min, r.witness_max)
        for r in fd_violations(full, "k", "v").collect()
    }
    last = {
        k: max(rs, key=lambda r: r.n_rows) for k, rs in per.items()
    }
    assert set(last) == set(want)
    for k, r in last.items():
        assert (r.n_distinct, r.n_rows, r.witness_min, r.witness_max) == want[k]
    # NULL counted as a distinct state: W has one non-null value + null
    assert last["W"].n_distinct == 2 and last["W"].witness_min == "v"


def test_streaming_fd_monitor_guard_fails_loudly(spark, tmp_path) -> None:
    """A key whose distinct set outgrows the cap fails the stream with
    the guard's message - the declared FD is simply wrong."""
    import pytest as _pytest

    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_fd_monitor,
    )

    src = tmp_path / "rows"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps({"k": "K", "v": f"v{i}"}) for i in range(10)
        )
    )
    raw = spark.readStream.format("text").load(str(src))
    rows_df = raw.select(
        F.from_json("value", "k string, v string").alias("j")
    ).select("j.*")
    out = streaming_fd_monitor(rows_df, "k", "v", max_tracked_values=3)
    q = (
        out.writeStream.format("memory")
        .queryName("fd_guard_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(Exception, match="max_tracked_values"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()


def test_streaming_fifo_equals_batch(spark, tmp_path) -> None:
    """FIFO allocations across three micro-batches equal the batch
    interval-join operator on the union: a lot HALF-CONSUMED in batch
    1 finishes in batch 3, demand arriving BEFORE its supply waits as
    pending state, rows sort by seq within a batch, and zero-qty rows
    allocate nothing. Interval endpoints map to seqs through the
    per-side cumsum so the two outputs compare row-for-row."""
    from etl_marketdata_downloader_archived_spark.operators.ledger import (
        fifo_allocate,
    )
    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_fifo,
    )

    # (key, seq, qty, dir); seq totally ordered per key
    b1 = [("x", 2, 7, "in"), ("x", 1, 3, "out"),   # in-batch disorder
          ("y", 1, 4, "out")]                       # demand before supply
    b2 = [("x", 3, 2, "out"), ("x", 4, 0, "in"),   # zero-qty no-op
          ("y", 2, 3, "in")]
    b3 = [("x", 5, 9, "out"),                       # drains lot 2's tail
          ("x", 6, 5, "in"), ("y", 3, 6, "in")]

    src = tmp_path / "ledger"
    src.mkdir()
    for i, rows in enumerate((b1, b2, b3), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps({"k": k, "seq": s, "q": q, "dir": d})
                for k, s, q, d in rows
            )
        )
        time.sleep(1.1)

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    led = raw.select(
        F.from_json("value", "k STRING, seq LONG, q LONG, dir STRING").alias(
            "j"
        )
    ).select("j.*")
    q = (
        streaming_fifo(led, "k", "seq", "q", "dir")
        .writeStream.format("memory")
        .queryName("fifo_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = sorted(
        (r.k, r.in_seq, r.out_seq, r.alloc)
        for r in spark.sql("select * from fifo_out").collect()
    )

    rows = b1 + b2 + b3
    both = spark.createDataFrame(rows, ["k", "seq", "q", "dir"])
    pairs = fifo_allocate(
        both.filter("dir = 'in'"),
        both.filter("dir = 'out'"),
        ["k"],
        ["seq"],
        "q",
    ).collect()
    # interval lo -> seq, via the per-side running totals
    lo2seq: dict = {}
    for side in ("in", "out"):
        per_key: dict = {}
        for k, s, qt, d in sorted(rows):
            if d != side or qt <= 0:
                continue
            lo = per_key.get(k, 0)
            lo2seq[(side, k, lo)] = s
            per_key[k] = lo + qt
    batch = sorted(
        (
            r.k,
            lo2seq[("in", r.k, r.in_lo)],
            lo2seq[("out", r.k, r.out_lo)],
            r.alloc,
        )
        for r in pairs
    )
    assert streamed == batch
    # the batch-1 lot (x, seq 2) feeds draws in batches 1, 2 AND 3
    assert [(s, o) for k, s, o, _ in streamed if k == "x" and s == 2] == [
        (2, 1), (2, 3), (2, 5)
    ]


def test_streaming_fifo_rejects_fractional_qty(spark, tmp_path) -> None:
    """A fractional quantity fails the stream loudly instead of
    silently truncating away from the batch twin's native-type
    arithmetic (ADVICE r9: int(q) truncation divergence)."""
    import pytest as _pytest

    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_fifo,
    )

    src = tmp_path / "ledger"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"k": "x", "seq": 1, "q": 2.0, "dir": "in"},
                {"k": "x", "seq": 2, "q": 1.5, "dir": "out"},
            ]
        )
    )
    raw = spark.readStream.format("text").load(str(src))
    led = raw.select(
        F.from_json(
            "value", "k STRING, seq LONG, q DOUBLE, dir STRING"
        ).alias("j")
    ).select("j.*")
    q = (
        streaming_fifo(led, "k", "seq", "q", "dir")
        .writeStream.format("memory")
        .queryName("fifo_frac_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(Exception, match="non-integral quantity"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()


def test_streaming_fifo_guards_starved_ledger(spark, tmp_path) -> None:
    """A supply-starved feed (draws with no inflow) must fail the
    max_open_rows guard loudly rather than grow a key's pending-demand
    array without bound (VERDICT r10: every sibling store fails loudly;
    this one OOMed silently). In-bound ledgers with the same cap keep
    the exact batch-twin arithmetic."""
    import pytest as _pytest

    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_fifo,
    )

    src = tmp_path / "ledger_starved"
    src.mkdir()
    # 8 draws, zero inflows -> 8 pending rows for key x after fold
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps({"k": "x", "seq": i, "q": 1, "dir": "out"})
            for i in range(8)
        )
    )
    raw = spark.readStream.format("text").load(str(src))
    led = raw.select(
        F.from_json(
            "value", "k STRING, seq LONG, q LONG, dir STRING"
        ).alias("j")
    ).select("j.*")
    q = (
        streaming_fifo(led, "k", "seq", "q", "dir", max_open_rows=5)
        .writeStream.format("memory")
        .queryName("fifo_starved_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(Exception, match="max_open_rows"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()

    # same cap, healthy ledger: guard silent, arithmetic unchanged
    src2 = tmp_path / "ledger_healthy"
    src2.mkdir()
    rows = [{"k": "x", "seq": 1, "q": 5, "dir": "in"}] + [
        {"k": "x", "seq": 10 + i, "q": 1, "dir": "out"} for i in range(5)
    ]
    (src2 / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    raw2 = spark.readStream.format("text").load(str(src2))
    led2 = raw2.select(
        F.from_json(
            "value", "k STRING, seq LONG, q LONG, dir STRING"
        ).alias("j")
    ).select("j.*")
    q2 = (
        streaming_fifo(led2, "k", "seq", "q", "dir", max_open_rows=5)
        .writeStream.format("memory")
        .queryName("fifo_healthy_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert q2.exception() is None
    got = spark.sql(
        "SELECT in_seq, out_seq, alloc FROM fifo_healthy_out ORDER BY out_seq"
    ).collect()
    assert [(r.in_seq, r.out_seq, r.alloc) for r in got] == [
        (1, 10 + i, 1) for i in range(5)
    ]


def test_streaming_fd_monitor_timestamp_dependent(spark, tmp_path) -> None:
    """A timestamp-typed dependent round-trips the array<timestamp>
    state intact and emits TIMESTAMP witnesses (ADVICE r9: numpy
    datetime64 .item() returns epoch nanoseconds as int, corrupting
    the state) - cross-batch, so batch 2 must re-read batch 1's
    folded timestamps from state."""
    import datetime as dt

    from etl_marketdata_downloader_archived_spark.operators.quality import (
        fd_violations,
    )
    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_fd_monitor,
    )

    b1 = [("X", "2024-01-02T03:04:05"), ("Y", "2024-06-01T00:00:00")]
    b2 = [("X", "2024-05-06T07:08:09"), ("Y", "2024-06-01T00:00:00")]
    src = tmp_path / "rows"
    src.mkdir()
    for i, rows in enumerate((b1, b2), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(json.dumps({"k": k, "v": v}) for k, v in rows)
        )
        time.sleep(1.1)
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    rows_df = raw.select(
        F.from_json("value", "k string, v timestamp").alias("j")
    ).select("j.*")
    out = streaming_fd_monitor(rows_df, "k", "v")
    q = (
        out.writeStream.format("memory")
        .queryName("fd_ts_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from fd_ts_out").collect()
    # only X violates (across the two batches); witnesses are real
    # timestamps, not epoch-nanosecond ints
    assert [r.k for r in got] == ["X"]
    r = got[0]
    assert isinstance(r.witness_min, dt.datetime)
    assert r.witness_min == dt.datetime(2024, 1, 2, 3, 4, 5)
    assert r.witness_max == dt.datetime(2024, 5, 6, 7, 8, 9)
    full = spark.createDataFrame(b1 + b2, "k string, v string").select(
        "k", F.col("v").cast("timestamp").alias("v")
    )
    want = fd_violations(full, "k", "v").collect()
    assert [(w.k, w.n_distinct, w.witness_min, w.witness_max) for w in want] == [
        ("X", r.n_distinct, r.witness_min, r.witness_max)
    ]


def test_streaming_purge_filter_suppresses_across_batches(
    spark, tmp_path
) -> None:
    """The doomed flag carries across micro-batches: rows before a
    purge directive pass, the directive and everything at-or-after
    it (same batch AND later batches) drop, untouched subjects flow,
    and a re-purge is a no-op."""
    rows_b1 = [
        ("u1", "data", 1), ("u1", "data", 2),
        ("u2", "data", 1),
    ]
    rows_b2 = [
        ("u1", "data", 3), ("u1", "purge", 4), ("u1", "data", 5),
        ("u2", "data", 2),
    ]
    rows_b3 = [
        ("u1", "data", 6), ("u1", "purge", 7),  # re-purge: no-op
        ("u2", "data", 3),
    ]
    src = tmp_path / "gdpr"
    src.mkdir()
    for i, rows in enumerate((rows_b1, rows_b2, rows_b3), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps({"user": u, "kind": k, "ts": t})
                for u, k, t in rows
            )
        )
        time.sleep(1.1)

    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_purge_filter,
    )

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    ev = raw.select(
        F.from_json("value", "user STRING, kind STRING, ts LONG").alias("j")
    ).select("j.*")
    q = (
        streaming_purge_filter(ev, "user", "kind", "ts")
        .writeStream.format("memory")
        .queryName("gdpr_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user, r.kind, r.ts)
        for r in spark.sql("select * from gdpr_out").collect()
    )
    assert got == [
        ("u1", "data", 1), ("u1", "data", 2), ("u1", "data", 3),
        ("u2", "data", 1), ("u2", "data", 2), ("u2", "data", 3),
    ]


def test_streaming_purge_filter_equal_ts_and_state_scope(
    spark, tmp_path
) -> None:
    """Review regressions: (a) a data row stamped at the purge
    directive's EXACT timestamp is suppressed (stable sort +
    directive-first tie-break - an unstable sort could leak it);
    (b) clean subjects leave NO state row (the store holds doomed
    subjects only)."""
    rows = [
        ("u1", "data", 5), ("u1", "purge", 5),  # equal-ts pair
        ("u2", "data", 5),
    ]
    src = tmp_path / "gdpr2"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps({"user": u, "kind": k, "ts": t}) for u, k, t in rows
        )
    )

    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_purge_filter,
    )

    raw = spark.readStream.format("text").load(str(src))
    ev = raw.select(
        F.from_json("value", "user STRING, kind STRING, ts LONG").alias("j")
    ).select("j.*")
    q = (
        streaming_purge_filter(ev, "user", "kind", "ts")
        .writeStream.format("memory")
        .queryName("gdpr_eq")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user, r.ts) for r in spark.sql("select * from gdpr_eq").collect()
    )
    assert got == [("u2", 5)]  # u1's equal-ts data row suppressed


def test_streaming_debounce_equals_batch(spark, tmp_path) -> None:
    """Debounce emissions across three micro-batches equal the batch
    operator on the union - including a throttle window that SPANS a
    batch boundary (the anchor carries) and a re-emission exactly
    past the gap in a later batch."""
    from datetime import datetime

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        debounce,
    )
    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_debounce,
    )

    t = lambda s: f"2024-03-01 00:00:{s:02d}"  # noqa: E731
    b1 = [("u1", 1, t(0)), ("u1", 2, t(3)),   # 3s after anchor: drop
          ("u2", 3, t(0))]
    b2 = [("u1", 4, t(5)), ("u1", 5, t(6)),   # 5s == gap: drop; 6s: keep
          ("u2", 6, t(10))]
    b3 = [("u1", 7, t(9)),                     # 3s after new anchor: drop
          ("u1", 8, t(13))]                    # 7s after anchor 6: keep

    src = tmp_path / "deb"
    src.mkdir()
    for i, rows in enumerate((b1, b2, b3), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps({"user_id": u, "event_id": e, "ts": s})
                for u, e, s in rows
            )
        )
        time.sleep(1.1)

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    ev = raw.select(
        F.from_json(
            "value", "user_id STRING, event_id LONG, ts TIMESTAMP"
        ).alias("j")
    ).select("j.*")
    q = (
        streaming_debounce(
            ev, ["user_id"], "ts", 5_000_000, tiebreak="event_id"
        )
        .writeStream.format("memory")
        .queryName("deb_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = sorted(
        (r.user_id, r.event_id)
        for r in spark.sql("select * from deb_out").collect()
    )

    both = spark.createDataFrame(
        [
            (u, e, datetime.strptime(s, "%Y-%m-%d %H:%M:%S"))
            for u, e, s in b1 + b2 + b3
        ],
        "user_id string, event_id long, ts timestamp",
    )
    batch = sorted(
        (r.user_id, r.event_id)
        for r in debounce(
            both, ["user_id"], "ts", 5_000_000, tiebreak="event_id"
        ).collect()
    )
    assert streamed == batch
    assert ("u1", 5) in streamed and ("u1", 4) not in streamed
    assert ("u1", 8) in streamed and ("u1", 7) not in streamed


def test_purge_audit_twins_reconcile(spark, tmp_path) -> None:
    """The GDPR audit story end to end: the streaming purge twin
    (start_purge_with_audit) forwards survivors, appends per-(key,
    batch) rows_suppressed audit rows, and matches the stateful
    filter's survivor set exactly; the batch purge
    (io.purge_keys(audit_path=...)) on a lake of the SAME data rows
    appends per-(key, partition) rows_purged audit rows; and the two
    audits reconcile against the ground truth:
    batch_purged[k] == stream_suppressed[k] + stream_survivors[k]."""
    from collections import Counter

    from etl_marketdata_downloader_archived_spark.io import purge_keys
    from etl_marketdata_downloader_archived_spark.streaming.erasure import (
        start_purge_with_audit,
    )
    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_purge_filter,
    )

    b1 = [("k1", "data", 1), ("k1", "data", 2), ("k1", "purge", 3),
          ("k1", "data", 3), ("k1", "data", 4), ("k2", "data", 1)]
    b2 = [("k1", "data", 5), ("k3", "data", 1), ("k3", "purge", 1),
          ("k2", "data", 2), ("k2", None, 6)]  # NULL kind = data
    b3 = [("k1", "data", 6), ("k3", "data", 2), ("k2", "data", 3),
          ("k1", "purge", 7)]  # re-purge: no-op
    src = tmp_path / "gdpr_src"
    src.mkdir()
    for i, rows in enumerate((b1, b2, b3), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps({"k": k, "kind": kd, "ts": t})
                for k, kd, t in rows
            )
        )
        time.sleep(1.1)

    def stream_src():
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
        )
        return raw.select(
            F.from_json("value", "k STRING, kind STRING, ts LONG").alias("j")
        ).select("j.*")

    q = start_purge_with_audit(
        stream_src(),
        key="k",
        kind="kind",
        ts="ts",
        out_path=str(tmp_path / "out"),
        audit_path=str(tmp_path / "audit"),
        store_path=str(tmp_path / "doomed"),
        checkpoint=str(tmp_path / "ckpt_a"),
    )
    q.awaitTermination(180)

    survivors = sorted(
        (r.k, r.ts)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    # hand-derived: k1 passes ts1,2 (before the directive; ts3 ties
    # and drops), k2 everything incl. the NULL-kind row (SQL
    # kind != 'purge' alone would null-drop it; the stateful twin
    # forwards it), k3 nothing (directive ties its row)
    assert survivors == [
        ("k1", 1), ("k1", 2), ("k2", 1), ("k2", 2), ("k2", 3),
        ("k2", 6),
    ]

    audit = spark.read.parquet(str(tmp_path / "audit")).collect()
    per_batch = {(r.k, r.batch): r.rows_suppressed for r in audit}
    assert per_batch == {
        ("k1", 0): 2,  # ts 3 (tie) + ts 4
        ("k1", 1): 1, ("k3", 1): 1,  # store carry + same-batch tie
        ("k1", 2): 1, ("k3", 2): 1,
    }
    assert all(r.source == "stream_filter" for r in audit)
    stream_suppressed = Counter()
    for r in audit:
        stream_suppressed[r.k] += r.rows_suppressed

    # twin check: identical survivor set to the stateful filter
    q2 = (
        streaming_purge_filter(stream_src(), "k", "kind", "ts")
        .writeStream.format("memory")
        .queryName("gdpr_twin_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    twin = sorted(
        (r.k, r.ts)
        for r in spark.sql("select * from gdpr_twin_out").collect()
    )
    assert twin == survivors

    # batch half: lake of ALL data rows, partitioned; purge k1+k3
    data_rows = [r for r in b1 + b2 + b3 if r[1] == "data"]
    lake = str(tmp_path / "lake")
    spark.createDataFrame(
        [(k, t, t % 2) for k, _, t in data_rows], "k string, ts long, p int"
    ).write.partitionBy("p").parquet(lake)
    doomed = spark.createDataFrame([("k1",), ("k3",)], "k string")
    manifest = purge_keys(
        spark, lake, doomed, ["k"], "p",
        audit_path=str(tmp_path / "audit_batch"),
    )
    assert sum(n for _, n in manifest) == 8  # 6 k1 + 2 k3 data rows
    batch_audit = spark.read.parquet(str(tmp_path / "audit_batch")).collect()
    assert all(r.source == "batch_purge" for r in batch_audit)
    batch_purged = Counter()
    for r in batch_audit:
        batch_purged[r.k] += r.rows_purged
    assert batch_purged == {"k1": 6, "k3": 2}

    # the reconciliation: everything the batch purge erased is either
    # a row the stream suppressed or a survivor that predates the
    # directive (erased later by the batch purge)
    surv_count = Counter(k for k, _ in survivors)
    for k in ("k1", "k3"):
        assert batch_purged[k] == stream_suppressed[k] + surv_count[k]
    assert "k2" not in batch_purged and "k2" not in stream_suppressed

    # crash-replay idempotence for the POST-store-publish window: the
    # store already carries k1's doom (stamped with its dooming batch
    # + directive ts), the batch-0 checkpoint is gone - replaying
    # batch 0 against the doomed store must rewrite IDENTICAL batch-0
    # outputs (survivors judged by ts within the dooming batch, not
    # blanket-suppressed by the carried doom), not truncate them
    import shutil

    b0_out = spark.read.parquet(str(tmp_path / "out" / "batch=0"))
    before = sorted((r.k, r.ts) for r in b0_out.collect())
    only_b1 = tmp_path / "gdpr_replay"
    only_b1.mkdir()
    shutil.copy(src / "b1.json", only_b1 / "b1.json")
    q3 = start_purge_with_audit(
        spark.readStream.format("text").load(str(only_b1)).select(
            F.from_json(
                "value", "k STRING, kind STRING, ts LONG"
            ).alias("j")
        ).select("j.*"),
        key="k",
        kind="kind",
        ts="ts",
        out_path=str(tmp_path / "out"),
        audit_path=str(tmp_path / "audit"),
        store_path=str(tmp_path / "doomed"),
        checkpoint=str(tmp_path / "ckpt_replay"),
    )
    q3.awaitTermination(120)
    after = sorted(
        (r.k, r.ts)
        for r in spark.read.parquet(
            str(tmp_path / "out" / "batch=0")
        ).collect()
    )
    assert after == before == [("k1", 1), ("k1", 2), ("k2", 1)]
    replay_audit = {
        (r.k, r.rows_suppressed)
        for r in spark.read.parquet(
            str(tmp_path / "audit" / "batch=0")
        ).collect()
    }
    assert replay_audit == {("k1", 2)}


def test_streaming_running_balance_equals_batch(spark, tmp_path) -> None:
    """Running-balance panels across three micro-batches: last
    emission per key == the batch panel over the concatenated
    movements (min/max track the running path, not the per-batch
    paths), negatives dip below zero, and a fractional delta fails
    loudly."""
    import pytest as _pytest

    from etl_marketdata_downloader_archived_spark.streaming.stateful import (
        streaming_running_balance,
    )

    b1 = [("p1", 1, 5), ("p1", 2, -3), ("p2", 1, 4)]
    b2 = [("p1", 3, -4), ("p2", 2, -1)]   # p1 dips to -2
    b3 = [("p1", 4, 10), ("p2", 3, 2)]
    src = tmp_path / "moves"
    src.mkdir()
    for i, rows in enumerate((b1, b2, b3), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps({"k": k, "seq": s, "d": d}) for k, s, d in rows
            )
        )
        time.sleep(1.1)
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    mv = raw.select(
        F.from_json("value", "k STRING, seq LONG, d LONG").alias("j")
    ).select("j.*")
    q = (
        streaming_running_balance(mv, "k", "seq", "d")
        .writeStream.format("memory")
        .queryName("bal_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from bal_out").collect()
    last = {}
    for r in sorted(rows, key=lambda r: r.n_moves):
        last[r.k] = (r.n_moves, r.min_bal, r.max_bal, r.end_bal)
    # batch replay over the concatenated movements, per key in seq order
    want = {}
    per_key: dict = {}
    for k, s, d in b1 + b2 + b3:
        per_key.setdefault(k, []).append((s, d))
    for k, moves in per_key.items():
        moves.sort()
        bal, mn, mx = 0, None, None
        for _, d in moves:
            bal += d
            mn = bal if mn is None else min(mn, bal)
            mx = bal if mx is None else max(mx, bal)
        want[k] = (len(moves), mn, mx, bal)
    assert last == want
    assert last["p1"] == (4, -2, 8, 8)  # the cross-batch dip

    # fractional delta -> loud failure (the streaming_fifo rule)
    (src / "b4.json").write_text(json.dumps({"k": "p1", "seq": 9, "d": 1}))
    frac_src = tmp_path / "fracmoves"
    frac_src.mkdir()
    (frac_src / "b1.json").write_text(
        json.dumps({"k": "p9", "seq": 1, "d": 2.5})
    )
    raw2 = spark.readStream.format("text").load(str(frac_src))
    mv2 = raw2.select(
        F.from_json("value", "k STRING, seq LONG, d DOUBLE").alias("j")
    ).select("j.*")
    q2 = (
        streaming_running_balance(mv2, "k", "seq", "d")
        .writeStream.format("memory")
        .queryName("bal_frac_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(Exception, match="non-integral delta"):
        q2.awaitTermination(120)
        if q2.exception() is not None:
            raise q2.exception()

def test_streaming_topk_transform_with_state(spark, tmp_path) -> None:
    """The Spark 4 transformWithStateInPandas surface (r13): a
    per-key running top-3 leaderboard across THREE micro-batches must
    equal the batch WindowGroupLimit top-3 over the union of all
    batches; an id re-delivered in a later batch (at-least-once
    replay shape) must not duplicate; state is k-bounded per key by
    construction. RocksDB state store - the new API's backend.

    ENV GATE: transformWithState's python<->JVM state protocol rides
    google.protobuf (pyspark/sql/streaming/proto/StateMessage_pb2),
    which is not installed in this sandbox - where it is missing the
    live leg skips and the PROCESSOR KERNEL test below carries the
    semantics (same posture as the bs4 and Kafka gates)."""
    import json

    import pytest as _pytest

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        _pytest.skip(
            "google.protobuf unavailable: transformWithStateInPandas "
            "state protocol cannot initialize in this environment"
        )

    from pyspark.sql import functions as F

    from etl_marketdata_downloader_archived_spark.streaming.topk_state import (
        streaming_topk_per_key,
    )

    src = tmp_path / "tk_src"
    src.mkdir()
    batches = [
        [("a", 1, 50), ("a", 2, 90), ("b", 3, 10)],
        [("a", 4, 70), ("b", 5, 10), ("a", 2, 90)],  # id 2 re-delivered
        [("a", 6, 95), ("b", 7, 40), ("a", 8, 60)],
    ]
    old = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    results: dict = {}

    def sink(b, bid: int) -> None:
        for r in b.collect():
            results.setdefault(bid, {}).setdefault(r.key, []).append(
                (r.rank, r.id, r.val)
            )

    try:
        for i, rows in enumerate(batches):
            (src / f"b{i}.json").write_text(
                "\n".join(
                    json.dumps({"k": k, "eid": e, "cents": c})
                    for k, e, c in rows
                )
            )
            raw = spark.readStream.format("text").load(str(src))
            parsed = raw.select(
                F.from_json(
                    "value", "k STRING, eid LONG, cents LONG"
                ).alias("j")
            ).select("j.*")
            q = (
                streaming_topk_per_key(parsed, "k", "eid", "cents", k=3)
                .writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", str(tmp_path / "tk_ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            assert q.exception() is None, q.exception()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old
            )

    # final leaderboard == batch top-3 over the union (dedup id 2)
    final_a = sorted(results[max(results)]["a"])
    assert final_a == [(1, 6, 95), (2, 2, 90), (3, 4, 70)]
    final_b = sorted(results[max(results)]["b"])
    # tie on 10 breaks to the smaller id
    assert final_b == [(1, 7, 40), (2, 3, 10), (3, 5, 10)]
    # the batch-1 intermediate state was the batch-1 truth
    assert sorted(results[0]["a"]) == [(1, 2, 90), (2, 1, 50)]


def test_topk_processor_kernel_semantics() -> None:
    """The transformWithState processor's MERGE KERNEL, driven
    directly (no streaming runtime, no protobuf): cross-call state
    carry, at-least-once id dedup, (value desc, id asc) tie-break,
    k-truncation, and the k-bounded state rewrite."""
    import pandas as pd

    from etl_marketdata_downloader_archived_spark.streaming.topk_state import (
        _TopKProcessor,
    )

    class FakeState:
        def __init__(self):
            self.v = None

        def get(self):
            return self.v

        def update(self, t):
            self.v = t

    proc = _TopKProcessor(k=3)
    proc._state = FakeState()

    def feed(rows):
        pdf = pd.DataFrame(rows, columns=["id", "val"])
        out = list(proc.handleInputRows(("a",), iter([pdf]), None))
        assert len(out) == 1
        return sorted(
            zip(out[0]["rank"], out[0]["id"], out[0]["val"])
        )

    assert feed([(1, 50), (2, 90)]) == [(1, 2, 90), (2, 1, 50)]
    # replayed id 2 dedupes; 4 enters; state stays k-bounded
    assert feed([(4, 70), (2, 90)]) == [
        (1, 2, 90), (2, 4, 70), (3, 1, 50)
    ]
    assert feed([(6, 95), (8, 60)]) == [
        (1, 6, 95), (2, 2, 90), (3, 4, 70)
    ]
    ids, vals = proc._state.v
    assert len(ids) == 3 == len(vals)  # never more than k in state
    # tie on equal values breaks to the smaller id
    proc2 = _TopKProcessor(k=2)
    proc2._state = FakeState()
    pdf = pd.DataFrame([(9, 10), (3, 10), (5, 10)], columns=["id", "val"])
    out = list(proc2.handleInputRows(("b",), iter([pdf]), None))[0]
    assert sorted(zip(out["rank"], out["id"])) == [(1, 3), (2, 5)]


class _FakeTWSValueState:
    def __init__(self):
        self.v = None

    def get(self):
        return self.v

    def update(self, t):
        self.v = tuple(t)

    def clear(self):
        self.v = None

    def exists(self):
        return self.v is not None


class _FakeTWSListState:
    def __init__(self):
        self.rows = []

    def exists(self):
        return bool(self.rows)

    def get(self):
        return iter(list(self.rows))

    def appendValue(self, r):
        self.rows.append(tuple(r))

    def appendList(self, rows):
        self.rows.extend(tuple(r) for r in rows)

    def put(self, rows):
        self.rows = [tuple(r) for r in rows]

    def clear(self):
        self.rows = []


class _FakeTWSMapState:
    def __init__(self):
        self.m = {}

    def exists(self):
        return bool(self.m)

    def containsKey(self, k):
        return tuple(k) in self.m

    def getValue(self, k):
        return self.m[tuple(k)]

    def updateValue(self, k, v):
        self.m[tuple(k)] = tuple(v)

    def iterator(self):
        return iter(list(self.m.items()))

    def keys(self):
        return iter(list(self.m.keys()))

    def values(self):
        return iter(list(self.m.values()))

    def removeKey(self, k):
        self.m.pop(tuple(k), None)

    def clear(self):
        self.m = {}


class _FakeTWSHandle:
    """Dict-backed StatefulProcessorHandle double: the kernel tier for
    every transformWithState state shape (ValueState/ListState/
    MapState/timers/TTL pass-through) where the live protocol is
    protobuf-gated."""

    def __init__(self):
        self.timers = set()
        self._states = {}
        self.ttls = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        self.ttls[name] = ttlDurationMs
        return self._states.setdefault(name, _FakeTWSValueState())

    def getListState(self, name, schema, ttlDurationMs=None):
        self.ttls[name] = ttlDurationMs
        return self._states.setdefault(name, _FakeTWSListState())

    def getMapState(self, name, kschema, vschema, ttlDurationMs=None):
        self.ttls[name] = ttlDurationMs
        return self._states.setdefault(name, _FakeTWSMapState())

    def registerTimer(self, ts):
        self.timers.add(int(ts))

    def deleteTimer(self, ts):
        self.timers.discard(int(ts))

    def listTimers(self):
        return iter(sorted(self.timers))


class _FakeTWSTimerValues:
    def __init__(self, now_ms):
        self._now = now_ms

    def getCurrentProcessingTimeInMs(self):
        return self._now

    def getCurrentWatermarkInMs(self):
        return -1


def test_debounce_tws_kernel_equals_batch_fold(spark) -> None:
    """The migrated debounce processor (transformWithState) driven
    kernel-side over the SAME three batches as the live
    stream==batch test: kept ids equal the batch operator on the
    union - anchor carries across calls, boundary-exact gap (5s ==
    gap drops, >gap keeps), tiebreak ordering inside a batch."""
    import pandas as pd

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        debounce,
    )
    from etl_marketdata_downloader_archived_spark.streaming.topk_state import (
        _DebounceProcessor,
    )

    t = lambda s: f"2024-03-01 00:00:{s:02d}"  # noqa: E731
    b1 = [("u1", 1, t(0)), ("u1", 2, t(3)), ("u2", 3, t(0))]
    b2 = [("u1", 4, t(5)), ("u1", 5, t(6)), ("u2", 6, t(10))]
    b3 = [("u1", 7, t(9)), ("u1", 8, t(13))]

    procs: dict = {}
    kept: list = []
    for batch in (b1, b2, b3):
        by_key: dict = {}
        for u, e, s in batch:
            by_key.setdefault(u, []).append((u, e, s))
        for u, rows in by_key.items():
            if u not in procs:
                p = _DebounceProcessor(
                    "ts", 5_000_000, "event_id",
                    ["user_id", "event_id", "ts"], None,
                )
                p.init(_FakeTWSHandle())
                procs[u] = p
            pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts"])
            pdf["ts"] = pd.to_datetime(pdf["ts"])
            for out in procs[u].handleInputRows(
                (u,), iter([pdf]), _FakeTWSTimerValues(0)
            ):
                kept.extend(zip(out["user_id"], out["event_id"]))

    both = spark.createDataFrame(
        [(u, e, s) for u, e, s in b1 + b2 + b3],
        "user_id string, event_id long, ts string",
    ).select("user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"))
    batch_kept = sorted(
        (r.user_id, r.event_id)
        for r in debounce(
            both, ["user_id"], "ts", 5_000_000, tiebreak="event_id"
        ).collect()
    )
    assert sorted(kept) == batch_kept
    assert ("u1", 5) in kept and ("u1", 4) not in kept
    assert ("u1", 8) in kept and ("u1", 7) not in kept
    # TTL pass-through: an expired (cleared) anchor re-emits immediately
    p = procs["u1"]
    p._anchor.clear()  # what TTL expiry does to the named state
    pdf = pd.DataFrame(
        [("u1", 9, t(14))], columns=["user_id", "event_id", "ts"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    outs = list(p.handleInputRows((u,), iter([pdf]), _FakeTWSTimerValues(0)))
    assert len(outs) == 1 and list(outs[0]["event_id"]) == [9]


def test_debounce_tws_live_equals_batch(spark, tmp_path) -> None:
    """LIVE leg of the migrated twin - identical scenario to
    test_streaming_debounce_equals_batch, on transformWithState.
    Gated on google.protobuf (the state protocol dependency), same
    posture as the top-k live leg."""
    import pytest as _pytest

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        _pytest.skip(
            "google.protobuf unavailable: transformWithStateInPandas "
            "state protocol cannot initialize in this environment"
        )

    from datetime import datetime

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        debounce,
    )
    from etl_marketdata_downloader_archived_spark.streaming.topk_state import (
        streaming_debounce_tws,
    )

    t = lambda s: f"2024-03-01 00:00:{s:02d}"  # noqa: E731
    b1 = [("u1", 1, t(0)), ("u1", 2, t(3)), ("u2", 3, t(0))]
    b2 = [("u1", 4, t(5)), ("u1", 5, t(6)), ("u2", 6, t(10))]
    b3 = [("u1", 7, t(9)), ("u1", 8, t(13))]
    src = tmp_path / "dtw"
    src.mkdir()
    for i, rows in enumerate((b1, b2, b3), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps({"user_id": u, "event_id": e, "ts": s})
                for u, e, s in rows
            )
        )
        time.sleep(1.1)
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
        )
        ev = raw.select(
            F.from_json(
                "value", "user_id STRING, event_id LONG, ts TIMESTAMP"
            ).alias("j")
        ).select("j.*")
        q = (
            streaming_debounce_tws(
                ev, ["user_id"], "ts", 5_000_000, tiebreak="event_id"
            )
            .writeStream.format("memory")
            .queryName("dtw_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = sorted(
            (r.user_id, r.event_id)
            for r in spark.sql("select * from dtw_out").collect()
        )
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old
            )
    both = spark.createDataFrame(
        [
            (u, e, datetime.strptime(s, "%Y-%m-%d %H:%M:%S"))
            for u, e, s in b1 + b2 + b3
        ],
        "user_id string, event_id long, ts timestamp",
    )
    batch = sorted(
        (r.user_id, r.event_id)
        for r in debounce(
            both, ["user_id"], "ts", 5_000_000, tiebreak="event_id"
        ).collect()
    )
    assert streamed == batch


def test_sessionize_tws_kernel_equals_batch_fold(spark) -> None:
    """The migrated sessionize processor (transformWithState, VERDICT
    r14 item 7 - third twin) driven kernel-side over three batches:
    per-event session labels equal the batch operator on the union
    (the two-scalar state carries a session ACROSS batches, a
    gap-crossing event increments the seq), boundary semantics exact
    (gap == threshold stays in-session; > breaks), and TTL expiry
    restarts a user at session 1."""
    import pandas as pd

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        sessionize,
    )
    from etl_marketdata_downloader_archived_spark.streaming.topk_state import (
        _SessionizeProcessor,
    )

    t = lambda s: f"2024-03-01 00:{s // 60:02d}:{s % 60:02d}"  # noqa: E731
    # u1: events at 0s, 30s (same session), then batch 2 at 35s (still
    # within the 30s gap of 30s? 35-30=5 <= 30 -> same session), then
    # 70s (70-35=35 > 30 -> new session); u2: 0s then 45s (> 30 -> new)
    b1 = [("u1", 1, t(0)), ("u1", 2, t(30)), ("u2", 3, t(0))]
    b2 = [("u1", 4, t(35)), ("u2", 5, t(45))]
    b3 = [("u1", 6, t(70)), ("u1", 7, t(75))]

    procs: dict = {}
    handles: dict = {}
    labels: list = []
    for batch in (b1, b2, b3):
        by_key: dict = {}
        for u, e, s in batch:
            by_key.setdefault(u, []).append((u, e, s))
        for u, rows in by_key.items():
            if u not in procs:
                p = _SessionizeProcessor(
                    "ts", 30.0, "event_id",
                    ["user_id", "ts", "event_id"], None,
                )
                h = _FakeTWSHandle()
                p.init(h)
                procs[u], handles[u] = p, h
            pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts"])
            pdf["ts"] = pd.to_datetime(pdf["ts"])
            for out in procs[u].handleInputRows(
                (u,), iter([pdf]), _FakeTWSTimerValues(0)
            ):
                labels.extend(
                    zip(out["user_id"], out["event_id"], out["session_seq"])
                )

    both = spark.createDataFrame(
        [(u, e, s) for u, e, s in b1 + b2 + b3],
        "user_id string, event_id long, ts string",
    ).select("user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"))
    batch_labels = sorted(
        (r.user_id, r.event_id, r.session_seq)
        for r in sessionize(
            both, "user_id", "ts", gap="30 seconds",
            tiebreak_col="event_id",
        ).collect()
    )
    assert sorted(labels) == batch_labels
    got = {(u, e): s for u, e, s in labels}
    # the cross-batch session: event 4 (35s) continues u1's session 1
    # (5s after event 2); event 6 (70s) breaks it (35s > 30s gap)
    assert got[("u1", 2)] == 1 and got[("u1", 4)] == 1
    assert got[("u1", 6)] == 2 and got[("u1", 7)] == 2
    assert got[("u2", 5)] == 2

    # TTL expiry (named-state clear) restarts the user at session 1
    p = procs["u1"]
    p._state.clear()
    pdf = pd.DataFrame(
        [("u1", 9, t(80))], columns=["user_id", "event_id", "ts"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    outs = list(
        p.handleInputRows(("u1",), iter([pdf]), _FakeTWSTimerValues(0))
    )
    assert list(outs[0]["session_seq"]) == [1]


def test_sessionize_tws_live_equals_batch(spark, tmp_path) -> None:
    """LIVE leg of the sessionize port - protobuf-gated like the other
    transformWithState legs; the kernel twin above carries the fold
    semantics in this sandbox."""
    import pytest as _pytest

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        _pytest.skip(
            "google.protobuf unavailable: transformWithStateInPandas "
            "state protocol cannot initialize in this environment"
        )

    from datetime import datetime

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        sessionize,
    )
    from etl_marketdata_downloader_archived_spark.streaming.topk_state import (
        streaming_sessionize_tws,
    )

    t = lambda s: f"2024-03-01 00:{s // 60:02d}:{s % 60:02d}"  # noqa: E731
    b1 = [("u1", 1, t(0)), ("u1", 2, t(30)), ("u2", 3, t(0))]
    b2 = [("u1", 4, t(35)), ("u2", 5, t(45))]
    b3 = [("u1", 6, t(70)), ("u1", 7, t(75))]
    src = tmp_path / "stw"
    src.mkdir()
    for i, rows in enumerate((b1, b2, b3), 1):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps({"user_id": u, "event_id": e, "ts": s})
                for u, e, s in rows
            )
        )
        time.sleep(1.1)
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
        )
        ev = raw.select(
            F.from_json(
                "value", "user_id STRING, event_id LONG, ts TIMESTAMP"
            ).alias("j")
        ).select("j.*")
        q = (
            streaming_sessionize_tws(
                ev, "user_id", "ts", gap="30 seconds",
                tiebreak="event_id",
            )
            .writeStream.format("memory")
            .queryName("stw_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = sorted(
            (r.user_id, r.event_id, r.session_seq)
            for r in spark.sql("select * from stw_out").collect()
        )
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old
            )
    both = spark.createDataFrame(
        [
            (u, e, datetime.strptime(s, "%Y-%m-%d %H:%M:%S"))
            for u, e, s in b1 + b2 + b3
        ],
        "user_id string, event_id long, ts timestamp",
    )
    batch = sorted(
        (r.user_id, r.event_id, r.session_seq)
        for r in sessionize(
            both, "user_id", "ts", gap="30 seconds",
            tiebreak_col="event_id",
        ).collect()
    )
    assert streamed == batch


def test_inactivity_summary_processor_kernel() -> None:
    """ListState/MapState/timer kernel coverage (VERDICT r13 item 5):
    counts accumulate in MapState across calls, the id sample is
    ListState-bounded at sample_n, every input call re-arms EXACTLY
    one timer (stale one deleted), expiry emits the summary with the
    pinned top-cat tie-break and CLEARS all three states, and the next
    arrival starts a fresh session."""
    import pandas as pd

    from etl_marketdata_downloader_archived_spark.streaming.topk_state import (
        _InactivitySummaryProcessor,
    )

    proc = _InactivitySummaryProcessor(inactivity_ms=10_000, sample_n=3)
    h = _FakeTWSHandle()
    proc.init(h)

    def feed(rows, now_ms):
        pdf = pd.DataFrame(rows, columns=["key", "cat", "id"])
        return list(
            proc.handleInputRows(("k1",), iter([pdf]), _FakeTWSTimerValues(now_ms))
        )

    assert feed([("k1", "view", 1), ("k1", "view", 2), ("k1", "buy", 3)], 1000) == []
    assert h.timers == {11_000}
    assert feed([("k1", "view", 4), ("k1", "cart", 5)], 5000) == []
    assert h.timers == {15_000}  # stale 11s timer deleted, re-armed

    outs = list(
        proc.handleExpiredTimer(("k1",), _FakeTWSTimerValues(15_000), None)
    )
    assert len(outs) == 1
    r = outs[0].iloc[0]
    assert r.key == "k1" and r.total == 5 and r.n_cats == 3
    assert r.top_cat == "view" and r.top_n == 3
    assert list(r.sample_ids) == [1, 2, 3]  # bounded at sample_n
    # states cleared: a stale-timer double fire emits nothing
    assert list(
        proc.handleExpiredTimer(("k1",), _FakeTWSTimerValues(16_000), None)
    ) == []
    # fresh session after clear; equal counts tie-break to LARGER cat
    assert feed([("k1", "b", 9), ("k1", "a", 10)], 20_000) == []
    outs = list(
        proc.handleExpiredTimer(("k1",), _FakeTWSTimerValues(31_000), None)
    )
    r = outs[0].iloc[0]
    assert r.total == 2 and r.top_cat == "b" and r.top_n == 1
    assert list(r.sample_ids) == [9, 10]
    # NULL corners (review findings): a null id must not crash the
    # batch (stays out of the sample), a null cat buckets as "" so
    # total stays consistent with the counts
    assert feed(
        [("k1", None, 20), ("k1", "view", None), ("k1", "view", 21)],
        40_000,
    ) == []
    outs = list(
        proc.handleExpiredTimer(("k1",), _FakeTWSTimerValues(51_000), None)
    )
    r = outs[0].iloc[0]
    assert r.total == 3 and r.n_cats == 2
    assert r.top_cat == "view" and r.top_n == 2
    assert list(r.sample_ids) == [20, 21]  # the null id skipped


def test_inactivity_summary_live_gated(spark, tmp_path) -> None:
    """Live leg for the ListState/MapState/timer processor - gated on
    google.protobuf like every transformWithState live test."""
    import pytest as _pytest

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        _pytest.skip(
            "google.protobuf unavailable: transformWithStateInPandas "
            "state protocol cannot initialize in this environment"
        )
    from etl_marketdata_downloader_archived_spark.streaming.topk_state import (
        streaming_inactivity_summary,
    )

    src = tmp_path / "ia_src"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps({"k": "k1", "cat": c, "eid": i})
            for i, c in enumerate(["view", "view", "buy"])
        )
    )
    raw = spark.readStream.format("text").load(str(src))
    ev = raw.select(
        F.from_json("value", "k STRING, cat STRING, eid LONG").alias("j")
    ).select("j.*")
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            streaming_inactivity_summary(ev, "k", "cat", "eid", 1000)
            .writeStream.format("memory")
            .queryName("ia_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old
            )
