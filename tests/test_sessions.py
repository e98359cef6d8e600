"""operators.sessions: gap sessionization + path n-grams.

Cross-engine equivalence is parity-certified (tools/parity.py
sessionize_stats / path_topk); here: hand-checkable semantics.
"""

from __future__ import annotations

from datetime import datetime

from etl_marketdata_downloader_archived_spark.operators.sessions import (
    path_ngrams,
    sessionize,
)


def _ts(minute: int) -> datetime:
    return datetime(2026, 1, 1, 10, minute)


def test_sessionize_gap_rule(spark):
    rows = [
        (1, 1, _ts(0)),   # session 1
        (1, 2, _ts(10)),  # still session 1 (10 min gap)
        (1, 3, _ts(50)),  # 40 min gap -> session 2
        (1, 4, _ts(55)),  # session 2
        (2, 5, _ts(0)),   # other user -> own session 1
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz"
    )
    out = {r.event_id: r.session_seq for r in
           sessionize(df, "user_id", "ts", gap="30 minutes",
                      tiebreak_col="event_id").collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_sessionize_boundary_is_exclusive(spark):
    # gap EXACTLY 30 minutes does not start a new session (rule is >)
    rows = [(1, 1, _ts(0)), (1, 2, _ts(30))]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz"
    )
    out = {r.event_id: r.session_seq for r in
           sessionize(df, "user_id", "ts").collect()}
    assert out == {1: 1, 2: 1}


def test_path_ngrams_counts(spark):
    rows = [
        (1, 1, _ts(0), "a"), (1, 2, _ts(1), "b"), (1, 3, _ts(2), "c"),
        (1, 4, _ts(3), "a"),                      # user1: a>b>c, b>c>a
        (2, 5, _ts(0), "a"), (2, 6, _ts(1), "b"), (2, 7, _ts(2), "c"),
        (3, 8, _ts(0), "x"), (3, 9, _ts(1), "y"),  # too short: no trigram
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz, et string"
    )
    out = {r.path: r.n_occurrences for r in
           path_ngrams(df, "user_id", "ts", "et", n=3,
                       tiebreak_col="event_id").collect()}
    assert out == {"a>b>c": 2, "b>c>a": 1}


def test_path_ngrams_order_by_time_not_insertion(spark):
    rows = [(1, 2, _ts(5), "late"), (1, 1, _ts(0), "early"),
            (1, 3, _ts(9), "end")]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz, et string"
    )
    out = [r.path for r in
           path_ngrams(df, "user_id", "ts", "et", n=3,
                       tiebreak_col="event_id").collect()]
    assert out == ["early>late>end"]


def test_max_concurrency_carry_and_zero_length(spark):
    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        max_concurrency,
    )

    rows = [
        (_ts(0), _ts(50)),                              # 10:00-10:50
        (_ts(30), _ts(45)),                             # overlap -> 2
        (_ts(40), datetime(2026, 1, 2, 9, 0)),          # 3-way; spans midnight
        (datetime(2026, 1, 2, 8, 0), datetime(2026, 1, 2, 8, 0)),  # zero-len
    ]
    df = spark.createDataFrame(rows, "s timestamp_ntz, e timestamp_ntz")
    out = {str(r.bucket): r.max_concurrent
           for r in max_concurrency(df, "s", "e").collect()}
    # day1 peak = 3 (10:40-10:45); day2 = carried-over session + zero-len
    assert out == {"2026-01-01": 3, "2026-01-02": 2}


def _py_sessionize(rows, gap_s):
    """Reference: rows = [(user, event_id, ts)] -> {event_id: seq}."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, e, t in rows:
        by_user[u].append((t, e))
    out = {}
    for u, evs in by_user.items():
        evs.sort()
        seq, prev = 0, None
        for t, e in evs:
            if prev is None or (t - prev).total_seconds() > gap_s:
                seq += 1
            out[e] = seq
            prev = t
    return out


def test_sessionize_randomized_differential(spark):
    import random

    rng = random.Random(11)
    rows = [
        (rng.randint(1, 6), i,
         datetime(2026, 1, 1) .replace(hour=0)
         + __import__("datetime").timedelta(minutes=rng.randint(0, 4000)))
        for i in range(300)
    ]
    # unique (user, ts) so the reference's (ts, event_id) sort matches
    seen, uniq = set(), []
    for u, e, t in rows:
        if (u, t) not in seen:
            seen.add((u, t))
            uniq.append((u, e, t))
    df = spark.createDataFrame(
        uniq, "user_id long, event_id long, ts timestamp_ntz"
    )
    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        sessionize,
    )

    got = {r.event_id: r.session_seq for r in
           sessionize(df, "user_id", "ts", gap="30 minutes",
                      tiebreak_col="event_id").collect()}
    assert got == _py_sessionize(uniq, 1800)


def test_max_concurrency_randomized_differential(spark):
    import random
    from collections import defaultdict
    from datetime import timedelta

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        max_concurrency,
    )

    rng = random.Random(23)
    iv = []
    for _ in range(200):
        s = datetime(2026, 3, 1) + timedelta(minutes=rng.randint(0, 7000))
        iv.append((s, s + timedelta(minutes=rng.randint(0, 3000))))
    df = spark.createDataFrame(iv, "s timestamp_ntz, e timestamp_ntz")
    got = {str(r.bucket): r.max_concurrent
           for r in max_concurrency(df, "s", "e").collect()}
    # reference sweep: closed intervals, +1 before -1 at equal t
    events = [(s, 0) for s, _ in iv] + [(e, 1) for _, e in iv]
    events.sort()  # (t, 0=start first)
    run, peak = 0, defaultdict(lambda: -10**9)
    for t, kind in events:
        run += 1 if kind == 0 else -1
        d = str(t.date())
        # the operator's running sum includes the current row's delta
        peak[d] = max(peak[d], run)
    # only buckets holding endpoints appear in the operator's output
    assert got == {d: peak[d] for d in got}
    assert set(got) == set(peak)


def test_interval_coverage_known_answer(spark):
    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        interval_coverage,
    )

    rows = [
        # group 1: [0,10] [5,20] overlap -> one block [0,20];
        # [20,25] touches -> merges; [40,41] separate block
        ("g1", 0, 10), ("g1", 5, 20), ("g1", 20, 25), ("g1", 40, 41),
        # group 2: zero-length interval + a disjoint one
        ("g2", 7, 7), ("g2", 9, 12),
        # group 3: contained interval adds nothing
        ("g3", 0, 100), ("g3", 10, 20),
    ]
    df = spark.createDataFrame(rows, "g string, s long, e long")
    got = {
        r.g: (r.n_intervals, r.n_blocks, r.covered)
        for r in interval_coverage(df, ["g"], "s", "e").collect()
    }
    assert got == {
        "g1": (4, 2, 26),   # [0,25] + [40,41]
        "g2": (2, 2, 3),    # [7,7] covers 0 + [9,12]
        "g3": (2, 1, 100),
    }


def test_interval_coverage_vs_brute_force(spark):
    """Random intervals (with heavy tie mass) vs an independent
    python merge - the formulation check parity can't provide."""
    import random

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        interval_coverage,
    )

    rng = random.Random(7)
    rows = []
    for g in range(6):
        for _ in range(rng.randint(0, 60)):
            s = rng.randint(0, 50)  # small domain -> many exact ties
            rows.append((f"g{g}", s, s + rng.randint(0, 12)))
    rows = [r for r in rows if r[0] != "g5"]  # one empty group
    df = spark.createDataFrame(rows, "g string, s long, e long")
    got = {
        r.g: (r.n_intervals, r.n_blocks, r.covered)
        for r in interval_coverage(df, ["g"], "s", "e").collect()
    }

    def merge(iv):
        iv = sorted(iv)
        blocks = []
        for s, e in iv:
            if blocks and s <= blocks[-1][1]:
                blocks[-1][1] = max(blocks[-1][1], e)
            else:
                blocks.append([s, e])
        return (
            len(iv),
            len(blocks),
            sum(e - s for s, e in blocks),
        )

    want = {}
    for g, s, e in rows:
        want.setdefault(g, []).append((s, e))
    want = {g: merge(iv) for g, iv in want.items()}
    assert got == want


def test_day_streaks_known_and_brute(spark):
    import random
    from datetime import date, timedelta

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        day_streaks,
    )

    rng = random.Random(11)
    base = date(2026, 3, 1)
    rows = []
    for u in range(8):
        for _ in range(rng.randint(1, 40)):
            d = base + timedelta(days=rng.randint(0, 25))
            # several events per day: distinct-day collapse must dedupe
            rows.append((u, datetime(d.year, d.month, d.day, rng.randint(0, 23))))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz")
    got = {
        r.user_id: (
            r.n_active_days, r.n_streaks, r.longest_streak,
            r.longest_streak_end,
        )
        for r in day_streaks(df, ["user_id"], "ts").collect()
    }

    want = {}
    for u in {r[0] for r in rows}:
        days = sorted({r[1].date() for r in rows if r[0] == u})
        streaks = []
        for d in days:
            if streaks and (d - streaks[-1][-1]).days == 1:
                streaks[-1].append(d)
            else:
                streaks.append([d])
        longest = max(len(s) for s in streaks)
        end = max(s[-1] for s in streaks if len(s) == longest)
        want[u] = (len(days), len(streaks), longest, end)
    assert got == want


def test_attribute_conversions_known_answer(spark):
    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        attribute_conversions,
    )

    rows = [
        # user 1: click at 100, view at 200, purchase at 250
        #   -> last touch = view@200, latency 50
        (1, 10, "click", 100), (1, 11, "view", 200), (1, 12, "purchase", 250),
        # same-instant touch does NOT attribute (strictly before);
        # the click at 240 does
        (1, 13, "click", 240), (1, 14, "click", 300), (1, 15, "purchase", 300),
        # user 2: touch outside the lookback -> unattributed
        (2, 20, "click", 0), (2, 21, "purchase", 2000),
        # user 3: tie at the same ts -> higher event_id wins
        (3, 30, "click", 50), (3, 31, "view", 50), (3, 32, "purchase", 60),
        # purchase itself is never a touch
        (3, 33, "purchase", 70),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, us long"
    )
    got = {
        r.conversion_id: (r.channel, r.touch_id, r.latency_us)
        for r in attribute_conversions(
            df, "user_id", "us", "event_type", "event_id",
            conversion_type="purchase",
            channel_types=["click", "view"],
            lookback_us=1000,
        ).collect()
    }
    assert got == {
        12: ("click", 13, 10),   # click@240 is the last touch before 250
        15: ("click", 13, 60),   # click@300 shares the instant: excluded
        21: (None, None, None),  # only touch is outside the lookback
        32: ("view", 31, 10),    # tie at us=50 -> higher event_id wins
        33: ("view", 31, 20),    # purchases are never touches
    }


def test_attribute_conversions_vs_brute_force(spark):
    """Window formulation vs an independent python brute force over
    random event streams with deliberate instant collisions and
    lookback-boundary hits."""
    import random

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        attribute_conversions,
    )

    rng = random.Random(31)
    rows = []
    eid = 0
    for u in range(10):
        for _ in range(rng.randint(5, 60)):
            eid += 1
            rows.append((
                u, eid,
                rng.choice(["click", "view", "buy", "buy"]),
                rng.randint(0, 300),  # tiny domain -> many exact ties
            ))
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, us long"
    )
    lookback = 75
    got = {
        r.conversion_id: (r.channel, r.touch_id, r.latency_us)
        for r in attribute_conversions(
            df, "user_id", "us", "event_type", "event_id",
            conversion_type="buy",
            channel_types=["click", "view"],
            lookback_us=lookback,
        ).collect()
    }

    want = {}
    for u, cid, ty, us in rows:
        if ty != "buy":
            continue
        cands = [
            (tus, tid, tty)
            for (uu, tid, tty, tus) in rows
            if uu == u and tty in ("click", "view")
            and us - lookback <= tus < us
        ]
        if cands:
            tus, tid, tty = max(cands)
            want[cid] = (tty, tid, us - tus)
        else:
            want[cid] = (None, None, None)
    assert got == want


def test_interval_coverage_clamps_negative_duration(spark):
    """A malformed end < start row is clamped to zero-length at its
    start: counted, but it cannot split/shrink blocks or drive the
    covered total negative."""
    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        interval_coverage,
    )

    rows = [
        ("g", 0, 10),
        ("g", 5, 1),    # malformed: end < start -> behaves as [5, 5]
        ("g", 20, -50),  # malformed and disjoint -> zero-length block
    ]
    df = spark.createDataFrame(rows, "g string, s long, e long")
    r = interval_coverage(df, ["g"], "s", "e").collect()[0]
    assert (r.n_intervals, r.n_blocks, r.covered) == (3, 2, 10)


def test_event_transitions_randomized_vs_bruteforce(spark):
    """Seeded randomized differential for the transition operator:
    random user streams with same-instant ties (broken by the unique
    id) - counts, outgoing totals, and probabilities must equal a
    sorted-replay Counter."""
    import random
    from collections import Counter
    from datetime import datetime, timedelta

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        event_transitions,
    )

    rng = random.Random(88)
    base = datetime(2024, 5, 1, 12, 0, 0)
    for trial in range(5):
        rows = []
        eid = 0
        for u in range(rng.randint(1, 6)):
            t = base
            for _ in range(rng.randint(0, 10)):
                # ~30% same-instant steps: the (ts, id) tie-break path
                if rng.random() > 0.3:
                    t = t + timedelta(seconds=rng.randint(1, 500))
                eid += 1
                rows.append(
                    (u, eid, rng.choice(["a", "b", "c"]), t)
                )
        if not rows:
            continue
        df = spark.createDataFrame(
            rows, ["user_id", "event_id", "event_type", "ts"]
        )
        got = {
            (r.from_event, r.to_event): (r.n_pair, r.n_from, r.p)
            for r in event_transitions(
                df, "user_id", "ts", "event_type", "event_id"
            ).collect()
        }
        streams: dict = {}
        for u, e, et, t in rows:
            streams.setdefault(u, []).append((t, e, et))
        pairs: Counter = Counter()
        for evs in streams.values():
            evs.sort()
            for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
                pairs[(a, b)] += 1
        outs: Counter = Counter()
        for (a, _b), n in pairs.items():
            outs[a] += n
        want = {
            (a, b): (n, outs[a], n / outs[a])
            for (a, b), n in pairs.items()
        }
        assert got == want, trial


def test_debounce_anchor_semantics(spark) -> None:
    """TRUE debounce vs the lag-filter trap: a steady burst 1s apart
    under a 5s gap re-emits every 6th event (anchor advances on KEPT
    rows), where the lag filter would keep only the first. Plus:
    per-key independence and the exact-gap boundary (strictly
    greater-than keeps the anchor)."""
    from datetime import datetime

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        debounce,
    )

    t0 = datetime(2024, 1, 1)
    rows = [
        ("u1", "e", i, datetime(2024, 1, 1, 0, 0, i)) for i in range(13)
    ] + [
        ("u2", "e", 100, t0),
        ("u2", "e", 101, datetime(2024, 1, 1, 0, 0, 5)),   # == gap: drop
        ("u2", "e", 102, datetime(2024, 1, 1, 0, 0, 5, 1)),  # > gap: keep
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_type string, event_id long, ts timestamp"
    )
    kept = debounce(
        df, ["user_id", "event_type"], "ts", 5_000_000, tiebreak="event_id"
    ).collect()
    got = sorted((r.user_id, r.event_id) for r in kept)
    # u1: 0s kept (anchor 0), 1..5 dropped, 6s kept (anchor 6), ... 12s
    assert got == [
        ("u1", 0), ("u1", 6), ("u1", 12), ("u2", 100), ("u2", 102)
    ]


def test_debounce_count_quotes_ntz_column_name(spark) -> None:
    """ADVICE: the TIMESTAMP_NTZ leg of ``debounce_count`` builds a SQL
    expression, so a timestamp column whose name needs quoting (a
    space, a backtick) is backtick-quoted there and counts like any
    other: a 1 s burst under a 5 s gap keeps the 0th, 6th and 12th
    event."""
    from pyspark.sql import functions as F

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        debounce_count,
    )

    burst = spark.createDataFrame(
        [("u1", datetime(2024, 1, 1, 0, 0, i)) for i in range(13)],
        "user_id string, ts timestamp",
    )
    for name in ("event ts", "ev`ts"):
        df = burst.select(
            "user_id", F.col("ts").cast("timestamp_ntz").alias(name)
        )
        got = {
            r.user_id: r.n_kept
            for r in debounce_count(df, ["user_id"], name, 5_000_000).collect()
        }
        assert got == {"u1": 3}, name


def test_debounce_count_matches_grouped_python_fold(spark) -> None:
    """r15 differential: the pure-Catalyst ``debounce_count`` fold
    (higher-order aggregate, two-scalar accumulator) equals the
    grouped-Python ``debounce`` row counts per key - on the known-
    answer burst fixture AND on a seeded random panel with ties,
    sub-second gaps, and single-event keys."""
    import random
    from datetime import datetime, timedelta

    from etl_marketdata_downloader_archived_spark.operators.sessions import (
        debounce,
        debounce_count,
    )

    rng = random.Random(415)
    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(37):
        n = rng.randint(1, 40)
        t = t0
        for _ in range(n):
            # mixture of micro-bursts, near-gap, and long-quiet steps
            t = t + timedelta(
                microseconds=rng.choice([0, 1, 999_999, 1_000_000,
                                         1_000_001, 7_500_000])
            )
            rows.append((f"u{u}", rng.choice(["a", "b"]), eid, t))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id string, event_type string, event_id long, ts timestamp"
    )
    keys = ["user_id", "event_type"]
    want = {
        (r.user_id, r.event_type): r.n
        for r in debounce(df, keys, "ts", 1_000_000, tiebreak="event_id")
        .groupBy(*keys)
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    got = {
        (r.user_id, r.event_type): r.n_kept
        for r in debounce_count(
            df, keys, "ts", 1_000_000, tiebreak="event_id"
        ).collect()
    }
    assert got == want
    # every key with events appears in both (count >= 1 always: the
    # first event is kept unconditionally)
    assert all(v >= 1 for v in got.values())
    # TIMESTAMP_NTZ leg (the events table's type): same counts
    ntz = df.withColumn("ts", df.ts.cast("timestamp_ntz"))
    got_ntz = {
        (r.user_id, r.event_type): r.n_kept
        for r in debounce_count(
            ntz, keys, "ts", 1_000_000, tiebreak="event_id"
        ).collect()
    }
    assert got_ntz == want
