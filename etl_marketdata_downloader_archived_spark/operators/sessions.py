"""Batch event sessionization and path mining.

The batch twins of the streaming session windows
(plans/relational.py `stream_session` aggregates per session;
streaming.windows owns the live path): `sessionize` ASSIGNS each raw
event its session - the per-event labeling product-analytics stacks
join everything else onto - and `path_ngrams` mines the most common
k-step event-type journeys.

Scale posture: sessionize is ONE shuffle (partition by user) and one
ordered window pass - no self-join, no per-user collect beyond the
window's streaming frame. Path mining groups each user's events once
(shuffle by user), builds the step n-grams IN-ROW (slice + arrays_zip,
the doc_bigrams pattern - no second explode-shuffle of raw events),
and counts paths with a map-side-combinable aggregate whose key space
is |event_type|^k, independent of user count. A user's full event list
does sit in one aggregation buffer - same bound as any per-user
ordered analysis; cap with a per-user limit upstream if a key can be
pathological.

Reference anchor: the reference records no user/event notion at all
(tasks are fire-and-forget, data-downloader/data_downloader.py:213-226);
these extend the funnel/cohort family (plans/events.py) the lake adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "sessionize",
    "path_ngrams",
    "interval_coverage",
    "day_streaks",
    "attribute_conversions",
    "debounce",
]


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Assign every event a per-user session number (1-based) by the
    classic gap rule: a new session starts when the time since the
    user's previous event exceeds ``gap``. Adds ``session_seq``;
    (user, session_seq) identifies a session. ``tiebreak_col`` makes
    the event order total when timestamps can tie."""
    from pyspark.sql import Window as W

    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = W.partitionBy(user_col).orderBy(*order)
    prev = F.lag(ts_col).over(w)
    is_new = prev.isNull() | (
        F.col(ts_col) - prev > F.expr(f"INTERVAL {gap}")
    )
    return df.withColumn(
        "session_seq",
        F.sum(is_new.cast("long")).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )


def path_ngrams(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    step_col: str,
    n: int = 3,
    tiebreak_col: str | None = None,
    sep: str = ">",
) -> DataFrame:
    """(path, n_occurrences) for every length-``n`` consecutive step
    sequence across users' time-ordered events. One shuffle collects
    each user's ordered steps; n-grams are built in-row; the count's
    key space is bounded by |distinct steps|^n, not by users."""
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    seq = F.transform(
        F.array_sort(
            F.collect_list(F.struct(*order, F.col(step_col).alias("_s")))
        ),
        lambda x: x["_s"],
    )
    per_user = df.groupBy(user_col).agg(seq.alias("_seq"))
    m = F.greatest(F.size(F.col("_seq")) - (n - 1), F.lit(0))
    grams = F.arrays_zip(
        *[F.slice(F.col("_seq"), i + 1, m).alias(f"g{i}") for i in range(n)]
    )
    return (
        per_user.select(F.explode(grams).alias("g"))
        .select(
            F.concat_ws(sep, *[F.col(f"g.g{i}") for i in range(n)]).alias(
                "path"
            )
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


def max_concurrency(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    bucket: str = "day",
) -> DataFrame:
    """Max simultaneously-open intervals per time bucket (closed
    intervals: an interval open at instant t counts at t, so
    zero-length intervals still register). The classic sweep-line,
    made scale-safe: the +1/-1 delta stream is swept WITHIN each
    bucket's partition (shuffle on bucket, ordered window inside),
    and cross-bucket state is stitched by a prefix sum over the
    BUCKET-LEVEL net deltas - a table with one row per bucket, so the
    single-partition window touches dimension-sized data, never the
    event stream. Buckets with no interval endpoints don't emit a row
    (their concurrency is the running carry; join against a calendar
    grid if gap buckets must appear).

    Within one timestamp, +1s sort before -1s; the in-bucket MAX of
    the running sum is order-insensitive beyond that, so the result is
    deterministic on both engines."""
    from pyspark.sql import Window as W

    trunc = {"day": F.to_date, "hour": lambda c: F.date_trunc("hour", c)}[
        bucket
    ]
    deltas = intervals.select(
        F.col(start_col).alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        intervals.select(F.col(end_col).alias("t"), F.lit(-1).alias("delta"))
    ).withColumn("bucket", trunc(F.col("t")))
    w_in = (
        W.partitionBy("bucket")
        .orderBy(F.col("t").asc(), F.col("delta").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    in_bucket = (
        deltas.withColumn("run", F.sum("delta").over(w_in))
        .groupBy("bucket")
        .agg(F.max("run").alias("_max_run"), F.sum("delta").alias("_net"))
    )
    w_b = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    return in_bucket.select(
        "bucket",
        (
            F.coalesce(F.sum("_net").over(w_b), F.lit(0))
            + F.col("_max_run")
        ).alias("max_concurrent"),
    )


def interval_coverage(
    intervals: DataFrame,
    group_cols: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Union-of-intervals length per group: total time covered by at
    least one interval, overlaps merged - uptime/SLA coverage,
    time-on-site, sensor duty cycle. ``start_col``/``end_col`` are
    BIGINT instants (epoch micros by convention - callers convert
    timestamps so every sum below is exact integer arithmetic; the
    same gaps-and-islands SQL runs verbatim on a warehouse oracle).

    Merge semantics: closed intervals, touching merges (an interval
    starting exactly where another ends extends the same covered
    block). The sweep is the running-max formulation: a block starts
    where start > max(end) over all earlier intervals of the group;
    per block, covered span = max(end) - min(start).

    Determinism under start ties needs no tie-break: every interval's
    end >= its start, so a row can never open a new block relative to
    a same-start predecessor regardless of their order, and the
    per-block min/max aggregates are order-free. That invariant is
    ENFORCED, not assumed: a malformed end < start row (swapped
    columns, a negative duration fed in upstream) is clamped to the
    zero-length interval [start, start] - it still counts in
    n_intervals but cannot split or shrink a block, and covered
    totals can never go negative.

    Scale shape: one shuffle on the group key, one ordered window per
    group (the running max is a streaming frame - no buffering beyond
    the frame row). Per-group data sits in one task's sort, the same
    bound as sessionize and every per-entity ordered analysis; group
    by a bounded entity (user, device, machine), not a global key.

    Returns group_cols + (n_intervals, n_blocks, covered) with
    ``covered`` in the input's units (bigint).
    """
    from pyspark.sql import Window as W

    s = F.col(start_col)
    # clamp malformed negative-duration rows to zero-length at start:
    # the sweep's correctness proof requires e >= s
    e = F.greatest(F.col(end_col), s)
    w = W.partitionBy(*group_cols).orderBy(start_col)
    prev_end = F.max(e).over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    blocked = intervals.select(
        *group_cols,
        s.alias("_s"),
        e.alias("_e"),
        F.sum(
            F.when(prev_end.isNull() | (s > prev_end), 1).otherwise(0)
        )
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("_blk"),
    )
    per_block = blocked.groupBy(*group_cols, "_blk").agg(
        F.min("_s").alias("_bs"),
        F.max("_e").alias("_be"),
        F.count(F.lit(1)).alias("_n"),
    )
    return per_block.groupBy(*group_cols).agg(
        F.sum("_n").alias("n_intervals"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.col("_be") - F.col("_bs")).alias("covered"),
    )


def day_streaks(
    events: DataFrame,
    group_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """Consecutive-active-day streaks per group - the retention
    product metric ("7-day streak") and the cheap engagement-decay
    signal. Collapses to DISTINCT (group, day) FIRST, so every window
    below runs over day cardinality (<= days in the corpus window per
    group), never event rows - the rank-from-counts posture applied
    to gaps-and-islands.

    Island key: day - row_number() is constant within a run of
    consecutive days and strictly decreasing across gaps (the classic
    formulation, exact date arithmetic on both engines).

    Returns group_cols + (n_active_days, n_streaks, longest_streak,
    longest_streak_end) where longest_streak is in days and
    longest_streak_end is the last day of the LONGEST streak (max on
    ties - deterministic).
    """
    from pyspark.sql import Window as W

    days = (
        events.select(*group_cols, F.to_date(F.col(ts_col)).alias("_d"))
        .distinct()
    )
    w = W.partitionBy(*group_cols).orderBy("_d")
    islands = days.withColumn(
        "_isl", F.date_sub(F.col("_d"), F.row_number().over(w))
    )
    per_streak = islands.groupBy(*group_cols, "_isl").agg(
        F.count(F.lit(1)).alias("_len"), F.max("_d").alias("_end")
    )
    return per_streak.groupBy(*group_cols).agg(
        F.sum("_len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("_len").alias("longest_streak"),
        F.max_by("_end", F.struct(F.col("_len"), F.col("_end"))).alias(
            "longest_streak_end"
        ),
    )


def attribute_conversions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    conversion_type: str,
    channel_types: list[str],
    lookback_us: int,
) -> DataFrame:
    """Last-touch conversion attribution: for every conversion event,
    the most recent channel event by the same user STRICTLY before it
    and within ``lookback_us`` micros - the credit-assignment step
    behind channel ROI and campaign reporting.

    One pass, no self-join: a per-user RANGE window over epoch micros
    carries max(struct(ts, id, type)) of channel rows only - the
    struct max is lexicographic, so ties at the same instant break
    deterministically on the event id, and the -1 upper bound makes
    "strictly before" exact (a channel touch at the conversion's own
    instant does not attribute). Conversions with no touch in the
    window come through with NULL attribution - absent rows hide
    attribution loss; NULL rows surface it.

    Scale shape: one shuffle on the user key, one ordered window pass
    over the user's events (streaming frame, no buffering beyond the
    range frame). The self-join formulation this replaces is
    O(conversions x touches-in-window) - kept only as the test/oracle
    differential.

    Returns one row per conversion: user_col, conversion_id,
    conversion_ts_us, channel (NULL if unattributed), touch_id,
    latency_us (conversion - touch, micros).
    """
    from pyspark.sql import Window as W

    base = df.select(
        F.col(user_col),
        F.col(id_col).alias("_id"),
        F.col(type_col).alias("_ty"),
        F.col(ts_col).alias("_us"),
    )
    is_channel = F.col("_ty").isin(*channel_types)
    w = (
        W.partitionBy(user_col)
        .orderBy("_us")
        .rangeBetween(-int(lookback_us), -1)
    )
    touch = F.max(
        F.when(
            is_channel,
            F.struct(
                F.col("_us").alias("ts"),
                F.col("_id").alias("id"),
                F.col("_ty").alias("ty"),
            ),
        )
    ).over(w)
    labeled = base.withColumn("_touch", touch).filter(
        F.col("_ty") == conversion_type
    )
    return labeled.select(
        user_col,
        F.col("_id").alias("conversion_id"),
        F.col("_us").alias("conversion_ts_us"),
        F.col("_touch.ty").alias("channel"),
        F.col("_touch.id").alias("touch_id"),
        (F.col("_us") - F.col("_touch.ts")).alias("latency_us"),
    )


def event_transitions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    id_col: str,
) -> DataFrame:
    """First-order Markov transition table over per-user event
    streams: for every consecutive (event, next-event) pair within a
    user's timeline, the co-count, the outgoing total, and the
    transition probability p = n_pair / n_from (ONE IEEE division
    over bigint counts, so the matrix replays bit-for-bit in a SQL
    oracle). The row key is (from_event, to_event); rows where the
    user's stream ends (no successor) are excluded from the pair
    counts AND from n_from - n_from is re-aggregated from the PAIR
    table, so probabilities per from_event sum to exactly 1.

    Ordering is pinned by (ts, id): ``id_col`` must be unique per
    row, which makes the successor deterministic under same-instant
    ties on both engines.

    Scale shape: ONE per-user window pass (lead is a running frame -
    linear per partition, same tier as sessionize), then two
    aggregations where the second re-aggregates the collapsed
    |event_types|^2-bounded pair table, never the fact stream."""
    from pyspark.sql import Window as W

    w = W.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = df.select(
        F.col(event_col).alias("from_event"),
        F.lead(F.col(event_col)).over(w).alias("to_event"),
    ).filter(
        # a NULL EVENT VALUE is a malformed row, not a transition
        # state: pairs touching one drop on BOTH sides. (from_event
        # was already implicitly dropped by the null equi-join with
        # the totals below - made explicit so the rule is visible and
        # the streaming twin can mirror it.) The stream-end rule is
        # separate: lead() yields NULL to_event there too.
        F.col("to_event").isNotNull() & F.col("from_event").isNotNull()
    )
    c = pairs.groupBy("from_event", "to_event").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    tot = c.groupBy("from_event").agg(F.sum("n_pair").alias("n_from"))
    return (
        c.join(tot, "from_event")
        .select(
            "from_event",
            "to_event",
            "n_pair",
            "n_from",
            (
                F.col("n_pair").cast("double") / F.col("n_from").cast("double")
            ).alias("p"),
        )
    )


def debounce(
    df,
    key_cols: list[str],
    ts_col: str,
    gap_us: int,
    tiebreak: str | None = None,
):
    """TRUE per-key debounce: keep an event only if it is at least
    ``gap_us`` after the last KEPT event of its key - the anchor
    advances only on kept rows. This is NOT the lag filter
    ("gap from the previous RAW event"): under a burst 1s apart with
    a 5s gap, the lag filter drops everything after the first row
    forever (every raw gap is 1s), while debounce re-emits every 5s -
    the telemetry/alert throttle semantics. The anchor recursion is
    inherently sequential per key, so it runs as Arrow-batched
    applyInPandas over key groups (the EWMA discipline: parallel
    across keys, vectorized scan within one; a group's rows sit in
    one buffer, the bound any per-key ordered analysis shares).

    Returns the KEPT rows (original columns). Deterministic total
    order within a key: pass ``tiebreak`` when ``ts_col`` can tie.

    The repartition carries an EXPLICIT partition count: grouped
    Python work costs one Arrow round-trip PER GROUP, so it scales
    with group count, not bytes - and AQE's size-based coalescing
    would fold a small-byte shuffle into 1-2 tasks and serialize
    thousands of round-trips (measured 14 s -> 3 s on a 7.5 K-group
    panel by pinning the width)."""
    import pandas as pd

    from pyspark.sql import functions as F

    schema = df.schema
    width = df.sparkSession.sparkContext.defaultParallelism

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        sort_cols = [ts_col] + ([tiebreak] if tiebreak else [])
        pdf = pdf.sort_values(sort_cols, ignore_index=True)
        us = pdf[ts_col].astype("int64") // 1000  # ns -> us
        keep = []
        anchor = None
        for v in us.tolist():
            if anchor is None or v - anchor > gap_us:
                keep.append(True)
                anchor = v
            else:
                keep.append(False)
        return pdf[pd.Series(keep, index=pdf.index)]

    return df.repartition(width, *[F.col(c) for c in key_cols]).groupBy(
        *key_cols
    ).applyInPandas(fold, schema=schema)


def debounce_count(
    df,
    key_cols: list[str],
    ts_col: str,
    gap_us: int,
    tiebreak: str | None = None,
):
    """Per-key KEPT-row count under the same anchor semantics as
    ``debounce``, as ONE pure-Catalyst fold - no Python boundary.

    ``debounce`` must return the kept ROWS, which pins it to grouped
    Python (the anchor recursion is inherently sequential and an
    array-building Catalyst fold would copy its accumulator
    quadratically). A census caller needs only the per-key COUNT, and
    that fold's accumulator is two scalars (anchor, count) - O(n) per
    group as a higher-order ``aggregate`` over the key's sorted event
    times. That removes the per-group Arrow round-trips and the
    Python worker pool entirely (guide section 4.1: built-ins beat
    grouped Python when they exist): one shuffle on the key, an
    in-row sort of the group's timestamps, one linear fold.
    Differential-pinned against ``debounce`` row-for-row in
    tests/test_sessions.py.

    Group-size bound: collect_list holds one key's (ts, tiebreak)
    pairs in one row - the same one-buffer-per-key bound the grouped-
    Python form already had.

    Returns (key_cols..., n_kept) with n_kept bigint."""
    # epoch micros: unix_micros for TIMESTAMP; TIMESTAMP_NTZ (no
    # instant) measured from the epoch wall-clock with timestampdiff -
    # deterministic and session-timezone-free either way, matching the
    # grouped-Python fold's int64-nanos // 1000 exactly
    if df.schema[ts_col].dataType.simpleString() == "timestamp_ntz":
        us = F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" `{ts_col.replace('`', '``')}`)"
        )
    else:
        us = F.unix_micros(F.col(ts_col))
    order = F.struct(
        us.alias("u"),
        *([F.col(tiebreak).alias("t")] if tiebreak else []),
    )
    folded = F.aggregate(
        F.array_sort(F.collect_list(order)),
        F.struct(
            F.lit(None).cast("bigint").alias("a"),
            F.lit(0).cast("bigint").alias("c"),
        ),
        lambda acc, x: F.when(
            acc["a"].isNull() | (x["u"] - acc["a"] > F.lit(gap_us)),
            F.struct(x["u"].alias("a"), (acc["c"] + 1).alias("c")),
        ).otherwise(acc),
    )
    return df.groupBy(*key_cols).agg(folded["c"].alias("n_kept"))
