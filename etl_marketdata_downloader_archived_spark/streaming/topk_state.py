"""Streaming per-key top-k on the Spark 4 ``transformWithStateInPandas``
API - the arbitrary-stateful-processor surface that succeeds
``applyInPandasWithState`` (streaming/stateful.py holds the engine's
flatMapGroupsWithState-era operators; this module exercises the NEW
contract: named state variables on a ``StatefulProcessorHandle``,
explicit init/close lifecycle, RocksDB-backed state store).

The operator: a running LEADERBOARD - for every key, the k largest
values ever seen on the stream, emitted per micro-batch in Update
mode. The batch twin is a plain WindowGroupLimit top-k; the streaming
form cannot use a window (unbounded state) - instead the state IS the
answer: exactly k (id, value) pairs per key, merged with each batch's
arrivals and truncated. State is O(keys x k) FOREVER, by construction
- no watermark needed because the state never grows past k per key
(the bound a 100 TB deployment needs from any always-on monitor).

Values are BIGINT by contract (exact cents, counts, sizes): the
leaderboard's ordering must be exact, and summing/ranking doubles
across replays would not be. Ties break on the smaller id -
deterministic across batch splits and replays.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from .stateful import _apply, _ddl, _debounce_step, _sessionize_step

__all__ = [
    "streaming_topk_per_key",
    "streaming_debounce_tws",
    "streaming_sessionize_tws",
    "streaming_inactivity_summary",
]


class _TopKProcessor(StatefulProcessor):
    """k best (value desc, id asc) pairs per key in ONE ValueState
    row of two parallel arrays - a fixed-size record per key, updated
    by merge-and-truncate. ListState would append-only grow; the
    value state rewrite is k-bounded, which is the whole point."""

    def __init__(self, k: int) -> None:
        self._k = k

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState(
            "topk", "ids array<bigint>, vals array<bigint>"
        )

    def handleInputRows(self, key, rows, timerValues):
        cur = self._state.get()
        items = list(zip(cur[0], cur[1])) if cur is not None else []
        for pdf in rows:
            items.extend(
                zip(pdf["id"].astype("int64"), pdf["val"].astype("int64"))
            )
        # same id re-delivered (at-least-once replay): keep one copy
        best: dict = {}
        for i, v in items:
            i, v = int(i), int(v)
            if i not in best or v > best[i]:
                best[i] = v
        ranked = sorted(best.items(), key=lambda t: (-t[1], t[0]))[: self._k]
        self._state.update(
            ([i for i, _ in ranked], [v for _, v in ranked])
        )
        yield pd.DataFrame(
            {
                "key": [key[0]] * len(ranked),
                "rank": list(range(1, len(ranked) + 1)),
                "id": [i for i, _ in ranked],
                "val": [v for _, v in ranked],
            }
        )

    def close(self) -> None:
        pass


def streaming_topk_per_key(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_col: str,
    k: int = 3,
) -> DataFrame:
    """Per-key running top-k over a stream (Update mode): each batch
    emits every touched key's CURRENT leaderboard - (key, rank, id,
    val), rank 1 = largest. ``value_col`` must be integral (cast to
    bigint; exact ordering is the contract). Requires the RocksDB
    state store provider (the transformWithState backend):

        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    key_type = df.schema[key_col].dataType.simpleString()
    src = df.select(
        F.col(key_col).alias("key"),
        F.col(id_col).cast("bigint").alias("id"),
        F.col(value_col).cast("bigint").alias("val"),
    )
    return src.groupBy("key").transformWithStateInPandas(
        statefulProcessor=_TopKProcessor(k),
        outputStructType=(
            f"key {key_type}, rank int, id bigint, val bigint"
        ),
        outputMode="Update",
        timeMode="None",
    )


class _DebounceProcessor(StatefulProcessor):
    """transformWithState port of streaming/stateful.streaming_debounce
    (the smallest applyInPandasWithState twin: one int64 anchor per
    key). It runs that twin's own step (``stateful._debounce_step``):
    rows sort stably by (ts, tiebreak) within the batch, an event is
    kept iff it lands more than gap_us after the last KEPT event of
    its key, and the anchor carries across micro-batches. State TTL
    replaces the old API's ProcessingTimeTimeout: an expired anchor
    reads None and the next event re-emits - exactly what a gap-long
    silence means."""

    def __init__(
        self, ts_col: str, gap_us: int, tiebreak, out_cols, ttl_ms
    ) -> None:
        self._step = _debounce_step(ts_col, gap_us, tiebreak, list(out_cols))
        self._ttl = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._anchor = handle.getValueState(
            "anchor", "anchor_us bigint", ttlDurationMs=self._ttl
        )

    def handleInputRows(self, key, rows, timerValues):
        return _apply(
            self._step, key, rows, self._anchor.get(), self._anchor.update
        )

    def close(self) -> None:
        pass


def streaming_debounce_tws(
    df: DataFrame,
    key_cols: list[str],
    ts: str,
    gap_us: int,
    tiebreak: str | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """``streaming_debounce`` on the transformWithState API (VERDICT
    r13 item 5: one applyInPandasWithState twin migrated to the new
    contract behind the same stream==batch test). Output rows/columns
    are identical to the old twin's; state is the same one-int64
    anchor, now a named ValueState with optional native TTL
    (``ttlDurationMs`` - the new API ages state without the manual
    timeout dance). Requires the RocksDB state store provider; the
    live leg is protobuf-gated in this sandbox and the processor
    kernel test carries the fold semantics (same posture as the
    top-k processor)."""
    proc = _DebounceProcessor(ts, gap_us, tiebreak, df.columns, state_ttl_ms)
    return df.groupBy(*key_cols).transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=_ddl(df, df.columns),
        outputMode="Append",
        timeMode="ProcessingTime" if state_ttl_ms is not None else "None",
    )


class _SessionizeProcessor(StatefulProcessor):
    """transformWithState port of streaming/stateful
    .streaming_sessionize (VERDICT r14 item 7: the third
    applyInPandasWithState twin migrated to the new contract behind
    the same stream==batch test). It runs that twin's own step
    (``stateful._sessionize_step``): a key's rows sort stably by (ts,
    tiebreak) within the batch, a session breaks where the gap since
    the previous event exceeds ``gap`` (an interval string or
    seconds), and TWO scalars carry across micro-batches (last event
    time + running session seq) as one named ValueState row. Native
    TTL replaces the old ProcessingTimeTimeout: an expired state reads
    None and the next event restarts at session 1 - exactly what a
    quiet user's eviction means."""

    def __init__(self, ts_col, gap, tiebreak, out_cols, ttl_ms) -> None:
        self._step = _sessionize_step(ts_col, gap, tiebreak, list(out_cols))
        self._ttl = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState(
            "sess", "last_ts_ns bigint, seq bigint",
            ttlDurationMs=self._ttl,
        )

    def handleInputRows(self, key, rows, timerValues):
        return _apply(
            self._step, key, rows, self._state.get(), self._state.update
        )

    def close(self) -> None:
        pass


def streaming_sessionize_tws(
    df: DataFrame,
    user: str,
    ts: str,
    gap: str = "30 minutes",
    tiebreak: str | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """``streaming_sessionize`` on the transformWithState API - output
    rows/columns identical to the old twin's ((user, ts[, tiebreak],
    session_seq) in Append mode); state is the same two-scalar record,
    now a named ValueState with optional native TTL. Requires the
    RocksDB state store provider; the live leg is protobuf-gated in
    this sandbox and the processor kernel test carries the fold
    semantics against the batch ``operators.sessions.sessionize``
    (the debounce-port posture)."""
    cols = [user, ts] + ([tiebreak] if tiebreak else [])
    proc = _SessionizeProcessor(ts, gap, tiebreak, cols, state_ttl_ms)
    return df.select(*cols).groupBy(user).transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=_ddl(df, cols) + ", session_seq long",
        outputMode="Append",
        timeMode="ProcessingTime" if state_ttl_ms is not None else "None",
    )


class _InactivitySummaryProcessor(StatefulProcessor):
    """Kernel-tier coverage for the REMAINING transformWithState state
    shapes (VERDICT r13 item 5): ListState, MapState, and timers in
    one genuinely useful operator - a per-key activity summary emitted
    on INACTIVITY. Every batch folds the key's events into a MapState
    of per-category counts and a bounded ListState sample of event
    ids, then re-arms a processing-time timer ``inactivity_ms`` ahead;
    when the timer fires (no arrivals re-armed it), the summary row
    emits and the key's state clears - the classic session-summary /
    abandoned-cart shape, state bounded by (categories + sample_n) per
    ACTIVE key only."""

    def __init__(self, inactivity_ms: int, sample_n: int) -> None:
        self._inact = inactivity_ms
        self._n = sample_n

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._counts = handle.getMapState("cat_counts", "cat string", "n bigint")
        self._sample = handle.getListState("sample_ids", "id bigint")
        self._total = handle.getValueState("total", "n bigint")

    def handleInputRows(self, key, rows, timerValues):
        total = 0
        have = 0
        cur_total = self._total.get()
        if cur_total is not None:
            total = int(cur_total[0])
        if self._sample.exists():
            have = sum(1 for _ in self._sample.get())
        for pdf in rows:
            # NULL category buckets as "" (groupby's dropna default
            # would silently shrink n_cats below total - review
            # finding) and NULL ids stay out of the sample (astype
            # on NaN raises and would fail the micro-batch)
            for cat, n in pdf.groupby(
                pdf["cat"].fillna("")
            ).size().items():
                prev = (
                    int(self._counts.getValue((cat,))[0])
                    if self._counts.containsKey((cat,))
                    else 0
                )
                self._counts.updateValue((cat,), (prev + int(n),))
            total += len(pdf)
            room = self._n - have
            if room > 0:
                ids = pdf["id"].dropna().astype("int64").tolist()[:room]
                self._sample.appendList([(int(i),) for i in ids])
                have += len(ids)
        self._total.update((total,))
        # re-arm: exactly one live timer per key (timers are a SET -
        # an un-deleted stale timer would fire mid-activity)
        for t in self._handle.listTimers():
            self._handle.deleteTimer(t)
        self._handle.registerTimer(
            timerValues.getCurrentProcessingTimeInMs() + self._inact
        )
        return iter(())  # emission happens on expiry only

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        counts = sorted(
            (str(k[0]), int(v[0])) for k, v in self._counts.iterator()
        )
        if not counts:
            return  # nothing buffered (clear raced a stale timer)
        top_cat, top_n = max(counts, key=lambda t: (t[1], t[0]))
        cur_total = self._total.get()
        sample = (
            [int(r[0]) for r in self._sample.get()]
            if self._sample.exists()
            else []
        )
        self._counts.clear()
        self._sample.clear()
        self._total.clear()
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "total": [int(cur_total[0]) if cur_total is not None else 0],
                "n_cats": [len(counts)],
                "top_cat": [top_cat],
                "top_n": [top_n],
                "sample_ids": [sample],
            }
        )

    def close(self) -> None:
        pass


def streaming_inactivity_summary(
    df: DataFrame,
    key_col: str,
    cat_col: str,
    id_col: str,
    inactivity_ms: int,
    sample_n: int = 10,
) -> DataFrame:
    """Per-key activity summary emitted when a key goes quiet for
    ``inactivity_ms`` (Append mode): (key, total, n_cats, top_cat,
    top_n, sample_ids). Top category ties break to the LARGER
    lexicographic cat under equal counts (max on (n, cat) - pinned in
    the kernel test). Live leg protobuf-gated like the other
    transformWithState operators."""
    key_type = df.schema[key_col].dataType.simpleString()
    src = df.select(
        F.col(key_col).alias("key"),
        F.col(cat_col).alias("cat"),
        F.col(id_col).cast("bigint").alias("id"),
    )
    return src.groupBy("key").transformWithStateInPandas(
        statefulProcessor=_InactivitySummaryProcessor(inactivity_ms, sample_n),
        outputStructType=(
            f"key {key_type}, total bigint, n_cats int, top_cat string, "
            "top_n bigint, sample_ids array<bigint>"
        ),
        outputMode="Append",
        timeMode="ProcessingTime",
    )
