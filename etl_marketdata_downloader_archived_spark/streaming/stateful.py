"""Custom stateful streaming operators via applyInPandasWithState.

The reference's retry bookkeeping lives in SQS: each receive increments
a counter and ``maxReceiveCount: 5`` redrives the message to the DLQ
(cloudformation/lambda.cfn.yaml:28-36). Here the counter is explicit
per-key state with a TTL: attempts accumulate across micro-batches,
and a key crossing the bound is emitted as a dead-letter row exactly
once. State is bounded by the processing-time timeout (the streaming
analog of the queue's message retention).

Every operator here is one per-key ``step(key, pdf, prev) -> (out,
new_state)`` that ``_fold`` runs under one GroupState protocol:

- a key whose timeout fired is removed and emits nothing;
- otherwise the key's frames are concatenated, and an empty batch is
  a no-op;
- ``prev`` is the carried state tuple, None for a new or expired key;
- a non-None ``new_state`` is stored and, with a TTL, re-arms the
  key's timeout; None leaves both the store and the timeout as they
  were (how an operator keeps state for only some keys);
- ``out`` is emitted only when it has rows.

``state_ttl_ms`` expires keys quiet for that long, so state tracks the
live key set, not history - use it on continuous streams. Leave it
None under run-to-completion triggers (availableNow): with a
processing-time timeout configured, the scheduler must keep running
empty batches to fire expirations, so the query never reaches a final
batch. An expired key restarts from ``prev=None``.

The debounce and sessionize steps are module-level factories because
their transformWithState ports (streaming/topk_state.py) run the same
steps on a named ValueState.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ATTEMPTS_SCHEMA = "ID string, attempts long, dead boolean"
_STATE_SCHEMA = "attempts long, dead boolean"

# step(key, pdf, prev state or None) -> (out, new state or None)
Step = Callable[[tuple, pd.DataFrame, Any], tuple]


def _apply(
    step: Step,
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    prev: tuple | None,
    store: Callable[[tuple], None],
) -> Iterator[pd.DataFrame]:
    """One key's batch under the fold contract: concatenate, run
    ``step``, ``store`` a non-None new state, yield a non-empty out."""
    pdf = pd.concat(list(pdfs), ignore_index=True)
    if len(pdf) == 0:
        return
    out, new_state = step(key, pdf, prev)
    if new_state is not None:
        store(new_state)
    if len(out):
        yield out


def _fold(
    df: DataFrame,
    keys: list[str],
    step: Step,
    out_schema: str,
    state_schema: str,
    state_ttl_ms: int | None,
    output_mode: str = "append",
) -> DataFrame:
    """``step`` per key per micro-batch under the module's GroupState
    protocol (module docstring)."""
    use_ttl = state_ttl_ms is not None

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return

        def store(new_state: tuple) -> None:
            state.update(new_state)
            if use_ttl:
                state.setTimeoutDuration(state_ttl_ms)

        yield from _apply(
            step, key, pdfs, state.get if state.exists else None, store
        )

    return df.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if use_ttl
            else GroupStateTimeout.NoTimeout
        ),
    )


def _types(df: DataFrame) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def _ddl(df: DataFrame, cols: list[str]) -> str:
    types = _types(df)
    return ", ".join(f"{c} {types[c]}" for c in cols)


def track_attempts(
    failures: DataFrame,
    max_attempts: int = 5,
    state_ttl_ms: int | None = None,
    id_col: str = "ID",
) -> DataFrame:
    """Per-task failure counter with redrive-to-DLQ semantics.

    Input: a stream of failure events keyed by ``id_col``. Output: one
    row per (key, batch-with-failures) carrying the cumulative attempt
    count; ``dead=True`` exactly on the batch where the count crosses
    ``max_attempts`` (the redrive moment). Update mode.

    ``state_ttl_ms`` expires quiet keys so state tracks the live
    failure set, not history (see the module docstring for the
    trade-off against availableNow).
    """

    def step(key, pdf, prev):
        attempts, was_dead = prev or (0, False)
        attempts += len(pdf)
        dead = attempts >= max_attempts
        out = pd.DataFrame(
            {
                "ID": [key[0]],
                "attempts": [attempts],
                # emit the death notice once, on the crossing batch
                "dead": [dead and not was_dead],
            }
        )
        return out, (attempts, dead)

    return _fold(
        failures, [id_col], step, ATTEMPTS_SCHEMA, _STATE_SCHEMA,
        state_ttl_ms, output_mode="update",
    )


def streaming_ewma(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    alpha: float,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming EWMA per key: the recursion y_i = a*x_i + (1-a)*y_{i-1}
    carried ACROSS micro-batches - per-key state is one double (the
    last smoothed value), the minimum any sequential feature needs.

    Within a batch, a key's rows sort by ``ts`` and the whole segment
    is computed vectorized (pandas ewm seeded with the carried value by
    prepending it as a synthetic first observation - with adjust=False
    that reproduces the recursion exactly, verified against the batch
    operator in tests). Rows arriving in a LATER batch than a larger
    timestamp fold in arrival order - feed the stream through a
    watermark/sort upstream when strict time order matters.

    ``state_ttl_ms``: module docstring.
    """

    def step(key_t, pdf, prev):
        pdf = pdf.sort_values(ts, ignore_index=True)
        if prev is not None:
            seeded = pd.concat(
                [pd.Series([prev[0]]), pdf[value]], ignore_index=True
            )
            ew = seeded.ewm(alpha=alpha, adjust=False).mean().iloc[1:]
            ew.index = pdf.index
        else:
            ew = pdf[value].ewm(alpha=alpha, adjust=False).mean()
        pdf["ewma"] = ew
        return pdf[[key, ts, value, "ewma"]], (float(ew.iloc[-1]),)

    return _fold(
        df, [key], step, _ddl(df, [key, ts, value]) + ", ewma double",
        "last_ewma double", state_ttl_ms,
    )


def _sessionize_step(
    ts: str, gap: str | float, tiebreak: str | None, cols: list[str]
) -> Step:
    """The session-labelling step of both sessionize twins. ``gap`` is
    an interval string ("30 minutes", "1 day", "1 hour 30 minutes" -
    what the batch twin's INTERVAL accepts) or a number of seconds.
    State is (last event ns, current session seq); out is ``cols`` +
    session_seq."""
    gap_ns = (
        pd.Timedelta(gap) if isinstance(gap, str) else pd.Timedelta(seconds=gap)
    ).value
    sort_cols = [ts] + ([tiebreak] if tiebreak else [])

    def step(key, pdf, prev):
        pdf = pdf.sort_values(sort_cols, kind="mergesort", ignore_index=True)
        t_ns = pdf[ts].astype("int64")
        last = t_ns.shift(1)
        seq = 0
        if prev is not None:
            last.iloc[0], seq = int(prev[0]), int(prev[1])
        is_new = last.isna() | ((t_ns - last) > gap_ns)
        pdf["session_seq"] = seq + is_new.cumsum().astype("int64")
        new_state = (int(t_ns.iloc[-1]), int(pdf["session_seq"].iloc[-1]))
        return pdf[cols + ["session_seq"]], new_state

    return step


def streaming_sessionize(
    df: DataFrame,
    user: str,
    ts: str,
    gap: str = "30 minutes",
    tiebreak: str | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of operators.sessions.sessionize: label every
    event with its per-user session number, the session state carried
    ACROSS micro-batches as two scalars per user (last event time +
    current session seq) - the per-event LABELING complement to
    Spark's built-in session_window aggregate, which can only emit
    per-session rollups.

    Within a batch a user's rows sort by (ts, tiebreak) and the gap
    rule applies vectorized; the first row of each batch compares
    against the carried last-event time, so a session spanning many
    micro-batches keeps its number. Same ordering caveat as
    streaming_ewma: rows arriving in a later batch than a larger
    timestamp fold in arrival order.

    ``state_ttl_ms`` expires quiet users: module docstring."""
    cols = [user, ts] + ([tiebreak] if tiebreak else [])
    return _fold(
        df, [user], _sessionize_step(ts, gap, tiebreak, cols),
        _ddl(df, cols) + ", session_seq long", "last_ts_ns long, seq long",
        state_ttl_ms,
    )


def streaming_attribution(
    df: DataFrame,
    user: str,
    ts_us: str,
    type_col: str,
    id_col: str,
    conversion_type: str,
    channel_types: list[str],
    lookback_us: int,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming last-touch attribution: the online twin of
    operators.sessions.attribute_conversions. Per-user state is TWO
    touches - the settled best channel touch plus the still-PENDING
    touch at the newest seen instant - carried across micro-batches,
    so a touch in batch 0 attributes a conversion in batch 9 without
    re-reading history.

    Within a batch the user's rows sort by (ts, id) and replay
    exactly like the batch operator: a conversion takes the best
    touch with touch_ts < conversion_ts and within ``lookback_us``
    (strictly-before + the lexicographic (ts, id) tie-break match the
    batch semantics). A touch at the CURRENT instant stays pending
    until the clock advances - including ACROSS batch boundaries
    (that is why pending is a second state slot, not folded at batch
    end: folding would let a same-instant touch shadow the older
    still-valid one for a conversion arriving at that instant in the
    NEXT batch, which the batch operator attributes). Events arriving
    in a LATER batch than a smaller timestamp fold in arrival order -
    same caveat as streaming_ewma; watermark/sort upstream when
    strict order matters across batches.

    ``state_ttl_ms`` expires quiet users (module docstring). State is
    O(live users) x two touches - the minimum exact attribution needs;
    a user with no touch yet stores none.

    Emits one row per conversion: user, conversion_id,
    conversion_ts_us, channel, touch_id, latency_us - the batch
    operator's exact schema with the input's own key/id/ts types
    (NULL channel = unattributed).
    """
    in_t = _types(df)
    out_schema = (
        f"{user} {in_t[user]}, conversion_id {in_t[id_col]}, "
        f"conversion_ts_us {in_t[ts_us]}, channel {in_t[type_col]}, "
        f"touch_id {in_t[id_col]}, latency_us {in_t[ts_us]}"
    )
    state_schema = (
        f"t {in_t[ts_us]}, i {in_t[id_col]}, ty {in_t[type_col]}, "
        f"pt {in_t[ts_us]}, pi {in_t[id_col]}, pty {in_t[type_col]}"
    )
    channels = set(channel_types)
    out_cols = [
        user, "conversion_id", "conversion_ts_us", "channel", "touch_id",
        "latency_us",
    ]

    def step(key_t, pdf, prev):
        pdf = pdf.sort_values([ts_us, id_col], ignore_index=True)
        touch = pending = None
        if prev is not None:
            touch = tuple(prev[:3]) if prev[0] is not None else None
            pending = tuple(prev[3:]) if prev[3] is not None else None
        out = []
        for t, ty, i in zip(
            pdf[ts_us].tolist(), pdf[type_col].tolist(), pdf[id_col].tolist()
        ):
            if pending is not None and t > pending[0]:
                if touch is None or (pending[0], pending[1]) > (
                    touch[0], touch[1]
                ):
                    touch = pending
                pending = None
            if ty == conversion_type:
                if (
                    touch is not None
                    and touch[0] < t
                    and touch[0] >= t - lookback_us
                ):
                    out.append(
                        (key_t[0], i, t, touch[2], touch[1], t - touch[0])
                    )
                else:
                    out.append((key_t[0], i, t, None, None, None))
            if ty in channels and (
                pending is None or (t, i) > (pending[0], pending[1])
            ):
                pending = (t, i, ty)
        new_state = None
        if touch is not None or pending is not None:
            new_state = (touch or (None,) * 3) + (pending or (None,) * 3)
        return pd.DataFrame(out, columns=out_cols), new_state

    return _fold(df, [user], step, out_schema, state_schema, state_ttl_ms)


def streaming_transitions(
    df: DataFrame,
    user: str,
    ts: str,
    event: str,
    tiebreak: str | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of operators.sessions.event_transitions' PAIR
    stage: emit one (from_event, to_event) row per consecutive event
    in a user's stream, with the predecessor carried ACROSS
    micro-batches as two scalars of state (last event time + last
    event value) - so the pair that straddles a batch boundary is
    emitted exactly once, by the batch that sees the successor.
    Downstream aggregation to counts/probabilities is an ordinary
    (streaming or foreachBatch) aggregate over this append stream;
    the batch==stream twin holds at the pair-multiset level, which
    the count level inherits.

    Within a batch a user's rows sort by (ts, tiebreak); the first
    sorted row pairs against the carried predecessor. Pairs touching
    a NULL event VALUE drop on both sides (the batch operator's
    explicit rule), including across a batch boundary. Same ordering
    caveat as streaming_sessionize/streaming_ewma: rows arriving in a
    LATER batch than a larger timestamp fold in arrival order.

    ``state_ttl_ms`` expires quiet users (module docstring). State is
    O(live users) x one event value."""
    in_schema = _types(df)
    out_schema = (
        f"{user} {in_schema[user]}, {ts} {in_schema[ts]}, "
        f"from_event {in_schema[event]}, to_event {in_schema[event]}"
    )
    sort_cols = [ts] + ([tiebreak] if tiebreak else [])

    def step(key_t, pdf, prev):
        pdf = pdf.sort_values(sort_cols, ignore_index=True)
        ev = pdf[event]
        # shift through OBJECT dtype: a plain int64 shift promotes to
        # float64 (the introduced NaN), silently corrupting integer
        # event codes above 2^53 in the emitted from_event
        frm = ev.astype(object).shift(1)
        if prev is not None:
            frm.iloc[0] = prev[1]
        out = pd.DataFrame(
            {
                user: pdf[user],
                ts: pdf[ts],
                "from_event": frm,
                "to_event": ev,
            }
        )
        # the batch twin's NULL rule: pairs touching a NULL event
        # VALUE drop on both sides, and a missing predecessor (first
        # row ever) is the same NaN - one notna filter covers both; a
        # NULL carried in state stays None (never the string 'None')
        # and correctly kills the boundary pair
        out = out[out["from_event"].notna() & out["to_event"].notna()]
        # store the raw last value (None stays None - str() would
        # fabricate a 'None' event); .item() denumpifies scalars so
        # the state row round-trips for non-string event columns too
        last = ev.iloc[-1]
        if pd.isna(last):
            last = None
        elif hasattr(last, "item"):
            last = last.item()
        return out, (int(pdf[ts].astype("int64").iloc[-1]), last)

    return _fold(
        df, [user], step, out_schema,
        f"last_ts_ns long, last_event {in_schema[event]}", state_ttl_ms,
    )


def streaming_reconciliation(
    lines: DataFrame,
    orders: DataFrame,
    tolerance_c: int = 5,
    order_key: str = "l_orderkey",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming order-vs-lines reconciliation - the in-flight twin of
    the ``order_reconciliation`` / ``reconcile_worklist`` batch gates:
    line rows arrive as a stream, each micro-batch updates the
    cumulative per-order line total, and every TOUCHED order re-emits
    its current verdict - so a late-arriving lineitem that flips an
    order from 'mismatch' to 'ok' (or the reverse) is caught the
    moment it lands, not at the nightly sweep.

    Arithmetic is the batch query's, exactly: per-line cents fix via
    one rounded IEEE expression (extprice * (1-disc) * (1+tax), JVM-
    side F.round before the stateful op), bigint sums, integer
    tolerance compare - so last-emission-per-order == the batch
    reconciliation over the same data, which is what the pytest twin
    asserts under a hostile split (an order's lines scattered across
    batches).

    Scale shape: per-order state lives in the ENGINE's state store
    (applyInPandasWithState keyed by the order key), not a driver
    dict - order cardinality is fact-scale, the one regime the
    seasonal/trending driver-store chassis must not be used for.
    Restart is checkpoint-native (no snapshot protocol needed), and
    the hot path is one stream-static LEFT join against the orders
    reference (broadcast when small, shuffled otherwise) plus the
    grouped state update.

    Statuses, never silence: 'ok' within tolerance, 'mismatch'
    beyond it, 'no_order' when the order key has no row in the
    reference (the FK-break case; order_c / abs_diff_c are NULL).
    Orders with NO lines never appear here by construction (nothing
    arrives to trigger them) - absence detection stays with the batch
    panel's LEFT-from-orders side.

    ``state_ttl_ms`` expires settled orders on continuous streams
    (after which a very-late line restarts that order's total from
    zero - bound it by the book-closing window); module docstring for
    the rest of the trade-off."""
    from pyspark.sql import functions as F

    o_ref = orders.select(
        F.col("o_orderkey").alias("_o_key"),
        F.col("o_orderstatus").alias("_o_status"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("_order_c"),
    )
    enriched = lines.select(
        F.col(order_key),
        F.round(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
            * 100
        )
        .cast("bigint")
        .alias("_line_c"),
    ).join(o_ref, F.col(order_key) == F.col("_o_key"), "left")

    out_schema = (
        f"o_orderkey {_types(lines)[order_key]}, o_orderstatus string, "
        "order_c bigint, line_c bigint, n_lines bigint, abs_diff_c bigint, "
        "status string"
    )
    tol = int(tolerance_c)

    def step(key_tuple, pdf, prev):
        prev_c, prev_n = prev or (0, 0)
        line_c = int(prev_c) + int(pdf["_line_c"].sum())
        n = int(prev_n) + len(pdf)
        row = {
            "o_orderkey": key_tuple[0],
            "o_orderstatus": None,
            "order_c": None,
            "line_c": line_c,
            "n_lines": n,
            "abs_diff_c": None,
            "status": "no_order",
        }
        have = pdf["_o_key"].notna()
        if have.any():
            i = have.idxmax()
            order_c = int(pdf["_order_c"].iloc[i])
            diff = abs(order_c - line_c)
            row.update(
                o_orderstatus=pdf["_o_status"].iloc[i],
                order_c=order_c,
                abs_diff_c=diff,
                status="ok" if diff <= tol else "mismatch",
            )
        return pd.DataFrame([row]), (line_c, n)

    return _fold(
        enriched, [order_key], step, out_schema, "line_c long, n_lines long",
        state_ttl_ms,
    )


def streaming_fd_monitor(
    df: DataFrame,
    determinant: str,
    dependent: str,
    max_tracked_values: int = 10_000,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming functional-dependency monitor - the in-flight twin of
    operators.quality.fd_violations: rows arrive as a stream, each
    micro-batch folds its dependent values into per-determinant state,
    and every TOUCHED key that is (or just became) violating re-emits
    its current violation row - so the first row that breaks
    ``determinant -> dependent`` (the bad-merge / region-split
    corruption class) is surfaced the batch it lands, not at the
    nightly audit. Keys that never violate emit nothing, matching the
    batch operator's violation-only output; last-emission-per-key ==
    fd_violations over the concatenated stream (the pytest twin).

    Semantics mirror the batch operator exactly: NULL dependents
    count as one extra distinct state (a key mapping to a value AND
    NULL is two verdicts about one fact), n_rows counts every row
    including NULLs, witnesses are min/max over non-null values
    (python min/max on the state list - code-point order for strings,
    same as Spark's UTF8 compare).

    Scale shape: per-key state is the DISTINCT dependent set - tiny
    for a healthy dependency (one value) and violation-sized when
    broken; ``max_tracked_values`` fails the stream LOUDLY if a key's
    distinct set outgrows it (that is no longer a dependency check -
    the declared FD is simply wrong - and unbounded state is the
    failure the guard exists for). State lives in the engine's store
    keyed by the determinant (fact-scale key cardinality is fine,
    like streaming_reconciliation), restart is checkpoint-native.

    ``state_ttl_ms`` expires quiet keys on continuous streams (after
    which a key's history restarts - use only when the FD window is
    naturally bounded, e.g. per-day order ids); module docstring for
    the rest of the trade-off."""
    in_schema = _types(df)
    det_t, dep_t = in_schema[determinant], in_schema[dependent]
    out_schema = (
        f"{determinant} {det_t}, n_distinct long, n_rows long, "
        f"witness_min {dep_t}, witness_max {dep_t}"
    )

    def step(key_t, pdf, prev):
        vals, has_null, n_rows = prev or ((), False, 0)
        seen = set(vals)
        col = pdf[dependent]
        nn = col[col.notna()]
        # denumpify so scalars round-trip the state schema exactly.
        # datetime64[ns] must NOT go through .item() - numpy returns
        # epoch NANOSECONDS as a plain int, which corrupts an
        # array<timestamp> state field and emits int witnesses;
        # pd.Timestamp.to_pydatetime() keeps the type.
        for v in nn.unique():
            if isinstance(v, np.datetime64):
                seen.add(pd.Timestamp(v).to_pydatetime())
            elif hasattr(v, "to_pydatetime"):  # pd.Timestamp scalar
                seen.add(v.to_pydatetime())
            elif hasattr(v, "item"):
                seen.add(v.item())
            else:
                seen.add(v)
        has_null = bool(has_null or col.isna().any())
        n_rows += len(pdf)
        if len(seen) > max_tracked_values:
            raise ValueError(
                f"streaming_fd_monitor: key {key_t[0]!r} accumulated "
                f"{len(seen)} distinct {dependent!r} values > "
                f"max_tracked_values={max_tracked_values}. This is no "
                "longer a functional dependency - fix the declaration "
                "or raise the cap deliberately."
            )
        n_distinct = len(seen) + (1 if has_null else 0)
        rows = []
        if n_distinct > 1:
            rows.append(
                {
                    determinant: key_t[0],
                    "n_distinct": n_distinct,
                    "n_rows": n_rows,
                    "witness_min": min(seen) if seen else None,
                    "witness_max": max(seen) if seen else None,
                }
            )
        return pd.DataFrame(rows), (sorted(seen), has_null, n_rows)

    return _fold(
        df, [determinant], step, out_schema,
        f"vals array<{dep_t}>, has_null boolean, n_rows long", state_ttl_ms,
    )


def streaming_fifo(
    df: DataFrame,
    key: str,
    seq: str,
    qty: str,
    direction: str,
    inflow_value: str = "in",
    state_ttl_ms: int | None = None,
    max_open_rows: int = 100_000,
) -> DataFrame:
    """Streaming twin of operators.ledger.fifo_allocate: ledger rows
    arrive as a stream and every (inflow lot, outflow draw) match is
    emitted by the micro-batch that completes it - open lots and
    unmet demand carry ACROSS batches as per-key array state, so a
    lot half-consumed in batch 1 finishes in batch 3 and a draw that
    arrives BEFORE its supply waits as pending demand.

    Equivalence to the batch operator rests on FIFO's key property:
    the pairing (i-th inflow unit <-> i-th outflow unit) is
    independent of how the two sides INTERLEAVE - batch computes it
    as cumulative-interval intersection, this computes it as a
    front-of-queue drain, and they agree exactly as long as each
    SIDE's rows fold in ``seq`` order per key (rows sort by seq
    within a batch; a later batch delivering a smaller seq than an
    already-folded row of the same side diverges - the same
    arrival-order caveat as streaming_sessionize/streaming_ewma).

    Output: one append row per match - key, in_seq, out_seq, alloc
    (each (in_seq, out_seq) pair at most once globally: every match
    exhausts at least one side). Rows with qty <= 0 are dropped, the
    batch operator's zero-width-interval rule. Quantities must be
    INTEGRAL (the ledger state is array<bigint>): a fractional qty
    fails the stream loudly rather than silently truncating away from
    the batch twin's native-type arithmetic. State is O(open lots
    + pending draws) per key - bounded by the ledger's float (unsold
    inventory / backorders), not by stream length; ``state_ttl_ms``
    expires abandoned ledgers on continuous streams.

    ``max_open_rows`` is the loud state guard every sibling store in
    this module carries (streaming_fd_monitor's max_tracked_values,
    the seasonal monitor's max_store_rows): a HEALTHY ledger's open
    rows are bounded by its float, but a pathological feed - demand
    with no supply, or supply no one draws - grows a key's arrays
    without limit until TTL. When a key's open lots + pending draws
    exceed the cap after a batch folds, the stream fails with the key
    and both side-counts named rather than silently OOMing an
    executor; raise the cap deliberately for ledgers whose genuine
    float is larger."""
    in_schema = _types(df)
    k_t, s_t = in_schema[key], in_schema[seq]
    out_schema = f"{key} {k_t}, in_seq {s_t}, out_seq {s_t}, alloc bigint"
    state_schema = (
        f"lot_seq array<{s_t}>, lot_rem array<bigint>, "
        f"dem_seq array<{s_t}>, dem_rem array<bigint>"
    )

    def step(key_t, pdf, prev):
        lot_seq, lot_rem, dem_seq, dem_rem = (
            [list(x) for x in prev] if prev is not None else [[], [], [], []]
        )
        pdf = pdf.sort_values(seq, ignore_index=True)
        matches: list[tuple] = []
        li = di = 0  # consumed-prefix pointers (pop-free drain)

        def drain() -> None:
            nonlocal li, di
            while li < len(lot_rem) and di < len(dem_rem):
                take = min(lot_rem[li], dem_rem[di])
                matches.append((lot_seq[li], dem_seq[di], take))
                lot_rem[li] -= take
                dem_rem[di] -= take
                if lot_rem[li] == 0:
                    li += 1
                if dem_rem[di] == 0:
                    di += 1

        for s, q, d in zip(
            pdf[seq].tolist(), pdf[qty].tolist(), pdf[direction].tolist()
        ):
            # bigint state demands integral quantities; the batch twin
            # sums at the column's native type, so silently truncating
            # a fractional qty here would diverge the documented
            # batch/stream pair - fail loudly instead
            if q != int(q):
                raise ValueError(
                    f"streaming_fifo: non-integral quantity {q!r} for "
                    f"key {key_t[0]!r} seq {s!r} - the array<bigint> "
                    "ledger state requires integer quantities (the "
                    "batch twin fifo_allocate handles fractional "
                    "ledgers; scale fractional units to integers "
                    "before streaming)"
                )
            q = int(q)
            if q <= 0:
                continue
            if d == inflow_value:
                lot_seq.append(s)
                lot_rem.append(q)
            else:
                dem_seq.append(s)
                dem_rem.append(q)
            drain()
        n_open_lots = len(lot_rem) - li
        n_pending = len(dem_rem) - di
        if n_open_lots + n_pending > max_open_rows:
            raise ValueError(
                f"streaming_fifo: key {key_t[0]!r} carries "
                f"{n_open_lots} open lots + {n_pending} pending draws "
                f"> max_open_rows={max_open_rows}. One side of the "
                "ledger is starved (demand without supply, or supply "
                "no one draws) - fix the feed or raise the cap "
                "deliberately."
            )
        out = pd.DataFrame(
            {
                key: [key_t[0]] * len(matches),
                "in_seq": [m[0] for m in matches],
                "out_seq": [m[1] for m in matches],
                "alloc": [m[2] for m in matches],
            }
        )
        return out, (lot_seq[li:], lot_rem[li:], dem_seq[di:], dem_rem[di:])

    return _fold(df, [key], step, out_schema, state_schema, state_ttl_ms)


def streaming_purge_filter(
    df: DataFrame,
    key: str,
    kind: str,
    ts: str,
    purge_value: str = "purge",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """In-flight right-to-be-forgotten: the streaming companion of
    io.purge_keys (that one sweeps the lake AT REST; this stops a
    doomed subject's rows from entering it in the first place). One
    unioned stream carries data rows and purge directives
    (``kind`` == ``purge_value``), keyed by the subject; a purge
    flips one boolean of per-key state, and from that row on -
    including later micro-batches - the subject's data rows are
    dropped at the operator, never reaching the sink.

    Ordering contract (the family's arrival-order rule): rows sort by
    ``ts`` within a batch, so a purge directive suppresses same-batch
    data rows stamped at-or-after it; data rows the sink already took
    in EARLIER batches are purge_keys' job - the two operators
    together are the complete GDPR story (stop the tap, then drain
    the tank). Emits data rows only (the directive is consumed, not
    forwarded); re-purging an already-doomed key is a no-op. State is
    ONE boolean per doomed subject - never a row buffer;
    ``state_ttl_ms`` ages it out once the retention window passes on
    continuous streams."""
    def step(key_t, pdf, prev):
        # STABLE sort with the directive ordered BEFORE data at an
        # equal timestamp: an unstable single-key sort could emit a
        # data row stamped at the directive's exact ts - a leak that
        # would also flip between retries
        pdf = pdf.assign(
            _is_data=(pdf[kind] != purge_value).astype(int)
        ).sort_values(
            [ts, "_is_data"], kind="mergesort", ignore_index=True
        )
        doomed = prev is not None and bool(prev[0])
        keep = []
        for k in pdf[kind].tolist():
            if k == purge_value:
                doomed = True
                keep.append(False)  # the directive itself never emits
            else:
                keep.append(not doomed)
        out = pdf[pd.Series(keep, index=pdf.index)].drop(columns=["_is_data"])
        # state rows exist ONLY for doomed subjects - storing (False,)
        # for every key ever seen would grow the store with total
        # subjects, not purged ones
        return out, (True,) if doomed else None

    return _fold(
        df, [key], step, _ddl(df, df.columns), "doomed boolean", state_ttl_ms
    )


def streaming_running_balance(
    df: DataFrame,
    key: str,
    seq: str,
    delta: str,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of the running-balance panel
    (plans.analytics_r10.inventory_balance's core): signed movement
    rows fold into per-key state (balance, running min/max, move
    count) and every TOUCHED key re-emits its current panel row per
    micro-batch - the live stock-out / overstock radar, where the
    batch query is the nightly one.

    Rows fold in ``seq`` order within each batch; like
    streaming_fifo/streaming_ewma, a later batch delivering a smaller
    seq than an already-folded row of the same key diverges from the
    batch operator (the arrival-order caveat). Deltas must be
    integral (bigint state; the loud-failure rule streaming_fifo
    sets). Last emission per key == the batch panel over the
    concatenated stream (the pytest twin). State is four scalars per
    key; ``state_ttl_ms`` ages out idle keys on continuous streams
    (after which a key's balance restarts from zero - use only when
    the ledger is naturally windowed)."""
    out_schema = (
        f"{key} {_types(df)[key]}, n_moves long, min_bal long, "
        "max_bal long, end_bal long"
    )

    def step(key_t, pdf, prev):
        bal, mn, mx, n = prev or (0, None, None, 0)
        for d in pdf.sort_values(seq, ignore_index=True)[delta].tolist():
            if d != int(d):
                raise ValueError(
                    f"streaming_running_balance: non-integral delta "
                    f"{d!r} for key {key_t[0]!r} - bigint state "
                    "requires integer movements"
                )
            bal += int(d)
            mn = bal if mn is None else min(mn, bal)
            mx = bal if mx is None else max(mx, bal)
            n += 1
        out = pd.DataFrame(
            [
                {
                    key: key_t[0],
                    "n_moves": n,
                    "min_bal": mn,
                    "max_bal": mx,
                    "end_bal": bal,
                }
            ]
        )
        return out, (bal, mn, mx, n)

    return _fold(
        df, [key], step, out_schema, "bal long, mn long, mx long, n long",
        state_ttl_ms,
    )


def _debounce_step(
    ts: str, gap_us: int, tiebreak: str | None, cols: list[str]
) -> Step:
    """The throttle step of both debounce twins: keep an event iff it
    lands more than ``gap_us`` after the last KEPT event of its key.
    State is that one int64 anchor (microseconds); out is the kept
    rows' ``cols``."""
    sort_cols = [ts] + ([tiebreak] if tiebreak else [])

    def step(key, pdf, prev):
        pdf = pdf.sort_values(sort_cols, kind="mergesort", ignore_index=True)
        anchor = int(prev[0]) if prev is not None else None
        keep = []
        for v in (pdf[ts].astype("int64") // 1000).tolist():  # ns -> us
            if anchor is None or v - anchor > gap_us:
                keep.append(True)
                anchor = v
            else:
                keep.append(False)
        return pdf.loc[keep, cols], (int(anchor),)

    return step


def streaming_debounce(
    df: DataFrame,
    key_cols: list[str],
    ts: str,
    gap_us: int,
    tiebreak: str | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of operators.sessions.debounce: emit an event
    only if it is more than ``gap_us`` after the last KEPT event of
    its key, with the anchor carried ACROSS micro-batches as ONE
    int64 of state - so a throttle window that spans a batch
    boundary keeps suppressing, and the first event of a new batch
    re-emits exactly when the batch operator would have kept it.
    batch==stream holds under the family's arrival-order rule (rows
    sort by (ts, tiebreak) within a batch; later-batch rows fold in
    arrival order).

    State is one anchor per key ever seen - debounce NEEDS an anchor
    for clean keys (unlike the purge filter's doomed-only store), so
    on continuous streams set ``state_ttl_ms`` >= the gap to age out
    quiet keys (an expired anchor re-emits the next event, exactly
    what a gap-long silence means)."""
    return _fold(
        df, key_cols, _debounce_step(ts, gap_us, tiebreak, df.columns),
        _ddl(df, df.columns), "anchor_us long", state_ttl_ms,
    )
