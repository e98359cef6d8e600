"""Streaming model-quality monitor: per-micro-batch ROC AUC of a
scored stream against its realized labels - the online companion of
the batch acceptance gates (operators.evaluation): drift.py watches
the FEATURE distribution, this watches whether the SCORE still ranks
outcomes, which is the first thing to decay when an upstream feed or
a model version goes stale.

Scale shape: binary_auc is rank-from-counts (one partial-combined
shuffle to per-(group, distinct-score) counts; windows over score
cardinality), so a micro-batch of any size costs one combinable
aggregate - no row-level sort per trigger. foreachBatch because AUC,
like KS, is a full-batch statistic, not an incremental aggregate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..io import _vfs
from ..operators.evaluation import binary_auc
from .file_source import _start

__all__ = [
    "start_auc_monitor",
    "start_percentile_monitor",
    "start_seasonal_monitor",
    "start_trending_monitor",
]


def start_auc_monitor(
    stream_df: DataFrame,
    score_col: str,
    label_col: str,
    checkpoint: str,
    on_result: Callable[[DataFrame, int], None],
    by: list[str] | None = None,
    min_auc: float | None = None,
    min_rows: int = 30,
    trigger_available_now: bool = True,
    bins: int | None = None,
    bounds: tuple[float, float] | None = None,
):
    """Start the monitor: per micro-batch, compute per-group
    (n_pos, n_neg, auc) plus batch_id and a status column, and hand
    the frame to ``on_result``. Returns the StreamingQuery.

    ``bins``/``bounds`` forward to ``binary_auc``'s quantized scale
    tier - REQUIRED posture for raw continuous float scores on a
    high-rate stream: without it every trigger re-creates the
    per-group rank window over the batch's near-distinct score set (a
    row-scale sort per batch). Prefer pinning ``bounds=(lo, hi)`` to
    the model's known score domain: the per-batch min/max pre-scan
    disappears AND the grid is identical across batches, so the
    binned-AUC series is comparable trigger-to-trigger (auto bounds
    re-derive a new grid per batch); out-of-domain scores clamp to
    the edge buckets rather than erroring.

    Degenerate batches carry STATUS, never a silent NULL alarm - and
    never a silently ABSENT row: every group with rows in the batch
    appears in the output. 'no_labels' when every label in the group
    was NULL/uncastable (binary_auc drops them - the exact stale-
    label-join failure this monitor must surface, not hide),
    'too_few' when fewer than ``min_rows`` labeled rows arrived (an
    AUC over a handful of rows is noise, not signal), 'one_class'
    when only positives or only negatives arrived (AUC undefined).
    With ``min_auc`` set, is_alarm fires only on an 'ok' group whose
    auc < min_auc - the degenerate statuses are for the operator to
    trend, not to page on."""
    keys = list(by or [])
    if bounds is not None and bins is None:
        # fail at start(), not inside the Nth micro-batch: a dangling
        # bounds= would otherwise silently run the exact row-scale
        # tier the caller explicitly tried to avoid
        raise ValueError(
            "bounds= requires bins= (the exact tier has no grid to pin)"
        )

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        # group presence from the RAW batch: a group whose labels all
        # dropped must still emit a (status) row, so anchor on raw
        # per-group counts and left-join the AUC panel onto them
        present = batch_df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_rows")
        )
        auc = binary_auc(
            batch_df, score_col, label_col, by=keys, bins=bins, bounds=bounds
        )
        if keys:
            out = present.join(auc, keys, "left")
        else:
            # global monitor: still a LEFT join (a crossJoin against an
            # empty AUC frame would erase the row, re-hiding the
            # all-labels-dropped case)
            out = (
                present.withColumn("_k", F.lit(1))
                .join(auc.withColumn("_k", F.lit(1)), "_k", "left")
                .drop("_k")
            )
        out = out.select(
            *keys,
            "n_rows",
            F.coalesce(F.col("n_pos"), F.lit(0)).alias("n_pos"),
            F.coalesce(F.col("n_neg"), F.lit(0)).alias("n_neg"),
            "auc",
        )
        n = F.col("n_pos") + F.col("n_neg")
        out = out.withColumn("batch_id", F.lit(batch_id)).withColumn(
            "status",
            F.when(n == 0, F.lit("no_labels"))
            .when(n < min_rows, F.lit("too_few"))
            .when(F.col("auc").isNull(), F.lit("one_class"))
            .otherwise(F.lit("ok")),
        )
        if min_auc is not None:
            out = out.withColumn(
                "is_alarm",
                F.when(
                    F.col("status") == "ok", F.col("auc") < F.lit(min_auc)
                ).otherwise(F.lit(False)),
            )
        on_result(out, batch_id)

    return _start(stream_df, on_batch, checkpoint, trigger_available_now)


def start_percentile_monitor(
    stream_df: DataFrame,
    value_col: str,
    checkpoint: str,
    on_result: Callable[[DataFrame, int], None],
    by: list[str] | None = None,
    percentiles: tuple[int, ...] = (50, 90, 99),
    alarm: tuple[int, float] | None = None,
    min_rows: int = 30,
    trigger_available_now: bool = True,
    bins: int | None = None,
    bounds: tuple[float, float] | None = None,
):
    """Streaming latency/size percentile monitor: per micro-batch,
    the per-group positional percentile panel
    (operators.profile.exact_percentiles - rank-from-counts, windows
    over value cardinality) plus batch_id and a status column, handed
    to ``on_result``. The SLO companion of the AUC monitor: AUC says
    the model still ranks; this says the p99 is still under the
    budget. Returns the StreamingQuery.

    ``alarm=(p, threshold)`` fires is_alarm when that percentile
    EXCEEDS the threshold on an 'ok' group. Statuses mirror the AUC
    monitor: 'no_values' when every value in a group was NULL (the
    row is present, not silently absent), 'too_few' below
    ``min_rows``. ``bins``/``bounds`` are the family's continuous
    tier - pin ``bounds`` to the SLO window's known domain so the
    grid is stable across triggers and no per-batch min/max pre-scan
    runs (out-of-domain values clamp).
    """
    keys = list(by or [])
    if bounds is not None and bins is None:
        raise ValueError(
            "bounds= requires bins= (the exact tier has no grid to pin)"
        )
    if alarm is not None and alarm[0] not in percentiles:
        raise ValueError(
            f"alarm percentile p{alarm[0]} not in requested {percentiles}"
        )

    from ..operators.profile import exact_percentiles

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        present = batch_df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_rows")
        )
        panel = exact_percentiles(
            batch_df, value_col, by=keys,
            percentiles=percentiles, bins=bins, bounds=bounds,
        )
        if keys:
            out = present.join(panel, keys, "left")
        else:
            out = (
                present.withColumn("_k", F.lit(1))
                .join(panel.withColumn("_k", F.lit(1)), "_k", "left")
                .drop("_k")
            )
        out = out.withColumn("batch_id", F.lit(batch_id)).withColumn(
            "status",
            F.when(F.col("n").isNull(), F.lit("no_values"))
            .when(F.col("n") < min_rows, F.lit("too_few"))
            .otherwise(F.lit("ok")),
        )
        if alarm is not None:
            p, thresh = alarm
            out = out.withColumn(
                "is_alarm",
                F.when(
                    F.col("status") == "ok",
                    F.col(f"p{p}") > F.lit(thresh),
                ).otherwise(F.lit(False)),
            )
        on_result(out, batch_id)

    return _start(stream_df, on_batch, checkpoint, trigger_available_now)


class _StateSnapshots:
    """Per-batch snapshots of a cumulative monitor's control-table
    state, persisted UNDER the stream checkpoint so resume is exact:
    ``on_batch(N)`` rebuilds from snapshot ``N-1`` whenever the
    in-memory store does not already reflect it, merges the batch,
    and writes snapshot ``N`` BEFORE returning - and Spark commits
    batch ``N`` only after ``foreachBatch`` returns, so every
    committed batch has its snapshot on disk. A crash between
    snapshot and commit replays batch ``N`` against snapshot ``N-1``
    and overwrites snapshot ``N`` with identical content (replay is
    idempotent; ``on_result`` re-fires for that batch_id, the normal
    at-least-once foreachBatch contract).

    Snapshots are parquet (any state the engine can frame, including
    binary sketch structs) addressed through the Hadoop FS
    abstraction, so any checkpoint scheme works; only the last two
    batches are retained (``N-1`` is the replay base, older ones are
    unreachable).

    The object also holds the monitor's in-memory state and the batch
    id it reflects, so ``rebase`` is the one place the base of batch
    ``N`` is chosen and each monitor keeps only its merge."""

    def __init__(self, spark, checkpoint: str, monitor: str):
        self.spark = spark
        self.monitor = monitor
        self.root = checkpoint.rstrip("/") + "/state_snapshots"
        self._jvm_path, self._fs = _vfs(spark, self.root)
        self.state = None
        self.last = -1

    def path(self, batch_id: int) -> str:
        return f"{self.root}/batch-{int(batch_id)}"

    def rebase(self, batch_id: int, empty, load):
        """The state batch ``batch_id`` merges into: ``empty`` at
        batch 0; the in-memory state when it reflects batch ``N-1``;
        otherwise ``load(snapshot N-1)`` (restart or replay). A
        missing snapshot raises - resuming without it cannot be
        exact."""
        if batch_id == 0:
            return empty
        if self.last == batch_id - 1:
            return self.state
        if not self.has(batch_id - 1):
            raise ValueError(
                f"{self.monitor}: batch {batch_id} has no base snapshot "
                f"{self.path(batch_id - 1)!r} - cannot resume exactly"
            )
        return load(self.read(batch_id - 1))

    def has(self, batch_id: int) -> bool:
        return self._fs.exists(self._jvm_path(self.path(batch_id)))

    def read(self, batch_id: int) -> DataFrame:
        return self.spark.read.parquet(self.path(batch_id))

    def any_snapshot(self) -> bool:
        p = self._jvm_path(self.root)
        return self._fs.exists(p) and len(self._fs.listStatus(p)) > 0

    def write(self, batch_id: int, df: DataFrame, state) -> None:
        """Persist snapshot ``batch_id`` from ``df``, then remember
        ``state`` as the in-memory state that batch reflects."""
        df.write.mode("overwrite").parquet(self.path(batch_id))
        # GC: N-1 stays (the replay base); everything older is
        # unreachable by the resume protocol
        p = self._jvm_path(self.root)
        for st in self._fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith("batch-"):
                try:
                    bid = int(name[len("batch-"):])
                except ValueError:
                    continue
                if bid <= batch_id - 2:
                    self._fs.delete(st.getPath(), True)
        self.state, self.last = state, batch_id


def _check_resumable(
    spark, checkpoint: str, monitor: str
) -> "_StateSnapshots":
    """Cumulative monitors carry cross-batch state in the driver; the
    per-batch ``_StateSnapshots`` protocol makes restart exact. The
    one unrecoverable case is a checkpoint with committed batches but
    NO snapshot (a run from before snapshots existed, or a
    hand-deleted state dir): resuming it would restart the store
    empty and silently under-count every bucket - fail at start()
    instead (through the Hadoop FS abstraction, so any checkpoint
    scheme is covered)."""
    snaps = _StateSnapshots(spark, checkpoint, monitor)
    jvm_path, fs = _vfs(spark, checkpoint)
    p = jvm_path(checkpoint.rstrip("/") + "/commits")
    if (
        fs.exists(p)
        and len(fs.listStatus(p)) > 0
        and not snaps.any_snapshot()
    ):
        raise ValueError(
            f"{monitor}: checkpoint {checkpoint!r} has committed batches "
            "but no state snapshot - this monitor's cumulative state did "
            "not survive the restart, and resuming would silently "
            "under-count every bucket. Use a fresh checkpoint (snapshots "
            "written by this version make future restarts resume "
            "exactly)."
        )
    return snaps


def start_seasonal_monitor(
    stream_df: DataFrame,
    ts_col: str,
    checkpoint: str,
    on_result: Callable[[DataFrame, int], None],
    by: list[str] | None = None,
    lag_hours: int = 24,
    trigger_available_now: bool = True,
    max_store_rows: int = 1_000_000,
    horizon_hours: int | None = None,
):
    """Streaming seasonal-naive deviation monitor - the online twin of
    the ``seasonal_deviation`` batch query: per micro-batch, each
    touched (group, hour) bucket's CUMULATIVE count is compared to the
    cumulative count of the same hour ``lag_hours`` earlier, with the
    batch query's exact arithmetic (bigint counts, one-division
    deviation, pure-integer >=50%-swing flag 2*|d| >= prev). Returns
    the StreamingQuery.

    Cross-batch semantics (what makes the twin hold under ANY batch
    split, including late baseline data): the monitor keeps a
    driver-side cumulative hour-grid store - O(groups x calendar
    hours), the same bounded-by-construction grid the batch query
    aggregates to, so this is a control table, not fact state - and
    each batch (a) merges its grid-bounded per-hour counts, (b)
    emits every hour TOUCHED by the batch, and (c) RE-EMITS every
    hour whose BASELINE (hour - lag) the batch just updated. (c) is
    the load-bearing rule: without it, late-arriving baseline rows
    would leave an already-emitted hour's deviation stale, and the
    last emission per hour would not equal the batch query on the
    full data. With it, last-emission-per-hour == batch twin,
    asserted by the pytest twin through a real 2-micro-batch stream.

    Statuses instead of silent absence, per the monitor family
    contract: 'ok' when a baseline exists, 'no_baseline' when the
    lagged hour has no rows yet (the row is PRESENT with NULL
    deviation - a brand-new series is a fact worth alarming on, not
    a missing key), 'beyond_horizon' when ``horizon_hours`` is set
    and the hour is too old to monitor (see below). NULL timestamps
    drop (the batch twin's equi-join drops them too); hour keys are
    epoch-microsecond integers internally, so the day-back pairing is
    DST-proof on any driver timezone.

    Restart safety: the cumulative store is snapshotted to parquet
    under ``<checkpoint>/state_snapshots/batch-<id>`` BEFORE each
    batch commits, so a restart resumes EXACTLY - batch N rebuilds
    from snapshot N-1 and replayed batches are idempotent (the
    re-emitted rows are byte-identical; at-least-once on_result, the
    normal foreachBatch contract). start() refuses only the
    unrecoverable case: a checkpoint with prior commits but no
    snapshot (a pre-snapshot run).

    Store bounds (the control table is O(groups x calendar hours) -
    bounded per batch by construction, but a years-long stream over a
    high-cardinality group column grows it without limit):
    ``max_store_rows`` is a hard guard - the batch that would exceed
    it fails the stream LOUDLY (like the checkpoint refusal: a wrong
    cap is an operator error to surface, not state to silently
    shed). ``horizon_hours`` (>= ``lag_hours``) is the rolling
    bound: hours older than ``max_seen_hour - horizon`` stop being
    monitored - when touched by late data they emit
    status='beyond_horizon' with the BATCH-LOCAL count (their
    cumulative history may be aged out, so no cumulative claim is
    made) - and store entries older than ``horizon + lag`` (no
    longer anyone's baseline) are evicted after each batch. Within
    the horizon the batch twin holds unchanged."""
    keys = list(by or [])

    # the hour keys live as EPOCH MICROSECONDS, never datetimes:
    # collect() hands back naive session/local-time datetimes, and
    # timedelta arithmetic on those mis-pairs buckets across DST
    # transitions on a non-UTC driver - integer micros lag exactly
    lag_us = int(lag_hours) * 3_600_000_000
    horizon_us = None
    if horizon_hours is not None:
        if int(horizon_hours) < int(lag_hours):
            raise ValueError(
                f"horizon_hours={horizon_hours} < lag_hours={lag_hours}: "
                "every monitored hour's baseline would be beyond the "
                "horizon"
            )
        horizon_us = int(horizon_hours) * 3_600_000_000
    spark_ref = stream_df.sparkSession
    snaps = _check_resumable(
        spark_ref, checkpoint, "start_seasonal_monitor"
    )

    def _load_store(snap: DataFrame) -> tuple[dict, int | None]:
        store: dict = {}
        max_hour = None
        for r in snap.collect():
            k = tuple(r[c] for c in keys) + (r["_hour_us"],)
            store[k] = r["_n"]
            if max_hour is None or r["_hour_us"] > max_hour:
                max_hour = r["_hour_us"]
        # the snapshot also pins max_seen_hour: eviction already
        # removed anything older, so the store max IS the horizon
        # anchor (monotonicity preserved across restart because the
        # anchor hour itself is never evicted)
        return store, max_hour

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        store, max_hour = snaps.rebase(batch_id, ({}, None), _load_store)
        # a COPY: if this batch fails mid-merge, the retained store
        # must still be exactly batch N-1's state, or the replay would
        # double-merge the partial work
        store = dict(store)
        batch_counts = (
            batch_df.filter(F.col(ts_col).isNotNull())
            .groupBy(
                *keys,
                F.unix_micros(
                    F.date_trunc("hour", F.col(ts_col))
                ).alias("_hour_us"),
            )
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()  # grid-bounded: groups x hours, never rows
        )
        for r in batch_counts:
            if max_hour is None or r["_hour_us"] > max_hour:
                max_hour = r["_hour_us"]
        # max_hour stays None when the store is empty AND the batch
        # had no non-null timestamps (NULL rows drop by contract) -
        # nothing to anchor the horizon on, so nothing is beyond it
        emit_cut = (
            None
            if horizon_us is None or max_hour is None
            else max_hour - horizon_us
        )
        touched = set()
        stale = []  # (key-tuple, batch-local n) beyond the horizon
        for r in batch_counts:
            k = tuple(r[c] for c in keys) + (r["_hour_us"],)
            if emit_cut is not None and k[-1] < emit_cut - lag_us:
                # older than anyone's baseline: never merged (its
                # cumulative history may already be evicted), but
                # NEVER silent - status row with the batch count
                stale.append((k, r["_n"]))
                continue
            store[k] = store.get(k, 0) + r["_n"]
            if emit_cut is not None and k[-1] < emit_cut:
                # baseline band: merged (it baselines an in-horizon
                # hour; rule (c) re-emits the dependent), emitted as
                # beyond_horizon (its OWN baseline may be evicted)
                stale.append((k, store[k]))
            else:
                touched.add(k)
            # the hour this one BASELINES must re-emit too
            dep = k[:-1] + (k[-1] + lag_us,)
            if dep in store:
                touched.add(dep)
        if len(store) > max_store_rows:
            raise ValueError(
                f"start_seasonal_monitor: cumulative store holds "
                f"{len(store)} (group, hour) buckets > max_store_rows="
                f"{max_store_rows}. The group column's cardinality (or "
                "the stream's age) outgrew the control table - raise "
                "max_store_rows deliberately, set horizon_hours to age "
                "out old hours, or coarsen the group key."
            )
        if emit_cut is not None:
            keep_cut = emit_cut - lag_us
            for k in [k for k in store if k[-1] < keep_cut]:
                del store[k]
        rows = []
        for k in sorted(touched, key=lambda t: tuple(map(str, t))):
            n = store[k]
            prev = store.get(k[:-1] + (k[-1] - lag_us,))
            if prev is None:
                rows.append(
                    k + (n, None, None, False, "no_baseline", batch_id)
                )
            else:
                rows.append(
                    k
                    + (
                        n,
                        prev,
                        (float(n) - float(prev)) / float(prev),
                        bool(2 * abs(n - prev) >= prev),
                        "ok",
                        batch_id,
                    )
                )
        for k, n in sorted(stale, key=lambda t: tuple(map(str, t[0]))):
            rows.append(
                k + (n, None, None, False, "beyond_horizon", batch_id)
            )
        dtypes = dict(batch_df.dtypes)
        key_schema = "".join(f"{c} {dtypes[c]}, " for c in keys)
        snap_df = spark_ref.createDataFrame(
            [k + (n,) for k, n in store.items()],
            schema=key_schema + "_hour_us bigint, _n bigint",
        )
        snaps.write(batch_id, snap_df, (store, max_hour))
        out = (
            spark_ref.createDataFrame(
                rows,
                schema=(
                    key_schema + "hour_us bigint, n bigint, "
                    "n_prev bigint, deviation double, is_anomaly boolean, "
                    "status string, batch_id bigint"
                ),
            )
            .withColumn("hour_ts", F.timestamp_micros(F.col("hour_us")))
            .select(
                *keys, "hour_ts", "n", "n_prev", "deviation",
                "is_anomaly", "status", "batch_id",
            )
        )
        on_result(out, batch_id)

    return _start(stream_df, on_batch, checkpoint, trigger_available_now)


def start_trending_monitor(
    stream_df: DataFrame,
    value_col: str,
    checkpoint: str,
    on_result: Callable[[DataFrame, int], None],
    by: list[str] | None = None,
    k: int = 10,
    max_items_tracked: int = 10000,
    trigger_available_now: bool = True,
):
    """Streaming trending-items monitor over the MERGEABLE
    heavy-hitter sketch family (operators.sketches): each micro-batch
    accumulates its own per-group top-k state, which COMBINES with
    the carried cumulative state - so every emission is the top-k
    over the WHOLE stream so far, at sketch cost per trigger, never a
    rescan. The online face of 'top items over any range'. Returns
    the StreamingQuery.

    Cross-batch state is the combined sketch rows themselves,
    re-created driver-side each batch (the engine's control-table
    rule: collect + createDataFrame, never a cached re-read of a
    mutable source) - O(groups x max_items_tracked) and opaque to
    this layer; merge associativity/commutativity is the sketch
    family's contract, so the batch==stream twin holds whenever the
    tracked-item budget covers the item universe (the exact regime
    the pytest pins) and degrades to the sketch's usual approximation
    beyond it. Emits (group..., item, count, rank, batch_id).

    Restart safety: the combined sketch rows are snapshotted to
    parquet under ``<checkpoint>/state_snapshots/batch-<id>`` (the
    sketch struct - binary state included - round-trips through
    parquet) BEFORE each batch commits, so a restart resumes exactly:
    batch N re-bases on snapshot N-1, replayed batches recombine to
    identical state (at-least-once on_result). start() refuses only
    a checkpoint with commits but no snapshot (a pre-snapshot run)."""
    keys = list(by or [])
    from ..operators.sketches import build_topk_sketches, estimate_topk

    snaps = _check_resumable(
        stream_df.sparkSession, checkpoint, "start_trending_monitor"
    )

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_ref = batch_df.sparkSession
        held, schema = snaps.rebase(
            batch_id, (None, None), lambda base: (base.collect(), base.schema)
        )
        sb = build_topk_sketches(
            batch_df, value_col, keys, max_items_tracked
        )
        if held:
            sb = sb.unionByName(spark_ref.createDataFrame(held, schema))
        # coalesce(1): ApproxTopKCombine's partial aggregate cannot
        # serialize the null buffer an EMPTY input partition produces
        # (scala.MatchError in genSketchSerDe) - and the sketch frame
        # is group-count bounded, so one partition is the right plan
        # anyway
        merged = (
            sb.coalesce(1)
            .groupBy(*keys)
            .agg(
                F.expr(
                    "approx_top_k_combine(topk_state,"
                    f" {int(max_items_tracked)})"
                ).alias("topk_state")
            )
        )
        rows = merged.collect()  # group-count bounded sketch rows
        snap = spark_ref.createDataFrame(rows, merged.schema).coalesce(1)
        snaps.write(batch_id, snap, (rows, merged.schema))
        out = estimate_topk(snap, k, group_cols=keys or None)
        w = (
            Window.partitionBy(*keys) if keys else Window.partitionBy()
        ).orderBy(F.col("count").desc(), F.col("item"))
        out = (
            out.withColumn("rank", F.row_number().over(w))
            .withColumn("batch_id", F.lit(batch_id))
        )
        on_result(out, batch_id)

    return _start(stream_df, on_batch, checkpoint, trigger_available_now)
