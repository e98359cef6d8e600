"""Streaming corpus ingest: the training-corpus pre-filter running
incrementally over a document stream.

Every stage of the batch pipeline that is narrow stays IDENTICAL on
the stream (unified semantics): language/quality/stopword gates,
benchmark decontamination, fingerprint derivation. The two stages
that need adapting are exactly the stateful ones:

- exact dedup: the batch per-fingerprint window becomes
  ``dropDuplicatesWithinWatermark(["fp"])`` - cross-micro-batch
  suppression with state that ages out past the watermark (the same
  swap A27 makes for the manifest anti-join).
- decontamination: the per-doc hit-count groupBy would be a streaming
  aggregation; instead the (small, static) benchmark gram index is
  embedded as an array literal and the overlap becomes
  ``array_intersect`` - a narrow map, streamable in append mode. Eval
  suites are MBs, so the index rides the task closure the same way a
  broadcast variable would; for a rare giant index, run the batch
  pipeline under foreachBatch instead.

Admission protocol. The three ADMISSION ingests (near-dup, exact,
DSIR) screen each micro-batch against what the corpus already holds,
so they run under ``foreachBatch``: the batch both reads and appends
the corpus (and a posting store or model). The checkpoint is the ack
- a batch is committed only after ``process`` returns - so every
batch may be replayed and every step must be idempotent. Each step is
written once below; each ingest's ``process`` keeps only its screen:

1. ``_gated`` - the narrow lang/quality/stopword gate.
2. ``_corpus_layout`` - heal a crashed ``bucket_corpus`` migration,
   probe the corpus, and take its ``_ck`` bucket count from its own
   sidecar (``corpus_store``).
3. ``_replayed_ids`` - the replay guard: corpus ids a replayed batch
   may already have appended, read pruned to the batch ids' buckets.
4. Posting-store ingests (near-dup, exact) only, over one
   ``_PostingIngest`` contract: ``_resolve_layout`` (heal a crashed
   compaction, store sidecar contract incl. legacy and sheared
   stores, compaction trigger, corpus layout),
   ``_open_store`` (a corpus without its store fails loud),
   ``_greedy_admit`` (intra-batch admission) and ``_commit`` - the
   crash-ordered commit, whose docstring holds the durability, replay
   and maintenance rules.
5. ``file_source._start`` - the ``foreachBatch`` + ``availableNow``
   tail every streaming sink shares.

DSIR shares steps 1-3 and 5; its commit (append marker, corpus rows,
model fold) is its own, documented on ``start_corpus_ingest_dsir``.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..corpus_store import (
    append_corpus_rows,
    forbid_sheared_corpus,
    read_corpus,
    read_corpus_meta,
    write_corpus_meta,
)
from ..io import _partition_dirs, _read_recovered, _vfs, publish_small_table
from ..operators.dedup import (
    band_postings,
    greedy_admission_drops,
    incremental_minhash_dedup,
    minhash_dedup_pairs,
    read_band_meta,
    word_shingles,
    write_band_meta,
)
from ..operators.dsir import hashed_ngram_buckets
from ..operators.fuzzy import (
    _bucket_of,
    _quantize,
    compact_postings,
    jaccard_prefix_join,
    jaccard_prefix_postings,
    jaccard_screen_vs_postings,
    posting_store_file_count,
    read_postings_meta,
    recover_posting_store,
    write_postings_meta,
)
from ..operators.text import (
    fingerprint,
    lang_id,
    quality_score,
    stopword_ratio,
)
from .file_source import _start


def _dir_exists(spark, path: str) -> bool:
    """Explicit Hadoop-FS existence probe. The ingests MUST distinguish
    "no corpus/store yet" (first batch - legitimately skip the screen)
    from "the read failed" (transient FS error, permission, corrupt
    footer): a bare ``except Exception`` around the read treated BOTH
    as first-batch, silently skipping the dedup screen AND the replay
    anti-join and admitting duplicates with no signal (ADVICE r12).
    With this probe, absence is checked explicitly and a genuine read
    error propagates and fails the micro-batch - retryable, loud."""
    jvm_path, fs = _vfs(spark, path)
    return bool(fs.exists(jvm_path(path)))


def _validate_compact_trigger(
    compact_trigger_files: int | None, floor: int, fn_name: str
) -> None:
    """A trigger at or below the post-compaction file floor (one data
    file per store bucket after ``compact_postings``; the session's
    defaultParallelism for an unbucketed store) makes EVERY batch
    re-run a full-store compaction forever - the exact pathology the
    compaction bound exists to prevent, and silent until someone reads
    the batch timings (ADVICE r14). Validated at ingest entry against
    the call's bucket count AND per batch against the store's own
    sidecar-resolved layout (a restart may resume a store built with
    different buckets)."""
    if compact_trigger_files is not None and compact_trigger_files <= floor:
        raise ValueError(
            f"{fn_name}: compact_trigger_files={compact_trigger_files} "
            f"is at or below the post-compaction file floor ({floor} - "
            "one data file per store bucket, or defaultParallelism "
            "unbucketed), so every batch would re-run a full-store "
            "compaction forever; raise the trigger, lower the bucket "
            "count, or pass None to hand maintenance to an external "
            "operator"
        )


def benchmark_gram_index(benchmark: DataFrame, text_col: str = "text", n: int = 5) -> list[str]:
    """Collect the distinct n-grams of the eval corpus (driver-side,
    eval-suite sized)."""
    return [
        r["_g"]
        for r in benchmark.select(
            F.explode(word_shingles(text_col, n)).alias("_g")
        ).distinct().collect()
    ]


def _gated(
    docs: DataFrame, text_col: str, languages: tuple[str, ...],
    min_quality: float, max_stopword_ratio: float, keep_scores: bool = False,
) -> DataFrame:
    """The narrow language/quality/stopword gate, the same on every
    ingest. ``lang_guess`` always rides along; ``keep_scores`` also
    carries ``quality``, ``sw_ratio`` and the exact-dedup fingerprint
    ``fp`` as columns (the plain and near-dup corpora keep them)."""
    quality = F.round(quality_score(text_col), 6)
    sw_ratio = F.round(stopword_ratio(text_col), 6)
    docs = docs.withColumn("lang_guess", lang_id(text_col))
    if keep_scores:
        docs = (
            docs.withColumn("quality", quality)
            .withColumn("sw_ratio", sw_ratio)
            .withColumn("fp", fingerprint(text_col))
        )
        quality, sw_ratio = F.col("quality"), F.col("sw_ratio")
    return docs.filter(
        F.col("lang_guess").isin(*languages)
        & (quality >= min_quality)
        & (sw_ratio <= max_stopword_ratio)
    )


def _corpus_layout(
    spark, corpus_dir: str, corpus_bucket_count: int | None, fn_name: str
) -> tuple[bool, int | None]:
    """``(exists, buckets)`` of the corpus. A crashed ``bucket_corpus``
    migration (live dir missing, ``__old`` intact) heals first - the
    mutator self-recovery rule. An existing corpus's layout comes from
    ITS OWN sidecar, never from this call's parameter (a restart may
    have changed it): no sidecar is a legacy unpartitioned corpus -
    full scans, unpartitioned appends - unless its on-disk layout is
    ``_ck``-partitioned (sheared: fail loud). A new corpus takes
    ``corpus_bucket_count``."""
    # read only the sidecar (None for a legacy corpus), in a list so an
    # existing legacy corpus is not mistaken for a missing one
    found = _read_recovered(
        spark, corpus_dir, lambda p: [read_corpus_meta(spark, p)]
    )
    if found is None:
        return False, corpus_bucket_count
    [buckets] = found
    if buckets is None:
        forbid_sheared_corpus(spark, corpus_dir, fn_name)
    return True, buckets


def _replayed_ids(
    spark, corpus_dir: str, cbuckets: int | None, schema: StructType,
    ids: DataFrame, id_col: str,
) -> DataFrame:
    """The replay guard: the corpus ids that ``ids`` must be
    anti-joined against, so a replayed batch never re-appends a doc
    even where its screen would admit it. Read pruned to ``ids``'
    ``_ck`` buckets - an equal id shares a bucket, so the pruned read
    sees every id the full read could veto with (full scan on a legacy
    corpus). ``schema`` is the corpus row schema."""
    return read_corpus(
        spark, corpus_dir, schema, cbuckets,
        prune_ids=ids.select(id_col), id_col=id_col,
    ).select(id_col)


class _PostingIngest(NamedTuple):
    """What the shared steps need to know about one posting-store
    ingest: its paths and maintenance setting, and its store's data
    columns and ``_meta`` sidecar contract."""

    fn: str  # the public entry point, named in every error
    corpus_dir: str
    postings_dir: str
    id_col: str
    store_bucket_count: int
    corpus_bucket_count: int | None
    compact_trigger_files: int | None
    columns: Callable[[str], str]  # id type -> store schema, no ``_bk``
    rebuild_with: Callable  # rebuilds a lost store from the corpus
    read_meta: Callable[[SparkSession, str], dict | None]
    # write_meta(spark, postings_dir, *meta_args, buckets=...)
    write_meta: Callable
    meta_args: tuple
    want: dict  # build parameters the sidecar must match
    why: str  # what a parameter drift would silently do
    # legacy (pre-sidecar) store check, given the store as a frame
    legacy_check: Callable[[DataFrame], None] | None = None


class _Layout(NamedTuple):
    store_exists: bool
    buckets: int | None  # store ``_bk`` buckets; None = legacy unbucketed
    corpus_exists: bool
    cbuckets: int | None  # corpus ``_ck`` buckets; None = legacy


def _forbid_sheared_bucketed_store(spark, ing: _PostingIngest) -> None:
    """A posting store with NO ``_meta`` sidecar is a legacy
    UNBUCKETED store - unless its on-disk layout is actually
    ``_bk=``-partitioned, in which case the sidecar was LOST and
    appending unbucketed rows would shear the layout (and, once the
    true sidecar is restored, be pruned out of every screen's
    partition filter). Fail loud with the restore instruction."""
    if _partition_dirs(spark, ing.postings_dir, "_bk"):
        raise ValueError(
            f"{ing.fn}: posting store at {ing.postings_dir} is "
            "_bk-partitioned but its _meta sidecar is missing - "
            f"restore the sidecar ({ing.write_meta.__name__} with the "
            "original parameters and bucket count) before resuming"
        )


def _resolve_layout(spark, ing: _PostingIngest, idt: str) -> _Layout:
    """Probe the store and the corpus INDEPENDENTLY and resolve both
    layouts.

    A crashed compaction heals BEFORE the store probe - mid-swap
    leftovers otherwise read as a missing/half store and fail every
    batch until an operator intervenes - but ONLY in auto-maintenance
    mode: with the trigger disabled an EXTERNAL operator owns the
    store, and self-healing here would race a live compaction's swap
    window (restoring ``__old`` mid-swap breaks the external pass's
    rollback and can re-duplicate the postings it just removed).

    The store's contract (build parameters, ``_bk`` buckets)
    comes from ITS OWN sidecar whenever the store exists - never from
    this call's parameters, which a restart may have changed - and a
    drift fails loud even on the crash-window replay where the corpus
    append never landed: mismatched parameters screen against the
    wrong postings and silently admit duplicates of the whole corpus.
    The compaction trigger is re-validated against the resolved
    layout. A legacy store without the sidecar is checked
    (``legacy_check``) and gets the sidecar written forward,
    unbucketed, under the CURRENT parameters (the caller is asserting
    continuity, exactly what resuming the ingest means) - before the
    corpus probe, so no replay can append postings under new
    parameters into an unchecked store."""
    if ing.compact_trigger_files is not None:
        recover_posting_store(spark, ing.postings_dir)
    store_exists = _dir_exists(spark, ing.postings_dir)
    meta = ing.read_meta(spark, ing.postings_dir) if store_exists else None
    if meta is not None:
        have = {k: meta[k] for k in ing.want}
        if have != ing.want:
            raise ValueError(
                f"{ing.fn}: posting store at {ing.postings_dir} was built "
                f"with {have}, ingest requested {ing.want} - {ing.why}; "
                "rebuild the store or resume with its parameters"
            )
        buckets = meta["buckets"]
    elif store_exists:
        _forbid_sheared_bucketed_store(spark, ing)
        buckets = None
    else:
        buckets = ing.store_bucket_count
    _validate_compact_trigger(
        ing.compact_trigger_files,
        buckets if buckets is not None else spark.sparkContext.defaultParallelism,
        ing.fn,
    )
    if store_exists and meta is None:
        if ing.legacy_check is not None:
            legacy = spark.read.schema(ing.columns(idt)).parquet(ing.postings_dir)
            ing.legacy_check(legacy)
        ing.write_meta(spark, ing.postings_dir, *ing.meta_args, buckets=None)
    corpus_exists, cbuckets = _corpus_layout(
        spark, ing.corpus_dir, ing.corpus_bucket_count, ing.fn
    )
    return _Layout(store_exists, buckets, corpus_exists, cbuckets)


def _open_store(spark, ing: _PostingIngest, lay: _Layout, idt: str) -> DataFrame:
    """The posting store as a frame, for screening a batch against an
    existing corpus. A MISSING store next to an existing corpus is
    corruption or a half migration and fails loud - screening against
    nothing would admit duplicates of the whole corpus. The schema is
    explicit: an exists-but-empty store (a crashed first append, or
    only unshingleable admissions) is a LEGITIMATE empty table, not an
    inference error."""
    if not lay.store_exists:
        raise ValueError(
            f"{ing.fn}: corpus exists at {ing.corpus_dir} but the "
            f"posting store {ing.postings_dir} is missing - rebuild it "
            f"with {ing.rebuild_with.__name__} over the corpus before resuming "
            "(screening without it would silently admit duplicates)"
        )
    schema = ing.columns(idt)
    if lay.buckets is not None:
        schema += ", _bk int"
    return spark.read.schema(schema).parquet(ing.postings_dir)


def _greedy_admit(
    survivors: DataFrame, pairs: DataFrame, id_col: str, reuse_drops: bool = False
) -> tuple[DataFrame, DataFrame]:
    """``(drops, admitted)``: the SEQUENTIAL intra-batch admission
    among the corpus survivors. ``pairs`` restricted to survivor
    endpoints is exact - a corpus-rejected doc is rejected under any
    arrival order and must not block a batch sibling, which is why the
    corpus screen runs first. The greedy min-id-first pass
    (operators.dedup.greedy_admission_drops) equals one-doc-at-a-time
    arrival in ascending-id order; "drop the greater id of every pair"
    over-dropped on chains (ADVICE r12: for a<b<c with a~b, b~c, a!~c
    it discarded c although c's only partner b was itself dropped).

    ``admitted`` is one deterministic snapshot: it feeds both appends,
    and the corpus append must not be re-evaluated lazily AFTER the
    store has grown. ``reuse_drops`` snapshots the rejected-id-sized
    drop set too, for a caller that consumes it again."""
    drops = greedy_admission_drops(pairs).withColumnRenamed("id", id_col)
    if reuse_drops:
        drops = drops.localCheckpoint()
    return drops, survivors.join(drops, id_col, "left_anti").localCheckpoint()


def _commit(
    spark, ing: _PostingIngest, lay: _Layout, admitted: DataFrame, postings: DataFrame
) -> None:
    """Make one batch's admissions durable - the crash-ordered commit
    of both posting-store ingests. In order:

    1. store sidecar, on the FIRST admission: a crash right after
       leaves a store that is empty but already carries its contract;
    2. corpus sidecar, for a new bucketed corpus: AFTER the store's (a
       corpus-exists probe must never find a corpus whose store is
       missing) and before any corpus row;
    3. POSTINGS, appended partitioned by ``_bk`` (unpartitioned on a
       legacy store, so its layout never shears);
    4. corpus rows, under the corpus's own layout;
    5. in-line compaction, when the store's data-file count reaches
       ``compact_trigger_files``.

    Durability: postings go down BEFORE corpus rows. A crash between
    the two appends leaves orphan postings, which are harmless - the
    screens' verify joins candidates back to CORPUS rows, so a posting
    with no corpus row never rejects anything - and the replay appends
    them again: duplicates, absorbed by the screens' candidate distinct
    and reclaimed by ``operators.fuzzy.compact_postings``. The reverse
    order left admitted docs WITHOUT postings after a crash: invisible
    to every future screen, a permanent silent recall hole (VERDICT
    r12).

    Replay: the checkpoint is the ack, so a crash anywhere above
    replays the whole batch. The replay finds any sidecar already
    written and validates it instead, and ``_replayed_ids`` keeps ids
    already in the corpus out of both appends.

    Maintenance is wired IN (VERDICT r13): step 5 runs AFTER both
    appends, when the batch is fully durable and this writer is the
    store's only appender; its trigger probe is ONE recursive listing
    (metadata-bounded, no data read), and a compaction that crashes
    mid-swap heals at the next batch (``_resolve_layout``), so replay
    growth reclaims itself without an operator remembering to.
    ``compact_trigger_files=None`` disables it (external maintenance
    owns the store). The trigger must exceed the post-compaction file
    floor - one data file per store bucket, or defaultParallelism
    unbucketed - else EVERY batch would rerun a full-store compaction;
    it is validated loudly at entry and per batch against the
    sidecar-resolved layout (ADVICE r14)."""
    if not lay.store_exists:
        ing.write_meta(
            spark, ing.postings_dir, *ing.meta_args,
            buckets=ing.store_bucket_count,
        )
    if not lay.corpus_exists and lay.cbuckets is not None:
        write_corpus_meta(spark, ing.corpus_dir, lay.cbuckets)
    writer = postings.write.mode("append")
    if lay.buckets is not None:
        writer = writer.partitionBy("_bk")
    writer.parquet(ing.postings_dir)
    append_corpus_rows(admitted, ing.corpus_dir, ing.id_col, lay.cbuckets)
    if (
        ing.compact_trigger_files is not None
        and posting_store_file_count(spark, ing.postings_dir)
        >= ing.compact_trigger_files
    ):
        compact_postings(spark, ing.postings_dir)


def gated_doc_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "arrival_ts",
    min_quality: float = 0.5,
    languages: tuple[str, ...] = ("en",),
    max_stopword_ratio: float = 0.9,
    bench_grams: list[str] | None = None,
    max_benchmark_overlap: float = 0.5,
    decontam_ngram: int = 5,
    dedup_watermark: str = "1 hour",
) -> DataFrame:
    """Apply the corpus gates + decontamination + cross-batch exact
    dedup to a streaming (or batch) document frame carrying an event
    timestamp column ``ts_col``."""
    gated = _gated(
        docs, text_col, languages, min_quality, max_stopword_ratio,
        keep_scores=True,
    )
    if bench_grams is not None:
        grams = word_shingles(text_col, decontam_ngram)
        overlap = F.size(F.array_intersect(grams, F.lit(bench_grams))).cast(
            "double"
        ) / F.greatest(F.size(grams), F.lit(1)).cast("double")
        gated = gated.withColumn("bench_overlap", F.round(overlap, 6)).filter(
            F.col("bench_overlap") < max_benchmark_overlap
        )
    return gated.withWatermark(ts_col, dedup_watermark).dropDuplicatesWithinWatermark(
        ["fp"]
    )


def start_corpus_ingest_neardup(
    docs: DataFrame,
    corpus_dir: str,
    postings_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    min_quality: float = 0.5,
    languages: tuple[str, ...] = ("en",),
    max_stopword_ratio: float = 0.9,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    store_bucket_count: int = 64,
    compact_trigger_files: int | None = 256,
    corpus_bucket_count: int | None = 64,
) -> StreamingQuery:
    """Streaming ingest with NEAR-dup admission against the persistent
    corpus: per micro-batch, gate the new docs, screen them against
    the LSH band-posting store (operators.dedup.incremental_minhash_dedup
    - the corpus is never re-signatured), drop already-admitted ids,
    run the greedy intra-batch admission among the corpus survivors,
    then commit their postings and corpus rows. The protocol - layout
    resolution, replay guard, crash ordering, in-line maintenance - is
    the module's admission protocol (see ``_commit``).

    Semantics: the admitted set is exactly what one-doc-at-a-time
    arrival (ascending id within a batch, batch order across batches)
    would produce, up to LSH recall.

    The store is partitioned by ``_bk = pmod(band_hash,
    store_bucket_count)``; its ``_meta`` sidecar carries the LSH build
    parameters (num_hashes, bands, shingle_n, threshold) and bucket
    count, validated every batch: band hashes from mismatched
    parameters simply never collide, so a drift across restarts would
    not fail - it would silently admit duplicates of the whole corpus,
    the worst failure mode this module has. The corpus is bucketed like
    the store (VERDICT r14): ``partitionBy("_ck")``, ``_ck =
    pmod(xxhash64(id), corpus_bucket_count)``; the Jaccard VERIFY leg
    reads only the candidate ids' buckets (the ``corpus_loader`` hook),
    so the per-batch corpus cost tracks candidate bucket coverage,
    never corpus size. A legacy unpartitioned corpus keeps full scans;
    migrate with ``corpus_store.bucket_corpus`` (ingest stopped).

    The admitted docs' postings REUSE the signature pass the corpus
    screen already ran (``incremental_minhash_dedup``'s second return),
    filtered by the drop set - the batch is never re-signatured; only
    the first batch, which ran no screen, signatures at commit."""
    fn = "start_corpus_ingest_neardup"
    _validate_compact_trigger(compact_trigger_files, store_bucket_count, fn)
    ing = _PostingIngest(
        fn, corpus_dir, postings_dir, id_col, store_bucket_count,
        corpus_bucket_count, compact_trigger_files,
        columns=lambda idt: f"{id_col} {idt}, band_idx int, band_hash bigint",
        rebuild_with=band_postings,
        read_meta=read_band_meta,
        write_meta=write_band_meta,
        meta_args=(num_hashes, bands, shingle_n, jaccard_threshold),
        want={
            "num_hashes": num_hashes,
            "bands": bands,
            "shingle_n": shingle_n,
            "p_num": _quantize(jaccard_threshold),
        },
        why="mismatched LSH parameters never collide in bands, which "
        "would silently admit duplicates",
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        gated = _gated(
            batch, text_col, languages, min_quality, max_stopword_ratio,
            keep_scores=True,
        ).localCheckpoint()
        if gated.isEmpty():
            return
        idt = gated.schema[id_col].dataType.simpleString()
        lay = _resolve_layout(spark, ing, idt)
        if lay.corpus_exists:
            store = _open_store(spark, ing, lay, idt)

            def corpus_texts_for(ids_df: DataFrame) -> DataFrame:
                # partition-pruned verify read: only the candidate
                # ids' _ck buckets are scanned and re-shingled
                return read_corpus(
                    spark, corpus_dir, gated.schema, lay.cbuckets,
                    prune_ids=ids_df, id_col=id_col,
                ).select(id_col, text_col)

            survivors, surv_post = incremental_minhash_dedup(
                gated, store, None,
                id_col, text_col, num_hashes=num_hashes, bands=bands,
                jaccard_threshold=jaccard_threshold, shingle_n=shingle_n,
                store_buckets=lay.buckets, corpus_loader=corpus_texts_for,
            )
            # the replay guard covers the survivors' postings too, so
            # they stay the survivors' posting set
            corpus_ids = _replayed_ids(
                spark, corpus_dir, lay.cbuckets, gated.schema, gated, id_col
            )
            survivors = survivors.join(corpus_ids, id_col, "left_anti")
            # batch-postings-sized snapshot: the append consumes this
            # lazily AFTER the corpus/store reads, and an
            # un-checkpointed lineage would re-run the whole screen a
            # second time per trigger
            surv_post = surv_post.join(
                corpus_ids, id_col, "left_anti"
            ).localCheckpoint()
        else:
            survivors, surv_post = gated, None
        survivors = survivors.localCheckpoint()
        pairs = minhash_dedup_pairs(
            survivors, id_col, text_col, num_hashes=num_hashes,
            bands=bands, jaccard_threshold=jaccard_threshold,
            shingle_n=shingle_n,
        )
        drops, admitted = _greedy_admit(
            survivors, pairs, id_col, reuse_drops=True
        )
        if surv_post is None:
            surv_post = band_postings(
                survivors, id_col, text_col, num_hashes=num_hashes,
                bands=bands, shingle_n=shingle_n,
            )
        postings = surv_post.join(drops, id_col, "left_anti")
        if lay.buckets is not None:
            postings = postings.withColumn(
                "_bk", _bucket_of("band_hash", lay.buckets)
            )
        _commit(spark, ing, lay, admitted, postings)

    return _start(docs, process, checkpoint_dir)


def start_corpus_ingest(
    docs: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    **gate_kwargs,
) -> StreamingQuery:
    """Land the gated stream in the corpus lake, checkpoint-as-ack;
    available-now friendly (run-to-completion in tests/backfills)."""
    gated = gated_doc_stream(docs, **gate_kwargs)
    return (
        gated.writeStream.format("parquet")
        .option("path", corpus_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_corpus_ingest_exact(
    docs: DataFrame,
    corpus_dir: str,
    postings_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
    shingle_n: int = 3,
    min_quality: float = 0.5,
    languages: tuple[str, ...] = ("en",),
    max_stopword_ratio: float = 0.9,
    store_bucket_count: int = 64,
    compact_trigger_files: int | None = 256,
    corpus_bucket_count: int | None = 64,
) -> StreamingQuery:
    """Streaming ingest with EXACT Jaccard admission - the
    deterministic twin of ``start_corpus_ingest_neardup`` (LSH bands
    trade recall for speed; this tier guarantees NO qualifying
    duplicate is ever admitted, the recall-1.0 contract of
    operators.fuzzy). Per micro-batch: gate, screen the batch against
    the PERSISTED prefix-posting store (``jaccard_screen_vs_postings``
    - admitted docs' hash-order prefix postings were appended at their
    own admission and are NEVER recomputed), drop already-admitted
    ids, run the greedy intra-batch admission over the exact pair
    graph, then commit the admitted docs' postings and corpus rows.
    The protocol - layout resolution, replay guard, crash ordering,
    in-line maintenance - is the module's admission protocol (see
    ``_commit``).

    The store is partitioned by ``_bk = pmod(_hk, store_bucket_count)``
    and the screen prunes its read to the batch's own posting buckets
    (a partition filter - the per-batch store cost tracks the batch's
    bucket coverage). The build threshold and bucket count live in the
    store's one-row ``_meta`` sidecar, so the per-batch threshold guard
    is a tiny sidecar read, not a second store scan (ADVICE r12). A
    legacy store without the sidecar is validated ONCE by a
    distinct-``_p`` scan and gets the sidecar written forward
    (unbucketed - rebuild to bucket it). The corpus is written
    ``partitionBy("_ck")``, ``_ck = pmod(xxhash64(id),
    corpus_bucket_count)`` (VERDICT r14), and the screen's verify leg
    reads ONLY the partitions the candidate ids hash into, so the
    per-batch corpus read tracks candidate bucket coverage, never
    corpus size. A legacy unpartitioned corpus keeps full scans;
    migrate it with ``corpus_store.bucket_corpus`` (ingest stopped).

    Similarity domain is word ``shingle_n``-gram sets
    (operators.dedup.word_shingles, pure Catalyst); docs too short to
    shingle cannot match anything and are admitted. Admission is
    ORDER-DEPENDENT across batches by design (first arrival wins) -
    the same contract every sequential admission policy has."""
    fn = "start_corpus_ingest_exact"
    _validate_compact_trigger(compact_trigger_files, store_bucket_count, fn)
    p_req = _quantize(jaccard_threshold)

    def legacy_threshold(legacy: DataFrame) -> None:
        wrong = sorted(
            p["_p"]
            for p in legacy.select("_p").distinct().collect()
            if p["_p"] != p_req
        )
        if wrong:
            raise ValueError(
                f"{fn}: legacy posting store at {postings_dir} holds "
                f"postings built at threshold p={wrong}/1e6, ingest "
                f"requested p={p_req}/1e6 - rebuild the store or ingest "
                "at its threshold"
            )

    ing = _PostingIngest(
        fn, corpus_dir, postings_dir, id_col, store_bucket_count,
        corpus_bucket_count, compact_trigger_files,
        columns=lambda idt: f"_id {idt}, _n int, _hk bigint, _p int",
        rebuild_with=jaccard_prefix_postings,
        read_meta=read_postings_meta,
        write_meta=write_postings_meta,
        meta_args=(jaccard_threshold,),
        want={"p_num": p_req},
        why="prefixes built at another threshold miss qualifying "
        "pairs, which would silently admit duplicates",
        legacy_check=legacy_threshold,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        gated = _gated(
            batch, text_col, languages, min_quality, max_stopword_ratio
        )
        if gated.isEmpty():
            return
        # materialize ONCE: the screen references the batch three
        # times (its postings, its token arrays, the anti-join) and
        # each reference would otherwise re-run the shingle chain
        toks = gated.withColumn(
            "_toks", word_shingles(text_col, shingle_n)
        ).localCheckpoint()
        idt = toks.schema[id_col].dataType.simpleString()
        lay = _resolve_layout(spark, ing, idt)
        if lay.corpus_exists:
            store = _open_store(spark, ing, lay, idt)

            def corpus_rows_for(ids_df: DataFrame) -> DataFrame:
                # partition-pruned verify read: only the candidate
                # ids' _ck buckets are scanned
                return read_corpus(
                    spark, corpus_dir, gated.schema, lay.cbuckets,
                    prune_ids=ids_df, id_col=id_col,
                ).select(
                    id_col,
                    word_shingles(text_col, shingle_n).alias("_toks"),
                )

            # the sidecar matched p_req (or was written forward at it)
            hits = jaccard_screen_vs_postings(
                toks.select(id_col, "_toks"),
                store,
                None,
                id_col,
                "_toks",
                jaccard_threshold,
                store_p_num=p_req,
                store_buckets=lay.buckets,
                corpus_loader=corpus_rows_for,
            )
            survivors = toks.join(
                hits.select(F.col("right_id").alias(id_col)).distinct(),
                id_col,
                "left_anti",
            )
            survivors = survivors.join(
                _replayed_ids(
                    spark, corpus_dir, lay.cbuckets, gated.schema, toks,
                    id_col,
                ),
                id_col,
                "left_anti",
            ).localCheckpoint()
        else:
            survivors = toks
        pairs = jaccard_prefix_join(
            survivors, id_col, "_toks", jaccard_threshold
        )
        _, admitted = _greedy_admit(survivors, pairs, id_col)
        postings = jaccard_prefix_postings(
            admitted.select(id_col, "_toks"),
            id_col,
            "_toks",
            jaccard_threshold,
            bucket_by=lay.buckets,
        )
        _commit(spark, ing, lay, admitted.drop("_toks"), postings)

    return _start(docs, process, checkpoint_dir)


def start_corpus_ingest_dsir(
    docs: DataFrame,
    corpus_dir: str,
    model_dir: str,
    checkpoint_dir: str,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_log_weight: float = 0.0,
    m: int = 8192,
    seed: int = 42,
    algo: str = "xxhash64",
    min_quality: float = 0.5,
    languages: tuple[str, ...] = ("en",),
    max_stopword_ratio: float = 0.9,
    corpus_bucket_count: int | None = 64,
    refresh_target: bool = False,
) -> StreamingQuery:
    """Streaming ingest with DSIR target-matched admission
    (operators.dsir on a live stream): per micro-batch, gate the new
    docs, weight each against the CURRENT importance model (fixed
    hashed-ngram target counts vs the accumulated raw counts of
    everything streamed so far), admit docs with ``log_weight >=
    min_log_weight``, append them to the corpus, then fold the batch's
    bucket counts into the persisted raw model. The model state is TWO
    m-row tables under ``model_dir`` (`target` written once at stream
    start, `raw` re-published per batch via the crash-safe
    publish_small_table swap) - O(m) state forever, the DSIR scale
    contract. Gate, corpus layout, replay guard and stream tail are the
    module's admission protocol; the commit below is DSIR's own.

    Semantics and ordering (deliberate, and DIFFERENT from the posting
    ingests' postings-first rule because the model is a scoring PRIOR,
    not a recall structure):

    - q_raw is the distribution of the GATE-SURVIVING stream
      (admitted or not, but AFTER the language/quality/stopword
      gates - gate-rejected docs never fold into the raw model).
      This is deliberate, and differs from the paper's raw-pool-is-
      everything formulation: selection happens among gate survivors,
      so the importance baseline that makes ``min_log_weight``
      meaningful is the survivor distribution - folding docs the
      gates already removed would bias every weight toward content
      that can never be admitted (ADVICE r14: tune min_log_weight
      against the gated stream, not the wire stream).
    - corpus MARKER, then corpus append, then model publish LAST,
      with the applied batch_id recorded IN the raw-model table AND a
      corpus-side ``_append_marker`` sidecar (one row, the batch id,
      published crash-safe BEFORE the append). The marker makes the
      replay anti-join REPLAY-ONLY (VERDICT r14 item 2): on the
      common path the marker from the last completed batch is <
      batch_id, so the batch runs with ZERO corpus reads - O(batch)
      work plus the O(m) model fold. Only when the marker reads >=
      batch_id (a crash landed somewhere after the marker publish)
      does the id anti-join run, re-weighted under the UNCHANGED
      model (same weights, same admitted set), and then pruned to the
      admitted ids' ``_ck`` buckets when the corpus is bucketed
      (``corpus_store``, corpus_bucket_count) so even the replay read
      is bucket-bounded. A raw-model marker >= batch_id still means
      the whole batch completed - full no-op, as before.
    - an empty raw model (first batch) weights with add-one smoothing
      over zero counts - fully defined, no special case.
    - TARGET ROTATION contract: the target model is derived from the
      ``target`` frame and published ONCE, at stream start, when no
      target model exists - re-invoking with a DIFFERENT target frame
      silently keeps the persisted counts (they are the stream's
      authoritative contract, like the posting stores' sidecars).
      Pass ``refresh_target=True`` to deliberately re-derive and swap
      the target model (crash-safe publish_small_table swap);
      admission from the next batch on follows the new target, the
      raw model and corpus are untouched."""
    fn = "start_corpus_ingest_dsir"
    raw_dir = model_dir.rstrip("/") + "/raw"
    target_dir = model_dir.rstrip("/") + "/target"
    marker_dir = corpus_dir.rstrip("/") + "/_append_marker"
    tgt_schema = "bucket bigint, c_t bigint"
    spark0 = target.sparkSession
    if refresh_target or _read_recovered(
        spark0, target_dir, spark0.read.schema(tgt_schema).parquet
    ) is None:
        tgt = (
            hashed_ngram_buckets(target, id_col, text_col, m, seed, algo)
            .groupBy("bucket")
            .agg(F.sum("cnt").alias("c_t"))
        )
        publish_small_table(tgt, target_dir)

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        gated = (
            _gated(batch, text_col, languages, min_quality, max_stopword_ratio)
            .drop("lang_guess")
            .localCheckpoint()
        )
        if gated.isEmpty():
            return
        tgt = spark.read.schema(tgt_schema).parquet(target_dir)
        raw_schema = "bucket bigint, c_r bigint, _applied_batch bigint"
        raw_model = _read_recovered(
            spark, raw_dir, spark.read.schema(raw_schema).parquet
        )
        if raw_model is None:
            raw_model = spark.createDataFrame([], raw_schema)
        raw_model = raw_model.localCheckpoint()  # consumed 3x below
        applied = [
            r[0]
            for r in raw_model.select(F.max("_applied_batch")).collect()
        ]
        if applied and applied[0] is not None and applied[0] >= batch_id:
            # the model fold is the LAST step, so a present marker
            # means the whole batch completed (corpus append included)
            # - a crash landed between the publish swap and the
            # checkpoint commit. Re-weighting now would run under the
            # post-batch model and could admit a different set; the
            # correct replay is a no-op.
            return

        # batch features: weighting consumes them, the model fold
        # consumes them again
        feats = hashed_ngram_buckets(
            gated, id_col, text_col, m, seed, algo
        ).localCheckpoint()

        ratio = (
            tgt.join(raw_model.select("bucket", "c_r"), "bucket", "full_outer")
            .select(
                "bucket",
                F.coalesce("c_t", F.lit(0)).alias("c_t"),
                F.coalesce("c_r", F.lit(0)).alias("c_r"),
            )
        )
        totals = ratio.agg(
            F.sum("c_t").alias("tt"), F.sum("c_r").alias("tr")
        ).collect()[0]
        t_t = (totals.tt or 0) + m
        t_r = (totals.tr or 0) + m
        scored = ratio.select(
            "bucket",
            (
                F.log(F.col("c_t") + 1)
                - F.log(F.col("c_r") + 1)
                + F.lit(math.log(t_r) - math.log(t_t))
            ).alias("_lr"),
        )
        # LEFT join with the zero-count constant: the ratio table
        # covers target+raw buckets, but the batch's OWN novel buckets
        # are in neither (the raw model folds AFTER weighting) - an
        # inner join silently dropped their log((0+1)/(0+1)) +
        # log(t_r/t_t) contribution, inflating off-target weights
        # (caught by the python-replay differential)
        zero_lr = math.log(t_r) - math.log(t_t)
        weights = (
            feats.join(F.broadcast(scored), "bucket", "left")
            .groupBy(id_col)
            .agg(
                F.sum(
                    F.col("cnt") * F.coalesce("_lr", F.lit(zero_lr))
                ).alias("log_weight")
            )
        )
        # LEFT join: a gated doc with no extractable grams has no
        # feats rows; the batch operator's contract weights it 0.0
        # (neutral - other gates own empty docs), and an inner join
        # silently dropped it from admission (review finding)
        admitted = (
            gated.join(weights, id_col, "left")
            .withColumn(
                "log_weight", F.coalesce("log_weight", F.lit(0.0))
            )
            .filter(F.col("log_weight") >= min_log_weight)
        )
        # replay gate. The marker is a corpus-side one-row sidecar
        # published crash-safe BEFORE the append: on the common path
        # (marker < batch_id) this batch's rows CANNOT be in the
        # corpus, so no anti-join runs and the batch touches the
        # corpus only to append - the replay-idempotence read is
        # replay-only (VERDICT r14 item 2)
        corpus_exists, cbuckets = _corpus_layout(
            spark, corpus_dir, corpus_bucket_count, fn
        )
        marker = _read_recovered(
            spark, marker_dir, spark.read.schema("_b bigint").parquet
        )
        marked = None if marker is None else marker.first()
        if marked is not None and marked["_b"] >= batch_id:
            # crash replay: the marker landed, so this batch's append
            # MAY have too
            admitted = admitted.localCheckpoint()
            admitted = admitted.join(
                _replayed_ids(
                    spark, corpus_dir, cbuckets, admitted.schema, admitted,
                    id_col,
                ),
                id_col,
                "left_anti",
            )
        if not corpus_exists and cbuckets is not None:
            # sidecar BEFORE marker and rows: a crash right after
            # leaves an empty corpus that already carries its layout
            write_corpus_meta(spark, corpus_dir, cbuckets)
        publish_small_table(
            spark.createDataFrame(
                [(batch_id,)], "_b bigint"
            ),
            marker_dir,
        )
        append_corpus_rows(admitted, corpus_dir, id_col, cbuckets)

        batch_counts = feats.groupBy("bucket").agg(
            F.sum("cnt").alias("_bc")
        )
        new_raw = (
            raw_model.select("bucket", "c_r")
            .join(batch_counts, "bucket", "full_outer")
            .select(
                "bucket",
                (
                    F.coalesce("c_r", F.lit(0)) + F.coalesce("_bc", F.lit(0))
                ).alias("c_r"),
                F.lit(batch_id).cast("bigint").alias("_applied_batch"),
            )
        )
        publish_small_table(new_raw, raw_dir)

    return _start(docs, process, checkpoint_dir)
