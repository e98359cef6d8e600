"""Queries registered BEYOND the driver's 50-certified-slot window.

The driver's correctness run certifies the first 50 registered queries
(SURVEY.md section 2A battery-packing note). Anything here still runs
under ``tools/parity.py`` locally and keeps its pytest coverage - it
just holds no driver certificate. Queries land here because their
driver signal would be weakest anyway: rows-only checks over
engine-seeded hash families (MinHash/SimHash/RP-LSH/IVF/xxhash
sampling) that no cross-engine oracle can replay. The oracle-checkable
queries that used to overflow here (scd2_history_events, funnel +
cohort as one tagged union) now hold certified slots in plans/events.py.
Almost every query here DOES carry an oracle despite sitting past the
window (the 50 certified slots are all taken by oracle queries
already) - each is locally parity-verified by tools/parity.py,
upgrading its component from pytest-only/smoke-only to oracle-checked
evidence without reshuffling certified positions. The only rows-only
remainders in the whole battery are the two panels built on
engine-seeded hash families + iterative fixpoints (dedup_near_panel,
sim_ann_panel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators.multimodal import text_to_assets
from .registry import q


@q(
    "multimodal_decode",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR)                               AS asset_id,
           'blob'                                                AS modality,
           CAST(octet_length(encode(text)) % 4096 AS INT)        AS width,
           CAST((octet_length(encode(text)) * 2654435761) % 4096
                AS INT)                                          AS height,
           octet_length(encode(text))                            AS n_bytes,
           sha256(text)                                          AS checksum
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode stage over binary assets (deterministic
    fake codec; real codec libs absent in this environment). The
    plumbing - mapInPandas schema, Arrow batch shape, partitioning -
    is real and pytest-verified; the fake codec emits only fields an
    independent engine can recompute from the same payload (byte
    length, two arithmetic pseudo-dimensions of it, sha256), so the
    whole binary pipeline asset-wrap -> batch -> decode -> features is
    differentially checked end-to-end even though the codec is a stub.
    Certified multimodal evidence is multimodal_meta; this stays past
    the window because a real codec would have no oracle."""
    from ..operators.multimodal import decode_assets

    d = load_table(spark, sf_dir, "documents")
    return decode_assets(text_to_assets(d, "doc_id", "text"), fake=True)


@q(
    "quantile_rollup",
    oracle="""
    WITH t AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             md5(CAST(event_id AS VARCHAR)) AS h,
             CAST(value AS DOUBLE) AS v
      FROM events
    ), sk AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY event_type, day ORDER BY h, v) AS rn
        FROM t
      ) WHERE rn <= 256
    ), merged AS (
      SELECT * FROM (
        SELECT event_type, h, v, row_number() OVER (
          PARTITION BY event_type ORDER BY h, v) AS rn2
        FROM sk
      ) WHERE rn2 <= 256
    ), agg AS (
      SELECT event_type, list_sort(list(v)) AS vals
      FROM merged GROUP BY event_type
    )
    SELECT event_type,
           vals[greatest(1, CAST(ceil(0.5 * len(vals)) AS INT))] AS q_0_5,
           vals[greatest(1, CAST(ceil(0.9 * len(vals)) AS INT))] AS q_0_9
    FROM agg
    """,
)
def quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches end-to-end: per-(event_type, day)
    bottom-k samples of `value`, REGROUPED to per-event_type p50/p90
    by sketch merge alone (operators.sketches) - the raw events are
    scanned once. The sampling coordinate here is md5(event_id) (the
    pluggable ``coordinate`` arg) instead of the default xxhash64
    PRECISELY so DuckDB can replay the whole build->merge->estimate
    pipeline - this query graduated from rows-only to oracle-checked.
    Exact mergeability/accuracy stay pytest-pinned
    (tests/test_sketches.py)."""
    from ..operators.sketches import build_quantile_sketches, estimate_quantiles

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    sk = build_quantile_sketches(
        ev, "value", id_cols=["event_id"], bucket_cols=["event_type", "day"],
        k=256,
        coordinate=F.md5(F.col("event_id").cast("string")),
    )
    return estimate_quantiles(
        sk, probs=[0.5, 0.9], group_cols=["event_type"], k=256
    )


@q("dedup_near_panel")  # seeded hash families + iterative fixpoint -> rows-only
def dedup_near_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both signature-based near-dup paths in one plan, as a tagged
    union (neither branch has a DuckDB twin - seeded xxhash64/blake2b
    hash families plus an iterative fixpoint):

    - kind='cluster': the full MinHash pipeline - signatures (one
      xxhash64 per shingle + k arithmetic rehashes) -> banded LSH
      candidates -> exact Jaccard verification -> connected components;
      (id_a, id_b) = (member id, component id), metric = NULL.
    - kind='simhash': SimHash near-dup pairs (Hamming <= 3 of 64 bits)
      with pigeonhole block bucketing - recall 1.0 within the bound, no
      prefix blind spot, no O(n^2) bucket (operators.dedup.
      simhash_near_pairs); metric = Hamming distance.

    Both branches stay individually pytest-verified (known-answer and
    recall-vs-brute-force property tests in tests/test_operators.py).

    Perf shape: both branches re-read the (doc_id, text) parquet scan
    directly - measured FASTER than sharing one cached/checkpointed
    copy (a pruned columnar scan re-decompresses cheaper than
    row-serialized block storage materializes), and the minhash
    intermediates release their DISK_ONLY persist as soon as the
    bounded component collect has consumed them.

    The two branches are INDEPENDENT jobs and run OVERLAPPED (r16,
    guide section 2.6): the simhash branch materializes via an eager
    localCheckpoint on an InheritableThread while the main thread
    drives the minhash pipeline through connected_components' bounded
    collect - the scheduler back-fills the collect's stage tails with
    simhash tasks instead of running ~1.5 s of simhash serially after
    ~3 s of minhash. Job descriptions are thread-local, so each branch
    stays labelled in the UI; a branch failure is re-raised after
    join() (never swallowed)."""
    from pyspark import InheritableThread

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # simhash branch: plan built on the main thread, materialized on a
    # side thread concurrently with the minhash branch's collect below
    sim = D.simhash64(d, "doc_id", "text")
    sim_pairs_plan = D.simhash_near_pairs(sim, "doc_id", max_hamming=3).select(
        F.lit("simhash").alias("kind"),
        "id_a",
        "id_b",
        F.col("hamming").cast("double").alias("metric"),
    )
    sim_box: dict = {}

    def _materialize_simhash() -> None:
        try:
            spark.sparkContext.setJobDescription(
                "dedup_near_panel: simhash branch (overlapped)"
            )
            sim_box["df"] = sim_pairs_plan.localCheckpoint()
        except BaseException as e:  # noqa: BLE001 - re-raised on join
            sim_box["err"] = e

    th = InheritableThread(target=_materialize_simhash)
    th.start()

    caches: list = []
    try:
        pairs = D.minhash_dedup_pairs(
            d, "doc_id", "text", num_hashes=32, bands=16,
            jaccard_threshold=0.2, cache_registry=caches,
        )
        comps = D.connected_components(pairs)
    finally:
        # the common small-graph path materialized `pairs` during the
        # bounded collect above - the minhash intermediates are dead
        # now; release them so repeated panel runs don't stack
        # DISK_ONLY copies. On a minhash failure the side thread is
        # joined too, so it never outlives the call.
        for c in caches:
            c.unpersist(blocking=False)
        th.join()
    clusters = comps.select(
        F.lit("cluster").alias("kind"),
        F.col("id").alias("id_a"),
        F.col("component").alias("id_b"),
        F.lit(None).cast("double").alias("metric"),
    )
    if "err" in sim_box:
        raise sim_box["err"]
    return clusters.unionByName(sim_box["df"])


@q("sim_ann_panel")  # seeded hyperplanes / float-mean centroids -> rows-only
def sim_ann_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both approximate-similarity scale paths in one plan, as a
    tagged union (neither has a DuckDB twin - xxhash-derived
    hyperplanes and float-mean centroids):

    - kind='lsh_pair': random-hyperplane LSH bucketing + exact cosine
      verification - the no-natural-bucket path for embedding near-dup;
      (id_a, id_b) = the verified pair.
    - kind='ivf_hit': IVF approximate top-10 search probing the 3
      closest label-clusters; id_a = NULL, id_b = the hit vec_id.

    Both branches stay individually pytest-verified (LSH recall vs
    brute force, IVF vs exact top-k in tests/test_joins_skew.py and
    tests/test_operators.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    lsh = S.lsh_cosine_pairs(e, threshold=0.3, num_planes=6).select(
        F.lit("lsh_pair").alias("kind"),
        "id_a",
        "id_b",
        F.round("cos_sim", 6).alias("cos_sim"),
    )
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    ivf = S.ivf_search(
        e.filter(F.col("vec_id") != 0), list(qvec), k=10, nprobe=3
    ).select(
        F.lit("ivf_hit").alias("kind"),
        F.lit(None).cast("bigint").alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )
    return lsh.unionByName(ivf)


@q(
    "stream_interval_join",
    oracle="""
    SELECT l.event_id            AS click_id,
           r.event_id            AS next_id,
           l.user_id             AS user_id,
           r.event_type          AS next_type,
           floor(epoch(r.ts) - epoch(l.ts)) AS gap_s
    FROM events l
    JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts
     AND r.ts <= l.ts + INTERVAL 60 MINUTE
     AND l.event_id <> r.event_id
    WHERE l.event_type = 'click'
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream equi+interval join, batch-restated for the
    differential oracle: each click pairs with every OTHER event by
    the same user in the following hour. The EXACT code path is
    streaming.windows.interval_join - watermarks and the two-sided
    time bound included - run on static frames, where withWatermark
    is a no-op and the semantics are identical (Spark's unified
    batch/streaming contract); the true streaming execution of the
    same operator (state expiry, finite memory) is pytest-verified in
    tests/test_streaming.py. Upgrades the stream-stream join cell of
    SURVEY section 2B from pytest-only to oracle-checked."""
    from ..streaming.windows import interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    joined = interval_join(
        clicks,
        ev,
        key_cols=["user_id"],
        left_ts="ts",
        right_ts="ts",
        lower="0 minutes",
        upper="60 minutes",
        watermark="2 hours",
    ).filter(F.col("l.event_id") != F.col("r.event_id"))
    return joined.select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("next_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("r.event_type").alias("next_type"),
        # NTZ-safe whole-second gap: timestamp subtraction yields a
        # day-time interval; casting it to long truncates to seconds
        # (gaps here are non-negative, so truncation == floor)
        (F.col("r.ts") - F.col("l.ts")).cast("long").cast("double").alias("gap_s"),
    )


@q(
    "lm_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS t
      FROM documents
    ), bigr AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)
    ), counts AS (
      SELECT w1, w2, count(*) AS c12 FROM bigr GROUP BY 1, 2
    ), ctx AS (
      SELECT w1, sum(c12) AS c1 FROM counts GROUP BY 1
    ), vocab AS (
      SELECT count(DISTINCT w) AS v
      FROM (SELECT unnest(t) AS w FROM toks)
    )
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           round(-avg(ln(c.c12 + 1) - ln(x.c1 + v.v)), 4) AS xent
    FROM bigr b
    JOIN counts c USING (w1, w2)
    JOIN ctx x USING (w1)
    CROSS JOIN vocab v
    GROUP BY b.doc_id
    """,
)
def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style model-based quality signal: train an add-one bigram
    LM on the corpus (two aggregations), score every document's
    cross-entropy under it (operators.ranking.lm_cross_entropy).
    Gibberish/boilerplate scores high, fluent text low - the quality-
    filter stack's model-based tier, kept oracle-checkable because the
    "model" is a count table, not opaque weights. Registered past the
    certified window (slots are full); locally parity-verified."""
    from ..operators.ranking import lm_cross_entropy

    d = load_table(spark, sf_dir, "documents")
    return lm_cross_entropy(d, "doc_id", "text")


@q(
    "bm25_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS t
      FROM documents
    ), base AS (
      SELECT doc_id, len(t) AS dl,
             len(list_filter(t, x -> x = 'spark'))  AS tf_0,
             len(list_filter(t, x -> x = 'stream')) AS tf_1,
             len(list_filter(t, x -> x = 'window')) AS tf_2
      FROM toks
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl,
             sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
             sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
             sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
      FROM base
    )
    SELECT doc_id,
           round(
             ln(1 + (n_docs - df_0 + 0.5)/(df_0 + 0.5))
               * tf_0 * 2.2 / (tf_0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
           + ln(1 + (n_docs - df_1 + 0.5)/(df_1 + 0.5))
               * tf_1 * 2.2 / (tf_1 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
           + ln(1 + (n_docs - df_2 + 0.5)/(df_2 + 0.5))
               * tf_2 * 2.2 / (tf_2 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
           , 4) AS score,
           dl AS doc_len
    FROM base CROSS JOIN stats
    WHERE score > 0
    ORDER BY score DESC, doc_id ASC
    LIMIT 15
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (Lucene idf variant) for a fixed query
    over the corpus - the keyword twin of sim_topk's embedding
    retrieval. Zero-explode plan: per-term tf is an in-row array
    lambda, corpus stats collapse to one broadcast row, result is
    TakeOrdered on (rounded score, doc_id). Registered past the
    certified window; locally parity-verified."""
    from ..operators.ranking import bm25_topk

    d = load_table(spark, sf_dir, "documents")
    return bm25_topk(d, "doc_id", "text", ["spark", "stream", "window"], k=15)


@q(
    "fuzzy_join",
    oracle="""
    WITH t AS (
      SELECT doc_id, substring(text, 1, 32) AS s FROM documents
    )
    SELECT a.doc_id               AS id_a,
           b.doc_id               AS id_b,
           levenshtein(a.s, b.s)  AS dist
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.s, b.s) <= 1
    """,
)
def fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance<=1 self-join over 32-char document title keys via
    deletion-variant blocking (operators.fuzzy.edit_distance_join).
    The oracle is BRUTE-FORCE all-pairs levenshtein - passing parity
    proves the variant blocking is complete (no missed pair), not just
    plausible. The engine side never forms the quadratic pair space:
    candidates exist only where 8-byte variant hashes collide.
    Registered past the certified window; locally parity-verified."""
    from ..operators.fuzzy import edit_distance_join

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 32).alias("title")
    )
    return edit_distance_join(d, "doc_id", "title")


@q(
    "flagship_star",
    oracle="""
    SELECT r_name,
           year(o_orderdate) AS order_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2))
                       - CAST(l_discount AS DECIMAL(12,2))))
                AS DOUBLE)                           AS revenue,
           count(DISTINCT o_orderkey)                AS n_orders
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, year(o_orderdate)
    """,
)
def flagship_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's entry() star query (revenue by region and year),
    registered so the flagship shape carries a full value-hash
    certificate instead of the smoke check's rows>0. Money math in
    exact decimal (the decimal_agg pattern) so the cross-engine
    compare is drift-free.

    Plan: lineitem pre-aggregates to ORDER grain BEFORE the join
    (the aggregate-below-join rewrite Catalyst does not do for
    distinct aggregates): the order-key shuffle partial-combines
    map-side, the join side shrinks lineitem-count -> order-count,
    and n_orders becomes a plain count (one row per order by
    construction) instead of a countDistinct Expand over the joined
    fact. Measured ~2x the joined-fact formulation at sf0.1; at
    100 TB the saved Expand pass over the join output is the
    difference that matters. Decimal sums are exact, so the two-level
    sum is bit-identical to the single-level one."""
    from ..io import load_tables

    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region"
    )
    li, o, c, n, r = (
        t["lineitem"], t["orders"], t["customer"], t["nation"], t["region"]
    )
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(12,2)")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(price * (F.lit(1).cast("decimal(12,2)") - disc)).alias("_rev")
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum("_rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@q(
    "sessionize_stats",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), t AS (
      SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_seq
      FROM s
    )
    SELECT user_id, session_seq,
           count(*)                                 AS n_events,
           min(ts)                                  AS session_start,
           max(ts)                                  AS session_end,
           floor(epoch(max(ts)) - epoch(min(ts)))   AS dur_s
    FROM t GROUP BY user_id, session_seq
    """,
)
def sessionize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (operators.sessions.sessionize): assign
    every event its gap-defined session in one user-partitioned window
    pass, then collapse to per-session stats. The per-event labeling
    twin of the certified stream_session aggregate - this is the form
    everything else joins onto. Registered past the certified window;
    locally parity-verified."""
    from ..operators.sessions import sessionize

    ev = load_table(spark, sf_dir, "events")
    lab = sessionize(ev, "user_id", "ts", gap="30 minutes",
                     tiebreak_col="event_id")
    return lab.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.max("ts") - F.min("ts")).cast("long").cast("double").alias("dur_s"),
    )


@q(
    "path_topk",
    oracle="""
    WITH seqs AS (
      SELECT user_id, list(event_type ORDER BY ts, event_id) AS t
      FROM events GROUP BY user_id
    ), grams AS (
      SELECT t[i] || '>' || t[i+1] || '>' || t[i+2] AS path
      FROM (SELECT t, unnest(range(1, len(t) - 1)) AS i FROM seqs)
    )
    SELECT path, count(*) AS n_occurrences
    FROM grams GROUP BY path
    ORDER BY n_occurrences DESC, path
    LIMIT 20
    """,
)
def path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step event-type journeys
    (operators.sessions.path_ngrams): one shuffle gathers each user's
    ordered steps, n-grams build in-row, and the count's key space is
    |event_type|^3 regardless of user count. Registered past the
    certified window; locally parity-verified."""
    from ..operators.sessions import path_ngrams

    ev = load_table(spark, sf_dir, "events")
    return (
        path_ngrams(ev, "user_id", "ts", "event_type", n=3,
                    tiebreak_col="event_id")
        .orderBy(F.col("n_occurrences").desc(), "path")
        .limit(20)
    )


@q(
    "snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    ), new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0
                  THEN round(o_totalprice + 1, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 0
    )
    SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           CASE WHEN old.o_orderkey IS NULL OR new.o_orderkey IS NULL
                THEN []
                ELSE list_sort(
                  [x FOR x IN [
                     CASE WHEN old.o_orderstatus IS DISTINCT FROM
                               new.o_orderstatus THEN 'o_orderstatus' END,
                     CASE WHEN old.o_totalprice IS DISTINCT FROM
                               new.o_totalprice THEN 'o_totalprice' END
                   ] IF x IS NOT NULL])
                END AS changed_cols
    FROM old FULL OUTER JOIN new USING (o_orderkey)
    WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
       OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
       OR old.o_totalprice IS DISTINCT FROM new.o_totalprice
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style version delta (operators.diff.table_diff): two
    deterministic snapshots derived from orders (rows dropped on one
    side each, a price bump on every third key) diffed into
    added/removed/changed rows with per-column change attribution. One
    key-partitioned full-outer join; output is delta-sized. Registered
    past the certified window; locally parity-verified."""
    from ..operators.diff import table_diff

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 7 != 0)
    new = orders.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.round(F.col("o_totalprice") + 1, 2),
        ).otherwise(F.col("o_totalprice")),
    )
    return table_diff(old, new, ["o_orderkey"])


@q(
    "profile_events",
    oracle="""
    SELECT 'event_id' AS column, count(*) AS n,
           count(CASE WHEN event_id IS NULL THEN 1 END) AS n_null,
           count(DISTINCT event_id) AS n_distinct,
           CAST(min(event_id) AS DOUBLE) AS num_min,
           CAST(max(event_id) AS DOUBLE) AS num_max,
           round(avg(event_id), 4) AS num_mean,
           CAST(NULL AS VARCHAR) AS str_min, CAST(NULL AS VARCHAR) AS str_max
    FROM events
    UNION ALL
    SELECT 'user_id', count(*),
           count(CASE WHEN user_id IS NULL THEN 1 END),
           count(DISTINCT user_id),
           CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE),
           round(avg(user_id), 4), NULL, NULL
    FROM events
    UNION ALL
    SELECT 'value', count(*),
           count(CASE WHEN value IS NULL THEN 1 END),
           count(DISTINCT value),
           min(value), max(value), round(avg(value), 4), NULL, NULL
    FROM events
    UNION ALL
    SELECT 'event_type', count(*),
           count(CASE WHEN event_type IS NULL THEN 1 END),
           count(DISTINCT event_type),
           NULL, NULL, NULL, min(event_type), max(event_type)
    FROM events
    """,
)
def profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of the events table
    (operators.profile.profile, exact distincts so DuckDB can replay;
    the scale default is approx HLL distincts without the Expand).
    Registered past the certified window; locally parity-verified."""
    from ..operators.profile import profile

    ev = load_table(spark, sf_dir, "events")
    return profile(
        ev, ["event_id", "user_id", "value", "event_type"], exact=True
    )


@q(
    "session_concurrency",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), lab AS (
      SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_seq
      FROM s
    ), sess AS (
      SELECT min(ts) AS t_start, max(ts) AS t_end
      FROM lab GROUP BY user_id, session_seq
    ), deltas AS (
      SELECT t_start AS t, 1 AS delta FROM sess
      UNION ALL
      SELECT t_end, -1 FROM sess
    ), run AS (
      SELECT CAST(t AS DATE) AS bucket, delta,
             sum(delta) OVER (PARTITION BY CAST(t AS DATE)
                              ORDER BY t, delta DESC
                              ROWS UNBOUNDED PRECEDING) AS r
      FROM deltas
    ), ib AS (
      SELECT bucket, max(r) AS max_run, sum(delta) AS net
      FROM run GROUP BY bucket
    )
    SELECT bucket,
           CAST(coalesce(sum(net) OVER (ORDER BY bucket
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0)
                + max_run AS BIGINT) AS max_concurrent
    FROM ib
    """,
)
def session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-overlap aggregation: max simultaneously-open sessions
    per day (operators.sessions.max_concurrency over sessionize
    intervals). The sweep-line runs inside per-day partitions and
    stitches across days with a prefix sum over the day-level nets -
    the single-partition window touches one row per DAY, never the
    event stream, so the classic global-sort formulation never
    appears. Registered past the certified window; locally
    parity-verified."""
    from ..operators.sessions import max_concurrency, sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = (
        sessionize(ev, "user_id", "ts", gap="30 minutes",
                   tiebreak_col="event_id")
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("t_start"), F.max("ts").alias("t_end"))
    )
    return max_concurrency(sess, "t_start", "t_end", bucket="day")


@q(
    "ts_gaps",
    oracle="""
    WITH b AS (
      SELECT DISTINCT event_type, date_trunc('hour', ts) AS bk FROM events
    ), lagged AS (
      SELECT event_type, bk,
             lag(bk) OVER (PARTITION BY event_type ORDER BY bk) AS prev
      FROM b
    )
    SELECT event_type,
           prev + INTERVAL 3600 SECOND              AS gap_start,
           bk - INTERVAL 3600 SECOND                AS gap_end,
           CAST((epoch(bk) - epoch(prev)) / 3600 - 1 AS BIGINT) AS n_missing
    FROM lagged
    WHERE prev IS NOT NULL AND epoch(bk) - epoch(prev) > 3600
    """,
)
def ts_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-interval report per event type at hour grain
    (operators.timeseries.find_gaps): one distinct + one window over
    the DISTINCT bucket set; a year-long outage is one output row, not
    a year of grid-join rows. Registered past the certified window;
    locally parity-verified."""
    from ..operators.timeseries import find_gaps

    ev = load_table(spark, sf_dir, "events")
    return find_gaps(ev, ["event_type"], "ts", "hour")


@q(
    "win_extra",
    oracle="""
    SELECT c_custkey,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6)    AS cd,
           first_value(CASE WHEN c_acctbal < 0 THEN NULL
                            ELSE c_acctbal END IGNORE NULLS)
             OVER (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey
                   ROWS UNBOUNDED PRECEDING) AS fv,
           lead(c_acctbal, 2, -1.0) OVER w  AS ld
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-function tail the certified win_rank/win_lag pair
    doesn't cover: percent_rank, cume_dist, an IGNORE NULLS
    first_value over a growing frame, and lead with an explicit
    default. Registered past the certified window; locally
    parity-verified."""
    from pyspark.sql import Window as W

    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    nullable = F.when(F.col("c_acctbal") < 0, None).otherwise(
        F.col("c_acctbal")
    )
    return c.select(
        "c_custkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.first(nullable, ignorenulls=True).over(wf).alias("fv"),
        F.lead("c_acctbal", 2, -1.0).over(w).alias("ld"),
    )


@q(
    "null_semantics",
    oracle="""
    WITH d AS (
      SELECT nullif(o_orderpriority, '1-URGENT') AS key FROM orders
    ), g AS (
      SELECT key, count(*) AS n_rows, count(key) AS n_nonnull
      FROM d GROUP BY key
    )
    SELECT g.key, g.n_rows, g.n_nonnull,
           row_number() OVER (ORDER BY g.key NULLS FIRST) AS rn,
           (SELECT count(*) FROM d
            WHERE d.key IS NOT DISTINCT FROM g.key) AS n_joined
    FROM g
    """,
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic corners in one query: a NULL group-by key
    (nullif derivation), count(col)'s null skip vs count(*), ordering
    with NULLS FIRST, and a null-safe equi-join (<=>) - the oracle
    states the join as IS NOT DISTINCT FROM. Registered past the
    certified window; locally parity-verified."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "orders").select(
        F.nullif("o_orderpriority", F.lit("1-URGENT")).alias("key")
    )
    g = d.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_rows"), F.count("key").alias("n_nonnull")
    )
    g = g.withColumn(
        "rn", F.row_number().over(W.orderBy(F.col("key").asc_nulls_first()))
    )
    # distinct column names avoid the ambiguous-self-join trap (g
    # derives from d, so qualified d.key/g.key still collide)
    joined = (
        d.withColumnRenamed("key", "_dkey")
        .join(
            g.select(F.col("key").alias("_gkey")),
            F.col("_dkey").eqNullSafe(F.col("_gkey")),
        )
        .groupBy("_gkey")
        .agg(F.count(F.lit(1)).alias("n_joined"))
    )
    return g.join(joined, g.key.eqNullSafe(F.col("_gkey"))).select(
        "key", "n_rows", "n_nonnull", "rn", "n_joined"
    )


@q(
    "sentiment_docs",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             [lower(x) FOR x IN regexp_split_to_array(text, '\\s+')] AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(CAST(list_sum([CASE x
                 WHEN 'good' THEN 1 WHEN 'great' THEN 2
                 WHEN 'excellent' THEN 3 WHEN 'love' THEN 2
                 WHEN 'best' THEN 2 WHEN 'fast' THEN 1
                 WHEN 'clean' THEN 1 WHEN 'win' THEN 2
                 WHEN 'correct' THEN 1 WHEN 'stable' THEN 1
                 WHEN 'bad' THEN -1 WHEN 'poor' THEN -1
                 WHEN 'slow' THEN -1 WHEN 'bug' THEN -1
                 WHEN 'wrong' THEN -1 WHEN 'terrible' THEN -3
                 WHEN 'awful' THEN -3 WHEN 'hate' THEN -2
                 WHEN 'broken' THEN -2 WHEN 'fail' THEN -2
                 ELSE 0 END FOR x IN toks]) AS DOUBLE)
                 / greatest(len(toks), 1), 6) AS sentiment
    FROM t
    """,
)
def sentiment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment over the corpus
    (operators.text.sentiment_score): in-row map lookup + fold, no
    explode - the mechanism of Spark-scale lexicon scoring with the
    lexicon as a literal map (a full lexicon would broadcast).
    Registered past the certified window; locally parity-verified."""
    from ..operators import text as X

    d = load_table(spark, sf_dir, "documents")
    t = F.col("_t")
    return d.select(
        "doc_id", X.tokens("text").alias("_t")
    ).select(
        "doc_id",
        X.token_count_ws(toks=t).alias("n_tokens"),
        F.round(X.sentiment_score(toks=t), 6).alias("sentiment"),
    )
