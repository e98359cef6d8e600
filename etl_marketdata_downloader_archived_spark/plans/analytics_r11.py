"""Round-11 analytics extensions - registered past the certified
window (parity-verified locally by tools/parity.py, the driver's
identical check, no certificate).

Same cross-engine exactness discipline as the earlier analytics
batteries: every corpus-sized reduction is an integer (int-cents
fix-point, bigint counts, epoch-millis timestamps), selections instead
of interpolations, and any final float is ONE fixed IEEE expression
over those integers, so the DuckDB oracles replay each query
bit-for-bit with no rounding tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.ranking import word_tokens
from ..operators.text import ngrams
from .registry import q

_CENTS = "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"


@q(
    "stream_late_drop",
    oracle="""
    WITH ev AS (
        SELECT event_id,
               epoch_ms(ts) AS ts_ms,
               CAST(round(value * 100) AS BIGINT) AS v_c
        FROM events WHERE ts IS NOT NULL
    ),
    arr AS (
        SELECT *,
               (ts_ms // 86400000)
               + CASE WHEN event_id % 17 = 0 THEN 3 ELSE 0 END
                 AS batch_id
        FROM ev
    ),
    bm AS (SELECT batch_id, max(ts_ms) AS bmax FROM arr GROUP BY 1),
    wm AS (
        SELECT batch_id,
               max(bmax) OVER (
                   ORDER BY batch_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) - 3600000 AS wm_ms
        FROM bm
    ),
    fin AS (SELECT max(bmax) - 3600000 AS final_wm_ms FROM bm),
    flagged AS (
        SELECT a.v_c,
               (a.ts_ms // 21600000) * 21600000 AS w_start_ms,
               (a.ts_ms // 21600000) * 21600000 + 21600000 AS w_end_ms,
               CASE WHEN w.wm_ms IS NOT NULL
                         AND (a.ts_ms // 21600000) * 21600000 + 21600000
                             <= w.wm_ms
                    THEN 1 ELSE 0 END AS dropped
        FROM arr a JOIN wm w USING (batch_id)
    )
    SELECT make_timestamp(w_start_ms * 1000) AS w_start,
           CAST(sum(1 - dropped) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN dropped = 0 THEN v_c END) AS BIGINT)
               AS kept_cents,
           CAST(sum(dropped) AS BIGINT) AS n_dropped,
           (sum(1 - dropped) > 0
            AND max(w_end_ms) <= (SELECT final_wm_ms FROM fin))
               AS emitted
    FROM flagged
    GROUP BY w_start_ms
    """,
)
def stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data certification (VERDICT r10 item 6): the
    batch-replayable twin of an append-mode watermarked tumbling
    aggregation, so the exact drop/emit arithmetic that was
    pytest-only (SURVEY 2B's watermark row) gets a differential
    oracle. The feed is the events table arriving in day-indexed
    micro-batches with a deterministic straggler pattern (every 17th
    event_id lands 3 batches late); watermark delay 1 h, windows 6 h.
    streaming.windows.watermark_replay pins the semantics (probed
    against a real stream in tests/test_streaming.py): watermark =
    running max of PRIOR batches' max event time minus delay, a row
    drops iff its window END <= that watermark (equality drops), a
    window emits iff it has kept rows and closed under the final
    watermark.

    Output: one row per 6 h window touched by the feed - kept-row
    count, kept int-cents value, dropped-row count, emitted flag.

    Scale shape: the watermark table is one row per ARRIVAL BATCH
    (trigger-count-bounded - here one per calendar day), so its
    running-max global window and the join back to events stay
    calendar-sized at any SF; everything else is one partial-combined
    window aggregate over the fact."""
    from ..streaming.windows import watermark_replay

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_id",
            "ts",
            F.round(F.col("value") * 100).cast("bigint").alias("v_c"),
        )
        .withColumn(
            # floor-aligned day index (pmod, not div: the oracle's //
            # floors, and div truncates toward zero pre-epoch)
            "batch_id",
            F.expr(
                "(unix_millis(cast(ts as timestamp))"
                " - pmod(unix_millis(cast(ts as timestamp)), 86400000))"
                " div 86400000"
            )
            + F.when(F.col("event_id") % 17 == 0, F.lit(3)).otherwise(
                F.lit(0)
            ),
        )
    )
    flagged = watermark_replay(
        ev, "ts", "batch_id", delay_ms=3_600_000, width_ms=21_600_000
    )
    dropped = F.col("late_dropped").cast("int")
    # bool_or(emitted) == (any kept row) AND (window closed under the
    # final watermark): emitted is ~dropped & closed per row, and
    # closed is constant within a window.
    return (
        flagged.groupBy("w_start_ms")
        .agg(
            F.sum(F.lit(1) - dropped).cast("bigint").alias("n_kept"),
            F.sum(F.when(~F.col("late_dropped"), F.col("v_c")))
            .cast("bigint")
            .alias("kept_cents"),
            F.sum(dropped).cast("bigint").alias("n_dropped"),
            F.bool_or("emitted").alias("emitted"),
        )
        .select(
            F.timestamp_millis(F.col("w_start_ms")).alias("w_start"),
            "n_kept",
            "kept_cents",
            "n_dropped",
            "emitted",
        )
    )


@q(
    "approx_percentile_cert",
    oracle="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok
    FROM lineitem GROUP BY 1
    """,
)
def approx_percentile_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-error certificate for the built-in percentile_approx
    (VERDICT r10 stretch item: the quantile function users reach for
    first had no oracle row - the battery certified only exact
    positional quantiles and mergeable KLL-style sketches).

    Differential form, the agg_approx_distinct pattern: Spark computes
    the sketch quantiles AND each returned value's exact rank interval
    (percentile_approx returns actual data points, so the value's
    ranks occupy (count_lt, count_le]), then asserts that interval
    intersects [(q - tol)*N - 2, (q + tol)*N + 2] with tol = 5x the
    documented relative rank error (1/accuracy, accuracy=1000). The
    oracle expects TRUE per group alongside the exact group size - the
    accuracy CONTRACT is the cross-checkable artifact (GK-summary
    internals have no DuckDB twin). Production plans use the sketch
    alone; the rank counts here are the certificate, not the plan.

    Scale shape: one partial-combined quantile aggregate over the fact
    (GK summaries merge map-side, bounded memory - that is WHY this
    function is the 100 TB substitute for exact quantiles), one 3-row
    enum-keyed join back (unhinted; AQE broadcasts), one conditional
    count aggregate. No sort, no global window."""
    eps = 1.0 / 1000
    tol = 5 * eps
    qs = [0.25, 0.50, 0.75]
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    ap = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice",
            F.array(*[F.lit(p) for p in qs]),
            F.lit(1000),
        ).alias("vs")
    )
    joined = li.join(ap, "l_returnflag")
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(3):
        aggs.append(
            F.sum(
                (F.col("l_extendedprice") < F.col("vs")[i]).cast("long")
            ).alias(f"_lt{i}")
        )
        aggs.append(
            F.sum(
                (F.col("l_extendedprice") <= F.col("vs")[i]).cast("long")
            ).alias(f"_le{i}")
        )
    stats = joined.groupBy("l_returnflag").agg(*aggs)
    cols = [F.col("l_returnflag"), F.col("n").cast("bigint").alias("n")]
    for i, (p, name) in enumerate(zip(qs, ["q25_ok", "q50_ok", "q75_ok"])):
        lo = (F.lit(p - tol) * F.col("n")) - F.lit(2.0)
        hi = (F.lit(p + tol) * F.col("n")) + F.lit(2.0)
        cols.append(
            (
                (F.col(f"_lt{i}") + F.lit(1) <= hi)
                & (F.col(f"_le{i}") >= lo)
                # the returned quantile must be a member value
                & (F.col(f"_le{i}") > F.col(f"_lt{i}"))
            ).alias(name)
        )
    return stats.select(*cols)


@q(
    "jaccard_prefix_join",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS ws
        FROM documents
    ),
    tok AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(ws) - 2),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
               )) AS t
        FROM w WHERE len(ws) >= 3
    ),
    nz AS (SELECT * FROM tok WHERE len(t) > 0),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.t, b.t)) AS BIGINT) AS inter,
               CAST(len(a.t) AS BIGINT) + CAST(len(b.t) AS BIGINT)
                   - CAST(len(list_intersect(a.t, b.t)) AS BIGINT)
                   AS union_n
        FROM nz a JOIN nz b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, inter, union_n,
           CAST(inter AS DOUBLE) / union_n AS jaccard
    FROM pairs
    WHERE inter * 1000000 >= 700000 * union_n
    """,
)
def jaccard_prefix_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join over the documents corpus
    (operators.fuzzy.jaccard_prefix_join, the PPJoin/AllPairs prefix
    filter) on word-TRIGRAM shingle sets at Jaccard >= 0.7: every
    near-duplicate pair, recall guaranteed 1.0 - the deterministic
    twin the MinHash band panel (dedup_near_panel, rows-only by
    nature) cannot be: the ORACLE here is the brute-force all-pairs
    join, so the prefix filter's no-false-negative claim is replayed
    pair for pair at parity scale.

    Shingles, not unigram token sets, are the similarity domain: the
    corpus shares a template vocabulary, so TOKEN-set Jaccard >= 0.5
    marks ~70% of all pairs "similar" (measured at sf0.1 - a
    quadratic output, not an operator problem); word trigrams are
    order-sensitive and drop that to the true near-dup set (256
    pairs at sf0.1). Same [^a-z]+ tokenization as the text battery;
    docs under 3 words have no shingles and never pair.

    Exactness: inter/union are bigint set sizes; the membership cut
    is the exact integer test inter*1e6 >= 700000*union on BOTH
    engines (no float decides a pair); the jaccard column is the one
    IEEE division of those bigints, identical in DuckDB.

    Scale shape: the Spark side NEVER builds all pairs - candidates
    come from the equi-join on rare prefix shingles with the AllPairs
    LENGTH filter applied inside the join (size-incompatible postings
    never materialize), the frequency table and per-doc prefix ranks
    are grouped/partitioned (no global window), and the verify is
    in-row array_intersect on candidates only. The all-pairs shape
    lives exclusively in the sf0.01 oracle."""
    from ..operators.fuzzy import jaccard_prefix_join

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", word_tokens("text").alias("ws"))
        .filter(F.size("ws") >= 3)
        .select("doc_id", ngrams(F.col("ws"), 3).alias("toks"))
    )
    out = jaccard_prefix_join(d, "doc_id", "toks", threshold=0.7)
    return out.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "inter",
        "union_n",
        "jaccard",
    )


@q(
    "rolling_active_users",
    oracle="""
    WITH act AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    cover AS (
        SELECT DISTINCT user_id,
               CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                                           INTERVAL 1 DAY)) AS DATE)
                   AS day
        FROM act
    ),
    wau AS (
        SELECT day, CAST(count(*) AS BIGINT) AS wau_7d
        FROM cover GROUP BY 1
    ),
    dau AS (
        SELECT day, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY 1
    )
    SELECT d.day, d.dau, w.wau_7d,
           CAST(d.dau AS DOUBLE) / w.wau_7d AS stickiness
    FROM dau d JOIN wau w USING (day)
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users (the DAU/WAU panel every product
    dashboard opens with) computed EXACTLY without a sliding
    count-distinct: a distinct (user, day) activity grid explodes
    each active day to the 7 trailing window positions it covers, a
    second distinct collapses multi-active users per window, and a
    plain count per cover day IS the exact trailing distinct. The
    stickiness ratio (DAU/WAU) is one IEEE division of the two bigint
    counts. Output: one row per day WITH same-day activity.

    Scale shape: this is the map-side-combinable rewrite of the
    classic unpartitionable window-COUNT-DISTINCT - every stage is a
    hash aggregate (two dedups, two counts) over at most 7x the
    distinct user-day grid, which is already << events; no window
    function at all, no per-day re-scan. The 7x explode factor is
    the window length, a constant - at 100 TB the grid shuffles on
    (user, day) with no skew beyond genuine heavy days."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    act = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    cover = act.select(
        "user_id",
        F.explode(
            F.expr("sequence(day, date_add(day, 6), interval 1 day)")
        ).alias("day"),
    ).distinct()
    wau = cover.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("wau_7d")
    )
    dau = act.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau_7d",
        (F.col("dau") / F.col("wau_7d")).alias("stickiness"),
    )


@q(
    "win_ntile",
    oracle="""
    WITH t AS (
        SELECT o_orderpriority,
               ntile(7) OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey)
                   AS tile,
               o_totalprice
        FROM orders
    )
    SELECT o_orderpriority, CAST(tile AS INT) AS tile,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS lo_price,
           round(max(o_totalprice), 2) AS hi_price
    FROM t GROUP BY 1, 2
    """,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile certification - the one ranking-family window function
    without a literal-operator oracle row (the LTV/RFM queries
    deliberately compute quantile buckets POSITIONALLY instead;
    SURVEY 2B's ranking row deserves the built-in users actually
    write). Semantics pinned cross-engine: ntile(k) deals
    ceil-then-floor bucket sizes in ORDER BY order - deterministic
    here because (o_totalprice, o_orderkey) is a total order.
    Output: bucket sizes and price spans per (priority, tile).

    Scale shape: the window partitions by o_orderpriority (an enum) -
    ntile needs each partition's total count before assigning, so a
    LOW-cardinality partition key concentrates fact rows on few tasks
    (the documented ntile trade; the positional rank-from-counts
    rewrite in ltv_quintiles is the 100 TB escape when partitions are
    fact-scale). The final regroup is 5 x 7 rows."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.ntile(7)
        .over(
            W.partitionBy("o_orderpriority").orderBy(
                "o_totalprice", "o_orderkey"
            )
        )
        .alias("tile"),
    )
    return t.groupBy("o_orderpriority", F.col("tile").cast("int").alias("tile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo_price"),
        F.round(F.max("o_totalprice"), 2).alias("hi_price"),
    )


@q(
    "brand_transitions",
    oracle="""
    WITH order_brand AS (
        SELECT l_orderkey AS okey, p_brand AS brand,
               row_number() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY sum(CAST(round(l_extendedprice
                                           * (1 - l_discount) * 100)
                                     AS BIGINT)) DESC, p_brand
               ) AS rn
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY l_orderkey, p_brand
    ),
    seq AS (
        SELECT o.o_custkey,
               ob.brand,
               lag(ob.brand) OVER (
                   PARTITION BY o.o_custkey
                   ORDER BY o.o_orderdate, o.o_orderkey
               ) AS prev_brand
        FROM orders o JOIN order_brand ob
          ON ob.okey = o.o_orderkey AND ob.rn = 1
    )
    SELECT prev_brand AS brand_from, brand AS brand_to,
           CAST(count(*) AS BIGINT) AS n_transitions
    FROM seq WHERE prev_brand IS NOT NULL
    GROUP BY 1, 2
    """,
)
def brand_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-order brand transition matrix (the cross-sell path
    the merchandising team reads next to brand_cross_shopping's
    unordered overlap): each order is represented by its
    highest-revenue brand (int-cents argmax, ties by brand), orders
    sequence per customer by (date, key), and transitions count
    (previous brand -> this brand) pairs. Deterministic end to end:
    integer-cents revenue, total tie-break orders in both windows.

    Scale shape: the argmax runs in a window PARTITIONED by orderkey
    over the (order, brand) aggregate (fact-scale but fully
    partitioned, no skew beyond genuine giant orders), the lag window
    partitions by customer, and the output regroup is <= 25x25
    brand-pair rows."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cents = F.expr(_CENTS)
    ob = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .agg(F.sum(cents).alias("_rev"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("okey").orderBy(
                    F.col("_rev").desc(), "brand"
                )
            ),
        )
        .filter(F.col("rn") == 1)
    )
    seq = o.join(ob, o.o_orderkey == ob.okey).select(
        "o_custkey",
        "brand",
        F.lag("brand")
        .over(W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .alias("prev_brand"),
    )
    return (
        seq.filter(F.col("prev_brand").isNotNull())
        .groupBy(
            F.col("prev_brand").alias("brand_from"),
            F.col("brand").alias("brand_to"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )


@q(
    "win_range_frames",
    oracle="""
    WITH d AS (
        SELECT o_orderpriority,
               CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
                    AS INT) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS day_cents,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, day, day_cents, n_orders,
           CAST(sum(day_cents) OVER (
               PARTITION BY o_orderpriority ORDER BY day
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_cents,
           CAST(sum(day_cents) OVER (
               PARTITION BY o_orderpriority ORDER BY day
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trail7_cents
    FROM d
    """,
)
def win_range_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frames certified as the literal frame type - the
    battery's frame row (win_frames) covers only ROWS frames, and the
    two differ exactly where real time series bite: a RANGE 6
    PRECEDING frame over a day-valued sort key is the gap-correct
    trailing week (days with no orders silently shorten a ROWS frame;
    RANGE measures VALUE distance, so calendar gaps are handled), and
    RANGE's peer rule (all rows at the current sort value join the
    frame) is what makes the cumulative well-defined on ties.

    Exactness: int-cents sums over a per-(priority, day) aggregate;
    day = integer date difference from a fixed epoch on both engines.

    Scale shape: the fact reduces to the (priority, day) grid FIRST
    (partial-combined hash aggregate), so the RANGE windows run over
    calendar-bounded partitions (one row per day per enum value) -
    the literal-function certification without the fact-scale
    enum-partition window ntile's row documents."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    d = (
        o.select(
            "o_orderpriority",
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
            .cast("int")
            .alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("_c"),
        )
        .groupBy("o_orderpriority", "day")
        .agg(
            F.sum("_c").cast("bigint").alias("day_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
    )
    w_cum = (
        W.partitionBy("o_orderpriority")
        .orderBy("day")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    w_tr = (
        W.partitionBy("o_orderpriority").orderBy("day").rangeBetween(-6, 0)
    )
    return d.select(
        "o_orderpriority",
        "day",
        "day_cents",
        "n_orders",
        F.sum("day_cents").over(w_cum).cast("bigint").alias("cum_cents"),
        F.sum("day_cents").over(w_tr).cast("bigint").alias("trail7_cents"),
    )


@q(
    "discount_quantity_response",
    oracle="""
    WITH t AS (
        SELECT CAST(round(l_discount * 100) AS INT) AS disc_pct,
               l_returnflag,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                   * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM lineitem GROUP BY 1, 2
    )
    SELECT disc_pct, l_returnflag, qty, n_lines, rev_c,
           CAST(qty AS DOUBLE) / n_lines AS avg_qty
    FROM t
    """,
)
def discount_quantity_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-response panel: per (discount percent, return flag)
    cell, line volume, total quantity, discounted revenue, and the
    average quantity per line - the does-discounting-move-volume /
    do-discounted-lines-return-more matrix pricing teams read next to
    price_dispersion. Exact: TPC-H
    discounts are hundredths, so round(d*100) is a lossless integer
    band; quantities are integral doubles summed as bigint; avg_qty
    is the one IEEE division of two exact bigints.

    Scale shape: ONE partial-combined hash aggregate over the fact,
    output bounded at 11 discount bands x 3 return flags - nothing
    else.
    The cheapest query in the battery by design: it certifies that a
    banded two-key rollup needs no window, no join, no second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    t = li.groupBy(
        F.round(F.col("l_discount") * 100).cast("int").alias("disc_pct"),
        "l_returnflag",
    ).agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.expr(_CENTS)).cast("bigint").alias("rev_c"),
    )
    return t.select(
        "disc_pct",
        "l_returnflag",
        "qty",
        "n_lines",
        "rev_c",
        (F.col("qty") / F.col("n_lines")).alias("avg_qty"),
    )


@q(
    "grouping_sets_explicit",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
               AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS total_c
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderpriority), ())
    """,
)
def grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS certified as the literal clause - the
    battery's multi-dimensional row (agg_cube_sets) covers CUBE,
    whose set list is IMPLIED; real reports routinely need an
    irregular list (here: the full cross, the priority margin, and
    the grand total - but NOT the status margin), which only the
    explicit clause expresses. The grouping-bit column distinguishes
    aggregated-away from data NULL, same encoding as the CUBE row.

    Scale shape: one Expand (x3, the set count) over the fact into a
    partial-combined hash aggregate - output bounded by the union of
    the set cardinalities (|status x priority| + |priority| + 1)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            (
                F.grouping("o_orderstatus") * 2
                + F.grouping("o_orderpriority")
            )
            .cast("bigint")
            .alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("total_c"),
        )
    )
