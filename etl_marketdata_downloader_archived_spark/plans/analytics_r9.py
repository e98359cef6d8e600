"""Round-9 analytics extensions - registered past the certified
window (parity-verified locally by tools/parity.py, the driver's
identical check, no certificate).

Same cross-engine exactness discipline as plans/analytics_ext,
analytics_r7, and analytics_r8: every corpus-sized reduction is an
integer (int-cents fix-point, bigint counts), selections instead of
interpolations, and any final float is ONE fixed IEEE expression over
those integers - so the DuckDB oracles replay each query bit-for-bit
with no rounding tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.ranking import word_tokens
from ..operators.text import ngrams
from .registry import q


@q(
    "reconcile_worklist",
    oracle="""
    WITH l AS (
        SELECT l_orderkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                   * (1 + l_tax) * 100) AS BIGINT))
                    AS BIGINT) AS line_c,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem GROUP BY 1
    ),
    j AS (
        SELECT o.o_orderkey, o.o_orderstatus,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS order_c,
               l.line_c,
               CAST(coalesce(l.n_lines, 0) AS BIGINT) AS n_lines,
               CASE WHEN l.l_orderkey IS NULL THEN NULL
                    ELSE abs(CAST(round(o.o_totalprice * 100) AS BIGINT)
                             - l.line_c) END AS abs_diff_c,
               CASE WHEN l.l_orderkey IS NULL THEN 'no_lines'
                    WHEN abs(CAST(round(o.o_totalprice * 100) AS BIGINT)
                             - l.line_c) > 5 THEN 'mismatch'
                    ELSE 'ok' END AS status
        FROM orders o LEFT JOIN l ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderkey, o_orderstatus, order_c, line_c, n_lines,
           abs_diff_c, status
    FROM j WHERE status <> 'ok'
    ORDER BY abs_diff_c DESC NULLS LAST, o_orderkey
    LIMIT 50
    """,
)
def reconcile_worklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation WORKLIST: the 50 worst order-vs-lines money
    discrepancies as per-order rows - the drill-down companion of the
    ``order_reconciliation`` status panel (that one says HOW MUCH
    mismatch mass exists per status; this says WHICH orders to open
    first), and the batch anchor of the streaming twin
    (streaming.stateful.streaming_reconciliation emits these same
    per-order verdicts in-flight; its pytest asserts
    last-emission-per-order == this arithmetic). Both sides fix to
    int cents with the panel's exact rounded-IEEE expression, the
    compare and ordering are pure bigint, 'no_lines' orders carry
    NULL diffs and rank after every real discrepancy
    (desc_nulls_last on both engines, orderkey tiebreak), so the
    worklist replays bit-for-bit.

    Shape: one lineitem aggregate shuffled on the order key, one LEFT
    join from orders, then TakeOrderedAndProject(50) over the
    order-aggregated frame - never raw lines; no windows."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    l_agg = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
            ).cast("bigint")
        ).alias("line_c"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    j = (
        o.select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("order_c"),
        )
        .join(l_agg, F.col("o_orderkey") == F.col("l_orderkey"), "left")
    )
    adiff = F.when(
        F.col("l_orderkey").isNotNull(),
        F.abs(F.col("order_c") - F.col("line_c")),
    )
    status = (
        F.when(F.col("l_orderkey").isNull(), F.lit("no_lines"))
        .when(adiff > 5, F.lit("mismatch"))
        .otherwise(F.lit("ok"))
    )
    return (
        j.select(
            "o_orderkey",
            "o_orderstatus",
            "order_c",
            "line_c",
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
            adiff.alias("abs_diff_c"),
            status.alias("status"),
        )
        .filter(F.col("status") != "ok")
        .orderBy(
            F.col("abs_diff_c").desc_nulls_last(), F.col("o_orderkey")
        )
        .limit(50)
    )


@q(
    "same_day_orders",
    oracle="""
    WITH g AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_day,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_c,
               CAST(min(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS min_c,
               CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS max_c
        FROM orders GROUP BY 1, 2 HAVING count(*) > 1
    )
    SELECT o_custkey, order_day, n_orders, total_c, min_c, max_c,
           min_c = max_c AS same_amount
    FROM g
    ORDER BY n_orders DESC, total_c DESC, o_custkey, order_day
    LIMIT 100
    """,
)
def same_day_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-submission audit gate: customers who placed MORE THAN
    ONE order on the same calendar day, with the day's order count,
    total, and amount spread - same_amount=true (min==max cents) is
    the classic double-click/replayed-submission signature an
    accounts-payable audit opens first; distinct amounts are
    split-order behavior. The fraud-surface companion of
    reconcile_worklist (that one checks the money adds up; this one
    checks the ORDER STREAM looks organic). All cells are bigint
    cents / counts - bit-exact replay - and the worklist is
    deterministically ordered (count, total, custkey) and capped.

    Shape: one partial-combined aggregate on (custkey, day) with the
    HAVING filter applied at the aggregate (output is
    violation-sized), then TakeOrderedAndProject(100). No windows, no
    joins."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        o.groupBy(
            "o_custkey", F.to_date("o_orderdate").alias("order_day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_c"),
            F.min(cents).alias("min_c"),
            F.max(cents).alias("max_c"),
        )
        .filter(F.col("n_orders") > 1)
        .select(
            "o_custkey", "order_day", "n_orders", "total_c",
            "min_c", "max_c",
            (F.col("min_c") == F.col("max_c")).alias("same_amount"),
        )
        .orderBy(
            F.col("n_orders").desc(),
            F.col("total_c").desc(),
            "o_custkey",
            "order_day",  # completes the group key: the cut is unique
        )
        .limit(100)
    )


@q(
    "seasonality_index",
    oracle="""
    WITH m AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(month(o_orderdate) AS BIGINT) AS mo,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_c,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1, 2
    ),
    y AS (
        SELECT yr, CAST(sum(rev_c) AS BIGINT) AS yr_rev_c,
               CAST(count(*) AS BIGINT) AS n_months
        FROM m GROUP BY 1
    )
    SELECT m.yr, m.mo, m.rev_c, m.n_orders, y.yr_rev_c, y.n_months,
           CAST(m.rev_c * y.n_months AS DOUBLE)
             / CAST(y.yr_rev_c AS DOUBLE) AS seasonal_idx
    FROM m JOIN y ON y.yr = m.yr
    ORDER BY m.yr, m.mo
    """,
)
def seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue seasonality index: each (year, month)'s revenue
    relative to that year's monthly AVERAGE - index 1.0 = an average
    month, 1.3 = a 30%-hot month - the classical demand-planning
    normalization, computed per year so a growth trend does not
    masquerade as seasonality. Partial years divide by their OWN
    month count (n_months), not 12, so no month is compared against
    phantom zero months. Revenue fixes to bigint cents; the index is
    ONE IEEE division of two exactly-agreed integers
    (rev_c * n_months / yr_rev_c), so every cell replays bit-for-bit.

    Shape: one (year, month) aggregate - 84 rows on this corpus,
    calendar-bounded at any data scale - then a year-level
    re-aggregate of that 84-row frame and a broadcast join back.
    Window-free; nothing beyond the first aggregate ever touches fact
    rows."""
    o = load_table(spark, sf_dir, "orders")
    m = (
        o.groupBy(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.month("o_orderdate").cast("bigint").alias("mo"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("rev_c"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    y = m.groupBy("yr").agg(
        F.sum("rev_c").alias("yr_rev_c"),
        F.count(F.lit(1)).alias("n_months"),
    )
    return (
        m.join(F.broadcast(y), "yr")
        .select(
            "yr", "mo", "rev_c", "n_orders", "yr_rev_c", "n_months",
            (
                (F.col("rev_c") * F.col("n_months")).cast("double")
                / F.col("yr_rev_c").cast("double")
            ).alias("seasonal_idx"),
        )
        .orderBy("yr", "mo")
    )


@q(
    "xyz_classification",
    oracle="""
    WITH md AS (
        SELECT l_partkey, date_trunc('year', l_shipdate) AS mo,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1, 2
    ),
    mm AS (
        SELECT CAST(count(DISTINCT mo) AS BIGINT) AS n_periods FROM md
    ),
    per_part AS (
        SELECT l_partkey,
               CAST(sum(q) AS BIGINT) AS s,
               CAST(sum(q * q) AS BIGINT) AS ss,
               CAST(count(*) AS BIGINT) AS n_active
        FROM md GROUP BY 1
    ),
    cls AS (
        SELECT p.l_partkey, p.s,
               CAST(mm.n_periods AS HUGEINT) * CAST(p.ss AS HUGEINT)
                 - CAST(p.s AS HUGEINT) * CAST(p.s AS HUGEINT) AS a,
               CAST(p.s AS HUGEINT) * CAST(p.s AS HUGEINT) AS s2
        FROM per_part p CROSS JOIN mm
    ),
    tagged AS (
        SELECT l_partkey, s,
               CASE WHEN 4 * a <= s2 THEN 'X'
                    WHEN a <= s2 THEN 'Y'
                    ELSE 'Z' END AS klass,
               CAST(a AS DOUBLE) / CAST(s2 AS DOUBLE) AS cv2
        FROM cls
    )
    SELECT klass,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(s) AS BIGINT) AS total_qty,
           min(cv2) AS min_cv2,
           max(cv2) AS max_cv2
    FROM tagged GROUP BY 1 ORDER BY klass
    """,
)
def xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification - the forecastability
    axis that pairs with ``pareto_abc``'s value axis (ABC says what a
    part is WORTH, XYZ says whether its demand can be FORECAST): per
    part, YEARLY shipped quantity over the corpus's global year grid
    (the textbook grid is monthly, but at this corpus's ~30
    lines/part a monthly grid is near-empty and classes every part Z
    - the period granularity must match the demand density, so the
    cv cutoffs below are applied to yearly variability), class X
    when the coefficient of variation <= 0.5, Y when <= 1, else Z -
    years with no shipments count as ZERO demand (classifying only
    on active periods would call an intermittent part steady). The
    zero periods never materialize: with M grid periods, mean = s/M
    and var = (M*ss - s^2)/M^2 over
    the SPARSE period sums, so cv^2 = (M*ss - s^2)/s^2 and the class
    thresholds are pure INTEGER cross-multiplications
    (4*(M*ss - s^2) <= s^2 for X) - no float ever decides a class.
    Products run as decimal(38,0) (Spark) / hugeint (DuckDB), the
    assortativity family's overflow guard; cv2 itself is ONE IEEE
    division of those exact integers. Output: 3 class rows with part
    counts, quantity mass, and the cv^2 range.

    Shape: one (part, year) aggregate, a part-level re-aggregate, a
    broadcast period-count scalar, a 3-row final aggregate - fact
    rows touched once, window-free."""
    li = load_table(spark, sf_dir, "lineitem")
    md = (
        li.groupBy(
            "l_partkey", F.date_trunc("year", "l_shipdate").alias("mo")
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
    )
    per_part = md.groupBy("l_partkey").agg(
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("ss"),
        F.count(F.lit(1)).alias("n_active"),
    )
    mm = md.agg(F.countDistinct("mo").alias("n_periods"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cls = (
        per_part.crossJoin(F.broadcast(mm))
        .select(
            "l_partkey",
            "s",
            (dec("n_periods") * dec("ss") - dec("s") * dec("s")).alias("a"),
            (dec("s") * dec("s")).alias("s2"),
        )
    )
    tagged = cls.select(
        "l_partkey",
        "s",
        F.when(F.lit(4) * F.col("a") <= F.col("s2"), F.lit("X"))
        .when(F.col("a") <= F.col("s2"), F.lit("Y"))
        .otherwise(F.lit("Z"))
        .alias("klass"),
        (F.col("a").cast("double") / F.col("s2").cast("double")).alias(
            "cv2"
        ),
    )
    return (
        tagged.groupBy("klass")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("s").alias("total_qty"),
            F.min("cv2").alias("min_cv2"),
            F.max("cv2").alias("max_cv2"),
        )
        .orderBy("klass")
    )


@q(
    "above_average_orders",
    oracle="""
    WITH w AS (
        SELECT o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS order_c,
               CAST(count(*) OVER prior AS BIGINT) AS n_prev,
               CAST(coalesce(sum(CAST(round(o_totalprice * 100)
                                      AS BIGINT)) OVER prior, 0)
                    AS BIGINT) AS sum_prev
        FROM orders
        WINDOW prior AS (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        )
    ),
    lab AS (
        SELECT c.c_mktsegment AS segment,
               CASE WHEN w.n_prev = 0 THEN 'first'
                    WHEN w.order_c * w.n_prev > w.sum_prev THEN 'above'
                    WHEN w.order_c * w.n_prev = w.sum_prev THEN 'at'
                    ELSE 'below' END AS verdict
        FROM w JOIN customer c ON c.c_custkey = w.o_custkey
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN verdict = 'first' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_first,
           CAST(sum(CASE WHEN verdict = 'above' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above,
           CAST(sum(CASE WHEN verdict = 'at' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_at,
           CAST(sum(CASE WHEN verdict = 'below' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below,
           CAST(sum(CASE WHEN verdict = 'above' THEN 1 ELSE 0 END)
                AS DOUBLE)
             / CAST(nullif(count(*) - sum(CASE WHEN verdict = 'first'
                                               THEN 1 ELSE 0 END), 0)
                    AS DOUBLE) AS share_above
    FROM lab GROUP BY 1 ORDER BY segment
    """,
)
def above_average_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-escalation panel: for every non-first order, is it above,
    at, or below that customer's PERSONAL running average so far?
    Aggregated per market segment - the behavioral drift signal
    behind upsell/churn models (a segment whose share_above sinks is
    trading down). The average never materializes as a float: the
    compare cross-multiplies (order_c * n_prev vs sum_prev, all
    bigint cents/counts), so every verdict is integer-decided;
    share_above is ONE IEEE division of two exact counts (NULL for a
    hypothetical all-first segment, never a divide-by-zero).

    Shape: one per-customer running window (count + sum over cents,
    ROWS UNBOUNDED PRECEDING..1 PRECEDING - partitioned by customer,
    never global), a broadcast join to the customer dimension for the
    segment, and a segment-level conditional aggregate. Ordering
    inside the window is (o_orderdate, o_orderkey) - fully
    deterministic under ties."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    prior = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w = o.select(
        "o_custkey",
        cents.alias("order_c"),
        F.count(F.lit(1)).over(prior).alias("n_prev"),
        F.coalesce(F.sum(cents).over(prior), F.lit(0)).alias("sum_prev"),
    )
    verdict = (
        F.when(F.col("n_prev") == 0, F.lit("first"))
        .when(
            F.col("order_c") * F.col("n_prev") > F.col("sum_prev"),
            F.lit("above"),
        )
        .when(
            F.col("order_c") * F.col("n_prev") == F.col("sum_prev"),
            F.lit("at"),
        )
        .otherwise(F.lit("below"))
    )
    # customer SCALES with the corpus - no broadcast hint (AQE still
    # picks BHJ while the projected dim is below the threshold; a hard
    # hint would crash at the 8 GB ceiling at ~100x data).
    lab = w.join(
        c.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(F.col("c_mktsegment").alias("segment"), verdict.alias("verdict"))
    is_ = lambda v: F.sum(F.when(F.col("verdict") == v, 1).otherwise(0))  # noqa: E731
    return (
        lab.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            is_("first").alias("n_first"),
            is_("above").alias("n_above"),
            is_("at").alias("n_at"),
            is_("below").alias("n_below"),
        )
        .select(
            "segment", "n_orders", "n_first", "n_above", "n_at", "n_below",
            (
                F.col("n_above").cast("double")
                / F.nullif(
                    (F.col("n_orders") - F.col("n_first")).cast("double"),
                    F.lit(0.0),
                )
            ).alias("share_above"),
        )
        .orderBy("segment")
    )


@q(
    "interarrival_hist",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) // 1000000
                 - lag(epoch_us(ts) // 1000000) OVER (
                       PARTITION BY event_type, user_id
                       ORDER BY ts, event_id
                   ) AS gap_s
        FROM events WHERE ts IS NOT NULL
    ),
    lab AS (
        SELECT event_type,
               CASE WHEN gap_s < 10 THEN '0: <10s'
                    WHEN gap_s < 60 THEN '1: 10s-1m'
                    WHEN gap_s < 600 THEN '2: 1m-10m'
                    WHEN gap_s < 3600 THEN '3: 10m-1h'
                    WHEN gap_s < 86400 THEN '4: 1h-1d'
                    ELSE '5: >=1d' END AS bucket
        FROM gaps WHERE gap_s IS NOT NULL
    )
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(count(*) AS DOUBLE)
             / CAST(sum(count(*)) OVER (PARTITION BY event_type)
                    AS DOUBLE) AS share
    FROM lab GROUP BY 1, 2 ORDER BY event_type, bucket
    """,
)
def interarrival_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time histogram: per event type, the distribution
    of gaps between a user's CONSECUTIVE events of that type, folded
    into six fixed human-scale buckets (<10s to >=1d) - the cadence
    fingerprint behind session-gap tuning (where does the natural
    break sit?), bot detection (a <10s spike on a purchase event is
    not a human), and retention modeling. Gap seconds are integer
    epoch arithmetic (micros floor-div, never float timestamps), the
    bucket ladder is fixed CASE compares on those integers, and the
    share is ONE IEEE division of two exact counts - bit-for-bit
    replay.

    Shape: one lag window partitioned by (event_type, user) - fact
    rows, but always partitioned, ordered (ts, event_id) for
    determinism under same-instant events - then a (type, bucket)
    aggregate (<= 6 rows per type) and a per-type share window over
    that bounded grid."""
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ (nanos parquet) - unix_micros needs
    # the cast; the tz shift cancels in the difference
    s = F.expr("unix_micros(cast(ts as timestamp)) DIV 1000000")
    gaps = e.select(
        "event_type", (s - F.lag(s).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    bucket = (
        F.when(F.col("gap_s") < 10, "0: <10s")
        .when(F.col("gap_s") < 60, "1: 10s-1m")
        .when(F.col("gap_s") < 600, "2: 1m-10m")
        .when(F.col("gap_s") < 3600, "3: 10m-1h")
        .when(F.col("gap_s") < 86400, "4: 1h-1d")
        .otherwise("5: >=1d")
    )
    counts = gaps.select("event_type", bucket.alias("bucket")).groupBy(
        "event_type", "bucket"
    ).agg(F.count(F.lit(1)).alias("n_gaps"))
    tot = W.partitionBy("event_type")
    return counts.select(
        "event_type",
        "bucket",
        "n_gaps",
        (
            F.col("n_gaps").cast("double")
            / F.sum("n_gaps").over(tot).cast("double")
        ).alias("share"),
    ).orderBy("event_type", "bucket")


@q(
    "part_staleness",
    oracle="""
    WITH mx AS (
        SELECT max(CAST(l_shipdate AS DATE)) AS corpus_max FROM lineitem
    ),
    per_part AS (
        SELECT l_partkey,
               max(CAST(l_shipdate AS DATE)) AS last_ship,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                 AS lifetime_qty
        FROM lineitem GROUP BY 1
    ),
    aged AS (
        SELECT p.l_partkey, p.lifetime_qty,
               CAST(datediff('day', p.last_ship, mx.corpus_max)
                    AS BIGINT) AS days_stale
        FROM per_part p CROSS JOIN mx
    )
    SELECT CASE WHEN days_stale < 28 THEN '0: fresh (<4w)'
                WHEN days_stale < 84 THEN '1: aging (4-12w)'
                WHEN days_stale < 182 THEN '2: stale (12-26w)'
                ELSE '3: dead (>=26w)' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(lifetime_qty) AS BIGINT) AS lifetime_qty,
           CAST(min(days_stale) AS BIGINT) AS min_days,
           CAST(max(days_stale) AS BIGINT) AS max_days
    FROM aged GROUP BY 1 ORDER BY bucket
    """,
)
def part_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-stock radar: per part, days since its LAST shipment
    relative to the corpus's latest ship date, folded into the
    4/12/26-week merchandising buckets - the inventory-health
    companion of xyz_classification (XYZ says whether demand is
    forecastable; this says whether it still EXISTS). Day counts are
    integer date arithmetic; every output cell is a bigint count/sum
    - bit-for-bit replay.

    Shape: one part-level max/sum aggregate, a broadcast corpus-max
    scalar, a 4-row bucket aggregate. Fact rows touched once,
    window-free."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.max(F.to_date("l_shipdate")).alias("last_ship"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("lifetime_qty"),
    )
    mx = li.agg(F.max(F.to_date("l_shipdate")).alias("corpus_max"))
    aged = per_part.crossJoin(F.broadcast(mx)).select(
        "l_partkey",
        "lifetime_qty",
        F.datediff("corpus_max", "last_ship").cast("bigint").alias(
            "days_stale"
        ),
    )
    bucket = (
        F.when(F.col("days_stale") < 28, "0: fresh (<4w)")
        .when(F.col("days_stale") < 84, "1: aging (4-12w)")
        .when(F.col("days_stale") < 182, "2: stale (12-26w)")
        .otherwise("3: dead (>=26w)")
    )
    return (
        aged.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("lifetime_qty").alias("lifetime_qty"),
            F.min("days_stale").alias("min_days"),
            F.max("days_stale").alias("max_days"),
        )
        .orderBy("bucket")
    )


@q(
    "activity_heatmap",
    oracle="""
    WITH cell AS (
        SELECT CAST(isodow(ts) AS BIGINT) AS dow,
               CAST(hour(ts) AS BIGINT) AS hr,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM cell)
    SELECT c.dow, c.hr, c.n_events, c.n_users,
           CAST(c.n_events AS DOUBLE) / CAST(t.total AS DOUBLE) AS share
    FROM cell c CROSS JOIN tot t
    ORDER BY dow, hr
    """,
)
def activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar activity heatmap: event and distinct-user counts per
    (ISO weekday, hour-of-day) cell - the 7x24 grid every analytics
    UI renders first, and the load-shaping input for batch-window
    placement. Weekday is ISO (1=Monday..7=Sunday) on BOTH engines
    (Spark weekday()+1 == DuckDB isodow - Spark's dayofweek() is
    1=Sunday and would silently shear the grid by one day). Counts
    are exact bigints; share is ONE IEEE division by the broadcast
    grand total.

    Shape: one (dow, hour) aggregate - at most 168 cells at any data
    scale - plus a broadcast 1-row total. Fact rows touched once,
    window-free."""
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    cell = e.groupBy(
        (F.weekday("ts") + 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hr"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    tot = cell.agg(F.sum("n_events").alias("total"))
    return (
        cell.crossJoin(F.broadcast(tot))
        .select(
            "dow", "hr", "n_events", "n_users",
            (
                F.col("n_events").cast("double")
                / F.col("total").cast("double")
            ).alias("share"),
        )
        .orderBy("dow", "hr")
    )


@q(
    "cohort_new_returning",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id,
               epoch_us(ts) // 604800000000 AS wk
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    fw AS (
        SELECT user_id, min(wk) AS first_wk FROM uw GROUP BY 1
    )
    SELECT uw.wk,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(sum(CASE WHEN uw.wk = fw.first_wk THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN uw.wk > fw.first_wk THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returning,
           CAST(sum(CASE WHEN uw.wk > fw.first_wk THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS returning_share
    FROM uw JOIN fw ON fw.user_id = uw.user_id
    GROUP BY 1 ORDER BY wk
    """,
)
def cohort_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly new-vs-returning decomposition: each week's distinct
    active users split by whether this is their FIRST active week -
    the growth-accounting view behind every activation dashboard
    (user_growth charts the cumulative curve; this says whether this
    week's activity is acquisition or retention). Weeks are
    epoch-microsecond integer DIV (DST-proof, engine-identical);
    counts are exact bigints over the DISTINCT (user, week) frame;
    returning_share is ONE IEEE division per week row.

    Shape: one distinct (user, week) aggregate from facts, a
    user-level min re-aggregate of that frame, an equi-join back on
    user (both sides are the user-week frame, not facts), and a
    week-grid final aggregate. Window-free; the fact table is
    touched once."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    uw = e.select(
        "user_id",
        F.expr(
            "unix_micros(cast(ts as timestamp)) DIV 604800000000"
        ).alias("wk"),
    ).distinct()
    fw = uw.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    is_new = F.when(F.col("wk") == F.col("first_wk"), 1).otherwise(0)
    is_ret = F.when(F.col("wk") > F.col("first_wk"), 1).otherwise(0)
    return (
        uw.join(fw, "user_id")
        .groupBy("wk")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(is_new).alias("n_new"),
            F.sum(is_ret).alias("n_returning"),
        )
        .select(
            "wk", "n_active", "n_new", "n_returning",
            (
                F.col("n_returning").cast("double")
                / F.col("n_active").cast("double")
            ).alias("returning_share"),
        )
        .orderBy("wk")
    )


@q(
    "return_rate_trend",
    oracle="""
    WITH m AS (
        SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
               CAST(month(l_shipdate) AS BIGINT) AS mo,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned
        FROM lineitem GROUP BY 1, 2
    ),
    lagd AS (
        SELECT yr, mo, n_lines, n_returned,
               lag(n_lines) OVER w AS prev_lines,
               lag(n_returned) OVER w AS prev_returned
        FROM m WINDOW w AS (ORDER BY yr, mo)
    )
    SELECT yr, mo, n_lines, n_returned,
           CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE)
             AS return_rate,
           CASE WHEN prev_lines IS NULL THEN NULL
                ELSE n_returned * prev_lines > prev_returned * n_lines
           END AS rate_rose
    FROM lagd ORDER BY yr, mo
    """,
)
def return_rate_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly return-rate trend with an EXACT month-over-month
    direction flag: per ship month, returned-line share, and whether
    the rate rose vs the previous month decided by integer
    cross-multiplication (r2*n1 > r1*n2) - no float ever compares
    two rates, so the flag replays bit-for-bit even when the rates
    differ in the 15th decimal. First month carries NULL (no
    predecessor), per the family's status-over-silence rule.
    return_rate itself is ONE IEEE division per row.

    Shape: one (year, month) aggregate - the fact table's only touch
    - then a lag over the ~84-row month grid (GLOBAL window by
    construction, value-bounded: one row per calendar month,
    whitelisted like user_growth's day grid)."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy(
        F.year("l_shipdate").cast("bigint").alias("yr"),
        F.month("l_shipdate").cast("bigint").alias("mo"),
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("n_returned"),
    )
    w = W.orderBy("yr", "mo")
    lagd = m.select(
        "yr", "mo", "n_lines", "n_returned",
        F.lag("n_lines").over(w).alias("prev_lines"),
        F.lag("n_returned").over(w).alias("prev_returned"),
    )
    return lagd.select(
        "yr", "mo", "n_lines", "n_returned",
        (
            F.col("n_returned").cast("double")
            / F.col("n_lines").cast("double")
        ).alias("return_rate"),
        F.when(
            F.col("prev_lines").isNull(), F.lit(None).cast("boolean")
        )
        .otherwise(
            F.col("n_returned") * F.col("prev_lines")
            > F.col("prev_returned") * F.col("n_lines")
        )
        .alias("rate_rose"),
    ).orderBy("yr", "mo")


@q(
    "flesch_readability",
    oracle="""
    WITH d AS (
        SELECT lang,
               CAST(len(regexp_extract_all(text, '[A-Za-z'']+'))
                    AS BIGINT) AS words,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS sents,
               CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
                    AS BIGINT) AS sylls
        FROM documents WHERE text IS NOT NULL
    ),
    g AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(words) AS BIGINT) AS words,
               CAST(sum(sents) AS BIGINT) AS sents,
               CAST(sum(sylls) AS BIGINT) AS sylls
        FROM d GROUP BY 1
    )
    SELECT lang, n_docs, words, sents, sylls,
           206.835
             - 1.015 * (CAST(words AS DOUBLE) / CAST(sents AS DOUBLE))
             - 84.6 * (CAST(sylls AS DOUBLE) / CAST(words AS DOUBLE))
             AS flesch
    FROM g ORDER BY lang
    """,
)
def flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus readability panel: per language, Flesch reading-ease
    over the POOLED token counts - words as letter/apostrophe runs,
    sentences as terminal-punctuation runs (floored at 1 per doc),
    syllables approximated as vowel-group runs, the standard
    library-free heuristic. A quality-gate axis the text-analysis
    panel lacks (length and stopword ratios say a doc is
    English-shaped; this says whether it reads like prose or legal
    boilerplate). Counts are exact integers from engine-identical
    regex classes (pure character classes - no \\\\w, no shorthand
    that differs across regex dialects); the score is computed ONCE
    per language from pooled bigints in a fixed IEEE expression -
    never averaged over per-doc floats, so no summation-order
    nondeterminism.

    Shape: per-doc regexp counts are one narrow projection (JVM
    regexp, no UDF), then a lang-level aggregate and a 2-row final
    panel."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    counts = d.select(
        "lang",
        F.size(F.expr("regexp_extract_all(text, '[A-Za-z\\']+', 0)"))
        .cast("bigint")
        .alias("words"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")),
            F.lit(1),
        )
        .cast("bigint")
        .alias("sents"),
        F.size(F.expr("regexp_extract_all(text, '[aeiouyAEIOUY]+', 0)"))
        .cast("bigint")
        .alias("sylls"),
    )
    g = counts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").alias("words"),
        F.sum("sents").alias("sents"),
        F.sum("sylls").alias("sylls"),
    )
    return g.select(
        "lang", "n_docs", "words", "sents", "sylls",
        (
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("words").cast("double") / F.col("sents").cast("double"))
            - F.lit(84.6)
            * (F.col("sylls").cast("double") / F.col("words").cast("double"))
        ).alias("flesch"),
    ).orderBy("lang")


@q(
    "brand_cross_shopping",
    oracle="""
    WITH cb AS (
        SELECT DISTINCT o.o_custkey, p.p_brand
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
    ),
    per_cust AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_brands
        FROM cb GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cust FROM per_cust)
    SELECT p.n_brands,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(*) AS DOUBLE) / CAST(t.n_cust AS DOUBLE)
             AS customer_share
    FROM per_cust p CROSS JOIN tot t
    GROUP BY p.n_brands, t.n_cust ORDER BY n_brands
    """,
)
def brand_cross_shopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand cross-shopping histogram: how many distinct brands each
    buying customer has EVER purchased, rolled into a distribution -
    the assortment-breadth signal behind cross-sell targeting (a
    1-brand customer is an expansion candidate; a 20-brand customer
    is a marketplace regular), and the customer-side complement of
    basket_pairs' item-side affinity. Counts are exact bigints over
    the distinct (customer, brand) frame; customer_share is ONE IEEE
    division by the broadcast buying-customer total.

    Shape: lineitem joins orders (order->customer) and part
    (part->brand, broadcast-sized dim), collapses to distinct
    (customer, brand), then a per-customer count and a
    brand-count-bounded histogram aggregate (n_brands <= |brands| =
    25). Facts touched once."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cb = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # part scales with SF - unhinted; AQE broadcasts while small
        .join(p, li.l_partkey == p.p_partkey)
        .select("o_custkey", "p_brand")
        .distinct()
    )
    per_cust = cb.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_brands")
    )
    tot = per_cust.agg(F.count(F.lit(1)).alias("n_cust"))
    return (
        per_cust.crossJoin(F.broadcast(tot))
        .groupBy("n_brands", "n_cust")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            "n_brands",
            "n_customers",
            (
                F.col("n_customers").cast("double")
                / F.col("n_cust").cast("double")
            ).alias("customer_share"),
        )
        .orderBy("n_brands")
    )


@q(
    "daily_consistency",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    per_user AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS active_days,
               CAST(date_diff('day', min(d), max(d)) + 1 AS BIGINT)
                 AS span_days
        FROM ud GROUP BY 1
    ),
    lab AS (
        SELECT CASE WHEN span_days = 1 THEN '0: one-day'
                    WHEN 20 * active_days >= 19 * span_days
                      THEN '1: daily (>=95%)'
                    WHEN 20 * active_days >= 17 * span_days
                      THEN '2: near-daily (>=85%)'
                    WHEN 4 * active_days >= 3 * span_days
                      THEN '3: regular (>=75%)'
                    ELSE '4: intermittent (<75%)' END AS consistency,
               active_days, span_days
        FROM per_user
    )
    SELECT consistency,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(active_days) AS BIGINT) AS active_days,
           CAST(sum(span_days) AS BIGINT) AS span_days,
           CAST(sum(active_days) AS DOUBLE)
             / CAST(sum(span_days) AS DOUBLE) AS pooled_ratio
    FROM lab GROUP BY 1 ORDER BY consistency
    """,
)
def daily_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-consistency segmentation: each user's active DAYS over
    their own first-to-last-day span, classed by integer
    cross-multiplication (20*active >= 19*span for 'daily' - no
    float ratio ever decides a class), single-day users fenced into
    their own class rather than polluting 'daily' with trivial 100%s.
    The engagement-regularity axis that activity_streaks'
    consecutive-day lens and cohort_new_returning's acquisition lens
    both miss; thresholds sit at 95/85/75% because the grid must
    discriminate on the corpus it measures (this fixture's users
    cluster at 73-100% daily coverage - a coarser ladder would class
    everyone together). pooled_ratio is ONE IEEE division of two
    exact sums per class row.

    Shape: distinct (user, day) frame, a per-user count/min/max
    aggregate of that frame, then a <=5-row class aggregate.
    Window-free; facts touched once."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    per_user = ud.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("active_days"),
        (F.datediff(F.max("d"), F.min("d")) + 1)
        .cast("bigint")
        .alias("span_days"),
    )
    consistency = (
        F.when(F.col("span_days") == 1, "0: one-day")
        .when(
            20 * F.col("active_days") >= 19 * F.col("span_days"),
            "1: daily (>=95%)",
        )
        .when(
            20 * F.col("active_days") >= 17 * F.col("span_days"),
            "2: near-daily (>=85%)",
        )
        .when(
            4 * F.col("active_days") >= 3 * F.col("span_days"),
            "3: regular (>=75%)",
        )
        .otherwise("4: intermittent (<75%)")
    )
    return (
        per_user.groupBy(consistency.alias("consistency"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("active_days").alias("active_days"),
            F.sum("span_days").alias("span_days"),
        )
        .select(
            "consistency", "n_users", "active_days", "span_days",
            (
                F.col("active_days").cast("double")
                / F.col("span_days").cast("double")
            ).alias("pooled_ratio"),
        )
        .orderBy("consistency")
    )


@q(
    "supplier_load_balance",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1, 2
    ),
    per_part AS (
        SELECT l_partkey,
               CAST(count(*) AS BIGINT) AS n_supp,
               CAST(sum(q) AS BIGINT) AS tot_q,
               CAST(max(q) AS BIGINT) AS max_q
        FROM ps GROUP BY 1
    ),
    lab AS (
        SELECT CASE WHEN n_supp = 1 THEN '0: sole-source'
                    WHEN max_q * n_supp >= 3 * tot_q
                      THEN '1: top >=3x fair share'
                    WHEN max_q * n_supp >= 2 * tot_q
                      THEN '2: top >=2x fair share'
                    WHEN 2 * max_q * n_supp >= 3 * tot_q
                      THEN '3: top >=1.5x fair share'
                    ELSE '4: balanced' END AS sourcing,
               tot_q
        FROM per_part
    ),
    tot AS (SELECT CAST(sum(tot_q) AS BIGINT) AS all_q FROM lab)
    SELECT l.sourcing,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(l.tot_q) AS BIGINT) AS qty,
           CAST(sum(l.tot_q) AS DOUBLE) / CAST(t.all_q AS DOUBLE)
             AS qty_share
    FROM lab l CROSS JOIN tot t
    GROUP BY l.sourcing, t.all_q ORDER BY sourcing
    """,
)
def supplier_load_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration gate, measured against the FAIR-SHARE
    baseline: per part, how much the top supplier's shipped quantity
    exceeds the equal-split expectation (max * n_supp vs multiples of
    total - a scale-free comparison that discriminates on any
    supplier count, where a fixed 50%-of-total test goes degenerate
    the moment parts have dozens of suppliers). Classes decided by
    pure integer cross-multiplication; sole-source parts are their
    own class. Quantity mass per class shows how much volume rides
    each concentration tier; qty_share is ONE IEEE division by the
    broadcast total. The part-level single-point-of-failure radar
    that the global HHI (concentration_hhi) averages away.

    Shape: one (part, supplier) aggregate, a part-level count/max/sum
    re-aggregate, a <=5-row class aggregate + broadcast total.
    Window-free; facts touched once."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("q")
    )
    per_part = ps.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("q").alias("tot_q"),
        F.max("q").alias("max_q"),
    )
    sourcing = (
        F.when(F.col("n_supp") == 1, "0: sole-source")
        .when(
            F.col("max_q") * F.col("n_supp") >= 3 * F.col("tot_q"),
            "1: top >=3x fair share",
        )
        .when(
            F.col("max_q") * F.col("n_supp") >= 2 * F.col("tot_q"),
            "2: top >=2x fair share",
        )
        .when(
            2 * F.col("max_q") * F.col("n_supp") >= 3 * F.col("tot_q"),
            "3: top >=1.5x fair share",
        )
        .otherwise("4: balanced")
    )
    lab = per_part.select(sourcing.alias("sourcing"), "tot_q")
    tot = lab.agg(F.sum("tot_q").alias("all_q"))
    return (
        lab.crossJoin(F.broadcast(tot))
        .groupBy("sourcing", "all_q")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("tot_q").alias("qty"),
        )
        .select(
            "sourcing", "n_parts", "qty",
            (
                F.col("qty").cast("double") / F.col("all_q").cast("double")
            ).alias("qty_share"),
        )
        .orderBy("sourcing")
    )


@q(
    "join_skew_report",
    oracle="""
    WITH k AS (
        SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1
    ),
    j AS (
        SELECT key, cnt AS cnt_left, cnt AS cnt_right,
               CAST(cnt * cnt AS BIGINT) AS out_rows
        FROM k
    ),
    tot AS (SELECT CAST(sum(out_rows) AS BIGINT) AS total_out FROM j),
    head AS (
        SELECT j.*, t.total_out FROM j CROSS JOIN tot t
        ORDER BY out_rows DESC, key LIMIT 15
    )
    SELECT CAST(row_number() OVER (ORDER BY out_rows DESC, key)
                AS BIGINT) AS rnk,
           key, cnt_left, cnt_right, out_rows, total_out,
           CAST((CAST(out_rows AS HUGEINT) * 1000000) // total_out
                AS BIGINT) AS share_ppm
    FROM head
    """,
)
def join_skew_report_partkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew diagnostic over the classic hot key: what a
    lineitem-lineitem self-join on l_partkey (the co-purchase /
    same-part pairing everybody writes) would cost PER KEY - cnt^2
    output rows for the hottest parts, with each key's integer ppm
    share of the total join output. This is the report you run before
    a 100 TB join to decide between the plain shuffle, AQE skew
    splitting, and operators.skew.salted_join; the operator
    (join_skew_report) is generic over two frames, instantiated here
    with both sides the same table.

    Exactness: bigint counts, bigint products, integer DIV ppm (the
    engine-agreed `DIV`/`//` pair - never round(float)). The top-15
    cut orders by (out_rows, key), unique per row, so the LIMIT
    boundary is deterministic. Scale shape asserted in the operator:
    per-key partial-combined aggregates, distributed top-k
    (TakeOrderedAndProject), rank window AFTER the limit over <= 15
    rows."""
    from ..operators.skew import join_skew_report

    li = load_table(spark, sf_dir, "lineitem")
    return join_skew_report(li, li, on="l_partkey", top=15).select(
        F.col("rank").alias("rnk"),
        "key",
        "cnt_left",
        "cnt_right",
        "out_rows",
        "total_out",
        "share_ppm",
    )


@q(
    "join_salted",
    oracle="""
    SELECT CAST(s.s_nationkey AS BIGINT) AS nationkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1 ORDER BY 1
    """,
)
def join_salted_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted skew join, oracle-certified: lineitem (fact) joined
    to supplier (dim) through operators.skew.salted_join - the fact
    rows carry a DETERMINISTIC salt (xxhash64 of the natural line key,
    never rand(): task retries and speculative execution must agree),
    the dim replicates once per salt value, and the join runs on
    (key, salt) so a hot supplier's rows land on salt_buckets
    reducers instead of one. The oracle is the PLAIN join - the whole
    point of the rewrite is result identity, and this query pins it
    on real data (the pytest randomized differential covers edge
    shapes; tests/test_joins_skew.py).

    Locally AQE broadcasts the tiny replicated dim so the salt is
    physically inert; the rewrite targets the 100 TB shape where the
    dim exceeds the broadcast threshold but replicates salt_buckets
    times comfortably. Quantities are integral doubles -> bigint on
    both engines; the post-join aggregate keeps the certified output
    nation-sized."""
    from ..operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_quantity"
    )
    dim = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(
        li,
        dim,
        on="l_suppkey",
        salt_buckets=8,
        salt_from=["l_orderkey", "l_linenumber"],
    )
    return (
        joined.groupBy(F.col("s_nationkey").cast("bigint").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
        )
        .orderBy("nationkey")
    )


@q(
    "bfs_hops",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT DISTINCT l_partkey AS a, - l_suppkey AS b
        FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 11 = 0
    ),
    ud AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
    deg AS (SELECT a, count(*) AS c FROM ud WHERE a > 0 GROUP BY a),
    src AS (SELECT a AS s FROM deg ORDER BY c DESC, a LIMIT 1),
    walk(node, d) AS (
        SELECT s, 0 FROM src
        UNION
        SELECT ud.b, walk.d + 1
        FROM walk JOIN ud ON ud.a = walk.node
        WHERE walk.d < 19
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(min(d) AS BIGINT) AS hops
    FROM walk GROUP BY node
    """,
)
def bfs_hops_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances over the part-supplier co-purchase graph,
    certified against a DuckDB RECURSIVE layered-closure oracle - the
    shortest-path companion of graph_components (same bipartite
    node encoding: part keys positive, supplier keys NEGATED, so the
    id spaces cannot collide at any SF). Source = the highest-degree
    part (min key tie-break), i.e. hops from the best-connected part
    to everything reachable: parts at even distances, suppliers odd.

    The sparsifier (first line of 1-in-11 orders) keeps the oracle's
    (node, depth) state space small while the Spark side runs the
    production operator unchanged; 1-in-11 (vs graph_components'
    1-in-97) leaves a giant component with real multi-hop structure
    (hop radius 16 at sf0.01 - a meaningful certificate, not a 1-hop
    star). Both engines cap at 19 hops, so the row SET agrees even if
    some node sat farther than the cap.

    Scale: operators.graph.bfs_hops is two-tier (the
    connected_components discipline) - the sparsified subgraph sits
    under the small-graph bound so the collected driver BFS answers
    here, while past 100 K edges the frontier-Pregel path runs:
    per round hops_per_round frontier-sized join + anti-join layers
    in one checkpointed block, rounds bounded by diameter. The
    distributed tier is pytest-forced over the same fixtures; the
    oracle's closure is nodes x depth either way."""
    from ..operators.graph import bfs_hops

    li = load_table(spark, sf_dir, "lineitem")
    e = (
        li.filter(
            (F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 11 == 0)
        )
        .select(
            F.col("l_partkey").alias("a"), (-F.col("l_suppkey")).alias("b")
        )
        .distinct()
    )
    ud = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    deg = (
        ud.filter(F.col("a") > 0)
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    src = (
        deg.orderBy(F.col("c").desc(), "a").limit(1).select(F.col("a"))
    )
    d = bfs_hops(ud, src, src="a", dst="b", max_hops=19, dedup_edges=False)
    return d.select(F.col("node").cast("bigint").alias("node"), "hops")


@q(
    "fifo_allocation",
    oracle="""
    WITH base AS (
        SELECT l_partkey AS p, CAST(l_quantity AS BIGINT) AS q,
               l_returnflag AS rf, l_shipdate AS sd,
               l_orderkey AS ok, l_linenumber AS ln
        FROM lineitem
    ),
    i2 AS (
        SELECT p, q,
               sum(q) OVER (PARTITION BY p ORDER BY sd, ok, ln) - q AS lo,
               sum(q) OVER (PARTITION BY p ORDER BY sd, ok, ln) AS hi
        FROM base WHERE rf <> 'R'
    ),
    o2 AS (
        SELECT p, q,
               sum(q) OVER (PARTITION BY p ORDER BY sd, ok, ln) - q AS lo,
               sum(q) OVER (PARTITION BY p ORDER BY sd, ok, ln) AS hi
        FROM base WHERE rf = 'R'
    ),
    m AS (
        SELECT i2.p,
               least(i2.hi, o2.hi) - greatest(i2.lo, o2.lo) AS alloc
        FROM i2 JOIN o2
          ON i2.p = o2.p AND i2.lo < o2.hi AND o2.lo < i2.hi
    ),
    mm AS (
        SELECT p, CAST(count(*) AS BIGINT) AS n_matches,
               CAST(sum(alloc) AS BIGINT) AS matched_qty
        FROM m WHERE alloc > 0 GROUP BY p
    ),
    ti AS (SELECT p, CAST(count(*) AS BIGINT) AS n_lots,
                  CAST(sum(q) AS BIGINT) AS tot_in FROM i2 GROUP BY p),
    tr AS (SELECT p, CAST(count(*) AS BIGINT) AS n_rets,
                  CAST(sum(q) AS BIGINT) AS tot_out FROM o2 GROUP BY p)
    SELECT CAST(mm.p AS BIGINT) AS part, ti.n_lots, tr.n_rets,
           mm.n_matches, mm.matched_qty,
           CAST(tr.tot_out - mm.matched_qty AS BIGINT)
             AS unmatched_ret_qty
    FROM mm JOIN ti ON ti.p = mm.p JOIN tr ON tr.p = mm.p
    """,
)
def fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO ledger allocation per part: returns (outflow) matched
    against shipments (inflow lots) in ship-date order, via
    operators.ledger.fifo_allocate - the cumulative-interval join
    that replaces the per-key imperative lot loop. Per part with
    both flows: lots, returns, matched pair count, matched units,
    and the return units no shipment covers.

    Exactness: integral quantities -> bigint cumsums, interval
    intersection is pure integer min/max arithmetic; the within-key
    order (shipdate, orderkey, linenumber) is a unique total order,
    so both engines build identical number lines. The operator
    invariant matched_qty == min(tot_in, tot_out) is pytest-asserted
    per part.

    Scale: per-key window cumsums (partitioned, never global); the
    theta join evaluates n_in x n_out candidates per part but emits
    <= n_in + n_out - 1 rows (sorted disjoint chains interleave
    linearly) - bounded by TPC-H's ~30-line part groups, the same
    group-size contract basket_pairs documents. The narrow 6-column
    projection persists once and feeds both flows and both totals."""
    from ..operators.ledger import fifo_allocate

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").cast("bigint").alias("p"),
            F.col("l_quantity").cast("bigint").alias("q"),
            "l_returnflag",
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
        )
        # five consumers (two flows, two totals, the tier-measuring
        # count); lazy return -> released by the harnesses'
        # clearCache-between-queries, or by a library caller once the
        # allocation materializes (the fd_panel contract)
        .persist()
    )
    inn = li.filter(F.col("l_returnflag") != "R")
    out = li.filter(F.col("l_returnflag") == "R")
    order = ["l_shipdate", "l_orderkey", "l_linenumber"]
    pairs = fifo_allocate(inn, out, ["p"], order, "q")
    mm = pairs.groupBy("p").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.sum("alloc").alias("matched_qty"),
    )
    ti = inn.groupBy("p").agg(
        F.count(F.lit(1)).alias("n_lots"), F.sum("q").alias("tot_in")
    )
    tr = out.groupBy("p").agg(
        F.count(F.lit(1)).alias("n_rets"), F.sum("q").alias("tot_out")
    )
    return (
        mm.join(ti, "p")
        .join(tr, "p")
        .select(
            F.col("p").alias("part"),
            "n_lots",
            "n_rets",
            "n_matches",
            "matched_qty",
            (F.col("tot_out") - F.col("matched_qty")).alias(
                "unmatched_ret_qty"
            ),
        )
    )


@q(
    "survival_tenure",
    oracle="""
    WITH u AS (
        SELECT o_custkey,
               (max(epoch_us(o_orderdate)) - min(epoch_us(o_orderdate)))
                 // 604800000000 AS wk
        FROM orders GROUP BY 1
    ),
    c AS (
        SELECT wk, CAST(count(*) AS BIGINT) AS n_churned
        FROM u GROUP BY wk
    ),
    r AS (
        SELECT wk, n_churned,
               CAST(sum(n_churned) OVER (ORDER BY wk DESC)
                    AS BIGINT) AS n_at_risk
        FROM c
    )
    SELECT CAST(wk AS BIGINT) AS tenure_wk, n_churned, n_at_risk,
           CAST((n_churned * 1000000) // n_at_risk AS BIGINT)
             AS hazard_ppm
    FROM r
    """,
)
def survival_tenure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival-analysis at-risk table over customer tenure: per
    tenure week k (a customer's last-minus-first order span,
    integer-DIV weeks), how many customers' observed lifetimes ended
    at k (n_churned), how many lifetimes reached k (n_at_risk =
    everyone with span >= k), and the discrete hazard d_k/n_k in
    integer ppm - the Kaplan-Meier life table's exact-integer core.
    The survival PRODUCT is a float chain (engine-divergent
    rounding), so the query certifies the (d_k, n_k) table the
    estimator is a deterministic local fold of.

    Shape: one per-customer min/max over orders, a tenure-week
    count, and a reverse cumulative sum over the TENURE-WEEK GRID -
    one row per distinct week (order-calendar-span/7-bounded,
    whitelisted global window), never customer rows. hazard_ppm =
    churned*1e6 DIV at_risk (engine-agreed integer division)."""
    o = load_table(spark, sf_dir, "orders")
    u = o.groupBy("o_custkey").agg(
        F.expr(
            "(max(unix_micros(cast(o_orderdate as timestamp)))"
            " - min(unix_micros(cast(o_orderdate as timestamp))))"
            " DIV 604800000000"
        ).alias("wk")
    )
    c = u.groupBy("wk").agg(F.count(F.lit(1)).alias("n_churned"))
    w = W.orderBy(F.col("wk").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    r = c.withColumn("n_at_risk", F.sum("n_churned").over(w))
    return r.select(
        F.col("wk").cast("bigint").alias("tenure_wk"),
        "n_churned",
        "n_at_risk",
        F.expr("(n_churned * 1000000) DIV n_at_risk").alias("hazard_ppm"),
    )


@q(
    "boilerplate_shingles",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               list_filter(
                   string_split(
                       regexp_replace(lower(text), '[^a-z]+', ' ', 'g'),
                       ' '),
                   w -> len(w) > 0) AS ws
        FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id, source,
               unnest(list_transform(generate_series(1, len(ws) - 1),
                                     i -> ws[i] || ' ' || ws[i+1]))
                 AS shingle
        FROM t
    ),
    pg AS (
        SELECT source, shingle, CAST(count(*) AS BIGINT) AS n_docs
        FROM g GROUP BY 1, 2
    ),
    nd AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs_src
        FROM documents GROUP BY 1
    )
    SELECT pg.source, pg.shingle, pg.n_docs, nd.n_docs_src
    FROM pg JOIN nd ON nd.source = pg.source
    WHERE pg.n_docs * 100 >= 20 * nd.n_docs_src
    """,
)
def boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate detector (the C4/RefinedWeb template
    signal, shingle-based because the synthetic corpus has no line
    structure): word bigrams present in >= 20% of a source's
    documents - the phrases a scraper injects into everything it
    emits (nav text, footers, disclaimers), which repetition filters
    remove BEFORE near-dup so templates don't glue distinct docs into
    one cluster. Presence is per-doc DISTINCT (a doc repeating its
    own footer counts once); the threshold is integer
    cross-multiplication (n_docs*100 >= 20*n_docs_src - chosen on the
    corpus's discriminative band, the daily_consistency rule), and
    tokenization is the engine-wide [^a-z]+ split the inverted_index
    oracle certifies.

    Shape (r15): bigrams build IN-ROW (``text.ngrams``) and per-doc
    presence dedups IN-ROW with array_distinct,
    which makes the exploded (doc, shingle) rows unique BY
    CONSTRUCTION - so the old corpus-wide ``.distinct()`` shuffle is
    gone outright and the explode feeds the (source, shingle) count
    directly (one partial-aggregated exchange instead of two
    corpus-shingle-sized ones; doc_id no longer rides the rows).
    Broadcast per-source doc totals as before; everything after the
    aggregate is vocabulary-sized."""
    d = load_table(spark, sf_dir, "documents")
    bigrams = F.array_distinct(ngrams(F.col("ws"), 2))
    grams = d.select("source", word_tokens("text").alias("ws")).select(
        "source", F.explode(bigrams).alias("shingle")
    )
    pg = grams.groupBy("source", "shingle").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    nd = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs_src"))
    return (
        pg.join(F.broadcast(nd), "source")
        .filter(F.col("n_docs") * 100 >= 20 * F.col("n_docs_src"))
        .select("source", "shingle", "n_docs", "n_docs_src")
    )


@q(
    "win_distribution",
    oracle="""
    WITH o AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT o_orderkey, o_orderpriority, cents,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume,
           CAST(ntile(8) OVER w AS BIGINT) AS octile
    FROM o
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY cents, o_orderkey)
    """,
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution window functions the battery's rank-from-
    counts rewrites deliberately avoid at corpus scale, certified
    here AS window functions on a partitioned (never global) frame:
    percent_rank, cume_dist, and ntile(8) over orders per priority
    class, ordered by (int-cents price, orderkey) - a unique total
    order, so every rank (and therefore every quotient) is
    deterministic. percent_rank/cume_dist are single IEEE divisions
    of exact integer ranks/counts (bit-equal across engines);
    ntile follows the SQL-standard larger-buckets-first rule on both.

    This completes the SQL window surface next to win_rank (ranking),
    win_lag (analytic), win_frames (aggregate frames): the
    distribution family was the one §2B window class certified only
    through its scale-safe rewrites (ltv_quintiles' positional
    tiles), never as the literal functions."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    w = W.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "cents",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(8).over(w).cast("bigint").alias("octile"),
    )


@q(
    "segment_migration",
    oracle="""
    WITH spend AS (
        SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-05-01'
                    THEN 0 ELSE 1 END AS period,
               o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS spend_c
        FROM orders GROUP BY 1, 2
    ),
    vc AS (
        SELECT period, spend_c, count(*) AS c FROM spend GROUP BY 1, 2
    ),
    stepped AS (
        SELECT period, spend_c,
               sum(c) OVER (PARTITION BY period ORDER BY spend_c) AS cum,
               sum(c) OVER (PARTITION BY period) AS n
        FROM vc
    ),
    cuts AS (
        SELECT period,
               min(CASE WHEN cum >= (n + 2) // 3 THEN spend_c END) AS t1,
               min(CASE WHEN cum >= (2 * n + 2) // 3 THEN spend_c END)
                 AS t2
        FROM stepped GROUP BY period
    ),
    seg AS (
        SELECT s.o_custkey, s.period,
               CASE WHEN s.spend_c <= c.t1 THEN '1: low'
                    WHEN s.spend_c <= c.t2 THEN '2: mid'
                    ELSE '3: high' END AS seg
        FROM spend s JOIN cuts c ON c.period = s.period
    )
    SELECT coalesce(a.seg, '0: absent') AS seg_early,
           coalesce(b.seg, '0: absent') AS seg_late,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM (SELECT o_custkey, seg FROM seg WHERE period = 0) a
    FULL OUTER JOIN (SELECT o_custkey, seg FROM seg WHERE period = 1) b
      ON a.o_custkey = b.o_custkey
    GROUP BY 1, 2
    """,
)
def segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend-segment migration matrix: tercile each
    customer's order spend WITHIN two halves of the corpus (pivot
    1998-05-01, the order-calendar midpoint) and count every
    early-segment -> late-segment move, with customers active in only
    one half classed 'absent' on the other side - the
    churn/upgrade/downgrade flow a retention team reads, and the
    longitudinal companion of the single-period rfm_segments.

    Exactness: int-cents spend, tercile cuts by POSITIONAL pick over
    the per-period distinct-spend count table (rank-from-counts: the
    window runs over value cardinality partitioned by period, never
    customer rows; cut position k = ceil(n/3) in pure integer
    arithmetic), class by <= on agreed integers, one full-outer join
    on the customer key, and a <=16-row matrix. No floats anywhere."""
    o = load_table(spark, sf_dir, "orders")
    spend = (
        o.withColumn(
            "period",
            F.when(
                F.col("o_orderdate") < F.lit("1998-05-01").cast("timestamp"),
                0,
            ).otherwise(1),
        )
        .groupBy("period", "o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("spend_c")
        )
    )
    vc = spend.groupBy("period", "spend_c").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        W.partitionBy("period")
        .orderBy("spend_c")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("period")
    stepped = vc.select(
        "period",
        "spend_c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    cuts = stepped.groupBy("period").agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 2) DIV 3"), F.col("spend_c"))
        ).alias("t1"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(2 * n + 2) DIV 3"), F.col("spend_c")
            )
        ).alias("t2"),
    )
    seg = spend.join(F.broadcast(cuts), "period").select(
        "o_custkey",
        "period",
        F.when(F.col("spend_c") <= F.col("t1"), "1: low")
        .when(F.col("spend_c") <= F.col("t2"), "2: mid")
        .otherwise("3: high")
        .alias("seg"),
    )
    a = seg.filter(F.col("period") == 0).select(
        "o_custkey", F.col("seg").alias("seg_a")
    )
    b = seg.filter(F.col("period") == 1).select(
        "o_custkey", F.col("seg").alias("seg_b")
    )
    return (
        a.join(b, "o_custkey", "full_outer")
        .select(
            F.coalesce("seg_a", F.lit("0: absent")).alias("seg_early"),
            F.coalesce("seg_b", F.lit("0: absent")).alias("seg_late"),
        )
        .groupBy("seg_early", "seg_late")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@q(
    "repeat_purchase_gap",
    oracle="""
    WITH g AS (
        SELECT o_custkey,
               (epoch_us(o_orderdate)
                - epoch_us(lag(o_orderdate) OVER (
                      PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey)))
                 // 86400000000 AS gap_d
        FROM orders
    ),
    b AS (
        SELECT o_custkey,
               CASE WHEN gap_d <= 7   THEN '1: <=1wk'
                    WHEN gap_d <= 30  THEN '2: <=1mo'
                    WHEN gap_d <= 90  THEN '3: <=3mo'
                    WHEN gap_d <= 180 THEN '4: <=6mo'
                    ELSE '5: >6mo' END AS bucket
        FROM g WHERE gap_d IS NOT NULL
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def repeat_purchase_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: the gap in whole days between each
    customer's consecutive orders, bucketed on the fixed human-scale
    grid (week / month / quarter / half-year / longer) - the
    order-table twin of interarrival_hist's event-gap panel, and the
    input a replenishment or win-back campaign is timed against.
    n_gaps counts transitions, n_customers how many distinct
    customers exhibit each cadence at least once.

    Exactness: integer epoch-microsecond difference, engine-agreed
    DIV day fold, first-order rows drop via the NULL lag on both
    sides. The lag window partitions per customer over fact rows
    (the win_lag posture); the bucket aggregate is 5 rows."""
    o = load_table(spark, sf_dir, "orders")
    g = o.select(
        "o_custkey",
        F.expr(
            "(unix_micros(cast(o_orderdate as timestamp))"
            " - lag(unix_micros(cast(o_orderdate as timestamp))) OVER ("
            "   PARTITION BY o_custkey"
            "   ORDER BY o_orderdate, o_orderkey)) DIV 86400000000"
        ).alias("gap_d"),
    ).filter(F.col("gap_d").isNotNull())
    bucket = (
        F.when(F.col("gap_d") <= 7, "1: <=1wk")
        .when(F.col("gap_d") <= 30, "2: <=1mo")
        .when(F.col("gap_d") <= 90, "3: <=3mo")
        .when(F.col("gap_d") <= 180, "4: <=6mo")
        .otherwise("5: >6mo")
    )
    return (
        g.select("o_custkey", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .orderBy("bucket")
    )


@q(
    "degree_histogram",
    oracle="""
    WITH e AS (
        SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        WHERE s.s_nationkey <> c.c_nationkey
    ),
    outd AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS out_degree
             FROM e GROUP BY 1),
    ind  AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_degree
             FROM e GROUP BY 1),
    deg AS (
        SELECT coalesce(o.node, i.node) AS node,
               coalesce(o.out_degree, 0) AS od,
               coalesce(i.in_degree, 0) AS id
        FROM outd o FULL OUTER JOIN ind i ON i.node = o.node
    )
    SELECT od AS out_degree, id AS in_degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY 1, 2
    """,
)
def degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint in/out-degree histogram of the distinct nation trade
    graph - the exact-oracle certificate for operators.graph.degrees
    (until now the one graph primitive certified only through its
    consumers: pagerank's differentials, assortativity's moments).
    The degree distribution is also the first thing read off a graph
    before choosing an algorithm tier (hub-dominated -> salt /
    orient by degree, flat -> plain Pregel).

    Shape: the corpus-sized work is the same distinct-edge build the
    other trade-graph queries share (4-way join, dimension sides
    broadcast); degrees() is a union + one partial-combined
    aggregate; the histogram collapses 25 nodes to a handful of
    (out, in) cells. Exact bigints throughout."""
    from ..operators.graph import degrees

    t = {
        n: load_table(spark, sf_dir, n)
        for n in ("lineitem", "orders", "supplier", "customer")
    }
    e = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        # supplier/customer scale with SF - unhinted (AQE broadcasts
        # while genuinely small; a hard hint crashes at ~100x data)
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .distinct()
    )
    return (
        degrees(e)
        .groupBy(
            F.col("out_degree"), F.col("in_degree")
        )
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select("out_degree", "in_degree", "n_nodes")
    )


@q(
    "agg_salted",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS ext_c
    FROM lineitem
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-phase salted aggregation, oracle-certified (closing
    the skew toolkit next to join_salted): lineitem's pricing-summary
    measures grouped on the classic 6-value hot key through
    operators.skew.salted_agg - phase 1 aggregates per
    (key, deterministic salt) so a hot group's rows spread over
    salt_buckets reducers, phase 2 combines salt_buckets partial rows
    per key. The oracle is the PLAIN GROUP BY: result identity is
    the rewrite's whole contract. AQE cannot split a hash-aggregate
    group (its skew handling is join-side), so at 100 TB this
    rewrite - not a conf knob - is what breaks a mega-group.

    Exactness: bigint counts and quantity sums, int-cents price sums
    (one rounded IEEE expression per row), partials combined by sum -
    integer addition is associative, so the salted regroup cannot
    drift."""
    from ..operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return salted_agg(
        li.withColumn("ext_cents", cents),
        group_cols=["l_returnflag", "l_linestatus"],
        salt_buckets=8,
        salt_from=["l_orderkey", "l_linenumber"],
        partial_aggs=[
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("pq"),
            F.sum("ext_cents").alias("pe"),
        ],
        final_aggs=[
            F.sum("pn").alias("n_lines"),
            F.sum("pq").alias("qty"),
            F.sum("pe").alias("ext_c"),
        ],
    ).orderBy("l_returnflag", "l_linestatus")


@q(
    "nation_trade_balance",
    oracle="""
    WITH flow AS (
        SELECT s.s_nationkey AS exp_n, c.c_nationkey AS imp_n,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS rev_c
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        WHERE s.s_nationkey <> c.c_nationkey
    ),
    ex AS (SELECT exp_n AS nk, CAST(sum(rev_c) AS BIGINT) AS exports_c,
                  CAST(count(*) AS BIGINT) AS n_export_lines
           FROM flow GROUP BY 1),
    im AS (SELECT imp_n AS nk, CAST(sum(rev_c) AS BIGINT) AS imports_c,
                  CAST(count(*) AS BIGINT) AS n_import_lines
           FROM flow GROUP BY 1)
    SELECT n.n_name AS nation,
           coalesce(ex.exports_c, 0) AS exports_c,
           coalesce(im.imports_c, 0) AS imports_c,
           coalesce(ex.exports_c, 0) - coalesce(im.imports_c, 0)
             AS balance_c,
           coalesce(ex.n_export_lines, 0) AS n_export_lines,
           coalesce(im.n_import_lines, 0) AS n_import_lines
    FROM nation n
    LEFT JOIN ex ON ex.nk = n.n_nationkey
    LEFT JOIN im ON im.nk = n.n_nationkey
    ORDER BY balance_c DESC, nation
    """,
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-border trade balance per nation: discounted revenue on
    lines whose supplier and customer nations DIFFER, summed as
    exports (supplier side) and imports (customer side), with the
    net balance - the value-weighted companion of the trade-graph
    queries (pagerank/triangles/degrees rank the same edges by
    structure; this prices them). Domestic lines are excluded on both
    sides symmetrically, so the global balance sums to zero - the
    pytest invariant.

    Exactness: one rounded IEEE per-line cents fix (the engine-wide
    discounted-price recipe), bigint sums, subtraction of agreed
    integers. Shape: one 4-way join (dimension sides broadcast, the
    same build the graph family shares) feeding two
    partial-combined nation aggregates; output is nation-sized."""
    t = {
        n: load_table(spark, sf_dir, n)
        for n in ("lineitem", "orders", "supplier", "customer", "nation")
    }
    flow = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        # supplier/customer scale with SF - unhinted (AQE broadcasts
        # while genuinely small; a hard hint crashes at ~100x data)
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.col("s_nationkey").alias("exp_n"),
            F.col("c_nationkey").alias("imp_n"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
            .cast("bigint")
            .alias("rev_c"),
        )
    )
    ex = flow.groupBy(F.col("exp_n").alias("nk")).agg(
        F.sum("rev_c").alias("exports_c"),
        F.count(F.lit(1)).alias("n_export_lines"),
    )
    im = flow.groupBy(F.col("imp_n").alias("nk")).agg(
        F.sum("rev_c").alias("imports_c"),
        F.count(F.lit(1)).alias("n_import_lines"),
    )
    n = t["nation"].select(
        F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation")
    )
    return (
        n.join(ex, "nk", "left")
        .join(im, "nk", "left")
        .select(
            "nation",
            F.coalesce("exports_c", F.lit(0)).alias("exports_c"),
            F.coalesce("imports_c", F.lit(0)).alias("imports_c"),
            (
                F.coalesce("exports_c", F.lit(0))
                - F.coalesce("imports_c", F.lit(0))
            ).alias("balance_c"),
            F.coalesce("n_export_lines", F.lit(0)).alias("n_export_lines"),
            F.coalesce("n_import_lines", F.lit(0)).alias("n_import_lines"),
        )
        .orderBy(F.col("balance_c").desc(), "nation")
    )


@q(
    "debounce_events",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE ts IS NOT NULL
    ),
    walk(user_id, event_type, rn, us, anchor, kept) AS (
        SELECT user_id, event_type, rn, us, us, true FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.event_type, e.rn, e.us,
               CASE WHEN e.us - w.anchor > 86400000000
                    THEN e.us ELSE w.anchor END,
               e.us - w.anchor > 86400000000
        FROM walk w JOIN e ON e.user_id = w.user_id
         AND e.event_type = w.event_type AND e.rn = w.rn + 1
    ),
    k AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept
        FROM walk WHERE kept GROUP BY 1
    ),
    r AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_raw
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    )
    SELECT r.event_type, r.n_raw, coalesce(k.n_kept, 0) AS n_kept
    FROM r LEFT JOIN k ON k.event_type = r.event_type
    ORDER BY r.event_type
    """,
)
def debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE debounce census per event type: events kept under a
    1-day per-(user, type) throttle where the anchor advances only on
    KEPT rows - certified against a DuckDB RECURSIVE anchor-walk
    oracle. The distinction this query exists to pin: the lag filter
    ('gap from the previous RAW event') is NOT debounce - under a
    steady burst it suppresses everything after the first row
    forever, while the anchor recursion re-emits once per gap window.
    Sessionize/activity_streaks cover the islands family; this is the
    throttle family, the one gap semantics in the battery that is
    inherently SEQUENTIAL per key.

    Shape (r15, guide section 4.1): the census needs only per-key
    KEPT counts, so it runs operators.sessions.debounce_count - the
    same anchor fold as a pure-Catalyst higher-order ``aggregate``
    over each key's sorted event times (two-scalar accumulator,
    linear per group), differential-pinned row-for-row against the
    grouped-Python ``debounce`` in tests/test_sessions.py. That
    removes the FlatMapGroupsInPandas node and its per-group Arrow
    round-trips from this plan entirely (the row-returning
    ``debounce`` stays grouped-Python for callers that need the kept
    rows); one shuffle on the key, then one type-sized count joins
    against the raw counts. The oracle's recursion is rows x depth;
    Spark's work is one shuffle + a linear in-row fold per group."""
    from ..operators.sessions import debounce_count

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_type", "event_id", "ts")
    )
    per_key = debounce_count(
        e,
        ["user_id", "event_type"],
        "ts",
        86_400_000_000,
        tiebreak="event_id",
    )
    k = per_key.groupBy("event_type").agg(
        F.sum("n_kept").alias("n_kept")
    )
    r = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_raw"))
    return (
        r.join(k, "event_type", "left")
        .select(
            "event_type",
            "n_raw",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("event_type")
    )


@q(
    "pps_sample_docs",
    oracle="""
    WITH base AS (
        SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w
        FROM documents WHERE n_chars > 0
    ),
    c AS (
        SELECT source, doc_id, w,
               sum(w) OVER (PARTITION BY source
                            ORDER BY doc_id) AS cum
        FROM base
    ),
    t AS (SELECT source, CAST(max(cum) AS BIGINT) AS total
          FROM c GROUP BY 1),
    m AS (
        SELECT c.source, c.doc_id, c.w,
               least(c.cum // (t.total // 10), 10)
                 - least((c.cum - c.w) // (t.total // 10), 10)
                 AS multiplicity
        FROM c JOIN t ON t.source = c.source
        WHERE t.total // 10 >= 1
    )
    SELECT source, doc_id, w AS weight,
           CAST(multiplicity AS BIGINT) AS multiplicity
    FROM m WHERE multiplicity >= 1
    """,
)
def pps_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPS systematic sample of 10 documents per source, weighted by
    byte size (n_chars) - the replayable weighted sampler a mixing
    pipeline draws with when longer documents should be
    proportionally likelier (token-budget-aware sampling), next to
    the uniform md5 hash_split and the exact-k stratified sampler.
    Selection is operators.text.pps_systematic: integer cumulative
    intervals, k evenly spaced points, multiplicity = two integer
    divisions - no rand() (reruns agree), no float priorities (the
    A-ES exponential-key ranking would sit on transcendentals, the
    tfidf 1-ulp hazard this battery quarantines to one query).
    Per-source sum(multiplicity) == 10 exactly; the python replay
    asserts it."""
    from ..operators.text import pps_systematic

    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    return pps_systematic(d, "doc_id", "source", "n_chars", k=10)
