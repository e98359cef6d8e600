"""Round-8 analytics extensions - registered past the certified
window (parity-verified locally by tools/parity.py, the driver's
identical check, no certificate).

Same cross-engine exactness discipline as plans/analytics_ext and
analytics_r7: every corpus-sized reduction is an integer (int-cents
fix-point, bigint counts), selections instead of interpolations, and
any final float is ONE fixed IEEE expression over those integers - so
the DuckDB oracles replay each query bit-for-bit with no rounding
tolerance. Binned tiers replay the width_bucket grid arithmetic the
same way weighted_median_binned certifies it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.ranking import word_tokens
from .registry import q


@q(
    "ltv_quintiles_binned",
    oracle="""
    WITH cust AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS spend_c,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    bnd AS (
        SELECT CAST(min(spend_c) AS DOUBLE) AS lo,
               CAST(max(spend_c) AS DOUBLE) AS hi
        FROM cust
    ),
    d AS (
        SELECT segment,
               CASE WHEN CAST(spend_c AS DOUBLE) >= bnd.hi
                    THEN CAST(65 AS BIGINT)
                    ELSE CAST(floor(
                        64.0 * (CAST(spend_c AS DOUBLE) - bnd.lo)
                        / (bnd.hi - bnd.lo) + 1) AS BIGINT)
               END AS bkt,
               CAST(count(*) AS BIGINT) AS t,
               CAST(sum(n_orders) AS BIGINT) AS ords,
               CAST(sum(spend_c) AS BIGINT) AS s
        FROM cust, bnd
        GROUP BY 1, 2
    ),
    stepped AS (
        SELECT segment, bkt, t, ords, s,
               CAST(sum(t) OVER (PARTITION BY segment ORDER BY bkt)
                    AS BIGINT) AS cum_u,
               CAST(sum(t) OVER (PARTITION BY segment) AS BIGINT) AS tot_u,
               CAST(sum(s) OVER (PARTITION BY segment) AS BIGINT) AS tot_s
        FROM d
    ),
    b AS (
        SELECT segment,
               CAST(ceil(CAST(cum_u AS DOUBLE) * 5
                         / CAST(tot_u AS DOUBLE)) AS BIGINT) AS quintile,
               CAST(sum(t) AS BIGINT) AS n_customers,
               CAST(sum(ords) AS BIGINT) AS n_orders,
               CAST(sum(s) AS BIGINT) AS spend_sum,
               max(tot_s) AS tot_s
        FROM stepped GROUP BY 1, 2
    )
    SELECT segment, quintile, n_customers, n_orders,
           CAST(spend_sum AS DOUBLE) / CAST(tot_s AS DOUBLE)
             AS spend_share,
           CAST(spend_sum AS DOUBLE) / CAST(n_customers AS DOUBLE) / 100.0
             AS avg_spend
    FROM b
    """,
)
def ltv_quintiles_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ltv_quintiles`` under the binned scale tier: int-cents
    lifetime spend is NEAR-UNIQUE (the continuous-value case), so the
    exact tier's per-segment cumulative window input is ~customer
    count on 5-way segment parallelism - the degenerate shape the
    family's ``bins=`` tier exists for. Spend quantizes onto the
    64-bucket ``width_bucket`` grid (``operators.profile.grid_bounds``
    resolves the bounds: one global min/max scalar here; pass pinned
    bounds to skip even that) BEFORE the tie-group collapse, so the
    quintile window runs over at most 66 rows per segment at ANY
    corpus size. Customer/order counts and spend sums stay EXACT
    bigints (quantization only coarsens the quintile BOUNDARY - each
    boundary lands on a bucket edge instead of an exact customer
    rank); shares and averages remain single IEEE divisions. The
    oracle replays the grid arithmetic bit-for-bit
    (floor(bins*(v-lo)/(hi-lo)+1), hi -> bins+1), the same replay
    weighted_median_binned certifies."""
    from ..operators.profile import grid_bounds

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("segment", "o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("spend_c"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    lo, hi = grid_bounds(cust, F.col("spend_c"), 64, None)
    bkt = F.width_bucket(
        F.col("spend_c").cast("double"), F.lit(lo), F.lit(hi), F.lit(64)
    )
    d = cust.groupBy("segment", bkt.alias("bkt")).agg(
        F.count(F.lit(1)).alias("t"),
        F.sum("n_orders").alias("ords"),
        F.sum("spend_c").alias("s"),
    )
    wv = W.partitionBy("segment").orderBy("bkt")
    wt = W.partitionBy("segment")
    stepped = d.select(
        "segment",
        "bkt",
        "t",
        "ords",
        "s",
        F.sum("t").over(wv).alias("cum_u"),
        F.sum("t").over(wt).alias("tot_u"),
        F.sum("s").over(wt).alias("tot_s"),
    )
    quintile = F.ceil(
        F.col("cum_u").cast("double") * 5 / F.col("tot_u").cast("double")
    ).cast("bigint")
    b = stepped.groupBy("segment", quintile.alias("quintile")).agg(
        F.sum("t").alias("n_customers"),
        F.sum("ords").alias("n_orders"),
        F.sum("s").alias("spend_sum"),
        F.max("tot_s").alias("_ts"),
    )
    return b.select(
        "segment",
        "quintile",
        "n_customers",
        "n_orders",
        (
            F.col("spend_sum").cast("double") / F.col("_ts").cast("double")
        ).alias("spend_share"),
        (
            F.col("spend_sum").cast("double")
            / F.col("n_customers").cast("double")
            / 100.0
        ).alias("avg_spend"),
    )


@q(
    "markov_transitions",
    oracle="""
    WITH nxt AS (
        SELECT event_type AS from_event,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_event
        FROM events
    ),
    c AS (
        SELECT from_event, to_event, CAST(count(*) AS BIGINT) AS n_pair
        FROM nxt WHERE to_event IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT from_event, CAST(sum(n_pair) AS BIGINT) AS n_from
        FROM c GROUP BY 1
    )
    SELECT c.from_event, c.to_event, c.n_pair, tot.n_from,
           CAST(c.n_pair AS DOUBLE) / CAST(tot.n_from AS DOUBLE) AS p
    FROM c JOIN tot ON tot.from_event = c.from_event
    """,
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams
    (operators.sessions.event_transitions): which event follows which,
    with exact bigint co-counts and a single-division probability -
    the "what do users do next" primitive behind journey analysis and
    synthetic-session generation. One per-user lead window pass
    (running frame, linear per partition, (ts, event_id)-pinned
    successor), then aggregations over the |event_types|^2-bounded
    pair table."""
    from ..operators.sessions import event_transitions

    e = load_table(spark, sf_dir, "events")
    return event_transitions(e, "user_id", "ts", "event_type", "event_id")


@q(
    "seasonal_deviation",
    oracle="""
    WITH g AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_ts,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT cur.event_type, cur.hour_ts, cur.n, prev.n AS n_prev,
           (CAST(cur.n AS DOUBLE) - CAST(prev.n AS DOUBLE))
             / CAST(prev.n AS DOUBLE) AS deviation,
           2 * abs(cur.n - prev.n) >= prev.n AS is_anomaly
    FROM g cur
    JOIN g prev ON prev.event_type = cur.event_type
                AND prev.hour_ts = cur.hour_ts - INTERVAL 24 HOUR
    """,
)
def seasonal_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive anomaly screen: each (event_type, hour) bucket
    count vs the SAME hour one day earlier - the classic ops-metrics
    "is today weird compared to yesterday" monitor. The grid is an
    aggregate (calendar x type bounded); the day-back comparison is
    an equi-join of the grid to itself on the shifted hour key (no
    window, no lag-over-gaps ambiguity - a missing previous hour
    yields no row rather than silently comparing to an older hour).
    Counts are bigints, the deviation ratio is one IEEE division,
    and the >=50%-swing flag is pure integer arithmetic
    (2*|n - n_prev| >= n_prev), so every column replays exactly."""
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n"))
    prev = g.select(
        "event_type",
        (F.col("hour_ts") + F.expr("INTERVAL 24 HOURS")).alias("hour_ts"),
        F.col("n").alias("n_prev"),
    )
    return g.join(prev, ["event_type", "hour_ts"]).select(
        "event_type",
        "hour_ts",
        "n",
        "n_prev",
        (
            (F.col("n").cast("double") - F.col("n_prev").cast("double"))
            / F.col("n_prev").cast("double")
        ).alias("deviation"),
        (2 * F.abs(F.col("n") - F.col("n_prev")) >= F.col("n_prev")).alias(
            "is_anomaly"
        ),
    )


@q(
    "pareto_abc",
    oracle="""
    WITH rev AS (
        SELECT p.p_brand AS brand,
               CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)) AS BIGINT)
                 AS revenue_c
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1
    ),
    stepped AS (
        SELECT brand, revenue_c,
               CAST(sum(revenue_c) OVER (ORDER BY revenue_c DESC, brand)
                    AS BIGINT) AS cum_c,
               CAST(sum(revenue_c) OVER () AS BIGINT) AS tot_c
        FROM rev
    )
    SELECT brand, revenue_c,
           CAST(cum_c AS DOUBLE) / CAST(tot_c AS DOUBLE) AS cum_share,
           CASE WHEN cum_c * 5 <= tot_c * 4 THEN 'A'
                WHEN cum_c * 20 <= tot_c * 19 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM stepped
    """,
)
def pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification of brands by discounted revenue:
    descending cumulative revenue share assigns class A to the brands
    carrying the first 80% of revenue, B to the next 15%, C to the
    tail - the inventory-management workhorse cut. Revenue fixes to
    int cents per line (one rounded IEEE product), sums are bigints,
    and BOTH class thresholds are pure integer comparisons (cum*5 <=
    tot*4, cum*20 <= tot*19) so the classes replay exactly - the only
    float in the output is the reported cumulative share (one
    division). The cumulative window is global BUT runs over the
    25-row brand aggregate (whitelisted: bounded by brand
    cardinality, never lineitem rows); ties are impossible under the
    (revenue DESC, brand) order since brand is the row key."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey"), F.col("p_brand").alias("brand")
    )
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("brand")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("revenue_c")
        )
    )
    wv = W.orderBy(F.col("revenue_c").desc(), "brand")
    wt = W.partitionBy()
    stepped = rev.select(
        "brand",
        "revenue_c",
        F.sum("revenue_c").over(wv).alias("cum_c"),
        F.sum("revenue_c").over(wt).alias("tot_c"),
    )
    return stepped.select(
        "brand",
        "revenue_c",
        (
            F.col("cum_c").cast("double") / F.col("tot_c").cast("double")
        ).alias("cum_share"),
        F.when(F.col("cum_c") * 5 <= F.col("tot_c") * 4, F.lit("A"))
        .when(F.col("cum_c") * 20 <= F.col("tot_c") * 19, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


@q(
    "order_reconciliation",
    oracle="""
    WITH l AS (
        SELECT l_orderkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                   * (1 + l_tax) * 100) AS BIGINT))
                    AS BIGINT) AS line_c,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem GROUP BY 1
    ),
    o AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS order_c
        FROM orders
    ),
    j AS (
        SELECT o.o_orderstatus, o.order_c, l.line_c, l.n_lines,
               CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END AS miss,
               CASE WHEN l.l_orderkey IS NOT NULL
                         AND abs(o.order_c - l.line_c) > 5
                    THEN 1 ELSE 0 END AS bad,
               CASE WHEN l.l_orderkey IS NOT NULL
                    THEN abs(o.order_c - l.line_c) ELSE 0 END AS adiff
        FROM o LEFT JOIN l ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(miss) AS BIGINT) AS n_no_lines,
           CAST(sum(bad) AS BIGINT) AS n_mismatched,
           CAST(max(adiff) AS BIGINT) AS max_abs_diff_c,
           CAST(sum(CASE WHEN miss = 0 THEN adiff ELSE 0 END) AS BIGINT)
             AS total_abs_diff_c
    FROM j GROUP BY 1
    """,
)
def order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-vs-lines financial reconciliation panel: per order
    status, how many orders have NO lines, how many disagree with
    their line-derived total beyond a 5-cent tolerance, and the
    worst / total absolute discrepancy - the accounting-integrity
    twin of the FK quality gates (fk_integrity checks key existence;
    this checks the MONEY adds up). Both sides fix to int cents with
    the same rounded IEEE expression (line total = extprice *
    (1-disc) * (1+tax)), the comparison and both discrepancy
    aggregates are pure bigint arithmetic, so every cell replays
    exactly. Shape: one lineitem aggregate shuffled on the order key,
    one broadcast-or-shuffle LEFT join to orders, one 3-row status
    aggregate - no windows at all. (On this synthetic fixture the
    generator does NOT enforce the TPC-H invariant, so the panel
    reports real mismatch mass - which is exactly the point of a
    reconciliation gate.)"""
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
    j = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("order_c"),
    ).join(l_agg, o.o_orderkey == l_agg.l_orderkey, "left")
    miss = F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)
    adiff = F.when(
        F.col("l_orderkey").isNotNull(),
        F.abs(F.col("order_c") - F.col("line_c")),
    ).otherwise(0)
    bad = F.when(
        F.col("l_orderkey").isNotNull() & (adiff > 5), 1
    ).otherwise(0)
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(miss).alias("n_no_lines"),
        F.sum(bad).alias("n_mismatched"),
        F.max(adiff).alias("max_abs_diff_c"),
        F.sum(F.when(miss == 0, adiff).otherwise(0)).alias(
            "total_abs_diff_c"
        ),
    )


@q(
    "boxplot_panel",
    oracle="""
    WITH g AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS t
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    stepped AS (
        SELECT event_type, v, t,
               CAST(sum(t) OVER (PARTITION BY event_type ORDER BY v)
                    AS BIGINT) AS cum,
               CAST(sum(t) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM g
    ),
    quart AS (
        SELECT event_type,
               CAST(max(n) AS BIGINT) AS n,
               min(CASE WHEN cum >= (n * 25 + 99) // 100 THEN v END)
                 AS p25_cents,
               min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN v END)
                 AS p50_cents,
               min(CASE WHEN cum >= (n * 75 + 99) // 100 THEN v END)
                 AS p75_cents
        FROM stepped GROUP BY event_type
    )
    SELECT q.event_type, q.n, q.p25_cents, q.p50_cents, q.p75_cents,
           q.p75_cents - q.p25_cents AS iqr_cents,
           CAST(sum(CASE WHEN 2 * g.v <
                              2 * q.p25_cents
                              - 3 * (q.p75_cents - q.p25_cents)
                         THEN g.t ELSE 0 END) AS BIGINT)
             AS n_low_outliers,
           CAST(sum(CASE WHEN 2 * g.v >
                              2 * q.p75_cents
                              + 3 * (q.p75_cents - q.p25_cents)
                         THEN g.t ELSE 0 END) AS BIGINT)
             AS n_high_outliers
    FROM quart q JOIN g ON g.event_type = q.event_type
    GROUP BY 1, 2, 3, 4, 5, 6
    """,
)
def boxplot_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-plot panel per event_type: exact positional quartiles
    (rank-from-counts over int-cents values - the percentile family's
    shared stepped machinery), IQR, and Tukey-fence outlier counts on
    BOTH sides. The 1.5*IQR fences never materialize as floats: the
    comparison doubles through (2*v < 2*p25 - 3*iqr and the mirrored
    upper form), so fence membership is pure bigint arithmetic and
    every output cell replays exactly. Outliers are counted from the
    per-(type, value) COUNT table joined back to the 5-row quartile
    frame (broadcast) - the fact stream is touched once, by the
    counting aggregate."""
    from ..operators.profile import percentile_pick, stepped_counts

    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    g = e.groupBy(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    ).agg(F.count(F.lit(1)).alias("t"))
    stepped = stepped_counts(g, ["event_type"], "v")
    quart = stepped.groupBy("event_type").agg(
        F.max("n").alias("n"),
        percentile_pick(25, "v", "p25_cents"),
        percentile_pick(50, "v", "p50_cents"),
        percentile_pick(75, "v", "p75_cents"),
    )
    iqr = F.col("p75_cents") - F.col("p25_cents")
    low = 2 * F.col("v") < 2 * F.col("p25_cents") - 3 * iqr
    high = 2 * F.col("v") > 2 * F.col("p75_cents") + 3 * iqr
    return (
        g.join(F.broadcast(quart), "event_type")
        .groupBy(
            "event_type", "n", "p25_cents", "p50_cents", "p75_cents"
        )
        .agg(
            F.sum(F.when(low, F.col("t")).otherwise(0)).alias(
                "n_low_outliers"
            ),
            F.sum(F.when(high, F.col("t")).otherwise(0)).alias(
                "n_high_outliers"
            ),
        )
        .select(
            "event_type",
            "n",
            "p25_cents",
            "p50_cents",
            "p75_cents",
            (F.col("p75_cents") - F.col("p25_cents")).alias("iqr_cents"),
            "n_low_outliers",
            "n_high_outliers",
        )
    )


@q(
    "abtest_conversion",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CASE WHEN (
                   (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1)
                     * 268435456
                 + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)
                     * 16777216
                 + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1)
                     * 1048576
                 + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)
                     * 65536
                 + (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1)
                     * 4096
                 + (strpos('0123456789abcdef', substr(hx, 6, 1)) - 1)
                     * 256
                 + (strpos('0123456789abcdef', substr(hx, 7, 1)) - 1)
                     * 16
                 + (strpos('0123456789abcdef', substr(hx, 8, 1)) - 1)
               ) % 10000 < 5000 THEN 'A' ELSE 'B' END AS arm,
               max(CASE WHEN event_type = 'purchase' AND value >= 150
                        THEN 1 ELSE 0 END) AS converted
        FROM (
            SELECT user_id, event_type, value,
                   md5(concat('42', ':', CAST(user_id AS VARCHAR))) AS hx
            FROM events
        )
        GROUP BY 1, 2
    ),
    s AS (
        SELECT
          CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END)
               AS BIGINT) AS c_a,
          CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
          CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END)
               AS BIGINT) AS c_b
        FROM u
    )
    SELECT n_a, c_a, n_b, c_b,
           CASE WHEN n_a > 0
                THEN CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS rate_a,
           CASE WHEN n_b > 0
                THEN CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) END AS rate_b,
           CASE WHEN n_a > 0 AND n_b > 0
                     AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b
                THEN (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                      - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                     / sqrt(
                         (CAST(c_a + c_b AS DOUBLE)
                            / CAST(n_a + n_b AS DOUBLE))
                         * (1 - CAST(c_a + c_b AS DOUBLE)
                                  / CAST(n_a + n_b AS DOUBLE))
                         * (1.0 / CAST(n_a AS DOUBLE)
                            + 1.0 / CAST(n_b AS DOUBLE))
                       ) END AS z
    FROM s
    """,
)
def abtest_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B conversion analysis end-to-end: users split into two arms
    by the AUDITABLE md5 hash (operators.text.hash_split, the same
    digit-replayable assignment the hash_split query certifies - arm
    membership is a pure function of user_id, never of partitioning),
    conversion = the user fired >=1 high-value purchase (value >= 150
    - on this fixture EVERY user has some purchase, so the raw event
    would be a degenerate 100% rate; the value cut lands ~50%), and the
    two-proportion pooled z-statistic comes out as ONE fixed IEEE
    expression over the four bigint counts (each rate one division,
    pooled p one division, one sqrt) - so even the test statistic
    replays bit-for-bit. Shape: one distinct-user aggregate (narrow
    map + one shuffle on user_id), then a single-row conditional
    aggregate; no windows, no joins."""
    from ..operators.text import hash_split

    e = load_table(spark, sf_dir, "events")
    u = (
        e.select(
            "user_id",
            hash_split(
                "user_id", {"A": 0.5, "B": 0.5}, seed=42, algo="md5"
            ).alias("arm"),
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 150),
                1,
            )
            .otherwise(0)
            .alias("is_purchase"),
        )
        .groupBy("user_id", "arm")
        .agg(F.max("is_purchase").alias("converted"))
    )
    s = u.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(
            F.when(F.col("arm") == "A", F.col("converted")).otherwise(0)
        ).alias("c_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("n_b"),
        F.sum(
            F.when(F.col("arm") == "B", F.col("converted")).otherwise(0)
        ).alias("c_b"),
    )
    conv = F.col("c_a") + F.col("c_b")
    users = F.col("n_a") + F.col("n_b")
    raw_rate_a = F.col("c_a").cast("double") / F.col("n_a").cast("double")
    raw_rate_b = F.col("c_b").cast("double") / F.col("n_b").cast("double")
    pooled = conv.cast("double") / users.cast("double")
    # degenerate designs (an empty arm, zero or universal conversion)
    # yield NULL instead of an ANSI divide-by-zero: the pooled
    # variance is exactly 0 there and no z is defined
    z = F.when(
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (conv > 0)
        & (conv < users),
        (raw_rate_a - raw_rate_b)
        / F.sqrt(
            pooled
            * (1 - pooled)
            * (
                F.lit(1.0) / F.col("n_a").cast("double")
                + F.lit(1.0) / F.col("n_b").cast("double")
            )
        ),
    )
    return s.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.when(F.col("n_a") > 0, raw_rate_a).alias("rate_a"),
        F.when(F.col("n_b") > 0, raw_rate_b).alias("rate_b"),
        z.alias("z"),
    )


@q(
    "rfm_segments",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               datediff('day', CAST(max(o_orderdate) AS DATE),
                        DATE '2001-12-31') AS rec_days,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS spend_c
        FROM orders GROUP BY 1
    ),
    bnd AS (
        SELECT CAST(min(spend_c) AS DOUBLE) AS lo,
               CAST(max(spend_c) AS DOUBLE) AS hi
        FROM cust
    ),
    cb AS (
        SELECT cust.*,
               CASE WHEN CAST(spend_c AS DOUBLE) >= bnd.hi
                    THEN CAST(65 AS BIGINT)
                    ELSE CAST(floor(
                        64.0 * (CAST(spend_c AS DOUBLE) - bnd.lo)
                        / (bnd.hi - bnd.lo) + 1) AS BIGINT)
               END AS m_bkt
        FROM cust, bnd
    ),
    rmap AS (
        SELECT rec_days,
               CAST(ceil(CAST(cum AS DOUBLE) * 3 / CAST(tot AS DOUBLE))
                    AS BIGINT) AS r_score
        FROM (
            SELECT rec_days,
                   CAST(sum(t) OVER (ORDER BY rec_days) AS BIGINT) AS cum,
                   CAST(sum(t) OVER () AS BIGINT) AS tot
            FROM (SELECT rec_days, CAST(count(*) AS BIGINT) AS t
                  FROM cb GROUP BY 1)
        )
    ),
    fmap AS (
        SELECT n_orders,
               CAST(ceil(CAST(cum AS DOUBLE) * 3 / CAST(tot AS DOUBLE))
                    AS BIGINT) AS f_score
        FROM (
            SELECT n_orders,
                   CAST(sum(t) OVER (ORDER BY n_orders) AS BIGINT) AS cum,
                   CAST(sum(t) OVER () AS BIGINT) AS tot
            FROM (SELECT n_orders, CAST(count(*) AS BIGINT) AS t
                  FROM cb GROUP BY 1)
        )
    ),
    mmap AS (
        SELECT m_bkt,
               CAST(ceil(CAST(cum AS DOUBLE) * 3 / CAST(tot AS DOUBLE))
                    AS BIGINT) AS m_score
        FROM (
            SELECT m_bkt,
                   CAST(sum(t) OVER (ORDER BY m_bkt) AS BIGINT) AS cum,
                   CAST(sum(t) OVER () AS BIGINT) AS tot
            FROM (SELECT m_bkt, CAST(count(*) AS BIGINT) AS t
                  FROM cb GROUP BY 1)
        )
    )
    SELECT r.r_score, f.f_score, m.m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cb.spend_c) AS BIGINT) AS spend_sum_c,
           CAST(sum(cb.spend_c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             / 100.0 AS avg_spend
    FROM cb
    JOIN rmap r ON r.rec_days = cb.rec_days
    JOIN fmap f ON f.n_orders = cb.n_orders
    JOIN mmap m ON m.m_bkt = cb.m_bkt
    GROUP BY 1, 2, 3
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored 1-3 on Recency (days
    from last order to the pinned as-of date 2001-12-31), Frequency
    (order count), and Monetary (int-cents lifetime spend), then the
    27-cell segment grid with counts and average spend - the classic
    CRM cut next to ltv_quintiles. Scores are VALUE-ASCENDING
    terciles by the family's rank-from-counts convention (score =
    ceil(3*cum/tot) of the value's last cumulative position): R=1 is
    most-recent, F=3/M=3 are the heaviest customers. The R and F
    axes are naturally bounded (calendar days / max orders per
    customer); the near-unique M axis quantizes onto the 64-bucket
    width_bucket grid FIRST (grid_bounds; the ltv_quintiles_binned
    defense), so ALL THREE tercile windows run over bounded
    value tables - whitelisted global windows, never customer rows.
    Each value->score map joins back broadcast; counts/sums are
    bigints, the average one IEEE division."""
    from ..operators.profile import grid_bounds

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_dt"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "spend_c"
        ),
    )
    cust = cust.withColumn(
        "rec_days",
        F.datediff(F.lit("2001-12-31").cast("date"), F.col("last_dt")),
    )
    lo, hi = grid_bounds(cust, F.col("spend_c"), 64, None)
    cb = cust.withColumn(
        "m_bkt",
        F.width_bucket(
            F.col("spend_c").cast("double"), F.lit(lo), F.lit(hi), F.lit(64)
        ),
    )

    def tercile_map(val: str, score_name: str) -> DataFrame:
        d = cb.groupBy(val).agg(F.count(F.lit(1)).alias("t"))
        stepped = d.select(
            val,
            F.sum("t").over(W.orderBy(val)).alias("cum"),
            F.sum("t").over(W.partitionBy()).alias("tot"),
        )
        return stepped.select(
            val,
            F.ceil(
                F.col("cum").cast("double") * 3 / F.col("tot").cast("double")
            )
            .cast("bigint")
            .alias(score_name),
        )

    scored = (
        cb.join(F.broadcast(tercile_map("rec_days", "r_score")), "rec_days")
        .join(F.broadcast(tercile_map("n_orders", "f_score")), "n_orders")
        .join(F.broadcast(tercile_map("m_bkt", "m_score")), "m_bkt")
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("spend_c").alias("spend_sum_c"),
        (
            F.sum("spend_c").cast("double")
            / F.count(F.lit(1)).cast("double")
            / 100.0
        ).alias("avg_spend"),
    )


@q(
    "tfidf_topk",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text),
                                                     '[^a-z]+'),
                                  x -> x <> '')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2
    ),
    df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    n AS (
        SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf
    ),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               round(CAST(tf.tf AS DOUBLE)
                     * ln(CAST(n.n_docs AS DOUBLE)
                          / CAST(df.df AS DOUBLE)), 6) AS tfidf
        FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rn
        FROM scored
    )
    SELECT doc_id, term, tf, df, tfidf, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 3
    """,
)
def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document - the per-doc keyword
    extractor next to the corpus-level inverted index and BM25:
    tfidf = round(tf * ln(N/df), 6) - ONE log over a ratio of bigints
    per (doc, term), rounded the SAME way on both engines and RANKED
    on the rounded value (JVM Math.log and libm disagree by an ulp on
    some inputs - the 1-ulp-within-correctly-rounded contract - so
    the raw double is the one float in the battery that does NOT
    replay; 6 decimals is ~6 orders of magnitude above ulp at this
    scale and far below any meaningful score gap). Never a float
    SUM. Tokenization is the engine-wide [^a-z]+ split the
    inverted_index oracle already certifies; N counts docs with >= 1
    token (from the tf table, no second corpus scan). The per-doc
    row_number filter sits DIRECTLY on the window so Spark plans the
    partial WindowGroupLimit below the exchange - each map task
    forwards at most 3 rows per doc; df joins at vocabulary size
    (AQE broadcasts), ties break on the term for a deterministic
    row set."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(word_tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = tf.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf").cast("double")
                * F.log(
                    F.col("n_docs").cast("double")
                    / F.col("df").cast("double")
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rn")
    )


@q(
    "conversion_latency",
    oracle="""
    WITH s AS (
        SELECT user_id, min(epoch_us(ts)) AS signup_us
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    p AS (
        SELECT s.user_id, s.signup_us,
               min(epoch_us(e.ts)) AS conv_us
        FROM s JOIN events e
          ON e.user_id = s.user_id
         AND e.event_type = 'purchase'
         AND epoch_us(e.ts) >= s.signup_us
        GROUP BY 1, 2
    ),
    lat AS (
        SELECT s.user_id,
               s.signup_us // 604800000000 AS signup_week,
               (p.conv_us - p.signup_us) // 1000000 AS lat_s
        FROM s LEFT JOIN p ON p.user_id = s.user_id
    ),
    d AS (
        SELECT signup_week, lat_s, CAST(count(*) AS BIGINT) AS t
        FROM lat WHERE lat_s IS NOT NULL GROUP BY 1, 2
    ),
    stepped AS (
        SELECT signup_week, lat_s,
               CAST(sum(t) OVER (PARTITION BY signup_week ORDER BY lat_s)
                    AS BIGINT) AS cum,
               CAST(sum(t) OVER (PARTITION BY signup_week) AS BIGINT) AS n
        FROM d
    ),
    pct AS (
        SELECT signup_week,
               CAST(max(n) AS BIGINT) AS n_converted,
               min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN lat_s END)
                 AS p50_s,
               min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN lat_s END)
                 AS p90_s
        FROM stepped GROUP BY 1
    ),
    coh AS (
        SELECT signup_us // 604800000000 AS signup_week,
               CAST(count(*) AS BIGINT) AS n_signups
        FROM s GROUP BY 1
    )
    SELECT coh.signup_week, coh.n_signups,
           coalesce(pct.n_converted, 0) AS n_converted,
           CAST(coalesce(pct.n_converted, 0) AS DOUBLE)
             / CAST(coh.n_signups AS DOUBLE) AS conv_rate,
           pct.p50_s, pct.p90_s
    FROM coh LEFT JOIN pct ON pct.signup_week = coh.signup_week
    """,
)
def conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert panel per signup week: each user's FIRST
    signup, their first purchase AT-OR-AFTER it, the latency in whole
    seconds, then per weekly cohort the signup count, converted
    count, conversion rate (one division) and exact positional
    p50/p90 latency (the shared stepped-counts machinery - windows
    over distinct-latency cardinality, which the event horizon
    bounds). Weeks AND latencies are epoch-microsecond integer DIV
    (never a double division + truncate, which can cross an integer
    boundary when the quotient rounds), so the buckets replay
    exactly. Cohorts with
    zero conversions keep their row (LEFT join; NULL percentiles,
    rate 0) - absence of converters is the signal, not a missing
    key. Shape: two user-keyed aggregates + one user-keyed join, one
    cohort aggregate; min() over the purchase join needs no window."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("signup_us"))
    )
    pe = e.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("p_us")
    )
    p = (
        s.join(pe, "user_id")
        .filter(F.col("p_us") >= F.col("signup_us"))
        .groupBy("user_id", "signup_us")
        .agg(F.min("p_us").alias("conv_us"))
    )
    week = F.expr("signup_us DIV 604800000000")
    lat = s.join(
        p.select("user_id", "conv_us"), "user_id", "left"
    ).select(
        "user_id",
        F.expr("signup_us DIV 604800000000").alias("signup_week"),
        F.expr("(conv_us - signup_us) DIV 1000000").alias("lat_s"),
    )
    from ..operators.profile import percentile_pick, stepped_counts

    d = (
        lat.filter(F.col("lat_s").isNotNull())
        .groupBy("signup_week", "lat_s")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    stepped = stepped_counts(d, ["signup_week"], "lat_s")
    pct = stepped.groupBy("signup_week").agg(
        F.max("n").alias("n_converted"),
        percentile_pick(50, "lat_s", "p50_s"),
        percentile_pick(90, "lat_s", "p90_s"),
    )
    coh = s.groupBy(week.alias("signup_week")).agg(
        F.count(F.lit(1)).alias("n_signups")
    )
    return coh.join(pct, "signup_week", "left").select(
        "signup_week",
        "n_signups",
        F.coalesce(F.col("n_converted"), F.lit(0)).alias("n_converted"),
        (
            F.coalesce(F.col("n_converted"), F.lit(0)).cast("double")
            / F.col("n_signups").cast("double")
        ).alias("conv_rate"),
        "p50_s",
        "p90_s",
    )


@q(
    "cohort_ltv_triangle",
    oracle="""
    WITH o AS (
        SELECT o_custkey,
               epoch_us(o_orderdate) // 604800000000 AS wk,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        FROM orders
    ),
    first_wk AS (
        SELECT o_custkey, min(wk) AS cohort_wk FROM o GROUP BY 1
    ),
    sized AS (
        SELECT cohort_wk, CAST(count(*) AS BIGINT) AS cohort_n
        FROM first_wk GROUP BY 1
    ),
    cell AS (
        SELECT f.cohort_wk, o.wk - f.cohort_wk AS age_wk,
               CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
               CAST(sum(o.price_c) AS BIGINT) AS revenue_c
        FROM o JOIN first_wk f ON f.o_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    tri AS (
        SELECT cohort_wk, age_wk, n_active, revenue_c,
               CAST(sum(revenue_c) OVER (PARTITION BY cohort_wk
                                         ORDER BY age_wk)
                    AS BIGINT) AS cum_revenue_c
        FROM cell
    )
    SELECT t.cohort_wk, t.age_wk, t.n_active, t.revenue_c,
           t.cum_revenue_c,
           CAST(t.cum_revenue_c AS DOUBLE) / CAST(s.cohort_n AS DOUBLE)
             / 100.0 AS cum_ltv_per_customer
    FROM tri t JOIN sized s ON s.cohort_wk = t.cohort_wk
    """,
)
def cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV development triangle - the subscription-analytics
    staple behind payback-period curves: customers cohort by FIRST
    order week, every order lands in the (cohort, age-in-weeks) cell,
    and each cohort's cumulative revenue develops along the age axis.
    Week buckets are epoch-microsecond integer DIV (the
    conversion_latency rule), revenue is int cents, the development
    window is partitioned per cohort over the AGE GRID (weeks since
    first order - calendar-bounded, never order rows), and cumulative
    LTV per cohort customer is one IEEE division at the end. Shape:
    one customer-keyed first-order aggregate joined back (AQE
    broadcasts the dim-sized cohort map), one (cohort, age) cell
    aggregate, one grid-bounded window."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "unix_micros(cast(o_orderdate as timestamp))"
            " DIV 604800000000"
        ).alias("wk"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
    )
    first_wk = o.groupBy("o_custkey").agg(F.min("wk").alias("cohort_wk"))
    sized = first_wk.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("cohort_n")
    )
    cell = (
        o.join(first_wk, "o_custkey")
        .groupBy(
            "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("age_wk")
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum("price_c").alias("revenue_c"),
        )
    )
    wv = W.partitionBy("cohort_wk").orderBy("age_wk")
    tri = cell.select(
        "cohort_wk",
        "age_wk",
        "n_active",
        "revenue_c",
        F.sum("revenue_c").over(wv).alias("cum_revenue_c"),
    )
    return tri.join(F.broadcast(sized), "cohort_wk").select(
        "cohort_wk",
        "age_wk",
        "n_active",
        "revenue_c",
        "cum_revenue_c",
        (
            F.col("cum_revenue_c").cast("double")
            / F.col("cohort_n").cast("double")
            / 100.0
        ).alias("cum_ltv_per_customer"),
    )


@q(
    "share_shift",
    oracle="""
    WITH b AS (
        SELECT s.s_nationkey AS nation,
               CASE WHEN epoch_us(o.o_orderdate)
                         < epoch_us(TIMESTAMP '1998-01-01') THEN 0
                    ELSE 1 END AS period,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS rev_c
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
    ),
    per AS (
        SELECT nation, period, CAST(sum(rev_c) AS BIGINT) AS rev_c
        FROM b GROUP BY 1, 2
    ),
    tot AS (
        SELECT period, CAST(sum(rev_c) AS BIGINT) AS tot_c
        FROM per GROUP BY 1
    ),
    wide AS (
        SELECT n.nation,
               coalesce(p0.rev_c, 0) AS rev0_c,
               coalesce(p1.rev_c, 0) AS rev1_c
        FROM (SELECT DISTINCT nation FROM per) n
        LEFT JOIN per p0 ON p0.nation = n.nation AND p0.period = 0
        LEFT JOIN per p1 ON p1.nation = n.nation AND p1.period = 1
    )
    SELECT w.nation, w.rev0_c, w.rev1_c,
           CAST(w.rev0_c AS DOUBLE) / CAST(t0.tot_c AS DOUBLE) AS share0,
           CAST(w.rev1_c AS DOUBLE) / CAST(t1.tot_c AS DOUBLE) AS share1,
           CAST(w.rev1_c AS DOUBLE) / CAST(t1.tot_c AS DOUBLE)
             - CAST(w.rev0_c AS DOUBLE) / CAST(t0.tot_c AS DOUBLE)
             AS share_delta,
           CAST(w.rev1_c AS HUGEINT) * CAST(t0.tot_c AS HUGEINT)
             > CAST(w.rev0_c AS HUGEINT) * CAST(t1.tot_c AS HUGEINT)
             AS gained
    FROM wide w
    CROSS JOIN (SELECT tot_c FROM tot WHERE period = 0) t0
    CROSS JOIN (SELECT tot_c FROM tot WHERE period = 1) t1
    """,
)
def share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period market-share shift by supplier nation:
    discounted revenue split at the pinned 1998-01-01 boundary, each
    nation's share in both periods, the share delta, and a GAINED
    flag computed as a pure integer cross-multiplication
    (rev1*tot0 > rev0*tot1 in decimal(38,0) - no float threshold and
    no int64 wrap, so the movers set replays exactly even when the
    share delta is at float noise scale). Nations absent from a period keep a zero row (LEFT joins
    from the nation spine). Shape: one fact join tree collapsed to
    the 25 x 2 (nation, period) table, everything after runs on that
    - the two period totals broadcast back as scalars."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            < F.unix_micros(F.lit("1998-01-01").cast("timestamp")),
            0,
        )
        .otherwise(1)
        .alias("period"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_nationkey").alias("nation")
    )
    b = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .select(
            "nation",
            "period",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
            .cast("bigint")
            .alias("rev_c"),
        )
    )
    per = b.groupBy("nation", "period").agg(F.sum("rev_c").alias("rev_c"))
    tot = per.groupBy("period").agg(F.sum("rev_c").alias("tot_c"))
    spine = per.select("nation").distinct()
    p0 = per.filter(F.col("period") == 0).select(
        "nation", F.col("rev_c").alias("rev0_c")
    )
    p1 = per.filter(F.col("period") == 1).select(
        "nation", F.col("rev_c").alias("rev1_c")
    )
    t0 = tot.filter(F.col("period") == 0).select(
        F.col("tot_c").alias("tot0_c")
    )
    t1 = tot.filter(F.col("period") == 1).select(
        F.col("tot_c").alias("tot1_c")
    )
    wide = (
        spine.join(p0, "nation", "left")
        .join(p1, "nation", "left")
        .select(
            "nation",
            F.coalesce(F.col("rev0_c"), F.lit(0)).alias("rev0_c"),
            F.coalesce(F.col("rev1_c"), F.lit(0)).alias("rev1_c"),
        )
        .crossJoin(F.broadcast(t0))
        .crossJoin(F.broadcast(t1))
    )
    share0 = F.col("rev0_c").cast("double") / F.col("tot0_c").cast("double")
    share1 = F.col("rev1_c").cast("double") / F.col("tot1_c").cast("double")
    return wide.select(
        "nation",
        "rev0_c",
        "rev1_c",
        share0.alias("share0"),
        share1.alias("share1"),
        (share1 - share0).alias("share_delta"),
        # decimal(38,0) products: cent-sums reach ~1e12 at sf0.1, so
        # the cross-multiplication tops 1e24 - far past int64 (DuckDB
        # auto-promotes to int128; Spark must be told)
        (
            F.col("rev1_c").cast("decimal(38,0)")
            * F.col("tot0_c").cast("decimal(38,0)")
            > F.col("rev0_c").cast("decimal(38,0)")
            * F.col("tot1_c").cast("decimal(38,0)")
        ).alias("gained"),
    )


@q(
    "dedup_containment",
    oracle="""
    WITH sh AS (
        SELECT doc_id, source,
               list_distinct([
                   w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   for i in generate_series(1, greatest(len(w) - 2, 0))
               ]) AS shingles
        FROM (SELECT doc_id, source, regexp_split_to_array(text, '\\s+') AS w
              FROM documents)
    )
    SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / greatest(least(len(a.shingles), len(b.shingles)), 1),
                 6) AS containment
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / greatest(least(len(a.shingles), len(b.shingles)), 1) > 0.05
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-containment near-dup pairs (|A∩B| / min(|A|,|B|), 3-gram
    shingles, within-source buckets) - the SUBSET-duplication
    detector Jaccard structurally misses: a short doc wholly embedded
    in a long one has tiny |A∩B|/|A∪B| (the union is dominated by
    the long doc) but containment 1.0. Same inverted-index join as
    dedup_ngram_jaccard (operators.dedup.ngram_jaccard_pairs,
    metric='containment') - postings equi-join on (bucket, shingle),
    never all-pairs, intersection from a count, the metric one IEEE
    division over the same (common, |A|, |B|) triple."""
    from ..operators.dedup import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", "source", n=3, threshold=0.05,
        metric="containment",
    )
    return pairs.select(
        "source",
        "id_a",
        "id_b",
        F.round("containment", 6).alias("containment"),
    )


def _fd_cell(df: DataFrame, label: str, det: list[str], dep: str) -> DataFrame:
    """One fd_panel row: violation stats for a declared dependency in
    a SINGLE pass - the per-determinant distinct count (NULL folded in
    as a distinct state, the same rule as
    operators.quality.fd_violations) feeds one summary aggregate, so
    each cell costs exactly one scan + one partial-combined shuffle
    (the old shape scanned its table twice: once for violations, once
    for the key count)."""
    has_null = F.max(F.when(F.col(dep).isNull(), 1).otherwise(0))
    per_key = df.groupBy(*det).agg(
        (F.countDistinct(dep) + has_null).alias("n_distinct"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    bad = F.col("n_distinct") > 1
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.coalesce(
            F.sum(F.when(bad, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
        ).alias("n_violating"),
        F.coalesce(
            F.sum(F.when(bad, F.col("n_rows")).otherwise(F.lit(0))),
            F.lit(0),
        ).alias("rows_in_violation"),
    ).select(
        F.lit(label).alias("fd"),
        "n_keys",
        "n_violating",
        "rows_in_violation",
        (F.col("n_violating") == 0).alias("holds"),
    )


@q(
    "fd_panel",
    oracle="""
    WITH allc AS (
        SELECT 'orders: o_orderkey -> o_orderstatus' AS fd,
               CAST(o_orderkey AS VARCHAR) AS k, o_orderstatus AS d
        FROM orders
        UNION ALL
        SELECT 'lineitem: l_orderkey -> l_returnflag',
               CAST(l_orderkey AS VARCHAR), l_returnflag
        FROM lineitem
        UNION ALL
        SELECT 'lineitem: l_partkey -> l_suppkey',
               CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'customer: c_nationkey -> c_mktsegment',
               CAST(c_nationkey AS VARCHAR), c_mktsegment
        FROM customer
        UNION ALL
        SELECT 'part: p_brand -> p_type', p_brand, p_type
        FROM part
    ),
    per_key AS (
        SELECT fd, k,
               CAST(count(DISTINCT d)
                    + max(CASE WHEN d IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_distinct,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM allc GROUP BY 1, 2
    )
    SELECT fd,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN n_distinct > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violating,
           CAST(sum(CASE WHEN n_distinct > 1 THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_in_violation,
           sum(CASE WHEN n_distinct > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM per_key GROUP BY fd
    """,
)
def fd_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit panel
    (operators.quality.fd_violations): five declared dependencies
    checked in one report - key uniqueness FDs that must hold
    (o_orderkey -> o_orderstatus) next to business FDs that
    legitimately fail on TPC-H-shaped data (an order mixes return
    flags, a part has several suppliers, a nation spans market
    segments) - n_keys / violating keys / rows inside violations per
    dependency, all exact bigint counts. The columns-RELATE gate
    beside fk_integrity's keys-EXIST gate. Each check is one
    partial-combined aggregate on its determinant; output is 5
    rows."""
    # the two lineitem FDs each scan their own NARROW projection (2
    # columns, columnar): the r9 persist that shared the 4-column
    # projection leaked a pinned InMemoryRelation into the caller's
    # session (no lazy-return release point), and the r10 eager
    # collect-and-rewrap that fixed the leak exempted the query from
    # the explain scanner (a LocalRelation has no plan to scan). Two
    # column-pruned scans cost less than either problem.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_partkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    cells = [
        _fd_cell(o, "orders: o_orderkey -> o_orderstatus",
                 ["o_orderkey"], "o_orderstatus"),
        _fd_cell(li, "lineitem: l_orderkey -> l_returnflag",
                 ["l_orderkey"], "l_returnflag"),
        _fd_cell(
            li.select(
                "l_partkey", F.col("l_suppkey").cast("string").alias("d")
            ),
            "lineitem: l_partkey -> l_suppkey",
            ["l_partkey"],
            "d",
        ),
        _fd_cell(c, "customer: c_nationkey -> c_mktsegment",
                 ["c_nationkey"], "c_mktsegment"),
        _fd_cell(p, "part: p_brand -> p_type", ["p_brand"], "p_type"),
    ]
    out = cells[0]
    for cell in cells[1:]:
        out = out.unionByName(cell)
    return out


@q(
    "rising_parts",
    oracle="""
    WITH mx AS (
        SELECT max(epoch_us(o_orderdate) // 604800000000) AS last_wk
        FROM orders
    ),
    f AS (
        SELECT l.l_partkey,
               epoch_us(o.o_orderdate) // 604800000000 AS wk,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    wide AS (
        SELECT p.l_partkey,
               coalesce(cur.n, 0) AS n_cur,
               coalesce(prev.n, 0) AS n_prev
        FROM (SELECT DISTINCT l_partkey FROM f) p
        CROSS JOIN mx
        LEFT JOIN f cur ON cur.l_partkey = p.l_partkey
                        AND cur.wk = mx.last_wk
        LEFT JOIN f prev ON prev.l_partkey = p.l_partkey
                         AND prev.wk = mx.last_wk - 1
    )
    SELECT l_partkey, n_cur, n_prev, n_cur - n_prev AS delta
    FROM wide
    WHERE n_cur > n_prev
    ORDER BY n_cur - n_prev DESC, l_partkey
    LIMIT 20
    """,
)
def rising_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 week-over-week rising parts: order-line counts in the
    corpus's LATEST week (max(wk) - typically a PARTIAL trailing
    week, so current-week counts trend low until the week closes;
    compare last_wk-1 vs last_wk-2 for closed-week semantics) vs the
    week before, risers ranked by the integer delta under a
    deterministic (delta DESC, partkey) order - the trending-SKU cut,
    and the batch counterpart of the streaming trending monitor (that
    one ranks cumulative mass; this ranks CHANGE). Weeks are
    epoch-microsecond integer DIV. The (part, week) aggregate - the
    query's dominant cost, one lineitem-orders join + one shuffle -
    runs exactly ONCE: the last-week scalar comes from the orders
    table alone (the oracle's definition - deriving it from the
    joined aggregate would diverge when the newest week has only
    line-less orders) and broadcasts back, and cur/prev/spine
    collapse into a single conditional re-aggregate (no self-joins,
    no distinct-spine branch, no multi-consumer stage to persist).
    Parts absent from a week count 0 via the conditional sums, so
    new entrants rank by their full count.
    Everything is bigint arithmetic - no float anywhere - and the
    top-20 runs as TakeOrderedAndProject over the part-aggregated
    table, never raw lines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "unix_micros(cast(o_orderdate as timestamp)) DIV 604800000000"
        ).alias("wk"),
    )
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_partkey", "wk")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # last_wk from ORDERS, exactly like the oracle's mx CTE - deriving
    # it from the joined aggregate would silently diverge the moment
    # the newest order week contains only line-less orders (a corpus
    # class reconcile_worklist reports as 'no_lines'); this also
    # leaves f single-consumer, so no persist is needed - the
    # join+aggregate runs exactly once
    mx = o.agg(F.max("wk").alias("last_wk"))
    wide = (
        f.crossJoin(F.broadcast(mx))
        .groupBy("l_partkey")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("wk") == F.col("last_wk"), F.col("n"))
                    .otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias("n_cur"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("wk") == F.col("last_wk") - 1, F.col("n")
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias("n_prev"),
        )
    )
    return (
        wide.filter(F.col("n_cur") > F.col("n_prev"))
        .select(
            "l_partkey",
            "n_cur",
            "n_prev",
            (F.col("n_cur") - F.col("n_prev")).alias("delta"),
        )
        .orderBy(F.col("delta").desc(), "l_partkey")
        .limit(20)
    )
