"""Round-13 analytics extensions - registered past the certified
window (parity-verified locally by tools/parity.py, the driver's
identical check, no certificate).

Same cross-engine exactness discipline as the earlier analytics
batteries: corpus-sized reductions stay integer (gate comparisons are
cross-multiplied integer tests, never float thresholds), selections
instead of interpolations, and any final float is ONE fixed IEEE
expression over exact integers, so the DuckDB oracles replay each
query bit-for-bit with no rounding tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.ranking import word_tokens
from ..operators.text import ngrams
from .registry import q

_WORDS = "list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')"


@q(
    "dup_ngram_spans",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, {_WORDS} AS ws FROM documents
    ),
    sh AS (
        SELECT doc_id, source,
               list_distinct(list_transform(
                   generate_series(1, len(ws) - 4),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        || ' ' || ws[i+3] || ' ' || ws[i+4]
               )) AS t
        FROM w WHERE len(ws) >= 5
    ),
    posts AS (SELECT doc_id, source, unnest(t) AS g FROM sh),
    df AS (SELECT g, count(*) AS d FROM posts GROUP BY 1),
    per_doc AS (
        SELECT p.doc_id, any_value(p.source) AS source,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(count(*) FILTER (WHERE df.d >= 2) AS BIGINT) AS n_dup
        FROM posts p JOIN df ON df.g = p.g
        GROUP BY p.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_grams) AS BIGINT) AS total_grams,
           CAST(sum(n_dup) AS BIGINT) AS dup_grams,
           CAST(sum(n_dup) AS DOUBLE) / CAST(sum(n_grams) AS BIGINT)
               AS dup_frac
    FROM per_doc GROUP BY source
    """,
)
def dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span detection - the substring tier of the dedup
    stack (the signal behind suffix-array substring dedup in
    'Deduplicating Training Data Makes Language Models Better', Lee
    et al. 2022, recast as a distributed posting aggregation): a
    word 5-gram appearing in >= 2 distinct documents is a DUPLICATED
    SPAN, and a document's duplicated-gram fraction measures how much
    of it is boilerplate/copied text even when no whole-document pair
    crosses a Jaccard threshold. Output: per-source document count,
    total/duplicated distinct-gram counts, and the duplicated
    fraction (the per-source "how much of this crawl is recycled"
    panel a corpus curator cuts on).

    Scale shape (r15 join-elimination rewrite, guide section 2.4 -
    identical per-source output, one corpus-sized shuffle instead of
    three): the panel only needs PER-SOURCE sums, and a per-doc gram
    is duplicated iff its gram's corpus occurrence count is >= 2, so
    ``dup_grams = total_grams - |postings whose gram is unique|`` -
    and a UNIQUE gram (exactly one posting corpus-wide) knows its one
    posting's source from ``any_value(source)`` inside the same gram
    aggregate. That removes the posting-to-df equi-join (which
    re-shuffled every posting row on the gram key) and the per-doc
    rollup shuffle outright; what remains is ONE partial-aggregated
    groupBy on the gram key carrying an 8-byte count plus the source
    label, and two source-cardinality-bounded aggregates. doc_id no
    longer rides the posting rows at all. The old plan's skew note
    is moot - the join is gone; a hyper-common gram is now one
    map-side-combined count row. Exactness unchanged: every count is
    bigint; dup_frac is the single IEEE division of two bigints,
    identical in DuckDB (r15 rewrite parity-verified at both driver
    scales)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", word_tokens("text").alias("ws")
    ).filter(F.size("ws") >= 5)
    sh = d.select("source", F.array_distinct(ngrams(F.col("ws"), 5)).alias("t"))
    tot = sh.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("t").cast("bigint")).alias("total_grams"),
    )
    posts = sh.select("source", F.explode("t").alias("g"))
    uniq = (
        posts.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("d"),
            # exact for the d == 1 groups we keep: the group's single
            # posting IS the source; >= 2 groups are filtered out
            F.any_value("source").alias("source"),
        )
        .filter(F.col("d") == 1)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("uniq_grams"))
    )
    dup = F.col("total_grams") - F.coalesce("uniq_grams", F.lit(0))
    return tot.join(uniq, "source", "left").select(
        "source",
        "n_docs",
        "total_grams",
        dup.alias("dup_grams"),
        (dup.cast("double") / F.col("total_grams")).alias("dup_frac"),
    )


@q(
    "gopher_rules",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, lang, {_WORDS} AS ws FROM documents
    ),
    m AS (
        SELECT doc_id, lang,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(list_aggregate(list_transform(ws, x -> strlen(x)),
                                   'sum') AS BIGINT) AS sum_len,
               CAST(list_aggregate(list_transform(ws, x -> strlen(x)),
                                   'max') AS BIGINT) AS max_len
        FROM w WHERE len(ws) > 0
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE
               n_words BETWEEN 50 AND 100000
               AND sum_len >= 3 * n_words
               AND sum_len <= 10 * n_words
               AND max_len <= 20) AS BIGINT) AS n_pass,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(sum_len) AS BIGINT) AS total_chars
    FROM m GROUP BY lang
    """,
)
def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gates (the repetition-free rule
    subset of Rae et al. 2021's quality filtering, the standard
    pre-training corpus cut): word count in [50, 100000] (the
    authentic Gopher bound - the discriminating gate on short crawl
    fragments), MEAN word length in [3, 10], no word over 20 characters. Output per
    language: docs, docs passing all gates, total words/chars.

    Exactness: the mean-word-length gate is evaluated as the
    cross-multiplied INTEGER comparison 3*n <= sum_len <= 10*n -
    no float mean ever decides a gate, so both engines agree on
    every boundary document bit-for-bit. Scale shape: one narrow
    projection (in-row array folds - aggregate/transform, no
    explode), one hash aggregate on the language key; linear,
    scan-bound, partial-aggregated."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", word_tokens("text").alias("ws")
    ).filter(F.size("ws") > 0)
    m = d.select(
        "lang",
        F.size("ws").cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform("ws", F.length),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
        F.array_max(F.transform("ws", F.length)).cast("bigint").alias(
            "max_len"
        ),
    )
    gate = (
        F.col("n_words").between(50, 100000)
        & (F.col("sum_len") >= 3 * F.col("n_words"))
        & (F.col("sum_len") <= 10 * F.col("n_words"))
        & (F.col("max_len") <= 20)
    )
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(gate).alias("n_pass"),
        F.sum("n_words").alias("total_words"),
        F.sum("sum_len").alias("total_chars"),
    )


@q(
    "group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL certification (the Spark 4 /
    DuckDB convenience surface): grouping on every non-aggregate
    select item and ordering on the full select list must plan
    exactly as the explicit spelling - the oracle runs the SAME
    clauses on DuckDB, so the certification is that both engines
    resolve ALL to the same column set and the aggregate is
    unchanged. Exactness: cents as bigint of round(price*100)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "_gba_orders_r13"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM _gba_orders_r13
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@q(
    "agg_filter_clause",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
               AS n_discounted,
           CAST(sum(CAST(l_quantity AS BIGINT))
                FILTER (WHERE l_tax > 0.03) AS BIGINT) AS taxed_qty,
           CAST(count(DISTINCT l_suppkey)
                FILTER (WHERE l_returnflag = 'R') AS BIGINT)
               AS r_suppliers
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER (WHERE ...) clause certification (SQL:2003
    T612, the per-aggregate predicate surface): three aggregates over
    three DIFFERENT row subsets in ONE grouping pass - count under
    one predicate, sum under another, distinct-count under a third -
    must equal the same clauses on DuckDB. The planner folds each
    filter into the aggregate's update condition (one scan, one
    shuffle - not three self-joined subqueries, which is what the
    clause exists to replace). Exactness: quantities are
    integral-valued doubles cast to bigint before summing."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_afc_lineitem_r13"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n_lines,
               count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
               CAST(sum(CAST(l_quantity AS BIGINT))
                    FILTER (WHERE l_tax > 0.03) AS BIGINT) AS taxed_qty,
               count(DISTINCT l_suppkey)
                    FILTER (WHERE l_returnflag = 'R') AS r_suppliers
        FROM _afc_lineitem_r13 GROUP BY l_returnflag
        """
    )


@q(
    "win_ignore_nulls",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id,
               CAST(epoch_us(ts) AS BIGINT) AS us,
               CASE WHEN event_id % 3 = 0 THEN NULL
                    ELSE CAST(round(value * 100) AS BIGINT) END AS v
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    )
    SELECT user_id, event_id, us, v,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS carried,
           lead(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, event_id
           ) AS next_obs
    FROM e
    """,
)
def win_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window certification (SQL:2008 null treatment in
    navigation functions): last_value(...) IGNORE NULLS over a
    running frame is the canonical observation-carried-forward fill
    (the gap-fill primitive under resample_ffill), and lead(...)
    IGNORE NULLS is next-observation lookahead. Every third event's
    value is nulled BY RULE (event_id % 3 - same derivation on both
    engines), so the null pattern is deterministic, and the window
    order (us, event_id) is a unique total order - no peer ambiguity.
    Spark spells the treatment as a postfix clause, DuckDB inside the
    call; the certification is that both compute the same
    skip-the-nulls semantics row for row. Exactness: values become
    bigint cents before any window touches them."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "_inw_events_r13"
    )
    return spark.sql(
        """
        WITH e AS (
            SELECT user_id, event_id,
                   unix_micros(cast(ts as timestamp)) AS us,
                   CASE WHEN event_id % 3 = 0 THEN NULL
                        ELSE CAST(round(value * 100) AS BIGINT) END AS v
            FROM _inw_events_r13
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        )
        SELECT user_id, event_id, us, v,
               last_value(v) IGNORE NULLS OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS carried,
               lead(v) IGNORE NULLS OVER (
                   PARTITION BY user_id ORDER BY us, event_id
               ) AS next_obs
        FROM e
        """
    )


@q(
    "distinct_on_topn",
    oracle="""
    SELECT DISTINCT ON (user_id, event_type)
           user_id, event_type,
           event_id,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE user_id IS NOT NULL
    ORDER BY user_id, event_type, round(value * 100) DESC, event_id
    """,
)
def distinct_on_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON equivalence certification: the
    one-row-per-group-by-explicit-order surface (PostgreSQL/DuckDB
    DISTINCT ON) against its standard-SQL desugaring - row_number()
    over the same (partition, order) = 1. The tie-break chain
    (value DESC, then event_id) is a unique total order, so both
    engines must pick the identical representative row per
    (user, event_type). Spark has no DISTINCT ON; the desugared
    window IS the Spark spelling, and Catalyst plans it as
    WindowGroupLimit (rank pushdown - top-1 per group never
    materializes full partitions)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    from pyspark.sql import Window as W

    cents = F.round(F.col("value") * 100).cast("bigint")
    w = W.partitionBy("user_id", "event_type").orderBy(
        cents.desc(), F.col("event_id")
    )
    return (
        e.select(
            "user_id", "event_type", "event_id", cents.alias("cents"),
            F.row_number().over(w).alias("_rn"),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@q(
    "asof_native_sql",
    oracle="""
    WITH clicks AS (
        SELECT DISTINCT ON (user_id, ts)
               user_id, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE event_type = 'click' AND user_id IS NOT NULL
          AND ts IS NOT NULL
        ORDER BY user_id, ts, event_id DESC
    ),
    purchases AS (
        SELECT user_id, ts, event_id
        FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
          AND ts IS NOT NULL
    )
    SELECT p.user_id,
           p.event_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS us,
           c.event_id AS click_id,
           c.cents AS click_cents,
           CAST(epoch_us(c.ts) AS BIGINT) AS click_us
    FROM purchases p
    ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_native_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """as-of join vs a NATIVE ASOF JOIN oracle: the engine's
    operators.joins.asof_join (union -> one shuffle -> running
    last(ignorenulls) window) replayed against DuckDB's built-in
    ASOF LEFT JOIN - a STRONGER certification than the merge_asof
    pytest differential, because the oracle is an independent
    engine's dedicated join operator, not another formulation of the
    same window idea. Backward inclusive (latest click at or before
    each purchase, per user); right side deduplicated to one row per
    (user, ts) by max event_id FIRST on both engines, so the as-of
    tie-break never decides a row and the match is a pure time
    lookup. Unmatched purchases keep NULL click columns (LEFT
    semantics both sides)."""
    from ..operators.joins import asof_join

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    from pyspark.sql import Window as W

    cents = F.round(F.col("value") * 100).cast("bigint")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(
            "user_id", "ts", "event_id", cents.alias("cents"),
            F.row_number()
            .over(
                W.partitionBy("user_id", "ts").orderBy(
                    F.col("event_id").desc()
                )
            )
            .alias("_rn"),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_cols=["event_id", "cents", "ts"],
        direction="backward",
    )
    return joined.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.col("asof_event_id").alias("click_id"),
        F.col("asof_cents").alias("click_cents"),
        F.expr("unix_micros(cast(asof_ts as timestamp))").alias(
            "click_us"
        ),
    )


@q(
    "listagg_within_group",
    oracle="""
    SELECT o_orderpriority,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY o_orderkey) AS keys_csv,
           CAST(count(*) AS BIGINT) AS n
    FROM orders WHERE o_orderkey < 800
    GROUP BY o_orderpriority
    """,
)
def listagg_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG ... WITHIN GROUP (ORDER BY ...) certification (SQL:2016
    T625, the Spark 4 ordered string aggregation): element order
    inside the concatenated string is DEFINED, not
    accumulation-order-lucky - the oracle replays it as DuckDB's
    string_agg with its ORDER BY argument. Keyed below 800 so the
    strings stay row-sized; the order key is unique, so both engines
    must produce byte-identical CSVs."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "_lwg_orders_r13"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(CAST(o_orderkey AS STRING), ',')
                   WITHIN GROUP (ORDER BY o_orderkey) AS keys_csv,
               count(*) AS n
        FROM _lwg_orders_r13 WHERE o_orderkey < 800
        GROUP BY o_orderpriority
        """
    )


@q(
    "width_bucket_cert",
    oracle="""
    WITH b AS (
        SELECT CASE WHEN cents < 0 THEN 0
                    WHEN cents >= 40000 THEN 17
                    ELSE CAST(floor(cents / 2500.0) AS BIGINT) + 1
               END AS bucket
        FROM (SELECT CAST(round(value * 100) AS BIGINT) AS cents
              FROM events)
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY bucket
    """,
)
def width_bucket_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """width_bucket certification (SQL:2023 equi-width binning):
    Spark's width_bucket(x, lo, hi, n) against its arithmetic
    definition replayed in DuckDB (floor((x-lo)/width)+1 with the
    under/overflow buckets 0 and n+1). Input is bigint CENTS over a
    [0, 40000) range split 16 ways, so every bucket boundary (2500
    cents) and every division is exact in doubles - no ulp can flip a
    boundary row. The equi-WIDTH histogram primitive beside the
    battery's equi-DEPTH two-phase histogram."""
    e = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    return (
        e.select(
            F.width_bucket(
                F.col("cents"), F.lit(0), F.lit(40000), F.lit(16)
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "regexp_extract_all_lateral",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               regexp_extract_all(text, '[a-z]{6,}') AS ws
        FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(generate_subscripts(ws, 1) AS INT) - 1 AS pos,
           unnest(ws) AS word
    FROM m WHERE len(ws) > 0
    """,
)
def regexp_extract_all_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all + positional LATERAL explode certification:
    every match of a quantified class, in match order, with its
    0-based position - the tokenizer-primitives surface (the text
    battery split()s; this is the REGEX extraction twin). The
    pattern stays in the POSIX-class subset both engines' regex
    dialects agree on; positions come from posexplode on Spark and
    generate_subscripts on DuckDB."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    return d.select(
        "doc_id",
        F.posexplode(
            F.expr(r"regexp_extract_all(text, '[a-z]{6,}', 0)")
        ).alias("pos", "word"),
    )


@q(
    "interval_arith",
    oracle="""
    SELECT d,
           CAST(d + INTERVAL 1 MONTH AS DATE) AS plus_month,
           CAST(d + INTERVAL 45 DAY AS DATE) AS plus_45d,
           last_day(d) AS month_end,
           CAST(datediff('day', DATE '1995-01-01', d) AS INT)
               AS days_since_95
    FROM (SELECT DISTINCT o_orderdate AS d FROM orders)
    """,
)
def interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar INTERVAL arithmetic certification over every distinct
    order date: month addition (with END-OF-MONTH CLAMPING - Jan 31
    + 1 month = Feb 29 on both engines, the semantics naive
    day-adding gets wrong), fixed day offsets, last_day, and exact
    day differencing against an epoch anchor. Dates only (no
    timestamps), so timezones cannot touch the result."""
    d = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").alias("d")
    ).distinct()
    return d.select(
        "d",
        F.add_months("d", 1).alias("plus_month"),
        F.date_add("d", 45).alias("plus_45d"),
        F.last_day("d").alias("month_end"),
        F.datediff("d", F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
    )


@q(
    "map_lambda_funcs",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text),
                   '[^a-z]+'), x -> x <> '')) AS word
        FROM documents WHERE doc_id < 100
    ),
    c AS (
        SELECT doc_id, word, CAST(count(*) AS BIGINT) AS cnt
        FROM w GROUP BY doc_id, word
    )
    SELECT doc_id, word, cnt * 2 AS doubled
    FROM c WHERE cnt >= 2
    """,
)
def map_lambda_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order lambda certification (transform_values /
    map_filter / map_from_entries - the MAP half of r12's array
    lambda family): per-document word-count MAPS are built in-row
    (aggregate fold over the token array - no explode/shuffle builds
    the map), filtered to repeated words, value-transformed, then
    exploded ONLY for the cross-engine comparison. The oracle never
    sees a map: it replays the same numbers relationally, certifying
    the map pipeline end-to-end by its observable rows."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    ).select("doc_id", word_tokens("text").alias("ws"))
    counts = d.select(
        "doc_id",
        F.aggregate(
            "ws",
            F.create_map().cast("map<string,bigint>"),
            lambda acc, w: F.map_concat(
                F.map_filter(acc, lambda k, _v: k != w),
                F.create_map(
                    w,
                    F.coalesce(
                        F.element_at(acc, w), F.lit(0).cast("bigint")
                    )
                    + 1,
                ),
            ),
        ).alias("wc"),
    )
    out = counts.select(
        "doc_id",
        F.transform_values(
            F.map_filter("wc", lambda _k, v: v >= 2),
            lambda _k, v: v * 2,
        ).alias("m"),
    )
    return out.select(
        "doc_id", F.explode("m").alias("word", "doubled")
    )


@q(
    "median_cert",
    oracle="""
    SELECT l_returnflag,
           median(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS med_cents,
           median(CAST(l_quantity AS BIGINT)) AS med_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def median_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """median() aggregate certification (the SQL:2023 shorthand for
    percentile_cont(0.5)): over BIGINT cents the even-count
    interpolation is (a+b)/2 of two exact integers - exact double
    arithmetic in any evaluation order, so both engines agree
    bit-for-bit (the same exact-binary-fraction argument as the r12
    ordered-set certification, applied to the 0.5 shorthand)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias(
            "cents"
        ),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    return li.groupBy("l_returnflag").agg(
        F.median("cents").alias("med_cents"),
        F.median("qty").alias("med_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "bitmap_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_part
    FROM lineitem GROUP BY l_returnflag
    """,
)
def bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-aggregate distinct counting certified EXACT (the Spark
    3.5 bitmap surface: bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg / bitmap_count): the two-level pattern -
    per-(group, bucket) bitmaps OR-folded map-side, bucket counts
    summed - must equal COUNT(DISTINCT) exactly. Why it exists at
    100 TB: a bitmap partial is a fixed 4 KB per (group, bucket)
    regardless of row count and merges by OR, so the shuffle carries
    bitmaps instead of every distinct value (the exact counterpart
    of the HLL sketch, for key domains dense enough to bucket). The
    oracle is the plain distinct count."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_bm_lineitem_r13"
    )
    return spark.sql(
        """
        WITH supp AS (
            SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS nd_supp
            FROM (
                SELECT l_returnflag,
                       bitmap_bucket_number(l_suppkey) AS b,
                       bitmap_count(bitmap_construct_agg(
                           bitmap_bit_position(l_suppkey))) AS c
                FROM _bm_lineitem_r13
                GROUP BY l_returnflag, b
            ) GROUP BY l_returnflag
        ),
        part AS (
            SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS nd_part
            FROM (
                SELECT l_returnflag,
                       bitmap_bucket_number(l_partkey) AS b,
                       bitmap_count(bitmap_construct_agg(
                           bitmap_bit_position(l_partkey))) AS c
                FROM _bm_lineitem_r13
                GROUP BY l_returnflag, b
            ) GROUP BY l_returnflag
        )
        SELECT supp.l_returnflag, nd_supp, nd_part
        FROM supp JOIN part USING (l_returnflag)
        """
    )


@q(
    "grouping_id_cert",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_prio,
           CAST(2 * grouping(o_orderstatus)
                + grouping(o_orderpriority) AS INT) AS gid,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def grouping_id_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping() / grouping_id() certification (SQL:1999 T431 - the
    disambiguation functions that tell a ROLLUP's generated NULLs
    apart from data NULLs): per rollup level the flags and the
    composed bitmask must match DuckDB's grouping() bit for bit
    (Spark's no-arg grouping_id() == the oracle's explicit
    2*g(status)+g(priority) composition, pinning the documented
    leftmost-is-MSB bit order)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "_gid_orders_r13"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               CAST(grouping_id() AS INT) AS gid,
               count(*) AS n
        FROM _gid_orders_r13
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        """
    )


@q(
    "try_to_timestamp_cert",
    oracle="""
    WITH s AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0
                    THEN '2024-02-30 10:00:00'
                    ELSE strftime(o_orderdate, '%Y-%m-%d')
                         || ' 10:00:00' END AS ts_str
        FROM orders WHERE o_orderkey < 2000
    )
    SELECT o_orderkey, ts_str,
           CAST(epoch_us(try_cast(ts_str AS TIMESTAMP)) AS BIGINT)
               AS parsed_us
    FROM s
    """,
)
def try_to_timestamp_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_to_timestamp certification - the temporal member of the
    r12 try_* family: a malformed calendar date (Feb 30, injected BY
    RULE so the pattern is deterministic) parses to NULL instead of
    failing the scan, and well-formed strings parse to the exact
    microsecond instant DuckDB's try_cast produces. Dates render
    through the same %Y-%m-%d on both engines; the comparison is
    epoch micros, so timezones cannot touch it (session pinned
    UTC)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    )
    s = o.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.lit("2024-02-30 10:00:00")
        )
        .otherwise(
            F.concat(
                F.date_format("o_orderdate", "yyyy-MM-dd"),
                F.lit(" 10:00:00"),
            )
        )
        .alias("ts_str"),
    )
    return s.select(
        "o_orderkey",
        "ts_str",
        F.expr("unix_micros(try_to_timestamp(ts_str))").alias(
            "parsed_us"
        ),
    )


@q(
    "greedy_admission_cert",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT DISTINCT l_partkey AS a, - l_suppkey AS b
        FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 97 = 0
    ),
    ud AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
    nodes AS (
        SELECT u AS id, row_number() OVER (ORDER BY u) AS rn
        FROM (SELECT DISTINCT u FROM ud)
    ),
    walk(rn, kept) AS (
        SELECT 0, CAST([] AS BIGINT[])
        UNION ALL
        SELECT w.rn + 1,
               CASE WHEN EXISTS (
                        SELECT 1 FROM ud a
                        WHERE a.u = n.id
                          AND list_contains(w.kept, a.v))
                    THEN w.kept
                    ELSE list_append(w.kept, CAST(n.id AS BIGINT)) END
        FROM walk w JOIN nodes n ON n.rn = w.rn + 1
    )
    SELECT CAST(n.id AS BIGINT) AS node,
           CAST(CASE WHEN list_contains(k.kept, CAST(n.id AS BIGINT))
                     THEN 1 ELSE 0 END AS INT) AS admitted
    FROM nodes n,
         (SELECT kept FROM walk ORDER BY rn DESC LIMIT 1) k
    """,
)
def greedy_admission_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential greedy admission ORACLE-certified (the r13 ingest
    semantics fix - operators.dedup.greedy_admission_drops, the
    lexicographically-first maximal independent set): every node of a
    sparse similarity graph flagged admitted/rejected, against a
    DuckDB oracle that REPLAYS the sequential pass literally - a
    linear recursive CTE carrying the kept-set as a list, one node
    per recursion step in ascending id order. Same deterministic
    part-supplier subgraph as graph_components (negated supplier
    keys keep the id spaces disjoint at any SF; 1-in-97 sparsifier
    keeps the oracle's list-carrying recursion cheap while the Spark
    side runs the production per-component applyInPandas operator
    unchanged). This is the oracle tier above the pytest brute-force
    replay: an independent engine executes the same admission
    semantics."""
    from ..operators.dedup import greedy_admission_drops

    li = load_table(spark, sf_dir, "lineitem")
    e = (
        li.filter(
            (F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 97 == 0)
        )
        .select(
            F.col("l_partkey").alias("id_a"),
            (-F.col("l_suppkey")).alias("id_b"),
        )
        .distinct()
    )
    nodes = (
        e.select(F.col("id_a").alias("node"))
        .unionByName(e.select(F.col("id_b").alias("node")))
        .distinct()
    )
    drops = greedy_admission_drops(e).withColumnRenamed("id", "node")
    return nodes.join(
        drops.withColumn("_d", F.lit(1)), "node", "left"
    ).select(
        F.col("node").cast("bigint").alias("node"),
        F.when(F.col("_d").isNull(), 1).otherwise(0).cast("int").alias(
            "admitted"
        ),
    )


@q(
    "strip_dup_spans",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS tok,
               generate_subscripts(list_filter(
                   string_split_regex(text, '\\s+'), x -> x <> ''), 1)
                   - 1 AS pos
        FROM documents
    ),
    n AS (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id),
    grams AS (
        SELECT t.doc_id, t.pos,
               string_agg(t2.tok, ' ' ORDER BY t2.pos) AS g
        FROM toks t
        JOIN n USING (doc_id)
        JOIN toks t2 ON t2.doc_id = t.doc_id
                    AND t2.pos BETWEEN t.pos AND t.pos + 7
        WHERE t.pos + 7 < n.n_tok
        GROUP BY t.doc_id, t.pos
    ),
    dup AS (
        SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
    ),
    covered AS (
        SELECT DISTINCT gr.doc_id, gr.pos + o AS pos
        FROM grams gr
        JOIN dup USING (g),
             UNNEST(generate_series(0, 7)) AS s(o)
    ),
    removed AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rm
        FROM covered GROUP BY doc_id
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(n.n_tok), 0) AS BIGINT) AS total_tokens,
           CAST(coalesce(sum(r.n_rm), 0) AS BIGINT) AS removed_tokens
    FROM (SELECT doc_id, source FROM documents) d
    LEFT JOIN n USING (doc_id)
    LEFT JOIN removed r USING (doc_id)
    GROUP BY d.source
    """,
)
def strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span removal panel (Lee et al. 2022 ExactSubstr
    semantics, operators.dedup.strip_duplicated_spans): every token
    covered by a repeated 8-token span is removed corpus-wide; the
    panel reports per source how many tokens that dedup would strip.
    Registered with ``hash_grams=False`` so the gram keys are the
    literal strings and the DuckDB replay is bit-exact (the
    operator's scale default hashes them - a documented 2^-64
    collision trade the oracle tier does not take). Zero-token
    documents count on BOTH sides (the operator passes them
    through as ('', 0, 0); the oracle LEFT-joins its token CTE -
    an inner join silently dropped them, second-review)."""
    from ..operators.dedup import strip_duplicated_spans

    d = load_table(spark, sf_dir, "documents")
    out = strip_duplicated_spans(
        d, "doc_id", "text", span_tokens=8, hash_grams=False
    )
    src = d.select("doc_id", "source")
    return (
        out.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_removed").alias("removed_tokens"),
        )
    )
