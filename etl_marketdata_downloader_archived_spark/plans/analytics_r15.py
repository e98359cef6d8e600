"""Round-15 analytics extensions - registered past the certified
window (parity-verified locally by tools/parity.py, the driver's
identical check, no certificate).

Three promotions from pytest-only to oracle-certified (VERDICT r14
items 3 and 4): the full DSIR log-weight fold, quality-aware dedup
representative election, and hard-negative mining - each replayed end
to end in DuckDB on the same parquet tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.ranking import word_tokens
from ..operators.text import ngrams
from .llm_ops import _cos_sql
from .registry import q

_HEX8 = """(  (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 268435456
                + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16777216
                + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 1048576
                + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) * 65536
                + (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1) * 4096
                + (strpos('0123456789abcdef', substr(hx, 6, 1)) - 1) * 256
                + (strpos('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(hx, 8, 1)) - 1)
               )"""

_WORDS15 = "list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')"


@q(
    "dsir_weights_cert",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, {_WORDS15} AS ws FROM documents
    ),
    uni AS (SELECT doc_id, source, unnest(ws) AS g FROM w),
    bi AS (
        SELECT doc_id, source,
               unnest(list_transform(
                   generate_series(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1]
               )) AS g
        FROM w WHERE len(ws) >= 2
    ),
    grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
    b AS (
        SELECT doc_id, source, {_HEX8} % 32 AS bucket
        FROM (SELECT doc_id, source,
                     md5(concat('42', ':', g)) AS hx FROM grams)
    ),
    ct AS (SELECT bucket, count(*) AS c_t FROM b
           WHERE source = 'src0' GROUP BY bucket),
    cr AS (SELECT bucket, count(*) AS c_r FROM b
           WHERE source <> 'src0' GROUP BY bucket),
    ratio AS (
        SELECT coalesce(ct.bucket, cr.bucket) AS bucket,
               coalesce(c_t, 0) AS c_t, coalesce(c_r, 0) AS c_r
        FROM ct FULL OUTER JOIN cr ON ct.bucket = cr.bucket
    ),
    tot AS (SELECT sum(c_t) + 32 AS tt, sum(c_r) + 32 AS tr FROM ratio),
    lr AS (
        SELECT bucket,
               ln(c_t + 1) - ln(c_r + 1) + ln(tr) - ln(tt) AS v
        FROM ratio, tot
    ),
    feat AS (
        SELECT doc_id, bucket, count(*) AS cnt FROM b
        WHERE source <> 'src0' GROUP BY doc_id, bucket
    ),
    perdoc AS (
        SELECT doc_id, sum(cnt * v) AS lw,
               CAST(sum(cnt) AS BIGINT) AS ng
        FROM feat JOIN lr ON feat.bucket = lr.bucket GROUP BY doc_id
    )
    SELECT d.doc_id,
           round(coalesce(lw, 0.0), 6) AS log_weight,
           CAST(coalesce(ng, 0) AS BIGINT) AS n_grams
    FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
    LEFT JOIN perdoc ON d.doc_id = perdoc.doc_id
    """,
)
def dsir_weights_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL DSIR importance-weight fold oracle-certified (VERDICT
    r14 item 3 - `dsir_bucket_stats` covered the distributed bucketing
    layer; this row replays the add-one-smoothed log-ratio fold itself
    in DuckDB, digit for digit on the md5 coordinate): target model =
    source src0, raw pool = everything else, m=32 buckets, per-raw-doc
    ``log_weight = sum cnt_b * [ln(c_t[b]+1) - ln(c_r[b]+1) +
    ln(T_r+m) - ln(T_t+m)]``, gram-less docs at exactly 0.0 over 0
    grams (the LEFT-join neutral contract).

    Float discipline (the tfidf_topk precedent): both sides round the
    weight to 6dp; per-doc sums are <1e3 in magnitude with ~1e-13
    cross-engine ln/summation noise, so a rounding-boundary flip needs
    a value within ~1e-13 of a 0.5e-6 grid edge - not observed on the
    fixed dataset at either scale, and any future flip fails LOUD in
    parity rather than silently. n_grams is integer-exact."""
    from ..operators.dsir import dsir_log_weights

    d = load_table(spark, sf_dir, "documents")
    target = d.filter(F.col("source") == "src0")
    raw = d.filter(F.col("source") != "src0")
    w = dsir_log_weights(
        raw, target, "doc_id", "text", m=32, seed=42, algo="md5"
    )
    return w.select(
        "doc_id",
        F.round("log_weight", 6).alias("log_weight"),
        F.col("n_grams").cast("bigint").alias("n_grams"),
    )


@q(
    "dedup_keep_best_cert",
    oracle="""
    WITH RECURSIVE sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   for i in generate_series(1, greatest(len(w) - 2, 0))
               ]) AS s
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 x -> x <> '') AS w
              FROM documents)
        WHERE len(w) >= 3
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    pairs AS MATERIALIZED (
        SELECT id_a, id_b
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
        WHERE CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) * 1000000
              >= 700000 * (CAST(len(sa.s) AS BIGINT) + len(sb.s)
                           - len(list_intersect(sa.s, sb.s)))
    ),
    ud AS (SELECT id_a AS a, id_b AS b FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
    reach(src, dst) AS (
        SELECT a AS src, a AS dst FROM ud
        UNION
        SELECT b AS src, b AS dst FROM ud
        UNION
        SELECT r.src, ud.b AS dst FROM reach r JOIN ud ON r.dst = ud.a
    ),
    comp AS (SELECT src AS doc_id, min(dst) AS component
             FROM reach GROUP BY src),
    ranked AS (
        SELECT c.doc_id, c.component,
               CAST(length(d.text) AS INTEGER) AS score,
               ROW_NUMBER() OVER (
                   PARTITION BY c.component
                   ORDER BY length(d.text) DESC, c.doc_id
               ) AS rn
        FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT doc_id, score FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_best_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware representative election oracle-certified (VERDICT
    r14 item 4): near-dup components from the EXACT word-trigram
    Jaccard self-join at >= 0.7 (operators.fuzzy.jaccard_prefix_join -
    its own parity row proves the pair set; every synthetic dup pair
    sits at jaccard >= 0.8 at both driver scales - measured - so 0.7
    selects the same pairs a 0.5 cut would while keeping the AllPairs
    prefixes short; the oracle replays the join independently via a
    shared-shingle candidate join - complete for ANY positive
    threshold since J >= 0.7 forces a shared trigram - with the same
    exact-rational verify, its three heavy stages pinned MATERIALIZED
    because DuckDB 1.0's default CTE inlining re-evaluated them to
    intractability at sf0.1 - the naive all-pairs cross join never
    finished; staged it is ~90 s there and ~2 s at the driver's
    sf0.01), clustered by
    operators.dedup.connected_components, each component keeping its
    highest-score member under ``dedup_keep_best`` with score =
    char length(text) - integer-exact, and the synthetic dup groups
    genuinely differ in length (the kept doc is often NOT the min id,
    which distinguishes this election from dedup_keep_representatives'
    - e.g. the (31, 383) pair keeps 383). Output = the kept
    representative of every component (the operator's surviving frame
    semi-joined to the pair participants), replayed via a DuckDB
    recursive transitive closure + argmax window (the graph_components
    discipline; the 1-in-20-docs dup density keeps the closure
    trivial)."""
    from ..operators.dedup import dedup_keep_best
    from ..operators.fuzzy import jaccard_prefix_join

    d = load_table(spark, sf_dir, "documents").withColumn(
        "score", F.length("text")
    )
    toks = (
        d.select("doc_id", word_tokens("text").alias("ws"))
        .filter(F.size("ws") >= 3)
        .select("doc_id", ngrams(F.col("ws"), 3).alias("toks"))
    )
    # output-bounded snapshot: the pair set feeds THREE consumers
    # (connected_components' collect, both participant projections) -
    # un-checkpointed, each re-runs the prefix kernel
    pairs = jaccard_prefix_join(toks, "doc_id", "toks", 0.7).select(
        "id_a", "id_b"
    ).localCheckpoint()
    participants = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    kept = dedup_keep_best(d, pairs, "doc_id", "score")
    return kept.join(participants, "doc_id", "left_semi").select(
        "doc_id", "score"
    )


@q(
    "temperature_mix_cert",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               CAST(len({_WORDS15}) AS BIGINT) AS nt
        FROM documents
    ),
    cnt AS (
        SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens
        FROM tok GROUP BY source
    ),
    p AS (
        SELECT source, n_tokens,
               sqrt(CAST(n_tokens AS DOUBLE))
               / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER () AS p_temp
        FROM cnt
    ),
    wl AS (SELECT min(n_tokens / p_temp) AS n_corpus FROM p),
    r AS (
        SELECT source, n_tokens, p_temp,
               p_temp * n_corpus / n_tokens AS keep_rate
        FROM p, wl
    ),
    kept AS (
        SELECT h.source, count(*) AS kept_docs
        FROM (SELECT source, doc_id,
                     md5(concat('7', ':', CAST(doc_id AS VARCHAR))) AS hx
              FROM tok) AS h
        JOIN r ON h.source = r.source
        WHERE (  (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 268435456
               + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16777216
               + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 1048576
               + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) * 65536
               + (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(hx, 6, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(hx, 8, 1)) - 1)
               ) % 10000
              < CAST(floor(keep_rate * 10000 + 1e-6) AS BIGINT)
        GROUP BY h.source
    )
    SELECT r.source, r.n_tokens,
           round(r.p_temp, 6) AS p_temp,
           round(r.keep_rate, 6) AS keep_rate,
           CAST(coalesce(kept.kept_docs, 0) AS BIGINT) AS kept_docs
    FROM r LEFT JOIN kept ON r.source = kept.source
    """,
)
def temperature_mix_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced data mixing oracle-certified
    (operators.text.temperature_mix_rates - the XLM-R exponentiated-
    sampling / T5-Llama data-recipe tier): per-source token totals,
    alpha=0.5 sampling probabilities p_s = sqrt(n_s)/sum sqrt(n_t),
    keep rates over the no-upsampling waterline (the tightest stratum
    caps the feasible corpus; its rate is exactly 1), and the KEPT doc
    count realized by the auditable md5 coordinate (hash_split's
    discipline: slot = hex8(md5(seed:id)) % 10000, kept iff slot <
    floor(rate * 10000 + 1e-6) - the epsilon absorbs the waterline
    stratum's 0.999... float round-trip so both engines quantize the
    SAME threshold; p/rate round to 6dp for display, the membership
    predicate uses the quantized integer on both sides)."""
    from ..operators.text import temperature_mix_rates

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(word_tokens("text")).cast("bigint").alias("nt"),
    )
    counts = {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.sum("nt").alias("n")).collect()
    }
    rates = temperature_mix_rates(counts, alpha=0.5)
    z = sum(n**0.5 for n in counts.values())
    rows = [
        (
            s,
            counts[s],
            (counts[s] ** 0.5) / z,
            rates[s],
            int((rates[s] * 10000 + 1e-6) // 1),
        )
        for s in counts
    ]
    rt = spark.createDataFrame(
        rows,
        "source string, n_tokens bigint, p_raw double, rate_raw double,"
        " thr bigint",
    )
    h = F.md5(F.concat_ws(":", F.lit("7"), F.col("doc_id").cast("string")))
    slot = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 10000
    kept = (
        d.withColumn("_slot", slot)
        .join(F.broadcast(rt.select("source", "thr")), "source")
        .filter(F.col("_slot") < F.col("thr"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("kept_docs"))
    )
    return (
        rt.join(kept, "source", "left")
        .select(
            "source",
            "n_tokens",
            F.round("p_raw", 6).alias("p_temp"),
            F.round("rate_raw", 6).alias("keep_rate"),
            F.coalesce("kept_docs", F.lit(0)).cast("bigint").alias(
                "kept_docs"
            ),
        )
    )


@q(
    "hard_negatives_cert",
    oracle=f"""
    WITH qs AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
        SELECT qs.query_id, e.vec_id AS neg_id,
               {_cos_sql('e.embedding', 'qs.qv')} AS cos
        FROM qs JOIN embeddings e
          ON e.vec_id <> qs.query_id
         AND e.vec_id <> qs.query_id + 1
         AND NOT (qs.query_id >= 1 AND e.vec_id = qs.query_id - 1)
    ),
    ranked AS (
        SELECT query_id, neg_id, cos,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neg_id
               ) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, neg_id, round(cos, 6) AS cos_sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def hard_negatives_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining oracle-certified (VERDICT r14 item 4):
    queries = vec_id < 8, corpus = every embedding, near-dup exclusion
    graph = the chain pairs (q, q+1) for q in 0..7 - applied in BOTH
    orientations by ``operators.similarity.mine_hard_negatives`` (for
    query 3 both 2 and 4 are excluded), self excluded by shared id
    space, k=5 with the default margin (=k), so the <= 3 exclusions
    per query never exhaust the k+1+margin over-fetch and the
    operator's shortlist re-rank provably equals the oracle's global
    rank. Cosines are computed in float64 on both engines and ROUNDED
    to 6dp in the output; the rank column itself is each engine's raw
    ordering with the id tie-break - adjacent ranks on this dataset
    are separated far beyond cross-engine float noise (typical gap
    ~1e-3), and a future flip fails loud in parity."""
    from ..operators.similarity import mine_hard_negatives

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8)
    pairs = queries.select(
        F.col("vec_id").alias("id_a"),
        (F.col("vec_id") + 1).alias("id_b"),
    )
    out = mine_hard_negatives(
        queries.select("vec_id", "embedding"),
        e.select("vec_id", "embedding"),
        k=5,
        exclude_pairs=pairs,
    )
    return out.select(
        "query_id",
        "neg_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        "rank",
    )
