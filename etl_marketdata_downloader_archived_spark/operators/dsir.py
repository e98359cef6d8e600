"""DSIR-style importance sampling for training-data selection -
hashed n-gram importance weights (Xie et al. 2023, "Data Selection
for Language Models via Importance Resampling": fit bag-of-hashed-
n-gram models on a TARGET corpus and the RAW pool, weight every raw
document by p_target(doc)/q_raw(doc), select by weight).

The missing tier between the engine's heuristic gates (Gopher rules,
quality_score) and the trainable classifier (operators.quality_model):
importance sampling needs NO labels - the target corpus IS the
specification - and reshapes the raw DISTRIBUTION toward the target
instead of thresholding documents independently.

Scale shape (the whole point of the hashed formulation): features are
hashed into a FIXED m-bucket space, so the two "models" are two
m-row count tables (one aggregation each, partial map-side combine on
<= m keys), the per-bucket log-ratio table broadcasts (m ~ 10^4 rows),
and per-document weights are ONE more aggregation over the raw pool's
exploded grams. Nothing grows with corpus size except the linear
explode - no vocabulary, no all-pairs, no model state beyond m
doubles. Selection is a TakeOrdered top-k.

Reference anchor: generalizes the reference's static TYPE routing
(data-downloader/data_downloader.py:204-228 routes downloads by
catalog flags) to content-driven selection over a landed corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ranking import word_tokens
from .text import ngrams

__all__ = [
    "hashed_ngram_buckets",
    "dsir_log_weights",
    "dsir_select",
]


def _grams(words: Column) -> Column:
    """Unigrams ++ bigrams WITH multiplicity - bag features, not the
    dedup family's distinct shingles (DSIR models token frequency)."""
    return F.concat(words, ngrams(words, 2))


def _bucket(gram: Column, m: int, seed: int, algo: str) -> Column:
    if algo == "md5":
        # first 8 hex chars of md5(seed:gram) mod m - the auditable
        # coordinate ANY engine replays (the hash_split discipline);
        # the registered oracle query certifies it against DuckDB
        h = F.md5(F.concat_ws(":", F.lit(str(seed)), gram))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % m
    if algo == "xxhash64":
        return F.pmod(F.xxhash64(F.lit(seed), gram), F.lit(m))
    raise ValueError(f"unknown bucket algo: {algo!r}")


def hashed_ngram_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    m: int = 8192,
    seed: int = 42,
    algo: str = "xxhash64",
) -> DataFrame:
    """Per-document hashed bag-of-(uni+bi)gram features:
    (id_col, bucket, cnt). One explode + one hash aggregate; the
    output is bounded by min(doc grams, m) rows per document."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    return (
        df.select(F.col(id_col), word_tokens(text_col).alias("_w"))
        .select(F.col(id_col), F.explode(_grams(F.col("_w"))).alias("_g"))
        .select(id_col, _bucket(F.col("_g"), m, seed, algo).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    m: int = 8192,
    seed: int = 42,
    algo: str = "xxhash64",
) -> DataFrame:
    """Per-raw-document log importance weight
    ``log p_target(doc) - log q_raw(doc)`` under bag-of-hashed-ngram
    categorical models with add-one smoothing:

        log_weight = sum over doc grams of
            [ log (c_target[b] + 1) / (T_target + m)
            - log (c_raw[b]    + 1) / (T_raw    + m) ]

    Returns (id_col, log_weight double, n_grams bigint). A document
    with no extractable grams weights 0.0 over 0 grams (neutral - the
    caller's other gates own empty docs). The driver-side collect is
    TWO scalar totals; the per-bucket ratio table (<= m rows)
    broadcasts into the per-document fold, so the raw pool is read
    once for features and once more never."""
    tgt = (
        hashed_ngram_buckets(target, id_col, text_col, m, seed, algo)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("c_t"))
    )
    # materialize the raw features ONCE: they are consumed by the
    # bucket aggregate AND the per-doc fold, across the totals collect
    # and the caller's final action - without this the upstream DAG
    # (in the composed pipeline: gates + model scoring + span removal)
    # re-executes per consumer (review finding; the streaming twin
    # localCheckpoints for the same reason)
    raw_feats = hashed_ngram_buckets(
        raw, id_col, text_col, m, seed, algo
    ).localCheckpoint()
    rawb = raw_feats.groupBy("bucket").agg(F.sum("cnt").alias("c_r"))
    ratio = (
        tgt.join(rawb, "bucket", "full_outer")
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
    import math

    scored = ratio.select(
        "bucket",
        (
            F.log(F.col("c_t") + 1)
            - F.log(F.col("c_r") + 1)
            + F.lit(math.log(t_r) - math.log(t_t))
        ).alias("_lr"),
    )
    per_doc = (
        raw_feats.join(F.broadcast(scored), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("cnt") * F.col("_lr")).alias("log_weight"),
            F.sum("cnt").alias("n_grams"),
        )
    )
    return (
        raw.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        )
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str,
    text_col: str,
    m: int = 8192,
    seed: int = 42,
    algo: str = "xxhash64",
    gumbel_seed: int | None = None,
) -> DataFrame:
    """The selection step: raw rows ranked by importance weight, top-k
    kept (weight desc, id asc tie-break). Returns the raw rows plus
    ``log_weight``. The id tie-break fires only on BIT-EQUAL weights:
    log_weight is a float sum, so two docs with the same true weight
    (even identical texts) can differ by an ulp depending on the
    per-doc reduction order - near-boundary membership in the top-k
    carries the same float caveat every ranking-on-floats op here
    documents (BASELINE.md, tfidf_topk).

    ``gumbel_seed`` switches to the paper's IMPORTANCE RESAMPLING:
    rank on ``log_weight + Gumbel(0,1)`` noise - the Gumbel-top-k
    trick samples k documents WITHOUT replacement with probability
    proportional to their importance weights (exp(log_weight)),
    trading the arg-top-k's determinism-of-content for diversity
    while keeping determinism-of-PROCESS: the noise derives from a
    seeded hash of the document id (-log(-log(u)), u uniform from 52
    id-hash bits), so the same seed reproduces the same sample on any
    partitioning/replay - no Math.random, the repo-wide rule. The
    returned ``sample_score`` column carries the noised rank key."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = dsir_log_weights(raw, target, id_col, text_col, m, seed, algo)
    out = raw.join(w.select(id_col, "log_weight"), id_col)
    if gumbel_seed is None:
        return out.orderBy(
            F.col("log_weight").desc(), F.col(id_col)
        ).limit(k)
    if algo == "md5":
        # auditable coordinate (the hash_split discipline): 13 hex
        # chars = 52 bits, exactly representable in a double
        h = F.md5(
            F.concat_ws(
                ":", F.lit(str(gumbel_seed)), F.col(id_col).cast("string")
            )
        )
        bits = F.conv(F.substring(h, 1, 13), 16, 10).cast("double")
    else:
        bits = F.pmod(
            F.xxhash64(F.lit(gumbel_seed), F.col(id_col)), F.lit(1 << 52)
        ).cast("double")
    u = (bits + 0.5) / float(1 << 52)  # in (0, 1): log(log) is finite
    return (
        out.withColumn(
            "sample_score", F.col("log_weight") - F.log(-F.log(u))
        )
        .orderBy(F.col("sample_score").desc(), F.col(id_col))
        .limit(k)
    )
