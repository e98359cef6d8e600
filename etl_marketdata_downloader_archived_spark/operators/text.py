"""Text-analysis operators for LLM training-data pipelines.

All pure Catalyst expressions (JVM-side, codegen) - language ID,
quality scoring, token counting, fingerprinting. Designed for the
100 TB document case: no Python in the hot path, every function is a
narrow map over the text column.

From text to shingles (the text, dedup and DSIR operators and the
queries built on them all call these):

- Word rule: ``operators.ranking.word_tokens`` - lowercase, split on
  runs of ``[^a-z]+``, drop empty tokens. An independent engine
  replays it exactly (DuckDB ``list_filter(string_split_regex(lower(
  text), '[^a-z]+'), x -> x <> '')``), which is what lets the
  oracle-checked text queries certify it.
- Whitespace rule: ``ws_words`` - split on ``\\s+``, drop empty
  tokens (no leading "" for leading blanks). ``tokens`` stays the raw
  split, empties included, for the signals that count them.
- N-gram builder: ``ngrams(words, n)`` - ALL word n-grams of a token
  array, in order and with multiplicity, each the ``" "``-join of n
  consecutive tokens. Built from n shifted slices of the array, one
  ``arrays_zip`` and one ``transform``/``concat_ws``; an array
  shorter than n slices to length 0 and yields no n-grams. Slices,
  not a per-index ``transform(sequence(...), i -> words[i + j]...)``:
  under projection collapse the per-index form inlines the token
  expression into every element access and re-runs the split per
  element (measured 11x on word_shingles, 3.5x on the trigram
  join). Callers that tokenize with a regex project the token array
  in one ``select`` and build n-grams over that column in the next,
  so the split evaluates once per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/stopword heuristic.
# Ordered: first match wins (deterministic tie-break).
LANG_MARKERS: list[tuple[str, str]] = [
    ("en", " the "),
    ("de", " der "),
    ("fr", " le "),
    ("es", " el "),
    ("zh", "的"),
]

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (the baseline tokenizer)."""
    return F.split(_col(text), r"\s+")


def ws_words(text: Column | str) -> Column:
    """Whitespace tokens without empties (module docstring)."""
    return F.filter(tokens(text), lambda t: t != F.lit(""))


# The token-based signals below accept an optional pre-tokenized
# ``toks`` column. Building panels that compute many signals over the
# SAME tokenization should tokenize once in a prior select and pass
# the column through - CollapseProject keeps a multi-referenced
# non-cheap expression in its own projection step, while inlining
# ``tokens(text)`` into every signal re-runs the regex split per use
# (the executed text_analysis plan showed 26 split() evaluations
# per row before this; see plans/llm_ops.py).


def token_count_ws(
    text: Column | str | None = None, toks: Column | None = None
) -> Column:
    """Whitespace token count."""
    return F.size(toks if toks is not None else tokens(text))


def token_count_bpe_ish(text: Column | str) -> Column:
    """BPE-ish subword proxy: count word pieces + digits + punctuation
    runs via regex (a cheap, deterministic stand-in for a real BPE -
    close enough for length bucketing / cost estimation)."""
    c = _col(text)
    # count matches of: word chunks of <=4 chars | digits | single punct
    pieces = F.regexp_count(c, F.lit(r"[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s]"))
    return pieces


def punct_ratio(text: Column | str) -> Column:
    c = _col(text)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct.cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double")


def stopword_ratio(
    text: Column | str | None = None, toks: Column | None = None
) -> Column:
    """Fraction of tokens that are (English) stopwords. With ``toks``,
    lowercasing moves inside the array (whitespace splitting commutes
    with lower(), so the two formulations are identical)."""
    t = (
        F.transform(toks, lambda x: F.lower(x))
        if toks is not None
        else tokens(F.lower(_col(text)))
    )
    hits = F.size(
        F.filter(t, lambda x: x.isin(EN_STOPWORDS))
    )
    return hits.cast("double") / F.greatest(F.size(t), F.lit(1)).cast("double")


def mean_token_len(
    text: Column | str | None = None, toks: Column | None = None
) -> Column:
    t = toks if toks is not None else tokens(_col(text))
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return total.cast("double") / F.greatest(F.size(t), F.lit(1)).cast("double")


def quality_score(
    text: Column | str, toks: Column | None = None
) -> Column:
    """Composite heuristic quality score in [0, 1]: rewards mid-length
    docs with word-like tokens and low punctuation density - the
    standard cheap pre-filter before expensive model-based scoring."""
    c = _col(text)
    n_tok = token_count_ws(c, toks=toks).cast("double")
    length_component = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    mtl = mean_token_len(c, toks=toks)
    shape_component = F.when((mtl >= 3.0) & (mtl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_component = F.lit(1.0) - F.least(punct_ratio(c) * 4.0, F.lit(1.0))
    return (length_component + shape_component + punct_component) / F.lit(3.0)


def lang_id(text: Column | str) -> Column:
    """Marker-based language ID (first matching marker wins).

    A real system uses char n-gram models; markers keep the operator
    deterministic and oracle-checkable while exercising the same plan
    shape (narrow map, no shuffle)."""
    c = F.concat(F.lit(" "), F.lower(_col(text)), F.lit(" "))
    expr = F.lit("unknown")
    for code, marker in reversed(LANG_MARKERS):
        expr = F.when(c.contains(marker), code).otherwise(expr)
    return expr


def ngrams(words: Column, n: int) -> Column:
    """All word n-grams of the token array ``words`` (module
    docstring): non-distinct and in order, because repetition signals
    need the multiplicity that dedup's shingles throw away."""
    m = F.greatest(F.size(words) - (n - 1), F.lit(0))
    parts = F.arrays_zip(*[F.slice(words, j + 1, m) for j in range(n)])
    return F.transform(
        parts, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
    )


def type_token_ratio(
    text: Column | str | None = None, toks: Column | None = None
) -> Column:
    """Distinct-token / total-token ratio - the cheapest lexical
    diversity signal; word-soup and boilerplate score low."""
    t = toks if toks is not None else tokens(_col(text))
    return F.size(F.array_distinct(t)).cast("double") / F.greatest(
        F.size(t), F.lit(1)
    ).cast("double")


def dup_ngram_frac(
    text: Column | str | None = None, n: int = 2, toks: Column | None = None
) -> Column:
    """Fraction of word n-grams that are repeats of an earlier
    occurrence in the same document (the Gopher-style repetition
    filter signal). 0 = no repeated n-grams, ->1 = the document is one
    phrase stuttered over and over."""
    grams = ngrams(toks if toks is not None else tokens(_col(text)), n)
    return (F.size(grams) - F.size(F.array_distinct(grams))).cast(
        "double"
    ) / F.greatest(F.size(grams), F.lit(1)).cast("double")


def top_token_frac(
    text: Column | str | None = None, toks: Column | None = None
) -> Column:
    """Fraction of the document taken by its single most frequent
    token (Gopher's most-common-word filter). One narrow pass: sort
    the token array, then a single aggregate fold tracks the longest
    equal-run - no explode, no shuffle, no per-doc subquery."""
    toks = toks if toks is not None else tokens(_col(text))
    sorted_toks = F.array_sort(toks)
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, t: Column) -> Column:
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    best = F.aggregate(sorted_toks, zero, step, lambda acc: acc["best"])
    return best.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def fingerprint(text: Column | str) -> Column:
    """Normalized content fingerprint: lowercase, strip non-alnum,
    collapse whitespace, sha256. Stable under formatting noise - the
    exact-dedup key for documents."""
    c = F.lower(_col(text))
    c = F.regexp_replace(c, r"[^a-z0-9\s]", "")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return F.sha2(c, 256)


def hash_split(
    id_col: Column | str,
    fractions: dict[str, float],
    seed: int = 42,
    algo: str = "xxhash64",
) -> Column:
    """Deterministic train/val/test split label from the document id -
    the training-data staple. A seeded hash buckets into 10_000
    slots; cumulative fraction boundaries assign the label. Stable
    across runs/partitionings/engines-restarts (unlike randomSplit,
    which reshuffles with the partitioning), so a document NEVER
    migrates between splits as the corpus grows.

    ``algo='xxhash64'`` (default) is the fast JVM path.
    ``algo='md5'`` derives the slot from the first 8 hex chars of
    ``md5(seed || ':' || id)`` - slower, but replayable bit-for-bit by
    ANY engine with md5 (the registered `hash_split` query certifies
    it against DuckDB), which is what you want when the split
    assignment must be auditable outside Spark."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    if algo == "md5":
        h = F.md5(F.concat_ws(":", F.lit(str(seed)), _col(id_col).cast("string")))
        slot = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 10_000
    elif algo == "xxhash64":
        slot = F.pmod(F.xxhash64(F.lit(seed), _col(id_col)), F.lit(10_000))
    else:
        raise ValueError(f"unknown split algo: {algo!r}")
    expr = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name]
        bound = int(round(acc * 10_000))
        expr = F.when(slot < bound, name) if expr is None else expr.when(slot < bound, name)
    return (expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1])).alias("split")


# PII patterns, ordered most-specific first so e.g. an email is
# redacted as EMAIL before its digit runs could match anything else.
# Java regex (Catalyst regexp_replace is JVM-side); kept to portable
# constructs (classes, quantifiers, alternation - no lookbehind).
PII_PATTERNS: list[tuple[str, str]] = [
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("IP", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("CARD", r"\b(?:\d[ -]?){13,16}\d\b"),
    ("PHONE", r"(?:\+?\d{1,3}[ .-]?)?(?:\(\d{2,4}\)[ .-]?)?\d{3,4}[ .-]\d{3,4}\b"),
]


def redact_pii(text: Column | str) -> Column:
    """Scrub contact/identifier PII from a text column: emails, IPv4
    addresses, card-length digit runs, and phone-shaped numbers each
    become a typed placeholder (``<EMAIL>`` etc). One narrow
    regexp_replace chain, JVM-side - the corpus-prep scrub that runs
    before any text leaves the lake."""
    c = _col(text)
    for tag, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, f"<{tag}>")
    return c


def pii_count(text: Column | str) -> Column:
    """Number of PII matches that redact_pii would replace - the audit
    metric logged per batch so scrub regressions are visible."""
    c = _col(text)
    total = F.lit(0)
    for tag, pat in PII_PATTERNS:
        total = total + F.regexp_count(c, F.lit(pat))
        c = F.regexp_replace(c, pat, f"<{tag}>")
    return total


def benchmark_ngram_overlap(
    df,
    benchmark,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
):
    """Benchmark-contamination screen: for every document, the fraction
    of its distinct word ``n``-grams that appear anywhere in the
    ``benchmark`` corpus (the eval-set decontamination check every
    training-data pipeline runs before tokenization).

    Scale shape: the benchmark index (distinct n-grams of the EVAL
    sets) is small by construction - eval suites are MBs against a
    100 TB train corpus - so it is broadcast and the per-doc explode
    joins map-side; the only shuffle is the per-doc hit-count groupBy.
    Returns (id_col, bench_overlap) with overlap in [0, 1]."""
    from .dedup import word_shingles

    bench_grams = (
        benchmark.select(F.explode(word_shingles(text_col, n)).alias("_g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # _grams/_n are materialized BELOW the explode: putting
    # size(word_shingles(...)) in the same select as the explode lands
    # it in the Project ABOVE the Generate, where it re-evaluates the
    # whole shingle chain once PER EXPLODED GRAM (~n_grams x per doc -
    # measured 20x on this operator; the round-1 HOF-recompute pitfall
    # in generator clothing).
    ex = (
        df.select(F.col(id_col), word_shingles(text_col, n).alias("_grams"))
        .withColumn("_n", F.size("_grams"))
        .select(F.col(id_col), "_n", F.explode_outer("_grams").alias("_g"))
    )
    return (
        ex.join(F.broadcast(bench_grams), "_g", "left")
        .groupBy(id_col)
        .agg(
            (
                F.count("_hit").cast("double")
                / F.greatest(F.max("_n"), F.lit(1)).cast("double")
            ).alias("bench_overlap")
        )
    )


def corpus_report(
    df,
    stratum_col: str = "source",
    text_col: str = "text",
):
    """Per-source corpus health panel: doc/token volumes and the
    quality/diversity signal means that drive mixing and gating
    decisions. One scan + one stratum-cardinality groupBy (map-side
    partials collapse everything before the shuffle)."""
    sigs = df.select(
        F.col(stratum_col).alias("stratum"),
        token_count_ws(text_col).alias("_nt"),
        quality_score(text_col).alias("_q"),
        lang_id(text_col).alias("_lang"),
        type_token_ratio(text_col).alias("_ttr"),
        dup_ngram_frac(text_col, 2).alias("_dup2"),
        stopword_ratio(text_col).alias("_sw"),
        pii_count(text_col).alias("_pii"),
    )
    return sigs.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        F.round(F.avg("_nt"), 2).alias("avg_tokens"),
        # approx_percentile: bounded sketch state per group (exact
        # percentiles sort within groups - the wrong trade at scale)
        F.percentile_approx("_nt", F.array(F.lit(0.5), F.lit(0.95))).alias(
            "tokens_p50_p95"
        ),
        F.round(F.avg("_q"), 6).alias("avg_quality"),
        F.round(F.avg((F.col("_lang") == "en").cast("double")), 6).alias("en_share"),
        F.round(F.avg("_ttr"), 6).alias("avg_ttr"),
        F.round(F.avg("_dup2"), 6).alias("avg_dup_bigram"),
        F.round(F.avg("_sw"), 6).alias("avg_stopword"),
        F.sum("_pii").alias("n_pii_hits"),
    )


def chunk_text(
    df,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 256,
    overlap: int = 32,
):
    """Split documents into overlapping fixed-token chunks (the
    context-window prep for RAG indexing / long-doc training): chunk i
    covers tokens [i*step, i*step + chunk_tokens) with
    step = chunk_tokens - overlap. Pure Catalyst - token array,
    sequence of starts, slice+concat per start, one posexplode; no
    Python, no shuffle. Returns (id_col, chunk_idx, chunk, n_chunk_tokens).

    The ascending-sequence guard matters: sequence(1, 0) is DESCENDING
    in Spark, so the stop is clamped to >= 1 (short docs -> exactly one
    chunk covering the whole text)."""
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap={overlap} must be smaller than chunk_tokens={chunk_tokens}"
        )
    step = chunk_tokens - overlap
    toks = tokens(_col(text_col))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - overlap, F.lit(1)), F.lit(step)
    )
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice(toks, s, chunk_tokens))
    )
    return (
        df.select(F.col(id_col), chunks.alias("_chunks"))
        .select(F.col(id_col), F.posexplode("_chunks").alias("chunk_idx", "chunk"))
        .withColumn("n_chunk_tokens", token_count_ws("chunk"))
    )


def weighted_stratum_sample(
    df,
    id_col: str,
    stratum_col: str,
    rates: dict[str, float],
    seed: int = 42,
    default_rate: float = 0.0,
):
    """Deterministic per-stratum downsampling - the data-mixing step
    that reweights sources toward a target corpus composition. A row
    survives iff ``xxhash64(seed, id) mod 1e6 < rate(stratum) * 1e6``,
    so membership is a pure function of (seed, id): stable across
    runs, partitionings, and corpus growth (``df.sample`` is none of
    those). Strata absent from ``rates`` get ``default_rate``.

    The rates table is stratum-cardinality (tiny), shipped as a
    broadcast join; the filter itself is a narrow map, so the operator
    costs one scan at any corpus size."""
    for name, r in rates.items():
        if not (0.0 <= r <= 1.0):
            raise ValueError(f"rate for {name!r} must be in [0,1], got {r}")
    if not (0.0 <= default_rate <= 1.0):
        raise ValueError(f"default_rate must be in [0,1], got {default_rate}")
    slot = F.pmod(F.xxhash64(F.lit(seed), _col(id_col)), F.lit(1_000_000))
    if not rates:
        # no explicit strata: everything samples at default_rate
        return df.filter(slot < F.lit(default_rate) * 1_000_000)
    spark = df.sparkSession
    rate_rows = [(k, float(v)) for k, v in rates.items()]
    rtab = spark.createDataFrame(rate_rows, [stratum_col, "_rate"])
    return (
        df.join(F.broadcast(rtab), stratum_col, "left")
        .filter(slot < (F.coalesce("_rate", F.lit(default_rate)) * 1_000_000))
        .drop("_rate")
    )


def stratified_exact_k(
    df,
    id_col: str,
    stratum_col: str,
    k: int,
    seed: int = 42,
):
    """EXACTLY min(k, |stratum|) rows per stratum, deterministically -
    the eval-set constructor (rate-based sampling only hits k in
    expectation). Rows rank by ``xxhash64(seed, id)`` inside their
    stratum, so the chosen set is a pure function of (seed, ids):
    stable across runs, partitionings, and engine restarts, and
    UNCHANGED for surviving strata when other strata grow.

    Scale shape: one shuffle on the stratum key; the rank filter is a
    ``row_number() <= k`` that Spark pushes down as WindowGroupLimit -
    each map task keeps only its local top-k per stratum before the
    shuffle, so the wire carries O(strata x k) rows per task, not the
    corpus (plan-asserted in tests)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(stratum_col).orderBy(
        F.xxhash64(F.lit(seed), _col(id_col)), _col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def mix_rates(
    counts: dict[str, int], target_mix: dict[str, float]
) -> dict[str, float]:
    """Per-stratum keep-rates that move an observed composition toward
    ``target_mix`` (fractions summing to 1) WITHOUT upsampling: the
    largest feasible corpus honoring the mix is found by scaling until
    the tightest stratum caps out, then rates = wanted / have. Driver-
    side arithmetic over stratum-cardinality dicts (the counts come
    from one groupBy.count collect)."""
    total_target = sum(target_mix.values())
    if abs(total_target - 1.0) > 1e-9:
        raise ValueError(f"target_mix must sum to 1.0, got {total_target}")
    missing = [s for s in target_mix if counts.get(s, 0) == 0 and target_mix[s] > 0]
    if missing:
        raise ValueError(f"target_mix wants strata with zero rows: {missing}")
    # max corpus size N with wanted_s = mix_s * N <= have_s for all s
    n = min(counts[s] / m for s, m in target_mix.items() if m > 0)
    return {
        s: (m * n) / counts[s] if m > 0 else 0.0 for s, m in target_mix.items()
    }


def temperature_mix_rates(
    counts: dict[str, int], alpha: float, budget: int | None = None
) -> dict[str, float]:
    """Temperature-rebalanced per-stratum keep rates - the
    multilingual / data-mixing staple (XLM-R's exponentiated sampling,
    the T5/Llama data-recipe form): sampling probability
    ``p_s = n_s^alpha / sum_t n_t^alpha`` flattens the observed
    distribution toward uniform as alpha -> 0 and keeps it
    proportional at alpha = 1 - low-resource strata get boosted
    representation without an explicit target mix (the complement of
    ``mix_rates``, which needs one).

    Rates realize p over the LARGEST corpus feasible WITHOUT
    upsampling: N = min(budget or feasible, min_s n_s / p_s), rate_s
    = p_s * N / n_s (<= 1 by construction; the tightest stratum caps
    N - the mix_rates waterline, derived from temperature instead of
    a target dict). ``counts`` may be docs or tokens; ``budget`` is
    denominated in the same unit. Driver-side arithmetic over a
    stratum-cardinality dict (one groupBy collect)."""
    if not (0.0 <= alpha <= 1.0):
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    pos = {s: n for s, n in counts.items() if n > 0}
    if not pos:
        raise ValueError("temperature_mix_rates: no non-empty strata")
    z = sum(n**alpha for n in pos.values())
    p = {s: (n**alpha) / z for s, n in pos.items()}
    n_max = min(pos[s] / p[s] for s in pos)
    n_total = n_max if budget is None else min(float(budget), n_max)
    out = {s: p[s] * n_total / pos[s] for s in pos}
    out.update({s: 0.0 for s in counts if s not in pos})
    return out


def clean_corpus(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    languages: tuple[str, ...] = ("en",),
    max_stopword_ratio: float = 0.9,
    benchmark=None,
    max_benchmark_overlap: float = 0.5,
    decontam_ngram: int = 5,
):
    """The composed training-data pre-filter: language gate + quality
    gate + stopword sanity + (optional) benchmark decontamination +
    exact-dedup to one representative per normalized fingerprint. All
    narrow maps except the decontamination hit-count and the final
    per-fingerprint min. Returns the surviving rows of ``df`` unchanged
    plus the computed signals.

    Stage order is cost-ordered for the 100 TB case: the narrow gates
    cut volume first, the broadcast-join decontamination runs on the
    survivors only, and the fingerprint shuffle sees the smallest
    possible row set last."""
    from pyspark.sql import Window as W

    # same parallelism guard as the dedup family (dedup._spread): a
    # small control run often reads documents as ONE file split, and
    # the scoring + shingle stages do real per-row work - measured
    # ~30x at sf0.1 (single split -> one core -> ~50 s; spread -> <2 s).
    # r15: CONDITIONAL like _spread itself - the unconditional form
    # round-robin-shuffled the full text payload even when the scan
    # was already thousands of splits, i.e. a free full-corpus
    # shuffle at exactly the scale where it hurts (guide 2.4's
    # "repartition someone added for parallelism").
    from ..operators.dedup import _spread

    df = _spread(df)
    # tokenize once (own projection step, same rationale as
    # text_analysis): the token-based signals below reference the
    # array instead of re-running the regex split per signal - the
    # executed plan previously carried 48 split() evaluations because
    # the gate filter AND the projection each inlined every signal
    scored = df.withColumn("_toks", tokens(text_col))
    t = F.col("_toks")
    scored = scored.withColumn("_lang", lang_id(text_col)).withColumn(
        "_quality", quality_score(text_col, toks=t)
    ).withColumn("_sw", stopword_ratio(toks=t)).withColumn(
        "_fp", fingerprint(text_col)
    ).drop("_toks")
    # thresholds compare the 6dp-ROUNDED scores: the gates stay stable
    # across engines/BLAS summation order when a document sits exactly
    # on a boundary (the differential-oracle lesson from the cosine ops)
    gated = scored.filter(
        F.col("_lang").isin(*languages)
        & (F.round("_quality", 6) >= min_quality)
        & (F.round("_sw", 6) <= max_stopword_ratio)
    )
    if benchmark is not None:
        # persisted DISK_ONLY (the established two-consumer pattern,
        # see dedup.minhash_dedup_pairs): the decontam explode and the
        # overlap join-back would each re-run the gate scoring - four
        # HOF passes over every document's text - and the gate output
        # is the SMALLEST row set in the pipeline, so staging it is
        # strictly cheaper than recomputing it at any corpus size.
        from pyspark import StorageLevel

        # lazy return -> no in-function release point; repeated
        # library calls release via spark.catalog.clearCache()
        gated = gated.persist(StorageLevel.DISK_ONLY)
        overlap = benchmark_ngram_overlap(
            gated, benchmark, id_col=id_col, text_col=text_col, n=decontam_ngram
        )
        gated = gated.join(overlap, id_col, "left").filter(
            F.round(F.coalesce("bench_overlap", F.lit(0.0)), 6)
            < max_benchmark_overlap
        )
    w = W.partitionBy("_fp")
    return (
        gated.withColumn("_keep", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_keep")
        .withColumnRenamed("_lang", "lang_guess")
        .withColumnRenamed("_quality", "quality")
        .withColumnRenamed("_sw", "sw_ratio")
        .withColumnRenamed("_fp", "fp")
    )


def register_sentence_udtf(spark, name: str = "split_sentences"):
    """Register the sentence-segmentation Python UDTF (Spark 3.5+ udtf
    surface): one input row -> N (pos, start_char, sentence) rows,
    usable from SQL via LATERAL. This is the sanctioned shape for
    row-to-table logic that is genuinely ITERATIVE - the running
    character offset and quote-aware terminator scan below don't
    compose from split/posexplode. For plain delimiter explodes stay
    Catalyst-side (F.split + F.posexplode - JVM, no Python workers).

    Returns the UDTF handle (also usable directly:
    ``udtf_handle(F.col('text'))`` in a DataFrame lateralJoin).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, start_char int, sentence string")
    class SplitSentences:
        TERMINATORS = ".!?"

        def eval(self, text: str):
            if text is None:
                return
            pos = 0
            start = 0
            i = 0
            in_quote = False
            n = len(text)
            while i < n:
                ch = text[i]
                if ch == '"':
                    in_quote = not in_quote
                elif ch in self.TERMINATORS and not in_quote:
                    # consume trailing terminators/quotes/spaces
                    j = i + 1
                    while j < n and text[j] in '."!? ':
                        j += 1
                    sent = text[start:j].strip()
                    if sent:
                        yield pos, start, sent
                        pos += 1
                    start = j
                    i = j
                    continue
                i += 1
            tail = text[start:].strip()
            if tail:
                yield pos, start, tail

    spark.udtf.register(name, SplitSentences)
    return SplitSentences


# Small built-in valence lexicon (AFINN-style scoring scheme; the word
# list here is original). Real deployments broadcast a full lexicon
# table; the mechanism - in-row map lookup + fold - is identical.
SENTIMENT_LEXICON: dict[str, int] = {
    "good": 1, "great": 2, "excellent": 3, "love": 2, "best": 2,
    "fast": 1, "clean": 1, "win": 2, "correct": 1, "stable": 1,
    "bad": -1, "poor": -1, "slow": -1, "bug": -1, "wrong": -1,
    "terrible": -3, "awful": -3, "hate": -2, "broken": -2, "fail": -2,
}


def sentiment_score(
    text: Column | str | None = None, toks: Column | None = None
) -> Column:
    """Mean token valence under the built-in lexicon (lexicon-based
    sentiment, the classic Spark-scale formulation - cf. "Large Scale
    Sentiment Analysis on Twitter with Spark", EDBT 2016). In-row map
    lookup + aggregate fold: no explode, no shuffle, no Python; 0.0
    for docs with no lexicon hits. Same pre-tokenized ``toks``
    contract as the other token signals."""
    t = (
        F.transform(toks, lambda x: F.lower(x))
        if toks is not None
        else tokens(F.lower(_col(text)))
    )
    pairs: list[Column] = []
    for w, v in SENTIMENT_LEXICON.items():
        pairs.extend([F.lit(w), F.lit(v)])
    lex = F.create_map(*pairs)
    total = F.aggregate(
        t, F.lit(0), lambda acc, x: acc + F.coalesce(lex[x], F.lit(0))
    )
    return total.cast("double") / F.greatest(F.size(t), F.lit(1)).cast(
        "double"
    )


def pps_systematic(
    df,
    id_col: str,
    stratum_col: str,
    weight_col: str,
    k: int,
):
    """Probability-proportional-to-size SYSTEMATIC sampling, exact and
    replayable: per stratum, lay every row's integer weight end to end
    on a number line (cumulative sum over a deterministic id order),
    drop k evenly spaced selection points (multiples of
    ``step = total DIV k``), and a row is drawn once per point inside
    its interval - the survey-sampling classic, with inclusion
    probability proportional to weight and heavy rows drawn with
    MULTIPLICITY (weight > step spans several points). Pure integer
    arithmetic end to end: no rand() (task retries and reruns must
    agree - the engine-wide sampling rule hash_split set), no float
    priorities (the A-ES exponential-key formulation would rank on
    transcendentals, the tfidf_topk 1-ulp hazard). The multiplicity
    count is two integer divisions: points in (cum-w, cum] =
    min(cum DIV step, k) - min((cum-w) DIV step, k).

    Returns rows with multiplicity >= 1: stratum, id, weight,
    multiplicity; per stratum sum(multiplicity) == k exactly (pytest
    invariant). Requires positive integer weights and stratum totals
    >= k (step >= 1); rows with weight <= 0 never draw. A stratum
    whose total weight is BELOW k fails the job loudly
    (``raise_error`` names the stratum) - silently dropping it would
    break the per-stratum sum(multiplicity) == k contract, against
    the engine's loud-failure rule for violated preconditions.

    Scale: one per-stratum window cumsum over fact rows (partitioned,
    never global), a broadcast per-stratum total, and an in-row
    count - no shuffle beyond the window's, output k rows per
    stratum."""
    from pyspark.sql import Window as W

    w_cum = (
        W.partitionBy(stratum_col)
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    base = df.select(
        stratum_col,
        id_col,
        F.col(weight_col).cast("bigint").alias("_w"),
    ).filter(F.col("_w") > 0)
    cum = base.withColumn("_cum", F.sum("_w").over(w_cum))
    tot = cum.groupBy(stratum_col).agg(F.max("_cum").alias("_total"))
    kk = int(k)
    return (
        cum.join(F.broadcast(tot), stratum_col)
        .withColumn("_step", F.expr(f"_total DIV {kk}"))
        # total < k makes step 0: no valid k-point systematic draw
        # exists. Fail loudly (per-row when-branch, zero extra jobs)
        # instead of silently dropping the stratum and breaking the
        # sum(multiplicity) == k invariant.
        .withColumn(
            "_step",
            F.when(F.col("_step") >= 1, F.col("_step")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("pps_systematic: stratum "),
                        F.col(stratum_col).cast("string"),
                        F.lit(
                            f" has total weight < k={kk}"
                            " - cannot place k selection points"
                        ),
                    )
                )
            ),
        )
        .withColumn(
            "multiplicity",
            F.expr(
                f"least(_cum DIV _step, {kk})"
                f" - least((_cum - _w) DIV _step, {kk})"
            ),
        )
        .filter(F.col("multiplicity") >= 1)
        .select(
            stratum_col,
            id_col,
            F.col("_w").alias("weight"),
            F.col("multiplicity").cast("bigint").alias("multiplicity"),
        )
    )
