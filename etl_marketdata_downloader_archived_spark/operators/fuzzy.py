"""Fuzzy matching: the edit-distance join and the exact-Jaccard family.

Near-dup detection with exact, recall-1.0 joins - the deterministic
complement to the MinHash/SimHash candidates of operators.dedup, and
the implemented form of the reference's four dedup-before-write
TODOs (data-downloader/data_downloader.py:106,131,169,194).

Edit distance (``edit_distance_join``) on SHORT KEYS (titles, URLs,
file names) where the metric is character edits - the reference's
catalog keys on raw URL strings with no notion of near-equality
(data-harvester/data_harvester.py:35). Deletion-variant blocking (the
SymSpell/FastSS family): for edit distance <= 1, two strings must
share a member of {s} ∪ {s minus one character}. Proof by case:
substitution at i -> both sides' delete-at-i variants coincide;
insertion/deletion -> the shorter string IS a deletion variant of the
longer; equality -> s itself. So joining the variant sets is
complete, and a final levenshtein() verify removes the false
positives (certified against a brute-force DuckDB oracle,
tools/parity.py `fuzzy_join`). The explode factor is len(s)+1,
bounded by the key length, never by corpus size; variants shuffle as
xxhash64 keys, and a hash collision can only ADD a candidate the
verify then discards.

Exact Jaccard (``jaccard_prefix_join``, ``jaccard_prefix_join_rs``,
``jaccard_prefix_postings``, ``jaccard_screen_vs_postings``): the
PPJoin/AllPairs prefix-filter line. One contract serves all four:

- Rational threshold. A threshold t in (0, 1] is quantized once to
  p/q, q = 1e6, p = round(t*q) >= 1 (``_quantize``). The similarity
  cut q*inter >= p*union, the prefix lengths, the length filter and
  the pair bound are all bigint cross-multiplied arithmetic on that
  rational, so no float decides membership (the
  float form dropped the exact-boundary pair t=0.55, |a|=55 inside
  |b|=100). Token arrays are read as sets; set sizes are capped at
  1e9 (p*n must fit a bigint) and a larger set fails loudly. Empty
  and NULL sets never pair.
- Prefix lemma. Fix one total order on tokens, shared by every set.
  Jaccard >= p/q needs an overlap of at least ceil(p*n/q) with a set
  of size n, so a qualifying pair shares a token among the first
  n - ceil(p*n/q) + 1 tokens (the PREFIX) of each set - else the
  overlap would fit in the shorter suffix. An equi-join of prefix
  postings generates every qualifying pair; an exact array_intersect
  verify drops the false positives. Postings carry xxhash64(token)
  (8-byte shuffle keys); a collision only adds a candidate.
- Candidate bounds, inside the posting join. Length filter
  (AllPairs): Jaccard >= p/q forces q*min(n_a, n_b) >= p*max(n_a, n_b).
  Pair bound (PPJoin): q*I >= p*(n_a + n_b - I) gives the pair's own
  required overlap alpha = ceil(p*(n_a+n_b)/(p+q)), and the pair must
  share a token within the first n - alpha + 1 ranks of BOTH sides
  (if every shared token sat past that rank in a, a would hold at
  most alpha - 1 of them). A qualifying pair keeps every generating
  token, so recall stays 1.0; the classic positional filter is implied
  by the two rank bounds and is not added.
- Two orders. The in-memory joins rank tokens by frequency, rarest
  first (ties by hash, then token) - over the corpus, or over the
  union of both sides in the R-S join - which keeps posting lists
  short. A persisted posting store ranks by (hash, token): fixed
  forever, so postings of admitted sets are appended and never
  recomputed, at the cost of longer candidate lists.
- Unique ids. Each id names one token set. A replayed row (same id,
  same set) is harmless: the collapse tier keeps distinct member ids,
  per-set ranks are dense (the replay's repeated tokens share a rank)
  and pairs are deduplicated on ids after the verify, so every tier
  emits each pair once. An id carried by two DIFFERENT sets is out of
  contract: whose counts survive that dedup is unspecified.
"""

from __future__ import annotations

from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..io import (
    _list_data_files,
    _move_data_files,
    _old,
    _publish_table,
    _read_meta,
    _vfs,
    _write_meta,
    recover_small_table,
)

__all__ = [
    "compact_postings",
    "deletion_variants",
    "edit_distance_join",
    "jaccard_prefix_join",
    "jaccard_prefix_join_rs",
    "jaccard_prefix_postings",
    "jaccard_screen_vs_postings",
    "read_postings_meta",
    "read_postings_threshold",
    "sorted_neighborhood_pairs",
    "write_postings_meta",
]


def deletion_variants(s):
    """Array of `s` plus every single-character deletion of `s`."""
    c = F.col(s) if isinstance(s, str) else s
    dels = F.transform(
        F.sequence(F.lit(1), F.length(c)),
        lambda i: F.concat(
            c.substr(F.lit(1), i - 1), c.substr(i + 1, F.lit(1000000))
        ),
    )
    return F.array_append(dels, c)


def edit_distance_join(
    df: DataFrame, id_col: str, str_col: str, max_dist: int = 1
) -> DataFrame:
    """Self-join: all pairs (id_a < id_b) with levenshtein <= max_dist.

    Only ``max_dist=1`` is supported (deletion-variant blocking is
    exact-complete there with a linear variant set; higher distances
    need the PassJoin chunk scheme and an exponential variant family).
    Returns (id_a, id_b, dist), one row per pair.

    Duplicate-heavy inputs (the normal near-dup corpus) are handled by
    a two-tier plan: the variant join runs over DISTINCT strings only,
    so N copies of the same string cost ONE variant set, not N - the
    10x-replicated scale probe measured the naive id-level join at 93x
    the work for 10x data (every variant bucket went quadratic in the
    duplicate multiplicity); this shape stays distinct-string-bound.
    Exact-duplicate pairs (dist 0) expand from the string groups and
    near pairs (dist 1) expand from the distinct-string matches via
    string-keyed joins - both output-bound, which is the floor: the
    pairwise contract itself is quadratic in duplicate multiplicity."""
    if max_dist != 1:
        raise ValueError(
            "edit_distance_join supports max_dist=1 (deletion-variant "
            "blocking); use operators.dedup for coarser similarity"
        )
    rows = df.select(F.col(id_col).alias("_id"), F.col(str_col).alias("_s"))

    # tier 1: exact duplicates - all id pairs sharing a string
    a = rows.select(F.col("_id").alias("id_a"), "_s")
    b = rows.select(F.col("_id").alias("id_b"), "_s")
    exact = (
        a.join(b, "_s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).alias("dist"))
    )

    # tier 2: near pairs over DISTINCT strings
    ds = rows.select("_s").distinct()
    v = ds.select(
        "_s",
        F.explode(F.array_distinct(deletion_variants("_s"))).alias("_var"),
    ).select("_s", F.xxhash64("_var").alias("_vh"))
    sp = (
        v.select(F.col("_s").alias("_sa"), "_vh")
        .join(v.select(F.col("_s").alias("_sb"), "_vh"), "_vh")
        .filter(F.col("_sa") < F.col("_sb"))
        .select("_sa", "_sb")
        .distinct()
        .filter(F.levenshtein("_sa", "_sb") <= max_dist)
    )
    near = (
        sp.join(a.withColumnRenamed("_s", "_sa"), "_sa")
        .join(b.withColumnRenamed("_s", "_sb"), "_sb")
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.lit(max_dist).alias("dist"),
        )
    )
    return exact.unionByName(near)


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 3,
    max_distance: int | None = None,
    block_len: int = 1,
) -> DataFrame:
    """Sorted-neighborhood method (SNM, the Hernandez/Stolfo merge-
    purge classic): rank rows by ``key_col`` inside prefix blocks and
    compare each row only to its next ``window`` neighbors in that
    order - the OTHER standard blocking family next to
    edit_distance_join's deletion variants (SNM trades the distance-1
    exactness guarantee for arbitrary-distance candidate generation;
    production entity resolution runs several passes with different
    sort keys and unions the candidates).

    Returns (id_a, key_a, id_b, key_b, dist) for every in-window
    ordered pair, where a precedes b in the (key, id) sort;
    ``max_distance`` adds the levenshtein verify (rows kept iff dist
    <= max_distance). Pairs across block boundaries are not generated
    - the documented SNM recall trade (choose ``block_len`` so a
    candidate pair cannot disagree in its first characters, or run a
    second pass on a reversed key).

    Scale shape: the neighbor set builds IN-ROW (explode of
    sequence(rank+1, rank+window)) and joins back equi on (block,
    rank), so candidates are EXACTLY n x window - never the n^2 of a
    block self-join with a rank-range filter; the rank window
    partitions by block (never global), and the levenshtein verify is
    candidate-bound. Memory per task is row-sized throughout."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(key_col).alias("_key"),
        F.substring(F.lower(F.col(key_col)), 1, block_len).alias("_blk"),
    )
    rn = F.row_number().over(
        W.partitionBy("_blk").orderBy("_key", "_id")
    )
    ranked = base.withColumn("_rn", rn)
    left = ranked.select(
        "_blk",
        F.col("_id").alias("id_a"),
        F.col("_key").alias("key_a"),
        F.explode(
            F.expr(f"sequence(_rn + 1, _rn + {int(window)})")
        ).alias("_rnb"),
    )
    right = ranked.select(
        "_blk",
        F.col("_rn").alias("_rnb"),
        F.col("_id").alias("id_b"),
        F.col("_key").alias("key_b"),
    )
    out = left.join(right, ["_blk", "_rnb"]).select(
        "id_a",
        "key_a",
        "id_b",
        "key_b",
        F.levenshtein("key_a", "key_b").alias("dist"),
    )
    if max_distance is not None:
        out = out.filter(F.col("dist") <= int(max_distance))
    return out


_Q = 1_000_000  # denominator of the rational threshold (module docstring)


def _quantize(threshold: float) -> int:
    """Numerator p of the rational threshold p/_Q (module docstring);
    raises outside (0, 1] and when p rounds to 0."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    p = round(threshold * _Q)
    if p == 0:
        raise ValueError(f"threshold {threshold} quantizes to 0/1e6")
    return p


def _tokenize_sets(
    df: DataFrame, id_col: str, tokens_col: str, op_name: str
) -> DataFrame:
    """Shared input canonicalization for the Jaccard family: (_id, _t)
    with the token array distinct (set semantics), failing loud past
    the 1e9 exact-arithmetic cap (p*n must fit a bigint).

    Empty/NULL token sets are NOT filtered here (r16): a filter on the
    derived ``size(array_distinct(tokens))`` gets pushed below the
    projection with the whole tokenize chain INLINED, so every row
    paid the shingle+distinct work twice (measured ~0.7 s of the
    1.27 s tokenize stage at sf0.1). Empty/NULL sets are inert in
    every consumer instead: they explode to zero posting/prefix rows
    (no candidates, no verify rows, no re-expansion), and the one
    place they would surface - the collapse tier's identical-set
    ``within`` pairs, where an empty group would wrongly pair at
    jaccard 1 - carries an explicit aggregate-side guard
    (``_nk > 0``, an agg OUTPUT column precisely so the optimizer
    cannot push it back below the aggregate and re-inline the chain).
    The empty-sets-never-pair contract is unchanged and stays
    test-pinned."""
    tok = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(F.col(tokens_col)).alias("_t"),
    )
    return tok.withColumn(
        "_t",
        F.when(
            # NULL sets pass through (size(NULL) is NULL, which must
            # not fall into the raise_error branch now that NULL rows
            # are retained-and-inert rather than filtered)
            F.col("_t").isNull()
            | (F.size("_t") <= F.lit(1_000_000_000)),
            F.col("_t"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"{op_name}: set of size "),
                    F.size("_t").cast("string"),
                    F.lit(" exceeds the 1e9 exact-arithmetic cap"),
                )
            )
        ),
    )


def _flat(tok: DataFrame) -> DataFrame:
    """(_id, _n, _tk, _hk): one row per token of each set of ``tok``."""
    return tok.select(
        "_id", F.size("_t").alias("_n"), F.explode("_t").alias("_tk")
    ).withColumn("_hk", F.xxhash64("_tk"))


def _token_freq(*flats: DataFrame) -> DataFrame:
    """(_hk, _f): each token hash's posting count over ``flats`` - the
    rarest-first order's key."""
    hks = reduce(DataFrame.unionAll, [f.select("_hk") for f in flats])
    return hks.groupBy("_hk").agg(F.count(F.lit(1)).alias("_f"))


def _prefix_postings(
    flat: DataFrame, p: int, freq: DataFrame | None = None
) -> DataFrame:
    """(_id, _n, _hk, _rn) for the prefix tokens of each set of ``flat``
    (``_flat`` rows), ``_rn`` the token's rank in its set: the first
    n - ceil(p*n/q) + 1 tokens under the rarest-first order of ``freq``
    (``_token_freq``), or under the hash order when ``freq`` is None
    (module docstring)."""
    order = ["_hk", "_tk"]
    if freq is not None:
        flat, order = flat.join(freq, "_hk"), ["_f", *order]
    # dense: a replayed row's repeated tokens share their rank, so its
    # prefix is the set's own (a row number cuts it short and loses
    # pairs)
    ranked = flat.withColumn(
        "_rn", F.dense_rank().over(W.partitionBy("_id").orderBy(*order))
    )
    # exact integer ceil(p*n/q) = (p*n + q - 1) div q
    min_overlap = F.expr(f"(CAST({p} AS BIGINT) * _n + {_Q - 1}) div {_Q}")
    return ranked.filter(
        F.col("_rn") <= F.col("_n") - min_overlap + 1
    ).select("_id", "_n", "_hk", "_rn")


def _length_ok(p: int) -> Column:
    """AllPairs length filter on a posting join of sides ``a`` and
    ``b``: q*min(n_a, n_b) >= p*max(n_a, n_b) (module docstring)."""
    na, nb = F.col("a._n"), F.col("b._n")
    q_, p_ = F.lit(_Q).cast("bigint"), F.lit(p).cast("bigint")
    return q_ * F.least(na, nb) >= p_ * F.greatest(na, nb)


def _pair_prefix_ok(p: int) -> Column:
    """PPJoin pair bound on a posting join of sides ``a`` and ``b``:
    the generating token ranks within n - alpha + 1 on both sides,
    alpha the pair's own required overlap (module docstring). It drops
    candidates before the verify (at sf0.1: 104331 -> 33250 candidate
    pairs, kernel 1.67 -> 0.91 s, pair set identical)."""
    alpha = F.expr(
        f"(CAST({p} AS BIGINT) * (a._n + b._n) + {p + _Q - 1}) div {p + _Q}"
    )
    return (F.col("a._rn") <= F.col("a._n") - alpha + 1) & (
        F.col("b._rn") <= F.col("b._n") - alpha + 1
    )


def _verify(
    cand: DataFrame, tok_a: DataFrame, tok_b: DataFrame, p: int,
    a: str, b: str,
) -> DataFrame:
    """The exact verify every Jaccard join ends in: join each candidate
    (``a``, ``b``) back to its side's token array, compute the exact
    bigint intersection/union, keep pairs passing q*inter >= p*union.
    Returns (a, b, inter, union_n, jaccard); ``jaccard`` is one IEEE
    division of the exact bigints, for display and downstream use."""
    pairs = (
        cand.join(
            tok_a.select(F.col("_id").alias(a), F.col("_t").alias("_ta")), a
        )
        .join(
            tok_b.select(F.col("_id").alias(b), F.col("_t").alias("_tb")), b
        )
        .withColumn(
            "inter",
            F.size(F.array_intersect("_ta", "_tb")).cast("bigint"),
        )
        .withColumn(
            "union_n",
            (F.size("_ta") + F.size("_tb")).cast("bigint")
            - F.col("inter"),
        )
        .withColumn("jaccard", F.col("inter") / F.col("union_n"))
        .filter(
            F.lit(_Q).cast("bigint") * F.col("inter")
            >= F.lit(p).cast("bigint") * F.col("union_n")
        )
    )
    return pairs.select(a, b, "inter", "union_n", "jaccard")


def _prefix_filter_pairs(tok: DataFrame, p: int) -> DataFrame:
    """Self-join kernel over (_id, _t), frequency order: (id_a, id_b,
    inter, union_n, jaccard) with id_a < id_b."""
    flat = _flat(tok)
    # lazy localCheckpoint (r16): the self-join consumes `prefix` on
    # BOTH sides, and the freq-join + per-doc rank window underneath
    # it is the kernel's most expensive subtree - without the snapshot
    # each side re-runs it (AQE reuses the exchange below the window
    # but re-executes the window itself). Materialized once at first
    # action, prefix rows are a few ints per surviving token.
    # eager=False keeps building the plan action-free (interleaved
    # min-of-5 at sf0.1: 2.89 -> 2.61 s on the registered query).
    prefix = _prefix_postings(flat, p, _token_freq(flat)).localCheckpoint(
        eager=False
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "_hk")
        .filter(
            (F.col("a._id") < F.col("b._id"))
            & _length_ok(p)
            & _pair_prefix_ok(p)
        )
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
    )
    # candidates dedup AFTER the verify (r16): a pre-verify distinct is
    # a full exchange+aggregate over every candidate occurrence, while
    # the post-verify dedup exchanges only the true pairs. An
    # occurrence's verify is deterministic, and the pair bound caps its
    # multiplicity at the pair's own prefix length, so the redundant
    # verify work is cheaper than the saved shuffle at every tested
    # scale.
    return _verify(cand, tok, tok, p, "id_a", "id_b").dropDuplicates(
        ["id_a", "id_b"]
    )


def _prefix_filter_pairs_rs(
    tok_l: DataFrame, tok_r: DataFrame, p: int
) -> DataFrame:
    """Two-corpus kernel: frequency order over the UNION of both sides,
    postings join LEFT x RIGHT with no id order (ids may collide across
    the two corpora). Returns (left_id, right_id, inter, union_n,
    jaccard)."""
    fl, fr = _flat(tok_l), _flat(tok_r)
    # lazy localCheckpoint (r16): the union-order frequency table
    # feeds BOTH sides' prefix windows; without the snapshot each side
    # re-runs the two-corpus explode + aggregate. Rows are (hash,
    # count) - 16 bytes per distinct token, never corpus-sized.
    freq = _token_freq(fl, fr).localCheckpoint(eager=False)
    cand = (
        _prefix_postings(fl, p, freq)
        .alias("a")
        .join(_prefix_postings(fr, p, freq).alias("b"), "_hk")
        .filter(_length_ok(p) & _pair_prefix_ok(p))
        .select(
            F.col("a._id").alias("left_id"),
            F.col("b._id").alias("right_id"),
        )
    )
    # post-verify dedup, as in the self kernel
    return _verify(cand, tok_l, tok_r, p, "left_id", "right_id").dropDuplicates(
        ["left_id", "right_id"]
    )


def _collapse(
    tok: DataFrame, cache_registry: list | None, *aggs
) -> tuple[DataFrame, DataFrame]:
    """The duplicate-collapse tier's grouping of (_id, _t): one row per
    distinct token SET - ``_key`` (the sorted set; array equality keeps
    the grouping exact, where a hash key could merge distinct sets on
    collision), ``_rid`` (the representative, the least id), ``_ids``
    (the distinct member ids, so a replayed row is one member) and
    ``aggs``. Returns (groups, reps), reps being (_id, _t) rows of the
    representatives for a kernel.

    One aggregation carries the representative AND the member list, so
    every downstream branch hangs off one exchange; it is persisted
    DISK_ONLY because each consumer (the kernel's frequency, prefix
    and verify uses, the re-expansion) would otherwise re-run the
    scan + tokenize + groupBy chain (the r15 profile: ~4x the needed
    executor time). Disk, not memory: the joins return lazily and have
    no release point; ``cache_registry`` hands the handle to the
    caller."""
    groups = (
        tok.groupBy(F.array_sort("_t").alias("_key"))
        .agg(
            F.min("_id").alias("_rid"),
            F.sort_array(F.collect_set("_id")).alias("_ids"),
            *aggs,
        )
        .persist(StorageLevel.DISK_ONLY)
    )
    if cache_registry is not None:
        cache_registry.append(groups)
    reps = groups.select(
        F.col("_rid").alias("_id"), F.col("_key").alias("_t")
    )
    return groups, reps


def _expand(
    rep_pairs: DataFrame, ga: DataFrame, gb: DataFrame, a: str, b: str
) -> DataFrame:
    """Re-expand each representative pair (``a``, ``b``) of
    ``rep_pairs`` to every member pair of its two ``_collapse`` groups:
    (_ma, _mb, inter, union_n, jaccard). Two equi-joins on the
    pair-sized frame and two chained explodes that stream the member
    pairs - output-bound, never an in-row pair array."""
    return (
        rep_pairs.join(
            ga.select(F.col("_rid").alias(a), F.col("_ids").alias("_ia")), a
        )
        .join(
            gb.select(F.col("_rid").alias(b), F.col("_ids").alias("_ib")), b
        )
        .select(
            "inter", "union_n", "jaccard",
            F.explode("_ia").alias("_ma"), "_ib",
        )
        .select(
            "inter", "union_n", "jaccard",
            "_ma", F.explode("_ib").alias("_mb"),
        )
    )


def jaccard_prefix_join(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold: float,
    collapse_duplicates: bool = True,
    cache_registry: list | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering: every
    unordered pair of rows whose token sets have Jaccard similarity
    >= ``threshold``, with no false negatives (the PPJoin/AllPairs
    contract - threshold, prefix lemma, frequency order, unique ids -
    is in the module docstring).

    Returns (id_a, id_b, inter, union_n, jaccard) with id_a < id_b,
    one row per pair.

    ``collapse_duplicates`` (default True) is the dedup-first tier -
    the edit_distance_join two-tier lesson applied one level up: rows
    with IDENTICAL token sets collapse to one representative before the
    prefix join, so the candidate kernel is bounded by DISTINCT sets;
    identical-set pairs (jaccard exactly 1) and cross-group pairs then
    re-expand by membership, both output-bound. Without it a
    duplicate-heavy corpus (the normal near-dup input) made the
    CANDIDATE stage quadratic in duplicate multiplicity (the r11 30x
    probe: a C(30,2)-shaped pair set at 46x wall). Set False only to
    exercise the raw kernel (tests compare the two tiers for
    identity). ``cache_registry`` receives the tier's DISK_ONLY
    grouping for the caller to unpersist once the pairs materialize.

    Scale shape: candidates are bounded by the posting lists of RARE
    tokens over distinct sets; the frequency table and the per-row
    prefix rank are grouped/partitioned, never global; the verify is
    in-row on the candidates. The remaining hot spot is a token both
    rare corpus-wide and shared by a NEAR-duplicate cluster - exactly
    the pairs the join must emit, so output size is the bound."""
    p = _quantize(threshold)
    tok = _tokenize_sets(df, id_col, tokens_col, "jaccard_prefix_join")
    if not collapse_duplicates:
        return _prefix_filter_pairs(tok, p)
    # _nk: the group's set size as an AGGREGATE OUTPUT column, the
    # empty/NULL-set guard of `within` below - an agg output so the
    # optimizer cannot push the guard below the aggregate and re-inline
    # the caller's tokenize chain (see _tokenize_sets)
    groups, reps = _collapse(
        tok, cache_registry, F.max(F.size("_t")).alias("_nk")
    )
    # identical sets pair at jaccard exactly 1 (>= any threshold); two
    # chained explodes stream the m^2 candidate rows; _nk > 0 drops the
    # empty/NULL-set group (NULL _nk fails the predicate too)
    within = (
        groups.filter((F.size("_ids") >= 2) & (F.col("_nk") > 0))
        .select(
            F.size("_key").cast("bigint").alias("inter"),
            F.explode("_ids").alias("id_a"),
            "_ids",
        )
        .select("inter", "id_a", F.explode("_ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "inter",
            F.col("inter").alias("union_n"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    rep_pairs = _prefix_filter_pairs(reps, p)
    cross = _expand(rep_pairs, groups, groups, "id_a", "id_b").select(
        F.least("_ma", "_mb").alias("id_a"),
        F.greatest("_ma", "_mb").alias("id_b"),
        "inter",
        "union_n",
        "jaccard",
    )
    return within.unionByName(cross)


def jaccard_prefix_join_rs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold: float,
    collapse_duplicates: bool = True,
    cache_registry: list | None = None,
) -> DataFrame:
    """EXACT two-corpus (R-S) set-similarity join: every pair
    (left_id, right_id) with Jaccard >= ``threshold`` between a row
    of ``left`` and a row of ``right``, recall 1.0 - the
    incoming-batch-vs-existing-corpus admission shape, the
    deterministic complement of operators.dedup.neardup_incremental:
    score a new batch against the accepted corpus without ever
    joining the corpus to itself.

    The contract is the module docstring's; the frequency order is
    counted over the UNION of both sides. Ids may collide across
    sides (they are different tables); output columns are left_id /
    right_id.

    ``collapse_duplicates`` applies the dedup-first tier of
    ``jaccard_prefix_join`` PER SIDE: identical token sets collapse to
    representatives before the kernel, and pairs re-expand
    left-members x right-members, output-bound. Identical sets ACROSS
    sides come out of the kernel itself (J = 1 passes any threshold),
    so no within tier exists here.

    Scale shape: when ``right`` is a small incoming batch its posting
    side is batch-sized, so the join cost tracks the BATCH, not the
    corpus (the corpus side contributes only postings whose token
    appears in some batch prefix)."""
    p = _quantize(threshold)
    tok_l = _tokenize_sets(left, id_col, tokens_col, "jaccard_prefix_join_rs")
    tok_r = _tokenize_sets(right, id_col, tokens_col, "jaccard_prefix_join_rs")
    if not collapse_duplicates:
        return _prefix_filter_pairs_rs(tok_l, tok_r, p)
    gl, reps_l = _collapse(tok_l, cache_registry)
    gr, reps_r = _collapse(tok_r, cache_registry)
    rep_pairs = _prefix_filter_pairs_rs(reps_l, reps_r, p)
    return _expand(rep_pairs, gl, gr, "left_id", "right_id").select(
        F.col("_ma").alias("left_id"),
        F.col("_mb").alias("right_id"),
        "inter",
        "union_n",
        "jaccard",
    )


# The two posting stores (the exact store's prefix postings here, the
# near-dup band postings in operators.dedup) share one layout and one
# screen: ``_bk = pmod(hash, B)`` partitions a store, a screen reads
# only the buckets its own batch hashes into, candidate ids are
# snapshotted once for a corpus loader, and the ``_meta`` sidecar is
# checked against the threshold denominator.


def _bucket_of(hash_col: str, buckets: int) -> Column:
    """The store partition key ``_bk`` of a posting hash."""
    return F.pmod(F.col(hash_col), F.lit(buckets))


def _prune_store(
    batch_post: DataFrame, store: DataFrame, hash_col: str, buckets: int,
    builder: str,
) -> tuple[DataFrame, DataFrame]:
    """(batch postings, store read) for a ``_bk``-bucketed store: the
    batch side is micro-batch sized, so one bounded collect of its
    distinct bucket keys (<= ``buckets`` ints) becomes a PARTITION
    filter on the store scan. Candidates only meet on equal hashes,
    and equal hashes share a bucket, so pruning drops no candidate.
    The batch postings come back checkpointed so the bucket probe and
    the candidate join share one computation of them."""
    if "_bk" not in store.columns:
        raise ValueError(
            "store_buckets given but the posting store has no _bk "
            f"column - build it with {builder}(bucket_by=B) and write "
            "partitionBy('_bk')"
        )
    batch_post = batch_post.localCheckpoint()
    hit = [
        r["_b"]
        for r in batch_post.select(_bucket_of(hash_col, buckets).alias("_b"))
        .distinct()
        .collect()
    ]
    return batch_post, store.filter(F.col("_bk").isin(hit)).drop("_bk")


def _load_candidates(
    cands: DataFrame, corpus_loader, cand_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(cands, corpus rows) with the batch-bounded candidate set
    snapshotted once: the loader's bucket-key collect and the verify
    join must share one computation of the candidate join."""
    cands = cands.localCheckpoint()
    return cands, corpus_loader(
        cands.select(F.col(cand_col).alias(id_col)).distinct()
    )


def _read_checked_meta(spark, postings_dir: str) -> dict | None:
    """A posting store's ``_meta`` sidecar, or None when absent; raises
    when its threshold denominator is not ``_Q``."""
    meta = _read_meta(spark, postings_dir)
    if meta is not None and meta.get("_q") != _Q:
        raise ValueError(
            f"posting-store _meta at {postings_dir} is corrupt: {meta}"
        )
    return meta


def jaccard_prefix_postings(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold: float,
    bucket_by: int | None = None,
) -> DataFrame:
    """PERSISTABLE prefix postings for incremental exact-Jaccard
    screening: one row per (set id, prefix-token hash) with the set
    size, under the corpus-independent hash order (module docstring),
    so postings of admitted documents are APPENDED to a store and
    never recomputed; ``jaccard_screen_vs_postings`` consumes them.

    Columns: _id, _n (set size), _hk (prefix-token hash), _p (the
    quantized threshold numerator - a store built at one threshold
    must not silently screen at another; the consumer checks it).

    ``bucket_by=B`` appends ``_bk = pmod(_hk, B)`` - the PARTITION key
    for a persisted store (``partitionBy("_bk")`` on write). Candidates
    only meet on EQUAL posting hashes, so a screen only ever needs the
    store buckets its own batch's prefixes hash into:
    ``jaccard_screen_vs_postings(store_buckets=B)`` pushes that bucket
    list as a partition filter, turning the per-batch store scan (the
    path's last linear term) into a pruned read."""
    p = _quantize(threshold)
    tok = _tokenize_sets(df, id_col, tokens_col, "jaccard_prefix_postings")
    out = (
        _prefix_postings(_flat(tok), p)
        .select("_id", "_n", "_hk")
        .withColumn("_p", F.lit(p))
    )
    if bucket_by is not None:
        if bucket_by < 1:
            raise ValueError(f"bucket_by must be >= 1, got {bucket_by}")
        out = out.withColumn("_bk", _bucket_of("_hk", bucket_by))
    return out


def jaccard_screen_vs_postings(
    batch: DataFrame,
    store_postings: DataFrame,
    corpus: DataFrame | None,
    id_col: str,
    tokens_col: str,
    threshold: float,
    store_p_num: int | None = None,
    store_buckets: int | None = None,
    corpus_loader=None,
) -> DataFrame:
    """Screen an incoming batch against a PERSISTED posting store
    (built by ``jaccard_prefix_postings`` over previously admitted
    sets) without recomputing anything corpus-wide: batch prefixes
    under the same hash order join the store on the 8-byte posting
    key with the AllPairs length filter inside the join; only the
    CANDIDATE corpus rows are re-tokenized for the exact verify
    (semi-join by candidate id - candidate-bounded, never a corpus
    pass). Returns (left_id = corpus id, right_id = batch id, inter,
    union_n, jaccard) for every qualifying pair, recall 1.0.

    Per-batch cost: batch tokenize + batch postings + ONE columnar
    scan of the store's 8-byte keys (the batch side broadcasts) +
    candidate-bounded verify. At the 100 TB tier the store scan is
    the remaining linear term - bucket the store by pmod(_hk) or
    range-partition and index it (io.build_skipping_index on _hk) to
    prune it too.

    Raises if ANY store row was built at a different threshold
    (stored ``_p``, checked over the DISTINCT values - one arbitrary
    row would pass a mixed-threshold store nondeterministically,
    review-caught): prefixes are threshold-derived, so screening a
    store at a different cut would silently lose recall. That check
    is a second full scan of the store's _p column per call - on the
    hot ingest path pass ``store_p_num`` (the store-level threshold
    from its ``_meta`` sidecar, see ``read_postings_threshold``) and
    the scan is skipped: the sidecar is written once at store
    creation and every append goes through the same code path, so it
    is authoritative (ADVICE r12).

    ``store_buckets=B`` declares the store ``_bk``-bucketed with B
    buckets (``jaccard_prefix_postings(bucket_by=B)``, written
    ``partitionBy("_bk")``): the batch's own postings hash into a
    bounded set of buckets (<= B values, collected driver-side), and
    the store read is filtered to exactly those - a PARTITION filter
    on the store scan, so the per-batch cost tracks the batch's
    bucket coverage instead of the full store (the path's last
    linear term). Candidates only meet on equal ``_hk``, and equal
    hashes share a bucket, so pruning drops no candidate: pruned ==
    full screen, recall stays 1.0. B must be the store's own bucket
    count - the ingest persists it in the ``_meta`` sidecar.

    ``corpus_loader`` closes the path's LAST corpus-linear term
    (VERDICT r14): without it, ``corpus`` is a full corpus frame and -
    although the verify work is candidate-bounded via the id semi-join
    - the SCAN under it still reads the whole corpus text column
    (plain equi-joins have no index and no dynamic file pruning in OSS
    Spark). With a loader, the screen materializes the candidate ids
    once (they are batch-bounded) and calls
    ``corpus_loader(cand_ids_df)`` - a callable returning ONLY the
    corpus rows that can contain those ids (e.g. a
    ``corpus_store.read_corpus`` partition-pruned read of the
    candidates' ``_ck`` buckets). The id semi-join still runs on the
    loader's result, so a loader may over-return rows (bucket
    granularity) without affecting results; ``corpus`` is ignored
    (pass None)."""
    p_num = _quantize(threshold)
    if store_p_num is not None:
        if store_p_num != p_num:
            raise ValueError(
                "jaccard_screen_vs_postings: store metadata says "
                f"threshold p={store_p_num}/1e6, screen requested "
                f"p={p_num}/1e6 - rebuild the store or screen at its "
                "threshold"
            )
    else:
        stored_ps = [
            r["_p"] for r in store_postings.select("_p").distinct().collect()
        ]
        wrong = sorted(p for p in stored_ps if p != p_num)
        if wrong:
            raise ValueError(
                "jaccard_screen_vs_postings: store holds postings built "
                f"at threshold p={wrong}/1e6, screen requested "
                f"p={p_num}/1e6 - rebuild the store or screen at its "
                "threshold"
            )
    bp = jaccard_prefix_postings(batch, id_col, tokens_col, threshold)
    if store_buckets is not None:
        # _bk is re-derived from _hk under the store's OWN bucket
        # count, so the batch postings carry no bucket column
        bp, store_postings = _prune_store(
            bp, store_postings, "_hk", store_buckets, "jaccard_prefix_postings"
        )
    cand = (
        store_postings.alias("a")
        .join(bp.alias("b"), "_hk")
        .filter(_length_ok(p_num))
        .select(
            F.col("a._id").alias("left_id"),
            F.col("b._id").alias("right_id"),
        )
        .distinct()
    )
    if corpus_loader is not None:
        cand, corpus = _load_candidates(cand, corpus_loader, "left_id", id_col)
    corpus_tok = _tokenize_sets(
        corpus, id_col, tokens_col, "jaccard_screen_vs_postings"
    )
    # candidate-bounded corpus read: only matched ids re-tokenize
    corpus_cand = corpus_tok.join(
        cand.select(F.col("left_id").alias("_id")).distinct(),
        "_id",
        "left_semi",
    )
    batch_tok = _tokenize_sets(
        batch, id_col, tokens_col, "jaccard_screen_vs_postings"
    )
    return _verify(
        cand, corpus_cand, batch_tok, p_num, "left_id", "right_id"
    )


def write_postings_meta(
    spark, postings_dir: str, threshold: float, buckets: int | None = None
) -> None:
    """Persist the posting store's build parameters in its ``_meta``
    sidecar (Layout, ``io`` module docstring). Written once at store
    creation; every append goes through the same threshold, so
    consumers can trust it instead of scanning the store's ``_p``
    column per batch (ADVICE r12: the distinct-_p guard was a second
    full store scan on the hot ingest path)."""
    _write_meta(
        spark,
        postings_dir,
        {"_p": _quantize(threshold), "_q": _Q, "_buckets": buckets},
    )


def read_postings_meta(spark, postings_dir: str) -> dict | None:
    """Read the ``_meta`` sidecar: ``{"p_num": int, "buckets":
    int | None}``, or None for a legacy store (the caller then falls
    back to the distinct-_p scan and may write the sidecar forward)."""
    meta = _read_checked_meta(spark, postings_dir)
    if meta is None:
        return None
    return {"p_num": meta["_p"], "buckets": meta["_buckets"]}


def read_postings_threshold(spark, postings_dir: str) -> int | None:
    """Threshold numerator (p/1e6) from the store's ``_meta`` sidecar,
    or None when absent."""
    meta = read_postings_meta(spark, postings_dir)
    return None if meta is None else meta["p_num"]


def recover_posting_store(spark, postings_dir: str) -> bool:
    """Entry-time crash recovery for a posting store's compaction
    leftovers. A live store missing beside ``__old`` is restored by
    ``io.recover_small_table``. A live store beside ``__old`` is the
    posting store's own rule: the swap completed but cleanup didn't,
    and ``__old`` may hold CONCURRENTLY APPENDED postings that were
    never rescued, so every ``__old`` data file moves into the live
    store before ``__old`` is deleted. Recall can only gain (worst case
    the whole pre-compaction store re-appends as duplicate postings,
    which screens absorb and the next compaction collapses); deleting
    blind could lose a concurrent append forever, the module's worst
    failure mode.

    Returns True if any recovery action ran. Both streaming ingests
    and compact_postings call this at entry, so the crash window heals
    on the NEXT batch/maintenance pass without operator action."""
    root = postings_dir.rstrip("/")
    jvm_path, fs = _vfs(spark, root)
    old = _old(root)
    if not (fs.exists(jvm_path(root)) and fs.exists(jvm_path(old))):
        return recover_small_table(spark, root)
    _move_data_files(spark, _list_data_files(spark, old), root)
    fs.delete(jvm_path(old), True)
    return True


def posting_store_file_count(spark, postings_dir: str) -> int:
    """Number of DATA files in the store - the metadata-bounded
    compaction trigger signal (one recursive listing, no data read).
    File count grows on every append and every at-least-once replay;
    row-level duplication is invisible to it, but both problems have
    the same cure (compact_postings) and the same growth source."""
    return len(_list_data_files(spark, postings_dir))


def compact_postings(
    spark, postings_dir: str, _pre_swap_hook=None
) -> tuple[int, int]:
    """Rewrite a persisted posting store to DISTINCT rows, crash-safe.

    Why it exists: the ingests append postings before corpus rows
    (crash ordering), so an at-least-once replay of a crashed batch
    appends the same postings twice - harmless for correctness (the
    screen's candidate distinct absorbs them) but permanent growth:
    the store is append-only forever otherwise. Distinct is exactly
    the right compaction because posting rows carry no payload beyond
    their identity (_id, _n, _hk, _p [, _bk]).

    Publishes through the whole-table swap (``io`` module docstring);
    ``recover_posting_store`` runs at entry and heals a crashed swap.
    The ingests' loud missing-store guard means the swap's rename
    window is noisy, never silent.

    Preserves the ``_bk`` partitioning layout and carries the
    ``_meta`` sidecar into the new snapshot VERBATIM (field-for-field
    copy, so the same maintenance op serves BOTH posting-store
    flavors - the exact hash-order store and the near-dup band store,
    whose sidecars carry different parameters; posting rows of either
    flavor are identity-only, so distinct is the right compaction for
    both). A store with zero DATA files (only the hidden sidecar -
    the legitimate all-unshingleable-admissions state) is already
    compact: returns (0, 0) without touching it (review finding: the
    schemaless read crashed on inference). Single maintenance writer
    per store assumed - the maintenance lock covers
    maintenance-vs-maintenance only; the ingests' appends take no
    lock, so compaction must tolerate a CONCURRENT APPEND.

    Concurrent-append safety (review finding - the worst failure mode
    was real): an append landing between this function's snapshot
    listing and the live->__old rename used to travel into ``__old``
    and die in the final delete - admitted docs whose corpus rows
    survive but whose postings vanish, a permanent silent recall hole.
    Now the data-file listing is snapshotted BEFORE the compaction
    read, and after the swap any ``__old`` data file NOT in that
    snapshot (i.e. appended concurrently) is MOVED into the new live
    store before ``__old`` is deleted. A file that landed between the
    snapshot and Spark's own read listing may be both compacted and
    rescued - duplicate postings, which the screen's candidate
    distinct absorbs and the next compaction removes; rescue therefore
    errs on recall, never loses it. An append IN FLIGHT at swap time
    fails its own commit loudly (its output path was renamed away) -
    noisy, at-least-once replay re-appends it.

    ``_pre_swap_hook`` (tests only): called after the stage write,
    before the live->__old rename - the exact race window.
    Returns (rows_before, rows_after)."""
    root = postings_dir.rstrip("/")
    jvm_path, fs = _vfs(spark, root)
    recover_posting_store(spark, root)
    if not fs.exists(jvm_path(root)):
        raise ValueError(f"compact_postings: no store at {postings_dir}")

    # snapshot the listing BEFORE the compaction read: every data file
    # in this set is guaranteed covered by the distinct rewrite below;
    # anything that appears later is a concurrent append to rescue
    snapshot = set(_list_data_files(spark, root))
    if not snapshot:
        return 0, 0
    store = spark.read.parquet(root)
    before = store.count()
    meta = _read_meta(spark, root)
    # BOUND the compacted snapshot's file count: one file per bucket
    # (repartition on the partition column) or defaultParallelism for
    # the unbucketed flavor. Without this, a wide shuffle writes up to
    # tasks*buckets files and the compacted store can itself sit above
    # a file-count compaction trigger - every subsequent ingest batch
    # would re-run a full-store rewrite forever (review finding).
    compacted = store.distinct()
    if "_bk" in store.columns:
        compacted = compacted.repartition("_bk")
        writer = compacted.write.mode("overwrite").partitionBy("_bk")
    else:
        compacted = compacted.coalesce(
            spark.sparkContext.defaultParallelism
        )
        writer = compacted.write.mode("overwrite")

    def write(stage: str) -> None:
        writer.parquet(stage)
        if meta is not None:
            _write_meta(spark, stage, meta)
        if _pre_swap_hook is not None:
            _pre_swap_hook()

    def rescue(old: str) -> None:
        # any data file in __old that was NOT in the pre-read snapshot
        # landed after it and is NOT covered by the distinct rewrite -
        # move it into the live store (same rel path, so the _bk=
        # layout is preserved) BEFORE __old is deleted
        late = {
            rel: f
            for rel, f in _list_data_files(spark, old).items()
            if rel not in snapshot
        }
        _move_data_files(spark, late, root)

    _publish_table(spark, root, write, rescue=rescue)
    after = spark.read.parquet(root).count()
    return before, after
