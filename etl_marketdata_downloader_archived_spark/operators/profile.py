"""Column profiler: one-pass per-column stats in long form.

The exploration/data-quality surface: count, null count, distinct
count, numeric min/max/mean, string min/max for every requested
column, emitted as one row per column. Complements the rule-based
gates in operators.quality (which ENFORCE expectations; this
DISCOVERS what the data looks like) and the corpus-specific
`operators.text.corpus_report`.

Scale: the default ``exact=False`` is a single wide aggregate over
one scan - approx_count_distinct (HLL) folds into the same pass with
no Expand, which is the right profile at 100 TB. ``exact=True`` runs
ONE PRUNED SCAN PER COLUMN, unioned (r15): stacking the exact
COUNT(DISTINCT col) aggregates into one wide aggregate made Catalyst
Expand the scan n_cols+1 times - every input row multiplied through
the partial aggregate once per distinct column - while per-column
branches read exactly the same columnar bytes in total (each branch's
scan prunes to its one column) and aggregate 1x rows each; measured
3.4x on the events profile (1.88 s -> 0.55 s solo at sf0.1),
per-branch results bit-identical. The branches are independent jobs,
so a driver that overlaps them (guide 2.6) hides the per-branch scan
setup too; the registered `profile_events` query runs exact so the
DuckDB oracle can replay it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "profile",
    "grid_bounds",
    "ks_statistic",
    "ks_from_counts",
    "mad_outliers",
    "mann_whitney",
    "weighted_median",
    "cusum_changepoint",
    "stepped_counts",
    "percentile_pick",
    "exact_percentiles",
]

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)

_PROFILE_SCHEMA = (
    "column string, n bigint, n_null bigint, n_distinct bigint, "
    "num_min double, num_max double, num_mean double, "
    "str_min string, str_max string"
)


def profile(
    df: DataFrame, columns: list[str] | None = None, exact: bool = False
) -> DataFrame:
    """Profile ``columns`` (default: all numeric/string columns).

    Returns one row per column:
    (column, n, n_null, n_distinct, num_min, num_max, num_mean,
    str_min, str_max) - the num_* fields are NULL for string columns
    and vice versa; num_mean is rounded to 4 dp so profiles compare
    stably across engines/run orders. No column to profile (an empty
    ``columns``, or a frame with no numeric/string column) gives an
    empty frame with that schema."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    if columns is None:
        columns = [
            c for c, t in fields.items()
            if isinstance(t, _NUMERIC) or isinstance(t, T.StringType)
        ]
    if not columns:
        return df.sparkSession.createDataFrame([], _PROFILE_SCHEMA)
    dcount = F.countDistinct if exact else (
        lambda c: F.approx_count_distinct(c)
    )

    def stats(c: str) -> list:
        num = isinstance(fields[c], _NUMERIC)
        col = F.col(c)
        return [
            F.lit(c).alias("column"),
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(col.isNull(), 1)).alias("n_null"),
            dcount(col).alias("n_distinct"),
            (F.min(col).cast("double") if num
             else F.lit(None).cast("double")).alias("num_min"),
            (F.max(col).cast("double") if num
             else F.lit(None).cast("double")).alias("num_max"),
            (F.round(F.avg(col), 4) if num
             else F.lit(None).cast("double")).alias("num_mean"),
            (F.min(col) if not num
             else F.lit(None).cast("string")).alias("str_min"),
            (F.max(col) if not num
             else F.lit(None).cast("string")).alias("str_max"),
        ]

    if exact:
        # one pruned single-column scan per column (see module note:
        # the stacked form Expands the scan n_cols+1x; these branches
        # read the same total bytes and aggregate 1x rows each)
        out = df.agg(*stats(columns[0]))
        for c in columns[1:]:
            out = out.unionByName(df.agg(*stats(c)))
        return out
    aggs = [F.struct(*stats(c)).alias(f"_p_{c}") for c in columns]
    wide = df.agg(*aggs)
    return wide.select(
        F.explode(F.array(*[F.col(f"_p_{c}") for c in columns])).alias("p")
    ).select("p.*")


def grid_bounds(
    df: DataFrame,
    value,
    bins: int | None,
    bounds: tuple[float, float] | None,
) -> tuple[float, float] | None:
    """Resolve the ``width_bucket`` grid for the family's ``bins=``
    scale tier (ks_statistic, binary_auc/score_deciles via
    evaluation._quantized_score, weighted_median) - the ONE place the
    bounds rules live, so the tiers cannot drift:

    - bins None: exact tier, returns None - and REJECTS a dangling
      ``bounds`` (silently ignoring a pinned grid the caller asked
      for would run the exact row-scale path they meant to avoid);
    - explicit bounds: validated lo < hi, no data scan;
    - auto bounds: one global min/max scalar aggregate over ``value``
      cast to double; all-NULL input pins (0, 1) (empty result either
      way), a constant column widens to (lo, lo+1) so width_bucket
      stays well-formed.
    """
    if bins is None:
        if bounds is not None:
            raise ValueError(
                "bounds= requires bins= (the exact tier has no grid to pin)"
            )
        return None
    if bounds is not None:
        lo, hi = float(bounds[0]), float(bounds[1])
        if not hi > lo:
            raise ValueError(f"bounds must satisfy lo < hi, got {bounds}")
        return lo, hi
    v = value.cast("double")
    lo, hi = df.agg(F.min(v), F.max(v)).first()
    if lo is None:
        return 0.0, 1.0
    if hi == lo:
        return lo, lo + 1
    return lo, hi


def ks_statistic(
    df: DataFrame,
    value_col: str,
    side_col: str,
    by: list[str] | None = None,
    bins: int | None = None,
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the rows where
    ``side_col`` is 'a' vs 'b' (per ``by`` group if given): the
    distribution-drift gate for feature/label columns between, e.g.,
    last week's landing and this week's.

    sup_x |ECDF_a(x) - ECDF_b(x)| computed relationally: collapse to
    per-distinct-value counts (the only corpus-sized shuffle), running
    cumulative counts over the value order, take the max gap. Ties are
    handled correctly because the ECDF step lands AFTER all rows of a
    tied value (cumulative over the distinct-value row). Integer
    counts -> exact ratios -> deterministic across engines; the
    window runs over the distinct-value set (bounded by value
    cardinality, not row count).

    For continuous high-cardinality columns pass ``bins`` to quantize
    onto a fixed grid first (width_bucket over the global min/max -
    one extra scalar aggregate): the window's input then has at most
    ``bins`` rows per group regardless of corpus size, at the cost of
    the KS sup being evaluated on grid edges (an under-estimate by at
    most the within-bin mass - the standard binned-KS trade).
    ``bounds=(lo, hi)`` pins the grid explicitly and skips the global
    min/max job - one fewer scan over the value column at 100 TB, and
    a grid that stays comparable across a monitor's windows;
    out-of-range values clamp to width_bucket's under/overflow
    buckets (monotone, so the ECDF stays well-ordered).

    NULL values are dropped up front (scipy two-sample semantics):
    a NULL carries no ECDF step, and Spark's window ORDER BY puts
    NULLS FIRST where DuckDB puts them LAST, so letting them through
    would make the cumulative counts engine-dependent.

    Returns one row per group: by + (ks, n_a, n_b).
    """
    keys = list(by or [])
    df = df.filter(F.col(value_col).isNotNull())
    v = F.col(value_col)
    grid = grid_bounds(df, v, bins, bounds)
    if grid is not None:
        lo, hi = grid
        v = F.width_bucket(v, F.lit(lo), F.lit(hi), F.lit(bins))
    g = df.groupBy(
        *keys, v.alias("_v")
    ).agg(
        F.count(F.when(F.col(side_col) == "a", 1)).alias("_ca"),
        F.count(F.when(F.col(side_col) == "b", 1)).alias("_cb"),
    )
    return ks_from_counts(g, keys)


def ks_from_counts(g: DataFrame, keys: list[str]) -> DataFrame:
    """KS sup-distance from pre-aggregated per-value counts: ``g`` has
    columns keys + (_v, _ca, _cb) - one row per distinct value (or
    bin) with the two samples' counts. This is the reusable core of
    ``ks_statistic``; the streaming drift monitor feeds it a cached
    reference count table unioned with each micro-batch's counts, so
    the reference corpus is aggregated ONCE, not once per batch.
    Precondition: ``_v`` is non-null (callers drop NULL values before
    counting - NULL ordering differs across engines)."""
    w = (W.partitionBy(*keys) if keys else W.partitionBy()).orderBy("_v")
    cum_a = F.sum("_ca").over(w)
    cum_b = F.sum("_cb").over(w)
    tot = W.partitionBy(*keys) if keys else W.partitionBy()
    na = F.sum("_ca").over(tot)
    nb = F.sum("_cb").over(tot)
    stepped = g.select(
        *keys,
        # NULL (not 0/0 = NaN) when either sample is empty: NaN sorts
        # ABOVE every double in Spark, so one empty side would
        # otherwise surface as a max-severity "drift"
        F.when(
            (na > 0) & (nb > 0),
            F.abs(cum_a.cast("double") / na - cum_b.cast("double") / nb),
        ).alias("_d"),
        na.alias("_na"),
        nb.alias("_nb"),
    )
    agg = stepped.groupBy(*keys).agg(
        F.max("_d").alias("ks"),
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
    )
    return agg


def mad_outliers(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    k: float = 3.0,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Robust outlier detection per group: flag rows whose distance
    from the group MEDIAN exceeds ``k`` robust standard deviations
    (MAD * 1.4826, the normal-consistency constant). Unlike the
    mean/std z-score, one fat-fingered tick cannot drag the center or
    inflate the spread enough to mask itself - the breakdown point is
    50%, which is why this is the production anomaly gate and the
    z-score the textbook one.

    Exactness: both medians are POSITIONAL (lower/upper rank elements,
    averaged with one IEEE division) - no interpolating percentile, so
    the result is engine-exact and the k-cutoff cannot flicker by an
    ulp.

    Scale shape (rank-from-counts, like winsorization/Mann-Whitney):
    each median collapses its input to per-(group, distinct-value)
    counts first - one partial-combined shuffle - and picks the
    lower/upper rank elements from cumulative counts over THAT table
    (the value at positional rank k is the distinct value whose
    cumulative interval [cum-c+1, cum] contains k; a row-level
    tie-break never moves the value at a rank, so this is identical
    to the row_number() definition). No per-group row-level sort
    anywhere; the cut tables broadcast back over the scan.

    Returns id_cols + by + (value, dev, robust_z) for flagged rows.
    """
    keys = list(by or [])
    ids = list(id_cols or [])

    def _median(frame: DataFrame, col: str, out: str) -> DataFrame:
        g = frame.groupBy(*keys, F.col(col).alias("_x")).agg(
            F.count(F.lit(1)).alias("_c")
        )
        wv = (W.partitionBy(*keys) if keys else W.partitionBy()).orderBy(
            "_x"
        )
        wt = W.partitionBy(*keys) if keys else W.partitionBy()
        stepped = g.select(
            *keys,
            "_x",
            "_c",
            F.sum("_c").over(wv).alias("_cum"),
            F.sum("_c").over(wt).alias("_n"),
        )
        k_lo = F.floor((F.col("_n") + 1) / 2)
        k_hi = F.ceil((F.col("_n") + 1) / 2)
        lo = F.max(
            F.when(
                (F.col("_cum") >= k_lo)
                & (F.col("_cum") - F.col("_c") < k_lo),
                F.col("_x"),
            )
        )
        hi = F.max(
            F.when(
                (F.col("_cum") >= k_hi)
                & (F.col("_cum") - F.col("_c") < k_hi),
                F.col("_x"),
            )
        )
        return stepped.groupBy(*keys).agg(((lo + hi) / 2).alias(out))

    med = _median(df, value_col, "med")
    centered = df.join(F.broadcast(med), keys) if keys else df.crossJoin(
        F.broadcast(med)
    )
    centered = centered.withColumn(
        "_dev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = _median(centered, "_dev", "mad")
    scored = (
        centered.join(F.broadcast(mad), keys)
        if keys
        else centered.crossJoin(F.broadcast(mad))
    )
    rz = F.col("_dev") / (F.col("mad") * F.lit(1.4826))
    return (
        scored.filter((F.col("mad") > 0) & (rz > k))
        .select(
            *ids,
            *keys,
            F.col(value_col),
            F.col("_dev").alias("dev"),
            rz.alias("robust_z"),
        )
    )


def mann_whitney(
    df: DataFrame,
    value_col: str,
    side_col: str,
    by: list[str] | None = None,
) -> DataFrame:
    """Mann-Whitney U (rank-sum) two-sample test per group: the
    nonparametric location-shift companion to ``ks_statistic`` -
    KS asks "is the distribution different anywhere", U asks "does one
    side stochastically dominate", which is the question for a feed
    whose values drifted up rather than changed shape.

    Exact across engines: tie-averaged ranks are DOUBLED into integers
    (rank + tie_count - 1), U and the common-language effect size are
    fixed IEEE expressions over their bigint sums, and the
    tie-corrected normal approximation's variance uses the exact
    integer tie term sum(t^3 - t). NULL values are dropped up front
    (scipy two-sample semantics) - they carry no rank and would
    otherwise order differently across engines (Spark NULLS FIRST vs
    DuckDB NULLS LAST).

    Scale shape (rank-from-counts): the combined sample collapses
    FIRST to per-(group, distinct-value) side counts - one
    partial-combined shuffle - and the ranking window runs over THAT
    table (input bounded by value cardinality, never sample size; no
    per-group single-task sort of fact-scale input). The tie group of
    size t at cumulative count cum starts at rank cum-t+1, so its
    doubled tie-averaged rank is the exact integer 2*cum - t + 1;
    side-'a''s rank sum is the c_a-weighted sum of that column, and
    the tie term folds onto the same table.

    Returns by + (n_a, n_b, u_a, effect, z): u_a is side-'a''s U,
    effect = U_a/(n_a*n_b) in [0,1] (0.5 = no dominance), z the
    tie-corrected standardized statistic (NULL when degenerate).
    """
    keys = list(by or [])
    g0 = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, F.col(value_col).alias("_v"))
        .agg(
            F.count(F.lit(1)).alias("_t"),
            F.count(F.when(F.col(side_col) == "a", 1)).alias("_ca"),
            F.count(F.when(F.col(side_col) == "b", 1)).alias("_cb"),
        )
    )
    wv = (W.partitionBy(*keys) if keys else W.partitionBy()).orderBy("_v")
    stepped = g0.select(
        *keys,
        "_t",
        "_ca",
        "_cb",
        (2 * F.sum("_t").over(wv) - F.col("_t") + 1).alias("_r2"),
    )
    g = stepped.groupBy(*keys).agg(
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
        F.sum(F.col("_ca") * F.col("_r2")).alias("_sr2a"),
        F.sum(
            F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
        ).alias("_tie_term"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    nad, nbd = na.cast("double"), nb.cast("double")
    nd = (na + nb).cast("double")
    u_a = (F.col("_sr2a") - na * (na + 1)).cast("double") / 2
    tie_d = F.col("_tie_term").cast("double")
    var = (nad * nbd / 12.0) * ((nd + 1.0) - tie_d / (nd * (nd - 1.0)))
    z = (u_a - nad * nbd / 2.0) / F.sqrt(var)
    return g.select(
        *keys,
        "n_a",
        "n_b",
        u_a.alias("u_a"),
        F.when((na > 0) & (nb > 0), u_a / (nad * nbd)).alias("effect"),
        F.when((na > 0) & (nb > 0) & (var > 0), z).alias("z"),
    )


def weighted_median(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    by: list[str] | None = None,
    bins: int | None = None,
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Weighted (lower) median per group: the smallest value v whose
    cumulative integer weight reaches half the group total -
    volume-weighted median price, size-weighted latency midpoint.
    Selection, not interpolation: the result is always an observed
    value, so there is no float blend to drift across engines.

    Exactness discipline (rank-from-counts): collapse to per-(group,
    distinct value) bigint weight sums, cumulative-sum over the value
    order, pick the first row where 2*cum >= total - the doubled
    comparison keeps everything integer (no halving division).
    Weights must be integral (fix-point upstream): the weight is CAST
    to bigint FIRST and both the positivity filter and the sums see
    that casted value, so a fractional weight truncates toward zero
    and a sub-1 weight drops with its row - never a zero-total group
    with a fabricated median. NULL values and NULL/non-positive
    weights are dropped.

    Scale shape: one partial-combined shuffle to the distinct-value
    count table; the window runs over value cardinality, never rows -
    the same tier as mann_whitney/mad_outliers. EXACT and scale-free
    when the value domain is discrete (fix-pointed prices, integer
    sizes). For CONTINUOUS values distinct-count approaches row count
    and the window degenerates to a per-group row-scale sort - pass
    ``bins`` (the family's width_bucket tier, ``bounds=(lo, hi)`` to
    pin the grid and skip the min/max scan): the selection then runs
    over at most ``bins`` buckets, and the reported median is the
    SMALLEST OBSERVED VALUE in the median's bucket - still an
    observed value, EXACT when quantization is injective on the
    observed values, and otherwise off by at most one bin width
    PROVIDED the grid covers the observed domain. Pinned bounds
    narrower than the data clamp the out-of-range mass into the
    under/overflow buckets (nothing is dropped), but a median landing
    in a clamp bucket then reports that bucket's smallest observed
    value - the bin-width bound does NOT apply to clamped mass (same
    caveat as ks_statistic's clamp).

    Returns by + (total_weight, median).
    """
    keys = list(by or [])
    w_int = F.col(weight_col).cast("bigint")
    d = df.filter(F.col(value_col).isNotNull() & (w_int > 0))
    v = F.col(value_col)
    grid = grid_bounds(d, v, bins, bounds)
    if grid is not None:
        lo, hi = grid
        key = F.width_bucket(
            v.cast("double"), F.lit(lo), F.lit(hi), F.lit(bins)
        )
    else:
        key = v
    g = d.groupBy(*keys, key.alias("_v")).agg(
        F.sum(w_int).alias("_w"),
        F.min(v).alias("_minv"),
    )
    wv = (W.partitionBy(*keys) if keys else W.partitionBy()).orderBy("_v")
    wt = W.partitionBy(*keys) if keys else W.partitionBy()
    stepped = g.select(
        *keys,
        "_v",
        "_minv",
        F.sum("_w").over(wv).alias("_cum"),
        F.sum("_w").over(wt).alias("_tot"),
    )
    hit = stepped.filter(2 * F.col("_cum") >= F.col("_tot"))
    return hit.groupBy(*keys).agg(
        F.max("_tot").alias("total_weight"),
        F.min_by("_minv", "_v").alias("median"),
    )


def cusum_changepoint(
    g: DataFrame,
    by: list[str],
    bucket_col: str,
    x_col: str,
) -> DataFrame:
    """Single-changepoint locator over a pre-bucketed integer series:
    the bucket where the CUSUM chart peaks, i.e. argmax over i of
    |cumsum_i(x) - (i/n) * total| - the classic max-deviation
    estimator for a level shift (which day did the metric move?).

    Exactness: the deviation is SCALED BY n to stay integral -
    D_i = n*cum_i - i*total is a bigint, |D| comparisons and the
    earliest-bucket tie-break are integer/struct selections, so both
    the location and the peak are engine-exact; divide peak by
    n (and interpret in x units) downstream if a normalized score is
    wanted. Overflow bound: n * |cum| must fit int64 - fine to ~10^9
    buckets of 10^9-scale sums; buckets are calendar-bounded anyway.

    Input ``g``: one row per (by, bucket) with integer measure
    ``x_col`` (fix-point upstream). Windows run over bucket
    cardinality (calendar-bounded), never raw rows.

    Returns by + (n_buckets, total, change_bucket, peak_dev).
    """
    w = W.partitionBy(*by).orderBy(bucket_col)
    wt = W.partitionBy(*by)
    stepped = g.select(
        *by,
        F.col(bucket_col).alias("_b"),
        F.sum(x_col).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("_cum"),
        F.row_number().over(w).alias("_i"),
        F.sum(x_col).over(wt).alias("_tot"),
        F.count(F.lit(1)).over(wt).alias("_n"),
    )
    dev = F.abs(
        F.col("_n") * F.col("_cum") - F.col("_i") * F.col("_tot")
    )
    d = stepped.withColumn("_dev", dev)
    return d.groupBy(*by).agg(
        F.max("_n").alias("n_buckets"),
        F.max("_tot").alias("total"),
        F.min_by("_b", F.struct((-F.col("_dev")).alias("nd"), F.col("_b"))).alias(
            "change_bucket"
        ),
        F.max("_dev").alias("peak_dev"),
    )


def stepped_counts(
    g: DataFrame, keys: list[str], val: str, with_value_total: bool = False
) -> DataFrame:
    """Rank-from-counts stepping shared by the percentile family
    (plans' percentile panels, ``exact_percentiles``, the streaming
    latency monitor): ``g`` has keys + (val, t) per distinct value;
    adds the running cumulative count ``cum`` and group total ``n``
    (plus ``tot_v`` = sum(val*t) when the caller needs an exact
    mean). One place so the selection convention cannot drift."""
    wv = (W.partitionBy(*keys) if keys else W.partitionBy()).orderBy(val)
    wt = W.partitionBy(*keys) if keys else W.partitionBy()
    cols = [
        *keys,
        val,
        F.sum("t").over(wv).alias("cum"),
        F.sum("t").over(wt).alias("n"),
    ]
    if with_value_total:
        cols.append(F.sum(F.col(val) * F.col("t")).over(wt).alias("tot_v"))
    return g.select(*cols)


def percentile_pick(p: int, val: str, name: str):
    """ceil(p*n/100)-th positional pick over a ``stepped_counts``
    table: true integer division, never through a double (n*p would
    lose ulps past 2^53)."""
    kk = F.expr(f"(n * {p} + 99) DIV 100")
    return F.min(F.when(F.col("cum") >= kk, F.col(val))).alias(name)


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    percentiles: tuple[int, ...] = (50, 90, 99),
    bins: int | None = None,
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Per-group positional percentile panel - the reusable operator
    behind the `percentiles_exact` plan and the streaming latency
    monitor. Lower-percentile selection (the smallest OBSERVED value
    whose cumulative count reaches ceil(p*n/100)); NULL values drop.

    Exact and scale-free for discrete domains (windows over value
    cardinality). For continuous values pass the family's ``bins``/
    ``bounds`` width_bucket tier: selection then runs over <= bins
    buckets and each percentile resolves to the smallest observed
    value in its bucket (observed-value semantics kept; error <= one
    bin width when the grid covers the domain - weighted_median's
    exact contract).

    Returns by + (n, p<p> for each requested percentile).
    """
    keys = list(by or [])
    d = df.filter(F.col(value_col).isNotNull())
    v = F.col(value_col)
    grid = grid_bounds(d, v, bins, bounds)
    if grid is not None:
        lo, hi = grid
        key = F.width_bucket(
            v.cast("double"), F.lit(lo), F.lit(hi), F.lit(bins)
        )
    else:
        key = v
    g = d.groupBy(*keys, key.alias("_v")).agg(
        F.count(F.lit(1)).alias("t"), F.min(v).alias("_minv")
    )
    wv = (W.partitionBy(*keys) if keys else W.partitionBy()).orderBy("_v")
    wt = W.partitionBy(*keys) if keys else W.partitionBy()
    stepped = g.select(
        *keys,
        "_v",
        "_minv",
        F.sum("t").over(wv).alias("cum"),
        F.sum("t").over(wt).alias("n"),
    )

    def pick(p: int):
        kk = F.expr(f"(n * {p} + 99) DIV 100")
        # smallest qualifying bucket's smallest observed value: the
        # struct min orders by bucket first, so the pick stays an
        # OBSERVED value on the binned tier (and is the value itself
        # on the exact tier, where _minv == _v)
        return (
            F.min(F.when(F.col("cum") >= kk, F.struct("_v", "_minv")))
            .getField("_minv")
            .alias(f"p{p}")
        )

    return stepped.groupBy(*keys).agg(
        F.max("n").alias("n"), *[pick(p) for p in percentiles]
    )
