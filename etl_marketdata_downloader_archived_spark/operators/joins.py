"""Join helpers Spark lacks as single primitives.

As-of join (nearest prior match) is the market-data staple the
reference's downstream consumers would run over the lake; Spark has no
native primitive (SURVEY.md section 2B "join_asof"), so it is composed
from a union + window - a single shuffle on (key, time), no O(n*m)
blow-up, which is the 100 TB-safe formulation (the naive range-join +
group-by alternative is quadratic per key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_cols: list[str],
    tie_break: str | None = None,
    prefix: str = "asof_",
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """For each left row, attach one right row within the same ``on``
    key, chosen by ``direction`` (the pandas ``merge_asof`` surface):

    - ``backward``: greatest ``right_time <= left_time`` (inclusive) -
      the market-data default (latest quote at or before the trade);
    - ``forward``: smallest ``right_time >= left_time`` (inclusive);
    - ``nearest``: whichever of the two is closer in time; exact ties
      resolve backward (deterministic).

    ``tolerance_seconds`` drops matches farther than that from
    ``left_time`` (the match columns go NULL, like pandas tolerance).
    Ties on ``right_time`` resolve to the greatest ``tie_break`` value
    (deterministic). Unmatched left rows keep NULL right columns.

    Plan shape: union(left, right) -> ONE shuffle on key -> running
    ``last(right_struct, ignorenulls)`` over a sorted window (backward/
    forward: one sort; nearest: two sorts of the same partitioning,
    still one shuffle) -> filter back to left rows. Linear state, no
    skew amplification beyond the key's own cardinality.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction!r}")
    payload = [c for c in right_cols]
    if tie_break and tie_break not in payload:
        payload = payload + [tie_break]
    if right_time not in payload:
        # the match's own time is needed for nearest/tolerance
        payload = payload + [right_time]

    l_tagged = left.select(
        F.col(on).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(0).alias("_is_right"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(
            right.select(F.struct(*[F.col(c) for c in payload]).alias("s")).schema["s"].dataType
        ).alias("_rrow"),
    )
    r_tagged = right.select(
        F.col(on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(1).alias("_is_right"),
        F.lit(None).cast(
            left.select(F.struct(*[F.col(c) for c in left.columns]).alias("s")).schema["s"].dataType
        ).alias("_lrow"),
        F.struct(*[F.col(c) for c in payload]).alias("_rrow"),
    )
    unioned = l_tagged.unionByName(r_tagged)

    def running_match(descending: bool) -> Column:
        # at equal _t rights sort before lefts (inclusive match); among
        # equal rights the greatest tie_break is seen last and wins
        order: list[Column] = [
            F.col("_t").desc() if descending else F.col("_t").asc(),
            F.col("_is_right").desc(),
        ]
        if tie_break:
            order.append(F.col("_rrow").getField(tie_break).asc_nulls_first())
        w = (
            W.partitionBy("_k")
            .orderBy(*order)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        return F.last("_rrow", ignorenulls=True).over(w)

    def seconds(c: Column) -> Column:
        # timestamp/date -> epoch seconds; numeric time axes pass through
        return c.cast("timestamp").cast("double") if _is_temporal(
            left.schema[left_time].dataType
        ) else c.cast("double")

    if direction == "backward":
        matched = unioned.withColumn("_match", running_match(False))
    elif direction == "forward":
        matched = unioned.withColumn("_match", running_match(True))
    else:
        b, f_ = running_match(False), running_match(True)
        dist_b = seconds(F.col("_t")) - seconds(b.getField(right_time))
        dist_f = seconds(f_.getField(right_time)) - seconds(F.col("_t"))
        matched = unioned.withColumn(
            "_match",
            F.when(b.isNull(), f_)
            .when(f_.isNull(), b)
            .when(dist_f < dist_b, f_)
            .otherwise(b),  # ties resolve backward
        )
    matched = matched.filter(F.col("_is_right") == 0)

    if tolerance_seconds is not None:
        dist = F.abs(
            seconds(F.col("_t")) - seconds(F.col("_match").getField(right_time))
        )
        matched = matched.withColumn(
            "_match", F.when(dist <= tolerance_seconds, F.col("_match"))
        )

    out_cols = [F.col("_lrow").getField(c).alias(c) for c in left.columns]
    out_cols += [F.col("_match").getField(c).alias(f"{prefix}{c}") for c in right_cols]
    return matched.select(*out_cols)


def _is_temporal(dt) -> bool:
    from pyspark.sql import types as T

    return isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType))


def banded_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_time: str,
    right_start: str,
    right_end: str,
    band_seconds: int = 30 * 86400,
    extra_on: str | None = None,
) -> DataFrame:
    """Point-in-interval join (left.t in [right.start, right.end)) with
    a manufactured equi-key - the formulation that survives 100 TB.

    A pure non-equi condition forces Catalyst into broadcast
    nested-loop (O(|L|x|R|) compares; impossible when neither side
    broadcasts). Bucketizing the time axis into fixed bands gives the
    join an equality component: each right interval explodes to every
    band it overlaps, each left point carries its single band, and the
    join hash-partitions on (band [, extra_on]) with the exact interval
    predicate as a post-join filter. A matching pair meets in exactly
    one band (the left point's), so no dedup pass is needed. Cost is
    |R| * ceil(interval/band) exploded rows - pick ``band_seconds`` on
    the order of the typical interval length.
    """
    def to_band(col: Column) -> Column:
        return F.floor(F.unix_timestamp(col) / F.lit(band_seconds))

    lb = left.withColumn("_band", to_band(F.col(left_time)))
    rb = right.withColumn(
        "_band",
        F.explode(
            F.sequence(to_band(F.col(right_start)), to_band(F.col(right_end)))
        ),
    )
    on = ["_band"] + ([extra_on] if extra_on else [])
    exact = (F.col(left_time) >= F.col(right_start)) & (
        F.col(left_time) < F.col(right_end)
    )
    return lb.join(rb, on, "inner").filter(exact).drop("_band")
