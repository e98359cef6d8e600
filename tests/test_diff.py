"""operators.diff.table_diff: CDC-style snapshot compare."""

from __future__ import annotations

from etl_marketdata_downloader_archived_spark.operators.diff import table_diff


def test_table_diff_classifies(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged
         (2, "B", 21.0),        # changed: s AND v
         (3, "c", 30.0),        # changed: v (NULL -> value, null-safe)
         (5, "e", 50.0)],       # added;  4 removed
        "k long, s string, v double",
    )
    out = {r.k: (r.change, list(r.changed_cols))
           for r in table_diff(old, new, ["k"]).collect()}
    assert out == {
        2: ("changed", ["s", "v"]),
        3: ("changed", ["v"]),
        4: ("removed", []),
        5: ("added", []),
    }


def test_table_diff_include_unchanged_and_subset_cols(spark):
    old = spark.createDataFrame([(1, "a", 1.0)], "k long, s string, v double")
    new = spark.createDataFrame([(1, "a", 9.9)], "k long, s string, v double")
    # compare only s -> row counts as unchanged
    out = table_diff(old, new, ["k"], compare_cols=["s"],
                     include_unchanged=True).collect()
    assert [(r.k, r.change) for r in out] == [(1, "unchanged")]
    assert table_diff(old, new, ["k"], compare_cols=["s"]).count() == 0


def test_profile_long_form(spark):
    from etl_marketdata_downloader_archived_spark.operators.profile import (
        profile,
    )

    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, "b", None), (2, None, 6.0)],
        "k long, s string, v double",
    )
    out = {r.column: r for r in profile(df, exact=True).collect()}
    assert set(out) == {"k", "s", "v"}
    k = out["k"]
    assert (k.n, k.n_null, k.n_distinct, k.num_min, k.num_max, k.num_mean) \
        == (3, 0, 2, 1.0, 2.0, round(5 / 3, 4))
    s = out["s"]
    assert (s.n, s.n_null, s.n_distinct, s.str_min, s.str_max) \
        == (3, 1, 2, "a", "b")
    assert s.num_min is None and out["v"].str_min is None
    assert (out["v"].n_null, out["v"].num_mean) == (1, 4.0)


def test_profile_without_columns_is_empty_with_schema(spark) -> None:
    """ADVICE: nothing to profile - ``columns=[]``, or a frame with no
    numeric or string column - gives an EMPTY frame with the 9-column
    profile schema in both tiers, instead of an IndexError."""
    from etl_marketdata_downloader_archived_spark.operators.profile import (
        profile,
    )

    df = spark.createDataFrame([(1, "a", True)], "k long, s string, b boolean")
    want = [(f.name, f.dataType) for f in profile(df, ["k", "s"]).schema]
    assert len(want) == 9
    for exact in (False, True):
        for out in (
            profile(df, columns=[], exact=exact),
            profile(df.select("b"), exact=exact),
        ):
            assert [(f.name, f.dataType) for f in out.schema] == want
            assert out.count() == 0


def test_apply_changes_latest_wins(spark) -> None:
    """CDC apply: latest change per key wins; stale intermediates are
    skipped; deletes remove; untouched rows survive bit-identical."""
    from etl_marketdata_downloader_archived_spark.operators.diff import apply_changes

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, v double",
    )
    changes = spark.createDataFrame(
        [
            # key 1: upsert then delete -> deleted
            (1, "a2", 11.0, "upsert", 5),
            (1, "a3", 12.0, "delete", 9),
            # key 2: two upserts -> latest value only
            (2, "b2", 21.0, "upsert", 3),
            (2, "b3", 22.0, "upsert", 7),
            # key 4: brand-new insert
            (4, "d", 40.0, "upsert", 1),
        ],
        "id long, name string, v double, op string, seq long",
    )
    got = {
        r.id: (r.name, r.v)
        for r in apply_changes(base, changes, ["id"]).collect()
    }
    assert got == {2: ("b3", 22.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_apply_changes_delete_beats_upsert_on_tied_seq(spark) -> None:
    from etl_marketdata_downloader_archived_spark.operators.diff import apply_changes

    base = spark.createDataFrame([(1, 1.0)], "id long, v double")
    changes = spark.createDataFrame(
        [(1, 2.0, "upsert", 5), (1, 3.0, "delete", 5)],
        "id long, v double, op string, seq long",
    )
    assert apply_changes(base, changes, ["id"]).count() == 0


def test_apply_changes_equals_sequential_replay(spark) -> None:
    """Differential: one-shot apply == replaying the feed one change
    at a time in seq order (the semantics a transaction log defines)."""
    import random

    from etl_marketdata_downloader_archived_spark.operators.diff import apply_changes

    rng = random.Random(31)
    state = {k: float(k) for k in range(20)}
    base_rows = [(k, v) for k, v in state.items()]
    feed = []
    for seq in range(1, 120):
        k = rng.randrange(30)
        if rng.random() < 0.3:
            feed.append((k, 0.0, "delete", seq))
            state.pop(k, None)
        else:
            v = round(rng.random() * 100, 2)
            feed.append((k, v, "upsert", seq))
            state[k] = v
    base = spark.createDataFrame(base_rows, "id long, v double")
    changes = spark.createDataFrame(feed, "id long, v double, op string, seq long")
    got = {r.id: r.v for r in apply_changes(base, changes, ["id"]).collect()}
    assert got == state


def test_schema_diff_reports_all_change_classes(spark) -> None:
    """added/removed/type_changed/nullability_changed each surface
    exactly once; unchanged columns and column ORDER changes are
    silent (columns are addressed by name)."""
    from pyspark.sql import types as T

    from etl_marketdata_downloader_archived_spark.operators.diff import (
        schema_diff,
    )

    old = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("gone", T.StringType(), True),
                T.StructField("widened", T.IntegerType(), True),
                T.StructField("tightened", T.DoubleType(), True),
                T.StructField("same", T.StringType(), True),
            ]
        ),
    )
    new = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("same", T.StringType(), True),  # moved: silent
                T.StructField("id", T.LongType(), False),
                T.StructField("widened", T.LongType(), True),
                T.StructField("tightened", T.DoubleType(), False),
                T.StructField("fresh", T.DateType(), True),
            ]
        ),
    )
    got = {d["column"]: d for d in schema_diff(old, new)}
    assert set(got) == {"gone", "widened", "tightened", "fresh"}
    assert got["gone"]["change"] == "removed" and got["gone"]["old"] == "string"
    assert got["fresh"]["change"] == "added" and got["fresh"]["new"] == "date"
    assert got["widened"]["change"] == "type_changed"
    assert (got["widened"]["old"], got["widened"]["new"]) == ("int", "bigint")
    assert got["tightened"]["change"] == "nullability_changed"
    assert (got["tightened"]["old"], got["tightened"]["new"]) == (
        "nullable",
        "required",
    )
    assert schema_diff(old, old) == []
