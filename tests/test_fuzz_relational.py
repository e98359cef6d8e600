"""Randomized relational differential fuzzer.

The parity harness certifies a FIXED battery of hand-written queries;
this generates filter/join/aggregate specs, builds each one twice -
as a Spark DataFrame plan AND as the equivalent SQL text - and
compares Spark's result against DuckDB running the SQL over the same
parquet files (row count + canonical value multiset, tools/parity.py's
exact comparator). A DataFrame-API construct that silently diverges
from its SQL meaning (null ordering, cast, predicate translation,
aggregate typing) fails here on inputs nobody thought to hand-write.

Determinism guards baked into the grammar: no LIMIT without total
order, no float-sum aggregates except over integral-valued columns
(l_quantity is 1..50 integers in doubles; sums stay exact in IEEE for
any accumulation order at this scale), group keys restricted to
low-cardinality columns so result sets stay small. TPC-H base columns
are NOT NULL by spec, so the base families never see a NULL - the
dedicated NULL-semantics family at the bottom injects NULLs
deterministically (nullif / CASE) on both engines and fuzzes 3VL
filters, null group keys, null-skipping aggregates, pinned
NULLS FIRST/LAST ordering, and outer/null-safe joins over them.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from parity import TABLES, row_multiset  # noqa: E402

SF = "/root/testdata/sf0.001"

# (table, column) -> sampled literal domain; numeric ops apply to
# numeric columns, equality to strings
_NUM_COLS = {
    "lineitem": {
        "l_orderkey": [1, 3000, 15000],
        "l_partkey": [50, 100, 180],
        "l_suppkey": [2, 5, 9],
        "l_linenumber": [1, 3, 6],
        "l_quantity": [10.0, 25.0, 45.0],
    },
    "orders": {
        "o_orderkey": [1, 3000, 15000],
        "o_custkey": [10, 75, 140],
        "o_totalprice": [50000.0, 150000.0],
    },
    "customer": {
        "c_custkey": [10, 75, 140],
        "c_nationkey": [3, 11, 22],
    },
}
_STR_COLS = {
    "lineitem": {
        "l_returnflag": ["A", "N", "R"],
        "l_linestatus": ["F", "O"],
    },
    "orders": {
        "o_orderstatus": ["F", "O", "P"],
        "o_orderpriority": ["1-URGENT", "3-MEDIUM", "5-LOW"],
    },
    "customer": {
        "c_mktsegment": ["BUILDING", "MACHINERY", "AUTOMOBILE"],
    },
}
_GROUP_COLS = {
    "lineitem": ["l_returnflag", "l_linestatus", "l_linenumber"],
    "orders": ["o_orderstatus", "o_orderpriority"],
    "customer": ["c_nationkey", "c_mktsegment"],
}
# exact-sum-safe numeric columns (integral values / integer types)
_SUM_COLS = {
    "lineitem": ["l_quantity", "l_suppkey"],
    "orders": ["o_custkey"],
    "customer": ["c_nationkey"],
}
_JOINS = {
    # base table -> (other table, left key, right key)
    "lineitem": ("orders", "l_orderkey", "o_orderkey"),
    "orders": ("customer", "o_custkey", "c_custkey"),
}
_NUM_OPS = ["<", "<=", ">", ">=", "=", "<>"]


@st.composite
def _spec(draw):
    table = draw(st.sampled_from(["lineitem", "orders", "customer"]))
    joined = table in _JOINS and draw(st.booleans())
    tables = [table] + ([_JOINS[table][0]] if joined else [])
    preds = []
    for _ in range(draw(st.integers(0, 2))):
        t = draw(st.sampled_from(tables))
        if draw(st.booleans()):
            col = draw(st.sampled_from(sorted(_NUM_COLS[t])))
            op = draw(st.sampled_from(_NUM_OPS))
            val = draw(st.sampled_from(_NUM_COLS[t][col]))
        else:
            col = draw(st.sampled_from(sorted(_STR_COLS[t])))
            op = draw(st.sampled_from(["=", "<>"]))
            val = draw(st.sampled_from(_STR_COLS[t][col]))
        preds.append((col, op, val))
    group = None
    if draw(st.booleans()):
        gt = draw(st.sampled_from(tables))
        keys = draw(
            st.lists(
                st.sampled_from(_GROUP_COLS[gt]),
                min_size=1,
                max_size=2,
                unique=True,
            )
        )
        sum_t = draw(st.sampled_from(tables))
        sum_col = draw(st.sampled_from(_SUM_COLS[sum_t]))
        group = (keys, sum_col)
    else:
        # plain scan: project a bounded column set so multisets stay
        # comparable and small
        cols = sorted(_NUM_COLS[table])[:2] + sorted(_STR_COLS[table])[:1]
        group = None, cols
    return {"table": table, "joined": joined, "preds": preds, "group": group}


def _lit_sql(v):
    return f"'{v}'" if isinstance(v, str) else repr(v)


def _build(spark, spec):
    """Return (spark_df, sql_text) for one spec - the same logical
    query expressed through both front ends."""
    t = spec["table"]
    df = spark.read.parquet(f"{SF}/{t}.parquet")
    from_sql = t
    if spec["joined"]:
        other, lk, rk = _JOINS[t]
        odf = spark.read.parquet(f"{SF}/{other}.parquet")
        df = df.join(odf, F.col(lk) == F.col(rk))
        from_sql = f"{t} JOIN {other} ON {lk} = {rk}"
    where = []
    for col, op, val in spec["preds"]:
        sdf_op = {"=": "==", "<>": "!="}.get(op, op)
        df = df.filter(f"{col} {sdf_op} {_lit_sql(val)}")
        where.append(f"{col} {op} {_lit_sql(val)}")
    where_sql = (" WHERE " + " AND ".join(where)) if where else ""
    g = spec["group"]
    if g is not None and g[0] is not None:
        keys, sum_col = g
        df = df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(sum_col).alias("s"),
            F.min(sum_col).alias("mn"),
            F.max(sum_col).alias("mx"),
        )
        sql = (
            f"SELECT {', '.join(keys)}, count(*) AS cnt, "
            f"CAST(sum({sum_col}) AS "
            f"{'DOUBLE' if sum_col in ('l_quantity',) else 'BIGINT'}) AS s, "
            f"min({sum_col}) AS mn, max({sum_col}) AS mx "
            f"FROM {from_sql}{where_sql} GROUP BY {', '.join(keys)}"
        )
    else:
        cols = g[1]
        df = df.select(*cols)
        sql = f"SELECT {', '.join(cols)} FROM {from_sql}{where_sql}"
    return df, sql


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{SF}/{name}.parquet')"
        )
    yield con
    con.close()


@given(spec=_spec())
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dataframe_plan_matches_sql_on_duckdb(spark, ddb, spec) -> None:
    df, sql = _build(spark, spec)
    s_rows = df.collect()
    s_cols = df.columns
    d = ddb.execute(sql)
    d_cols = [c[0] for c in d.description]
    d_rows = d.fetchall()
    assert len(s_rows) == len(d_rows), (sql, len(s_rows), len(d_rows))
    assert sorted(s_cols) == sorted(d_cols), sql
    assert row_multiset(s_cols, s_rows) == row_multiset(d_cols, d_rows), sql


# --- window-function fuzzing: frames, ties, ordering semantics ---

_WIN = {
    "lineitem": {
        "part": ["l_returnflag", "l_linestatus"],
        "tie": ["l_orderkey", "l_linenumber"],  # unique per row
        "val": "l_quantity",
    },
    "orders": {
        "part": ["o_orderstatus", "o_orderpriority"],
        "tie": ["o_orderkey"],
        "val": "o_custkey",
    },
}


@st.composite
def _win_spec(draw):
    t = draw(st.sampled_from(sorted(_WIN)))
    cfg = _WIN[t]
    part = draw(
        st.lists(
            st.sampled_from(cfg["part"]), min_size=1, max_size=2, unique=True
        )
    )
    fn = draw(
        st.sampled_from(
            ["row_number", "rank", "dense_rank", "lag", "lead", "sum_frame"]
        )
    )
    frame = draw(st.integers(1, 5))
    desc = draw(st.booleans())
    return {"table": t, "part": part, "fn": fn, "frame": frame, "desc": desc}


def _win_build(spark, spec):
    from pyspark.sql import Window as W

    t = spec["table"]
    cfg = _WIN[t]
    part, fn, k = spec["part"], spec["fn"], spec["frame"]
    val, tie = cfg["val"], cfg["tie"]
    df = spark.read.parquet(f"{SF}/{t}.parquet")
    dirw = " DESC" if spec["desc"] else ""
    # total order inside each partition: value then unique key(s) -
    # every ranking/offset function below is deterministic
    order_sql = f"{val}{dirw}, " + ", ".join(tie)
    ocols = [F.col(val).desc() if spec["desc"] else F.col(val)] + [
        F.col(c) for c in tie
    ]
    w = W.partitionBy(*part).orderBy(*ocols)
    if fn in ("row_number", "rank", "dense_rank"):
        col = getattr(F, fn)().over(w)
        fn_sql = f"{fn}()"
    elif fn in ("lag", "lead"):
        col = getattr(F, fn)(val, 1).over(w)
        fn_sql = f"{fn}({val}, 1)"
    else:
        col = F.sum(val).over(w.rowsBetween(-k, 0))
        fn_sql = f"sum({val})"
    over = f"OVER (PARTITION BY {', '.join(part)} ORDER BY {order_sql}"
    over += (
        f" ROWS BETWEEN {k} PRECEDING AND CURRENT ROW)"
        if fn == "sum_frame"
        else ")"
    )
    out_cols = list(dict.fromkeys(part + tie))
    sdf = df.select(*out_cols, col.alias("w"))
    sql = (
        f"SELECT {', '.join(out_cols)}, {fn_sql} {over} AS w FROM {t}"
    )
    return sdf, sql


@given(spec=_win_spec())
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_window_functions_match_sql_on_duckdb(spark, ddb, spec) -> None:
    df, sql = _win_build(spark, spec)
    s_rows = df.collect()
    d = ddb.execute(sql)
    d_cols = [c[0] for c in d.description]
    d_rows = d.fetchall()
    assert len(s_rows) == len(d_rows), sql
    assert row_multiset(df.columns, s_rows) == row_multiset(d_cols, d_rows), sql


# --- ordered top-k fuzzing: ORDER BY + LIMIT under a total order ---

_TOPK = {
    "lineitem": {"val": "l_quantity", "tie": ["l_orderkey", "l_linenumber"]},
    "orders": {"val": "o_totalprice", "tie": ["o_orderkey"]},
    "customer": {"val": "c_acctbal", "tie": ["c_custkey"]},
}


@st.composite
def _topk_spec(draw):
    t = draw(st.sampled_from(sorted(_TOPK)))
    k = draw(st.integers(1, 25))
    desc = draw(st.booleans())
    # optional IN / BETWEEN predicate exercises list & range translation
    pred = None
    if t in _STR_COLS and draw(st.booleans()):
        col = draw(st.sampled_from(sorted(_STR_COLS[t])))
        vals = draw(
            st.lists(
                st.sampled_from(_STR_COLS[t][col]),
                min_size=1,
                max_size=2,
                unique=True,
            )
        )
        pred = ("in", col, vals)
    elif draw(st.booleans()):
        col = draw(st.sampled_from(sorted(_NUM_COLS[t])))
        dom = _NUM_COLS[t][col]
        # independent draws: narrow, single-point, and INVERTED
        # (lo > hi -> empty) ranges all get exercised
        lo = draw(st.sampled_from(dom))
        hi = draw(st.sampled_from(dom))
        pred = ("between", col, (lo, hi))
    return {"table": t, "k": k, "desc": desc, "pred": pred}


@given(spec=_topk_spec())
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ordered_topk_matches_sql_on_duckdb(spark, ddb, spec) -> None:
    """ORDER BY val, unique-tie LIMIT k is fully deterministic, so the
    comparison here is ORDERED row lists, not multisets - catching
    engines that disagree on sort stability, null placement, or
    LIMIT-with-ties behavior; IN-lists and BETWEEN ranges ride along
    to cover predicate translation."""
    t, k = spec["table"], spec["k"]
    cfg = _TOPK[t]
    val, tie = cfg["val"], cfg["tie"]
    df = spark.read.parquet(f"{SF}/{t}.parquet")
    where_sql = ""
    if spec["pred"]:
        kind, col, arg = spec["pred"]
        if kind == "in":
            df = df.filter(F.col(col).isin(arg))
            vals = ", ".join(f"'{v}'" for v in arg)
            where_sql = f" WHERE {col} IN ({vals})"
        else:
            lo, hi = arg
            df = df.filter(F.col(col).between(lo, hi))
            where_sql = f" WHERE {col} BETWEEN {lo!r} AND {hi!r}"
    ocols = [F.col(val).desc() if spec["desc"] else F.col(val)] + [
        F.col(c) for c in tie
    ]
    out_cols = [val] + tie
    sdf = df.select(*out_cols).orderBy(*ocols).limit(k)
    dirw = " DESC" if spec["desc"] else ""
    sql = (
        f"SELECT {', '.join(out_cols)} FROM {t}{where_sql} "
        f"ORDER BY {val}{dirw}, {', '.join(tie)} LIMIT {k}"
    )
    s_rows = [tuple(r) for r in sdf.collect()]
    d_rows = [tuple(r) for r in ddb.execute(sql).fetchall()]
    assert s_rows == d_rows, sql  # ORDERED equality


# --- NULL-semantics fuzzing: injected NULLs, 3VL, outer joins ---
#
# TPC-H base columns are NOT NULL, so the families above never see a
# NULL - yet null ordering, three-valued logic, null group keys, and
# outer-join null fabrication are exactly where DataFrame-vs-SQL and
# Spark-vs-DuckDB diverge. This family DERIVES a nullable column with
# the same deterministic injection on both engines (nullif / CASE
# WHEN ... THEN NULL) and fuzzes the null-sensitive operations over
# it. Null ordering is always pinned explicitly (NULLS FIRST/LAST on
# both sides): Spark's default is NULLS FIRST where DuckDB's is NULLS
# LAST, so an unpinned ORDER BY would fuzz the engines' defaults, not
# the semantics.

_NULL_FAM = {
    "orders": {
        "num": ("o_custkey", [3, 7, 10]),  # NULL where col % m == 0
        "str": ("o_orderpriority", ["1-URGENT", "3-MEDIUM"]),
        "tie": ["o_orderkey"],
        "sum": "o_custkey",
        "join": ("customer", "c_custkey", "c_mktsegment"),
    },
    "lineitem": {
        "num": ("l_suppkey", [2, 5]),
        "str": ("l_returnflag", ["A", "N"]),
        "tie": ["l_orderkey", "l_linenumber"],
        "sum": "l_quantity",
        "join": ("orders", "o_orderkey", "o_orderstatus"),
    },
}
_NULL_OPS = [
    "filter_is_null",
    "filter_is_not_null",
    "filter_cmp",        # 3VL: NULL rows silently dropped by <
    "group_by_null_key", # the NULL group must appear exactly once
    "agg_null_skip",     # count(col) vs count(*), sum/min/max skip
    "order_nulls_limit", # explicit NULLS FIRST/LAST + tie + LIMIT
    "left_join",
    "full_join",
    "null_safe_join",    # <=> vs IS NOT DISTINCT FROM
]


@st.composite
def _null_spec(draw):
    t = draw(st.sampled_from(sorted(_NULL_FAM)))
    cfg = _NULL_FAM[t]
    kind = draw(st.sampled_from(["num", "str"]))
    col, params = cfg[kind]
    param = draw(st.sampled_from(params))
    op = draw(st.sampled_from(_NULL_OPS))
    if op in ("left_join", "full_join", "null_safe_join"):
        kind, (col, params) = "num", cfg["num"]  # join keys are numeric
        param = draw(st.sampled_from(params))
    return {
        "table": t,
        "kind": kind,
        "col": col,
        "param": param,
        "op": op,
        "nulls_first": draw(st.booleans()),
        "desc": draw(st.booleans()),
    }


def _null_build(spark, spec):
    t, col, param = spec["table"], spec["col"], spec["param"]
    cfg = _NULL_FAM[t]
    tie, sum_col = cfg["tie"], cfg["sum"]
    df = spark.read.parquet(f"{SF}/{t}.parquet")
    if spec["kind"] == "num":
        k = F.when(F.col(col) % param == 0, None).otherwise(F.col(col))
        k_sql = f"CASE WHEN {col} % {param} = 0 THEN NULL ELSE {col} END"
    else:
        k = F.nullif(F.col(col), F.lit(param))
        k_sql = f"nullif({col}, '{param}')"
    base = df.select(*tie, sum_col, k.alias("k"))
    base_sql = f"SELECT {', '.join(tie)}, {sum_col}, {k_sql} AS k FROM {t}"
    op = spec["op"]

    if op in ("filter_is_null", "filter_is_not_null"):
        cond = F.col("k").isNull() if op == "filter_is_null" else F.col(
            "k"
        ).isNotNull()
        cond_sql = "k IS NULL" if op == "filter_is_null" else "k IS NOT NULL"
        return base.filter(cond), f"SELECT * FROM ({base_sql}) WHERE {cond_sql}"
    if op == "filter_cmp":
        lit = param if spec["kind"] == "num" else f"'{param}'"
        return (
            base.filter(F.col("k") > F.lit(param)),
            f"SELECT * FROM ({base_sql}) WHERE k > {lit}",
        )
    if op == "group_by_null_key":
        sdf = base.groupBy("k").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("k").alias("cnt_k"),
            F.min(tie[0]).alias("mn"),
        )
        sql = (
            f"SELECT k, count(*) AS cnt, count(k) AS cnt_k, "
            f"min({tie[0]}) AS mn FROM ({base_sql}) GROUP BY k"
        )
        return sdf, sql
    if op == "agg_null_skip":
        sdf = base.agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("k").alias("cnt_k"),
            F.min("k").alias("mn"),
            F.max("k").alias("mx"),
        )
        mnmx = "min(k) AS mn, max(k) AS mx"
        sql = (
            f"SELECT count(*) AS cnt, count(k) AS cnt_k, {mnmx} "
            f"FROM ({base_sql})"
        )
        return sdf, sql
    if op == "order_nulls_limit":
        if spec["desc"]:
            kcol = (
                F.col("k").desc_nulls_first()
                if spec["nulls_first"]
                else F.col("k").desc_nulls_last()
            )
            dir_sql = "DESC"
        else:
            kcol = (
                F.col("k").asc_nulls_first()
                if spec["nulls_first"]
                else F.col("k").asc_nulls_last()
            )
            dir_sql = "ASC"
        nf = "NULLS FIRST" if spec["nulls_first"] else "NULLS LAST"
        # the synthetic tables do NOT guarantee TPC-H key uniqueness
        # (duplicate (l_orderkey, l_linenumber) pairs exist), so order
        # by every output column - ordered comparison is then total
        sdf = base.orderBy(
            kcol, *[F.col(c) for c in tie], F.col(sum_col)
        ).limit(20)
        sql = (
            f"SELECT * FROM ({base_sql}) ORDER BY k {dir_sql} {nf}, "
            f"{', '.join(tie)}, {sum_col} LIMIT 20"
        )
        return sdf, sql, "ordered"
    # join ops: NULL keys never equi-match but survive the outer side;
    # <=> matches NULL to NULL (cross of the null groups - the numeric
    # injection keeps that bounded: nulls on the right side come from
    # the OTHER table's disjoint key range, so <=> NULL-matches are
    # right-side-empty unless both sides inject)
    other, rk, rcol = cfg["join"]
    odf = spark.read.parquet(f"{SF}/{other}.parquet").select(rk, rcol)
    if op == "null_safe_join":
        joined = base.join(odf, base["k"].eqNullSafe(odf[rk]), "inner")
        jsql = f"ON k IS NOT DISTINCT FROM {rk}"
        how_sql = "JOIN"
    else:
        how = "left" if op == "left_join" else "full"
        joined = base.join(odf, base["k"] == odf[rk], how)
        jsql = f"ON k = {rk}"
        how_sql = "LEFT JOIN" if op == "left_join" else "FULL JOIN"
    sdf = joined.select(*tie, "k", rk, rcol)
    sql = (
        f"SELECT {', '.join(tie)}, k, {rk}, {rcol} "
        f"FROM ({base_sql}) b {how_sql} {other} {jsql}"
    )
    return sdf, sql


@given(spec=_null_spec())
@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_null_semantics_match_sql_on_duckdb(spark, ddb, spec) -> None:
    built = _null_build(spark, spec)
    ordered = len(built) == 3
    df, sql = built[0], built[1]
    s_rows = df.collect()
    d = ddb.execute(sql)
    d_cols = [c[0] for c in d.description]
    d_rows = d.fetchall()
    assert len(s_rows) == len(d_rows), (sql, len(s_rows), len(d_rows))
    if ordered:
        assert [tuple(r) for r in s_rows] == [tuple(r) for r in d_rows], sql
    else:
        assert row_multiset(df.columns, s_rows) == row_multiset(
            d_cols, d_rows
        ), sql
