"""Local differential-oracle harness - mimics the driver's check.

Runs every registered query on Spark and its oracle SQL on DuckDB over
the same sf dir, then compares row count, sorted column names, and an
order-insensitive canonicalized value multiset. Strict by default
(exact float equality) so any cross-engine numeric drift is surfaced
here before the driver sees it.

Usage: python tools/parity.py [sf_dir] [query ...]

Env: SPARK_GRAFT_VANILLA=1 runs the Spark side on a bare
``SparkSession.builder.master('local[4]')`` session - the driver's
environment (ANSI on, default shuffle partitions, host timezone, no
engine conf) - to catch anything that silently depends on
session.get_spark's settings.
"""

from __future__ import annotations

import math
import sys
from collections import Counter
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d") + " 00:00:00.000000"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def row_multiset(cols: list[str], rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter("|".join(canon(r[i]) for i in order) for r in rows)


# Physical result-type parity. The driver compares results through an
# Arrow/pandas path, where cross-engine type drift that Python-level
# value comparison hides becomes a hash mismatch: DuckDB window/agg
# sum(int) yields HUGEINT (int128), sum(DECIMAL(12,2)) yields
# DECIMAL(38,2) while Spark yields BIGINT / DECIMAL(22,2). Compare the
# engines' schemas by coarse type class and flag any column where the
# classes differ or where both are decimal but precision/scale differ.
_TYPE_CLASS = {
    "int8": "int", "int16": "int", "int32": "int", "int64": "int",
    "uint8": "int", "uint16": "int", "uint32": "int", "uint64": "int",
    "halffloat": "float", "float": "float", "double": "float",
    "string": "str", "large_string": "str", "bool": "bool",
    "date32[day]": "date",
    "binary": "binary", "large_binary": "binary",
}


def _arrow_class(t) -> str:
    s = str(t)
    if s in _TYPE_CLASS:
        return _TYPE_CLASS[s]
    if s.startswith("decimal128(") or s.startswith("decimal256("):
        return s.replace("decimal256", "decimal128")  # same logical decimal
    if s.startswith("timestamp"):
        return "timestamp"
    if s.startswith(("list", "large_list")):
        return "list"
    if s == "int128":  # duckdb HUGEINT surfaced directly
        return "hugeint"
    return s


def _spark_class(dt) -> str:
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    if s.startswith("decimal("):
        p, sc = s[8:-1].split(",")
        return f"decimal128({p}, {sc})"
    if s.startswith("timestamp"):
        return "timestamp"
    if s.startswith("array"):
        return "list"
    if s == "string":
        return "str"
    if s in ("boolean",):
        return "bool"
    if s == "date":
        return "date"
    return s


def type_drift(spark_schema, arrow_schema) -> list[str]:
    d_types = {f.name: _arrow_class(f.type) for f in arrow_schema}
    drifts = []
    for f in spark_schema.fields:
        sc = _spark_class(f.dataType)
        dc = d_types.get(f.name)
        if dc is None:
            continue
        if sc != dc:
            drifts.append(f"{f.name}: spark={sc} duckdb={dc}")
    return drifts


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import os

    from etl_marketdata_downloader_archived_spark.plans import registry
    from etl_marketdata_downloader_archived_spark.session import get_spark

    queries = registry.all_queries()
    oracles = registry.all_oracles()

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[4]").getOrCreate()
        print("(vanilla driver-style session)")
    else:
        spark = get_spark("parity")
    con = oracle_db(sf_dir)
    counts = Counter()
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        status, line = check_query(spark, con, sf_dir, name, fn, oracles.get(name))
        print(line)
        counts[status] += 1

    print(f"\n{counts['pass']} pass, {counts['fail']} fail, {counts['rows']} rows-only")
    return 1 if counts["fail"] else 0


def oracle_db(sf_dir: str):
    """A DuckDB connection with one view per fixture table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        # The engine's timestamp domain is MICROSECONDS (load_table
        # floor-divides TIMESTAMP(NANOS) parquet to micros): project
        # any TIMESTAMP_NS column through the same truncation so an
        # oracle can never order by sub-micro information Spark cannot
        # see. (The current fixtures surface plain TIMESTAMP, so this
        # is a guard for future nanos files, not an active rewrite.)
        cols = con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        ).fetchall()
        sel = ", ".join(
            f'CAST("{c}" AS TIMESTAMP) AS "{c}"' if ty == "TIMESTAMP_NS"
            else f'"{c}"'
            for c, ty, *_ in cols
        )
        con.execute(
            f"CREATE VIEW {t} AS SELECT {sel} "
            f"FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_query(spark, con, sf_dir: str, name: str, fn, oracle: str | None):
    """Run one registered query on Spark and its oracle (if any) on
    ``con``. Returns (status, line): status is "pass", "fail" or
    "rows" (no oracle: rows-only), line the report line."""
    try:
        sdf = fn(spark, sf_dir)
        s_cols = list(sdf.columns)
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:  # noqa: BLE001
        return "fail", f"FAIL  {name}: spark error: {exc}"
    finally:
        # operators that persist() multi-consumer stages would
        # otherwise pin blocks for the rest of the 146-query
        # battery (bench.py's cold-cache rule, applied here too)
        spark.catalog.clearCache()
    if oracle is None:
        return "rows", f"rows  {name}: rows-only ({len(s_rows)} rows)"
    try:
        arrow_schema = con.execute(oracle).fetch_arrow_table().schema
        res = con.execute(oracle)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
    except Exception as exc:  # noqa: BLE001
        return "fail", f"FAIL  {name}: duckdb error: {exc}"

    problems = []
    drifts = type_drift(sdf.schema, arrow_schema)
    if drifts:
        problems.append("type-drift " + "; ".join(drifts))
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"schema spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
    if not problems:
        ms, md = row_multiset(s_cols, s_rows), row_multiset(d_cols, d_rows)
        if ms != md:
            diff_s = list((ms - md).items())[:3]
            diff_d = list((md - ms).items())[:3]
            problems.append(f"values spark-only={diff_s} duckdb-only={diff_d}")
    if problems and all(p.startswith("values ") for p in problems):
        # Retry ONLY value-multiset mismatches: type-drift /
        # rowcount / schema problems are thread-invariant, and a
        # blanket retry would silently re-declare PASS without
        # re-checking them (the Arrow physical-type parity gate
        # must not be bypassable by the retry path).
        #
        # DuckDB 1.0's PARALLEL window aggregation is
        # nondeterministic on large partitions: the same
        # ROWS-frame running sum over a fully unique ORDER BY
        # returned three distinct prefixes across identical runs
        # at sf0.1 (win_frames, suppkey 707: 7728/7731/7744), only
        # one matching the explicitly-sorted ground truth both
        # engines agree on. Before declaring a mismatch, re-run
        # the ORACLE single-threaded (deterministic and correct)
        # and compare against that - the Spark side is already
        # deterministic by the exactness recipe.
        try:
            con.execute("SET threads=1")
            res = con.execute(oracle)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        finally:
            con.execute("RESET threads")
        if (
            len(s_rows) == len(d_rows)
            and sorted(s_cols) == sorted(d_cols)
            and row_multiset(s_cols, s_rows) == row_multiset(d_cols, d_rows)
        ):
            return "pass", (
                f"PASS  {name} ({len(s_rows)} rows; oracle retried "
                "single-threaded - parallel-DuckDB nondeterminism)"
            )
    if problems:
        return "fail", f"FAIL  {name}: " + "; ".join(problems)
    return "pass", f"PASS  {name} ({len(s_rows)} rows)"


if __name__ == "__main__":
    raise SystemExit(main())
