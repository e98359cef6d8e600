"""Datasource-level scan/sink tests: CSV/JSON/text/binaryFile reads
with explicit schemas, partitioned lake writes with pruning
(SURVEY.md section 2B scans/sinks rows)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_marketdata_downloader_archived_spark.io import load_table, write_lake


def test_csv_scan_crlf_explicit_schema(spark, tmp_path) -> None:
    """The reference's catalog wire format: CRLF rows, no header
    (data-harvester/data_harvester.py:27)."""
    p = tmp_path / "data.csv"
    p.write_text("1,alpha\r\n2,beta\r\n")
    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]
    )
    df = spark.read.schema(schema).csv(str(p))
    assert sorted((r.k, r.v) for r in df.collect()) == [(1, "alpha"), (2, "beta")]


def test_json_lines_scan(spark, tmp_path) -> None:
    p = tmp_path / "data.jsonl"
    p.write_text('{"k":1,"v":"a"}\n{"k":2,"v":"b"}\n')
    df = spark.read.schema("k INT, v STRING").json(str(p))
    assert df.count() == 2


def test_text_and_binary_scan(spark, tmp_path) -> None:
    p = tmp_path / "blob.bin"
    p.write_bytes(b"\x00\x01\x02")
    txt = tmp_path / "lines.txt"
    txt.write_text("l1\nl2\n")

    tdf = spark.read.text(str(txt))
    assert tdf.count() == 2

    bdf = spark.read.format("binaryFile").load(str(p))
    row = bdf.select("length", "content").collect()[0]
    assert row.length == 3 and bytes(row.content) == b"\x00\x01\x02"


def test_partitioned_lake_write_prunes(spark, tmp_path) -> None:
    lake = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [("LINK", "a.csv", 1), ("FTP_FILES", "b.csv", 2), ("LINK", "c.csv", 3)],
        ["source_type", "file_name", "n"],
    )
    write_lake(df, lake)
    # physical layout: one dir per type -> partition pruning on read
    assert sorted(d for d in os.listdir(lake) if d.startswith("source_type=")) == [
        "source_type=FTP_FILES",
        "source_type=LINK",
    ]
    pruned = spark.read.parquet(lake).filter(F.col("source_type") == "LINK")
    assert pruned.count() == 2
    # the partition filter must reach the scan, not run as a row filter
    assert "PartitionFilters: [isnotnull(source_type" in (
        pruned._jdf.queryExecution().executedPlan().toString()
    )


def test_audited_lake_write_observes_in_one_pass(spark, tmp_path) -> None:
    """write_lake_audited: the audit metrics are exactly the written
    rows, captured by the write job itself (Observation API)."""
    from etl_marketdata_downloader_archived_spark.io import write_lake_audited

    df = spark.createDataFrame(
        [("LINK", "a.csv", 10.0), ("LINK", None, 2.0), ("FTP_FILES", "b.csv", None)],
        ["source_type", "file_name", "score"],
    )
    lake = str(tmp_path / "audited")
    audit = write_lake_audited(
        df,
        lake,
        metrics={
            "null_names": F.count_if(F.col("file_name").isNull()),
            "null_scores": F.count_if(F.col("score").isNull()),
            "sum_score": F.sum("score"),
        },
    )
    assert audit["n_rows"] == 3
    assert audit["null_names"] == 1 and audit["null_scores"] == 1
    assert audit["sum_score"] == 12.0
    assert spark.read.parquet(lake).count() == 3


def test_driver_table_timestamps_are_micros(spark, sf_dir) -> None:
    """events.parquet carries TIMESTAMP(NANOS); load_table must give
    micro TIMESTAMP_NTZ under any session (driver uses a vanilla one;
    NTZ because TZ-aware values collect through the process timezone
    on the non-Arrow path and would shift on a non-UTC host)."""
    e = load_table(spark, sf_dir, "events")
    assert dict(e.dtypes)["ts"] == "timestamp_ntz"
    assert e.select("ts").head()[0].year >= 2020


def test_orc_round_trip_with_pushdown(spark, sf_dir, tmp_path) -> None:
    """ORC interchange: parquet -> ORC -> read back is value-identical,
    the ORC scan keeps predicate pushdown (PushedFilters) and column
    pruning, and a partitioned ORC layout prunes partitions."""
    from etl_marketdata_downloader_archived_spark.io import (
        load_table,
        read_formatted,
        write_formatted,
    )

    o = load_table(spark, sf_dir, "orders")
    p = str(tmp_path / "orders_orc")
    write_formatted(o, p, fmt="orc")
    back = read_formatted(spark, p, fmt="orc")
    assert back.schema == o.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, o.collect())
    )

    q = back.filter(F.col("o_custkey") == 7).select("o_orderkey")
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedFilters" in plan and "o_custkey" in plan
    assert "ReadSchema" in plan

    # partitioned layout prunes: only the selected status directory
    pp = str(tmp_path / "orders_orc_part")
    write_formatted(o, pp, fmt="orc", partition_cols=("o_orderstatus",))
    pr = read_formatted(spark, pp, fmt="orc").filter(
        F.col("o_orderstatus") == "F"
    )
    pplan = pr._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters" in pplan
    want = o.filter(F.col("o_orderstatus") == "F").count()
    assert pr.count() == want


def test_json_csv_interchange_requires_schema(spark, sf_dir, tmp_path) -> None:
    """JSON/CSV reads refuse schema inference; with the schema given,
    a region round-trip is value-identical in both formats."""
    import pytest as _pytest

    from etl_marketdata_downloader_archived_spark.io import (
        load_table,
        read_formatted,
        write_formatted,
    )

    r = load_table(spark, sf_dir, "region")
    for fmt in ("json", "csv"):
        p = str(tmp_path / f"region_{fmt}")
        write_formatted(r, p, fmt=fmt)
        with _pytest.raises(ValueError, match="schema"):
            read_formatted(spark, p, fmt=fmt)
        back = read_formatted(spark, p, fmt=fmt, schema=r.schema)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, r.collect())
        )
    with _pytest.raises(ValueError, match="unsupported format"):
        write_formatted(r, str(tmp_path / "x"), fmt="xml")


def test_get_spark_reads_cpus_when_called(monkeypatch) -> None:
    """``$SPARK_GRAFT_CPUS`` is read by each ``get_spark`` call, so a
    caller that sets it after importing the package still sizes the
    master and the shuffle partitions with it."""
    from etl_marketdata_downloader_archived_spark import session

    seen: dict[str, str] = {}

    class _Builder:
        def master(self, m):
            seen["master"] = m
            return self

        def appName(self, _name):  # noqa: N802 - the builder's API
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):  # noqa: N802 - the builder's API
            class _Spark:
                class sparkContext:  # noqa: N801 - mirrors the attribute
                    @staticmethod
                    def setLogLevel(_level):  # noqa: N802
                        pass

            return _Spark()

    class _SparkSession:
        builder = _Builder()

    monkeypatch.setattr(session, "SparkSession", _SparkSession)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark()
    assert seen["master"] == "local[3]"
    assert seen["spark.sql.shuffle.partitions"] == "3"
