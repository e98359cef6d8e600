"""The source catalog: a small mutable control table.

The reference keeps it as a positional CSV in S3, read with a naive
``split(',')`` (reference: data-harvester/data_harvester.py:26-28) and
point-updated on error by re-reading + rewriting the whole file
(data-downloader/data_downloader.py:40-48). This engine reads it with
an explicit schema in PERMISSIVE mode (malformed rows land in
``_corrupt_record`` instead of crashing the job) and expresses the
point update as a conditional projection + a whole-table rewrite that
publishes by rename (``io.publish_small_table``), so a failed or
crashed write keeps the previous catalog - the right call for a
catalog-sized table. At lake scale the same operation
is a transactional MERGE INTO (Delta/Iceberg; not in this
environment).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import publish_small_table
from ..schemas import SOURCES

# PERMISSIVE read needs the corrupt-record column declared in-schema
_SOURCES_PERMISSIVE = T.StructType(
    list(SOURCES.fields) + [T.StructField("_corrupt_record", T.StringType())]
)


def read_catalog(spark: SparkSession, path: str, fmt: str = "csv") -> DataFrame:
    """Read the source catalog with the explicit schema.

    ``fmt='csv'`` mirrors the reference's storage; ``'parquet'`` is the
    engine-managed representation after the first write-back.
    """
    if fmt == "parquet":
        return spark.read.schema(SOURCES).parquet(path)
    df = (
        spark.read.schema(_SOURCES_PERMISSIVE)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # Spark disallows predicates that reference only _corrupt_record on
    # a raw CSV scan (it would need the full row anyway); materializing
    # first is the documented escape and the catalog is control-table
    # sized by definition. DRIVER-side materialization, not cache() or
    # localCheckpoint: a cache() entry is keyed on the logical plan and
    # serves STALE rows to every re-read after a catalog point update
    # (a scheduler ticking against a mutable catalog must see each
    # tick's current file, like the reference's per-invocation S3
    # read), while localCheckpoint pins unreplicated executor blocks
    # that an executor loss makes permanently unreadable. Re-creating
    # the frame from the collected Arrow table is fresh, lineage-free,
    # survives any executor churn, and stays on the JVM side: the
    # result is a local relation, so later actions start no Python
    # worker (rows collected into Python would be re-shipped as a
    # Python RDD, one Python task per core on every action).
    return spark.createDataFrame(df.toArrow(), df.schema)


def valid_rows(catalog: DataFrame) -> DataFrame:
    """Well-formed rows only (quarantine path gets the rest)."""
    if "_corrupt_record" not in catalog.columns:
        return catalog
    return catalog.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")


def write_catalog(catalog: DataFrame, path: str) -> None:
    """Replace the catalog at ``path`` with one file (like the
    reference's single CSV) through ``io.publish_small_table``: the
    previous catalog stays readable if the write fails, and a swap
    caught mid-rename is healed by the next mutator (``io`` module
    docstring)."""
    cols = [f.name for f in SOURCES.fields]
    publish_small_table(catalog.select(*cols), path)


def flag_broken(catalog: DataFrame, broken_ids: Iterable[str]) -> DataFrame:
    """Set active=2 for broken sources - the reference's error flagging
    (data-downloader/data_downloader.py:44-46: '#2 - means source is
    broken needs to be fixed')."""
    ids = [str(i) for i in broken_ids]
    return catalog.withColumn(
        "active",
        F.when(F.col("id").isin(ids), F.lit(2)).otherwise(F.col("active")),
    )
