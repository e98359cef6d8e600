"""Table loaders and lake writers.

Readers take explicit paths (the driver passes an sf_dir); writers encode
the partitioned-lake layout the reference lands into by source-type
prefix (reference: data-downloader/data_downloader.py:104,107,132,170,195)
- re-expressed as `partitionBy` so Spark partition pruning works for free.

Layout, shared by every reader and mutator of a lake dir. A path part
is hidden when it starts with ``.``, or with ``_`` and has no ``=``
(Spark's rule: ``_SUCCESS``, ``_temporary/``, ``.hive-staging`` and
``_meta`` are hidden, a ``_bk=3`` partition dir is not); every other
file under the dir is data (``_list_data_files``). A partition dir is
a ``col=value`` child of the table dir (``_partition_dirs``). A dir's
build parameters live in a one-row parquet sidecar of int fields at
``<dir>/_meta`` (``_write_meta``/``_read_meta``): hidden from data
reads, it travels with the dir. An absent sidecar means a legacy dir
written before it; a present but empty one is corrupt and raises.

The publish protocol, shared by every table mutator in the package.
Readers see a table (or a partition) wholly old or wholly new, and a
crash at any point leaves every byte recoverable:

- Stage beside the live path, never inside it (a sibling is invisible
  to partition discovery): ``<path>__stage``, or ``<path>__compact``
  for ``compact_lake``. The stage write also runs the read of the live
  files to completion before anything moves.
- Whole-table swap (``_publish_table``: ``publish_small_table``,
  ``compact_lake``, ``corpus_store.bucket_corpus``,
  ``fuzzy.compact_postings``, and ``write_audit_publish``'s replace
  mode on an unpartitioned table): rename live -> ``<path>__old``, stage
  -> live, then drop ``__old``. If stage -> live fails, ``__old`` is
  renamed back, so the live path keeps its old rows.
- Partition swap (``publish_partitions``, and ``_stage_and_publish``
  for ``merge_partitioned``, ``incremental_rollup``, ``compact_files``,
  ``purge_keys``, ``refresh_join_view``; ``write_audit_publish``'s
  replace mode on a partitioned table): per staged partition dir,
  live -> ``<path>__backup/<dir>``, staged -> live (rolled back on
  failure), drop the backup. An affected partition that staged no
  rows is deleted the same way, by renaming it aside.
- Recovery, run by the NEXT mutator at entry, before it reads: a live
  table missing beside an intact ``__old`` is a swap that died between
  its renames, so ``__old`` is renamed back (``recover_small_table``,
  which raises if that rename fails); an ``__old`` beside a live table
  is superseded and dropped. ``vacuum_maintenance`` does the same and
  also restores a ``__backup/<dir>`` whose live partition is missing
  and drops stale stages. Readers that fold a table they later publish
  read it through ``_read_recovered``. The posting store keeps its own
  rule for a live store beside ``__old`` (``fuzzy.recover_posting_store``
  merges the data files in instead of dropping them).
- The remaining race is the renames themselves: for that instant one
  table or partition can list as absent. One maintenance writer per
  table is assumed (``maintenance_lock`` enforces it where two
  schedulers could race).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import DRIVER_TABLES

# Inferred FILE schema per (session id, resolved path): parquet schema
# inference lists the directory and reads footers on EVERY
# spark.read.parquet call - measured 94 ms/call vs 11 ms with an
# explicit schema at sf0.1, and a full battery run makes thousands of
# load_table calls, so inference alone was minutes of pure metadata
# overhead. This caches METADATA only (the file schema, keyed by the
# session so a restarted JVM or a different nanosAsLong setting never
# sees a stale entry) - every query still reads all its DATA from the
# parquet files on every invocation.
_SCHEMA_CACHE: dict[tuple[int, str], T.StructType] = {}


def _vfs(spark: SparkSession, path: str):
    """``(Path, fs)``: the Hadoop ``Path`` class and the FileSystem
    that owns ``path``, resolved through the session's Hadoop
    configuration, so every scheme Spark can read (file://, hdfs://,
    s3a://...) works. The package's one Hadoop-FS accessor: every
    existence probe, listing, rename and delete goes through it."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    return jvm_path, jvm_path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )


def _list_data_files(spark: SparkSession, root: str) -> dict:
    """rel-path -> (full path, length) of every data file under
    ``root``, recursively (the Layout rule in the module docstring);
    empty when ``root`` is missing."""
    jvm_path, fs = _vfs(spark, root)
    base = jvm_path(root.rstrip("/"))
    out: dict = {}
    if not fs.exists(base):
        return out
    qbase = fs.makeQualified(base).toString().rstrip("/")
    it = fs.listFiles(base, True)
    while it.hasNext():
        st = it.next()
        f = st.getPath().toString()
        rel = f[len(qbase):].lstrip("/") if f.startswith(qbase) else f
        if not any(
            p.startswith(("_", ".")) and "=" not in p for p in rel.split("/")
        ):
            out[rel] = (f, st.getLen())
    return out


def _move_data_files(spark: SparkSession, files: dict, dest_root: str) -> None:
    """Move ``_list_data_files`` entries under ``dest_root`` at the same
    rel paths (partition dirs kept). Part-file names carry a writer
    UUID, so they do not collide; a failed rename raises."""
    jvm_path, fs = _vfs(spark, dest_root)
    for rel, (full, _) in files.items():
        dest = jvm_path(dest_root.rstrip("/") + "/" + rel)
        fs.mkdirs(dest.getParent())
        if not fs.rename(jvm_path(full), dest):
            raise IOError(
                f"data file move of {rel!r} into {dest_root!r} failed; "
                "source retained"
            )


def _partition_dirs(spark: SparkSession, path: str, col: str) -> dict:
    """dir name -> ``Path`` of each ``col=`` partition dir directly
    under ``path``; empty when ``path`` is missing."""
    jvm_path, fs = _vfs(spark, path)
    root = jvm_path(path.rstrip("/"))
    if not fs.exists(root):
        return {}
    return {
        st.getPath().getName(): st.getPath()
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith(col + "=")
    }


def _write_meta(spark: SparkSession, dir_: str, fields: dict) -> None:
    """Write ``fields`` as the one-row ``<dir_>/_meta`` sidecar, each
    an int column (Layout, module docstring)."""
    spark.createDataFrame(
        [tuple(fields.values())], ", ".join(f"{k} int" for k in fields)
    ).coalesce(1).write.mode("overwrite").parquet(dir_.rstrip("/") + "/_meta")


def _read_meta(spark: SparkSession, dir_: str) -> dict | None:
    """The ``<dir_>/_meta`` sidecar's fields, or None when it is absent;
    raises when it is present but empty (Layout, module docstring)."""
    meta = dir_.rstrip("/") + "/_meta"
    jvm_path, fs = _vfs(spark, meta)
    if not fs.exists(jvm_path(meta)):
        return None
    row = spark.read.parquet(meta).first()
    if row is None:
        raise ValueError(f"_meta sidecar at {dir_} is corrupt: no row")
    return row.asDict()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver parquet table. Parquet carries its own schema;
    vectorized scan + pushdown apply automatically (the explicit
    schema handed to the reader is the CACHED INFERRED file schema,
    not an override - see _SCHEMA_CACHE).

    Files written with TIMESTAMP(NANOS) surface as LongType under
    ``spark.sql.legacy.parquet.nanosAsLong`` (set in session.get_spark);
    convert those back to microsecond timestamps - floor division, the
    same truncation DuckDB applies when reading nanos.
    """
    # Runtime-set (not only in session.get_spark): the driver calls the
    # query battery with its own SparkSession.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # UTC is an engine semantic (lake timestamps are wall-clock-free);
    # also keeps date_format output identical to the DuckDB oracle when
    # the host session runs in another zone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Arrow is a TIMEZONE defense, not just a speedup: the non-Arrow
    # collect path converts TimestampType through the Python PROCESS
    # timezone (datetime.fromtimestamp), ignoring the session TZ - on a
    # non-UTC host every derived timestamp would render shifted. Arrow
    # conversion honors spark.sql.session.timeZone.
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (id(spark), os.path.realpath(path))
    file_schema = _SCHEMA_CACHE.get(key)
    if file_schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(file_schema).parquet(path)
    expected = DRIVER_TABLES.get(name)
    if expected is not None:
        for field in df.schema.fields:
            want = next((f.dataType for f in expected.fields if f.name == field.name), None)
            if isinstance(field.dataType, T.LongType) and isinstance(want, T.TimestampType):
                # integer `div`, not `/`: float division loses ulps on
                # epoch-nanos magnitudes (~1.7e18 > 2^53).
                # The final cast to TIMESTAMP_NTZ (under the UTC session
                # TZ set above) matters: parquet TIMESTAMP(NTZ) columns
                # in the other tables already read as timestamp_ntz,
                # whose collect() is timezone-free on any host - while a
                # TZ-aware timestamp renders through the PYTHON PROCESS
                # timezone on the non-Arrow collect path, shifting every
                # value on a non-UTC driver host.
                df = df.withColumn(
                    field.name,
                    F.timestamp_micros(F.expr(f"`{field.name}` div 1000")).cast(
                        "timestamp_ntz"
                    ),
                )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register driver tables as temp views for spark.sql plans."""
    if not names:
        names = (
            "region",
            "nation",
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
        )
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def write_lake(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("source_type",),
    mode: str = "append",
    max_records_per_file: int | None = None,
) -> None:
    """Partitioned parquet landing - the lake layout.

    The reference routes landed files under per-type S3 prefixes
    (POC2/{LINK,LINKS_OVER,...}); partitionBy gives the same physical
    layout plus automatic partition pruning on read.

    ``max_records_per_file`` caps file size task-side (the other half
    of file sizing - too-small files are the compaction job's problem,
    see compact_lake; too-LARGE files serialize the read because one
    row group is one scan split floor). Size it so files land near the
    128 MB ``maxPartitionBytes`` read split."""
    w = df.write.mode(mode).partitionBy(*partition_cols)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def write_lake_audited(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("source_type",),
    mode: str = "append",
    metrics: dict[str, "Column"] | None = None,
) -> dict:
    """write_lake plus an audit panel captured IN THE SAME JOB via the
    Observation API: row count and any caller metrics (null counts,
    PII hits, quality means) are accumulated task-side while rows
    stream to parquet - zero extra scans, exactly the rows written.
    Returns the observed metrics dict.

    The observability counterpart of the reference's per-put logging
    (data-downloader/data_downloader.py prints per file); at lake
    scale a second validation pass over what was just written is a
    full re-read, so the write is the place to measure."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("write_audit")
    exprs = [F.count(F.lit(1)).alias("n_rows")]
    for name, col in (metrics or {}).items():
        exprs.append(col.alias(name))
    df.observe(obs, *exprs).write.mode(mode).partitionBy(*partition_cols).parquet(path)
    return obs.get


def read_lake_evolving(
    spark: SparkSession,
    path: str,
    expected: T.StructType | None = None,
) -> DataFrame:
    """Read a lake whose files span schema versions - the reality of
    any table that lives longer than its producer's first release:
    early partitions lack columns later ones carry. ``mergeSchema``
    unifies the parquet footers (a column missing from an old file
    reads as NULL there), and the optional ``expected`` contract adds
    any still-missing column as a typed NULL - so a plan written
    against today's schema runs over every historical partition
    without a backfill rewrite.

    Columns the files carry under an OLDER type are cast to the
    contract's type (cast-compatible evolution - int widened to
    double, etc.; a no-op when types already match), and matching is
    case-insensitive like Spark's own column resolution, so a
    case-variant historical column is cast in place rather than
    shadowed by a NULL duplicate.

    Cost note for 100 TB: mergeSchema footer reconciliation reads one
    footer per file (a driver-side listing pass, parallelized by
    Spark) - pair with compact_files so file count stays proportional
    to data, and prefer an explicit ``expected`` contract over
    re-deriving the union every read."""
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if expected is not None:
        have = {c.lower(): c for c in df.columns}
        for f in expected.fields:
            actual = have.get(f.name.lower())
            if actual is None:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            else:
                df = df.withColumn(actual, F.col(actual).cast(f.dataType))
    return df


def latest_per_key(df: DataFrame, keys: list[str], ts_col: str = "fetched_at") -> DataFrame:
    """Current-state view over an append-only log: the newest row per
    key (ts desc, with the file hash as a deterministic tie-break when
    two appends share a batch timestamp). This is how the overwrite
    route gets the reference's replace-the-object semantics on an
    immutable lake: appends accumulate, readers see only the latest."""
    from pyspark.sql import Window as W

    order = [F.col(ts_col).desc()]
    if "content_hash" in df.columns:
        order.append(F.col("content_hash").desc())
    w = W.partitionBy(*keys).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def compact_lake(
    spark: SparkSession,
    lake_dir: str,
    keys: tuple[str, ...] = ("route", "file_name"),
    ts_col: str = "fetched_at",
    partition_cols: tuple[str, ...] = ("route",),
) -> None:
    """Physically rewrite the append-log lake down to its current state
    (latest row per key) - the periodic maintenance pass that keeps the
    replace-semantics log from growing unboundedly. Published by the
    whole-table swap, staged at ``__compact`` (module docstring)."""
    vacuum_maintenance(spark, lake_dir)  # restore crashed-publish state first
    cur = latest_per_key(spark.read.parquet(lake_dir), list(keys), ts_col)
    _publish_table(
        spark,
        lake_dir,
        cur.write.mode("overwrite").partitionBy(*partition_cols).parquet,
        stage_suffix="__compact",
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: co-locates rows by hash(bucket_cols) at
    WRITE time, so joins/aggregations between tables bucketed the same
    way need no shuffle at READ time - the pre-partitioning strategy
    for repeated large-fact joins at 100 TB (pay one shuffle when
    landing, skip it on every subsequent join).

    Bucketing requires the session catalog (saveAsTable), unlike plain
    path writes; sort_cols additionally orders within buckets for
    merge-friendly scans."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def _old(path: str) -> str:
    """Where the whole-table swap keeps the previous snapshot of
    ``path`` between its two renames."""
    return path.rstrip("/") + "__old"


def _publish_table(
    spark: SparkSession,
    path: str,
    write,
    stage_suffix: str = "__stage",
    rescue=None,
) -> None:
    """The whole-table swap (module docstring): ``write(stage)`` lands
    the new snapshot beside ``path``; then live -> ``__old``, stage ->
    live (rolled back on failure), ``rescue(old)`` when given, and
    ``__old`` is dropped."""
    jvm_path, fs = _vfs(spark, path)
    root = path.rstrip("/")
    stage = root + stage_suffix
    live, old = jvm_path(root), jvm_path(_old(root))
    fs.delete(jvm_path(stage), True)
    write(stage)
    fs.delete(old, True)
    had_live = fs.exists(live)
    if had_live and not fs.rename(live, old):
        raise IOError(f"stage swap (live -> __old) failed for {root!r}")
    if not fs.rename(jvm_path(stage), live):
        if had_live and not fs.rename(old, live):
            raise IOError(f"stage swap rollback failed for {root!r}")
        raise IOError(f"stage swap (stage -> live) failed for {root!r}")
    if rescue is not None:
        rescue(_old(root))
    fs.delete(old, True)


def recover_small_table(spark: SparkSession, path: str) -> bool:
    """Heal a crashed whole-table swap of ``path`` (module docstring):
    restore ``__old`` when the live dir is missing, drop it when the
    live dir exists. A mutator that reads the table before publishing
    runs this first. Returns True if a restore happened."""
    jvm_path, fs = _vfs(spark, path)
    root = path.rstrip("/")
    old = jvm_path(_old(root))
    if not fs.exists(old):
        return False
    if not fs.exists(jvm_path(root)):
        if not fs.rename(old, jvm_path(root)):
            raise IOError(f"crash recovery rename failed for {root!r}")
        return True
    fs.delete(old, True)
    return False


def _read_recovered(spark: SparkSession, path: str, read=None):
    """``read(path)`` (default ``spark.read.parquet``) of a table that
    is published by the whole-table swap, after ``recover_small_table``
    healed any crashed swap; None when the table does not exist yet -
    so absence means a first write, never a swap caught mid-rename."""
    recover_small_table(spark, path)
    jvm_path, fs = _vfs(spark, path)
    if not fs.exists(jvm_path(path.rstrip("/"))):
        return None
    return (read or spark.read.parquet)(path)


def publish_small_table(df: DataFrame, path: str) -> None:
    """Replace the small table at ``path`` with ``df`` as one file,
    through the whole-table swap (module docstring). Unlike Spark's
    overwrite mode, which deletes before it writes, the previous
    snapshot survives a failed or crashed publish, so absence is never
    mistaken for loss."""
    spark = df.sparkSession
    recover_small_table(spark, path)
    _publish_table(spark, path, df.coalesce(1).write.mode("overwrite").parquet)


def analyze_table(spark: SparkSession, table: str, columns: list[str] | None = None) -> None:
    """Compute table + column statistics for the CBO (row count, size,
    per-column NDV/min/max/null counts). Stats are what turn the
    cost-based optimizer's join reordering and broadcast decisions
    from guesses into informed choices on multi-join plans - at 100 TB
    a wrong join order is the difference between shuffling a dimension
    and shuffling the fact table. Run after (re)landing a catalog
    table; session.get_spark enables CBO so the stats are consumed."""
    cols = f" FOR COLUMNS {', '.join(columns)}" if columns else " FOR ALL COLUMNS"
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS{cols}")


class MaintenanceLockHeld(RuntimeError):
    """Another maintenance writer holds the lake's advisory lock."""


@contextmanager
def maintenance_lock(
    spark: SparkSession, path: str, ttl_s: int = 3600, owner: str = ""
):
    """Advisory single-writer lock for lake maintenance - the
    mechanism behind every mutator's "single maintenance writer per
    lake assumed" caveat, for deployments where two schedulers might
    race the same table.

    ``<path>__lock`` is claimed atomically - java.io.File
    .createNewFile (true O_CREAT|O_EXCL) on local filesystems, where
    Hadoop's own create(overwrite=false) is a non-atomic
    exists-then-open; the server-side exclusive create elsewhere -
    then the owner nonce is written and read back (a tripwire for
    filesystems whose exclusivity is advisory). Removed on exit. A lock older than ``ttl_s`` is presumed
    abandoned by a crashed writer and broken - the new holder then
    runs ``vacuum_maintenance``-style recovery anyway at mutator
    entry, so taking over a crashed run is safe by construction.
    Raises MaintenanceLockHeld when a live writer holds it.

    Usage::

        with maintenance_lock(spark, lake):
            merge_partitioned(spark, lake, updates, ...)

    Advisory means exactly that: mutators do not acquire it
    themselves (a single-writer deployment should not pay lock I/O
    per mutation); wrap the call sites that can actually race.

    Contract: the protected job MUST finish within ``ttl_s``. A holder
    that overruns its TTL is treated as crashed - another writer may
    take the lock over, after which exclusivity is gone for the
    overrunner (its release then detects the foreign owner nonce and
    leaves the new holder's lock untouched rather than deleting it).

    Takeover discipline (the delete-then-create of earlier rounds let
    two waiters both break one expired lock and the second delete
    removed the first waiter's FRESH lock): an expired lock is broken
    by RENAME to a unique per-contender name - the filesystem grants
    exactly one renamer the file; every loser raises
    MaintenanceLockHeld. The winner re-checks the renamed file's
    mtime against the expired mtime it observed, so a contender whose
    rename landed on a DIFFERENT, freshly-created lock (the previous
    winner already re-acquired) detects the theft and puts the file
    back. Acquisition itself writes an owner nonce via exclusive
    create (``overwrite=false``), and release deletes the lock only
    after reading its own nonce back.
    """
    import uuid

    jvm = spark._jvm
    jvm_path, fs = _vfs(spark, path)
    root = path.rstrip("/")
    # qualify against the FS (absolute path + scheme/authority) so the
    # local-scheme java.io.File claim below and the later fs.create /
    # fs.delete all resolve to the SAME object even when the caller
    # passed a relative lake path or a file-scheme wrapper FS
    lock = fs.makeQualified(jvm_path(root + "__lock"))
    nonce = f"{owner or 'anon'}:{uuid.uuid4().hex}"

    _break_expired_lock(spark, path, ttl_s)
    out = None
    created = False
    try:
        if fs.getUri().getScheme() == "file":
            # Hadoop's Local/ChecksumFileSystem create(overwrite=
            # false) is an exists-CHECK-then-open, NOT atomic - two
            # contenders can both pass the check, both write, and
            # both believe they won (a read-back alone cannot close
            # this: the loser's late write can land after the
            # winner's read-back, leaving TWO writers in the critical
            # section). Claim with java.io.File.createNewFile, which
            # IS atomic O_CREAT|O_EXCL ("if and only if a file with
            # this name does not yet exist") - exactly one contender
            # creates the file.
            local = jvm.java.io.File(lock.toUri().getPath())
            if not local.createNewFile():
                raise MaintenanceLockHeld(
                    f"lost the lock race on {path}"
                )
            created = True
            # we own the claim; the nonce write may overwrite our own
            # empty file (and lay down the checksum sidecar)
            out = fs.create(lock, True)
        else:
            # HDFS-like filesystems implement exclusive create
            # atomically server-side
            out = fs.create(lock, False)
            created = True
        out.write(bytearray(nonce, "utf-8"))
        out.close()
        out = None
    except MaintenanceLockHeld:
        raise
    except Exception as exc:  # noqa: BLE001 - py4j wraps the FS error
        if out is not None:
            try:
                out.close()
            except Exception:  # noqa: BLE001
                pass
        if created:
            # The exclusive claim succeeded but writing/closing the
            # nonce failed (disk full, stream error): a half-written
            # lock we own would block every writer until the TTL.
            # Remove it before re-raising.
            try:
                fs.delete(lock, False)
            except Exception:  # noqa: BLE001
                pass
            raise
        if "Exists" not in str(exc) and "exists" not in str(exc):
            raise
        raise MaintenanceLockHeld(
            f"lost the lock race on {path}"
        ) from None
    # Read-back verification - a secondary tripwire for filesystems
    # whose "exclusive" create is advisory (object-store lookalikes):
    # if the persisted nonce is not ours, someone else owns the file -
    # yield WITHOUT deleting it.
    if _read_lock_owner(spark, lock) != nonce:
        raise MaintenanceLockHeld(
            f"lost the lock race on {path}: read-back nonce mismatch"
        )
    try:
        yield
    finally:
        holder = _read_lock_owner(spark, lock)
        if holder == nonce:
            # Benign race: between this read and the delete an
            # expired-TTL takeover could swap the file - but takeover
            # requires the lock to be PAST ttl_s, which the contract
            # above forbids for a live holder.
            fs.delete(lock, False)
        # else: our TTL elapsed and another writer took over (or the
        # file vanished) - the lock file is theirs, leave it alone.


def _read_lock_owner(spark: SparkSession, lock) -> str | None:
    """Owner nonce stored in a maintenance lock file, or None if the
    file is unreadable/absent (vanished mid-check)."""
    jvm = spark._jvm
    _, fs = _vfs(spark, lock.toString())
    try:
        stream = fs.open(lock)
    except Exception:  # noqa: BLE001
        return None
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    except Exception:  # noqa: BLE001
        return None
    finally:
        stream.close()


def _break_expired_lock(spark: SparkSession, path: str, ttl_s: int) -> None:
    """Break ``<path>__lock`` iff it is older than ``ttl_s`` - by
    atomic rename to a unique takeover name, so of N concurrent
    contenders exactly one removes the expired file and every other
    raises MaintenanceLockHeld. No-op when no lock exists; raises when
    a live (non-expired) holder is present.

    The post-rename mtime check closes the second-order race: a
    contender that passed the staleness check, then stalled while the
    winner broke the lock AND re-created a fresh one, would otherwise
    rename the WINNER'S fresh lock away. Detecting a changed mtime on
    the renamed file, it restores the file and raises. (The restore
    itself can collide with a third writer creating yet another lock
    in that same instant - that residual window is two metadata ops
    wide and needs three simultaneous contenders inside one expired
    takeover; the stolen file is then dropped and this contender still
    raises.)"""
    import time

    jvm_path, fs = _vfs(spark, path)
    root = path.rstrip("/")
    lock = jvm_path(root + "__lock")
    if not fs.exists(lock):
        return
    stale_mtime = fs.getFileStatus(lock).getModificationTime()
    age = time.time() - stale_mtime / 1000.0
    if age <= ttl_s:
        raise MaintenanceLockHeld(
            f"maintenance lock on {path} held for {age:.0f}s (ttl {ttl_s}s)"
        )
    _takeover_expired(spark, path, stale_mtime)


def _takeover_expired(spark: SparkSession, path: str, stale_mtime: int) -> None:
    """The rename-based takeover step, given the expired lock's
    observed mtime: exactly one contender's rename wins the file;
    losers and theft-detections raise MaintenanceLockHeld. Split out
    so the two-contender race is testable with a pre-captured stale
    observation (the real race window)."""
    import uuid

    jvm_path, fs = _vfs(spark, path)
    root = path.rstrip("/")
    lock = jvm_path(root + "__lock")
    tomb = jvm_path(root + "__lock_takeover_" + uuid.uuid4().hex)
    try:
        won = fs.rename(lock, tomb)
    except Exception as exc:  # noqa: BLE001 - local FS throws FNF,
        if "FileNotFoundException" not in str(exc):  # HDFS returns false
            raise
        won = False
    if not won:
        raise MaintenanceLockHeld(
            f"lost the takeover race on {path}: another writer broke "
            "the expired lock first"
        )
    if fs.getFileStatus(tomb).getModificationTime() != stale_mtime:
        # We renamed a FRESH lock (a previous winner already
        # re-acquired) - put it back and yield to that holder.
        if not fs.rename(tomb, lock):
            fs.delete(tomb, False)
        raise MaintenanceLockHeld(
            f"expired lock on {path} was already replaced by a new holder"
        )
    fs.delete(tomb, False)


def publish_partitions(
    spark: SparkSession, path: str, stage: str, partition_col: str
) -> None:
    """Swap every partition directory staged under ``stage`` into the
    live table at ``path`` by rename (the partition swap, module
    docstring). Unlike dynamic partition overwrite, which deletes live
    files during the write job, a reader never lists a partition with
    half old, half new files. Partition dir names travel verbatim
    (URL-escaped values included)."""
    _swap_partitions(spark, path, _partition_dirs(spark, stage, partition_col))
    jvm_path, fs = _vfs(spark, stage)
    fs.delete(jvm_path(stage), True)


def _swap_partitions(spark: SparkSession, path: str, moves: dict) -> None:
    """Per partition dir name -> staged ``Path`` (or None to delete
    it): live -> ``__backup/<dir>``, staged -> live (rolled back on
    failure), backup dropped."""
    jvm_path, fs = _vfs(spark, path)
    root = path.rstrip("/")
    backup = root + "__backup"
    fs.mkdirs(jvm_path(backup))
    for name, staged in moves.items():
        live = jvm_path(root + "/" + name)
        aside = jvm_path(backup + "/" + name)
        fs.delete(aside, True)  # leftover from a prior crashed publish
        fs.mkdirs(aside.getParent())  # a nested dir name's parents
        had_live = fs.exists(live)
        if had_live and not fs.rename(live, aside):
            raise IOError(f"partition swap: could not rename {name} aside")
        if staged is not None and not (
            fs.mkdirs(live.getParent()) and fs.rename(staged, live)
        ):
            if had_live:
                fs.rename(aside, live)  # roll back; live stays valid
            raise IOError(f"partition swap: could not publish {name}")
        fs.delete(aside, True)
    fs.delete(jvm_path(backup), True)


def _partition_dir(spark: SparkSession, col: str, value) -> str:
    """The directory name Spark's partitioned writer gives ``value``."""
    if value is None:
        return f"{col}=__HIVE_DEFAULT_PARTITION__"
    try:
        esc = (
            spark._jvm.org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName
        )
        # py4j fails at CALL time, not lookup - an unreachable class
        # returns a JavaPackage silently
        return f"{col}={esc(str(value))}"
    except Exception:  # pragma: no cover - jvm surface drift
        return f"{col}={value}"


def _stage_and_publish(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition_col: str,
    affected=(),
    max_records_per_file: int | None = None,
) -> None:
    """The partition-scoped mutators' publish (module docstring): write
    ``df`` partitioned to ``<path>__stage``, rename each staged
    partition in, and delete by rename every ``affected`` partition
    value that staged no rows (the swap alone would keep its stale
    files)."""
    stage = path.rstrip("/") + "__stage"
    w = df.write.mode("overwrite").partitionBy(partition_col)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(stage)
    staged = set(_partition_dirs(spark, stage, partition_col))
    publish_partitions(spark, path, stage, partition_col)
    emptied = {_partition_dir(spark, partition_col, v) for v in affected} - staged
    if emptied:
        _swap_partitions(spark, path, dict.fromkeys(sorted(emptied)))


def vacuum_maintenance(spark: SparkSession, path: str) -> dict:
    """Recover-then-clean after a crashed maintenance pass (the
    recovery rules are in the module docstring): a missing live table
    comes back from ``__old`` (``recover_small_table``, raising if the
    restore fails), a missing partition from ``__backup/<dir>``;
    superseded ``__old``/``__backup`` copies and never-published
    ``__stage``/``__compact`` dirs are deleted.

    Returns {"recovered": [...], "removed": [...]} of paths acted on."""
    jvm_path, fs = _vfs(spark, path)
    root = path.rstrip("/")
    recovered: list[str] = []
    removed: list[str] = []

    if fs.exists(jvm_path(_old(root))):
        if recover_small_table(spark, root):
            recovered.append(root)
        else:
            removed.append(_old(root))

    backup = jvm_path(root + "__backup")
    if fs.exists(backup):
        for status in fs.listStatus(backup):
            name = status.getPath().getName()
            live = jvm_path(root + "/" + name)
            if "=" in name and not fs.exists(live):
                fs.rename(status.getPath(), live)
                recovered.append(root + "/" + name)
        fs.delete(backup, True)
        removed.append(root + "__backup")

    for suffix in ("__stage", "__compact"):
        p = jvm_path(root + suffix)
        if fs.exists(p):
            fs.delete(p, True)
            removed.append(root + suffix)
    return {"recovered": recovered, "removed": removed}


def merge_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
    ts_col: str | None = None,
) -> None:
    """Upsert ``updates`` into a partitioned parquet lake, rewriting
    ONLY the partitions the updates touch - MERGE INTO semantics
    without a table format. (The reference point-updates its catalog by
    rewriting the whole file; at lake scale that is a full-table
    rewrite, this touches updated partitions only.)

    Mechanics: the touched partition values (a bounded, dimension-sized
    set) prune the current-state read; current rows in those partitions
    union with the updates and collapse to one row per key (updates win
    - via ``ts_col`` ordering when given, else unconditionally); the
    result publishes through the partition swap (module docstring), so
    every other partition's files stay untouched (tested by file
    identity).

    Caveat: a key's partition value must be stable (a row that MOVES
    partitions needs a delete from the old one - that is table-format
    territory).
    """
    vacuum_maintenance(spark, path)  # recover before reading
    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    current = spark.read.parquet(path).filter(F.col(partition_col).isin(touched))
    updates = updates.select(*current.columns)  # align column order
    if ts_col:
        merged = latest_per_key(current.unionByName(updates), keys, ts_col)
    else:
        # updates win unconditionally: tag precedence, keep max tag per key
        tagged = current.withColumn("_prec", F.lit(0)).unionByName(
            updates.withColumn("_prec", F.lit(1))
        )
        from pyspark.sql import Window as W

        w = W.partitionBy(*keys).orderBy(F.col("_prec").desc())
        merged = (
            tagged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_prec")
        )
    _stage_and_publish(spark, path, merged, partition_col)


# Re-aggregatable measure algebra for incremental rollups: how a
# measure is BUILT from facts, and how built partials COMBINE. avg is
# deliberately absent (keep sum+count, divide at read); distincts go
# through HLL sketches (the only way re-aggregation stays correct).
_ROLLUP_BUILD = {
    "sum": F.sum,
    "count": F.count,
    "min": F.min,
    "max": F.max,
    "hll": F.hll_sketch_agg,
}
_ROLLUP_COMBINE = {
    "sum": F.sum,
    "count": F.sum,  # counts add
    "min": F.min,
    "max": F.max,
    "hll": F.hll_union_agg,
}


def rollup_delta(
    facts: DataFrame, keys: list[str], spec: list[tuple[str, str]]
) -> DataFrame:
    """Partial-aggregate ``facts`` per ``spec`` = [(column, kind)] with
    kind in {sum,count,min,max,hll}. Output column names are
    ``<col>_<kind>`` - the rollup-table schema."""
    aggs = [
        _ROLLUP_BUILD[kind](col).alias(f"{col}_{kind}") for col, kind in spec
    ]
    return facts.groupBy(*keys).agg(*aggs)


def incremental_rollup(
    spark: SparkSession,
    path: str,
    new_facts: DataFrame,
    keys: list[str],
    partition_col: str,
    spec: list[tuple[str, str]],
) -> None:
    """Maintain a persistent rollup table incrementally: aggregate ONLY
    the newly-arrived facts, combine with current rollup state in the
    partitions the delta touches, and rewrite just those partitions
    through the partition swap (module docstring; untouched partitions
    keep their files). The fact history is never rescanned; a daily append costs
    one delta aggregation + a partition-scoped merge, regardless of
    table age. ``partition_col`` must be one of ``keys`` (day, source,
    ...). Distinct-count measures must be ``hll`` sketches - raw
    distinct counts cannot be re-aggregated across increments.

    (The reference recomputes aggregates by re-querying the whole lake
    through Athena per run; at 100 TB that is a full scan per refresh -
    this is the O(delta) replacement.)
    """
    assert partition_col in keys, "partition_col must be a rollup key"
    vacuum_maintenance(spark, path)  # restore any crashed-publish state first
    delta = rollup_delta(new_facts, keys, spec)
    combine = [
        _ROLLUP_COMBINE[kind](f"{col}_{kind}").alias(f"{col}_{kind}")
        for col, kind in spec
    ]
    jvm_path, fs = _vfs(spark, path)
    if not fs.exists(jvm_path(path)):
        delta.write.partitionBy(partition_col).parquet(path)
        return
    touched = [r[0] for r in delta.select(partition_col).distinct().collect()]
    current = spark.read.parquet(path).filter(
        F.col(partition_col).isin(touched)
    )
    merged = (
        current.unionByName(delta.select(*current.columns))
        .groupBy(*keys)
        .agg(*combine)
    )
    _stage_and_publish(spark, path, merged, partition_col)


def compact_files(
    spark: SparkSession,
    path: str,
    partition_col: str,
    target_mb: int = 128,
    index_dir: str | None = None,
) -> dict:
    """Small-file compaction: rewrite only the partitions whose file
    count exceeds what their bytes need at ``target_mb``/file, leaving
    right-sized partitions' files untouched (the partition swap scopes
    the rewrite, module docstring).

    The companion to compact_lake (which collapses KEYS): streaming /
    incremental appends land one file per micro-batch per partition,
    and at 100 TB a scan's task count is driven by file count - a
    partition of 10k 1 MB files costs 10k tasks and 10k opens where 80
    would do. Row content is unchanged (no dedup here); each rewritten
    partition coalesces to ceil(bytes / target) files via a
    per-partition-value shuffle + a task-side maxRecordsPerFile cap.

    Returns {"partitions_compacted": n, "files_before": a, "files_after": b}.

    ``index_dir``: the table's min/max skipping index, when it has
    one - compaction replaces files, which would otherwise degrade
    every indexed read to the stale-fallback full scan until someone
    remembered to refresh; passing it here runs
    ``refresh_skipping_index`` after the publish (and after the
    no-op early return too, so a maintenance pass always leaves the
    index current with whatever appends preceded it).
    """
    import math
    from urllib.parse import unquote

    vacuum_maintenance(spark, path)  # restore any crashed-publish state first
    target_bytes = target_mb * 1024 * 1024

    def sizes() -> dict:
        # partition dir -> sizes of the data files directly inside it
        out: dict = {}
        for rel, (_, n) in _list_data_files(spark, path).items():
            parts = rel.split("/")
            if len(parts) == 2 and parts[0].startswith(f"{partition_col}="):
                out.setdefault(parts[0], []).append(n)
        return out

    before = sizes()
    files_before = sum(map(len, before.values()))
    # (dir_name, value) pairs needing a rewrite: dir_name addresses the
    # physical path, value matches the typed column. Spark URL-escapes
    # partition values in directory names (space, ':', '%', ...), so
    # the dir name must be unquoted before it can equal the column -
    # comparing the raw name silently skips every escaped partition.
    todo: list[tuple[str, str]] = []
    null_part = False  # __HIVE_DEFAULT_PARTITION__ fragmented?
    for name, lens in before.items():
        if len(lens) > max(1, math.ceil(sum(lens) / target_bytes)):
            raw = name.split("=", 1)[1]
            if raw == "__HIVE_DEFAULT_PARTITION__":
                null_part = True
            else:
                todo.append((name, unquote(raw)))
    if not todo and not null_part:
        if index_dir is not None:
            refresh_skipping_index(spark, path, index_dir)
        return {
            "partitions_compacted": 0,
            "files_before": files_before,
            "files_after": files_before,
        }

    pred = F.col(partition_col).isin([v for _, v in todo]) if todo else F.lit(False)
    if null_part:
        pred = pred | F.col(partition_col).isNull()
    sub = spark.read.parquet(path).filter(pred)
    # rows-per-file cap from the observed bytes/row of the data itself
    n_rows = sub.count()
    dirs = [d for d, _ in todo] + (
        [f"{partition_col}=__HIVE_DEFAULT_PARTITION__"] if null_part else []
    )
    n_bytes = sum(sum(before[d]) for d in dirs)
    rows_per_file = max(1, int(n_rows * target_bytes / max(1, n_bytes)))
    _stage_and_publish(
        spark,
        path,
        sub.repartition(F.col(partition_col)),
        partition_col,
        max_records_per_file=rows_per_file,
    )

    files_after = sum(map(len, sizes().values()))
    if index_dir is not None:
        refresh_skipping_index(spark, path, index_dir)
    return {
        "partitions_compacted": len(todo) + (1 if null_part else 0),
        "files_before": files_before,
        "files_after": files_after,
    }


def write_audit_publish(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    rules: dict,
    partition_cols: tuple[str, ...] = (),
    max_violation_frac: float = 0.0,
    mode: str = "append",
) -> dict:
    """Write-audit-publish: stage the write beside the live table,
    audit the STAGED FILES with the declarative quality gates
    (operators.quality.validate), and only then move them into the
    live path - readers never observe unaudited rows, and a failed
    audit leaves the live table untouched with the staged copy kept
    for inspection.

    ``mode`` controls what publish does to data already live:

    - ``"append"`` (default): the staged part-files LAND BESIDE the
      existing ones - publish is an audited append, one publish per
      batch. Publishing the same batch twice duplicates its rows, by
      design (same contract as ``df.write.mode("append")``).
    - ``"replace"``: each directory the staging tree lands files into
      (the table when unpartitioned, else exactly the staged
      partitions) replaces its live twin through the whole-table or
      the partition swap (module docstring) - per-partition overwrite
      semantics; partitions absent from the staged write keep their
      files, and a failed publish leaves the live rows in place.

    The audit reads back what parquet will actually serve (post
    encoding/type coercion), not the in-memory frame. Publish renames,
    never copies; Spark part-file names carry a write-UUID, so staged
    names cannot collide with live ones. Returns
    {"published": bool, "n_rows": int, "n_violations": int,
    "staging": path} - on a refused publish the caller inspects/
    repairs the staging dir.

    (The composed form of the reference's validate-nothing gap: its
    downloader lands whatever the fetch returned; here the landing IS
    the gate.)
    """
    from .operators.quality import validate

    if mode not in ("append", "replace"):
        raise ValueError(f"write_audit_publish: unknown mode {mode!r}")
    staging = path.rstrip("/") + "__staging"
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(staging)

    staged = spark.read.parquet(staging)
    n_rows = staged.count()
    _, quarantined = validate(staged, rules)
    n_bad = quarantined.count()
    if n_rows and n_bad / n_rows > max_violation_frac:
        return {
            "published": False,
            "n_rows": n_rows,
            "n_violations": n_bad,
            "staging": staging,
        }

    jvm_path, fs = _vfs(spark, path)
    fs.mkdirs(jvm_path(path))
    files = _list_data_files(spark, staging)
    dirs = {rel.rpartition("/")[0] for rel in files}
    if mode == "append":
        _move_data_files(spark, files, path)
    elif dirs == {""}:  # unpartitioned: the table itself is replaced
        _publish_table(
            spark, path, lambda stage: _move_data_files(spark, files, stage)
        )
    else:
        _swap_partitions(
            spark, path, {d: jvm_path(f"{staging}/{d}") for d in sorted(dirs)}
        )
    fs.delete(jvm_path(staging), True)
    return {
        "published": True,
        "n_rows": n_rows,
        "n_violations": n_bad,
        "staging": staging,
    }


# ------------------------------------------------ format interchange

SUPPORTED_FORMATS = ("parquet", "orc", "json", "csv", "avro")


def write_formatted(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
    **options,
) -> None:
    """Format-interchange writer: the lake's parquet layout re-exported
    as ORC (Hive-era lake interop - ORC carries the same columnar
    stats/pushdown contract), JSON-lines (downstream consumers without
    a columnar reader), or headered CSV. One code path so partitioning
    and write options behave identically across formats; 'avro' is
    accepted but raises a clear error unless the spark-avro package is
    on the classpath (not bundled here - gated, not stubbed
    silently)."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(
            f"unsupported format {fmt!r}; one of {SUPPORTED_FORMATS}"
        )
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if fmt == "csv":
        options.setdefault("header", "true")
    for k, v in options.items():
        w = w.option(k, v)
    try:
        w.format(fmt).save(path)
    except Exception as e:  # pragma: no cover - no avro jar in CI
        if fmt == "avro" and "avro" in str(e).lower():
            raise RuntimeError(
                "avro output needs the spark-avro package "
                "(spark.jars.packages org.apache.spark:spark-avro_*); "
                "it is not bundled in this environment"
            ) from e
        raise


def read_formatted(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: "T.StructType | str | None" = None,
    **options,
):
    """Format-interchange reader. ORC and parquet are self-describing
    and keep column pruning + predicate pushdown (the scan shows
    PushedFilters either way - asserted in tests, not assumed); JSON
    and CSV REQUIRE an explicit schema (schema inference is a full
    extra pass over the data at lake scale, and silently inferred
    types are how a bigint becomes a double on Tuesday)."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(
            f"unsupported format {fmt!r}; one of {SUPPORTED_FORMATS}"
        )
    r = spark.read
    if fmt in ("json", "csv"):
        if schema is None:
            raise ValueError(
                f"{fmt} reads need an explicit schema (inference is a "
                "full extra scan and a type-drift hazard)"
            )
        r = r.schema(schema)
    elif schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    for k, v in options.items():
        r = r.option(k, v)
    try:
        return r.format(fmt).load(path)
    except Exception as e:  # pragma: no cover - no avro jar in CI
        if fmt == "avro" and "avro" in str(e).lower():
            raise RuntimeError(
                "avro input needs the spark-avro package "
                "(spark.jars.packages org.apache.spark:spark-avro_*); "
                "it is not bundled in this environment"
            ) from e
        raise


# ------------------------------------------------- versioned tables
# Time travel on plain parquet: each publish lands a complete
# immutable snapshot under <root>/v=N (staged + renamed, so a reader
# never sees a half-written version), and a _latest pointer file names
# the current one. Reads pin a version or follow the pointer; rollback
# is a pointer move (non-destructive); vacuum ages out old snapshots
# but never the pointed-to one. This is the smallest useful slice of
# the Delta/Iceberg contract - snapshot isolation for readers, instant
# rollback - without a transaction log, suitable for
# publish-then-read-mostly reference tables (the catalog/manifest
# class), not high-frequency concurrent upserts (that is
# write_audit_publish + merge_partitioned territory).


def list_versions(spark: SparkSession, root: str) -> list[int]:
    """Version numbers present under ``root``, ascending."""
    jvm_path, fs = _vfs(spark, root)
    p = jvm_path(root)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("v=") and st.isDirectory():
            try:
                out.append(int(name[2:]))
            except ValueError:
                continue
    return sorted(out)


def _read_pointer_file(fs, p) -> int | None:
    stream = fs.open(p)
    try:
        # byte-wise read of a <=20-byte ascii pointer; read() past
        # EOF returns -1, which maps to 0xFF below and is stripped
        raw = bytes(stream.read() & 0xFF for _ in range(20))
    finally:
        stream.close()
    txt = raw.split(b"\n")[0].strip().rstrip(b"\xff")
    try:
        return int(txt)
    except ValueError:
        return None


def latest_version(spark: SparkSession, root: str) -> int | None:
    """The pointed-to version. When the pointer is absent, read the
    intended version from ``_latest.tmp`` - a crashed
    ``_write_pointer`` dies in the delete-then-rename window with no
    pointer but an intact tmp, and falling straight back to the
    on-disk MAX would, after a rollback, silently re-point the table
    at the newer rolled-back-away snapshot. The reader NEVER mutates:
    renaming the tmp into place here would race a healthy writer's
    own delete-then-rename and fail its swap spuriously - the next
    ``_write_pointer`` overwrites the tmp and completes normally, so
    read-only recovery is enough. Only with neither file readable
    does the reader fall back to the max on-disk version (first-ever
    publish mid-flight)."""
    jvm_path, fs = _vfs(spark, root)
    base = root.rstrip("/")
    ptr = jvm_path(base + "/_latest")
    # both probes tolerate the file vanishing between exists() and
    # open() - a concurrent writer's swap window
    try:
        if fs.exists(ptr):
            v = _read_pointer_file(fs, ptr)
            if v is not None:
                return v
    except IOError:
        pass
    tmp = jvm_path(base + "/_latest.tmp")
    try:
        if fs.exists(tmp):
            v = _read_pointer_file(fs, tmp)
            if v is not None and fs.exists(jvm_path(f"{base}/v={v}")):
                return v
    except IOError:
        pass
    # the writer may have completed between the two probes
    try:
        if fs.exists(ptr):
            v = _read_pointer_file(fs, ptr)
            if v is not None:
                return v
    except IOError:
        pass
    vs = list_versions(spark, root)
    return vs[-1] if vs else None


def _write_pointer(spark: SparkSession, root: str, version: int) -> None:
    jvm_path, fs = _vfs(spark, root)
    base = root.rstrip("/")
    tmp = jvm_path(f"{base}/_latest.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(f"{version}\n".encode()))
    finally:
        out.close()
    ptr = jvm_path(f"{base}/_latest")
    if fs.exists(ptr):
        fs.delete(ptr, False)
    if not fs.rename(tmp, ptr):
        raise IOError(f"pointer swap failed for {base!r} -> v={version}")


def publish_version(df: DataFrame, root: str) -> int:
    """Publish ``df`` as the next version of the table and move the
    pointer to it. The snapshot stages under ``_stage_v<N>`` and
    renames into place, so a concurrent reader sees the previous
    version until the pointer moves - wholly-old or wholly-new, the
    engine's publish invariant. A crashed publish leaves only a stage
    directory, which the next publish sweeps. Returns the new version
    number."""
    spark = df.sparkSession
    jvm_path, fs = _vfs(spark, root)
    base = root.rstrip("/")
    # sweep crashed stages (self-recovery at entry, the mutator rule)
    p = jvm_path(base)
    if fs.exists(p):
        for st in fs.listStatus(p):
            if st.getPath().getName().startswith("_stage_v"):
                fs.delete(st.getPath(), True)
    vs = list_versions(spark, root)
    n = (vs[-1] + 1) if vs else 1
    stage = f"{base}/_stage_v{n}"
    df.write.mode("overwrite").parquet(stage)
    if not fs.rename(jvm_path(stage), jvm_path(f"{base}/v={n}")):
        raise IOError(f"version rename failed for {base!r} v={n}")
    _write_pointer(spark, root, n)
    return n


def read_version(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read a pinned version, or the pointed-to latest when
    ``version`` is None. A pinned read of a vacuumed version fails
    with the available list, not a bare path error."""
    v = latest_version(spark, root) if version is None else int(version)
    if v is None:
        raise FileNotFoundError(f"no versions published under {root!r}")
    vs = list_versions(spark, root)
    if v not in vs:
        raise FileNotFoundError(
            f"version {v} not present under {root!r}; available: {vs}"
        )
    return spark.read.parquet(f"{root.rstrip('/')}/v={v}")


def rollback_version(spark: SparkSession, root: str, to_version: int) -> None:
    """Point the table back at an older snapshot - instant and
    non-destructive (the newer versions stay on disk for re-roll-
    forward until vacuumed)."""
    vs = list_versions(spark, root)
    if to_version not in vs:
        raise FileNotFoundError(
            f"cannot roll back to v{to_version}; available: {vs}"
        )
    _write_pointer(spark, root, to_version)


def vacuum_versions(
    spark: SparkSession, root: str, keep_last: int = 2
) -> list[int]:
    """Delete all but the newest ``keep_last`` versions - but NEVER
    the pointed-to one, even if it is old (a rolled-back table keeps
    its live snapshot). Returns the deleted version numbers."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    jvm_path, fs = _vfs(spark, root)
    vs = list_versions(spark, root)
    live = latest_version(spark, root)
    doomed = [v for v in vs[:-keep_last] if v != live]
    base = root.rstrip("/")
    for v in doomed:
        fs.delete(jvm_path(f"{base}/v={v}"), True)
    return doomed


def merge_version(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    keys: list[str],
    op_col: str | None = None,
    delete_value: str = "delete",
) -> int:
    """MERGE INTO for a versioned table: read the pointed-to snapshot,
    apply ``updates`` (update rows replace their key's current row,
    new keys insert, and - with ``op_col`` - rows whose op equals
    ``delete_value`` remove the key), publish the result as the next
    version, and move the pointer. Returns the new version number.

    This is the composition that makes the plain-parquet versioned
    table behave like a Delta/Iceberg MERGE + time travel pair: the
    previous snapshot stays pinned-readable, ``version_cdc`` between
    the base and the new version yields exactly the applied row
    delta, and ``rollback_version`` undoes the merge without data
    movement. CDC caveat after a rollback: merging from a rolled-back
    pointer publishes past the on-disk MAX (v1 rolled back from v2
    merges to v3), so version_cdc's DEFAULT latest-1 -> latest walk
    would span the undone snapshot (v2 -> v3) - pin
    ``from_version=latest_version(...)`` read BEFORE the merge to get
    the applied delta (Delta/Iceberg RESTORE history behaves the same
    way). Intra-batch duplicates on a key are refused (a MERGE whose
    source matches a target row twice is ambiguous - the ANSI MERGE
    cardinality error, enforced here the loud way).

    Scale note: versioned tables snapshot WHOLE tables, so this is the
    dimension/control-table tier (the docstring contract
    publish_version sets); fact-scale mutation is merge_partitioned's
    partition-scoped job."""
    data_cols = [c for c in updates.columns if c != op_col]
    dup = (
        updates.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"merge_version: updates contain multiple rows for key "
            f"{tuple(dup[0][k] for k in keys)!r} - MERGE cardinality "
            "is ambiguous (collapse the batch to one row per key "
            "first, e.g. io.latest_per_key)"
        )
    current = read_version(spark, root) if list_versions(spark, root) else None
    # the delete path is the DIFFERENCE between these two frames:
    # every updated key leaves the current snapshot via the anti
    # join, and only non-delete rows come back through upserts
    if op_col is not None:
        upserts = updates.filter(
            F.col(op_col).isNull() | (F.col(op_col) != delete_value)
        ).select(*data_cols)
    else:
        upserts = updates.select(*data_cols)
    if current is None:
        merged = upserts
    else:
        # keys are unique past the cardinality guard - no distinct
        kept = current.join(updates.select(*keys), keys, "left_anti")
        merged = kept.unionByName(upserts)
    # driver-side materialization before the publish would be wrong
    # here (snapshots can be larger than control tables); the stage
    # write inside publish_version is itself the barrier - it fully
    # executes the read of the CURRENT version into _stage_v<N+1>
    # before the pointer moves, and the old snapshot's files are
    # never touched.
    return publish_version(merged, root)


def version_cdc(
    spark: SparkSession,
    root: str,
    key_cols: list[str],
    from_version: int | None = None,
    to_version: int | None = None,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-feed between two published versions of a versioned
    table: the row-level delta (added / removed / changed + which
    columns) a downstream consumer replays to catch up from
    ``from_version`` to ``to_version`` - Delta's table_changes /
    Iceberg's changelog scan, re-expressed over the plain-parquet
    snapshots this lake publishes.

    Defaults walk the natural consumer step: ``to_version`` = the
    pointed-to latest, ``from_version`` = the newest still-on-disk
    version BELOW it (so a vacuumed gap widens the diff instead of
    erroring - the delta is computed between SNAPSHOTS, never from a
    log, so any two live versions compare exactly). Identical
    versions are refused: a from==to CDC is a caller bug, not an
    empty delta.

    Output: operators.diff.table_diff rows (key_cols, change,
    changed_cols) stamped with from_version/to_version. Scale: one
    key-partitioned full-outer join of two snapshot scans - the diff
    operator's posture; nothing version-specific adds work."""
    from .operators.diff import table_diff

    to_v = latest_version(spark, root) if to_version is None else int(to_version)
    if to_v is None:
        raise FileNotFoundError(f"no versions published under {root!r}")
    if from_version is None:
        below = [v for v in list_versions(spark, root) if v < to_v]
        if not below:
            raise FileNotFoundError(
                f"no version below v{to_v} under {root!r} to diff from"
            )
        from_v = below[-1]
    else:
        from_v = int(from_version)
    if from_v == to_v:
        raise ValueError(f"from_version == to_version == v{to_v}")
    old = read_version(spark, root, from_v)
    new = read_version(spark, root, to_v)
    return table_diff(old, new, key_cols, compare_cols).select(
        F.lit(from_v).cast("bigint").alias("from_version"),
        F.lit(to_v).cast("bigint").alias("to_version"),
        "*",
    )


def purge_keys(
    spark: SparkSession,
    path: str,
    doomed: DataFrame,
    key_cols: list[str],
    partition_col: str,
    audit_path: str | None = None,
    index_dir: str | None = None,
) -> list[tuple]:
    """Right-to-be-forgotten erasure: delete every row of the
    partitioned lake at ``path`` whose ``key_cols`` match a row of
    ``doomed``, rewriting ONLY the partitions that actually contain a
    doomed key - the GDPR/CCPA deletion primitive a 100 TB lake needs,
    where "filter and rewrite the table" is a non-starter.

    Mechanics: one narrow scan (keys + partition column, columnar)
    joined against the broadcast erasure list finds the touched
    partitions, an anti-join builds their surviving rows, and those
    publish through the partition swap (module docstring) - a
    partition with no survivor is deleted, untouched partitions keep
    their exact files. Erasure lists are subject-sized (thousands),
    so the join side always broadcasts.

    Returns the audit manifest the deletion request is answered with:
    [(partition_value, rows_purged)] per touched partition, computed
    from the pre-publish state and collected BEFORE anything moves
    (driver-side rows, never a cached read of the mutated path).
    Empty list = no key present anywhere; nothing rewritten
    (re-running a purge is a no-op, not a rewrite).

    ``audit_path``: a production GDPR story wants the evidence IN the
    lake, not in a driver return value - when set, one row per
    (doomed key, partition) with its purged-row count is APPENDED to
    a parquet audit table there (key_cols + partition_col +
    rows_purged + source='batch_purge'), the durable half the
    streaming twin (streaming.erasure.start_purge_with_audit) matches
    with per-batch rows_suppressed. Both pre-publish aggregates (the
    per-partition manifest and the per-key audit) read ONE persisted
    pass of the narrow tagged projection (DISK_ONLY, released before
    anything moves); the audit append happens only after a successful
    publish, so a crash in between under-reports (never over-reports)
    and the rerun - a no-op purge - appends nothing.

    ``index_dir``: the table's min/max skipping index, when it has
    one - a purge rewrites (or deletes) partitions, so indexed reads
    would degrade to the stale-fallback full scan until a manual
    refresh; passing it here runs ``refresh_skipping_index`` after
    the mutation publishes (including the no-op path, keeping the
    index current with preceding appends)."""
    vacuum_maintenance(spark, path)
    # a purge that emptied the whole lake leaves a dir with no
    # partition children; the rerun must be the documented no-op,
    # not a schema-inference crash
    if not _partition_dirs(spark, path, partition_col):
        return []
    erasure = doomed.select(*key_cols).distinct()
    # one narrow scan decides everything: the doomed rows per
    # partition (the join cannot inflate - the erasure list is
    # key-distinct)
    tagged = (
        spark.read.parquet(path)
        .select(partition_col, *key_cols)
        .join(F.broadcast(erasure), key_cols)
    )
    if audit_path is not None:
        # the audit aggregate below re-reads the same narrow
        # projection: stage it once (disk - the projection is
        # lake-row-count sized) and release it before any publish
        from pyspark import StorageLevel

        tagged = tagged.persist(StorageLevel.DISK_ONLY)
    per_part = (
        tagged.groupBy(partition_col)
        .agg(F.count(F.lit(1)).alias("_purged"))
        .orderBy(partition_col)
        .collect()
    )
    audit_rows = None
    if audit_path is not None:
        # per-(key, partition) purge counts from the same persisted
        # pre-publish pass, collected driver-side BEFORE anything
        # moves (erasure lists are subject-sized: thousands of rows)
        if per_part:
            audit_rows = (
                tagged.groupBy(*key_cols, partition_col)
                .agg(F.count(F.lit(1)).alias("rows_purged"))
                .collect()
            )
        tagged.unpersist()
    if not per_part:
        if index_dir is not None:
            refresh_skipping_index(spark, path, index_dir)
        return []
    touched = [r[0] for r in per_part]
    # a NULL partition value (read back from the Hive default dir)
    # never matches isin() - it needs the explicit isNull branch or
    # its doomed rows would survive while the audit claims them purged
    non_null = [v for v in touched if v is not None]
    cond = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if None in touched:
        cond = cond | F.col(partition_col).isNull()
    survivors = (
        spark.read.parquet(path)
        .filter(cond)
        .join(F.broadcast(erasure), key_cols, "left_anti")
    )
    _stage_and_publish(spark, path, survivors, partition_col, affected=touched)
    if audit_rows:
        audit_df = spark.createDataFrame(
            [tuple(r) for r in audit_rows],
            tagged.select(*key_cols, partition_col).schema.add(
                "rows_purged", "long", False
            ),
        ).withColumn("source", F.lit("batch_purge"))
        audit_df.coalesce(1).write.mode("append").parquet(audit_path)
    if index_dir is not None:
        refresh_skipping_index(spark, path, index_dir)
    return [(r[0], r["_purged"]) for r in per_part]


def build_join_view(
    left: DataFrame,
    right: DataFrame,
    on: str,
    view_path: str,
    n_buckets: int = 64,
) -> None:
    """Materialize the inner equi-join of two keyed tables as a
    bucket-partitioned parquet view (``_bucket = pmod(xxhash64(key),
    n_buckets)``) - the layout `refresh_join_view` repairs in
    O(delta). One full join, one partitioned write; pick n_buckets so
    a bucket's rows rewrite comfortably (buckets are the view's
    repair granularity, not its read parallelism - readers see an
    ordinary partitioned table and prune nothing on _bucket)."""
    j = left.join(right, on)
    j.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(on)), F.lit(int(n_buckets)))
    ).write.mode("overwrite").partitionBy("_bucket").parquet(view_path)


def refresh_join_view(
    spark: SparkSession,
    view_path: str,
    left: DataFrame,
    right: DataFrame,
    on: str,
    changed_keys: DataFrame,
    n_buckets: int = 64,
) -> list[int]:
    """Incrementally repair a `build_join_view` materialization after
    either input changed: given the join keys whose rows were added /
    updated / removed on EITHER side (e.g. `version_cdc` output, a
    CDC feed, or the upsert batch itself), rewrite ONLY the buckets
    holding those keys - the incremental VIEW maintenance move
    (Delta Live Tables' enzyme, materialized-view delta repair)
    on plain parquet, costing O(changed keys + their bucket rows),
    never O(view).

    Per affected bucket: current rows for UNCHANGED keys pass through
    (anti-join against the broadcast key list), changed keys' rows
    rebuild fresh from the CURRENT inputs (both sides semi-filtered
    to the key list first, so the repair join is delta-sized), and
    the bucket publishes through the partition swap (module
    docstring), which deletes a bucket whose repair comes out EMPTY
    (every key in it changed and now joins to nothing). Returns the
    repaired bucket ids; `n_buckets` must match the build. Correct
    under all change
    classes because changed keys rebuild from scratch: an
    added/updated/removed row on either side lands as the fresh
    join's output for that key, whatever the old view held."""
    vacuum_maintenance(spark, view_path)
    # xxhash64 is TYPE-sensitive: a changed-keys frame carrying the
    # key under a narrower dtype (int vs the view's bigint) would
    # hash to the WRONG buckets - cur would miss the real rows and
    # the publish would replace live buckets with fresh-only dirs.
    # The left input's key dtype is the view's key dtype by
    # construction, so pin the delta to it.
    keys = changed_keys.select(
        F.col(on).cast(left.schema[on].dataType).alias(on)
    ).distinct()
    buckets = sorted(
        r[0]
        for r in keys.select(
            F.pmod(F.xxhash64(F.col(on)), F.lit(int(n_buckets))).alias("b")
        )
        .distinct()
        .collect()
    )
    if not buckets:
        return []
    fresh = (
        left.join(F.broadcast(keys), on, "semi")
        .join(right.join(F.broadcast(keys), on, "semi"), on)
        .withColumn(
            "_bucket", F.pmod(F.xxhash64(F.col(on)), F.lit(int(n_buckets)))
        )
    )
    if _partition_dirs(spark, view_path, "_bucket"):
        cur = spark.read.parquet(view_path).filter(
            F.col("_bucket").isin(buckets)
        )
        keep = cur.join(F.broadcast(keys), on, "left_anti")
        out = keep.unionByName(fresh.select(keep.columns))
    else:
        # a refresh against a fully-emptied (or not-yet-built) view
        # rebuilds the affected keys from scratch - an empty dir has
        # no parquet schema to read; the rename publish below needs
        # the root to exist
        jvm_path, fs = _vfs(spark, view_path)
        fs.mkdirs(jvm_path(view_path.rstrip("/")))
        out = fresh
    _stage_and_publish(spark, view_path, out, "_bucket", affected=buckets)
    return buckets


_INDEXABLE_TYPES = frozenset({
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "string", "date", "boolean",
})


def _check_indexable(types: dict, columns: list[str]) -> None:
    """Reject column types whose cast-to-string stats do not
    round-trip safely: timestamp renderings parse under the READER
    session's timezone (a UTC-built index mispruned under
    Asia/Tokyo - review finding), and binary-to-string is a lossy
    UTF-8 reinterpretation. Index an epoch-derived bigint column
    instead of a raw timestamp. The allowlist matches EXACT type
    names plus an anchored decimal(p,s) pattern - prefix matching
    let 'interval day to second' slip through via 'int' (ADVICE
    r11)."""
    import re

    def _ok(t: str) -> bool:
        return t in _INDEXABLE_TYPES or bool(
            re.fullmatch(r"decimal\(\d+,\d+\)", t)
        )

    bad = [c for c in columns if not _ok(types[c])]
    if bad:
        raise ValueError(
            "skipping index: unsupported column types "
            f"{ {c: types[c] for c in bad} } - stats are stored as "
            "strings and timestamp/binary renderings do not "
            "round-trip safely across sessions; index an "
            "epoch-bigint derivation instead"
        )


def _canon_file_uri(u: str) -> str:
    """Canonical rendering for file-IDENTITY comparison (never for
    reading): decode the percent-escaping ``input_file_name()``
    applies (space -> %20) and normalize the ``file:/`` vs
    ``file:///`` slash-count divergence between Hadoop
    ``Path.toString()`` and Spark, so the same physical file compares
    equal regardless of which side rendered it. Without the unquote,
    a special-character partition value made refresh misclassify
    live files as removed and silently drop their index rows
    (ADVICE r11)."""
    from urllib.parse import unquote

    if u.startswith("file:/") and not u.startswith("file:///"):
        u = "file:///" + u[len("file:/") :].lstrip("/")
    return unquote(u)


class AmbiguousFileIdentityError(ValueError):
    """Two distinct on-disk files collapse to one canonical URI (a
    literal ``a%20b`` next to ``a b``) - the skipping index cannot
    tell them apart. Build/refresh paths fail loud on this (an index
    row would be silently shadowed); READ paths catch it and degrade
    to the full scan - correct, merely unpruned (ADVICE r12: a read
    must never be worse than not having the index)."""


def _list_live_files(spark: SparkSession, table_dir: str) -> dict:
    """The table's committed data files, {canonical URI -> raw path
    string}, from one ``_list_data_files`` listing (so a file under
    ``_temporary/`` or ``.hive-staging`` is not live, and one under a
    ``_bucket=`` partition is, exactly as ``spark.read.parquet``
    decides). One listing stream replaces the per-file exists() RPCs
    the read-path staleness guard used to issue (O(N) namenode round
    trips at million-file scale)."""
    live = {}
    for f, _ in _list_data_files(spark, table_dir).values():
        canon = _canon_file_uri(f)
        if canon in live and live[canon] != f:
            # two distinct on-disk files collapsing to one canonical
            # key (a literal 'a%20b' next to 'a b') would silently
            # shadow one file's index row and make pruned reads MISS
            # its rows - fail loud instead (review finding); a table
            # with percent-ambiguous filenames is outside the index's
            # identity contract. Read paths catch this subclass and
            # degrade to the full scan.
            raise AmbiguousFileIdentityError(
                "skipping index: percent-ambiguous file names "
                f"collide after URI canonicalization: {live[canon]!r} "
                f"vs {f!r} - rename one; the index cannot tell them "
                "apart"
            )
        live[canon] = f
    return live


def _file_stats(df: DataFrame, types: dict) -> DataFrame:
    """One skipping-index row per file of ``df``: for each column of
    ``types`` (name -> Spark type name), its min, max and has-null
    flag after a cast to that type, and the type name itself. Stats
    are strings; one literal type column PER indexed column, because
    type names like decimal(10,2) contain commas, so a joined-CSV
    encoding shears."""
    aggs = []
    for c, t in types.items():
        typed = F.col(c).cast(t)
        aggs += [
            F.min(typed).cast("string").alias(f"_min_{c}"),
            F.max(typed).cast("string").alias(f"_max_{c}"),
            F.max(typed.isNull().cast("int")).alias(f"_hasnull_{c}"),
        ]
    return df.groupBy(F.input_file_name().alias("_file")).agg(*aggs).select(
        "*", *[F.lit(t).alias(f"_type_{c}") for c, t in types.items()]
    )


def build_skipping_index(
    spark: SparkSession, table_dir: str, index_dir: str, columns: list[str]
) -> int:
    """Build a per-FILE min/max statistics index over a plain-parquet
    table - the data-skipping half of a Delta/Iceberg manifest on the
    lake this engine already has: one index row per data file with
    (min, max, null-present) per indexed column, published crash-safe
    via the small-table swap. Returns the number of files indexed.

    Why this exists next to partition pruning and Z-order
    (operators.layout.write_zordered): partitioning prunes only on
    the partition key, and parquet row-group stats prune only AFTER a
    task has been scheduled per file - at 100 TB the scheduler
    itself is the cost (a million-file table means a million task
    launches for a point lookup). A driver-side file index turns a
    selective scan into reading ONLY the matching files; its size is
    one row per file, which is what makes it driver-safe (file count,
    never row count). Clustering (Z-order or a sort on write) is what
    makes the min/max ranges TIGHT - the index composes with
    write_zordered exactly like Delta's OPTIMIZE ZORDER + stats.

    The index stores every stat as a STRING rendering of the value
    alongside its Spark type name, so one schema serves all column
    types; read_with_skipping casts back before comparing."""
    df = spark.read.parquet(table_dir)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    missing = [c for c in columns if c not in types]
    if missing:
        raise ValueError(f"skipping index: unknown columns {missing}")
    _check_indexable(types, columns)
    publish_small_table(_file_stats(df, {c: types[c] for c in columns}), index_dir)
    return spark.read.parquet(index_dir).count()


def read_with_predicates(
    spark: SparkSession,
    table_dir: str,
    index_dir: str,
    ranges: dict | None = None,
    null_cols: list[str] | None = None,
) -> DataFrame:
    """CONJUNCTIVE pruned read through the min/max file index: open
    only files that can satisfy every predicate at once, then apply
    the exact conjunction. ``ranges`` maps column -> (lo, hi) BETWEEN
    bounds; ``null_cols`` lists columns constrained IS NULL - the
    shape of a real lake scan (day range AND type AND orphan-flag IS
    NULL), where a single-predicate read (the r11 surface) had to
    pick ONE column and scan every file the others could have pruned.

    Per-column evidence, intersected in ONE index pass: a file
    survives a range predicate iff [min, max] intersects [lo, hi]
    (min/max ignore NULLs, and a NULL row never satisfies BETWEEN -
    SQL 3VL - so NULL-only files prune); it survives an IS NULL
    predicate iff its has-null stat is set. The result equals the
    full scan's conjunctive filter row for row, including on
    PARTITIONED tables (leaf files read under ``basePath`` so
    partition columns survive).

    The file list is collected DRIVER-SIDE: bounded by file count
    (the index's cardinality), the same bound Delta/Iceberg manifests
    accept. Staleness guard: ONE recursive listing (not one exists()
    RPC per file - ADVICE r11) is diffed against the matched set; a
    file deleted since the build (compaction, purge) means its rows
    were rewritten into files the index does not know, so ANY missing
    file degrades the read to the full scan - correct, merely
    unpruned - never a crash or a silent miss. The listing-to-read
    race window remains (a concurrent compaction can still win it);
    the maintenance entry points accept ``index_dir`` and refresh the
    index themselves, which is the supported posture."""
    ranges = dict(ranges or {})
    null_cols = list(null_cols or [])
    if not ranges and not null_cols:
        raise ValueError("read_with_predicates: no predicates given")
    idx = spark.read.parquet(index_dir)
    for c in list(ranges) + null_cols:
        if f"_min_{c}" not in idx.columns:
            raise ValueError(
                f"skipping index at {index_dir} does not cover {c!r}"
            )
    pred = None
    for c, (lo, hi) in ranges.items():
        p = F.col(c).between(F.lit(lo), F.lit(hi))
        pred = p if pred is None else pred & p
    for c in null_cols:
        p = F.col(c).isNull()
        pred = p if pred is None else pred & p

    first = idx.select(
        *[f"_type_{c}" for c in ranges] or ["_file"]
    ).first()
    if first is None:  # index over an empty table: nothing can match
        return spark.read.parquet(table_dir).filter(pred).limit(0)
    keep = idx
    for c, (lo, hi) in ranges.items():
        typ = first[f"_type_{c}"]
        mn = F.col(f"_min_{c}").cast(typ)
        mx = F.col(f"_max_{c}").cast(typ)
        keep = keep.filter(
            (mx >= F.lit(lo).cast(typ)) & (mn <= F.lit(hi).cast(typ))
        )
    for c in null_cols:
        keep = keep.filter(F.col(f"_hasnull_{c}") == 1)
    files = [r["_file"] for r in keep.select("_file").collect()]
    if not files:
        return spark.read.parquet(table_dir).filter(pred).limit(0)
    try:
        live = _list_live_files(spark, table_dir)
    except AmbiguousFileIdentityError:
        # identity ambiguity makes PRUNING unsafe, not READING: the
        # full scan with the exact predicate is always correct -
        # degrade instead of hard-failing a read that worked before
        # the ambiguous pair appeared (ADVICE r12). Build/refresh
        # keep the hard failure - there an index row would be
        # silently shadowed.
        return spark.read.parquet(table_dir).filter(pred)
    try:
        # read by the LISTING's own rendering, not the stored
        # input_file_name() string: the index stores percent-escaped
        # URIs (space -> %20) that DataFrameReader.parquet would
        # fail to resolve against the literal on-disk path - the
        # canonical-URI map translates identity back to a readable
        # path (latent crash exposed by the ADVICE-r11 escaping test)
        paths = [live[_canon_file_uri(f)] for f in files]
    except KeyError:
        return spark.read.parquet(table_dir).filter(pred)
    return (
        spark.read.option("basePath", table_dir)
        .parquet(*paths)
        .filter(pred)
    )


def read_with_skipping(
    spark: SparkSession,
    table_dir: str,
    index_dir: str,
    column: str,
    lo,
    hi,
) -> DataFrame:
    """Single-range convenience wrapper over ``read_with_predicates``
    (see it for the pruning evidence, driver-side bound, and the
    stale-index degrade-to-full-scan contract)."""
    return read_with_predicates(
        spark, table_dir, index_dir, ranges={column: (lo, hi)}
    )


def read_null_files(
    spark: SparkSession, table_dir: str, index_dir: str, column: str
) -> DataFrame:
    """IS NULL scan through the file index: read only files whose
    ``_hasnull_{column}`` stat is set - the consumer of the has-null
    stat (BETWEEN reads ignore it: a NULL never satisfies a range, so
    min/max alone decide those). Wrapper over
    ``read_with_predicates``; same staleness contract."""
    return read_with_predicates(
        spark, table_dir, index_dir, null_cols=[column]
    )


def refresh_skipping_index(
    spark: SparkSession, table_dir: str, index_dir: str
) -> dict:
    """Incrementally maintain a min/max file index after appends: scan
    ONLY files present in the table but absent from the index (the
    staleness the build-time docstring documents), compute their
    stats, and republish index = old rows for still-live files + new
    rows. Files deleted from the table (compaction, purge) drop out
    of the index in the same pass. Returns {"added": n, "removed": n,
    "total": n}.

    This is the incremental_rollup discipline applied to the index:
    the live file set comes from a FILESYSTEM listing (metadata cost,
    zero scan tasks - a Spark scan just to enumerate names would pay
    the very per-file scheduling the index exists to avoid), only the
    missing files are scanned, and the stored per-column TYPES are
    authoritative: new files' stats are computed after casting to the
    index's types, so an appended file with a narrower column type
    cannot stamp rows whose min/max strings disagree with the rest of
    the index (the read path takes one row's type for all rows)."""
    idx = spark.read.parquet(index_dir)
    idx_cols = [c[5:] for c in idx.columns if c.startswith("_min_")]
    if not idx_cols:
        raise ValueError(f"no skipping index at {index_dir}")
    first = idx.select(*[f"_type_{c}" for c in idx_cols]).first()
    if first is None:  # index over a then-empty table: full rebuild
        n = build_skipping_index(spark, table_dir, index_dir, idx_cols)
        return {"added": n, "removed": 0, "total": n}
    stored_types = {c: first[f"_type_{c}"] for c in idx_cols}

    # live set from ONE hidden-path-filtered recursive listing,
    # compared in canonical-URI space: the index stores
    # input_file_name() renderings (percent-escaped), the listing
    # yields Hadoop Path renderings - comparing raw strings dropped
    # index rows for special-character partition values and indexed
    # files under _temporary/ as committed data (ADVICE r11)
    live = _list_live_files(spark, table_dir)
    known = {
        _canon_file_uri(r["_file"]): r["_file"]
        for r in idx.select("_file").collect()
    }
    kept = sorted(known[c] for c in known.keys() & live.keys())
    live_df = spark.createDataFrame(
        [(f,) for f in kept] or [("",)], "_file string"
    )
    old_rows = idx.join(live_df, "_file")
    new_files = sorted(live[c] for c in live.keys() - known.keys())
    removed = len(known.keys() - live.keys())
    if new_files:
        df = spark.read.option("basePath", table_dir).parquet(*new_files)
        lacking = [c for c in idx_cols if c not in df.columns]
        if lacking:
            raise ValueError(
                f"appended files lack indexed column {lacking[0]!r}"
            )
        merged = old_rows.unionByName(_file_stats(df, stored_types))
    else:
        merged = old_rows
    publish_small_table(merged, index_dir)
    total = spark.read.parquet(index_dir).count()
    return {"added": len(new_files), "removed": removed, "total": total}
