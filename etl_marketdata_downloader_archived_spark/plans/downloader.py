"""Download pipeline: tasks -> expanded file set -> dedup -> fetch ->
partitioned lake + manifest + quarantine (reference entry point 2).

Re-expresses ``data_downloader.handler`` (reference:
data-downloader/data_downloader.py:204-228 and the per-type handlers
:62-202) as a DataFrame pipeline:

    from_json(task) -> 5-way TYPE route -> per-branch expansion
      LINKS / LINKS_OVERWRITE : fetch page -> extract hrefs -> explode
                                -> urljoin -> last segment -> nonempty
                                (:83-107)
      DIRECT / DIRECT_FTP     : single file, name = PATTERN (:115-139,
                                :178-202; the reference's
                                download-the-ID bug at :132 is NOT
                                replicated - we fetch URL)
      FTP_FILES               : fetch listing -> split CRLF -> last
                                token -> glob match (:152-155)
    -> anti-join vs manifest (the four "check repeat file" TODOs at
       :106,131,169,194, actually implemented)
    -> fetch stage (mapInPandas; Arrow-batched, connection per
       partition) -> content + sha256
    -> lake write partitioned by route + manifest append; failures ->
       quarantine rows (replaces SNS at :52-56) + catalog flag=2

One micro-batch (``run_downloader``) is planned and executed once:

1. Snapshot the inputs: the quarantine log's attempts per unit (a
   lineage-free local checkpoint) and the manifest's key set (a path
   read, listed when it is created).
2. Fetch once: every network call lives in exactly two mapInPandas
   stages, the body fetch (pages and listings, one stage for all three
   TYPEs) and the file fetch, and each stage has exactly one consumer.
   A failed fetch or an unknown task is a row with ``error`` set that
   rides through the rest of the plan, so splitting ok from failed
   rows never reads a stage twice and nothing needs a ``persist``.
3. Materialise the outcome once: lake, quarantine and dead-letter rows
   in one ``localCheckpoint(DISK_ONLY)`` frame. The lake, manifest and
   quarantine writes and the returned views are projections of it.

Why the outcome is checkpointed rather than cached: a path read lists
its files when it is created, but every ``write.parquet(append)``
re-lists each cached plan that reads the output path
(``CacheManager.recacheByPath``). A cached fetch over the manifest
scan would be dropped by the manifest append, so the next consumer
would fetch again and dedup the batch against its own manifest rows.

Fetch stages key their outputs by (route, file_name) so at-least-once
re-runs are idempotent after the manifest anti-join - the Structured
Streaming twin of this plan reuses the same stages per micro-batch.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark import StorageLevel
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.globs import glob_to_regex
from ..functions.urls import last_segment, last_ws_token, url_join
from ..io import latest_per_key, recover_small_table
from ..schemas import MANIFEST, TASK
from ..sources.transport import TransportError, fetch_bytes, fetch_listing, fetch_text

# lake route prefixes, one per reference sink
# (data-downloader/data_downloader.py:104,107,132,170,195)
ROUTE_LINK = "LINK"
ROUTE_LINKS_OVER = "LINKS_OVER"
ROUTE_LINKS_DIRECT = "LINKS_DIRECT"
ROUTE_FTP_FILE = "FTP_FILE"
ROUTE_FTP_FILES = "FTP_FILES"


def decode_tasks(messages: DataFrame, body_col: str = "task_json") -> DataFrame:
    """JSON task decode (reference: data-downloader/data_downloader.py:216).

    Carries the raw body through as ``_task_body`` so a message that
    fails to parse (from_json -> all-NULL struct) can be quarantined
    with the offending payload named, instead of a NULL reason - the
    reference would throw inside the lambda and redrive the message
    blind; here the malformed message is evidence, not an exception."""
    parsed = F.from_json(F.col(body_col), TASK)
    return messages.select(
        parsed.alias("t"), F.col(body_col).alias("_task_body")
    ).select("t.*", "_task_body")


def route_tasks(tasks: DataFrame) -> DataFrame:
    """5-way TYPE dispatch + unknown-type error branch
    (reference: data-downloader/data_downloader.py:217-228)."""
    return tasks.withColumn(
        "handler",
        F.when(F.col("TYPE") == "LINKS", "link_files")
        .when(F.col("TYPE") == "LINKS_OVERWRITE", "link_files_overwrite")
        .when(F.col("TYPE") == "DIRECT", "dlinks_files")
        .when(F.col("TYPE") == "DIRECT_FTP", "dftp_files")
        .when(F.col("TYPE") == "FTP_FILES", "ftp_files")
        .otherwise("error_unknown_type"),
    )


# Anchor-href extraction at BeautifulSoup fidelity for well-formed-ish
# markup (reference soups the page, data_downloader.py:84-91): any
# attribute casing, whitespace around '=', double-quoted, single-quoted
# OR unquoted values (real pages carry href=x without quotes; round-1's
# quoted-only regex missed those). The attribute name must start at a
# token boundary - `(?:[^>]*?\s)?` requires either nothing or a chunk
# ENDING in whitespace before `href`, so `data-href=...` can never
# satisfy the match (the real href later in the tag still can). The
# quote strip happens in a second projection.
_HREF_SQL_RE = r"""(?i)<a\s(?:[^>]*?\s)?href\s*=\s*("[^"]*"|'[^']*'|[^\s>]+)"""


def _strip_quotes(col: Column) -> Column:
    return F.regexp_replace(F.regexp_replace(col, "^[\"']", ""), "[\"']$", "")


def _hrefs_stdlib(body: str) -> list[str]:
    """stdlib half of ``_hrefs_lenient``: ``html.parser.HTMLParser``,
    the exact tokenizer bs4's "html.parser" backend wraps, plus bs4's
    attribute-dict layer on top so the two branches of
    ``_hrefs_lenient`` agree byte-for-byte: a MINIMIZED attribute
    (bare ``href``, tokenizer value None) becomes ``''`` (bs4 does
    ``value or ''`` - and ``find_all(href=True)`` matches ``''``
    because its truthy-match tests ``is not None``), and a DUPLICATED
    attribute keeps the LAST value (bs4's default
    on_duplicate_attribute=REPLACE dict build). Split out so the
    bs4-agreement boundary is property-testable directly
    (tests/test_pipeline.py replays the committed expectation corpus
    here and drives live bs4 wherever it is importable)."""
    from html.parser import HTMLParser

    out: list[str] = []

    class _Anchors(HTMLParser):
        def handle_starttag(self, tag, attrs):  # noqa: ANN001
            if tag == "a":
                d: dict = {}
                for k, v in attrs:
                    d[k] = v or ""
                if "href" in d:
                    out.append(d["href"])

    p = _Anchors(convert_charrefs=True)
    p.feed(body)
    p.close()
    return out


def _hrefs_lenient(body: str) -> list[str]:
    """Anchor hrefs at real-HTML-parser fidelity - the reference soups
    the page (data-downloader/data_downloader.py:83-91), which IGNORES
    anchors inside comments/CDATA and recovers from unbalanced quotes;
    the JVM regex extracts from both. Prefers BeautifulSoup when the
    runtime has it; otherwise the stdlib tokenizer path
    (``_hrefs_stdlib``), so the two paths agree on comment/CDATA/
    quote handling."""
    try:
        from bs4 import BeautifulSoup  # optional dep - import-gated

        return [
            a["href"]
            for a in BeautifulSoup(body, "html.parser").find_all("a", href=True)
        ]
    except ImportError:
        return _hrefs_stdlib(body)


@F.pandas_udf(T.ArrayType(T.StringType()))
def _lenient_hrefs(bodies: pd.Series) -> pd.Series:
    """Pandas-UDF href extraction: one lenient HTML parse per page,
    Arrow-batched. Python-side and ~10x the regex cost per byte -
    reserve it for real-world pages where commented-out nav links and
    broken markup occur; the JVM regex stays the fast path for
    trusted/generated markup."""
    return bodies.map(lambda b: [] if b is None else _hrefs_lenient(b))


def _extract_links_lenient(ok: DataFrame) -> DataFrame:
    """The lenient branch's href explode on its own: one row per href
    of each fetched page, in page order."""
    return ok.select(
        "ID",
        "TYPE",
        F.col("URL").alias("page_url"),
        F.explode(_lenient_hrefs("body")).alias("href"),
    )


def _check_parser(html_parser: str) -> None:
    if html_parser not in ("regex", "lenient"):
        raise ValueError(f"unknown html_parser {html_parser!r}")


_LINK_TYPES = ("LINKS", "LINKS_OVERWRITE")
_BODY_COLS = ["ID", "URL", "TYPE", "PATTERN", "body", "error", "_re"]
_BODY_SCHEMA = (
    "ID string, URL string, TYPE string, PATTERN string, body string, "
    "error string, _re string"
)


def _fetch_bodies(tasks: DataFrame, allow_network: bool) -> DataFrame:
    """The page/listing fetch: one Python I/O stage, Arrow-batched, for
    the LINKS, LINKS_OVERWRITE and FTP_FILES tasks of ``tasks``. A
    listing row also carries its glob as an anchored regex (``_re``;
    the glob varies per task row, so the match downstream is
    ``regexp_like`` against a per-row regex column). Errors become rows
    (never exceptions)."""

    def fetch_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                listing = r.TYPE == "FTP_FILES"
                try:
                    fetch = fetch_listing if listing else fetch_text
                    body, err = fetch(r.URL, allow_network), None
                except TransportError as exc:
                    body, err = None, str(exc)
                regex = glob_to_regex(r.PATTERN) if listing and r.PATTERN is not None else None
                out.append((r.ID, r.URL, r.TYPE, r.PATTERN, body, err, regex))
            yield pd.DataFrame(out, columns=_BODY_COLS)

    return (
        tasks.filter(F.col("TYPE").isin(*_LINK_TYPES, "FTP_FILES"))
        .select("ID", "URL", "TYPE", "PATTERN")
        .mapInPandas(fetch_part, schema=_BODY_SCHEMA)
    )


def _expand_bodies(bodies: DataFrame, html_parser: str) -> DataFrame:
    """The one consumer of the body stage: one row per candidate file of
    each fetched page or listing (``ID, route, file_url, file_name``,
    ``error`` NULL) and one row per failed fetch (``file_url`` the task
    URL, ``route`` and ``file_name`` NULL, ``error`` set).

    Pages: hrefs -> urljoin -> last segment -> nonempty (reference:
    data-downloader/data_downloader.py:83-107). Listings: split CRLF ->
    last token -> glob match (:152-170)."""
    is_listing = F.col("TYPE") == "FTP_FILES"
    failed = F.col("error").isNotNull()
    if html_parser == "lenient":
        hrefs = _lenient_hrefs(F.when(~is_listing, F.col("body")))
    else:
        # href extraction stays JVM-side: regexp_extract_all + explode
        # (for well-formed anchor lists a regex is equivalent to the
        # reference's soup, and codegen-friendly)
        hrefs = F.regexp_extract_all("body", F.lit(_HREF_SQL_RE), 1)
    lines = F.split("body", "\r\n")
    items = (
        # a failed fetch keeps exactly one row, with a NULL item
        F.when(failed, F.array(F.lit(None).cast("string")))
        # split('\r\n')[0:-1] - the reference drops the trailing empty
        .when(is_listing, F.slice(lines, F.lit(1), F.greatest(F.size(lines) - 1, F.lit(0))))
        .otherwise(hrefs)
    )
    rows = bodies.select(
        "ID", "URL", "TYPE", "error", "_re", F.explode(items).alias("item")
    )
    href = F.col("item") if html_parser == "lenient" else _strip_quotes(F.col("item"))
    link_url = url_join(F.col("URL"), href)
    listed = last_ws_token("item")
    named = rows.select(
        "ID",
        "TYPE",
        "error",
        "_re",
        F.when(failed, F.col("URL"))
        .when(is_listing, F.concat("URL", listed))
        .otherwise(link_url)
        .alias("file_url"),
        F.when(failed, F.lit(None))
        .when(is_listing, listed)
        .otherwise(last_segment(link_url))
        .alias("file_name"),
    )
    keep = (
        failed
        | (is_listing & F.expr("regexp_like(file_name, _re)"))
        | (~is_listing & (F.length("file_name") > 0))
    )
    return named.filter(keep).select(
        "ID",
        F.when(failed, F.lit(None))
        .when(is_listing, ROUTE_FTP_FILES)
        .when(F.col("TYPE") == "LINKS_OVERWRITE", ROUTE_LINKS_OVER)
        .otherwise(ROUTE_LINK)
        .alias("route"),
        "file_url",
        "file_name",
        "error",
    )


def _expand_apart(
    tasks: DataFrame,
    allow_network: bool,
    cache_registry: list | None,
    html_parser: str,
) -> tuple[DataFrame, DataFrame]:
    """(candidate files, failed fetches) of the body stage for callers
    that consume the two apart. The fetched bodies are persisted so the
    two views fetch once, and appended to ``cache_registry`` so the
    caller can release them."""
    bodies = _fetch_bodies(tasks, allow_network).persist(StorageLevel.DISK_ONLY)
    if cache_registry is not None:
        cache_registry.append(bodies)
    files = _expand_bodies(bodies, html_parser).filter(F.col("error").isNull())
    return (
        files.select("ID", "route", "file_url", "file_name"),
        bodies.filter(F.col("error").isNotNull()).drop("_re"),
    )


def expand_link_tasks(
    tasks: DataFrame,
    allow_network: bool = False,
    cache_registry: list | None = None,
    html_parser: str = "regex",
) -> tuple[DataFrame, DataFrame]:
    """LINKS / LINKS_OVERWRITE branch: page -> hrefs -> one row per
    candidate file (reference: data-downloader/data_downloader.py:83-107).
    Returns (candidate files, failed page fetches); the persisted fetch
    stage is appended to ``cache_registry``.

    ``html_parser``: "regex" (default) extracts hrefs JVM-side - fast,
    codegen-friendly, but reads through comments/CDATA and can smear
    across unbalanced quotes; "lenient" runs a real HTML parser
    (bs4 when importable, else the stdlib tokenizer bs4 wraps) as an
    Arrow-batched pandas stage - reference-fidelity on malformed
    real-world pages (data-downloader/data_downloader.py:83-91)."""
    _check_parser(html_parser)
    return _expand_apart(
        tasks.filter(F.col("TYPE").isin(*_LINK_TYPES)), allow_network, cache_registry, html_parser
    )


def expand_listing_tasks(
    tasks: DataFrame,
    allow_network: bool = False,
    cache_registry: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """FTP_FILES branch: listing -> file names -> glob match
    (reference: data-downloader/data_downloader.py:152-170).
    Returns (candidate files, failed listing fetches); the persisted
    fetch stage is appended to ``cache_registry``."""
    return _expand_apart(
        tasks.filter(F.col("TYPE") == "FTP_FILES"), allow_network, cache_registry, "regex"
    )


def expand_direct_tasks(tasks: DataFrame) -> DataFrame:
    """DIRECT / DIRECT_FTP branch: one file per task, output name =
    PATTERN (reference: data-downloader/data_downloader.py:115-139,
    :178-202). No fetch here - pure projection."""
    d = tasks.filter(F.col("TYPE").isin("DIRECT", "DIRECT_FTP"))
    return d.select(
        "ID",
        F.when(F.col("TYPE") == "DIRECT", ROUTE_LINKS_DIRECT)
        .otherwise(ROUTE_FTP_FILE)
        .alias("route"),
        F.col("URL").alias("file_url"),
        F.col("PATTERN").alias("file_name"),
    )


# manifest as persisted by run_downloader: MANIFEST + the lake route
_MANIFEST_ON_DISK = T.StructType(
    list(MANIFEST.fields) + [T.StructField("route", T.StringType())]
)

_FETCH_COLS = ["ID", "route", "file_url", "file_name", "content", "size_bytes", "error"]
_FETCH_SCHEMA = (
    "ID string, route string, file_url string, file_name string, "
    "content binary, size_bytes long, error string"
)


def fetch_files(candidates: DataFrame, allow_network: bool = False) -> DataFrame:
    """The download_upload stage (reference:
    data-downloader/data_downloader.py:62-70) as mapInPandas: bytes in
    a BinaryType column instead of a blind S3 put, so hashing/metadata
    are one projection away. ``candidates`` carries an ``error``
    column: a row that arrives with it set (a failed page fetch, an
    unknown task) passes through unfetched, so every failure of a batch
    leaves this one stage as a row."""

    def fetch_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                content, err = None, r.error
                if err is None:
                    try:
                        content = fetch_bytes(r.file_url, allow_network)
                    except TransportError as exc:
                        err = str(exc)
                size = len(content) if content is not None else None
                rows.append((r.ID, r.route, r.file_url, r.file_name, content, size, err))
            yield pd.DataFrame(rows, columns=_FETCH_COLS)

    return candidates.select("ID", "route", "file_url", "file_name", "error").mapInPandas(
        fetch_part, schema=_FETCH_SCHEMA
    )


def _read_log(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame | None:
    """An append log as of now, or None before its first write. The
    path read lists the files when it is created and raises on a
    missing path, both without running a job; the listing is not
    refreshed later unless a cached plan reads the path (every append
    re-lists the cached plans that read its output path), so the caller
    must not cache a plan over this frame while it appends to the log."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException:
        return None


def read_manifest_current(spark: SparkSession, manifest_dir: str) -> DataFrame | None:
    """The manifest as a current-state table (latest row per
    route/file_name), or None before the first write."""
    log = _read_log(spark, manifest_dir, _MANIFEST_ON_DISK)
    return None if log is None else latest_per_key(log, ["route", "file_name"])


def read_lake_current(spark: SparkSession, lake_dir: str) -> DataFrame:
    """The lake as a current-state table: latest payload per
    (route, file_name) - re-fetches on the overwrite route logically
    REPLACE rather than duplicate (reference: each S3 put overwrites
    the object, data-downloader/data_downloader.py:102-104)."""
    return latest_per_key(spark.read.parquet(lake_dir), ["route", "file_name"])


_QUARANTINE_SCHEMA = T.StructType(
    [
        T.StructField("ID", T.StringType()),
        T.StructField("URL", T.StringType()),
        T.StructField("REASON", T.StringType()),
        T.StructField("attempts", T.IntegerType()),
        T.StructField("failed_at", T.TimestampType()),
    ]
)

# the returned views, as projections of the batch outcome
_LAKE_COLS = [
    "route", "file_name", "content", "content_hash", "size_bytes",
    "ID AS source_id", "URL AS url", "ts AS fetched_at",
]
_MANIFEST_COLS = [
    "file_name", "route AS source_type", "ID AS source_id", "URL AS url",
    "content_hash", "ts AS fetched_at", "size_bytes", "route",
]
_QUARANTINE_COLS = ["ID", "URL", "REASON", "attempts", "ts AS failed_at"]


def _free_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint`` frame, which
    ``unpersist()`` and ``clearCache()`` leave in place: they belong to
    the checkpointed RDD the frame's plan reads."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def run_downloader(
    spark: SparkSession,
    messages: DataFrame,
    lake_dir: str,
    manifest_dir: str | None = None,
    quarantine_dir: str | None = None,
    catalog_path: str | None = None,
    allow_network: bool = False,
    body_col: str = "task_json",
    max_attempts: int = 5,
    html_parser: str = "regex",
) -> dict[str, DataFrame]:
    """One micro-batch of the download pipeline, end to end - INCLUDING
    the reference's composed error path (handle_error,
    data-downloader/data_downloader.py:26-58): failures land in
    quarantine with an attempt count ACCUMULATED across runs, units
    that exhausted ``max_attempts`` (lambda.cfn.yaml:34-36:
    maxReceiveCount 5) are dead-lettered instead of retried, and when
    ``catalog_path`` is given the failing sources are flagged active=2
    in the catalog - no caller composition required.

    Returns {'landed', 'manifest', 'quarantine', 'dead_letter',
    'catalog', 'release'}; lake, manifest and quarantine are also
    written out (parquet, lake partitioned by route). The four views
    are projections of the batch outcome, which is materialised once
    before any write, so they show this batch's rows whenever they are
    read; ``release()`` frees the outcome and the other blocks the
    batch pinned, after which the views are unreadable. The caller owns
    scheduling; the streaming twin wraps this in foreachBatch with
    checkpointing as the ack (SURVEY.md section 3.2).
    """
    _check_parser(html_parser)
    # one wall-clock per batch: lake rows and manifest rows of the same
    # batch must carry the SAME timestamp, and latest_per_key orders by
    # it. Shipped as explicit epoch micros: F.lit(datetime) converts
    # through the Python PROCESS timezone, and a wall-clock STRING would
    # parse under the session timezone (host-dependent on a vanilla
    # session, and non-monotonic across a DST fold, which would make
    # latest_per_key prefer stale rows). An instant has neither problem.
    batch_ts = F.timestamp_micros(
        F.lit(int(datetime.now(timezone.utc).timestamp() * 1_000_000))
    )

    tasks = route_tasks(decode_tasks(messages, body_col))
    # retry-identity for keyless failures: a malformed-JSON (or
    # field-less) message decodes to NULL ID/URL, and every join in
    # the retry machinery - the attempts lookup, the DLQ gate - is
    # NULL-unsafe equality, so such a message would be re-quarantined
    # at attempts=1 FOREVER instead of dead-lettering after
    # max_attempts. A deterministic body-hash sentinel gives the
    # redelivered message a stable key the maxReceiveCount semantics
    # can count.
    _body_key = F.concat(
        F.lit("malformed:"),
        F.substring(
            F.sha2(F.coalesce(F.col("_task_body"), F.lit("")), 256), 1, 16
        ),
    )
    tasks = tasks.withColumn(
        "ID", F.coalesce(F.col("ID"), _body_key)
    ).withColumn("URL", F.coalesce(F.col("URL"), _body_key))

    # the inputs, read once: the attempts so far per failing unit (task
    # URL or file URL) from the quarantine log - the cross-run retry
    # memory - and the manifest's key set. The attempts are snapshot
    # lineage-free because four places of the plan join them.
    pinned: list[DataFrame] = []
    prior = _read_log(spark, quarantine_dir, _QUARANTINE_SCHEMA) if quarantine_dir else None
    attempts_prev = exhausted = None
    if prior is not None:
        attempts_prev = prior.groupBy("ID", "URL").agg(
            F.max("attempts").alias("prev_attempts")
        ).localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
        pinned.append(attempts_prev)
        # DLQ gate: a unit that failed max_attempts times stops being
        # retried (the SQS maxReceiveCount -> DLQ bound). Tasks are
        # gated on their task URL here; failing FILES are gated per
        # file_url at the candidate stage below.
        exhausted = attempts_prev.filter(F.col("prev_attempts") >= max_attempts).select("ID", "URL")
        tasks = tasks.join(exhausted, ["ID", "URL"], "left_anti")
    landed_keys = None
    if manifest_dir is not None:
        log = _read_log(spark, manifest_dir, _MANIFEST_ON_DISK)
        if log is not None:
            # LINKS_OVERWRITE always re-lands (reference: the overwrite
            # sink rewrites, data-downloader/data_downloader.py:102-104)
            landed_keys = log.select("route", "file_name").filter(
                F.col("route") != ROUTE_LINKS_OVER
            )

    # every unit of work as one row: candidate files of the fetched
    # pages and listings, direct files, and the failures so far (failed
    # page/listing fetches, unknown TYPEs) with ``error`` set
    unknown = tasks.filter(F.col("handler") == "error_unknown_type").select(
        "ID",
        F.col("URL").alias("file_url"),
        # a parse failure leaves TYPE (and every field) NULL; name the
        # malformed payload instead of emitting a NULL reason
        F.when(
            F.col("TYPE").isNotNull(),
            F.concat(F.lit("unknown TYPE: "), F.col("TYPE")),
        ).otherwise(
            F.concat(
                F.lit("malformed or TYPE-less task JSON: "),
                F.substring(F.coalesce(F.col("_task_body"), F.lit("<null body>")), 1, 120),
            )
        ).alias("error"),
    )
    units = (
        _expand_bodies(_fetch_bodies(tasks, allow_network), html_parser)
        .unionByName(expand_direct_tasks(tasks), allowMissingColumns=True)
        .unionByName(unknown, allowMissingColumns=True)
    )
    if exhausted is not None:
        units = units.join(
            exhausted.withColumnRenamed("URL", "file_url"), ["ID", "file_url"], "left_anti"
        )
    # within the batch each file lands once and each failure is
    # reported once; across batches the manifest anti-join drops files
    # already landed (the four "check repeat file" TODOs of the
    # reference, :106,131,169,194, implemented)
    fresh = units.withColumn(
        "_failure", F.when(F.col("error").isNotNull(), F.struct("ID", "file_url"))
    ).dropDuplicates(["route", "file_name", "_failure"]).drop("_failure")
    if landed_keys is not None:
        fresh = fresh.join(landed_keys, ["route", "file_name"], "left_anti")

    fetched = fetch_files(fresh, allow_network)
    rows = fetched.select(
        F.when(F.col("error").isNull(), "landed").otherwise("quarantine").alias("kind"),
        "route",
        "file_name",
        "content",
        F.sha2("content", 256).alias("content_hash"),
        "size_bytes",
        "ID",
        F.col("file_url").alias("URL"),
        F.col("error").alias("REASON"),
    )
    if attempts_prev is not None:
        rows = rows.join(attempts_prev, ["ID", "URL"], "left")
    else:
        rows = rows.withColumn("prev_attempts", F.lit(None).cast("int"))
    # each failure carries prior attempts + 1
    outcome = rows.select(
        "kind", "route", "file_name", "content", "content_hash", "size_bytes", "ID", "URL",
        "REASON",
        F.when(
            F.col("kind") == "quarantine", F.coalesce(F.col("prev_attempts"), F.lit(0)) + 1
        ).cast("int").alias("attempts"),
        batch_ts.alias("ts"),
    )
    if exhausted is not None:
        dead = prior.join(exhausted, ["ID", "URL"], "left_semi")
        outcome = outcome.unionByName(
            dead.select(
                F.lit("dead_letter").alias("kind"), "ID", "URL", "REASON", "attempts",
                F.col("failed_at").alias("ts"),
            ),
            allowMissingColumns=True,
        )
    # the outcome, materialised once and lineage-free: every sink below
    # and every returned view reads these blocks, so no write re-runs a
    # fetch and no view sees the logs this batch appends to
    outcome = outcome.localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    pinned.append(outcome)

    def view(kind: str, cols: list[str]) -> DataFrame:
        return outcome.filter(F.col("kind") == kind).selectExpr(*cols)

    lake = view("landed", _LAKE_COLS)
    manifest_new = view("landed", _MANIFEST_COLS)
    quarantine = view("quarantine", _QUARANTINE_COLS)
    lake.write.mode("append").partitionBy("route").parquet(lake_dir)
    if manifest_dir is not None:
        manifest_new.write.mode("append").parquet(manifest_dir)
    if quarantine_dir is not None:
        quarantine.write.mode("append").parquet(quarantine_dir)

    # composed catalog error path: flag every failing source active=2
    # (reference handle_error writes the whole catalog back; recover a
    # crashed swap before reading, and localCheckpoint breaks lineage
    # so the publish over the path we just read from is safe)
    catalog_out = None
    if catalog_path is not None:
        from ..sources.catalog import flag_broken, read_catalog, valid_rows, write_catalog

        broken = [r.ID for r in quarantine.select("ID").distinct().collect()]
        if broken:
            recover_small_table(spark, catalog_path)
            cat = valid_rows(read_catalog(spark, catalog_path, fmt="parquet"))
            catalog_out = flag_broken(cat, broken).localCheckpoint()
            pinned.append(catalog_out)
            write_catalog(catalog_out, catalog_path)

    def release() -> None:
        for df in pinned:
            _free_checkpoint(df)

    return {
        "landed": lake,
        "manifest": manifest_new,
        "quarantine": quarantine,
        "dead_letter": view("dead_letter", _QUARANTINE_COLS),
        "catalog": catalog_out,
        "release": release,
    }
