"""Physical-plan assertions: the 100 TB posture is not an aspiration,
it's checked. Filters reach the parquet scan, small dimensions
broadcast, scans prune columns, equi-joins never degenerate to
cartesian products."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_marketdata_downloader_archived_spark.io import load_table

ROOT = Path(__file__).resolve().parents[1]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir) -> None:
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters:")[1][:200]


def test_column_pruning(spark, sf_dir) -> None:
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    read_schema = _plan(q).split("ReadSchema:")[1][:200]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # untouched columns never read


def test_small_dim_join_broadcasts(spark, sf_dir) -> None:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    q = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select("c_custkey", "n_name")
    assert "BroadcastHashJoin" in _plan(q)


def test_equi_join_is_not_cartesian(spark, sf_dir) -> None:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    q = li.join(o, li.l_orderkey == o.o_orderkey).select("l_orderkey", "o_totalprice")
    plan = _plan(q)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_wholestage_codegen_covers_narrow_ops(spark, sf_dir) -> None:
    li = load_table(spark, sf_dir, "lineitem")
    q = (
        li.filter(F.col("l_discount") > 0.02)
        .withColumn("rev", F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .groupBy("l_returnflag")
        .agg(F.sum("rev").alias("r"))
    )
    # under AQE codegen spans exist only in the final (executed) plan,
    # rendered as "*(n)" stage markers on each codegen'd operator
    q.collect()
    plan = _plan(q)
    assert "isFinalPlan=true" in plan and "*(" in plan


def test_entry_flagship_plan_shape(spark) -> None:
    """The flagship star join must broadcast both dimension tables and
    keep the fact-side joins hash-based."""
    import __spark_entry__ as E

    plan = _plan(E.entry(spark))
    assert plan.count("BroadcastHashJoin") >= 2  # nation, region
    assert "CartesianProduct" not in plan


def test_minhash_signature_stage_is_shuffle_free(spark, sf_dir) -> None:
    """Signature computation must stay narrow: no Exchange between the
    scan and the signature projection (SURVEY.md 100 TB posture)."""
    from etl_marketdata_downloader_archived_spark.operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    sigs = d.select(
        "doc_id", D.minhash_expr(D.word_shingles("text", 3), 8).alias("sig")
    )
    assert "Exchange" not in _plan(sigs)


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path) -> None:
    """Two tables bucketed on the join key: the sort-merge join reads
    bucket-aligned files - no Exchange on either side."""
    import uuid

    from etl_marketdata_downloader_archived_spark.io import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        suffix = uuid.uuid4().hex[:8]
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        write_bucketed(li, f"li_b_{suffix}", ["l_orderkey"], 8)
        write_bucketed(o, f"o_b_{suffix}", ["o_orderkey"], 8)

        j = spark.table(f"li_b_{suffix}").join(
            spark.table(f"o_b_{suffix}"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # bucketing replaced the shuffle
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql(f"DROP TABLE IF EXISTS li_b_{suffix}")
        spark.sql(f"DROP TABLE IF EXISTS o_b_{suffix}")


def test_variant_json_and_parameterized_sql(spark, sf_dir) -> None:
    """Spark 4 surface: semi-structured props handled as VARIANT
    (parse once, path-extract without a fixed schema - agrees with the
    from_json reading), and parameterized spark.sql (no string
    interpolation in query plumbing)."""
    ev = load_table(spark, sf_dir, "events").limit(200)
    both = ev.select(
        "event_id",
        F.try_variant_get(F.parse_json("props"), "$.k", "bigint").alias("k_variant"),
        F.from_json("props", "k BIGINT").getField("k").alias("k_struct"),
    )
    assert both.filter(F.col("k_variant") != F.col("k_struct")).count() == 0
    assert both.filter(F.col("k_variant").isNull()).count() == 0

    ev.createOrReplaceTempView("ev_params")
    n = spark.sql(
        "SELECT count(*) AS n FROM ev_params WHERE event_id < :cutoff",
        args={"cutoff": 100},
    ).collect()[0].n
    assert n == ev.filter(F.col("event_id") < 100).count()


def test_decontam_plan_shape(spark, sf_dir) -> None:
    """Two load-bearing properties of the decontamination plan:
    (1) the benchmark gram index builds under a BroadcastExchange (the
    explode-side join stays map-side); (2) the expensive shingle chain
    is NOT re-evaluated in the Project above the Generate - the
    regression that made the operator ~20x slower (sibling expressions
    of an explode re-run once per emitted row)."""
    from etl_marketdata_downloader_archived_spark.operators.text import (
        benchmark_ngram_overlap,
    )

    d = load_table(spark, sf_dir, "documents")
    ov = benchmark_ngram_overlap(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
    )
    plan = _plan(ov)
    assert "BroadcastExchange" in plan
    # walk the plan tree: no Project that sits directly on a Generate
    # may contain a higher-order function call (the array it projects
    # from must be materialized BELOW the explode)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Project" in ln and "zip_with" in ln:
            below = "\n".join(lines[i + 1 : i + 3])
            assert "Generate" not in below, (
                "shingle chain re-evaluated above a Generate:\n" + ln[:200]
            )


def test_line_dedup_winners_aggregate_is_partial(spark) -> None:
    """line_dedup's winner selection must be a groupBy min (map-side
    partial aggregation collapses hyper-common lines), never a window
    over the hash (no partial agg, no AQE skew handling)."""
    from etl_marketdata_downloader_archived_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc")], ["doc_id", "text"]
    )
    plan = _plan(line_dedup(df, "doc_id", "text"))
    assert "partial_min" in plan or "partial(min" in plan.replace(" ", "")
    assert "Window" not in plan.split("Generate")[0]


def test_explain_report_covers_every_registered_query() -> None:
    """EXPLAIN.md's red-flag scan must cover the whole battery: the
    recorded query count has to match the live registry, so adding a
    query without re-running tools/explain_report.py fails here
    instead of silently shipping an unscanned plan."""
    import re

    from etl_marketdata_downloader_archived_spark.plans import registry

    text = open(ROOT / "EXPLAIN.md").read()
    m = re.search(r"All-query scan result: (\d+) queries, zero red flags", text)
    assert m, "EXPLAIN.md red-flag scan line missing or reports flags"
    assert int(m.group(1)) == len(registry.all_queries())


def test_explain_scan_detects_global_windows(spark) -> None:
    """The explain-report scan's global-window detector: a Window with
    an empty partition spec (two top-level argument groups, second one
    a sort spec) is counted; partitioned and partitioned-but-unordered
    windows are not. Live plans (not synthetic strings) so the
    formatted-explain shape this parses is pinned to the running Spark
    version."""
    import io
    import sys
    from contextlib import redirect_stdout

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    sys.path.insert(0, str(ROOT))
    from tools.explain_report import global_windows

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    base = spark.range(20).withColumn("g", F.col("id") % 3)
    glob = base.withColumn("r", F.row_number().over(W.orderBy("id")))
    part = base.withColumn(
        "r", F.row_number().over(W.partitionBy("g").orderBy("id"))
    )
    both = glob.withColumn(
        "s", F.sum("id").over(W.partitionBy("g").orderBy("id"))
    )
    assert global_windows(plan_of(glob)) == 1
    assert global_windows(plan_of(part)) == 0
    assert global_windows(plan_of(both)) == 1  # counts only the global one


# The driver certifies exactly the FIRST 50 registered queries, in
# registry import order. That window has been frozen and driver-green
# since round 3; an accidental import-order change (a module moved, a
# decorator reordered) would silently swap certified slots and show up
# only at the next driver run. Pin the order here so a registry
# refactor fails pytest instead. Keys copied from CORRECTNESS_r06.json
# (all 50 pass rows+schema+hash).
CERTIFIED_WINDOW = [
    "scan_parquet", "filter_family", "join_equi", "join_broadcast",
    "join_semi_anti", "join_range", "join_asof", "agg_basic",
    "agg_stats", "agg_distinct", "agg_approx_distinct", "agg_cube_sets",
    "decimal_agg", "pivot_status", "win_rank", "win_lag", "win_frames",
    "topk", "set_ops", "str_funcs", "date_funcs", "math_cond_funcs",
    "array_funcs", "map_json_funcs", "subq_family", "stream_windows",
    "stream_session", "udf_scalar", "udaf_grouped", "ohlc_bars",
    "resample_ffill", "recursive_series", "dedup_exact",
    "dedup_ngram_jaccard", "sim_topk", "sim_pairs_bucketed",
    "text_analysis", "corpus_clean", "word_topk", "multimodal_meta",
    "funnel_cohort", "scd2_history_events", "scan_csv",
    "clock_template", "task_codec", "link_pipeline", "listing_glob",
    "dedup_anti", "dlq_filter", "harvest_pipeline",
]


def test_certified_window_slots_frozen() -> None:
    """First 50 registered names == the driver-certified window, in
    order, and every one keeps its oracle (a no_oracle row inside the
    window would downgrade a certified slot to rows-only)."""
    from etl_marketdata_downloader_archived_spark.plans.registry import (
        all_oracles,
        all_queries,
    )

    first50 = list(all_queries())[:50]
    assert first50 == CERTIFIED_WINDOW
    oracles = all_oracles()
    missing = [n for n in CERTIFIED_WINDOW if n not in oracles]
    assert missing == []


def test_readme_battery_count_matches_registry() -> None:
    """README's "N packed queries" claim must equal the live registry
    size - doc drift in the trust document fails loudly, the same
    treatment the certified window gets above."""
    import re

    from etl_marketdata_downloader_archived_spark.plans.registry import (
        all_queries,
    )

    text = open(ROOT / "README.md", encoding="utf-8").read()
    m = re.search(r"\((\d+) packed queries", text)
    assert m, "README no longer states the packed-query count"
    assert int(m.group(1)) == len(all_queries())


def test_explain_scan_detects_forward_frames(spark) -> None:
    """The explain-report scan's quadratic-frame detector: a window
    frame that starts at a running bound (currentRow or an offset) and
    ends at unboundedFollowing is flagged (Spark re-scans the
    partition tail per row - the resample_interp bug class); the legal
    shapes - running past frames, whole-partition frames, bounded
    forward frames - are not. Live plans so the formatted-explain
    token shape is pinned to the running Spark version."""
    import io
    import sys
    from contextlib import redirect_stdout

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    sys.path.insert(0, str(ROOT))
    from tools.explain_report import forward_frames

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    base = spark.range(20).withColumn("g", F.col("id") % 3)
    wp = W.partitionBy("g").orderBy("id")
    bad = base.withColumn(
        "x", F.min("id").over(wp.rowsBetween(W.currentRow, W.unboundedFollowing))
    )
    bad_offset = base.withColumn(
        "x", F.min("id").over(wp.rowsBetween(1, W.unboundedFollowing))
    )
    ok_running = base.withColumn(
        "x", F.sum("id").over(wp.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    ok_whole = base.withColumn(
        "x",
        F.sum("id").over(
            wp.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ),
    )
    ok_bounded = base.withColumn(
        "x", F.min("id").over(wp.rowsBetween(W.currentRow, 5))
    )
    assert forward_frames(plan_of(bad)) == 1
    assert forward_frames(plan_of(bad_offset)) == 1
    assert forward_frames(plan_of(ok_running)) == 0
    assert forward_frames(plan_of(ok_whole)) == 0
    assert forward_frames(plan_of(ok_bounded)) == 0


def test_every_round8_query_has_a_scale_probe_row() -> None:
    """Round 7's verdict flagged the one registered query that
    shipped without a SCALE.md probe row (ltv_quintiles). Mechanized
    like the README count: every query registered by the round-8
    module must appear in SCALE.md, so a future query cannot ship
    unprobed without failing here."""
    import etl_marketdata_downloader_archived_spark.plans.analytics_r8 as r8
    from etl_marketdata_downloader_archived_spark.plans.registry import (
        all_queries,
    )

    r8_names = {
        fn for fn in all_queries()
        if getattr(r8, fn, None) is not None and callable(getattr(r8, fn))
    }
    assert len(r8_names) >= 13  # the round-8 battery
    scale = open(ROOT / "SCALE.md", encoding="utf-8").read()
    missing = sorted(n for n in r8_names if n not in scale)
    assert missing == [], f"registered without a SCALE.md row: {missing}"

def test_sentence_udtf_oracle_regex_model(spark) -> None:
    """The sentence_udtf oracle replays the Python scanner with ONE
    regex plus window sums - this differential drives the scanner
    class itself and the oracle's regex model over adversarial
    quote-free corners (terminator runs, leading spaces, tail with no
    terminator, terminator-only text, text ending mid-run) and
    asserts identical (pos, start_char, sentence) triples; the
    QUOTE-aware branch the oracle cannot see is pinned separately."""
    import re

    from etl_marketdata_downloader_archived_spark.operators.text import (
        register_sentence_udtf,
    )

    handle = register_sentence_udtf(spark, "split_sentences_model_test")
    cls = getattr(handle, "func", handle)

    def scanner(text):
        return list(cls().eval(text))

    def oracle_model(text):
        segs = re.findall(r'[^.!?]*[.!?][.!?" ]*|[^.!?]+$', text)
        out, pos, off = [], 0, 0
        for seg in segs:
            s = seg.strip(" ")  # DuckDB trim(): spaces only
            if s:
                out.append((pos, off, s))
                pos += 1
            off += len(seg)
        return out

    corners = [
        "plain words no terminator",
        "one. two! three? tail",
        "runs... and !! more ?. done",
        "  leading spaces. then tail",
        "ends with terminator.",
        "ends with run.!? ",
        ". . hi",
        "...",
        "a.b.c",
        "x. ",
        "",
        "   ",
        "word table. fast! scan? mix",
    ]
    for t in corners:
        assert scanner(t) == oracle_model(t), t

    # quote-awareness (pytest-only by design: the oracle filters
    # quoted docs out): a terminator INSIDE quotes does not split
    got = scanner('he said "stop. now" and left. done')
    assert [s for _, _, s in got] == [
        'he said "stop. now" and left.',
        "done",
    ]


def test_dedup_near_panel_minhash_failure_releases_side_work(
    spark, sf_dir, monkeypatch
) -> None:
    """ADVICE: when the minhash branch of dedup_near_panel raises, the
    error propagates, the overlapped simhash thread has been joined
    (no live side thread), and the minhash intermediates are no longer
    persisted."""
    import pyspark
    import pytest

    from etl_marketdata_downloader_archived_spark.operators import dedup as D
    from etl_marketdata_downloader_archived_spark.plans.tail import (
        dedup_near_panel,
    )

    threads: list = []
    registries: list = []
    real_pairs = D.minhash_dedup_pairs

    class RecordedThread(pyspark.InheritableThread):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            threads.append(self)

    def recorded_pairs(*args, cache_registry=None, **kwargs):
        registries.append(cache_registry)
        return real_pairs(*args, cache_registry=cache_registry, **kwargs)

    def failing_components(*args, **kwargs):
        raise RuntimeError("connected_components failed")

    monkeypatch.setattr(pyspark, "InheritableThread", RecordedThread)
    monkeypatch.setattr(D, "minhash_dedup_pairs", recorded_pairs)
    monkeypatch.setattr(D, "connected_components", failing_components)
    with pytest.raises(RuntimeError, match="connected_components failed"):
        dedup_near_panel(spark, sf_dir)
    assert threads and not any(t.is_alive() for t in threads)
    cached = [df for reg in registries for df in reg]
    assert cached  # the branch registered its persisted stage
    for df in cached:
        level = df.storageLevel
        assert not df.is_cached
        assert not (level.useDisk or level.useMemory)


def test_hadoop_fs_accessor_is_single() -> None:
    """Every Hadoop FileSystem handle in the package comes from
    ``io._vfs``: the ``Path`` class lookup and ``getFileSystem`` appear
    in io.py alone, so path/scheme resolution cannot drift between
    copies."""
    from pathlib import Path

    pkg = (
        Path(__file__).resolve().parents[1]
        / "etl_marketdata_downloader_archived_spark"
    )
    hits = {
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        for needle in ("hadoop.fs.Path", "getFileSystem(")
        if needle in p.read_text(encoding="utf-8")
    }
    assert hits == {"io.py"}


def test_table_swap_is_single() -> None:
    """The stage-and-swap publish and its crash recovery are written
    once, in io.py: the sibling-suffix literals of the whole-table and
    partition swaps appear in no other package module, so the rename
    order and the recovery rule cannot drift between copies."""
    from pathlib import Path

    pkg = (
        Path(__file__).resolve().parents[1]
        / "etl_marketdata_downloader_archived_spark"
    )
    hits = {
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        for needle in ('"__old"', '"__stage"', '"__backup"')
        if needle in p.read_text(encoding="utf-8")
    }
    assert hits == {"io.py"}


def test_lake_listing_is_single() -> None:
    """The lake's file-layout rules are written once, in io.py: the
    recursive data-file listing (``listFiles(``) and the ``_meta``
    sidecar path appear in no other package module, so the
    hidden-path rule and the sidecar format cannot drift between
    copies."""
    from pathlib import Path

    pkg = (
        Path(__file__).resolve().parents[1]
        / "etl_marketdata_downloader_archived_spark"
    )
    hits = {
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        for needle in ("listFiles(", '"/_meta"')
        if needle in p.read_text(encoding="utf-8")
    }
    assert hits == {"io.py"}


def test_vector_topk_is_single() -> None:
    """The vector top-k contract is written once, in
    operators/similarity.py: one id-tie-broken local selection, one
    zero-guarded row normaliser, one merge window and one reader of id
    types from the input schema; no bare ``argpartition`` selection is
    left to drop a tied candidate."""
    text = (
        ROOT
        / "etl_marketdata_downloader_archived_spark"
        / "operators"
        / "similarity.py"
    ).read_text(encoding="utf-8")
    for needle in (
        "np.lexsort(",
        "== 0.0] = 1.0",
        "F.row_number()",
        ".simpleString()",
    ):
        assert text.count(needle) == 1, needle
    assert "argpartition(" not in text


def test_text_tokenizers_are_single() -> None:
    """Text-to-shingles is written once: the ``[^a-z]+`` word rule
    only in ranking.word_tokens (plus quality_model's pyspark.ml
    RegexTokenizer pattern), and every " "-join of tokens - the n-gram
    builder and the chunker - only in operators/text.py."""
    pkg = ROOT / "etl_marketdata_downloader_archived_spark"
    rule, joins = {}, {}
    for p in pkg.rglob("*.py"):
        text = p.read_text(encoding="utf-8")
        rel = p.relative_to(pkg).as_posix()
        if '"[^a-z]+"' in text:
            rule[rel] = text.count('"[^a-z]+"')
        n = text.count('concat_ws(" "') + text.count("concat_ws(' '")
        if n:
            joins[rel] = n
    assert rule == {"operators/ranking.py": 1, "operators/quality_model.py": 1}
    assert set(joins) == {"operators/text.py"}


PARITY_QUERIES = [
    "boilerplate_shingles",
    "jaccard_prefix_join",
    "jaccard_join_rs",
    "dup_ngram_spans",
    "gopher_rules",
    "map_lambda_funcs",
    "dedup_keep_best_cert",
    "temperature_mix_cert",
    "hard_negatives_cert",
    "strip_dup_spans",
    "greedy_admission_cert",
    "graph_components",
    "bfs_hops",
    "dedup_keep_set",
    "dsir_bucket_stats",
    "dsir_weights_cert",
    "text_analysis",
    "tfidf_topk",
    "dedup_near_panel",
    "dedup_ngram_jaccard",
    "dedup_containment",
]


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    from tools.parity import oracle_db

    con = oracle_db(sf_dir)
    yield con
    con.close()


@pytest.mark.parity
@pytest.mark.parametrize("name", PARITY_QUERIES)
def test_text_query_parity(spark, sf_dir, oracle_con, name) -> None:
    """The text, dedup and DSIR queries built on the shared
    text-to-shingles helpers match their DuckDB oracles row for row
    (tools/parity.py's comparison); dedup_near_panel has no oracle and
    must still run."""
    from etl_marketdata_downloader_archived_spark.plans.registry import (
        all_oracles,
        all_queries,
    )
    from tools.parity import check_query

    status, line = check_query(
        spark, oracle_con, sf_dir, name, all_queries()[name], all_oracles().get(name)
    )
    assert status == ("rows" if name == "dedup_near_panel" else "pass"), line


def test_jaccard_threshold_is_single() -> None:
    """The exact-Jaccard threshold is quantized once, in
    operators/fuzzy.py: the range check's message appears once in the
    package, and no module re-derives the numerator from a float."""
    pkg = ROOT / "etl_marketdata_downloader_archived_spark"
    texts = [p.read_text(encoding="utf-8") for p in pkg.rglob("*.py")]
    assert sum(t.count("threshold must be in (0, 1]") for t in texts) == 1
    assert not any("jaccard_threshold * 1_000_000" in t for t in texts)


def test_group_state_fold_is_single() -> None:
    """Every applyInPandasWithState operator runs through
    ``streaming.stateful._fold``: the call and the timeout choice
    appear once in the package, inside stateful.py."""
    from pathlib import Path

    pkg = (
        Path(__file__).resolve().parents[1]
        / "etl_marketdata_downloader_archived_spark"
    )
    needles = (
        "applyInPandasWithState(",
        "GroupStateTimeout.ProcessingTimeTimeout",
        "GroupStateTimeout.NoTimeout",
    )
    hits = {
        (str(p.relative_to(pkg)), needle): p.read_text(
            encoding="utf-8"
        ).count(needle)
        for p in pkg.rglob("*.py")
        for needle in needles
        if needle in p.read_text(encoding="utf-8")
    }
    assert hits == {("streaming/stateful.py", n): 1 for n in needles}


def test_sloc_counts_lines_by_kind() -> None:
    """tools/sloc.py puts every line in exactly one bucket: docstring,
    blank, comment-only, or code."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "tools" / "sloc.py"
    spec = importlib.util.spec_from_file_location("sloc", path)
    sloc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sloc)

    src = (
        '"""Module doc."""\n'
        "\n"
        "import os  # trailing comments stay code\n"
        "\n"
        "# a comment line\n"
        "def f():\n"
        '    """Two\n'
        '    lines."""\n'
        '    return """not a\n'
        '    docstring"""\n'
    )
    assert sloc.count_source(src) == {
        "total": 10, "code": 4, "comment": 1, "docstring": 3, "blank": 2,
    }


def test_tick_profile_lists_each_job_of_a_tick() -> None:
    """tools/tick_profile.py attributes jobs to a tick by submission
    time and prints, per job, its SQL execution, the tasks of the
    stages it ran (skipped stages left out), its duration and the
    stage operators."""
    import importlib.util
    import json
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "tools" / "tick_profile.py"
    spec = importlib.util.spec_from_file_location("tick_profile", path)
    tp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tp)

    def scope(name: str) -> str:
        return json.dumps({"id": "1", "name": name})

    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 4, "sparkPlanInfo": {"nodeName": "AdaptiveSparkPlan"}},
        {"Event": "SparkListenerJobStart", "Job ID": 7, "Submission Time": 10_500,
         "Stage IDs": [1, 2], "Properties": {"spark.sql.execution.id": "4"},
         "Stage Infos": [
             {"Stage ID": 1, "RDD Info": [{"RDD ID": 3, "Scope": scope("Exchange")},
                                          {"RDD ID": 2, "Scope": scope("Scan text ")}]},
             {"Stage ID": 2, "RDD Info": [{"RDD ID": 5, "Scope": scope("MapInPandas")}]},
         ]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2},
        {"Event": "SparkListenerJobEnd", "Job ID": 7, "Completion Time": 10_750},
        {"Event": "SparkListenerJobStart", "Job ID": 8, "Submission Time": 99_000,
         "Stage IDs": [], "Stage Infos": []},
    ]
    lines = tp._report({"tick": 3, "dur": 1.25, "w0": 10.0, "w1": 12.0}, tp._index(events))
    assert lines[0] == "tick 3: 1.250 s, 1 jobs"
    assert len(lines) == 2
    assert "job    7  +  500  sql    4  tasks   2     250 ms" in lines[1]
    assert lines[1].endswith("AdaptiveSparkPlan: MapInPandas")
