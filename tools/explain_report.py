"""Generate EXPLAIN.md: the executed physical plan for each headline
query, with a quick red-flag scan (cartesian products, row-at-a-time
Python, missing pushdown). This is the artifact of the "explain the
plan and iterate until it's the plan you'd want" loop.

Usage: python tools/explain_report.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

HEADLINE = [
    "agg_basic",
    "join_broadcast",
    "join_asof",
    "win_frames",
    "topk",
    "stream_session",
    "agg_distinct",
    "subq_family",
    "udf_scalar",
    "scan_parquet",
    "dedup_ngram_jaccard",
    "dedup_near_panel",
    "sim_topk",
    "sim_ann_panel",
    "ohlc_bars",
    "resample_ffill",
    "recursive_series",
    "harvest_pipeline",
    "corpus_clean",
    "text_analysis",
    "funnel_cohort",
    "scd2_history_events",
    "quantile_rollup",
    "multimodal_decode",
    # round-4 families
    "returns_drawdown",
    "ks_drift",
    "anomaly_mad",
    "inverted_index",
    "triangle_count",
    "flagship_star",
    # round-5 families: rank-from-counts rewrites (the Window input
    # must visibly be the distinct-value count table) + evaluation
    "winsorized_stats",
    "mannwhitney_drift",
    "gini_activity",
    "auc_daily",
    "lift_deciles",
    "drift_monitor_batch",
    # round-8 families: in-row capped pair mining, bounded tercile /
    # quintile grids, per-doc WindowGroupLimit top-k, lead-window
    # transitions
    "basket_pairs",
    "rfm_segments",
    "tfidf_topk",
    "markov_transitions",
    "conversion_latency",
    # round-9 families: skew toolkit, interval-join ledger matching,
    # rank-from-counts migration terciles
    "join_skew_report",
    "join_salted",
    "fifo_allocation",
    "segment_migration",
    # round-10 families: bounded-window topn fold, in-row SNM
    # neighbor join, shared-sort skip-grams, per-part running balance,
    # corpus-vs-rest vocabulary scores
    "topn_with_other",
    "snm_pairs",
    "skipgram_transitions",
    "inventory_balance",
    "distinctive_tokens",
]

# Round-over-round plan observations worth keeping next to the trees.
NOTES = """\
## Plan notes

- **subq_family** (r3 flagged a 0.46→0.95 s mean regression): the
  physical plan is UNCHANGED vs round 2 — diffing the executed plan
  under the round-2 session conf (CBO + runtime bloom filters off)
  against the current conf shows only expression-id renumbering; the
  skeleton (broadcast left-semi join + two scalar-subquery aggregates
  over orders) is identical. Min-of-3 wall time is ~0.4-0.5 s under
  both confs; the r3 number was single-run noise, which the bench's
  min-of-n reporting now filters. The scalar `avg(o_totalprice)`
  appears at three host operators (projection, filter, pushed scan
  filter) but is one logical subquery; AQE stage reuse dedupes the
  underlying scan+agg at runtime.

- **Round-5 rank-from-counts family** (`winsorized_stats`,
  `mannwhitney_drift`, `gini_activity`, `anomaly_mad`, `auc_daily`,
  `lift_deciles`): every Window operator in these trees now sits
  ABOVE a HashAggregate pair that collapses the fact scan to
  per-(group, distinct-value) counts - the window's Sort input is
  value-cardinality-bounded, and the single-partition WindowExec
  warning those plans used to log during parity runs is gone. The
  remaining deliberately-global windows are enumerated (and asserted:
  an unlisted one fails the scan) in the whitelist table at the end
  of this report - all four are grid/day/group-count bounded.

- **inverted_index** (round 5): the plan shows the partial/final
  `WindowGroupLimit ... row_number(), 5` pair BELOW the exchange -
  each map task forwards at most top_docs rows per term; df/total_tf
  come from a separate plain aggregate branch joined on term, so no
  full posting list ever passes through one task.

- **pagerank_trade** (round 5): probe-free closed-graph update - the
  iteration is one scheduled job of join+combine layers over the
  single-partition 25-node transition table; no per-round one-row
  aggregate/broadcast, no dangling term (conserved mass).

- **basket_pairs** (round 8): the capped plan has NO self-join - the
  tree is Scan -> HashAggregate(collect_set per order) -> in-row
  Generate(explode of the upper-triangle pair array) ->
  HashAggregate((a,b) counts) with the support tables broadcast
  back; the cap bounds the Generate at cap^2/2 structs per row. The
  operator falls back to the bucketed self-join when called
  UNCAPPED, because an unbounded flattened pair array concentrates a
  mega-basket's whole quadratic mass in one task (measured 101 s vs
  the join's 15 s on a 10k-item basket).

- **tfidf_topk / markov_transitions** (round 8): both show the
  partial `WindowGroupLimit`/running-lead frame BELOW the exchange -
  per-doc top-3 forwards at most 3 rows per doc from each map task,
  and the transition lead is a streaming frame, linear per user
  partition.

- **fifo_allocation** (round 9): the ledger match is a per-key theta
  join over cumulative-quantity intervals - candidates are bounded by
  ledger group size while the OUTPUT is provably <= n_in + n_out - 1
  per key (the 30x probe grows candidate mass ~900x, wall 9x). The
  per-key window cumsums partition by part, never globally; the
  narrow projection persists once and feeds both flows and both
  totals.

- **debounce_events** (round 9): the one inherently sequential gap
  analysis in the battery (anchor advances on KEPT rows) runs as
  FlatMapGroupsInPandas with the repartition width PINNED - grouped
  Python costs one Arrow round-trip PER GROUP, so it is
  group-count-bound, and AQE's byte-based coalescing would fold the
  small shuffle into 1-2 tasks and serialize 7.5 K round-trips
  (measured 26 s -> 2.7 s at sf0.1). The general rule: pin width for
  many-tiny-group grouped-Python stages; few-big-group stages (the
  bucketed BLAS kernels) are byte-bound and stay size-coalesced.

- **round-10 broadcast-hint scan**: the analyzed-plan walk added this
  round (see the scan header) exists because a hard `F.broadcast` on
  an SF-scaling input is a CRASH class at ~100x, not a slowdown - the
  hint overrides autoBroadcastJoinThreshold and the build dies at the
  8 GB ceiling. All such hints were removed (plans at bench scale are
  unchanged: AQE still picks BHJ while the side is genuinely small -
  `brand_cross_shopping` actually got FASTER de-pinned, 1.39 ->
  1.21 s) and the scan fails any reintroduction.

- **fifo_allocation** (round 10): now two-tier - the interval join
  stays the default regime (TPC-H part ledgers are ~30 rows/key at
  every SF), and a measured per-key bound switches mega-ledgers to a
  cogrouped two-pointer merge (single-key probe: join tier 62 s vs
  merge 3.1 s at 100 K rows/side, SCALE.md). The visible plan below
  is the join tier; the extra narrow count job that measures the
  bound does not appear in it.

- **fd_panel** (round 10): the shared persisted lineitem projection
  is GONE - two column-pruned scans beat the InMemoryRelation
  (2.46 -> 1.74 s at sf0.1) AND a lazy return keeps the query inside
  this scan's coverage (the r10 eager-collect fix had silently
  exempted it - a LocalRelation has no plan to scan).

- **skipgram_transitions / win_navigation** (round 10): both show ONE
  Window per partition key with several functions sharing the sort
  (three leads; first/last/nth) - the indicator_panel collapsed-
  window discipline; the whole-partition frames in win_navigation
  compute once per partition and are exempt from the forward-frame
  ban by construction.

- **bfs_hops** (round 9): two-tier like connected_components - the
  distributed frontier-Pregel tier costs ~3 shuffle stages per hop
  (expand, distinct, anti-join), pure scheduling on a graph one task
  holds, so edge lists at or under 100 K rows take a collected driver
  BFS (5.2 s -> 1.4 s on the certified subgraph); the distributed
  tier is pytest-forced over the same fixtures.
"""

RED_FLAGS = ["CartesianProduct", "BatchEvalPython"]  # row-at-a-time Python

# Python UDTF nodes (`BatchEvalPythonUDTF`) are NOT the scalar
# row-at-a-time red flag the line above targets: the UDTF surface is
# the sanctioned path for genuinely iterative row-to-table logic
# (operators/text.py:561), certified by its own oracle query. Each
# UDTF plan must still be LISTED here with its boundedness argument -
# an unlisted BatchEvalPythonUDTF fails the scan like any flag.
UDTF_WHITELIST = {
    "sentence_udtf": (
        "UDTF-surface certification; Python row budget capped at 200 "
        "docs by the query (the operator is the slow path by contract)"
    ),
}
# plus three structural scans applied per plan: global_windows() (empty
# partition spec, whitelist below), forward_frames() (running-start
# unboundedfollowing frames - Spark re-scans the tail per row, O(n^2)),
# and broadcast_hints() on the ANALYZED plan (forced F.broadcast of an
# SF-scaling base table - a hard hint overrides
# autoBroadcastJoinThreshold, so at ~100x data Spark attempts the build
# anyway and dies at the 8 GB broadcast ceiling; VERDICT r9 "what's
# wrong #1". Dropping the hint costs nothing at bench scale: AQE still
# picks BHJ whenever the side is actually below the threshold.)

# Base tables whose row count grows with the scale factor, keyed by a
# signature column that identifies the relation in an analyzed-plan
# ``Relation [cols...]`` line. nation (25 rows) and region (5) are the
# only dimensions bounded forever; everything else scales.
SCALING_TABLE_SIGNATURES = {
    "c_custkey": "customer",
    "s_suppkey": "supplier",
    "p_partkey": "part",
    "o_orderkey": "orders",
    "l_orderkey": "lineitem",
    "event_id": "events",
    "doc_id": "documents",
    "vec_id": "embeddings",
}

# Broadcast hints whose input DERIVES from a scaling table but is
# bounded by construction before the exchange. Global (no-grouping)
# aggregates are auto-exempt - they emit exactly one row - so this
# whitelist only carries GROUPED aggregates whose group-key domain is
# bounded (calendar grids, enum-valued columns, capped heads), keyed by
# query name. A raw (never-aggregated) scaling relation under a hint
# can NOT be whitelisted - that is the crash class.
BROADCAST_HINT_WHITELIST = {
    # per-event_type stats / cut tables: event_type is an enum (~6
    # values in the corpus, bounded by product surface, never rows)
    "anomaly_zscore": "per-event_type mean/variance stats (bounded enum)",
    "anomaly_mad": "per-event_type median/MAD cut tables (bounded enum)",
    "winsorized_stats": "per-event_type rank-cut table (bounded enum)",
    "benford_panel": "per-event_type digit distribution (bounded enum)",
    "chi2_cells": "per-event_type / per-hour marginals (enum x 24-hour grid)",
    "boxplot_panel": "per-event_type quartile rows (bounded enum)",
    # calendar-bounded group keys: one row per year / month / week /
    # period, never fact rows
    "seasonality_index": "per-year revenue means (calendar-bounded)",
    "cohort_ltv_triangle": "per-cohort-week size table (calendar-bounded)",
    "share_shift": "two single-row period totals (grouped by a 2-value period flag)",
    "segment_migration": "per-period tercile cuts (2 periods x 2 cut rows)",
    # bounded value/count grids built by rank-from-counts rewrites
    "rfm_segments": "tercile maps over day/count/66-bucket grids",
    # bounded enums on the documents corpus: source/stratum labels
    "boilerplate_shingles": "per-source doc totals (source is a bounded label set)",
    "pps_sample_docs": "per-stratum weight totals (stratum = source label set)",
    # boundary table: grouped by the range(1,11) bucket id, so the
    # hinted frame is <= 10 rows at any SF
    "equidepth_histogram": "10-row boundary table (one row per bucket id)",
    # eval benchmarks are fixed-size by contract, not SF-scaling: the
    # decontamination index is the distinct n-grams of the held-out
    # eval source (operators/text.py:284 documents the posture)
    "corpus_clean": "distinct n-grams of the fixed-size eval benchmark",
    # DSIR's per-bucket log-ratio table: grouped by the hashed-ngram
    # bucket id, whose domain is the FIXED m (=32 here, ~10^4 in
    # production) regardless of corpus size - the broadcast-the-model
    # contract operators/dsir.py documents (m doubles forever)
    "dsir_weights_cert": "m-row (m=32) DSIR log-ratio table (bucket id domain fixed by m, never corpus rows)",
}


def broadcast_hints(analyzed: str) -> list[tuple[str, str]]:
    """Scan an ANALYZED logical plan for ``ResolvedHint
    (strategy=broadcast)`` subtrees that contain an SF-scaling base
    table. Returns (table, kind) pairs where kind is:

    - ``raw``: no aggregate bounds the relation on its path to the
      hint - broadcasting a frame that scales 1:1 with the corpus.
      Always a red flag (the 8 GB-ceiling crash class).
    - ``grouped``: a grouped aggregate sits between hint and relation;
      bounded only if the group-key domain is - requires a
      BROADCAST_HINT_WHITELIST entry naming the bound.

    Relations bounded by a GLOBAL aggregate (``Aggregate [exprs]`` with
    a single top-level bracket group emits one row) are exempt and not
    returned. The analyzed plan is used because optimization folds
    ResolvedHint into join-node hints."""
    import re

    info = []
    for ln in analyzed.splitlines():
        m = re.match(r"^([ :|+-]*)([A-Za-z].*)$", ln)
        if m:
            info.append((len(m.group(1)), m.group(2)))
    results = []
    for i, (d, txt) in enumerate(info):
        if not (txt.startswith("ResolvedHint") and "broadcast" in txt):
            continue
        # walk the hint's subtree keeping an ancestor stack so each
        # Relation knows which Aggregate nodes sit on its path up
        stack: list[tuple[int, bool, bool]] = []  # (depth, global_agg, grouped_agg)
        j = i + 1
        while j < len(info) and info[j][0] > d:
            dj, tj = info[j]
            while stack and stack[-1][0] >= dj:
                stack.pop()
            is_global = is_grouped = False
            if tj.startswith("Aggregate"):
                groups = _arg_groups(tj[len("Aggregate"):])
                is_global = len(groups) == 1 or (
                    len(groups) >= 2 and groups[0].strip() == ""
                )
                is_grouped = not is_global
                # grouping-sets prints 3 groups; treated like grouped
            elif tj.startswith("Deduplicate"):
                # .distinct()/.dropDuplicates() prints as Deduplicate
                # in the ANALYZED plan (becomes Aggregate only under
                # the optimizer) - value-domain-bounded, i.e. grouped
                is_grouped = True
            elif tj.startswith("Relation"):
                for sig, table in SCALING_TABLE_SIGNATURES.items():
                    if sig + "#" not in tj:
                        continue
                    if any(g for _, g, _ in stack):
                        pass  # one-row global aggregate bounds it
                    elif any(ga for _, _, ga in stack):
                        results.append((table, "grouped"))
                    else:
                        results.append((table, "raw"))
                    break
            stack.append((dj, is_global, is_grouped))
            j += 1
    return results

# Queries whose plans contain a Window with NO partition spec
# (single-partition WindowExec) ON PURPOSE: each one's window input is
# bounded by construction (cardinality of a grid / value set / group
# count, never fact rows), so funnelling it through one task is the
# right plan. ANY query with a global window that is not listed here
# fails the scan - a future fact-scale global window cannot scroll by
# as one more log line (VERDICT r5 "what's wrong #4").
GLOBAL_WINDOW_WHITELIST = {
    # input = the hourly bar grid (one row per bar), two per-variable
    # rank windows over that grid - bounded by calendar, never events
    "spearman_corr": "bar-grid-bounded ranks (one row per hourly bar, x2)",
    # input = the equi-joined view/click hourly close grid; a
    # multi-pair panel would partition this same window by pair key
    "rolling_corr": "24-bar moment window over the joined bar grid",
    # sweep-line runs INSIDE per-day partitions; this window stitches
    # day-level nets - one row per calendar day
    "session_concurrency": "cross-day prefix sum over one row per day",
    # row_number over the group-by result: one row per distinct
    # o_orderpriority value (6 incl. the NULL group)
    "null_semantics": "ranks the 6-row priority group-by output",
    # cumulative new-user sum over the per-day growth table - one row
    # per calendar day, bounded by the corpus's day span
    "user_growth": "cumulative sum over one row per day",
    # cumulative revenue share over the brand aggregate - one row per
    # brand (25), bounded by brand cardinality
    "pareto_abc": "cumulative share over the 25-row brand aggregate",
    # three tercile maps, each over a bounded value table: recency
    # days (calendar span), per-customer order counts (small ints),
    # and the 64+2-bucket monetary grid - never customer rows
    "rfm_segments": "tercile maps over calendar-day / order-count / 66-bucket value tables",
    # month-over-month lag over the (year, month) aggregate - one row
    # per calendar month (~84), bounded like user_growth's day grid
    "return_rate_trend": "lag over one row per calendar month",
    # rank stamped AFTER the top-k limit - one window pass over the
    # <= 15-row skew-report head, never over join-key cardinality
    "join_skew_report": "ranks the 15-row limited skew head",
    # reverse cumulative at-risk sum over the tenure-week grid - one
    # row per distinct week (order-calendar-span/7), never customers
    "survival_tenure": "reverse cumsum over one row per tenure week",
    # top-5 + OTHER rollup: ranks the 25-row brand aggregate (brand
    # is an enum, bounded at every SF)
    "topn_with_other": "ranks the 25-row brand aggregate",
    # two-phase distributed prefix sum: the only global window runs
    # over the fixed 1024-cell range grid's subtotals (per-value
    # cumulatives are cell-partitioned local windows); plus the lag
    # over the 10-row boundary table
    "equidepth_histogram": "1024-cell grid cumsum + 10-row boundary lag",
    # watermark running max over the per-arrival-batch max table - one
    # row per micro-batch (calendar-day-bounded feed), never events
    "stream_late_drop": "running max over one row per arrival batch",
}


def _arg_groups(args: str) -> list[str]:
    """Split a formatted-explain ``Arguments:`` payload into its
    top-level ``[...]`` groups (bracket/paren nesting respected)."""
    groups, depth, start = [], 0, None
    for i, ch in enumerate(args):
        if ch in "[(":
            if ch == "[" and depth == 0:
                start = i
            depth += 1
        elif ch in "])":
            depth -= 1
            if ch == "]" and depth == 0 and start is not None:
                groups.append(args[start + 1 : i])
                start = None
    return groups


def global_windows(plan: str) -> int:
    """Count Window nodes with an EMPTY partition spec in a formatted
    plan. A partitioned Window prints three top-level argument groups
    ``[exprs], [partitionSpec], [orderSpec]``; with no partition the
    empty list is omitted and only ``[exprs], [orderSpec]`` remain -
    disambiguated from a partitioned-but-unordered window by the sort
    direction tokens in the second group."""
    import re

    n = 0
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if not re.match(r"\(\d+\) Window(InPandas)?\s*(\[|$)", ln.strip()):
            continue
        for nxt in lines[i + 1 : i + 6]:
            nxt = nxt.strip()
            if nxt.startswith("Arguments: "):
                groups = _arg_groups(nxt[len("Arguments: "):])
                if len(groups) == 2 and (
                    " ASC" in groups[1] or " DESC" in groups[1]
                ):
                    n += 1
                elif len(groups) == 1:
                    n += 1  # no partition AND no order
                break
    return n


def forward_frames(plan: str) -> int:
    """Count window frames that END at unboundedfollowing but START at
    a running bound (currentrow or an offset). Spark evaluates these
    by RE-SCANNING the partition tail for every row - O(n^2) per
    partition (the ``resample_interp`` bug class: 24.2x wall at 10x
    data, operators/timeseries.py:605 documents the engine-wide ban;
    derive forward neighbors from a DESC-ordered RUNNING frame
    instead). Whole-partition frames (unboundedpreceding ->
    unboundedfollowing) are computed once and stay legal."""
    import re

    return len(
        re.findall(
            r"specifiedwindowframe\((?:Row|Range)Frame,"
            r" (?!unboundedpreceding\$\(\))[^,]+,"
            r" unboundedfollowing\$\(\)\)",
            plan,
        )
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from etl_marketdata_downloader_archived_spark.plans import registry
    from etl_marketdata_downloader_archived_spark.session import get_spark

    spark = get_spark("explain")
    qs = registry.all_queries()

    out = [
        "# EXPLAIN — executed physical plans for the headline queries",
        "",
        f"Scale dir: `{sf_dir}`. Plans are the post-AQE final plans",
        "(queries are executed first). `*(n)` marks whole-stage-codegen",
        "spans. Red flags scanned per plan: " + ", ".join(RED_FLAGS)
        + ", quadratic forward frames (running start ->",
        "unboundedfollowing - the resample_interp bug class), and",
        "unlisted global windows (whitelist at the end).",
        "EVERY registered query is red-flag scanned; the plan trees below",
        "are printed for the headline set only.",
        "",
    ]
    flagged = []
    seen_global: dict[str, int] = {}
    seen_bhint: dict[str, list[tuple[str, str]]] = {}
    seen_udtf: dict[str, int] = {}
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # UDTF nodes are scanned under their own whitelist, not the
        # scalar row-at-a-time flag (substring overlap: the node name
        # BatchEvalPythonUDTF contains BatchEvalPython)
        scalar_plan = plan.replace("BatchEvalPythonUDTF", "")
        flags = [f for f in RED_FLAGS if f in scalar_plan]
        if "BatchEvalPythonUDTF" in plan:
            seen_udtf[name] = plan.count("BatchEvalPythonUDTF")
            if name not in UDTF_WHITELIST:
                flags.append("unlisted Python UDTF")
        ff = forward_frames(plan)
        if ff:
            flags.append(f"quadratic forward frame x{ff}")
        gw = global_windows(plan)
        if gw and name not in GLOBAL_WINDOW_WHITELIST:
            flags.append(f"unlisted global Window x{gw}")
        if gw:
            seen_global[name] = gw
        bh = broadcast_hints(df._jdf.queryExecution().analyzed().toString())
        raw = sorted({t for t, k in bh if k == "raw"})
        if raw:
            flags.append(f"forced broadcast of scaling table(s): {', '.join(raw)}")
        grouped = sorted({t for t, k in bh if k == "grouped"})
        if grouped and name not in BROADCAST_HINT_WHITELIST:
            flags.append(
                f"unlisted grouped-aggregate broadcast of scaling table(s): {', '.join(grouped)}"
            )
        if bh:
            seen_bhint[name] = bh
        if flags:
            flagged.append((name, flags))
        if name not in HEADLINE:
            continue
        out.append(f"## {name}" + (f"  — ⚠ {', '.join(flags)}" if flags else ""))
        out.append("")
        out.append("```")
        # formatted explain: keep the plan tree, drop the verbose
        # per-node details below the first blank separator
        tree = plan.split("\n\n")[0]
        out.append(tree.rstrip())
        out.append("```")
        out.append("")
    out.insert(
        10,  # after the header sentences and their trailing blank line
        f"All-query scan result: {len(qs)} queries, "
        + (f"red-flagged: {', '.join(n for n, _ in flagged)}" if flagged else "zero red flags.")
        + "\n",
    )
    out.append(NOTES)
    stale = sorted(set(GLOBAL_WINDOW_WHITELIST) - set(seen_global))
    out.append("\n## Global-window whitelist (asserted by the scan)\n")
    out.append(
        "Every `Window` with an empty partition spec must appear here"
        " with its bounded-input justification; an unlisted one FAILS"
        " the scan (exit 1). Each row's input is bounded by"
        " construction - grids, value/count tables, dimension rows -"
        " never fact rows.\n"
    )
    out.append("| query | global Windows | bounded because |")
    out.append("|---|---|---|")
    for name in sorted(seen_global):
        out.append(
            f"| `{name}` | {seen_global[name]} | "
            f"{GLOBAL_WINDOW_WHITELIST.get(name, '**UNLISTED - FAILING**')} |"
        )
    if stale:
        out.append("")
        out.append(
            "Whitelist entries with no global window in the current plans"
            f" (kept for documentation): {', '.join(sorted(stale))}."
        )

    stale_bh = sorted(set(BROADCAST_HINT_WHITELIST) - set(seen_bhint))
    out.append("\n## Broadcast-hint whitelist (asserted by the scan)\n")
    out.append(
        "A hard `F.broadcast` on a frame derived from an SF-scaling base"
        " table overrides `autoBroadcastJoinThreshold`, so at ~100x data"
        " Spark attempts the build anyway and dies at the 8 GB broadcast"
        " ceiling. The scan walks every query's ANALYZED plan: a"
        " never-aggregated scaling relation under a broadcast hint FAILS"
        " outright (no whitelist possible - drop the hint, AQE still"
        " picks BHJ while the side is genuinely small); a"
        " grouped-aggregate frame must appear here with its bounded"
        " group-domain justification; global one-row aggregates are"
        " auto-exempt.\n"
    )
    out.append("| query | hinted scaling-derived frames | bounded because |")
    out.append("|---|---|---|")
    for name in sorted(seen_bhint):
        kinds = ", ".join(f"{t} ({k})" for t, k in sorted(set(seen_bhint[name])))
        out.append(
            f"| `{name}` | {kinds} | "
            f"{BROADCAST_HINT_WHITELIST.get(name, '**UNLISTED - FAILING**')} |"
        )
    if stale_bh:
        out.append("")
        out.append(
            "Broadcast-whitelist entries with no flagged hint in the"
            f" current plans (kept for documentation): {', '.join(stale_bh)}."
        )

    stale_udtf = sorted(set(UDTF_WHITELIST) - set(seen_udtf))
    out.append("\n## Python-UDTF whitelist (asserted by the scan)\n")
    out.append(
        "`BatchEvalPythonUDTF` is the sanctioned iterative"
        " row-to-table path, distinct from the scalar row-at-a-time"
        " `BatchEvalPython` red flag - but every UDTF plan must appear"
        " here with its Python-row boundedness argument; an unlisted"
        " one FAILS the scan (exit 1).\n"
    )
    out.append("| query | UDTF nodes | bounded because |")
    out.append("|---|---|---|")
    for name in sorted(seen_udtf):
        out.append(
            f"| `{name}` | {seen_udtf[name]} | "
            f"{UDTF_WHITELIST.get(name, '**UNLISTED - FAILING**')} |"
        )
    if stale_udtf:
        out.append("")
        out.append(
            "UDTF-whitelist entries with no UDTF node in the current"
            f" plans (kept for documentation): {', '.join(stale_udtf)}."
        )

    with open(ROOT / "EXPLAIN.md", "w") as f:
        f.write("\n".join(out))
    print(
        f"wrote EXPLAIN.md ({len(out)} lines); red-flagged: {flagged or 'none'}; "
        f"global-window queries: {seen_global or 'none'}; stale whitelist: {stale or 'none'}; "
        f"broadcast-hint queries: {seen_bhint or 'none'}; stale broadcast whitelist: {stale_bh or 'none'}"
    )
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
