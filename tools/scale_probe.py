"""Empirical scaling probe: replicate the sf0.1 tables KX with remapped
ids, run the heaviest operator families on both sizes, and report the
wall-time growth ratio per query.

Why: the per-sf bench can't distinguish "fixed overhead" from "real
work growth" - a query that is 90% job-scheduling constant at sf0.1
looks flat until the data actually grows. A family whose ratio is far
above K at KX data has a super-linear term (quadratic bucket, driver
collect, iteration count scaling with n) that would detonate at 100 TB.
Candidate-pair growth in the near-dup families is corpus-dependent
(replication multiplies within-bucket collisions), so ratios modestly
above K there mean MORE DUPLICATES FOUND, not super-linear compute; the
red flag is a ratio >> K^2 or an OOM/driver stall.

Usage: python tools/scale_probe.py [K] [query ...]
Writes replicas under /tmp/scale_probe/xK/ (reused if present), prints
one line per query: name, t(sf0.1), t(xK), ratio.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path
import time

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

BASE = "/root/testdata/sf0.1"

# Heavy families worth probing: near-dup (banded LSH + connected
# components), exact-verify ngram jaccard, LM train+score, corpus
# clean (gates + decontam), ANN panel (RP-LSH + IVF), grouped UDAF.
DEFAULT_QUERIES = [
    "dedup_near_panel",
    "dedup_ngram_jaccard",
    "lm_perplexity",
    "corpus_clean",
    "text_analysis",
    "sim_ann_panel",
    "dedup_exact",
    "bm25_topk",
    "fuzzy_join",
    "sessionize_stats",
    "session_concurrency",
    "path_topk",
    "snapshot_diff",
    "profile_events",
    "auc_daily",
    "lift_deciles",
    "drift_monitor_batch",
    "anomaly_mad",
]

# Tables the probe queries touch; replicated with id remapping so
# replicas are DISTINCT rows (not trivial exact duplicates) except for
# the text/embedding payloads, which near-dup families are SUPPOSED to
# collapse across replicas.
REPLICATED = {
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "event_id",
    "orders": "o_orderkey",
    # lineitem remaps l_orderkey in ORDERS' key domain so the
    # fact-fact join stays consistent across replicas; part/supp keys
    # stay dim-ranged (replicas add parallel edges, the realistic
    # heavier-graph shape)
    "lineitem": "l_orderkey",
    # customers grow WITH orders (o_custkey is remapped into the
    # replicated domain below): per-customer aggregates - lifetime
    # spend, LTV quintiles - must see cardinality GROWTH at Kx, not K
    # copies of the same per-customer totals (r7 verdict: a replica
    # that keeps custkeys fixed only multiplies WEIGHTS, so
    # distinct-spend windows look flat while real growth would not be)
    "customer": "c_custkey",
}


def build_replica(spark, k: int) -> str:
    from pyspark.sql import functions as F

    from etl_marketdata_downloader_archived_spark.io import load_table

    # r8 suffix: customer joined the replicated set (cache-busts
    # pre-r8 replica dirs, which symlinked customer to the base dim)
    out_dir = f"/tmp/scale_probe/x{k}r8"

    def _link_dims() -> None:
        # non-replicated tables (dimensions) symlink to the base
        # copies so ANY registered query runs against the replica dir
        # - dims growing slower than facts is the realistic shape
        for fname in os.listdir(BASE):
            if not fname.endswith(".parquet"):
                continue
            dst = os.path.join(out_dir, fname)
            if not os.path.exists(dst):
                os.symlink(os.path.join(BASE, fname), dst)

    if all(
        os.path.exists(os.path.join(out_dir, f"{t}.parquet"))
        for t in REPLICATED
    ):
        _link_dims()
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for table, id_col in REPLICATED.items():
        df = load_table(spark, BASE, table)
        n = df.agg(F.max(id_col)).collect()[0][0] + 1
        if table == "lineitem":
            # share orders' key domain (every order has lines, but pin
            # the domain explicitly rather than relying on it)
            n = (
                load_table(spark, BASE, "orders")
                .agg(F.max("o_orderkey")).collect()[0][0] + 1
            )
        rep = df.crossJoin(
            spark.range(k).withColumnRenamed("id", "_rep")
        ).withColumn(id_col, F.col(id_col) + F.col("_rep") * n)
        if table == "orders":
            # keep the orders->customer FK valid per replica: replica
            # r's orders belong to replica r's customers
            n_cust = (
                load_table(spark, BASE, "customer")
                .agg(F.max("c_custkey")).collect()[0][0] + 1
            )
            rep = rep.withColumn(
                "o_custkey", F.col("o_custkey") + F.col("_rep") * n_cust
            ).withColumn(
                # shift replica prices by _rep cents: WITHOUT this,
                # replica customers carry bit-identical lifetime
                # spend and per-customer VALUE tables (distinct spend,
                # quintile window inputs) stay at 1x cardinality -
                # the probe would only multiply tie weights
                "o_totalprice",
                F.col("o_totalprice") + F.col("_rep").cast("double") / 100.0,
            )
        if table == "events":
            # shift replica timestamps so event-time ops see a longer
            # history, not k copies of the same instant
            rep = rep.withColumn(
                "ts", F.col("ts") + F.make_dt_interval(days=F.col("_rep") * 40)
            )
        rep.drop("_rep").write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{table}.parquet")
        )
    _link_dims()
    return out_dir


def pipeline_ext_fn(spark):
    """The EXTENDED composed training pipeline (r14: model quality gate
    + substring-span tier wired in) as a probe-able callable. Not a
    registered battery query - it composes stages that are each
    benchmarked on their own; the probe's job is the COMPOSITION's
    growth ratio. The quality model trains ONCE on fixed synthetic
    seeds so both scales measure the same inference pass, not
    training-set growth."""
    import random

    from etl_marketdata_downloader_archived_spark.io import load_table
    from etl_marketdata_downloader_archived_spark.operators.quality_model import (
        train_quality_classifier,
    )
    from etl_marketdata_downloader_archived_spark.plans.corpus_pipeline import (
        prepare_training_corpus,
    )

    rng = random.Random(14)
    vocab = [f"seed{i:03d}" for i in range(300)]
    spam = "click buy free offer winner prize casino jackpot deal".split()
    good = spark.createDataFrame(
        [(" ".join(rng.sample(vocab, 30)),) for _ in range(64)], ["text"]
    )
    bad = spark.createDataFrame(
        [(" ".join(rng.choices(spam, k=30)),) for _ in range(64)], ["text"]
    )
    model = train_quality_classifier(good, bad)

    target = spark.createDataFrame(
        [(10_000 + i, " ".join(rng.sample(vocab, 30))) for i in range(64)],
        ["doc_id", "text"],
    )

    def fn(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        n = docs.count()
        out = prepare_training_corpus(
            docs,
            quality_model=model,
            min_model_quality=0.1,
            span_tokens=10,
            max_tokens=1024,
            dsir_target=target,
            dsir_keep=max(1, (n * 9) // 10),  # keep 90%: selection
            # pressure without starving the downstream stages
        )
        return out["packs"]

    return fn


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    names = sys.argv[2:] or DEFAULT_QUERIES

    from etl_marketdata_downloader_archived_spark.plans import registry
    from etl_marketdata_downloader_archived_spark.session import get_spark

    spark = get_spark("scale_probe")
    qs = registry.all_queries()
    if "training_pipeline_ext" in names:
        # lazy: fitting the seed classifier costs real driver work -
        # don't pay it on probes that never run the pipeline
        qs["training_pipeline_ext"] = pipeline_ext_fn(spark)
    rep_dir = build_replica(spark, k)

    def run(fn, sf_dir: str) -> float:
        best = float("inf")
        for _ in range(2):  # min-of-2: shave warm-up/noise
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            # cold-cache rule (bench.py): persisted multi-consumer
            # stages must not leak into the next sample or query
            spark.catalog.clearCache()
        return best

    print(f"{'query':24s} {'t_sf0.1':>8s} {f't_x{k}':>8s} {'ratio':>6s}")
    worst = 0.0
    for name in names:
        fn = qs[name]
        t1 = run(fn, BASE)
        tk = run(fn, rep_dir)
        ratio = tk / t1 if t1 > 0 else float("inf")
        worst = max(worst, ratio)
        print(f"{name:24s} {t1:8.2f} {tk:8.2f} {ratio:5.1f}x", flush=True)
    print(f"max growth at {k}x data: {worst:.1f}x")


if __name__ == "__main__":
    main()
