"""Empirical probe for the r15 bucketed-corpus claim: per-batch ingest
cost must track the BATCH (candidate bucket coverage), not the corpus.

Builds synthetic corpora of K and 10K docs, seeds each with its exact
posting store, then times ONE identical 20-doc micro-batch through
``start_corpus_ingest_exact`` twice per size - against a BUCKETED
corpus (``corpus_store`` `_ck` layout) and against a LEGACY
unpartitioned one. The legacy verify leg re-reads and re-shingles the
whole corpus text column per batch (the r14 verdict's finding), so its
batch time grows with corpus size; the bucketed batch reads only the
candidate/batch `_ck` buckets and should stay near-flat.

Usage: python tools/ingest_probe.py [K] [growth]
(defaults K=20000, growth=10; work dirs under /tmp/ingest_probe)
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path
import time

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402


def _doc_text(i: int) -> str:
    # ~28 words, id-keyed so most docs are mutually dissimilar
    return " ".join(
        f"w{(i * 7 + j * j) % 9973}" for j in range(28)
    )


def build(spark, root: str, n: int, bucketed: bool) -> None:
    from etl_marketdata_downloader_archived_spark.corpus_store import (
        append_corpus_rows,
        write_corpus_meta,
    )
    from etl_marketdata_downloader_archived_spark.operators.dedup import (
        word_shingles,
    )
    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        jaccard_prefix_postings,
        write_postings_meta,
    )

    shutil.rmtree(root, ignore_errors=True)
    corpus = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang_guess"),
    )
    corpus = corpus.withColumn(
        "text",
        F.udf(lambda i: _doc_text(int(i)))("doc_id"),
    ).select("doc_id", "text", "lang_guess")
    corpus = corpus.localCheckpoint()
    cdir, pdir = f"{root}/corpus", f"{root}/postings"
    write_postings_meta(spark, pdir, 0.7, buckets=64)
    jaccard_prefix_postings(
        corpus.select(
            "doc_id", word_shingles("text", 3).alias("_toks")
        ),
        "doc_id",
        "_toks",
        0.7,
        bucket_by=64,
    ).write.mode("append").partitionBy("_bk").parquet(pdir)
    if bucketed:
        write_corpus_meta(spark, cdir, 64)
        append_corpus_rows(corpus, cdir, "doc_id", 64)
    else:
        corpus.write.parquet(cdir)


def run_batch(spark, root: str, n: int) -> float:
    import json as _json
    import os

    from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
        start_corpus_ingest_exact,
    )

    src = f"{root}/src"
    os.makedirs(src, exist_ok=True)
    rows = [
        {"doc_id": n + 1000 + i, "text": _doc_text(n + 1000 + i)}
        for i in range(10)
    ] + [
        {"doc_id": n + 2000 + i, "text": _doc_text(i) + " extra"}
        for i in range(10)
    ]
    with open(f"{src}/b1.json", "w") as f:
        f.write("\n".join(_json.dumps(r) for r in rows))
    raw = spark.readStream.format("text").load(src)
    docs = raw.select(
        F.from_json("value", "doc_id LONG, text STRING").alias("j")
    ).select("j.*")
    t0 = time.time()
    q = start_corpus_ingest_exact(
        docs,
        corpus_dir=f"{root}/corpus",
        postings_dir=f"{root}/postings",
        checkpoint_dir=f"{root}/ckpt",
        jaccard_threshold=0.7,
        min_quality=0.0,
        max_stopword_ratio=1.0,
    )
    q.awaitTermination(600)
    if q.exception() is not None:
        raise RuntimeError(q.exception())
    return time.time() - t0


def main() -> int:
    from etl_marketdata_downloader_archived_spark.session import get_spark

    k = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    growth = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("ingest-probe")
    print(f"{'corpus':>10} {'mode':>9} {'batch_s':>8}")
    results = {}
    for n in (k, k * growth):
        for mode in ("bucketed", "legacy"):
            root = f"/tmp/ingest_probe/{mode}_{n}"
            build(spark, root, n, mode == "bucketed")
            t = run_batch(spark, root, n)
            results[(n, mode)] = t
            print(f"{n:>10} {mode:>9} {t:>8.2f}")
    bg = results[(k * growth, "bucketed")] / results[(k, "bucketed")]
    lg = results[(k * growth, "legacy")] / results[(k, "legacy")]
    print(
        f"growth at {growth}x corpus: bucketed {bg:.2f}x, legacy {lg:.2f}x"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
