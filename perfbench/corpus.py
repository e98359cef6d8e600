"""The `corpus_stream` workload: streaming exact-Jaccard admission of
documents into a corpus and posting store that grow with every batch.

The document stream is bag-of-vocabulary text (as in the lake's
``documents``) with seeded near-duplicates: copies with a few words
replaced, some above and some below the admission threshold.
"""

from __future__ import annotations

import json
import random
import time
from collections import defaultdict
from pathlib import Path

import numpy as np
import pyarrow.dataset as ds

import common
import lake

THRESHOLD = 0.7
SHINGLE_N = 3
_Q = 1_000_000
# the gate stages run, but pass every document, so that admission is
# exactly the Jaccard rule the reference below implements
GATE = {
    "languages": ("en", "de", "fr", "es", "zh", "unknown"),
    "min_quality": 0.0,
    "max_stopword_ratio": 1.0,
}
TICK_TIMEOUT_S = 90


def shingles(text: str, n: int = SHINGLE_N) -> frozenset[str]:
    w = text.split(" ")
    return frozenset(" ".join(w[i:i + n]) for i in range(len(w) - n + 1))


def reference_admission(batches: list[list[tuple[int, str]]]) -> list[set[int]]:
    """One document at a time, batches in order and ids ascending within
    a batch: admit a document unless an admitted one has Jaccard >=
    THRESHOLD with it (exact rational test, as the kernel does)."""
    p = round(THRESHOLD * _Q)
    admitted: list[frozenset[str]] = []
    index: dict[str, list[int]] = defaultdict(list)
    out = []
    for batch in batches:
        got = set()
        for doc_id, text in sorted(batch):
            s = shingles(text)
            cands = {j for g in s for j in index[g]}
            if any(_Q * len(s & admitted[j]) >= p * len(s | admitted[j]) for j in cands):
                continue
            got.add(doc_id)
            for g in s:
                index[g].append(len(admitted))
            admitted.append(s)
        out.append(got)
    return out


def make_stream(seed: int, n_docs: int, near_share: float = 0.15) -> list[str]:
    """Documents in arrival order: ``near_share`` of them are copies of
    an earlier document with 1-5 words replaced."""
    rng = np.random.default_rng(seed)
    base = lake.documents_text(rng, n_docs)
    vocab = lake.VOCAB
    out: list[str] = []
    for t in base:
        out.append(t)
        if rng.random() < near_share:
            w = out[int(rng.integers(0, len(out)))].split(" ")
            for _ in range(int(rng.integers(1, 6))):
                w[int(rng.integers(0, len(w)))] = vocab[int(rng.integers(0, len(vocab)))]
            out.append(" ".join(w))
    return out


class CorpusStream:
    """Closed loop, one client: one micro-batch file per op, ingested
    with ``availableNow`` into the growing store."""

    name = "corpus_stream"
    nominal_op_s = 15.0  # one 100-document batch on 4 cores
    rates = staticmethod(common.loop_rates)

    def __init__(self, h: common.Harness, n_docs: int = 5000, batch_docs: int = 100):
        self.h = h
        self.n_docs, self.batch_docs = n_docs, batch_docs
        w = h.work / "corpus"
        self.staged, self.inbox = w / "staged", w / "in"
        self.corpus, self.postings, self.ckpt = w / "corpus", w / "postings", w / "ckpt"
        self.batches: list[list[tuple[int, str]]] = []
        self.tick = 0

    def prepare(self) -> None:
        texts = make_stream(self.h.seed, self.n_docs)
        # a random offset into the id space, so seeds also differ in ids
        off = random.Random(self.h.seed).randrange(1_000_000) * 10_000
        docs = [(off + i, t) for i, t in enumerate(texts)]
        self.staged.mkdir(parents=True, exist_ok=True)
        self.inbox.mkdir(parents=True, exist_ok=True)
        for b in range(0, len(docs), self.batch_docs):
            batch = docs[b:b + self.batch_docs]
            self.batches.append(batch)
            with open(self.staged / f"batch-{len(self.batches) - 1:05d}.json", "w") as f:
                for doc_id, text in batch:
                    f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    def _tick(self, spark) -> dict:
        from etl_marketdata_downloader_archived_spark.streaming.corpus_ingest import (
            start_corpus_ingest_exact,
        )

        i = self.tick
        if i >= len(self.batches):
            raise RuntimeError("document stream exhausted; raise n_docs")
        self.tick += 1
        name = f"batch-{i:05d}.json"
        (self.staged / name).rename(self.inbox / name)
        w0, t0 = time.time(), time.perf_counter()
        docs = spark.readStream.schema("doc_id long, text string").json(str(self.inbox))
        q = start_corpus_ingest_exact(
            docs, str(self.corpus), str(self.postings), str(self.ckpt),
            jaccard_threshold=THRESHOLD, shingle_n=SHINGLE_N, **GATE,
        )
        ok = q.awaitTermination(TICK_TIMEOUT_S)
        if not ok:
            q.stop()
        if q.exception() is not None:
            common.log(f"batch {i} failed: {q.exception()}")
            ok = False
        return {"ok": bool(ok), "dur": time.perf_counter() - t0, "w0": w0, "w1": time.time(),
                "tick": i, "progress": common.progress_ms(q)}

    def prime(self, spark) -> None:
        """One untimed batch: the first batch creates the store."""
        self.primed = self._tick(spark)

    def run(self, spark, rec: common.Recorder, seconds: float, traced: bool) -> None:
        def step() -> None:
            r = self._tick(spark)
            rec.op(r.pop("ok"), r.pop("dur"), r.pop("w0"), r.pop("w1"), **r)

        common.closed_loop(seconds, self.nominal_op_s, step)

    def check(self, ops: list[dict]) -> tuple[int, bool]:
        # the bucket directories (_ck=...) start with "_", which
        # pyarrow skips by default
        corpus = ds.dataset(self.corpus, format="parquet", partitioning="hive",
                            ignore_prefixes=[".", "_meta", "_SUCCESS"])
        got = set(corpus.to_table(columns=["doc_id"]).column("doc_id").to_pylist())
        want = reference_admission(self.batches[:self.tick])
        self.admitted = []
        good = []
        for i, batch in enumerate(self.batches[:self.tick]):
            ids = {d for d, _ in batch}
            self.admitted.append(len(got & ids))
            good.append(got & ids == want[i])
            if not good[-1]:
                common.log(f"batch {i}: admitted {sorted(got & ids ^ want[i])[:5]}... differ")
        self.payload = sum(
            len(t.encode()) for b in self.batches[:self.tick] for d, t in b if d in got
        )
        failed = sum(1 for o in ops if not (o["ok"] and good[o["tick"]]))
        return failed, self.primed["ok"] and good[self.primed["tick"]]

    def store_amp(self) -> float:
        _, disk = common.dir_usage(self.corpus, self.postings)
        return disk / self.payload

    def layer_metrics(self, ops: list[dict], all_ops: list[dict], idx) -> dict[str, float]:
        def data_files(d: Path) -> int:
            return sum(1 for _ in d.rglob("*.parquet"))

        m = common.median
        return {
            "corpus_store.corpus_files": data_files(self.corpus),
            "corpus_store.postings_files": data_files(self.postings),
            "corpus_ingest.admitted": m([self.admitted[o["tick"]] for o in ops]),
            "corpus_ingest.rejected": m(
                [len(self.batches[o["tick"]]) - self.admitted[o["tick"]] for o in ops]
            ),
            "corpus_ingest.batch_growth": batch_growth([o["dur"] for o in all_ops]),
        }


def batch_growth(durs: list[float]) -> float:
    """Median batch time of the last quarter of batches over that of
    the first quarter."""
    k = max(1, len(durs) // 4)
    return common.median(durs[-k:]) / common.median(durs[:k])
