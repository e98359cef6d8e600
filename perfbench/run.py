"""Benchmark runner for the spark-graft engine.

    python3 perfbench/run.py --workload lake_queries --seed 1 --seconds 12 --trace 0

Runs one workload as a closed loop with one client on
``local[<host cpus>]``, checks the outputs, and prints one JSON line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics (from
Spark's event log and the workload's own counters) with ``--trace 1``.
Everything it writes lives under ``.perfbench/`` at the repository
root, and the run directory is removed on exit. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from pathlib import Path

import common

# one JVM launch, then restarts of the session inside that JVM
SETUP_REPS = 5

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "store_amp": "ratio",
}

_OPS = ("jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")


def per_layer_units(workload: str = "") -> dict[str, tuple[str, str]]:
    """Per-layer metric -> (unit, better). The corpus_* metrics exist
    only for the corpus_stream workload."""
    import lake

    def unit(k: str) -> str:
        return "s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count"

    low = "lower"
    u = {
        "session.start_s": ("s", low),
        "session.warmup_s": ("s", low),
        "session.cold_s": ("s", low),
        "trace_overhead": ("ratio", low),
    }
    u.update({f"ops.{k}": (unit(k), low) for k in _OPS})
    for kind in ("light", "heavy", *lake.HEAVY):
        u.update({f"plans.{kind}.{k}": (unit(k), low) for k in lake.PLAN_KEYS})
    for q in lake.HEAVY:
        u.update({f"operators.{q}.{k}": (unit(k), low) for k in lake.OPERATOR_KEYS})
    u.update({
        "plans.leaked_rdd_blocks": ("count", low),
        "harvester.s": ("s", low),
        "downloader.candidates": ("count", low),
        "downloader.landed": ("count", "higher"),
        "downloader.dedup_hits": ("count", low),
        "downloader.quarantined": ("count", low),
        "downloader.useful_ratio": ("ratio", "higher"),
        "io.files_written": ("count", low),
        "io.bytes_written": ("bytes", low),
    })
    u.update({f"streaming.{k}_ms": ("ms", low) for k in common.STREAM_PARTS})
    if workload == "corpus_stream":
        u.update({
            "corpus_store.corpus_files": ("count", low),
            "corpus_store.postings_files": ("count", low),
            "corpus_ingest.admitted": ("count", "higher"),
            "corpus_ingest.rejected": ("count", low),
            "corpus_ingest.batch_growth": ("ratio", low),
        })
    return u


def make_workload(name: str, h: common.Harness, smoke: bool):
    import corpus
    import ingest
    import lake

    if name == "lake_queries":
        return lake.LakeQueries(h, scale=0.001 if smoke else lake.SCALE)
    if name == "ingest_ticks":
        return ingest.IngestTicks(h, payload_kb=1 if smoke else 8)
    if name == "corpus_stream":
        return corpus.CorpusStream(h, n_docs=600 if smoke else 5000,
                                   batch_docs=20 if smoke else 100)
    raise SystemExit(f"unknown workload {name!r}")


def warm_up(spark) -> None:
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()


def measure(args, h: common.Harness, sess: common.Session) -> dict:
    wl = make_workload(args.workload, h, args.smoke)
    wl.prepare()
    setups = []
    for i in range(SETUP_REPS):
        if i:
            sess.stop()
        start_s = sess.start()
        t0 = time.perf_counter()
        warm_up(sess.spark)
        setups.append((start_s, time.perf_counter() - t0))
    common.log(f"set-up (start, warm-up) s: {[(round(a, 3), round(b, 3)) for a, b in setups]}")
    wl.prime(sess.spark)
    common.log("untimed first op(s) done")

    rec = common.Recorder()
    base = common.Recorder()
    ticks = common.cpu_ticks()
    if args.trace:
        # half the window untraced, half traced in a fresh session with
        # the event log on; the ratio of the two rates is the overhead
        wl.run(sess.spark, base, args.seconds / 2, traced=False)
        sess.stop()
        sess.start(eventlog=True)
        wl.run(sess.spark, rec, args.seconds / 2, traced=True)
        sess.stop()
    else:
        wl.run(sess.spark, rec, args.seconds, traced=False)
    common.log(f"host CPU time stolen during the timed ops: {common.steal_share(ticks):.1%}")
    all_ops = base.ops + rec.ops
    failed, primed_ok = wl.check(all_ops)
    durs = [o["dur"] for o in rec.ops]
    ops_per_s, op_p50_s = wl.rates(rec.ops)
    common.log(
        f"{args.workload}: {len(rec.ops)} ops, ops_per_s {ops_per_s:.4f}, op_p50_s {op_p50_s:.4f}, "
        f"max {max(durs):.4f} s, {failed} failed of {len(all_ops)}; "
        f"op seconds {[round(d, 3) for d in durs]}"
    )
    out = {
        "correct": failed == 0 and primed_ok,
        "attempted": len(all_ops),
        "failed": failed,
    }
    if not args.trace:
        out["metrics"] = {
            "setup_s": common.median([a + b for a, b in setups]),
            "ops_per_s": ops_per_s,
            "op_p50_s": op_p50_s,
            "store_amp": wl.store_amp(),
        }
        units = END_TO_END
    else:
        idx = common.EventIndex(sess.events())
        per_op = [idx.by_window(o["w0"], o["w1"]) for o in rec.ops]
        units = {k: u for k, (u, _) in per_layer_units(args.workload).items()}
        m = dict.fromkeys(units, 0.0)
        m.update({
            "session.start_s": common.median([a for a, _ in setups]),
            "session.warmup_s": common.median([b for _, b in setups]),
            "session.cold_s": sum(setups[0]),
            "trace_overhead": wl.rates(base.ops)[0] / ops_per_s - 1,
        })
        m.update({f"ops.{k}": common.median([p[k] for p in per_op]) for k in _OPS})
        if args.workload != "lake_queries":
            m.update(common.stream_metrics(rec.ops))
        m.update(wl.layer_metrics(rec.ops, all_ops, idx))
        out["metrics"] = m
    out["metrics"] = {k: {"value": float(v), "unit": units[k]} for k, v in out["metrics"].items()}
    return out


def record_digests(h: common.Harness, sess: common.Session) -> None:
    import lake

    sess.start()
    path = lake.DIGESTS
    data = json.loads(path.read_text()) if path.exists() else {}
    for scale in (lake.SCALE, 0.001):
        data[f"sf{scale}"] = lake.record_digests(h, sess.spark, scale)
    path.write_text(json.dumps(data, indent=1, sort_keys=True) + "\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="lake_queries")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="smallest inputs (sf0.001, tiny remote)")
    ap.add_argument("--record-digests", action="store_true",
                    help="re-record lake query digests into digests.json and exit")
    args = ap.parse_args(argv)

    root = Path(__file__).resolve().parent.parent
    if not (root / common.PKG / "__init__.py").is_file():
        common.log(f"no {common.PKG} package next to {Path(__file__).parent.name}/")
        return 2
    sys.path.insert(0, str(root))

    # resource envelope: every core, a JVM heap under host RAM,
    # scratch inside the checkout
    base = root / ".perfbench"
    work = base / f"run-{args.workload}-{os.getpid()}"
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        # no JVM perf-data files under /tmp
        "JAVA_TOOL_OPTIONS": (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip(),
        "SPARK_GRAFT_CPUS": str(common.host_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": common.jvm_heap(),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    common.log(
        f"envelope: local[{os.environ['SPARK_GRAFT_CPUS']}], heap "
        f"{os.environ['SPARK_GRAFT_DRIVER_MEM']}, one client, closed loop"
    )
    h = common.Harness(work=work, cache=base / "cache", seed=args.seed)
    sess = common.Session(h)
    try:
        if args.record_digests:
            record_digests(h, sess)
            return 0
        out = measure(args, h, sess)
    finally:
        sess.shutdown()
        common.rmtree(work)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
