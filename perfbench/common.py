"""Shared harness: resource envelope, session set-up, op recording,
Spark event-log attribution and statistics."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

PKG = "etl_marketdata_downloader_archived_spark"


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def rmtree(p: Path) -> None:
    shutil.rmtree(p, ignore_errors=True)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def jvm_heap() -> str:
    """A JVM heap well under host RAM: a quarter of it, at most 3g."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(512, min(3072, ram // 4 // 2**20))}m"


def cpu_ticks() -> list[int]:
    """Aggregate CPU time counters of the host (``/proc/stat``), or
    an empty list where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_share(since: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since
    ``since``: a slow run with a high share was a busy host."""
    now = cpu_ticks()
    d = [b - a for a, b in zip(since, now)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def dir_usage(*dirs: Path) -> tuple[int, int]:
    """(files, bytes) on disk under ``dirs``, checksum sidecars included."""
    files = size = 0
    for d in dirs:
        for dp, _, names in os.walk(d):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(dp, n))
    return files, size


def closed_loop(seconds: float, nominal_s: float, step) -> None:
    """Call ``step`` back to back (one client, no think time), as many
    times as ``seconds`` holds steps of ``nominal_s`` (at least once).
    The count depends only on the arguments, so every run of a workload
    measures the same ops."""
    for _ in range(max(1, round(seconds / nominal_s))):
        step()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def loop_rates(ops: list[dict]) -> tuple[float, float]:
    """(ops_per_s, op_p50_s) of a closed loop: ops over their summed
    time, and the median op time."""
    durs = [o["dur"] for o in ops]
    busy = sum(durs)
    return (len(durs) / busy if busy else 0.0), median(durs)


@dataclass
class Recorder:
    """Per-op samples of one timed window."""

    ops: list[dict] = field(default_factory=list)
    _n: int = 0

    def next_id(self) -> int:
        self._n += 1
        return self._n

    def op(self, ok: bool, dur: float, w0: float, w1: float, **fields) -> None:
        self.ops.append({"ok": ok, "dur": dur, "w0": w0, "w1": w1, **fields})


@dataclass
class Harness:
    work: Path
    cache: Path
    seed: int


class Session:
    """Builds the package's session through ``session.get_spark`` inside
    the run's work directory; with ``eventlog`` it also writes Spark's
    uncompressed, unrolled event log for attribution."""

    def __init__(self, h: Harness):
        self.h = h
        self.spark = None
        self.eventlog_dir = h.work / "events"

    def conf(self, eventlog: bool) -> dict[str, str]:
        w = self.h.work
        c = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(w / "local"),
            "spark.sql.warehouse.dir": str(w / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={w / 'tmp'} -Dderby.system.home={w / 'derby'}"
            ),
        }
        if eventlog:
            self.eventlog_dir.mkdir(parents=True, exist_ok=True)
            c.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return c

    def start(self, eventlog: bool = False) -> float:
        from etl_marketdata_downloader_archived_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self.conf(eventlog))
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM behind it, and wait for it."""
        self.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - a stuck JVM is killed
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def events(self) -> list[dict]:
        out = []
        for f in sorted(self.eventlog_dir.iterdir()):
            with open(f) as fh:
                out.extend(json.loads(line) for line in fh if line.strip())
        return out


STREAM_PARTS = ("addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")


def progress_ms(query) -> dict[str, float]:
    """``durationMs`` parts summed over the micro-batches a finished
    query reported."""
    out = dict.fromkeys(STREAM_PARTS, 0.0)
    for p in query.recentProgress:
        d = p.durationMs if hasattr(p, "durationMs") else p["durationMs"]
        for k in STREAM_PARTS:
            out[k] += float(d.get(k, 0))
    return out


def stream_metrics(ops: list[dict]) -> dict[str, float]:
    return {
        f"streaming.{k}_ms": median([o["progress"][k] for o in ops]) for k in STREAM_PARTS
    }


def cached_rdd_blocks(spark) -> int:
    """Cached RDD partitions the block manager still holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.numCachedPartitions()) for i in infos)


class EventIndex:
    """Spark event log indexed for attribution of jobs, stages and task
    metrics to job groups or wall-clock windows."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.ran: set[int] = set()
        self.tasks: dict[int, list[dict]] = {}
        for e in events:
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = {
                    "t": e.get("Submission Time", 0),
                    "stages": e.get("Stage IDs", []),
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                }
            elif ev == "SparkListenerStageSubmitted":
                self.ran.add(e["Stage Info"]["Stage ID"])
            elif ev == "SparkListenerTaskEnd":
                self.tasks.setdefault(e["Stage ID"], []).append(e.get("Task Metrics") or {})

    def _sum(self, job_ids: list[int]) -> dict[str, float]:
        stages = {s for j in job_ids for s in self.jobs[j]["stages"] if s in self.ran}
        m = {"jobs": len(job_ids), "stages": len(stages), "tasks": 0, "task_cpu_s": 0.0,
             "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for s in stages:
            for t in self.tasks.get(s, []):
                m["tasks"] += 1
                m["task_cpu_s"] += t.get("Executor CPU Time", 0) / 1e9
                m["gc_s"] += t.get("JVM GC Time", 0) / 1e3
                m["shuffle_write_bytes"] += (t.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                m["spill_bytes"] += t.get("Memory Bytes Spilled", 0) + t.get(
                    "Disk Bytes Spilled", 0
                )
        return m

    def by_group(self, group: str) -> dict[str, float]:
        return self._sum([j for j, v in self.jobs.items() if v["group"] == group])

    def by_window(self, w0: float, w1: float) -> dict[str, float]:
        lo, hi = w0 * 1000, w1 * 1000
        return self._sum([j for j, v in self.jobs.items() if lo <= v["t"] <= hi])
