"""Per-tick Spark job breakdown of the ``ingest_ticks`` workload.

    python3 tools/tick_profile.py                 # 5 ticks, seed 7
    python3 tools/tick_profile.py --ticks 8 --seed 3

Drives the benchmark's own ingest workload (``perfbench/ingest.py``,
imported unchanged): builds the seeded ``file://`` remote and catalog,
then runs N scheduler ticks (read_catalog -> harvest -> task file ->
``start_lake_sink`` with ``availableNow``) in one session that writes
Spark's uncompressed event log. For each tick it prints the tick's
wall time and job count, then one line per Spark job submitted inside
the tick's window:

    job <id>  +<ms>  sql <execution id>  tasks <n>  <ms> ms  <root node>: <stage operators>

``+<ms>`` is the job's submission time from the start of the tick, so
the gaps between jobs show the driver-side time (planning, Python).
``sql -`` marks a job outside any SQL execution (an RDD action). The
stage operators are the RDD-scope names of the stages the job actually
ran (skipped stages, whose shuffle output was reused, are left out), in
stage order. The first tick creates the lake, manifest and checkpoint
and runs on a cold JVM; warm ticks are the later ones. The run also
checks the landed and quarantined sets the way the benchmark does and
prints ``check: ok`` or the number of ticks that differ.

Everything it writes lives under ``.perfbench/`` at the repository
root and is removed on exit. Standard library plus the package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _index(events: list[dict]) -> tuple[dict, dict, dict, dict]:
    """jobs, stage operators, tasks per stage and SQL root nodes from
    an event log."""
    jobs: dict[int, dict] = {}
    ops: dict[int, list[str]] = {}
    ran: dict[int, int] = {}
    roots: dict[int, str] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "t0": e.get("Submission Time", 0),
                "t1": None,
                "stages": e.get("Stage IDs", []),
                "sql": props.get("spark.sql.execution.id"),
            }
            for s in e.get("Stage Infos", []):
                names: list[str] = []
                for r in sorted(s.get("RDD Info", []), key=lambda r: r.get("RDD ID", 0)):
                    scope = r.get("Scope")
                    name = json.loads(scope).get("name") if scope else r.get("Name")
                    if name and name not in names:
                        names.append(name)
                ops[s["Stage ID"]] = names
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["t1"] = e.get("Completion Time")
        elif ev == "SparkListenerTaskEnd":
            ran[e["Stage ID"]] = ran.get(e["Stage ID"], 0) + 1
        elif ev.endswith("SparkListenerSQLExecutionStart"):
            info = e.get("sparkPlanInfo") or {}
            roots[e.get("executionId")] = info.get("nodeName", "")
    return jobs, ops, ran, roots


def _report(tick: dict, idx: tuple[dict, dict, dict, dict]) -> list[str]:
    jobs, ops, ran, roots = idx
    lo, hi = tick["w0"] * 1000, tick["w1"] * 1000
    mine = sorted(j for j, v in jobs.items() if lo <= v["t0"] <= hi)
    lines = [f"tick {tick['tick']}: {tick['dur']:.3f} s, {len(mine)} jobs"]
    for j in mine:
        v = jobs[j]
        stages = [s for s in v["stages"] if s in ran]
        names = [n for s in stages for n in ops.get(s, [])]
        ms = (v["t1"] - v["t0"]) if v["t1"] else -1
        sql = v["sql"] if v["sql"] is not None else "-"
        root = roots.get(int(sql), "") if sql != "-" else "rdd"
        tasks = sum(ran[s] for s in stages)
        lines.append(
            f"  job {j:4d}  +{v['t0'] - lo:5.0f}  sql {sql:>4}  tasks {tasks:3d}  "
            f"{ms:6d} ms  {root}: {' > '.join(names)}"
        )
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ticks", type=int, default=5)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]
    import common  # perfbench/common.py
    import ingest  # perfbench/ingest.py

    base = ROOT / ".perfbench"
    base.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="tick-profile-", dir=base))
    for d in ("tmp", "local"):
        (work / d).mkdir()
    # the benchmark's envelope: every core, a heap under host RAM,
    # scratch inside the work directory; Python workers import the
    # package from this checkout whatever the working directory
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(common.host_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": common.jvm_heap(),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
    })
    tempfile.tempdir = None
    sess = common.Session(common.Harness(work=work, cache=base / "cache", seed=args.seed))
    try:
        wl = ingest.IngestTicks(sess.h)
        wl.prepare()
        sess.start(eventlog=True)
        ticks = [wl._tick(sess.spark, traced=False) for _ in range(args.ticks)]
        sess.stop()
        wl.primed = []
        failed, _ = wl.check(ticks)
        idx = _index(sess.events())
        for t in ticks:
            print("\n".join(_report(t, idx)))
        print("check: ok" if failed == 0 else f"check: {failed} ticks differ")
    finally:
        sess.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
