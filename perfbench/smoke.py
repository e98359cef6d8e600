"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload on its smallest inputs (sf0.001 lake, 1 KiB remote
files, 20-document batches), untraced and traced, and checks that each
run exits 0, passes its output checks, and prints exactly the metrics
that BENCHMARK.json names, each with its unit. Takes about five
minutes on 4 cores.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402

WORKLOADS = ("lake_queries", "ingest_ticks", "corpus_stream")


def expected(spec: dict, workload: str, trace: int) -> dict[str, str]:
    if trace == 0:
        return {m["name"]: m["unit"] for m in spec["end_to_end"]}
    listed = {m["name"]: m["unit"] for m in spec["per_layer"]}
    extra = {k: u for k, (u, _) in run.per_layer_units(workload).items() if k not in listed}
    return {**listed, **extra}


def main() -> int:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    bad = []
    for wl in WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", wl, "--seed", "7",
                 "--seconds", "2", "--trace", str(trace), "--smoke"],
                capture_output=True, text=True, timeout=300, cwd=HERE.parent,
            )
            lines = p.stdout.strip().splitlines()
            try:
                out = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                out = {}
            got = {k: v.get("unit") for k, v in out.get("metrics", {}).items()}
            want = expected(spec, wl, trace)
            problems = []
            if p.returncode != 0:
                problems.append(f"exit {p.returncode}: {p.stderr[-2000:]}")
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"keys {sorted(out)}")
            if not out.get("correct") or out.get("failed") != 0 or out.get("attempted", 0) < 1:
                problems.append(f"checks: {({k: out.get(k) for k in ('correct', 'attempted', 'failed')})}")
            if got != want:
                diff = sorted(set(got.items()) ^ set(want.items()))
                problems.append(f"metrics differ from BENCHMARK.json: {diff[:10]}")
            print(f"{wl} trace={trace}: {'ok' if not problems else 'FAIL'}", flush=True)
            bad += [f"{wl} trace={trace}: {x}" for x in problems]
    for b in bad:
        print(b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
