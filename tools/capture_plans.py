"""Capture .explain("formatted") for named queries into $SPARK_GRAFT_PLANS_DIR (default plans/r16/).

Usage: python tools/capture_plans.py <suffix> <query> [query...]
       python tools/capture_plans.py <suffix> --timed <query> [query...]

Writes <dir>/<query>_<suffix>.txt with the POST-EXECUTION formatted
plan (the query runs through the noop sink first so AQE's final plan is
what gets recorded, same discipline as tools/explain_report.py). With
--timed, also prints a min-of-3 cold-cache wall per query (the bench.py
methodology: noop sink, clearCache between runs) so a plan capture
doubles as a solo measurement.
"""

from __future__ import annotations

import io
import os
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

OUT_DIR = os.environ.get("SPARK_GRAFT_PLANS_DIR", str(ROOT / "plans" / "r16"))


def main() -> None:
    args = sys.argv[1:]
    suffix = args.pop(0)
    timed = False
    if args and args[0] == "--timed":
        timed = True
        args.pop(0)
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from etl_marketdata_downloader_archived_spark.plans import registry
    from etl_marketdata_downloader_archived_spark.session import get_spark

    spark = get_spark("capture-plans")
    qs = registry.all_queries()
    os.makedirs(OUT_DIR, exist_ok=True)

    # warm-up (the bench.py discipline): JVM/codegen spin-up and first
    # parquet footer reads land outside every timed sample
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"capture: {name}")
        samples = []
        runs = 3 if timed else 1
        for _ in range(runs):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {sf_dir} ({suffix})\n")
            if timed:
                f.write(
                    f"-- wall seconds (noop sink, cold-cache): min={min(samples):.3f}"
                    f" samples={[round(s, 3) for s in samples]}\n"
                )
            f.write(buf.getvalue())
        msg = f"wrote {path}"
        if timed:
            msg += f"  min={min(samples):.3f}s {[round(s, 3) for s in samples]}"
        print(msg)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
