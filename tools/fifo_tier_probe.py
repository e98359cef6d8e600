"""Adversarial single-key mega-ledger probe for fifo_allocate's two
tiers (SCALE.md evidence; VERDICT r9 task #3).

One key holds the whole ledger, so the interval-join tier's candidate
mass is n_in x n_out IN ONE TASK (the quadratic melt the grouped tier
exists for) while the output stays <= n_in + n_out - 1. The probe
times both tiers at growing n on the same frames and prints one line
per point: n, join-tier seconds, grouped-tier seconds.

Usage: python tools/fifo_tier_probe.py [n ...]   (default 2000 8000 30000)
"""

from __future__ import annotations

import sys
from pathlib import Path
import time

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    from pyspark.sql import functions as F  # noqa: F401

    from etl_marketdata_downloader_archived_spark.operators.ledger import (
        fifo_allocate,
    )
    from etl_marketdata_downloader_archived_spark.session import get_spark

    spark = get_spark("fifo-probe")
    ns = [int(a) for a in sys.argv[1:]] or [2000, 8000, 30000]
    for n in ns:
        inflows = spark.range(n).select(
            F.lit("K").alias("k"),
            F.col("id").alias("seq"),
            (F.col("id") % 5 + 1).alias("q"),
        )
        outflows = spark.range(n).select(
            F.lit("K").alias("k"),
            F.col("id").alias("seq"),
            (F.col("id") % 3 + 1).alias("q"),
        )
        out = {}
        for tier, bound in (("join", None), ("grouped", 0)):
            t0 = time.time()
            cnt = fifo_allocate(
                inflows, outflows, ["k"], ["seq"], "q",
                max_ledger_rows=bound,
            ).count()
            out[tier] = (time.time() - t0, cnt)
        spark.catalog.clearCache()
        j, g = out["join"], out["grouped"]
        assert j[1] == g[1], (j, g)
        print(
            f"n={n}: join {j[0]:.2f}s  grouped {g[0]:.2f}s  "
            f"pairs={j[1]} (<= {2 * n - 1})",
            flush=True,
        )


if __name__ == "__main__":
    main()
