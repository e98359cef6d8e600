"""The `lake_queries` workload: a fixed read-only query mix over a
synthetic star-schema lake.

The lake is generated once per scale from a fixed seed (the analogue
of a TPC-H dbgen seed) so that result digests can be recorded once and
checked on every run; the run's ``--seed`` shuffles the order in which
each pass issues the queries.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import random
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import common

LAKE_SEED = 20240101
SCALE = 0.01

# bench.py's HEADLINE queries: cheap at this scale, so they expose the
# fixed cost per job of `session` and `plans`
LIGHT = [
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
]
# one of the registry's heavy queries: shuffles and the localCheckpoint
# frames of `operators.fuzzy`. The other heavy queries are left out:
# each costs 5-8 s of a run (a cold execution in the check pass, then
# the timed ones), and a run must stay near 35 s on a quiet host for 48
# of them to fit in under an hour on a busy one, which runs them at
# half that speed.
HEAVY = [
    "jaccard_prefix_join",
]
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
DIGESTS = Path(__file__).with_name("digests.json")
PLAN_KEYS = ("build_s", "exec_s", "build_jobs", "exec_jobs", "stages", "tasks")
OPERATOR_KEYS = ("task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _ts(days: np.ndarray, base: dt.datetime) -> pa.Array:
    micros = (days * 86_400_000_000).astype("int64") + int(
        base.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000
    )
    return pa.array(micros, pa.timestamp("us"))


def generate_lake(out: Path, scale: float, seed: int = LAKE_SEED) -> None:
    """Write the ten lake tables as parquet under ``out``, with the
    schemas of ``schemas.DRIVER_TABLES`` and TPC-H-like value spreads."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(int(10_000 * scale), 10)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), int(20_000 * scale)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["red", "hot", "blue", "new", "large", "small", "old", "green"])
    noun = np.array(["ring", "bolt", "anvil", "rod", "gear", "nut", "pipe", "valve"])
    ptypes = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)]
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    base = dt.datetime(1995, 1, 1)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(rng.integers(0, 2405, n_ord).astype("float64"), base),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    okeys = np.sort(rng.integers(0, n_ord, n_line)).astype("int64")
    t["lineitem"] = pa.table({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(1, 2500, n_line).astype("float64"), base),
    })
    ev_days = np.sort(rng.uniform(0, 30, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ev_days, dt.datetime(2024, 1, 1)),
        "user_id": rng.integers(0, max(int(15_000 * scale), 10), n_ev).astype("int64"),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = documents_text(rng, n_doc)
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    out.mkdir(parents=True, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, out / f"{name}.parquet", compression="zstd")


def documents_text(rng: np.random.Generator, n: int, dup_share: float = 0.05) -> list[str]:
    """Bag-of-vocabulary documents of 10-100 words; ``dup_share`` of
    them copy an earlier document with one word appended."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return texts


def ensure_lake(cache: Path, scale: float) -> Path:
    """Generate the lake into ``cache`` unless a complete copy is there."""
    lake = cache / f"lake-sf{scale}-seed{LAKE_SEED}"
    if not (lake / "_COMPLETE").exists():
        tmp = lake.with_name(lake.name + f".tmp{time.time_ns()}")
        generate_lake(tmp, scale)
        (tmp / "_COMPLETE").write_text("")
        try:
            tmp.rename(lake)
        except OSError:  # another run finished first
            common.rmtree(tmp)
    return lake


def _canon(v: object) -> object:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def digest(df) -> tuple[int, str]:
    """Row count and an order-independent digest of a result frame:
    the sum, mod 2**64, of a hash of each row with floats rounded to
    six significant digits."""
    rows = df.toArrow().to_pylist()
    acc = 0
    for r in rows:
        h = hashlib.blake2b(repr(_canon(tuple(r.values()))).encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "big")) % (1 << 64)
    return len(rows), f"{acc:016x}"


class LakeQueries:
    """Closed loop, one client: an untimed check pass over LIGHT +
    HEAVY, then timed passes of each query once, in seeded order; noop
    sink and ``clearCache()`` after each query."""

    name = "lake_queries"
    # time budgeted per timed pass: a warm pass takes ~3.4 s on 4 quiet
    # cores, so --seconds 12 times three passes
    nominal_op_s = 4.0

    def __init__(self, h: common.Harness, scale: float = SCALE):
        self.h = h
        self.scale = scale
        self.lake = ""
        self.qs: dict = {}
        self.order: list[str] = []

    def prepare(self) -> None:
        self.lake = str(ensure_lake(self.h.cache, self.scale))
        rng = random.Random(self.h.seed)
        self.order = rng.sample(LIGHT + HEAVY, len(LIGHT) + len(HEAVY))
        self.timed = rng.sample(self.order, len(self.order))

    def prime(self, spark) -> None:
        """Untimed check pass (it also warms the JIT for the timed
        passes): each query's row count and digest against the
        recorded ones."""
        from etl_marketdata_downloader_archived_spark.plans import registry

        self.qs = registry.all_queries()
        recorded = json.loads(DIGESTS.read_text()).get(f"sf{self.scale}", {})
        self.bad: set[str] = set()
        for name in self.order:
            ok = False
            t0 = time.perf_counter()
            try:
                n, d = digest(self.qs[name](spark, self.lake))
                common.log(f"checked {name} in {time.perf_counter() - t0:.2f} s")
                want = recorded.get(name)
                ok = want is not None and want["rows"] == n and (
                    want["digest"] is None or want["digest"] == d
                )
                if not ok:
                    common.log(f"check failed: {name} rows={n} digest={d} want={want}")
            except Exception as exc:  # noqa: BLE001 - a failed query is a failed op
                common.log(f"check failed: {name} raised {exc!r}")
            finally:
                spark.catalog.clearCache()
            if not ok:
                self.bad.add(name)

    def run_pass(self, spark, rec: common.Recorder, traced: bool) -> None:
        for name in self.timed:
            group = f"{name}#{rec.next_id()}"
            t0 = time.perf_counter()
            w0 = time.time()
            ok, tb = False, t0
            try:
                if traced:
                    spark.sparkContext.setJobGroup(group + ":build", name)
                df = self.qs[name](spark, self.lake)
                tb = time.perf_counter()
                if traced:
                    spark.sparkContext.setJobGroup(group + ":exec", name)
                df.write.format("noop").mode("overwrite").save()
                ok = True
            except Exception as exc:  # noqa: BLE001 - a failed query is a failed op
                common.log(f"op failed: {name} raised {exc!r}")
            finally:
                t1 = time.perf_counter()
                spark.catalog.clearCache()
                if traced:
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            rec.op(
                ok, t1 - t0, w0, time.time(), name=name, group=group,
                build_s=tb - t0, exec_s=t1 - tb,
            )
        if traced:
            self.leaked = common.cached_rdd_blocks(spark)

    def run(self, spark, rec: common.Recorder, seconds: float, traced: bool) -> None:
        common.closed_loop(seconds, self.nominal_op_s, lambda: self.run_pass(spark, rec, traced))

    @staticmethod
    def rates(ops: list[dict]) -> tuple[float, float]:
        """Each query's best time over the timed passes (min-of-N, as
        bench.py takes it): (queries over the sum of best times, median
        best time). The best time drops the passes a busy host or a JIT
        compile slowed."""
        best: dict[str, float] = {}
        for o in ops:
            best[o["name"]] = min(o["dur"], best.get(o["name"], o["dur"]))
        total = sum(best.values())
        return (len(best) / total if total else 0.0), common.median(list(best.values()))

    def check(self, ops: list[dict]) -> tuple[int, bool]:
        return sum(1 for o in ops if not o["ok"] or o["name"] in self.bad), True

    def layer_metrics(self, ops: list[dict], all_ops: list[dict], idx) -> dict[str, float]:
        """Plan build and execute per query, from its job groups: sums
        per pass for the light and heavy sets, medians per heavy query."""
        passes = max(1, len(ops) // len(self.timed))
        per: dict[str, list[dict]] = {}
        for o in ops:
            b, e = idx.by_group(o["group"] + ":build"), idx.by_group(o["group"] + ":exec")
            row = {"build_s": o["build_s"], "exec_s": o["exec_s"],
                   "build_jobs": b["jobs"], "exec_jobs": e["jobs"]}
            row.update({k: b[k] + e[k] for k in (
                "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")})
            per.setdefault(o["name"], []).append(row)
        out: dict[str, float] = {"plans.leaked_rdd_blocks": self.leaked}
        for kind, names in (("light", LIGHT), ("heavy", HEAVY)):
            for k in PLAN_KEYS:
                out[f"plans.{kind}.{k}"] = sum(r[k] for n in names for r in per.get(n, [])) / passes
        for n in HEAVY:
            rows = per.get(n, [])
            for k in PLAN_KEYS:
                out[f"plans.{n}.{k}"] = common.median([r[k] for r in rows])
            for k in OPERATOR_KEYS:
                out[f"operators.{n}.{k}"] = common.median([r[k] for r in rows])
        return out

    def store_amp(self) -> float:
        disk = payload = 0
        for t in TABLES:
            f = Path(self.lake) / f"{t}.parquet"
            disk += f.stat().st_size
            payload += pq.read_table(f).nbytes
        return disk / payload


def record_digests(h: common.Harness, spark, scale: float) -> dict:
    """Row counts and digests of every query in the mix, for
    digests.json. A query whose digest differs between two evaluations
    at different shuffle widths is recorded with digest None (row
    count checked only)."""
    from etl_marketdata_downloader_archived_spark.plans import registry

    lake = str(ensure_lake(h.cache, scale))
    qs = registry.all_queries()
    out = {}
    for name in LIGHT + HEAVY:
        seen = []
        for parts in ("4", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            seen.append(digest(qs[name](spark, lake)))
            spark.catalog.clearCache()
        (n, d), (n2, d2) = seen
        if n != n2:
            raise RuntimeError(f"{name}: row count differs between runs ({n} vs {n2})")
        out[name] = {"rows": n, "digest": d if d == d2 else None}
        common.log(f"recorded {name}: {out[name]}")
    return out
