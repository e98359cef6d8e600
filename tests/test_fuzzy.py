"""operators.fuzzy: deletion-variant edit-distance join.

Completeness vs brute force is also parity-certified (tools/parity.py
fuzzy_join, brute-force DuckDB oracle); here: semantics + randomized
differential vs a stdlib DP oracle.
"""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
    edit_distance_join,
)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_known_pairs(spark):
    rows = [(1, "kitten"), (2, "sitten"), (3, "sittin"), (4, "kitte"),
            (5, "kitten"), (6, "xyz"), (7, "")]
    df = spark.createDataFrame(rows, "id long, s string")
    got = sorted((r.id_a, r.id_b, r.dist)
                 for r in edit_distance_join(df, "id", "s").collect())
    assert got == [(1, 2, 1), (1, 4, 1), (1, 5, 0), (2, 3, 1), (2, 5, 1),
                   (4, 5, 1)]


def test_randomized_differential(spark):
    rng = random.Random(7)
    alpha = "ab"  # tiny alphabet -> dense near-matches
    rows = [(i, "".join(rng.choice(alpha) for _ in range(rng.randint(0, 6))))
            for i in range(60)]
    df = spark.createDataFrame(rows, "id long, s string")
    got = sorted((r.id_a, r.id_b, r.dist)
                 for r in edit_distance_join(df, "id", "s").collect())
    want = sorted(
        (a, b, _lev(sa, sb))
        for (a, sa), (b, sb) in itertools.combinations(rows, 2)
        if _lev(sa, sb) <= 1
    )
    assert got == want  # complete AND exact, incl. empty strings


def test_rejects_unsupported_distance(spark):
    df = spark.createDataFrame([(1, "x")], "id long, s string")
    with pytest.raises(ValueError):
        edit_distance_join(df, "id", "s", max_dist=2)


def test_jaccard_prefix_join_known_answer(spark) -> None:
    """Exact set-similarity join: known pairs at/above threshold come
    back with exact intersection/union counts, pairs below do not,
    ids are ordered a < b, and empty token sets never pair."""
    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        jaccard_prefix_join,
    )

    rows = [
        (1, ["a", "b", "c", "d"]),
        (2, ["a", "b", "c", "e"]),   # J(1,2) = 3/5 = 0.6
        (3, ["a", "b", "x", "y"]),   # J(1,3) = 2/6 = 1/3
        (4, ["q", "r"]),             # disjoint from all
        (5, ["a", "b", "c", "d"]),   # J(1,5) = 1.0
        (6, []),                     # empty: never pairs
    ]
    df = spark.createDataFrame(rows, "id long, toks array<string>")
    got = {
        (r.id_a, r.id_b): (r.inter, r.union_n, r.jaccard)
        for r in jaccard_prefix_join(df, "id", "toks", 0.5).collect()
    }
    assert got == {
        (1, 2): (3, 5, 0.6),
        (1, 5): (4, 4, 1.0),
        (2, 5): (3, 5, 0.6),
    }


def test_jaccard_prefix_join_matches_brute_force(spark) -> None:
    """No-false-negative property of the prefix filter: on random
    token sets the join's output equals the brute-force all-pairs
    Jaccard computation exactly (pairs, counts, and similarity),
    across thresholds including one that ceil-rounds awkwardly."""
    import itertools
    import random

    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        jaccard_prefix_join,
    )

    rng = random.Random(23)
    vocab = [f"t{i}" for i in range(30)]
    rows = [
        (i, rng.sample(vocab, rng.randint(1, 12))) for i in range(40)
    ]
    # exact-boundary regression (review finding): at t=0.55 the float
    # length filter computed 100*0.55 = 55.000000000000007 and dropped
    # the |a|=55-subset-of-|b|=100 TRUE pair; the integer-rational
    # arithmetic must keep it
    rows.append((100, [f"b{i}" for i in range(55)]))
    rows.append((101, [f"b{i}" for i in range(100)]))
    df = spark.createDataFrame(rows, "id long, toks array<string>")
    for thr in (0.34, 0.5, 0.55, 0.75):
        p = round(thr * 1_000_000)
        expected = {}
        for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
            sa, sb = set(ta), set(tb)
            inter = len(sa & sb)
            union = len(sa | sb)
            if union and inter * 1_000_000 >= p * union:
                a, b = sorted((ia, ib))
                expected[(a, b)] = (inter, union)
        got = {
            (r.id_a, r.id_b): (r.inter, r.union_n)
            for r in jaccard_prefix_join(df, "id", "toks", thr).collect()
        }
        assert got == expected, thr
        if thr == 0.55:
            assert (100, 101) in got  # the boundary pair survives

def test_jaccard_prefix_join_dedup_first_tier(spark) -> None:
    """The collapse_duplicates tier (VERDICT r11 item 1): on a
    duplicate-heavy corpus (every text replicated, the normal
    near-dup input) the dedup-first plan must equal both the raw
    kernel and brute force EXACTLY - identical sets pair at jaccard
    1 regardless of token order/multiplicity in the input arrays,
    cross-group pairs re-expand with the representative pair's exact
    counts, and the kernel itself only ever sees distinct sets."""
    import itertools
    import random

    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        jaccard_prefix_join,
    )

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(20)]
    base = [rng.sample(vocab, rng.randint(2, 8)) for _ in range(12)]
    rows = []
    rid = 0
    for toks in base:
        for k in range(5):  # 5x replica multiplicity
            jumbled = list(toks)
            rng.shuffle(jumbled)
            if k % 2:  # token-array duplicates: same SET, longer array
                jumbled.append(jumbled[0])
            rows.append((rid, jumbled))
            rid += 1
    df = spark.createDataFrame(rows, "id long, toks array<string>")

    thr = 0.5
    p = round(thr * 1_000_000)
    expected = {}
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        sa, sb = set(ta), set(tb)
        inter, union = len(sa & sb), len(sa | sb)
        if union and inter * 1_000_000 >= p * union:
            a, b = sorted((ia, ib))
            expected[(a, b)] = (inter, union)

    collapsed = {
        (r.id_a, r.id_b): (r.inter, r.union_n)
        for r in jaccard_prefix_join(df, "id", "toks", thr).collect()
    }
    raw = {
        (r.id_a, r.id_b): (r.inter, r.union_n)
        for r in jaccard_prefix_join(
            df, "id", "toks", thr, collapse_duplicates=False
        ).collect()
    }
    assert collapsed == expected
    assert raw == expected
    # every replica group contributes its full C(5,2) identical-set
    # pairs at jaccard exactly 1
    ones = [
        k
        for k, (i, u) in collapsed.items()
        if i == u
    ]
    assert len(ones) >= len(base) * 10  # 12 groups x C(5,2)

def test_jaccard_prefix_join_rs_matches_brute_force(spark) -> None:
    """Two-corpus (R-S) exact Jaccard join: output equals the
    brute-force left x right computation exactly across thresholds,
    with ids that COLLIDE across sides (different tables), duplicate
    sets on both sides (the collapse tier re-expands output-bound),
    identical sets ACROSS sides pairing at jaccard exactly 1, and the
    collapse and raw tiers identical."""
    import itertools
    import random

    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        jaccard_prefix_join_rs,
    )

    rng = random.Random(41)
    vocab = [f"t{i}" for i in range(25)]
    lrows = [(i, rng.sample(vocab, rng.randint(1, 10))) for i in range(30)]
    rrows = [(i, rng.sample(vocab, rng.randint(1, 10))) for i in range(25)]
    # duplicates on each side + an identical set across sides
    lrows.append((100, list(lrows[0][1])))
    lrows.append((101, list(lrows[0][1])))
    rrows.append((100, list(lrows[0][1])))  # id collides with left 100
    rrows.append((50, []))  # empty: never pairs
    left = spark.createDataFrame(lrows, "id long, toks array<string>")
    right = spark.createDataFrame(rrows, "id long, toks array<string>")

    for thr in (0.4, 0.5, 0.75):
        p = round(thr * 1_000_000)
        expected = {}
        for (il, tl), (ir, tr) in itertools.product(lrows, rrows):
            sl, sr = set(tl), set(tr)
            inter, union = len(sl & sr), len(sl | sr)
            if union and inter * 1_000_000 >= p * union:
                expected[(il, ir)] = (inter, union)
        for collapse in (True, False):
            got = {
                (r.left_id, r.right_id): (r.inter, r.union_n)
                for r in jaccard_prefix_join_rs(
                    left, right, "id", "toks", thr,
                    collapse_duplicates=collapse,
                ).collect()
            }
            assert got == expected, (thr, collapse)
        # the cross-side identical set pairs at jaccard exactly 1
        n0 = len(set(lrows[0][1]))
        assert expected[(100, 100)] == (n0, n0)
        assert expected[(101, 100)] == (n0, n0)

def test_jaccard_screen_vs_postings_matches_rs_join(spark, tmp_path) -> None:
    """The persisted-posting screen must equal the in-memory R-S join
    exactly (the hash total order replaces the frequency order - the
    prefix lemma holds for any shared order, so recall stays 1.0):
    postings built ONCE from the corpus, screened against two
    different batches without touching corpus-wide state; a store
    built at another threshold is rejected loudly."""
    import itertools
    import random

    import pytest as _pytest

    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        jaccard_prefix_postings,
        jaccard_screen_vs_postings,
    )

    rng = random.Random(53)
    vocab = [f"t{i}" for i in range(22)]
    corpus_rows = [
        (i, rng.sample(vocab, rng.randint(2, 9))) for i in range(28)
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "id long, toks array<string>"
    )
    pdir = str(tmp_path / "postings")
    jaccard_prefix_postings(corpus, "id", "toks", 0.5).write.parquet(pdir)
    store = spark.read.parquet(pdir)

    for seed in (1, 2):
        brng = random.Random(seed)
        batch_rows = [
            (1000 + i, brng.sample(vocab, brng.randint(2, 9)))
            for i in range(12)
        ] + [(2000, list(corpus_rows[3][1]))]  # identical to a corpus set
        batch = spark.createDataFrame(
            batch_rows, "id long, toks array<string>"
        )
        expected = {}
        for (ic, tc), (ib, tb) in itertools.product(
            corpus_rows, batch_rows
        ):
            sc_, sb = set(tc), set(tb)
            inter, union = len(sc_ & sb), len(sc_ | sb)
            if union and inter * 1_000_000 >= 500000 * union:
                expected[(ic, ib)] = (inter, union)
        got = {
            (r.left_id, r.right_id): (r.inter, r.union_n)
            for r in jaccard_screen_vs_postings(
                batch, store, corpus, "id", "toks", 0.5
            ).collect()
        }
        assert got == expected, seed
        n3 = len(set(corpus_rows[3][1]))
        assert got[(3, 2000)] == (n3, n3)

    with _pytest.raises(ValueError, match="threshold"):
        jaccard_screen_vs_postings(
            batch, store, corpus, "id", "toks", 0.7
        )

def test_bucketed_posting_store_pruned_screen_identity(spark, tmp_path) -> None:
    """The _bk-bucketed store: the screen with store_buckets=B must
    equal the unpruned screen PAIR FOR PAIR (equal _hk implies equal
    bucket, so the partition filter drops no candidate), and the plan
    must show the bucket list as PartitionFilters - the IVF
    discipline (VERDICT r12 item 3)."""
    import random

    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        jaccard_prefix_postings,
        jaccard_screen_vs_postings,
        read_postings_meta,
        write_postings_meta,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    corpus_rows = [(i, rng.sample(vocab, rng.randint(2, 10))) for i in range(40)]
    corpus = spark.createDataFrame(corpus_rows, "id long, toks array<string>")
    pdir = str(tmp_path / "bk_postings")
    write_postings_meta(spark, pdir, 0.5, buckets=8)
    jaccard_prefix_postings(corpus, "id", "toks", 0.5, bucket_by=8).write.mode(
        "append"
    ).partitionBy("_bk").parquet(pdir)
    meta = read_postings_meta(spark, pdir)
    assert meta == {"p_num": 500000, "buckets": 8}
    store = spark.read.schema("_id long, _n int, _hk bigint, _p int, _bk int").parquet(pdir)

    brng = random.Random(3)
    batch = spark.createDataFrame(
        [(100 + i, brng.sample(vocab, brng.randint(2, 8))) for i in range(5)]
        + [(200, list(corpus_rows[5][1]))],
        "id long, toks array<string>",
    )
    pruned = jaccard_screen_vs_postings(
        batch, store, corpus, "id", "toks", 0.5,
        store_p_num=meta["p_num"], store_buckets=meta["buckets"],
    )
    full = jaccard_screen_vs_postings(
        batch, store.drop("_bk"), corpus, "id", "toks", 0.5,
    )
    key = lambda r: (r.left_id, r.right_id, r.inter, r.union_n)  # noqa: E731
    got = sorted(map(key, pruned.collect()))
    assert got == sorted(map(key, full.collect()))
    # the identical-set batch doc must have been caught (recall 1.0
    # through the pruned path)
    assert any(l == 5 and r == 200 for l, r, *_ in got)

    # the pruned store read carries the bucket list as a PARTITION
    # filter (not a post-scan data filter)
    probe = store.filter(F.col("_bk").isin([0, 3])).drop("_bk")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [_bk" in plan


def test_compact_postings_collapses_replay_duplicates(spark, tmp_path) -> None:
    """compact_postings (VERDICT r12 item 2): an at-least-once replay
    appends the same postings twice; compaction collapses the store
    to distinct rows, preserves the _bk layout and the _meta sidecar,
    and the screen's results are byte-identical before/after."""
    import random

    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        compact_postings,
        jaccard_prefix_postings,
        jaccard_screen_vs_postings,
        read_postings_meta,
        write_postings_meta,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(25)]
    corpus_rows = [(i, rng.sample(vocab, rng.randint(3, 9))) for i in range(20)]
    corpus = spark.createDataFrame(corpus_rows, "id long, toks array<string>")
    pdir = str(tmp_path / "cp_postings")
    write_postings_meta(spark, pdir, 0.5, buckets=4)
    p = jaccard_prefix_postings(corpus, "id", "toks", 0.5, bucket_by=4)
    p.write.mode("append").partitionBy("_bk").parquet(pdir)
    p.write.mode("append").partitionBy("_bk").parquet(pdir)  # the replay
    store = lambda: spark.read.parquet(pdir)  # noqa: E731

    batch = spark.createDataFrame(
        [(100, list(corpus_rows[2][1])), (101, rng.sample(vocab, 6))],
        "id long, toks array<string>",
    )

    def screen():
        return sorted(
            (r.left_id, r.right_id, r.inter, r.union_n)
            for r in jaccard_screen_vs_postings(
                batch, store(), corpus, "id", "toks", 0.5,
                store_p_num=500000, store_buckets=4,
            ).collect()
        )

    before_rows = store().count()
    before_screen = screen()
    nb, na = compact_postings(spark, pdir)
    assert (nb, na) == (before_rows, before_rows // 2)
    assert store().count() == before_rows // 2
    assert read_postings_meta(spark, pdir) == {"p_num": 500000, "buckets": 4}
    assert "_bk" in store().columns  # layout preserved
    assert screen() == before_screen
    # the compacted snapshot is file-count-BOUNDED: one data file per
    # bucket (review finding: an unbounded shuffle write could leave
    # the compacted store itself above a file-count trigger, turning
    # the auto-compaction loop into a per-batch full rewrite)
    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        posting_store_file_count,
    )

    assert posting_store_file_count(spark, pdir) <= 4


def test_postings_meta_guard_and_mismatch(spark, tmp_path) -> None:
    """store_p_num replaces the per-batch distinct-_p store scan
    (ADVICE r12): a trusted-but-wrong threshold raises before any
    store work; a missing sidecar reads as None (legacy store)."""
    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        jaccard_prefix_postings,
        jaccard_screen_vs_postings,
        read_postings_threshold,
        write_postings_meta,
    )

    corpus = spark.createDataFrame(
        [(1, ["a", "b", "c"])], "id long, toks array<string>"
    )
    pdir = str(tmp_path / "mg_postings")
    jaccard_prefix_postings(corpus, "id", "toks", 0.5).write.parquet(pdir)
    assert read_postings_threshold(spark, pdir) is None  # legacy
    write_postings_meta(spark, pdir, 0.5)
    assert read_postings_threshold(spark, pdir) == 500000
    # the sidecar is invisible to the plain store read
    assert set(spark.read.parquet(pdir).columns) == {"_id", "_n", "_hk", "_p"}
    store = spark.read.parquet(pdir)
    with pytest.raises(ValueError, match="metadata says"):
        jaccard_screen_vs_postings(
            corpus, store, corpus, "id", "toks", 0.7, store_p_num=500000
        )

def test_compact_postings_serves_band_store_too(spark, tmp_path) -> None:
    """compact_postings is flavor-agnostic (r13): the near-dup BAND
    store (different columns, different _meta schema) compacts the
    same way - replay duplicates collapse, the sidecar survives
    verbatim."""
    from etl_marketdata_downloader_archived_spark.operators.dedup import (
        band_postings,
        read_band_meta,
        write_band_meta,
    )
    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        compact_postings,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "entirely different words about spark engines and tables")],
        "doc_id long, text string",
    )
    pdir = str(tmp_path / "band_postings")
    write_band_meta(spark, pdir, 32, 8, 3, 0.5)
    p = band_postings(docs, "doc_id", "text")
    p.write.mode("append").parquet(pdir)
    p.write.mode("append").parquet(pdir)  # the replay
    before = spark.read.parquet(pdir).count()
    nb, na = compact_postings(spark, pdir)
    assert (nb, na) == (before, before // 2)
    assert read_band_meta(spark, pdir) == {
        "num_hashes": 32, "bands": 8, "shingle_n": 3, "p_num": 500000,
        "buckets": None,
    }

def test_compact_postings_empty_store_and_crash_recovery(spark, tmp_path) -> None:
    """Review findings: (a) a store whose only content is the hidden
    _meta sidecar (the legitimate all-unshingleable-admissions state)
    compacts to (0, 0) instead of crashing on schema inference;
    (b) a crash between the swap's two renames (live gone, __old
    intact) self-heals at the next compact entry."""
    import shutil

    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        compact_postings,
        jaccard_prefix_postings,
        read_postings_meta,
        write_postings_meta,
    )

    # (a) meta-only store
    pdir = str(tmp_path / "empty_store")
    write_postings_meta(spark, pdir, 0.7, buckets=8)
    assert compact_postings(spark, pdir) == (0, 0)
    assert read_postings_meta(spark, pdir) == {"p_num": 700000, "buckets": 8}

    # (b) crash-window recovery: live renamed aside, __old intact
    pdir2 = tmp_path / "cw_store"
    corpus = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["d", "e", "f"])],
        "id long, toks array<string>",
    )
    write_postings_meta(spark, str(pdir2), 0.5)
    jaccard_prefix_postings(corpus, "id", "toks", 0.5).write.mode(
        "append"
    ).parquet(str(pdir2))
    n = spark.read.parquet(str(pdir2)).count()
    shutil.move(str(pdir2), str(pdir2) + "__old")  # the crash state
    nb, na = compact_postings(spark, str(pdir2))
    assert (nb, na) == (n, n)  # recovered, then compacted (no dups)
    assert spark.read.parquet(str(pdir2)).count() == n


def test_compact_postings_rescues_concurrent_append(spark, tmp_path) -> None:
    """ADVICE r13 (medium): an ingest append landing between
    compaction's snapshot read and the live->__old swap used to travel
    into __old and be deleted - postings for ADMITTED docs silently
    vanishing (the permanent recall hole). Now post-swap, __old's
    unrecognized data files are MOVED into the new live store before
    __old is deleted: the concurrently appended postings survive and
    the screen still finds their docs."""
    import random

    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        compact_postings,
        jaccard_prefix_postings,
        jaccard_screen_vs_postings,
        read_postings_meta,
        write_postings_meta,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    corpus_rows = [(i, rng.sample(vocab, rng.randint(4, 9))) for i in range(12)]
    corpus = spark.createDataFrame(corpus_rows, "id long, toks array<string>")
    late_rows = [(500, rng.sample(vocab, 6)), (501, list(corpus_rows[3][1]))]
    late = spark.createDataFrame(late_rows, "id long, toks array<string>")

    pdir = str(tmp_path / "race_postings")
    write_postings_meta(spark, pdir, 0.5, buckets=4)
    jaccard_prefix_postings(corpus, "id", "toks", 0.5, bucket_by=4).write.mode(
        "append"
    ).partitionBy("_bk").parquet(pdir)

    def concurrent_append():  # fires inside the race window
        jaccard_prefix_postings(late, "id", "toks", 0.5, bucket_by=4).write.mode(
            "append"
        ).partitionBy("_bk").parquet(pdir)

    late_n = jaccard_prefix_postings(late, "id", "toks", 0.5, bucket_by=4).count()
    base_n = spark.read.parquet(pdir).count()
    nb, na = compact_postings(spark, pdir, _pre_swap_hook=concurrent_append)
    # before = pre-append rows; after INCLUDES the rescued append
    assert nb == base_n
    assert na == base_n + late_n
    assert read_postings_meta(spark, pdir) == {"p_num": 500000, "buckets": 4}
    # the rescued postings are LIVE: a batch identical to late-doc 501
    # must screen against it through the store
    store = spark.read.parquet(pdir)
    full_corpus = corpus.unionByName(late)
    batch = spark.createDataFrame(
        [(900, list(corpus_rows[3][1]))], "id long, toks array<string>"
    )
    hits = {
        (r.left_id, r.right_id)
        for r in jaccard_screen_vs_postings(
            batch, store, full_corpus, "id", "toks", 0.5,
            store_p_num=500000, store_buckets=4,
        ).collect()
    }
    assert (501, 900) in hits
    # __old is gone and a second compaction collapses nothing extra
    # beyond true duplicates (3 and 501 share a token set -> their
    # postings are distinct rows, so count is stable)
    import os

    assert not os.path.exists(pdir + "__old")
    nb2, na2 = compact_postings(spark, pdir)
    assert (nb2, na2) == (na, na)


def test_recover_posting_store_rescues_old_files(spark, tmp_path) -> None:
    """The live+__old recovery case (a compaction crash AFTER the swap
    but BEFORE cleanup): __old's data files move INTO the live store -
    worst case duplicate postings (harmless, next compaction collapses
    them), never silent loss."""
    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        compact_postings,
        jaccard_prefix_postings,
        posting_store_file_count,
        recover_posting_store,
        write_postings_meta,
    )

    corpus = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["d", "e", "f"])],
        "id long, toks array<string>",
    )
    pdir = str(tmp_path / "ro_store")
    write_postings_meta(spark, pdir, 0.5)
    jaccard_prefix_postings(corpus, "id", "toks", 0.5).write.mode(
        "append"
    ).parquet(pdir)
    n = spark.read.parquet(pdir).count()

    # crash state: __old holds postings the live store doesn't
    extra = spark.createDataFrame(
        [(9, ["x", "y", "z"])], "id long, toks array<string>"
    )
    jaccard_prefix_postings(extra, "id", "toks", 0.5).write.mode(
        "append"
    ).parquet(pdir + "__old")

    assert recover_posting_store(spark, pdir) is True
    got = spark.read.parquet(pdir)
    assert got.count() > n and 9 in {r._id for r in got.collect()}
    import os

    assert not os.path.exists(pdir + "__old")
    # idempotent when clean; file-count probe sees the merged store
    assert recover_posting_store(spark, pdir) is False
    assert posting_store_file_count(spark, pdir) >= 2
    # a follow-up compaction normalizes whatever the rescue merged
    nb, na = compact_postings(spark, pdir)
    assert na == spark.read.parquet(pdir).distinct().count()


def test_jaccard_join_null_and_empty_sets_inert(spark) -> None:
    """r16 internals change: _tokenize_sets no longer row-filters
    empty sets (the filter's pushdown re-evaluated the caller's whole
    tokenize chain per row); empty AND NULL token arrays must instead
    be inert in every tier - never pairing with anything, including
    each other, in both the collapse and raw tiers and the R-S join.
    The pairwise-tightened prefix bounds must keep exact-boundary
    pairs (recall 1.0)."""
    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        jaccard_prefix_join,
        jaccard_prefix_join_rs,
    )

    rows = [
        (1, ["a", "b", "c", "d"]),
        (2, ["a", "b", "c", "e"]),   # J(1,2) = 3/5 = 0.6 - EXACT boundary at t=0.6
        (3, []),                     # empty
        (4, []),                     # empty: must not pair with 3
        (5, None),                   # NULL: must not pair with anything
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, toks array<string>")
    for collapse in (True, False):
        got = {
            (r.id_a, r.id_b): (r.inter, r.union_n)
            for r in jaccard_prefix_join(
                df, "id", "toks", 0.6, collapse_duplicates=collapse
            ).collect()
        }
        # the boundary pair survives the pairwise prefix bound
        # (alpha = ceil(0.6/1.6 * 8) = 3 = the true overlap), and no
        # empty/NULL id appears anywhere
        assert got == {(1, 2): (3, 5)}, collapse
    left = spark.createDataFrame(rows, "id long, toks array<string>")
    right = spark.createDataFrame(
        [(10, ["a", "b", "c", "d"]), (11, []), (12, None)],
        "id long, toks array<string>",
    )
    for collapse in (True, False):
        got = {
            (r.left_id, r.right_id): (r.inter, r.union_n)
            for r in jaccard_prefix_join_rs(
                left, right, "id", "toks", 0.6,
                collapse_duplicates=collapse,
            ).collect()
        }
        assert got == {(1, 10): (4, 4), (2, 10): (3, 5)}, collapse


def test_jaccard_joins_emit_a_replayed_row_once(spark) -> None:
    """A replayed row (same id, same token set) is one member of its
    duplicate group: both joins emit each pair exactly once, in the
    collapse tier and in the raw tier alike."""
    from etl_marketdata_downloader_archived_spark.operators.fuzzy import (
        jaccard_prefix_join,
        jaccard_prefix_join_rs,
    )

    rows = [
        (1, ["a", "b", "c", "d"]),
        (1, ["d", "c", "b", "a"]),   # replay of id 1: same set
        (2, ["a", "b", "c", "e"]),   # J = 3/5 with 1 and with 3
        (3, ["a", "b", "d", "e"]),
    ]
    df = spark.createDataFrame(rows, "id long, toks array<string>")
    right = spark.createDataFrame(
        [(9, ["a", "b", "c", "d"])], "id long, toks array<string>"
    )
    for collapse in (True, False):
        got = sorted(
            (r.id_a, r.id_b, r.inter, r.union_n)
            for r in jaccard_prefix_join(
                df, "id", "toks", 0.5, collapse_duplicates=collapse
            ).collect()
        )
        assert got == [(1, 2, 3, 5), (1, 3, 3, 5), (2, 3, 3, 5)], collapse
        got = sorted(
            (r.left_id, r.right_id, r.inter, r.union_n)
            for r in jaccard_prefix_join_rs(
                df, right, "id", "toks", 0.5, collapse_duplicates=collapse
            ).collect()
        )
        assert got == [(1, 9, 4, 4), (2, 9, 3, 5), (3, 9, 3, 5)], collapse


@pytest.mark.parametrize(
    "fn",
    [
        "jaccard_prefix_join",
        "jaccard_prefix_join_rs",
        "jaccard_prefix_postings",
        "jaccard_screen_vs_postings",
        "write_postings_meta",
    ],
)
@pytest.mark.parametrize(
    "threshold, match",
    [
        (0, r"threshold must be in \(0, 1\]"),
        (1.5, r"threshold must be in \(0, 1\]"),
        (1e-7, "quantizes to 0/1e6"),
    ],
)
def test_jaccard_threshold_rejected(spark, tmp_path, fn, threshold, match):
    """Every entry point of the exact-Jaccard family rejects a
    threshold outside (0, 1] and one that quantizes to 0/1e6, before
    any work runs."""
    from etl_marketdata_downloader_archived_spark.operators import fuzzy

    df = spark.createDataFrame([(1, ["a"])], "id long, toks array<string>")
    calls = {
        "jaccard_prefix_join": lambda t: fuzzy.jaccard_prefix_join(
            df, "id", "toks", t
        ),
        "jaccard_prefix_join_rs": lambda t: fuzzy.jaccard_prefix_join_rs(
            df, df, "id", "toks", t
        ),
        "jaccard_prefix_postings": lambda t: fuzzy.jaccard_prefix_postings(
            df, "id", "toks", t
        ),
        "jaccard_screen_vs_postings": (
            lambda t: fuzzy.jaccard_screen_vs_postings(
                df, df, df, "id", "toks", t
            )
        ),
        "write_postings_meta": lambda t: fuzzy.write_postings_meta(
            spark, str(tmp_path / "postings"), t
        ),
    }
    with pytest.raises(ValueError, match=match):
        calls[fn](threshold)
