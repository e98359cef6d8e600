"""Similarity search over embedding columns (array<float>).

Three kinds of kernel:

- Literal-query search (``topk_cosine``, ``ivf_search``,
  ``ivf_search_indexed``): the dot product is a Catalyst higher-order
  fold (zip_with + aggregate) in double, so a scan against one query
  literal is a narrow map + TakeOrderedAndProject with no shuffle of
  the embedding column. IVF ranks the cluster centroids against the
  literal (``_probe``, a centroid-count collect) and scans only the
  ``nprobe`` best clusters; on a table PARTITIONED BY cluster that
  filter prunes partitions on read.
- Bucketed all-pairs (``cosine_pairs_matmul``, ``lsh_cosine_pairs``,
  ``embedding_dedup``): one BLAS V @ V.T per bucket (a label, a k-means
  cluster or an RP-LSH bucket) in applyInPandas.
- Many-query top-k (``knn_join``, ``knn_join_clustered``,
  ``pq_search``, ``ivfpq_search``, and ``mine_hard_negatives`` on top
  of ``knn_join``): numpy scoring in Arrow-batched pandas UDFs, over
  float vectors or over PQ codes (``pq_train``/``pq_encode``,
  ``ivfpq_build``). ``mmr_rerank`` diversifies their output.

The many-query kernels share one top-k contract; each piece of it is
one private helper below:

- The query side is collected on the driver once and broadcast
  (``_broadcast_topk``), so it must be the small side: Q x dim floats,
  or Q x m x k doubles of PQ lookup table. The corpus streams through
  one mapInPandas and never has to fit anywhere. ``knn_join_clustered``
  is the path for an unbounded query side: queries route to their
  nearest centroids and meet the corpus in a per-cluster cogroup.
- Each batch (or cluster) keeps only its LOCAL top-k per query
  (``_topk``), and ties break toward the smaller id there, before the
  merge: a boundary tie dropped locally could be the smallest-id
  candidate, which no merge can restore.
- One window (``_merge``) ranks the O(queries x k x batches) local
  candidates of each query_id by (score, neighbor_id), numbers them in
  ``rank`` and keeps rank <= k.
- Distances (``adc_dist``) sort ascending, similarities (``cos_sim``)
  descending.
- An empty query side gives an empty result with the usual columns.
- Id columns keep their input types (``_type`` reads them from the
  input schema): int, long and string ids flow through unchanged.

Numpy cosine runs on unit rows (``_unit_rows``); a zero vector stays
zero and scores 0 against everything.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _type(df: DataFrame, col: str) -> str:
    """Spark SQL type string of ``col`` in ``df``'s schema."""
    return df.schema[col].dataType.simpleString()


def _unit_rows(vecs) -> np.ndarray:
    """The vectors stacked into a float64 matrix of unit-L2 rows; a zero
    row stays zero."""
    v = np.stack(list(vecs)).astype(np.float64)
    norms = np.linalg.norm(v, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return v / norms


def _topk(
    scores: np.ndarray, ids: np.ndarray, k: int, descending: bool
) -> np.ndarray:
    """Column positions of the best ``k`` entries of each row of
    ``scores`` (one column per id), best first, ties toward the
    smaller id."""
    id_rank = np.argsort(np.argsort(ids, kind="stable"))
    key = -scores if descending else scores
    return np.lexsort(
        (np.broadcast_to(id_rank, key.shape), key), axis=-1
    )[:, :k]


def _candidates(
    q_ids: np.ndarray,
    c_ids: np.ndarray,
    scores: np.ndarray,
    k: int,
    score_col: str,
    descending: bool,
) -> pd.DataFrame:
    """Local top-k rows (query_id, neighbor_id, ``score_col``) of a
    Q x B score matrix of queries ``q_ids`` against candidates
    ``c_ids``."""
    pos = _topk(scores, c_ids, k, descending)
    return pd.DataFrame(
        {
            "query_id": np.repeat(q_ids, pos.shape[1]),
            "neighbor_id": c_ids[pos].ravel(),
            score_col: np.take_along_axis(scores, pos, axis=1).ravel(),
        }
    )


def _merge(
    candidates: DataFrame, score_col: str, descending: bool, k: int
) -> DataFrame:
    """The global merge: rank each query_id's local candidates by
    (``score_col``, neighbor_id) and keep rank <= k."""
    score = F.col(score_col)
    w = Window.partitionBy("query_id").orderBy(
        score.desc() if descending else score.asc(), F.col("neighbor_id")
    )
    return candidates.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _broadcast_topk(
    queries: DataFrame,
    qid: str,
    vec_col: str,
    prepare: Callable[[np.ndarray], Any],
    corpus: DataFrame,
    id_col: str,
    cols: list[str],
    score: Callable[[Any, pd.DataFrame], np.ndarray],
    score_col: str,
    descending: bool,
    k: int,
) -> DataFrame:
    """The broadcast-queries top-k: collect the query side's ids and
    float64 vector matrix once, broadcast ``prepare(matrix)``, and let
    one mapInPandas over ``corpus[id_col, *cols]`` emit each batch's
    local top-k of ``score(prepared, batch)`` - a Q x B matrix in which
    +inf marks a candidate out of the query's reach - before the merge.
    An empty query side skips ``prepare`` and emits nothing."""
    rows = queries.select(qid, vec_col).collect()
    q_ids = np.array([r[0] for r in rows])
    prepared = (
        prepare(np.stack([np.asarray(r[1], dtype=np.float64) for r in rows]))
        if rows
        else None
    )
    bq = queries.sparkSession.sparkContext.broadcast((q_ids, prepared))

    def scan(batches):
        ids_q, prep = bq.value
        for pdf in batches:
            if len(pdf) and len(ids_q):
                out = _candidates(
                    ids_q, pdf[id_col].to_numpy(), score(prep, pdf),
                    k, score_col, descending,
                )
                yield out[out[score_col] != np.inf]

    candidates = corpus.select(id_col, *cols).mapInPandas(
        scan,
        schema=f"query_id {_type(queries, qid)}, "
        f"neighbor_id {_type(corpus, id_col)}, {score_col} double",
    )
    return _merge(candidates, score_col, descending, k)


def _probe(
    cents: DataFrame, cluster_col: str, query_vec: list[float], nprobe: int
) -> list:
    """Ids of the ``nprobe`` centroids most cosine-similar to
    ``query_vec``, ties toward the smaller id. The collect is
    centroid-count rows (tiny, bounded by nlist); it parameterizes the
    partition-pruned probe scan."""
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    return [
        r[0]
        for r in cents.select(
            cluster_col, cosine(F.col("centroid"), qlit).alias("c")
        )
        .orderBy(F.col("c").desc(), F.col(cluster_col))
        .limit(nprobe)
        .collect()
    ]


def _pq_table(x: np.ndarray, books: list[np.ndarray]) -> np.ndarray:
    """(n, m, k) ADC lookup table: squared distance from each row's j-th
    subvector to each of codebook j's k centroids."""
    sub = books[0].shape[1]
    table = np.empty((len(x), len(books), books[0].shape[0]))
    for j, book in enumerate(books):
        diff = x[:, None, j * sub : (j + 1) * sub] - book[None, :, :]
        table[:, j, :] = (diff * diff).sum(axis=2)
    return table


def _adc(table: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Asymmetric distance of each code row: the sum of its m table
    lookups. ``table`` is (m, k) for one query or (Q, m, k) for Q."""
    return sum(table[..., j, codes[:, j]] for j in range(codes.shape[1]))


def dot(a: Column, b: Column) -> Column:
    """Sum of elementwise products, accumulated in double, in array
    order (deterministic left-to-right fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def topk_cosine(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_vec: bool = False,
) -> DataFrame:
    """Brute-force top-k by cosine vs a literal query vector.
    Deterministic tie-break on id. Executes as scan -> narrow map ->
    TakeOrderedAndProject (per-partition heaps; nothing wide).
    ``keep_vec`` carries the candidate vector through - the re-ranking
    composition (mmr_rerank) needs candidate-candidate similarity, and
    re-fetching k vectors by id would cost a second corpus scan."""
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    cols = [F.col(id_col), cosine(F.col(vec_col), qlit).alias("cos_sim")]
    if keep_vec:
        cols.append(F.col(vec_col))
    scored = df.select(*cols)
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def rp_lsh_bucket(
    vec: Column, num_planes: int = 8, seed: int = 7
) -> Column:
    """Random-hyperplane LSH bucket id (signed random projection):
    bucket = bits of sign(v . h_p) over ``num_planes`` hyperplanes.
    Cosine-similar vectors collide with probability 1 - theta/pi per
    bit, so near-duplicates concentrate in buckets and the pair join
    needs no O(n^2) compare.

    Vectorized pandas UDF: each Arrow batch is one (rows x dim) @
    (dim x planes) matmul against a hyperplane matrix drawn from a
    seeded RNG - deterministic across executors/retries/batches, no
    model state to ship. (A Catalyst higher-order-function version was
    measured ~100x slower: per-element interpreted hashing loses badly
    to BLAS on dense vectors - same lesson as cosine_pairs_matmul.)
    """

    @F.pandas_udf("int")
    def bucket(vs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        v = np.stack(vs.to_numpy()).astype(np.float64)
        h = np.random.default_rng(seed).standard_normal((v.shape[1], num_planes))
        bits = (v @ h) >= 0
        powers = (1 << np.arange(num_planes)).astype(np.int64)
        return pd.Series((bits @ powers).astype(np.int32))

    return bucket(vec)


def lsh_cosine_pairs(
    df: DataFrame,
    threshold: float,
    num_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding near-dup pairs via RP-LSH bucketing + exact cosine
    verification inside each bucket - the scale path when no natural
    bucket column (label/cluster) exists. Recall can be raised with
    multiple tables (vary ``seed``) and unioned pair sets.

    Vectors are L2-normalized once per row before the pair join, so the
    per-pair cosine is a single dot product instead of dot + two norms:
    3x less higher-order-function work where the cost actually is (the
    O(pairs) stage, not the O(n) stage)."""
    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col),
        rp_lsh_bucket(F.col(vec_col), num_planes).alias("bucket"),
    )
    return cosine_pairs_matmul(bucketed, "bucket", threshold, vec_col, id_col)


def cosine_pairs_matmul(
    df: DataFrame,
    bucket_col: str,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All-pairs cosine within a bucket via one BLAS matmul per bucket
    (applyInPandas: stack -> row-normalize -> V @ V.T -> emit pairs
    above threshold).

    Dense all-pairs similarity is exactly the shape where expression
    trees lose: a join + per-pair higher-order dot evaluates
    interpreted per element, while the grouped-map UDF does the whole
    bucket in one vectorized matmul (~10x measured here). The groupBy
    keys the shuffle on the bucket - same plan shape, faster kernel.
    Buckets must fit in executor memory; that is the LSH/IVF
    bucketing's job. Ids keep their input type."""

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        # a one-row bucket has no pairs: every column comes out empty,
        # with the input's dtypes
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        v = _unit_rows(pdf[vec_col].to_numpy()[order])
        sims = v @ v.T
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = sims[ia, ib] >= threshold
        return pd.DataFrame(
            {
                "bucket": pdf[bucket_col].iloc[0],
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cos_sim": sims[ia[keep], ib[keep]],
            }
        )

    id_t = _type(df, id_col)
    out_schema = f"bucket long, id_a {id_t}, id_b {id_t}, cos_sim double"
    return (
        df.select(F.col(bucket_col).cast("long").alias(bucket_col), id_col, vec_col)
        .groupBy(bucket_col)
        .applyInPandas(per_bucket, schema=out_schema)
    )


def hash_embed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 64,
) -> DataFrame:
    """Model-free document embeddings via the feature-hashing trick:
    each token hashes to a bucket with a sign bit (blake2b, so the
    embedding is deterministic across runs/engines), the doc vector is
    the signed bucket histogram, L2-normalized. Token-overlap cosine
    at a fixed dimension - good enough to drive embedding_dedup /
    ANN plumbing when no model embedding exists yet.

    Arrow-batched pandas UDF (numpy bincount per batch) - the same
    'dense vector math stays in numpy' rule as the other kernels."""

    @F.pandas_udf("array<double>")
    def _embed(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        cache: dict[str, tuple[int, float]] = {}

        def slot(tok: str) -> tuple[int, float]:
            v = cache.get(tok)
            if v is None:
                h = int.from_bytes(
                    hashlib.blake2b(tok.encode(), digest_size=8).digest(), "big"
                )
                v = (h % dim, 1.0 if (h >> 63) & 1 else -1.0)
                cache[tok] = v
            return v

        out = []
        for t in texts:
            vec = np.zeros(dim)
            for tok in (t or "").split():
                b, s = slot(tok)
                vec[b] += s
            n = np.linalg.norm(vec)
            out.append(vec / n if n > 0 else vec)
        return pd.Series(out)

    return df.select(F.col(id_col), _embed(F.col(text_col)).alias("embedding"))


def embedding_dedup(
    docs: DataFrame,
    embeddings: DataFrame,
    threshold: float = 0.95,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
) -> DataFrame:
    """Semantic near-dup removal: documents whose embeddings sit above
    ``threshold`` cosine collapse to one representative (min id) per
    connected component - the embedding-space sibling of MinHash dedup
    for paraphrase-level duplicates that share no n-grams.

    Composition of the scale paths that already exist: RP-LSH
    bucketing + per-bucket BLAS verification (never all-pairs) ->
    connected components over the surviving pairs -> anti-join the
    non-representatives out of ``docs``. At 100 TB the pair set is
    output-bound and the anti-join ships only ids."""
    from .dedup import dedup_keep_representatives

    pairs = lsh_cosine_pairs(
        embeddings, threshold, num_planes=num_planes,
        vec_col=vec_col, id_col=vec_id_col,
    )
    return dedup_keep_representatives(
        docs, pairs.select("id_a", "id_b"), doc_id_col
    )


def kmeans_assign(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 10,
) -> DataFrame:
    """Add a ``cluster`` column via k-means (Spark MLlib, kmeans||
    init, seeded) - the offline index-build step for IVF search when no
    natural partition column exists. At lake scale this runs once per
    index rebuild and the table is then written PARTITIONED BY cluster
    (io.write_lake), so a probe reads nprobe/k of the data."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    feats = df.withColumn("_features", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter, featuresCol="_features", predictionCol="cluster"
    ).fit(feats)
    return model.transform(feats).drop("_features")


def ivf_centroids(
    df: DataFrame, cluster_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Elementwise-mean centroid per cluster (posexplode -> avg per
    (cluster, dim) -> reassemble). One shuffle keyed on (cluster, dim);
    centroid count is tiny so the result broadcasts."""
    dims = (
        df.select(F.col(cluster_col).alias("_c"), F.posexplode(vec_col).alias("_d", "_v"))
        .groupBy("_c", "_d")
        .agg(F.avg("_v").alias("_m"))
    )
    return (
        dims.groupBy("_c")
        .agg(F.array_sort(F.collect_list(F.struct("_d", "_m"))).alias("_dm"))
        .select(
            F.col("_c").alias(cluster_col),
            F.transform("_dm", lambda s: s.getField("_m")).alias("centroid"),
        )
    )


def ivf_build_index(
    df: DataFrame,
    path: str,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> None:
    """Materialize the IVF index: k-means assignment + vectors written
    PARTITIONED BY cluster, centroids alongside. This is the offline
    build; ``ivf_search_indexed`` then reads only the probed clusters'
    partitions - at 100 TB a probe touches nprobe/k of the files, which
    the scan's PartitionFilters prove (see tests)."""
    assigned = kmeans_assign(df, k=k, vec_col=vec_col, seed=seed)
    (
        assigned.select(id_col, vec_col, "cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(path)
    )
    # centroids derive from the JUST-WRITTEN parquet, not `assigned`:
    # a second action on the uncached assignment would re-run the whole
    # k-means transform (and input scan) over the corpus
    written = assigned.sparkSession.read.parquet(path)
    ivf_centroids(written, "cluster", vec_col).write.mode("overwrite").parquet(
        path.rstrip("/") + "__centroids"
    )


def ivf_search_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_vec: bool = False,
) -> DataFrame:
    """ANN search against a built IVF index: rank stored centroids vs
    the query, then scan ONLY the nprobe best clusters (partition
    pruning does the data skipping). ``keep_vec`` carries candidate
    vectors through for a downstream re-ranker (mmr_rerank)."""
    probe = _probe(
        spark.read.parquet(path.rstrip("/") + "__centroids"),
        "cluster", query_vec, nprobe,
    )
    data = spark.read.parquet(path).filter(F.col("cluster").isin(probe))
    return topk_cosine(data, query_vec, k, vec_col, id_col, keep_vec=keep_vec)


def ivf_search(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 3,
    cluster_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: rank clusters by centroid cosine vs the query, search
    only the top ``nprobe`` clusters, return top-k.

    Cluster assignments here reuse an existing partition column (the
    general case runs k-means once offline); with the table partitioned
    by cluster the probe is a partition-pruned read of nprobe/N of the
    data.
    """
    probe = _probe(
        ivf_centroids(df, cluster_col, vec_col), cluster_col, query_vec, nprobe
    )
    return topk_cosine(
        df.filter(F.col(cluster_col).isin(probe)), query_vec, k, vec_col, id_col
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Top-k cosine neighbors in ``corpus`` for EVERY query vector -
    the kNN-graph primitive behind semantic dedup clustering and
    retrieval eval. Output: (query_id, neighbor_id, cos_sim, rank),
    rank 1 = most similar.

    Each corpus batch is scored against all queries with one BLAS
    matmul on unit rows; scale shape, tie-break, empty query side and
    id types follow the module's top-k contract."""
    return _broadcast_topk(
        queries, query_id_col or id_col, vec_col, _unit_rows,
        corpus, id_col, [vec_col],
        lambda q, pdf: q @ _unit_rows(pdf[vec_col].to_numpy()).T,
        "cos_sim", True, k,
    )


def knn_join_clustered(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    seed: int = 7,
) -> DataFrame:
    """IVF-bucketed kNN join - the scale path when the QUERY side is
    also unbounded (knn_join's broadcast matrix caps Q). Both sides
    meet per centroid cluster:

    1. k-means assigns the corpus to ``nlist`` clusters (the offline
       index build; at lake scale the corpus is written PARTITIONED BY
       cluster once and this step is a read).
    2. Queries fan out to their ``nprobe`` nearest centroids (ties
       toward the smaller cluster id) via a broadcast centroid matrix
       (nlist x dim - always tiny) inside mapInPandas: no shuffle, no
       driver collect of queries.
    3. A COGROUP on the cluster key hands each (query-batch,
       corpus-cluster) pair to one BLAS matmul emitting local top-k
       per query; the global window merges O(Q x k x nprobe) rows.

    Approximate like any IVF probe (recall rises with nprobe;
    nprobe=nlist is exhaustive and equals knn_join, ties included -
    pytest-pinned). Every stage is bounded: centroids broadcast, one
    corpus cluster + one query batch per task, candidates k-bounded.
    Output, tie-break and id types as in the module's top-k contract."""
    qid = query_id_col or id_col
    assigned = kmeans_assign(corpus, k=nlist, vec_col=vec_col, seed=seed)
    cents = ivf_centroids(assigned, "cluster", vec_col=vec_col).collect()
    c_ids = np.array([r["cluster"] for r in cents], dtype=np.int64)
    bc = queries.sparkSession.sparkContext.broadcast(
        (c_ids, _unit_rows([r["centroid"] for r in cents]))
    )
    probe = min(nprobe, len(cents))

    def route(batches):
        ids_c, mat_c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sims = _unit_rows(pdf[vec_col].to_numpy()) @ mat_c.T  # Q x nlist
            near = _topk(sims, ids_c, probe, True)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(pdf[qid].to_numpy(), probe),
                    "cluster": ids_c[near.ravel()],
                    "qvec": list(np.repeat(pdf[vec_col].to_numpy(), probe)),
                }
            )

    routed = queries.select(F.col(qid), F.col(vec_col)).mapInPandas(
        route,
        schema=f"qid {_type(queries, qid)}, cluster long, "
        f"qvec {_type(queries, vec_col)}",
    )

    def per_cluster(key, qpdf, cpdf):
        if len(qpdf) == 0 or len(cpdf) == 0:
            # empty slices keep the input columns' dtypes, whatever
            # the id types are
            return pd.DataFrame(
                {
                    "query_id": qpdf["qid"].iloc[:0],
                    "neighbor_id": cpdf[id_col].iloc[:0],
                    "cos_sim": pd.Series([], dtype="float64"),
                }
            )
        sims = _unit_rows(qpdf["qvec"].to_numpy()) @ _unit_rows(
            cpdf[vec_col].to_numpy()
        ).T
        return _candidates(
            qpdf["qid"].to_numpy(), cpdf[id_col].to_numpy(), sims,
            k, "cos_sim", True,
        )

    candidates = routed.groupby("cluster").cogroup(
        assigned.select(id_col, vec_col, "cluster").groupby("cluster")
    ).applyInPandas(
        per_cluster,
        schema=f"query_id {_type(queries, qid)}, "
        f"neighbor_id {_type(corpus, id_col)}, cos_sim double",
    )
    return _merge(candidates, "cos_sim", True, k)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column:
    (id, codes array<tinyint>, scale float) with
    ``vec ~= codes * scale``, scale = max|component| / 127 per vector.

    The 100 TB ANN storage/shuffle lever: a float32 corpus drops 4x
    (and 8x vs Spark's float64 arrays) in parquet, page cache, and
    every shuffle that moves vectors - while cosine recall stays high
    because direction survives 8-bit rounding (recall test pins it).
    Pure Catalyst: one in-row fold for the max plus one transform;
    no Python, no shuffle. Dequantize with ``dequantize_expr`` or
    score directly against int8 codes in the Arrow kernels (numpy
    upcasts per batch; memory stays int8 at rest and on the wire).
    """
    v = F.col(vec_col)
    amax = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x)),
    )
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    # hoist the scale fold into its own projection: referenced inside
    # the codes lambda it would re-run the O(d) max fold PER ELEMENT
    # (O(d^2) per row); as a named column used twice (codes + output)
    # CollapseProject keeps it materialized once per row
    base = df.select(F.col(id_col), v.alias("_v"), scale.alias("_s"))
    return base.select(
        F.col(id_col),
        F.transform(
            F.col("_v"), lambda x: F.round(x / F.col("_s")).cast("tinyint")
        ).alias("codes"),
        F.col("_s").cast("float").alias("scale"),
    )


def dequantize_expr(codes: Column, scale: Column) -> Column:
    """codes array<tinyint> * scale -> array<double> (the approximate
    original vector), as an in-row transform."""
    return F.transform(codes, lambda c: c.cast("double") * scale)


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 10,
    sample_fraction: float | None = None,
) -> list:
    """Train a product-quantization codebook: split the d-dim space
    into ``m`` contiguous subspaces of d/m dims and k-means each
    subspace to ``k`` centroids (seeded MLlib, like kmeans_assign).
    Returns the codebooks as a nested list [m][k][d/m] - a tiny,
    JSON-serializable model artifact (m*k*(d/m) = d*k floats - 1024
    doubles / 8 KiB at the defaults) the encode/search steps
    broadcast.

    PQ is the ANN memory lever BEYOND int8: where
    quantize_embeddings keeps d bytes/vector, PQ keeps m bytes
    (codes index into shared centroids) - 8x smaller than int8 and
    32x smaller than float32 at d=64/m=8 (the recall test's
    d=64/m=16 stores 16 bytes vs 512 bytes of Spark float64 arrays,
    32x) - the difference between an embedding corpus that fits
    executor page cache at 100 TB scale and one that does not.
    Accuracy is tunable via m and k (k <= 128, the tinyint code
    range); the recall pytest pins the floor.

    Scale note: training scans the corpus once per subspace (m narrow
    slice scans); pass ``sample_fraction`` to fit on a seeded sample -
    codebooks converge on a fraction of a large corpus (the standard
    PQ practice)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if not 2 <= k <= 128:
        raise ValueError(
            f"pq_train: k={k} out of range - codes are stored as "
            "tinyint (0..127); k=256-style codebooks need a wider "
            "code type"
        )
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"pq_train: no non-null {vec_col!r} vector to size the "
            "codebook from"
        )
    d = len(row[0])
    if d % m != 0:
        raise ValueError(
            f"pq_train: m={m} must divide the embedding dim {d}"
        )
    sub = d // m
    base = df.select(vec_col)
    if sample_fraction is not None:
        base = base.sample(fraction=float(sample_fraction), seed=seed)
    books: list = []
    for j in range(m):
        sliced = base.select(
            array_to_vector(
                F.slice(F.col(vec_col), j * sub + 1, sub).cast(
                    "array<double>"
                )
            ).alias("_features")
        )
        model = KMeans(
            k=k,
            seed=seed + j,
            maxIter=max_iter,
            featuresCol="_features",
            predictionCol="_code",
        ).fit(sliced)
        centers = [list(map(float, c)) for c in model.clusterCenters()]
        if len(centers) != k:
            # KMeans can converge to fewer clusters on low-cardinality
            # subspaces; a ragged codebook would desync pq_search's
            # (m x k) LUT - fail loudly, the caller lowers k
            raise ValueError(
                f"pq_train: subspace {j} converged to {len(centers)} "
                f"< k={k} centroids (low-cardinality dims or too "
                "small a sample) - lower k or widen the sample"
            )
        books.append(centers)
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors against a ``pq_train`` codebook: (id, codes
    array<tinyint>) with codes[j] = the nearest centroid of subspace
    j. Arrow-batched numpy (one (B x k) distance matrix per subspace
    per batch); the codebook broadcasts inside the closure. Ties
    break toward the smaller code (numpy argmin), deterministically."""
    id_t = _type(df, id_col)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if x.shape[1] != m * sub:
                raise ValueError(
                    f"pq_encode: vector dim {x.shape[1]} != m*sub "
                    f"{m}*{sub}"
                )
            codes = np.empty((len(x), m), dtype=np.int8)
            for j in range(m):
                xs = x[:, j * sub : (j + 1) * sub]
                # |x - c|^2 = |x|^2 - 2 x.c + |c|^2; row-constant
                # |x|^2 cannot change the argmin, drop it
                d2 = -2.0 * (xs @ books[j].T) + (
                    books[j] ** 2
                ).sum(axis=1)
                codes[:, j] = np.argmin(d2, axis=1).astype(np.int8)
            yield pd.DataFrame(
                {
                    "pq_id": pdf[id_col].to_numpy(),
                    "codes": [c.tolist() for c in codes],
                }
            )

    return (
        df.select(id_col, vec_col)
        .mapInPandas(encode, schema=f"pq_id {id_t}, codes array<tinyint>")
        .withColumnRenamed("pq_id", id_col)
    )


def pq_search(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: list,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query
    precomputes one (m x k) lookup table of exact squared distances
    from its subvectors to every centroid, and a candidate's score is
    the SUM of m table lookups - the corpus is never dequantized.
    Output: (query_id, neighbor_id, adc_dist, rank), rank 1 = nearest.

    The Q x m x k table is the broadcast query side; each corpus batch
    scores its int8 codes against it. Scale shape, tie-break, empty
    query side and id types follow the module's top-k contract."""
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    return _broadcast_topk(
        queries, query_id_col or id_col, vec_col,
        lambda q: _pq_table(q, books),
        encoded, id_col, ["codes"],
        lambda lut, pdf: _adc(
            lut, np.stack(pdf["codes"].to_numpy()).astype(np.int64)
        ),
        "adc_dist", False, k,
    )


def ivfpq_build(
    df: DataFrame,
    nlist: int = 16,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> tuple:
    """IVF-PQ index build - the FAISS-classic composition and the
    100 TB ANN production shape: k-means routes every vector to one
    of ``nlist`` coarse cells, and PQ encodes the RESIDUAL (vector
    minus its cell centroid) into m int8 codes. Residual encoding is
    what makes the composition better than either piece alone: the
    coarse quantizer removes the between-cell variance, so the same
    m x k code budget spends entirely on within-cell detail.

    Returns (encoded, centroids, codebooks): ``encoded`` = (id,
    cluster, codes) - at lake scale written PARTITIONED BY cluster so
    a probe reads nprobe/nlist of the data (ivf_build_index's
    contract); ``centroids`` = [(cluster_id, [d])] pairs (populated
    cells only) and ``codebooks`` = [m][k][d/m], both tiny
    driver-side lists the search broadcasts.

    Scale shape: one k-means fit + assignment, one centroid
    aggregate, a broadcast-join residual projection (pure Catalyst
    zip_with - no Python in the residual path), one PQ train (m
    narrow slice fits) and one Arrow-batched encode."""
    assigned = kmeans_assign(df, k=nlist, vec_col=vec_col, seed=seed)
    cents_df = ivf_centroids(assigned, "cluster", vec_col=vec_col)
    residuals = assigned.join(F.broadcast(cents_df), "cluster").select(
        id_col,
        "cluster",
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("centroid"),
            lambda x, c: x - c,
        ).alias("_residual"),
    )
    books = pq_train(
        residuals.select(F.col("_residual").alias(vec_col)),
        m=m,
        k=k,
        vec_col=vec_col,
        seed=seed,
    )
    encoded = pq_encode(
        residuals, books, id_col=id_col, vec_col="_residual"
    ).join(residuals.select(id_col, "cluster"), id_col)
    # centroids as (cluster_id, vector) PAIRS, not a plain array:
    # k-means can leave a cell empty, and ivf_centroids only emits
    # populated cells - positional indexing would silently shift
    # every id after a gap
    cents = sorted(
        (int(r["cluster"]), list(map(float, r["centroid"])))
        for r in cents_df.collect()
    )
    return encoded, cents, books


def ivfpq_search(
    queries: DataFrame,
    encoded: DataFrame,
    centroids: list,
    codebooks: list,
    k: int,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """IVF-PQ top-k: each query probes its ``nprobe`` nearest coarse
    cells (ties toward the smaller cluster id) and scores ONLY those
    cells' codes by asymmetric distance against a per-(query, cell)
    lookup table built from the query's RESIDUAL to that cell's
    centroid - candidates are never dequantized and never leave their
    partition before the k-bounded merge. nprobe=nlist is
    exhaustive-PQ (equals pq_search on the residual index,
    pytest-pinned); recall rises with nprobe.

    Output: (query_id, neighbor_id, adc_dist, rank), ADC approximates
    squared L2. The broadcast query side is Q x nprobe x m x k doubles
    of table plus the probe lists; the rest follows the module's top-k
    contract. At lake scale ``encoded`` is read PARTITIONED BY
    cluster, so the scan itself prunes to the union of probed cells
    (PartitionFilters - the ivf_search_indexed contract); here the
    kernel masks per batch, which is the same candidate bound without
    the I/O pruning."""
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    cmat = np.asarray([v for _, v in centroids], dtype=np.float64)
    npb = min(nprobe, len(cmat))

    def prepare(q: np.ndarray) -> tuple:
        # positions into the (possibly gappy) centroid list; the scan
        # compares against the ACTUAL cluster ids
        cd = ((q[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        pos = _topk(cd, cids, npb, False)
        residuals = (q[:, None, :] - cmat[pos]).reshape(len(q) * npb, -1)
        lut = _pq_table(residuals, books)
        return cids[pos], lut.reshape(len(q), npb, *lut.shape[1:])

    def score(prepared: tuple, pdf: pd.DataFrame) -> np.ndarray:
        probes, lut = prepared
        clusters = pdf["cluster"].to_numpy()
        codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
        dist = np.full((len(probes), len(pdf)), np.inf)
        for qi, pi in np.ndindex(probes.shape):
            rows = clusters == probes[qi, pi]
            dist[qi, rows] = _adc(lut[qi, pi], codes[rows])
        return dist

    return _broadcast_topk(
        queries, query_id_col or id_col, vec_col, prepare,
        encoded, id_col, ["cluster", "codes"], score,
        "adc_dist", False, k,
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lambda_: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "cos_sim",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) over per-query candidate sets: greedily pick the candidate
    maximizing ``lambda * relevance - (1 - lambda) * max-similarity
    to the already-selected`` - the standard diversity pass between
    ANN retrieval and a RAG context window (near-duplicate passages
    otherwise fill every slot; lambda=1 degenerates to relevance
    order, lambda=0 to pure anti-redundancy).

    Input is the RETRIEVAL OUTPUT (knn_join / ivf_search /
    topk_cosine joined back to vectors): one row per (query,
    candidate) with the candidate vector and its relevance. The
    greedy pass is inherently sequential PER QUERY, so it runs as
    applyInPandas over query groups - numpy inside, state bounded by
    the CANDIDATE COUNT (tens to hundreds by construction: rerankers
    see shortlists, never the corpus), queries parallelize freely.
    Candidate-candidate similarity is computed on the fly per step
    (k * n dot products per query), never a materialized n x n.

    Ties break to the smaller id (candidates are processed in id
    order and argmax takes the first maximum) - deterministic across
    partitionings and replays. Returns (query_col, rank, id_col,
    relevance, mmr_score), rank 1 first-selected."""
    if not 0.0 <= lambda_ <= 1.0:
        raise ValueError(f"lambda_ must be in [0, 1], got {lambda_}")
    out_schema = (
        f"{query_col} {_type(candidates, query_col)}, rank int, "
        f"{id_col} {_type(candidates, id_col)}, "
        "relevance double, mmr_score double"
    )

    def per_query(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        unit = _unit_rows(pdf[vec_col].to_numpy())
        n = len(ids)
        take = min(k, n)
        selected: list[int] = []
        max_sim = np.zeros(n)
        out_rows = []
        remaining = np.ones(n, dtype=bool)
        for rank in range(1, take + 1):
            score = lambda_ * rel - (1.0 - lambda_) * max_sim
            score_masked = np.where(remaining, score, -np.inf)
            pick = int(np.argmax(score_masked))
            remaining[pick] = False
            selected.append(pick)
            out_rows.append(
                (
                    pdf[query_col].iloc[0],
                    rank,
                    ids[pick],
                    float(rel[pick]),
                    float(score_masked[pick]),
                )
            )
            if rank < take:
                sims = unit @ unit[pick]
                max_sim = np.maximum(max_sim, sims)
        return pd.DataFrame(
            out_rows,
            columns=[query_col, "rank", id_col, "relevance", "mmr_score"],
        )

    return candidates.groupBy(query_col).applyInPandas(
        per_query, out_schema
    )


def mine_hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    exclude_pairs: DataFrame | None = None,
    margin: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Contrastive-training hard negatives: for every query, the ``k``
    most similar corpus items that are NOT the query itself and NOT
    its known near-duplicates - the retrieve-then-exclude shape of
    DPR/SimCSE-style pipelines. The exclusion is the whole point: an
    unfiltered top-k hands the model its own duplicates as
    "negatives" - false negatives that poison the contrastive loss -
    so the near-dup graph the dedup family already computes
    (minhash_dedup_pairs / jaccard verify output, any (id_a, id_b)
    frame) plugs in directly, applied in BOTH orientations.

    Self-exclusion applies only when queries and corpus share an id
    space (``query_id_col`` is None); with a separate query-id column
    the spaces are disjoint, id equality means nothing, and known
    positives belong in ``exclude_pairs``.

    Retrieval over-fetches to ``k + 1 + margin`` (margin defaults to
    ``k``): the +1 covers self, the margin covers excluded
    near-duplicates. A query with MORE than ``margin`` near-dups
    inside its over-fetched shortlist returns fewer than k negatives
    (honest truncation - re-run with a larger margin; the alternative,
    retrieving until k survive, is an unbounded loop).

    Scale shape: one knn_join (queries broadcast as a matrix, corpus
    streams, per-batch local top-k), an anti-join against the pair
    set on (query, neighbor), then a per-query re-rank bounded by the
    over-fetched rows - never the corpus. Output: (query_id, neg_id,
    cos_sim, rank), rank 1 = hardest surviving negative, ties to the
    smaller id (knn_join's determinism carries through)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    fetch = k + 1 + (margin if margin is not None else k)
    cand = knn_join(queries, corpus, fetch, id_col, vec_col, query_id_col)
    if query_id_col is None:
        # self-exclusion by id is only meaningful when queries and
        # corpus share one id space; with a separate query_id_col the
        # spaces are disjoint and an id COLLISION would silently drop
        # a legitimate (often rank-1) negative (review finding) -
        # callers with external query ids exclude known positives via
        # exclude_pairs instead
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    if exclude_pairs is not None:
        ex = exclude_pairs.select(
            F.col("id_a").alias("query_id"), F.col("id_b").alias("neighbor_id")
        ).unionByName(
            exclude_pairs.select(
                F.col("id_b").alias("query_id"),
                F.col("id_a").alias("neighbor_id"),
            )
        ).dropDuplicates()
        cand = cand.join(ex, ["query_id", "neighbor_id"], "left_anti")
    return _merge(cand, "cos_sim", True, k).select(
        "query_id",
        F.col("neighbor_id").alias("neg_id"),
        "cos_sim",
        "rank",
    )
