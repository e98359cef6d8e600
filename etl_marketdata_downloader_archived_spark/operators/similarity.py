"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100 TB engine needs both:

- Brute-force cosine top-k: correct baseline. The dot product is a
  Catalyst higher-order function (zip_with + aggregate) computed in
  double - JVM-side, codegen'd, no Python. With the query vector as a
  literal the scan is a narrow map + TakeOrdered: no shuffle of the
  embedding column at all.
- IVF (inverted-file) search: k-means-style coarse quantization ->
  search only the closest nprobe partitions. Centroid assignment is a
  broadcast of (tiny) centroids against the vectors; at scale the
  assignment is precomputed and the table is PARTITIONED BY cluster so
  probing prunes partitions on read.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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
    bucketing's job."""
    import numpy as np

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"bucket": [], "id_a": [], "id_b": [], "cos_sim": []}
            ).astype({"bucket": "int64", "id_a": "int64", "id_b": "int64", "cos_sim": "float64"})
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        v = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        norms = np.linalg.norm(v, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        v = v / norms
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

    out_schema = "bucket long, id_a long, id_b long, cos_sim double"
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
    cents = spark.read.parquet(path.rstrip("/") + "__centroids")
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    probe = [
        r[0]
        for r in cents.select("cluster", cosine(F.col("centroid"), qlit).alias("c"))
        .orderBy(F.col("c").desc(), "cluster")
        .limit(nprobe)
        .select("cluster")
        .collect()
    ]
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
    cents = ivf_centroids(df, cluster_col, vec_col)
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    probe = [
        r[0]
        for r in cents.select(
            cluster_col, cosine(F.col("centroid"), qlit).alias("c")
        )
        .orderBy(F.col("c").desc(), F.col(cluster_col))
        .limit(nprobe)
        .select(cluster_col)
        .collect()
    ]
    # collect() here is centroid-count rows (tiny, bounded by nlist) -
    # it parameterizes partition pruning for the probe scan.
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
    retrieval eval. Output: (query_id, neighbor_id, cos_sim, rank).

    Scale shape: the QUERY side is the small side (an eval set, a
    probe batch) - it broadcasts to every corpus partition as one
    normalized numpy matrix; ``mapInPandas`` scores each Arrow batch
    against all queries with one BLAS matmul and emits only each
    batch's LOCAL top-k per query. The global window then ranks
    O(queries x k x batches) candidate rows, never the corpus - the
    same partial-top-k-then-merge contract TakeOrderedAndProject uses.
    Corpus-side parallelism is the partition count; nothing about the
    corpus must fit on one machine (the query matrix must: Q x dim
    floats). Ties on cos_sim break toward the smaller neighbor id,
    making the graph deterministic. Id columns keep their input types
    (int, string, ...) - the output schema is derived from the input
    schemas, not hardcoded to long."""
    import numpy as np

    from pyspark.sql import Window as W

    qid = query_id_col or id_col
    qid_t = queries.schema[qid].dataType.simpleString()
    nid_t = corpus.schema[id_col].dataType.simpleString()
    q_rows = queries.select(F.col(qid).alias("qid"), F.col(vec_col)).collect()
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_norms[q_norms == 0.0] = 1.0
    q_mat = q_mat / q_norms
    sc = queries.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat))

    def score(batches):
        ids_q, mat_q = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf[id_col].to_numpy()
            c = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = np.linalg.norm(c, axis=1, keepdims=True)
            n[n == 0.0] = 1.0
            sims = mat_q @ (c / n).T  # Q x B
            kk = min(k, sims.shape[1])
            # local top-k per query with the id tie-break applied
            # LOCALLY: a boundary tie dropped by plain argpartition
            # could be the smallest-id candidate, which the global
            # (cos_sim, neighbor_id) merge can then never restore
            id_rank = np.argsort(np.argsort(c_ids, kind="stable"))
            rq, rc, rs = [], [], []
            for qi in range(sims.shape[0]):
                order = np.lexsort((id_rank, -sims[qi]))[:kk]
                rq.append(np.repeat(ids_q[qi], kk))
                rc.append(c_ids[order])
                rs.append(sims[qi][order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(rq),
                    "neighbor_id": np.concatenate(rc),
                    "cos_sim": np.concatenate(rs),
                }
            )

    candidates = corpus.select(id_col, vec_col).mapInPandas(
        score, schema=f"query_id {qid_t}, neighbor_id {nid_t}, cos_sim double"
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
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
    2. Queries fan out to their ``nprobe`` nearest centroids via a
       broadcast centroid matrix (nlist x dim - always tiny) inside
       mapInPandas: no shuffle, no driver collect of queries.
    3. A COGROUP on the cluster key hands each (query-batch,
       corpus-cluster) pair to one BLAS matmul emitting local top-k
       per query; the global window merges O(Q x k x nprobe) rows.

    Approximate like any IVF probe (recall rises with nprobe;
    nprobe=nlist is exhaustive and equals knn_join - pytest-pinned).
    Every stage is bounded: centroids broadcast, one corpus cluster +
    one query batch per task, candidates k-bounded."""
    import numpy as np

    qid = query_id_col or id_col
    qid_t = queries.schema[qid].dataType.simpleString()
    nid_t = corpus.schema[id_col].dataType.simpleString()
    assigned = kmeans_assign(corpus, k=nlist, vec_col=vec_col, seed=seed)
    cents = ivf_centroids(assigned, "cluster", vec_col=vec_col).collect()
    c_ids = np.array([r["cluster"] for r in cents], dtype=np.int64)
    c_mat = np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in cents])
    c_norm = np.linalg.norm(c_mat, axis=1, keepdims=True)
    c_norm[c_norm == 0.0] = 1.0
    c_mat = c_mat / c_norm
    sc = queries.sparkSession.sparkContext
    bc = sc.broadcast((c_ids, c_mat))
    probe = min(nprobe, len(cents))

    def route(batches):
        ids_c, mat_c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = np.linalg.norm(v, axis=1, keepdims=True)
            n[n == 0.0] = 1.0
            sims = (v / n) @ mat_c.T  # Q x nlist
            near = np.argpartition(-sims, probe - 1, axis=1)[:, :probe]
            qids = pdf[qid].to_numpy()
            vecs = pdf[vec_col].to_numpy()
            yield pd.DataFrame(
                {
                    "qid": np.repeat(qids, probe),
                    "cluster": ids_c[near.ravel()],
                    "qvec": [v for v in np.repeat(vecs, probe)],
                }
            )

    routed = queries.select(F.col(qid), F.col(vec_col)).mapInPandas(
        route, schema=f"qid {qid_t}, cluster long, qvec {queries.schema[vec_col].dataType.simpleString()}"
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
        qv = np.stack(qpdf["qvec"].to_numpy()).astype(np.float64)
        qn = np.linalg.norm(qv, axis=1, keepdims=True)
        qn[qn == 0.0] = 1.0
        cv = np.stack(cpdf[vec_col].to_numpy()).astype(np.float64)
        cn = np.linalg.norm(cv, axis=1, keepdims=True)
        cn[cn == 0.0] = 1.0
        sims = (qv / qn) @ (cv / cn).T
        kk = min(k, sims.shape[1])
        idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
        c_ids_local = cpdf[id_col].to_numpy()
        return pd.DataFrame(
            {
                "query_id": np.repeat(qpdf["qid"].to_numpy(), kk),
                "neighbor_id": c_ids_local[idx.ravel()],
                "cos_sim": np.take_along_axis(sims, idx, axis=1).ravel(),
            }
        )

    candidates = routed.groupby("cluster").cogroup(
        assigned.select(id_col, vec_col, "cluster").groupby("cluster")
    ).applyInPandas(
        per_cluster, schema=f"query_id {qid_t}, neighbor_id {nid_t}, cos_sim double"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


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
    import numpy as np

    id_t = df.schema[id_col].dataType.simpleString()
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
    Output: (query_id, neighbor_id, adc_dist, rank), rank 1 = nearest,
    ties toward the smaller neighbor id.

    Scale shape: the knn_join contract - queries collect driver-side
    (the small side by construction), the Q x m x k LUT broadcasts,
    each corpus partition emits its LOCAL top-k per query from int8
    codes, and the global window merges O(queries x k x partitions)
    candidates, never the corpus."""
    import numpy as np

    from pyspark.sql import Window as W

    qid = query_id_col or id_col
    qid_t = queries.schema[qid].dataType.simpleString()
    nid_t = encoded.schema[id_col].dataType.simpleString()
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]
    q_rows = queries.select(F.col(qid).alias("qid"), F.col(vec_col)).collect()
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    nq = len(q_ids)
    lut = np.empty((nq, m, books[0].shape[0]), dtype=np.float64)
    for j in range(m):
        qs = q_mat[:, j * sub : (j + 1) * sub]
        diff = qs[:, None, :] - books[j][None, :, :]
        lut[:, j, :] = (diff * diff).sum(axis=2)
    sc = queries.sparkSession.sparkContext
    blut = sc.broadcast((q_ids, lut))

    def score(batches):
        import pandas as pd

        ids_q, tables = blut.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf[id_col].to_numpy()
            codes = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
            )
            dist = np.zeros((len(ids_q), len(c_ids)), dtype=np.float64)
            for j in range(codes.shape[1]):
                dist += tables[:, j, codes[:, j]]
            kk = min(k, dist.shape[1])
            # LOCAL selection must already tie-break on id: identical
            # codes tie exactly on ADC distance, and argpartition at
            # the kk-th boundary could drop the smallest-id candidate
            # - a candidate never emitted cannot be restored by the
            # global (adc_dist, neighbor_id) merge (review catch)
            id_rank = np.argsort(np.argsort(c_ids, kind="stable"))
            rows_q, rows_c, rows_d = [], [], []
            for qi in range(dist.shape[0]):
                order = np.lexsort((id_rank, dist[qi]))[:kk]
                rows_q.append(np.repeat(ids_q[qi], kk))
                rows_c.append(c_ids[order])
                rows_d.append(dist[qi][order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(rows_q),
                    "neighbor_id": np.concatenate(rows_c),
                    "adc_dist": np.concatenate(rows_d),
                }
            )

    candidates = encoded.select(id_col, "codes").mapInPandas(
        score,
        schema=f"query_id {qid_t}, neighbor_id {nid_t}, adc_dist double",
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return candidates.withColumn(
        "rank", F.row_number().over(w)
    ).filter(F.col("rank") <= k)


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
    cells and scores ONLY those cells' codes by asymmetric distance
    against a per-(query, cell) lookup table built from the query's
    RESIDUAL to that cell's centroid - candidates are never
    dequantized and never leave their partition before the k-bounded
    merge. nprobe=nlist is exhaustive-PQ (equals pq_search on the
    residual index, pytest-pinned); recall rises with nprobe.

    Output: (query_id, neighbor_id, adc_dist, rank), ADC approximates
    squared L2; ties toward the smaller neighbor id, applied in the
    LOCAL selection (the pq_search/knn_join rule).

    Scale shape: queries collect driver-side (the small side); the
    broadcast is Q x nprobe x m x k doubles of LUT plus the probe
    lists. At lake scale ``encoded`` is read PARTITIONED BY cluster,
    so the scan itself prunes to the union of probed cells
    (PartitionFilters - the ivf_search_indexed contract); here the
    kernel masks per batch, which is the same candidate bound without
    the I/O pruning."""
    import numpy as np

    from pyspark.sql import Window as W

    qid = query_id_col or id_col
    qid_t = queries.schema[qid].dataType.simpleString()
    nid_t = encoded.schema[id_col].dataType.simpleString()
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]
    kcent = books[0].shape[0]
    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    cmat = np.asarray([v for _, v in centroids], dtype=np.float64)
    nlist = len(cmat)
    npb = min(nprobe, nlist)
    q_rows = queries.select(F.col(qid).alias("qid"), F.col(vec_col)).collect()
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    nq = len(q_ids)
    # coarse routing: nprobe nearest centroids per query (ties toward
    # the smaller cluster id via stable argsort on (dist, id))
    cd = ((q_mat[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
    # positions into the (possibly gappy) centroid list; the kernel
    # compares against the ACTUAL cluster ids
    probes = cids[np.argsort(cd, axis=1, kind="stable")[:, :npb]]
    probe_pos = np.argsort(cd, axis=1, kind="stable")[:, :npb]
    # per-(query, probed cell) LUT over the query RESIDUAL
    lut = np.empty((nq, npb, m, kcent), dtype=np.float64)
    for qi in range(nq):
        for pi in range(npb):
            r = q_mat[qi] - cmat[probe_pos[qi, pi]]
            for j in range(m):
                diff = r[j * sub : (j + 1) * sub][None, :] - books[j]
                lut[qi, pi, j, :] = (diff * diff).sum(axis=1)
    sc = queries.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, probes, lut))

    def score(batches):
        import pandas as pd

        ids_q, prb, tables = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf[id_col].to_numpy()
            clusters = pdf["cluster"].to_numpy()
            codes = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
            )
            id_rank = np.argsort(np.argsort(c_ids, kind="stable"))
            rq, rc, rd = [], [], []
            for qi in range(len(ids_q)):
                dists, keeps = [], []
                for pi in range(prb.shape[1]):
                    mask = clusters == prb[qi, pi]
                    if not mask.any():
                        continue
                    sel = codes[mask]
                    d = np.zeros(len(sel), dtype=np.float64)
                    for j in range(sel.shape[1]):
                        d += tables[qi, pi, j, sel[:, j]]
                    dists.append(d)
                    keeps.append(np.flatnonzero(mask))
                if not dists:
                    continue
                d_all = np.concatenate(dists)
                rows = np.concatenate(keeps)
                kk = min(k, len(d_all))
                order = np.lexsort((id_rank[rows], d_all))[:kk]
                rq.append(np.repeat(ids_q[qi], kk))
                rc.append(c_ids[rows[order]])
                rd.append(d_all[order])
            if not rq:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(rq),
                    "neighbor_id": np.concatenate(rc),
                    "adc_dist": np.concatenate(rd),
                }
            )

    candidates = encoded.select(id_col, "cluster", "codes").mapInPandas(
        score,
        schema=f"query_id {qid_t}, neighbor_id {nid_t}, adc_dist double",
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return candidates.withColumn(
        "rank", F.row_number().over(w)
    ).filter(F.col("rank") <= k)


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
    import numpy as np

    if not 0.0 <= lambda_ <= 1.0:
        raise ValueError(f"lambda_ must be in [0, 1], got {lambda_}")
    qt = candidates.schema[query_col].dataType.simpleString()
    it = candidates.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{query_col} {qt}, rank int, {id_col} {it}, "
        "relevance double, mmr_score double"
    )

    def per_query(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
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
    from pyspark.sql import Window as W

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
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("neighbor_id").alias("neg_id"),
            "cos_sim",
            "rank",
        )
    )
