"""The composed end-to-end training-corpus pipeline.

Chains every corpus-prep stage this engine provides, in the order a
real 100 TB run executes them (cheapest narrowing first, priciest
stages on the smallest surviving row set):

1. quality/language gates + benchmark decontamination + exact-dedup
   (operators.text.clean_corpus - narrow maps, broadcast decontam,
   one fingerprint shuffle)
1b. optional TRAINED quality gate beside the heuristic gates
   (operators.quality_model.score_documents - one shuffle-free
   narrow pass with the fitted model broadcast in the closure)
2. near-duplicate removal: MinHash+LSH candidates -> exact Jaccard
   verify -> connected components -> min-id representative
   (operators.dedup - bucketed, never all-pairs)
2b. optional exact substring-span removal AFTER document-level dedup
   (operators.dedup.strip_duplicated_spans - the Lee et al. 2022
   ExactSubstr ordering: doc-level first so repeated documents don't
   inflate span counts, then cross-document repeated spans are cut
   from the survivors; postings-linear, never all-pairs)
3. source re-mixing toward a target composition
   (operators.text.mix_rates + weighted_stratum_sample - one
   stratum-cardinality collect, then a broadcast join)
4. deterministic train/val/test split (operators.text.hash_split)
5. sequence packing of the train split into fixed-token examples
   (operators.packing.pack_sequences - per-partition greedy)

Generalizes the reference's single-stage 'fetch and land' dataflow
(data-downloader/data_downloader.py) to the corpus-preparation chain
a downstream model-training consumer needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import text as X
from ..operators.packing import pack_sequences

# chunk_id = doc_id * 2^_CHUNK_BITS + chunk_idx: ONE constant shared by
# the index build and the probe's unpack so the round-trip cannot drift
# (review finding: the width lived in two literals)
_CHUNK_BITS = 20


def prepare_training_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    benchmark: DataFrame | None = None,
    target_mix: dict[str, float] | None = None,
    split_fractions: dict[str, float] | None = None,
    max_tokens: int = 2048,
    min_quality: float = 0.5,
    languages: tuple[str, ...] = ("en",),
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    quality_model=None,
    min_model_quality: float = 0.5,
    span_tokens: int | None = None,
    dsir_target: DataFrame | None = None,
    dsir_keep: int | None = None,
    rep_score_col: str | None = None,
    mix_by: str = "docs",
    mix_temperature: float | None = None,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns the materializable artifacts:

    - ``corpus``: surviving documents with quality signals and a
      ``split`` column (plus ``quality_prob`` when a trained model
      gates, and ``span_tokens_removed`` when the substring tier runs)
    - ``packs``: fixed-token-budget training examples for the train
      split (join back to ``corpus`` texts via
      operators.packing.write_packed_shards to emit shards)

    Optional tiers (both off by default - the r13 operators wired into
    the composition they were built for):

    - ``quality_model``: a fitted operators.quality_model pipeline;
      documents scoring below ``min_model_quality`` are gated right
      after the heuristic gates (same narrowing point, model pass is
      shuffle-free so the added cost is one narrow map)
    - ``span_tokens``: run exact substring-span removal at this gram
      length AFTER near-dup removal (Lee et al. 2022 order); documents
      whose text is removed ENTIRELY (pure boilerplate) are dropped
    - ``dsir_target`` + ``dsir_keep``: DSIR importance selection
      (operators.dsir, Xie et al. 2023) - keep the ``dsir_keep``
      documents whose hashed-ngram distribution best matches the
      target corpus, AFTER dedup/span removal and BEFORE mixing
      (select toward the target first, then balance sources);
      survivors carry ``log_weight``
    - ``rep_score_col``: near-dup representative policy - keep each
      component's highest-scoring member (operators.dedup
      .dedup_keep_best; e.g. the ``quality`` signal stage 1 attaches)
      instead of the default minimum id
    - ``mix_by="tokens"``: compute the re-mixing keep-rates over
      per-source TOKEN totals instead of document counts - training
      mixes are token budgets, and doc-count rates skew toward
      sources with shorter documents. Sampling stays per-document
      (Bernoulli by id hash), so realized token shares land on the
      target with per-document-length jitter
    - ``mix_temperature``: temperature-rebalanced mixing (r15,
      operators.text.temperature_mix_rates - the XLM-R/T5 recipe)
      instead of an explicit ``target_mix``: rates derive from
      p_s = n_s^alpha over the observed per-source counts (same
      ``mix_by`` unit), alpha=0 flattening to uniform, alpha=1
      keeping the observed mix. Mutually exclusive with
      ``target_mix`` - the two tiers answer the same question from
      opposite inputs

    Laziness note: stages 1-2 and 4-5 stay lazy; stage 3 (re-mixing)
    needs the per-source counts - ONE collect of stratum-cardinality
    rows, the same driver-side shape as the connected-components
    convergence probe. The optional DSIR tier adds its own two-scalar
    totals collect and a localCheckpoint of the raw feature table
    (operators.dsir materializes it once rather than re-running the
    upstream gates per consumer).
    """
    split_fractions = split_fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    # knob validation up front: every misconfiguration fails before
    # any work, not only in the configuration that happens to reach
    # its branch (review findings)
    if mix_by not in ("docs", "tokens"):
        raise ValueError(f"mix_by must be 'docs' or 'tokens', got {mix_by!r}")
    if (dsir_target is None) != (dsir_keep is None):
        raise ValueError(
            "dsir_target and dsir_keep must be passed together "
            f"(got target={'set' if dsir_target is not None else 'None'}, "
            f"keep={dsir_keep!r}) - one without the other would "
            "silently skip the selection tier"
        )
    if target_mix is not None and mix_temperature is not None:
        raise ValueError(
            "target_mix and mix_temperature are mutually exclusive - "
            "an explicit target mix and a temperature-derived one "
            "answer the same question from opposite inputs; pass one"
        )

    cleaned = X.clean_corpus(
        docs,
        id_col=id_col,
        text_col=text_col,
        min_quality=min_quality,
        languages=languages,
        benchmark=benchmark,
    )

    if quality_model is not None:
        from ..operators.quality_model import score_documents

        cleaned = score_documents(quality_model, cleaned, text_col).filter(
            F.col("quality_prob") >= min_model_quality
        )

    pairs = D.minhash_dedup_pairs(
        cleaned, id_col, text_col, jaccard_threshold=jaccard_threshold
    )
    if rep_score_col is not None:
        deduped = D.dedup_keep_best(cleaned, pairs, id_col, rep_score_col)
    else:
        deduped = D.dedup_keep_representatives(cleaned, pairs, id_col)

    if span_tokens is not None:
        stripped = D.strip_duplicated_spans(
            deduped, id_col, text_col, span_tokens=span_tokens
        )
        # rejoin by id: strip returns only (id, text, counters); the
        # corpus' other columns ride the survivor side. Equi-join on
        # the id both sides were shuffled by - no new skew surface.
        deduped = (
            deduped.drop(text_col)
            .join(
                stripped.select(
                    id_col,
                    text_col,
                    F.col("n_removed").alias("span_tokens_removed"),
                ),
                id_col,
            )
            .filter(F.trim(F.col(text_col)) != "")
        )

    if dsir_target is not None and dsir_keep is not None:
        from ..operators.dsir import dsir_select

        deduped = dsir_select(
            deduped, dsir_target, dsir_keep, id_col, text_col
        )

    if target_mix is not None or mix_temperature is not None:
        if mix_by == "tokens":
            weight = F.size(X.ws_words(text_col))
        else:
            weight = F.lit(1)
        counts = {
            r["s"]: r["n"]
            for r in deduped.groupBy(F.col(source_col).alias("s"))
            .agg(F.sum(weight).alias("n"))
            .collect()
        }
        rates = (
            X.mix_rates(counts, target_mix)
            if target_mix is not None
            else X.temperature_mix_rates(counts, mix_temperature)
        )
        deduped = X.weighted_stratum_sample(
            deduped, id_col, source_col, rates, seed=seed
        )

    corpus = deduped.withColumn(
        "split", X.hash_split(id_col, split_fractions, seed=seed)
    )
    train = corpus.filter(F.col("split") == "train")
    packs = pack_sequences(train, id_col, max_tokens=max_tokens, text_col=text_col)
    return {"corpus": corpus, "packs": packs}


def build_retrieval_index(
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 256,
    overlap: int = 32,
    embed_dim: int = 64,
    ivf_k: int = 16,
    seed: int = 7,
) -> None:
    """The retrieval side of the corpus: overlapping context-window
    chunks -> feature-hash embeddings -> IVF index partitioned by
    cluster. A query then probes nprobe/k of the files
    (operators.similarity.ivf_search_indexed; PartitionFilters do the
    data skipping). Chunk ids pack (doc_id, chunk_idx) reversibly so a
    hit maps back to its source span: chunk_id = doc_id * 2^20 +
    chunk_idx (2^20 chunks/doc is ~270M tokens - beyond any document).
    """
    from ..operators.similarity import hash_embed, ivf_build_index
    from ..operators.text import chunk_text

    # pack guard (ADVICE r14): a chunk_idx at or past 2^_CHUNK_BITS (a
    # ~270M-token document) or a doc id outside [0, 2^(63-_CHUNK_BITS))
    # would silently collide chunk ids and make the probe's shift/mask
    # unpack return a WRONG (doc_id, chunk_idx) - fail loud instead.
    in_range = (
        (F.col("chunk_idx") < F.lit(1 << _CHUNK_BITS))
        & (F.col(id_col) >= 0)
        & (F.col(id_col) < F.lit(1 << (63 - _CHUNK_BITS)))
    )
    chunks = chunk_text(
        docs, id_col, text_col, chunk_tokens=chunk_tokens, overlap=overlap
    ).select(
        F.when(
            in_range,
            F.col(id_col) * (1 << _CHUNK_BITS) + F.col("chunk_idx"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "build_retrieval_index: (doc_id, chunk_idx) = ("
                    ),
                    F.col(id_col).cast("string"),
                    F.lit(", "),
                    F.col("chunk_idx").cast("string"),
                    F.lit(
                        f") does not fit the {63 - _CHUNK_BITS}+"
                        f"{_CHUNK_BITS}-bit chunk-id pack"
                    ),
                )
            )
        ).alias("chunk_id"),
        "chunk",
    )
    emb = hash_embed(chunks, "chunk_id", "chunk", dim=embed_dim)
    ivf_build_index(emb, index_path, k=ivf_k, id_col="chunk_id", seed=seed)


def probe_retrieval_index(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    nprobe: int = 3,
    lambda_: float = 0.5,
) -> DataFrame:
    """The query side of ``build_retrieval_index``, composed the way a
    RAG consumer actually retrieves: IVF shortlist (partition-pruned
    scan of nprobe/k of the index files, vectors carried through) ->
    MMR diversity re-rank down to ``k`` (operators.similarity
    .mmr_rerank). Near-duplicate chunks - overlapping windows of the
    same passage are near-dups BY CONSTRUCTION - otherwise fill every
    context slot; the MMR pass trades raw relevance for marginal
    novelty at ``lambda_``.

    Scale shape: the expensive part stays the pruned index scan; the
    re-rank sees only the ``shortlist`` rows (one applyInPandas group
    of tens-to-hundreds of candidates). Returns
    (rank, chunk_id, doc_id, chunk_idx, relevance, mmr_score) - the
    packed chunk id unpacked back to its source span."""
    from ..operators.similarity import ivf_search_indexed, mmr_rerank

    hits = ivf_search_indexed(
        spark,
        index_path,
        query_vec,
        k=shortlist,
        nprobe=nprobe,
        id_col="chunk_id",
        keep_vec=True,
    ).withColumn("_q", F.lit(0))
    ranked = mmr_rerank(
        hits,
        k=k,
        lambda_=lambda_,
        query_col="_q",
        id_col="chunk_id",
        vec_col="embedding",
        rel_col="cos_sim",
    )
    return ranked.select(
        "rank",
        "chunk_id",
        # exact integer unpack (no float division): ids are
        # non-negative by construction so arithmetic shift is safe
        F.shiftright("chunk_id", _CHUNK_BITS).alias("doc_id"),
        F.col("chunk_id")
        .bitwiseAND(F.lit((1 << _CHUNK_BITS) - 1))
        .cast("int")
        .alias("chunk_idx"),
        "relevance",
        "mmr_score",
    ).orderBy("rank")
