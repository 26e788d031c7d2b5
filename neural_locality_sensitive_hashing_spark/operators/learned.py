"""Learned-partitioner dedup + ANN pipelines (SURVEY.md §7 stage 2).

Same candidate machinery as MinHash banding, but buckets come from the
learned code UDF over document embeddings — the `minhash-banding` vs
`learned` partitioner switch the reference's design motivates. The trainer
runs on a driver-side sample (`sample()` scan only); fitted weights are
broadcast inside the UDF closure.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.functions.embedding import (
    make_hashed_embedding_udf,
)
from neural_locality_sensitive_hashing_spark.learned.partitioner import (
    make_learned_code_udf,
    make_multiband_code_udf,
    train_multiband_partitioner,
    train_partitioner,
)
from neural_locality_sensitive_hashing_spark.operators.candidates import candidate_pairs
from neural_locality_sensitive_hashing_spark.operators.dedup import shingle_documents
from neural_locality_sensitive_hashing_spark.operators.verify import jaccard_verify


def fit_partitioner_on_sample(
    df: DataFrame,
    vec_col: str = "embedding",
    n_bits: int = 16,
    sample_rows: int = 2048,
    seed: int = 42,
    **train_kwargs,
) -> dict[str, np.ndarray]:
    """Driver-side training scan: sample embeddings, fit numpy partitioner.
    The only cluster work is the sampling scan (SURVEY §3 E1 re-expression:
    'no cluster boundary crossings during training').

    The sample is a seeded Bernoulli `sample()` over every partition —
    a bare `.limit(n)` would take the first partitions only, training the
    partitioner on one shard's distribution (biased under clustered
    layouts). The fraction is derived from a count() of the non-null
    vector column — a real (cheap, single-column) scan, not a
    metadata-only lookup, since the null filter must inspect values."""
    x = _sample_matrix(df, vec_col, sample_rows, seed)
    return train_partitioner(x, n_bits=n_bits, seed=seed, **train_kwargs)


def _sample_matrix(df: DataFrame, vec_col: str, sample_rows: int, seed: int) -> np.ndarray:
    """The shared sampling scan (see fit_partitioner_on_sample docstring)."""
    vecs = df.select(vec_col).where(F.col(vec_col).isNotNull())
    n = vecs.count()
    if n > sample_rows:
        # oversample 2x so the post-sample limit() almost never undershoots
        frac = min(1.0, 2.0 * sample_rows / n)
        vecs = vecs.sample(fraction=frac, seed=seed)
    sample = vecs.limit(sample_rows).collect()
    return np.array([list(r[0]) for r in sample], dtype=np.float64)


def fit_multiband_on_sample(
    df: DataFrame,
    vec_col: str = "embedding",
    n_bands: int = 4,
    n_bits: int = 10,
    sample_rows: int = 2048,
    seed: int = 42,
    **train_kwargs,
) -> list[dict[str, np.ndarray]]:
    """One sampling scan, B independent fits (seeds seed..seed+B-1) — see
    ``train_multiband_partitioner`` for why the union of bands dominates a
    single learned code on diffuse corpora."""
    x = _sample_matrix(df, vec_col, sample_rows, seed)
    return train_multiband_partitioner(
        x, n_bands=n_bands, n_bits=n_bits, seed=seed, **train_kwargs
    )


def learned_dup_pairs(
    docs: DataFrame,
    cfg: DedupConfig,
    weights: dict[str, np.ndarray] | list[dict[str, np.ndarray]] | None = None,
    n_probes: int = 4,
    embed_dim: int = 64,
    n_bands: int | None = None,
) -> DataFrame:
    """Dedup with the learned partitioner: embed -> probe codes -> bucket
    self-join -> exact-Jaccard verify. Verification threshold and skew
    handling are identical to the MinHash path, so the two partitioners are
    directly comparable on candidate fan-out (the reference's `query_size`
    metric, ``nlsh/trainers/base.py:98``).

    Pass a weights LIST (or ``n_bands``) for the multi-band construction —
    the north star's "learned partitioner replacing random banding":
    B independent codes unioned via band-offset buckets, same single
    grouped exchange (see BENCH/LEARNED_DEDUP.md for the measured
    candidate-fan-out comparison against MinHash banding)."""
    embed = make_hashed_embedding_udf(dim=embed_dim, seed=cfg.minhash_seed)
    emb = docs.select("doc_id", embed(F.col("text")).alias("embedding")).persist()
    if weights is None:
        if n_bands:
            weights = fit_multiband_on_sample(
                emb, n_bands=n_bands, seed=cfg.minhash_seed
            )
        else:
            weights = fit_partitioner_on_sample(emb, seed=cfg.minhash_seed)
    if isinstance(weights, list):
        code_udf = make_multiband_code_udf(weights, n_probes=n_probes)
    else:
        code_udf = make_learned_code_udf(weights, n_probes=n_probes)
    buckets = emb.select(
        "doc_id", F.posexplode(code_udf(F.col("embedding"))).alias("band", "bucket")
    )
    # multi-probe: a pair collides if probe sets intersect — drop the band
    # coordinate (band = probe index) so probe-i can meet probe-j
    buckets = buckets.select("doc_id", F.lit(0).alias("band"), "bucket").dropDuplicates(
        ["doc_id", "bucket"]
    )
    cands = candidate_pairs(buckets, cfg)
    sh = shingle_documents(docs, cfg)
    return jaccard_verify(cands, sh, cfg)


def ivf_ann(
    queries: DataFrame,
    corpus: DataFrame,
    codebook,
    k: int = 10,
    n_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: corpus rows live in their nearest-centroid
    bucket, queries probe the ``n_probes`` nearest centroids, exact cosine
    re-ranks — the VQ partitioner's query path (reference VQ-VAE argmax
    lookup, ``nlsh/trainers/vqvae.py``, re-imagined as spherical k-means;
    see learned/vq.py). Centroid ids explode NARROW (id, bucket); vectors
    gather back post-dedup (J3)."""
    from neural_locality_sensitive_hashing_spark.learned.vq import make_vq_code_udf
    from neural_locality_sensitive_hashing_spark.operators.similarity import (
        _cosine_udf,
    )

    c_udf = make_vq_code_udf(codebook, n_probes=1)
    q_udf = make_vq_code_udf(codebook, n_probes=n_probes)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.explode(c_udf(F.col(vec_col))).alias("bucket")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.explode(q_udf(F.col(vec_col))).alias("bucket")
    )
    cand = (
        q.join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    sim = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine_udf(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return sim.select("*", F.row_number().over(w).alias("rank")).where(F.col("rank") <= k)


def learned_ann(
    queries: DataFrame,
    corpus: DataFrame,
    weights: dict[str, np.ndarray],
    k: int = 10,
    n_probes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN search with the learned partitioner — the reference's exact query
    path (multi-probe query codes vs single-code index,
    ``nlsh/indexer.py:36-38,56-96``): corpus hashed once, queries probe
    n_probes buckets, exact cosine re-ranks.

    Shuffle discipline (J3, same shape as ``ivf_ann``): the explodes carry
    (id, bucket) ONLY — the query side would otherwise duplicate its
    vector ×n_probes and the (query_id, neighbor_id) dedup exchange would
    be ~17× wider than ids-only. Vectors are gathered back AFTER the
    dedup (query side broadcast) and an Arrow kernel re-ranks."""
    corpus_codes = make_learned_code_udf(weights, n_probes=1)
    query_codes = make_learned_code_udf(weights, n_probes=n_probes)
    return _code_join_ann(queries, corpus, corpus_codes, query_codes, k, id_col, vec_col)


def learned_ann_multiband(
    queries: DataFrame,
    corpus: DataFrame,
    weights_list: list[dict[str, np.ndarray]],
    k: int = 10,
    n_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN with B independent learned codes unioned (OR-amplification —
    the learned analogue of MinHash banding; see
    ``train_multiband_partitioner``).  One explode emits every band's
    probe buckets band-offset (buckets never collide across bands), so the
    plan shape — and the ids-only shuffle discipline — is IDENTICAL to
    single-band ``learned_ann``: still one bucket equi-join + one dedup
    exchange, not B joins.  ``n_probes`` is per band."""
    corpus_codes = make_multiband_code_udf(weights_list, n_probes=1)
    query_codes = make_multiband_code_udf(weights_list, n_probes=n_probes)
    return _code_join_ann(queries, corpus, corpus_codes, query_codes, k, id_col, vec_col)


def _code_join_ann(
    queries: DataFrame,
    corpus: DataFrame,
    corpus_codes,
    query_codes,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    from neural_locality_sensitive_hashing_spark.operators.similarity import (
        _cosine_udf,
    )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(corpus_codes(F.col(vec_col))).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(query_codes(F.col(vec_col))).alias("bucket"),
    )
    cand = (
        q.join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    sim = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine_udf(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return sim.select("*", F.row_number().over(w).alias("rank")).where(F.col("rank") <= k)
