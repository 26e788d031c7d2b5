"""ANN search over learned and VQ partitioners (SURVEY.md §7 stage 2).

The reference's query path (``nlsh/indexer.py:36-38,56-96``) as one
Spark plan for three code families: the learned partitioner's single
code (``learned_ann``), its band-offset multiband union
(``learned_ann_multiband``) and the VQ codebook (``ivf_ann``). Corpus
vectors get one code, queries probe several; a bucket equi-join yields
the candidates and exact cosine re-ranks them. The codes come from UDFs
over (vec_id, embedding) tables, with fitted weights captured in their
closures; training happens on the driver (learned/partitioner.py,
learned/vq.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from neural_locality_sensitive_hashing_spark.learned.partitioner import (
    make_learned_code_udf,
    make_multiband_code_udf,
)
from neural_locality_sensitive_hashing_spark.learned.vq import make_vq_code_udf
from neural_locality_sensitive_hashing_spark.operators.similarity import (
    code_join_candidates,
    cosine_topk,
)


def ivf_ann(
    queries: DataFrame,
    corpus: DataFrame,
    codebook,
    k: int = 10,
    n_probes: int = 4,
) -> DataFrame:
    """IVF (inverted-file) ANN: corpus rows live in their nearest-centroid
    bucket, queries probe the ``n_probes`` nearest centroids, exact cosine
    re-ranks — the VQ partitioner's query path (reference VQ-VAE argmax
    lookup, ``nlsh/trainers/vqvae.py``, re-imagined as spherical k-means;
    see learned/vq.py)."""
    corpus_codes = make_vq_code_udf(codebook, n_probes=1)
    query_codes = make_vq_code_udf(codebook, n_probes=n_probes)
    return _code_join_ann(queries, corpus, corpus_codes, query_codes, k)


def learned_ann(
    queries: DataFrame,
    corpus: DataFrame,
    weights: dict[str, np.ndarray],
    k: int = 10,
    n_probes: int = 8,
) -> DataFrame:
    """ANN search with the learned partitioner — the reference's exact query
    path (multi-probe query codes vs single-code index,
    ``nlsh/indexer.py:36-38,56-96``): corpus hashed once, queries probe
    n_probes buckets, exact cosine re-ranks."""
    corpus_codes = make_learned_code_udf(weights, n_probes=1)
    query_codes = make_learned_code_udf(weights, n_probes=n_probes)
    return _code_join_ann(queries, corpus, corpus_codes, query_codes, k)


def learned_ann_multiband(
    queries: DataFrame,
    corpus: DataFrame,
    weights_list: list[dict[str, np.ndarray]],
    k: int = 10,
    n_probes: int = 4,
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
    return _code_join_ann(queries, corpus, corpus_codes, query_codes, k)


def _code_join_ann(
    queries: DataFrame, corpus: DataFrame, corpus_codes, query_codes, k: int
) -> DataFrame:
    """Top-k by exact cosine over the bucket join of the two code UDFs.
    Shuffle discipline (J3): the explodes carry (id, bucket) ONLY — the
    query side would otherwise duplicate its vector ×n_probes and the
    (query_id, neighbor_id) dedup exchange would be ~17× wider than
    ids-only; the vectors are gathered back after the dedup."""
    cand = code_join_candidates(queries, corpus, query_codes, corpus_codes)
    return cosine_topk(cand, queries, corpus, k)
