"""The MinHash dedup pipeline (SURVEY.md §3 E2 Spark re-expression):

    pages -> shingle + MinHash + band kernel -> band explode -> bucket
          self-join -> exact-Jaccard verify -> union-find -> clusters

Each stage is a pure DataFrame -> DataFrame function over (doc_id, text)
docs or (doc_id, sh) sets, so stages compose with the checkpoint manager
(plans/pipeline.py). The exact-duplicate and SimHash oracle lanes
(queries.py) carry their own plans.

This module is the one place batch dedup is composed: the resumable
pipeline, the spark-submit job (tools/run_dedup_job.py) and the oracle
lanes call these stages instead of rebuilding the chain. ``verify_pairs``
is the one verify policy (exact Jaccard, through a size-gated broadcast or
a join), and ``keep_list`` the one survivor derivation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.functions.minhash import make_shingle_sig_udf
from neural_locality_sensitive_hashing_spark.operators.candidates import candidate_pairs
from neural_locality_sensitive_hashing_spark.operators.connected_components import (
    clusters_with_singletons,
    connected_components,
)
from neural_locality_sensitive_hashing_spark.operators.verify import (
    jaccard_verify,
    jaccard_verify_bcast,
)
from neural_locality_sensitive_hashing_spark.partitioning import fan_out

# byte ceiling of the broadcast-verify set table: the ~700 B/doc x 300k
# docs that ``verify_broadcast_max_docs`` was sized for. Long pages reach
# it at far fewer docs; above it the join-based verify runs instead.
_BCAST_MAX_SH_BYTES = 256 << 20


def banded_signatures_fused(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, text) docs -> (doc_id, sh, bands): the one way the engine
    signs and bands documents — batch, the resumable pipeline and the
    stream all call it. One Arrow kernel tokenizes, shingles, MinHashes and bands
    (``make_shingle_sig_udf``): the 1 KB/doc signature never leaves the
    Python worker, only its ``num_bands`` band hashes do. Its parallelism
    comes from the signed frame's bytes (``partitioning.fan_out``)."""
    docs = fan_out(docs.select("doc_id", "text"))
    udf = make_shingle_sig_udf(
        cfg.shingle_k, cfg.num_perm, cfg.minhash_seed,
        num_bands=cfg.num_bands, rows_per_band=cfg.rows_per_band,
        shingle_hash_bytes=cfg.shingle_hash_bytes,
    )
    return docs.select("doc_id", udf(F.col("text")).alias("s")).select(
        "doc_id", F.col("s.sh").alias("sh"), F.col("s.bands").alias("bands")
    )


def explode_fused_bands(banded: DataFrame) -> DataFrame:
    """(doc_id, bands) -> (doc_id, band, bucket) for candidate_pairs."""
    return banded.select(
        "doc_id", F.posexplode("bands").alias("band", "bucket")
    )


def minhash_dup_pairs(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, text) docs -> (a, b, jaccard): full candidate generation
    and verification.

    Not lazy throughout: inside the broadcast-verify gate
    (``verify_pairs``) this call runs eager driver jobs (the gate's
    doc-count and shingle-byte aggregate and the shingle-set collect) and
    creates three broadcast variables; the returned DataFrame is lazy from
    there on.

    Cache lifecycle: `sigs` is persisted because banding AND the verify
    gather-join consume it, so the cache must outlive this function.
    Callers that materialize the result and loop (benchmarks, streaming)
    should release it via `spark.catalog.clearCache()` or by unpersisting
    the plan's cached ancestor — bench.py does exactly that between
    queries. ``clearCache()`` does not release the broadcasts: they stay
    on the driver and executors until the plan holding them is dropped
    and Spark's ContextCleaner reclaims them."""
    sigs = banded_signatures_fused(docs, cfg).persist()
    cands = candidate_pairs(explode_fused_bands(sigs), cfg)
    return verify_pairs(cands, sigs, cfg)


def verify_pairs(cands: DataFrame, sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(a, b) candidates + (doc_id, sh) signatures -> (a, b, jaccard)
    with exact jaccard >= tau: the engine's one verify policy, shared by
    batch and the resumable pipeline.

    The size gate (r10, guide §3.2/§8) picks the strategy: within it the
    shingle-set table is broadcast once and pairs verify via local
    lookup — the gather joins shipped the full sets per candidate pair
    through Arrow (~1 KB/pair). The gate's one ``agg`` job counts the docs
    and sums the set bytes the broadcast would ship
    (``_BCAST_MAX_SH_BYTES``); on a persisted ``sigs`` it also PREPAYS the
    cache every downstream consumer needs — no separate scan of the raw
    docs. Both doc bounds are measured crossovers (config.py). Identical
    jaccard values on every path."""
    if cfg.verify_broadcast_max_docs:
        n_docs, sh_bytes = sigs.agg(F.count("*"), F.sum(F.length("sh"))).first()
        if (
            cfg.verify_broadcast_min_docs < n_docs <= cfg.verify_broadcast_max_docs
            and sh_bytes <= _BCAST_MAX_SH_BYTES
        ):
            return jaccard_verify_bcast(cands, sigs.select("doc_id", "sh"), cfg)
    return jaccard_verify(cands, sigs.select("doc_id", "sh"), cfg)


def keep_list(clusters: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) -> (doc_id, n_docs_represented): the deduped
    corpus, one survivor per cluster with how many docs it stands for.
    The union-find labels a cluster by its min doc_id, so survivors are
    the rows where doc_id == cluster_id; one size aggregate, no shuffle
    of pairs or corpus."""
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("n_docs_represented")
    )
    return (
        clusters.where(F.col("doc_id") == F.col("cluster_id"))
        .join(sizes, "cluster_id")
        .select("doc_id", "n_docs_represented")
    )


def minhash_dedup_clusters(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, text) docs -> (doc_id, cluster_id) over ALL docs
    (singletons label themselves)."""
    pairs = minhash_dup_pairs(docs, cfg)
    labels = connected_components(pairs, cfg.max_cc_iterations)
    return clusters_with_singletons(labels, docs)
