"""End-to-end oracle tests (FIXTURES.md §2/§4, reference pattern:
*oracle = exact brute-force computation at small scale; system output must
reach a recall threshold against it* — nlsh/trainers/base.py:94-115).

Oracle dup pairs = exact pairwise shingle-set Jaccard >= τ via crossJoin;
oracle clusters = connected components of oracle pairs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.functions import text as T
from neural_locality_sensitive_hashing_spark.operators.connected_components import (
    connected_components,
)
from neural_locality_sensitive_hashing_spark.operators.dedup import (
    minhash_dedup_clusters,
    minhash_dup_pairs,
)

CFG = DedupConfig()


@pytest.fixture(scope="module")
def corpus(spark, pages_1k):
    pages_path, truth_path = pages_1k
    pages = spark.read.parquet(pages_path).persist()
    truth = spark.read.parquet(truth_path).persist()
    sh = pages.select("doc_id", T.shingle_set(F.col("text"), CFG.shingle_k).alias("sh")).persist()
    l = sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    r = sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    oracle_pairs = (
        l.crossJoin(r)
        .where(F.col("a") < F.col("b"))
        .select("a", "b", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= CFG.jaccard_threshold)
        .persist()
    )
    oracle_pairs.count()
    return pages, truth, oracle_pairs


def _partition(rows) -> set[frozenset]:
    by_cluster: dict[int, set[int]] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.doc_id)
    return {frozenset(v) for v in by_cluster.values()}


def test_dup_pair_recall_and_precision(spark, corpus):
    pages, truth, oracle_pairs = corpus
    found = minhash_dup_pairs(pages, CFG).persist()
    n_oracle = oracle_pairs.count()
    assert n_oracle > 50, "fixture should plant a non-trivial number of dup pairs"
    hit = found.join(oracle_pairs.select("a", "b"), ["a", "b"]).count()
    recall = hit / n_oracle
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99 ({hit}/{n_oracle})"
    # verify is the exact oracle metric -> found pairs are a subset of oracle
    assert found.join(oracle_pairs.select("a", "b"), ["a", "b"], "left_anti").count() == 0


def test_cluster_partition_matches_oracle(spark, corpus):
    pages, truth, oracle_pairs = corpus
    ours = _partition(minhash_dedup_clusters(pages, CFG).collect())
    oracle_cc = connected_components(oracle_pairs).collect()
    singles = {r.doc_id for r in pages.select("doc_id").collect()} - {
        r.doc_id for r in oracle_cc
    }
    oracle = _partition(oracle_cc) | {frozenset([d]) for d in singles}
    assert ours == oracle


def test_determinism_two_runs(spark, corpus):
    pages, _, _ = corpus
    p1 = sorted((r.a, r.b) for r in minhash_dup_pairs(pages, CFG).collect())
    p2 = sorted((r.a, r.b) for r in minhash_dup_pairs(pages, CFG).collect())
    assert p1 == p2


def test_decontam_broadcast_gate(spark, monkeypatch):
    """VERDICT r5 item 4: the benchmark-gram broadcast is size-gated in
    the style of embedding_dup_pairs_broadcast — a mis-sized 'benchmark'
    raises loudly instead of OOMing the driver."""
    import pytest
    from neural_locality_sensitive_hashing_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    assert Q.q_benchmark_decontam(spark, sf).count() > 0
    monkeypatch.setattr(Q, "DECON_MAX_BROADCAST_BENCH_DOCS", 3)
    with pytest.raises(ValueError, match="broadcast gate"):
        Q.q_benchmark_decontam(spark, sf)


# Spark jobs of one minhash_dedup_clusters(...).collect() on pages_1k
# (1,000 docs, the join-verify path): the verify gate's aggregate over the
# persisted signatures 3 (the kernel signs on the scan's one partition:
# the docs are under fan_out's byte floor; the rest are the exchanges the
# aggregate runs under adaptive execution), the candidate and verify
# exchanges 4, union-find 2 (the pairs checkpoint, the Arrow collect of
# the edges), the singleton join's collect 2.
BATCH_JOBS = 11


@pytest.mark.parametrize("budget", [BATCH_JOBS])
def test_batch_job_budget(spark, pages_1k, budget):
    """A batch dedup computes each intermediate once: one
    ``minhash_dedup_clusters(...).collect()`` runs at most ``budget`` jobs
    (a rebuilt cache or a re-run candidate pass shows up here as extra
    jobs)."""
    spark.catalog.clearCache()
    pages = spark.read.parquet(pages_1k[0])
    sc = spark.sparkContext
    group = "batch-job-budget"
    sc.setJobGroup(group, "minhash_dedup_clusters")
    try:
        rows = minhash_dedup_clusters(pages, CFG).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.clearCache()
    assert len(rows) == 1000
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= budget, f"{jobs} jobs > budget {budget}"
