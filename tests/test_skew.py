"""Skew scenario (FIXTURES §4): a planted mega-bucket must complete under
the pair cap via the chain path, stay connected, and not hurt recall on
non-boilerplate pairs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.operators.dedup import (
    banded_signatures_fused,
    explode_fused_bands,
    minhash_dup_pairs,
)

# small cap so the 600-member boilerplate group exercises the chain path
CFG = DedupConfig(bucket_pair_cap=64)


@pytest.fixture(scope="module")
def skewed_docs(spark):
    rng = np.random.default_rng(9)
    vocab = [f"w{i:04d}" for i in range(20000)]
    rows = []
    # 600 identical boilerplate docs (the mega bucket; 30% of corpus)
    boiler = " ".join(vocab[j] for j in rng.integers(0, 20000, 40))
    for i in range(600):
        rows.append((i, boiler))
    # 100 near-dup pairs (1-token change out of 100 -> jaccard ~0.95)
    nid = 1000
    for _ in range(100):
        toks = [vocab[j] for j in rng.integers(0, 20000, 100)]
        rows.append((nid, " ".join(toks)))
        toks2 = list(toks)
        toks2[50] = vocab[int(rng.integers(0, 20000))]
        rows.append((nid + 1, " ".join(toks2)))
        nid += 2
    # 700 unique
    for i in range(700):
        rows.append((10000 + i, " ".join(vocab[j] for j in rng.integers(0, 20000, 80))))
    return spark.createDataFrame(rows, "doc_id long, text string").persist()


def test_mega_bucket_completes_and_recall_holds(spark, skewed_docs):
    pairs = minhash_dup_pairs(skewed_docs, CFG).persist()
    got = {(r.a, r.b) for r in pairs.collect()}

    # non-boilerplate near-dup pairs: recall >= 0.99
    want = {(i, i + 1) for i in range(1000, 1200, 2)}
    recall = len(want & got) / len(want)
    assert recall >= 0.99, f"non-boilerplate recall {recall}"

    # mega-bucket stays fully connected through chain pairs (identical docs
    # -> every chain link verifies at jaccard 1.0)
    boiler_ids = set(range(600))
    boiler_pairs = [(a, b) for a, b in got if a in boiler_ids and b in boiler_ids]
    # chain pairs are O(n), far below the 179k all-pairs
    assert len(boiler_pairs) < 5000
    parent = list(range(600))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in boiler_pairs:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(600)}) == 1, "mega-bucket split by capping"


def test_no_silent_truncation_is_observable(spark, skewed_docs):
    """bucket_stats exposes the skew that triggered capping (pair_mass vs
    emitted pairs) — the drop is measurable, not silent."""
    from neural_locality_sensitive_hashing_spark.operators.candidates import (
        bucket_stats,
    )

    sigs = banded_signatures_fused(skewed_docs, CFG)
    stats = bucket_stats(explode_fused_bands(sigs))
    worst = stats.agg(F.max("max_bucket").alias("m"), F.sum("pair_mass").alias("pm")).first()
    assert worst.m >= 600  # the planted mega bucket is visible
    assert worst.pm > 100_000  # and its quadratic pair mass is reported


def test_hyperplane_hot_bucket_aqe_skew_split(spark):
    """The hyperplane-LSH pair path (embedding near-dup) cannot cap a hot
    bucket — its pair set IS the oracle answer — so the scale mitigation
    is AQE skew-join splitting the hot bucket's shuffle partition. Plant
    a 300-member hot bucket (near-identical embeddings share every band
    code), force the shuffled SMJ shape the join takes at corpus scale,
    and assert (1) the executed adaptive plan actually took the skew
    split and (2) the split changed nothing: the pair set equals the
    per-bucket reference. Thresholds are scaled down (4KB/2KB vs the
    256MB/64MB defaults) because the planted corpus is small; the
    PLAN SHAPE under skew is what is pinned."""
    from neural_locality_sensitive_hashing_spark.operators.similarity import (
        hyperplane_params,
        lsh_bucket_self_join,
        make_hyperplane_udf,
    )

    rng = np.random.default_rng(7)
    dim, nb, bpb = 16, 4, 8
    hot_dir = rng.normal(size=dim)
    hot_dir /= np.linalg.norm(hot_dir)
    rows = []
    for i in range(300):  # hot: jitter far below any sign-flip margin
        v = hot_dir + 1e-6 * rng.normal(size=dim)
        rows.append((i, [float(x) for x in v]))
    for i in range(1700):  # diffuse background
        rows.append((1000 + i, [float(x) for x in rng.normal(size=dim)]))
    emb = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    planes = hyperplane_params(dim, nb, bpb, 42)
    udf = make_hyperplane_udf(planes, nb, bpb)
    ec = emb.select("doc_id", F.explode(udf(F.col("embedding"))).alias("bucket"))

    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # enough join partitions that the hot bucket's partition stands
        # clear of the median (the session fixture may run with few)
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # the bucket self-join is a shuffled SMJ at corpus scale; stop the
        # tiny test table from taking the broadcast shortcut instead
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        cand = lsh_bucket_self_join(ec)
        got = {(r.a, r.b) for r in cand.collect()}
        plan = cand._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # (1) the mitigation fired: the final adaptive plan split the skewed
    # partition on both sides of the self-join
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
    assert plan.count("AQEShuffleRead skewed") >= 2, plan[:2000]

    # (2) and it is answer-preserving: exact per-bucket reference
    by_bucket = {}
    for r in ec.collect():
        by_bucket.setdefault(r.bucket, []).append(r.doc_id)
    want = set()
    for members in by_bucket.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                want.add((ms[i], ms[j]))
    assert got == want
    # the planted hot bucket really dominated: its all-pairs mass is there
    hot_pairs = {(a, b) for a, b in got if a < 300 and b < 300}
    assert len(hot_pairs) == 300 * 299 // 2
