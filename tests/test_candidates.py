"""Banding + candidate-pair generation, incl. the inverted-map mirror test
(reference: nlsh/tests/test_indexer.py:6-26) and skew chain behavior."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.functions.minhash import band_hashes_numpy
from neural_locality_sensitive_hashing_spark.operators.candidates import (
    bucket_stats,
    candidate_pairs,
)

CFG = DedupConfig(num_perm=8, num_bands=4, rows_per_band=2, bucket_pair_cap=4)


def _bands(spark, rows):
    """Hand-made (doc_id, sig) rows -> (doc_id, band, bucket) rows, banded
    with the signature kernel's band hash."""
    sigs = np.array([sig for _, sig in rows], dtype=np.int64).view(np.uint64)
    buckets = band_hashes_numpy(sigs, CFG.num_bands, CFG.rows_per_band)
    return spark.createDataFrame(
        [
            (doc_id, band, int(bucket))
            for (doc_id, _), row in zip(rows, buckets)
            for band, bucket in enumerate(row)
        ],
        "doc_id long, band int, bucket long",
    )


def test_identical_sigs_share_all_buckets(spark):
    sig = list(range(8))
    bands = _bands(spark, [(1, sig), (2, sig), (3, [x + 1 for x in sig])])
    assert bands.count() == 3 * 4
    shared = (
        bands.alias("l")
        .join(bands.alias("r"), ["band", "bucket"])
        .where("l.doc_id < r.doc_id")
        .select("l.doc_id", "r.doc_id")
        .collect()
    )
    assert all(r[0] == 1 and r[1] == 2 for r in shared)
    assert len(shared) == 4  # all 4 bands collide for identical sigs


def test_inverted_map(spark):
    """Mirror of the reference's indexer test: bucket -> sorted member docs."""
    sig_a, sig_b = [0, 0, 1, 1, 2, 2, 3, 3], [0, 0, 9, 9, 2, 2, 8, 8]
    bands = _bands(spark, [(1, sig_a), (2, sig_a), (3, sig_b)])
    inv = {
        (r.band, r.bucket): sorted(r.docs)
        for r in bands.groupBy("band", "bucket").agg(F.collect_list("doc_id").alias("docs")).collect()
    }
    # docs 1,2 identical -> together in all 4 bands; doc 3 joins them in bands 0 and 2
    together = [k for k, v in inv.items() if v == [1, 2]]
    triple = [k for k, v in inv.items() if v == [1, 2, 3]]
    assert len(triple) == 2 and {b for b, _ in triple} == {0, 2}
    assert len(together) == 2


def test_candidate_pairs_dedup_and_order(spark):
    sig = [0, 0, 1, 1, 2, 2, 3, 3]
    pairs = candidate_pairs(_bands(spark, [(5, sig), (2, sig)]), CFG).collect()
    assert len(pairs) == 1
    assert (pairs[0].a, pairs[0].b) == (2, 5)


def test_mega_bucket_chain(spark):
    """A bucket over the cap emits O(n) chain pairs that keep it connected."""
    sig = [7, 7, 7, 7, 7, 7, 7, 7]
    n = 40  # cap is 4 -> chain path
    pairs = candidate_pairs(_bands(spark, [(i, sig) for i in range(n)]), CFG)
    rows = pairs.collect()
    # far fewer than all-pairs (4 bands x 40*39/2 = 3120 before dedup)
    assert len(rows) < 2 * n
    # connectivity: union-find over the chain pairs reaches all n docs
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        parent[find(int(r.a))] = find(int(r.b))
    assert len({find(i) for i in range(n)}) == 1


def test_bucket_stats(spark):
    sig = [0, 0, 1, 1, 2, 2, 3, 3]
    bands = _bands(spark, [(i, sig) for i in range(5)])
    stats = {r.band: r for r in bucket_stats(bands).collect()}
    assert stats[0].n_buckets == 1 and stats[0].max_bucket == 5
    assert stats[0].pair_mass == 10


def test_grouped_equals_windowed_strategy(spark):
    """The grouped (1-exchange) and windowed (round-1) physical strategies
    emit the identical pair set, over-cap chain+tree included."""
    rng = np.random.default_rng(3)
    rows = []
    sig_dup = [1, 1, 2, 2, 3, 3, 4, 4]
    for i in range(30):  # over-cap bucket (cap 4)
        rows.append((i, sig_dup))
    for i in range(40):  # sparse random sigs -> small buckets
        rows.append((100 + i, [int(x) for x in rng.integers(0, 6, 8)]))
    bands = _bands(spark, rows)
    g = candidate_pairs(bands, CFG)
    w = candidate_pairs(
        bands,
        DedupConfig(
            num_perm=8, num_bands=4, rows_per_band=2, bucket_pair_cap=4,
            pair_strategy="windowed",
        ),
    )
    got_g = {(r.a, r.b) for r in g.collect()}
    got_w = {(r.a, r.b) for r in w.collect()}
    assert got_g == got_w and len(got_g) > 0
