"""Banding + candidate-pair generation, incl. the inverted-map mirror test
(reference: nlsh/tests/test_indexer.py:6-26) and skew chain behavior."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.functions.minhash import band_hashes_numpy
from neural_locality_sensitive_hashing_spark.operators.candidates import (
    bucket_stats,
    candidate_pairs,
    candidate_pairs_incremental,
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


# -- the stream's fused pass against a pure-Python reference -------------------


def reference_incremental_pairs(new_rows, stored_rows, cap) -> set[tuple[int, int]]:
    """Per (band, bucket): the sorted new ids give all pairs (at most
    ``cap`` members) or chain (i, i+1) + binary-heap tree ((i - 1) // 2,
    i); each new id pairs with the ``cap`` lowest stored ids other than
    itself."""
    buckets: dict = {}
    for side, rows in ((0, new_rows), (1, stored_rows)):
        for doc_id, band, bucket in rows:
            buckets.setdefault((band, bucket), ([], []))[side].append(doc_id)
    pairs = set()
    for new, stored in buckets.values():
        new = sorted(new)
        if len(new) <= cap:
            pairs |= {(a, b) for i, a in enumerate(new) for b in new[i + 1 :]}
        else:
            pairs |= {(new[i], new[i + 1]) for i in range(len(new) - 1)}
            pairs |= {(new[(i - 1) // 2], new[i]) for i in range(1, len(new))}
        anchors = sorted(stored)[:cap]
        pairs |= {(min(x, y), max(x, y)) for x in new for y in anchors if x != y}
    return pairs


def random_band_rows(rng, ids, n_buckets=12):
    """(doc_id, band, bucket) rows: every doc gets one bucket per band,
    drawn from a few buckets so that they collide."""
    return [
        (int(d), band, int(rng.integers(0, n_buckets)))
        for d in ids
        for band in range(CFG.num_bands)
    ]


def _split(rng):
    ids = rng.choice(10**6, 80, replace=False)
    return random_band_rows(rng, ids[:30]), random_band_rows(rng, ids[30:])


def _overcap_new(rng):
    new, stored = _split(rng)
    return new + [(5_000_000 + i, 0, 99) for i in range(3 * CFG.bucket_pair_cap)], stored


def _overcap_stored(rng):
    new, stored = _split(rng)
    big = [(6_000_000 - i, 1, 77) for i in range(5 * CFG.bucket_pair_cap)]
    return new + [(6_000_000 + 1, 1, 77), (10, 1, 77)], stored + big


def _replay(rng):
    new, stored = _split(rng)
    replayed = [r for r in new if r[0] == new[0][0] or r[0] == new[-1][0]]
    return new, stored + replayed


INCREMENTAL_CASES = {
    "random_split": _split,
    "overcap_new": _overcap_new,
    "overcap_stored": _overcap_stored,
    "replay": _replay,
    "empty_store": lambda rng: (_split(rng)[0], None),
}


@pytest.mark.parametrize("case", sorted(INCREMENTAL_CASES))
def test_incremental_matches_reference(spark, case):
    """``candidate_pairs_incremental`` emits the reference's pair set on
    every case; each side arrives spread over several partitions."""
    new, stored = INCREMENTAL_CASES[case](np.random.default_rng(5))

    def frame(rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "band", "bucket"])
        return spark.createDataFrame(pdf, "doc_id long, band int, bucket long").repartition(3)

    got = candidate_pairs_incremental(
        frame(new), None if stored is None else frame(stored), CFG
    )
    assert got.schema.simpleString() == "struct<a:bigint,b:bigint>"
    rows = [tuple(r) for r in got.collect()]
    assert len(rows) == len(set(rows))
    want = reference_incremental_pairs(new, stored or [], CFG.bucket_pair_cap)
    assert set(rows) == want and want
