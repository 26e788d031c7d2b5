"""Learned partitioner: trainer quality, code kernels and ANN recall."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.learned.partitioner import (
    _pack_bits_msb,
    hash_codes_numpy,
    train_partitioner,
)
from neural_locality_sensitive_hashing_spark.operators.learned import learned_ann
from neural_locality_sensitive_hashing_spark.operators.similarity import knn_bruteforce


def test_pack_bits_msb_golden():
    # mirror of the reference bit-pack semantics (nlsh/utils.pyx:7-15):
    # out = (out << 1) | bit, MSB-first
    assert _pack_bits_msb(np.array([[1, 0, 1]]))[0] == 5
    assert _pack_bits_msb(np.array([[0, 1, 1, 1]]))[0] == 7
    assert _pack_bits_msb(np.array([[1] * 16]))[0] == (1 << 16) - 1


def test_trainer_balance_and_cohesion():
    rng = np.random.default_rng(0)
    centers = rng.standard_normal((20, 32))
    x = np.repeat(centers, 30, axis=0) + 0.05 * rng.standard_normal((600, 32))
    w = train_partitioner(x, n_bits=10, seed=42)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    codes = np.array([c[0] for c in hash_codes_numpy(xn, w)])
    # cohesion: most centers collapse to a single bucket
    single = sum(len(set(codes[i * 30 : (i + 1) * 30])) == 1 for i in range(20))
    assert single >= 12
    # balance: no bucket swallows multiple centers' mass
    from collections import Counter

    assert max(Counter(codes.tolist()).values()) <= 60
    # the fit is deterministic: the same sample and seed give the same weights
    again = train_partitioner(x, n_bits=10, seed=42)
    assert all(np.array_equal(w[k], again[k]) for k in w)


@pytest.fixture(scope="module")
def clustered_vectors(spark):
    rng = np.random.default_rng(42)
    centers = rng.standard_normal((20, 16))
    pts = centers[rng.integers(0, 20, 400)] + 0.1 * rng.standard_normal((400, 16))
    return spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(400)],
        "vec_id long, embedding array<float>",
    ).persist()


def test_learned_ann_recall(spark, clustered_vectors):
    x = np.array(
        [r.embedding for r in clustered_vectors.orderBy("vec_id").collect()], dtype=np.float64
    )
    w = train_partitioner(x, n_bits=10, seed=42)
    q = clustered_vectors.where(F.col("vec_id") < 40)
    exact = knn_bruteforce(q, clustered_vectors, k=10).collect()
    approx = learned_ann(q, clustered_vectors, w, k=10, n_probes=8).collect()
    truth: dict[int, set] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(truth[qq] & got.get(qq, set())) / len(truth[qq]) for qq in truth]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.8, f"learned ANN recall {mean_recall:.3f}"


def test_probe_budget_validated():
    from neural_locality_sensitive_hashing_spark.learned.partitioner import (
        make_learned_code_udf,
    )

    w = {"W": np.zeros((4, 3)), "b": np.zeros(3)}
    with pytest.raises(ValueError, match="n_probes"):
        make_learned_code_udf(w, n_probes=9)  # 2^3 = 8 max


def test_multiband_union_beats_single_band(spark, clustered_vectors):
    """OR-amplification: B independent learned codes unioned cover at
    least as much of the true neighborhood as any one of them, and the
    Spark operator matches the numpy kernel (band-offset buckets)."""
    from neural_locality_sensitive_hashing_spark.learned.partitioner import (
        multiband_codes_numpy,
        train_multiband_partitioner,
    )
    from neural_locality_sensitive_hashing_spark.operators.learned import (
        learned_ann_multiband,
    )

    x = np.array(
        [r.embedding for r in clustered_vectors.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    wl = train_multiband_partitioner(x, n_bands=4, n_bits=10, seed=42)
    q = clustered_vectors.where(F.col("vec_id") < 40)
    exact = knn_bruteforce(q, clustered_vectors, k=10).collect()
    truth: dict[int, set] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(rows):
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(
            len(truth[qq] & got.get(qq, set())) / len(truth[qq]) for qq in truth
        ) / len(truth)

    multi = recall(
        learned_ann_multiband(q, clustered_vectors, wl, k=10, n_probes=4).collect()
    )
    single = recall(
        learned_ann(q, clustered_vectors, wl[0], k=10, n_probes=4).collect()
    )
    assert multi >= single, f"union lost recall: {multi:.3f} < {single:.3f}"
    assert multi >= 0.9, f"multiband recall {multi:.3f}"

    # Spark operator == numpy kernel on bucket assignment (probe union)
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rows = multiband_codes_numpy(x[:5], wl, n_probes=2)
    assert len(rows) == 5 and all(len(r) == 8 for r in rows)  # 4 bands x 2
    n_bits = wl[0]["W"].shape[1]
    for r in rows:
        bands_seen = {c >> n_bits for c in r}
        assert bands_seen == {0, 1, 2, 3}  # offsets keep bands disjoint


def test_feature_bagged_multiband():
    """Per-band feature bagging: each band's W is nonzero ONLY on its own
    column subset, bags differ across bands (decorrelation), and the
    bagged codes still cluster duplicates together (identical vectors get
    identical codes; the serving kernel is unchanged)."""
    from neural_locality_sensitive_hashing_spark.learned.partitioner import (
        multiband_codes_numpy,
        train_multiband_partitioner,
    )

    rng = np.random.default_rng(9)
    x = rng.standard_normal((300, 24))
    wl = train_multiband_partitioner(
        x, n_bands=4, n_bits=6, seed=42, feature_bag_frac=0.5
    )
    assert len(wl) == 4
    bags = []
    for w in wl:
        nz = np.flatnonzero(np.abs(w["W"]).sum(axis=1))
        assert len(nz) == 12, f"bag size {len(nz)} != 0.5 * 24"
        bags.append(frozenset(nz.tolist()))
    assert len(set(bags)) > 1, "all bands drew the same feature bag"

    # identical vectors -> identical probe sets through the bagged codes
    dup = np.vstack([x[:5], x[:5]])
    rows = multiband_codes_numpy(dup, wl, n_probes=1)
    for i in range(5):
        assert rows[i] == rows[i + 5]

    # full-dim W contract: serving kernel shape unchanged (d x n_bits)
    assert all(w["W"].shape == (24, 6) for w in wl)
