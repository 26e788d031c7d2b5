"""Similarity search: brute-force kNN golden test + ANN recall gate
(the reference's recall@k metric, nlsh/metrics.py:4-25)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.operators.similarity import (
    ann_lsh,
    knn_bruteforce,
)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(42)
    # 20 cluster centers, 400 points jittered around them -> meaningful NN
    centers = rng.standard_normal((20, 16))
    pts = centers[rng.integers(0, 20, 400)] + 0.1 * rng.standard_normal((400, 16))
    return spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(400)],
        "vec_id long, embedding array<float>",
    ).persist()


def test_knn_golden_small(spark):
    """5x3 matrix, 2-NN, order-insensitive — mirror of the reference's
    tests/test_precompute.py:6-21."""
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.9, 0.1]),
        (4, [0.5, 0.5, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    nn = knn_bruteforce(df, df, k=2)
    got = {
        r.query_id: set(x.neighbor_id for x in rows)
        for r, rows in [(q, [x for x in nn.collect() if x.query_id == q.query_id])
                        for q in nn.select("query_id").distinct().collect()]
    }
    assert got[0] == {1, 4}
    assert got[2] == {3, 4}


def test_knn_rank_and_dedup(spark, vectors):
    q = vectors.where(F.col("vec_id") < 5)
    nn = knn_bruteforce(q, vectors, k=10).collect()
    per_q = {}
    for r in nn:
        per_q.setdefault(r.query_id, []).append(r)
    assert sorted(per_q) == [0, 1, 2, 3, 4]  # k rows for every query
    for qid, rows in per_q.items():
        assert len(rows) == 10
        assert sorted(r.rank for r in rows) == list(range(1, 11))
        assert all(r.neighbor_id != qid for r in rows)
        by_rank = sorted(rows, key=lambda r: r.rank)
        sims = [r.cosine for r in by_rank]
        assert sims == sorted(sims, reverse=True)


def test_ann_recall_vs_bruteforce(spark, vectors):
    """ANN top-10 must reach recall >= 0.9 of exact top-10 on clustered data."""
    q = vectors.where(F.col("vec_id") < 50)
    exact = knn_bruteforce(q, vectors, k=10).collect()
    approx = ann_lsh(q, vectors, dim=16, k=10, num_bands=16, bits_per_band=6).collect()
    truth: dict[int, set] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    assert sum(recalls) / len(recalls) >= 0.9, f"mean ANN recall {sum(recalls)/len(recalls):.3f}"


@pytest.mark.skipif(
    not os.path.isdir("/root/testdata/sf0.01"),
    reason="driver correctness tables (sf0.01) not generated",
)
def test_fast_path_equals_lsh_path(spark):
    """embedding_dup_pairs_fast left the 50-slot driver lane in round 7;
    this gate certifies it transitively instead: the size-gated
    broadcast-matmul plan must emit EXACTLY the rows of the LSH plan
    (whose lane row stays oracle-green) on the driver's correctness
    tables — same (a, b) set, same rounded cosine values."""
    from neural_locality_sensitive_hashing_spark.queries import (
        q_embedding_dup_pairs,
        q_embedding_dup_pairs_fast,
    )

    sf_dir = "/root/testdata/sf0.01"
    lsh = {
        (r.a, r.b): r.cosine for r in q_embedding_dup_pairs(spark, sf_dir).collect()
    }
    fast = {
        (r.a, r.b): r.cosine
        for r in q_embedding_dup_pairs_fast(spark, sf_dir).collect()
    }
    assert lsh.keys() == fast.keys()
    assert len(lsh) > 0
    for k in lsh:
        assert repr(lsh[k]) == repr(fast[k]), (k, lsh[k], fast[k])


def test_embedding_broadcast_gate_counts_bytes(spark, vectors, monkeypatch):
    """Both embedding dup-pair plans gate their driver collect on the
    table's bytes (ids and vectors as 8-byte values): with the ceiling one
    byte under the table, the LSH plan takes the join path, with no
    collect and the same rows, and the broadcast plan refuses."""
    from neural_locality_sensitive_hashing_spark.operators import similarity as S

    collects = []
    collect_matrix = S._collect_matrix
    monkeypatch.setattr(
        S, "_collect_matrix", lambda *a: collects.append(a) or collect_matrix(*a)
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    tau = 0.9
    bcast = rows(S.embedding_dup_pairs_lsh(vectors, tau, dim=16))
    assert len(collects) == 1 and len(bcast) > 0

    monkeypatch.setattr(S, "_BCAST_MAX_BYTES", 8 * (400 + 400 * 16) - 1)
    assert rows(S.embedding_dup_pairs_lsh(vectors, tau, dim=16)) == bcast
    assert len(collects) == 1
    with pytest.raises(ValueError, match="gated at"):
        S.embedding_dup_pairs_broadcast(vectors, tau)
    assert len(collects) == 1


def test_bcast_cosine_kernel_rejects_absent_id():
    """The broadcast cosine kernel raises on a pair naming an id missing
    from its table, instead of scoring the next row's vector (id inside
    the range) or failing on an out-of-range index (id past the end)."""
    from types import SimpleNamespace

    import pyarrow as pa

    from neural_locality_sensitive_hashing_spark.operators.similarity import (
        _make_pair_cosine_bcast_arrow,
    )

    ids = SimpleNamespace(value=np.array([1, 3], dtype=np.int64))
    mat = SimpleNamespace(value=np.array([[1.0, 0.0], [1.0, 1.0]]))
    gen = _make_pair_cosine_bcast_arrow(ids, mat, 0.0)

    def run(a, b):
        batch = pa.RecordBatch.from_arrays(
            [pa.array([a], pa.int64()), pa.array([b], pa.int64())], names=["a", "b"]
        )
        return list(gen(iter([batch])))

    (out,) = run(1, 3)
    assert out.column("cosine_raw").to_pylist() == pytest.approx([2**-0.5])
    for a, b, absent in ((1, 2, 2), (9, 3, 9)):
        with pytest.raises(KeyError, match=f"id {absent}, absent"):
            run(a, b)
