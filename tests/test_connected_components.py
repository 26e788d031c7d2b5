"""Union-find fixpoint golden test: two components + singleton (FIXTURES §3)."""

from __future__ import annotations

import pandas as pd

from neural_locality_sensitive_hashing_spark.operators.connected_components import (
    clusters_with_singletons,
    connected_components,
)


def test_two_components(spark):
    # component {1,2,3,4} via chain, component {10,11}, singleton 20
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long")
    labels = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    all_docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "doc_id long")
    full = {r.doc_id: r.cluster_id for r in clusters_with_singletons(
        connected_components(pairs), all_docs
    ).collect()}
    assert full[20] == 20 and full[4] == 1


def test_long_chain_converges(spark):
    n = 33
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], "a long, b long")
    labels = connected_components(pairs, max_iterations=50).collect()
    assert all(r.cluster_id == 0 for r in labels)
    assert len(labels) == n + 1


def test_diamond_and_cross_edges(spark):
    pairs = spark.createDataFrame(
        [(5, 9), (9, 3), (3, 5), (100, 50), (50, 75)], "a long, b long"
    )
    labels = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert labels[5] == labels[9] == labels[3] == 3
    assert labels[100] == labels[50] == labels[75] == 50


def test_nonconvergence_raises(spark):
    """Exhausting the iteration budget must fail loudly, not return
    silently-wrong labels (a long chain with a tiny budget)."""
    import pytest

    pairs = spark.createDataFrame([(i, i + 1) for i in range(20)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=2)


def test_label_sum_exact_at_huge_ids(spark):
    """Convergence metric is exact for ids at the 10^12-doc design scale
    (decimal sum — an int64 sum would overflow under ANSI mode)."""
    base = 10**18 // 2
    pairs = spark.createDataFrame(
        [(base + i, base + i + 1) for i in range(8)], "a long, b long"
    )
    labels = connected_components(pairs).collect()
    assert all(r.cluster_id == base for r in labels)


def test_pairs_read_once(spark):
    """Union-find evaluates its ``pairs`` input once: a non-deterministic
    upstream (like the verify UDF) is never recomputed for the second
    edge direction."""
    from pyspark.sql.functions import pandas_udf

    seen = spark.sparkContext.accumulator(0)

    @pandas_udf("long")
    def counted(a: pd.Series) -> pd.Series:
        seen.add(len(a))
        return a

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)]
    raw = spark.createDataFrame(edges, "a long, b long")
    pairs = raw.select(counted.asNondeterministic()("a").alias("a"), "b")
    labels = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert seen.value == len(edges)
    assert labels == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20
    }
