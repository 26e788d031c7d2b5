"""Union-find golden tests (FIXTURES §3) and a property test of both
strategies (driver union-find under the byte ceiling, label propagation
above it) against a pure-Python union-find reference."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from neural_locality_sensitive_hashing_spark.operators import connected_components as CC
from neural_locality_sensitive_hashing_spark.operators.connected_components import (
    clusters_with_singletons,
    connected_components,
)


def above_ceiling(monkeypatch) -> None:
    """Force label propagation: -1 puts every edge list, the empty one
    too, above the driver union-find's byte ceiling."""
    monkeypatch.setattr(CC, "_DRIVER_UF_MAX_BYTES", -1)


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


def test_nonconvergence_raises(spark, monkeypatch):
    """Exhausting the iteration budget must fail loudly, not return
    silently-wrong labels (a long chain with a tiny budget). The budget
    exists only above the driver ceiling, so the ceiling is forced down."""
    monkeypatch.setattr(CC, "_DRIVER_UF_MAX_BYTES", 0)
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
    _check_pairs_read_once(spark)


def test_pairs_read_once_above_ceiling(spark, monkeypatch):
    """Label propagation reads the same one checkpoint of ``pairs``."""
    above_ceiling(monkeypatch)
    _check_pairs_read_once(spark)


def _check_pairs_read_once(spark):
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


# -- property test: both strategies against a pure-Python reference ----------


def reference_labels(edges) -> dict[int, int]:
    """Sequential union-find by min root: id -> min id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def chain_tree(ids) -> list[tuple[int, int]]:
    """The over-cap bucket shape of operators/candidates.py: over the
    sorted members, chain (i, i+1) plus binary-heap tree ((i - 1) // 2, i)
    (the 0-based form of its 1-based floor(i / 2))."""
    ids = sorted(ids)
    chain = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    tree = [(ids[(i - 1) // 2], ids[i]) for i in range(1, len(ids))]
    return chain + tree


def random_graph(rng, n_nodes, n_edges, base=0, spread=10**9):
    nodes = base + rng.choice(spread, n_nodes, replace=False)
    ends = rng.choice(nodes, (n_edges, 2))
    return [(int(min(a, b)), int(max(a, b))) for a, b in ends if a != b]


def bucket_shapes(rng):
    """Overlapping buckets as banding makes them: small buckets emit all
    pairs, big ones chain+tree; members are shared between buckets."""
    pool = rng.choice(10**6, 400, replace=False)
    edges = []
    for size in [300, 260, 40, 12, 5, 3, 2, 2]:
        members = rng.choice(pool, size, replace=False).tolist()
        if size > 256:
            edges += chain_tree(members)
        else:
            ms = sorted(members)
            edges += [(a, b) for i, a in enumerate(ms) for b in ms[i + 1 :]]
    return edges


GRAPHS = {
    "random": lambda rng: random_graph(rng, 300, 260),
    "chain_tree": bucket_shapes,
    "mega_group": lambda rng: chain_tree(rng.choice(10**7, 1500, replace=False).tolist())
    + [(7, 9), (9, 11)],
    "empty": lambda rng: [],
    "ids_near_2_62": lambda rng: random_graph(rng, 200, 150, base=2**62 - 500, spread=1000),
}


@pytest.mark.parametrize("strategy", ["driver", "propagation"])
@pytest.mark.parametrize("shape", sorted(GRAPHS))
def test_matches_reference_union_find(spark, monkeypatch, shape, strategy):
    """Same labels as the reference on every shape, on both sides of the
    driver ceiling; the pairs arrive spread over several partitions."""
    if strategy == "propagation":
        above_ceiling(monkeypatch)
    edges = GRAPHS[shape](np.random.default_rng(7))
    pdf = pd.DataFrame(edges, columns=["a", "b"], dtype="int64")
    pairs = spark.createDataFrame(pdf, "a long, b long").repartition(5)
    labels = connected_components(pairs)
    assert labels.schema.simpleString() == "struct<doc_id:bigint,cluster_id:bigint>"
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert got == reference_labels(edges)


def test_driver_union_find_any_id_order():
    """The numpy union-find on orders that take min-hooking several
    rounds: a path over a random permutation, a star hung off its max id
    and a random forest."""
    rng = np.random.default_rng(3)
    perm = rng.permutation(5000)
    star = np.full(999, 5000), np.arange(999)
    forest = rng.permutation(3000)[1:], rng.permutation(3000)[rng.integers(0, 1500, 2999)]
    for a, b in [(perm[:-1], perm[1:]), star, forest]:
        ids, labels = CC._union_find(a.astype(np.int64), b.astype(np.int64))
        ref = reference_labels(zip(a.tolist(), b.tolist()))
        assert dict(zip(ids.tolist(), labels.tolist())) == ref


def test_all_unique_corpus_labels_itself(spark):
    """No verified pair: the driver path's empty labels keep their schema,
    every doc is its own cluster and its own survivor."""
    from neural_locality_sensitive_hashing_spark.config import DedupConfig
    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        keep_list,
        minhash_dedup_clusters,
    )

    rng = np.random.default_rng(11)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{t}" for t in rng.choice(10**6, 60))) for i in range(40)],
        "doc_id long, text string",
    )
    empty = spark.createDataFrame([], "a long, b long")
    assert connected_components(empty).schema.simpleString() == (
        "struct<doc_id:bigint,cluster_id:bigint>"
    )
    clusters = minhash_dedup_clusters(docs, DedupConfig())
    assert sorted(tuple(r) for r in clusters.collect()) == [(i, i) for i in range(40)]
    kept = sorted(tuple(r) for r in keep_list(clusters).collect())
    spark.catalog.clearCache()
    assert kept == [(i, 1) for i in range(40)]


def rdd_storage(spark) -> set[int]:
    """Ids of the RDDs holding blocks: persisted frames AND local
    checkpoints, which the cache manager never sees."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_driver_path_releases_its_checkpoint(spark):
    """Clusters + ``clearCache()`` (what a caller looping over queries
    does) leave no RDD storage behind: the pairs checkpoint is released
    inside the call, not whenever the ContextCleaner gets to it."""
    from neural_locality_sensitive_hashing_spark.config import DedupConfig
    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        minhash_dedup_clusters,
    )

    text = " ".join(f"w{t}" for t in range(60))
    docs = spark.createDataFrame(
        [(i, text if i < 4 else f"{text} x{i}") for i in range(12)],
        "doc_id long, text string",
    )
    before = rdd_storage(spark)
    for _ in range(2):
        clusters = minhash_dedup_clusters(docs, DedupConfig()).toPandas()
        spark.catalog.clearCache()
        assert clusters["cluster_id"].nunique() < len(clusters)  # pairs were clustered
        assert rdd_storage(spark) <= before


def test_propagation_keeps_only_the_returned_labels(spark, monkeypatch):
    """Above the ceiling every round's checkpoint but the returned one is
    released (and the pairs checkpoint); the caller frees the labels."""
    from neural_locality_sensitive_hashing_spark.checkpoints import release

    above_ceiling(monkeypatch)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], "a long, b long")
    before = rdd_storage(spark)
    labels = connected_components(pairs)
    assert {r.cluster_id for r in labels.collect()} == {0}
    assert len(rdd_storage(spark) - before) == 1
    release(labels)
    assert rdd_storage(spark) <= before
