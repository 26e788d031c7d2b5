"""Connected components (union-find) over a pair DataFrame.

The reference returns per-query neighbor lists and never clusters
(SURVEY.md §2.4 A7) — this is the one genuinely new aggregate the dedup
engine needs: dup_pairs -> cluster ids = connected components.

Algorithm: ``pairs`` is projected to ``(a, b)`` and materialized once with
``localCheckpoint``, which also counts the edges (an observed metric, no
extra job); the checkpoint is released before the call returns
(``checkpoints.local_checkpoints``). Under a byte ceiling (edges x 16 B <= ``_DRIVER_UF_MAX_BYTES``)
the edges are collected once through Arrow and labelled by a numpy
union-find on the driver; dedup graphs are small next to the corpus, and
the labels go back as a local relation that the singleton join
broadcasts. Above the ceiling, iterative min-label propagation runs to
fixpoint on the executors with a ``localCheckpoint`` per round to cut
lineage (a fixpoint loop without checkpointing grows an exponential
plan); each round's checkpoint is released once the next one is built. Per round each node adopts min(own label, neighbors' labels);
converged when no label changes. The round count is bounded by the
component diameter. Each round is one shuffle-join on doc_id + one
groupBy; both hash-partition on the same key, so AQE reuses the exchange
layout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.checkpoints import (
    local_checkpoints,
    release,
)
# byte ceiling of the driver-side union-find: edges x 16 B (two int64 ids
# per edge) collected to the driver. Above it the labels are propagated on
# the executors instead.
_DRIVER_UF_MAX_BYTES = 256 << 20


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 50,
) -> DataFrame:
    """(a, b) undirected edges -> (doc_id, cluster_id = min doc_id in comp).

    Only nodes that appear in at least one pair are returned; singletons
    are each their own cluster and are added by the caller when needed.

    ``pairs`` is read once: its ``(a, b)`` projection is checkpointed, and
    both strategies read the checkpoint. Since the verify UDF upstream is
    non-deterministic, Spark reuses no exchange between two reads of an
    unpersisted ``pairs`` — candidates and verify would run twice.

    Above the driver ceiling, raises ``RuntimeError`` if the fixpoint is
    not reached within ``max_iterations`` (component diameter too large
    for the budget) — returning non-converged labels would silently
    mislabel clusters. Candidate generation caps diameters at O(log n) via
    the chain+tree construction (operators/candidates.py), so the default
    budget covers components up to ~2^49 members. The driver union-find
    has no budget: every round merges at least one pair of components.

    The pairs checkpoint is released before returning, on success and on
    failure. The returned labels are the caller's to keep: the driver
    path's are a local relation; label propagation's are the last round's
    ``localCheckpoint``, which ``checkpoints.release`` frees (Spark's
    ContextCleaner does once the frame is garbage collected).
    """
    obs = Observation()
    with local_checkpoints() as checkpoint:
        ab = checkpoint(
            pairs.select("a", "b").observe(obs, F.count(F.lit(1)).alias("n"))
        )
        if obs.get["n"] * 16 <= _DRIVER_UF_MAX_BYTES:
            edges = ab.toArrow()
            ids, labels = _union_find(
                edges.column("a").to_numpy(), edges.column("b").to_numpy()
            )
            return pairs.sparkSession.createDataFrame(
                pd.DataFrame({"doc_id": ids, "cluster_id": labels}),
                "doc_id long, cluster_id long",
            )
        return _propagate_labels(ab, max_iterations)


def _union_find(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Edge endpoint arrays -> (sorted distinct ids, min id of each id's
    component). Ids are compacted to their rank in ``np.unique`` order, so
    a component's min rank is its min id. Each round hooks every root to
    the smallest root it shares an edge with, then pointer-jumps until
    every node points at its root; edges inside one component drop out."""
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    parent = np.arange(len(ids))
    u, v = inv[: len(a)], inv[len(a) :]
    while True:
        u, v = parent[u], parent[v]
        live = u != v
        if not live.any():
            return ids, ids[parent]
        u, v = u[live], v[live]
        # parent[x] <= x always, so hooking never closes a cycle
        np.minimum.at(parent, np.maximum(u, v), np.minimum(u, v))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand


def _propagate_labels(ab: DataFrame, max_iterations: int) -> DataFrame:
    """Min-label propagation to fixpoint over checkpointed (a, b) edges."""
    # with a<b in pairs the two directed copies are disjoint — no dedup
    edges = ab.select(
        F.inline(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        )
    )
    # r10: seed labels with min(self, neighbors) straight from one edge
    # aggregation — identical to one propagation round over identity
    # labels (edges carry both directions, so min over adjacent src ==
    # min over neighbors), but costs the same single shuffle the old
    # `select(src).distinct()` init already paid, with no join. Every
    # run starts one round further along the (unique) min-label fixpoint.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(
            F.col("src").alias("doc_id"),
            F.least(F.col("src"), F.col("mn")).alias("cluster_id"),
        )
    )

    # min-propagation labels are monotone non-increasing, so the label sum
    # strictly decreases until the fixpoint: convergence = unchanged sum.
    # r10: the sum rides the checkpoint materialization itself as an
    # OBSERVED metric (df.observe) — the separate per-round agg job is
    # gone, halving the fixpoint loop's serial job count (the loop's
    # barriers are the scaling floor of the whole pipeline). The sum runs
    # in decimal(38,0): exact and overflow-free even at 10^12 docs with
    # 10^12-scale ids (int64 would overflow ~10^5 such labels and throw
    # under ANSI mode).
    def _sum_of(lbl: DataFrame) -> tuple[DataFrame, Observation]:
        obs = Observation()
        return (
            lbl.observe(
                obs, F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
            ),
            obs,
        )

    labels, obs0 = _sum_of(labels)
    labels = labels.localCheckpoint()
    prev_sum = obs0.get["s"]

    def _propagate(lbl: DataFrame) -> DataFrame:
        msgs = edges.join(
            lbl.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "cluster_id")
        return (
            lbl.unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )

    try:
        for _ in range(max_iterations):
            nxt, obs = _sum_of(_propagate(labels))
            nxt = nxt.localCheckpoint()
            release(labels)  # the next round is built: this one is unread
            labels = nxt
            cur_sum = obs.get["s"]
            if cur_sum == prev_sum:
                return labels
            prev_sum = cur_sum
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — component diameter exceeds the budget; raise "
            "max_cc_iterations or check candidate diameter capping"
        )
    except BaseException:
        release(labels)
        raise


def clusters_with_singletons(labels: DataFrame, all_docs: DataFrame) -> DataFrame:
    """Extend component labels to every doc of ``all_docs`` (keyed by
    doc_id): singletons label themselves."""
    return all_docs.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
