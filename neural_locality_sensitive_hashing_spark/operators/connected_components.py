"""Distributed connected components (union-find) over a pair DataFrame.

The reference returns per-query neighbor lists and never clusters
(SURVEY.md §2.4 A7) — this is the one genuinely new aggregate the dedup
engine needs: dup_pairs -> cluster ids = connected components.

Algorithm: iterative min-label propagation to fixpoint, driven from the
driver with a `localCheckpoint` per iteration to cut lineage (a fixpoint
loop without checkpointing grows an exponential plan). Per iteration each
node adopts min(own label, neighbors' labels); converged when no label
changes. Iteration count is bounded by the component diameter — small for
dedup graphs (dup groups are dense). Scale note: each iteration is one
shuffle-join on doc_id + one groupBy; both hash-partition on the same key,
so AQE reuses the exchange layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 50,
) -> DataFrame:
    """(a, b) undirected edges -> (doc_id, cluster_id = min doc_id in comp).

    Only nodes that appear in at least one pair are returned; singletons
    are each their own cluster and are added by the caller when needed.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iterations`` (component diameter too large for the budget) —
    returning non-converged labels would silently mislabel clusters.
    Candidate generation caps diameters at O(log n) via the chain+tree
    construction (operators/candidates.py), so the default budget covers
    components up to ~2^49 members.

    ``pairs`` is read once: each pair row emits both directed edges in a
    single projection (``inline`` of a two-struct array), checkpointed
    before the loop. A union of two projections would plan ``pairs``
    twice, and since the verify UDF upstream is non-deterministic Spark
    reuses no exchange between the branches — candidates and verify
    would run twice for every unpersisted ``pairs``.
    """
    # with a<b in pairs the two directed copies are disjoint — no dedup
    edges = pairs.select(
        F.inline(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        )
    ).localCheckpoint()
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
    from pyspark.sql import Observation

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
    converged = False

    def _propagate(lbl: DataFrame) -> DataFrame:
        msgs = edges.join(
            lbl.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "cluster_id")
        return (
            lbl.unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )

    for _ in range(max_iterations):
        nxt, obs = _sum_of(_propagate(labels))
        labels = nxt.localCheckpoint()
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — component diameter exceeds the budget; raise "
            "max_cc_iterations or check candidate diameter capping"
        )
    return labels


def clusters_with_singletons(
    labels: DataFrame,
    all_docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Extend component labels to every doc: singletons label themselves."""
    docs = all_docs.select(F.col(id_col).alias("doc_id"))
    return docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
