"""Quality metrics as engine operators.

The reference logs recall@K on every eval (``nlsh/metrics.py:4-25``);
here it is a DataFrame operator, ``recall_at_k``, which the
``ann_recall_at_k`` oracle lane calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def recall_at_k(predicted: DataFrame, golden: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k -> (query_id, recall).

    ``|golden ∩ predicted| / k`` with both sides given as flat
    (query_id, neighbor_id) result tables (the engine's top-k output
    shape) — the exploded-join form of the reference's set-intersection
    metric (``nlsh/metrics.py:4-25``). Queries present in ``golden`` but
    absent from ``predicted`` score 0.0 (left join, not inner)."""
    p = predicted.select(F.col("query_id").alias("p_q"), F.col("neighbor_id").alias("hit"))
    g = golden.select("query_id", F.col("neighbor_id").alias("g_n"))
    return (
        g.join(p, (F.col("query_id") == F.col("p_q")) & (F.col("g_n") == F.col("hit")), "left")
        .groupBy("query_id")
        .agg(F.round(F.count("hit") / F.lit(float(k)), 6).alias("recall"))
    )
