"""Quality/efficiency metrics as first-class engine operators.

The reference logs recall@K, mean candidate count, qps and bucket-size
dispersion on every eval (``nlsh/trainers/base.py:87-108``,
``nlsh/metrics.py:4-25``, ``nlsh/loggers.py``); here the same metrics are
DataFrame operators whose outputs land in the checkpoint catalog's
``_metrics`` table (sources/checkpoint.py) so every pipeline run leaves an
auditable quality trail next to its lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def recall_at_k(
    predicted: DataFrame,
    golden: DataFrame,
    k: int,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall@k -> (query_id, recall).

    ``|golden ∩ predicted| / k`` with both sides given as flat
    (query_id, neighbor_id) result tables (the engine's top-k output
    shape) — the exploded-join form of the reference's set-intersection
    metric (``nlsh/metrics.py:4-25``). Queries present in ``golden`` but
    absent from ``predicted`` score 0.0 (left join, not inner)."""
    p = predicted.select(
        F.col(query_col).alias("query_id"), F.col(neighbor_col).alias("p_n")
    )
    g = golden.select(
        F.col(query_col).alias("query_id"), F.col(neighbor_col).alias("g_n")
    )
    return (
        g.join(p, (g.query_id == p.query_id) & (g.g_n == p.p_n), "left")
        .select(g.query_id.alias("query_id"), p.p_n.alias("hit"))
        .groupBy("query_id")
        .agg(F.round(F.count("hit") / F.lit(float(k)), 6).alias("recall"))
    )


def mean_recall_at_k(predicted: DataFrame, golden: DataFrame, k: int) -> float:
    """Scalar mean recall (the reference's logged ``test/recall``)."""
    df = recall_at_k(predicted, golden, k)
    row = df.agg(F.avg("recall")).first()
    return float(row[0]) if row[0] is not None else 0.0


def candidate_count_per_query(candidates: DataFrame, query_col: str = "query_id") -> DataFrame:
    """Per-query candidate fan-out -> (query_id, n_candidates) — the
    reference's ``test/query_size`` efficiency proxy
    (``nlsh/trainers/base.py:98``)."""
    return candidates.groupBy(F.col(query_col).alias("query_id")).agg(
        F.count("*").alias("n_candidates")
    )


def run_metrics_rows(spark, metrics: dict[str, float], run_id: str) -> DataFrame:
    """(metric, value, run_id) rows ready for the checkpoint catalog's
    metrics sink — the Spark analogue of logger.log(name, value, step)."""
    rows = [(run_id, k, float(v)) for k, v in metrics.items()]
    return spark.createDataFrame(rows, "run_id string, metric string, value double")
