"""The recall_at_k operator + the checkpoint metrics sink."""

from __future__ import annotations

from neural_locality_sensitive_hashing_spark.operators.metrics import recall_at_k


def test_recall_at_k_golden(spark):
    golden = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22), (3, 30), (3, 31), (3, 32)],
        "query_id long, neighbor_id long",
    )
    pred = spark.createDataFrame(
        # q1: all 3 hit; q2: 1 of 3; q3 absent from predictions
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 99), (2, 98)],
        "query_id long, neighbor_id long",
    )
    got = {r.query_id: r.recall for r in recall_at_k(pred, golden, k=3).collect()}
    assert got == {1: 1.0, 2: 0.333333, 3: 0.0}


def test_pipeline_writes_metrics_table(spark, pages_1k, tmp_path):
    from neural_locality_sensitive_hashing_spark.config import DedupConfig
    from neural_locality_sensitive_hashing_spark.plans.pipeline import DedupPipeline

    pages = spark.read.parquet(pages_1k[0])
    pipe = DedupPipeline(spark, DedupConfig(), str(tmp_path / "ckpt"), "pages_1k")
    pipe.run(pages)
    m = pipe.catalog.metrics()
    assert m is not None
    rows = {r.metric: r.value for r in m.collect()}
    assert rows["n_docs"] == 1000.0
    assert rows["dup_pairs"] > 0
    assert rows["n_clusters"] > 0
    assert rows["candidate_pairs"] >= rows["dup_pairs"]
