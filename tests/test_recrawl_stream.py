"""Incremental recrawl tier: batch-equivalence, replay idempotence,
partition-pruned upserts and the jobs of a batch."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.operators.recrawl import (
    latest_crawl_per_url,
)
from neural_locality_sensitive_hashing_spark.planted import ensure_planted_crawls
from neural_locality_sensitive_hashing_spark.streaming.recrawl_stream import (
    IncrementalRecrawl,
)

SF_DIR = "/root/testdata/sf0.001"


def _crawls(spark):
    return spark.read.parquet(ensure_planted_crawls(SF_DIR))


def _batch_truth(spark):
    full = latest_crawl_per_url(_crawls(spark), id_col="crawl_id")
    return {
        (r.canonical_url, r.crawl_id, r.n_crawls) for r in full.collect()
    }


def _store_set(sink):
    return {
        (r.canonical_url, r.crawl_id, r.n_crawls)
        for r in sink.latest_crawls().collect()
    }


def test_incremental_equals_batch_and_replay_is_noop(spark, tmp_path):
    crawls = _crawls(spark)
    sink = IncrementalRecrawl(spark, str(tmp_path))
    batches = [
        crawls.where(F.col("crawl_id") % 3 == i).persist() for i in range(3)
    ]
    for i, b in enumerate(batches):
        sink.process_batch(b, i)
    truth = _batch_truth(spark)
    assert _store_set(sink) == truth

    # at-least-once replay of the LAST batch (restart between the
    # partition write and the checkpoint commit): must be a no-op —
    # counts don't double, winners don't regress
    sink.process_batch(batches[2], 2)
    assert _store_set(sink) == truth
    # ... and re-running an OLD batch id is also a no-op for winners,
    # though real foreachBatch never replays committed batches; the
    # guard is keyed on last_batch_id equality
    for b in batches:
        b.unpersist()


def test_upsert_touches_only_hashed_partitions(spark, tmp_path):
    """A one-URL batch must rewrite only the partition directory its
    canonical URL hashes into — every other pfx dir's file set stays
    byte-identical (the store-size-independent per-batch write bound)."""
    crawls = _crawls(spark)
    sink = IncrementalRecrawl(spark, str(tmp_path))
    sink.process_batch(crawls, 0)

    def listing():
        out = {}
        for root, _dirs, files in os.walk(sink.store):
            if "pfx=" in root:
                key = root[root.index("pfx=") :]
                out[key] = sorted(
                    (f, os.path.getmtime(os.path.join(root, f)))
                    for f in files
                    if f.endswith(".parquet")
                )
        return out

    before = listing()
    assert len(before) > 1  # multiple partitions exist
    one = crawls.where(F.col("crawl_id") == 2).limit(1)
    sink.process_batch(one, 1)
    after = listing()
    changed = {k for k in before if before[k] != after.get(k)}
    assert len(changed) == 1, changed


def test_empty_first_batch_is_skipped(spark, tmp_path):
    """A zero-row micro-batch on a FRESH store must not create a
    parquet-less store directory (which would fail every later read with
    unable-to-infer-schema); on an existing store it must be a no-op."""
    crawls = _crawls(spark)
    sink = IncrementalRecrawl(spark, str(tmp_path))
    empty = crawls.where(F.lit(False))
    sink.process_batch(empty, 0)  # fresh store: must not write _SUCCESS-only dir
    assert not os.path.exists(sink.store)
    sink.process_batch(crawls, 1)
    before = _store_set(sink)
    assert before == _batch_truth(spark)
    sink.process_batch(empty, 2)  # existing store: no-op
    assert _store_set(sink) == before


@pytest.mark.parametrize("budget", [8])
def test_recrawl_batch_job_budget(spark, tmp_path, budget):
    """The store is read with its schema (no footer-inference job): a
    batch that merges into an existing store runs at most ``budget`` jobs,
    and counting the store at most 2."""
    crawls = _crawls(spark)
    sink = IncrementalRecrawl(spark, str(tmp_path))
    sink.process_batch(crawls.where(F.col("crawl_id") % 2 == 0), 0)
    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    second = crawls.where(F.col("crawl_id") % 2 == 1)
    merge = jobs(f"recrawl-batch-{tmp_path.name}", lambda: sink.process_batch(second, 1))
    assert 0 < merge <= budget, f"{merge} jobs > budget {budget}"
    count = jobs(f"recrawl-count-{tmp_path.name}", lambda: sink.latest_crawls().count())
    assert 0 < count <= 2, f"{count} jobs to count the store"
