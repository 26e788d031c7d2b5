"""``partitioning.fan_out``: the signing stage's parallelism comes from
the input's estimated bytes, not from its partition count."""

from __future__ import annotations

from pyspark.sql import DataFrame

from neural_locality_sensitive_hashing_spark import partitioning
from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.operators.dedup import banded_signatures_fused
from neural_locality_sensitive_hashing_spark.partitioning import fan_out


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _size(df: DataFrame) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def test_below_floor_signs_on_the_scan_partitions(spark, pages_1k, monkeypatch):
    """pages_1k's (doc_id, text) estimate is under the floor: the kernel
    runs on the scan's own partition, with no exchange and no
    ``DataFrame.rdd`` planning round trip for a partition count."""
    docs = spark.read.parquet(pages_1k[0])
    assert _size(docs.select("doc_id", "text")) < partitioning._FAN_OUT_MIN_BYTES

    def no_rdd(self):
        raise AssertionError("fan_out read DataFrame.rdd below the floor")

    monkeypatch.setattr(type(docs), "rdd", property(no_rdd))
    plan = _plan(banded_signatures_fused(docs, DedupConfig()))
    assert "RoundRobinPartitioning" not in plan


def test_at_floor_fans_out_unless_two_partitions_per_slot(spark, monkeypatch):
    """At or above the floor an input is round-robined to the shuffle
    parallelism, even with exactly that many partitions; with two per
    slot it is left as it is."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    slots = spark.sparkContext.defaultParallelism
    as_many = spark.range(0, 10_000, 1, parts)
    monkeypatch.setattr(partitioning, "_FAN_OUT_MIN_BYTES", _size(as_many))
    assert f"RoundRobinPartitioning({parts})" in _plan(fan_out(as_many))
    assert "RoundRobinPartitioning" not in _plan(fan_out(spark.range(0, 10_000, 1, 2 * slots)))


def test_unknown_size_fans_out(spark):
    """An RDD-backed frame has no size estimate (Catalyst reports
    Long.MaxValue): it counts as large and is fanned out."""
    rows = spark.sparkContext.parallelize([(i, f"doc {i}") for i in range(10)], 1)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert _size(docs) == (1 << 63) - 1
    assert "RoundRobinPartitioning" in _plan(fan_out(docs))


def test_signatures_do_not_depend_on_the_fan_out(spark, pages_1k, monkeypatch):
    """The kernel is a per-row function: the rows are the same whether the
    input is signed in place or fanned out."""
    docs = spark.read.parquet(pages_1k[0]).where("doc_id < 200")
    rows = []
    for floor in (1 << 62, 0):
        monkeypatch.setattr(partitioning, "_FAN_OUT_MIN_BYTES", floor)
        sigs = banded_signatures_fused(docs, DedupConfig())
        assert ("RoundRobinPartitioning" in _plan(sigs)) == (floor == 0)
        rows.append(sorted((r.doc_id, bytes(r.sh), tuple(r.bands)) for r in sigs.collect()))
    assert rows[0] == rows[1] and len(rows[0]) == 200
