"""Scan fan-out for kernel-heavy stages, decided from bytes.

An expensive per-row Arrow kernel right above a scan runs with the scan's
parallelism, and a small corpus in few files reads as few splits: a
single file under ``spark.sql.files.maxPartitionBytes`` is one split, so
the kernel runs on one core. ``fan_out`` decides from the input's size,
as Catalyst estimates it (``optimizedPlan().stats().sizeInBytes``; the
file bytes for a file scan, scaled to the projected columns, no job):

* below ``_FAN_OUT_MIN_BYTES`` the kernel runs on the input's own
  partitions: no exchange, and no planning round trip for a partition
  count. Up to there an extra stage and its tasks cost about what
  spreading the signing saves (a 150-doc stream micro-batch is ~0.2 MB:
  it signs in one task and appends one signature file);
* at or above it, the input is round-robined to the shuffle parallelism
  unless it already has at least two partitions per slot (any corpus at
  scale, where this adds no exchange). An input whose size is unknown
  (Catalyst reports ``Long.MaxValue``, e.g. an RDD-backed frame) lands
  here too.

The crossover: one ``minhash_dedup_clusters`` call on a single-file
web mix (``datagen.generate_pages``, one row group, 8 MiB scan splits) at
``local[4]``, 4-core host, median of 6 alternating calls in one Spark
session, signed on the scan's splits (all rows in one) vs fanned out to 4:

    (doc_id, text) estimate   scan splits   fanned out
    0.34 MiB                  1.16 s        1.16 s
    0.69 MiB                  1.06 s        1.08 s
    0.98 MiB                  1.42 s        1.34 s
    1.41 MiB                  1.52 s        1.26 s
    2.90 MiB                  2.26 s        1.78 s
    5.91 MiB                  4.69 s        2.52 s

A corpus at or above the floor with a split per slot is fanned out too:
``longdoc_crawl``'s 14.4 MiB file scans as four ~4.6 MiB splits (its
bytes per core), and a split reads only the row groups whose midpoint
falls inside it, so they hold 0/2/3/3 of its 8 row groups: the sign
tasks of one warm call read 0/512/720/768 rows in 91/768/1027/1115 ms.
Round-robined, they read 500 rows each in 735-784 ms.

Round-robin (keyless) repartition: Spark's sort-before-repartition keeps
the row-to-partition assignment deterministic under task retry
(SPARK-23207), and the kernels above are per-row pure functions, so
results are partitioning-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# the measured crossover above, where fanning a one-partition input out to
# the slots starts to pay for its exchange
_FAN_OUT_MIN_BYTES = 1 << 20


def fan_out(df: DataFrame) -> DataFrame:
    """``df`` itself below ``_FAN_OUT_MIN_BYTES`` of estimated size or
    when it has at least two partitions per slot; otherwise ``df``
    round-robined to the session's shuffle parallelism."""
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if size < _FAN_OUT_MIN_BYTES:
        return df
    spark = df.sparkSession
    if df.rdd.getNumPartitions() >= 2 * spark.sparkContext.defaultParallelism:
        return df
    return df.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
