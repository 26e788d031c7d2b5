"""Incremental (streaming) per-URL recrawl dedup.

The batch recrawl tier (operators/recrawl.py) keeps the newest crawl per
canonical URL with one window over the full corpus. On a live crawl the
corpus never stops arriving, so this module maintains the same table as a
``foreachBatch`` UPSERT against a hash-partitioned parquet store — one
row per canonical URL: the winning crawl (newest ``warc_ts``, ties to the
highest ``crawl_id``) plus the accumulated crawl count.

Per batch (bounded by BATCH size, never store size):

    1. canonicalize + reduce the batch: one winner row + count per
       canonical URL (``max_by`` over (warc_ts, crawl_id)),
    2. read ONLY the store partitions the batch's canonical URLs hash
       into (``pfx = pmod(xxhash64(canonical_url), 16)``; driver-side
       ``isin`` on the partition column → parquet directory pruning; the
       store is read with its schema, so no footer-inference job runs),
    3. full-outer merge on canonical_url: newest crawl wins, counts sum,
    4. dynamic-partition-overwrite the TOUCHED partitions only
       (untouched directories are never listed, read, or rewritten —
       the per-batch write is Iceberg ``MERGE INTO`` semantics done with
       plain parquet).

At-least-once with idempotent replay at PARTITION-DIRECTORY granularity:
foreachBatch is at-least-once, so every row carries ``last_batch_id``. A
replayed batch (restart between the partition write and the stream
checkpoint commit) finds ``last_batch_id == batch_id`` on rows it already
updated and re-applies as a no-op — counts never double, winners never
regress — which also heals a crash that landed only SOME partition
directories (rows in cleanly written partitions skip, rows in unwritten
partitions apply). The guard does NOT cover a crash INSIDE one
directory's dynamic-overwrite commit (old files removed, new files not
yet moved): that window loses the directory's rows, and closing it needs
an atomic table commit — exactly the Iceberg MERGE INTO in the scale
note below, whose snapshot commit makes the per-directory swap
transactional.

The store is an ID TABLE (canonical_url → winning crawl_id/url/warc_ts +
count), not a payload table: html/text stay in the append-only crawl log
and are gathered by crawl_id when the content-dedup tier runs — the same
ids-only-shuffle/gather-late philosophy as every ANN path in this repo
(rewriting payloads on every upsert would turn each micro-batch into a
corpus-payload write).

Scale note: at 10^12 URLs the store is the crawl frontier's index table;
the same layout maps to an Iceberg table bucket-partitioned by
canonical_url where step 4 is a real MERGE INTO. ``localCheckpoint``
before the write truncates lineage so Spark permits the self-referential
store rewrite; on Iceberg the MERGE does this natively.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.operators.recrawl import canonical_url
from neural_locality_sensitive_hashing_spark.streaming.incremental import (
    _columns,
    recover_store,
)

# hash partitions of the store: pfx = pmod(xxhash64(canonical_url), 16)
_STORE_PARTS = 16
# the store's schema, pfx (the partition column) included. Reading with it
# skips the footer job Spark runs to infer it; these are the types that
# job inferred (a partition value reads back as int).
_STORE_SCHEMA = (
    "canonical_url string, crawl_id bigint, url string, warc_ts timestamp_ntz, "
    "n_crawls bigint, last_batch_id int, pfx int"
)
_STORE_COLS = _columns(_STORE_SCHEMA)


class IncrementalRecrawl:
    """foreachBatch sink: maintains the latest-crawl-per-canonical-URL
    store (one row per canonical URL, hash-partitioned) over crawl pages
    ``(crawl_id, url, warc_ts, ...)``."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.store = os.path.join(state_dir, "latest_crawls")

    def _read_store(self) -> DataFrame | None:
        recover_store(self.store)
        if not os.path.exists(self.store):
            return None
        return self.spark.read.schema(_STORE_SCHEMA).parquet(self.store)

    def _reduce_batch(self, pages: DataFrame, batch_id: int) -> DataFrame:
        """One row per canonical URL in the batch: the winning crawl +
        how many batch rows collapsed into it."""
        # warc_ts is stored as timestamp_ntz, the planted crawls' type
        c = pages.select(
            canonical_url(F.col("url")).alias("canonical_url"),
            "crawl_id",
            "url",
            F.col("warc_ts").cast("timestamp_ntz").alias("warc_ts"),
        )
        win = F.max_by(
            F.struct("crawl_id", "url", "warc_ts"), F.struct("warc_ts", "crawl_id")
        ).alias("w")
        return (
            c.groupBy("canonical_url")
            .agg(win, F.count("*").alias("new_crawls"))
            .select(
                "canonical_url",
                F.col("w.crawl_id").alias("crawl_id"),
                F.col("w.url").alias("url"),
                F.col("w.warc_ts").alias("warc_ts"),
                F.col("new_crawls"),
                F.lit(int(batch_id)).alias("last_batch_id"),
                F.pmod(F.xxhash64("canonical_url"), F.lit(_STORE_PARTS)).alias("pfx"),
            )
        )

    def process_batch(self, pages: DataFrame, batch_id: int) -> None:
        b = self._reduce_batch(pages, batch_id).persist()
        pfx_values = [r[0] for r in b.select("pfx").distinct().collect()]
        if not pfx_values:
            # empty micro-batch (file sources can deliver a zero-row file):
            # a dynamic overwrite of an empty frame on a FRESH store would
            # create the store dir with only _SUCCESS and no parquet files,
            # making every later read fail with unable-to-infer-schema —
            # and on an existing store it is a no-op anyway. Skip it.
            b.unpersist()
            return
        old = self._read_store()
        if old is None:
            merged = b.select(
                "canonical_url",
                "crawl_id",
                "url",
                "warc_ts",
                F.col("new_crawls").alias("n_crawls"),
                "last_batch_id",
                "pfx",
            )
        else:
            o = old.where(F.col("pfx").isin(pfx_values)).select(
                *[F.col(c).alias(f"o_{c}") for c in _STORE_COLS]
            )
            j = b.join(
                o, b["canonical_url"] == o["o_canonical_url"], "full_outer"
            )
            # replay guard: this batch's contribution is already merged
            replay = F.col("o_last_batch_id") == F.lit(int(batch_id))
            batch_wins = F.col("o_canonical_url").isNull() | (
                ~replay
                & (
                    F.struct(F.col("warc_ts"), F.col("crawl_id"))
                    > F.struct(F.col("o_warc_ts"), F.col("o_crawl_id"))
                )
            )
            pick = lambda new, oldc: F.when(batch_wins, new).otherwise(oldc)  # noqa: E731
            merged = j.select(
                F.coalesce("canonical_url", "o_canonical_url").alias(
                    "canonical_url"
                ),
                pick(F.col("crawl_id"), F.col("o_crawl_id")).alias("crawl_id"),
                pick(F.col("url"), F.col("o_url")).alias("url"),
                pick(F.col("warc_ts"), F.col("o_warc_ts")).alias("warc_ts"),
                (
                    F.coalesce("o_n_crawls", F.lit(0))
                    + F.when(
                        replay | F.col("canonical_url").isNull(), F.lit(0)
                    ).otherwise(F.coalesce("new_crawls", F.lit(0)))
                ).alias("n_crawls"),
                F.when(
                    replay | F.col("canonical_url").isNull(),
                    F.col("o_last_batch_id"),
                )
                .otherwise(F.lit(int(batch_id)))
                .alias("last_batch_id"),
                F.coalesce("pfx", "o_pfx").alias("pfx"),
            )
        # truncate lineage: the write targets the path the plan reads
        merged = merged.localCheckpoint()
        (
            merged.repartition("pfx")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("pfx")
            .parquet(self.store)
        )
        b.unpersist()

    def latest_crawls(self) -> DataFrame:
        store = self._read_store()
        if store is None:
            raise FileNotFoundError(self.store)
        return store.select("canonical_url", "crawl_id", "url", "warc_ts", "n_crawls")

