"""Incremental (streaming) near-duplicate detection.

The batch pipeline's stages are idempotent over snapshot tables, which makes
incremental dedup a `foreachBatch` refinement (SURVEY.md §2.10): for each
micro-batch of newly crawled pages,

    1. sign and band the new docs with batch's kernel
       (``banded_signatures_fused``; the bands are its
       ``explode_fused_bands`` projection),
    2. candidate-generate new×new AND new×old in ONE grouped pass over
       the new bands ∪ the stored bands, i.e. the ``explode_fused_bands``
       projection of the signature store's ``bands`` column
       (``candidate_pairs_incremental``: hash-partitioned on (band,
       bucket), the stored side ranked and capped at
       ``bucket_pair_cap`` per bucket) — old×old is never emitted;
       per-batch pair work is O(new×new + new×cap), not O(total²),
    3. gather the candidates' shingle sets (the new ones plus a left-semi
       join of the signature store's (doc_id, sh) on the candidates'
       distinct ids), exact-verify and append to the dup_pairs store
       (tagged batch_id),
    4. append the new signatures, bands included, to the signature store.

The batch's signatures, candidates and gathered set table are each
computed once, by the one job of a ``localCheckpoint`` (after the shuffle
stages feeding it) that every later reader reuses; all three are released
when the batch ends, on success and on failure
(``checkpoints.local_checkpoints``). A store-probing batch runs 11 Spark
jobs: sign 1, candidates 3, gather 3, verify + pair append 3 (two of them
broadcasts), signature append 1. A micro-batch is under
``partitioning.fan_out``'s byte floor, so it signs on its scan's own
partitions (one task for a 150-doc batch) with no fan-out exchange.

State lives in parquet stores (Iceberg-style append tables), not in Spark's
operator state — so the stream can restart from its checkpoint.

State-store layout: two FLAT parquet directories, no ``partitionBy``,
each kept sorted by its key —

    dup_pairs/  (a, b, jaccard, batch_id)  sorted by a
    signatures/ (doc_id, sh, bands)        sorted by doc_id

A doc's bands sit beside its set, so one append stores both: no window in
which a doc's bands are stored but its set is not. A batch appends its
rows to each store sorted within the partitions they already have: no
extra exchange, and each append coalesced to at most
``spark.sql.shuffle.partitions`` files. The signature append writes one
file per partition the batch signed on: one for a batch in one scan
split under the fan-out floor. Per batch the stream
reads the signature store once, as one frame with two readers: the
candidate pass scans its WHOLE (doc_id, bands) columns (parquet prunes
``sh``; the exploded rows enter the pass's one exchange beside the new
bands), and the gather scans its (doc_id, sh) columns through a left-semi
join on the candidates' distinct ids. Each scan runs inside the job that
checkpoints its step, so the store adds no driver round trip of its own.

Why flat: the layout used to split the stores into 64/16/16 ``pmod`` hash
directories and prune them with two driver ``distinct().collect()``
probes. At 150 docs × 32 bands = 4,800 bucket hashes per batch the prune
lists covered every directory, so the probes pruned nothing, while each
append wrote up to 96 small files from one task and each read of the
64-directory band store started a parallel-listing job. On 4 cores with
150-doc batches the flat layout ran 22 jobs per batch instead of 28 and
halved the batch latency. Key-sorted files keep Parquet's row-group
min/max statistics useful for any selective reader.

The stored bands are only comparable with bands from the same band-hash
family and signature config, so ``IncrementalDeduper`` writes a one-line
``<state_dir>/_band_format`` marker naming both and the store layout, and
refuses (ValueError) to resume over stores whose marker is absent or
differs: a mismatch would not fail, it would silently miss every
cross-batch pair (a state_dir of the three-store layout, with its bands
in a ``bands/`` store, would be read with no stored bands at all). Such a
state_dir has to be re-ingested.

``compact_parquet_store`` is the periodic maintenance action (Iceberg's
`rewrite_data_files`): it rewrites a store into ceil(store bytes ÷
``spark.sql.files.maxPartitionBytes``) key-range-sorted files — one file
at test scale, one parallel task per file at scale — through a
crash-safe directory swap. Callers run it with
``IncrementalDeduper.compact_stores()`` between triggers.

Equivalence contract vs a batch run over the union of all inputs:
*identical pair set for buckets below ``bucket_pair_cap``* (each pair is
emitted exactly once — by the batch that contributes its later doc). For
over-cap buckets the batch pipeline emits rank-dependent chain+tree pairs
while the increment emits new×anchor collisions (the stored side of a
bucket is capped at its ``bucket_pair_cap`` lowest ids), so pair SETS
differ there; both preserve bucket connectivity, so cluster assignments
agree (test_streaming.py asserts
pair-set equality below cap and cluster-level equivalence with a planted
over-cap bucket).
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.checkpoints import local_checkpoints
from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.operators.candidates import (
    candidate_pairs_incremental,
)
from neural_locality_sensitive_hashing_spark.operators.dedup import (
    banded_signatures_fused,
    explode_fused_bands,
)
from neural_locality_sensitive_hashing_spark.operators.verify import jaccard_verify

PAGES_SCHEMA = (
    "doc_id bigint, url string, warc_ts timestamp, html binary, text string, lang string"
)

# (directory, sort key, schema) per store, in the order a batch appends
# them. Reading with the schema skips the one-task footer job Spark runs
# to infer it.
STORES = (
    ("dup_pairs", "a", "a bigint, b bigint, jaccard double, batch_id int"),
    ("signatures", "doc_id", "doc_id bigint, sh binary, bands array<bigint>"),
)


def _columns(schema: str) -> list[str]:
    return [field.split()[0] for field in schema.split(",")]


def _band_format(cfg: DedupConfig) -> str:
    """The ``_band_format`` marker line: the band-hash family, the store
    layout (``sig_bands``: the bands stored beside each set, in the
    signature store, not in a ``bands/`` store of their own) and the
    DedupConfig fields that decide the stored bands and shingle sets."""
    fields = (
        "shingle_k", "num_perm", "minhash_seed", "num_bands", "rows_per_band",
        "shingle_hash_bytes",
    )
    return "band_hashes_numpy layout=sig_bands " + " ".join(
        f"{f}={getattr(cfg, f)}" for f in fields
    )


def compact_parquet_store(
    spark: SparkSession,
    path: str,
    key: str,
    schema: str,
) -> None:
    """Rewrite a parquet append-store into ceil(store bytes ÷
    ``spark.sql.files.maxPartitionBytes``) files, range-partitioned and
    sorted on ``key`` (the Iceberg `rewrite_data_files` maintenance
    action, done with plain parquet): append-per-batch stores accumulate
    small files, and at ~10^5 batches the FILE COUNT — listing, footers,
    task scheduling — becomes the scan bound, not the bytes. The rewrite
    keeps only the columns of ``schema`` (DDL).

    Rewrites into a sibling temp dir, then swaps directories. A crash
    can land in the window between the two renames (store missing, data
    intact under ``<path>.compact.old``); ``recover_store`` — called here
    and by every store read — completes the swap, so the data is never
    stranded. Call between triggers — foreachBatch is serialized, so
    batch K+1 never races the swap."""
    recover_store(path)
    if not _has_rows(path):
        return
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    n = -(-sum(os.path.getsize(f) for f in _data_files(path)) // max_bytes)
    df = spark.read.schema(schema).parquet(path).select(*_columns(schema))
    # one file needs no range exchange: a single task reads the whole store
    df = df.coalesce(1) if n == 1 else df.repartitionByRange(n, key)
    _swap_rewrite(
        path,
        lambda tmp: df.sortWithinPartitions(key).write.mode("overwrite").parquet(tmp),
    )


def _swap_rewrite(path: str, write_tmp) -> None:
    """THE crash-safe store rewrite protocol, in one place: write the new
    layout into ``<path>.compact.tmp``, then double-rename through
    ``<path>.compact.old``. A crash between the renames is healed by
    ``recover_store`` (paired naming — keep them in sync)."""
    tmp, old = path + ".compact.tmp", path + ".compact.old"
    for leftover in (tmp, old):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    write_tmp(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def _data_files(path: str):
    """The store's parquet data files."""
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                yield os.path.join(root, f)


def _has_rows(path: str) -> bool:
    """True iff the store holds a data file with at least one row. An
    append of an empty frame still writes one schema-only file (Spark
    writes task 0's file even when it is empty), so a store holding only
    such files — e.g. the pair store after batches that verified zero
    dups — is empty. The check stops at the first file with rows."""
    return any(pq.read_metadata(f).num_rows for f in _data_files(path))


def recover_store(path: str) -> None:
    """Complete an interrupted compaction swap: if the store path is
    missing but ``<path>.compact.old`` survived (crash between the two
    renames), restore it — the old data is valid, only the swap was
    lost. The next compaction retries the rewrite."""
    old = path + ".compact.old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)


class IncrementalDeduper:
    """foreachBatch sink: maintains the signature and dup-pair stores."""

    def __init__(self, spark: SparkSession, cfg: DedupConfig, state_dir: str):
        self.spark = spark
        self.cfg = cfg
        # path -> (sort key, schema), in append order
        self.stores = {
            os.path.join(state_dir, name): (key, schema) for name, key, schema in STORES
        }
        self.pair_store, self.sig_store = self.stores
        marker = Path(state_dir, "_band_format")
        want = _band_format(cfg)
        have = marker.read_text().strip() if marker.exists() else None
        for path in self.stores:
            recover_store(path)
        if have != want and any(os.path.isdir(p) for p in self.stores):
            raise ValueError(
                f"state_dir {state_dir} holds stores of band format {have!r}, "
                f"not {want!r}: their bands cannot match this config's; "
                "re-ingest into an empty state_dir"
            )
        os.makedirs(state_dir, exist_ok=True)
        marker.write_text(want + "\n")

    def compact_stores(self) -> None:
        """Maintenance: rewrite each store's per-batch small files into
        key-sorted files of up to ``spark.sql.files.maxPartitionBytes``."""
        for path, (key, schema) in self.stores.items():
            compact_parquet_store(self.spark, path, key, schema)

    def _read_store(self, path: str) -> DataFrame | None:
        recover_store(path)  # heal an interrupted compaction swap
        if not _has_rows(path):
            return None
        return self.spark.read.schema(self.stores[path][1]).parquet(path)

    def process_batch(self, new_pages: DataFrame, batch_id: int) -> None:
        cfg = self.cfg
        # the batch's signatures, candidates and gathered set table are
        # each computed once, by one checkpoint job, and released when the
        # block exits, whether or not the batch succeeds: a caller that
        # survives a failed batch and carries on (a retrying drain loop)
        # would otherwise accumulate them
        with local_checkpoints() as checkpoint:
            new_sigs = checkpoint(banded_signatures_fused(new_pages, cfg))
            # one store read: the candidate pass reads its (doc_id, bands)
            # columns, the gather its (doc_id, sh) columns
            old_sigs = self._read_store(self.sig_store)
            cands = checkpoint(
                candidate_pairs_incremental(
                    explode_fused_bands(new_sigs),
                    None if old_sigs is None else explode_fused_bands(old_sigs),
                    cfg,
                )
            )
            all_sets = new_sigs.select("doc_id", "sh")
            if old_sigs is not None:
                ids = (
                    cands.select(F.col("a").alias("doc_id"))
                    .unionByName(cands.select(F.col("b").alias("doc_id")))
                    .distinct()
                )
                all_sets = checkpoint(
                    all_sets.unionByName(
                        old_sigs.select("doc_id", "sh").join(ids, "doc_id", "left_semi")
                    )
                )

            dups = jaccard_verify(cands, all_sets, cfg).withColumn(
                "batch_id", F.lit(int(batch_id))
            )
            # at most one file per shuffle partition: the signatures keep
            # the partitions they were signed on (one for a batch under
            # fan_out's byte floor), and the verified pairs can come out
            # of a join streamed over new + old sets, with more partitions,
            # which coalesce merges without an exchange
            parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            for df, (path, (key, schema)) in zip((dups, new_sigs), self.stores.items()):
                (
                    df.select(*_columns(schema))
                    .coalesce(parts)
                    .sortWithinPartitions(key)
                    .write.mode("append")
                    .parquet(path)
                )

    def dup_pairs(self) -> DataFrame:
        return (
            self.dup_pairs_with_batch()
            .select("a", "b", "jaccard")
            .dropDuplicates(["a", "b"])
        )

    def dup_pairs_with_batch(self) -> DataFrame:
        # _read_store heals an interrupted compaction swap before reading —
        # every store read must route through it, or a crash between the
        # compaction renames leaves this failing on a missing path while
        # the data sits intact under <path>.compact.old.
        store = self._read_store(self.pair_store)
        if store is None:
            raise FileNotFoundError(self.pair_store)
        return store.select("a", "b", "jaccard", "batch_id")


def run_incremental(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    cfg: DedupConfig,
) -> IncrementalDeduper:
    """Drain all available files from input_dir through the incremental
    pipeline (Trigger.AvailableNow) and return the deduper for inspection."""
    dedup = IncrementalDeduper(spark, cfg, state_dir)
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    q = (
        stream.writeStream.foreachBatch(dedup.process_batch)
        .option("checkpointLocation", os.path.join(state_dir, "_stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return dedup
