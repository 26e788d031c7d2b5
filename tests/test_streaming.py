"""Incremental (Structured Streaming) dedup == batch dedup on the union."""

from __future__ import annotations

import glob
import os

import pytest

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.operators.dedup import minhash_dup_pairs
from neural_locality_sensitive_hashing_spark.streaming.incremental import run_incremental

CFG = DedupConfig()


def _data_files(store: str) -> list[str]:
    return [
        f for f in glob.glob(f"{store}/**/*.parquet", recursive=True)
        if os.path.basename(f).startswith("part-")
    ]


def _shuffle_parts(spark) -> int:
    """The most files a batch appends to a store: each append is coalesced
    to the shuffle parallelism. A batch under ``fan_out``'s byte floor
    signs on its scan's own partitions and appends that many (one for a
    single-split batch)."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _compacted_file_count(spark, store: str) -> int:
    """ceil(store bytes ÷ spark.sql.files.maxPartitionBytes)."""
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return -(-sum(os.path.getsize(f) for f in _data_files(store)) // max_bytes)


def test_incremental_equals_batch(spark, pages_1k, tmp_path):
    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)

    # split the corpus into 3 "crawl" files arriving over time
    input_dir = str(tmp_path / "incoming")
    os.makedirs(input_dir)
    n = pages.count()
    parts = [
        pages.where(f"doc_id % 3 = {i}").coalesce(1) for i in range(3)
    ]
    for i, part in enumerate(parts):
        part.write.parquet(f"{input_dir}/batch_{i}.parquet")
    # flatten: file source wants files, parquet dirs-of-dirs are fine too
    dedup = run_incremental(spark, f"{input_dir}/*", str(tmp_path / "state"), CFG)

    streamed = {(r.a, r.b) for r in dedup.dup_pairs().collect()}
    batch = {(r.a, r.b) for r in minhash_dup_pairs(pages, CFG).collect()}
    missing = batch - streamed
    extra = streamed - batch
    assert not missing, f"streaming missed pairs: {list(missing)[:5]}"
    assert not extra, f"streaming invented pairs: {list(extra)[:5]}"
    assert n == 1000

    # truly incremental: every pair verified in batch k touches a doc of
    # batch k (doc_id % 3 == k by construction) — no old×old rescans
    tagged = dedup.dup_pairs_with_batch().collect()
    assert len(tagged) > 0
    for r in tagged:
        assert r.a % 3 == r.batch_id or r.b % 3 == r.batch_id, (
            f"pair ({r.a},{r.b}) re-emitted by batch {r.batch_id} "
            "without a new endpoint"
        )


def test_incremental_overcap_bucket_cluster_equivalence(spark, tmp_path):
    """Over-cap buckets: pair SETS may differ from batch (rank-dependent
    chain+tree vs new×all) but cluster assignments must agree."""
    from neural_locality_sensitive_hashing_spark.operators.connected_components import (
        connected_components,
    )

    cfg = DedupConfig(bucket_pair_cap=8)
    boiler = " ".join(f"tok{i}" for i in range(60))
    rows = [(i, f"http://x/{i}", None, None, boiler, "en") for i in range(40)]
    pages = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts timestamp, html binary, text string, lang string"
    )
    input_dir = str(tmp_path / "incoming")
    os.makedirs(input_dir)
    for i in range(2):
        pages.where(f"doc_id % 2 = {i}").coalesce(1).write.parquet(
            f"{input_dir}/b{i}.parquet"
        )
    dedup = run_incremental(spark, f"{input_dir}/*", str(tmp_path / "state"), cfg)

    inc_labels = {
        r.doc_id: r.cluster_id
        for r in connected_components(dedup.dup_pairs()).collect()
    }
    bat_labels = {
        r.doc_id: r.cluster_id
        for r in connected_components(minhash_dup_pairs(pages, cfg)).collect()
    }
    assert inc_labels == bat_labels
    assert len(set(inc_labels.values())) == 1  # all 40 identical docs: one cluster


def test_store_compaction_bounds_files_and_preserves_output(spark, pages_1k, tmp_path):
    """Each batch appends at most one file per batch partition to each flat
    store; compact_stores() rewrites every store into ceil(bytes ÷
    maxPartitionBytes) key-range-sorted files, leaves the pair set
    bit-identical, and a subsequent batch appends cleanly on top."""
    import pyarrow.parquet as pq

    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    dedup = IncrementalDeduper(spark, CFG, str(tmp_path / "state"))
    stores = (dedup.sig_store, dedup.pair_store)

    # drive 3 batches directly (same path foreachBatch takes)
    for i in range(3):
        before = {s: len(_data_files(s)) for s in stores}
        dedup.process_batch(pages.where(f"doc_id % 4 = {i}"), i)
        for s in stores:
            assert len(_data_files(s)) - before[s] <= _shuffle_parts(spark), s

    before_pairs = sorted(
        (r.a, r.b, r.jaccard) for r in dedup.dup_pairs().collect()
    )
    n_before = len(_data_files(dedup.sig_store))
    assert n_before >= 3  # at least one per batch

    expect = {s: _compacted_file_count(spark, s) for s in stores}
    dedup.compact_stores()

    # bounded: ceil(bytes ÷ maxPartitionBytes) files per store — one here
    for s in stores:
        assert len(_data_files(s)) == expect[s] == 1, s
    assert len(_data_files(dedup.sig_store)) < n_before

    # outputs unchanged after the rewrite
    after_pairs = sorted((r.a, r.b, r.jaccard) for r in dedup.dup_pairs().collect())
    assert after_pairs == before_pairs

    # a store larger than maxPartitionBytes splits into key ranges: every
    # file is sorted on the key and the files' ranges do not overlap
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    sig_bytes = sum(os.path.getsize(f) for f in _data_files(dedup.sig_store))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(sig_bytes // 3 + 1))
    try:
        n_max = _compacted_file_count(spark, dedup.sig_store)
        dedup.compact_stores()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    ranges = []
    for f in _data_files(dedup.sig_store):
        keys = pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()
        assert keys == sorted(keys), f
        ranges.append((keys[0], keys[-1]))
    ranges.sort()
    assert 2 <= len(ranges) <= n_max == 3, ranges
    assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:])), ranges

    # the stream keeps going: batch 3 appends onto the compacted stores
    dedup.process_batch(pages.where("doc_id % 4 = 3"), 3)
    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        minhash_dup_pairs as _mdp,
    )

    streamed = {(r.a, r.b) for r in dedup.dup_pairs().collect()}
    batch = {(r.a, r.b) for r in _mdp(pages, CFG).collect()}
    assert streamed == batch


def test_compaction_crash_window_recovers(spark, pages_1k, tmp_path):
    """A kill between the two compaction renames leaves the store under
    <path>.compact.old; recover_store (invoked by every store read and by
    the next compaction) restores it — no silent empty-store restart."""
    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    dedup = IncrementalDeduper(spark, CFG, str(tmp_path / "state"))
    dedup.process_batch(pages.where("doc_id % 4 = 0"), 0)

    n_sigs = dedup._read_store(dedup.sig_store).count()
    assert n_sigs > 0
    # simulate the crash window: store renamed away, swap never completed
    os.rename(dedup.sig_store, dedup.sig_store + ".compact.old")
    got = dedup._read_store(dedup.sig_store)
    assert got is not None, "store not recovered from .compact.old"
    assert got.count() == n_sigs
    # and compaction itself also heals before rewriting
    os.rename(dedup.sig_store, dedup.sig_store + ".compact.old")
    dedup.compact_stores()
    assert dedup._read_store(dedup.sig_store).count() == n_sigs
    # dup_pairs() reads route through the same recovery (a crash between
    # the pair-store renames must not strand the accumulated pairs)
    n_pairs = dedup.dup_pairs().count()
    os.rename(dedup.pair_store, dedup.pair_store + ".compact.old")
    assert dedup.dup_pairs().count() == n_pairs


def test_state_dir_holds_two_stores_with_kernel_bands(spark, pages_1k, tmp_path):
    """The state_dir holds the pair store and the signature store only; the
    signature store keeps each doc's kernel bands beside its set, before
    and after a compaction (which keeps only the schema's columns)."""
    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        banded_signatures_fused,
    )
    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    state = tmp_path / "state"
    dedup = IncrementalDeduper(spark, CFG, str(state))
    for i in range(2):
        dedup.process_batch(pages.where(f"doc_id % 4 = {i}"), i)
    assert sorted(p.name for p in state.iterdir() if p.is_dir()) == [
        "dup_pairs", "signatures",
    ]

    want = banded_signatures_fused(pages.where("doc_id % 4 < 2"), CFG)
    want = sorted((r.doc_id, bytes(r.sh), tuple(r.bands)) for r in want.collect())
    assert len(want) == 500
    for _ in range(2):
        got = dedup._read_store(dedup.sig_store).collect()
        assert sorted((r.doc_id, bytes(r.sh), tuple(r.bands)) for r in got) == want
        dedup.compact_stores()


def test_resume_rejects_foreign_state_dir(spark, pages_1k, tmp_path):
    """A deduper resumes only over stores its own band format wrote: stores
    without the _band_format marker (as every older engine left them),
    stores of the three-store layout and stores marked with another
    minhash_seed raise instead of silently missing cross-batch pairs; a
    same-config resume keeps stream == batch."""
    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    state = str(tmp_path / "state")
    IncrementalDeduper(spark, CFG, state).process_batch(pages.where("doc_id % 2 = 0"), 0)
    marker = tmp_path / "state" / "_band_format"
    line = marker.read_text()

    marker.unlink()
    with pytest.raises(ValueError, match="re-ingest") as e:
        IncrementalDeduper(spark, CFG, state)
    assert state in str(e.value)

    # the three-store layout: its marker line had no layout token, and its
    # bands sat in a bands/ store that this layout would never read
    marker.write_text(line.replace(" layout=sig_bands", ""))
    (tmp_path / "state" / "bands").mkdir()
    with pytest.raises(ValueError, match="re-ingest"):
        IncrementalDeduper(spark, CFG, state)
    (tmp_path / "state" / "bands").rmdir()

    marker.write_text(line)
    with pytest.raises(ValueError, match="minhash_seed=42"):
        IncrementalDeduper(spark, DedupConfig(minhash_seed=7), state)
    assert marker.read_text() == line  # a refused resume leaves the marker

    dedup = IncrementalDeduper(spark, CFG, state)
    dedup.process_batch(pages.where("doc_id % 2 = 1"), 1)
    assert {(r.a, r.b) for r in dedup.dup_pairs().collect()} == {
        (r.a, r.b) for r in minhash_dup_pairs(pages, CFG).collect()
    }


def test_stream_and_pipeline_band_like_batch(spark, pages_1k, tmp_path):
    """The stream's stored bands and the pipeline's candidates come from the
    batch kernel's bands (banded_signatures_fused -> explode_fused_bands),
    not from a second band-hash family."""
    from neural_locality_sensitive_hashing_spark.operators.candidates import (
        candidate_pairs,
    )
    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        banded_signatures_fused,
        explode_fused_bands,
    )
    from neural_locality_sensitive_hashing_spark.plans.pipeline import DedupPipeline
    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path).where("doc_id % 2 = 0")
    bands = explode_fused_bands(banded_signatures_fused(pages, CFG))

    dedup = IncrementalDeduper(spark, CFG, str(tmp_path / "state"))
    dedup.process_batch(pages, 0)
    stored = explode_fused_bands(dedup._read_store(dedup.sig_store)).select(
        "band", "bucket", "doc_id"
    )
    want = bands.select("band", "bucket", "doc_id")
    assert sorted(map(tuple, stored.collect())) == sorted(map(tuple, want.collect()))

    pipe = DedupPipeline(spark, CFG, str(tmp_path / "ckpt"), input_token="even")
    pipe.run(pages)
    got = {tuple(r) for r in pipe.catalog.read_snapshot("cand_pairs").collect()}
    assert got == {tuple(r) for r in candidate_pairs(bands, CFG).collect()}
    assert got


def test_compact_every_auto_trigger(spark, pages_1k, tmp_path):
    """compact_every=2 compacts after batches 1 and 3 (0-indexed ids 1, 3):
    the batches between append at most one file per batch partition, and
    after batch 3 every store holds ceil(bytes ÷ maxPartitionBytes) files
    — one here, each store being far below maxPartitionBytes."""
    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    dedup = IncrementalDeduper(
        spark, CFG, str(tmp_path / "state"), compact_every=2
    )
    stores = (dedup.sig_store, dedup.pair_store)
    for i in range(4):
        before = {s: len(_data_files(s)) for s in stores}
        dedup.process_batch(pages.where(f"doc_id % 4 = {i}"), i)
        if i % 2 == 0:
            for s in stores:
                assert len(_data_files(s)) - before[s] <= _shuffle_parts(spark), s

    for s in stores:
        assert _compacted_file_count(spark, s) == len(_data_files(s)) == 1, s

    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        minhash_dup_pairs as _mdp,
    )

    streamed = {(r.a, r.b) for r in dedup.dup_pairs().collect()}
    batch = {(r.a, r.b) for r in _mdp(pages, CFG).collect()}
    assert streamed == batch


def test_small_batch_appends_one_signature_file(spark, pages_1k, tmp_path):
    """A ~170-doc batch in one scan split is under ``fan_out``'s byte
    floor: it signs in one task and appends one signature file, also when
    it probes a store."""
    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    pages = spark.read.parquet(pages_1k[0])
    dedup = IncrementalDeduper(spark, CFG, str(tmp_path / "state"))
    for i in range(2):
        before = len(_data_files(dedup.sig_store))
        dedup.process_batch(pages.where(f"doc_id % 6 = {i}"), i)
        assert len(_data_files(dedup.sig_store)) - before == 1, i


def test_dup_pairs_readable_when_early_batches_verify_nothing(spark, tmp_path):
    """A batch that verifies ZERO dup pairs appends an empty frame to a
    fresh pair store, leaving a _SUCCESS-only directory; the store readers
    must treat that as an empty store (and later batches must append into
    it normally) instead of failing with unable-to-infer-schema."""
    from pyspark.sql import functions as F

    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    vocab = [f"tok{i:03d}" for i in range(400)]
    uniq = [
        (i, " ".join(vocab[(i * 17 + j * 13) % 400] for j in range(40)))
        for i in range(20)
    ]
    dup_a = (100, " ".join(vocab[:60]))
    dup_b = (101, " ".join(vocab[:60]))
    docs = spark.createDataFrame(uniq + [dup_a, dup_b], "doc_id long, text string")

    dedup = IncrementalDeduper(spark, CFG, str(tmp_path / "state"))
    # batch 0: unique docs only -> zero verified pairs -> empty pair store
    dedup.process_batch(docs.where(F.col("doc_id") < 100), 0)
    assert dedup._read_store(dedup.pair_store) is None  # empty, not broken
    # batch 1: the dup pair arrives; store append + read must both work
    dedup.process_batch(docs.where(F.col("doc_id") >= 100), 1)
    got = {(r.a, r.b) for r in dedup.dup_pairs().collect()}
    assert got == {(100, 101)}


def _rdd_storage(spark) -> set[int]:
    """Ids of the RDDs holding blocks: persisted frames AND local
    checkpoints, which the cache manager never sees."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_failed_batch_releases_its_caches(spark, tmp_path, monkeypatch):
    """A batch that raises after materializing its signatures, candidates
    and gathered set table releases all three, so a caller that survives
    the failure and carries on does not accumulate stored blocks."""
    from neural_locality_sensitive_hashing_spark.streaming import incremental

    def broken_verify(*args, **kwargs):
        raise RuntimeError("verify failed")

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{(i + j) % 50}" for j in range(30))) for i in range(20)],
        "doc_id long, text string",
    )
    dedup = incremental.IncrementalDeduper(spark, CFG, str(tmp_path / "state"))
    spark.catalog.clearCache()
    dedup.process_batch(docs.where("doc_id < 10"), 0)  # the next batch probes a store
    before = _rdd_storage(spark)
    monkeypatch.setattr(incremental, "jaccard_verify", broken_verify)
    with pytest.raises(RuntimeError, match="verify failed"):
        dedup.process_batch(docs.where("doc_id >= 10"), 1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _rdd_storage(spark) <= before


def test_batches_release_their_intermediates(spark, pages_1k, tmp_path):
    """The success-path twin: after each of 3 batches neither the cache
    manager nor the block manager holds anything the batch made."""
    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    dedup = IncrementalDeduper(spark, CFG, str(tmp_path / "state"))
    spark.catalog.clearCache()
    before = _rdd_storage(spark)
    for i in range(3):
        dedup.process_batch(pages.where(f"doc_id % 6 = {i}"), i)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), i
        assert _rdd_storage(spark) <= before, i
    assert dedup._read_store(dedup.pair_store) is not None


# Spark jobs of a store-probing micro-batch of ~170 docs in one scan
# partition, under fan_out's byte floor: sign 1 (the kernel + checkpoint),
# candidates 3 (the (band, bucket) exchange over new ∪ stored bands, the
# dropDuplicates exchange, the checkpoint), gather 3 (the distinct id
# exchange, its broadcast, the checkpoint), verify 3 (two set-table
# broadcasts, the verify + pair append), the signature append 1.
STREAM_BATCH_JOBS = 11


@pytest.mark.parametrize("budget", [STREAM_BATCH_JOBS])
def test_stream_batch_job_budget(spark, pages_1k, tmp_path, budget):
    """Every per-batch intermediate is computed once: a batch that probes
    the stores runs at most ``budget`` jobs (a rebuilt cache or a second
    candidate pass shows up here as extra jobs)."""
    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    dedup = IncrementalDeduper(spark, CFG, str(tmp_path / "state"))
    sc = spark.sparkContext
    group = f"job-budget-{tmp_path.name}"
    for i in range(3):
        if i == 2:
            sc.setJobGroup(group, "third batch")
        try:
            dedup.process_batch(pages.where(f"doc_id % 6 = {i}"), i)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= budget, f"{len(jobs)} jobs > budget {budget}"
