"""Verify strategies: 4-byte shingle equivalence, broadcast verify ==
join verify, and the broadcast gate of dedup.verify_pairs."""

from __future__ import annotations

import pytest

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.operators.dedup import minhash_dup_pairs


def _pair_set(df):
    return {(r["a"], r["b"]) for r in df.select("a", "b").collect()}


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    from neural_locality_sensitive_hashing_spark.datagen import write_pages_dataset

    out = tmp_path_factory.mktemp("webtext_screen")
    pages_path, _ = write_pages_dataset(str(out), 4000, seed=7)
    return spark.read.parquet(pages_path)


def test_shingle32_pairs_equal(spark, pages):
    """Truncating shingle hashes to 32 bits perturbs Jaccard by
    O(|A||B|/2^32) — at test scale the verified pair set is identical."""
    full = _pair_set(minhash_dup_pairs(pages, DedupConfig()))
    spark.catalog.clearCache()
    narrow = _pair_set(
        minhash_dup_pairs(pages, DedupConfig(shingle_hash_bytes=4))
    )
    spark.catalog.clearCache()
    assert full == narrow


def test_bcast_verify_equals_join_verify(spark, pages):
    """The r10 size-gated broadcast verify must emit the exact same
    (a, b, jaccard) rows as the join-based verify — same kernel math over
    the same sets, different physical data movement."""
    from neural_locality_sensitive_hashing_spark.operators.candidates import (
        candidate_pairs,
    )
    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        banded_signatures_fused,
        explode_fused_bands,
    )
    from neural_locality_sensitive_hashing_spark.operators.verify import (
        jaccard_verify,
        jaccard_verify_bcast,
    )

    cfg = DedupConfig(shingle_hash_bytes=4)
    sigs = banded_signatures_fused(pages, cfg).persist()
    cands = candidate_pairs(explode_fused_bands(sigs), cfg).persist()
    sets_df = sigs.select("doc_id", "sh")
    join_rows = {
        (r["a"], r["b"], r["jaccard"])
        for r in jaccard_verify(cands, sets_df, cfg).collect()
    }
    bcast_rows = {
        (r["a"], r["b"], r["jaccard"])
        for r in jaccard_verify_bcast(cands, sets_df, cfg).collect()
    }
    spark.catalog.clearCache()
    assert join_rows, "fixture must contain planted duplicates"
    assert bcast_rows == join_rows


def test_bcast_verify_rejects_absent_id(spark):
    """A candidate pair naming an id the broadcast shingle-set table lacks
    fails loudly: an id between two present ids would otherwise score
    against the next doc's set, and one past the largest would index out
    of range."""
    from neural_locality_sensitive_hashing_spark.operators.verify import (
        jaccard_verify_bcast,
    )

    cfg = DedupConfig(shingle_hash_bytes=4)
    sh = bytes(range(16))
    sets_df = spark.createDataFrame([(1, sh), (3, sh)], "doc_id long, sh binary")
    ok = jaccard_verify_bcast(spark.createDataFrame([(1, 3)], "a long, b long"), sets_df, cfg)
    assert [(r.a, r.b, r.jaccard) for r in ok.collect()] == [(1, 3, 1.0)]
    for absent in ((1, 2), (3, 9)):
        pairs = spark.createDataFrame([absent], "a long, b long")
        with pytest.raises(Exception, match=f"id {absent[1]}, absent"):
            jaccard_verify_bcast(pairs, sets_df, cfg).collect()


def record(monkeypatch, *names):
    """Wrap each named verify function in operators/dedup.py; returns the
    list the wrappers append their names to, in call order."""
    from neural_locality_sensitive_hashing_spark.operators import dedup as D

    taken = []
    for name in names:
        def wrapper(*args, _name=name, _fn=getattr(D, name), **kwargs):
            taken.append(_name)
            return _fn(*args, **kwargs)

        monkeypatch.setattr(D, name, wrapper)
    return taken


def test_bcast_gate_falls_back_on_shingle_bytes(spark, pages, monkeypatch):
    """minhash_dup_pairs broadcasts the shingle sets only while their bytes
    stay within _BCAST_MAX_SH_BYTES; above it the join-based verify runs,
    with the identical (a, b, jaccard) rows."""
    from neural_locality_sensitive_hashing_spark.operators import dedup as D

    taken = record(monkeypatch, "jaccard_verify", "jaccard_verify_bcast")
    cfg = DedupConfig(verify_broadcast_min_docs=0)

    def rows():
        out = {(r.a, r.b, r.jaccard) for r in D.minhash_dup_pairs(pages, cfg).collect()}
        spark.catalog.clearCache()
        return out

    bcast = rows()
    monkeypatch.setattr(D, "_BCAST_MAX_SH_BYTES", 1024)
    joined = rows()
    assert taken == ["jaccard_verify_bcast", "jaccard_verify"]
    assert bcast and joined == bcast


def test_pipeline_takes_batch_verify_gate(spark, pages, monkeypatch, tmp_path):
    """DedupPipeline's dup_pairs stage verifies through the batch policy
    (dedup.verify_pairs): the same broadcast gate with the same shingle-
    byte fallback, and identical dup_pairs snapshot rows either way."""
    from neural_locality_sensitive_hashing_spark.operators import dedup as D
    from neural_locality_sensitive_hashing_spark.plans.pipeline import DedupPipeline

    taken = record(monkeypatch, "jaccard_verify", "jaccard_verify_bcast")
    cfg = DedupConfig(verify_broadcast_min_docs=0)

    def rows(name):
        # a fresh checkpoint dir per run: the byte ceiling is not part of
        # the stage fingerprints, so a shared dir would resume dup_pairs
        pipe = DedupPipeline(spark, cfg, str(tmp_path / name), input_token="pages")
        pipe.run(pages)
        return sorted(tuple(r) for r in pipe.catalog.read_snapshot("dup_pairs").collect())

    bcast = rows("bcast")
    monkeypatch.setattr(D, "_BCAST_MAX_SH_BYTES", 1024)
    joined = rows("join")
    assert taken == ["jaccard_verify_bcast", "jaccard_verify"]
    assert bcast and joined == bcast
