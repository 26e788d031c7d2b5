"""Exact verification of candidate pairs — the reference's "true distance"
pass (``nlsh/indexer.py:84-91``: gather candidates, exact distance, top-k)
re-expressed as a gather of the shingle sets + an exact Jaccard kernel.

Every candidate pair is checked against the exact set Jaccard
(``sorted_set_jaccard``), in one of two physical shapes with identical
values: ``jaccard_verify`` gathers both sets per pair through two joins
into an Arrow-batched numpy UDF (``make_jaccard_udf``), and
``jaccard_verify_bcast`` looks them up in a broadcast set table inside one
``mapInArrow``; ``dedup.verify_pairs`` picks between them. The UDF
replaced the native ``array_intersect`` / ``array_union`` expressions
after measurement showed the JVM implementations allocate a hash set +
two result arrays per row, stalling the shared local heap at high thread
counts (see the UDF docstring for numbers). Both take (a, b) candidates
and a (doc_id, sh) set table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from neural_locality_sensitive_hashing_spark.config import DedupConfig


def sorted_set_jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two ascending, duplicate-free hash arrays: a
    ``searchsorted`` probe of the smaller set into the larger (O(m log n),
    no per-pair sort), then ``inter / union`` (0.0 for two empty sets).
    The one per-pair kernel of both verify flavours. Being a module-level
    engine function, it also makes every Python worker that runs a verify
    kernel import the engine package (and so ``zipcache.install()``)."""
    if a.size > b.size:
        a, b = b, a
    idx = np.searchsorted(b, a)
    valid = idx < b.size
    inter = int(np.count_nonzero(b[idx[valid]] == a[valid]))
    union = a.size + b.size - inter
    return inter / union if union else 0.0


def make_jaccard_udf(shingle_hash_bytes: int = 8):
    """Exact set Jaccard of two binary shingle-set columns (elements unique).

    numpy merge-intersection per pair; chosen over native
    `array_intersect`/`array_union` because the JVM implementations
    allocate a hash set + two result arrays per row — at 32 local threads
    that allocation rate stalls the shared heap (measured 9.5s at
    local[8] -> 37.5s at local[32] for the same verify stage; the Arrow
    kernel removes the regression). The sets decode at the configured
    element width — as the UNSIGNED view (8 = uint64 LE, 4 = uint32 LE),
    under which the fused kernel's np.unique output is sorted ascending,
    so the per-pair intersection is ``sorted_set_jaccard``'s probe of the
    smaller set into the larger (np.intersect1d re-sorts the concatenation
    per pair, ~2.5x more kernel CPU on the bench corpus). Set SIZES are
    representation-independent, so the jaccard value is bit-identical to
    the int64-view implementation.

    Returned marked non-deterministic: every caller filters on the UDF's
    output column, and a deterministic python UDF under a pushed filter
    is evaluated TWICE by the optimizer (once below the filter, once in
    the output projection — guide §4.4's duplicated-BatchEvalPython
    shape, confirmed in plans/r10/minhash_dedup_pairs_before.txt). The
    kernel is a pure function; the marking only pins a single evaluation.
    """
    dt = "<u8" if shingle_hash_bytes == 8 else "<u4"

    @pandas_udf(DoubleType())
    def jaccard(sa: pd.Series, sb: pd.Series) -> pd.Series:
        out = np.zeros(len(sa), dtype=np.float64)
        for i in range(len(sa)):
            a = sa.iloc[i]
            b = sb.iloc[i]
            if a is not None and b is not None:
                out[i] = sorted_set_jaccard(np.frombuffer(a, dtype=dt), np.frombuffer(b, dtype=dt))
        return pd.Series(out)

    return jaccard.asNondeterministic()


def jaccard_verify(
    pairs: DataFrame, shingle_sets: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """(a, b) candidates × (doc_id, sh) -> (a, b, jaccard) with jaccard >= τ.

    The gather-join (SURVEY.md J3): two hash joins back to the narrow
    (doc_id, shingle-set) projection — never to the wide pages table, so
    `html`/`text` are pruned out of the shuffle.
    """
    judf = make_jaccard_udf(cfg.shingle_hash_bytes)
    sets_a = shingle_sets.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    sets_b = shingle_sets.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(sets_a, "a")
        .join(sets_b, "b")
        .select("a", "b", judf(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .where(F.col("jaccard") >= cfg.jaccard_threshold)
    )


def sorted_positions(ids: np.ndarray, query: np.ndarray, table: str) -> np.ndarray:
    """Row positions of ``query`` ids in the sorted id array ``ids`` of a
    broadcast lookup table. A bare ``np.searchsorted`` on an absent id
    returns the NEXT id's row (a silent wrong lookup) or one past the end;
    this raises a KeyError naming the first absent id instead."""
    pos = np.searchsorted(ids, query)
    found = pos < len(ids)
    found[found] = ids[pos[found]] == query[found]
    if not found.all():
        raise KeyError(
            f"pair names id {int(query[~found][0])}, absent from the broadcast "
            f"{table} table"
        )
    return pos


def jaccard_verify_bcast(
    pairs: DataFrame, shingle_sets: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Gated broadcast flavor of ``jaccard_verify`` (guide §3.2/§8): the
    (doc_id, sh) table is collected once, packed into (sorted ids,
    element offsets, one flat hash array) and broadcast; candidate pairs
    stream through ONE mapInArrow that looks both sets up locally — no
    per-pair set gather joins, candidate rows stay 16 B. Both flavours run
    ``sorted_set_jaccard`` on the same sorted unsigned views, so jaccard
    values and the `>= tau` cut are identical. The caller gates on doc
    count and set bytes (``dedup.verify_pairs``): the whole set table is
    collected on the driver and held by every Python worker."""
    dt = "<u8" if cfg.shingle_hash_bytes == 8 else "<u4"
    item = cfg.shingle_hash_bytes
    spark = shingle_sets.sparkSession
    pdf = shingle_sets.select("doc_id", "sh").toPandas()
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    byte_rows = pdf["sh"].to_numpy()[order]
    lens = np.fromiter(
        ((len(b) if b is not None else 0) // item for b in byte_rows),
        dtype=np.int64,
        count=len(byte_rows),
    )
    offs = np.zeros(len(byte_rows) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    flat = np.frombuffer(
        b"".join(b for b in byte_rows if b is not None), dtype=dt
    )
    b_ids = spark.sparkContext.broadcast(ids)
    b_offs = spark.sparkContext.broadcast(offs)
    b_flat = spark.sparkContext.broadcast(flat)
    tau = cfg.jaccard_threshold

    def gen(it):
        import pyarrow as pa  # local import: executors only

        ids_ = b_ids.value
        offs_ = b_offs.value
        flat_ = b_flat.value
        for batch in it:
            a_ids = batch.column("a").to_numpy(zero_copy_only=False)
            b_ids_ = batch.column("b").to_numpy(zero_copy_only=False)
            ia = sorted_positions(ids_, a_ids, "shingle-set")
            ib = sorted_positions(ids_, b_ids_, "shingle-set")
            out = np.zeros(len(a_ids), dtype=np.float64)
            for i in range(len(a_ids)):
                out[i] = sorted_set_jaccard(
                    flat_[offs_[ia[i]] : offs_[ia[i] + 1]],
                    flat_[offs_[ib[i]] : offs_[ib[i] + 1]],
                )
            keep = out >= tau
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(a_ids[keep], type=pa.int64()),
                    pa.array(b_ids_[keep], type=pa.int64()),
                    pa.array(out[keep], type=pa.float64()),
                ],
                names=["a", "b", "jaccard"],
            )

    # explicit repartition: the candidate stream is ~16 B/row, so AQE
    # coalesces the upstream exchange to 1-2 partitions and the Python
    # kernel would run serially; pinning the partition count to the
    # session's shuffle parallelism keeps the per-pair loop fanned out
    # (hash keys, deterministic under retry — guide §2.5). The extra
    # exchange moves only the narrow pair ids.
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        pairs.select("a", "b")
        .repartition(nparts, "a", "b")
        .mapInArrow(gen, "a long, b long, jaccard double")
    )
