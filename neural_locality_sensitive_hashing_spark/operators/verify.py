"""Exact verification of candidate pairs — the reference's "true distance"
pass (``nlsh/indexer.py:84-91``: gather candidates, exact distance, top-k)
re-expressed as a gather-join back to the shingle sets + a Jaccard kernel.

The Jaccard itself runs as an Arrow-batched numpy merge-intersection
(``_jaccard_udf``): it replaced the native ``array_intersect`` /
``array_union`` expressions after measurement showed the JVM
implementations allocate a hash set + two result arrays per row, stalling
the shared local heap at high thread counts (see the UDF docstring for
numbers). The native expressions remain available through
``functions.text``/SQL for composability; SimHash verification stays fully
native (``bit_count(a ^ b)``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, IntegerType

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.functions.simhash import hamming_distance


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
    """Exact set Jaccard of two shingle-set columns (elements unique).

    numpy merge-intersection per pair; chosen over native
    `array_intersect`/`array_union` because the JVM implementations
    allocate a hash set + two result arrays per row — at 32 local threads
    that allocation rate stalls the shared heap (measured 9.5s at
    local[8] -> 37.5s at local[32] for the same verify stage; the Arrow
    kernel removes the regression). Binary inputs decode at the configured
    element width — as the UNSIGNED view (8 = uint64 LE, 4 = uint32 LE),
    under which the fused kernel's np.unique output is sorted ascending,
    so the per-pair intersection is ``sorted_set_jaccard``'s probe of the
    smaller set into the larger (np.intersect1d re-sorts the concatenation
    per pair, ~2.5x more kernel CPU on the bench corpus). Set SIZES are
    representation-independent, so the jaccard value is bit-identical to
    the int64-view implementation.
    array<long> inputs (the non-fused path) are not sorted and keep the
    intersect1d path.

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
            if a is None or b is None:
                continue
            if isinstance(a, (bytes, bytearray)) and isinstance(b, (bytes, bytearray)):
                out[i] = sorted_set_jaccard(np.frombuffer(a, dtype=dt), np.frombuffer(b, dtype=dt))
                continue
            a = np.frombuffer(a, dtype=dt) if isinstance(a, (bytes, bytearray)) else np.asarray(a, dtype=np.int64)
            b = np.frombuffer(b, dtype=dt) if isinstance(b, (bytes, bytearray)) else np.asarray(b, dtype=np.int64)
            inter = np.intersect1d(a, b, assume_unique=True).size
            union = a.size + b.size - inter
            out[i] = inter / union if union else 0.0
        return pd.Series(out)

    return jaccard.asNondeterministic()


_jaccard_udf = make_jaccard_udf(8)


@pandas_udf(IntegerType())
def _sig_matches_udf(pa_: pd.Series, pb_: pd.Series) -> pd.Series:
    """Matching-slot count of two equal-length uint32 signature prefixes
    (binary, 4 B/slot). est-Jaccard = matches / P."""
    out = np.zeros(len(pa_), dtype=np.int32)
    for i in range(len(pa_)):
        a = pa_.iloc[i]
        b = pb_.iloc[i]
        if a is None or b is None:
            continue
        out[i] = int(
            (np.frombuffer(a, dtype="<u4") == np.frombuffer(b, dtype="<u4")).sum()
        )
    return pd.Series(out)


# screened verify filters twice on the matches column (reject + accept
# tiers) — the same §4.4 duplicated-eval hazard as the jaccard kernel
_sig_matches_udf = _sig_matches_udf.asNondeterministic()


def screen_counts(cfg: DedupConfig) -> tuple[int, int]:
    """(reject_below, accept_at_or_above) matching-slot thresholds for the
    two-tier screen. sigma = sqrt(tau(1-tau)/P); a pair at exactly J = tau
    is missed with P(Binom(P, tau) < reject_below) ~ Phi(-reject_sigmas)
    (~1e-3 at 3 sigma), and a pair is accepted without exact verification
    only when its estimate clears tau + accept_sigmas*sigma (false-accept
    at J = tau - sigma is ~Phi(-(reject+accept) sigmas))."""
    tau = cfg.jaccard_threshold
    p = cfg.screen_perms
    sigma = (tau * (1.0 - tau) / p) ** 0.5
    reject_below = int(np.ceil((tau - cfg.screen_reject_sigmas * sigma) * p))
    accept_at = int(np.ceil((tau + cfg.screen_accept_sigmas * sigma) * p))
    return max(reject_below, 0), min(accept_at, p)


def jaccard_verify(
    pairs: DataFrame,
    shingle_sets: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    set_col: str = "sh",
) -> DataFrame:
    """(a, b) candidates × (doc_id, sh) -> (a, b, jaccard) with jaccard >= τ.

    The gather-join (SURVEY.md J3): two hash joins back to the narrow
    (doc_id, shingle-set) projection — never to the wide pages table, so
    `html`/`text` are pruned out of the shuffle.
    """
    judf = make_jaccard_udf(cfg.shingle_hash_bytes)
    sets_a = shingle_sets.select(F.col(id_col).alias("a"), F.col(set_col).alias("sh_a"))
    sets_b = shingle_sets.select(F.col(id_col).alias("b"), F.col(set_col).alias("sh_b"))
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
    pairs: DataFrame,
    shingle_sets: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    set_col: str = "sh",
) -> DataFrame:
    """Gated broadcast flavor of ``jaccard_verify`` (guide §3.2/§8): the
    (doc_id, sh) table is collected once, packed into (sorted ids,
    element offsets, one flat hash array) and broadcast; candidate pairs
    stream through ONE mapInArrow that looks both sets up locally — no
    per-pair set gather joins, candidate rows stay 16 B. Both flavours run
    ``sorted_set_jaccard`` on the same sorted unsigned views, so jaccard
    values and the `>= tau` cut are identical. Caller gates on
    corpus size (``cfg.verify_broadcast_max_docs``)."""
    dt = "<u8" if cfg.shingle_hash_bytes == 8 else "<u4"
    item = cfg.shingle_hash_bytes
    spark = shingle_sets.sparkSession
    pdf = shingle_sets.select(
        F.col(id_col).alias("doc_id"), F.col(set_col).alias("sh")
    ).toPandas()
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


def jaccard_verify_screened(
    pairs: DataFrame,
    sigs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
) -> DataFrame:
    """Two-tier verify: MinHash-prefix screen, exact Jaccard only for the
    uncertainty band -> (a, b, jaccard).

    The 100 TB bytes-cut for the pipeline's dominant data mover: the
    full shingle sets (KBs/doc, growing with document length) are gathered
    only for pairs whose ``screen_perms``-slot estimate lands between the
    reject and accept thresholds (``screen_counts``); clear rejects ship
    256 B of prefix and stop, clear accepts report est-Jaccard
    (matches/P, rounded to 1e-6) instead of the exact value. Deterministic
    — a pure function of the signatures — so results stay bit-identical
    across parallelism; NOT bit-equal to the exact path at the margins
    (miss ~1e-3 at J == tau, inside the >=0.99 recall budget; measured in
    tests/test_screen.py).

    ``sigs`` must carry (doc_id, sh, sigp), as ``banded_signatures_fused``
    emits them under ``cfg.verify_screen``.
    """
    reject_below, accept_at = screen_counts(cfg)
    p = cfg.screen_perms
    pa = sigs.select(F.col(id_col).alias("a"), F.col("sigp").alias("sigp_a"))
    pb = sigs.select(F.col(id_col).alias("b"), F.col("sigp").alias("sigp_b"))
    # persisted: both tiers consume it, and without the cache each branch
    # would re-run the upstream candidate exchange (same lifecycle contract
    # as minhash_dup_pairs' sigs cache — bench/callers clearCache between
    # runs); the cached (a, b, m) rows are ~20 B each
    screened = (
        pairs.join(pa, "a")
        .join(pb, "b")
        .select("a", "b", _sig_matches_udf(F.col("sigp_a"), F.col("sigp_b")).alias("m"))
        .where(F.col("m") >= reject_below)
        .persist()
    )
    accepted = screened.where(F.col("m") >= accept_at).select(
        "a", "b", F.round(F.col("m") / F.lit(float(p)), 6).alias("jaccard")
    )
    middle = screened.where(F.col("m") < accept_at).select("a", "b")
    exact = jaccard_verify(middle, sigs.select(id_col, "sh"), cfg, id_col=id_col)
    return accepted.unionByName(exact)


def simhash_verify(
    pairs: DataFrame,
    codes: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    code_col: str = "simhash",
) -> DataFrame:
    """(a, b) × (doc_id, simhash) -> pairs within the Hamming ball."""
    ca = codes.select(F.col(id_col).alias("a"), F.col(code_col).alias("code_a"))
    cb = codes.select(F.col(id_col).alias("b"), F.col(code_col).alias("code_b"))
    return (
        pairs.join(ca, "a")
        .join(cb, "b")
        .select("a", "b", hamming_distance(F.col("code_a"), F.col("code_b")).alias("hamming"))
        .where(F.col("hamming") <= cfg.simhash_hamming_max)
    )
