"""Vector similarity search over an embedding column (cosine AND L2).

This is the reference's actual query path (hash query → probe buckets →
exact distance → top-k, ``nlsh/indexer.py:56-96``) in DataFrame form:

- ``knn_bruteforce`` / ``knn_bruteforce_l2``: the exact baselines
  (reference's ``precompute.py:57-67`` ground-truth pattern) — crossJoin +
  native distance + ranking window. Small/test scale only; at 100 TB the
  LSH paths below replace them. L2 serves the reference's SIFT-euclidean
  datasets (``nlsh/data.py:112-201``); cosine serves GloVe-angular.
- ``hyperplane_codes`` + ``ann_lsh``: signed-random-projection LSH — the
  reference's learned encoder (``nlsh/hashings.py:66-92``) degenerates to
  random hyperplanes when untrained; banding the code bits gives the same
  multi-probe recall knob (``eval.py:148-196``) as a (bands × bits) split.
  Queries may probe ``n_probes`` codes per band (flip the lowest-|margin|
  bits — the deterministic analogue of the reference's Bernoulli probe
  sampling, ``nlsh/hashings.py:77-83``).
- ``ann_lsh_l2``: E2LSH (p-stable) bucketing — bucket = floor((x·v + b)/w)
  per projection, r projections concatenated per band — for Euclidean
  neighbors.
- ``embedding_dup_pairs``: embedding-cosine near-duplicate PAIRS (the J2
  self-join flavor): LSH-bucketed candidates + exact-cosine verify by
  default; an explicitly size-gated broadcast-matmul fast path for small
  dimension tables. Both gate on the table's bytes
  (``_BCAST_MAX_BYTES``), never on its row count, and collect through
  Arrow; past the gate the LSH plan has no driver collect.

Shuffle discipline: band explodes carry (id, band, bucket) ONLY — vectors
are gathered back by a join AFTER candidate pairs are deduped (the J3
gather pattern), so the wide embedding column never rides the band
explosion. Distance re-rank math runs in a vectorized Arrow kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType

from neural_locality_sensitive_hashing_spark.operators.verify import sorted_positions


def dot(a: Column, b: Column) -> Column:
    """Native dot product of two array<double> columns (no Python)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def l2_distance(a: Column, b: Column) -> Column:
    """Native Euclidean distance ‖a − b‖₂ (K9 — reference
    ``nlsh/data.py:176-201``; serves non-normalized vector corpora)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


@pandas_udf(DoubleType())
def _cosine_udf(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Vectorized exact cosine for the pair re-rank (Arrow batch: one
    row-wise multiply-sum over two stacked matrices)."""
    va_np = va.to_numpy()
    vb_np = vb.to_numpy()
    out = np.full(len(va_np), np.nan)
    ok = [i for i in range(len(va_np)) if va_np[i] is not None and vb_np[i] is not None]
    if ok:
        a = np.stack([np.asarray(va_np[i], dtype=np.float64) for i in ok])
        b = np.stack([np.asarray(vb_np[i], dtype=np.float64) for i in ok])
        num = (a * b).sum(axis=1)
        den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        out[ok] = num / np.maximum(den, 1e-300)
    return pd.Series(out)


def _list_col_matrix(col) -> np.ndarray:
    """pyarrow list<float/double> column (no nulls, uniform length) ->
    (n, d) float64 matrix with ZERO per-row Python: one buffer view +
    reshape. The Arrow list layout is a contiguous values buffer plus an
    offsets array (guide §4.2), so a fixed-dim embedding column converts
    without materializing n row objects."""
    import pyarrow as pa  # local import: executors only

    if pa.types.is_fixed_size_list(col.type):
        n = len(col)
        d = col.type.list_size
        flat = col.values.to_numpy(zero_copy_only=False)
        return flat.reshape(n, d).astype(np.float64, copy=False)
    offs = col.offsets.to_numpy(zero_copy_only=False)
    widths = np.diff(offs)
    if len(widths) == 0 or not (widths == widths[0]).all():
        # ragged fallback (never hit for a real embedding table)
        return np.stack(
            [np.asarray(v, dtype=np.float64) for v in col.to_pylist()]
        )
    flat = col.values.to_numpy(zero_copy_only=False)[offs[0] : offs[-1]]
    return flat.reshape(len(widths), int(widths[0])).astype(np.float64, copy=False)


def _pair_cosine_arrow(it):
    """mapInArrow kernel: (a, b, va, vb) batches -> (a, b, cosine_raw).
    Same float64 arithmetic as _cosine_udf (row-wise multiply-sum /
    product of norms), so the downstream round(...,6) sees bit-identical
    doubles; the matrix build is offset-arithmetic instead of a per-row
    stack loop."""
    import pyarrow as pa  # local import: executors only

    for batch in it:
        va = batch.column("va")
        vb = batch.column("vb")
        if va.null_count or vb.null_count:
            # null vectors: NaN cosine (dropped by any threshold filter),
            # mirroring _cosine_udf's ok-mask — not hit by the dup-pairs
            # path (embeddings tables are dense)
            cos = np.full(len(va), np.nan)
            ok = [
                i
                for i in range(len(va))
                if va[i].is_valid and vb[i].is_valid
            ]
            if ok:
                a = np.stack([np.asarray(va[i].as_py(), dtype=np.float64) for i in ok])
                b = np.stack([np.asarray(vb[i].as_py(), dtype=np.float64) for i in ok])
                num = (a * b).sum(axis=1)
                den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
                cos[ok] = num / np.maximum(den, 1e-300)
        else:
            a = _list_col_matrix(va)
            b = _list_col_matrix(vb)
            num = (a * b).sum(axis=1)
            den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            cos = num / np.maximum(den, 1e-300)
        yield pa.RecordBatch.from_arrays(
            [batch.column("a"), batch.column("b"), pa.array(cos, type=pa.float64())],
            names=["a", "b", "cosine_raw"],
        )


def _rank_topk(sim: DataFrame, k: int, order: Column) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return sim.select("*", F.row_number().over(w).alias("rank")).where(F.col("rank") <= k)


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors -> (query_id, neighbor_id, cosine, rank).

    Self-matches excluded. The query side should be small (it is broadcast);
    ties broken deterministically by neighbor_id.
    """
    # r10: per-side norms are hoisted OUT of the per-pair expression —
    # dot(q, c) / (‖q‖ ‖c‖) per pair re-derived both norms for every one
    # of the n_queries×n_corpus pairs (two extra interpreted array
    # aggregates per pair); computing each norm once per row and
    # multiplying the scalars in the pair context is the same float64
    # product, so round(...,6) is bit-identical.
    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv")))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv")))
    sim = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cosine"),
        )
    )
    return _rank_topk(sim, k, F.desc("cosine"))


def knn_bruteforce_l2(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact top-k EUCLIDEAN neighbors -> (query_id, neighbor_id, dist, rank).
    The reference's SIFT-euclidean ground-truth path (K9)."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("qv")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("cv")
    )
    sim = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(l2_distance(F.col("qv"), F.col("cv")), 6).alias("dist"),
        )
    )
    return _rank_topk(sim, k, F.asc("dist"))


# ---------------------------------------------------------------------------
# Hyperplane (cosine) LSH
# ---------------------------------------------------------------------------


def hyperplane_params(dim: int, num_bands: int, bits_per_band: int, seed: int) -> np.ndarray:
    """(num_bands*bits_per_band, dim) Gaussian hyperplanes, deterministic."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_bands * bits_per_band, dim))


def make_hyperplane_udf(
    planes: np.ndarray, num_bands: int, bits_per_band: int, n_probes: int = 1
):
    """pandas_udf: array<float> embedding -> array<bigint> band bucket codes.

    Batch kernel: one (batch, dim) x (dim, nbits) matmul, sign, MSB-first
    bit-pack per band (the reference's bit-pack semantics,
    ``nlsh/utils.pyx:7-15``), then mix the band index in so bands don't
    collide with each other. With ``n_probes`` > 1, each band also emits
    codes with its 1..n_probes-1 lowest-|projection| bits flipped one at a
    time — the deterministic counterpart of the reference's sampled probes
    (``nlsh/hashings.py:77-83``): low |margin| = least-confident sign.
    Output length is num_bands * n_probes; band index = position // n_probes.
    """
    if n_probes > (1 << bits_per_band):
        raise ValueError(
            f"n_probes={n_probes} exceeds 2^bits_per_band={1 << bits_per_band}: "
            "a band of b bits only has 2^b distinct codes to probe"
        )
    p = planes.T.copy()  # (dim, nbits)
    weights = (1 << np.arange(bits_per_band - 1, -1, -1, dtype=np.int64))  # MSB-first

    @pandas_udf(ArrayType(LongType()))
    def codes(vecs: pd.Series) -> pd.Series:
        vecs_np = vecs.to_numpy()
        out = np.empty(len(vecs_np), dtype=object)
        ok = [i for i, v in enumerate(vecs_np) if v is not None]
        if ok:
            m = np.stack([np.asarray(vecs_np[i], dtype=np.float64) for i in ok])
            proj = m @ p  # (n, nbits)
            bits = (proj > 0).astype(np.int64)
            bands = bits.reshape(len(ok), num_bands, bits_per_band)
            packed = (bands * weights).sum(axis=2)  # (n, num_bands)
            band_mix = np.arange(num_bands, dtype=np.int64) << np.int64(32)
            base = packed + band_mix
            if n_probes <= 1:
                for j, i in enumerate(ok):
                    out[i] = base[j]
            else:
                margins = np.abs(proj).reshape(len(ok), num_bands, bits_per_band)
                # per band: bit positions sorted by ascending |margin|
                flip_order = margins.argsort(axis=2)  # (n, bands, bits)
                # probe m flips the least-confident-bit subset encoded by
                # the binary mask m (same gray-mask expansion as the
                # learned kernel) — supports n_probes up to 2^bits
                weight_of = (
                    np.int64(1) << (bits_per_band - 1 - flip_order)
                )  # (n, bands, bits): xor weight of the r-th least-confident bit
                probes = np.empty((len(ok), num_bands, n_probes), dtype=np.int64)
                probes[:, :, 0] = base
                for m in range(1, n_probes):
                    flip = np.zeros_like(base)
                    mm, j = m, 0
                    while mm:
                        if mm & 1:
                            flip = flip ^ weight_of[:, :, j]
                        mm >>= 1
                        j += 1
                    probes[:, :, m] = base ^ flip
                flat = probes.reshape(len(ok), num_bands * n_probes)
                for j, i in enumerate(ok):
                    out[i] = flat[j]
        return pd.Series(out)

    return codes


def _explode_codes(df: DataFrame, name: str, udf) -> DataFrame:
    """Narrow (id, bucket) band explosion — the vector column is NOT
    carried through the explode/shuffle (gathered back post-dedup)."""
    return df.select(
        F.col("vec_id").alias(name),
        F.explode(udf(F.col("embedding"))).alias("bucket"),
    )


def code_join_candidates(
    queries: DataFrame, corpus: DataFrame, query_udf, corpus_udf
) -> DataFrame:
    """Deduped (query_id, neighbor_id) pairs sharing a bucket: the query
    and corpus (vec_id, embedding) tables exploded to (id, bucket) by
    their code UDFs, equi-joined on bucket, self-matches dropped."""
    qc = _explode_codes(queries, "query_id", query_udf)
    cc = _explode_codes(corpus, "neighbor_id", corpus_udf)
    return (
        qc.join(cc, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def _gather_rank(
    cand: DataFrame, queries: DataFrame, corpus: DataFrame, k: int, score, name: str, order
) -> DataFrame:
    """Top-k of (query_id, neighbor_id) candidates by ``score`` (a pandas
    UDF of the two vectors): the vectors are gathered back AFTER the pair
    dedup (J3; query side broadcast) and scored in Arrow batches."""
    qv = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    cv = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    sim = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(score(F.col("qv"), F.col("cv")), 6).alias(name),
        )
    )
    return _rank_topk(sim, k, order(name))


def cosine_topk(cand: DataFrame, queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id) candidates -> exact-cosine top-k
    (query_id, neighbor_id, cosine, rank)."""
    return _gather_rank(cand, queries, corpus, k, _cosine_udf, "cosine", F.desc)


def ann_lsh_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    num_bands: int = 8,
    bits_per_band: int = 8,
    n_probes: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Deduped (query_id, neighbor_id) candidate pairs from the hyperplane
    bucket join — exposed separately so the probe sweep can measure the
    recall-vs-candidate-count curve (the reference's tuning artifact,
    ``eval.py:148-196``)."""
    planes = hyperplane_params(dim, num_bands, bits_per_band, seed)
    corpus_udf = make_hyperplane_udf(planes, num_bands, bits_per_band, n_probes=1)
    query_udf = make_hyperplane_udf(planes, num_bands, bits_per_band, n_probes=n_probes)

    # NOT fanned out (r10 A/B): the hyperplane code kernel is one cheap
    # matmul, and the repartition cost beat the parallelism gain
    # (interleaved medians 1.20 vs 0.99 s) — unlike the md5-family text
    # kernels where fan_out wins (partitioning.py)
    return code_join_candidates(queries, corpus, query_udf, corpus_udf)


def ann_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    num_bands: int = 8,
    bits_per_band: int = 8,
    n_probes: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k cosine via hyperplane-LSH bucket join.

    (id, bucket) explosions equi-join on bucket (band index is mixed into
    the bucket value) — the same J1 bucket join as the reference's index
    probe. Pairs dedup BEFORE the vectors are gathered back (J3), then a
    vectorized exact-cosine kernel re-ranks. ``n_probes`` widens the query
    probe set per band (recall knob at constant index)."""
    cand = ann_lsh_candidates(queries, corpus, dim, num_bands, bits_per_band, n_probes, seed)
    return cosine_topk(cand, queries, corpus, k)


# ---------------------------------------------------------------------------
# E2LSH (Euclidean, p-stable projections)
# ---------------------------------------------------------------------------


def e2lsh_params(
    dim: int, num_bands: int, rows_per_band: int, bucket_width: float, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """Gaussian projections + uniform offsets for floor((x·v + b)/w)."""
    rng = np.random.default_rng(seed)
    n = num_bands * rows_per_band
    v = rng.standard_normal((n, dim))
    b = rng.uniform(0.0, bucket_width, size=n)
    return v, b


def make_e2lsh_udf(
    v: np.ndarray,
    b: np.ndarray,
    num_bands: int,
    rows_per_band: int,
    bucket_width: float,
    n_probes: int = 1,
):
    """pandas_udf: embedding -> array<bigint> per-band bucket ids.

    Per band, the r quantized projections q_i = floor((x·v_i + b_i)/w) are
    combined positionally: bucket = (band << 32) + c_0·65536 + c_1 with
    c_i = q_i mod 65536 (non-negative). The mod only merges buckets 65536
    widths apart (false candidates removed by the exact re-rank); keeping
    the combine to plain integer arithmetic makes the banding replayable
    in the DuckDB oracle. rows_per_band is capped at 2 to fit the
    positional pack below the band tag.

    ``n_probes`` > 1 is the L2 multi-probe (K6 for the Euclidean path —
    Lv et al.'s multi-probe LSH, VLDB'07): per band, the full RANKED
    PERTURBATION SEQUENCE over Δ ∈ {-1,0,+1}^r \\ {0} — every combination
    of stepping each quantized coordinate one cell down, up, or not at
    all — scored by Lv et al.'s success-probability proxy
    score(Δ) = Σ_j dist_j(Δ_j)², where dist_j(-1) = frac_j (distance to
    the lower cell boundary), dist_j(+1) = 1 − frac_j, dist_j(0) = 0;
    probes are emitted in ascending score order (nearest-boundary
    single steps first, then away-steps / multi-coordinate steps as
    their probability warrants). Supports up to 3^rows_per_band probes
    per band — the L2 path's recall knob now reaches the same depth
    class as the hyperplane path's 2^b probe masks. Probe sets are
    nested in n_probes (same ranking for every depth), so recall is
    monotone in n_probes by construction."""
    if rows_per_band > 2:
        raise ValueError("e2lsh positional pack supports rows_per_band <= 2")
    if n_probes > 3**rows_per_band:
        raise ValueError(
            f"n_probes={n_probes} exceeds 3^rows_per_band={3 ** rows_per_band}: "
            "an r-coordinate cell only has 3^r - 1 distinct one-step neighbors"
        )
    vt = v.T.copy()
    # all non-identity perturbation vectors, fixed enumeration order
    # (deterministic tie-break for equal scores)
    _deltas = np.array(
        [
            d
            for d in (
                [(d0,) for d0 in (-1, 0, 1)]
                if rows_per_band == 1
                else [(d0, d1) for d0 in (-1, 0, 1) for d1 in (-1, 0, 1)]
            )
            if any(d)
        ],
        dtype=np.int64,
    )  # (P, r): P = 3^r - 1

    @pandas_udf(ArrayType(LongType()))
    def codes(vecs: pd.Series) -> pd.Series:
        vecs_np = vecs.to_numpy()
        out = np.empty(len(vecs_np), dtype=object)
        ok = [i for i, x in enumerate(vecs_np) if x is not None]
        if ok:
            m = np.stack([np.asarray(vecs_np[i], dtype=np.float64) for i in ok])
            pos = (m @ vt + b) / bucket_width  # (n, bands*r)
            q = np.floor(pos).astype(np.int64)
            n = len(ok)
            qb = q.reshape(n, num_bands, rows_per_band)
            band_tag = np.arange(num_bands, dtype=np.int64) << np.int64(32)

            def pack(cells: np.ndarray) -> np.ndarray:
                c = np.mod(cells, 65536)
                if rows_per_band == 2:
                    return band_tag + c[:, :, 0] * 65536 + c[:, :, 1]
                return band_tag + c[:, :, 0]

            probes = [pack(qb)]
            if n_probes > 1:
                frac = (pos - q).reshape(n, num_bands, rows_per_band)
                # Lv et al. score of each perturbation vector: sum over the
                # stepped coordinates of the squared distance from the query
                # to the boundary being crossed (down-step crosses the lower
                # boundary at distance frac, up-step the upper at 1 - frac)
                down = frac**2  # (n, bands, r)
                up = (1.0 - frac) ** 2
                score = (
                    (_deltas[None, None, :, :] == -1) * down[:, :, None, :]
                    + (_deltas[None, None, :, :] == 1) * up[:, :, None, :]
                ).sum(axis=3)  # (n, bands, P)
                order = score.argsort(axis=2, kind="stable")  # ranked sequence
                for p in range(n_probes - 1):
                    sel = order[:, :, p]  # (n, bands) -> delta index
                    probes.append(pack(qb + _deltas[sel]))
            flat = np.stack(probes, axis=2).reshape(n, num_bands * len(probes))
            for j, i in enumerate(ok):
                out[i] = flat[j]
        return pd.Series(out)

    return codes


@pandas_udf(DoubleType())
def _l2_udf(va: pd.Series, vb: pd.Series) -> pd.Series:
    va_np = va.to_numpy()
    vb_np = vb.to_numpy()
    out = np.full(len(va_np), np.nan)
    ok = [i for i in range(len(va_np)) if va_np[i] is not None and vb_np[i] is not None]
    if ok:
        a = np.stack([np.asarray(va_np[i], dtype=np.float64) for i in ok])
        b = np.stack([np.asarray(vb_np[i], dtype=np.float64) for i in ok])
        out[ok] = np.linalg.norm(a - b, axis=1)
    return pd.Series(out)


def ann_lsh_l2(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    num_bands: int = 16,
    rows_per_band: int = 2,
    bucket_width: float = 4.0,
    n_probes: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k Euclidean neighbors via E2LSH bucket join; exact
    L2 re-rank (vectorized kernel) after pair dedup. ``n_probes`` widens
    each query's probe set toward adjacent quantization cells (multi-probe,
    corpus hashed once) — the recall knob at constant index."""
    v, b = e2lsh_params(dim, num_bands, rows_per_band, bucket_width, seed)
    udf = make_e2lsh_udf(v, b, num_bands, rows_per_band, bucket_width)
    q_udf = make_e2lsh_udf(
        v, b, num_bands, rows_per_band, bucket_width, n_probes=n_probes
    )

    cand = code_join_candidates(queries, corpus, q_udf, udf)
    return _gather_rank(cand, queries, corpus, k, _l2_udf, "dist", F.asc)


# ---------------------------------------------------------------------------
# Embedding near-duplicate pairs (J2 self-join flavor)
# ---------------------------------------------------------------------------


def derive_banding(
    tau: float, miss_prob: float = 1e-7, max_bands: int = 32
) -> tuple[int, int]:
    """(num_bands, bits_per_band) from the hyperplane S-curve: a pair at
    cosine tau agrees on one random-hyperplane bit with probability
    p = 1 − arccos(tau)/π and collides in a b-bit band with p^b; B bands
    miss it with (1 − p^b)^B. Returns the LARGEST b whose required
    B = ceil(ln(miss_prob)/ln(1 − p^b)) fits in max_bands — maximal
    selectivity (random-pair collision mass scales ~(1/2)^b per band) at
    the guaranteed recall floor. tau=0.4 derives (32, 2) — the round-2
    hardwired worst case; tau=0.8 derives (32, 4): 4× fewer random
    collisions per band at the same band count."""
    p = 1.0 - np.arccos(np.clip(tau, -1.0, 1.0)) / np.pi
    if not (0.0 < p < 1.0):
        raise ValueError(f"tau={tau} gives degenerate bit-agreement p={p}")
    best: tuple[int, int] | None = None
    for bits in range(1, 17):
        pb = p**bits
        if pb >= 1.0:
            continue
        bands = int(np.ceil(np.log(miss_prob) / np.log(1.0 - pb)))
        if bands <= max_bands:
            best = (bands, bits)
        else:
            break
    if best is None:
        raise ValueError(
            f"no banding with <= {max_bands} bands reaches miss_prob {miss_prob} at tau={tau}"
        )
    return best


def lsh_bucket_self_join(ec: DataFrame) -> DataFrame:
    """(doc_id, bucket) -> distinct candidate (a, b), a < b, via the
    bucket equi-self-join.

    Unlike the MinHash dedup path, this pair set IS the oracle-checked
    answer (all pairs above the cosine threshold), so the chain+tree cap
    used there (candidates.py) cannot be applied — dropping intra-bucket
    pairs would drop true duplicates, not just redundant connectivity
    edges. A boilerplate HOT BUCKET (many near-identical embeddings
    sharing every band code) therefore cannot be capped away; the scale
    mitigation is (1) the S-curve banding (`derive_banding`) keeping
    random-pair collisions per band ~B/2^bits, and (2) AQE skew-join
    SPLITTING the hot bucket's shuffle partition across tasks — the join
    is a shuffled SMJ at corpus scale, and OptimizeSkewedJoin rewrites
    the oversized partition into multiple task-sized splits on both
    sides without changing the emitted pair set.
    tests/test_skew.py::test_hyperplane_hot_bucket_aqe_skew_split plants
    a hot bucket and asserts the executed adaptive plan actually takes
    the skew split (and that the pair set is exactly the per-bucket
    reference) — a regression to a non-splittable plan shape fails CI.
    """
    return (
        ec.alias("l")
        .join(ec.alias("r"), "bucket")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .dropDuplicates(["a", "b"])
    )


# Broadcast gate of both embedding dup-pair plans: a table whose ids and
# float64 vectors (8 B each) fit in this many bytes is collected to the
# driver and broadcast. 1 GiB admits what a 2M-row gate admitted at 64
# dims (2M × (1 + 64) × 8 B ≈ 0.97 GiB).
_BCAST_MAX_BYTES = 1 << 30


def _table_bytes(emb: DataFrame) -> int:
    """Bytes of ``emb``'s ids and vectors as int64 / float64, from one
    aggregate job (the cost of a ``count()``)."""
    n, elems = emb.agg(F.count(F.lit(1)), F.sum(F.size("embedding"))).first()
    return 8 * (n + (elems or 0))


def _collect_matrix(emb: DataFrame):
    """``emb`` -> (ids ascending, float64 matrix whose row i is ids[i]'s
    vector), collected through Arrow with no per-row Python."""
    tbl = emb.select("vec_id", "embedding").toArrow()
    ids = tbl.column(0).to_numpy().astype(np.int64, copy=False)
    if len(ids) == 0:  # no offsets to read a width from
        return ids, np.zeros((0, 0))
    mat = _list_col_matrix(tbl.column(1).combine_chunks())
    order = np.argsort(ids, kind="stable")
    return ids[order], mat[order]


def _make_pair_cosine_bcast_arrow(b_ids, b_mat, keep_above: float):
    """mapInArrow kernel factory: (a, b) pair batches -> (a, b, cosine_raw)
    for pairs with cosine_raw >= ``keep_above``, looking both vectors up in
    a BROADCAST (ids_sorted, matrix) pair instead of gathering them per
    pair through joins. Same float64 arithmetic as ``_pair_cosine_arrow``
    (row-wise multiply-sum / product of norms over the same float->double
    matrices), so the surviving values are bit-identical; ``keep_above``
    must under-shoot the real threshold by more than the rounding slack so
    the native round+filter above stays the semantic gate."""

    def gen(it):
        import pyarrow as pa  # local import: executors only

        ids = b_ids.value
        mat = b_mat.value
        norms = np.linalg.norm(mat, axis=1)
        for batch in it:
            a_ids = batch.column("a").to_numpy(zero_copy_only=False)
            b_ids_ = batch.column("b").to_numpy(zero_copy_only=False)
            ia = sorted_positions(ids, a_ids, "embedding")
            ib = sorted_positions(ids, b_ids_, "embedding")
            a = mat[ia]
            b = mat[ib]
            num = (a * b).sum(axis=1)
            den = norms[ia] * norms[ib]
            cos = num / np.maximum(den, 1e-300)
            keep = cos >= keep_above
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(a_ids[keep], type=pa.int64()),
                    pa.array(b_ids_[keep], type=pa.int64()),
                    pa.array(cos[keep], type=pa.float64()),
                ],
                names=["a", "b", "cosine_raw"],
            )

    return gen


def embedding_dup_pairs_lsh(
    emb: DataFrame,
    tau: float,
    dim: int,
    num_bands: int | None = None,
    bits_per_band: int | None = None,
    seed: int = 42,
    max_bands: int = 32,
) -> DataFrame:
    """All pairs with cosine >= tau via hyperplane-LSH self-join + exact
    verify. The default 100 TB plan: no crossJoin; past the broadcast gate
    no driver collect either.

    Banding is DERIVED from tau via the S-curve (``derive_banding``) unless
    both knobs are passed explicitly: the per-pair miss probability stays
    below 1e-7 at the given tau, so the LSH output EQUALS the
    exact-threshold oracle at test scale, while higher taus automatically
    get more selective bands (tau=0.4 → 32×2, tau=0.8 → 32×4 with ~4×
    less random-collision fan-out per band).

    Physical verify strategy is SIZE-GATED (r10, guide §3.2/§8 "decide
    with small rows, broadcast what fits" — the same gate class as
    ``embedding_dup_pairs_broadcast`` and the decontam broadcast): when the
    table's ids and float64 vectors fit in ``_BCAST_MAX_BYTES`` (1 GiB),
    the id->vector matrix is broadcast once and the
    verify is ONE shuffle-free mapInArrow lookup over the deduped
    candidate pairs — the two per-pair vector gather joins (which shipped
    ~1 KB of vectors per candidate through Arrow) disappear, and the tiny
    (id, bucket) explode is repartitioned so the self-join + map-side
    dedup fan out across cores instead of riding the small table's 1-2
    scan partitions. Measured at sf0.1 (2k vectors, 16.1M pre-dedup /
    2.0M deduped candidates): 6.0 s -> 1.2 s, with the candidate stage
    alone 3.9 s -> 0.74 s. Past the gate the fully distributed shape
    below (dedup exchange -> gather joins -> pair-batch kernel) is
    unchanged. Both branches compute identical float64 cosines; the
    native round(...,6) >= tau filter is the semantic gate in both."""
    if num_bands is None or bits_per_band is None:
        if (num_bands is None) != (bits_per_band is None):
            raise ValueError("pass both num_bands and bits_per_band, or neither")
        # a larger band budget always buys strictly MORE selective bands:
        # required B grows ~(1/p)^b ≈ 1.26^b (tau=0.8) while random-pair
        # collision mass falls ~B/2^b — raise max_bands on diffuse corpora
        num_bands, bits_per_band = derive_banding(tau, max_bands=max_bands)
    planes = hyperplane_params(dim, num_bands, bits_per_band, seed)
    udf = make_hyperplane_udf(planes, num_bands, bits_per_band, n_probes=1)

    ec = emb.select(
        F.col("vec_id").alias("doc_id"), F.explode(udf(F.col("embedding"))).alias("bucket")
    )

    if _table_bytes(emb) <= _BCAST_MAX_BYTES:
        spark = emb.sparkSession
        ids, mat = _collect_matrix(emb)
        b_ids = spark.sparkContext.broadcast(ids)
        b_mat = spark.sparkContext.broadcast(mat)
        # a small table reads as 1-2 scan partitions, which would run the
        # whole post-join candidate stream (and the dedup's map-side
        # aggregation) single-threaded; repartitioning the NARROW
        # (id, bucket) explode by doc_id fans the broadcast self-join out
        # across the session's shuffle partitions AND makes the pair dedup
        # map-side-complete (every duplicate of (a, b) lives on a's
        # partition), so the dedup exchange ships only distinct pairs.
        # Measured at sf0.1: candidates noop 3.9 s -> 0.74 s.
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        cand = (
            ec.repartition(nparts, "doc_id")
            .alias("l")
            .join(ec.alias("r"), "bucket")
            .where(F.col("l.doc_id") < F.col("r.doc_id"))
            .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
            .dropDuplicates(["a", "b"])
        )
        # margin under-shoots tau by 1e-6 > the 5e-7 round-half slack, so
        # every pair the native round(...,6) >= tau gate could keep
        # survives the kernel prefilter; the kernel only sheds the ~99.9%
        # of candidates that cannot round up to tau
        scored = cand.mapInArrow(
            _make_pair_cosine_bcast_arrow(b_ids, b_mat, tau - 1e-6),
            "a long, b long, cosine_raw double",
        )
        return scored.select(
            "a", "b", F.round(F.col("cosine_raw"), 6).alias("cosine")
        ).where(F.col("cosine") >= tau)

    cand = lsh_bucket_self_join(ec)
    va = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    vb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    # exact verify as ONE mapInArrow pass over (a, b, va, vb): the
    # previous expression form — select(round(_cosine_udf(...))).where —
    # planned the pandas UDF TWICE (once under the pushed threshold
    # filter, once in the output projection; guide §4.4), and its kernel
    # stacked the pair matrices with a per-row Python loop. The Arrow
    # kernel computes identical float64 values (same multiply-sum/norm
    # ordering), rounding and thresholding stay native above it.
    paired = cand.join(va, "a").join(vb, "b").select("a", "b", "va", "vb")
    scored = paired.mapInArrow(
        _pair_cosine_arrow, "a long, b long, cosine_raw double"
    )
    return scored.select(
        "a", "b", F.round(F.col("cosine_raw"), 6).alias("cosine")
    ).where(F.col("cosine") >= tau)


def embedding_dup_pairs_broadcast(
    emb: DataFrame,
    tau: float,
) -> DataFrame:
    """Size-gated broadcast-matmul fast path for SMALL dimension tables:
    the table is collected once to the driver through Arrow when its ids
    and float64 vectors fit in ``_BCAST_MAX_BYTES``, broadcast as one
    L2-normalized matrix, and each Arrow batch does a single
    (batch × dim) @ (dim × N) matmul; pair emission is a whole-matrix
    ``np.nonzero`` (no per-row Python loop). Raises if the gate trips —
    the LSH plan above is the large-table path."""
    spark = emb.sparkSession
    nbytes = _table_bytes(emb)
    if nbytes > _BCAST_MAX_BYTES:
        raise ValueError(
            f"broadcast path gated at {_BCAST_MAX_BYTES} bytes, got {nbytes}; "
            "use embedding_dup_pairs_lsh"
        )
    ids, m = _collect_matrix(emb)
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
    b_ids = spark.sparkContext.broadcast(ids)
    b_m = spark.sparkContext.broadcast(m)

    def gen(batches):
        cids = b_ids.value
        cm = b_m.value
        for pdf in batches:
            x = np.array([list(v) for v in pdf["embedding"]], dtype=np.float64)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            sims = np.round(x @ cm.T, 6)
            mask = (sims >= tau) & (cids[None, :] > vids[:, None])
            ii, jj = np.nonzero(mask)
            yield pd.DataFrame(
                {"a": vids[ii], "b": cids[jj], "cosine": sims[ii, jj]}
            )

    return emb.select("vec_id", "embedding").mapInPandas(gen, "a long, b long, cosine double")
