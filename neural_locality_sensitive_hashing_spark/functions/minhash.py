"""MinHash signatures as whole-batch, vectorized pandas UDF kernels.

The reference hashes a full corpus in 4096-row batches through its encoder
(``nlsh/indexer.py:40-54``); the Spark analogue is one Arrow batch at a time
through a numpy kernel. Signature definition (frozen for determinism):

    sig[j] = min over shingle-hashes h of  (A[j] * h + B[j])  mod 2^64

with A odd (a bijection on Z_2^64, so uniform inputs stay uniform) and
(A, B) drawn once from ``default_rng(seed)``.

A shingle hash is the rot-xor fold of k consecutive blake2b token hashes
(tokens = ``str.split()``); a doc with fewer than k tokens hashes as one
whole-doc token, an empty or null doc as the empty token. The text
kernels compute this for the whole batch at once: pyarrow splits every
doc on whitespace, ``dictionary_encode`` leaves one blake2b call per
distinct token, and the fold runs once over the batch's flat token
buffer (``_batch_grams``). The ``num_perm`` MinHash passes then run over
cache-sized blocks of the flat shingle array into one preallocated
buffer, with ``np.minimum.reduceat`` taking the per-doc minima
(``_segment_minhash``), and ``band_hashes_numpy`` folds each signature
into its band buckets inside the same kernel, so the signature itself
never leaves the Python worker. Per-row Python is left only where the
output is per row. ``gram_hashes_python`` / ``shingle_hashes_python``
and ``minhash_numpy`` are the per-doc references the kernels are tested
against, bit for bit.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

# elements per block of the num_perm passes: 256 KB of uint64 stays in L2
# across all passes, where a full-batch pass streams from memory each time
_PASS_BLOCK = 1 << 15


def minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (A, B) permutation parameters (uint64)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 2**63, size=num_perm, dtype=np.uint64) * 2 + 1  # odd
    b = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_numpy(shingle_hashes: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Reference single-set implementation (tests + driver-side use)."""
    h = np.asarray(shingle_hashes, dtype=np.int64).view(np.uint64)
    # wraparound mod 2^64 is intentional
    with np.errstate(over="ignore"):
        vals = a[:, None] * h[None, :] + b[:, None]
    return vals.min(axis=1).view(np.int64)


def _segment_minhash(
    flat: np.ndarray, starts: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """MinHash of every segment flat[starts[i]:starts[i+1]] (uint64,
    non-empty segments, starts[0] == 0) -> (len(starts), num_perm) uint64.

    The passes run block by block: each block's pieces (cut at segment
    and block starts) get their minima per permutation, and the pieces of
    a segment are min-reduced at the end — min is associative, so the
    result equals one full-width pass per permutation, bit for bit."""
    n = len(flat)
    if not len(starts):
        return np.empty((0, len(a)), dtype=np.uint64)
    cuts = np.union1d(starts, np.arange(0, n, _PASS_BLOCK))
    part = np.empty((len(a), len(cuts)), dtype=np.uint64)
    buf = np.empty(min(n, _PASS_BLOCK), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for lo in range(0, n, _PASS_BLOCK):
            hi = min(lo + _PASS_BLOCK, n)
            p0, p1 = np.searchsorted(cuts, [lo, hi])
            local = cuts[p0:p1] - lo
            blk, v = flat[lo:hi], buf[: hi - lo]
            for j in range(len(a)):
                np.multiply(blk, a[j], out=v)
                np.add(v, b[j], out=v)
                np.minimum.reduceat(v, local, out=part[j, p0:p1])
    sigs = np.minimum.reduceat(part, np.searchsorted(cuts, starts), axis=1)
    return np.ascontiguousarray(sigs.T)


def _seg_starts(lens: np.ndarray) -> np.ndarray:
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return starts


def _rotl7(x: np.ndarray) -> np.ndarray:
    return (x << np.uint64(7)) | (x >> np.uint64(57))


def _blake2b64(b: bytes) -> bytes:
    """The token hash: 8-byte blake2b digest (read as uint64 LE)."""
    return hashlib.blake2b(b, digest_size=8).digest()


def _token_hash(t: str, cache: dict) -> int:
    v = cache.get(t)
    if v is None:
        v = cache[t] = int.from_bytes(_blake2b64(t.encode("utf-8")), "little")
    return v


def gram_hashes_python(text: str, k: int, cache: dict) -> np.ndarray:
    """tokens -> POSITIONAL k-gram rolling rot-xor hashes (uint64, one per
    gram start, order preserved, duplicates kept): memoized blake2b token
    hashes folded k at a time with rotl-7 xor; a doc of fewer than k
    tokens hashes as its space-joined tokens, an empty doc as "".
    Per-doc reference for ``_batch_grams``."""
    toks = text.split() if text else []
    n = len(toks)
    if n == 0:
        return np.array([np.uint64(_token_hash("", cache))], dtype=np.uint64)
    if n < k:
        return np.array([np.uint64(_token_hash(" ".join(toks), cache))], dtype=np.uint64)
    h = np.fromiter((_token_hash(t, cache) for t in toks), dtype=np.uint64, count=n)
    m = n - k + 1
    acc = h[:m].copy()
    for i in range(1, k):
        acc = _rotl7(acc) ^ h[i : i + m]
    return acc


def shingle_hashes_python(text: str, k: int, cache: dict) -> np.ndarray:
    """tokens -> distinct k-gram hash set (sorted uint64): the unique of
    ``gram_hashes_python``. Same structure as functions.text.shingle_set
    (token hash, rotl-7 xor fold, whole-doc fallback for short docs) with
    blake2b as the token hash — set *sizes* (hence Jaccard) agree with
    the native path whp. Per-doc reference for ``make_shingle_sig_udf``."""
    return np.unique(gram_hashes_python(text, k, cache))


def _batch_grams(texts: pd.Series, k: int) -> tuple[np.ndarray, np.ndarray]:
    """``gram_hashes_python`` for a whole batch -> (grams, offsets): doc
    i's positional hashes are grams[offsets[i]:offsets[i+1]], bit-identical
    to ``gram_hashes_python(texts[i], k, {})`` (null docs as "").

    Arrow's whitespace split keeps empty leading/trailing tokens; with
    those dropped it equals ``str.split()`` on every code point."""
    import pyarrow as pa
    import pyarrow.compute as pc

    lists = pc.utf8_split_whitespace(pa.array(texts, type=pa.large_string()))
    toks = pc.list_flatten(lists)
    nonempty = pc.greater(pc.binary_length(toks), 0)
    toks = toks.filter(nonempty)
    doc = pc.list_parent_indices(lists).filter(nonempty).to_numpy()
    n_tok = np.bincount(doc, minlength=len(texts))
    enc = toks.dictionary_encode()
    distinct = enc.dictionary.cast(pa.large_binary()).to_pylist()
    th = np.frombuffer(b"".join(map(_blake2b64, distinct)), dtype="<u8")
    h = th[enc.indices.to_numpy()]

    long_ = n_tok >= k
    out_len = np.where(long_, n_tok - k + 1, 1)
    offsets = np.zeros(len(texts) + 1, dtype=np.int64)
    np.cumsum(out_len, out=offsets[1:])
    grams = np.empty(offsets[-1], dtype=np.uint64)
    tok_start = _seg_starts(n_tok)
    m = len(h) - k + 1
    if m > 0 and long_.any():
        acc = h[:m].copy()
        tmp = np.empty_like(acc)
        for i in range(1, k):
            np.right_shift(acc, np.uint64(57), out=tmp)
            np.left_shift(acc, np.uint64(7), out=acc)
            np.bitwise_or(acc, tmp, out=acc)
            np.bitwise_xor(acc, h[i : i + m], out=acc)
        # a fold position is a gram of its doc iff all k tokens are in it
        d = doc[:m]
        valid = np.arange(m) - tok_start[d] <= n_tok[d] - k
        grams[np.repeat(long_, out_len)] = acc[valid]
    short = np.flatnonzero(~long_)
    if len(short):
        whole = [
            " ".join(toks.slice(int(tok_start[i]), int(n_tok[i])).to_pylist()).encode()
            for i in short
        ]
        grams[offsets[short]] = np.frombuffer(
            b"".join(map(_blake2b64, whole)), dtype="<u8"
        )
    return grams, offsets


def make_gram_hash_text_udf(k: int, distinct: bool = True):
    """Fused Arrow kernel: text -> array<bigint> k-gram hashes, replacing
    the interpreted native chain (tokens -> zip_with rolling xxhash64
    fold) for SET-SEMANTIC consumers: the hash family differs (blake2b
    token hashes + the same rot-xor fold) but every downstream
    use — candidate equi-joins, intersection/union sizes, distinct
    counts — depends only on cross-doc gram equality, which both
    families decide identically up to the engine's accepted 2^-64
    collision class. ``distinct=True`` returns the sorted unique set
    (shingle_set semantics), ``distinct=False`` the positional stream
    (gram-position consumers). Null text -> null."""

    @pandas_udf(ArrayType(LongType()))
    def gram_hashes(texts: pd.Series) -> pd.Series:
        grams, offsets = _batch_grams(texts, k)
        out = []
        for i, t in enumerate(texts):
            g = grams[offsets[i] : offsets[i + 1]]
            if t is None:
                out.append(None)
            else:
                out.append((np.unique(g) if distinct else g).view(np.int64))
        return pd.Series(out)

    return gram_hashes


def band_hashes_numpy(sigs: np.ndarray, num_bands: int, rows_per_band: int) -> np.ndarray:
    """(n, num_perm) uint64 signatures -> (n, num_bands) int64 band-bucket
    hashes: rotl7-xor-multiply fold of each band's rows with the band index
    mixed in (identical docs collide per band; different bands never
    collide with each other). The engine's one band-hash family: batch,
    the resumable pipeline and the stream all band through it, so their
    band tables are interchangeable."""
    n = sigs.shape[0]
    b = sigs.reshape(n, num_bands, rows_per_band)
    mult = np.uint64(0x9E3779B97F4A7C15)
    with np.errstate(over="ignore"):
        acc = np.full((n, num_bands), np.uint64(0x243F6A8885A308D3))
        for r in range(rows_per_band):
            acc = (acc ^ b[:, :, r]) * mult
            acc = (acc << np.uint64(7)) | (acc >> np.uint64(57))
        acc = acc ^ (np.arange(num_bands, dtype=np.uint64) << np.uint64(1))
        acc = acc * mult
    return acc.view(np.int64)


def make_shingle_sig_udf(
    k: int,
    num_perm: int,
    seed: int,
    num_bands: int,
    rows_per_band: int,
    shingle_hash_bytes: int = 8,
):
    """Fused text -> struct(sh binary, bands array<long>) pandas UDF:
    the shingle set and the LSH band buckets of every doc.

    ``shingle_hash_bytes=4`` stores ``sh`` as truncated uint32 (sorted,
    re-uniqued): halves the exact-verify gather bytes; Jaccard
    perturbation is O(|A||B|/2^32) per pair.

    One Arrow pass does tokenize + shingle + MinHash + banding entirely
    in the Python worker (numpy): measured ~2.5x less total CPU than the
    native higher-order-function shingle path at 32 local threads, because
    interpreted zip_with/transform expressions allocate per-element garbage
    that stalls the shared JVM heap — worker processes have no shared GC.
    The 1 KB/doc signature never leaves the Python worker: only its
    ``num_bands`` band hashes (``band_hashes_numpy``) do. The kernel works
    on the whole batch: one Arrow whitespace split, one blake2b per
    distinct token, one fold over the flat token buffer
    (``_batch_grams``), a per-doc ``np.unique``, and blocked MinHash passes
    (``_segment_minhash``); the output is bit-identical to
    ``shingle_hashes_python`` + ``minhash_numpy`` + ``band_hashes_numpy``
    per doc.
    """
    a_params, b_params = minhash_params(num_perm, seed)

    @pandas_udf("sh binary, bands array<long>")
    def shingle_sig(texts: pd.Series) -> pd.DataFrame:
        grams, offsets = _batch_grams(texts, k)
        sets = [np.unique(grams[offsets[i] : offsets[i + 1]]) for i in range(len(texts))]
        flat = np.concatenate(sets) if sets else np.empty(0, dtype=np.uint64)
        lens = np.fromiter((len(s) for s in sets), dtype=np.int64, count=len(sets))
        sigs = _segment_minhash(flat, _seg_starts(lens), a_params, b_params)
        # sh ships as raw little-endian int64 bytes (sorted): a binary
        # column shuffles and Arrow-transfers at ~1/3 the cost of
        # array<long> (no per-element offsets/validity) — verify is the
        # pipeline's biggest data mover
        if shingle_hash_bytes == 4:
            sh_col = [
                np.unique((s >> np.uint64(32)).astype(np.uint32)).tobytes()
                for s in sets
            ]
        else:
            sh_col = [s.view(np.int64).tobytes() for s in sets]
        bands = band_hashes_numpy(sigs, num_bands, rows_per_band)
        return pd.DataFrame({"sh": sh_col, "bands": [bands[i] for i in range(len(sets))]})

    return shingle_sig
