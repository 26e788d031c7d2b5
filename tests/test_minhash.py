"""MinHash determinism + accuracy (golden style of the reference's tests)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from neural_locality_sensitive_hashing_spark.functions import minhash as M
from neural_locality_sensitive_hashing_spark.functions.minhash import (
    band_hashes_numpy,
    gram_hashes_python,
    make_gram_hash_text_udf,
    make_shingle_sig_udf,
    minhash_numpy,
    minhash_params,
    shingle_hashes_python,
)


def test_params_deterministic():
    a1, b1 = minhash_params(128, 42)
    a2, b2 = minhash_params(128, 42)
    assert (a1 == a2).all() and (b1 == b2).all()
    assert (a1 % 2 == 1).all()  # bijections mod 2^64


def test_udf_matches_numpy_reference():
    """The blocked segment kernel equals minhash_numpy set by set."""
    rng = np.random.default_rng(7)
    sets = [rng.integers(-(2**62), 2**62, size=rng.integers(1, 50)) for _ in range(20)]
    # one set spanning several pass blocks
    sets.append(rng.integers(-(2**62), 2**62, size=2 * M._PASS_BLOCK + 7))
    lens = np.array([len(s) for s in sets])
    a, b = minhash_params(32, 42)
    got = M._segment_minhash(
        np.concatenate(sets).view(np.uint64), M._seg_starts(lens), a, b
    ).view(np.int64)
    for i, s in enumerate(sets):
        assert got[i].tobytes() == minhash_numpy(s, a, b).tobytes(), f"row {i}"


def test_estimate_accuracy():
    """Identical sets -> 1.0; disjoint -> ~0; half-overlap -> ~0.33 (J=1/3)."""
    rng = np.random.default_rng(0)
    a, b = minhash_params(256, 42)
    s1 = rng.integers(0, 2**62, 1000, dtype=np.int64)
    s2 = np.concatenate([s1[:500], rng.integers(0, 2**62, 500, dtype=np.int64)])
    sig1 = minhash_numpy(s1, a, b)
    sig1b = minhash_numpy(s1, a, b)
    sig2 = minhash_numpy(s2, a, b)
    # the MinHash estimate: the share of agreeing signature slots
    assert (sig1 == sig1b).mean() == 1.0
    est = (sig1 == sig2).mean()
    true_j = 500 / 1500
    assert abs(est - true_j) < 0.12


def _parity_texts(k: int) -> pd.Series:
    seps = [chr(c) for c in range(0x3001) if chr(c).isspace()]
    assert {"\x1c", "\x1f", "\x85", "\xa0", "\u3000"} <= set(seps)
    docs = [None, "", "   ", "\t\n\r", "  lead and trail  ", "\x85only\xa0"]
    docs += [s.join(f"t{i}" for i in range(k + 2)) + s for s in seps]
    docs += ["".join(seps), "é ü 日本 語 😀 naïve café " * 3, "日本語"]
    docs += [" ".join(f"s{j}" for j in range(n)) for n in range(1, k)]
    # one doc longer than a pass block ...
    docs.append(" ".join(f"w{j % 40000}" for j in range(M._PASS_BLOCK + 5000)))
    # ... and block boundaries falling between many small docs
    rng = np.random.default_rng(3)
    docs += [
        " ".join(f"v{x}" for x in rng.integers(0, 500, rng.integers(1, 30)))
        for _ in range(4000)
    ]
    return pd.Series(docs)


def test_fused_kernel_bit_identical_to_reference(spark):
    """The whole-batch kernels equal the per-doc references byte for
    byte: shingle_hashes_python + minhash_numpy + band_hashes_numpy, in
    both sh widths.
    The kernels run directly on pandas batches; the session only parses
    their DDL return types."""
    k, perms, nb, rpb = 5, 64, 16, 4
    texts = _parity_texts(k)
    a, b = minhash_params(perms, 7)
    sets = [shingle_hashes_python(t, k, {}) for t in texts]
    sigs = np.stack([minhash_numpy(s, a, b) for s in sets]).view(np.uint64)
    bands = band_hashes_numpy(sigs, nb, rpb)
    for width in (8, 4):
        if width == 8:
            sh = [s.view(np.int64).tobytes() for s in sets]
        else:
            sh = [np.unique((s >> np.uint64(32)).astype(np.uint32)).tobytes() for s in sets]
        banded = make_shingle_sig_udf(
            k, perms, 7, num_bands=nb, rows_per_band=rpb, shingle_hash_bytes=width,
        ).func(texts)
        assert list(banded.columns) == ["sh", "bands"]
        for i in range(len(texts)):
            assert banded["sh"][i] == sh[i], i
            assert banded["bands"][i].tobytes() == bands[i].tobytes(), i
    distinct = make_gram_hash_text_udf(k).func(texts)
    positional = make_gram_hash_text_udf(k, distinct=False).func(texts)
    for i, t in enumerate(texts):
        if t is None:
            assert distinct[i] is None and positional[i] is None
        else:
            assert distinct[i].tobytes() == sets[i].tobytes(), i
            assert positional[i].tobytes() == gram_hashes_python(t, k, {}).tobytes(), i
