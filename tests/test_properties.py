"""Property-based tests (hypothesis) for the pure-numpy kernels.

These cover the invariants the oracle tests can't sweep exhaustively:
MinHash estimate consistency, winnowing's shared-block guarantee, bit-pack
round-trips — all driver-side, no Spark session needed (fast).
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from neural_locality_sensitive_hashing_spark.functions.minhash import (
    minhash_numpy,
    minhash_params,
    shingle_hashes_python,
)
from neural_locality_sensitive_hashing_spark.learned.partitioner import _pack_bits_msb

A128, B128 = minhash_params(128, 42)

token = st.text(alphabet="abcdefgh", min_size=1, max_size=4)


@given(st.lists(token, min_size=1, max_size=60))
@settings(max_examples=50, deadline=None)
def test_shingle_identical_texts_identical_sets(toks):
    t = " ".join(toks)
    s1 = shingle_hashes_python(t, 5, {})
    s2 = shingle_hashes_python(t, 5, {})
    assert (s1 == s2).all()
    # set size bounded by number of gram positions (or 1 for short docs)
    assert 1 <= len(s1) <= max(1, len(toks) - 4)


@given(st.lists(token, min_size=5, max_size=60), st.integers(0, 4))
@settings(max_examples=50, deadline=None)
def test_shingle_prefix_extension_superset_like(toks, extra):
    """Appending tokens never removes existing gram positions' hashes
    except via dedup — the original grams are all still present."""
    t1 = " ".join(toks)
    t2 = " ".join(toks + ["zz"] * extra)
    s1 = set(shingle_hashes_python(t1, 5, {}).tolist())
    s2 = set(shingle_hashes_python(t2, 5, {}).tolist())
    assert s1 <= s2


@given(st.sets(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=200))
@settings(max_examples=50, deadline=None)
def test_minhash_identical_sets_estimate_one(vals):
    arr = np.array(sorted(vals), dtype=np.int64)
    s1 = minhash_numpy(arr, A128, B128)
    s2 = minhash_numpy(arr[::-1].copy(), A128, B128)  # order-invariant
    assert (s1 == s2).all()


@given(
    st.sets(st.integers(min_value=0, max_value=2**62), min_size=20, max_size=200),
    st.sets(st.integers(min_value=0, max_value=2**62), min_size=20, max_size=200),
)
@settings(max_examples=30, deadline=None)
def test_minhash_disjointish_sets_low_agreement(sa, sb):
    sb = sb - sa
    if not sb:
        return
    a = np.array(sorted(sa), dtype=np.int64)
    b = np.array(sorted(sb), dtype=np.int64)
    agree = (minhash_numpy(a, A128, B128) == minhash_numpy(b, A128, B128)).mean()
    assert agree <= 0.15  # disjoint sets: expected 0, binomial tail bound


@given(st.lists(st.integers(0, 1), min_size=1, max_size=63))
@settings(max_examples=50, deadline=None)
def test_pack_bits_roundtrip(bits):
    packed = int(_pack_bits_msb(np.array([bits]))[0])
    unpacked = [(packed >> (len(bits) - 1 - i)) & 1 for i in range(len(bits))]
    assert unpacked == bits


@given(
    st.lists(token, min_size=80, max_size=140),  # shared block
    st.lists(token, min_size=30, max_size=80),
    st.lists(token, min_size=30, max_size=80),
)
@settings(max_examples=20, deadline=None)
def test_winnow_shared_block_guarantee(block, pre_a, pre_b):
    """MOSS winnowing theorem: a shared run of >= L + w - 1 tokens always
    yields at least one shared fingerprint."""
    from neural_locality_sensitive_hashing_spark.operators.suffix import (
        _gram_weights,
    )

    L, W = 64, 16
    if len(block) < L + W - 1:
        return

    def fps(tokens):
        import hashlib

        h = np.array(
            [
                int.from_bytes(
                    hashlib.blake2b(t.encode(), digest_size=8).digest(), "little"
                )
                for t in tokens
            ],
            dtype=np.uint64,
        )
        wins = np.lib.stride_tricks.sliding_window_view(h, L)
        with np.errstate(over="ignore"):
            grams = (wins * _gram_weights(L)[None, :]).sum(axis=1, dtype=np.uint64)
        if len(grams) >= W:
            sel = np.lib.stride_tricks.sliding_window_view(grams, W).min(axis=1)
        else:
            sel = grams
        return set(np.unique(sel).tolist())

    fa = fps(pre_a + block)
    fb = fps(pre_b + block)
    assert fa & fb, "winnowing guarantee violated"


@given(
    st.sampled_from(["http", "https"]),
    st.sampled_from(["Example.com", "www.a.b.org", "X.io:8080", "c.net:443"]),
    st.lists(
        st.sampled_from(["a=1", "b=2", "utm_source=x", "fbclid=9", "z=3"]),
        max_size=4,
    ),
    st.sampled_from(["", "/", "/p", "/p/q/", "/p//"]),
    st.sampled_from(["", "#frag"]),
)
@settings(max_examples=15, deadline=None)
def test_canonical_url_idempotent_and_order_free(
    spark, proto, host, params, path, frag
):
    """canonical_url is IDEMPOTENT (canon(canon(u)) == canon(u)) and
    param-order-free (shuffled query strings canonicalize identically) —
    the two properties that make it a safe dedup key."""
    from pyspark.sql import functions as F

    from neural_locality_sensitive_hashing_spark.operators.recrawl import (
        canonical_url,
    )

    q = "?" + "&".join(params) if params else ""
    url = f"{proto}://{host}{path}{q}{frag}"
    url_rev = f"{proto}://{host}{path}" + (
        "?" + "&".join(reversed(params)) if params else ""
    ) + frag
    c1, c2, c3 = (
        spark.range(1)
        .select(
            canonical_url(F.lit(url)).alias("a"),
            canonical_url(canonical_url(F.lit(url))).alias("b"),
            canonical_url(F.lit(url_rev)).alias("c"),
        )
        .first()
    )
    assert c2 == c1, (url, c1, c2)  # idempotent
    assert c3 == c1, (url, url_rev, c1, c3)  # order-free
