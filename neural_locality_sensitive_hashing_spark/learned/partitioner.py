"""Learned LSH partitioner: offline numpy trainer + executor-side kernel.

Re-imagines the reference's end-to-end learned hashing (encoder + Bernoulli
head + balance-aware loss + multi-probe, ``nlsh/hashings.py:13-92``,
``nlsh/trainers/siamese.py:9-20``, ``nlsh/trainers/proposed.py:96-118``)
under Spark's constraints: training happens ONCE on the driver over a small
sample (numpy only — no torch on executors), and the fitted weights ship to
executors as a broadcast dict applied inside a vectorized pandas UDF.

Model:   p = sigmoid(x @ W + b)           (h per-bit probabilities)
Code:    bits = p > 0.5, packed MSB-first (mirrors ``nlsh/utils.pyx:7-15``)
Loss:    contrastive pull/push (siamese semantics) +
         bucket-balance penalty mean_k (mean_i p_ik - 0.5)^2 — the
         "proposed" trainer's oversized-bucket penalty in closed form.
         The reference's other objectives (triplet, hardest-negative
         mining, sampled labels, minibatch epochs) are not carried: no
         query trains with them.
Probe:   deterministic multi-probe — flip subsets of the least-confident
         bits (|p-0.5| smallest), the deterministic counterpart of the
         reference's Bernoulli probe sampling (``nlsh/hashings.py:77-83``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType


def _sigmoid(z: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))


# the fit's hyperparameters: Adam steps (one full-sample step per epoch),
# learning rate, push-hinge margin and weight of the bucket-balance term
EPOCHS = 60
LR = 0.05
MARGIN = 1.0
BALANCE_WEIGHT = 0.5


def train_partitioner(
    x: np.ndarray, n_bits: int = 16, seed: int = 42
) -> dict[str, np.ndarray]:
    """Fit (W, b) on a sample matrix x (n, d). Positive pairs = exact
    nearest neighbor of each row within the sample (the reference's
    precomputed self-kNN, ``precompute.py:57-67``); negatives are uniform
    rows drawn each epoch. Each epoch takes one full-sample Adam step with
    AMSGrad, mirroring the reference's fit loop
    (``nlsh/trainers/base.py:68-79``), on an independent pull
    ||p_a − p_pos||² plus a hinge push on the negatives (siamese
    semantics, ``nlsh/trainers/siamese.py:9-20``)."""
    rng = np.random.default_rng(seed)
    n, d = x.shape
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)

    # exact cosine top-1 neighbor within the sample (brute force, driver-side)
    sim = xn @ xn.T
    np.fill_diagonal(sim, -np.inf)
    pos = sim.argmax(axis=1)

    w = rng.standard_normal((d, n_bits)) / np.sqrt(d)
    b = np.zeros(n_bits)
    mw, vw, vw_hat = np.zeros_like(w), np.zeros_like(w), np.zeros_like(w)
    mb, vb, vb_hat = np.zeros_like(b), np.zeros_like(b), np.zeros_like(b)
    beta1, beta2, eps = 0.9, 0.999, 1e-8
    for t in range(1, EPOCHS + 1):
        neg = rng.integers(0, n, size=n)
        p = _sigmoid(xn @ w + b)
        diff_p = p - p[pos]
        diff_n = p - p[neg]
        # pull: ||p_i - p_pos||^2
        dp = 2 * diff_p / n
        np.add.at(dp, pos, -2 * diff_p / n)
        # push: max(0, margin - ||p_i - p_neg||^2)
        active = ((diff_n**2).sum(axis=1) < MARGIN).astype(np.float64)[:, None]
        dp += -2 * diff_n * active / n
        np.add.at(dp, neg, 2 * diff_n * active / n)
        # balance: (mean_i p_ik - 0.5)^2 per bit
        dp += BALANCE_WEIGHT * 2 * (p.mean(axis=0) - 0.5)[None, :] / n

        dz = dp * p * (1 - p)
        gw = xn.T @ dz
        gb = dz.sum(axis=0)

        mw = beta1 * mw + (1 - beta1) * gw
        vw = beta2 * vw + (1 - beta2) * gw**2
        vw_hat = np.maximum(vw_hat, vw)  # amsgrad
        w -= LR * (mw / (1 - beta1**t)) / (np.sqrt(vw_hat / (1 - beta2**t)) + eps)
        mb = beta1 * mb + (1 - beta1) * gb
        vb = beta2 * vb + (1 - beta2) * gb**2
        vb_hat = np.maximum(vb_hat, vb)
        b -= LR * (mb / (1 - beta1**t)) / (np.sqrt(vb_hat / (1 - beta2**t)) + eps)

    return {"W": w.astype(np.float64), "b": b.astype(np.float64)}


def train_multiband_partitioner(
    x: np.ndarray,
    n_bands: int = 4,
    n_bits: int = 10,
    seed: int = 42,
    feature_bag_frac: float | None = None,
) -> list[dict[str, np.ndarray]]:
    """Fit ``n_bands`` INDEPENDENT learned codes (seeds seed..seed+B-1) —
    the learned analogue of MinHash banding's OR-amplification.  A single
    learned code is one AND-table: on diffuse corpora its recall ceiling
    per candidate scanned is set by how much neighborhood one code can
    capture.  Unioning B independently-trained code tables multiplies the
    chance a true neighbor shares at least one bucket, exactly like the
    B-band LSH construction — measured on the diffuse driver embeddings
    (BENCH/LEARNED_GRID.md): 4x8-bit bands reach recall 0.27 at 7% corpus
    vs 0.22 for the best single hyperplane banding at the same candidate
    mass, and dominate the hyperplane frontier up to ~20% mass.

    ``feature_bag_frac`` (the classic ensemble decorrelation trick): each
    band trains on its own random column subset of that fraction — bands
    that see different features make more independent mistakes, which is
    what OR-amplification converts into recall.  The fitted sub-space
    weights are re-expanded to full-dim W rows (zeros on the unseen
    columns), so the serving kernels (`make_multiband_code_udf`) are
    unchanged."""
    out: list[dict[str, np.ndarray]] = []
    d = x.shape[1]
    for band in range(n_bands):
        if feature_bag_frac:
            bag_rng = np.random.default_rng(seed + 7919 * (band + 1))
            k = max(2, int(round(feature_bag_frac * d)))
            cols = np.sort(bag_rng.choice(d, size=k, replace=False))
            sub = train_partitioner(x[:, cols], n_bits=n_bits, seed=seed + band)
            w_full = np.zeros((d, n_bits))
            w_full[cols] = sub["W"]
            out.append({"W": w_full, "b": sub["b"]})
        else:
            out.append(train_partitioner(x, n_bits=n_bits, seed=seed + band))
    return out


def multiband_codes_numpy(
    x: np.ndarray,
    weights_list: list[dict[str, np.ndarray]],
    n_probes: int = 1,
) -> list[list[int]]:
    """Per-row probe buckets across all bands, band-offset so buckets from
    different bands never collide: bucket = (band << n_bits) | code."""
    n_bits = weights_list[0]["W"].shape[1]
    per_band = [
        hash_codes_numpy(x, w, n_probes=n_probes) for w in weights_list
    ]
    out: list[list[int]] = []
    for i in range(len(x)):
        row: list[int] = []
        for band, codes in enumerate(per_band):
            off = band << n_bits
            row.extend(off | c for c in codes[i])
        out.append(row)
    return out


def make_multiband_code_udf(
    weights_list: list[dict[str, np.ndarray]], n_probes: int = 1
):
    """pandas_udf: array<float> embedding -> array<bigint> probe buckets
    across ALL bands (band-offset; see multiband_codes_numpy)."""
    wl = [
        {"W": w["W"].astype(np.float64), "b": w["b"].astype(np.float64)}
        for w in weights_list
    ]
    h = wl[0]["W"].shape[1]
    if any(w["W"].shape[1] != h for w in wl):
        raise ValueError("all bands must share n_bits (the bucket offset)")
    if n_probes > (1 << h):
        raise ValueError(f"n_probes={n_probes} exceeds 2^n_bits={1 << h}")

    @pandas_udf(ArrayType(LongType()))
    def codes(vecs: pd.Series) -> pd.Series:
        out = np.empty(len(vecs), dtype=object)
        ok = [i for i, v in enumerate(vecs) if v is not None]
        if ok:
            m = np.stack([np.asarray(vecs.iloc[i], dtype=np.float64) for i in ok])
            rows = multiband_codes_numpy(m, wl, n_probes=n_probes)
            for j, i in enumerate(ok):
                out[i] = rows[j]
        return pd.Series(out)

    return codes


def _pack_bits_msb(bits: np.ndarray) -> np.ndarray:
    """(n, h) 0/1 -> (n,) int64, MSB-first: out = (out << 1) | bit — the
    exact semantics of the reference's Cython bit-pack."""
    h = bits.shape[1]
    weights = 1 << np.arange(h - 1, -1, -1, dtype=np.int64)
    return (bits.astype(np.int64) * weights).sum(axis=1)


def hash_codes_numpy(
    x: np.ndarray, weights: dict[str, np.ndarray], n_probes: int = 1
) -> list[list[int]]:
    """(n, d) -> per-row list of probe codes (first = hard code). Extra
    probes flip subsets of the least-confident bits, gray-code order."""
    p = _sigmoid(x @ weights["W"] + weights["b"])
    bits = (p > 0.5).astype(np.int64)
    base = _pack_bits_msb(bits)
    h = bits.shape[1]
    if n_probes <= 1:
        return [[int(c)] for c in base]
    conf_order = np.argsort(np.abs(p - 0.5), axis=1)  # least confident first
    out = []
    for i in range(len(base)):
        codes = [int(base[i])]
        # flip combinations in increasing uncertainty-cost order
        for mask in range(1, n_probes):
            flip = 0
            mm, j = mask, 0
            while mm:
                if mm & 1:
                    bitpos = h - 1 - int(conf_order[i, j])  # MSB-first weight
                    flip |= 1 << bitpos
                mm >>= 1
                j += 1
            codes.append(int(base[i]) ^ flip)
        out.append(codes[:n_probes])
    return out


def make_learned_code_udf(weights: dict[str, np.ndarray], n_probes: int = 1):
    """pandas_udf: array<float> embedding -> array<bigint> probe codes.

    `weights` is captured by value and shipped once per task via Spark's
    broadcast-on-pickle; the per-batch work is one matmul."""
    w = weights["W"].astype(np.float64)
    b = weights["b"].astype(np.float64)
    h = w.shape[1]
    if n_probes > (1 << h):
        raise ValueError(
            f"n_probes={n_probes} exceeds 2^n_bits={1 << h}: an h-bit code "
            "only has 2^h distinct probes"
        )

    @pandas_udf(ArrayType(LongType()))
    def codes(vecs: pd.Series) -> pd.Series:
        out = np.empty(len(vecs), dtype=object)
        ok = [i for i, v in enumerate(vecs) if v is not None]
        if ok:
            m = np.stack([np.asarray(vecs.iloc[i], dtype=np.float64) for i in ok])
            probe_lists = hash_codes_numpy(m, {"W": w, "b": b}, n_probes)
            for j, i in enumerate(ok):
                out[i] = probe_lists[j]
        return pd.Series(out)

    return codes
