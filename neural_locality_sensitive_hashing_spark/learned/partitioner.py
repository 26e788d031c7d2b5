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


def train_partitioner(
    x: np.ndarray,
    n_bits: int = 16,
    epochs: int = 60,
    lr: float = 0.05,
    margin: float = 1.0,
    balance_weight: float = 0.5,
    seed: int = 42,
    negative_mode: str = "random",
    pos_mask_k: int = 8,
    objective: str = "contrastive",
    label_bernoulli_p: float | None = None,
    batch_size: int | None = None,
) -> dict[str, np.ndarray]:
    """Fit (W, b) on a sample matrix x (n, d). Positive pairs = exact
    nearest neighbor of each row within the sample (the reference's
    precomputed self-kNN, ``precompute.py:57-67``). Negatives: ``random``
    draws uniform rows per epoch; ``hardest`` mines the closest
    non-positive row in the CURRENT code space each epoch — the
    reference's masked-argmin hard-negative mining
    (``nlsh/trainers/triplet.py:44-74``); the mask covers the data-space
    top-``pos_mask_k`` neighborhood (the reference masks its precomputed
    kNN set) so likely-positives are never mined as negatives. Adam with
    AMSGrad, mirroring the reference's fit loop
    (``nlsh/trainers/base.py:68-79``).

    ``objective``:
      * ``contrastive`` (default) — independent pull ||p_a − p_pos||² +
        hinge push on negatives (siamese semantics,
        ``nlsh/trainers/siamese.py:9-20``).
      * ``triplet`` — the reference's actual shared-anchor form
        (``nlsh/trainers/triplet.py:16-26``):
        mean(clamp(d(a,p) − d(a,n) + margin, 0)) on code probabilities;
        both terms gate on the SAME per-anchor hinge activity.

    ``label_bernoulli_p`` (R4, ``nlsh/trainers/siamese.py:45-46``): when
    set, each anchor draws label ~ Bernoulli(p) per epoch and contributes
    ONLY its pull term (label=1) or ONLY its push term (label=0) — the
    reference's sampled-label contrastive batch construction. Contrastive
    objective only.

    ``batch_size`` (R1+R6, ``nlsh/trainers/triplet.py:104-108``): when
    set, each epoch visits the sample in a fresh random PERMUTATION and
    takes one Adam step per minibatch — the reference's shuffled
    epoch-iteration; ``None`` (default) keeps the original full-batch
    step (one gradient per epoch, order-independent), bit-identical to
    previous rounds. Deliberate divergence from the reference: the
    trailing partial batch IS trained on (the reference's
    ``n_batches = len // batch_size`` drops it, wasting up to
    batch_size-1 samples per epoch); the balance term keeps its
    full-batch per-step magnitude (see the in-step comment: per-step
    gradient mix is the invariant Adam responds to — measured)."""
    if objective not in ("contrastive", "triplet"):
        raise ValueError(f"unknown objective {objective!r}")
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
    t = 0
    rows = np.arange(n)
    if negative_mode == "hardest":
        # data-space likely-positive mask: self + top-k cosine neighbors
        k_mask = min(pos_mask_k, n - 2)
        near = np.argpartition(-sim, k_mask, axis=1)[:, :k_mask]

    def adam_step(anchors: np.ndarray, neg_a: np.ndarray) -> None:
        """One gradient step with the given anchor rows (full sample or a
        minibatch). Codes are evaluated for ALL rows (pos/neg partners may
        fall outside the batch); the balance term always averages the full
        sample, as in the full-batch form."""
        nonlocal w, b, t, mw, vw, vw_hat, mb, vb, vb_hat
        m = len(anchors)
        z = xn @ w + b
        p = _sigmoid(z)
        dp = np.zeros_like(p)

        diff_p = p[anchors] - p[pos[anchors]]
        diff_n = p[anchors] - p[neg_a]
        if objective == "triplet":
            # shared-anchor hinge: clamp(d(a,p) - d(a,n) + margin, 0) —
            # one activity gate drives BOTH the pull and the push
            dist_p = (diff_p**2).sum(axis=1)
            dist_n = (diff_n**2).sum(axis=1)
            active = (dist_p - dist_n + margin > 0).astype(np.float64)[:, None]
            np.add.at(dp, anchors, (2 * diff_p - 2 * diff_n) * active / m)
            np.add.at(dp, pos[anchors], -2 * diff_p * active / m)
            np.add.at(dp, neg_a, 2 * diff_n * active / m)
        else:
            if label_bernoulli_p is not None:
                lbl = (rng.random(m) < label_bernoulli_p).astype(np.float64)[:, None]
            else:
                lbl = None
            # pull: ||p_i - p_pos||^2
            pull_g = 2 * diff_p / m if lbl is None else 2 * diff_p * lbl / m
            np.add.at(dp, anchors, pull_g)
            np.add.at(dp, pos[anchors], -pull_g)
            # push: max(0, margin - ||p_i - p_neg||^2)
            dist_n = (diff_n**2).sum(axis=1)
            active = (dist_n < margin).astype(np.float64)[:, None]
            if lbl is not None:
                active = active * (1.0 - lbl)
            np.add.at(dp, anchors, -2 * diff_n * active / m)
            np.add.at(dp, neg_a, 2 * diff_n * active / m)
        # balance: (mean_i p_ik - 0.5)^2 per bit, averaged over the FULL
        # sample, UNSCALED in minibatch mode — deliberately. The per-STEP
        # gradient mix is what Adam (normalized step sizes) responds to,
        # and it already matches the full-batch form: the pair terms are
        # per-anchor means (/m) and the balance term a full-sample mean
        # (/n) in both modes. The per-EPOCH-total argument ("balance
        # accrues n/batch_size times per epoch") would instead scale this
        # by m/n — measured (n=1024, batch 32, anisotropic sample), that
        # scale UNDER-weights the regularizer and lets codes drift to
        # hot/cold buckets: mean per-bit imbalance 0.041-0.056 scaled vs
        # 0.009-0.013 full-batch, restored to ~0.0095 unscaled.
        mean_p = p.mean(axis=0)
        dp += balance_weight * 2 * (mean_p - 0.5)[None, :] / n

        dz = dp * p * (1 - p)
        gw = xn.T @ dz
        gb = dz.sum(axis=0)

        t += 1
        mw = beta1 * mw + (1 - beta1) * gw
        vw = beta2 * vw + (1 - beta2) * gw**2
        vw_hat = np.maximum(vw_hat, vw)  # amsgrad
        w -= lr * (mw / (1 - beta1**t)) / (np.sqrt(vw_hat / (1 - beta2**t)) + eps)
        mb = beta1 * mb + (1 - beta1) * gb
        vb = beta2 * vb + (1 - beta2) * gb**2
        vb_hat = np.maximum(vb_hat, vb)
        b -= lr * (mb / (1 - beta1**t)) / (np.sqrt(vb_hat / (1 - beta2**t)) + eps)

    for _ in range(epochs):
        if negative_mode == "hardest":
            # mine in the current code-probability space: nearest row
            # outside the likely-positive neighborhood (masked argmin)
            p_cur = _sigmoid(xn @ w + b)
            sq = (p_cur**2).sum(axis=1)
            d2 = sq[:, None] + sq[None, :] - 2.0 * (p_cur @ p_cur.T)  # (n, n)
            d2[rows, rows] = np.inf
            d2[rows[:, None], near] = np.inf
            neg = d2.argmin(axis=1)
        else:
            neg = rng.integers(0, n, size=n)
        if batch_size is None:
            adam_step(rows, neg)
        else:
            # R1: fresh permutation per epoch; R6: one step per minibatch
            perm = rng.permutation(n)
            for i in range(0, n, batch_size):
                anchors = perm[i : i + batch_size]
                adam_step(anchors, neg[anchors])

    return {"W": w.astype(np.float64), "b": b.astype(np.float64)}


def train_multiband_partitioner(
    x: np.ndarray,
    n_bands: int = 4,
    n_bits: int = 10,
    seed: int = 42,
    feature_bag_frac: float | None = None,
    **train_kwargs,
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
            sub = train_partitioner(
                x[:, cols], n_bits=n_bits, seed=seed + band, **train_kwargs
            )
            w_full = np.zeros((d, n_bits))
            w_full[cols] = sub["W"]
            out.append({"W": w_full, "b": sub["b"]})
        else:
            out.append(
                train_partitioner(x, n_bits=n_bits, seed=seed + band, **train_kwargs)
            )
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
