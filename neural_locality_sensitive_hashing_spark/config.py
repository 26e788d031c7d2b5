"""Engine configuration.

Mirrors the reference's canonical knobs (hash_size=12 → 4096 buckets,
K=10, multi-probe count — ``main.py:268-366`` of the reference) re-expressed
for the MinHash-LSH dedup pipeline: 128 permutations split into 32 bands x
4 rows. S-curve: P(collide) = 1 - (1 - j^r)^b → at the verify threshold
j=0.7 the miss probability is (1-0.7^4)^32 ≈ 1.5e-4, comfortably inside the
dup-pair recall ≥ 0.99 target; at j=0.5 the false-candidate rate is ~87%
*among genuinely similar pairs only* — random web pairs (j≈0) almost never
collide, and the exact-Jaccard verify removes sub-threshold survivors.
This matches the reference's "near neighbors collide, far points don't"
objective (``nlsh/trainers/proposed.py:96-118``) with the balance knob
moved from a learned loss to the (b, r) split.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class DedupConfig:
    # shingling
    shingle_k: int = 5  # tokens per shingle

    # MinHash
    num_perm: int = 128
    minhash_seed: int = 42

    # LSH banding: num_bands * rows_per_band must equal num_perm
    num_bands: int = 32
    rows_per_band: int = 4

    # verification
    jaccard_threshold: float = 0.7

    # shingle hash width (bytes of the binary `sh` representation): 8 =
    # full 64-bit (exact, oracle-replayable); 4 = truncated 32-bit —
    # halves the verify gather bytes; per-pair Jaccard perturbation is
    # O(|A||B|/2^32) ≈ 1e-5 for web pages (cross-doc accidental matches)
    shingle_hash_bytes: int = 8

    # exact-verify physical strategy gate (r10, guide §3.2/§8 "decide with
    # small rows, broadcast what fits"): corpora at or under this many
    # docs verify candidate pairs against a BROADCAST (id -> shingle-set)
    # table inside one mapInArrow — the two per-pair gather joins (which
    # ship the full sets per candidate through Arrow) disappear. Sized so
    # the flat set table stays ~100s of MB per Python worker (~700 B/doc
    # web text; longer docs stop at the 256 MiB set-byte ceiling,
    # operators/dedup.py ``_BCAST_MAX_SH_BYTES``); 0 disables. Past the
    # gate the join-based verify shape is unchanged — the values are
    # identical either way (same kernel math).
    # The floor is the measured crossover: the broadcast build pays two
    # fixed driver-side jobs (count + set-table collect, ~0.15 s), which
    # outweigh the join savings on corpora where the whole verify is
    # overhead-bound (interleaved A/B at 5k docs: 1.79 vs 1.71 s median
    # against the join path; at 50k docs: 4.4 vs 6.6 s FOR it).
    verify_broadcast_min_docs: int = 16_000
    verify_broadcast_max_docs: int = 300_000

    # skew handling: buckets larger than this emit a sorted chain of
    # consecutive pairs instead of all O(n^2) pairs (connectivity-preserving)
    bucket_pair_cap: int = 256

    # batch candidate physical strategy: "grouped" = one hash-agg exchange
    # with native pair emission (default); "windowed" = round-1 rank +
    # self-join (bounded per-row memory for degenerate buckets, one extra
    # exchange). Both emit the same pair set. One 10^7-member bucket at
    # local[4]: grouped 47.3 s, windowed 55.9 s at the default 8 GB driver
    # heap; at 2 GB grouped runs out of heap, windowed passes in 58.1 s
    # (candidates.py has the 10^6 numbers). A batch-only choice: grouped
    # is the stream's pass (candidates.candidate_pairs_incremental) with
    # no stored bands, and the stream always takes it.
    pair_strategy: str = "grouped"

    # connected components: label-propagation round budget, used only
    # above the driver union-find's byte ceiling (connected_components.py)
    max_cc_iterations: int = 50

    # suffix-array long-repeat pass
    long_repeat_min_tokens: int = 64

    def __post_init__(self) -> None:
        if self.num_bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"num_bands({self.num_bands}) * rows_per_band({self.rows_per_band})"
                f" != num_perm({self.num_perm})"
            )
        if self.shingle_hash_bytes not in (4, 8):
            raise ValueError("shingle_hash_bytes must be 4 or 8")

