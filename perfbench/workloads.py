"""Seeded workload generator and exact reference for the dedup benchmark.

Every workload is a pages table (doc_id, url, text) of Zipfian token soup
plus planted duplicate groups: either the repo's default web mix
(``datagen.generate_pages`` and its truth table) or this module's own
generator, whose knobs the default mix lacks (doc length, shares, mega
groups sized against the bucket cap). The generator knows which docs it
planted together, so the reference near-duplicate graph is computed
exactly (64-bit shingle hashes, Jaccard >= TAU) inside planted groups
only; docs from different groups share essentially no 5-gram.

Outputs are cached per (workload, seed, spec) under the cache directory:
generation and the reference never count towards a metric.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from neural_locality_sensitive_hashing_spark import datagen

# Fixed by the benchmark, not read from the program's config: the inputs
# and the reference must not move when a change retunes the engine.
K = 5  # tokens per shingle
TAU = 0.7  # near-duplicate Jaccard threshold
CAP = 256  # bucket_pair_cap the mega-group sizes are expressed against
VOCAB = 50_000
_VOCAB_STR = [f"w{i:05d}" for i in range(VOCAB)]
_CACHE_KEEP = 6  # cached (workload, seed) entries kept per checkout


@dataclass(frozen=True)
class Spec:
    """Knobs of one workload. Shares are of ``n_docs``; the rest is unique.
    With ``web_mix`` the pages come from ``datagen.generate_pages`` and the
    mix knobs are unused."""

    name: str
    why: str
    n_docs: int
    web_mix: bool = False
    doc_len: tuple[int, int] = (0, 0)  # token count range of unique / near-dup docs
    neardup_share: float = 0.0
    exact_share: float = 0.0
    group_size: tuple[int, int] = (2, 2)  # near-dup group size range
    mut_rates: tuple[float, ...] = ()  # per-group token mutation rate choices
    boiler_share: float = 0.0  # boilerplate docs, split over mega groups
    mega_groups: int = 0
    template_len: int = 80  # boilerplate template tokens (J >= 0.767)
    batches: int = 0  # > 0: fed as this many equal micro-batches
    compact_every: int = 0  # stream: compact the stores every N batches

    @property
    def mega_size(self) -> int:
        return int(self.n_docs * self.boiler_share) // max(self.mega_groups, 1)

    @property
    def mega_size_x_cap(self) -> float:
        return self.mega_size / CAP

    def scaled(self, f: float) -> "Spec":
        """Same mix at ``f`` times the docs (smoke tests)."""
        return dataclasses.replace(self, n_docs=max(int(self.n_docs * f), 40))

    def fingerprint(self) -> str:
        blob = json.dumps(dataclasses.asdict(self), sort_keys=True)
        return hashlib.sha1(f"{blob}|{K}|{TAU}|{VOCAB}".encode()).hexdigest()[:10]


WORKLOADS: dict[str, Spec] = {
    s.name: s
    for s in (
        Spec(
            name="longdoc_crawl",
            why="long, mostly unique pages: signatures dominate; join-side verify",
            n_docs=2_000,
            doc_len=(1_500, 3_000),
            neardup_share=0.08,
            exact_share=0.02,
            group_size=(2, 4),
            mut_rates=(0.01, 0.03, 0.2),
        ),
        Spec(
            name="dup_skew",
            why="short dup-heavy pages with mega groups over the bucket cap: "
            "candidates, broadcast verify and union-find dominate",
            n_docs=18_000,
            doc_len=(40, 120),
            neardup_share=0.35,
            exact_share=0.15,
            group_size=(2, 20),
            mut_rates=(0.01, 0.05, 0.15, 0.3),
            boiler_share=0.25,
            mega_groups=3,
        ),
        Spec(
            name="stream_ingest",
            why="default web mix as equal micro-batches through the incremental "
            "deduper, compaction on: per-batch fixed cost and store growth",
            n_docs=600,
            web_mix=True,
            batches=4,
            compact_every=2,
        ),
    )
}


# -- generation ---------------------------------------------------------------


class _Tokens:
    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        p = 1.0 / np.arange(1, VOCAB + 1) ** 1.07
        self.cdf = np.cumsum(p / p.sum())

    def draw(self, n: int) -> np.ndarray:
        return np.minimum(
            np.searchsorted(self.cdf, self.rng.random(n)), VOCAB - 1
        ).astype(np.int32)

    def length(self, lo_hi: tuple[int, int]) -> int:
        return int(self.rng.integers(lo_hi[0], lo_hi[1] + 1))

    def mutate(self, toks: np.ndarray, rate: float) -> np.ndarray:
        """Token replacement (0.6 rate), deletion and insertion (0.2 each)."""
        rng = self.rng
        out = toks.copy()
        repl = rng.random(len(out)) < rate * 0.6
        out[repl] = self.draw(int(repl.sum()))
        out = out[rng.random(len(out)) >= rate * 0.2]
        n_ins = int(rate * 0.2 * len(toks))
        if n_ins and len(out):
            out = np.insert(out, rng.integers(0, len(out), n_ins), self.draw(n_ins))
        return out if len(out) >= K else toks.copy()


def generate(spec: Spec, seed: int) -> tuple[list[np.ndarray], np.ndarray]:
    """-> (token arrays in doc_id order, planted group id per doc)."""
    if spec.web_mix:
        return _web_mix(spec.n_docs, seed)
    rng = np.random.default_rng([seed, int(spec.fingerprint(), 16)])
    tk = _Tokens(rng)
    docs: list[np.ndarray] = []
    groups: list[int] = []
    gid = 0

    def add(toks: np.ndarray, g: int) -> None:
        docs.append(toks)
        groups.append(g)

    n_near = int(spec.n_docs * spec.neardup_share)
    n_exact = int(spec.n_docs * spec.exact_share)

    for _ in range(spec.mega_groups):
        # one token replaced per member: every pair keeps >= 66 of 76
        # template shingles, so J >= 66/86 > TAU and the group is one
        # reference component however LSH splits its buckets
        template = tk.draw(spec.template_len)
        for _ in range(spec.mega_size):
            m = template.copy()
            m[int(rng.integers(0, len(m)))] = tk.draw(1)[0]
            add(m, gid)
        gid += 1
    made = 0
    while made < n_near:
        size = min(int(rng.integers(spec.group_size[0], spec.group_size[1] + 1)), n_near - made)
        if size < 2:
            break
        base = tk.draw(tk.length(spec.doc_len))
        rate = spec.mut_rates[int(rng.integers(0, len(spec.mut_rates)))]
        add(base, gid)
        for _ in range(size - 1):
            add(tk.mutate(base, rate), gid)
        gid += 1
        made += size
    made = 0
    while made < n_exact:
        size = min(int(rng.integers(2, 6)), n_exact - made)
        if size < 2:
            break
        base = tk.draw(tk.length(spec.doc_len))
        for _ in range(size):
            add(base, gid)
        gid += 1
        made += size
    while len(docs) < spec.n_docs:
        add(tk.draw(tk.length(spec.doc_len)), gid)
        gid += 1

    perm = rng.permutation(len(docs))
    return [docs[i] for i in perm], np.asarray(groups, dtype=np.int64)[perm]


def _web_mix(n_docs: int, seed: int) -> tuple[list[np.ndarray], np.ndarray]:
    """The default web mix: tokens from ``text.split()``, groups from the
    truth table. datagen draws from the same ``w%05d`` vocabulary, so
    ``texts`` rebuilds its texts byte for byte."""
    pages, truth = datagen.generate_pages(n_docs, seed)
    raw = pages.column("text").to_pylist()
    docs = [np.array([int(t[1:]) for t in s.split()], dtype=np.int32) for s in raw]
    if texts(docs) != raw:
        raise ValueError("datagen's vocabulary no longer matches the benchmark's")
    return docs, truth.column("group_id").to_numpy()


def texts(docs: list[np.ndarray]) -> list[str]:
    return [" ".join(_VOCAB_STR[t] for t in d.tolist()) for d in docs]


# -- exact reference ----------------------------------------------------------

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)


def _mix(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * _M1
        x = (x ^ (x >> np.uint64(27))) * _M2
        return x ^ (x >> np.uint64(31))


def shingles(toks: np.ndarray) -> np.ndarray:
    """Distinct 64-bit hashes of the doc's K-token shingles (whole doc when
    shorter than K) — the set the engine's Jaccard is defined over."""
    t = toks.astype(np.uint64) + np.uint64(1)
    if len(t) < K:
        acc = np.zeros(1, dtype=np.uint64)
        for v in t:
            acc = _mix(acc ^ v)
        return acc
    m = len(t) - K + 1
    acc = np.zeros(m, dtype=np.uint64)
    for j in range(K):
        acc = _mix(acc ^ t[j : j + m])
    return np.unique(acc)


def _group_pairs(sets: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Exact pairwise Jaccard inside one group -> local (i, j) with J >= TAU.
    Only shingles held by >= 2 members can intersect, so the member x
    shared-shingle matrix stays narrow even for mega groups."""
    m = len(sets)
    lens = np.array([len(s) for s in sets], dtype=np.int64)
    owner = np.repeat(np.arange(m), lens)
    _, inv, counts = np.unique(np.concatenate(sets), return_inverse=True, return_counts=True)
    shared = counts[inv] >= 2
    col = np.unique(inv[shared], return_inverse=True)[1]
    mat = np.zeros((m, int(col.max()) + 1 if len(col) else 1), dtype=np.float32)
    mat[owner[shared], col] = 1.0
    inter = mat @ mat.T  # exact: integer counts far below 2^24
    i, j = np.triu_indices(m, 1)
    jac = inter[i, j] / (lens[i] + lens[j] - inter[i, j])
    keep = jac >= TAU
    return i[keep], j[keep]


@dataclass
class Reference:
    """Reference near-dup graph: explicit pairs for partial groups, member
    lists for groups where every pair qualifies, and component labels
    (min doc_id of the component) per doc."""

    pairs: np.ndarray  # (p, 2) doc ids
    complete: list[np.ndarray]
    labels: np.ndarray

    @property
    def n_pairs(self) -> int:
        return len(self.pairs) + sum(len(g) * (len(g) - 1) // 2 for g in self.complete)


def reference(docs: list[np.ndarray], groups: np.ndarray) -> Reference:
    order = np.argsort(groups, kind="stable")
    bounds = np.flatnonzero(np.diff(groups[order])) + 1
    pairs, complete = [], []
    labels = np.arange(len(docs), dtype=np.int64)
    for members in np.split(order, bounds):
        if len(members) < 2:
            continue
        members = np.sort(members)
        i, j = _group_pairs([shingles(docs[d]) for d in members])
        if len(i) == len(members) * (len(members) - 1) // 2:
            complete.append(members)
            labels[members] = members[0]
        elif len(i):
            pairs.append(np.stack([members[i], members[j]], axis=1))
    pairs_arr = np.concatenate(pairs) if pairs else np.empty((0, 2), dtype=np.int64)
    if len(pairs_arr):
        a, b = pairs_arr[:, 0], pairs_arr[:, 1]
        while True:  # min-label propagation to the fixpoint
            lo = np.minimum(labels[a], labels[b])
            nxt = labels.copy()
            np.minimum.at(nxt, a, lo)
            np.minimum.at(nxt, b, lo)
            nxt = nxt[nxt]
            if np.array_equal(nxt, labels):
                break
            labels = nxt
    return Reference(pairs_arr, complete, labels)


# -- scoring ------------------------------------------------------------------


def dup_recall(ref: Reference, out: np.ndarray) -> float:
    """Share of reference pairs whose two docs share an output cluster."""
    hit = int(np.count_nonzero(out[ref.pairs[:, 0]] == out[ref.pairs[:, 1]]))
    for g in ref.complete:
        c = np.unique(out[g], return_counts=True)[1]
        hit += int((c * (c - 1) // 2).sum())
    return hit / ref.n_pairs if ref.n_pairs else 1.0


def cluster_agreement(ref: Reference, out: np.ndarray) -> float:
    """Share of docs whose output cluster equals their reference component."""
    def sizes(keys: np.ndarray) -> np.ndarray:
        _, inv, cnt = np.unique(keys, return_inverse=True, return_counts=True, axis=0)
        return cnt[inv.reshape(-1)]

    joint = sizes(np.stack([out, ref.labels], axis=1))
    ok = (joint == sizes(out)) & (joint == sizes(ref.labels))
    return float(np.count_nonzero(ok)) / len(out)


# -- cache --------------------------------------------------------------------


@dataclass
class Inputs:
    spec: Spec
    seed: int
    dir: str
    pages: str  # parquet path of the whole table
    batch_paths: list[str]  # stream workloads: the table split into batches
    ref: Reference

    @property
    def n_docs(self) -> int:
        """Docs generated; the web mix can come out a few short of
        ``spec.n_docs`` (datagen drops a near-dup group remainder of one)."""
        return len(self.ref.labels)


def prepare(spec: Spec, seed: int, cache_root: str) -> Inputs:
    """Generate (or reuse) pages, truth sidecar and reference for one seed."""
    d = os.path.join(cache_root, f"{spec.name}-{seed}-{spec.fingerprint()}")
    pages = os.path.join(d, "pages.parquet")
    batch_paths = [os.path.join(d, f"batch-{b:03d}.parquet") for b in range(spec.batches)]
    ref_path = os.path.join(d, "reference.npz")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        docs, groups = generate(spec, seed)
        ref = reference(docs, groups)
        ids = np.arange(len(docs), dtype=np.int64)
        table = pa.table(
            {
                "doc_id": ids,
                "url": [f"https://site{i % 97}.example/p/{i}" for i in range(len(docs))],
                "text": texts(docs),
            }
        )
        pq.write_table(table, pages, row_group_size=max(256, len(docs) // 32))
        pq.write_table(pa.table({"doc_id": ids, "group_id": groups}), os.path.join(d, "truth.parquet"))
        for b, chunk in enumerate(np.array_split(ids, spec.batches) if spec.batches else []):
            pq.write_table(table.take(pa.array(chunk)), batch_paths[b])
        np.savez(
            ref_path,
            pairs=ref.pairs,
            labels=ref.labels,
            complete=np.concatenate(ref.complete) if ref.complete else np.empty(0, np.int64),
            complete_sizes=np.array([len(g) for g in ref.complete], dtype=np.int64),
        )
        open(os.path.join(d, "DONE"), "w").close()
        _prune(cache_root)
    z = np.load(ref_path)
    complete = np.split(z["complete"], np.cumsum(z["complete_sizes"])[:-1]) if len(z["complete_sizes"]) else []
    ref = Reference(z["pairs"], list(complete), z["labels"])
    os.utime(d)
    return Inputs(spec, seed, d, pages, batch_paths, ref)


def _prune(cache_root: str) -> None:
    entries = sorted(
        (os.path.join(cache_root, e) for e in os.listdir(cache_root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in entries[_CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
