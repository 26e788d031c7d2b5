"""Deterministic synthetic Common-Crawl-style webtext generator.

Produces the exact ``input_hint`` schema:
    pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)
plus the golden sidecar:
    truth_groups(doc_id BIGINT, group_id BIGINT, mutation_rate DOUBLE, kind STRING)

``doc_id`` is the row position in the (shuffled) pages table; tests derive
it via ``row_number``-free zip (monotonic position is written as a column
``doc_id`` too, for joinability).

Content recipe (FIXTURES.md §1): ~55% unique Zipfian token soup, ~25%
near-duplicate groups (sizes 2-20, mutation rates 1/5/15/30%), ~10% exact
duplicates, ~5% one boilerplate mega-group (the planted skew bucket), ~5%
long-repeat pairs (shared verbatim block, low global Jaccard — MinHash-
invisible, suffix-pass targets).

Everything is seeded (`numpy.random.default_rng(seed)`); no wall clock, no
network. ``html`` is built by the exact inverse of the engine's extractor
(functions/text.py), making ``extract_text(html) == text`` byte-identical.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 50_000
_EPOCH_2025 = np.datetime64("2025-01-01T00:00:00", "us")


def _escape(text: str) -> str:
    """Python mirror of functions.text.escape_html_text (same order)."""
    for ch, ent in [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"), ("'", "&#39;")]:
        text = text.replace(ch, ent)
    return text


def _make_html(site: int, idx: int, text: str) -> bytes:
    return (
        f"<html><head><title>site{site} page {idx}</title></head><body>"
        f"<header>site{site} navigation boilerplate menu</header>"
        f"<main><p>{_escape(text)}</p></main>"
        f"<footer>copyright site{site} footer links</footer></body></html>"
    ).encode("utf-8")


class _Zipf:
    def __init__(self, rng: np.random.Generator, vocab_size: int = VOCAB_SIZE):
        self.rng = rng
        self.vocab = np.array([f"w{i:05d}" for i in range(vocab_size)])
        p = 1.0 / np.arange(1, vocab_size + 1) ** 1.07
        self.cdf = np.cumsum(p / p.sum())

    def tokens(self, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, self.rng.random(n))
        return self.vocab[idx]


def _mutate(rng: np.random.Generator, toks: np.ndarray, rate: float, z: _Zipf) -> np.ndarray:
    """Seeded token replacement / insertion / deletion at ~`rate`."""
    n = len(toks)
    out = toks.copy()
    repl = rng.random(n) < rate * 0.6
    out[repl] = z.tokens(int(repl.sum()))
    keep = rng.random(n) >= rate * 0.2  # deletions
    out = out[keep]
    n_ins = int(rate * 0.2 * n)
    if n_ins > 0 and len(out) > 0:
        pos = rng.integers(0, len(out), n_ins)
        out = np.insert(out, pos, z.tokens(n_ins))
    return out


def generate_pages(
    n_docs: int,
    seed: int = 42,
    doc_len_lo: int = 50,
    doc_len_hi: int = 600,
) -> tuple[pa.Table, pa.Table]:
    """-> (pages arrow table, truth_groups arrow table)."""
    rng = np.random.default_rng(seed)
    z = _Zipf(rng)

    texts: list[str] = []
    group_ids: list[int] = []
    rates: list[float] = []
    kinds: list[str] = []
    next_group = 0

    def add(tok_arr: np.ndarray, gid: int, rate: float, kind: str) -> None:
        texts.append(" ".join(tok_arr.tolist()))
        group_ids.append(gid)
        rates.append(rate)
        kinds.append(kind)

    n_unique = int(n_docs * 0.55)
    n_neardup = int(n_docs * 0.25)
    n_exact = int(n_docs * 0.10)
    n_boiler = max(int(n_docs * 0.05), 3)
    n_longrep = n_docs - n_unique - n_neardup - n_exact - n_boiler

    # 55% unique token soup
    for _ in range(n_unique):
        ln = int(rng.integers(doc_len_lo, doc_len_hi + 1))
        add(z.tokens(ln), next_group, 0.0, "unique")
        next_group += 1

    # 25% near-duplicate groups, sizes 2-20, mutation rates across the
    # Jaccard threshold so recall is non-trivial
    made = 0
    mut_rates = [0.01, 0.05, 0.15, 0.30]
    while made < n_neardup:
        size = int(rng.integers(2, 21))
        size = min(size, n_neardup - made)
        if size < 2:
            break
        ln = int(rng.integers(doc_len_lo, doc_len_hi + 1))
        base = z.tokens(ln)
        rate = mut_rates[int(rng.integers(0, len(mut_rates)))]
        add(base, next_group, 0.0, "neardup")
        for _ in range(size - 1):
            add(_mutate(rng, base, rate, z), next_group, rate, "neardup")
        next_group += 1
        made += size

    # 10% exact duplicates (identical text, different url)
    made = 0
    while made < n_exact:
        size = int(rng.integers(2, 6))
        size = min(size, n_exact - made)
        if size < 2:
            break
        ln = int(rng.integers(doc_len_lo, doc_len_hi + 1))
        base = z.tokens(ln)
        for _ in range(size):
            add(base, next_group, 0.0, "exact")
        next_group += 1
        made += size

    # 5% boilerplate mega-group: one short template, one token replaced
    boiler_base = z.tokens(30)
    boiler_gid = next_group
    next_group += 1
    for _ in range(n_boiler):
        m = boiler_base.copy()
        m[int(rng.integers(0, len(m)))] = z.tokens(1)[0]
        add(m, boiler_gid, 0.0, "boilerplate")

    # 5% long-repeat pairs: shared >=128-token verbatim block, low global J
    block_len = 128
    made = 0
    while made + 2 <= max(n_longrep, 0):
        block = z.tokens(block_len)
        for _ in range(2):
            uniq = z.tokens(int(rng.integers(900, 1200)))
            add(np.concatenate([uniq, block]), next_group, 0.0, "longrepeat")
        next_group += 1
        made += 2
    while made < n_longrep:  # odd remainder -> unique filler
        ln = int(rng.integers(doc_len_lo, doc_len_hi + 1))
        add(z.tokens(ln), next_group, 0.0, "unique")
        next_group += 1
        made += 1

    n = len(texts)
    perm = rng.permutation(n)
    texts_arr = np.array(texts, dtype=object)[perm]
    gids = np.array(group_ids, dtype=np.int64)[perm]
    rates_arr = np.array(rates, dtype=np.float64)[perm]
    kinds_arr = np.array(kinds, dtype=object)[perm]

    sites = rng.integers(0, 97, n)
    urls = [f"https://site{sites[i]}.example/p/{i}" for i in range(n)]
    htmls = [_make_html(int(sites[i]), i, texts_arr[i]) for i in range(n)]
    ts = _EPOCH_2025 + rng.integers(0, 365 * 24 * 3600, n).astype("timedelta64[s]").astype(
        "timedelta64[us]"
    )
    lang_pool = np.array(["en"] * 9 + ["de", "fr", "es"], dtype=object)
    langs = lang_pool[rng.integers(0, len(lang_pool), n)]

    pages = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts_arr.tolist(), pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
        }
    )
    truth = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "group_id": pa.array(gids),
            "mutation_rate": pa.array(rates_arr),
            "kind": pa.array(kinds_arr.tolist(), pa.string()),
        }
    )
    return pages, truth


def write_pages_dataset(out_dir: str, n_docs: int, seed: int = 42) -> tuple[str, str]:
    """Write pages.parquet + truth_groups.parquet under out_dir (idempotent
    cache: skipped when both files already exist)."""
    os.makedirs(out_dir, exist_ok=True)
    pages_path = os.path.join(out_dir, "pages.parquet")
    truth_path = os.path.join(out_dir, "truth_groups.parquet")
    if os.path.exists(pages_path) and os.path.exists(truth_path):
        return pages_path, truth_path
    pages, truth = generate_pages(n_docs, seed)
    # small row groups so a single local file still splits across ~64 scan
    # tasks (a partition only reads row groups that START inside its byte
    # range — 8 giant row groups would cap scan parallelism at 8 tasks)
    row_group = max(512, min(n_docs // 64, 8 * 1024))
    pq.write_table(pages, pages_path, row_group_size=row_group)
    pq.write_table(truth, truth_path)
    return pages_path, truth_path
