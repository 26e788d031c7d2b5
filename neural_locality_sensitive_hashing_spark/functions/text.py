"""Text kernels: extraction, tokenization, shingling, quality, fingerprints.

All hot-path computation is either a native Catalyst expression (tokenize,
shingle, hash — JVM-side, whole-stage codegen) or a vectorized pandas UDF
(HTML extraction — Arrow-batched string ops, no per-row Python loop).

The shingling semantics mirror the reference's hash-code pipeline shape
(vector → code, ``nlsh/hashings.py:66-92``): here a document's "code
precursor" is its set of xxhash64'd k-token shingles; MinHash turns the
set into the fixed-width signature (see ``functions/minhash.py``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# HTML extraction (the per-row invariant: byte-identical text per url)
# ---------------------------------------------------------------------------

# The extractor contract is frozen: content of <main>...</main>, tags
# stripped, the five standard HTML entities unescaped (&amp; last so that
# escaped entities survive a round-trip). The datagen module writes HTML via
# the exact inverse, making `extract_text(html) == text` byte-identical —
# golden-tested in tests/test_text.py.
_MAIN_RE = r"(?s)<main>(.*?)</main>"
_TAG_RE = r"<[^>]+>"


def extract_text(html_col: Column) -> Column:
    """html BINARY -> extracted text STRING, deterministic and byte-stable.

    Implemented with native Catalyst string expressions (regexp_extract /
    regexp_replace / replace) so extraction stays JVM-side inside
    whole-stage codegen — no Python at all.
    """
    s = html_col.cast("string")
    body = F.regexp_extract(s, _MAIN_RE, 1)
    no_tags = F.regexp_replace(body, _TAG_RE, "")
    # unescape in fixed order, &amp; last
    out = no_tags
    for ent, ch in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def escape_html_text(text_col: Column) -> Column:
    """Inverse of the unescape step (used by datagen to build html)."""
    out = text_col
    for ch, ent in [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"), ("'", "&#39;")]:
        out = F.replace(out, F.lit(ch), F.lit(ent))
    return out


# ---------------------------------------------------------------------------
# Tokenization & shingling (native, codegen'd)
# ---------------------------------------------------------------------------


def tokens(text_col: Column) -> Column:
    """Whitespace tokenization -> array<string>, empty tokens dropped."""
    return F.filter(F.split(F.trim(text_col), r"\s+"), lambda t: t != F.lit(""))


def shingles(tokens_col: Column, k: int) -> Column:
    """k-token shingles (space-joined) -> array<string>.

    Documents shorter than k tokens yield a single whole-document shingle,
    so short docs still participate in dedup instead of silently dropping.

    Built from k *shifted array slices* zipped together — NOT a
    slice-per-position inside ``transform`` (that is O(n^2) element copies
    and runs ~300x slower; measured 324s vs <2s on 10k docs).
    """
    n = F.size(tokens_col)
    full = F.array(F.array_join(tokens_col, " "))
    m = n - F.lit(k) + 1
    shifted = [F.slice(tokens_col, F.lit(i + 1), m) for i in range(k)]
    zipped = F.arrays_zip(*shifted)
    grams = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(k)]))
    return F.when(n >= k, grams).otherwise(full)


def _rot_xor(acc: Column, h: Column) -> Column:
    """Overflow-free order-sensitive hash combine: rotl(acc, 7) ^ h.
    Bitwise ops only — safe under Spark's default ANSI mode."""
    rot = F.shiftleft(acc, 7).bitwiseOR(F.shiftrightunsigned(acc, 57))
    return rot.bitwiseXOR(h)


def shingle_set(text_col: Column, k: int) -> Column:
    """text -> distinct k-gram 64-bit hash set (array<bigint>).

    Rolling construction: hash every token once (one ``transform`` +
    ``xxhash64``), then fold k shifted slices of the token-hash array with
    a rotate-xor combine (k-1 ``zip_with`` passes, each O(n)). Equivalent
    set semantics to hashing the joined shingle strings (collisions
    ~2^-64), at O(n·k) instead of O(n^2·k).

    Docs shorter than k tokens contribute one whole-document shingle.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    h = F.transform(toks, lambda t: F.xxhash64(t))
    m = n - F.lit(k) + 1
    acc = F.slice(h, 1, m)
    for i in range(1, k):
        acc = F.zip_with(acc, F.slice(h, F.lit(i + 1), m), _rot_xor)
    return F.when(n >= k, F.array_distinct(acc)).otherwise(F.array(F.xxhash64(toks)))


# ---------------------------------------------------------------------------
# Text analysis kernels (training-data pipeline extras)
# ---------------------------------------------------------------------------


def token_count(text_col: Column) -> Column:
    return F.size(tokens(text_col))


# GPT-2-style pre-tokenization pattern, restricted to the subset with
# matching semantics in Java regex (Spark) and RE2 (DuckDB oracle):
# contraction pieces, optionally-space-prefixed letter runs, digit runs,
# and punctuation runs — no lookaround. Two deliberate deviations from
# GPT-2's count: (1) the original's `\s+(?!\S)`/`\s+` alternatives are
# dropped, so runs of 2+ whitespace (which GPT-2 emits as standalone
# whitespace tokens) contribute nothing here — the count is identical to
# GPT-2's only for single-spaced text, and is a budget PROXY (stable,
# cheap) elsewhere; (2) `\s` itself differs at the margins between the
# engines — Java's \s includes \x0B (vertical tab), RE2's does not — so
# inside `[^\s\p{L}\p{N}]` a \x0B is skipped by Spark but matched into a
# punctuation run by DuckDB, and text containing vertical tabs would
# count differently across the two; the driver corpus contains none, and
# real pipelines strip control characters upstream of tokenization.
# Alternation order matters (leftmost-first in both engines) and is kept
# exactly as GPT-2's.
BPE_TOKEN_RE = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+"
)


def bpe_token_count(text_col: Column) -> Column:
    """Subword-budget proxy: the number of GPT-2-style pre-tokens —
    the standard way pipelines estimate a corpus' token budget before
    running the real (vocab-dependent) tokenizer. Pure native Catalyst."""
    return F.size(F.regexp_extract_all(text_col, F.lit(BPE_TOKEN_RE), F.lit(0)))


# tiny per-language stopword seeds for the n-gram/stopword language heuristic
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "des", "une", "que", "pour"],
    "es": ["el", "la", "los", "las", "es", "una", "que", "por", "con", "para"],
}


def lang_id(text_col: Column) -> Column:
    """Heuristic language ID: argmax over stopword-marker hit counts.

    Ties and zero-hit docs resolve to 'und' (undetermined). Pure native
    expressions — an aggregate over the token array per language.
    """
    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    scores = [
        (lang, F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in words]))))
        for lang, words in _LANG_MARKERS.items()
    ]
    best = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # reverse order so earlier languages win ties deterministically
    for lang, s in reversed(scores):
        out = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def quality_score(text_col: Column) -> Column:
    """Composite quality in [0,1]: length band, alpha ratio, stopword ratio.

    Deterministic, SQL-expressible (oracle-checkable in DuckDB).
    """
    n_tok = token_count(text_col).cast("double")
    n_chars = F.length(text_col).cast("double")
    # mean token length in a healthy band [3, 10]
    mean_len = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    len_ok = F.when((mean_len >= 3.0) & (mean_len <= 10.0), 1.0).otherwise(0.0)
    # alphabetic character ratio
    alpha = F.length(F.regexp_replace(text_col, r"[^a-zA-Z]", "")).cast("double")
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    # doc length band
    size_ok = F.when((n_tok >= 10) & (n_tok <= 100000), 1.0).otherwise(0.0)
    return F.round((len_ok + alpha_ratio + size_ok) / F.lit(3.0), 6)
