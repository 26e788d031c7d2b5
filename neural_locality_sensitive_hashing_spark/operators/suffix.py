"""Long exact-repeat detection: the "suffix-array pass" re-imagined as
distributed winnowing fingerprints (SURVEY.md §2.8, stage-3 verifier).

A classical suffix array over a 100 TB concatenated corpus does not
distribute; the equivalent *pair-detection* semantics do: two documents
share a verbatim token block of length >= L+w-1 iff they share at least one
robust-winnowing fingerprint computed with L-token grams and window w
(Schleimer/Wilkerson/Aiken, MOSS winnowing theorem). That turns "find long
exact repeats" into the engine's one universal primitive — an equi-join on
a fingerprint column:

    tokens -> per-token xxhash64 (native) -> L-gram polynomial hash +
    sliding-window min (vectorized numpy pandas UDF) -> distinct
    fingerprints -> explode -> self-join -> pairs

The L-gram hashing runs in numpy (one (m, L) windowed multiply per doc)
because an L=64 rolling fold as native expressions would need 63 chained
zip_with passes — the Arrow batch kernel is the faster path here.
``tools/run_dedup_job.py --long-repeat-exact`` feeds the detected pairs
into the same union-find as the MinHash pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.functions import text as T


# the winnowing window w: a shared run of >= long_repeat_min_tokens + w - 1
# tokens always shares a fingerprint (the guarantee bound)
WINNOW_WINDOW = 16


def _gram_weights(gram_len: int) -> np.ndarray:
    rng = np.random.default_rng(7919 * gram_len)
    return (rng.integers(1, 2**63, size=gram_len, dtype=np.uint64) * 2 + 1).astype(np.uint64)


def make_winnow_udf(gram_len: int, window: int):
    """pandas_udf: array<bigint> token hashes -> array<bigint> winnowed
    L-gram fingerprints. Guarantee: any shared token run of
    >= gram_len + window - 1 tokens yields >= 1 shared fingerprint.
    Docs shorter than gram_len return an empty array."""
    weights = _gram_weights(gram_len)

    @pandas_udf(ArrayType(LongType()))
    def winnow(hashes: pd.Series) -> pd.Series:
        out = np.empty(len(hashes), dtype=object)
        for i, v in enumerate(hashes):
            if v is None:
                continue
            h = np.asarray(v, dtype=np.int64).view(np.uint64)
            n = len(h)
            if n < gram_len:
                out[i] = np.empty(0, dtype=np.int64)
                continue
            wins = np.lib.stride_tricks.sliding_window_view(h, gram_len)
            with np.errstate(over="ignore"):
                grams = (wins * weights[None, :]).sum(axis=1, dtype=np.uint64)
            if len(grams) >= window:
                sel = np.lib.stride_tricks.sliding_window_view(grams, window).min(axis=1)
            else:
                sel = grams
            out[i] = np.unique(sel).view(np.int64)
        return pd.Series(out)

    return winnow


def winnow_fingerprints(tokens_col: Column, gram_len: int, window: int) -> Column:
    """array<string> tokens -> array<bigint> winnowed fingerprints."""
    token_hashes = F.transform(tokens_col, lambda t: F.xxhash64(t))
    return make_winnow_udf(gram_len, window)(token_hashes)


def make_gram_hash_udf(gram_len: int):
    """pandas_udf: array<bigint> token hashes -> array<bigint> POSITIONAL
    L-gram hashes (one per gram start, order preserved, no winnowing) —
    the exact-verify stage needs gram positions, not the winnowed
    min-sample. Same windowed-multiply kernel and weights as the winnow
    UDF, so a winnowed fingerprint is always one of these values."""
    weights = _gram_weights(gram_len)

    @pandas_udf(ArrayType(LongType()))
    def gram_hash(hashes: pd.Series) -> pd.Series:
        out = np.empty(len(hashes), dtype=object)
        for i, v in enumerate(hashes):
            if v is None:
                continue
            h = np.asarray(v, dtype=np.int64).view(np.uint64)
            if len(h) < gram_len:
                out[i] = np.empty(0, dtype=np.int64)
                continue
            wins = np.lib.stride_tricks.sliding_window_view(h, gram_len)
            with np.errstate(over="ignore"):
                grams = (wins * weights[None, :]).sum(axis=1, dtype=np.uint64)
            out[i] = grams.view(np.int64)
        return pd.Series(out)

    return gram_hash


def long_repeat_pairs_exact(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, text) docs -> (a, b, max_run): candidate pairs from the
    winnowed fingerprint join, each verified with the EXACT length in
    tokens of the longest verbatim block the pair shares — the §2.8
    suffix-array pass carried to its end at scale without materializing a
    suffix array.

    Completeness contract: the candidate SET is complete only at or above
    the winnowing guarantee bound gram_len + WINNOW_WINDOW - 1 (below it
    a pair appears only when winnowing happened to sample a shared
    fingerprint), so the output keeps only rows at or above the bound:
    every row is exact, and the set is complete over what it returns.

    Two-stage shape (the classical candidate -> verify discipline every
    other dedup tier here uses):

      1. candidates — :func:`long_repeat_pairs`'s winnowed-fingerprint
         equi-join (cheap, recall-guaranteed for runs >=
         gram_len + WINNOW_WINDOW - 1 by the winnowing theorem);
      2. exact verify — positional L-gram hashes are re-derived for
         candidate docs only (semi-join pruning), matches between a
         pair's gram streams become (i, j) points, and the longest
         shared run is gram_len - 1 + the longest consecutive-i chain
         per (pair, diagonal i-j): two grouped aggregations and one
         high-cardinality window, all Catalyst.

    Scale notes: match rows exist only inside genuinely shared blocks
    (random gram-hash agreement is ~2^-64), so stage 2's join output is
    proportional to the total shared-block token mass of the candidate
    set, not to corpus size; every shuffle keys on (pair, diag) or
    gram-hash — high-cardinality, salting-free. Same accepted xxhash64
    collision class as shingle_set (functions/text.py)."""
    gram_len = cfg.long_repeat_min_tokens
    # persisted: the candidate set feeds the match join AND (twice) the
    # id semi-join pruning — unpersisted, the winnow join would re-run
    # three times. The caller releases it (``spark.catalog.clearCache()``)
    # once the returned plan is consumed.
    cand = long_repeat_pairs(docs, cfg).select("a", "b").persist()
    ids = (
        cand.select(F.col("a").alias("doc_id"))
        .union(cand.select("b"))
        .distinct()
    )
    token_hashes = F.transform(
        T.tokens(F.col("text")), lambda t: F.xxhash64(t)
    )
    # gp feeds both sides of the match join below on DIFFERENT shuffle
    # keys (l on doc_id=a, r on (doc_id, g)), so ReusedExchange cannot
    # deduplicate them and the ids semi-join + gram-hash UDF executes
    # twice. Caching the compact (doc_id, gram-array) frame would remove
    # the double execution, but an A/B at 1M docs / local[32] / 8g shared
    # heap was INCONCLUSIVE under host noise (cached walls 74-119 s,
    # recomputed 60-133 s in adjacent windows — BENCH/BASELINE.md
    # long-repeat section), while the candidate-doc gram arrays (~GBs
    # deserialized for ~0.5M docs) clearly pressure a storage pool this
    # small. So the frame is recomputed: no cache footprint.
    ga = docs.select("doc_id", token_hashes.alias("th")).join(ids, "doc_id").select(
        "doc_id", make_gram_hash_udf(gram_len)(F.col("th")).alias("gh")
    )  # candidate docs only
    gp = ga.select("doc_id", F.posexplode("gh").alias("i", "g"))
    m = (
        cand.join(gp.alias("l"), F.col("a") == F.col("l.doc_id"))
        .join(
            gp.alias("r"),
            (F.col("b") == F.col("r.doc_id")) & (F.col("l.g") == F.col("r.g")),
        )
        .select(
            "a", "b",
            F.col("l.i").alias("i"),
            (F.col("l.i") - F.col("r.i")).alias("diag"),
        )
    )
    w = Window.partitionBy("a", "b", "diag").orderBy("i")
    runs = m.withColumn("grp", F.col("i") - F.row_number().over(w))
    return (
        runs.groupBy("a", "b", "diag", "grp")
        .agg(F.count("*").alias("rl"))
        .groupBy("a", "b")
        .agg((F.max("rl") + F.lit(gram_len - 1)).alias("max_run"))
        .where(F.col("max_run") >= F.lit(gram_len + WINNOW_WINDOW - 1))
    )


def long_repeat_pairs(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, text) docs -> (a, b, n_shared_fp): doc pairs sharing >=1
    winnowed fingerprint, i.e. every pair sharing a verbatim block of
    >= gram_len + WINNOW_WINDOW - 1 tokens, and some sharing less."""
    gram_len = cfg.long_repeat_min_tokens
    fps = docs.select(
        "doc_id",
        F.explode(
            winnow_fingerprints(T.tokens(F.col("text")), gram_len, WINNOW_WINDOW)
        ).alias("fp"),
    ).dropDuplicates(["doc_id", "fp"])
    l = fps.alias("l")
    r = fps.alias("r")
    return (
        l.join(r, "fp")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count("*").alias("n_shared_fp"))
    )
