"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query runs $BENCH_TRIALS times (default 3) and reports the MEDIAN —
single-trial numbers on a shared VM cannot distinguish a regression from
scheduler noise (the round-3 lesson: three queries drifted 9-20% between
rounds with no code change on their path).  Set BENCH_TRIALS=1 for a
quick probe.

The per-query numbers are end-to-end (plan + execute + collect-to-count);
`webtext_dedup` is the flagship: the full MinHash-LSH dedup pipeline over a
generated 50k-page Common-Crawl-style corpus (datagen time excluded, corpus
cached on disk). Scaling evidence across parallelism levels is recorded in
BENCH/BASELINE.md (raw: BENCH/scaling_raw*.json).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# benchmark harness opts into tmpfs shuffle scratch (library default is
# off — see session._tmpfs_scratch for the free-space gate and rationale)
os.environ.setdefault("SPARK_GRAFT_TMPFS", "1")

HEADLINE = [
    "minhash_dedup_pairs",
    "minhash_dedup_clusters",
    "dedup_keep_list",
    "ngram_jaccard_pairs",
    "simhash_dup_pairs",
    "long_repeat_pairs",
    "longrepeat_winnowed_pairs",
    "doc_profile",
    "token_stats",
    "top_tokens",
    "knn_bruteforce",
    "knn_bruteforce_l2",
    "ann_lsh_cosine",
    "ann_lsh_l2",
    "ivf_ann_cosine",
    "ann_recall_at_k",
    "learned_ann_cosine",
    "learned_multiband_ann",
    "learned_bagged_ann",
    "embedding_dup_pairs",
    "embedding_dup_pairs_hi",
    "embedding_dup_pairs_fast",
    "pricing_summary",
    "revenue_rollup",
    "event_type_top_hours",
    "user_sessions",
    "unique_documents",
    "lang_token_quartiles",
    "doc_sample_hash",
    "lang_stratified_sample",
    "distinct_texts_kmv",
    "doc_repetition",
    "packed_sequences",
    "benchmark_decontam",
    "gopher_quality_flags",
    "lang_rebalance_sample",
    "recrawl_latest",
    "recrawl_stats",
    "crawl_host_stats",
    "pii_scrub",
    "boilerplate_shingles",
    "bpe_token_stats",
]

WEBTEXT_DOCS = int(os.environ.get("BENCH_WEBTEXT_DOCS", "50000"))
TRIALS = max(1, int(os.environ.get("BENCH_TRIALS", "3")))


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from neural_locality_sensitive_hashing_spark import DedupConfig, spark_session
    from neural_locality_sensitive_hashing_spark.datagen import write_pages_dataset
    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        minhash_dedup_clusters,
    )
    from neural_locality_sensitive_hashing_spark.queries import (
        QUERIES,
        q_embedding_dup_pairs_fast,
        q_token_stats,
    )

    # benched but not in the 50-slot driver registry:
    # - embedding_dup_pairs_fast: oracle equality pytest-certified
    #   against the in-lane LSH plan
    # - token_stats: consolidated into doc_profile's correctness row in
    #   round 8; kept here so the per-query bench series stays comparable
    benchable = dict(QUERIES)
    benchable["embedding_dup_pairs_fast"] = q_embedding_dup_pairs_fast
    benchable["token_stats"] = q_token_stats

    spark = spark_session("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = benchable[name]
        trials: list[float] = []
        for _ in range(TRIALS):
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            trials.append(time.time() - t0)
            spark.catalog.clearCache()
        timings[name] = round(_median(trials), 3)
        print(
            f"# {name}: median {timings[name]}s over {TRIALS} "
            f"(min {min(trials):.3f} max {max(trials):.3f}, {n} rows)",
            file=sys.stderr,
        )

    # flagship: full dedup pipeline over generated webtext (datagen cached)
    cache_dir = os.environ.get("BENCH_WEBTEXT_DIR", f"/tmp/nlsh_bench_webtext_{WEBTEXT_DOCS}")
    pages_path, _ = write_pages_dataset(cache_dir, WEBTEXT_DOCS, seed=42)
    pages = spark.read.parquet(pages_path)
    n_docs = pages.count()
    dedup_trials: list[float] = []
    for _ in range(TRIALS):
        t0 = time.time()
        # 4-byte shingle gather: output-identical (pair-set equality gated
        # in tests/test_screen.py; cluster invariant 821,479 matched the
        # 8-byte runs at 1M docs) at half the verify shuffle bytes
        minhash_dedup_clusters(pages, DedupConfig(shingle_hash_bytes=4)).count()
        dedup_trials.append(time.time() - t0)
        spark.catalog.clearCache()
    wall = _median(dedup_trials)
    timings["webtext_dedup"] = round(wall, 3)
    docs_per_sec = round(n_docs / wall, 1)
    print(
        f"# webtext_dedup: median {wall:.1f}s over {TRIALS} "
        f"(min {min(dedup_trials):.1f} max {max(dedup_trials):.1f}) "
        f"for {n_docs} docs = {docs_per_sec} docs/s",
        file=sys.stderr,
    )

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "trials": TRIALS,
        "webtext_docs": n_docs,
        "webtext_docs_per_sec": docs_per_sec,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
