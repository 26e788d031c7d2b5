"""Long-repeat (winnowing) pass: golden + planted-fixture recovery."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.operators.suffix import (
    WINNOW_WINDOW as W,
    long_repeat_pairs,
    long_repeat_pairs_exact,
)

CFG = DedupConfig(long_repeat_min_tokens=64)


def _words(rng, n):
    return [f"t{int(x):05d}" for x in rng.integers(0, 30000, n)]


def test_shared_block_detected_and_absent_block_not(spark):
    rng = np.random.default_rng(11)
    block = _words(rng, CFG.long_repeat_min_tokens + W - 1)  # exactly the guarantee bound
    a = " ".join(_words(rng, 300) + block)
    b = " ".join(block + _words(rng, 300))
    c = " ".join(_words(rng, 400))
    df = spark.createDataFrame([(0, a), (1, b), (2, c)], "doc_id long, text string")
    pairs = long_repeat_pairs(df, CFG).collect()
    assert [(p.a, p.b) for p in pairs] == [(0, 1)]


def test_short_docs_no_fp(spark):
    df = spark.createDataFrame([(0, "a b c"), (1, "a b c")], "doc_id long, text string")
    assert long_repeat_pairs(df, CFG).count() == 0


def test_planted_longrepeat_groups_recovered(spark, pages_1k):
    pages_path, truth_path = pages_1k
    pages = spark.read.parquet(pages_path)
    truth = spark.read.parquet(truth_path)
    pairs = long_repeat_pairs(pages, CFG).persist()
    lr = truth.where(F.col("kind") == "longrepeat")
    want = {}
    for r in lr.collect():
        want.setdefault(r.group_id, []).append(r.doc_id)
    want_pairs = {
        (min(v), max(v)) for v in want.values() if len(v) == 2
    }
    got_pairs = {(r.a, r.b) for r in pairs.collect()}
    missing = want_pairs - got_pairs
    assert not missing, f"missed planted long-repeat pairs: {missing}"
    # low global Jaccard by construction -> MinHash must NOT see these
    # (that's the whole reason this pass exists); sanity: block/total < τ
    assert len(want_pairs) > 0


def test_exact_verify_reports_exact_longest_run(spark):
    """long_repeat_pairs_exact must return the EXACT longest shared
    verbatim token run (diagonal-chain kernel), not just candidacy:
    a planted 149-token shared block (guarantee bound = 64+16-1 = 79,
    comfortably above it) must come back at exactly 149 even though the
    two docs also share a second, shorter 80-token block (the max, not
    any run, is reported)."""
    rng = np.random.default_rng(23)
    long_block = _words(rng, 149)
    short_block = _words(rng, 80)
    a = " ".join(_words(rng, 120) + long_block + _words(rng, 50) + short_block)
    b = " ".join(short_block + _words(rng, 90) + long_block + _words(rng, 33))
    c = " ".join(_words(rng, 260))
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "doc_id long, text string"
    )
    got = long_repeat_pairs_exact(df, CFG).collect()
    assert [(r.a, r.b, r.max_run) for r in got] == [(0, 1, 149)]


def test_exact_verify_agrees_with_lane_diagonal_kernel(spark, pages_1k):
    """Cross-check the two diagonal implementations on real corpus data:
    for every candidate pair the exact pass emits, its max_run must
    EQUAL the lane query's declarative diagonal result for that pair,
    and every lane pair at or above the winnowing guarantee bound
    (gram_len + window - 1) must be present in the exact pass — the
    no-false-negatives theorem, end to end."""
    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    exact = {
        (r.a, r.b): r.max_run
        for r in long_repeat_pairs_exact(pages, CFG).collect()
    }
    assert exact, "fixture must produce at least one candidate pair"

    # reference: the same diagonal-run semantics on RAW 64-grams (the
    # lane query's shape, inlined here at the test's gram length)
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    from neural_locality_sensitive_hashing_spark.functions import text as T
    from pyspark.sql import Window

    K = CFG.long_repeat_min_tokens
    gp = pages.select(
        "doc_id", F.posexplode(T.shingles(toks, K)).alias("i", "g")
    ).where(F.size(F.split(F.col("g"), " ")) >= K)
    m = (
        gp.alias("l")
        .join(gp.alias("r"), "g")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.col("l.i").alias("i"),
            (F.col("l.i") - F.col("r.i")).alias("diag"),
        )
    )
    w = Window.partitionBy("a", "b", "diag").orderBy("i")
    want = {
        (r.a, r.b): r.max_run
        for r in m.withColumn("grp", F.col("i") - F.row_number().over(w))
        .groupBy("a", "b", "diag", "grp")
        .agg(F.count("*").alias("rl"))
        .groupBy("a", "b")
        .agg((F.max("rl") + F.lit(K - 1)).alias("max_run"))
        .collect()
    }
    for pair, run in exact.items():
        assert want.get(pair) == run, (pair, run, want.get(pair))
    for pair, run in want.items():
        if run >= CFG.long_repeat_min_tokens + W - 1:
            assert pair in exact, (pair, run)


def test_exact_verify_complete_only_contract(spark):
    """The output is exact AND complete over what it returns: no row
    below the winnowing guarantee bound (gram_len + WINNOW_WINDOW - 1),
    and a pair sharing only a sub-bound block never surfaces — neither
    one whose 70-token block winnowing misses nor one whose 78-token
    block it samples into the candidates."""
    bound = CFG.long_repeat_min_tokens + W - 1
    rng = np.random.default_rng(41)
    long_block = _words(rng, 110)  # >= bound: guaranteed + kept
    sub_block = _words(rng, 70)  # in [gram_len, bound): best-effort band
    rows = [
        (0, " ".join(_words(rng, 60) + long_block + _words(rng, 30))),
        (1, " ".join(long_block + _words(rng, 100))),
        (2, " ".join(_words(rng, 50) + sub_block + _words(rng, 50))),
        (3, " ".join(sub_block + _words(rng, 90))),
    ]
    sampled_block = _words(rng, 78)  # one token under the bound
    rows += [
        (4, " ".join(_words(rng, 40) + sampled_block + _words(rng, 40))),
        (5, " ".join(sampled_block + _words(rng, 80))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands = {(r.a, r.b) for r in long_repeat_pairs(df, CFG).collect()}
    got = sorted(
        (r.a, r.b, r.max_run) for r in long_repeat_pairs_exact(df, CFG).collect()
    )
    spark.catalog.clearCache()
    assert cands == {(0, 1), (4, 5)}
    assert all(run >= bound for _, _, run in got)
    assert got == [(0, 1, 110)]


def test_job_long_repeat_exact_tier_merges_minhash_invisible_pairs(tmp_path):
    """`run_dedup_job --long-repeat-exact` (SURVEY §7 stage 3 as a job
    tier): two planted pairs share a 110-token verbatim block inside
    otherwise-unrelated 500-token docs — global Jaccard ~0.12, far below
    the 0.7 MinHash threshold, so the base job must NOT merge them; the
    exact tier must feed exactly those 2 pairs into the same union-find,
    shrinking the cluster count by exactly 2 while the MinHash-visible
    exact-dup pair merges in both runs. Also: a threshold below the
    winnowing guarantee bound (79) must be rejected before the JVM
    starts (merging on best-effort pairs would be nondeterministic)."""
    import json
    import os
    import subprocess
    import sys

    rng = np.random.default_rng(47)
    rows = []
    for i in range(40):
        rows.append((i, " ".join(_words(rng, 500))))
    for g in range(2):  # planted long-repeat pairs: docs 100+2g, 101+2g
        block = _words(rng, 110)
        for j in range(2):
            filler = _words(rng, 390)
            cut = 100 + 37 * j
            rows.append(
                (100 + 2 * g + j, " ".join(filler[:cut] + block + filler[cut:]))
            )
    rows.append((200, rows[0][1]))  # exact dup of doc 0 (MinHash-visible)
    import pandas as pd

    pages_path = str(tmp_path / "pages.parquet")
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(pages_path)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8", "PYTHONPATH": repo}

    def run_job(*extra):
        out = tmp_path / f"rep{len(extra)}.json"
        subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "run_dedup_job.py"),
             "--pages", pages_path, "--shuffle-partitions", "8",
             "--json-out", str(out), *extra],
            check=True, cwd=repo, timeout=420,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, env=env,
        )
        return json.loads(out.read_text())

    base = run_job()
    assert base["docs"] == 45
    assert base["clusters"] == 44  # only the exact dup merged

    tiered = run_job("--long-repeat-exact", "79")
    # 2 planted pairs + the exact dup (a 500-token verbatim run itself)
    assert tiered["long_repeat_exact"] == {"min_run": 79, "pairs": 3}
    assert tiered["clusters"] == 42  # both planted pairs merged too

    r = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "run_dedup_job.py"),
         "--pages", pages_path, "--long-repeat-exact", "50"],
        cwd=repo, timeout=60, capture_output=True, text=True, env=env,
    )
    assert r.returncode == 2
    assert "guarantee bound" in r.stderr
