"""Physical-plan audit for the heaviest queries -> BENCH/PLANS.md.

For each audited query: exchange count, scan ReadSchema + PushedFilters
(column pruning / predicate pushdown reaching the parquet source),
whole-stage-codegen span count, and driver-collect sanity (none outside
the documented gated paths). The plan-shape review that backs the
100 TB claims, regenerable in one command:

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AUDITED = [
    "minhash_dedup_pairs",
    "minhash_dedup_clusters",
    "embedding_dup_pairs",
    "embedding_dup_pairs_hi",
    "ann_lsh_cosine",
    "ann_lsh_l2",
    "ivf_ann_cosine",
    "learned_ann_cosine",
    "learned_multiband_ann",
    "learned_bagged_ann",
    "user_sessions",
    "unique_documents",
    "long_repeat_pairs",
    "doc_sample_hash",
    "doc_repetition",
    "packed_sequences",
    "benchmark_decontam",
    "gopher_quality_flags",
    "lang_rebalance_sample",
    "lang_stratified_sample",
    "lang_token_quartiles",
    "recrawl_latest",
    "pii_scrub",
    "boilerplate_shingles",
    "bpe_token_stats",
    # round-7/9 consolidated registry entries (see queries.py registry note)
    "embedding_stats",
    "revenue_rollup",
    "event_type_top_hours",
]


def _strip_initial_plans(plan: str) -> str:
    """Drop '== Initial Plan ==' sections. A cached relation that was
    already materialized (e.g. by a build-time size-gate count) renders
    its AdaptiveSparkPlan with BOTH the final and the initial plan — the
    same physical exchange then appears under two different plan_ids and
    would be double-counted. The initial-plan block runs from the marker
    until the first line whose content indentation returns above the
    marker's."""
    out = []
    skip_indent = None
    for line in plan.splitlines():
        content = line.lstrip(" :+|-")
        indent = len(line) - len(content)
        if skip_indent is not None:
            if content and indent < skip_indent:
                skip_indent = None
            else:
                continue
        if content.startswith("== Initial Plan =="):
            skip_indent = indent
            continue
        out.append(line)
    return "\n".join(out)


def count_exchanges(plan: str, op: str = "Exchange") -> int:
    """Distinct ``op`` nodes in a rendered plan: annotated lines count once
    per plan_id — the textual rendering repeats a cached (InMemoryRelation)
    subtree at every cache scan, each repetition carrying the same plan_id
    — and every line without a plan_id counts on its own, so a plan mixing
    both never undercounts. The match is on whole words, so "Exchange"
    does not match BroadcastExchange and shuffle and broadcast counts stay
    separate."""
    lines = re.findall(rf"\b{op}\b[^\n]*", plan)
    ids = {m.group(1) for line in lines if (m := re.search(r"\[plan_id=(\d+)\]", line))}
    return len(ids) + sum("[plan_id=" not in line for line in lines)


def audit(df) -> dict:
    plan = _strip_initial_plans(
        df._jdf.queryExecution().executedPlan().toString()
    )
    n_exch = count_exchanges(plan)
    n_bcast = count_exchanges(plan, "BroadcastExchange")
    n_wsc = len(set(re.findall(r"\*\((\d+)\)", plan)))
    scans = []
    for m in re.finditer(r"FileScan parquet[^\n]*", plan):
        ln = m.group(0)
        rs = re.search(r"ReadSchema: (struct<[^>]*>)", ln)
        pf = re.search(r"PushedFilters: (\[[^\]]*\])", ln)
        scans.append((rs.group(1) if rs else "?", pf.group(1) if pf else "[]"))
    return {
        "exchanges": n_exch,
        "broadcasts": n_bcast,
        "codegen_spans": n_wsc,
        "scans": sorted(set(scans)),
        "cartesian": "CartesianProduct" in plan,
    }


def window_partition_keys(df) -> list[list[str]]:
    """Partition-key column names of every Window node in the optimized
    logical plan, outermost-first — the skew surface the exchange COUNT
    can't see: `Window [lang]` over a raw corpus hashes everything onto
    n_lang reducer tasks even though it is 'one exchange'. Names have
    their expr-ids stripped (lang#335 -> lang)."""
    out: list[list[str]] = []

    def walk(node):
        if node.nodeName() == "Window":
            ps = node.partitionSpec()
            out.append(
                [
                    re.sub(r"#\d+L?$", "", ps.apply(i).toString())
                    for i in range(ps.size())
                ]
            )
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.environ.setdefault("SPARK_GRAFT_TMPFS", "1")

    from neural_locality_sensitive_hashing_spark import spark_session
    from neural_locality_sensitive_hashing_spark.queries import QUERIES

    spark = spark_session("plan-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# BENCH/PLANS — physical-plan audit of the heaviest queries",
        "",
        f"Source: `{sf_dir}`. Per query: shuffle-exchange count (lower =",
        "less data movement), broadcast count, whole-stage-codegen span",
        "count, and every parquet scan's ReadSchema + PushedFilters —",
        "column pruning and predicate pushdown must reach the source.",
        "`CartesianProduct` may appear ONLY in the documented brute-force",
        "oracle baselines (none audited here).",
        "",
    ]
    for name in AUDITED:
        df = QUERIES[name](spark, sf_dir)
        a = audit(df)
        lines.append(f"## {name}")
        lines.append("")
        lines.append(
            f"- exchanges: {a['exchanges']}  |  broadcasts: {a['broadcasts']}"
            f"  |  codegen spans: {a['codegen_spans']}"
            f"  |  cartesian: {a['cartesian']}"
        )
        for rs, pf in a["scans"]:
            lines.append(f"- scan: `{rs}` pushed: `{pf}`")
        lines.append("")
        print(name, a["exchanges"], "exchanges", file=sys.stderr)
        assert not a["cartesian"], f"unexpected cartesian in {name}"

    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
