"""Standalone dedup job for spark-submit (the north rule's submission path):

    spark-submit --master local[N] --py-files nlsh_spark.zip \
        tools/run_dedup_job.py --pages /path/pages.parquet --json-out out.json

Runs the engine's MinHash-LSH dedup (operators/dedup.py: signatures ->
candidates -> verify -> clusters -> keep-list) and writes a one-line JSON
report: docs, dup pairs, clusters and wall time; with --checkpoint-dir
also the resumable pipeline's per-stage cached/rows/wall.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import time


def _input_token(pages_path: str, n_docs: int, recrawl_dedup: bool) -> str:
    """Content-derived resume token: path + row count alone would resume
    stale snapshots if the input files were regenerated in place with the
    same cardinality — fold in every data file's (name, size, mtime) so
    any rewrite invalidates the checkpoint fingerprints. ``n_docs`` is
    counted before the recrawl pre-stage, so the flag is folded in too:
    a run with it dedups other pages than one without."""
    h = hashlib.sha256(f"{pages_path}@{n_docs}@recrawl={recrawl_dedup}".encode())
    if os.path.isdir(pages_path):
        for root, _, files in sorted(os.walk(pages_path)):
            for f in sorted(files):
                p = os.path.join(root, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, pages_path)}:{st.st_size}:{st.st_mtime_ns}".encode())
    elif os.path.exists(pages_path):
        st = os.stat(pages_path)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def _write_survivors_archives(
    pages_full, keep, out_dir: str, fmt: str
) -> dict:
    """Keep-list pages (one per cluster) re-shipped as crawl archives via the distributed sink — one shuffle (the doc_id
    join back to the full pages), one archive per partition. ``fmt`` =
    'warc' (full pages: url/warc_ts/html) or 'wet' (extracted text only:
    url/warc_ts/text — the Common Crawl WARC->WET flow applied to the
    deduplicated keep-list)."""
    from neural_locality_sensitive_hashing_spark.sources.warc import (
        write_warc,
        write_wet,
    )

    kept = pages_full.join(keep.select("doc_id"), "doc_id")
    if fmt == "warc":
        manifest = write_warc(
            kept.select("url", "warc_ts", "html"), out_dir
        ).collect()
    else:
        manifest = write_wet(
            kept.select("url", "warc_ts", "text"), out_dir
        ).collect()
    return {
        "dir": out_dir,
        "files": len(manifest),
        "records": int(sum(m.records for m in manifest)),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument(
        "--from-warc", action="store_true",
        help="treat --pages as a directory of WARC crawl archives "
        "(.warc/.warc.gz, Common-Crawl layout) instead of a parquet table: "
        "records are parsed with sources/warc.py (zero-shuffle binaryFile "
        "-> mapInPandas) into the (url, warc_ts, html, text, lang) page "
        "shape and doc_id is assigned per record — the whole pipeline then "
        "runs from raw crawl files; pairs naturally with --recrawl-dedup",
    )
    ap.add_argument(
        "--from-wet", action="store_true",
        help="treat --pages as a directory of WET extracted-text archives "
        "(.wet/.wet.gz, Common-Crawl layout): conversion records are parsed "
        "with the same zero-shuffle reader into the (url, warc_ts, text, "
        "lang) shape — text ships as-is (extraction happened upstream) and "
        "the whole pipeline runs from there; pairs with --recrawl-dedup",
    )
    ap.add_argument(
        "--survivors-warc-out", default=None,
        help="(--from-warc only) write the dedup SURVIVORS — the keep-list "
        "pages, one row per cluster — back out as Common-Crawl-layout WARC "
        "archives (sources/warc.py write_warc, one archive per partition): "
        "crawl archives in, deduplicated crawl archives out",
    )
    ap.add_argument(
        "--survivors-wet-out", default=None,
        help="(--from-warc or --from-wet) write the dedup SURVIVORS as WET "
        "extracted-text archives (write_wet, one archive per partition) — "
        "the WARC->WET flow applied to the deduplicated keep-list; several "
        "times smaller than the WARC form of the same survivors",
    )
    ap.add_argument("--json-out", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument(
        "--max-partition-bytes",
        default="8m",
        help="parquet scan split size. The signing stage fans a corpus of "
        "1 MiB or more out to the shuffle parallelism unless it already "
        "reads as two splits per core; a smaller split only spreads the "
        "scan itself (at cluster scale inputs are many files and the "
        "default 128m applies)",
    )
    ap.add_argument(
        "--long-repeat-exact", type=int, default=None, metavar="MIN_RUN",
        help="exact long-repeat verifier tier (SURVEY §7 stage 3): winnowed "
        "fingerprint candidates -> positional-gram diagonal exact verify "
        "(operators/suffix.py::long_repeat_pairs_exact); pairs sharing a "
        "verbatim run of >= MIN_RUN tokens feed the same union-find as the "
        "MinHash pairs — catches the MinHash-invisible case (one long "
        "verbatim block inside otherwise-unrelated docs, i.e. low global "
        "Jaccard). MIN_RUN must be >= the winnowing guarantee bound "
        "(long_repeat_min_tokens + the winnowing window - 1 = 79 at "
        "defaults) so the tier "
        "merges a COMPLETE pair set, not a sampled one",
    )
    ap.add_argument(
        "--checkpoint-dir", default=None,
        help="run through the RESUMABLE DedupPipeline instead of the "
        "straight-line plan: each stage (signatures, cand_pairs, "
        "dup_pairs, clusters, keep_list) lands in a fingerprinted snapshot "
        "table; "
        "re-submitting the identical job resumes at the first stage whose "
        "fingerprint misses (kill it mid-run and re-run to see). The "
        "report's stages carry cached/rows per stage",
    )
    ap.add_argument(
        "--keep-list-out", default=None,
        help="write the keep-list (one representative doc per near-dup "
        "cluster + n_docs_represented — the table a training pipeline "
        "ships) as parquet to this path; in --checkpoint-dir mode it is "
        "re-exported from the keep_list snapshot stage, otherwise "
        "computed from the in-memory clusters",
    )
    ap.add_argument(
        "--recrawl-dedup", action="store_true",
        help="pre-stage: canonicalize URLs and keep only the newest crawl "
        "per canonical URL (operators/recrawl.py) before content dedup — "
        "the cheapest volume cut on real recrawled web corpora; requires "
        "url + warc_ts columns in the input",
    )
    ap.add_argument(
        "--shingle-bytes", type=int, default=4, choices=(4, 8),
        help="shingle hash width in the verify gather. 4 (default) cuts the "
        "job's total shuffle 44%% (2.19 -> 1.22 GB at 250k docs, measured) "
        "with identical output at test scale (tests/test_screen.py); "
        "8 = full 64-bit, bit-compatible with the round-2 runs",
    )
    args = ap.parse_args()
    if args.from_warc and args.from_wet:
        ap.error("--from-warc and --from-wet are mutually exclusive")
    if args.survivors_warc_out and not args.from_warc:
        ap.error("--survivors-warc-out needs --from-warc (only the WARC "
                 "input path carries the url/warc_ts/html page columns "
                 "the archive writer re-ships; WET input has no html — "
                 "use --survivors-wet-out)")
    if args.survivors_wet_out and not (args.from_warc or args.from_wet):
        ap.error("--survivors-wet-out needs --from-warc or --from-wet "
                 "(only the archive input paths carry the url/warc_ts/"
                 "text page columns the WET writer re-ships)")
    if args.checkpoint_dir and args.long_repeat_exact is not None:
        # validate BEFORE the JVM starts and the input is scanned
        ap.error("--checkpoint-dir covers the exact-Jaccard pipeline; "
                 "run --long-repeat-exact in the straight-line mode")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from neural_locality_sensitive_hashing_spark.config import DedupConfig
    from neural_locality_sensitive_hashing_spark.operators.connected_components import (
        clusters_with_singletons,
        connected_components,
    )
    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        keep_list,
        minhash_dup_pairs,
    )
    from neural_locality_sensitive_hashing_spark.operators.suffix import (
        WINNOW_WINDOW,
        long_repeat_pairs_exact,
    )

    cfg = DedupConfig(shingle_hash_bytes=args.shingle_bytes)
    lre_bound = cfg.long_repeat_min_tokens + WINNOW_WINDOW - 1
    if args.long_repeat_exact is not None and args.long_repeat_exact < lre_bound:
        ap.error(f"--long-repeat-exact {args.long_repeat_exact} is below the "
                 f"winnowing guarantee bound {lre_bound}: pairs under the bound "
                 "are best-effort, so merging on them would be nondeterministic")

    builder = SparkSession.builder.appName("nlsh-dedup-job")
    if args.shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    builder = (
        builder.config("spark.sql.files.maxPartitionBytes", args.max_partition_bytes)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    if args.from_warc or args.from_wet:
        from neural_locality_sensitive_hashing_spark.sources.warc import (
            warc_pages,
            wet_pages,
        )

        # doc_id = the source's content-derived crawl_id (xxhash64 of
        # path + in-file record ordinal): stable across actions, task
        # retries, and speculative re-execution — an arrival counter is
        # NOT, and this lineage is re-executed by several downstream
        # actions. persist() so the count + signature build don't each
        # re-gunzip and re-parse every archive; html (the bulk of the
        # bytes) is cached ONLY when --survivors-warc-out needs it back
        # (WET input carries no html at all).
        src = warc_pages if args.from_warc else wet_pages
        pages = src(spark, args.pages).withColumnRenamed(
            "crawl_id", "doc_id"
        )
        if not args.survivors_warc_out:
            pages = pages.select("doc_id", "url", "warc_ts", "text")
        pages = pages.persist()
        # the 64-bit hash id is probabilistically unique; a collision
        # would SILENTLY merge two pages' clusters, so fail loudly
        # instead (ids-only aggregation, cheap next to the pipeline)
        n_ids = pages.select("doc_id").distinct().count()
        n_docs = pages.count()
        if n_ids != n_docs:
            raise SystemExit(
                f"doc_id collision: {n_docs} records but {n_ids} distinct "
                "ids — at this scale derive a 128-bit id from (path, seq)"
            )
    else:
        pages = spark.read.parquet(args.pages)
        n_docs = pages.count()
    # full-page handle for --survivors-warc-out, captured BEFORE the
    # recrawl tier narrows columns (its window deliberately drops html);
    # the survivor join on doc_id picks the right subset either way
    pages_full = pages
    if args.recrawl_dedup:
        from neural_locality_sensitive_hashing_spark.operators.recrawl import (
            latest_crawl_per_url,
        )

        # narrow FIRST: the window's one exchange must carry only
        # (doc_id, url, warc_ts, text) — shuffling the html payload too
        # doubled the pre-stage wall when measured (BENCH/BASELINE.md, WARC
        # source section) and at 10^12 docs would make the tier a
        # corpus-payload shuffle
        pages = latest_crawl_per_url(
            pages.select("doc_id", "url", "warc_ts", "text")
        )
    pages = pages.select("doc_id", "text")

    t_all = time.time()
    report = {"docs": n_docs, "cores": cores}
    if args.checkpoint_dir:
        from neural_locality_sensitive_hashing_spark.plans.pipeline import DedupPipeline

        pipe = DedupPipeline(
            spark, cfg, args.checkpoint_dir,
            input_token=_input_token(args.pages, n_docs, args.recrawl_dedup),
        )
        _, rep = pipe.run(pages)
        report["stages"] = {
            s.stage: {"cached": s.cached, "rows": s.rows, "wall_sec": s.wall_sec}
            for s in rep.stages
        }
        report["resumed_stages"] = sorted(rep.cached_stages())
        # the stage rows: keep_list holds one survivor per cluster
        n_dups = report["stages"]["dup_pairs"]["rows"]
        n_clusters = report["stages"]["keep_list"]["rows"]
        keep = pipe.catalog.read_snapshot("keep_list")
    else:
        dups = minhash_dup_pairs(pages, cfg)
        if args.long_repeat_exact is not None:
            lre = (
                long_repeat_pairs_exact(pages, cfg)
                .where(F.col("max_run") >= F.lit(args.long_repeat_exact))
                .persist()
            )
            report["long_repeat_exact"] = {
                "min_run": args.long_repeat_exact,
                "pairs": lre.count(),
            }
            dups = dups.unionByName(
                lre.select("a", "b", F.lit(1.0).alias("jaccard"))
            ).dropDuplicates(["a", "b"])
        dups = dups.persist()
        n_dups = dups.count()
        labels = connected_components(dups, cfg.max_cc_iterations)
        keep = keep_list(clusters_with_singletons(labels, pages)).persist()
        # one keep-list row per cluster
        n_clusters = keep.count()
    wall = round(time.time() - t_all, 2)
    report.update(
        wall_sec=wall,
        docs_per_sec=round(n_docs / wall, 1),
        dup_pairs=n_dups,
        clusters=n_clusters,
    )
    if args.keep_list_out:
        keep.write.mode("overwrite").parquet(args.keep_list_out)
        report["keep_list_out"] = args.keep_list_out
    if args.survivors_warc_out:
        report["survivors_warc"] = _write_survivors_archives(
            pages_full, keep, args.survivors_warc_out, "warc"
        )
    if args.survivors_wet_out:
        report["survivors_wet"] = _write_survivors_archives(
            pages_full, keep, args.survivors_wet_out, "wet"
        )
    line = json.dumps(report)
    print(line)
    if args.json_out:
        with open(args.json_out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
