#!/usr/bin/env python3
"""Dedup-engine benchmark.

    python3 perfbench/run.py --workload dup_skew --seed 1 --seconds 10 --trace 0

Generates the workload from the seed (cached under .perfbench/), sets up a
Spark session from a cold JVM, runs the workload for about ``--seconds`` and
checks every output against the exact reference. The last stdout line is
one JSON object: correct / attempted / failed / metrics. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` re-runs the pipeline one
layer call at a time under job groups and reports per-layer metrics.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, ROOT)

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from neural_locality_sensitive_hashing_spark.config import DedupConfig  # noqa: E402
from neural_locality_sensitive_hashing_spark.operators.candidates import (  # noqa: E402
    candidate_pairs,
)
from neural_locality_sensitive_hashing_spark.operators.connected_components import (  # noqa: E402
    clusters_with_singletons,
    connected_components,
)
from neural_locality_sensitive_hashing_spark.operators.dedup import (  # noqa: E402
    banded_signatures_fused,
    explode_fused_bands,
    minhash_dedup_clusters,
)
from neural_locality_sensitive_hashing_spark.operators.verify import (  # noqa: E402
    jaccard_verify,
    jaccard_verify_bcast,
)
from neural_locality_sensitive_hashing_spark.streaming.incremental import (  # noqa: E402
    IncrementalDeduper,
)

import spark_env as E  # noqa: E402
import tracing as T  # noqa: E402
import workloads as W  # noqa: E402

OUT = os.path.join(ROOT, ".perfbench")
WARM_DOCS = 64  # the stream's warm-up batches
WARM_ID_SHIFT = 1 << 40  # the stream's second warm-up batch: exact dups of the first
RECALL_MIN = 0.99  # correctness floors on every output
AGREEMENT_MIN = 0.99
MIN_CALLS = 3  # batch workloads: timed calls per run, at least
LAYERS = ("minhash", "candidates", "verify", "connected_components", "incremental")
GENERIC = ("wall_s", "task_s", "slot_util", "jobs", "shuffle_write_mb", "spill_mb", "failed_tasks")
SPECIFIC = {
    "minhash": ("docs", "shingle_bytes"),
    "candidates": ("band_rows", "pairs", "overcap_buckets", "max_bucket"),
    "verify": ("pairs_in", "pairs_out", "yield", "bcast_runs"),
    "connected_components": ("edges", "largest_component"),
    "incremental": ("compact_s", "store_files", "store_mb", "pairs_per_batch", "latency_growth"),
}
TRACE_TOTALS = ("trace.total_s", "trace.remainder_s", "trace.untraced_s", "trace_overhead_s")
END_TO_END = {
    "docs_per_s": "1/s",
    "batch_latency_p50_s": "s",
    "dup_recall": "share",
    "cluster_agreement": "share",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
PERCENTILES = (50, 90, 95, 99, 99.9)


def unit(name: str) -> str:
    """Unit of a metric, from its name."""
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "B"
    if name.split(".")[-1] in ("slot_util", "yield", "latency_growth"):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in LAYERS for m in GENERIC]
    names += [f"{layer}.{m}" for layer, ms in SPECIFIC.items() for m in ms]
    return names + list(TRACE_TOTALS)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def labels_of(pdf, n_docs: int) -> np.ndarray:
    """(doc_id, cluster_id) frame -> cluster id per doc; every doc exactly once."""
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    out = np.full(n_docs, -1, dtype=np.int64)
    if len(ids) != n_docs or ids.min() < 0 or ids.max() >= n_docs:
        raise ValueError(f"clusters cover {len(ids)} rows for {n_docs} docs")
    out[ids] = pdf["cluster_id"].to_numpy(dtype=np.int64)
    if (out < 0).any():
        raise ValueError("clusters miss some doc ids")
    return out


def digest(labels: np.ndarray) -> str:
    return hashlib.sha1(labels.tobytes()).hexdigest()


def tail(samples: list[float]) -> dict:
    """Highest standard percentile with >= 10 samples beyond it."""
    n = len(samples)
    ok = [p for p in PERCENTILES if n * (1 - p / 100) >= 10]
    if not ok:
        return {"percentile": None, "value": None, "samples": n}
    p = ok[-1]
    return {"percentile": p, "value": float(np.percentile(samples, p)), "samples": n}


class Checks:
    """Counts operations and failed checks; a failure never aborts the run."""

    def __init__(self, inputs: W.Inputs):
        self.inputs = inputs
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.digests: set[str] = set()
        self.recall = self.agreement = None

    def fail(self, msg: str, ops: int = 1) -> None:
        self.failed += ops
        self.errors.append(msg)
        log(f"CHECK FAILED: {msg}")

    def clusters(self, labels: np.ndarray, ops: int = 1) -> None:
        """Score one output and check it."""
        ref = self.inputs.ref
        self.recall = W.dup_recall(ref, labels)
        self.agreement = W.cluster_agreement(ref, labels)
        self.digests.add(digest(labels))
        if len(self.digests) > 1:
            self.fail("cluster output differs between runs of one seed", ops)
        elif self.recall < RECALL_MIN or self.agreement < AGREEMENT_MIN:
            self.fail(f"recall {self.recall:.5f} / agreement {self.agreement:.5f} below floor", ops)

    def across_runs(self) -> None:
        """Same seed, same code, same clusters: compare with the digest an
        earlier run of this seed and engine source left next to the cached
        inputs. Only a run that passed every check leaves one."""
        if len(self.digests) != 1:
            return
        (d,) = self.digests
        path = os.path.join(self.inputs.dir, f"clusters-{engine_version()}.sha1")
        if os.path.exists(path):
            with open(path) as f:
                if f.read().strip() != d:
                    self.fail("cluster output differs from an earlier run of this seed")
        elif self.failed == 0:
            with open(path, "w") as f:
                f.write(d)


def engine_version() -> str:
    """Digest of the engine's source files: the code the clusters come from."""
    pkg = os.path.join(ROOT, "neural_locality_sensitive_hashing_spark")
    h = hashlib.sha1()
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, pkg).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


# -- batch workloads ------------------------------------------------------------


def read_docs(spark, path: str):
    return spark.read.parquet(path).select("doc_id", "url", "text")


class Batch:
    """One ``minhash_dedup_clusters`` over the whole pages table per call."""

    def __init__(self, inputs: W.Inputs, cfg: DedupConfig):
        self.inputs = inputs
        self.cfg = cfg
        self.n_docs = inputs.n_docs

    def prime(self, spark) -> None:
        """The first full-size call: Python worker start, plan compilation
        and JIT, all paid here and counted in setup_s."""
        self.call(spark)

    def call(self, spark) -> np.ndarray:
        pdf = minhash_dedup_clusters(read_docs(spark, self.inputs.pages), self.cfg).toPandas()
        release(spark)
        return labels_of(pdf, self.n_docs)

    def measure(self, spark, seconds: float, checks: Checks) -> dict:
        times: list[float] = []
        peaks: list[float] = []
        t_end = time.perf_counter() + seconds
        while checks.attempted < MIN_CALLS or time.perf_counter() < t_end:
            checks.attempted += 1
            t0 = time.perf_counter()
            try:
                with E.RssSampler() as rss:
                    labels = self.call(spark)
            except Exception:  # keep measuring; the failure is counted
                checks.fail(traceback.format_exc())
                continue
            times.append(time.perf_counter() - t0)
            peaks.append(rss.peak_mb)
            checks.clusters(labels)
        if not times:
            raise RuntimeError("every call failed")
        lat = statistics.median(times)
        return {
            "docs_per_s": self.n_docs / lat,
            "batch_latency_p50_s": lat,
            "peak_rss_mb": statistics.median(peaks),
            "_times": times,
            "_peak_rss_mb": peaks,
        }

    def traced_call(self, spark, tracer: T.Tracer, run: int, counters: dict) -> np.ndarray:
        """The pipeline of ``minhash_dedup_clusters``, one layer call at a time
        (each materialized), so each layer's jobs fall in its own span. Keep
        in step with operators/dedup.py::minhash_dup_pairs."""
        cfg = self.cfg
        with tracer.span("dedup", run) as root:
            docs = read_docs(spark, self.inputs.pages)
            with tracer.span("minhash", run, root):
                sigs = banded_signatures_fused(docs, cfg).persist()
                n_docs, sh_bytes = sigs.agg(F.count("*"), F.sum(F.length("sh"))).first()
            with tracer.span("candidates", run, root):
                bands = explode_fused_bands(sigs)
                cands = candidate_pairs(bands, cfg).persist()
                n_cands = cands.count()
            with tracer.span("verify", run, root):
                bcast = bool(cfg.verify_broadcast_max_docs) and (
                    cfg.verify_broadcast_min_docs < n_docs <= cfg.verify_broadcast_max_docs
                )
                verify = jaccard_verify_bcast if bcast else jaccard_verify
                pairs = verify(cands, sigs.select("doc_id", "sh"), cfg).persist()
                n_pairs = pairs.count()
            with tracer.span("connected_components", run, root):
                labels_df = connected_components(pairs, cfg.max_cc_iterations)
                pdf = clusters_with_singletons(labels_df, docs).toPandas()
        labels = labels_of(pdf, self.n_docs)
        # layer counts that need extra jobs run outside every span
        spark.sparkContext.setJobGroup("counters", "counters")
        sizes = bands.groupBy("band", "bucket").count()
        over, biggest = sizes.agg(
            F.sum((F.col("count") > cfg.bucket_pair_cap).cast("long")), F.max("count")
        ).first()
        spark.sparkContext.setLocalProperty(T.GROUP_KEY, None)
        counters[run] = {
            "minhash.docs": n_docs,
            "minhash.shingle_bytes": sh_bytes,
            "candidates.band_rows": n_docs * cfg.num_bands,
            "candidates.pairs": n_cands,
            "candidates.overcap_buckets": over or 0,
            "candidates.max_bucket": biggest or 0,
            "verify.pairs_in": n_cands,
            "verify.pairs_out": n_pairs,
            "verify.yield": n_pairs / n_cands if n_cands else 0.0,
            "verify.bcast_runs": int(bcast),
            "connected_components.edges": n_pairs,
            "connected_components.largest_component": int(np.unique(labels, return_counts=True)[1].max()),
        }
        release(spark)
        return labels


# -- stream workload ------------------------------------------------------------


class Stream:
    """Closed loop, one micro-batch in flight: each batch is submitted when
    ``process_batch`` returned; the stores are compacted every
    ``compact_every`` batches between submissions."""

    def __init__(self, inputs: W.Inputs, cfg: DedupConfig, env: E.Env):
        self.inputs = inputs
        self.cfg = cfg
        self.state = os.path.join(env.out_dir, "stream-state")
        self.n_docs = inputs.n_docs

    def _deduper(self, spark) -> IncrementalDeduper:
        shutil.rmtree(self.state, ignore_errors=True)
        return IncrementalDeduper(spark, self.cfg, self.state)

    def prime(self, spark) -> None:
        """Two tiny batches, the second all exact dups of the first, so the
        store probe, gather and verify paths all run once before timing
        (Python worker start and plan compilation, counted in setup_s)."""
        ded = self._deduper(spark)
        d = read_docs(spark, self.inputs.batch_paths[0]).where(F.col("doc_id") < WARM_DOCS)
        ded.process_batch(d, 0)
        ded.process_batch(d.withColumn("doc_id", F.col("doc_id") + WARM_ID_SHIFT), 1)
        release(spark)

    def drain(self, spark, tracer: T.Tracer | None = None, run: int = 0) -> dict:
        """Every batch once; the RSS peak is taken per batch (its
        ``process_batch`` and the compaction that follows it)."""
        ded = self._deduper(spark)
        spec = self.inputs.spec

        def span(name: str, parent: dict | None = None):
            return tracer.span(name, run, parent) if tracer else nullcontext()

        lat, compact, peaks = [], [], []
        t_start = time.perf_counter()
        with span("drain") as root:
            for b, path in enumerate(self.inputs.batch_paths):
                batch = read_docs(spark, path)
                with E.RssSampler() as rss:
                    t0 = time.perf_counter()
                    with span("incremental.process_batch", root):
                        ded.process_batch(batch, b)
                    lat.append(time.perf_counter() - t0)
                    if (b + 1) % spec.compact_every == 0:
                        t0 = time.perf_counter()
                        with span("incremental.compact_stores", root):
                            ded.compact_stores()
                        compact.append(time.perf_counter() - t0)
                peaks.append(rss.peak_mb)
        return {
            "drain_s": time.perf_counter() - t_start,
            "lat": lat,
            "compact": compact,
            "peaks": peaks,
            "ded": ded,
        }

    def clusters(self, spark, ded: IncrementalDeduper) -> tuple[np.ndarray, np.ndarray]:
        """(incremental clusters, batch clusters over the union)."""
        union = read_docs(spark, self.inputs.pages)
        inc = clusters_with_singletons(
            connected_components(ded.dup_pairs(), self.cfg.max_cc_iterations), union
        ).toPandas()
        batch = minhash_dedup_clusters(union, self.cfg).toPandas()
        release(spark)
        return labels_of(inc, self.n_docs), labels_of(batch, self.n_docs)

    def check(self, spark, ded, checks: Checks) -> None:
        n = len(self.inputs.batch_paths)
        try:
            inc, batch = self.clusters(spark, ded)
        except Exception:
            checks.fail(traceback.format_exc(), n)
            return
        if not np.array_equal(inc, batch):
            checks.fail("incremental clusters differ from batch clusters over the union", n)
            return
        checks.clusters(inc, n)

    def measure(self, spark, seconds: float, checks: Checks) -> dict:
        n = len(self.inputs.batch_paths)
        drains: list[dict] = []
        t_end = time.perf_counter() + seconds
        while checks.attempted == 0 or time.perf_counter() < t_end:
            checks.attempted += n
            try:
                d = self.drain(spark)
            except Exception:
                checks.fail(traceback.format_exc(), n)
                continue
            drains.append(d)
            self.check(spark, d["ded"], checks)  # before the next drain wipes the stores
        if not drains:
            raise RuntimeError("every drain failed")
        lat = [x for d in drains for x in d["lat"]]
        peaks = [x for d in drains for x in d["peaks"]]
        return {
            "docs_per_s": self.n_docs / statistics.median(d["drain_s"] for d in drains),
            "batch_latency_p50_s": statistics.median(lat),
            "peak_rss_mb": statistics.median(peaks),
            "_times": [d["drain_s"] for d in drains],
            "_peak_rss_mb": peaks,
            "_batch_latency": lat,
            "_compact_s": [x for d in drains for x in d["compact"]],
        }


def release(spark) -> None:
    """Drop every cache the last call left behind (minhash_dup_pairs
    persists its signatures and never unpersists them)."""
    spark.catalog.clearCache()


# -- traced run -------------------------------------------------------------------


def layer_metrics(tracer: T.Tracer, groups: dict, cores: int, counters: dict) -> dict:
    """Per-layer metrics of the traced rep with the median total, so layer
    wall times plus the remainder add up to that rep's total exactly."""
    reps = sorted({s["run"] for s in tracer.spans})
    rows = []
    for run in reps:
        spans = [s for s in tracer.spans if s["run"] == run]
        root = next(s for s in spans if s["parent"] is None)
        row = dict.fromkeys(per_layer_names(), 0.0)
        for layer in LAYERS:
            mine = [s for s in spans if s["name"].split(".")[0] == layer]
            if not mine:
                continue
            wall = sum(T.duration(s) for s in mine)
            g = [groups.get(T.group_id(s), {}) for s in mine]
            for m in ("jobs", "task_s", "shuffle_write_mb", "spill_mb", "failed_tasks"):
                row[f"{layer}.{m}"] = sum(x.get(m, 0.0) for x in g)
            row[f"{layer}.wall_s"] = wall
            row[f"{layer}.slot_util"] = row[f"{layer}.task_s"] / (wall * cores) if wall else 0.0
        row.update(counters.get(run, {}))
        row["trace.total_s"] = T.duration(root)
        row["trace.remainder_s"] = T.self_time(root, spans)
        rows.append(row)
    mid = statistics.median_low(r["trace.total_s"] for r in rows)
    return next(r for r in rows if r["trace.total_s"] == mid)


def traced(spark, runner, seconds: float, checks: Checks, workload: str, seed: int, ev_dir: str):
    """Alternate untraced and layer-by-layer traced reps in one session
    (the only one with the event log on); -> per-layer metrics."""
    tracer = T.Tracer(spark.sparkContext, workload)
    counters: dict = {}
    untraced: list[float] = []
    is_batch = isinstance(runner, Batch)
    ops = 1 if is_batch else len(runner.inputs.batch_paths)
    t_end = time.perf_counter() + seconds
    run = 0
    while run == 0 or time.perf_counter() < t_end:
        checks.attempted += 2 * ops
        try:
            if is_batch:
                t0 = time.perf_counter()
                checks.clusters(runner.call(spark))
                untraced.append(time.perf_counter() - t0)
                checks.clusters(runner.traced_call(spark, tracer, run, counters))
            else:
                d = runner.drain(spark)
                untraced.append(d["drain_s"])
                runner.check(spark, d["ded"], checks)
                d = runner.drain(spark, tracer, run)
                counters[run] = stream_counters(spark, d, runner)
                runner.check(spark, d["ded"], checks)
        except Exception:
            checks.fail(traceback.format_exc(), 2 * ops)
        run += 1
    spark.stop()  # finalizes the event log
    tracer.dump(os.path.join(OUT, "traces", f"{workload}-{seed}.json"))
    metrics = layer_metrics(tracer, T.group_metrics(ev_dir), E.nproc(), counters)
    metrics["trace.untraced_s"] = statistics.median(untraced)
    metrics["trace_overhead_s"] = metrics["trace.total_s"] - metrics["trace.untraced_s"]
    return metrics


def stream_counters(spark, d: dict, runner: Stream) -> dict:
    lat = d["lat"]
    third = max(len(lat) // 3, 1)
    files = size = 0
    for dirpath, _dirs, names in os.walk(runner.state):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    spark.sparkContext.setJobGroup("counters", "counters")
    pairs = d["ded"].dup_pairs().count()
    spark.sparkContext.setLocalProperty(T.GROUP_KEY, None)
    return {
        "incremental.compact_s": sum(d["compact"]),
        "incremental.store_files": files,
        "incremental.store_mb": size / 2**20,
        "incremental.pairs_per_batch": pairs / len(lat),
        "incremental.latency_growth": statistics.median(lat[-third:]) / statistics.median(lat[:third]),
    }


# -- main -------------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="docs multiplier (smoke tests)")
    args = ap.parse_args(argv)

    cfg = DedupConfig(shingle_hash_bytes=4)  # what tools/run_dedup_job.py ships
    if (cfg.jaccard_threshold, cfg.shingle_k) != (W.TAU, W.K):
        raise SystemExit("engine threshold / shingle size no longer match the reference")
    spec = W.WORKLOADS[args.workload]
    if args.scale != 1.0:
        spec = spec.scaled(args.scale)
    inputs = W.prepare(spec, args.seed, os.path.join(OUT, "cache"))
    env = E.Env(os.path.join(OUT, "run"))
    runner = Stream(inputs, cfg, env) if spec.batches else Batch(inputs, cfg)
    checks = Checks(inputs)

    spark = None
    try:
        ev_dir = os.path.join(env.out_dir, "eventlog")
        shutil.rmtree(ev_dir, ignore_errors=True)
        start = {"event_log_dir": ev_dir} if args.trace else {}
        # setup: a cold JVM and session, then the workload's first calls
        t0 = time.perf_counter()
        spark = env.start(f"perfbench-{args.workload}", **start)
        runner.prime(spark)
        setup_s = time.perf_counter() - t0
        stamp = E.stamp(spark, env, args.seed)
        log(f"setup {setup_s:.2f} s")
        if args.trace:
            metrics = traced(spark, runner, args.seconds, checks, args.workload, args.seed, ev_dir)
            spark = None
            detail = {}
        else:
            m = runner.measure(spark, args.seconds, checks)
            metrics = {
                "docs_per_s": m["docs_per_s"],
                "batch_latency_p50_s": m["batch_latency_p50_s"],
                "dup_recall": checks.recall,
                "cluster_agreement": checks.agreement,
                "peak_rss_mb": m["peak_rss_mb"],
                "setup_s": setup_s,
            }
            detail = {k[1:]: v for k, v in m.items() if k.startswith("_")}
            detail["latency_tail"] = tail(m.get("_batch_latency", m["_times"]))
    finally:
        E.stop(spark)

    checks.across_runs()
    if checks.recall is None:
        log("no operation completed")
        return 1
    detail.update(
        stamp=stamp,
        reference_pairs=inputs.ref.n_pairs,
        errors=checks.errors[:5],
        error_rate=checks.failed / checks.attempted,
    )
    result = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": float(v), "unit": unit(k)} for k, v in metrics.items()},
    }
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"workload": args.workload, "stamp": stamp, "detail": detail, **result}, f, indent=1)
    print(json.dumps({"detail": detail}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
