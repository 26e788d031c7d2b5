"""The resumable dedup pipeline (SURVEY.md §7 stages 1+3+4).

Stages (each one an idempotent checkpoint table):

    signatures   : pages -> (doc_id, sh, bands)
                   (dedup.banded_signatures_fused)
    cand_pairs   : band-explode + bucket self-join (candidate_pairs)
    dup_pairs    : exact-Jaccard verified pairs via dedup.verify_pairs —
                   the batch verify policy with the same gates: the
                   size-gated broadcast verify, else the join verify
    clusters     : union-find over dup_pairs, singletons included
    keep_list    : the SHIPPED table (dedup.keep_list) — one
                   representative per cluster + docs-represented count;
                   derived from the clusters checkpoint, so a resume
                   after a dropped keep_list restores from clusters
                   without recomputing pairs or the union-find

Resume semantics (the reference's cache-the-expensive-intermediate pattern,
``precompute.py:89-97``, generalized): the fingerprint chain starts from a
hash of the input token and ``asdict(cfg)``; each stage hashes its
upstream fingerprint plus ``/<stage>/v2``. A rerun reuses every stage whose
fingerprint matches and recomputes from the first miss — so a job killed
after `cand_pairs` resumes at `dup_pairs`. Any config change (a new
threshold, or an added or removed ``DedupConfig`` field) misses every
stage. No engine version is hashed: a code change that alters a stage's
output under the same config resumes stale snapshots unless it bumps the
``/vN`` suffix.

Counts ride the stage writes: each stage's rows (and dup_pairs'
``avg(jaccard)``) are observed on the job that writes its snapshot and
kept in its meta, ``_metrics`` is read from them, and lineage is one row
per written data file, from its footer. A fully cached rerun runs no
Spark job.
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.operators.candidates import (
    bucket_stats,
    candidate_pairs,
)
from neural_locality_sensitive_hashing_spark.operators.connected_components import (
    clusters_with_singletons,
    connected_components,
)
from neural_locality_sensitive_hashing_spark.operators.dedup import (
    banded_signatures_fused,
    explode_fused_bands,
    keep_list,
    verify_pairs,
)
from neural_locality_sensitive_hashing_spark.sources.checkpoint import CheckpointCatalog


@dataclass
class StageReport:
    stage: str
    cached: bool
    rows: int
    wall_sec: float


@dataclass
class PipelineReport:
    stages: list[StageReport] = field(default_factory=list)

    def cached_stages(self) -> set[str]:
        return {s.stage for s in self.stages if s.cached}


class DedupPipeline:
    """Checkpointed pages -> clusters pipeline."""

    STAGES = ["signatures", "cand_pairs", "dup_pairs", "clusters", "keep_list"]

    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig,
        checkpoint_dir: str,
        input_token: str,
    ):
        self.spark = spark
        self.cfg = cfg
        self.catalog = CheckpointCatalog(spark, checkpoint_dir)
        self.input_token = input_token
        self._fps = self._fingerprints()

    def _fingerprints(self) -> dict[str, str]:
        cfg_d = asdict(self.cfg)
        fps: dict[str, str] = {}
        upstream = hashlib.sha256(
            json.dumps({"input": self.input_token, "cfg": cfg_d}, sort_keys=True).encode()
        ).hexdigest()
        # /v2: the signatures stage stores the kernel's bands where v1
        # stored the full sig, so a v1 checkpoint dir is recomputed, not read
        for stage in self.STAGES:
            upstream = hashlib.sha256(f"{upstream}/{stage}/v2".encode()).hexdigest()
            fps[stage] = upstream[:24]
        return fps

    def _stage(self, name: str, compute, report: PipelineReport, **aggs) -> DataFrame:
        t0 = time.time()
        fp = self._fps[name]
        cached = self.catalog.has_snapshot(name, fp)
        if not cached:
            self.catalog.write_snapshot(compute(), name, fp, **aggs)
        rows = self.catalog.meta(name)["rows"]
        report.stages.append(StageReport(name, cached, rows, round(time.time() - t0, 3)))
        return self.catalog.read_snapshot(name)

    def run(self, pages: DataFrame) -> tuple[DataFrame, PipelineReport]:
        report = PipelineReport()
        cfg = self.cfg

        signatures = self._stage(
            "signatures", lambda: banded_signatures_fused(pages, cfg), report
        )
        cands = self._stage(
            "cand_pairs",
            lambda: candidate_pairs(explode_fused_bands(signatures), cfg),
            report,
        )
        dups = self._stage(
            "dup_pairs", lambda: verify_pairs(cands, signatures, cfg), report,
            avg_jaccard=F.avg("jaccard"),
        )

        def compute_clusters() -> DataFrame:
            labels = connected_components(dups, cfg.max_cc_iterations)
            return clusters_with_singletons(labels, signatures)

        clusters = self._stage("clusters", compute_clusters, report)
        self._stage("keep_list", lambda: keep_list(clusters), report)

        # S8 metrics sink: one quality/efficiency row set per run, next to
        # the per-file lineage (the reference logs recall/query_size/
        # bucket stats every eval — nlsh/trainers/base.py:87-108), from
        # the stage rows: keep_list holds one survivor per cluster.
        # A fully-cached resume recomputes nothing, so it also re-logs
        # nothing: the run_id (clusters fingerprint) already has its rows.
        if all(s.cached for s in report.stages):
            return clusters, report
        rows = {s.stage: s.rows for s in report.stages}
        avg_j = self.catalog.meta("dup_pairs").get("avg_jaccard")
        if avg_j is None and rows["dup_pairs"]:  # a meta written before it was observed
            avg_j = dups.agg(F.avg("jaccard")).first()[0]
        metrics = {
            "n_docs": float(rows["signatures"]),
            "dup_pairs": float(rows["dup_pairs"]),
            "avg_jaccard": float(avg_j or 0.0),
            "n_clusters": float(rows["keep_list"]),
            "candidate_pairs": float(rows["cand_pairs"]),
            "wall_sec": round(sum(s.wall_sec for s in report.stages), 3),
        }
        # per-band candidate fan-out (bucket_stats pair_mass): makes skew
        # drift auditable across runs — a band whose pair_mass balloons is
        # the one a boilerplate template landed in
        for row in bucket_stats(explode_fused_bands(signatures)).collect():
            band = int(row["band"])
            metrics[f"band_{band:02d}_pair_mass"] = float(row["pair_mass"])
            metrics[f"band_{band:02d}_max_bucket"] = float(row["max_bucket"])
        self.catalog.write_metrics(metrics, run_id=self._fps["clusters"])
        return clusters, report

    # -- resume helpers -------------------------------------------------------

    def drop_from(self, stage: str) -> None:
        """Simulate a mid-pipeline kill: drop this stage and everything after."""
        idx = self.STAGES.index(stage)
        for s in self.STAGES[idx:]:
            self.catalog.drop_snapshot(s)
