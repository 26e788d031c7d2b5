"""Checkpoint/resume tests (FIXTURES §4: resume scenario + lineage)."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.plans.pipeline import DedupPipeline
from neural_locality_sensitive_hashing_spark.sources.checkpoint import LINEAGE, METRICS

CFG = DedupConfig()


def drop_from(pipe, stage):
    """Simulate a mid-pipeline kill: drop this stage and everything after."""
    for s in DedupPipeline.STAGES[DedupPipeline.STAGES.index(stage):]:
        pipe.catalog.drop_snapshot(s)


def read_table(spark, pipe, table, schema):
    """One of the catalog's append tables (``_lineage``, ``_metrics``)."""
    return spark.read.schema(from_arrow_schema(schema)).parquet(
        os.path.join(pipe.catalog.base, table)
    )


@pytest.fixture(scope="module")
def pipeline_env(spark, pages_1k, tmp_path_factory):
    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    return pages, ckpt


def _cluster_map(df):
    return {r.doc_id: r.cluster_id for r in df.collect()}


def _dup_pair_rows(pipe):
    rows = pipe.catalog.read_snapshot("dup_pairs").collect()
    return sorted((r.a, r.b, r.jaccard) for r in rows)


def test_full_run_then_resume_is_identical_and_skips_stages(spark, pipeline_env):
    pages, ckpt = pipeline_env
    pipe = DedupPipeline(spark, CFG, ckpt, input_token="pages_1k")
    clusters1, rep1 = pipe.run(pages)
    m1 = _cluster_map(clusters1)
    assert rep1.cached_stages() == set()
    pairs1 = _dup_pair_rows(pipe)
    assert pairs1

    # rerun without dropping anything: everything cached
    clusters2, rep2 = pipe.run(pages)
    assert rep2.cached_stages() == set(DedupPipeline.STAGES)
    assert _cluster_map(clusters2) == m1

    # kill after cand_pairs: drop dup_pairs + clusters, resume; the
    # re-verified (a, b, jaccard) rows are bit-identical
    drop_from(pipe, "dup_pairs")
    clusters3, rep3 = pipe.run(pages)
    assert rep3.cached_stages() == {"signatures", "cand_pairs"}
    assert _dup_pair_rows(pipe) == pairs1
    assert _cluster_map(clusters3) == m1


def test_config_change_invalidates(spark, pipeline_env):
    pages, ckpt = pipeline_env
    cfg2 = DedupConfig(jaccard_threshold=0.8)
    pipe = DedupPipeline(spark, cfg2, ckpt, input_token="pages_1k")
    clusters, rep = pipe.run(pages)
    # different fingerprint -> nothing reused from the τ=0.7 run
    assert rep.cached_stages() == set()
    assert clusters.count() == pages.count()


def test_lineage_written(spark, pages_1k, tmp_path):
    """Each stage's lineage rows (one per written data file, from its
    footer) sum to the rows its meta recorded, and a resume from the
    clusters stage logs the fresh run's metrics again: its avg_jaccard
    comes from the cached dup_pairs meta."""
    pages = spark.read.parquet(pages_1k[0])
    pipe = DedupPipeline(spark, CFG, str(tmp_path / "ckpt"), input_token="pages_1k")
    _, rep = pipe.run(pages)
    lineage = read_table(spark, pipe, "_lineage", LINEAGE)
    lineage = lineage.groupBy("stage", "fingerprint").agg(F.sum("rows"))
    sums = {(stage, fp): n for stage, fp, n in lineage.collect()}
    assert len(sums) == len(DedupPipeline.STAGES)
    for s in rep.stages:
        meta = pipe.catalog.meta(s.stage)
        assert sums[s.stage, meta["fingerprint"]] == meta["rows"] == s.rows, s.stage
    assert rep.stages[0].rows == pages.count()

    def metric_rows():
        metrics = read_table(spark, pipe, "_metrics", METRICS).collect()
        return Counter(r for r in metrics if r.metric != "wall_sec")

    fresh = metric_rows()
    assert {r.metric for r in fresh} >= {"n_docs", "dup_pairs", "avg_jaccard", "n_clusters"}
    drop_from(pipe, "clusters")
    _, rep2 = pipe.run(pages)
    assert rep2.cached_stages() == {"signatures", "cand_pairs", "dup_pairs"}
    assert [s.rows for s in rep2.stages] == [s.rows for s in rep.stages]
    assert metric_rows() - fresh == fresh


@pytest.mark.parametrize("fresh_budget, cached_budget", [(20, 0)])
def test_pipeline_job_budget(spark, pages_1k, tmp_path, fresh_budget, cached_budget):
    """Each stage's counts ride the job that writes it: a fresh run runs
    at most ``fresh_budget`` jobs (a recount of a snapshot, or a lineage
    or metrics write through Spark, shows up here as extra jobs), and an
    identical rerun reads every snapshot without a job."""
    pages = spark.read.parquet(pages_1k[0])
    sc = spark.sparkContext
    jobs = []
    for run in ("fresh", "cached"):
        group = f"pipeline-budget-{run}-{tmp_path.name}"
        sc.setJobGroup(group, f"{run} pipeline run")
        try:
            DedupPipeline(spark, CFG, str(tmp_path / "ckpt"), "pages_1k").run(pages)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert 0 < jobs[0] <= fresh_budget, f"fresh run: {jobs[0]} jobs > budget {fresh_budget}"
    assert jobs[1] <= cached_budget, f"cached run: {jobs[1]} jobs > budget {cached_budget}"


def test_pipeline_with_4byte_shingles(spark, pages_1k, tmp_path_factory):
    """The pipeline applies shingle_hash_bytes=4 to its signatures stage
    (its snapshot's shingle sets are 4-byte hashes) and its clusters match
    the 8-byte run's. Truncating to 32 bits re-uniques the set, so per doc
    the 4-byte ``sh`` is at most half as many bytes as the 8-byte one; a
    stage that ignored the width would store equal lengths."""
    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    ckpt = str(tmp_path_factory.mktemp("ckpt4"))
    cfg4 = DedupConfig(shingle_hash_bytes=4)
    pipe4 = DedupPipeline(spark, cfg4, ckpt, input_token="pages_1k")
    clusters4, _ = pipe4.run(pages)
    m4 = _cluster_map(clusters4)
    ckpt8 = str(tmp_path_factory.mktemp("ckpt8"))
    pipe8 = DedupPipeline(spark, CFG, ckpt8, input_token="pages_1k")
    clusters8, _ = pipe8.run(pages)
    assert m4 == _cluster_map(clusters8)

    def sh_bytes(pipe):
        sigs = pipe.catalog.read_snapshot("signatures")
        return {r.doc_id: len(r.sh or b"") for r in sigs.select("doc_id", "sh").collect()}

    len4, len8 = sh_bytes(pipe4), sh_bytes(pipe8)
    assert len4.keys() == len8.keys() and any(len8.values())
    too_long = [d for d in len8 if 2 * len4[d] > len8[d]]
    assert not too_long, f"4-byte sh over half the 8-byte length: {too_long[:5]}"


def test_keep_list_stage_resumes_from_clusters(spark, pipeline_env):
    """VERDICT r5 item 3: the keep-list is the table the pipeline ships,
    so it must be a checkpointed stage that restores from the clusters
    checkpoint — dropping ONLY keep_list and rerunning recomputes it
    byte-identical without touching pairs or the union-find."""
    pages, ckpt = pipeline_env
    pipe = DedupPipeline(spark, CFG, ckpt, input_token="pages_1k")
    pipe.run(pages)
    kl1 = sorted(tuple(r) for r in pipe.catalog.read_snapshot("keep_list").collect())
    assert kl1
    # every document is represented by exactly one survivor
    assert sum(n for _, n in kl1) == pages.count()
    # survivors are one per cluster
    clusters = pipe.catalog.read_snapshot("clusters")
    assert len(kl1) == clusters.select("cluster_id").distinct().count()

    drop_from(pipe, "keep_list")
    _, rep = pipe.run(pages)
    assert rep.cached_stages() == {
        "signatures", "cand_pairs", "dup_pairs", "clusters"
    }
    kl2 = sorted(tuple(r) for r in pipe.catalog.read_snapshot("keep_list").collect())
    assert kl2 == kl1


def test_job_checkpoint_mode_reports_and_resumes(pages_1k, tmp_path):
    """`run_dedup_job --checkpoint-dir` in a fresh spark-submit-style
    process: the first run reports the same dup_pairs (the dup_pairs
    snapshot's row count) and clusters as the straight-line job, an
    identical re-submission resumes every stage from its snapshot, and a
    submission with ``--recrawl-dedup`` (another input stage over the same
    files and pre-recrawl count) resumes none."""
    import json
    import os
    import subprocess
    import sys

    pages_path, _ = pages_1k
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8", "PYTHONPATH": repo}

    def run_job(name, *extra):
        out = tmp_path / f"{name}.json"
        subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "run_dedup_job.py"),
             "--pages", pages_path, "--shuffle-partitions", "8",
             "--json-out", str(out), *extra],
            check=True, cwd=repo, timeout=420,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, env=env,
        )
        return json.loads(out.read_text())

    straight = run_job("straight")
    assert straight["dup_pairs"] > 0
    ckpt = str(tmp_path / "ckpt")
    first = run_job("first", "--checkpoint-dir", ckpt)
    assert first["resumed_stages"] == []
    assert first["dup_pairs"] == straight["dup_pairs"]
    assert first["clusters"] == straight["clusters"]
    second = run_job("second", "--checkpoint-dir", ckpt)
    assert second["resumed_stages"] == sorted(DedupPipeline.STAGES)
    assert second["dup_pairs"] == straight["dup_pairs"]
    assert second["clusters"] == straight["clusters"]
    recrawl = run_job("recrawl", "--checkpoint-dir", ckpt, "--recrawl-dedup")
    assert recrawl["resumed_stages"] == []


def test_input_token_sees_a_rewrite_behind_a_glob(tmp_path):
    """The job's resume token folds in every file it reads: rewriting the
    one file a ``--pages`` glob matches changes the token, as it does for
    a directory or a plain file, so the rerun does not resume stale
    snapshots. Spark-free."""
    from tools.run_dedup_job import _input_token

    data = tmp_path / "pages"
    data.mkdir()
    part = data / "part-0.parquet"
    part.write_bytes(b"first")
    specs = [str(data / "*.parquet"), str(data), str(part)]
    before = {spec: _input_token(spec, 5, False) for spec in specs}
    assert before == {spec: _input_token(spec, 5, False) for spec in specs}
    part.write_bytes(b"second")
    os.utime(part, ns=(1, 1))
    for spec in specs:
        assert _input_token(spec, 5, False) != before[spec], spec
