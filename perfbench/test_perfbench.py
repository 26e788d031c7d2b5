"""Self-tests of the benchmark: generator determinism, the reference against
brute force, metric names against BENCHMARK.json, and a tiny smoke run of
every workload in both modes.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as R  # noqa: E402
import workloads as W  # noqa: E402

from neural_locality_sensitive_hashing_spark import datagen  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_generator_is_deterministic_per_seed(name):
    spec = W.WORKLOADS[name].scaled(0.05)
    a_docs, a_groups = W.generate(spec, 7)
    b_docs, b_groups = W.generate(spec, 7)
    c_docs, _ = W.generate(spec, 8)
    assert np.array_equal(a_groups, b_groups)
    assert all(np.array_equal(x, y) for x, y in zip(a_docs, b_docs, strict=True))
    assert W.texts(a_docs) != W.texts(c_docs)


def test_reference_matches_brute_force():
    spec = W.WORKLOADS["stream_ingest"].scaled(0.3)
    docs, groups = W.generate(spec, 3)
    ref = W.reference(docs, groups)
    sets = [set(W.shingles(d).tolist()) for d in docs]
    expected = set()
    for g in np.unique(groups):
        members = np.flatnonzero(groups == g)
        for a, b in itertools.combinations(members.tolist(), 2):
            if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= W.TAU:
                expected.add((a, b))
    got = {tuple(p) for p in ref.pairs.tolist()}
    for members in ref.complete:
        got |= set(itertools.combinations(members.tolist(), 2))
    assert got == expected and ref.n_pairs == len(expected) > 0
    assert W.dup_recall(ref, ref.labels) == 1.0
    assert W.cluster_agreement(ref, ref.labels) == 1.0
    singletons = np.arange(len(docs))
    assert W.dup_recall(ref, singletons) == 0.0
    assert W.cluster_agreement(ref, singletons) < 1.0


def test_mega_groups_exceed_the_bucket_cap():
    assert W.WORKLOADS["dup_skew"].mega_size_x_cap > 4


def test_stream_is_the_default_web_mix():
    spec = W.WORKLOADS["stream_ingest"].scaled(0.2)
    docs, groups = W.generate(spec, 4)
    pages, truth = datagen.generate_pages(spec.n_docs, 4)
    assert W.texts(docs) == pages.column("text").to_pylist()
    assert np.array_equal(groups, truth.column("group_id").to_numpy())


def test_benchmark_json_matches_the_runner(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert bench["command"][:2] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64 and n[0].isalnum(), n
    assert {w["name"] for w in bench["workloads"]} <= set(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == R.END_TO_END
    assert [m["name"] for m in bench["per_layer"]] == R.per_layer_names()
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.fullmatch(m["unit"]) and m["unit"] == R.unit(m["name"]), m
        assert m["better"] in ("higher", "lower")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_smoke_run(bench, name, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", name, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = bench["per_layer"] if trace else bench["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    if trace:
        m = {k: v["value"] for k, v in out["metrics"].items()}
        layers = ("incremental",) if W.WORKLOADS[name].batches else R.LAYERS[:4]
        for layer in layers:  # the event log attributed jobs to every layer
            assert m[f"{layer}.wall_s"] > 0 and m[f"{layer}.jobs"] > 0 and m[f"{layer}.task_s"] > 0, layer
        covered = sum(m[f"{layer}.wall_s"] for layer in layers) + m["trace.remainder_s"]
        assert covered == pytest.approx(m["trace.total_s"], rel=1e-6)
    else:
        assert all(v["value"] > 0 for v in out["metrics"].values())
