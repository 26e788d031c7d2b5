"""Spans around layer calls, one Spark job group per span, and per-group
task metrics read back from the Spark event log of the traced session."""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from contextlib import contextmanager
from time import perf_counter

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """Keeps spans in memory; ``dump`` writes them out at the end of a run.
    Each span runs its Spark jobs under its own job group ``<run>/<id>``."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, run: int, parent: dict | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
            "run": run,
            "start": perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setJobGroup(group_id(rec), name)
        try:
            yield rec
        finally:
            rec["end"] = perf_counter()
            self.sc.setLocalProperty(GROUP_KEY, prev)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def group_id(span: dict) -> str:
    return f"{span['run']}/{span['id']}"


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part its child spans cover."""
    kids = sorted(
        (s["start"], s["end"]) for s in spans if s["parent"] == span["id"]
    )
    covered, edge = 0.0, span["start"]
    for a, b in kids:
        a, b = max(a, edge), min(b, span["end"])
        if b > a:
            covered += b - a
            edge = b
    return duration(span) - covered


def group_metrics(event_log_dir: str) -> dict[str, dict[str, float]]:
    """job group -> jobs, task_s (executor run time), shuffle_write_mb,
    spill_mb (bytes spilled to disk) and failed_tasks."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(
            ("jobs", "task_s", "shuffle_write_mb", "spill_mb", "failed_tasks"), 0.0
        )
    )
    for path in sorted(glob.glob(os.path.join(event_log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(GROUP_KEY)
                    if g:
                        out[g]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_group[sid] = (ev.get("Properties") or {}).get(GROUP_KEY)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if not g:
                        continue
                    m = out[g]
                    tm = ev.get("Task Metrics") or {}
                    m["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                    sw = tm.get("Shuffle Write Metrics") or {}
                    m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        m["failed_tasks"] += 1
    return dict(out)
