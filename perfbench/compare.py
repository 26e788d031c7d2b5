#!/usr/bin/env python3
"""Compare two sets of benchmark results, run for run.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds result files as run.py writes them
(``.perfbench/results/<workload>-<seed>-t<trace>.json``). Files are paired
by name, i.e. same workload, seed and trace mode. A pair whose stamps
differ (cores, master, shuffle partitions, tmpfs scratch, pyspark, java,
python, driver memory or seed) is refused: exit code 2, nothing compared.
For every workload and metric it prints both medians, the change, in how
many pairs the new side was better, and, for end-to-end metrics, whether
the change stays within the bound BENCHMARK.json fixes.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load_dir(d: str) -> dict[str, dict]:
    out = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                out[name] = json.load(f)
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load_dir(argv[0]), load_dir(argv[1])
    names = sorted(base.keys() & new.keys())
    if not names:
        print("no result files in common", file=sys.stderr)
        return 2
    for n in names:
        a, b = base[n]["stamp"], new[n]["stamp"]
        diff = sorted(k for k in a.keys() | b.keys() if a.get(k) != b.get(k))
        if diff:
            print(f"refusing to compare {n}: stamps differ in {diff}", file=sys.stderr)
            return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    lower = {m["name"] for m in bench["end_to_end"] + bench["per_layer"] if m["better"] == "lower"}

    series: dict[tuple[str, str], list[tuple[float, float]]] = defaultdict(list)
    for n in names:
        wl = base[n]["workload"]
        for k, v in base[n]["metrics"].items():
            if k in new[n]["metrics"]:
                series[(wl, k)].append((v["value"], new[n]["metrics"][k]["value"]))

    print(f"{'workload':<15} {'metric':<40} {'base':>12} {'new':>12} {'change':>8} {'new wins':>9}  verdict")
    for (wl, k), pairs in sorted(series.items()):
        mb = statistics.median(p[0] for p in pairs)
        mn = statistics.median(p[1] for p in pairs)
        sign = -1 if k in lower else 1
        change = (mn - mb) / mb if mb else 0.0
        wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
        verdict = ""
        if k in e2e:
            verdict = "regression" if sign * change < -e2e[k]["bound"] else "within bound"
        print(f"{wl:<15} {k:<40} {mb:>12.4g} {mn:>12.4g} {change:>+8.1%} {wins:>4}/{len(pairs):<4}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
