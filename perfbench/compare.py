#!/usr/bin/env python3
"""Summarise and compare benchmark artifacts.

    python3 perfbench/compare.py RUNS_A [RUNS_B]

Each argument is a directory of artifacts written by ``run.py``
(``.perfbench_out/*.json``), e.g. one copy per commit.  For every
workload and metric it prints the number of runs, the median and the
spread (quartile distance over median).  Given two directories it also
prints B's median over A's and, for end-to-end metrics, whether B is
worse than A by more than the bound in BENCHMARK.json.

Runs whose C accelerator state differs are not comparable: the script
refuses (exit 2) when the artifacts disagree on it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

from stats import iqr_frac

HERE = os.path.dirname(os.path.abspath(__file__))


def load(directory: str) -> list[dict]:
    runs = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path, encoding="utf-8") as fh:
            runs.append(json.load(fh))
    return runs


def by_metric(runs: list[dict]) -> dict[tuple, list[float]]:
    out: dict[tuple, list[float]] = {}
    for r in runs:
        for name, m in r.get("metrics", {}).items():
            out.setdefault((r["workload"], r["trace"], name),
                           []).append(m["value"])
    return out


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load(d) for d in argv]
    states = {json.dumps(r.get("accelerator"), sort_keys=True)
              for runs in sets for r in runs}
    if len(states) > 1:
        print(f"refusing to compare: accelerator states differ: "
              f"{sorted(states)}", file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
              encoding="utf-8") as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    a = by_metric(sets[0])
    b = by_metric(sets[1]) if len(sets) == 2 else {}
    for key in sorted(a):
        workload, trace, name = key
        xs = a[key]
        line = (f"{workload:16} {name:40} n={len(xs):<3} "
                f"median={statistics.median(xs):<12.6g}")
        if len(xs) >= 2 and statistics.median(xs):
            line += f" spread={iqr_frac(xs):.3f}"
        if key in b and statistics.median(xs):
            ratio = statistics.median(b[key]) / statistics.median(xs)
            line += f" B/A={ratio:.3f}"
            m = spec.get(name)
            if m is not None and trace == 0:
                worse = ratio - 1 if m["better"] == "lower" else 1 - ratio
                line += "  WORSE" if worse > m["bound"] else "  ok"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
