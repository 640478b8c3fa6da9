#!/usr/bin/env python3
"""Layered extraction benchmark for trafilatura_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload fast_article --seed 1 \
        --seconds 25 --trace 0

``--trace 0`` measures the end-to-end metrics, ``--trace 1`` the
per-layer metrics (see README.md).  Human-readable lines go to standard
output first; the last line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  A full artifact
(environment, option set, accelerator state, every sample count) is
written to ``.perfbench_out/``.  Everything the run writes stays under
the checkout.  The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import harness
from harness import OUT, ROOT, WORKLOADS


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    harness.prepare_environment()
    nproc = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload]
    artifact = {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace,
                "options": {**wl.options, "html_comments": wl.html_comments,
                            "boiler_repeat": wl.boiler}}
    try:
        if args.trace:
            from layers import run_traced
            metrics, tally = run_traced(args.workload, wl, args.seed, nproc,
                                        artifact)
        else:
            from endtoend import run_end_to_end
            metrics, tally = run_end_to_end(wl, args.seed, args.seconds,
                                            nproc, artifact)
    finally:
        harness.stop_jvm()
    artifact["metrics"] = {k: {"value": v, "unit": u}
                           for k, (v, u) in metrics.items()}
    artifact["failures"] = tally.notes
    path = os.path.join(OUT, f"{args.workload}-seed{args.seed}"
                             f"-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(artifact, fh, indent=1, default=str)

    print(f"workload {args.workload} seed {args.seed} nproc {nproc} "
          f"accelerator {artifact.get('accelerator')}")
    for k, (v, u) in metrics.items():
        print(f"{args.workload}.{k} {v:.6g} {u}")
    for k, v in artifact.get("raw", {}).items():
        print(f"{args.workload}.raw.{k} {v:.6g} (not gated)")
    if "latency" in artifact:
        lat = artifact["latency"]
        print(f"{args.workload}.core.doc_ms_p99 is p{lat['tail_percentile']} "
              f"of {lat['samples']} single-core samples")
    print(f"{args.workload}.failed_frac "
          f"{tally.failed / max(tally.attempted, 1):.6g} "
          f"({tally.failed}/{tally.attempted})")
    for note in tally.notes:
        print(f"FAILED: {note}")
    print(f"artifact {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": artifact["metrics"],
    }))
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
