"""Host-speed calibration for the end-to-end run.

A shared host's speed per instruction drifts by 20% and more over
minutes, with what its other tenants run; CPU time follows that drift.
The end-to-end run therefore follows every timed extraction pass with a
calibration pass: the same number of Spark tasks as the corpus has
partitions, each running ``work`` — fixed pure-Python work (regex
tokenising, dict counting, building and sorting small records) that
touches nothing of ``trafilatura_spark``.  Each task times ``work``
alone, with the process's CPU clock and the garbage collector off, so
neither Spark's scheduling nor what the engine left on the worker's heap
enters the figure.  A run's median extraction pass CPU over the median
CPU of its calibration tasks, times ``REF_TASK_CPU_S``, is the
extraction's CPU on a reference host: a change to the engine moves it, a
change in the host's speed does not.

``REF_TASK_CPU_S`` only sets the scale: it is about what one calibration
task took on the host the benchmark was built on (4-vCPU KVM guest of an
Intel Xeon), so scaled figures there read close to raw ones.
"""

from __future__ import annotations

import re

REF_TASK_CPU_S = 0.19
ROUNDS = 40


def work() -> int:
    """The fixed unit of work one calibration task runs; returns a
    checksum that is the same on every host."""
    words = [f"w{i % 97}x{i % 13}" for i in range(3000)]
    text = " ".join(words)
    html = "".join(f"<p class='c{i % 7}'>{w} and more text</p>"
                   for i, w in enumerate(words))
    total = 0
    for _ in range(ROUNDS):
        counts: dict[str, int] = {}
        for w in re.findall(r"\w+", text):
            counts[w] = counts.get(w, 0) + 1
        total += len(counts)
        tags = [m.group(1) for m in re.finditer(r"<(\w+)[^>]*>", html)]
        nodes = [{"tag": t, "children": [], "text": str(i)}
                 for i, t in enumerate(tags)]
        total += len(nodes) + len(sorted(text.split()))
    return total


def _tasks(batches):
    import gc
    import time

    import pandas as pd
    for _ in batches:
        # ``work`` makes no reference cycles; with the collector off, its
        # CPU does not depend on how many objects the worker's earlier
        # extraction tasks left on its heap
        gc.disable()
        t0 = time.process_time()
        s = work()
        cpu_s = time.process_time() - t0
        gc.enable()
        yield pd.DataFrame({"s": [s], "cpu_s": [cpu_s]})


def calibration_df(spark, tasks: int):
    """One row per task: the checksum of one ``work`` call and the CPU
    seconds the task's worker spent on it."""
    return spark.range(0, tasks, 1, tasks).mapInPandas(
        _tasks, "s long, cpu_s double")


def calibration_pass(cdf) -> tuple[list[int], list[float]]:
    """Run every task once; returns each task's checksum and CPU
    seconds.  The CPU is timed inside the task, around ``work`` alone,
    so Spark's own scheduling and the JVM do not enter it."""
    rows = cdf.collect()
    return [r["s"] for r in rows], [r["cpu_s"] for r in rows]
