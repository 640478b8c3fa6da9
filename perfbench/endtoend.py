"""End-to-end run (``--trace 0``): set-up, then closed-loop timed Spark
passes, each checked against the expected output.

The gated figures are CPU time, summed over this process, the Spark JVM
and its Python workers: on a shared host the wall time of a pass swings
by 2x with what else holds the cores, while its CPU time does not.  CPU
time still follows the host's speed per instruction, so each figure is
scaled to a reference host by a calibration pass (``calibrate``).  The
raw wall-clock and CPU figures are printed and kept in the artifact
beside them."""

from __future__ import annotations

import os
import statistics
import time

from calibrate import (REF_TASK_CPU_S, calibration_df, calibration_pass,
                       work)
from harness import (SETUP_REPS, Tally, Workload, accelerator_state,
                     bad_docs, build_input, check_columns, digest_of,
                     environment, expected_digest, inprocess_pass,
                     options_of, start_session, spark_cpu_s, worker_state)

MIN_PASSES = 5

# every end-to-end metric with its unit, in BENCHMARK.json order
END_TO_END_UNITS = {
    "setup_s": "s",
    "norm_cpu_ms_per_doc": "ms",
    "norm_cpu_s_per_mb": "s/MB",
    "worker_rss_mb": "MB",
}


def run_end_to_end(wl: Workload, seed: int, seconds: float, nproc: int,
                   artifact: dict) -> tuple[dict, Tally]:
    from corpus import load_base, page_html, sample_docs
    from trafilatura_spark.operators.pipeline import extract_documents

    tally = Tally()
    opts = options_of(wl)
    docs = sample_docs(load_base(), seed, wl.docs)

    # set-up: the session once (one JVM per process), then SETUP_REPS
    # builds of the input, each with its warm-up pass; the first build
    # also starts the Python workers.  Each step is kept as (wall, CPU)
    # seconds; setup_s is the CPU, scaled to the reference host.
    own = os.times()
    c0, t0 = own.user + own.system, time.perf_counter()
    spark = start_session(nproc)
    session = (time.perf_counter() - t0, spark_cpu_s(spark) - c0)
    reps, df = [], None
    for _ in range(SETUP_REPS):
        if df is not None:
            df.unpersist(blocking=True)
        c0, t0 = spark_cpu_s(spark), time.perf_counter()
        df = build_input(spark, docs, wl, opts, nproc)
        reps.append((time.perf_counter() - t0, spark_cpu_s(spark) - c0))
    artifact["env"] = environment(nproc, spark)
    accelerator_state(spark, artifact, tally)

    htmls = [(str(d[0]), page_html(d, wl.html_comments, wl.boiler))
             for d in docs]
    corpus_bytes = sum(len(h.encode()) for _, h in htmls)
    reference = None
    if wl.check == "inprocess":
        # the expected rows: core.bare_extraction of the same pages, here
        _, results = inprocess_pass(htmls, opts)
        reference = {doc_id: r for (doc_id, _), r in zip(htmls, results)}
        errored = sum(r[0] in ("error", "timeout") for r in results)
        tally.add(0, errored, f"{errored} in-process docs errored")
    del htmls
    expect = expected_digest(spark, docs, wl, reference)
    cols = check_columns(wl)
    ex = extract_documents(df, opts)
    bad = None

    def checked_pass(k: int) -> tuple[float, float]:
        nonlocal bad
        c0, t0 = spark_cpu_s(spark), time.perf_counter()
        got = digest_of(ex, cols)
        dt, dc = time.perf_counter() - t0, spark_cpu_s(spark) - c0
        if got["n"] != len(docs) or got["digest"] != expect:
            if bad is None:   # diagnose one pass row by row
                bad = bad_docs(ex, docs, wl, reference)
            tally.add(0, max(len(bad), 1),
                      f"pass {k}: {len(bad)} docs differ, first {bad[:5]}")
        tally.add(len(docs), 0)
        return dt, dc

    cal_tasks = nproc * 2          # as many tasks as corpus partitions
    cdf = calibration_df(spark, cal_tasks)
    cal_expect = [work()] * cal_tasks

    def cal_pass(k: int) -> list[float]:
        """CPU seconds of each calibration task, checked."""
        sums, task_cpu = calibration_pass(cdf)
        if sums != cal_expect:
            tally.add(0, 1, f"calibration pass {k}: {sums} != {cal_expect}")
        return task_cpu

    # The first full pass, checked but not timed, compiles the pass's
    # plan and grows the workers' heaps to their working size.
    checked_pass(0)
    cal_pass(0)

    # closed loop: one driver submits the next Spark pass when the last
    # returns; each extraction pass is followed by a calibration pass
    times, cpus, cals = [], [], []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(times) < MIN_PASSES:
        dt, dc = checked_pass(len(times) + 1)
        times.append(dt)
        cpus.append(dc)
        cals.extend(cal_pass(len(times)))
    workers = worker_state(spark)

    pass_s = statistics.median(times)
    # Pass CPU on the reference host.  The host's speed drifts over
    # minutes, so the medians of one run share it; its second-to-second
    # noise is not shared by a pass and the calibration after it, so
    # scaling pass by pass would add the two noises up.
    cal_s = statistics.median(cals)     # over every task of the run
    norm_s = statistics.median(cpus) / cal_s * REF_TASK_CPU_S
    setup_cpu_s = session[1] + statistics.median(c for _, c in reps)
    values = {
        "setup_s": setup_cpu_s * REF_TASK_CPU_S / cal_s,
        "norm_cpu_ms_per_doc": norm_s / len(docs) * 1e3,
        "norm_cpu_s_per_mb": norm_s / (corpus_bytes / 1e6),
        "worker_rss_mb": max(w["vm_hwm_kb"] for w in workers) / 1024,
    }
    metrics = {k: (values[k], u) for k, u in END_TO_END_UNITS.items()}
    artifact.update({
        "raw": {"setup_wall_s": session[0] + statistics.median(
                    w for w, _ in reps),
                "setup_cpu_s": setup_cpu_s,
                "docs_per_s": len(docs) / pass_s,
                "mb_per_s": corpus_bytes / pass_s / 1e6,
                "cpu_ms_per_doc": statistics.median(cpus) / len(docs) * 1e3,
                "calibration_task_cpu_s": cal_s},
        "setup": {"session_wall_cpu_s": session, "rep_wall_cpu_s": reps},
        "passes_s": times,
        "passes_cpu_s": cpus,
        "calibration_task_cpu_s": cals,
        "docs": len(docs),
        "corpus_mb": corpus_bytes / 1e6,
        "workers": workers,
    })
    spark.stop()
    return metrics, tally
