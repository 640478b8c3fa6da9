"""Per-layer run (``--trace 1``).

Three sources, each reported under the layer it describes:

- in-process passes over the workload's latency sample, untraced and
  traced (``trace.Tracer``) in turn: self time per layer per document,
  GC, call counts, and the tracing overhead as the traced wall over the
  untraced wall;
- a Spark null-UDF ladder over the workload's input (JVM only → Arrow
  input only → canned rows → full extraction), plus partition and task
  skew from the Spark status REST API;
- on ``fast_article`` only: one ``job.run_extraction`` pass over the
  same pages, measured per wave from its progress table and against
  the bare stage, and the scaling ratio between ``local[1]`` and
  ``local[nproc]``.

The job and scaling metrics read 0 on the other workloads.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import urllib.request
from collections import Counter

from harness import (OUT, WORK, Tally, Workload, accelerator_state,
                     build_input, corpus_df, environment, inprocess_pass,
                     noop, options_of, start_session)

SCALING_DOCS = 1200
JOB_DOCS = 1000
LADDER_REPS = 2
TRACE_ROUNDS = 2
JOB_BUCKETS, JOB_WAVE = 64, 16     # the job CLI's --buckets / --wave-size

# every per-layer metric with its unit, in BENCHMARK.json order
LAYER_UNITS = {
    "dom.parse_us": "us",
    "dom.nodes_per_doc": "count",
    "metadata.us": "us",
    "cleaning.clean_us": "us",
    "cleaning.convert_us": "us",
    "cleaning.calls_per_doc": "count",
    "main_extractor.content_us": "us",
    "main_extractor.comments_us": "us",
    "fallbacks.compare_us": "us",
    "readability.us": "us",
    "justext.us": "us",
    "baseline.us": "us",
    "fallbacks.win_ratio": "frac",
    "render.emit_us": "us",
    "core.other_us": "us",
    "core.doc_us": "us",
    "core.doc_ms_p50": "ms",
    "core.doc_ms_p99": "ms",
    "core.tier_main": "count",
    "core.tier_fallback": "count",
    "core.status_ok": "count",
    "gc.us_per_doc": "us",
    "gc.gen2_collections": "count",
    "gc.collected_per_doc": "count",
    "trace.self_sum_frac": "frac",
    "trace.overhead_frac": "frac",
    "pipeline.jvm_s": "s",
    "pipeline.arrow_in_s": "s",
    "pipeline.canned_s": "s",
    "pipeline.extract_s": "s",
    "pipeline.boundary_frac": "frac",
    "pipeline.partition_rows_max_over_median": "ratio",
    "pipeline.task_s_max_over_median": "ratio",
    "job.wave_s_median": "s",
    "job.wave_s_max": "s",
    "job.stage_s": "s",
    "job.overhead_frac": "frac",
    "job.output_files": "count",
    "job.output_mb": "MB",
    "job.shuffle_write_mb": "MB",
    "scaling.eff_1_to_n": "frac",
}


def rest(spark, path: str):
    """GET one resource of this application's status REST API."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = (f"http://127.0.0.1:{port}/api/v1/applications/"
           f"{sc.applicationId}/{path}")
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def timed(spark, group: str, action) -> float:
    """Run ``action`` as Spark job group ``group``; its wall seconds."""
    spark.sparkContext.setJobGroup(group, group)
    t0 = time.perf_counter()
    action()
    return time.perf_counter() - t0


def group_stages(spark, group: str) -> list[dict]:
    """Completed stage records of a job group, waiting for the status
    store to catch up with the listener bus."""
    st = spark.sparkContext.statusTracker()
    ids = sorted({s for j in st.getJobIdsForGroup(group)
                  for s in st.getJobInfo(j).stageIds})
    deadline = time.monotonic() + 10
    while True:
        stages = [a for s in ids for a in rest(spark, f"stages/{s}")]
        done = [a for a in stages if a["status"] in ("COMPLETE", "SKIPPED")]
        if len(done) == len(stages) or time.monotonic() > deadline:
            return done
        time.sleep(0.1)


def task_seconds(spark, stage: dict) -> list[float]:
    tasks = rest(spark, f"stages/{stage['stageId']}/{stage['attemptId']}"
                        f"/taskList?length=100000")
    return [t["duration"] / 1000 for t in tasks if "duration" in t]


def max_over_median(xs: list[float]) -> float:
    return max(xs) / statistics.median(xs)


def pipeline_ladder(spark, df, opts) -> dict:
    """Seconds per pass of each rung, median of LADDER_REPS: JVM scan of
    the spans, Arrow input consumed by a UDF that returns nothing,
    canned output rows for every input row, full extraction.  Each rung
    adds one cost to the one before it."""
    from trafilatura_spark.operators.pipeline import (EXTRACTED_SCHEMA,
                                                      doc_size_bytes,
                                                      extract_documents)
    columns = EXTRACTED_SCHEMA.fieldNames()

    def arrow_in(batches):
        import pandas as pd
        n = sum(len(pdf) for pdf in batches)
        yield pd.DataFrame({"n": [n]})

    def canned(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame(
                [(str(d), [("p", "x", "", 0)], "x", None, "ok", "main", 1)
                 for d in pdf["doc_id"]], columns=columns)

    rungs = {
        "jvm": lambda: df.select(doc_size_bytes().alias("s"))
        .groupBy().sum("s").collect(),
        "arrow_in": lambda: noop(df.mapInPandas(arrow_in, "n long")),
        "canned": lambda: noop(df.mapInPandas(canned, EXTRACTED_SCHEMA)),
        "extract": lambda: noop(extract_documents(df, opts)),
    }
    out = {}
    for name, action in rungs.items():
        out[name] = statistics.median(
            timed(spark, f"ladder-{name}-{i}", action)
            for i in range(LADDER_REPS))
    stage = max(group_stages(spark, f"ladder-extract-{LADDER_REPS - 1}"),
                key=lambda a: a["numTasks"])
    out["task_s"] = task_seconds(spark, stage)
    return out


def partition_rows(df) -> list[int]:
    from pyspark.sql import functions as F
    return [r["count"] for r in
            df.groupBy(F.spark_partition_id()).count().collect()]


def job_layer(spark, docs: list, wl: Workload, opts, nproc: int,
              tally: Tally) -> dict:
    """``job.run_extraction`` over the corpus written to parquet, with
    the job CLI's bucketing: per-wave seconds from the progress table's
    ``committed_at``, the same input through the bare stage to a noop
    sink, output files and bytes, and shuffle bytes written.  The first
    pass warms the JVM and is discarded; the second is measured and its
    output checked like a timed pass."""
    from harness import check_columns, digest_of, expected_digest
    from trafilatura_spark.job import run_extraction
    from trafilatura_spark.operators.pipeline import extract_documents
    base = os.path.join(WORK, "job")
    shutil.rmtree(base, ignore_errors=True)
    inp = os.path.join(base, "input")
    docs = docs[:JOB_DOCS]
    corpus_df(spark, docs, wl, nproc * 2).write.parquet(inp)
    for k in range(2):
        out, prog = (os.path.join(base, f"{d}{k}") for d in ("out", "prog"))
        start = time.time()
        job_s = timed(spark, f"job-{k}", lambda: run_extraction(
            spark, spark.read.parquet(inp), out, prog, run_id=f"trace{k}",
            options=opts, n_buckets=JOB_BUCKETS, wave_size=JOB_WAVE))
    stages = group_stages(spark, f"job-{k}")
    progress = spark.read.parquet(prog).collect()
    commits = sorted({r["committed_at"].timestamp() for r in progress})
    waves = [b - a for a, b in zip([start] + commits, commits)]
    got = digest_of(spark.read.parquet(out), check_columns(wl),
                    distinct_ids=True)
    if (got["n"], got["ids"], got["digest"]) != (
            len(docs), len(docs), expected_digest(spark, docs, wl, None)) \
            or sorted(r["bucket"] for r in progress) != \
            list(range(JOB_BUCKETS)) \
            or sum(r["docs"] for r in progress) != len(docs):
        tally.add(0, 1, f"job output or progress table wrong: {got}")
    tally.add(len(docs), 0)
    sizes = [os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out)
             for f in fs if f.endswith(".parquet")]
    stage_s = timed(spark, "job-stage", lambda: noop(
        extract_documents(spark.read.parquet(inp), opts)))
    shutil.rmtree(base, ignore_errors=True)
    return {
        "job.wave_s_median": statistics.median(waves),
        "job.wave_s_max": max(waves),
        "job.stage_s": stage_s,
        "job.overhead_frac": 1 - stage_s / job_s,
        "job.output_files": len(sizes),
        "job.output_mb": sum(sizes) / 1e6,
        "job.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages)
        / 1e6,
    }


def scaling(spark, docs: list, wl: Workload, opts, nproc: int) -> float:
    """Rate at local[nproc] ÷ (nproc × rate at local[1]) over the same
    SCALING_DOCS documents; stops ``spark``."""
    from trafilatura_spark.operators.pipeline import extract_documents
    sub = docs[:SCALING_DOCS]
    rates = []
    for n in (nproc, 1):
        if n != nproc:
            spark = start_session(n)
        df = build_input(spark, sub, wl, opts, nproc)
        ex = extract_documents(df, opts)
        rates.append(len(sub) / statistics.median(
            timed(spark, f"scaling-{n}-{i}", lambda: noop(ex))
            for i in range(LADDER_REPS)))
        spark.stop()
    return rates[0] / (nproc * rates[1])


def run_traced(name: str, wl: Workload, seed: int, nproc: int,
               artifact: dict) -> tuple[dict, Tally]:
    from corpus import expected_spans, load_base, page_html, sample_docs
    from stats import tail_percentile
    from trace import DOC, GC, Tracer
    from trafilatura_spark.dom import parse_html

    tally = Tally()
    opts = options_of(wl)
    docs = sample_docs(load_base(), seed, wl.docs)
    marks = [("start", time.perf_counter())]
    spark = start_session(nproc)
    df = build_input(spark, docs, wl, opts, nproc)
    artifact["env"] = environment(nproc, spark)
    accelerator_state(spark, artifact, tally)

    marks.append(("setup", time.perf_counter()))

    # in-process: untraced and traced passes over the same documents,
    # alternating, so that neither side always runs first
    htmls = [(str(d[0]), page_html(d, wl.html_comments, wl.boiler))
             for d in docs[:wl.trace_docs]]
    n = len(htmls)
    inprocess_pass(htmls[:20], opts)
    tracer = Tracer()
    plain_lat, traced_lat = [], []
    for _ in range(TRACE_ROUNDS):
        lat, plain = inprocess_pass(htmls, opts)
        plain_lat += lat
        with tracer:
            lat, traced = inprocess_pass(htmls, opts, tracer)
        traced_lat += lat
    tracer.dump(os.path.join(OUT, f"{name}-seed{seed}-spans.jsonl"))
    differ = sum(a != b for a, b in zip(plain, traced))
    tally.add(n, differ, f"{differ} docs differ when traced")
    if wl.check == "truth":
        wrong = sum(r[0] != "ok" or r[3] != expected_spans(
            d, wl.html_comments) for r, d in zip(plain, docs))
        tally.add(n, wrong, f"{wrong} in-process docs differ from truth")
    errored = sum(r[0] in ("error", "timeout") for r in plain)
    tally.add(0, errored, f"{errored} in-process docs errored")

    selfs = tracer.self_time_by_name()
    wall = tracer.wall_ns()
    calls = tracer.counts
    tiers = Counter(r[1] for r in traced)
    status = Counter(r[0] for r in traced)

    per_doc = 1 / (n * TRACE_ROUNDS)
    pct, p_tail = tail_percentile(plain_lat)
    artifact["latency"] = {"samples": len(plain_lat), "tail_percentile": pct}

    def us(*names: str) -> float:
        return sum(selfs.get(k, 0) for k in names) * per_doc / 1e3

    nodes = [sum(1 for _ in parse_html(h).iter()) for _, h in htmls[:100]]
    m = {
        "dom.parse_us": us("dom.parse"),
        "dom.nodes_per_doc": statistics.mean(nodes),
        "metadata.us": us("metadata"),
        "cleaning.clean_us": us("cleaning.clean"),
        "cleaning.convert_us": us("cleaning.convert"),
        "cleaning.calls_per_doc": calls["cleaning.clean"] * per_doc,
        "main_extractor.content_us": us("main_extractor.content"),
        "main_extractor.comments_us": us("main_extractor.comments"),
        "fallbacks.compare_us": us("fallbacks.compare"),
        "readability.us": us("readability"),
        "justext.us": us("justext"),
        "baseline.us": us("baseline"),
        "fallbacks.win_ratio": (tiers["readability"] + tiers["justext"])
        * TRACE_ROUNDS / max(calls["fallbacks.compare"], 1),
        "render.emit_us": us("render.emit"),
        "core.other_us": us(DOC),
        "core.doc_us": wall * per_doc / 1e3,
        "core.doc_ms_p50": statistics.median(plain_lat) / 1e6,
        "core.doc_ms_p99": p_tail / 1e6,
        "core.tier_main": tiers["main"],
        "core.tier_fallback": tiers["readability"] + tiers["justext"]
        + tiers["baseline"],
        "core.status_ok": status["ok"],
        "gc.us_per_doc": us(GC),
        "gc.gen2_collections": calls["gc.gen2"] / TRACE_ROUNDS,
        "gc.collected_per_doc": tracer.gc_collected * per_doc,
        "trace.self_sum_frac": sum(selfs.values()) / wall,
        "trace.overhead_frac": sum(traced_lat) / sum(plain_lat) - 1,
    }
    if abs(m["trace.self_sum_frac"] - 1) > 0.05:
        tally.add(0, 1, "layer self times do not sum to the traced wall")

    marks.append(("inprocess", time.perf_counter()))
    ladder = pipeline_ladder(spark, df, opts)
    rows = partition_rows(df)
    m.update({
        "pipeline.jvm_s": ladder["jvm"],
        "pipeline.arrow_in_s": ladder["arrow_in"],
        "pipeline.canned_s": ladder["canned"],
        "pipeline.extract_s": ladder["extract"],
        "pipeline.boundary_frac": ladder["canned"] / ladder["extract"],
        "pipeline.partition_rows_max_over_median": max_over_median(rows),
        "pipeline.task_s_max_over_median": max_over_median(ladder["task_s"]),
    })
    marks.append(("pipeline", time.perf_counter()))
    if name == "fast_article":
        m.update(job_layer(spark, docs, wl, opts, nproc, tally))
        marks.append(("job", time.perf_counter()))
        m["scaling.eff_1_to_n"] = scaling(spark, docs, wl, opts, nproc)
        marks.append(("scaling", time.perf_counter()))
    else:
        spark.stop()
    metrics = {k: (m.get(k, 0), unit) for k, unit in LAYER_UNITS.items()}
    artifact.update({"phase_s": {b[0]: b[1] - a[1]
                                 for a, b in zip(marks, marks[1:])},
                     "docs": len(docs), "latency_docs": n,
                     "calls": dict(calls), "tiers": dict(tiers),
                     "status": dict(status), "self_ns": selfs,
                     "partition_rows": rows, "ladder": ladder})
    return metrics, tally
