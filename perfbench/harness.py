"""Shared pieces of the benchmark: workloads, the checkout-local
environment, the Spark session and corpus, worker inspection, the
in-process pass and the output check.

Nothing here imports Spark or the engine at module level:
``prepare_environment`` has to run first.
"""

from __future__ import annotations

import gc
import os
import platform
import sys
import tempfile
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

# the bench option set (bench.py's extraction options) and the job CLI's
# default (``python -m trafilatura_spark.job`` without ``--fast``)
FAST = {"fast": True, "comments": False, "with_metadata": True,
        "min_extracted_size": 5, "min_output_size": 1}
DEFAULT: dict = {}

SETUP_REPS = 3


@dataclass(frozen=True)
class Workload:
    options: dict
    boiler: int           # boilerplate repeats: ~8 KB pages at 16
    docs: int             # documents in one timed pass
    trace_docs: int       # documents in the traced in-process passes
    check: str            # truth: ground-truth spans; inprocess: equal to
                          # the in-process extraction of the same page
    html_comments: bool = False


# Why each workload exists is recorded in BENCHMARK.json and README.md.
WORKLOADS = {
    "fast_article": Workload(FAST, 16, 3000, 1000, "truth"),
    "default_article": Workload(DEFAULT, 16, 1000, 1000, "inprocess",
                                html_comments=True),
}


# -- environment -------------------------------------------------------------

def prepare_environment() -> None:
    """Point every scratch location inside the checkout and make the
    checkout's package importable here and in Spark's Python workers.
    Exits non-zero when the checkout holds no ``trafilatura_spark``."""
    pkg_init = os.path.join(ROOT, "trafilatura_spark", "__init__.py")
    if not os.path.isfile(pkg_init):
        raise SystemExit(f"perfbench: no trafilatura_spark package in {ROOT}")
    tmp = os.path.join(WORK, "tmp")
    for d in (OUT, tmp):
        os.makedirs(d, exist_ok=True)
    path = [ROOT, HERE] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TRAFILATURA_SPARK_CHTML_CACHE": os.path.join(WORK, "chtml"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONPATH": os.pathsep.join(path),
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    # importing the package builds the C accelerator into the cache above
    import trafilatura_spark
    if os.path.abspath(trafilatura_spark.__file__) != pkg_init:
        raise SystemExit(f"perfbench: trafilatura_spark resolved to "
                         f"{trafilatura_spark.__file__}, not {pkg_init}")


def options_of(wl: Workload):
    from trafilatura_spark.settings import Options
    return Options(**wl.options)


def driver_accelerator() -> bool:
    from trafilatura_spark import dom
    return getattr(dom, "_CPARSE", None) is not None


def environment(nproc: int, spark) -> dict:
    import pyarrow
    import pyspark
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "gc_threshold": list(gc.get_threshold()),
        "no_chtml_env": os.environ.get("TRAFILATURA_SPARK_NO_CHTML", ""),
    }


# -- Spark session and corpus ------------------------------------------------

def start_session(nproc: int):
    from trafilatura_spark.job import make_session
    spark = make_session(app_name=f"perfbench-{nproc}",
                         master=f"local[{nproc}]",
                         shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def corpus_df(spark, docs: list, wl: Workload, partitions: int):
    """documents(doc_id, spans) for ``docs``, dealt round-robin over
    ``partitions`` in sample order, built by the package's Arrow
    synthesis stage."""
    import pandas as pd

    from trafilatura_spark.sources.corpus import synthesize_spans_from
    base = spark.createDataFrame(pd.DataFrame(
        docs, columns=["doc_id", "text", "lang", "source"]))
    return synthesize_spans_from(base.repartition(partitions),
                                 with_comments=wl.html_comments,
                                 boiler_repeat=wl.boiler)


def warm_up(df, opts) -> None:
    """One extraction pass over every eighth document: every partition
    runs, so every Python worker starts and imports the engine."""
    from pyspark.sql import functions as F

    from trafilatura_spark.operators.pipeline import extract_documents
    noop(extract_documents(df.filter(F.xxhash64("doc_id") % 8 == 0), opts))


def build_input(spark, docs: list, wl: Workload, opts, nproc: int):
    """The persisted corpus a workload's passes read, warmed up.  The
    warm-up pass also fills the cache: each partition is cached whole
    before the warm-up filter applies."""
    df = corpus_df(spark, docs, wl, nproc * 2).persist()
    warm_up(df, opts)
    return df


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


SPANS_DDL = ("array<struct<kind:string,text:string,media_ref:string,"
             "offset:int>>")
COLUMN_DDL = {"doc_id": "string", "status": "string", "tier": "string",
              "len_text": "int", "spans": SPANS_DDL}


def check_columns(wl: Workload) -> tuple[str, ...]:
    """Output columns the check compares: the ground truth fixes only the
    spans and status; the in-process reference fixes the whole row."""
    if wl.check == "truth":
        return ("doc_id", "status", "spans")
    return ("doc_id", "status", "tier", "len_text", "spans")


def digest_of(df, cols: tuple[str, ...], distinct_ids: bool = False):
    """Row count, order-free digest of ``cols`` over every row and, if
    asked, the number of distinct doc ids — one JVM-side aggregate, so a
    checked pass returns no rows to Python."""
    from pyspark.sql import functions as F
    aggs = [F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*[
        F.to_json(c) if c == "spans" else F.col(c) for c in cols]))
        .alias("digest")]
    if distinct_ids:
        aggs.append(F.count_distinct("doc_id").alias("ids"))
    return df.agg(*aggs).collect()[0]


def expected_digest(spark, docs: list, wl: Workload,
                    reference: dict | None) -> int:
    """The digest a correct pass produces: over the ground-truth spans
    (status 'ok'), or over the in-process reference rows."""
    from corpus import expected_spans
    cols = check_columns(wl)
    if reference is None:
        rows = [(str(d[0]), "ok", expected_spans(d, wl.html_comments))
                for d in docs]
    else:
        rows = [(str(d[0]), *reference[str(d[0])]) for d in docs]
    schema = ", ".join(f"{c} {COLUMN_DDL[c]}" for c in cols)
    return digest_of(spark.createDataFrame(rows, schema), cols)["digest"]


def process_parents() -> dict[int, int]:
    """pid → parent pid of every live process."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parent


def worker_processes(jvm_pid: int) -> list[int]:
    """Pids of the Spark Python workers: grandchildren of the JVM through
    the ``pyspark.daemon`` process."""
    parent = process_parents()
    daemons = {p for p, pp in parent.items() if pp == jvm_pid}
    return sorted(p for p, pp in parent.items() if pp in daemons)


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and every
    process under it.  A process's reaped children count through its
    ``cutime``/``cstime``, so a worker that exits is not lost.  Time the
    hypervisor steals is not CPU time, and neither is time spent waiting
    for a core another process holds."""
    parent = process_parents()
    tree, frontier = {root_pid}, {root_pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        tree |= frontier
    ticks = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / CLK_TCK


def spark_cpu_s(spark) -> float:
    """CPU seconds used so far by this process and by the Spark JVM with
    its Python daemon and workers."""
    own = os.times()
    return (tree_cpu_s(spark.sparkContext._gateway.proc.pid)
            + own.user + own.system)


def stop_jvm(timeout: float = 30) -> None:
    """End the Spark JVM this process started, and its Python daemon and
    workers, and wait until they are gone.  The JVM exits when its stdin
    closes; the daemon then takes its workers down with it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    children = worker_processes(proc.pid) + [
        p for p, pp in process_parents().items() if pp == proc.pid]
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in children) \
            and time.monotonic() < deadline:
        time.sleep(0.05)


def proc_status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def worker_state(spark) -> list[dict]:
    """Peak RSS and accelerator state of every live Python worker.  The
    accelerator state is read twice: from inside a worker by a probe
    stage, and for every worker process from whether the compiled
    ``_chtml`` library is mapped into it."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    n = spark.sparkContext.defaultParallelism

    def probe(batches):
        import os as _os

        import pandas as pd

        from trafilatura_spark import dom
        for _ in batches:
            pass
        yield pd.DataFrame(
            [(_os.getpid(), getattr(dom, "_CPARSE", None) is not None)],
            columns=["pid", "chtml"])

    probed = {r["pid"]: r["chtml"] for r in spark.range(0, n, 1, n)
              .mapInPandas(probe, "pid long, chtml boolean").collect()}
    out = []
    for pid in worker_processes(jvm_pid):
        try:
            with open(f"/proc/{pid}/maps", encoding="ascii",
                      errors="replace") as fh:
                mapped = "_chtml_" in fh.read()
            hwm = proc_status_kb(pid, "VmHWM")
        except OSError:
            continue
        out.append({"pid": pid, "vm_hwm_kb": hwm, "chtml_mapped": mapped,
                    "chtml_probe": probed.get(pid)})
    return out


def accelerator_state(spark, artifact: dict, tally: "Tally") -> list[dict]:
    """Record the C accelerator state of the driver and of every worker;
    a run whose processes disagree is refused (counted as failed).
    Returns the worker records."""
    workers = worker_state(spark)
    accel = {"driver": driver_accelerator(),
             "workers_mapped": sorted({w["chtml_mapped"] for w in workers}),
             "workers_probed": sorted({w["chtml_probe"] for w in workers
                                       if w["chtml_probe"] is not None})}
    artifact["accelerator"] = accel
    if accel["workers_mapped"] != [accel["driver"]] or \
            accel["workers_probed"] != [accel["driver"]]:
        tally.add(1, 1, f"accelerator state differs: {accel}")
    return workers


# -- in-process passes ------------------------------------------------------

def inprocess_pass(htmls: list[tuple[str, str]], opts, tracer=None):
    """``core.bare_extraction`` over (doc_id, html) pairs; returns the
    per-document latencies (ns) and the compact results."""
    from trafilatura_spark import core
    from trace import DOC
    lat, results = [], []
    clock = time.perf_counter_ns
    for doc_id, html in htmls:
        if tracer is None:
            t0 = clock()
            res = core.bare_extraction(html, opts, doc_id=doc_id)
            lat.append(clock() - t0)
        else:
            tracer.doc = doc_id
            idx = tracer.open(DOC)
            t0 = clock()
            res = core.bare_extraction(html, opts, doc_id=doc_id)
            lat.append(clock() - t0)
            tracer.close(idx)
        results.append((res.status, res.tier, res.len_text, [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in res.spans]))
    return lat, results


# -- output checks -----------------------------------------------------------

def bad_docs(df, docs: list, wl: Workload, reference: dict | None
             ) -> list[str]:
    """Doc ids that are missing, duplicated, or differ from the expected
    output: the row-by-row diagnosis run when a pass's digest differs."""
    from corpus import expected_spans
    cols = check_columns(wl)
    want = {str(d[0]): d for d in docs}
    bad, seen = [], set()
    for r in df.select(*cols).collect():
        doc_id = r["doc_id"]
        if doc_id not in want or doc_id in seen:
            bad.append(doc_id)
            continue
        seen.add(doc_id)
        got = tuple([tuple(s) for s in r[c]] if c == "spans" else r[c]
                    for c in cols[1:])
        if reference is None:
            ok = got == ("ok", expected_spans(want[doc_id], wl.html_comments))
        else:
            ok = got == reference[doc_id]
        if not ok:
            bad.append(doc_id)
    bad.extend(sorted(set(want) - seen))
    return bad


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def add(self, attempted: int, failed: int, note: str = "") -> None:
        self.attempted += attempted
        self.failed += failed
        if failed and note:
            self.notes.append(note)


