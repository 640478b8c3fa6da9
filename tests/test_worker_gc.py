"""Worker GC policy of the extraction operator.

The first ``extract_batches`` call in a Python worker process collects
once and then ``gc.freeze()``s the warm heap, so later automatic
collections walk only the per-document parse trees (which are cyclic
through ``Node.parent``) instead of rescanning pyspark, pandas, pyarrow
and the engine's tables.  These tests pin the policy from both sides:
every Spark worker that ran an extraction task is frozen with the
collector still on, outputs equal in-process ``bare_extraction``, and
the freeze runs once per process and never captures a per-doc tree.
"""

import json
import os
import random
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 20261017


def test_spark_workers_frozen_and_outputs_unchanged(spark, doc_rows):
    import pandas as pd

    from trafilatura_spark.core import bare_extraction
    from trafilatura_spark.operators.pipeline import extract_documents
    from trafilatura_spark.settings import Options
    from trafilatura_spark.sources.corpus import (assemble_html,
                                                  synthesize_spans_from)

    sample = random.Random(SEED).sample(doc_rows, 48)
    base = spark.createDataFrame(
        sample, "doc_id long, text string, lang string, source string")
    docs = synthesize_spans_from(base, with_comments=True,
                                 boiler_repeat=16).cache()
    # 64 tasks: reused workers are handed out first-in first-out, so a
    # stage with more tasks than idle workers runs on every one of them
    got = {r.doc_id: (r.status, r.tier, r.len_text,
                      [tuple(s) for s in r.spans])
           for r in extract_documents(docs, Options(),
                                      num_partitions=64).collect()}

    want = {}
    for r in docs.collect():
        html = assemble_html([
            {"kind": s[0], "text": s[1], "media_ref": s[2], "offset": s[3]}
            for s in r.spans])
        res = bare_extraction(html, Options(), doc_id=r.doc_id)
        want[r.doc_id] = (res.status, res.tier, res.len_text,
                          [(s["kind"], s["text"], s["media_ref"],
                            s["offset"]) for s in res.spans])
    docs.unpersist()
    assert got == want
    assert any(v[0] == "ok" for v in got.values())

    def probe(batches):
        import gc

        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()],
                            "frozen": [gc.get_freeze_count() > 0],
                            "enabled": [gc.isenabled()]})

    workers = {(r.pid, r.frozen, r.enabled) for r in
               spark.range(0, 64, numPartitions=8)
               .mapInPandas(probe, "pid long, frozen boolean, "
                                   "enabled boolean").collect()}
    assert workers
    assert all(frozen and enabled for _, frozen, enabled in workers), \
        workers


# Runs in a fresh interpreter so the pytest process's heap is never
# frozen.  Drives the generator twice, as a reused worker runs two
# tasks, recording the permanent-generation size each time a batch is
# pulled (i.e. after the previous batch's documents were extracted).
_DRIVER = textwrap.dedent("""
    import gc, json, random, sys
    sys.path.insert(0, sys.argv[1])
    import pandas as pd
    import pyarrow.parquet as pq

    freezes = []
    _freeze = gc.freeze
    def counting_freeze():
        freezes.append(1)
        _freeze()
    gc.freeze = counting_freeze

    from trafilatura_spark.operators.pipeline import make_extract_batches
    from trafilatura_spark.settings import Options
    from trafilatura_spark.sources.corpus import build_input_spans

    rows = pq.read_table(sys.argv[2] + "/documents.parquet",
                         columns=["doc_id", "text", "lang", "source"]
                         ).to_pylist()
    rows = random.Random(int(sys.argv[3])).sample(rows, 200)
    docs = [(str(r["doc_id"]),
             [(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in build_input_spans(r["doc_id"], r["text"], r["lang"],
                                         r["source"], with_comments=True,
                                         boiler_repeat=16)])
            for r in rows]
    # the first batch is a single document
    bounds = [0, 1] + list(range(50, len(docs), 50)) + [len(docs)]
    pulls, statuses, keep = [], [], []

    def batches():
        for lo, hi in zip(bounds, bounds[1:]):
            pulls.append(gc.get_freeze_count())
            d = docs[lo:hi]
            yield pd.DataFrame({"doc_id": [x[0] for x in d],
                                "spans": [x[1] for x in d]})

    for _ in range(2):
        fn = make_extract_batches(Options())
        src = batches()
        gen = fn(src)
        # frozen along with the warm heap on the first run; held so that
        # their release cannot shrink the permanent generation
        keep += [fn, src, gen]
        for out in gen:
            statuses += list(out["status"])
    print(json.dumps({"freezes": len(freezes), "pulls": pulls,
                      "end": gc.get_freeze_count(),
                      "enabled": gc.isenabled(),
                      "docs": len(statuses),
                      "ok": statuses.count("ok")}))
""")


def test_freeze_once_and_per_doc_trees_never_frozen(sf_dir):
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, ROOT, sf_dir, str(SEED)],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["freezes"] == 1
    assert res["enabled"]
    assert res["docs"] == 400 and res["ok"] > 0
    pulls = res["pulls"]
    # pulls[0]: the first batch is pulled right after the freeze, before
    # any document; pulls[1]: after the first document.  From then on
    # the permanent generation never changes, across both runs.
    after_first_doc = pulls[1]
    assert after_first_doc > 0
    assert set(pulls[1:]) == {after_first_doc}, pulls
    assert res["end"] == after_first_doc, (res["end"], after_first_doc)
