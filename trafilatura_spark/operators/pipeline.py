"""The Spark extraction operator: interleaved spans in → extracted spans out.

This is the engine's core physical operator (SURVEY.md §3.4): the whole
per-document cascade (§2.2-2.11) runs as ONE Arrow-vectorized
``mapInPandas`` stage — no per-row Python UDFs, no shuffle.  Catalyst
sees a narrow map over ``(doc_id, spans)``; everything relational around
it (salting, metrics, checkpoint anti-joins) stays JVM-side.

Scale design (SURVEY.md §4.3):
- **skew**: extraction cost ∝ document size; `salted_repartition`
  spreads docs round-robin by ``xxhash64(doc_id)`` so every task gets an
  i.i.d. cost mix regardless of input file layout;
- **memory**: callers should set
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` low (64-256) because
  HTML payloads are multi-MB.  Worker GC policy: ``Node.parent``
  back-pointers make every parse tree cyclic garbage (~666 cyclic
  objects per doc on the bench option set, ~2,335 on default options).
  Without a freeze each automatic collection rescans the whole warm
  worker heap (pyspark, pandas, pyarrow, the engine's tables) to free
  them: ~2.1 of ~3.6 ms per default-options doc.  So the first
  ``extract_batches`` call in each Python worker process runs
  ``gc.collect()`` then ``gc.freeze()`` (`_freeze_worker_heap`): the
  warm heap moves to the permanent generation and later collections
  walk only objects allocated since.  It runs once per process (Spark
  reuses workers across tasks), the collector stays enabled, and no
  per-doc tree is ever frozen, so worker memory stays bounded.
  In-process ``bare_extraction`` callers are left alone;
- **failure isolation**: a pathological document yields a
  ``status='error'`` row, never a task failure
  (/root/reference/lib/src/core.dart:333-335); with
  ``Options.doc_timeout_sec`` set, a document that exceeds its
  wall-clock budget yields a ``status='timeout'`` row the same way
  (watchdog.py) — speculation cannot rescue a deterministic stall.
"""

from __future__ import annotations

import gc
from dataclasses import asdict

from pyspark.sql import DataFrame, functions as F, types as T

from ..core import bare_extraction
from ..settings import Options
from ..sources.corpus import assemble_html

SPAN_TYPE = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("offset", T.IntegerType(), False),
])

META_TYPE = T.StructType([
    T.StructField(name, T.ArrayType(T.StringType()) if name in ("categories", "tags")
                  else T.StringType(), True)
    for name in ("title", "author", "url", "hostname", "description", "sitename",
                 "date", "categories", "tags", "fingerprint", "id", "license",
                 "language", "image", "pagetype", "filedate")
])

EXTRACTED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(SPAN_TYPE), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("meta", META_TYPE, True),
    T.StructField("status", T.StringType(), False),
    T.StructField("tier", T.StringType(), False),
    T.StructField("len_text", T.IntegerType(), False),
])

_META_FIELDS = [f.name for f in META_TYPE.fields]


def extracted_schema(serialize: str | None = None) -> T.StructType:
    """EXTRACTED_SCHEMA, plus a trailing ``serialized`` string column when
    an in-stage output format is requested."""
    if serialize is None:
        return EXTRACTED_SCHEMA
    return T.StructType(EXTRACTED_SCHEMA.fields
                        + [T.StructField("serialized", T.StringType(), True)])


def _result_row(doc_id: str, res) -> tuple:
    meta_row = None
    if res.meta is not None:
        meta_row = tuple(res.meta.get(k) for k in _META_FIELDS)
    return (
        doc_id,
        [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in res.spans],
        res.text or None,
        meta_row,
        res.status,
        res.tier,
        res.len_text,
    )


_heap_frozen = False


def _freeze_worker_heap() -> None:
    """Move this process's warm heap into the permanent generation, once.

    Module-level on purpose: the nested ``extract_batches`` is shipped by
    value, so a flag in its globals would reset on every task, while this
    function is pickled by reference and its flag lives as long as the
    (reused) worker process."""
    global _heap_frozen
    if _heap_frozen:
        return
    _heap_frozen = True
    gc.collect()
    gc.freeze()


def make_extract_batches(options: Options, serialize: str | None = None):
    """Build the mapInPandas generator.  ``options`` is closure-captured:
    it ships once per task with the serialized function (the Spark analog
    of the reference's Extractor record, settings.dart:65-217).

    ``serialize`` renders each document's output tree to one of the
    reference's string formats (determineReturnString, core.dart:25-105)
    inside the SAME Arrow stage — the tree is already in hand here, so
    xml/xmltei/html/txt/markdown cost one extra string build per doc,
    no second pass and no extra shuffle."""
    opt_dict = asdict(options)
    if serialize and serialize not in ("txt", "markdown"):
        # core.dart:22,547-560: non-txt output formats carry the content
        # fingerprint, txt/markdown never do (it is computed after the
        # _txtFormats gate, so their front-matter omits the line).
        opt_dict["fingerprint"] = True
    columns = ["doc_id", "spans", "text", "meta", "status", "tier",
               "len_text"] + (["serialized"] if serialize else [])

    def extract_batches(batches):
        import pandas as pd

        from .serialize import determine_return_string
        from ..dom import Node

        _freeze_worker_heap()
        opts = Options(**opt_dict)
        for pdf in batches:
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                span_dicts = [
                    {"kind": s["kind"], "text": s["text"],
                     "media_ref": s["media_ref"], "offset": s["offset"]}
                    if isinstance(s, dict) else
                    {"kind": s[0], "text": s[1], "media_ref": s[2], "offset": s[3]}
                    for s in spans
                ]
                html = assemble_html(span_dicts)
                # stringify: numeric doc_id inputs must still produce the
                # declared string column (and hash-bucket consistently)
                doc_id = str(doc_id)
                res = bare_extraction(html, opts, doc_id=doc_id)
                row = _result_row(doc_id, res)
                if serialize:
                    rendered = determine_return_string(
                        res.body if res.body is not None else Node("body"),
                        res.meta, serialize,
                        comments_body=res.commentsbody,
                        formatting=opts.formatting,
                        with_metadata=opts.with_metadata)
                    row = row + (rendered,)
                rows.append(row)
            yield pd.DataFrame(rows, columns=columns)

    return extract_batches


def salted_repartition(df: DataFrame, num_partitions: int,
                       key: str = "doc_id") -> DataFrame:
    """Explicit skew defense (SURVEY.md §4.3.1): round-robin by key hash so
    hot domains / giant documents don't cluster into one task."""
    return df.repartition(num_partitions, F.xxhash64(F.col(key)))


def extract_documents(df: DataFrame, options: Options | None = None,
                      num_partitions: int | None = None,
                      serialize: str | None = None) -> DataFrame:
    """documents(doc_id, spans) → extracted(doc_id, spans, text, meta, status,
    tier, len_text[, serialized]).  One narrow Arrow stage; optional
    pre-salting; optional in-stage output-format rendering."""
    options = options or Options()
    if num_partitions:
        df = salted_repartition(df, num_partitions)
    return df.mapInPandas(make_extract_batches(options, serialize=serialize),
                          extracted_schema(serialize))


def doc_size_bytes() -> F.Column:
    """Approximate document cost: total span-text length (HTML payload
    bytes dominate row size and extraction CPU is ~linear in them) —
    pure JVM expression over the spans column."""
    return F.aggregate(
        F.transform("spans", lambda s: F.coalesce(F.length(s["text"]),
                                                  F.lit(0))),
        F.lit(0), lambda a, b: a + b)


def extract_documents_routed(df: DataFrame, options: Options | None = None,
                             num_partitions: int | None = None,
                             size_split_bytes: int = 0,
                             serialize: str | None = None) -> DataFrame:
    """Two-tier size routing (SURVEY.md §4.3): documents above
    ``size_split_bytes`` go to a dedicated pass instead of riding the
    mixed wave.

    Why: extraction cost is ~linear in page bytes — a 145 KB page costs
    ~28× a default 8 KB page (BENCH extraction_by_weight).  Salted
    round-robin gives every task the same EXPECTED heavy-doc count, but
    the straggler is the task with the Poisson-max count: a task that
    draws 3 heavy docs on top of its full small-doc share finishes long
    after the wave.  Routing separates the cost classes so each pass is
    balanced by its own unit cost: the small pass by doc count, the
    heavy pass by heavy-doc count (few docs spread over the same
    partition width ⇒ ~1 heavy doc per task, maximum parallelism on
    exactly the docs that straggle).

    Measured effect (BENCH_r05, sf0.1, 32 tasks, ~5000 default pages,
    best of 4 reps): RARE-HUGE tails (9 docs at ~2.3 MB) 2.70 s
    unrouted → 2.86 s routed (0.945×); MODERATE tails (125 docs at
    ~145 KB) 1.10 s → 1.42 s (0.772×) — routing lost in both regimes.
    For moderate tails hash salting already equalizes the mix and the
    split only adds a stage.  Leave it off unless a measurement on the
    actual corpus shows a gain.

    The heavy branch is unioned FIRST: task scheduling is FIFO across
    the union's stages, so heavy-first gives the few long tasks the
    cores at t=0 and the small pass backfills — light-first measurably
    SERIALIZES the two passes (wall ≈ light + heavy).

    Cost: the two tier branches RESCAN the input.  This cannot be fixed
    declaratively: putting both filters above one shared salted Exchange
    is defeated by the optimizer (predicate pushdown moves the filters
    below the exchange and CollapseRepartition merges the heavy branch's
    stacked shuffles, so the branches end up with non-identical
    exchanges and no ReusedExchange — verified on the executed plan).
    Callers whose input is expensive to re-produce must PERSIST it
    first: the job persists each wave around its write (measured on a
    1M-doc parquet corpus with an empty heavy side: unpersisted routing
    cost ~1.9× the job wall clock; persisted it is within noise of the
    unrouted path).  (A one-pass alternative is a REBALANCE shuffle
    split by byte size under AQE; the explicit two-tier split is
    preferred because it also isolates the heavy pass's Arrow batch
    behavior and failure domain.)  ``size_split_bytes <= 0`` falls back
    to the plain single-pass operator.
    """
    if size_split_bytes <= 0:
        return extract_documents(df, options, num_partitions,
                                 serialize=serialize)
    options = options or Options()
    sz = doc_size_bytes()
    small = df.filter(sz <= size_split_bytes)
    large = df.filter(sz > size_split_bytes)
    if num_partitions:
        small = salted_repartition(small, num_partitions)
        # round-robin (keyless) repartition for the heavy pass: hash
        # salting only equalizes EXPECTED counts (the straggler is the
        # Poisson-max task); round-robin balances heavy-doc counts
        # exactly — ceil(n_heavy / partitions) per task
        large = large.repartition(num_partitions)
    fn = make_extract_batches(options, serialize=serialize)
    schema = extracted_schema(serialize)
    return large.mapInPandas(fn, schema).unionByName(
        small.mapInPandas(fn, schema))


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition run metrics (north rule: docs processed, fallback rate,
    empty-extraction rate) — plain JVM-side aggregation."""
    return (
        extracted
        .groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.when(F.col("tier").isin("baseline", "readability",
                                            "justext"), 1).otherwise(0)
                  ).alias("fallback_docs"),
            F.sum(F.when(F.col("status") == "empty", 1).otherwise(0)
                  ).alias("empty_docs"),
            F.sum(F.when(F.col("status") == "error", 1).otherwise(0)
                  ).alias("error_docs"),
            F.sum(F.when(F.col("status") == "timeout", 1).otherwise(0)
                  ).alias("timeout_docs"),
            F.sum("len_text").alias("total_chars"),
        )
        .withColumn("fallback_rate", F.col("fallback_docs") / F.col("docs"))
        .withColumn("empty_rate", F.col("empty_docs") / F.col("docs"))
    )
