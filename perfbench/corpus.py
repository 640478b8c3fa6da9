"""Seeded document sampling for the benchmark workloads.

The base rows are a copy of the sf0.1 ``documents.parquet`` table
(doc_id, text, lang, source), kept in ``data/`` so the benchmark reads
nothing outside its checkout.  The seed picks which rows are used and in
what order; a row drawn more than once gets a fresh doc id (``doc_id +
copy * 10_000_000``, the replication rule of
``trafilatura_spark.sources.corpus.synthesize_documents_df``), so every
sampled document is distinct.  HTML pages are built from the rows by the
package's own synthesizer, whose ground truth is
``trafilatura_spark.sources.corpus.expected_output_spans``.
"""

from __future__ import annotations

import os
import random

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "documents.parquet")
COPY_STRIDE = 10_000_000


def load_base(path: str = DATA) -> list[tuple[int, str, str, str]]:
    """(doc_id, text, lang, source) rows of the base table, by doc_id."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "text", "lang", "source"])
    rows = zip(*(t.column(c).to_pylist()
                 for c in ("doc_id", "text", "lang", "source")))
    return sorted(rows)


def sample_docs(base: list[tuple[int, str, str, str]], seed: int,
                n: int) -> list[tuple[int, str, str, str]]:
    """``n`` distinct documents drawn from ``base`` in seeded order.

    Each pass over the base table is a fresh seeded permutation; pass
    ``k`` offsets the doc ids by ``k * COPY_STRIDE``."""
    rng = random.Random(seed)
    out: list[tuple[int, str, str, str]] = []
    copy = 0
    while len(out) < n:
        order = list(range(len(base)))
        rng.shuffle(order)
        for i in order[:n - len(out)]:
            doc_id, text, lang, source = base[i]
            out.append((doc_id + copy * COPY_STRIDE, text, lang, source))
        copy += 1
    return out


def page_html(doc: tuple[int, str, str, str], with_comments: bool,
              boiler_repeat: int) -> str:
    """The HTML page the engine sees for one sampled document: the same
    string the Spark synthesis stage assembles from its spans."""
    from trafilatura_spark.sources.corpus import (assemble_html,
                                                  build_input_spans)

    doc_id, text, lang, source = doc
    return assemble_html(build_input_spans(
        doc_id, text, lang, source, with_comments=with_comments,
        boiler_repeat=boiler_repeat))


def expected_spans(doc: tuple[int, str, str, str],
                   with_comments: bool) -> list[tuple]:
    """Ground-truth output spans as (kind, text, media_ref, offset)."""
    from trafilatura_spark.sources.corpus import expected_output_spans

    return [(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in expected_output_spans(doc[0], doc[1], with_comments)]
