"""In-process span tracer for the per-layer breakdown.

Spans are recorded from the benchmark's side only: ``Tracer`` replaces,
for the duration of a ``with`` block, the names ``trafilatura_spark.core``
(and ``operators.fallbacks``) call each layer through, with wrappers that
open and close a span around the original function.  Python collections
are recorded as ``gc`` spans through ``gc.callbacks``, so a layer's self
time excludes the collections its allocations triggered.  Spans stay in
memory; ``dump`` writes them once, at the end of the run.
"""

from __future__ import annotations

import gc
import json
import time
from collections import Counter

from stats import self_times

# (module path, attribute, span name): every name core.py calls a layer
# through, plus the two fallback tiers compare_extraction calls
WRAPPED = (
    ("trafilatura_spark.core", "parse_html", "dom.parse"),
    ("trafilatura_spark.core", "extract_metadata", "metadata"),
    ("trafilatura_spark.core", "tree_cleaning", "cleaning.clean"),
    ("trafilatura_spark.core", "clean_copy", "cleaning.clean"),
    ("trafilatura_spark.core", "convert_tags", "cleaning.convert"),
    ("trafilatura_spark.core", "extract_content", "main_extractor.content"),
    ("trafilatura_spark.core", "extract_comments", "main_extractor.comments"),
    ("trafilatura_spark.core", "compare_extraction", "fallbacks.compare"),
    ("trafilatura_spark.operators.fallbacks", "try_readability",
     "readability"),
    ("trafilatura_spark.operators.fallbacks", "justext_rescue", "justext"),
    ("trafilatura_spark.core", "baseline", "baseline"),
    ("trafilatura_spark.core", "normalize_output_tree", "render.emit"),
    ("trafilatura_spark.core", "emit_spans", "render.emit"),
    ("trafilatura_spark.core", "render_txt", "render.emit"),
)

DOC = "core.doc"
GC = "gc"


class Tracer:
    """Records ``[name, start_ns, end_ns, parent_index, doc_id]`` spans."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counts: Counter = Counter()
        self.gc_collected = 0
        self.doc = ""
        self._stack: list[int] = []
        self._restore: list[tuple] = []
        self._gc_idx = -1

    def open(self, name: str) -> int:
        rec = [name, 0, 0, self._stack[-1] if self._stack else -1, self.doc]
        self.spans.append(rec)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        rec[1] = time.perf_counter_ns()
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter_ns()
        self._stack.pop()

    def _wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            idx = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)
                self.counts[name] += 1
        return traced

    def _on_gc(self, phase: str, info: dict) -> None:
        if phase == "start":
            self._gc_idx = self.open(GC)
        else:
            self.close(self._gc_idx)
            if self.spans[self._gc_idx][3] >= 0:  # inside a document
                self.counts[f"gc.gen{info['generation']}"] += 1
                self.gc_collected += info["collected"]

    def __enter__(self) -> "Tracer":
        import importlib
        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._restore.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, name))
        gc.callbacks.append(self._on_gc)
        return self

    def __exit__(self, *exc) -> None:
        gc.callbacks.remove(self._on_gc)
        for mod, attr, fn in reversed(self._restore):
            setattr(mod, attr, fn)
        self._restore.clear()

    def self_time_by_name(self) -> dict[str, int]:
        """Total self time (ns) per span name, over the spans inside a
        document (collections between documents are left out)."""
        out: Counter = Counter()
        for (name, _, _, parent, _), t in zip(self.spans, self_times(
                [(s[0], s[1], s[2], s[3]) for s in self.spans])):
            if parent >= 0 or name == DOC:
                out[name] += t
        return dict(out)

    def wall_ns(self) -> int:
        """Summed duration of the per-document root spans."""
        return sum(s[2] - s[1] for s in self.spans if s[0] == DOC)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for name, start, end, parent, doc in self.spans:
                fh.write(json.dumps({"name": name, "start_ns": start,
                                     "end_ns": end, "parent": parent,
                                     "doc_id": doc}) + "\n")
