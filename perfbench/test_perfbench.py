"""Tests for the benchmark's own helpers.

Run from the root of the checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import math
import os

import pytest

from corpus import COPY_STRIDE, load_base, sample_docs
from stats import iqr_frac, self_times, tail_percentile

HERE = os.path.dirname(os.path.abspath(__file__))


def test_self_time_is_duration_minus_child_cover():
    spans = [
        ("doc", 0, 100, -1),
        ("a", 10, 30, 0),
        ("b", 20, 50, 0),     # overlaps a: the union 10..50 counts once
        ("c", 40, 45, 2),     # grandchild: covered by b, not by doc
        ("d", 90, 120, 0),    # runs past its parent: clipped at 100
    ]
    assert self_times(spans) == [100 - 40 - 10, 20, 30 - 5, 5, 30]


def test_self_times_of_a_tree_sum_to_the_root():
    spans = [("doc", 0, 1000, -1), ("p", 0, 400, 0), ("gc", 100, 150, 1),
             ("m", 400, 700, 0), ("gc", 650, 700, 3)]
    assert sum(self_times(spans)) == 1000


def test_tracer_self_times_sum_to_traced_wall():
    from trace import DOC, Tracer
    t = Tracer()
    for doc in ("1", "2"):
        t.doc = doc
        root = t.open(DOC)
        for name in ("dom.parse", "metadata"):
            idx = t.open(name)
            inner = t.open("gc")
            t.close(inner)
            t.close(idx)
        t.close(root)
    selfs = t.self_time_by_name()
    assert set(selfs) == {DOC, "dom.parse", "metadata", "gc"}
    assert sum(selfs.values()) == t.wall_ns()
    assert {s[4] for s in t.spans} == {"1", "2"}


@pytest.mark.parametrize("n, pct", [(1000, 99), (2000, 99), (500, 98),
                                    (120, 91), (100, 90), (20, 50)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    samples = list(range(n, 0, -1))
    got_pct, value = tail_percentile(samples)
    assert got_pct == pct
    assert sum(s > value for s in samples) >= 10
    # one percentile higher would leave fewer than ten beyond (nearest rank)
    if pct < 99:
        assert n - math.ceil((pct + 1) * n / 100) < 10


def test_tail_percentile_refuses_too_few_samples():
    with pytest.raises(ValueError):
        tail_percentile(list(range(19)))


def test_iqr_frac():
    assert iqr_frac([10.0] * 10) == 0
    assert iqr_frac([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5)


def test_tree_cpu_counts_live_and_reaped_grandchildren():
    import signal
    import subprocess
    import sys
    import time

    from harness import tree_cpu_s
    spin = ("import time; t = time.process_time()\n"
            "while time.process_time() - t < 0.4: pass\n")
    # sh runs two spinners in turn: the first has exited and been reaped
    # (it counts through sh's cutime), the second spins, then sleeps
    code = (f"{sys.executable} -c '{spin}'; "
            f"{sys.executable} -c '{spin}time.sleep(30)'")
    with subprocess.Popen(["sh", "-c", code], start_new_session=True) as sh:
        try:
            deadline = time.monotonic() + 20
            while tree_cpu_s(sh.pid) < 0.75 and time.monotonic() < deadline:
                time.sleep(0.05)
            assert tree_cpu_s(sh.pid) >= 0.75
        finally:
            os.killpg(sh.pid, signal.SIGTERM)


def test_same_seed_same_docs_other_seed_other_docs():
    base = load_base()
    a = sample_docs(base, 7, 300)
    assert a == sample_docs(base, 7, 300)
    assert a != sample_docs(base, 8, 300)
    assert [d[0] for d in a] != sorted(d[0] for d in a)   # seeded order


def test_oversampled_docs_stay_distinct():
    base = load_base()
    docs = sample_docs(base, 1, len(base) + 10)
    ids = [d[0] for d in docs]
    assert len(set(ids)) == len(ids)
    assert sum(i >= COPY_STRIDE for i in ids) == 10


def test_benchmark_json_matches_the_metrics_the_code_reports():
    from endtoend import END_TO_END_UNITS
    from harness import WORKLOADS
    from layers import LAYER_UNITS
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS


def test_calibration_work_is_fixed():
    from calibrate import work
    assert work() == work() > 0
