"""The C accelerator's fallback is loud: a failed build or import warns
once per process (naming the ``.failed`` marker that holds the compiler
output), and stays quiet only when ``TRAFILATURA_SPARK_NO_CHTML`` asks
for the pure-Python path.  Runs whether or not the accelerator is
available: the failed build is forced with a stand-in ``gcc``."""

import os
import warnings

import pytest

from trafilatura_spark import chtml, dom

LOAD_ARGS = (dom.Node, dom.VOID_ELEMENTS, dom._P_CLOSERS,
             dom._P_CLOSE_BARRIERS, dom._IMPLIED_END, dom._HEAD_CONTENT,
             dom._NEEDS_IMPLIED, dom._GATE_TAGS, dom._unescape)


@pytest.fixture
def broken_gcc(tmp_path, monkeypatch):
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    gcc = bin_dir / "gcc"
    gcc.write_text("#!/bin/sh\necho 'forced compile failure' >&2\nexit 1\n")
    gcc.chmod(0o755)
    cache = tmp_path / "cache"
    monkeypatch.setenv("PATH", f"{bin_dir}{os.pathsep}{os.environ['PATH']}")
    monkeypatch.setenv("TRAFILATURA_SPARK_CHTML_CACHE", str(cache))
    monkeypatch.delenv("TRAFILATURA_SPARK_NO_CHTML", raising=False)
    monkeypatch.setattr(chtml, "_warned", False)
    return cache


def test_failed_build_warns_once_naming_marker(broken_gcc):
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        assert chtml.load(*LOAD_ARGS) is None
        # second load hits the negative cache: falls back, no new warning
        assert chtml.load(*LOAD_ARGS) is None
    markers = list(broken_gcc.glob("_chtml_*.failed"))
    assert len(markers) == 1
    assert b"forced compile failure" in markers[0].read_bytes()
    ours = [w for w in rec if issubclass(w.category, RuntimeWarning)
            and "accelerator" in str(w.message)]
    assert len(ours) == 1, [str(w.message) for w in rec]
    assert str(markers[0]) in str(ours[0].message)


def test_opt_out_is_quiet(broken_gcc, monkeypatch):
    monkeypatch.setenv("TRAFILATURA_SPARK_NO_CHTML", "1")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert chtml.load(*LOAD_ARGS) is None
    assert not list(broken_gcc.glob("_chtml_*"))
