"""The operational scripts under ``scripts/`` are run by hand, not by
the suite, so this guards them against a refactor that breaks one
silently: every script must byte-compile, and the shared fresh-JVM
timing helper must import (without starting a JVM)."""

from __future__ import annotations

import glob
import importlib
import os
import py_compile

import pytest

SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
)


@pytest.mark.parametrize(
    "path",
    sorted(glob.glob(os.path.join(SCRIPTS, "*.py"))),
    ids=os.path.basename,
)
def test_script_byte_compiles(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)


def test_fresh_jvm_helper_imports(monkeypatch):
    monkeypatch.syspath_prepend(SCRIPTS)
    mod = importlib.import_module("fresh_jvm")
    for name in ("time_query", "steady_record", "git_head", "load1"):
        assert callable(getattr(mod, name)), name
    assert mod.steady_record([5.0, 0.7, 0.6]) == {
        "cold": 5.0, "warm": [0.7, 0.6], "steady": 0.6,
    }
    assert mod.REPO_ROOT == os.path.dirname(SCRIPTS)
