"""Every script under scripts/ imports on its own (its main is not run), so
an import of a deleted script fails here rather than at the next run."""

from __future__ import annotations

import glob
import importlib
import os
import sys

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
NAMES = sorted(os.path.basename(p)[:-3] for p in glob.glob(os.path.join(SCRIPTS, "*.py")))


@pytest.mark.parametrize("name", NAMES)
def test_script_imports(name, monkeypatch):
    monkeypatch.syspath_prepend(SCRIPTS)
    monkeypatch.delitem(sys.modules, name, raising=False)
    module = importlib.import_module(name)
    assert hasattr(module, "main")
