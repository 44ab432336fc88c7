"""Every script under tools/ must import cleanly (each keeps its work
behind a ``__main__`` guard), so deleting a module another tool
imports from fails here instead of at the next manual run."""

from __future__ import annotations

import importlib
import os
import pathlib
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TOOLS = sorted(
    p.stem for p in (REPO / "tools").glob("*.py") if p.stem != "__init__"
)


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    mod = importlib.import_module(f"tools.{name}")
    assert os.path.samefile(mod.__file__, REPO / "tools" / f"{name}.py")
