"""Every ``tools/*.py`` script imports cleanly, so a renamed or deleted
engine name fails here instead of at the script's next manual run."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

TOOLS = sorted((Path(__file__).resolve().parents[1] / "tools").glob("*.py"))


@pytest.mark.parametrize("path", TOOLS, ids=[p.stem for p in TOOLS])
def test_tool_imports(path):
    spec = importlib.util.spec_from_file_location(f"tools_{path.stem}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
