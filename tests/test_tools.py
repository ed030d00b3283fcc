"""Every script under tools/ byte-compiles and imports, so no tool can
keep importing a helper that has been deleted or renamed."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

TOOLS_DIR = Path(__file__).resolve().parent.parent / "tools"
TOOLS = sorted(TOOLS_DIR.glob("*.py"))
# scripts without a __main__ guard: importing one runs it
RUNS_AT_IMPORT = {"make_scale.py"}


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_compiles_and_imports(path, monkeypatch):
    source = path.read_text()
    compile(source, str(path), "exec")
    if path.name in RUNS_AT_IMPORT:
        assert '__name__ == "__main__"' not in source
        return
    monkeypatch.syspath_prepend(str(TOOLS_DIR))
    spec = importlib.util.spec_from_file_location(f"tools_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
