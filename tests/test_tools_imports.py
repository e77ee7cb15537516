"""Every package/test-helper import in `tools/*.py` resolves.

The tools are hand-run scripts, so no other test imports them. This
reads each one with `ast`, finds every `from psyndex2linkeddata_spark…`
and `from tests…` import (module level or inside a function), imports
the module and checks that it defines each name. No tool is executed.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL_FILES = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))
PACKAGES = ("psyndex2linkeddata_spark", "tests")


def _imports(path: str) -> list[tuple[str, str, int]]:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    return [
        (node.module, alias.name, node.lineno)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module
        and node.module.split(".")[0] in PACKAGES
        for alias in node.names
    ]


def test_tools_are_found():
    assert TOOL_FILES and any(_imports(p) for p in TOOL_FILES)


@pytest.mark.parametrize("path", TOOL_FILES, ids=os.path.basename)
def test_tool_imports_resolve(path):
    missing = []
    for module, name, lineno in _imports(path):
        mod = importlib.import_module(module)
        if not hasattr(mod, name):
            try:
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"line {lineno}: {module}.{name}")
    assert not missing, f"{os.path.basename(path)}: unresolved {missing}"
