"""Every top-level def of the package is reached from an entry point.

The entry points are the files a user or the benchmark runs:
`__spark_entry__.py`, `bench.py`, `bench_extra.py`, the `jobs/*.py`
CLIs, `perfbench/*.py` and `tools/**/*.py`. Starting from their text,
a name fixpoint marks a package def as reached when any reached text
names it (an identifier, an attribute or an identifier inside a string
constant, so `getattr`/patch-point strings count). A reached def's body
is reached text, and so is every module-level statement of a package
module that is not itself a def (a module-level loop that reads
`tables.abstract_origin_*` reaches those tables). The scan matches by
name only, so it over-approximates reach; a def it still leaves
unreached is one that only tests call, and belongs in `tests/`.

Pure `ast` work: nothing is imported or run.
"""

from __future__ import annotations

import ast
import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "psyndex2linkeddata_spark")

ENTRY_GLOBS = (
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    "psyndex2linkeddata_spark/jobs/*.py",
    "perfbench/*.py",
    "tools/**/*.py",
)

# (package-relative module path or "*" for any module, name) -> why the
# def stays although no entry point reaches it.
ALLOWED = {
    ("*", "__all__"): "export list; read by `import *` and documentation tools",
    ("__init__.py", "__version__"): "package metadata, read by packaging tools",
    ("plans/sparql.py", "solutions_tsv"): (
        "arq-TSV renderer over _solutions(capture_meta=True); its only test "
        "compares with the reference's arq output and needs the reference "
        "checkout"
    ),
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _is_docstring(n: ast.AST) -> bool:
    return (
        isinstance(n, ast.Expr)
        and isinstance(n.value, ast.Constant)
        and isinstance(n.value.value, str)
    )


def _walk(node: ast.AST):
    # ast.walk without docstrings: a docstring that names a def is no use.
    stack = [node]
    while stack:
        n = stack.pop()
        if _is_docstring(n):
            continue
        yield n
        stack.extend(ast.iter_child_nodes(n))


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in _walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(_IDENT.findall(n.value))
    return out


def _def_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        targets = [stmt.target]
    return [
        n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
    ]


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _entry_files() -> set[str]:
    return {
        os.path.normpath(p)
        for g in ENTRY_GLOBS
        for p in glob.glob(os.path.join(ROOT, g), recursive=True)
    }


def unreached_defs() -> set[tuple[str, str]]:
    entries = _entry_files()
    used: set[str] = set()
    for path in entries:
        used |= _names(_parse(path))
    # name -> [(module, def statement)] over the non-entry package modules
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        if os.path.normpath(path) in entries:
            continue
        rel = os.path.relpath(path, PKG)
        for stmt in _parse(path).body:
            names = _def_names(stmt)
            if not names:
                used |= _names(stmt)
            for name in names:
                defs.setdefault(name, []).append((rel, stmt))
    reached: set[str] = set()
    frontier = used & defs.keys()
    while frontier:
        reached |= frontier
        for name in frontier:
            for _rel, stmt in defs[name]:
                used |= _names(stmt)
        frontier = (used & defs.keys()) - reached
    return {
        (rel, name)
        for name, sites in defs.items()
        if name not in reached
        for rel, _stmt in sites
    }


def test_entry_points_are_found():
    entries = _entry_files()
    for must in ("__spark_entry__.py", "bench.py", "perfbench/run.py"):
        assert os.path.join(ROOT, must) in entries
    assert any("/tools/refexec/" in p for p in entries)


def _allowed(module: str, name: str) -> bool:
    return (module, name) in ALLOWED or ("*", name) in ALLOWED


def test_every_package_def_is_reached_from_an_entry_point():
    unreached = sorted(d for d in unreached_defs() if not _allowed(*d))
    assert not unreached, (
        "package defs that no entry point reaches (move them to tests/ or "
        "delete them): " + ", ".join(f"{m}:{n}" for m, n in unreached)
    )


def test_allow_list_is_live():
    # An entry whose def is reached or gone no longer needs allowing;
    # keeping it would hide a later regression of the same name.
    unreached = unreached_defs()
    for module, name in ALLOWED:
        assert any(
            n == name and module in ("*", m) for m, n in unreached
        ), (module, name)
    assert all(reason.strip() for reason in ALLOWED.values())
