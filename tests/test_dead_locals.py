"""No function in the package assigns a local it never reads, and no
module imports a name it never reads.

A name bound inside a function (an assignment, a loop or ``with``
target) and never loaded in that function or a function nested in it
is dead code. Names starting with ``_`` are deliberate
placeholders and exempt.

A module-level import whose name is never loaded anywhere in the
module is dead too. An import kept for its side effect or to re-export
a name says so with ``noqa: F401`` on one of its lines.
"""

from __future__ import annotations

import ast
import os

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mysql_public_data_ingestor_spark",
)


def dead_locals(tree: ast.AST) -> list[tuple[str, str, int]]:
    """``(function, name, line)`` of every local stored and never loaded."""
    out = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        stored: dict[str, int] = {}
        loaded: set[str] = set()
        for node in ast.walk(fn):
            if isinstance(node, ast.Name):
                if isinstance(node.ctx, ast.Store):
                    stored.setdefault(node.id, node.lineno)
                else:
                    loaded.add(node.id)
            elif isinstance(node, (ast.Global, ast.Nonlocal)):
                loaded.update(node.names)
        out += [
            (fn.name, name, line)
            for name, line in stored.items()
            if name not in loaded and not name.startswith("_")
        ]
    return out


def unused_imports(source: str) -> list[tuple[str, int]]:
    """``(name, line)`` of every module-level import never loaded in the
    module. ``from __future__`` imports and statements carrying
    ``noqa: F401`` are exempt."""
    tree = ast.parse(source)
    lines = source.splitlines()
    loaded = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    out = []
    for node in tree.body:
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any("noqa: F401" in lines[k - 1] for k in range(node.lineno, node.end_lineno + 1)):
            continue
        for alias in node.names:
            name = alias.asname or alias.name.split(".")[0]
            if name not in loaded:
                out.append((name, node.lineno))
    return out


def _package_sources():
    for root, _, files in os.walk(PKG_DIR):
        for fname in sorted(files):
            if fname.endswith(".py"):
                path = os.path.join(root, fname)
                with open(path) as f:
                    yield os.path.relpath(path, PKG_DIR), f.read()


def test_dead_locals_are_caught():
    tree = ast.parse(
        "def f(x):\n"
        "    hd = x\n"
        "    _t = x\n"
        "    y = x\n"
        "    def g():\n"
        "        return y\n"
        "    return g\n"
    )
    assert dead_locals(tree) == [("f", "hd", 2)]


def test_package_has_no_dead_locals():
    found = []
    for rel, source in _package_sources():
        found += [f"{rel}:{line} {fn}: {name}" for fn, name, line in dead_locals(ast.parse(source))]
    assert not found, "locals assigned and never read:\n" + "\n".join(sorted(found))


def test_unused_imports_are_caught():
    source = (
        "from __future__ import annotations\n"
        "import os\n"
        "import os.path as osp\n"
        "from json import dumps, loads\n"
        "from x import (  # noqa: F401\n"
        "    kept,\n"
        ")\n"
        "def f():\n"
        "    import sys\n"
        "    return os.sep, loads\n"
    )
    assert unused_imports(source) == [("osp", 3), ("dumps", 4)]


def test_package_has_no_unused_imports():
    found = []
    for rel, source in _package_sources():
        found += [f"{rel}:{line} {name}" for name, line in unused_imports(source)]
    assert not found, "module-level imports never read:\n" + "\n".join(sorted(found))
