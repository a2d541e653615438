"""No function in the package assigns a local it never reads.

A name bound inside a function (an assignment, a loop or ``with``
target) and never loaded in that function or a function nested in it
is dead code. Names starting with ``_`` are deliberate
placeholders and exempt.
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
    for root, _, files in os.walk(PKG_DIR):
        for fname in sorted(files):
            if fname.endswith(".py"):
                path = os.path.join(root, fname)
                with open(path) as f:
                    tree = ast.parse(f.read())
                rel = os.path.relpath(path, PKG_DIR)
                found += [f"{rel}:{line} {fn}: {name}" for fn, name, line in dead_locals(tree)]
    assert not found, "locals assigned and never read:\n" + "\n".join(sorted(found))
