"""Dead-code checks: every top-level function of the package must be
referenced somewhere outside its own ``def``, and every name a package
module imports must be used in that module.

Reads the source of every ``.py`` file under the repo root (the package,
``tests/``, ``scripts/``, ``cdcbench/`` and the top-level scripts) with
``ast``; imports nothing and starts no Spark.  A reference is a ``Name``, an
``Attribute``'s attribute, an ``import`` alias, or a string constant equal
to the function's name (the string form covers lookup tables such as the
registry dicts and cdcbench's patch list).
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "adsimportpipeline_spark"


def _py_files():
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d != "__pycache__"]
        for fn in filenames:
            if fn.endswith(".py"):
                yield os.path.join(dirpath, fn)


def _names(node: ast.AST):
    """Every name ``node``'s subtree refers to."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
            if n.asname:
                yield n.asname
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            yield n.value


def test_every_package_function_has_a_caller():
    defined = []  # (path, name) of each top-level function of the package
    refs = defaultdict(set)  # name -> {(path, top-level def it sits in)}
    for path in _py_files():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        in_package = os.path.relpath(path, ROOT).startswith(PACKAGE + os.sep)
        for stmt in tree.body:
            own = None
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                own = stmt.name
                if in_package:
                    defined.append((path, stmt.name))
            for name in _names(stmt):
                refs[name].add((path, own))
    uncalled = sorted(
        f"{os.path.relpath(path, ROOT)}: {name}"
        for path, name in defined
        if not refs[name] - {(path, name)}
    )
    assert not uncalled, "functions nothing references:\n" + "\n".join(uncalled)


def test_every_package_import_is_used():
    """An imported name counts as used if any ``Name`` node of its module
    reads it.  ``from __future__`` imports and import statements marked
    ``# noqa: F401`` on their first line (re-exports) are exempt."""
    unused = []
    for path in _py_files():
        rel = os.path.relpath(path, ROOT)
        if not rel.startswith(PACKAGE + os.sep):
            continue
        with open(path, encoding="utf-8") as f:
            src = f.read()
        tree = ast.parse(src, filename=path)
        lines = src.splitlines()
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for n in ast.walk(tree):
            if not isinstance(n, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(n, ast.ImportFrom) and n.module == "__future__":
                continue
            if "# noqa: F401" in lines[n.lineno - 1]:
                continue
            for a in n.names:
                bound = a.asname or a.name.split(".")[0]
                if bound not in used:
                    unused.append(f"{rel}:{n.lineno}: {bound}")
    assert not unused, "imports nothing uses:\n" + "\n".join(unused)
