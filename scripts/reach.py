#!/usr/bin/env python3
"""Reachability scan: which top-level package defs does nothing but the
tests reach?

Walks Python ASTs by NAME (stdlib ``ast`` only, nothing is imported).
Roots are everything that runs without a test:

* the module-level statements of every package file (the query registry
  is module-level code), minus imports, ``__all__`` and docstrings; for a
  top-level def only its decorators, defaults and base classes count,
  since its body runs only when called;
* every name in ``bench.py``, ``__spark_entry__.py``, ``scripts/`` and
  ``perfbench/``.

A top-level def is reached when any reached code mentions its name (as a
bare name, an attribute, or an identifier-shaped string such as a
registry row name or a ``getattr`` target); reaching it reaches every
name in its body.
Matching by name only widens what counts as reached, so the report is
conservative: a def it lists has no caller outside ``tests/``.

Usage:
    python3 scripts/reach.py <repo-root>

Prints each file's unreached top-level defs with their line counts, then
the total.
"""

from __future__ import annotations

import ast
import os
import sys

ROOT_FILES = ("bench.py", "__spark_entry__.py")
ROOT_DIRS = ("scripts", "perfbench")
SKIP_DIRS = ("tests",) + ROOT_DIRS
DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _py_files(top: str) -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith("."))
        out += [os.path.join(dirpath, f) for f in sorted(filenames)
                if f.endswith(".py")]
    return out


def _package_files(repo: str) -> list[str]:
    """Every .py file under each top-level directory that is a package."""
    out = []
    for d in sorted(os.listdir(repo)):
        top = os.path.join(repo, d)
        if d in SKIP_DIRS or not os.path.isfile(os.path.join(top, "__init__.py")):
            continue
        out += _py_files(top)
    return out


def _names(*nodes: ast.AST) -> set[str]:
    found = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                found.add(n.id)
            elif isinstance(n, ast.Attribute):
                found.add(n.attr)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if n.value.isidentifier():
                    found.add(n.value)
    return found


def _skipped(stmt: ast.stmt) -> bool:
    """Imports, docstrings and ``__all__`` evaluate no package code."""
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return True
    if isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant):
        return isinstance(stmt.value.value, str)
    targets = getattr(stmt, "targets", None) or [getattr(stmt, "target", None)]
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _module_roots(tree: ast.Module) -> set[str]:
    """Names the import of a package module evaluates."""
    roots: set[str] = set()
    for stmt in tree.body:
        if _skipped(stmt):
            continue
        if isinstance(stmt, DEF_TYPES):
            roots |= _names(*stmt.decorator_list)
            if isinstance(stmt, ast.ClassDef):
                roots |= _names(*stmt.bases, *stmt.keywords)
            else:
                defaults = stmt.args.defaults + stmt.args.kw_defaults
                roots |= _names(*[d for d in defaults if d is not None])
            continue
        roots |= _names(stmt)
    return roots


def scan(repo: str) -> dict[str, list[tuple[str, int]]]:
    """Map each package file (repo-relative) to its unreached top-level
    defs as ``(name, n_lines)``, in source order."""
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    calls: dict[str, set[str]] = {}
    reached: set[str] = set()
    for path in _package_files(repo):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        reached |= _module_roots(tree)
        rel = os.path.relpath(path, repo)
        for stmt in tree.body:
            if isinstance(stmt, DEF_TYPES):
                defs.setdefault(rel, []).append((stmt.name, stmt))
                calls.setdefault(stmt.name, set()).update(_names(stmt))
    root_paths = [os.path.join(repo, f) for f in ROOT_FILES]
    for d in ROOT_DIRS:
        root_paths += _py_files(os.path.join(repo, d))
    for path in root_paths:
        if os.path.isfile(path):
            with open(path, encoding="utf-8") as fh:
                reached |= _names(ast.parse(fh.read(), filename=path))

    todo = [n for n in reached if n in calls]
    while todo:
        for n in calls.pop(todo.pop(), ()):
            reached.add(n)
            if n in calls:
                todo.append(n)

    out: dict[str, list[tuple[str, int]]] = {}
    for rel, items in defs.items():
        dead = []
        for name, stmt in items:
            if name not in reached:
                first = min(d.lineno for d in [stmt, *stmt.decorator_list])
                dead.append((name, stmt.end_lineno - first + 1))
        if dead:
            out[rel] = dead
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    report = scan(os.path.abspath(argv[0]))
    total = n_defs = 0
    for rel in sorted(report):
        lines = sum(n for _, n in report[rel])
        print(f"{rel}: {lines} lines")
        for name, n in report[rel]:
            print(f"  {name} ({n})")
        total += lines
        n_defs += len(report[rel])
    print(f"total: {total} lines in {n_defs} test-only top-level defs")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
