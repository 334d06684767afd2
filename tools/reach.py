"""List the top-level defs of the library that nothing outside its tests reaches.

    python tools/reach.py

A static sweep over the AST, by name:

* *Roots* are the entry points: ``bench.py``, ``bench_extra.py``,
  ``__spark_entry__.py``, the non-test ``perfbench/*.py`` and
  ``tools/*.py``, and the module-level code of each library module.
* *Edges* are the ``Name`` and ``Attribute`` uses (and the names a
  function imports in its body) inside each top-level ``def`` or
  ``class`` of ``gojsonschema_spark/``, followed to a fixed point: a def
  is reached when a root or a reached def uses its name.
* *Not uses*: docstrings and other strings, ``__all__`` entries and
  module-level imports (re-exports).

Matching is by bare name, so a use of ``f`` reaches every top-level
``f``; the sweep can keep a dead def, never drop a live one that is
called by name. It prints each unreached def as ``file:line``, its size
in lines (decorators included) and its name, then a total.
"""

from __future__ import annotations

import ast
import glob
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "gojsonschema_spark"


def _used_names(node: ast.AST) -> set:
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            names.update(a.name for a in n.names)
    return names


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def default_roots(root: str = ROOT) -> list:
    """The entry-point files of the repository at ``root``."""
    files = [os.path.join(root, f)
             for f in ("bench.py", "bench_extra.py", "__spark_entry__.py")]
    for d in ("perfbench", "tools"):
        files += sorted(f for f in glob.glob(os.path.join(root, d, "*.py"))
                        if not os.path.basename(f).startswith("test_"))
    return [f for f in files if os.path.isfile(f)]


def unreached(package_dir: str, roots: list) -> list:
    """``(relpath, line, size, name)`` of each top-level def under
    ``package_dir`` that no file in ``roots`` and no library module-level
    code reaches, in file and line order."""
    defs = []  # (relpath, line, size, name, used names)
    reached = set()
    for f in roots:
        reached |= _used_names(_parse(f))
    base = os.path.dirname(os.path.abspath(package_dir))
    for path in sorted(glob.glob(os.path.join(package_dir, "**", "*.py"),
                                 recursive=True)):
        rel = os.path.relpath(path, base)
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                first = min([stmt.lineno]
                            + [d.lineno for d in stmt.decorator_list])
                defs.append((rel, stmt.lineno, stmt.end_lineno - first + 1,
                             stmt.name, _used_names(stmt)))
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                reached |= _used_names(stmt)
    expanded = set()
    while True:
        new = [i for i, d in enumerate(defs)
               if d[3] in reached and i not in expanded]
        if not new:
            break
        for i in new:
            expanded.add(i)
            reached |= defs[i][4]
    return [d[:4] for d in defs if d[3] not in reached]


def main() -> None:
    rows = unreached(os.path.join(ROOT, PACKAGE), default_roots())
    for rel, line, size, name in rows:
        print(f"{rel}:{line}\t{size}\t{name}")
    print(f"total: {len(rows)} unreached defs, "
          f"{sum(r[2] for r in rows)} lines")


if __name__ == "__main__":
    sys.exit(main())
