"""Dead-code guard: every top-level function or class in the package must
be referenced somewhere — by name, attribute or import — in the package,
``tools/``, ``bench.py``, ``examples/``, ``perfbench/`` or ``tests/``.
Decorated defs are skipped: a decorator (``@register``, ``@udf``, ...)
is itself the reference that makes them reachable.  Mentions in
docstrings and comments do not count.  Pure ``ast``; no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "psy_supabase_spark"
SEARCHED = [PACKAGE, ROOT / "tools", ROOT / "examples", ROOT / "perfbench", ROOT / "tests"]


def _py_files(paths):
    for p in paths:
        if p.is_file():
            yield p
        elif p.is_dir():
            yield from sorted(p.rglob("*.py"))


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for path in _py_files([*SEARCHED, ROOT / "bench.py", ROOT / "__spark_entry__.py"]):
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update(a.name.rsplit(".", 1)[-1] for a in node.names)
    return names


def unreferenced_defs() -> list[str]:
    used = _referenced_names()
    dead = []
    for path in _py_files([PACKAGE]):
        for node in _parse(path).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.decorator_list
                and node.name not in used
            ):
                dead.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    return dead


def test_no_unreferenced_defs():
    dead = unreferenced_defs()
    assert not dead, "top-level defs nothing references:\n" + "\n".join(dead)
