"""`sources.local.local_frame`: driver rows as an Arrow-backed
LocalRelation, identical to ``spark.createDataFrame(<list>)`` in schema
and rows; and the guard that keeps list-built frames out of the serving
layers."""

from __future__ import annotations

import ast
import datetime as dt
import math
from pathlib import Path

import pytest

from psy_supabase_spark.sources.local import local_frame

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "psy_supabase_spark"

DDL = "s string, n bigint, x double, v array<double>, t timestamp"
ROWS = [
    ("a", 1, 1.5, [1.0, -2.0], dt.datetime(2024, 1, 2, 3, 4, 5, 678901)),
    (None, None, None, None, None),
    ("", -(2**62), float("nan"), [None, 0.0], dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)),
    ("ü€", 0, -0.0, [], dt.datetime(1999, 12, 31, 23, 59, 59)),
]


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b and type(a) is type(b)


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_list_frame(spark, rows):
    want = spark.createDataFrame(rows, DDL)
    got = local_frame(spark, rows, DDL)
    assert got.schema == want.schema
    assert _same([tuple(r) for r in got.collect()], [tuple(r) for r in want.collect()])
    # rendered in the session zone too, so the stored instants agree
    ts = "cast(t as string) as t"
    assert got.selectExpr(ts).collect() == want.selectExpr(ts).collect()
    leaf = got._jdf.queryExecution().logical().getClass().getSimpleName()
    assert leaf == "LocalRelation"


class _CreateDataFrameCalls(ast.NodeVisitor):
    """Collects ``(line, enclosing function)`` of every ``createDataFrame``
    call."""

    def __init__(self):
        self.scope = ["<module>"]
        self.found: list[tuple[int, str]] = []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        if isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame":
            self.found.append((node.lineno, self.scope[-1]))
        self.generic_visit(node)


def test_serving_layers_build_frames_only_through_local_frame():
    """In ``api.py`` and ``sources/``, a frame built from driver rows must
    be a LocalRelation: the one ``createDataFrame`` call is the helper's
    own.  A list-built frame there would run ``defaultParallelism``
    Python tasks in every job that reads it."""
    calls = []
    for path in [PACKAGE / "api.py", *sorted((PACKAGE / "sources").rglob("*.py"))]:
        visitor = _CreateDataFrameCalls()
        visitor.visit(ast.parse(path.read_text(encoding="utf-8"), filename=str(path)))
        rel = path.relative_to(ROOT).as_posix()
        calls.extend((rel, line, fn) for line, fn in visitor.found)
    assert [(rel, fn) for rel, _, fn in calls] == [
        ("psy_supabase_spark/sources/local.py", "local_frame")
    ], calls
