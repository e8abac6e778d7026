"""bench.py's output contract, checked without Spark: every headline name
resolves to a query builder, and the stdout line stays under the
2,000-char tail window it is parsed from."""

from __future__ import annotations

import json

import pytest

import bench
from psy_supabase_spark.registry import QUERIES


def test_every_bench_query_resolves():
    missing = [n for n in bench.BENCH_QUERIES if n not in QUERIES and n not in bench.LOCAL_QUERIES]
    assert not missing, missing


def test_bench_queries_are_unique():
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES) == 22


def _headline_names() -> list[str]:
    return [*bench.BENCH_QUERIES, "ann_ivf_search"]


def test_full_headline_line_fits():
    names = _headline_names()
    timings = {n: 123.456 for n in names}  # 7-character timings
    calibrated = {n: 1234.56 for n in bench.BENCH_QUERIES}
    line = bench.stdout_line(timings, calibrated, 0.1)
    assert len(line) < bench.STDOUT_LIMIT
    parsed = json.loads(line)
    assert list(parsed) == [
        "metric", "value", "unit", "queries", "queries_calibrated", "sf", "extra_file",
    ]
    assert list(parsed["queries"]) == names
    assert parsed["value"] == round(123.456 * len(names), 3)


def test_line_of_1800_chars_raises():
    base = len(bench.stdout_line({"q": 1.0}, {}, 0.1))
    fits = "q" * (bench.STDOUT_LIMIT - base)  # 1,799 chars
    assert len(bench.stdout_line({fits: 1.0}, {}, 0.1)) == bench.STDOUT_LIMIT - 1
    with pytest.raises(RuntimeError):
        bench.stdout_line({fits + "q": 1.0}, {}, 0.1)  # 1,800 chars
