"""The engine's PySpark worker daemon (``psy_supabase_spark.daemon``).

The zipimport rules run in a subprocess without Spark, so this pytest
process keeps the stock ``zipimport``; the worker-side checks run through the
session fixture, whose workers are forked from the engine daemon.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_RULES_SCRIPT = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport
    sys.path.insert(0, sys.argv[1])
    from psy_supabase_spark import daemon

    stock = (zipimport.zipimporter.invalidate_caches, zipimport._read_directory)
    if "_read_directory" not in stock[0].__code__.co_names:
        # the re-read is already deferred: the install must change nothing
        assert daemon.install() is False
        assert (zipimport.zipimporter.invalidate_caches, zipimport._read_directory) == stock
        print("deferred")
        sys.exit(0)
    assert daemon.install() is True

    reads = []
    patched_read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return patched_read(archive)

    zipimport._read_directory = counting

    def write_zip(path, name, source):
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(name + ".py", source)

    def fresh_import(name):
        sys.modules.pop(name, None)
        return importlib.import_module(name)

    tmp = sys.argv[2]
    first = os.path.join(tmp, "first.zip")
    write_zip(first, "zr_mod", "VALUE = 1\\n")
    sys.path.insert(0, first)
    assert fresh_import("zr_mod").VALUE == 1

    reads.clear()
    importlib.invalidate_caches()
    assert first not in reads, reads

    # rewritten in place (same inode) with new content: re-read
    ino = os.stat(first).st_ino
    write_zip(first, "zr_mod", "VALUE = 22\\n")
    assert os.stat(first).st_ino == ino
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(first) == 1, reads
    assert fresh_import("zr_mod").VALUE == 22

    # same size and inode, only the mtime moved: re-read
    write_zip(first, "zr_mod", "VALUE = 33\\n")
    st = os.stat(first)
    os.utime(first, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(first) == 1, reads
    assert fresh_import("zr_mod").VALUE == 33

    # a zip put on sys.path later is importable
    later = os.path.join(tmp, "later.zip")
    write_zip(later, "zr_later", "VALUE = 'later'\\n")
    sys.path.append(later)
    importlib.invalidate_caches()
    assert fresh_import("zr_later").VALUE == "later"
    print("patched")
    """
)


def test_zipimport_invalidation_rules(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _RULES_SCRIPT, str(REPO), str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() in {"patched", "deferred"}


def test_worker_invalidate_reads_no_archive(spark):
    sc = spark.sparkContext

    def invalidate_reads(_):
        import importlib
        import zipimport

        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        return len(reads)

    sc.parallelize(range(4), 4).map(lambda x: x).collect()  # warm the workers
    # the stock daemon reads 16 zip directories here (pyspark.zip 13x,
    # the spark-core jar 2x, py4j 1x)
    assert sc.parallelize([0], 1).map(invalidate_reads).collect() == [0]


def test_worker_imports_zip_added_after_warmup(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize(range(4), 4).map(lambda x: x).collect()  # warm the workers
    name = f"late_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 'shipped late'\n")
    sc.addPyFile(str(archive))

    def load(_):
        import importlib

        return importlib.import_module(name).VALUE

    assert sc.parallelize([0], 1).map(load).collect() == ["shipped late"]


_IMPORT_PATH_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from psy_supabase_spark.session import get_spark
    spark = get_spark("import-path")
    rows = spark.createDataFrame([(1,)], "x int").collect()
    spark.stop()
    print(rows[0].x)
    """
)


def test_python_task_runs_from_outside_the_checkout(tmp_path):
    """A driver outside the checkout, ``PYTHONPATH`` unset, package imported
    by ``sys.path.insert``: workers still find the engine daemon."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_PATH_SCRIPT, str(REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().splitlines()[-1] == "1"
