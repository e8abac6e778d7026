"""Shared plumbing: process environment, Spark start/stop, CPU time and
RSS of the process tree, summary statistics and the result line."""

from __future__ import annotations

import hashlib
import json
import math
import os
import shlex
import shutil
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(workdir: str, *, traced: bool) -> None:
    """Point every scratch location of Spark, the JVM and Python into
    ``workdir`` and make the engine importable on the Python workers.
    Must run before the first Spark session starts."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={os.path.join(workdir, 'spark-warehouse')}",
    ]
    if traced:
        # the tracer reads job and stage records after the run ends
        conf += [
            "spark.ui.retainedJobs=1000000",
            "spark.ui.retainedStages=1000000",
            "spark.sql.ui.retainedExecutions=1000000",
        ]
    args = " ".join(f"--conf {c}" for c in conf)
    # a fixed set of JIT compiler threads, so that cpu_seconds can leave
    # their CPU time out (a thread that exits would take its time along)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpu_count()),
            "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": (
                f"{args} --driver-java-options {shlex.quote(java_opts)} pyspark-shell"
            ),
        }
    )


def start_spark(app: str):
    from psy_supabase_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - best effort, the wait below decides
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree() -> list[int]:
    """This process and every process below it: the gateway JVM and the
    Python workers it forks."""
    kids, todo, out = _children(), [os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
_jit_tids: dict[int, list[str]] = {}


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _ticks(stat: str, fields: slice) -> int:
    return sum(int(x) for x in stat[stat.rfind(")") + 2 :].split()[fields])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads (0 for other processes)."""
    if pid not in _jit_tids:
        if (_read(f"/proc/{pid}/comm") or "").strip() != "java":
            return 0
        task = f"/proc/{pid}/task"
        _jit_tids[pid] = [
            f"{task}/{tid}/stat"
            for tid in os.listdir(task)
            if (_read(f"{task}/{tid}/comm") or "").startswith(_JIT_THREADS)
        ]
    return sum(_ticks(s, slice(11, 13)) for s in map(_read, _jit_tids[pid]) if s)


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process tree,
    including its exited and reaped children, without the JVM's JIT
    compiler threads.  Unlike wall time it does not grow while the
    machine's other tenants hold the cores.  JIT compilation is the JVM
    warming up: in the first minutes it is half of a warm query's CPU
    time, and how much of it lands in a timed stretch is what moved most
    between runs."""
    total = 0
    for pid in _tree():
        stat = _read(f"/proc/{pid}/stat")
        if stat:
            total += _ticks(stat, slice(11, 15)) - _jit_ticks(pid)
    return total / _TICK


def peak_rss_mb() -> float:
    """Sum of the high-water RSS of the live processes of the tree."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return total / 1024.0


def median(xs) -> float:
    xs = sorted(xs)
    n = len(xs)
    return (xs[(n - 1) // 2] + xs[n // 2]) / 2.0


def percentile(xs, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0


class Clock:
    """Wall and process-tree CPU seconds of a block: ``with Clock() as c``
    then ``c.wall`` and ``c.cpu``."""

    def __enter__(self):
        self._w, self._c = time.perf_counter(), cpu_seconds()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._w
        self.cpu = cpu_seconds() - self._c


def median_setup(setup_once, reps: int):
    """Run ``setup_once(i)`` ``reps`` times; returns (last result, median s)."""
    walls, out = [], None
    for i in range(reps):
        out, dt = timed(setup_once, i)
        walls.append(dt)
    return out, median(walls)


def _norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "0" if v == 0 else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    sorted by their rendered form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )
