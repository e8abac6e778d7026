"""In-memory span tracer for the traced benchmark run.

A span records name, start, end, parent span and request id.  Each span
runs under its own Spark job group, so after the run the jobs, stages,
tasks, executor CPU, shuffle, spill and GC of the work it launched are
read back from the status store (``sc._jsc.sc().statusStore()``).  Self
time is the span's duration minus the part of it that child spans cover.

Shims that open spans around the engine's public functions are installed
only by :meth:`Tracer.install`; timed runs use :data:`NO_TRACE`, whose
spans are no-ops, and never touch the engine's functions.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

GROUP_PROP = "spark.jobGroup.id"
STAGE_FIELDS = ("stages", "tasks", "cpu_s", "run_s", "shuffle_write_bytes", "spill_bytes", "gc_s")


class _NoTrace:
    enabled = False

    def span(self, name: str, rid=None):
        return nullcontext()


NO_TRACE = _NoTrace()


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._collected = False

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid=None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent]["rid"]
        idx = len(self.spans)
        rec = {"idx": idx, "name": name, "parent": parent, "rid": rid,
               "group": f"perfbench-span-{idx}"}
        self.spans.append(rec)
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, rec["group"])
        stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, prev)

    # ---- shims --------------------------------------------------------

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def shim(*args, **kw):
            with tracer.span(name):
                return fn(*args, **kw)

        return shim

    def install(self, targets) -> None:
        """``targets``: (owner, attribute, span name) triples.  A module
        function is also replaced wherever an engine module imported it by
        name, so calls through those aliases are traced too."""
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            shim = self._wrap(orig, name)
            if isinstance(owner, type):
                self._patches.append((owner, attr, owner.__dict__[attr]))
                setattr(owner, attr, shim)
                continue
            for mod in list(sys.modules.values()):
                if (
                    mod is not None
                    and getattr(mod, "__name__", "").startswith("psy_supabase_spark")
                    and getattr(mod, attr, None) is orig
                ):
                    self._patches.append((mod, attr, orig))
                    setattr(mod, attr, shim)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---- post-run attribution ----------------------------------------

    def collect(self) -> None:
        """Attach job and stage totals to every span (self work only)."""
        if self._collected:
            return
        self._collected = True
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(60_000)
        except Exception:  # noqa: BLE001 - older/newer buses: give it a moment
            time.sleep(1.0)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen_stages: set[int] = set()
        for rec in self.spans:
            rec.update({"jobs": 0, **{f: 0 for f in STAGE_FIELDS}})
            for jid in sorted(tracker.getJobIdsForGroup(rec["group"])):
                rec["jobs"] += 1
                ids = store.job(jid).stageIds()
                for i in range(ids.size()):
                    sid = ids.apply(i)
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - never-run stage
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    rec["stages"] += 1
                    rec["tasks"] += st.numCompleteTasks()
                    rec["cpu_s"] += st.executorCpuTime() / 1e9
                    rec["run_s"] += st.executorRunTime() / 1e3
                    rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    rec["gc_s"] += st.jvmGcTime() / 1e3
        children: dict[int, list[int]] = {}
        for i, rec in enumerate(self.spans):
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(i)
        for i, rec in enumerate(self.spans):
            rec["dur"] = rec["end"] - rec["start"]
            rec["self"] = rec["dur"] - _cover(
                [(self.spans[c]["start"], self.spans[c]["end"]) for c in children.get(i, [])]
            )
        self._children = children

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def inclusive(self, rec: dict, field: str) -> float:
        """``field`` summed over ``rec`` and every span below it."""
        total, todo = 0.0, [rec["idx"]]
        while todo:
            i = todo.pop()
            total += self.spans[i][field]
            todo.extend(self._children.get(i, []))
        return total

    def write(self, path: str) -> None:
        self.collect()
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _cover(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total
