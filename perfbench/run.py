"""Benchmark entry point.

    python3 perfbench/run.py --workload rag_serving --seed 1 --seconds 10 --trace 0

Runs one workload in one process on ``local[<cpus>]`` and prints, as the
last stdout line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced
run with ``--trace 1``.  Details (per-kind latencies, spans) go to
``.perfbench_work/results/``.  See ``perfbench/README.md``.

    python3 perfbench/run.py --record-hashes > perfbench/expected_hashes.json

prints the reference hashes of the query_suite queries that have no
DuckDB oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

WORKLOADS = ("rag_serving", "query_suite", "stream_dedup")
# the workloads BENCHMARK.json lists; stream_dedup does not fit the run
# budget and runs on request only (README.md, "Workloads")
LISTED = ("rag_serving", "query_suite")
# every workload reports the same end-to-end names (README.md, "Metrics")
END_TO_END = {
    "op_cpu_p50_ms": "ms",
    "op_cpu_geomean_ms": "ms",
    "ops_per_cpu_s": "1/cpu-s",
    "setup_s": "s",
}
SETUP_REPS = 3


class Context:
    def __init__(self, args, spark, workdir: str):
        from tracer import NO_TRACE

        self.spark = spark
        self.workdir = workdir
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.smoke = args.smoke
        self.setup_reps = 1 if args.smoke else SETUP_REPS
        self.no_trace = NO_TRACE
        self.results = os.path.join(os.path.dirname(workdir), "results")
        os.makedirs(self.results, exist_ok=True)
        self.tag = f"{args.workload}-seed{args.seed}"

    def scaled(self, n: float, minimum: int) -> int:
        """A work size, shrunk tenfold in smoke mode."""
        return max(minimum, int(round(n * (0.1 if self.smoke else 1.0))))

    def make_tracer(self):
        from tracer import Tracer

        return Tracer(self.spark)

    def save_spans(self, tr) -> None:
        tr.write(os.path.join(self.results, f"spans-{self.tag}.jsonl"))


def layer_units(workload: str) -> dict[str, str]:
    """Per-layer metric units: those of every listed workload (a layer a
    workload never calls reads 0), or a stream_dedup run's own."""
    names = LISTED if workload in LISTED else (workload,)
    units = {}
    for name in names:
        units.update(__import__(name).LAYER_METRICS)
    units["trace_overhead_frac"] = "ratio"
    return units


def record_hashes(spark, workdir: str) -> int:
    """Print ``expected_hashes.json`` for the current data generator."""
    import datagen
    import query_suite

    out = {}
    for sf in (query_suite.SF, query_suite.SMOKE_SF):
        sf_dir = os.path.join(workdir, f"sf{sf}")
        datagen.write_tables(sf_dir, sf, query_suite.DATA_SEED)
        out.update(query_suite.reference_hashes(spark, sf_dir))
    print(json.dumps(out, indent=1, sort_keys=True))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    ap.add_argument(
        "--record-hashes",
        action="store_true",
        help="print the query_suite hashes of the queries without an oracle",
    )
    args = ap.parse_args(argv)
    if not args.record_hashes and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    # fail before any work when the engine is not importable
    import psy_supabase_spark  # noqa: F401

    import common

    name = "record-hashes" if args.record_hashes else args.workload
    workdir = os.path.join(common.WORK_ROOT, f"{name}-{os.getpid()}")
    common.fresh_dir(workdir)
    common.prepare_env(workdir, traced=bool(args.trace))
    t0 = time.perf_counter()
    spark = common.start_spark(f"perfbench-{name}")
    session_s = time.perf_counter() - t0
    try:
        if args.record_hashes:
            return record_hashes(spark, workdir)
        module = __import__(args.workload)
        units = layer_units(args.workload)
        out = module.run(Context(args, spark, workdir))
        peak_rss_mb = common.peak_rss_mb()
    finally:
        common.stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    e2e = out["e2e"]
    if e2e is not None:
        # set-up = session start plus the workload's median input set-up
        e2e["setup_s"] += session_s
    detail = {
        "session_start_s": session_s,
        "peak_rss_mb": peak_rss_mb,
        **out["detail"],
        "e2e": e2e,
        "layers": out["layers"],
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(common.WORK_ROOT, "results", f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps({"workload": args.workload, **detail}, default=str), file=sys.stderr)
    if args.trace:
        metrics = {name: (out["layers"].get(name, (0.0, unit))[0], unit) for name, unit in units.items()}
    else:
        metrics = {name: (e2e[name], unit) for name, unit in END_TO_END.items()}
    print(common.result_line(out["correct"], out["attempted"], out["failed"], metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
