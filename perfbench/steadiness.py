"""Run-to-run spread of the benchmark, the evidence for the bounds in
``BENCHMARK.json``.

    python3 perfbench/steadiness.py --set A --seeds 1 10
    python3 perfbench/steadiness.py --set B --seeds 11 20
    python3 perfbench/steadiness.py --summary A B

A set runs ``BENCHMARK.json``'s command once per listed workload and seed
(``--trace 0``, ``run_seconds``) and appends each result line, with the
run's wall time, to ``perfbench/evidence/<set>.jsonl``.  ``--summary``
prints, per workload and end-to-end metric, each set's median and its
quartile spread ((q3 - q1) / median, from ``statistics.quantiles(n=4)``),
the shift of the second median against the first, and the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EVIDENCE = os.path.join(HERE, "evidence")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_set(name: str, seeds: range, workloads: list[str], trace: int) -> None:
    spec = load_spec()
    os.makedirs(EVIDENCE, exist_ok=True)
    path = os.path.join(EVIDENCE, f"{name}.jsonl")
    for workload in workloads:
        for seed in seeds:
            cmd = spec["command"] + [
                "--workload", workload, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
            ]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            rec = {"workload": workload, "seed": seed, "trace": trace, "rc": proc.returncode,
                   "wall_s": round(wall, 2), "result": result}
            with open(path, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(json.dumps(rec), flush=True)


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def summary(names: list[str]) -> None:
    spec = load_spec()
    sets = {}
    for name in names:
        with open(os.path.join(EVIDENCE, f"{name}.jsonl")) as f:
            sets[name] = [json.loads(line) for line in f if line.strip()]
    print(f"| workload | metric | bound | " + " | ".join(f"{n} median | {n} spread" for n in names)
          + (" | shift |" if len(names) == 2 else " |"))
    print("|---" * (3 + 2 * len(names) + (len(names) == 2)) + "|")
    for workload in [w["name"] for w in spec["workloads"]]:
        for m in spec["end_to_end"]:
            cells, meds = [], []
            for name in names:
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in sets[name]
                        if r["workload"] == workload and r["trace"] == 0 and r["result"]]
                med, sp = spread(vals)
                meds.append(med)
                cells.append(f"{med:.4g} | {sp:.3f}")
            row = f"| {workload} | {m['name']} | {m['bound']} | " + " | ".join(cells)
            if len(names) == 2:
                worse = (meds[1] - meds[0]) / meds[0]
                row += f" | {worse if m['better'] == 'lower' else -worse:+.3f}"
            print(row + " |")
    for name in names:
        walls = [r["wall_s"] for r in sets[name]]
        bad = [r for r in sets[name] if not (r["result"] and r["result"]["correct"] and not r["result"]["failed"])]
        print(f"\n{name}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s, {len(bad)} incorrect or failed")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--set")
    ap.add_argument("--seeds", type=int, nargs=2, metavar=("FIRST", "LAST"))
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--summary", nargs="+", metavar="SET")
    args = ap.parse_args()
    if args.summary:
        summary(args.summary)
        return 0
    if not args.set or not args.seeds:
        ap.error("--set and --seeds are required")
    workloads = args.workloads or [w["name"] for w in load_spec()["workloads"]]
    run_set(args.set, range(args.seeds[0], args.seeds[1] + 1), workloads, args.trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
