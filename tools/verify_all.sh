#!/usr/bin/env bash
# The pre-snapshot verify loop (run before every round snapshot):
#   1. oracle gate replica at sf0.01 (the driver's correctness surface)
#   2. tier-1 pytest suite (the ROADMAP command), then the perfbench smoke,
#      then both examples at sf0.001, each into its own temporary directory
#   3. bench at sf0.1 (one JSON line; full telemetry in BENCH_EXTRA.json)
#   4. driver entry smoke, and one Python task from outside the checkout
# Exit non-zero on the first failing surface.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 0/4 driver-sidecar hygiene =="
# Round-opening convention (r8 verdict, missing #4): the driver writes
# BENCH_r{N}.json / CORRECTNESS_r{N}.json / VERDICT.md / ADVICE.md AFTER
# the builder's last commit of round N, so round N+1 must land them as
# its first commit.  This step makes the omission loud: it fails when any
# driver evidence file is untracked or modified in the working tree.
if git status --porcelain -- 'BENCH_r*.json' 'CORRECTNESS_r*.json' \
     'VERDICT.md' 'ADVICE.md' | grep -q .; then
  echo "ERROR: uncommitted driver evidence files:" >&2
  git status --porcelain -- 'BENCH_r*.json' 'CORRECTNESS_r*.json' \
    'VERDICT.md' 'ADVICE.md' >&2
  echo "Commit the previous round's sidecars first (e.g. 'round N: verdict/advice/correctness/bench')." >&2
  exit 1
fi
echo "sidecars clean"

echo "== 1/4 oracle gate (sf0.01) =="
python tools/oracle_check.py /root/testdata/sf0.01

echo "== 2/4 pytest =="
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
python -m pytest perfbench/test_smoke.py

echo "== 2/4 examples (sf0.001) =="
# the examples are the only non-test callers of some module functions
# (hll.snapshot_stats, robots.plan_crawl_round, charset.decode_crawl_text);
# with no arguments each reads sf0.001 and writes to a fresh temporary
# directory, here one inside its own mktemp -d
for demo in pipeline_demo crawl_ingest_demo; do
  demo_out="$(mktemp -d)"
  TMPDIR="$demo_out" python "examples/$demo.py"
  rm -rf "$demo_out"
done

echo "== 3/4 bench (sf0.1) =="
# bench raises if its stdout line reaches 1,800 chars (stdout is parsed
# from a 2,000-char tail window) and writes probe medians + chosen
# configs to BENCH_EXTRA.json
python bench.py 2>/dev/null | tail -1

echo "== 4/4 entry smoke =="
python - <<'PY'
from psy_supabase_spark.session import get_spark
import __spark_entry__ as e
df = e.entry(get_spark("verify-smoke"))
n = df.count()
assert n >= 0
print(f"entry ok: {n} rows, schema [{', '.join(c for c, _ in df.dtypes)}]")
PY
# Python workers fork from psy_supabase_spark.daemon: a driver outside the
# checkout, PYTHONPATH unset, must still run a Python task; with
# SPARK_GRAFT_CPUS unset too, it gets one task slot per usable core
repo="$PWD"
outside="$(mktemp -d)"
trap 'rm -rf "$outside"' EXIT
(cd "$outside" && env -u PYTHONPATH -u SPARK_GRAFT_CPUS python - "$repo" "$(env -u OMP_NUM_THREADS nproc)" <<'PY'
import sys
sys.path.insert(0, sys.argv[1])
from psy_supabase_spark.session import get_spark
spark = get_spark("verify-daemon")
slots = spark.sparkContext.defaultParallelism
assert slots == int(sys.argv[2]), (slots, sys.argv[2])
rows = spark.createDataFrame([(1,)], "x int").collect()
assert [r.x for r in rows] == [1], rows
print(f"python task ok outside the checkout, local[{slots}]")
PY
)
echo "ALL GREEN"
# bench/scale-step rewrite their telemetry sidecars each run — they are
# part of the round's evidence contract, so flag them if left dirty.
if git status --porcelain -- 'BENCH_EXTRA.json' 'SCALE_STEP_EXTRA.json' | grep -q .; then
  echo "NOTE: refreshed telemetry sidecars pending commit:"
  git status --porcelain -- 'BENCH_EXTRA.json' 'SCALE_STEP_EXTRA.json'
fi
