"""``query_suite``: headline batch queries, each written to the noop sink.

The queries are the ROADMAP baseline set's batch dedup, LM and
span-excision operators plus four short relational / vector / window
queries.  Registered queries come from ``registry.QUERIES``; the four
operator queries are built from the operators' public functions with the
arguments ``bench.py`` uses.  The tables are generated once per run at a
fixed data seed and scale; ``--seed`` sets the order of the queries in
each pass.

A first pass collects every result and checks it (row count and
order-insensitive value hash against the DuckDB oracle in
``registry.ORACLES``, or against ``expected_hashes.json`` where there is
no oracle); it also warms the JVM.  An untimed pass and a fixed number
of timed passes follow.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

import common
import datagen

DATA_SEED = 42
SF = 0.01
SMOKE_SF = 0.001
# 8 of the ROADMAP baseline set's 22 queries: a warm pass takes 7-10 s
# on a 4-core box, so a run holds a checked cold pass, an untimed pass
# and two timed ones (README.md, "query_suite")
REGISTERED = [
    "vector_topk_similarity",
    "json_filter_recency_topk",
    "rolling_context",
    "pricing_summary",
]
OPERATOR_QUERIES = ["winnow_neardup", "semdedup_pairs", "lm_score", "exact_substr"]
QUERY_NAMES = REGISTERED + OPERATOR_QUERIES
# a run times about --seconds of warm passes, and at least two
WARM_PASS_S = 10.0
MIN_TIMED_PASSES = 2
HASHES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_hashes.json")
LAYER_METRICS = {
    "suite.build_s": "s",
    "suite.plan_s": "s",
    "suite.execute_s": "s",
    "suite.build_jobs": "count",
    "sources.catalog.load_table_ms": "ms",
    "sources.catalog.load_table_jobs": "count",
    "suite.jobs": "count",
    "suite.stages": "count",
    "suite.tasks_per_stage": "count",
    "suite.executor_cpu_s": "s",
    "suite.shuffle_write_bytes": "bytes",
    "suite.spill_bytes": "bytes",
    "suite.gc_s": "s",
    **{f"q.{q}.s": "s" for q in QUERY_NAMES},
    **{f"q.{q}.build_s": "s" for q in QUERY_NAMES},
}


def _operator_query(spark, sf_dir: str, name: str):
    from psy_supabase_spark.operators import lm, semdedup, substr, winnow
    from psy_supabase_spark.sources.catalog import load_table

    if name == "winnow_neardup":
        return winnow.winnow_neardup_pairs(load_table(spark, sf_dir, "documents"), 5, df_cap=100)
    if name == "semdedup_pairs":
        return semdedup.semdedup_pairs(load_table(spark, sf_dir, "embeddings"), 0.5, n_clusters=None)
    if name == "lm_score":
        docs = load_table(spark, sf_dir, "documents")
        model = lm.train_bigram_lm(docs, vocab_cap=1_000_000, bigram_cap=10_000_000)
        return lm.score_documents(docs, model)
    if name == "exact_substr":
        return substr.excise_duplicate_spans(load_table(spark, sf_dir, "documents"), 20)
    raise KeyError(name)


def build(spark, sf_dir: str, name: str):
    from psy_supabase_spark.registry import QUERIES

    if name in QUERIES:
        return QUERIES[name](spark, sf_dir)
    return _operator_query(spark, sf_dir, name)


def _rounded(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return [_rounded(x) for x in v]
    return v


def result_hash(df) -> tuple[int, list[str], str]:
    rows = [tuple(_rounded(v) for v in r) for r in df.collect()]
    return len(rows), df.columns, common.value_hash(df.columns, rows)


def oracle_hash(con, sql: str) -> tuple[int, list[str], str]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = [tuple(_rounded(v) for v in r) for r in res.fetchall()]
    return len(rows), cols, common.value_hash(cols, rows)


def reference_hashes(spark, sf_dir: str) -> dict:
    """Row count and value hash of every query without an oracle, keyed
    as ``expected_hashes.json`` stores them."""
    from psy_supabase_spark.registry import ORACLES

    out = {}
    for name in QUERY_NAMES:
        if name not in ORACLES:
            n, _, h = result_hash(build(spark, sf_dir, name))
            out[f"{name}@{os.path.basename(sf_dir)}"] = [n, h]
    return out


def check_pass(spark, sf_dir: str, names: list[str]) -> tuple[bool, int]:
    """Collect every query once and compare it with its reference."""
    import duckdb

    from psy_supabase_spark.registry import ORACLES

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(HASHES) as f:
        stored = json.load(f)
    ok, failed = True, 0
    for name in names:
        try:
            got = result_hash(build(spark, sf_dir, name))
        except Exception as e:  # noqa: BLE001 - a failed query is counted
            print(f"query_suite: {name} failed: {e}", file=sys.stderr)
            failed += 1
            ok = False
            continue
        if name in ORACLES:
            want = oracle_hash(con, ORACLES[name])
            same = got[0] == want[0] and sorted(got[1]) == sorted(want[1]) and got[2] == want[2]
        else:
            want = stored.get(f"{name}@{os.path.basename(sf_dir)}")
            same = want is not None and [got[0], got[2]] == want
        if not same:
            print(f"query_suite: {name} result {got} does not match {want}", file=sys.stderr)
            ok = False
    return ok, failed


def timed_pass(spark, sf_dir: str, names: list[str], tr) -> tuple[dict, int]:
    """Build and run each query to the noop sink; per-query wall, CPU and
    build wall time (s)."""
    walls, cpus, builds, failed = {}, {}, {}, 0
    for name in names:
        t0, c0 = time.perf_counter(), common.cpu_seconds()
        try:
            with tr.span("query", rid=name):
                with tr.span("build"):
                    df = build(spark, sf_dir, name)
                builds[name] = time.perf_counter() - t0
                if tr.enabled:
                    with tr.span("plan") as rec:
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                        it = qe.tracker().phases().values().iterator()
                        plan_ms = 0
                        while it.hasNext():
                            plan_ms += it.next().durationMs()
                        rec["plan_s"] = plan_ms / 1e3
                with tr.span("execute"):
                    df.write.mode("overwrite").format("noop").save()
        except Exception as e:  # noqa: BLE001
            print(f"query_suite: {name} failed: {e}", file=sys.stderr)
            failed += 1
            continue
        walls[name] = time.perf_counter() - t0
        cpus[name] = common.cpu_seconds() - c0
    return walls, cpus, builds, failed


def trace_targets():
    from psy_supabase_spark.sources import catalog

    return [(catalog, "load_table", "sources.catalog.load_table")]


def layer_metrics(tr) -> dict:
    tr.collect()
    queries = tr.named("query")

    def total(name: str, field: str = "dur") -> float:
        return sum(s[field] for s in tr.named(name))

    def incl(spans, field: str) -> float:
        return sum(tr.inclusive(s, field) for s in spans)

    stages = incl(queries, "stages")
    out = {
        "suite.build_s": (total("build"), "s"),
        "suite.plan_s": (sum(s.get("plan_s", 0.0) for s in tr.named("plan")), "s"),
        "suite.execute_s": (total("execute"), "s"),
        "suite.build_jobs": (incl(tr.named("build"), "jobs"), "count"),
        "sources.catalog.load_table_ms": (total("sources.catalog.load_table") * 1e3, "ms"),
        "sources.catalog.load_table_jobs": (incl(tr.named("sources.catalog.load_table"), "jobs"), "count"),
        "suite.jobs": (incl(queries, "jobs"), "count"),
        "suite.stages": (stages, "count"),
        "suite.tasks_per_stage": (incl(queries, "tasks") / stages if stages else 0.0, "count"),
        "suite.executor_cpu_s": (incl(queries, "cpu_s"), "s"),
        "suite.shuffle_write_bytes": (incl(queries, "shuffle_write_bytes"), "bytes"),
        "suite.spill_bytes": (incl(queries, "spill_bytes"), "bytes"),
        "suite.gc_s": (incl(queries, "gc_s"), "s"),
    }
    children = {}
    for s in tr.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for q in queries:
        out[f"q.{q['rid']}.s"] = (q["dur"], "s")
        out[f"q.{q['rid']}.build_s"] = (
            sum(c["dur"] for c in children.get(q["idx"], []) if c["name"] == "build"),
            "s",
        )
    return out


def run(ctx) -> dict:
    spark = ctx.spark
    sf = SMOKE_SF if ctx.smoke else SF
    sf_dir = os.path.join(ctx.workdir, f"sf{sf}")

    def setup_once(_):
        datagen.write_tables(sf_dir, sf, DATA_SEED)

    _, setup_s = common.median_setup(setup_once, ctx.setup_reps)
    rng = random.Random(ctx.seed)
    order = list(QUERY_NAMES)
    rng.shuffle(order)
    # the checked pass also warms the JVM
    correct, failed = check_pass(spark, sf_dir, order)
    attempted = len(order)

    def next_pass(tr):
        nonlocal failed, attempted
        rng.shuffle(order)
        walls, cpus, builds, f = timed_pass(spark, sf_dir, order, tr)
        failed += f
        attempted += len(order)
        return walls, cpus, builds

    if not ctx.traced:
        # The JVM keeps warming for minutes: a pass right after the cold
        # checked one cost 1-40% more CPU than the pass after it, and how
        # much more moved with host contention.  So one untimed pass
        # first, then a fixed number of timed passes (a time-boxed count
        # would give a slower host fewer, colder passes).
        next_pass(ctx.no_trace)
        n_timed = max(MIN_TIMED_PASSES, round(ctx.seconds / WARM_PASS_S))
        passes = [next_pass(ctx.no_trace) for _ in range(n_timed)]
        done = [q for q in QUERY_NAMES if all(q in w for w, _, _ in passes)]
        per_query = {q: common.median([w[q] for w, _, _ in passes]) for q in done}
        per_cpu = {q: common.median([c[q] for _, c, _ in passes]) for q in done}
        per_build = {q: common.median([b[q] for _, _, b in passes]) for q in done}
        cpus = list(per_cpu.values())
        e2e = {
            # per pass of the suite: the median of the per-query CPU falls
            # in the gap between the four short and the four long queries,
            # so it rests on two queries' figures
            "op_cpu_p50_ms": common.median([sum(c.values()) for _, c, _ in passes]) * 1e3,
            "op_cpu_geomean_ms": common.geomean(cpus) * 1e3,
            "ops_per_cpu_s": len(cpus) / sum(cpus),
            "setup_s": setup_s,
        }
        detail = {
            "sf": sf,
            "passes": len(passes),
            "suite_s": sum(per_query.values()),
            "suite_geomean_ms": common.geomean(list(per_query.values())) * 1e3,
            "query_p50_ms": common.median(list(per_query.values())) * 1e3,
            "query_cpu_p50_ms": common.median(cpus) * 1e3,
            "build_p50_ms": common.median(list(per_build.values())) * 1e3,
            "query_s": per_query,
            "query_cpu_s": per_cpu,
            "build_s": per_build,
        }
        correct = correct and len(per_query) == len(QUERY_NAMES)
        return {"correct": correct and failed == 0, "attempted": attempted, "failed": failed,
                "e2e": e2e, "layers": None, "detail": detail}

    # traced run: one untraced pass before and one after the traced pass
    walls_a, _, _ = next_pass(ctx.no_trace)
    tr = ctx.make_tracer()
    tr.install(trace_targets())
    try:
        walls_t, _, _ = next_pass(tr)
    finally:
        tr.uninstall()
    walls_b, _, _ = next_pass(ctx.no_trace)
    layers = layer_metrics(tr)
    untraced = (sum(walls_a.values()) + sum(walls_b.values())) / 2.0
    layers["trace_overhead_frac"] = (sum(walls_t.values()) / untraced - 1.0, "ratio")
    ctx.save_spans(tr)
    return {"correct": correct and failed == 0, "attempted": attempted, "failed": failed,
            "e2e": None, "layers": layers, "detail": {"sf": sf}}
