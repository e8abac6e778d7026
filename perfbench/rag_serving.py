"""``rag_serving``: the reference's HTTP traffic replayed through
``api.PsyEngine`` by one closed-loop client.

The request mix is 70% ``chat``, 20% ``add_document``, 10%
``get_documents``, over 16 tenants on a zipf curve (``WINDOW``).  A chat follows
the reference's ``/chat`` steps 4-12 without the model: safety gate, topic,
last-5 history, rolling context, top-3 retrieval with a pre-generated
dim-1536 query vector, response cleaning, effectiveness analysis and the
interaction append; every result is collected to the driver, as the Flask
handler does.  Each pass starts from a copy of one pristine warehouse.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

import common
import datagen

N_TENANTS = 16
KB_TOTAL = 5_000
DIM = 1536
DOCS_PER_APPEND = 3
SMOKE_KB_TOTAL = 500
# One window of 10 (kind, tenant index) requests, sent in this order
# window after window: 70% chat, 20% add_document, 10% get_documents, with
# tenants on a zipf-like curve (the hottest three times, the next twice;
# the coldest tenant has no knowledge base and takes the default-tenant
# fallback).  The first 5 requests already hold every kind.  Every seed
# sends the same load shape; the seed draws the texts and vectors.
WINDOW = (
    ("chat", 0), ("add_document", 0), ("chat", 1), ("chat", 3), ("get_documents", 2),
    ("chat", 15), ("chat", 0), ("add_document", 4), ("chat", 5), ("chat", 1),
)
KINDS = ("chat", "add_document", "get_documents")
# sent on a throwaway warehouse copy before the timed requests; with one
# chat only, the first timed chat still cost ~13% more CPU than the same
# tenant's chat later in the run
WARMUP_KINDS = ("chat", "add_document", "get_documents", "chat")
SHARE = {k: sum(kind == k for kind, _ in WINDOW) / len(WINDOW) for k in KINDS}
# A run sends a fixed number of requests, so its CPU figures are those of
# the same requests on every run: about --seconds of requests on a 4-core
# box, and at least the first 5, which hold every kind.
REQUESTS_PER_SECOND = 0.25
MIN_REQUESTS = 5
N_REQUESTS = 60
TOPIC_WORDS = {
    "anxiety": ["anxious", "worried", "nervous"],
    "depression": ["depressed", "hopeless", "empty"],
    "trauma": ["trauma", "nightmare", "flashback"],
    "relationships": ["relationship", "partner", "breakup"],
    "stress": ["stressed", "overwhelmed", "burnout"],
}
TOPICS = list(TOPIC_WORDS) + ["emotional_support"]
TEMPLATES = ["Question", "Empathy and Validation", "Providing Suggestions", "Others"]
LAYER_METRICS = {
    "api.get_relevant_documents.build_ms": "ms",
    "api.get_relevant_documents.execute_ms": "ms",
    "api.build_context.build_ms": "ms",
    "api.build_context.execute_ms": "ms",
    "api.classify_safety.ms": "ms",
    "api.get_high_quality_interactions.ms": "ms",
    "sources.tenancy.scan_ms": "ms",
    "sources.tenancy.append_ms": "ms",
    "sources.tenancy.files": "count",
    "spark.jobs_per_chat": "count",
    "spark.stages_per_chat": "count",
    "spark.tasks_per_chat": "count",
}


def tenant_names() -> list[str]:
    return ["default"] + [f"user_{i}" for i in range(1, N_TENANTS)]


def zipf_weights(n: int, s: float = 1.0) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def clustered_vectors(spark, n: int, seed: int) -> np.ndarray:
    """``n`` dim-1536 vectors from ``sources.synth.synthetic_embeddings``
    (clustered around planted modes), collected in ``vec_id`` order."""
    from psy_supabase_spark.sources.synth import synthetic_embeddings

    tbl = synthetic_embeddings(spark, n, DIM, seed=seed).orderBy("vec_id").toArrow()
    flat = tbl.column("embedding").combine_chunks().flatten()
    return np.asarray(flat, dtype=np.float64).reshape(n, DIM)


def make_inputs(spark, seed: int, kb_total: int = KB_TOTAL) -> dict:
    """Everything a pass sends and the warehouse it starts from.  Vectors
    come from one Spark job; the rest is plain Python and NumPy."""
    rng = np.random.default_rng([seed, 10])
    tenants = tenant_names()
    weights = zipf_weights(N_TENANTS)
    texts = datagen.documents(5_000, seed).column("text").to_pylist()
    # knowledge-base sizes follow the same zipf curve; the coldest tenant
    # has none, so its retrievals take the default-tenant fallback
    kb_sizes = np.floor(weights * kb_total).astype(int)
    kb_sizes[-1] = 0
    plan = [WINDOW[i % len(WINDOW)] for i in range(N_REQUESTS)]
    warm_kinds = list(WARMUP_KINDS)
    n_vecs = sum(
        1 if k == "chat" else DOCS_PER_APPEND if k == "add_document" else 0
        for k in [k for k, _ in plan] + warm_kinds
    )
    vecs = clustered_vectors(spark, int(kb_sizes.sum()) + n_vecs, seed)
    kb, lo = {}, 0
    for name, n in zip(tenants, kb_sizes):
        kb[name] = (
            [f"kb {lo + j}: {texts[(lo + j) % len(texts)]}" for j in range(n)],
            vecs[lo : lo + n],
        )
        lo += n
    fresh = iter(vecs[lo:])

    def question() -> str:
        words = texts[int(rng.integers(len(texts)))].split()[:12]
        if rng.random() < 0.8:
            kws = TOPIC_WORDS[TOPICS[int(rng.integers(5))]]
            lead = f"how do i cope when i feel {kws[int(rng.integers(3))]}"
        else:
            lead = "what should i do"
        return f"{lead} about {' '.join(words)}?"

    history = []
    for t, name in enumerate(tenants):
        for i in range(int(8 + 400 * weights[t])):
            answer = texts[int(rng.integers(len(texts)))]
            meta = {
                "topic": TOPICS[int(rng.integers(len(TOPICS)))],
                "prompt_template": TEMPLATES[int(rng.integers(len(TEMPLATES)))],
                "questionID": str(i),
                "effectiveness": {
                    "term_overlap": round(float(rng.random()), 3),
                    "template_adherence": "high" if rng.random() < 0.3 else "medium",
                    "response_length": len(answer.split()),
                },
            }
            history.append((name, i + 1, question(), answer, json.dumps(meta)))

    def request(rid: int, kind: str, tenant: str) -> dict:
        req = {"rid": rid, "kind": kind, "tenant": tenant}
        if kind == "chat":
            req["question"] = question()
            req["answer"] = texts[int(rng.integers(len(texts)))]
            req["template"] = TEMPLATES[int(rng.integers(len(TEMPLATES)))]
            req["qvec"] = next(fresh).tolist()
        elif kind == "add_document":
            req["docs"] = [
                (f"appended {rid}-{j}: {texts[int(rng.integers(len(texts)))]}", next(fresh).tolist())
                for j in range(DOCS_PER_APPEND)
            ]
        else:
            req["topic"] = TOPICS[int(rng.integers(len(TOPICS)))]
        return req

    requests = [request(rid, k, tenants[t]) for rid, (k, t) in enumerate(plan)]
    warmup = [request(-1 - i, k, tenants[0]) for i, k in enumerate(warm_kinds)]
    return {"tenants": tenants, "kb": kb, "history": history, "requests": requests, "warmup": warmup}


def seed_warehouse(inputs: dict, path: str) -> None:
    """Write the pristine warehouse in ``TenantStore``'s on-disk layout
    (one ``user_id=<tenant>`` directory per tenant and table), as a bulk
    backfill would: plain parquet files, no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    common.fresh_dir(path)
    ts = pa.timestamp("us", tz="UTC")
    base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    for name, (contents, vecs) in inputs["kb"].items():
        if not contents:
            continue
        d = os.path.join(path, "knowledge_base", f"user_id={name}")
        os.makedirs(d)
        pq.write_table(
            pa.table(
                {
                    "content": contents,
                    "embedding": pa.array(list(vecs), type=pa.list_(pa.float64())),
                    "created_at": pa.array(np.full(len(contents), base), type=ts),
                }
            ),
            os.path.join(d, "part-00000-seed.parquet"),
        )
    by_tenant: dict[str, list] = {}
    for row in inputs["history"]:
        by_tenant.setdefault(row[0], []).append(row)
    for name, rows in by_tenant.items():
        d = os.path.join(path, "interactions", f"user_id={name}")
        os.makedirs(d)
        ids = np.array([r[1] for r in rows], dtype=np.int64)
        pq.write_table(
            pa.table(
                {
                    "context": pa.array([None] * len(rows), type=pa.string()),
                    "question": [r[2] for r in rows],
                    "answer": [r[3] for r in rows],
                    "metadata": [r[4] for r in rows],
                    "created_at": pa.array(base + ids * 1_000_000, type=ts),
                    "interaction_id": ids,
                }
            ),
            os.path.join(d, "part-00000-seed.parquet"),
        )


def _chat(engine, req: dict, tr):
    spark, uid = engine.spark, req["tenant"]
    q = spark.createDataFrame([(req["question"],)], "question string")
    with tr.span("api.classify_safety"):
        engine.classify_safety(q).collect()
    with tr.span("api.determine_topic"):
        topic = engine.determine_topic(q).collect()[0]["topic"]
    with tr.span("api.get_recent_history"):
        engine.get_recent_history(uid, 5).collect()
    with tr.span("api.build_context"):
        context = engine.build_context(uid, 2).collect()
    with tr.span("api.get_relevant_documents"):
        hits = engine.get_relevant_documents(uid, req["qvec"], 3).collect()
    a = spark.createDataFrame(
        [(req["question"], req["answer"], req["template"])],
        "question string, answer string, template string",
    )
    with tr.span("api.analyze_response_effectiveness"):
        eff = engine.analyze_response_effectiveness(
            engine.clean_responses(a, "answer"), answer_col="cleaned_response"
        ).collect()[0]
    meta = {
        "topic": topic,
        "prompt_template": req["template"],
        "questionID": str(req["rid"]),
        "effectiveness": {
            "term_overlap": eff["term_overlap"],
            "template_adherence": eff["template_adherence"],
            "response_length": eff["response_length"],
            "length_quality": eff["length_quality"],
        },
    }
    with tr.span("api.add_interaction"):
        engine.add_interaction(
            uid,
            context=context[-1]["context"] if context else None,
            question=req["question"],
            answer=eff["cleaned_response"],
            metadata=json.dumps(meta),
        )
    return [(h["content"], h["similarity"]) for h in hits]


def _add_document(engine, req: dict, tr) -> None:
    docs = engine.spark.createDataFrame(req["docs"], "content string, embedding array<double>")
    with tr.span("api.add_documents"):
        engine.add_documents(req["tenant"], docs)


def _get_documents(engine, req: dict, tr) -> None:
    with tr.span("api.get_high_quality_interactions"):
        engine.get_high_quality_interactions(req["tenant"], req["topic"]).collect()


HANDLERS = {"chat": _chat, "add_document": _add_document, "get_documents": _get_documents}


def serve(engine, requests: list[dict], tr):
    """One closed-loop client: each request is sent when the previous one
    has returned.  Returns per-kind wall and CPU seconds, the retrievals
    each chat got, the failure count and the wall time (s)."""
    lat: dict[str, list[float]] = {k: [] for k in KINDS}
    cpu: dict[str, list[float]] = {k: [] for k in KINDS}
    hits, failed = {}, 0
    t_start = time.perf_counter()
    for req in requests:
        try:
            with common.Clock() as clock, tr.span(req["kind"], rid=req["rid"]):
                out = HANDLERS[req["kind"]](engine, req, tr)
        except Exception as e:  # noqa: BLE001 - a failed request is counted, not fatal
            failed += 1
            print(f"rag_serving: request {req['rid']} ({req['kind']}) failed: {e}", file=sys.stderr)
            continue
        lat[req["kind"]].append(clock.wall)
        cpu[req["kind"]].append(clock.cpu)
        if out is not None:
            hits[req["rid"]] = out
    return (lat, cpu), hits, failed, time.perf_counter() - t_start


def check_retrieval(inputs: dict, sent: int, hits: dict) -> bool:
    """Every chat's top-3 equals a NumPy brute-force cosine top-3 over its
    tenant's vectors as they stood when it ran (seed rows plus the
    documents appended by earlier requests; the default tenant's when the
    tenant has none)."""
    kb = {t: (list(c), list(v)) for t, (c, v) in inputs["kb"].items()}
    ok = True
    for req in inputs["requests"][:sent]:
        if req["kind"] == "add_document":
            for content, vec in req["docs"]:
                kb[req["tenant"]][0].append(content)
                kb[req["tenant"]][1].append(vec)
            continue
        if req["kind"] != "chat":
            continue
        tenant = req["tenant"] if kb[req["tenant"]][0] else "default"
        contents, vecs = kb[tenant]
        e = np.asarray(vecs, dtype=np.float64)
        q = np.asarray(req["qvec"], dtype=np.float64)
        sims = np.round(e @ q / (np.linalg.norm(e, axis=1) * np.linalg.norm(q)), 6)
        top = sorted(range(len(sims)), key=lambda j: (-sims[j], contents[j]))[:3]
        want = [(contents[j], float(sims[j])) for j in top]
        got = hits.get(req["rid"])
        if got is None or [c for c, _ in got] != [c for c, _ in want] or any(
            abs(a - b) > 2e-6 for (_, a), (_, b) in zip(got, want)
        ):
            print(f"rag_serving: request {req['rid']} retrieved {got}, expected {want}", file=sys.stderr)
            ok = False
    return ok


def _count_files(warehouse: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(warehouse) for f in files
    )


def trace_targets():
    from psy_supabase_spark.api import PsyEngine
    from psy_supabase_spark.sources.tenancy import TenantStore

    return [
        (PsyEngine, "get_relevant_documents", "api.get_relevant_documents.build"),
        (PsyEngine, "build_context", "api.build_context.build"),
        (TenantStore, "scan", "sources.tenancy.scan"),
        (TenantStore, "append", "sources.tenancy.append"),
    ]


def layer_metrics(tr, warehouse: str) -> dict:
    tr.collect()

    def med_ms(name: str, field: str = "dur") -> float:
        xs = [s[field] for s in tr.named(name)]
        return common.median(xs) * 1e3 if xs else 0.0

    chats = tr.named("chat")

    def per_chat(field: str) -> float:
        return sum(tr.inclusive(c, field) for c in chats) / len(chats) if chats else 0.0

    return {
        "api.get_relevant_documents.build_ms": (med_ms("api.get_relevant_documents.build"), "ms"),
        "api.get_relevant_documents.execute_ms": (med_ms("api.get_relevant_documents", "self"), "ms"),
        "api.build_context.build_ms": (med_ms("api.build_context.build"), "ms"),
        "api.build_context.execute_ms": (med_ms("api.build_context", "self"), "ms"),
        "api.classify_safety.ms": (med_ms("api.classify_safety"), "ms"),
        "api.get_high_quality_interactions.ms": (med_ms("api.get_high_quality_interactions"), "ms"),
        "sources.tenancy.scan_ms": (med_ms("sources.tenancy.scan"), "ms"),
        "sources.tenancy.append_ms": (med_ms("sources.tenancy.append"), "ms"),
        "sources.tenancy.files": (_count_files(warehouse), "count"),
        "spark.jobs_per_chat": (per_chat("jobs"), "count"),
        "spark.stages_per_chat": (per_chat("stages"), "count"),
        "spark.tasks_per_chat": (per_chat("tasks"), "count"),
    }


def run(ctx) -> dict:
    from psy_supabase_spark.api import PsyEngine

    spark, work = ctx.spark, ctx.workdir
    pristine = os.path.join(work, "pristine")

    def setup_once(_):
        inputs = make_inputs(spark, ctx.seed, SMOKE_KB_TOTAL if ctx.smoke else KB_TOTAL)
        seed_warehouse(inputs, pristine)
        return inputs

    inputs, setup_s = common.median_setup(setup_once, ctx.setup_reps)

    def one_pass(label: str, requests: list[dict], tr):
        wh = os.path.join(work, f"wh-{label}")
        shutil.copytree(pristine, wh)
        return wh, serve(PsyEngine(spark, wh), requests, tr)

    # every kind of request on a throwaway copy: JIT, codegen caches and
    # the Python workers are warm before the timed pass
    one_pass("warmup", inputs["warmup"], ctx.no_trace)
    if not ctx.traced:
        sent = max(MIN_REQUESTS, round(REQUESTS_PER_SECOND * ctx.seconds))
        _, ((lat, cpu), hits, failed, wall) = one_pass("timed", inputs["requests"][:sent], ctx.no_trace)

        def per_mix(xs: dict) -> float:
            # per request at the exact mix, from each kind's mean: which
            # kinds a short run happened to send does not move it
            return sum(SHARE[k] * sum(v) / len(v) for k, v in xs.items())

        e2e = {
            "op_cpu_p50_ms": common.median(cpu["chat"]) * 1e3,
            "op_cpu_geomean_ms": common.geomean(cpu["chat"]) * 1e3,
            "ops_per_cpu_s": 1.0 / per_mix(cpu),
            "setup_s": setup_s,
        }
        detail = {
            "requests": sent,
            "chats": len(lat["chat"]),
            "chat_p50_ms": common.median(lat["chat"]) * 1e3,
            "chat_geomean_ms": common.geomean(lat["chat"]) * 1e3,
            # fewer than 10 chats lie beyond p90 in a run: not a result
            "chat_p90_ms_unsteady": common.percentile(lat["chat"], 90) * 1e3,
            "add_document_p50_ms": common.median(lat["add_document"]) * 1e3,
            "get_documents_p50_ms": common.median(lat["get_documents"]) * 1e3,
            "serving_rps": 1.0 / per_mix(lat),
            "sent_per_s": sent / wall,
            "latencies_s": lat,
            "cpu_s": cpu,
        }
        correct = check_retrieval(inputs, sent, hits)
        return {"correct": correct and failed == 0, "attempted": sent, "failed": failed,
                "e2e": e2e, "layers": None, "detail": detail}

    # traced run: the first requests, untraced before and after the
    # traced pass (the JVM still gets faster from pass to pass)
    reqs = inputs["requests"][:MIN_REQUESTS]
    _, (_, hits_a, failed_a, wall_a) = one_pass("before", reqs, ctx.no_trace)
    tr = ctx.make_tracer()
    tr.install(trace_targets())
    try:
        wh_t, (_, hits_t, failed_t, wall_t) = one_pass("traced", reqs, tr)
    finally:
        tr.uninstall()
    _, (_, hits_b, failed_b, wall_b) = one_pass("after", reqs, ctx.no_trace)
    failed = failed_a + failed_t + failed_b
    correct = check_retrieval(inputs, len(reqs), hits_t) and hits_a == hits_t == hits_b
    layers = layer_metrics(tr, wh_t)
    layers["trace_overhead_frac"] = (wall_t / ((wall_a + wall_b) / 2.0) - 1.0, "ratio")
    ctx.save_spans(tr)
    return {"correct": correct and failed == 0, "attempted": 3 * len(reqs), "failed": failed,
            "e2e": None, "layers": layers, "detail": {"requests": len(reqs)}}
