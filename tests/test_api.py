"""End-to-end reference-parity lifecycle through PsyEngine:
ingest → history → JSON queries → retrieval (both score semantics) → IVF
→ context building → training export (the §3.1 /chat flow, batch); the
tenant store under it; and the corpus-pipeline and crawl module functions
that have no reference entry point (the ``*_facade*`` tests)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from psy_supabase_spark.api import PsyEngine
from psy_supabase_spark.functions import pii
from psy_supabase_spark.functions import vector as V
from psy_supabase_spark.functions.html import html_to_text
from psy_supabase_spark.functions.url import blocklist_filter
from psy_supabase_spark.operators import (
    bloom,
    decontam,
    dedup,
    hll,
    linkgraph,
    lm,
    lsh,
    ml_udfs,
    robots,
    semdedup,
    substr,
    textanalysis,
)
from psy_supabase_spark.sources import cdx, warc
from psy_supabase_spark.sources.jsonl import write_jsonl
from psy_supabase_spark.sources.shards import write_training_shards


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = PsyEngine(spark, str(tmp_path_factory.mktemp("warehouse")))
    meta = json.dumps(
        {"topic": "anxiety", "effectiveness": {"term_overlap": 0.9, "template_adherence": "high"}}
    )
    low = json.dumps(
        {"topic": "anxiety", "effectiveness": {"term_overlap": 0.1, "template_adherence": "medium"}}
    )
    eng.add_interaction("alice", context=None, question="how to handle worry?", answer="breathe slowly", metadata=meta)
    eng.add_interaction("alice", context=None, question="still worried", answer="try journaling", metadata=low)
    eng.add_interaction("alice", context=None, question="about my marriage", answer="talk openly", metadata=json.dumps({"topic": "relationships"}))
    eng.add_interaction("bob", context=None, question="bob q", answer="bob a", metadata=meta)
    kb = spark.createDataFrame(
        [("doc east", [1.0, 0.0, 0.0]), ("doc north", [0.0, 1.0, 0.0]), ("doc diag", [1.0, 1.0, 0.0])],
        "content string, embedding array<double>",
    )
    eng.add_documents("alice", kb)
    return eng


def test_tenancy_isolation(engine):
    assert engine.get_conversation_history("alice").count() == 3
    assert engine.get_conversation_history("bob").count() == 1


def test_topic_and_quality_filters(engine):
    topical = engine.get_topic_interactions("alice", "ANXIETY")  # case-insensitive
    assert topical.count() == 2
    hq = engine.get_high_quality_interactions("alice", "anxiety", min_overlap=0.7)
    assert hq.count() == 1
    assert hq.head().question == "how to handle worry?"


def test_retrieval_both_semantics(engine):
    q = [1.0, 0.1, 0.0]
    by_dist = engine.find_similar_documents("alice", q, k=2).collect()
    by_sim = engine.get_relevant_documents("alice", q, k=2).collect()
    assert [r.content for r in by_dist] == [r.content for r in by_sim]
    assert by_dist[0].distance == pytest.approx(1.0 - by_sim[0].similarity, abs=1e-9)
    assert by_dist[0].content == "doc east"


def test_default_kb_fallback(engine, spark):
    default_kb = spark.createDataFrame(
        [("shared doc", [0.0, 0.0, 1.0])], "content string, embedding array<double>"
    )
    engine.add_documents("default", default_kb)
    out = engine.get_relevant_documents("carol_has_no_kb", [0.0, 0.0, 1.0], k=1).collect()
    assert out[0].content == "shared doc"


def test_ivf_route(engine):
    engine.create_vector_index("alice", n_lists=2)
    hits = engine.find_similar_documents("alice", [1.0, 0.0, 0.0], k=1).collect()
    assert hits[0].content == "doc east"


def test_ivf_route_distance_rounds_like_the_scan(spark, tmp_path):
    """With every list probed, the indexed find_similar_documents returns
    the scan's rows exactly: its distance is rounded as topk_distance
    rounds, not taken as ``1 -`` a rounded similarity."""
    import numpy as np

    rng = np.random.default_rng(28)
    eng = PsyEngine(spark, str(tmp_path / "wh"))
    rows = [(f"d{i}", [float(x) for x in rng.standard_normal(8)]) for i in range(20)]
    eng.add_documents("r", spark.createDataFrame(rows, "content string, embedding array<double>"))
    q = [float(x) for x in rng.standard_normal(8)]
    scan = [tuple(r) for r in eng.find_similar_documents("r", q, k=20).collect()]
    eng.create_vector_index("r", n_lists=2)  # ivf_search probes 4 lists: all of them
    assert [tuple(r) for r in eng.find_similar_documents("r", q, k=20).collect()] == scan
    assert len(scan) == 20


def test_batch_serving_both_routes(engine, spark):
    # N-query serving: brute-force route and the IVF route must both
    # return per-query ranked hits with the expected winners.  The shared
    # fixture may already carry alice's index (test order) — drop it so
    # the brute branch is genuinely exercised first.
    engine._ivf_indexes.pop("alice", None)
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "query_id long, query_embedding array<double>",
    )
    brute = engine.find_similar_documents_batch("alice", queries, k=1)
    got = {r.query_id: r.content for r in brute.collect()}
    assert got == {0: "doc east", 1: "doc north"}
    engine.create_vector_index("alice", n_lists=2)
    indexed = engine.find_similar_documents_batch("alice", queries, k=1, nprobe=2)
    got_idx = {r.query_id: r.content for r in indexed.collect()}
    assert got_idx == got  # full probe == brute force
    # the train-free LSH route over the tenant scan: same winners
    # (self-hit-grade queries always share every band with their
    # nearest doc)
    kb = engine.store.scan("knowledge_base", user_id="alice")

    def srp(k, **kw):
        return lsh.srp_topk(
            kb, queries, k=k, id_col="content", vec_col="embedding", dim=3, **kw
        ).select("query_id", "content", "similarity", "rank")

    got_lsh = {r.query_id: r.content for r in srp(1).collect()}
    assert got_lsh == got
    # exact-k LSH route: k exceeds what the buckets can return, so the
    # brute completion must serve full lists identical to the brute route
    exact_k = srp(3, brute_fallback=True)
    brute_k3 = engine.find_similar_documents_batch("alice", queries, k=3)
    as_rows = lambda df: sorted(  # noqa: E731
        (r.query_id, r.rank, r.content, r.similarity) for r in df.collect()
    )
    assert as_rows(exact_k) == as_rows(brute_k3)


def test_build_context_rolls_three_turns(engine):
    ctx = engine.build_context("alice").orderBy("created_at").collect()
    assert ctx[0].context is None
    assert "Q: how to handle worry?" in (ctx[1].context or "")


def test_training_export_shape(engine):
    rows = engine.generate_training_examples("alice", "anxiety").collect()
    assert len(rows) == 1
    assert rows[0].instruction.endswith("anxiety")
    assert rows[0].input == "how to handle worry?"


def test_safety_and_toxicity_gates(engine, spark):
    qs = spark.createDataFrame(
        [("I want to kill myself",), ("a perfectly calm question about gardens",)], "question string"
    )
    routed = engine.classify_safety(qs).collect()
    assert routed[0].blocked and routed[0].safety.category == "suicide"
    assert not routed[1].blocked
    tox = engine.is_toxic(qs, "question")
    assert dict(tox.dtypes)["toxic"] == "boolean"


def test_effectiveness_analysis(engine, spark):
    df = spark.createDataFrame(
        [("is it all ok?", "yes it is ok?", "Question")], "question string, answer string, template string"
    )
    row = engine.analyze_response_effectiveness(df).head()
    assert row.template_adherence == "high"
    assert row.term_overlap == pytest.approx(0.75)
    assert row.length_quality == "too_short"


def test_hash_embedding_udf_deterministic(spark):
    df = spark.createDataFrame([("same text",), ("same text",), ("other",)], "t string")
    out = df.select(ml_udfs.hash_embedding_udf(16)(F.col("t")).alias("e")).collect()
    assert out[0].e == out[1].e != out[2].e
    assert len(out[0].e) == 16


def test_clean_responses_and_topic_facade(engine, spark):
    df = spark.createDataFrame(
        [
            ("You matter. You matter. Rest well tonight friend.", "I feel anxious and panic"),
            ("ok", "nothing relevant here"),
        ],
        "answer string, question string",
    )
    cleaned = engine.clean_responses(df).collect()
    assert cleaned[0].cleaned_response == "You matter. Rest well tonight friend."
    assert "mental health professional" in cleaned[1].cleaned_response  # <15-char fallback

    topics = engine.determine_topic(df).collect()
    assert topics[0].topic == "anxiety" and topics[0].topic_score > 0
    assert topics[1].topic == "emotional_support" and topics[1].topic_score == 0

    ents = engine.extract_entities(df).head()
    assert ents.entities == ["panic"]  # gazetteer hit; 'anxious' != 'anxiety'


def test_pipeline_facade_decontam_pii_export(spark, tmp_path):
    corpus = spark.createDataFrame(
        [
            (0, "mail me at a.b@x.org about the quick brown fox jumps over the lazy dog"),
            (1, "totally unrelated clean text with no secrets inside it at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)], "text string"
    )
    clean = decontam.decontaminate(corpus, bench)
    assert [r.doc_id for r in clean.collect()] == [1]

    redacted = pii.redact_with_counts(corpus)
    rows = {r.doc_id: r for r in redacted.collect()}
    # counts audit the ORIGINAL text; the text column is redacted after
    assert rows[0].n_pii_email == 1 and "[EMAIL]" in rows[0].text
    assert rows[1].n_pii_email == 0 and "[EMAIL]" not in rows[1].text

    out = str(tmp_path / "export")
    write_jsonl(redacted, out, num_shards=1)
    from psy_supabase_spark.sources.jsonl import read_jsonl

    back = read_jsonl(
        spark, out,
        "doc_id BIGINT, text STRING, n_pii_email INT, n_pii_ipv4 INT, n_pii_ssn INT, n_pii_phone INT",
    )
    assert back.count() == 2


def test_decontam_is_streaming_compatible(spark, tmp_path):
    """flag_contaminated is stateless map-side + broadcast (the anti-join
    spelling can't stream: LeftAnti with a stream-derived right is
    unsupported), so the SAME operator drops into readStream unchanged."""
    from psy_supabase_spark.operators.decontam import flag_contaminated

    src = tmp_path / "src"
    corpus = spark.createDataFrame(
        [
            (0, "alpha beta the quick brown fox jumps over the lazy dog tonight"),
            (1, "completely unrelated text about database query planners here"),
        ],
        "doc_id long, text string",
    )
    corpus.write.parquet(str(src))
    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)], "text string"
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    clean = flag_contaminated(stream, bench).where(~F.col("is_contaminated"))
    assert clean.isStreaming
    q = (
        clean.writeStream.format("memory")
        .queryName("decontam_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = [r.doc_id for r in spark.sql("SELECT doc_id FROM decontam_stream").collect()]
    assert got == [1]


def test_line_dedup_and_url_facades(spark):
    docs = spark.createDataFrame(
        [(1, "keep me\nSHARED"), (2, "SHARED\nmine"), (3, "see https://bad.example.com/x")],
        "doc_id long, text string",
    )
    lines = {r.doc_id: r.text for r in dedup.dedup_lines(docs).collect()}
    assert lines[1] == "keep me\nSHARED" and lines[2] == "mine"
    kept = {r.doc_id for r in blocklist_filter(docs, ["example.com"]).collect()}
    assert kept == {1, 2}


def test_fluency_semdedup_shard_facades(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b a b"), (3, "zq xv")],
        "doc_id long, text string",
    )
    # train on the clean reference slice (the CCNet setup), score everything
    ref = docs.where(F.col("doc_id") < 3)
    scored = {r.doc_id: r.ppl for r in lm.score_fluency(docs, train_on=ref).collect()}
    assert scored[3] > scored[1]  # OOV gibberish scores worse than modal text

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    kept = {
        r.vec_id
        for r in semdedup.semdedup(
            emb, 0.99, centers=[[1.0, 0.0], [0.0, 1.0]]
        ).collect()
    }
    assert 3 in kept and len(kept) == 2  # one of the near-identical pair dropped

    audit = write_training_shards(docs, str(tmp_path / "sh"), 2).collect()
    assert sum(r.n_rows for r in audit) == 3


def test_substr_html_report_facades(spark):
    boiler = " ".join(f"w{k}" for k in range(15))
    docs = spark.createDataFrame(
        [(1, f"intro {boiler} outro"), (2, f"other {boiler} tail"), (3, "clean doc")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in substr.excise_duplicate_spans(docs, 15).collect()}
    assert boiler in out[1] and boiler not in out[2] and out[3] == "clean doc"

    html = spark.createDataFrame(
        [(1, "<p>hello &amp; world</p>")], "doc_id long, text string"
    )
    assert html.withColumn("text", html_to_text("text")).head().text == "hello & world"

    rep = textanalysis.corpus_report(docs.withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")), group_cols=("lang",))
    rows = rep.collect()
    assert {r["lang"] for r in rows} == {None, "en"}


def test_soft_dedup_weights_facade(spark):
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(4)], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    w = {r.doc_id: r.sample_weight for r in dedup.duplicate_weights(docs, pairs).collect()}
    assert w == {0: 0.5, 1: 0.5, 2: 1.0, 3: 1.0}


def test_batch_serving_wide_dim_routes_gemm(engine, spark):
    """Wide-dim queries over a tenant KB must route the brute batch path
    through the GEMM kernel and still rank correctly."""
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.standard_normal(512)
    docs = []
    for name, flip in (("doc a", 1.0), ("doc b", -1.0)):
        v = (flip * base + 0.01 * rng.standard_normal(512)).tolist()
        docs.append((name, [float(x) for x in v]))
    kb = spark.createDataFrame(docs, "content string, embedding array<double>")
    engine.add_documents("wide_user", kb)
    queries = spark.createDataFrame(
        [(0, [float(x) for x in base.tolist()])],
        "query_id long, query_embedding array<double>",
    )
    got_df = engine.find_similar_documents_batch("wide_user", queries, k=1)
    assert _gemm_scored(got_df)
    got = got_df.collect()
    assert got[0].content == "doc a" and got[0].rank == 1


def test_single_query_wide_dim_routes_gemm(engine, spark):
    """Wide-dim KBs route the single-query J1/J2 paths through the GEMM
    kernel with the same ranking semantics as the expression top-k."""
    import numpy as np

    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((4, 300))
    kb = spark.createDataFrame(
        [(f"wd{i}", [float(x) for x in vecs[i]]) for i in range(4)],
        "content string, embedding array<double>",
    )
    engine.add_documents("wide_single", kb)
    q = [float(x) for x in vecs[2]]

    sim_df = engine.get_relevant_documents("wide_single", q, k=2)
    assert _gemm_scored(sim_df)
    sim = sim_df.collect()
    assert sim[0].content == "wd2" and abs(sim[0].similarity - 1.0) < 1e-6

    dist_df = engine.find_similar_documents("wide_single", q, k=2)
    assert _gemm_scored(dist_df)
    dist = dist_df.collect()
    assert dist[0].content == "wd2" and abs(dist[0].distance) < 1e-6
    # parity with the expression spelling on the same KB
    assert [(r.content, r.similarity) for r in sim] == _topk_reference(kb, q, 2)


def _wide_rows(rng, names, dim=272):
    return [(n, [float(x) for x in rng.standard_normal(dim)]) for n in names]


def _gemm_scored(df) -> bool:
    """Does the plan score through the GEMM kernel (the ``score``
    mapInPandas of operators/ivf.py)?"""
    return "MapInPandas score(" in df._jdf.queryExecution().executedPlan().toString()


def _topk_reference(kb, q, k):
    """The expression fold's top-k: the width rule's cut-off is raised
    above the query's width for this call only."""
    from psy_supabase_spark.operators import topk as topk_ops

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(V, "GEMM_MIN_DIM", 10**9)
        ref = topk_ops.topk_similarity(kb, q, k=k, id_col="content", embedding_col="embedding")
    assert not _gemm_scored(ref)
    return [(r.content, r.similarity) for r in ref.collect()]


def _wide_hits(df):
    """``(content, similarity)`` rows of an engine call that took the GEMM
    kernel."""
    assert _gemm_scored(df)
    return [(r.content, r.similarity) for r in df.collect()]


def test_single_query_wide_tie_straddles_k(spark, tmp_path):
    """Three stored copies of one vector tie at rank 2..4 and k=3 cuts
    through them: the GEMM route keeps the (similarity DESC, content ASC)
    order of the expression top-k, with the tied copies written by
    separate appends, so they reach the finish from different files."""
    import numpy as np

    rng = np.random.default_rng(21)
    eng = PsyEngine(spark, str(tmp_path / "wh"))
    q = [float(x) for x in rng.standard_normal(272)]
    near = [float(x + 0.5 * y) for x, y in zip(q, rng.standard_normal(272))]
    tie = [float(x + 0.9 * y) for x, y in zip(q, rng.standard_normal(272))]
    ddl = "content string, embedding array<double>"
    eng.add_documents("t", spark.createDataFrame([("best", near), ("tie c", tie)], ddl))
    eng.add_documents("t", spark.createDataFrame([("tie a", tie)] + _wide_rows(rng, ["x1", "x2"]), ddl))
    eng.add_documents("t", spark.createDataFrame([("tie b", tie)], ddl))
    got = _wide_hits(eng.get_relevant_documents("t", q, k=3))
    assert [c for c, _ in got] == ["best", "tie a", "tie b"]
    assert got == _topk_reference(eng.store.scan("knowledge_base", user_id="t"), q, 3)


def test_single_query_wide_null_first_row(spark, tmp_path):
    """The scan's first stored row has a NULL embedding: the query still
    takes the GEMM route, which skips the NULL row, with the expression
    top-k's answer."""
    import numpy as np

    rng = np.random.default_rng(22)
    eng = PsyEngine(spark, str(tmp_path / "wh"))
    rows = [("a null", None)] + _wide_rows(rng, ["d1", "d2", "d3", "d4"])
    kb = spark.createDataFrame(rows, "content string, embedding array<double>").coalesce(1)
    eng.add_documents("n", kb)
    stored = eng.store.scan("knowledge_base", user_id="n")
    assert stored.head().embedding is None
    q = rows[3][1]
    got = _wide_hits(eng.get_relevant_documents("n", q, k=3))
    assert got[0][0] == "d3"
    assert got == _topk_reference(stored, q, 3)


def test_single_query_wide_default_tenant_fallback(spark, tmp_path):
    """A tenant without a knowledge base reads the default tenant's, on
    the GEMM route, with the expression top-k's answer."""
    import numpy as np

    rng = np.random.default_rng(23)
    eng = PsyEngine(spark, str(tmp_path / "wh"))
    rows = _wide_rows(rng, [f"shared {i}" for i in range(6)])
    eng.add_documents("default", spark.createDataFrame(rows, "content string, embedding array<double>"))
    eng.add_documents("someone_else", spark.createDataFrame(_wide_rows(rng, ["private"]), "content string, embedding array<double>"))
    q = [float(x) for x in rng.standard_normal(272)]
    got = _wide_hits(eng.get_relevant_documents("nobody", q, k=4))
    assert len(got) == 4 and all(c.startswith("shared") for c, _ in got)
    assert got == _topk_reference(eng.store.scan("knowledge_base", user_id="default"), q, 4)


def test_single_query_wide_job_count(spark, tmp_path):
    """A wide single-query retrieval on a populated tenant runs at most
    three jobs: the scan's footer merge, the one row probe (the default-KB
    fallback) and the top-k (one TakeOrderedAndProject job)."""
    import uuid

    import numpy as np

    rng = np.random.default_rng(24)
    eng = PsyEngine(spark, str(tmp_path / "wh"))
    ddl = "content string, embedding array<double>"
    for i in range(3):
        eng.add_documents("busy", spark.createDataFrame(_wide_rows(rng, [f"b{i}-{j}" for j in range(4)]), ddl))
    q = [float(x) for x in rng.standard_normal(272)]
    eng.get_relevant_documents("busy", q, k=3).collect()  # warm: first-use jobs
    sc = spark.sparkContext
    group = f"single-query-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "single-query job count")
    try:
        hits = eng.get_relevant_documents("busy", q, k=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(hits) == 3
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, sorted(jobs)


def test_find_similar_documents_job_count(spark, tmp_path):
    """Without an index, find_similar_documents on a warm, populated
    tenant runs at most two jobs: the scan's footer merge and the top-k.
    The operator takes its kernel from the query's width, so there is no
    probe job."""
    import uuid

    import numpy as np

    rng = np.random.default_rng(26)
    eng = PsyEngine(spark, str(tmp_path / "wh"))
    ddl = "content string, embedding array<double>"
    for i in range(3):
        eng.add_documents("busy", spark.createDataFrame(_wide_rows(rng, [f"b{i}-{j}" for j in range(4)]), ddl))
    q = [float(x) for x in rng.standard_normal(272)]
    eng.find_similar_documents("busy", q, k=3).collect()  # warm: first-use jobs
    sc = spark.sparkContext
    group = f"find-similar-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "find_similar_documents job count")
    try:
        hits = eng.find_similar_documents("busy", q, k=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(hits) == 3
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 2, sorted(jobs)


def test_query_width_mismatch_returns_no_rows(spark, tmp_path):
    """A query whose width differs from the tenant's vectors matches no
    row on either kernel: a width-300 KB with a width-8 query (the
    expression fold) and a width-8 KB with a width-300 query (the GEMM
    scorer).  Both retrieval semantics and the batch path return no rows,
    with and without an IVF index; so does an empty query batch."""
    import numpy as np

    rng = np.random.default_rng(27)
    eng = PsyEngine(spark, str(tmp_path / "wh"))
    ddl = "content string, embedding array<double>"
    qddl = "query_id long, query_embedding array<double>"
    for tenant, kb_dim, q_dim in (("wide_kb", 300, 8), ("narrow_kb", 8, 300)):
        eng.add_documents(tenant, spark.createDataFrame(_wide_rows(rng, ["a", "b", "c"], kb_dim), ddl))
        q = [float(x) for x in rng.standard_normal(q_dim)]
        queries = spark.createDataFrame([(0, q), (1, [-x for x in q])], qddl)
        for indexed in (False, True):
            if indexed:
                eng.create_vector_index(tenant, n_lists=2)
            assert eng.get_relevant_documents(tenant, q, k=2).collect() == []
            assert eng.find_similar_documents(tenant, q, k=2).collect() == []
            assert eng.find_similar_documents_batch(tenant, queries, k=2).collect() == []
            assert eng.find_similar_documents_batch(tenant, spark.createDataFrame([], qddl), k=2).collect() == []


def test_ingest_warc_wet_facades(spark, tmp_path):
    import gzip

    def _rec(wtype, ctype, payload):
        hdr = (
            f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
            f"WARC-Target-URI: http://x/1\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        return hdr + payload + b"\r\n\r\n"

    d = tmp_path / "shards"
    d.mkdir()
    http = b"HTTP/1.1 200 OK\r\n\r\n<p>hi</p>"
    (d / "a.warc.gz").write_bytes(
        gzip.compress(_rec("response", "application/http; msgtype=response", http))
    )
    rows = warc.read_warc(spark, str(d)).collect()
    assert len(rows) == 1 and bytes(rows[0].payload) == b"<p>hi</p>"
    assert warc.read_warc_stream(spark, str(d)).isStreaming

    w = tmp_path / "wet"
    w.mkdir()
    (w / "b.warc.wet.gz").write_bytes(
        gzip.compress(_rec("conversion", "text/plain", b"wet text"))
    )
    rows = warc.read_wet(spark, str(w)).collect()
    assert len(rows) == 1 and rows[0].text == "wet text"
    assert warc.read_wet_stream(spark, str(w)).isStreaming

    m = tmp_path / "wat"
    m.mkdir()
    (m / "c.warc.wat.gz").write_bytes(
        gzip.compress(_rec("metadata", "application/json", b'{"Envelope":{}}'))
    )
    rows = warc.read_wat(spark, str(m)).collect()
    assert len(rows) == 1 and rows[0].json == '{"Envelope":{}}' 


def test_crawl_index_and_linkgraph_facades(spark, tmp_path):
    import gzip

    def _rec(wtype, ctype, payload, uri="http://x/1"):
        hdr = (
            f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
            f"WARC-Target-URI: {uri}\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        return hdr + payload + b"\r\n\r\n"

    d = tmp_path / "shards"
    d.mkdir()
    http_ok = b"HTTP/1.1 200 OK\r\n\r\n<p>keep</p>"
    http_err = b"HTTP/1.1 500 Oops\r\n\r\n<p>drop</p>"
    (d / "a.warc.gz").write_bytes(
        gzip.compress(_rec("response", "application/http; msgtype=response",
                           http_ok, "http://x/keep"))
        + gzip.compress(_rec("response", "application/http; msgtype=response",
                             http_err, "http://x/drop"))
    )
    # index → filter → fetch: only the 200 record's bytes come back
    idx = cdx.index_warc_members(spark, str(d))
    assert idx.count() == 2
    from pyspark.sql import functions as F

    rows = cdx.fetch_records(idx.where(F.col("status") == 200)).collect()
    assert len(rows) == 1 and bytes(rows[0].payload) == b"<p>keep</p>"
    # published-index round trip
    cdx_dir = tmp_path / "cdx"
    cdx.format_cdxj(idx).write.text(str(cdx_dir))
    assert cdx.read_cdx(spark, str(cdx_dir)).count() == 2

    m = tmp_path / "wat"
    m.mkdir()
    env = (
        '{"Envelope":{"Payload-Metadata":{"HTTP-Response-Metadata":'
        '{"HTML-Metadata":{"Links":[{"url":"http://x/other"},'
        '{"url":"http://y.example/z"}]}}}}}'
    )
    (m / "c.warc.wat.gz").write_bytes(
        gzip.compress(_rec("metadata", "application/json", env.encode()))
    )
    links = warc.wat_links(warc.read_wat(spark, str(m)))
    assert sorted(r.link_url for r in links.collect()) == [
        "http://x/other", "http://y.example/z",
    ]
    stats = linkgraph.page_link_stats(links).collect()
    assert len(stats) == 1
    assert (stats[0].out_degree, stats[0].n_intra, stats[0].n_inter) == (2, 1, 1)
    top = linkgraph.top_linked_hosts(links, k=1).collect()
    assert [(r.host, r.in_degree) for r in top] == [("x", 1)]


def test_rank_hosts_and_seen_filter_facades(spark):
    links = spark.createDataFrame(
        [
            ("http://a.example/p", "http://b.example/x"),
            ("http://a.example/p", "http://c.example/y"),
            ("http://b.example/q", "http://c.example/z"),
        ],
        "target_uri string, link_url string",
    )
    ranks = {
        r.host: r.pagerank
        for r in linkgraph.host_pagerank(linkgraph.with_hosts(links), iterations=5).collect()
    }
    assert set(ranks) == {"a.example", "b.example", "c.example"}
    # c receives 2 in-links, a receives none: rank order follows
    assert ranks["c.example"] > ranks["b.example"] > ranks["a.example"]
    assert abs(sum(ranks.values()) - 1.0) < 1e-3

    prev = spark.createDataFrame([(f"u{i}",) for i in range(0, 100, 2)], "url string")
    today = spark.createDataFrame([(f"u{i}",) for i in range(100)], "url string")
    seen = bloom.build_seen_filter(prev, "url", fp_rate=0.01)
    new = {r.url for r in bloom.filter_unseen(today, "url", *seen).collect()}
    assert new.isdisjoint({f"u{i}" for i in range(0, 100, 2)})
    assert len(new) >= 45  # odds minus at most a few false positives


def test_new_captures_cross_snapshot(spark):
    """Yesterday's digests are filtered out map-side; only genuinely new
    content survives to be fetched (minus nothing: misses are exact)."""
    prev = spark.createDataFrame(
        [(f"sha1:{i:032d}",) for i in range(50)], "digest string"
    )
    today = spark.createDataFrame(
        [(f"u{i}", f"sha1:{i:032d}") for i in range(80)],
        "url string, digest string",
    )
    seen = bloom.build_seen_filter(prev, "digest", fp_rate=0.001)
    new = {r.url for r in bloom.filter_unseen(today, "digest", *seen).collect()}
    assert new.isdisjoint({f"u{i}" for i in range(50)})
    assert len(new) >= 25  # the 30 new digests minus at most a few fps


def test_robots_policy_and_frontier_facades(spark, tmp_path):
    import gzip

    robots_txt = b"User-agent: *\nDisallow: /nope\n"
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + robots_txt
    rec = (
        f"WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: http://x.example/robots.txt\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode() + http + b"\r\n\r\n"
    d = tmp_path / "rb"
    d.mkdir()
    (d / "r.warc.gz").write_bytes(gzip.compress(rec))
    rules = robots.robots_policy(spark, str(d))
    assert [(r.host, r.directive, r.path) for r in rules.collect()] == [
        ("x.example", "disallow", "/nope")
    ]
    urls = spark.createDataFrame(
        [("http://x.example/nope/1",), ("http://x.example/ok",),
         ("http://y.example/any",)],
        "url string",
    )
    got = {r.url: r.allowed
           for r in robots.frontier_allowed(urls, rules, agent="bot").collect()}
    assert got == {
        "http://x.example/nope/1": False,
        "http://x.example/ok": True,
        "http://y.example/any": True,
    }


def test_plan_crawl_round_facade(spark):
    """dedupe_captures → filter_unseen → frontier_allowed →
    schedule_frontier as one call: revisits collapse, seen digests
    drop, robots-forbidden URLs drop, survivors get paced slots off
    the host's published crawl delay."""
    from psy_supabase_spark.operators import bloom as BL
    from psy_supabase_spark.operators.robots import (
        robots_crawl_delays, robots_rules,
    )

    src = spark.createDataFrame(
        [("x.example", "User-agent: *\nDisallow: /nope\nCrawl-delay: 2\n")],
        "host string, robots_txt string",
    )
    rules = robots_rules(src)
    delays = robots_crawl_delays(src, agent="bot")
    index = spark.createDataFrame(
        [
            ("http://x.example/a", "d1", "20240101000000", "f1", 0),
            ("http://x.example/b", "d1", "20240102000000", "f1", 100),  # revisit of d1
            ("http://x.example/seen", "d2", "20240101000000", "f1", 200),
            ("http://x.example/nope/x", "d3", "20240101000000", "f1", 300),
            ("http://x.example/d", "d4", "20240101000000", "f1", 400),
            ("http://x.example/c", "d5", "20240101000000", "f1", 500),
        ],
        "url string, digest string, timestamp string, filename string, offset long",
    )
    m, k = BL.bloom_params(100, 0.001)
    seen = (BL.bloom_local(["d2"], m, k), m, k)
    out = robots.plan_crawl_round(
        index, rules, seen, agent="bot", delays=delays
    )
    got = {r.url: (r.fetch_slot, r.fetch_offset_sec) for r in out.collect()}
    assert got == {
        "http://x.example/a": (0, 0.0),
        "http://x.example/c": (1, 2.0),
        "http://x.example/d": (2, 4.0),
    }
    # dedup_canonical: the same page under tracking noise schedules once
    # (smallest raw url wins); distinct canonical keys both survive
    noisy = spark.createDataFrame(
        [
            ("http://x.example/c?utm_source=a", "e1", "1", "f1", 0),
            ("http://x.example/c?utm_source=b", "e2", "1", "f1", 9),
            ("http://x.example/d", "e3", "1", "f1", 5),
        ],
        "url string, digest string, timestamp string, filename string, offset long",
    )
    out2 = robots.plan_crawl_round(
        noisy, rules, agent="bot", delays=delays, dedup_canonical=True
    )
    assert sorted(r.url for r in out2.collect()) == [
        "http://x.example/c?utm_source=a",
        "http://x.example/d",
    ]


def test_snapshot_stats_hll(spark):
    """Approximate cardinality card over a snapshot index: near-exact
    at small scale (linear-counting branch), host sketch derived from
    the url column, absent columns skipped."""
    idx = spark.createDataFrame(
        [(f"http://h{i % 7}.example/p/{i}", f"d{i % 40}") for i in range(200)],
        "url string, digest string",
    )
    stats = hll.snapshot_stats(idx)
    assert abs(stats["approx_distinct_url"] - 200) < 12
    assert abs(stats["approx_distinct_digest"] - 40) < 5
    assert abs(stats["approx_distinct_host"] - 7) < 2
    only_digest = hll.snapshot_stats(idx.select("digest"))
    assert set(only_digest) == {"approx_distinct_digest"}
    # an index carrying BOTH a host column and url: the url-derived
    # sketch owns the 'host' tag (r14 review: tagging both under one
    # tag estimated the UNION of the two value sets, matching neither)
    both = idx.withColumn("host", F.upper(F.lit("ONLY-ONE-VALUE")))
    with_both = hll.snapshot_stats(both, cols=("digest", "host"))
    assert abs(with_both["approx_distinct_host"] - 7) < 2


def test_frontier_allowed_matches_query_string(spark):
    """REP rules match path+query ('Disallow: /*?sessionid=' must fire
    on query-bearing URLs), and pre-existing host/path columns on the
    input survive untouched (r11 ADVICE)."""
    from psy_supabase_spark.operators.robots import robots_rules

    src = spark.createDataFrame(
        [("x.example", "User-agent: *\nDisallow: /*?sessionid=\n")],
        "host string, robots_txt string",
    )
    rules = robots_rules(src)
    urls = spark.createDataFrame(
        [("http://x.example/p/x?sessionid=9", "keepme", "keptpath"),
         ("http://x.example/p/x", "keepme2", "keptpath2")],
        "url string, host string, path string",
    )
    out = robots.frontier_allowed(urls, rules, agent="bot")
    assert set(out.columns) == {"url", "host", "path", "allowed"}
    # bare-host and query-only URLs normalize their empty path to '/':
    # the homepage of a fully-blocked host must be blocked (parse_url
    # returns '' there, not null — a coalesce alone misses it)
    blocked_src = spark.createDataFrame(
        [("x.example", "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string",
    )
    blocked_rules = robots_rules(blocked_src)
    bare = spark.createDataFrame(
        [("http://x.example",), ("http://x.example?q=1",),
         ("http://x.example/",)],
        "url string",
    )
    verdicts = {
        r.url: r.allowed
        for r in robots.frontier_allowed(
            bare, blocked_rules, agent="bot"
        ).collect()
    }
    assert verdicts == {
        "http://x.example": False,
        "http://x.example?q=1": False,
        "http://x.example/": False,
    }
    rows = {r.url: r for r in out.collect()}
    assert rows["http://x.example/p/x?sessionid=9"].allowed is False
    assert rows["http://x.example/p/x"].allowed is True
    # the caller's own host/path columns ride through unchanged
    assert rows["http://x.example/p/x"].host == "keepme2"
    assert rows["http://x.example/p/x"].path == "keptpath2"


def test_plan_crawl_round_canonical_dedup_skew_safe(spark):
    """The canonical-URL collapse is an AGGREGATION (min_by over
    groupBy), not a row_number window (r12 verdict: a monster alias
    group — one page under ~100× more session ids than any other —
    must partial-combine map-side, never sort its full depth through a
    single window task), and the survivors equal the old window
    spelling row-for-row on a mixed fixture."""
    from pyspark.sql import Window

    from psy_supabase_spark.functions.url import canonical_url_key
    from psy_supabase_spark.plans.explain import physical_plan

    rules = spark.createDataFrame(
        [("x.example", "User-agent: *\nAllow: /\n")],
        "host string, robots_txt string",
    )
    from psy_supabase_spark.operators.robots import robots_rules

    # one canonical group ~100x deeper than the rest (session-id noise)
    monster = [
        (f"http://x.example/page?sid={i:04d}", f"d{i}", "1", "f", i)
        for i in range(200)
    ]
    rest = [
        (f"http://x.example/p{i}", f"e{i}", "1", "f", i) for i in range(2)
    ]
    idx = spark.createDataFrame(
        monster + rest,
        "url string, digest string, timestamp string, filename string, offset long",
    )
    out = robots.plan_crawl_round(
        idx, robots_rules(rules), agent="bot", dedup_canonical=True
    )
    plan = physical_plan(out)
    assert "partial_min_by" in plan  # map-side combine bounds the group
    rows = sorted(r.url for r in out.collect())
    assert rows == [
        "http://x.example/p0",
        "http://x.example/p1",
        "http://x.example/page?sid=0000",  # smallest raw URL wins
    ]
    # row-for-row identical to the window spelling on the deduped input
    from psy_supabase_spark.sources.cdx import dedupe_captures

    deduped = dedupe_captures(idx)
    w = Window.partitionBy(canonical_url_key(F.col("url"))).orderBy(
        "url", "timestamp", "digest"
    )
    want = sorted(
        tuple(r)
        for r in deduped.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .collect()
    )
    cols = deduped.columns
    order = F.struct(F.col("url"), *[F.col(c) for c in cols if c != "url"])
    got = sorted(
        tuple(r)
        for r in deduped.groupBy(canonical_url_key(F.col("url")).alias("_ck"))
        .agg(F.min_by(F.struct(*cols), order).alias("_row"))
        .select("_row.*")
        .collect()
    )
    assert got == want


def test_plan_crawl_round_canonical_dedup_deterministic_ties(spark):
    """One raw URL surviving dedupe with different digests/timestamps:
    the full-row ordering struct breaks the tie deterministically (r12
    ADVICE: the window's url-only orderBy picked an arbitrary row, so
    which offset/length got fetched could vary per run)."""
    from psy_supabase_spark.operators.robots import robots_rules

    rules = robots_rules(
        spark.createDataFrame(
            [("x.example", "User-agent: *\nAllow: /\n")],
            "host string, robots_txt string",
        )
    )
    # same raw url, distinct digests -> dedupe_captures keeps both;
    # the canonical collapse must pick the SAME one every run
    idx = spark.createDataFrame(
        [
            ("http://x.example/p", "zz", "20240101000000", "f2", 900),
            ("http://x.example/p", "aa", "20240102000000", "f1", 100),
        ],
        "url string, digest string, timestamp string, filename string, offset long",
    )
    for _ in range(3):
        rows = robots.plan_crawl_round(
            idx, rules, agent="bot", dedup_canonical=True
        ).collect()
        assert len(rows) == 1
        r = rows[0]
        # smallest (url, digest, timestamp, ...) struct: the 'aa' row
        assert (r.digest, r.offset) == ("aa", 100)


def test_snapshot_stats_grouped(spark):
    """Per-group cardinality cards (r12 verdict): by=('host',) and
    by=('day',) return one row per group with near-exact counts at
    linear-counting scale; unknown keys raise."""
    idx = spark.createDataFrame(
        [
            (
                f"http://h{i % 3}.example/p/{i}",
                f"d{i % 20}",
                f"2024010{1 + i % 2}000000",
            )
            for i in range(120)
        ],
        "url string, digest string, timestamp string",
    )
    by_host = hll.snapshot_stats(idx, by=("host",)).collect()
    got = {r.host: r for r in by_host}
    assert sorted(got) == [
        "h0.example", "h1.example", "h2.example",
    ]
    for h, r in got.items():
        assert abs(r.approx_distinct_url - 40) < 5
        # digests repeat across hosts: 20 distinct each
        assert abs(r.approx_distinct_digest - 20) < 4
    by_day = hll.snapshot_stats(idx, by=("day",)).collect()
    days = {r.day: r.approx_distinct_url for r in by_day}
    assert sorted(days) == ["20240101", "20240102"]
    for v in days.values():
        assert abs(v - 60) < 6
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hll.snapshot_stats(idx, by=("nope",))


def test_snapshot_stats_grouped_edge_inputs(spark):
    """Operational edge inputs (r13 review): an EMPTY index returns an
    empty frame with the right schema (not an inference crash), a
    by-key that is also a sketched column is excluded (never a
    duplicate/ambiguous column, never the meaningless 'distinct key
    per itself'), and a group with no non-null keys in one sketched
    column estimates 0.0, not null."""
    empty = spark.createDataFrame([], "url string, digest string")
    out = hll.snapshot_stats(empty, by=("host",))
    assert out.columns == [
        "host", "approx_distinct_url", "approx_distinct_digest",
    ]
    assert out.count() == 0
    # by-key overlaps cols: digest is grouped, not sketched
    idx = spark.createDataFrame(
        [(f"http://h{i % 2}.example/p/{i}", f"d{i % 4}") for i in range(40)],
        "url string, digest string",
    )
    by_digest = hll.snapshot_stats(idx, by=("digest",))
    assert by_digest.columns == ["digest", "approx_distinct_url"]
    assert by_digest.count() == 4
    # one host's digests all null -> 0.0 for that group, never null
    mixed = spark.createDataFrame(
        [("http://a.example/1", "d1"), ("http://a.example/2", "d2"),
         ("http://b.example/1", None), ("http://b.example/2", None)],
        "url string, digest string",
    )
    rows = {r.host: r for r in hll.snapshot_stats(mixed, by=("host",)).collect()}
    assert rows["b.example"].approx_distinct_digest == 0.0
    assert abs(rows["a.example"].approx_distinct_digest - 2) < 1


def test_snapshot_stats_grouped_is_single_pass(spark):
    """The grouped card reads the index ONCE (r13 verdict: the old
    spelling ran one register job per sketched column plus a distinct
    collect for the group universe — 1 + n_cols + 1 scans of a 100 TB
    index).  All sketches and the group universe now ride one tagged
    job: the call issues at most 2 Spark jobs."""
    idx = spark.createDataFrame(
        [
            (f"http://h{i % 3}.example/p/{i}", f"d{i % 20}", f"2024010{1 + i % 2}000000")
            for i in range(120)
        ],
        "url string, digest string, timestamp string",
    )
    sc = spark.sparkContext
    # AQE splits ONE action's shuffle stages into separate job ids, so
    # job count only equals action count with it off — the invariant
    # under test is "one action over the index", not stage scheduling
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("snap_single_pass", "grouped card job count")
    try:
        out = hll.snapshot_stats(idx, by=("host", "day"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    jobs = sc.statusTracker().getJobIdsForGroup("snap_single_pass")
    assert 1 <= len(jobs) <= 2, jobs
    # the ungrouped (scalar) card is one action too
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("snap_single_pass_scalar", "scalar card job count")
    try:
        scalar = hll.snapshot_stats(idx)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sjobs = sc.statusTracker().getJobIdsForGroup("snap_single_pass_scalar")
    assert len(sjobs) == 1, sjobs
    assert abs(scalar["approx_distinct_url"] - 120) < 8
    # frame output unchanged vs the multi-pass spelling's contract
    rows = {(r.host, r.day): r for r in out.collect()}
    assert len(rows) == 6
    for r in rows.values():
        assert abs(r.approx_distinct_url - 20) < 4
        # i walks a fixed residue class mod 6; digest = i % 20 cycles
        # with period lcm(6,20)/6 = 10 distinct values per group
        assert abs(r.approx_distinct_digest - 10) < 3


def test_fresh_warehouse_scans_empty_not_crash(spark, tmp_path):
    """A brand-new engine (no append ever) scans its tables as EMPTY
    frames with the known schemas — the reference's pre-first-insert
    posture — instead of raising PATH_NOT_FOUND (r13 review)."""
    eng = PsyEngine(spark, str(tmp_path / "fresh_wh"))
    assert eng.get_relevant_documents("nobody", [1.0, 0.0]).collect() == []
    assert eng.get_conversation_history("nobody").collect() == []
    assert eng.find_similar_documents("nobody", [1.0, 0.0]).collect() == []
    # the empty fallback's POSITIONAL schema matches a populated
    # partitioned read (partition column last) — a positional union of
    # fresh and populated tenants must not swap columns (r13 review)
    fresh_cols = eng.store.scan("interactions").columns
    eng.add_interaction("u", context=None, question="q", answer="a")
    assert eng.store.scan("interactions").columns == fresh_cols


def test_ivf_index_keys_on_sanitized_tenant(spark, tmp_path):
    """Two raw spellings of one tenant share one IVF index, so an
    append under either spelling invalidates it (r13 review: a raw-id
    key left a stale index that silently excluded new documents)."""
    from pyspark.sql import functions as F

    eng = PsyEngine(spark, str(tmp_path / "wh2"))
    docs = spark.createDataFrame(
        [(f"doc{i}", [float(i), 1.0]) for i in range(8)],
        "content string, embedding array<double>",
    )
    eng.add_documents("user 1", docs)  # sanitizes to user_1
    eng.create_vector_index("user 1", n_lists=2)
    assert "user_1" in eng._ivf_indexes
    extra = spark.createDataFrame(
        [("newdoc", [100.0, 1.0])], "content string, embedding array<double>"
    )
    eng.add_documents("user_1", extra)  # same tenant, other spelling
    assert eng._ivf_indexes == {}  # stale index invalidated
    hits = eng.find_similar_documents("user 1", [100.0, 1.0], k=1).collect()
    assert hits[0].content == "newdoc"


def test_plan_crawl_round_null_url_and_null_digest_pass_through(spark):
    """Null-evidence rows survive the dedup legs (r13 review): null
    digests pass filter_unseen (no membership evidence — they are
    offset-fetchable captures), and null URLs pass dedup_canonical
    un-collapsed (a null key is not one shared identity)."""
    from psy_supabase_spark.operators import bloom as BL
    from psy_supabase_spark.operators.robots import robots_rules

    rules = robots_rules(
        spark.createDataFrame(
            [("x.example", "User-agent: *\nAllow: /\n")],
            "host string, robots_txt string",
        )
    )
    idx = spark.createDataFrame(
        [
            ("http://x.example/a", None, "1", "f", 0),
            ("http://x.example/b", None, "1", "f", 100),
            (None, "d1", "1", "f", 200),
            (None, "d2", "1", "f", 300),
        ],
        "url string, digest string, timestamp string, filename string, offset long",
    )
    m, k = BL.bloom_params(10, 0.01)
    seen = (BL.bloom_local(["dX"], m, k), m, k)
    out = robots.plan_crawl_round(
        idx, rules, seen, agent="bot", dedup_canonical=True
    ).collect()
    # both null-digest rows survived the bloom leg; both null-URL rows
    # survived the canonical collapse (they drop later only because a
    # null host has no robots verdict -> frontier keeps them: check)
    urls = sorted((r.url or "~null") for r in out)
    assert urls.count("http://x.example/a") == 1
    assert urls.count("http://x.example/b") == 1


def test_build_context_interaction_id_deterministic(engine):
    """interactionID is a stable per-tenant ordinal: identical across
    repeated collects (r13 review: monotonically_increasing_id could
    re-evaluate differently per action)."""
    a = {r.interactionID for r in engine.build_context("alice").collect()}
    b = {r.interactionID for r in engine.build_context("alice").collect()}
    assert a == b and min(a) == 1


def test_interaction_id_stored_stable_and_sortfree_read(spark, tmp_path):
    """The per-tenant interactionID is ASSIGNED AT APPEND (the
    reference's SERIAL, r13 verdict): ids of existing rows never change
    when a later append lands, each append continues max+1 per tenant,
    and the build_context READ path carries no window over the text
    columns (the old read-time row_number re-sorted full history by
    multi-KB tie-breakers on every call)."""
    eng = PsyEngine(spark, str(tmp_path / "wh_ordinal"))
    eng.add_interaction("alice", context=None, question="q1", answer="a1")
    eng.add_interaction("alice", context=None, question="q2", answer="a2")
    before = {
        r.question: r.interactionID for r in eng.build_context("alice").collect()
    }
    assert before == {"q1": 1, "q2": 2}
    # a subsequent append must EXTEND the sequence, never renumber
    eng.add_interaction("alice", context=None, question="q3", answer="a3")
    eng.add_interaction("bob", context=None, question="bq", answer="ba")
    after = {
        r.question: r.interactionID for r in eng.build_context("alice").collect()
    }
    assert after == {"q1": 1, "q2": 2, "q3": 3}
    assert {
        r.question: r.interactionID for r in eng.build_context("bob").collect()
    } == {"bq": 1}  # per-tenant sequences are independent
    # read path: the only window is rolling_context's, keyed on the
    # stored ordinal — no windowspec orders by question/answer/etc.
    plan = (
        eng.build_context("alice")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    specs = [
        seg.split("specifiedwindowframe")[0]
        for seg in plan.split("windowspecdefinition")[1:]
    ]
    assert specs, "rolling_context window missing from the plan"
    for spec in specs:  # partition + ordering clause only
        assert "question" not in spec and "answer" not in spec, spec


def test_interaction_id_legacy_and_mixed_warehouse(spark, tmp_path):
    """A warehouse written BEFORE the stored ordinal existed keeps
    working without a migration rewrite: the merged-footer scan makes
    the column set deterministic (not footer roulette — a plain
    parquet read picks whichever file's footer the reader samples, so
    a mixed warehouse could drop the column or not per call), the
    read path falls back to the deterministic legacy ordinal, and the
    first stamped append EXTENDS the sequence with the legacy block
    ranked first (every legacy row predates it by construction)."""
    wh = str(tmp_path / "wh_legacy")
    legacy = (
        spark.createDataFrame(
            [("c1", "q1", "a1", None), ("c2", "q2", "a2", None)],
            "context string, question string, answer string, metadata string",
        )
        .withColumn("created_at", F.to_timestamp(F.lit("2026-01-01 00:00:00")))
        .withColumn("user_id", F.lit("alice"))
    )
    legacy.write.partitionBy("user_id").parquet(wh + "/interactions")
    eng = PsyEngine(spark, wh)
    # pure-legacy files carry no ordinal column at all — the scan
    # reflects the disk truth (no phantom canonical columns), in
    # canonical-first order
    scanned = eng.store.scan("interactions", user_id="alice")
    assert scanned.columns == [
        "context", "question", "answer", "metadata", "created_at", "user_id",
    ]
    # pure-legacy read: the pre-r14 deterministic ordinal
    before = {
        r.question: r.interactionID for r in eng.build_context("alice").collect()
    }
    assert before == {"q1": 1, "q2": 2}
    # first stamped appends start at 1 (max over all-null ordinals) and
    # the mixed read ranks the legacy block first — no renumbering of
    # what a reader already saw
    eng.add_interaction("alice", context=None, question="q3", answer="a3")
    eng.add_interaction("alice", context=None, question="q4", answer="a4")
    stored = {
        r.question: r.interaction_id
        for r in eng.store.scan("interactions", user_id="alice").collect()
        if r.interaction_id is not None
    }
    assert stored == {"q3": 1, "q4": 2}
    after = {
        r.question: r.interactionID for r in eng.build_context("alice").collect()
    }
    assert after == {"q1": 1, "q2": 2, "q3": 3, "q4": 4}
    # stable across repeated reads; and the MIXED warehouse scan now
    # surfaces the ordinal column deterministically (merged footers),
    # null on the legacy rows
    assert after == {
        r.question: r.interactionID for r in eng.build_context("alice").collect()
    }
    mixed = eng.store.scan("interactions", user_id="alice")
    assert "interaction_id" in mixed.columns
    assert sorted(
        (r.question, r.interaction_id) for r in mixed.collect()
    ) == [("q1", None), ("q2", None), ("q3", 1), ("q4", 2)]


def test_recent_history_breaks_timestamp_ties_by_stored_id(spark, tmp_path):
    """A multi-row append stamps ONE created_at, so the k-th newest turn
    is decided by the stored interaction_id: the newest k come back, oldest
    first."""
    from psy_supabase_spark.sources.local import local_frame

    eng = PsyEngine(spark, str(tmp_path / "wh_ties"))
    turns = local_frame(
        spark,
        [(None, f"q{i}", f"a{i}", None) for i in range(1, 7)],
        "context string, question string, answer string, metadata string",
    )
    eng.store.append("interactions", turns, user_id="alice", ordinal_col="interaction_id")
    rows = eng.get_recent_history("alice", 5).collect()
    assert [(r.interaction_id, r.question) for r in rows] == [(i, f"q{i}") for i in range(2, 7)]
    assert len({r.created_at for r in rows}) == 1  # the tie this guards
    assert eng.get_recent_history("bob", 5).collect() == []


def test_recent_history_legacy_and_mixed_warehouse(spark, tmp_path):
    """Files without interaction_id order by the legacy columns; once
    stamped turns land, they rank after every legacy row, as in
    build_context."""
    wh = str(tmp_path / "wh_recent_legacy")
    (
        spark.createDataFrame(
            [("c1", "q1", "a1", None, "2026-01-01 00:00:00"), ("c2", "q2", "a2", None, "2026-01-01 00:00:01"),
             ("c3", "q3", "a3", None, "2026-01-01 00:00:01")],
            "context string, question string, answer string, metadata string, ts string",
        )
        .withColumn("created_at", F.to_timestamp("ts"))
        .drop("ts")
        .withColumn("user_id", F.lit("alice"))
        .write.partitionBy("user_id")
        .parquet(wh + "/interactions")
    )
    eng = PsyEngine(spark, wh)
    assert "interaction_id" not in eng.store.scan("interactions", user_id="alice").columns
    assert [r.question for r in eng.get_recent_history("alice", 2).collect()] == ["q2", "q3"]
    eng.add_interaction("alice", context=None, question="q4", answer="a4")
    assert [r.question for r in eng.get_recent_history("alice", 3).collect()] == ["q2", "q3", "q4"]
    assert [r.question for r in eng.get_recent_history("alice", 9).collect()] == ["q1", "q2", "q3", "q4"]


def test_recent_history_job_count(spark, tmp_path):
    """get_recent_history runs at most two jobs: the scan's footer merge
    and one ordered limit."""
    import uuid

    eng = PsyEngine(spark, str(tmp_path / "wh_recent_jobs"))
    for i in range(3):
        eng.add_interaction("alice", context=None, question=f"q{i}", answer=f"a{i}")
    eng.get_recent_history("alice", 2).collect()  # warm: first-use jobs
    sc = spark.sparkContext
    group = f"recent-history-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "recent history job count")
    try:
        rows = eng.get_recent_history("alice", 2).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [r.question for r in rows] == ["q1", "q2"]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 2, sorted(jobs)


def test_history_reads_order_one_append_by_stored_id(spark, tmp_path):
    """One 6-row append stamps ONE created_at, and compact rewrites the
    rows across files in another order: the history, topic and
    high-quality reads still order the turns by the stored
    interaction_id."""
    from psy_supabase_spark.sources.local import local_frame

    def meta(overlap):
        return json.dumps(
            {"topic": "anxiety", "effectiveness": {"term_overlap": overlap, "template_adherence": "low"}}
        )

    high = {1, 3, 4, 6}  # the turns the high-quality read matches
    eng = PsyEngine(spark, str(tmp_path / "wh_turns"))
    turns = local_frame(
        spark,
        [(None, f"q{i}", f"a{i}", meta(0.9 if i in high else 0.1)) for i in range(1, 7)],
        "context string, question string, answer string, metadata string",
    )
    eng.store.append("interactions", turns, user_id="alice", ordinal_col="interaction_id")
    assert eng.store.compact("interactions", user_id="alice", target_rows_per_file=2) == 3
    history = eng.get_conversation_history("alice").collect()
    assert [(r.interaction_id, r.question) for r in history] == [(i, f"q{i}") for i in range(1, 7)]
    assert len({r.created_at for r in history}) == 1  # the tie this guards
    topical = eng.get_topic_interactions("alice", "anxiety", limit=3).collect()
    assert [r.interaction_id for r in topical] == [6, 5, 4]
    hq = eng.get_high_quality_interactions("alice", "anxiety", limit=2).collect()
    assert [r.interaction_id for r in hq] == [6, 4]
    examples = eng.generate_training_examples("alice", "anxiety").collect()
    assert [r.input for r in examples] == ["q6", "q4", "q3", "q1"]


def test_history_reads_legacy_warehouse_turn_order(spark, tmp_path):
    """Files without interaction_id order the turns by LEGACY_TURN_ORDER:
    created_at, then the text columns where one append tied it."""
    from psy_supabase_spark.api import LEGACY_TURN_ORDER

    wh = str(tmp_path / "wh_legacy_turns")
    (
        spark.createDataFrame(
            [("c", f"q{i}", "a", json.dumps({"topic": "anxiety"}), ts)
             for i, ts in ((3, "2026-01-01 00:00:01"), (2, "2026-01-01 00:00:01"), (1, "2026-01-01 00:00:00"))],
            "context string, question string, answer string, metadata string, ts string",
        )
        .withColumn("created_at", F.to_timestamp("ts"))
        .drop("ts")
        .withColumn("user_id", F.lit("alice"))
        .write.partitionBy("user_id")
        .parquet(wh + "/interactions")
    )
    eng = PsyEngine(spark, wh)
    scanned = eng.store.scan("interactions", user_id="alice")
    assert "interaction_id" not in scanned.columns
    want = [r.question for r in scanned.orderBy(*LEGACY_TURN_ORDER).collect()]
    assert want == ["q1", "q2", "q3"]
    assert [r.question for r in eng.get_conversation_history("alice").collect()] == want
    newest = [r.question for r in eng.get_topic_interactions("alice", "anxiety", limit=2).collect()]
    assert newest == ["q3", "q2"]


def test_table_exists_on_a_uri_warehouse(spark, tmp_path):
    """A warehouse given as a file:// URI: table_exists asks the path's
    Hadoop filesystem, so it is False before the first append and True
    after it."""
    from psy_supabase_spark.sources.local import local_frame
    from psy_supabase_spark.sources.tenancy import TenantStore

    store = TenantStore(spark, "file://" + str(tmp_path / "wh_uri"))
    assert not store.table_exists("interactions")
    row = local_frame(
        spark, [(None, "q", "a", None)],
        "context string, question string, answer string, metadata string",
    )
    store.append("interactions", row, user_id="alice")
    assert store.scan("interactions", user_id="alice").count() == 1
    assert store.table_exists("interactions")


def test_tenant_scan_preserves_non_canonical_columns(spark, tmp_path):
    """The merged-footer scan must NOT mask columns outside the
    canonical schema (r14 review: a pinned-schema read silently
    nulled every stored column when a caller appended a differently
    shaped frame — `tenant_roundtrip` appends document rows into
    'interactions'); extras ride after the canonical columns in a
    deterministic name-sorted order."""
    from psy_supabase_spark.sources.tenancy import TenantStore

    store = TenantStore(spark, str(tmp_path / "wh_extra"))
    docs = spark.createDataFrame(
        [(1, "alpha", "en"), (2, "beta", "de")],
        "doc_id bigint, text string, lang string",
    )
    store.append("interactions", docs, user_id="alice")
    got = store.scan("interactions", user_id="alice")
    # canonical columns present on disk (created_at/user_id) first,
    # extras after, name-sorted
    assert got.columns == ["created_at", "user_id", "doc_id", "lang", "text"]
    assert sorted((r.doc_id, r.text, r.lang) for r in got.collect()) == [
        (1, "alpha", "en"),
        (2, "beta", "de"),
    ]


def test_append_ordinal_to_unknown_table_first_write(spark, tmp_path):
    """A FIRST append with ordinal_col to a table outside
    TABLE_SCHEMAS starts the sequence at 1 instead of crashing on the
    max-probe's PATH_NOT_FOUND (r14 review), and a second append
    continues it — including when the ordinal column itself is
    non-canonical."""
    from psy_supabase_spark.sources.tenancy import TenantStore

    store = TenantStore(spark, str(tmp_path / "wh_unknown"))
    batch = spark.createDataFrame([("x",), ("y",)], "v string")
    store.append("sidecar", batch, user_id="alice", ordinal_col="seq")
    store.append("sidecar", batch, user_id="alice", ordinal_col="seq")
    got = sorted(
        r.seq for r in store.scan("sidecar", user_id="alice").collect()
    )
    assert got == [1, 2, 3, 4]


def test_tenant_store_compact_preserves_layout_and_rows(spark, tmp_path):
    """Per-request appends leave one tiny parquet file each (the
    reference's INSERT rate becomes the lake's small-file problem);
    `TenantStore.compact` rewrites a tenant partition in place —
    layout, rows, stored ordinals, and scan results identical, file
    count collapsed, other tenants untouched."""
    import glob

    from psy_supabase_spark.sources.tenancy import TenantStore

    wh = str(tmp_path / "wh_compact")
    store = TenantStore(spark, wh)
    for i in range(5):
        batch = spark.createDataFrame(
            [(None, f"q{i}", f"a{i}", None)],
            "context string, question string, answer string, metadata string",
        )
        store.append("interactions", batch, user_id="alice", ordinal_col="interaction_id")
    store.append(
        "interactions",
        spark.createDataFrame(
            [(None, "bq", "ba", None)],
            "context string, question string, answer string, metadata string",
        ),
        user_id="bob",
        ordinal_col="interaction_id",
    )
    alice_dir = wh + "/interactions/user_id=alice"
    before_files = glob.glob(alice_dir + "/*.parquet")
    assert len(before_files) >= 5
    before_rows = sorted(
        (r.question, r.interaction_id)
        for r in store.scan("interactions", user_id="alice").collect()
    )
    n_after = store.compact("interactions", user_id="alice")
    assert n_after == 1
    assert len(glob.glob(alice_dir + "/*.parquet")) == 1
    after_rows = sorted(
        (r.question, r.interaction_id)
        for r in store.scan("interactions", user_id="alice").collect()
    )
    assert after_rows == before_rows
    # bob's partition untouched (same single file), and compact-all works
    assert len(glob.glob(wh + "/interactions/user_id=bob/*.parquet")) == 1
    assert store.compact("interactions") == 2  # one file per tenant
    # a fresh store compacts to nothing instead of crashing
    assert TenantStore(spark, str(tmp_path / "wh_none")).compact("interactions") == 0


def test_tenant_store_compact_mixed_warehouse(spark, tmp_path):
    """Compacting a MIXED warehouse (legacy pre-ordinal files + stamped
    files) merges footers into uniform compacted files and leaves
    build_context's output unchanged — legacy rows keep their null
    ordinal and rank first."""
    wh = str(tmp_path / "wh_compact_mixed")
    legacy = (
        spark.createDataFrame(
            [("c1", "q1", "a1", None)],
            "context string, question string, answer string, metadata string",
        )
        .withColumn("created_at", F.to_timestamp(F.lit("2026-01-01 00:00:00")))
        .withColumn("user_id", F.lit("alice"))
    )
    legacy.write.partitionBy("user_id").parquet(wh + "/interactions")
    eng = PsyEngine(spark, wh)
    eng.add_interaction("alice", context=None, question="q2", answer="a2")
    before = {
        r.question: r.interactionID for r in eng.build_context("alice").collect()
    }
    assert before == {"q1": 1, "q2": 2}
    assert eng.store.compact("interactions", user_id="alice") == 1
    assert before == {
        r.question: r.interactionID for r in eng.build_context("alice").collect()
    }
    # appends keep extending the stored sequence after compaction
    eng.add_interaction("alice", context=None, question="q3", answer="a3")
    assert {
        r.question: r.interactionID for r in eng.build_context("alice").collect()
    } == {"q1": 1, "q2": 2, "q3": 3}


class _StandInFS:
    """Python stand-in for the Hadoop FileSystem calls the compaction
    swap makes, over a local directory; ``fail_renames`` lists the
    1-based rename calls that report failure (return False) the way
    ``FileSystem.rename`` does."""

    def __init__(self, fail_renames=()):
        self.fail = set(fail_renames)
        self.renames = 0

    def rename(self, src, dst):
        import os

        self.renames += 1
        if self.renames in self.fail:
            return False
        os.rename(src, dst)
        return True

    def delete(self, path, recursive):
        import shutil

        shutil.rmtree(path)
        return True


def _swap_fixture(tmp_path):
    live, staged = tmp_path / "user_id=a", tmp_path / ".compact_user_id=a"
    live.mkdir()
    staged.mkdir()
    (live / "part-old-1.parquet").write_text("old 1")
    (live / "part-old-2.parquet").write_text("old 2")
    (staged / "part-new.parquet").write_text("new")
    return str(live), str(staged)


def test_compact_swap_replaces_partition(tmp_path):
    import os

    from psy_supabase_spark.sources.tenancy import _swap_in

    live, staged = _swap_fixture(tmp_path)
    _swap_in(_StandInFS(), str, live, staged)
    assert sorted(os.listdir(live)) == ["part-new.parquet"]
    assert sorted(os.listdir(tmp_path)) == ["user_id=a"]


@pytest.mark.parametrize("failing_rename", [1, 2])
def test_compact_swap_failed_rename_keeps_original(tmp_path, failing_rename):
    """Moving the old partition aside (rename 1) or the compacted one in
    (rename 2) fails: the swap raises, and the partition directory still
    holds its original files."""
    import os

    from psy_supabase_spark.sources.tenancy import _swap_in

    live, staged = _swap_fixture(tmp_path)
    with pytest.raises(OSError, match="compact"):
        _swap_in(_StandInFS([failing_rename]), str, live, staged)
    assert sorted(os.listdir(live)) == ["part-old-1.parquet", "part-old-2.parquet"]
    assert (tmp_path / "user_id=a" / "part-old-1.parquet").read_text() == "old 1"


def test_compact_swap_failed_restore_names_the_files(tmp_path):
    import os

    from psy_supabase_spark.sources.tenancy import _swap_in

    live, staged = _swap_fixture(tmp_path)
    with pytest.raises(OSError, match="compact_old_") as err:
        _swap_in(_StandInFS([2, 3]), str, live, staged)
    aside = str(err.value).rsplit(" ", 1)[-1]
    assert sorted(os.listdir(aside)) == ["part-old-1.parquet", "part-old-2.parquet"]


def test_pack_for_training_chunks_oversized_docs(spark):
    """chunk_tokens splits an over-budget document into real chunks
    before packing (r13 review: the whole-doc path rode a 10x-budget
    doc through as one oversized sequence)."""
    big = " ".join(f"w{i}" for i in range(500))
    docs = spark.createDataFrame(
        [(0, big, "s1"), (1, "tiny doc", "s1")],
        "doc_id long, text string, source string",
    )
    packed = textanalysis.pack_for_training(
        docs, merges=[], budget=100, chunk_tokens=50, overlap=10
    )
    rows = packed.collect()
    # the over-budget doc arrives as MULTIPLE real chunks, not one
    # oversized pseudo-chunk
    assert len({(r.doc_id, r.chunk_idx) for r in rows if r.doc_id == 0}) > 1


def test_robots_policy_decodes_wire_encoded_captures(spark, tmp_path):
    """A robots.txt capture served with Content-Encoding: gzip parses
    to its real rules (r13 review: without default decoding it parsed
    as byte noise -> zero rules -> allowed-by-default, a silent
    politeness violation)."""
    import gzip

    robots_txt = b"User-agent: *\nDisallow: /secret\n"
    gz_body = gzip.compress(robots_txt)
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + gz_body
    )
    rec = (
        f"WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: http://gz.example/robots.txt\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode() + http + b"\r\n\r\n"
    d = tmp_path / "rbgz"
    d.mkdir()
    (d / "r.warc.gz").write_bytes(gzip.compress(rec))
    rules = robots.robots_policy(spark, str(d))
    assert [(r.host, r.directive, r.path) for r in rules.collect()] == [
        ("gz.example", "disallow", "/secret")
    ]


def test_snapshot_stats_group_with_no_registers_still_rows(spark):
    """A group whose EVERY sketched column is all-null appears in no
    register frame but must still carry a 0.0 row in the card (r13
    review: the group universe comes from the base frame, not the
    register frames)."""
    idx = spark.createDataFrame(
        [("http://a.example/1", "d1"), ("http://b.example/1", None)],
        "url string, digest string",
    )
    rows = {
        r.host: r.approx_distinct_digest
        for r in hll.snapshot_stats(
            idx, by=("host",), cols=("digest",)
        ).collect()
    }
    assert set(rows) == {"a.example", "b.example"}
    assert rows["b.example"] == 0.0
