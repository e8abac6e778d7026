"""Benchmark driver — one JSON line on stdout.

Times the 23 headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], each executed fully through the noop sink (no
collect, no result materialization in the timing):

- 22 queries from ``BENCH_QUERIES``: the query registry plus the four
  ``LOCAL_QUERIES`` that have no registry slot.  Each is timed as the min
  of 2 repetitions, 3 for the three LSH near-dup queries (multi-stage
  plans with pandas-UDF stages swing hardest), and up to 5 while the
  best repetition is under 1 s, where per-rep noise dominates.
- ``ann_ivf_search``: IVF search over a persisted, partition-pruned
  layout.  An index is build-once/search-many, so the build is timed
  apart (``ivf_build_sec``) and the headline times search only.  The
  config is the engine's self-tuning one: ``ivf.default_n_lists`` lists
  and the cheapest nprobe that reaches recall@10 >= 0.9 against exact
  top-10.

A fixed-work probe (hash + two aggregations over a generated 5M-row
range, no engine code) runs immediately before every repetition.
``queries_calibrated`` is each query's median of rep time / adjacent
probe time, so host speed is sampled next to each measurement; raw
seconds are the same-session signal, calibrated ratios the cross-session
one.

Output contract: the stdout line carries only {metric, value, unit,
queries, queries_calibrated, sf, extra_file} and must stay under 1,800
chars, because it is parsed from a 2,000-char tail window of stdout.  The
sidecar ``BENCH_EXTRA.json`` next to this file repeats it with the probe
medians and the chosen IVF/SemDeDup configs.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from psy_supabase_spark.registry import QUERIES  # noqa: E402
from psy_supabase_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    "vector_topk_similarity",   # J2 brute-force cosine top-k
    "knn_join_multi",           # N-query broadcast KNN (salted two-phase)
    "json_filter_recency_topk", # P3+O2
    "rolling_context",          # W1
    "topic_classify_argmax",    # A1
    "ner_entity_boost",         # T4+A1 entity-boosted argmax (map-side)
    "response_clean",           # T6 ten-pass cleaning pipeline
    "pricing_summary",          # TPC-H Q1 shape
    "revenue_by_nation",        # multi-join shape
    "sessionize_gap30m",        # window + agg
    "asof_join_purchase_click", # as-of join (union + window, zero joins)
    "dedup_minhash_lsh",        # MinHash LSH near-dup
    "simhash_neardup",          # SimHash banded near-dup
    "embedding_neardup_lsh",    # SRP near-dup
    "text_profile",             # text-analysis scan
    "multimodal_features",      # mapInPandas path
    "events_hourly_rollup",     # tumbling rollup
    "winnow_neardup",           # winnowing fingerprints + pair search
    "semdedup_pairs",           # SemDeDup cluster + within-cluster GEMM
    "lm_score",                 # bigram Stupid-Backoff train + score
    "exact_substr",             # ExactSubstr span excision (Lee 2021)
    "training_pipeline",        # the composed 10-stage end-to-end DAG
]

# the three LSH near-dup queries get a third repetition
NOISY_QUERIES = {"dedup_minhash_lsh", "simhash_neardup", "embedding_neardup_lsh"}

# the stdout line is parsed from a 2,000-char tail window
STDOUT_LIMIT = 1800


def _probe_run(spark) -> float:
    """Fixed-work calibration probe, run before every headline
    repetition so each query's host-speed denominator is sampled next to
    it.  Never change the workload: calibrated ratios compare across
    sessions only while it stays fixed."""
    from pyspark.sql import functions as F

    t0 = time.time()
    (
        spark.range(0, 5_000_000, 1, 32)
        .select(
            (F.col("id") % 1000).alias("k"),
            (F.pmod(F.xxhash64("id"), F.lit(1_000_000))).alias("h"),
        )
        .groupBy("k")
        .agg(F.sum("h").alias("s"), F.count("*").alias("c"))
        .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    return time.time() - t0


def _winnow_neardup(spark, sf_dir):
    # not in the 50-slot driver registry (its oracle evidence is absorbed
    # into doc_adjacent_stats); benched directly so the newest dedup
    # modality has a tracked perf number.  df_cap=100 (2% of the sf0.1
    # corpus): 8-char shingles are common English, so corpus-level pair
    # search MUST drop high-df fingerprints or the inverted index goes
    # quadratic on boilerplate (measured: df_cap=100k → 10.7M junk pairs
    # in 66s; df_cap=100 → 506 true partial-overlap pairs in 3s)
    from psy_supabase_spark.operators import winnow
    from psy_supabase_spark.sources.catalog import load_table

    return winnow.winnow_neardup_pairs(
        load_table(spark, sf_dir, "documents"), 5, df_cap=100
    )


def _semdedup_pairs(spark, sf_dir):
    # SemDeDup pair stage over the embeddings table: seeded k-means fit +
    # one GEMM assignment pass + within-cluster GEMM pair search.  eps
    # 0.5 (the corpus is uniform-random — its worst case, like IVF).
    # n_clusters=None exercises the self-tuning default the scale step
    # relies on; the chosen k is echoed in the sidecar.
    from psy_supabase_spark.operators import semdedup
    from psy_supabase_spark.sources.catalog import load_table

    return semdedup.semdedup_pairs(
        load_table(spark, sf_dir, "embeddings"), 0.5, n_clusters=None
    )


def _lm_score(spark, sf_dir):
    # CCNet LM stage end-to-end: train the bigram Stupid-Backoff model on
    # the corpus (two count shuffles) and score every doc (bounded model
    # -> broadcast probes)
    from psy_supabase_spark.operators import lm
    from psy_supabase_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    model = lm.train_bigram_lm(docs, vocab_cap=1_000_000, bigram_cap=10_000_000)
    return lm.score_documents(docs, model)


def _exact_substr(spark, sf_dir):
    # ExactSubstr excision end-to-end (window rows -> dup grams -> merge
    # -> rebuild) at L=20: the synthetic corpus has little true span
    # duplication, so this prices the machinery, not the removals
    from psy_supabase_spark.operators import substr
    from psy_supabase_spark.sources.catalog import load_table

    return substr.excise_duplicate_spans(
        load_table(spark, sf_dir, "documents"), 20
    )


LOCAL_QUERIES = {
    "winnow_neardup": _winnow_neardup,
    "semdedup_pairs": _semdedup_pairs,
    "lm_score": _lm_score,
    "exact_substr": _exact_substr,
}

# lists come from the engine's self-tuning rule (ivf.default_n_lists ≈
# √N with a size floor), so the headline exercises the rule rather than
# a pinned table; nprobe sweeps cheapest-first and the first config with
# recall@10 >= 0.9 wins.  Uniform-random vectors are IVF's worst case —
# real embedding corpora cluster far better, so this is a lower bound.
NPROBE_SWEEP = [4, 6, 8, 12, 16, 24, 32, 48]
IVF_RECALL_TARGET = 0.9


def _run(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _ivf_section(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, object]]:
    from pyspark.sql import functions as F

    from psy_supabase_spark.operators import ivf, topk
    from psy_supabase_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = list(emb.where(F.col("vec_id") == 0).select("embedding").head()[0])
    exact_ids = [r.vec_id for r in topk.topk_similarity(emb, qvec, k=10).collect()]

    lists = ivf.default_n_lists(emb.count(), len(qvec))
    index = ivf.build_ivf_cached(emb, f"{sf_dir}/embeddings", n_lists=lists)
    nprobe, chosen_recall, best = None, -1.0, None
    for np_try in NPROBE_SWEEP:
        ids = [r.vec_id for r in ivf.ivf_search(index, qvec, k=10, nprobe=np_try).collect()]
        recall = ivf.recall_at_k(exact_ids, ids, 10)
        if best is None or recall > best[1]:
            best = (np_try, recall)
        if recall >= IVF_RECALL_TARGET:
            nprobe, chosen_recall = np_try, recall
            break
    if nprobe is None:  # fall back to the best-observed config
        nprobe, chosen_recall = best

    layout_dir = tempfile.mkdtemp(prefix="ivf_bench_")
    try:
        # amortized build: fit + assign + persist the partition-pruned layout
        layout = os.path.join(layout_dir, "layout")
        t0 = time.time()
        index = ivf.build_ivf(emb, n_lists=lists)
        ivf.write_ivf_layout(index, layout)
        build_sec = round(time.time() - t0, 3)

        # timed search only: file-level partition pruning on the layout
        t0 = time.time()
        _run(ivf.search_layout(spark, layout, index.centers, qvec, k=5, nprobe=nprobe))
        search_sec = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(layout_dir, ignore_errors=True)

    extra = {
        "ivf_build_sec": build_sec,
        "ivf_lists": lists,
        "ivf_lists_rule": "default_n_lists(auto)",
        "ivf_nprobe": nprobe,
        "ivf_recall_at_10": chosen_recall,
    }
    return {"ann_ivf_search": search_sec}, extra


def stdout_line(timings: dict[str, float], calibrated: dict[str, float], sf: float) -> str:
    """The one JSON line printed to stdout.  Raises RuntimeError (not
    assert, so it survives ``python -O``) when the line would outgrow the
    2,000-char tail window it is parsed from: evidence loss must be a
    loud bench failure."""
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "queries_calibrated": calibrated,
            "sf": sf,
            "extra_file": "BENCH_EXTRA.json",
        }
    )
    if len(line) >= STDOUT_LIMIT:
        raise RuntimeError(
            f"stdout bench line is {len(line)} chars — it is parsed from a "
            "2,000-char tail window; move new keys into the BENCH_EXTRA.json sidecar"
        )
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = get_spark("bench")

    # warm the JVM + parquet footers once so timings measure the queries
    from psy_supabase_spark.sources.catalog import load_table

    for t in ("lineitem", "events", "documents", "embeddings"):
        load_table(spark, sf_dir, t).count()

    _probe_run(spark)  # untimed: the first probe pays its JIT
    timings: dict[str, float] = {}
    calibrated: dict[str, float] = {}
    probe_meds: dict[str, float] = {}
    for name in BENCH_QUERIES:
        base_reps = 3 if name in NOISY_QUERIES else 2
        secs: list[float] = []
        probes: list[float] = []
        while len(secs) < base_reps or (min(secs) < 1.0 and len(secs) < 5):
            probes.append(_probe_run(spark))
            t0 = time.time()
            _run((QUERIES.get(name) or LOCAL_QUERIES[name])(spark, sf_dir))
            secs.append(time.time() - t0)
        timings[name] = round(min(secs), 3)
        calibrated[name] = round(statistics.median(s / p for s, p in zip(secs, probes)), 2)
        probe_meds[name] = round(statistics.median(probes), 3)

    ivf_timings, ivf_extra = _ivf_section(spark, sf_dir)
    timings.update(ivf_timings)

    from psy_supabase_spark.operators import semdedup

    extra = {
        "schema_version": 5,
        "probe_def": "range5M-hash-2agg noop, interleaved before every rep",
        "query_probe_secs": probe_meds,
        "queries_calibrated": calibrated,
        "semdedup_auto_n_clusters": semdedup.default_n_clusters(
            load_table(spark, sf_dir, "embeddings").count()
        ),
        **ivf_extra,
    }

    line = stdout_line(timings, calibrated, sf)
    extra_file = Path(__file__).resolve().parent / "BENCH_EXTRA.json"
    with open(extra_file, "w") as f:
        json.dump({**json.loads(line), "extra": extra}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(line)


if __name__ == "__main__":
    main()
