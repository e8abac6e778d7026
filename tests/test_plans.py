"""Physical-plan regression tests: the properties that make these
operators scale (pushdown, top-k heaps, broadcast strategies, no
accidental cartesian products) must survive refactors."""

from __future__ import annotations

import pytest

from psy_supabase_spark.plans import assert_plan_contains
from psy_supabase_spark.plans.explain import assert_plan_lacks, physical_plan
from psy_supabase_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "name,fragments",
    [
        ("pricing_summary", ["PushedFilters: [IsNotNull(l_shipdate)", "partial_sum"]),
        ("vector_topk_similarity", ["TakeOrderedAndProject"]),
        ("vector_topk_distance", ["TakeOrderedAndProject"]),
        ("json_filter_recency_topk", ["TakeOrderedAndProject"]),
        ("top_orders_by_revenue", ["TakeOrderedAndProject"]),
        ("revenue_by_nation", ["BroadcastHashJoin"]),
        ("customers_without_orders", ["BroadcastHashJoin", "LeftAnti"]),
        ("orders_with_discounted_items", ["LeftSemi", "PushedFilters: [IsNotNull(l_discount)"]),
    ],
)
def test_plan_shape(spark, name, fragments):
    assert_plan_contains(QUERIES[name](spark, SF), *fragments)


def test_topk_never_global_sorts(spark):
    # top-k must be a per-partition heap, not Sort + GlobalLimit
    df = QUERIES["vector_topk_similarity"](spark, SF)
    assert_plan_lacks(df, "GlobalLimit")


def test_response_clean_is_shuffle_free(spark):
    # the 10-pass cleaning pipeline is a pure staged projection over a
    # union — a hash/range Exchange would mean an accidental repartition
    # crept in.  The r14 spread_for_compute RoundRobin repartition is the
    # ONE deliberate exception (scale-adaptive parallelism for the
    # single-row-group local inputs; no-op when the scan is already wide),
    # so the assertion pins "no keyed shuffle" rather than "no Exchange".
    plan = physical_plan(QUERIES["response_clean"](spark, SF))
    keyed = [
        line.strip()[:120]
        for line in plan.splitlines()
        if "Exchange" in line and "RoundRobinPartitioning" not in line
    ]
    assert not keyed, f"accidental keyed Exchange: {keyed}"


def test_topic_classify_is_map_side(spark):
    # the registered query (compile-time taxonomy) must be join- and
    # shuffle-free: per-topic scores are codegen'd expressions
    assert_plan_lacks(QUERIES["topic_classify_argmax"](spark, SF), "Exchange")


def test_topic_classify_join_twin_plan_and_rows(spark):
    # the data-taxonomy twin keeps the broadcast theta-join shape and
    # produces identical rows
    from psy_supabase_spark.operators import textanalysis
    from psy_supabase_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents")
    joined = textanalysis.classify_topics(docs, textanalysis.taxonomy_table(spark))
    assert_plan_contains(joined, "BroadcastNestedLoopJoin")
    native = textanalysis.classify_topics_native(docs)
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, native.collect()))


def test_scan_prunes_columns(spark):
    # 2-column projection must not read all 11 lineitem columns
    df = QUERIES["top_orders_by_revenue"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_knn_join_topk_is_two_phase(spark):
    # the scored relation must hit a salted partial top-k before the final
    # per-query rank: two Window nodes, and the first shuffle over the
    # scored relation partitions by (query_id, salt) — never query_id alone
    # (|queries| reducers each sorting ~|corpus| rows).
    df = QUERIES["knn_join_multi"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2
    assert "_salt" in plan.split("Window")[-1]  # innermost window is salted


def test_lsh_paths_have_no_cartesian(spark):
    for name in ("dedup_minhash_lsh", "simhash_neardup", "embedding_neardup_lsh", "dedup_ngram_jaccard"):
        assert_plan_lacks(QUERIES[name](spark, SF), "CartesianProduct")


def test_gram_rows_single_exchange(spark):
    """Trigram generation must stay map-side: the only Exchange allowed is
    the final distinct.  (The windowed formulation shuffled the entire
    exploded token stream — corpus-sized at 100 TB.)"""
    from psy_supabase_spark.operators.dedup import gram_rows
    from psy_supabase_spark.sources.catalog import load_table

    plan = (
        gram_rows(load_table(spark, SF, "documents"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "Window" not in plan


def test_valved_lsh_reuses_band_exchange(spark):
    # the counted_buckets window must ride the same (band, key) exchange the
    # candidate self-join needs: one shuffle subtree, reused on the other
    # join side — not a second aggregate branch
    from psy_supabase_spark.operators import dedup
    from psy_supabase_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents")
    # disable hot-id detection so the plan under inspection is the pure
    # valve + join shape (detection adds its own narrow branch)
    valved = dedup.minhash_lsh_pairs(docs, 0.5, hot_id_threshold=None)
    plan = physical_plan(valved)
    # the valve must be a Window over the join's own (band, key)
    # partitioning — NOT a groupBy(band, key) aggregate branch feeding a
    # semi-join (that spelling costs a second shuffle subtree)
    assert "windowspecdefinition(band" in plan
    assert "HashAggregate(keys=[band" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("route", ["broadcast", "join"])
def test_srp_neardup_signs_the_corpus_once(spark, route):
    """Once AQE has settled the plan, srp_neardup_pairs evaluates the SRP
    signature UDF ONCE on either verify route: the candidate self-join
    reads the valve window's exchange as a ReusedExchange.
    AdaptiveSparkPlan also prints the initial plan, where the two join
    sides still carry a signature each, so count the final section only.
    (The join route's hot-id estimate is a separate job, which recomputes
    the signature by design.)"""
    from psy_supabase_spark.operators import lsh
    from psy_supabase_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    df = lsh.srp_neardup_pairs(emb, 0.5, verify_route=route)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    sig_evals = [ln for ln in final.splitlines() if "ArrowEvalPython [_sig(" in ln]
    assert len(sig_evals) == 1, final
    assert "ReusedExchange" in final


def test_registry_is_exactly_fifty_and_fully_oracled():
    """The driver records exactly the first 50 registrations (round-1
    behavior pinned in registry.py) — a 51st would be silently dropped
    and an unregistered oracle would weaken a slot to rows-only."""
    from psy_supabase_spark.registry import ORACLES, QUERIES

    assert len(QUERIES) == 50
    assert set(ORACLES) == set(QUERIES)
