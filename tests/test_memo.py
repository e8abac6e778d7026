"""``functions.memo.per_gateway``: the chat-path Column trees are built once
per py4j gateway, rebuilt for a new gateway, and give the same rows as the
inline spellings whatever the source column is called."""

from __future__ import annotations

import gc
import threading

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from psy_supabase_spark.api import PsyEngine
from psy_supabase_spark.functions import ner
from psy_supabase_spark.functions import response_clean as RC
from psy_supabase_spark.functions.memo import per_gateway
from psy_supabase_spark.sources.local import local_frame


def test_builder_reruns_for_a_new_gateway(monkeypatch):
    """No Spark: the memo keys on the column names and on the gateway
    object, so a relaunched JVM gets freshly built trees."""
    calls = []

    @per_gateway
    def build(a: str, b: str):
        calls.append((a, b))
        return object()

    first_gateway, second_gateway = object(), object()
    monkeypatch.setattr(SparkContext, "_gateway", first_gateway)
    tree = build("x", "y")
    assert build("x", "y") is tree
    assert calls == [("x", "y")]
    other = build("x", "z")
    assert other is not tree and calls == [("x", "y"), ("x", "z")]

    monkeypatch.setattr(SparkContext, "_gateway", second_gateway)
    rebuilt = build("x", "y")
    assert rebuilt is not tree
    assert calls == [("x", "y"), ("x", "z"), ("x", "y")]
    assert build("x", "y") is rebuilt


@pytest.fixture()
def round_trips(spark):
    """``sent[0]`` counts the py4j commands the test's own thread sends;
    other threads of the session (callbacks of earlier tests) share the
    client and are left out."""
    client = SparkContext._gateway._gateway_client
    original = client.send_command
    sent = [0]
    test_thread = threading.get_ident()

    def counting(*args, **kwargs):
        if threading.get_ident() == test_thread:
            sent[0] += 1
        return original(*args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        client.send_command = original


@pytest.mark.parametrize("step", ["determine_topic", "classify_safety", "effectiveness"])
def test_warm_chat_step_builds_no_column_tree(spark, tmp_path, round_trips, step):
    """A warm build and collect of each chat-path step sends under 150
    py4j commands: 20, 9 and 38 measured, against 1,600-2,000, 250-520
    and 1,800-2,700 when every call rebuilt its trees."""
    eng = PsyEngine(spark, str(tmp_path / "wh"))
    q = local_frame(spark, [("I feel anxious and panic about my partner",)], "question string")
    a = local_frame(
        spark,
        [("how do i cope?", "You matter. You matter. Rest well tonight, friend?", "Question")],
        "question string, answer string, template string",
    )
    run = {
        "determine_topic": lambda: eng.determine_topic(q).collect(),
        "classify_safety": lambda: eng.classify_safety(q).collect(),
        "effectiveness": lambda: eng.analyze_response_effectiveness(
            eng.clean_responses(a, "answer"), answer_col="cleaned_response"
        ).collect(),
    }[step]
    expected = run()
    # release earlier tests' dropped proxies now, and let no collection
    # release them inside the counted call
    gc.collect()
    gc.disable()
    try:
        round_trips[0] = 0
        again = run()
        sent = round_trips[0]
    finally:
        gc.enable()
    assert again == expected
    assert sent < 150, sent


def test_memoized_builders_match_the_inline_spellings(spark):
    """Two frames whose source columns have different names: the staged,
    memoized spellings give the rows of ``ner.best_topic_boosted`` and
    ``response_clean.clean_response`` on each."""
    texts = [
        (1, "I feel anxious and panic about my Partner and the breakup"),
        (2, "You matter. You matter. Rest well tonight friend."),
        (3, "ok"),
        (4, "THERAPIST: I hear how heavy this grief feels right now.\nUser: thanks"),
        (5, None),
    ]
    for col in ("text", "answer_body"):
        df = local_frame(spark, texts, f"i int, {col} string")
        topic, score = ner.best_topic_boosted(F.col(col))
        inline = df.select("i", topic.alias("t"), score.alias("s"), RC.clean_response(col).alias("c"))
        staged = RC.apply_clean_response(
            ner.with_boosted_topic(df, col, topic_col="t", score_col="s"), col, "c"
        ).select("i", "t", "s", "c")
        assert staged.orderBy("i").collect() == inline.orderBy("i").collect()
