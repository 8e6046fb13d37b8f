"""Plan once per session: a repeat with_heuristics builds no new UDF, a
repeat run_pipeline no new broadcasts; a changed model replaces its
broadcast (destroying the old one) and is never served stale."""

from __future__ import annotations

from conftest import gen_pages_local
from pyspark import SparkContext
from pyspark.broadcast import Broadcast
from pyspark.sql import functions as F

from ispaq_spark.pipeline import run_pipeline
from ispaq_spark.reference_impl import extract_text, perplexity, train_lm
from ispaq_spark.synthesize import lm_corpus


def _count_calls(monkeypatch, owner, name):
    calls = []
    real = getattr(owner, name)

    def counting(*args):
        out = real(*args)
        calls.append(out)
        return out

    monkeypatch.setattr(owner, name, counting)
    return calls


def test_second_run_builds_no_heuristic_expressions(spark, monkeypatch):
    """with_heuristics (the driver entry's metrics) builds its pandas UDF
    once per session, whatever the text column."""
    from ispaq_spark import session
    from ispaq_spark.functions.heuristics import with_heuristics

    monkeypatch.setattr(session, "_state", None)  # a session that built none
    built = _count_calls(monkeypatch, F, "pandas_udf")
    df = spark.createDataFrame([("the cat and a dog",)], "body string")
    with_heuristics(df, "body")
    assert len(built) == 1
    row = with_heuristics(df, "body").first()
    assert row["word_count"] == 5 and row["stopword_lang"] == "en"
    assert with_heuristics(df.withColumnRenamed("body", "t"), "t").first()[
        "max_word_len"
    ] == 3
    assert len(built) == 1


def test_same_models_broadcast_once(spark, fixture_pages, model, monkeypatch):
    run_pipeline(spark, fixture_pages, "default", model)
    made = _count_calls(monkeypatch, SparkContext, "broadcast")
    for _ in range(3):
        run_pipeline(spark, fixture_pages, "default", model)
    assert made == []


def test_changed_model_replaces_its_broadcast(
    spark, fixture_pages, model, monkeypatch
):
    small = train_lm(list(lm_corpus(50)))
    run_pipeline(spark, fixture_pages, "default", model)
    made = _count_calls(monkeypatch, SparkContext, "broadcast")
    destroyed = []
    real_destroy = Broadcast.destroy

    def destroy(self, blocking=False):
        destroyed.append(self)
        return real_destroy(self, blocking)

    monkeypatch.setattr(Broadcast, "destroy", destroy)
    run_pipeline(spark, fixture_pages, "default", small)
    assert len(made) == 1 and made[0].value == small
    assert len(destroyed) == 1 and destroyed[0] is not made[0]


def test_switching_lm_changes_perplexity(spark, fixture_pages, model):
    small = train_lm(list(lm_corpus(50)))

    def scores(lm):
        out = run_pipeline(spark, fixture_pages, "default", lm)
        return {r["url"]: r["perplexity"] for r in out.collect()}

    first, switched, back = scores(model), scores(small), scores(model)
    assert switched != first
    assert back == first
    for p in gen_pages_local(40):
        text = extract_text(p["html"])
        if text is not None:
            assert switched[p["url"]] == perplexity(text, small)
            assert first[p["url"]] == perplexity(text, model)


def test_session_state_is_per_context(monkeypatch):
    """State built under one SparkContext is never served under another:
    a restarted session starts empty."""
    from ispaq_spark import session

    monkeypatch.setattr(session, "_state", None)
    old_sc, new_sc = object(), object()
    assert session.session_memo(old_sc, "k", lambda: 1) == 1
    assert session.session_memo(old_sc, "k", lambda: 2) == 1
    assert session.session_memo(new_sc, "k", lambda: 3) == 3
    assert session.session_memo(old_sc, "k", lambda: 4) == 4
