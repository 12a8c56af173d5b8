"""Plan-shape proofs for the round-6 gate operators: the SSRF gate
and intent router must stay single-stage projections — one Arrow UDF,
no Exchange — because at 10^12 frontier URLs any shuffle in a
per-row filter is pure waste (executable plan quality, not prose
claims)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from webpeel_spark.session import get_spark

    s = get_spark(cores=4)
    s.sparkContext.setLogLevel("ERROR")
    return s


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ssrf_gate_is_shuffle_free(spark):
    from tests.plan_tools import plan_has_exchange
    from webpeel_spark.operators.safety import ssrf_gate

    df = spark.createDataFrame(
        [(f"https://h{i}.example.com/x",) for i in range(64)],
        "url string")
    gated = ssrf_gate(df)
    assert not plan_has_exchange(gated), _plan(gated)
    # and it is one python-eval stage, not one per derived column
    assert _plan(gated).count("ArrowEvalPython") == 1, _plan(gated)


def test_route_intents_is_shuffle_free(spark):
    from tests.plan_tools import plan_has_exchange
    from webpeel_spark.operators.intent import route_intents

    df = spark.createDataFrame(
        [(f"read https://h{i}.example.com",) for i in range(64)],
        "task string")
    routed = route_intents(df)
    assert not plan_has_exchange(routed), _plan(routed)
    assert _plan(routed).count("ArrowEvalPython") == 1, _plan(routed)


def test_url_safety_feed_join_broadcasts(spark):
    from webpeel_spark.operators.safety import url_safety

    corpus = spark.createDataFrame(
        [(f"https://h{i}.example.com/x",) for i in range(64)],
        "url string")
    feeds = spark.createDataFrame(
        [("https://h1.example.com/x", "PHISHING", "openphish")],
        "url string, threat string, source string")
    plan = _plan(url_safety(corpus, feeds=feeds))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan, plan
