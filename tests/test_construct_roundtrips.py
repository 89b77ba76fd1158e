"""Driver round trips per search request: building a request's
DataFrame is driver work, and each py4j `send_command` is one blocking
socket round trip to the JVM. Each request kind of the `search`
benchmark workload (perfbench/gen.py) gets a budget of about 1.5x the
calls it takes today, so a construction regression shows up here as a
count before it shows up as a slower run.

Measured at sf0.001 (warm engine, a second request of each kind):
neural (vector or text) 95, neural ivf 197, neural_sparse 119, match
79, hybrid 901, hybrid rrf 661. Before the scored-postings artifact
and the one-string BM25 term score and sparse weights: neural 92,
neural_sparse 412, match 549, hybrid 1368, hybrid rrf 1128. Before the
IVF cells artifact and the one-string cosine: neural 674, neural ivf
10255, hybrid 1950, hybrid rrf 1710."""

from __future__ import annotations

import pytest

from neural_search_spark import catalog
from neural_search_spark.plans.compiler import Engine

from .conftest import SF_SMOKE

BUDGETS = {
    "neural_vector": 140,
    "neural_text": 140,
    "neural_ivf": 300,
    "neural_sparse": 180,
    "match": 120,
    "hybrid": 1350,
    "hybrid_rrf": 990,
}


def _requests(spark, vec_id: int, text: str) -> dict:
    qv = catalog.query_vector(spark, SF_SMOKE, vec_id)
    hybrid = {"hybrid": {
        "queries": [
            {"neural": {"query_text": text, "k": 50}},
            {"match": {"field": "text", "query": text}},
        ],
        "pagination_depth": 50,
    }}
    ivf = {"name": "ivf", "ncells": 16, "nprobe": 4}
    return {
        "neural_vector": ({"neural": {"vector": qv, "k": 10}}, None),
        "neural_text": ({"neural": {"query_text": text, "k": 10}}, None),
        "neural_ivf": ({"neural": {"vector": qv, "k": 10, "method": ivf}}, None),
        "neural_sparse": ({"neural_sparse": {"field": "text", "query_text": text}}, None),
        "match": ({"match": {"field": "text", "query": text}}, None),
        "hybrid": (hybrid, {
            "normalization": {"technique": "min_max"},
            "combination": {"technique": "arithmetic_mean", "weights": [0.6, 0.4]},
        }),
        "hybrid_rrf": (hybrid, {
            "normalization": {"technique": "rrf"},
            "combination": {"technique": "rrf"},
        }),
    }


@pytest.fixture(scope="module")
def warm_engine(spark):
    """An engine that has built and run one request of every kind, so
    its artifacts exist and table schemas are read."""
    eng = Engine(spark, SF_SMOKE)
    for query, pipeline in _requests(spark, 3, "spark data scan").values():
        eng.search(query, pipeline, size=10).collect()
    return eng


def _calls(spark, build) -> int:
    """py4j commands sent while `build()` runs, leaving out object
    releases: those follow when Python frees earlier objects, not what
    this construction does."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    calls = 0

    def counting(command, *args, **kwargs):
        nonlocal calls
        calls += not command.startswith("m\nd\n")
        return real(command, *args, **kwargs)

    client.send_command = counting
    try:
        build()
    finally:
        del client.send_command
    return calls


@pytest.mark.parametrize("kind", sorted(BUDGETS))
def test_request_construction_round_trips(spark, warm_engine, kind):
    query, pipeline = _requests(spark, 42, "query vector join")[kind]
    calls = _calls(spark, lambda: warm_engine.search(query, pipeline, size=10))
    assert 0 < calls <= BUDGETS[kind], f"{kind}: {calls} py4j round trips"
