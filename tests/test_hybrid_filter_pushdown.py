"""P2 hybrid-filter pushdown across EVERY leaf family (ADVICE r3):
a hybrid-level filter must restrict each sub-query's results — the
reference pushes the filter into all sub-queries
(`query/HybridQueryBuilder.java:117-128`). Round 3 left the span /
intervals / parent-child / match_bool_prefix / combined_fields /
terms_lookup / sloppy-phrase / nested-bool legs unfiltered; terms_set,
ids and radial neural later leaked the same way. `LEGS` holds one leg
per leaf type `Engine._compile_sub` dispatches on, and an AST guard
keeps it that way."""

from __future__ import annotations

import ast
import inspect
import textwrap

import pytest
from pyspark.sql import functions as F

from neural_search_spark.operators import rerank as RR
from neural_search_spark.plans.compiler import Engine

FILTER = "lang = 'en'"


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, sf_dir)


@pytest.fixture(scope="module")
def allowed(engine):
    return {
        r["doc_id"]
        for r in engine.documents().where(FILTER).select("doc_id").collect()
    }


def _hybrid_ids(engine, leg, size=20):
    out = engine.search(
        {"hybrid": {"queries": [leg], "filter": FILTER}}, size=size
    )
    return [r["doc_id"] for r in out.collect()]


LEGS = [
    pytest.param({"neural": {"query_text": "spark join"}}, id="neural"),
    pytest.param(
        {"neural": {"query_text": "spark join", "method": {"name": "ivf"}}},
        id="neural_ivf",
    ),
    pytest.param(
        {"neural": {"query_text": "spark join", "rescore": {"oversample": 2.0}}},
        id="neural_rescore",
    ),
    pytest.param(
        {"neural": {"query_text": "spark join", "max_distance": 100.0}},
        id="neural_max_distance",
    ),
    pytest.param({"neural_sparse": {"query_text": "spark join"}}, id="neural_sparse"),
    pytest.param(
        {"neural_sparse": {"query_text": "spark join", "two_phase": True}},
        id="neural_sparse_two_phase",
    ),
    pytest.param(
        {"neural_sparse": {"query_text": "spark join", "method": {"name": "seismic"}}},
        id="neural_sparse_seismic",
    ),
    pytest.param(
        {"neural_sparse": {"query_text": "spark join", "nested": True}},
        id="neural_sparse_nested",
    ),
    pytest.param({"match": {"field": "text", "query": "spark join"}}, id="match"),
    pytest.param(
        {"multi_match": {"query": "spark join", "fields": ["text"]}}, id="multi_match"
    ),
    pytest.param({"match_phrase": {"query": "join window"}}, id="match_phrase"),
    pytest.param(
        {"match_phrase_prefix": {"query": "join win"}}, id="match_phrase_prefix"
    ),
    pytest.param({"fuzzy": {"value": "spak"}}, id="fuzzy"),
    pytest.param(
        {"more_like_this": {"like": "spark join window merge"}}, id="more_like_this"
    ),
    pytest.param(
        {"terms_set": {"terms": ["spark", "join"], "minimum_should_match": 1}},
        id="terms_set",
    ),
    pytest.param({"ids": {"values": list(range(40))}}, id="ids"),
    # doc 84 (en) shares n_chars = 78 with docs of other languages
    pytest.param(
        {"terms_lookup": {"field": "n_chars", "id": 84, "path": "n_chars"}},
        id="terms_lookup",
    ),
    pytest.param(
        {"rank_feature": {"field": "n_chars", "saturation": {"pivot": 100.0}}},
        id="rank_feature",
    ),
    pytest.param(
        {"distance_feature": {"field": "n_chars", "origin": 500, "pivot": 100}},
        id="distance_feature",
    ),
    pytest.param(
        {"constant_score": {"filter": {"range": {"n_chars": {"gte": 300}}}}},
        id="constant_score",
    ),
    pytest.param({"term": {"source": "src6"}}, id="term"),
    pytest.param({"terms": {"source": ["src6", "src7"]}}, id="terms"),
    pytest.param({"range": {"n_chars": {"gte": 300}}}, id="range"),
    pytest.param({"exists": {"field": "source"}}, id="exists"),
    pytest.param({"wildcard": {"field": "text", "value": "*spark*"}}, id="wildcard"),
    pytest.param({"prefix": {"field": "text", "value": "spark"}}, id="prefix"),
    pytest.param({"regexp": {"field": "source", "value": "^src1"}}, id="regexp"),
    pytest.param({"match_all": {}}, id="match_all"),
    pytest.param({"parent_id": {"id": 7}}, id="parent_id"),
    pytest.param({"span_or": {"terms": ["spark", "merge"]}}, id="span_or"),
    pytest.param({"span_first": {"term": "spark", "end": 12}}, id="span_first"),
    pytest.param(
        {"span_not": {"include": "join", "exclude": "window", "pre": 1, "post": 1}},
        id="span_not",
    ),
    pytest.param(
        {"span_near": {"terms": ["join", "window"], "slop": 4, "in_order": False}},
        id="span_near",
    ),
    pytest.param(
        {
            "span_containing": {
                "big": {"terms": ["join", "window"], "slop": 6},
                "little": "the",
            }
        },
        id="span_containing",
    ),
    pytest.param(
        {
            "span_within": {
                "big": {"terms": ["join", "window"], "slop": 6},
                "little": "the",
            }
        },
        id="span_within",
    ),
    pytest.param(
        {"intervals": {"terms": ["join", "window"], "max_gaps": 6}},
        id="intervals",
    ),
    pytest.param(
        {"match_phrase": {"query": "join window", "slop": 3}},
        id="match_phrase_sloppy",
    ),
    pytest.param(
        {"match_bool_prefix": {"query": "join wind"}}, id="match_bool_prefix"
    ),
    pytest.param(
        {"combined_fields": {"fields": ["text^1.0"], "query": "spark join"}},
        id="combined_fields",
    ),
    pytest.param(
        {"has_child": {"query": {"match": {"query": "spark join"}}}},
        id="has_child",
    ),
    pytest.param(
        {
            "bool": {
                "must": [{"match": {"field": "text", "query": "spark join"}}],
            }
        },
        id="nested_bool",
    ),
]


@pytest.mark.parametrize("leg", LEGS)
def test_hybrid_filter_restricts_leg(engine, allowed, leg):
    ids = _hybrid_ids(engine, leg)
    assert ids, "leg returned no rows — test term choice is broken"
    assert set(ids) <= allowed


# leaf types with no `LEGS` id of their own: `bool` is the nested_bool
# leg, has_parent returns child rows and has its own test below, and
# match_none matches nothing, so it cannot show a filter
LEG_EXEMPT = {"bool", "has_parent", "match_none"}


def _compile_sub_qtypes() -> set[str]:
    """Every string literal `_compile_sub` compares `qtype` against."""
    tree = ast.parse(textwrap.dedent(inspect.getsource(Engine._compile_sub)))
    found: set[str] = set()
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Compare) and isinstance(node.left, ast.Name)):
            continue
        if node.left.id != "qtype":
            continue
        for comp in node.comparators:
            elts = comp.elts if isinstance(comp, ast.Tuple) else [comp]
            found |= {e.value for e in elts if isinstance(e, ast.Constant)}
    return found


def test_legs_cover_every_compile_sub_leaf():
    leg_ids = {p.id for p in LEGS}
    qtypes = _compile_sub_qtypes()
    assert {"neural", "ids", "terms_set", "match_all"} <= qtypes  # guard sanity
    assert qtypes - LEG_EXEMPT <= leg_ids, sorted(qtypes - LEG_EXEMPT - leg_ids)


def test_radial_neural_honours_own_filter(engine, allowed):
    """A radial (max_distance) neural query applies its own `filter`
    before the threshold, without any hybrid filter."""
    leg = {"neural": {"query_text": "spark join", "max_distance": 100.0, "k": 50}}
    everything = [r["doc_id"] for r in engine.search(leg, size=50).collect()]
    assert set(everything) - allowed, "radius too small to show the filter"
    leg["neural"]["filter"] = FILTER
    ids = [r["doc_id"] for r in engine.search(leg, size=50).collect()]
    assert ids and set(ids) <= allowed


def test_function_score_mmr_reranks_candidate_pool(engine):
    """function_score keeps the MMR candidate pool (not just `size`
    rows) for the MMR stage: the result is `mmr_diversify` over the
    query's top `candidates`."""
    fs = {
        "function_score": {
            "query": {"match": {"field": "text", "query": "spark join"}},
            "functions": [
                {"field_value_factor": {"field": "n_chars", "modifier": "log1p"}}
            ],
            "window": 100,
        }
    }
    pool = engine.search(fs, size=30)
    want = RR.mmr_diversify(pool, engine.corpus(), k=5, lambda_=0.3)
    got = engine.search(
        fs, pipeline={"mmr": {"candidates": 30, "lambda": 0.3}}, size=5
    )
    assert [r["doc_id"] for r in got.collect()] == want


def test_hybrid_filter_has_parent_restricts_parents(engine, allowed):
    # has_parent returns CHILD rows keyed by the parent doc_id — the
    # hybrid filter (a parent-attribute predicate) must drop children
    # of excluded parents
    out = engine.search(
        {
            "hybrid": {
                "queries": [
                    {"has_parent": {"query": {"match": {"query": "spark join"}}}}
                ],
                "filter": FILTER,
            }
        },
        size=20,
    )
    ids = [r["doc_id"] for r in out.collect()]
    assert ids and set(ids) <= allowed


def test_filtered_leg_ranks_from_filtered_corpus(engine, allowed):
    """The filter must apply BEFORE top-k (docs outside the filter must
    not occupy result slots): the filtered hybrid's span_or leg equals
    the span_or ranking computed over candidate-filtered postings."""
    from neural_search_spark.operators import bm25 as B

    cand = engine.documents().where(FILTER).select("doc_id")
    direct = B.span_or_topk(
        engine.positional_index(),
        engine.bm25_index(),
        ["spark", "merge"],
        k=20,
        candidate_ids=cand,
    )
    via_hybrid = _hybrid_ids(engine, {"span_or": {"terms": ["spark", "merge"]}})
    assert via_hybrid == [r["doc_id"] for r in direct.collect()]


def test_match_phrase_slop_single_term_degenerates(engine):
    # OpenSearch accepts a single-term sloppy phrase (degenerates to a
    # term match); round-3 raised ValueError through intervals_topk
    out = engine.search({"match_phrase": {"query": "spark", "slop": 2}})
    term = engine.search({"match": {"field": "text", "query": "spark"}})
    assert [r["doc_id"] for r in out.collect()] == [
        r["doc_id"] for r in term.collect()
    ]


def test_rescore_match_phrase_honors_slop(engine):
    """rescore with a sloppy match_phrase must use the intervals path
    (slop-0 phrase scores differ): docs where the pair only co-occurs
    non-adjacently get rescore credit under slop>0 but not slop=0."""
    base = {"match": {"field": "text", "query": "join"}}
    r0 = engine.rescore(
        base, {"match_phrase": {"query": "join window"}}, window_size=50
    )
    r3 = engine.rescore(
        base,
        {"match_phrase": {"query": "join window", "slop": 6}},
        window_size=50,
    )
    s0 = {r["doc_id"]: r["score"] for r in r0.collect()}
    s3 = {r["doc_id"]: r["score"] for r in r3.collect()}
    assert s0 != s3  # the sloppy variant must actually change scores


def test_nested_agg_scopes_to_query_matches(engine):
    """ADVICE r3: a nested agg under a query context must aggregate
    only children of the matching parents, not the whole child
    corpus."""
    scoped_parents = engine.documents().where("lang = 'fr'")
    out = engine._compile_agg(
        scoped_parents,
        {
            "nested": {"path": "chunks"},
            "aggs": {
                "c": {"value_count": {"field": "child_id"}}
            },
        },
    )
    n_scoped = out.collect()[0][0]
    n_all = engine.chunks().count()
    expected = (
        engine.chunks()
        .join(scoped_parents.select("doc_id"), "doc_id", "semi")
        .count()
    )
    assert n_scoped == expected
    assert n_scoped < n_all


def test_child_id_no_int_overflow(engine):
    # doc_id is cast to long before the CHILD_ID_BASE multiply: every
    # child_id must recover its parent exactly
    bad = (
        engine.chunks()
        .where(
            F.floor(F.col("child_id") / F.lit(100000)).cast("long")
            != F.col("doc_id").cast("long")
        )
        .count()
    )
    assert bad == 0


def test_request_cache_evicts_lru(spark, sf_dir):
    import neural_search_spark.plans.compiler as C

    eng = Engine(spark, sf_dir)
    old_cap = C.REQUEST_CACHE_CAP
    C.REQUEST_CACHE_CAP = 2
    try:
        q = lambda t: {"match": {"field": "text", "query": t}}  # noqa: E731
        eng.cached_search(q("spark"))
        eng.cached_search(q("join"))
        eng.cached_search(q("window"))  # evicts "spark"
        assert len(eng._request_cache) == 2
        eng.cached_search(q("join"))  # hit
        stats = eng.request_cache_stats()
        assert stats["hits"] == 1 and stats["misses"] == 3
        eng.clear_caches()
        assert len(eng._request_cache) == 0
    finally:
        C.REQUEST_CACHE_CAP = old_cap
