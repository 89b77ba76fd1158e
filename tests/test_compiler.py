"""Query compiler: DSL specs compile to the same results as direct
operator calls; pipeline stages chain correctly."""

from __future__ import annotations

import pytest

from neural_search_spark import catalog, registry
from neural_search_spark.plans.compiler import Engine, _agentic_translate


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, sf_dir)


def _ids(df):
    return [r["doc_id"] for r in df.collect()]


def test_neural_with_raw_vector_matches_r1(spark, sf_dir, engine):
    qv = catalog.query_vector(spark, sf_dir, registry.QUERY_VEC_ID)
    out = engine.search({"neural": {"vector": qv, "k": 10}})
    assert _ids(out) == _ids(registry.q_r1_dense(spark, sf_dir))


def test_neural_query_text_embeds_and_ranks(engine):
    out = engine.search({"neural": {"query_text": "spark join window"}})
    rows = out.collect()
    assert len(rows) == 10
    assert rows[0]["score"] >= rows[-1]["score"]


def test_neural_filter_pushdown(engine):
    out = engine.search(
        {"neural": {"query_text": "spark join", "filter": "lang = 'en' AND n_chars >= 200"}}
    )
    assert len(out.collect()) == 10
    # the filter must reach the scan: no disallowed rows can appear
    docs = {r["doc_id"] for r in engine.documents().where("n_chars >= 200").collect()}
    assert set(_ids(out)) <= docs


def test_sparse_and_match_compile(engine):
    sp = engine.search({"neural_sparse": {"query_text": "spark join window batch"}})
    assert len(sp.collect()) == 10
    m = engine.search({"match": {"field": "text", "query": "spark join"}})
    assert len(m.collect()) == 10


def test_hybrid_matches_registry_fusion(spark, sf_dir, engine):
    qv = catalog.query_vector(spark, sf_dir, registry.QUERY_VEC_ID)
    qt = registry._query_tokens_tf(spark, sf_dir)
    out = engine.search(
        {
            "hybrid": {
                "queries": [
                    {"neural": {"vector": qv}},
                    {"neural_sparse": {"query_tokens": qt}},
                ],
                "pagination_depth": registry.HYBRID_DEPTH,
            }
        },
        pipeline={
            "normalization": {"technique": "min_max"},
            "combination": {"technique": "arithmetic_mean", "weights": registry.HYBRID_WEIGHTS},
        },
    )
    assert _ids(out) == _ids(registry.q_r6_hybrid_minmax(spark, sf_dir))


def test_pipeline_rerank_and_highlight(engine):
    out = engine.search(
        {"hybrid": {"queries": [{"neural": {"query_text": "spark"}}, {"match": {"field": "text", "query": "spark join"}}]}},
        pipeline={
            "rerank": {"type": "by_field", "target_field": "n_chars"},
            "highlight": {"query_text": "spark join"},
        },
    )
    rows = out.collect()
    assert len(rows) == 10
    assert all("<em>" in r["highlighted"] for r in rows if "spark" in r["highlighted"] or "join" in r["highlighted"])


def test_collapse_via_pipeline(engine):
    out = engine.search(
        {"hybrid": {"queries": [{"neural": {"query_text": "spark"}}, {"neural_sparse": {"query_text": "spark join"}}], "pagination_depth": 50}},
        pipeline={"collapse": {"field": "source"}},
    )
    rows = out.collect()
    srcs = [r["source"] for r in rows]
    assert len(srcs) == len(set(srcs))


def test_agentic_translation_rules(engine):
    assert "neural" in _agentic_translate("find documents similar to spark streaming")
    assert "match" in _agentic_translate("exact keyword search for spark")
    assert "hybrid" in _agentic_translate("what about spark windows")
    out = engine.search({"agentic": {"query_text": "find rows similar to spark join"}})
    assert len(out.collect()) == 10


def test_agentic_golden_translations():
    """Golden outputs for the full rule table — the translator contract
    (`processor/AgenticQueryTranslatorProcessor.java:97-150`): NL in,
    exact DSL dict out, covering every target query type."""
    assert _agentic_translate("find documents similar to spark streaming") == {
        "neural": {"query_text": "find documents spark streaming"}
    }
    assert _agentic_translate("exact keyword search for spark") == {
        "match": {"field": "text", "query": "search spark"}
    }
    assert _agentic_translate("sparse expansion search for spark joins") == {
        "neural_sparse": {"query_text": "search spark joins"}
    }
    assert _agentic_translate("spark streaming without kafka") == {
        "bool": {
            "must": {"match": {"field": "text", "query": "spark streaming"}},
            "must_not": "text LIKE '%kafka%'",
        }
    }
    assert _agentic_translate("what about spark windows") == {
        "hybrid": {
            "queries": [
                {"neural": {"query_text": "what about spark windows"}},
                {"match": {"field": "text", "query": "what about spark windows"}},
            ]
        }
    }
    assert _agentic_translate("either spark streams or hash joins") == {
        "dis_max": {
            "queries": [
                {"match": {"field": "text", "query": "spark streams"}},
                {"match": {"field": "text", "query": "hash joins"}},
            ],
            "tie_breaker": 0.3,
        }
    }
    assert _agentic_translate("spark joins downrank kafka") == {
        "boosting": {
            "positive": {"match": {"field": "text", "query": "spark joins"}},
            "negative_boost": 0.5,
            "negative": "text LIKE '%kafka%'",
        }
    }
    assert _agentic_translate("autocomplete spark str") == {
        "match_phrase_prefix": {"field": "text", "query": "spark str"}
    }


def test_agentic_golden_bodies():
    """Golden FULL-BODY translations: search-body modifiers (size /
    pagination / collapse / fusion) compose with every core rule —
    the reference agent rewrites the whole SearchSourceBuilder
    (`processor/AgenticQueryTranslatorProcessor.java:97-150`), so the
    translator contract covers body keys, not just the query clause."""
    hybrid_joins = {"hybrid": {"queries": [
        {"neural": {"query_text": "spark joins"}},
        {"match": {"field": "text", "query": "spark joins"}},
    ]}}
    # size modifier over the default-hybrid core
    assert _agentic_translate("top 5 spark joins") == {
        "size": 5, "query": hybrid_joins,
    }
    # pagination: one page deep (= requested or default size)
    assert _agentic_translate("second page of spark joins") == {
        "from": 10, "query": hybrid_joins,
    }
    assert _agentic_translate("top 3 next page spark joins") == {
        "size": 3, "from": 3, "query": hybrid_joins,
    }
    # collapse composes with size
    assert _agentic_translate("top 5 spark joins one per source") == {
        "size": 5,
        "pipeline": {"collapse": {"field": "source"}},
        "query": hybrid_joins,
    }
    # collapse composes with a lexical core rule
    assert _agentic_translate("exact keyword search for spark one per lang") == {
        "pipeline": {"collapse": {"field": "lang"}},
        "query": {"match": {"field": "text", "query": "search spark"}},
    }
    # collapse composes with a semantic core rule
    assert _agentic_translate("documents similar to merge sort one per source") == {
        "pipeline": {"collapse": {"field": "source"}},
        "query": {"neural": {"query_text": "documents merge sort"}},
    }
    # size composes with the semantic rule
    assert _agentic_translate("top 3 documents similar to merge sort") == {
        "size": 3, "query": {"neural": {"query_text": "documents merge sort"}},
    }
    # rrf forces the hybrid fusion shape + rank-based normalization
    assert _agentic_translate("spark windows with rrf") == {
        "pipeline": {"normalization": {"technique": "rrf"}},
        "query": {"hybrid": {"queries": [
            {"neural": {"query_text": "spark windows"}},
            {"match": {"field": "text", "query": "spark windows"}},
        ]}},
    }
    # rrf + size + collapse all at once
    assert _agentic_translate("top 4 spark windows with rrf one per lang") == {
        "size": 4,
        "pipeline": {
            "collapse": {"field": "lang"},
            "normalization": {"technique": "rrf"},
        },
        "query": {"hybrid": {"queries": [
            {"neural": {"query_text": "spark windows"}},
            {"match": {"field": "text", "query": "spark windows"}},
        ]}},
    }
    # size modifier composes with the exclusion (bool) rule
    assert _agentic_translate("top 6 spark streaming without kafka") == {
        "size": 6,
        "query": {"bool": {
            "must": {"match": {"field": "text", "query": "spark streaming"}},
            "must_not": "text LIKE '%kafka%'",
        }},
    }


def test_agentic_bodies_execute(engine):
    """Full-body translations run end-to-end: size caps rows, collapse
    yields one row per group, pagination pages don't overlap."""
    top5 = engine.search(
        {"agentic": {"query_text": "top 5 spark joins"}}
    ).collect()
    assert len(top5) == 5
    collapsed = engine.search(
        {"agentic": {"query_text": "exact keyword search for spark one per lang"}}
    ).collect()
    langs = len(collapsed)
    assert 1 <= langs <= 10
    page1 = engine.search(
        {"agentic": {"query_text": "top 3 spark joins"}}
    ).collect()
    page2 = engine.search(
        {"agentic": {"query_text": "top 3 next page spark joins"}}
    ).collect()
    assert {r["doc_id"] for r in page1}.isdisjoint({r["doc_id"] for r in page2})


def test_agentic_compound_rules_execute(engine):
    """The new compound translations run end-to-end through search()."""
    for q in ("either spark or merge", "spark joins downrank hash"):
        rows = engine.search({"agentic": {"query_text": q}}, size=5).collect()
        assert len(rows) >= 1


def test_agentic_pluggable_translator(spark, sf_dir):
    """Engine accepts a user-supplied agent (the real-LLM injection
    point); the produced DSL executes and the agent context records it."""
    calls = []

    def my_agent(q):
        calls.append(q)
        return {"match": {"field": "text", "query": "spark"}}

    eng = Engine(spark, sf_dir, agent_translate=my_agent)
    out = eng.search({"agentic": {"query_text": "anything at all"}}, size=5)
    assert len(out.collect()) == 5
    assert calls == ["anything at all"]
    assert eng.last_agent_context["dsl_query"] == {
        "match": {"field": "text", "query": "spark"}
    }


def test_agentic_bool_translation_executes(engine):
    out = engine.search(
        {"agentic": {"query_text": "spark streaming without kafka"}}, size=5
    )
    rows = out.collect()
    assert rows
    docs = {r["doc_id"]: r["text"] for r in engine.documents().collect()}
    assert all("kafka" not in docs[r["doc_id"]] for r in rows)


def test_fetch_source_joins_full_rows(engine):
    out = engine.search(
        {"hybrid": {"queries": [{"neural": {"query_text": "spark"}}, {"neural_sparse": {"query_text": "spark join"}}]}},
        pipeline={"fetch_source": True},
    )
    rows = out.collect()
    assert len(rows) == 10
    assert {"doc_id", "score", "text", "lang", "source", "n_chars"} <= set(out.columns)
    assert all(r["text"] for r in rows)


def test_unknown_query_type_rejected(engine):
    with pytest.raises(ValueError, match="unsupported query type"):
        engine.search({"mystery": {}})


def test_max_five_subqueries(engine):
    subs = [{"neural": {"query_text": "x"}}] * 6
    with pytest.raises(ValueError):
        engine.search({"hybrid": {"queries": subs}})


def test_neural_method_ivf_and_pq(spark, sf_dir, engine):
    """Dense ANN `method.name` dispatch (the dense analogue of the
    reference's sparse method param,
    `sparse/query/SparseAnnQueryBuilder.java:67-87`): both tiers must
    substantially agree with the brute-force top-10."""
    qv = catalog.query_vector(spark, sf_dir, registry.QUERY_VEC_ID)
    exact = set(_ids(engine.search({"neural": {"vector": qv, "k": 10}})))
    ivf = engine.search(
        {"neural": {"vector": qv, "k": 10, "method": {"name": "ivf", "nprobe": 8}}}
    )
    pq = engine.search(
        {"neural": {"vector": qv, "k": 10, "method": {"name": "pq", "shortlist": 100}}}
    )
    assert len(set(_ids(ivf)) & exact) >= 5   # probe misses are possible
    assert len(set(_ids(pq)) & exact) >= 9    # rescored shortlist ≈ exact


def test_neural_method_pq_respects_filter(engine):
    out = engine.search(
        {"neural": {"query_text": "spark join", "k": 10,
                    "method": {"name": "pq"}, "filter": "lang = 'en'"}}
    )
    en = {r["doc_id"] for r in engine.documents().where("lang = 'en'").collect()}
    assert set(_ids(out)) <= en


def test_ann_artifacts_cached_across_queries(spark, sf_dir, monkeypatch):
    """ivf/pq artifacts are ingest-time, built ONCE per corpus: the
    second search must hit the module cache — zero codebook training,
    zero centroid collects (the scale contract; the reference trains at
    segment build, `sparse/query/SparseAnnQueryBuilder.java` only reads)."""
    from neural_search_spark import artifacts
    from neural_search_spark.operators import pq as PQ
    from neural_search_spark.plans import compiler as C

    artifacts.clear(sf_dir)
    trains = []
    real_train = PQ.train_codebooks
    monkeypatch.setattr(
        PQ, "train_codebooks", lambda *a, **kw: trains.append(1) or real_train(*a, **kw)
    )
    eng = Engine(spark, sf_dir)
    qv = catalog.query_vector(spark, sf_dir, registry.QUERY_VEC_ID)
    spec = {"neural": {"vector": qv, "k": 5, "method": {"name": "pq"}}}
    first = _ids(eng.search(spec))
    assert trains == [1]
    assert _ids(eng.search(spec)) == first        # cache hit, same answer
    assert trains == [1]                          # ...with no re-training
    # even a filtered query reuses the same index artifacts
    eng.search({"neural": {"vector": qv, "k": 5, "method": {"name": "pq"},
                           "filter": "lang = 'en'"}}).collect()
    assert trains == [1]
    # ivf centroids likewise collected once
    ispec = {"neural": {"vector": qv, "k": 5, "method": {"name": "ivf"}}}
    eng.search(ispec).collect()
    cached = artifacts.peek(sf_dir, C._ivf_centroids.artifact_name, (16,))
    assert cached is not None
    eng.search(ispec).collect()
    assert artifacts.peek(sf_dir, C._ivf_centroids.artifact_name, (16,)) is cached


def test_neural_method_unknown_raises(engine):
    with pytest.raises(ValueError, match="unsupported dense ANN method"):
        engine.search({"neural": {"query_text": "x", "method": {"name": "hnsw"}}})


def test_neural_query_image_multimodal(engine):
    """`query_image` (± query_text) embeds via the multimodal stub —
    the reference's text_image query path (QUERY_IMAGE field on the
    neural query)."""
    img = b"\x89PNG-fake-bytes"
    out1 = engine.search({"neural": {"query_text": "blue cat", "query_image": img, "k": 5}})
    out2 = engine.search({"neural": {"query_text": "blue cat", "query_image": img.hex(), "k": 5}})
    r1, r2 = out1.collect(), out2.collect()
    assert len(r1) == 5
    assert [x["doc_id"] for x in r1] == [x["doc_id"] for x in r2]  # bytes ≡ hex
    # image-only is also valid
    assert len(engine.search({"neural": {"query_image": img, "k": 3}}).collect()) == 3


def test_neural_rescore_matches_direct(spark, sf_dir, engine):
    from neural_search_spark.operators import retrieval as R

    qv = catalog.query_vector(spark, sf_dir, registry.QUERY_VEC_ID)
    out = engine.search({"neural": {"vector": qv, "k": 10, "rescore": {"oversample": 3.0}}})
    direct = R.dense_rescore_topk(engine.corpus(), qv, k=10, oversample=3.0)
    assert _ids(out) == _ids(direct)


def test_sparse_nested_matches_r2(spark, sf_dir, engine):
    out = engine.search(
        {
            "neural_sparse": {
                "query_tokens": registry.CHUNK_QUERY_TOKENS,
                "k": 10,
                "nested": {
                    "token_limit": registry.CHUNK_TOKEN_LIMIT,
                    "overlap_rate": registry.CHUNK_OVERLAP_RATE,
                },
            }
        }
    )
    expected = registry.q_r2_chunk_max(spark, sf_dir)
    assert _ids(out) == _ids(expected)


def test_sparse_method_seismic_dispatch(engine):
    """method.name=seismic with threshold 0 forces the SEISMIC path:
    the compiler must produce exactly what a direct sparse_ann_topk
    call produces with the same params (recall itself is gated in
    test_seismic.py; byte quantization ties are expected here)."""
    from neural_search_spark.functions import sparse as S
    from neural_search_spark.operators import seismic as SE

    spec = {"query_text": "spark join stream window batch", "k": 10}
    ann = engine.search(
        {
            "neural_sparse": {
                **spec,
                "method": {
                    "name": "seismic",
                    "approximate_threshold": 0,
                    "top_n": 10,
                    "heap_factor": 2.0,
                },
            }
        }
    )
    qt = {t: 1.0 for t in spec["query_text"].split()}
    direct = SE.sparse_ann_topk(
        S.tf_postings(engine.documents()), qt, k=10,
        approximate_threshold=0, top_n=10, heap_factor=2.0,
    )
    assert _ids(ann) == _ids(direct)
    assert len(_ids(ann)) == 10


def test_sparse_method_seismic_falls_back_exact(engine):
    """Below approximate_threshold (default 1M ≫ corpus) the dispatch
    must produce exactly the brute-force result (R8)."""
    spec = {"query_text": "spark join stream window batch", "k": 10}
    exact = engine.search({"neural_sparse": dict(spec)})
    ann = engine.search({"neural_sparse": {**spec, "method": {"name": "seismic"}}})
    assert _ids(ann) == _ids(exact)


def test_mmr_pipeline_stage(spark, sf_dir, engine):
    qv = catalog.query_vector(spark, sf_dir, registry.QUERY_VEC_ID)
    plain = engine.search({"neural": {"vector": qv, "k": 5}})
    mmr = engine.search(
        {"neural": {"vector": qv, "k": 5}},
        pipeline={"mmr": {"candidates": 30, "lambda": 0.5}},
        size=5,
    )
    rows = mmr.collect()
    assert len(rows) == 5
    assert [r["mmr_rank"] for r in rows] == [0, 1, 2, 3, 4]
    # MMR always keeps the single most-relevant doc first
    assert rows[0]["doc_id"] == plain.collect()[0]["doc_id"]


def test_match_phrase_dispatch_matches_direct(spark, sf_dir, engine):
    out = engine.search({"match_phrase": {"query": registry.PHRASE_QUERY, "k": 10}})
    assert _ids(out) == _ids(registry.q_match_phrase(spark, sf_dir))


def test_match_phrase_requires_adjacency(spark, sf_dir, engine):
    """Docs matched by the phrase must contain the exact token sequence;
    the bag-of-words `match` can rank docs that only contain the terms
    separately."""
    phrase = registry.PHRASE_QUERY
    ids = _ids(engine.search({"match_phrase": {"query": phrase, "k": 10}}))
    assert ids
    docs = engine.documents()
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.where(docs.doc_id.isin([int(i) for i in ids])).collect()
    }
    for i in ids:
        toks = texts[i].split()
        assert any(
            toks[j] == phrase.split()[0] and toks[j + 1] == phrase.split()[1]
            for j in range(len(toks) - 1)
        )


def test_match_phrase_in_hybrid_leg(engine):
    out = engine.search(
        {"hybrid": {"queries": [
            {"neural": {"query_text": "spark join window"}},
            {"match_phrase": {"query": registry.PHRASE_QUERY}},
        ]}},
        pipeline={"normalization": {"technique": "min_max"}},
    )
    rows = out.collect()
    assert 0 < len(rows) <= 10


def test_compile_filter_leaves_and_bool():
    from neural_search_spark.plans.compiler import compile_filter

    assert compile_filter("lang = 'en'") == "lang = 'en'"
    assert compile_filter({"term": {"lang": "en"}}) == "lang = 'en'"
    assert compile_filter({"terms": {"lang": ["en", "de"]}}) == "lang IN ('en', 'de')"
    assert (
        compile_filter({"range": {"n_chars": {"gte": 100, "lt": 500}}})
        == "(n_chars >= 100 AND n_chars < 500)"
    )
    assert compile_filter({"exists": {"field": "source"}}) == "source IS NOT NULL"
    got = compile_filter(
        {"bool": {
            "must": [{"term": {"lang": "en"}}],
            "should": [{"term": {"source": "web"}}, {"term": {"source": "news"}}],
            "must_not": [{"range": {"n_chars": {"lt": 50}}}],
        }}
    )
    assert got == (
        "(lang = 'en' AND (source = 'web' OR source = 'news')"
        " AND NOT ((n_chars < 50)))"
    )


def test_structured_filter_equals_string_filter(spark, sf_dir, engine):
    structured = engine.search(
        {"neural": {
            "query_text": "spark join",
            "filter": {"bool": {"must": [
                {"term": {"lang": "en"}},
                {"range": {"n_chars": {"gte": 200}}},
            ]}},
        }}
    )
    raw = engine.search(
        {"neural": {"query_text": "spark join",
                    "filter": "lang = 'en' AND n_chars >= 200"}}
    )
    assert _ids(structured) == _ids(raw)


def test_structured_filter_in_hybrid_pushdown(engine):
    out = engine.search(
        {"hybrid": {
            "queries": [
                {"neural": {"query_text": "spark join window"}},
                {"match": {"field": "text", "query": "spark join"}},
            ],
            "filter": {"range": {"n_chars": {"gte": 300}}},
        }}
    )
    ids = [int(i) for i in _ids(out)]
    assert ids
    docs = engine.documents()
    ok = {r["doc_id"] for r in docs.where("n_chars >= 300").collect()}
    assert set(ids) <= ok


def test_function_score_field_value_factor(engine):
    base = engine.search({"neural": {"query_text": "spark join"}}, size=10)
    out = engine.search(
        {"function_score": {
            "query": {"neural": {"query_text": "spark join"}},
            "functions": [
                {"field_value_factor": {"field": "n_chars", "modifier": "log1p"}}
            ],
            "window": 10,
        }},
        size=10,
    )
    brows = {r["doc_id"]: r["score"] for r in base.collect()}
    orows = {r["doc_id"]: r["score"] for r in out.collect()}
    assert set(orows) == set(brows)
    docs = {r["doc_id"]: r["n_chars"] for r in engine.documents().collect()}
    import math
    for d, s in orows.items():
        expect = brows[d] * math.log1p(float(docs[d]))
        assert abs(s - expect) < 1e-6


def test_function_score_gauss_and_boost_mode_replace(engine):
    out = engine.search(
        {"function_score": {
            "query": {"neural": {"query_text": "spark join"}},
            "functions": [
                {"gauss": {"field": "n_chars", "origin": 300.0, "scale": 100.0}}
            ],
            "boost_mode": "replace",
            "window": 20,
        }},
        size=5,
    )
    rows = out.collect()
    assert len(rows) == 5
    # replace-mode score is the decay alone: in (0, 1], peaked at
    # origin → returned docs are the window's closest to 300 chars
    assert all(0.0 < r["score"] <= 1.0 for r in rows)
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_ann_lsh_method(engine):
    out = engine.search(
        {"neural": {"query_text": "spark join",
                    "method": {"name": "lsh", "n_planes": 4, "n_tables": 4}}},
        size=10,
    )
    rows = out.collect()
    assert 0 < len(rows) <= 10
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_function_score_composes_with_pipeline(engine):
    out = engine.search(
        {"function_score": {
            "query": {"neural": {"query_text": "spark join"}},
            "functions": [
                {"field_value_factor": {"field": "n_chars", "modifier": "sqrt"}}
            ],
            "window": 10,
        }},
        pipeline={"highlight": {"query_text": "spark join"}},
        size=5,
    )
    assert "highlighted" in out.columns
    assert out.count() == 5


def test_function_score_rejects_unknown_modes(engine):
    import pytest as _pytest

    for bad in (
        {"score_mode": "median"},
        {"boost_mode": "hyperbolic"},
    ):
        spec = {"function_score": {
            "query": {"neural": {"query_text": "spark join"}},
            "functions": [{"weight": 2.0}],
            **bad,
        }}
        with _pytest.raises(ValueError):
            engine.search(spec, size=3)


def test_fuzzy_and_mlt_query_types(engine):
    fz = engine.search({"fuzzy": {"value": "spak", "fuzziness": 2}}, size=5)
    rows = fz.collect()
    assert 0 < len(rows) <= 5
    mlt = engine.search({"more_like_this": {"like": 13}}, size=5)
    ids = [r["doc_id"] for r in mlt.collect()]
    assert ids and 13 not in ids


def test_bool_scored_must_should_and_exclusions(spark, sf_dir, engine):
    qv = catalog.query_vector(spark, sf_dir, registry.QUERY_VEC_ID)
    qt = registry._query_tokens_tf(spark, sf_dir)
    out = engine.search(
        {"bool": {
            "must": [{"neural": {"vector": qv}}],
            "should": [{"neural_sparse": {"query_tokens": qt}}],
            "must_not": [{"term": {"source": "src3"}}],
            "filter": {"range": {"n_chars": {"gte": 150}}},
            "pagination_depth": 50,
        }},
        size=10,
    )
    rows = out.collect()
    assert 0 < len(rows) <= 10
    docs = {r["doc_id"]: r for r in engine.documents().collect()}
    for r in rows:
        assert docs[r["doc_id"]]["source"] != "src3"
        assert docs[r["doc_id"]]["n_chars"] >= 150
    # must+should: score ≥ the dense-only score for the same doc
    dense = {r["doc_id"]: r["score"]
             for r in engine.search({"neural": {"vector": qv}}, size=50).collect()}
    for r in rows:
        assert r["score"] >= dense[r["doc_id"]] - 1e-9


def test_bool_should_only_unions(engine):
    out = engine.search(
        {"bool": {"should": [
            {"neural": {"query_text": "spark join"}},
            {"match": {"field": "text", "query": "window batch"}},
        ], "pagination_depth": 20}},
        size=15,
    )
    rows = out.collect()
    assert len(rows) == 15
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_bool_filter_only_constant_score(engine):
    """Filter-only bool = constant-score matching (OpenSearch scores a
    filter-context-only bool 0.0) — previously a ValueError, now parity."""
    out = engine.search({"bool": {"filter": {"term": {"lang": "en"}}}}, size=7)
    rows = out.collect()
    assert len(rows) == 7
    assert all(r["score"] == 0.0 for r in rows)
    en = {r["doc_id"] for r in engine.documents().where("lang = 'en'").collect()}
    assert {r["doc_id"] for r in rows} <= en
    # must_not-only is also accepted
    neg = engine.search(
        {"bool": {"must_not": {"term": {"lang": "en"}}}}, size=5
    ).collect()
    assert neg and all(r["doc_id"] not in en for r in neg)


def test_bool_empty_rejected(engine):
    with pytest.raises(ValueError, match="bool query requires"):
        engine.search({"bool": {}})


def test_fuzzy_in_hybrid_respects_filter(engine):
    out = engine.search(
        {"hybrid": {
            "queries": [
                {"fuzzy": {"value": "spak"}},
                {"neural": {"query_text": "spark join"}},
            ],
            "filter": {"term": {"lang": "en"}},
            "pagination_depth": 30,
        }},
    )
    en = {r["doc_id"] for r in engine.documents().where("lang = 'en'").collect()}
    assert set(r["doc_id"] for r in out.collect()) <= en


def test_bool_mmr_overfetch_diversifies(engine):
    base = engine.search(
        {"bool": {"should": [{"neural": {"query_text": "spark join"}}],
                  "pagination_depth": 40}},
        size=5,
    )
    div = engine.search(
        {"bool": {"should": [{"neural": {"query_text": "spark join"}}],
                  "pagination_depth": 40}},
        pipeline={"mmr": {"candidates": 30, "lambda": 0.2}},
        size=5,
    )
    b, d = [r["doc_id"] for r in base.collect()], [r["doc_id"] for r in div.collect()]
    assert len(d) == 5
    # with a 30-candidate window and strong diversity pressure the
    # picked set must differ from the plain top-5 (not just reorder)
    assert set(d) != set(b)


def test_bool_accepts_object_form_clauses(engine):
    out = engine.search(
        {"bool": {
            "must": {"neural": {"query_text": "spark join"}},
            "filter": [{"term": {"lang": "en"}},
                       {"range": {"n_chars": {"gte": 100}}}],
        }},
        size=5,
    )
    rows = out.collect()
    assert rows
    docs = {r["doc_id"]: r for r in engine.documents().collect()}
    for r in rows:
        assert docs[r["doc_id"]]["lang"] == "en"
        assert docs[r["doc_id"]]["n_chars"] >= 100


# -- aggregations (`aggs` search body) ------------------------------------

def test_search_aggs_terms_with_submetric(engine):
    out = engine.search_aggs(
        {"bool": {"filter": {"term": {"lang": "en"}}}},
        {"by_source": {"terms": {"field": "source", "size": 5},
                       "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}}},
    )["by_source"]
    rows = out.collect()
    assert 0 < len(rows) <= 5
    assert set(out.columns) == {"key", "doc_count", "avg_chars"}
    counts = [r["doc_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    # cross-check one bucket against a direct groupBy
    direct = {
        r["source"]: r["n"]
        for r in engine.documents().where("lang = 'en'")
        .groupBy("source").agg(__import__("pyspark").sql.functions.count("*").alias("n"))
        .collect()
    }
    for r in rows:
        assert direct[r["key"]] == r["doc_count"]


def test_search_aggs_filter_context_no_topk_plan(engine):
    """Filter-context aggs must aggregate the SCAN, not a sorted
    top-k window: no TakeOrdered / global sort in the plan."""
    out = engine.search_aggs(
        {"bool": {"filter": {"term": {"lang": "en"}}}},
        {"chars": {"stats": {"field": "n_chars"}}},
    )["chars"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan
    row = out.first()
    assert row["count"] > 0 and row["min"] <= row["avg"] <= row["max"]


def test_search_aggs_range_single_pass(engine):
    out = engine.search_aggs(
        {"bool": {"filter": "n_chars >= 0"}},
        {"r": {"range": {"field": "n_chars", "ranges": [
            {"to": 200, "key": "short"}, {"from": 200, "key": "rest"}]}}},
    )["r"]
    got = {r["key"]: r["doc_count"] for r in out.collect()}
    total = engine.documents().count()
    assert got["short"] + got["rest"] == total


def test_search_aggs_scored_window(engine):
    out = engine.search_aggs(
        {"match": {"field": "text", "query": "spark join"}},
        {"by_lang": {"terms": {"field": "lang"}}},
        depth=10,
    )["by_lang"]
    assert sum(r["doc_count"] for r in out.collect()) == 10


def test_search_aggs_date_histogram(spark, sf_dir, engine, tmp_path):
    """date_histogram buckets by date_trunc — exercised on a frame with
    a timestamp column (documents carry none)."""
    import datetime as dt

    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, dt.datetime(2026, 1, 1 + i % 3, 10, 0, 0)) for i in range(9)],
        "doc_id long, ts timestamp",
    )
    agg = engine._compile_agg(docs, {"date_histogram": {"field": "ts",
                                                        "calendar_interval": "day"}})
    rows = agg.collect()
    assert [r["doc_count"] for r in rows] == [3, 3, 3]


def test_search_aggs_unknown_kind_raises(engine):
    import pytest as _pt

    with _pt.raises(ValueError, match="unsupported aggregation"):
        engine.search_aggs(
            {"bool": {"filter": "n_chars >= 0"}},
            {"x": {"no_such_agg_kind": {"field": "n_chars"}}},
        )


# -- term-level constant-score queries + msearch ---------------------------

def test_wildcard_prefix_regexp_ids(engine):
    docs = {r["doc_id"]: r for r in engine.documents().collect()}
    w = engine.search({"wildcard": {"field": "text", "value": "*spark*join*"}}, size=20)
    for r in w.collect():
        t = docs[r["doc_id"]]["text"]
        assert "spark" in t and t.index("spark") < t.rindex("join")
        assert r["score"] == 1.0
    p = engine.search({"prefix": {"field": "text", "value": "spark"}}, size=20)
    assert all(docs[r["doc_id"]]["text"].startswith("spark") for r in p.collect())
    rx = engine.search({"regexp": {"field": "source", "value": "^w.*"}}, size=5)
    assert all(docs[r["doc_id"]]["source"].startswith("w") for r in rx.collect())
    ids = engine.search({"ids": {"values": [3, 1, 7]}}, size=10)
    assert [r["doc_id"] for r in ids.collect()] == [1, 3, 7]


def test_wildcard_composes_in_hybrid(engine):
    out = engine.search(
        {"hybrid": {"queries": [
            {"wildcard": {"field": "text", "value": "*spark*"}},
            {"neural": {"query_text": "spark join"}},
        ], "pagination_depth": 30}},
        size=5,
    )
    assert len(out.collect()) == 5


def test_msearch_one_plan(engine):
    out = engine.msearch(
        [
            ({"match": {"field": "text", "query": "spark join"}}, None),
            ({"neural": {"query_text": "window stream"}}, None),
            ({"ids": {"values": [1, 2]}}, None),
        ],
        size=5,
    )
    rows = out.collect()
    by_idx = {}
    for r in rows:
        by_idx.setdefault(r["search_idx"], []).append(r["doc_id"])
    assert set(by_idx) == {0, 1, 2}
    assert len(by_idx[0]) == 5 and len(by_idx[1]) == 5
    assert sorted(by_idx[2]) == [1, 2]


def test_multi_match_dispatch(spark, sf_dir, engine):
    """multi_match compiles through per-field indexes and matches the
    registry queries (best_fields dis-max / most_fields sum)."""
    best = engine.search(
        {"multi_match": {"query": registry.BM25_QUERY,
                         "fields": ["text", "title^2"]}}
    )
    assert _ids(best) == _ids(registry.q_multi_match_best(spark, sf_dir))
    most = engine.search(
        {"multi_match": {"query": registry.BM25_QUERY,
                         "fields": ["text", "title^2"],
                         "type": "most_fields"}}
    )
    assert _ids(most) == _ids(registry.q_multi_match_most(spark, sf_dir))


def test_multi_match_rejects_bad_type(engine):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="multi_match"):
        engine.search(
            {"multi_match": {"query": "x", "fields": ["text"], "type": "cross_fields"}}
        )


def test_dis_max_tiebreaker_zero_is_pure_max(engine):
    """tie_breaker=0 → score is exactly the best leg's score."""
    legs = [
        {"match": {"field": "text", "query": "spark join"}},
        {"match": {"field": "text", "query": "hash merge"}},
    ]
    out = engine.search({"dis_max": {"queries": legs, "tie_breaker": 0.0}}, size=20)
    rows = {r["doc_id"]: r["score"] for r in out.collect()}
    a = {r["doc_id"]: r["score"]
         for r in engine.search(legs[0], size=50).collect()}
    b = {r["doc_id"]: r["score"]
         for r in engine.search(legs[1], size=50).collect()}
    for did, sc in rows.items():
        best = max(a.get(did, float("-inf")), b.get(did, float("-inf")))
        assert abs(sc - best) < 1e-9


def test_boosting_demotes_negative_matches(spark, sf_dir, engine):
    pos = {"match": {"field": "text", "query": "spark join"}}
    plain = {r["doc_id"]: r["score"]
             for r in engine.search(pos, size=30).collect()}
    out = engine.search(
        {"boosting": {"positive": pos,
                      "negative": {"term": {"source": "src1"}},
                      "negative_boost": 0.5, "window": 30}},
        size=30,
    )
    docs = {r["doc_id"]: r["source"]
            for r in engine.documents().select("doc_id", "source").collect()}
    for r in out.collect():
        want = plain[r["doc_id"]] * (0.5 if docs[r["doc_id"]] == "src1" else 1.0)
        assert abs(r["score"] - want) < 1e-9


def test_constant_score_and_script_score(engine):
    cs = engine.search(
        {"constant_score": {"filter": "n_chars >= 300", "boost": 3.5}}, size=5
    ).collect()
    assert len(cs) == 5 and all(r["score"] == 3.5 for r in cs)
    ss = engine.search(
        {"script_score": {
            "query": {"match": {"field": "text", "query": "spark join"}},
            "script": "_score + n_chars * 0.0",  # identity check
            "window": 20,
        }},
        size=5,
    ).collect()
    plain = engine.search(
        {"match": {"field": "text", "query": "spark join"}}, size=5
    ).collect()
    assert [(r["doc_id"], round(r["score"], 6)) for r in ss] == [
        (r["doc_id"], round(r["score"], 6)) for r in plain
    ]


def test_count_analyze_endpoints(engine):
    """_count (filter-context pushdown + scored fallback) and
    _analyze (named-analyzer tokens)."""
    total = engine.count()
    assert total == engine.documents().count()
    filtered = engine.count({"range": {"n_chars": {"gte": 300}}})
    want = engine.documents().where("n_chars >= 300").count()
    assert filtered == want
    cs = engine.count({"constant_score": {"filter": {"range": {"n_chars": {"gte": 300}}}}})
    assert cs == want
    scored = engine.count({"match": {"field": "text", "query": "spark join"}})
    assert 0 < scored <= total
    assert engine.analyze("Spárk, JOIN!", "fold") == ["spark", "join"]


def test_explain_match_sums_to_bm25_score(spark, sf_dir, engine):
    """The per-token breakdown must sum to the doc's bm25_match score."""
    q = "table scan merge window"
    rows = engine.explain_match(q, 0).collect()
    assert rows, "doc 0 should match at least one token"
    total = sum(r["term_score"] for r in rows)
    from neural_search_spark.operators.bm25 import bm25_scores

    full = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(engine.bm25_index(), q).collect()
    }
    assert abs(total - full[0]) < 5e-4  # 4dp rounding per term


def test_alias_filtered_search(engine):
    """Filtered index alias: results are the query's hits restricted
    to the alias predicate (OpenSearch alias-filter semantics)."""
    engine.add_alias("en_docs", {"term": {"lang": "en"}})
    engine.add_alias("all_docs")
    q = {"match": {"field": "text", "query": "spark join"}}
    filtered = engine.search_alias("en_docs", q, size=20).collect()
    langs = {r["doc_id"]: r["lang"]
             for r in engine.documents().select("doc_id", "lang").collect()}
    assert filtered and all(langs[r["doc_id"]] == "en" for r in filtered)
    assert {r["doc_id"] for r in engine.search_alias("all_docs", q, size=20).collect()} \
        == {r["doc_id"] for r in engine.search(q, size=20).collect()}
    import pytest as _p

    with _p.raises(ValueError, match="unknown alias"):
        engine.search_alias("nope", q)


def test_term_vectors_positions_consistent(engine):
    """tf must equal the position count and positions must point at
    the token in the doc's whitespace token stream."""
    rows = engine.term_vectors(0).collect()
    assert rows
    text = engine.documents().where("doc_id = 0").first()["text"]
    toks = [t for t in text.split() if t]
    for r in rows:
        assert r["tf"] == len(r["positions"])
        assert all(toks[p] == r["token"] for p in r["positions"])


def test_rank_feature_modes(engine):
    """saturation / log / sigmoid scoring shapes (OpenSearch core
    rank_feature semantics)."""
    import math

    n_chars = {r["doc_id"]: r["n_chars"]
               for r in engine.documents().select("doc_id", "n_chars").collect()}
    sat = engine.search(
        {"rank_feature": {"field": "n_chars", "saturation": {"pivot": 100.0}}},
        size=5,
    ).collect()
    for r in sat:
        x = n_chars[r["doc_id"]]
        assert abs(r["score"] - x / (x + 100.0)) < 1e-9
    lg = engine.search(
        {"rank_feature": {"field": "n_chars", "log": {"scaling_factor": 2.0}}},
        size=5,
    ).collect()
    for r in lg:
        x = n_chars[r["doc_id"]]
        assert abs(r["score"] - math.log(2.0 * x + 1.0)) < 1e-9
    sg = engine.search(
        {"rank_feature": {"field": "n_chars",
                          "sigmoid": {"pivot": 200.0, "exponent": 2.0}}},
        size=5,
    ).collect()
    for r in sg:
        x = n_chars[r["doc_id"]]
        assert abs(r["score"] - x**2 / (x**2 + 200.0**2)) < 1e-9


def test_span_near_in_order_vs_unordered(spark, engine):
    """in_order must be a subset of unordered; slop=0 in_order with
    adjacent terms equals match_phrase's match set."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b x a"), (3, "a x x b"), (4, "b a")],
        "doc_id long, text string",
    )
    from neural_search_spark.operators.bm25 import (
        build_bm25, build_positional, span_near_topk,
    )

    idx = build_bm25(docs)
    pos = build_positional(docs)
    ordered = {r["doc_id"] for r in span_near_topk(pos, idx, "a", "b", slop=0).collect()}
    assert ordered == {1}                       # only "a b" adjacent in order
    unordered = {
        r["doc_id"]
        for r in span_near_topk(pos, idx, "a", "b", slop=0, in_order=False).collect()
    }
    assert unordered == {1, 4}                  # "b a" counts unordered
    sloppy = {
        r["doc_id"]
        for r in span_near_topk(pos, idx, "a", "b", slop=2, in_order=True).collect()
    }
    assert sloppy == {1, 3}                     # "a x x b" gap 2 ≤ slop


def test_composite_agg_pagination_walks_all_buckets(engine):
    """Walking composite pages with after-cursors must enumerate
    every (lang, source) bucket exactly once, in key order."""
    base = {"bool": {"filter": "n_chars >= 0"}}
    spec = {"sources": [{"field": "lang"}, {"field": "source"}], "size": 7}
    seen, after = [], None
    for _ in range(40):
        s = dict(spec)
        if after:
            s["after"] = after
        page = engine.search_aggs(base, {"c": {"composite": s}})["c"].collect()
        if not page:
            break
        seen += [(r["lang"], r["source"]) for r in page]
        after = {"lang": page[-1]["lang"], "source": page[-1]["source"]}
    want = sorted(
        (r["lang"], r["source"])
        for r in engine.documents().select("lang", "source").distinct().collect()
    )
    assert seen == want  # complete, ordered, no duplicates


def test_simple_query_string_parser_golden():
    from neural_search_spark.plans.compiler import _parse_simple_query_string

    assert _parse_simple_query_string('spark +join -hash "table scan"') == {
        "bool": {
            "must": [
                {"match": {"field": "text", "query": "join"}},
                {"match_phrase": {"field": "text", "query": "table scan"}},
            ],
            "should": [{"match": {"field": "text", "query": "spark"}}],
            "must_not": ["text LIKE '%hash%'"],
        }
    }
    # lenient: stray operators degrade to terms; lone '-' dropped
    assert _parse_simple_query_string("a - +b") == {
        "bool": {
            "must": [{"match": {"field": "text", "query": "b"}}],
            "should": [{"match": {"field": "text", "query": "a"}}],
        }
    }


def test_simple_query_string_excludes_prohibited(engine):
    rows = engine.search(
        {"simple_query_string": {"query": "+spark -hash"}}, size=20
    ).collect()
    assert rows
    texts = {r["doc_id"]: r["text"]
             for r in engine.documents().collect()}
    for r in rows:
        assert "spark" in texts[r["doc_id"]] and "hash" not in texts[r["doc_id"]]


def test_more_like_this_text_form(spark, sf_dir, engine):
    """`like` as raw text: feeding a stored doc's own text must rank
    the OTHER docs exactly as the doc-id variant does (identical term
    selection and scoring; the only difference is that text mode does
    not exclude the source doc itself)."""
    text = engine.documents().where("doc_id = 5").first()["text"]
    via_text = [
        r["doc_id"]
        for r in engine.search(
            {"more_like_this": {"like": text, "max_query_terms": 10}}, size=11
        ).collect()
        if r["doc_id"] != 5
    ][:10]
    via_doc = [
        r["doc_id"]
        for r in engine.search(
            {"more_like_this": {"like": 5, "max_query_terms": 10}}, size=10
        ).collect()
    ]
    assert via_text == via_doc


def test_ann_auto_routing(spark, sf_dir, engine):
    """method=auto: below the threshold (or with a filter) the result
    equals exact brute force; above it, it equals the IVF tier."""
    qv = catalog.query_vector(spark, sf_dir, registry.QUERY_VEC_ID)
    brute = _ids(engine.search({"neural": {"vector": qv, "k": 10}}))
    small = _ids(engine.search(
        {"neural": {"vector": qv, "k": 10,
                    "method": {"name": "auto", "approximate_threshold": 10**9}}}
    ))
    assert small == brute
    ivf = _ids(engine.search(
        {"neural": {"vector": qv, "k": 10, "method": {"name": "ivf"}}}
    ))
    routed = _ids(engine.search(
        {"neural": {"vector": qv, "k": 10,
                    "method": {"name": "auto", "approximate_threshold": 1}}}
    ))
    assert routed == ivf
    filtered = _ids(engine.search(
        {"neural": {"vector": qv, "k": 10, "filter": "lang = 'en'",
                    "method": {"name": "auto", "approximate_threshold": 1}}}
    ))
    exact_f = _ids(engine.search(
        {"neural": {"vector": qv, "k": 10, "filter": "lang = 'en'"}}
    ))
    assert filtered == exact_f  # filter-then-search → exact over the candidates


def test_highlight_fragments(engine):
    """fragment_size caps the highlighted window and anchors it at the
    first query-term match."""
    out = engine.search(
        {"match": {"field": "text", "query": "spark join"}},
        pipeline={"highlight": {"query_text": "spark join", "fragment_size": 60}},
        size=5,
    ).collect()
    assert out
    import re as _re

    for r in out:
        frag = r["highlighted"]
        plain = _re.sub(r"</?em>", "", frag)
        assert len(plain) <= 60
        assert "<em>" in frag  # the anchor term is inside the window


# -- query_string mini-language ---------------------------------------------


def test_query_string_parser_goldens():
    from neural_search_spark.plans.compiler import _parse_query_string as p

    assert p("spark AND (join OR shuffle) NOT hash") == {
        "bool": {
            "must": [
                {"match": {"field": "text", "query": "spark"}},
                {"bool": {"should": [
                    {"match": {"field": "text", "query": "join"}},
                    {"match": {"field": "text", "query": "shuffle"}},
                ]}},
            ],
            "must_not": [
                "array_contains(split(lower(text), '\\\\s+'), 'hash')"
            ],
        }
    }
    # implicit operator: default OR vs AND
    assert p("spark join") == {"bool": {"should": [
        {"match": {"field": "text", "query": "spark"}},
        {"match": {"field": "text", "query": "join"}},
    ]}}
    assert p("spark join", default_operator="AND") == {"bool": {"must": [
        {"match": {"field": "text", "query": "spark"}},
        {"match": {"field": "text", "query": "join"}},
    ]}}
    # fielded keyword term → constant-score filter; phrase boost
    assert p('lang:en AND "table scan"^2') == {"bool": {"must": [
        {"constant_score": {"filter": {"term": {"lang": "en"}}, "boost": 1.0}},
        {"match_phrase": {"field": "text", "query": "table scan", "boost": 2.0}},
    ]}}
    # field-scoped group, wildcard, numeric typing
    assert p("lang:(en de)") == {"bool": {"should": [
        {"constant_score": {"filter": {"term": {"lang": "en"}}, "boost": 1.0}},
        {"constant_score": {"filter": {"term": {"lang": "de"}}, "boost": 1.0}},
    ]}}
    assert p("spa?k") == {"wildcard": {"field": "text", "value": "spa?k"}}
    assert p("n_chars:300") == {
        "constant_score": {"filter": {"term": {"n_chars": 300}}, "boost": 1.0}
    }
    # NOT distributes through a group
    assert p("spark NOT (hash OR stream)")["bool"]["must_not"] == [
        "(array_contains(split(lower(text), '\\\\s+'), 'hash')"
        " OR array_contains(split(lower(text), '\\\\s+'), 'stream'))"
    ]
    with pytest.raises(ValueError):
        p("spark OR NOT hash")
    with pytest.raises(ValueError):
        p("spark AND (join")
    with pytest.raises(ValueError):
        p("   ")


def test_query_string_matches_explicit_bool(engine):
    qs = engine.search(
        {"query_string": {"query": "spark AND join NOT hash"}}, size=10
    )
    explicit = engine.search(
        {"bool": {
            "must": [
                {"match": {"field": "text", "query": "spark"}},
                {"match": {"field": "text", "query": "join"}},
            ],
            "must_not": [
                "array_contains(split(lower(text), '\\\\s+'), 'hash')"
            ],
            "pagination_depth": 1_000_000,
        }},
        size=10,
    )
    got = [(r["doc_id"], round(r["score"], 6)) for r in qs.collect()]
    want = [(r["doc_id"], round(r["score"], 6)) for r in explicit.collect()]
    assert got == want and got


def test_query_string_boost_scales_scores(engine):
    plain = engine.search({"match": {"field": "text", "query": "join"}}, size=5)
    boosted = engine.search({"query_string": {"query": "join^3"}}, size=5)
    pw = {r["doc_id"]: r["score"] for r in plain.collect()}
    bw = {r["doc_id"]: r["score"] for r in boosted.collect()}
    assert set(pw) == set(bw)
    for d, s in pw.items():
        assert abs(bw[d] - 3.0 * s) < 1e-6


def test_match_all_and_match_none(engine):
    n = engine.documents().count()
    allr = engine.search({"match_all": {}}, size=n + 10)
    assert allr.count() == n
    rows = engine.search({"match_all": {"boost": 2.5}}, size=3, from_=2).collect()
    assert [r["doc_id"] for r in rows] == [2, 3, 4]
    assert all(r["score"] == 2.5 for r in rows)
    assert engine.search({"match_none": {}}, size=5).count() == 0


# -- function_score full surface --------------------------------------------


def _fs(engine, size=10, **body):
    spec = {"function_score": {
        "query": {"match": {"field": "text", "query": "spark"}}, **body}}
    return {r["doc_id"]: r["score"]
            for r in engine.search(spec, size=size).collect()}


def test_function_score_linear_decay_and_modes(engine):
    base = {r["doc_id"]: r["score"] for r in engine.search(
        {"match": {"field": "text", "query": "spark"}}, size=10).collect()}
    lin = _fs(engine, functions=[
        {"linear": {"field": "n_chars", "origin": 0, "scale": 400,
                    "decay": 0.5}}], boost_mode="sum")
    docs = engine.documents().select("doc_id", "n_chars").collect()
    nc = {r["doc_id"]: r["n_chars"] for r in docs}
    for d, s in lin.items():
        if d in base:
            sprime = 400 / 0.5
            expect = base[d] + max(0.0, (sprime - nc[d]) / sprime)
            assert abs(s - expect) < 1e-6


def test_function_score_max_min_avg_modes(engine):
    fns = [
        {"field_value_factor": {"field": "n_chars", "factor": 0.001}},
        {"script_score": {"script": "CAST(2.0 AS DOUBLE)"}},
    ]
    mx = _fs(engine, size=300, functions=fns, score_mode="max", boost_mode="replace")
    mn = _fs(engine, size=300, functions=fns, score_mode="min", boost_mode="replace")
    av = _fs(engine, size=300, functions=fns, score_mode="avg", boost_mode="replace")
    shared = set(mx) & set(mn) & set(av)
    assert shared
    for d in shared:
        assert abs(mx[d] + mn[d] - 2.0 * av[d]) < 1e-6
        assert mx[d] >= mn[d]


def test_function_score_filter_exclusion_and_identity(engine):
    # a function whose filter matches nothing → function score 1.0
    out = _fs(engine, functions=[
        {"field_value_factor": {"field": "n_chars", "factor": 100.0},
         "filter": {"term": {"lang": "xx_nomatch"}}}], boost_mode="replace")
    assert out and all(abs(s - 1.0) < 1e-9 for s in out.values())


def test_function_score_min_score_and_max_boost(engine):
    all_rows = _fs(engine, functions=[
        {"script_score": {"script": "CAST(5.0 AS DOUBLE)"}}],
        boost_mode="replace", max_boost=2.0)
    assert all(abs(s - 2.0) < 1e-9 for s in all_rows.values())
    few = engine.search({"function_score": {
        "query": {"match": {"field": "text", "query": "spark"}},
        "functions": [],
        "boost_mode": "sum",
        "min_score": 1.8,
    }}, size=50)
    rows = few.collect()
    assert all(r["score"] >= 1.8 for r in rows)


def test_function_score_random_score_deterministic(engine):
    a = _fs(engine, size=300, functions=[{"random_score": {"seed": 11}}],
            boost_mode="replace")
    b = _fs(engine, size=300, functions=[{"random_score": {"seed": 11}}],
            boost_mode="replace")
    c = _fs(engine, size=300, functions=[{"random_score": {"seed": 12}}],
            boost_mode="replace")
    assert a == b
    shared = set(a) & set(c)
    assert shared
    assert any(abs(a[d] - c[d]) > 1e-9 for d in shared)
    assert all(0.0 <= s < 1.0 for s in a.values())


def test_agentic_failure_paths(spark, sf_dir):
    """The reference's agentic failure surface
    (`processor/AgenticQueryTranslatorProcessor.java:97-230`,
    `query/AgenticSearchQueryBuilder.java:126-166`): every failure
    records its reason on the agentic context (the
    setAgentFailureReason channel) and raises with the blocked/failed
    verb the reference uses."""
    import pytest

    eng = Engine(spark, sf_dir)

    # 1. empty / missing query_text -> "[query_text] is required"
    for bad_body in ({"query_text": "   "}, {"query_text": None}, {}):
        with pytest.raises(ValueError, match=r"\[query_text\] is required"):
            eng.search({"agentic": bad_body})
        assert "required" in eng.last_agent_context["agent_failure_reason"]

    # 2. unknown body field -> parse error, like fromXContent
    with pytest.raises(ValueError, match="Unknown field"):
        eng.search({"agentic": {"query_text": "spark", "boost": 2.0}})

    # 3. > 25 query_fields -> "Too many query fields"
    with pytest.raises(ValueError, match="Too many query fields"):
        eng.search({"agentic": {
            "query_text": "spark",
            "query_fields": [f"f{i}" for i in range(26)],
        }})

    # 4. agentic must be used ALONE (hasOtherSearchFeatures) -> blocked
    with pytest.raises(ValueError, match="Agentic search blocked"):
        eng.search(
            {"agentic": {"query_text": "spark"}},
            pipeline={"collapse": {"field": "lang"}},
        )
    assert "Invalid usage" in eng.last_agent_context["agent_failure_reason"]

    # 5. agent raises -> "Agent execution error"
    def boom(q):
        raise RuntimeError("model exploded")

    eng_boom = Engine(spark, sf_dir, agent_translate=boom)
    with pytest.raises(ValueError, match="Agent execution error"):
        eng_boom.search({"agentic": {"query_text": "spark"}})
    assert "model exploded" in (
        eng_boom.last_agent_context["agent_failure_reason"]
    )

    # 6. null reply -> "Null response from agent"
    eng_null = Engine(spark, sf_dir, agent_translate=lambda q: None)
    with pytest.raises(ValueError, match="Null response from agent"):
        eng_null.search({"agentic": {"query_text": "spark"}})

    # 7. non-dict reply -> "Parse error"
    eng_str = Engine(spark, sf_dir, agent_translate=lambda q: "not json")
    with pytest.raises(ValueError, match="Parse error"):
        eng_str.search({"agentic": {"query_text": "spark"}})

    # 8. oversized reply (> MAX_AGENT_RESPONSE_SIZE = 10000 chars) ->
    #    blocked, reference AgenticQueryTranslatorProcessor.java:164
    eng_big = Engine(
        spark, sf_dir,
        agent_translate=lambda q: {
            "match": {"field": "text", "query": "x" * 11_000}
        },
    )
    with pytest.raises(ValueError, match="Response size exceeded limit"):
        eng_big.search({"agentic": {"query_text": "spark"}})


def test_agentic_golden_adversarial():
    """Adversarial / ambiguous questions pin the rule precedence so a
    future translator change cannot silently reorder it."""
    # conflicting modifiers: semantic markers outrank lexical ones
    # (rule order: similar/like > exact/keyword > sparse)
    assert _agentic_translate("exact keyword but similar to spark") == {
        "neural": {"query_text": "but spark"}
    }
    # "not" inside an exclusion with no object: exclusion list empty,
    # falls back to a must-only bool (no must_not key)
    assert _agentic_translate("spark streaming not") == {
        "bool": {"must": {"match": {"field": "text",
                                    "query": "spark streaming"}}}
    }
    # stopword-only question: every token filtered, default hybrid over
    # an empty core query (search still executes; embeds "")
    assert _agentic_translate("the and for") == {
        "hybrid": {"queries": [
            {"neural": {"query_text": ""}},
            {"match": {"field": "text", "query": ""}},
        ]}
    }
    # size 0 is translated verbatim (the engine, like OpenSearch,
    # returns zero hits rather than erroring)
    assert _agentic_translate("top 0 spark joins") == {
        "size": 0,
        "query": {"hybrid": {"queries": [
            {"neural": {"query_text": "spark joins"}},
            {"match": {"field": "text", "query": "spark joins"}},
        ]}},
    }
    # downrank with no object: negative leg is the never-matching
    # FALSE filter, positives keep full score
    assert _agentic_translate("spark joins downrank") == {
        "boosting": {
            "positive": {"match": {"field": "text", "query": "spark joins"}},
            "negative_boost": 0.5,
            "negative": "FALSE",
        }
    }
