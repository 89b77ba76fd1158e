"""Index lifecycle: save_index → load_index → Engine.attach_index must
reproduce the freshly-built engine's results, with the attached plans
reading the persisted tables (no corpus-side rebuild)."""

from __future__ import annotations

import pytest

from neural_search_spark import artifacts, catalog, registry
from neural_search_spark.plans import compiler
from neural_search_spark.plans.compiler import Engine
from neural_search_spark.sources import index_store as IS

from .conftest import SF_SMOKE


def _rows(df):
    return sorted((r["doc_id"], round(r["score"], 4)) for r in df.collect())


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("index_store"))
    docs = catalog.table(spark, SF_SMOKE, "documents")
    embs = catalog.table(spark, SF_SMOKE, "embeddings")
    from neural_search_spark.operators import pq as PQ

    IS.save_index(
        spark,
        docs,
        embs,
        path,
        ivf_centroids=registry._centroids(spark, SF_SMOKE),
        pq_codebooks=PQ.sample_codebooks(embs),
        bpe_merges=registry._bpe_merges(spark, SF_SMOKE),
    )
    return path


def test_bm25_roundtrip_equivalence(spark, store):
    fresh = Engine(spark, SF_SMOKE)
    loaded = Engine(spark, SF_SMOKE)
    loaded.attach_index(IS.load_index(spark, store))
    q = {"match": {"query": registry.BM25_QUERY}}
    assert _rows(fresh.search(q)) == _rows(loaded.search(q))


def test_attached_plan_reads_store(spark, store):
    loaded = Engine(spark, SF_SMOKE)
    loaded.attach_index(IS.load_index(spark, store))
    plan = (
        loaded.search({"match": {"query": registry.BM25_QUERY}})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "index_store" in plan  # postings scan comes from the store


def test_ann_artifacts_attach(spark, store):
    artifacts.clear(SF_SMOKE)
    bundle = IS.load_index(spark, store)
    loaded = Engine(spark, SF_SMOKE)
    loaded.attach_index(bundle)
    # the store is pre-seeded by attach — no query-time collect/training
    assert artifacts.peek(
        SF_SMOKE, compiler._ivf_centroids.artifact_name, (registry.IVF_NUM_CENTROIDS,)
    ) is bundle.centroids
    books, codes = artifacts.peek(
        SF_SMOKE, compiler._pq_index.artifact_name, (len(bundle.pq_codebooks[0]),)
    )
    assert books is bundle.pq_codebooks and codes is bundle.pq_codes
    qv = catalog.query_vector(spark, SF_SMOKE, registry.QUERY_VEC_ID)
    fresh = Engine(spark, SF_SMOKE)
    out_l = loaded.search(
        {"neural": {"vector": qv, "k": 10, "method": {"name": "ivf", "nprobe": 8}}}
    )
    out_f = fresh.search(
        {"neural": {"vector": qv, "k": 10, "method": {"name": "ivf", "nprobe": 8}}}
    )
    assert _rows(out_l) == _rows(out_f)
    artifacts.clear(SF_SMOKE)


def test_meta_scalars_roundtrip(spark, store):
    b = IS.load_index(spark, store)
    assert b.stats[0] > 0 and b.stats[1] > 0
    assert b.bpe_merges == registry._bpe_merges(spark, SF_SMOKE)
    assert len(b.centroids) == registry.IVF_NUM_CENTROIDS
    assert b.pq_codes is not None


def test_docs_only_index(spark, tmp_path):
    docs = catalog.table(spark, SF_SMOKE, "documents")
    IS.save_index(spark, docs, None, str(tmp_path))
    b = IS.load_index(spark, str(tmp_path))
    assert b.pq_codes is None
    assert b.postings.count() > 0


def test_seismic_roundtrip(spark, tmp_path):
    """Persisted SEISMIC layout (clustered postings + forward index)
    searches identically to the in-memory build."""
    from neural_search_spark.operators import seismic as SE

    docs = catalog.table(spark, SF_SMOKE, "documents")
    idx = registry._seismic_index(spark, SF_SMOKE)
    IS.save_index(spark, docs, None, str(tmp_path), seismic=idx)
    b = IS.load_index(spark, str(tmp_path))
    assert b.seismic is not None and b.seismic.n_docs == idx.n_docs
    qt = registry._query_tokens_tf(spark, SF_SMOKE)
    qmx = max(qt.values())
    qs = {t: w / qmx * SE.QUANT_CEIL_SEARCH for t, w in qt.items()}
    fresh = SE.seismic_search(idx, qs, k=10, top_n=len(qs), heap_factor=2.0)
    loaded = SE.seismic_search(b.seismic, qs, k=10, top_n=len(qs), heap_factor=2.0)
    assert _rows(fresh) == _rows(loaded)


def test_roundtrip_positional_and_chunks(spark, tmp_path):
    from neural_search_spark import catalog
    from neural_search_spark.plans.compiler import Engine
    from neural_search_spark.sources.index_store import load_index, save_index

    docs = catalog.table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "idx_pc")
    save_index(spark, docs, None, path, with_positional=True, with_chunks=True)
    bundle = load_index(spark, path)
    assert bundle.positional is not None and bundle.chunks is not None

    eng = Engine(spark, SF_SMOKE)
    eng.attach_index(bundle)
    # artifacts seed the engine caches — no rebuild
    assert eng._positional is bundle.positional
    assert eng._chunks is bundle.chunks
    # and the attached artifacts answer queries identically to built ones
    fresh = Engine(spark, SF_SMOKE)
    q = {"span_near": {"terms": ["table", "scan"], "slop": 2, "in_order": False}}
    a = [(r["doc_id"], round(r["score"], 4)) for r in eng.search(q, size=5).collect()]
    b = [(r["doc_id"], round(r["score"], 4)) for r in fresh.search(q, size=5).collect()]
    assert a == b
    qc = {"parent_id": {"id": 3}}
    ac = [(r["doc_id"], r["chunk_idx"]) for r in eng.search(qc, size=10).collect()]
    bc = [(r["doc_id"], r["chunk_idx"]) for r in fresh.search(qc, size=10).collect()]
    assert ac == bc
