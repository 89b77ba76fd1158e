"""Search requests over the in-memory retrieval artifacts
(plans/compiler.py): `match` and `neural_sparse` filter the scored
postings (doc_id, token, tf, dl, df) by their tokens, and dense brute
force scans the persisted vectors. Each request kind of the `search`
benchmark workload (perfbench/gen.py) gets a budget of Spark jobs, and
the rows of each kind must equal the per-request join plans these
artifacts replaced, which this module keeps as its reference."""

from __future__ import annotations

import math
import shutil

import pytest
from pyspark.sql import functions as F

from neural_search_spark import catalog, registry
from neural_search_spark.functions import sparse as S
from neural_search_spark.operators import bm25 as B
from neural_search_spark.operators import retrieval as R
from neural_search_spark.plans import compiler as C
from neural_search_spark.plans.compiler import Engine
from neural_search_spark.sources import index_store as IS

from .conftest import SF_SMOKE
from .test_construct_roundtrips import _requests

# Spark jobs per collected request on a warm engine
JOB_BUDGETS = {
    "neural_vector": 1,
    "neural_text": 1,
    "neural_sparse": 2,
    "match": 2,
    "hybrid": 2,
    "hybrid_rrf": 2,
}
HYBRID_FILTER = "lang = 'en'"


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    """An unattached engine over the sf0.001 corpus, and an engine with
    a saved and loaded index attached over a copy of it (its own
    corpus dir, so the two engines' artifacts never meet). Both have
    run one request of every kind."""
    copy = str(tmp_path_factory.mktemp("search_artifacts") / "corpus")
    shutil.copytree(SF_SMOKE, copy)
    index_dir = str(tmp_path_factory.mktemp("search_artifacts_index"))
    IS.save_index(
        spark, catalog.table(spark, copy, "documents"), None, index_dir,
        token_partitions=4,
    )
    attached = Engine(spark, copy)
    attached.attach_index(IS.load_index(spark, index_dir))
    out = {"unattached": Engine(spark, SF_SMOKE), "attached": attached}
    for eng in out.values():
        for query, pipeline in _requests(spark, 3, "spark data scan").values():
            eng.search(query, pipeline, size=10).collect()
    return out


@pytest.mark.parametrize("kind", sorted(JOB_BUDGETS))
def test_request_spark_jobs(spark, engines, kind):
    query, pipeline = _requests(spark, 42, "query vector join")[kind]
    for name, eng in engines.items():
        before = registry._jobs_submitted(spark)
        rows = eng.search(query, pipeline, size=10).collect()
        jobs = registry._jobs_submitted(spark) - before
        assert rows and jobs <= JOB_BUDGETS[kind], f"{name} {kind}: {jobs} jobs"


# -- the per-request join plans the artifacts replaced ------------------------
def _match_reference(eng, query, k, candidate_ids):
    """Query tokens and the term dictionary (or, without one, df
    aggregated over the postings of the query's tokens) broadcast-
    joined to the postings per request, the score built from Columns."""
    idx, (k1, b) = eng.bm25_index(), (B.K1, B.B)
    n, avgdl = idx.stats
    q = R.token_frame(eng.spark, dict.fromkeys(sorted(set(query.lower().split())), 1.0))
    q = q.select("token")
    postings = idx.postings
    if candidate_ids is not None:
        postings = postings.join(F.broadcast(candidate_ids), "doc_id", "semi")
    if idx.dfs is not None:
        df_tbl = idx.dfs.join(F.broadcast(q), "token").select(
            "token", F.col("df").cast("double").alias("df")
        )
    else:
        df_tbl = (
            idx.postings.join(F.broadcast(q), "token")
            .groupBy("token")
            .agg(F.count("*").cast("double").alias("df"))
        )
    idf = F.log(F.lit(1.0) + (F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    scored = (
        postings.join(F.broadcast(q), "token")
        .join(F.broadcast(df_tbl), "token")
        .join(idx.doclen, "doc_id")
        .withColumn(
            "term_score",
            idf
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(k)


def _sparse_reference(eng, text, k, candidate_ids):
    """The corpus re-tokenized per request, the query's token frame
    broadcast-joined to it."""
    qt: dict[str, float] = {}
    for tok in text.split():
        qt[tok] = qt.get(tok, 0.0) + 1.0
    postings = S.tf_postings(eng.documents())
    if candidate_ids is not None:
        postings = postings.join(F.broadcast(candidate_ids), "doc_id", "semi")
    scored = (
        postings.join(F.broadcast(R.token_frame(eng.spark, qt)), "token")
        .groupBy("doc_id")
        .agg(F.sum(F.col("weight") * F.col("qw")).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(k)


def _neural_reference(eng, qv, k, flt):
    """Cosine over documents ⋈ embeddings, filtered in the scan."""
    return R.dense_topk(eng.corpus(), qv, k=k, pre_filter=None if flt is None else F.expr(flt))


def _rows(df) -> list[tuple]:
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _assert_same_sums(got: list[tuple], want: list[tuple], text: str) -> None:
    """The same ids, and scores equal up to the order of a per-doc sum
    of doubles: the unattached engine's in-memory postings keep their
    shuffle partitions, where the per-request plan reads them coalesced
    by adaptive execution, so a doc's term scores can be added in
    another order (seen: 1 ulp)."""
    assert [i for i, _ in got] == [i for i, _ in want], text
    assert all(math.isclose(a, b, rel_tol=1e-14) for (_, a), (_, b) in zip(got, want)), text


@pytest.mark.parametrize("flt", [None, HYBRID_FILTER], ids=["unfiltered", "filtered"])
@pytest.mark.parametrize("name", ["unattached", "attached"])
def test_rows_equal_join_plan_reference(spark, engines, name, flt):
    """match, neural_sparse and neural brute force, each compiled as a
    sub-query (where a hybrid `filter` is pushed), with the same ids
    and the same scores, bit for bit, as the join plans (unattached
    match: see `_assert_same_sums`)."""
    eng = engines[name]
    cand = None if flt is None else eng.documents().where(flt).select("doc_id")
    qv = catalog.query_vector(spark, SF_SMOKE, registry.QUERY_VEC_ID)
    for text in ("spark data scan join", "vector the window window", "nomatch"):
        got = _rows(eng._compile_sub({"match": {"query": text, "k": 25}}, None, flt))
        want = _rows(_match_reference(eng, text, 25, cand))
        if name == "attached":
            assert got == want, text
        else:
            _assert_same_sums(got, want, text)
        got = eng._compile_sub({"neural_sparse": {"query_text": text, "k": 25}}, None, flt)
        assert _rows(got) == _rows(_sparse_reference(eng, text, 25, cand)), text
    got = eng._compile_sub({"neural": {"vector": qv, "k": 25}}, None, flt)
    assert _rows(got) == _rows(_neural_reference(eng, qv, 25, flt))
    # the requests read the engine's in-memory artifacts
    assert eng.bm25_index().scored.is_cached
    assert C._full_vectors(spark, eng.sf_dir).is_cached
