"""Search requests over the in-memory retrieval artifacts
(plans/compiler.py): `match`, `neural_sparse`, `terms_set`,
`combined_fields` and the `_explain` breakdown filter the scored
postings (doc_id, token, tf, dl, df) by their tokens, and dense brute
force scans the persisted vectors. Each request kind of the `search`
benchmark workload (perfbench/gen.py) and each of those lexical kinds
gets a budget of Spark jobs, and the rows of each kind must equal the
per-request join plans these artifacts replaced, which this module
keeps as its reference. So must the rows of the positional operators
(phrase, spans, intervals), whose BM25 tail was a Column tree before
it evaluated `bm25.term_score_sql`."""

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
    "terms_set": 2,
    "combined_fields": 2,
    "explain": 3,
}
HYBRID_FILTER = "lang = 'en'"
TERMS = ["spark", "data", "join", "vector"]
CF_FIELDS = ["text", "title^2.0"]
EXPLAIN_DOC = 3


def _lexical_request(eng, kind: str, text: str):
    """A request of one of the lexical kinds outside the benchmark."""
    if kind == "terms_set":
        body = {"terms": text.split(), "minimum_should_match": 2}
        return eng.search({"terms_set": body}, size=10)
    if kind == "combined_fields":
        return eng.search({"combined_fields": {"query": text, "fields": CF_FIELDS}}, size=10)
    return eng.explain_match(text, EXPLAIN_DOC)


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
        for kind in ("terms_set", "combined_fields", "explain"):
            _lexical_request(eng, kind, "spark data scan").collect()
    return out


@pytest.mark.parametrize("kind", sorted(JOB_BUDGETS))
def test_request_spark_jobs(spark, engines, kind):
    requests = _requests(spark, 42, "query vector join")
    for name, eng in engines.items():
        before = registry._jobs_submitted(spark)
        if kind in requests:
            query, pipeline = requests[kind]
            rows = eng.search(query, pipeline, size=10).collect()
        else:
            rows = _lexical_request(eng, kind, " ".join(TERMS)).collect()
        jobs = registry._jobs_submitted(spark) - before
        assert rows and jobs <= JOB_BUDGETS[kind], f"{name} {kind}: {jobs} jobs"


# -- the per-request join plans the artifacts replaced ------------------------
def _idf_column(n):
    return F.log(F.lit(1.0) + (n - F.col("df") + 0.5) / (F.col("df") + 0.5))


def _term_column(idf, avgdl, k1=B.K1, b=B.B):
    """The BM25 term score as the Column tree each scorer built."""
    return (
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
    )


def _query_df(eng, idx, tokens):
    """Query tokens broadcast-joined to the postings, df aggregated over
    them, per request."""
    q = R.token_frame(eng.spark, dict.fromkeys(tokens, 1.0)).select("token")
    df_tbl = (
        idx.postings.join(F.broadcast(q), "token")
        .groupBy("token")
        .agg(F.count("*").cast("double").alias("df"))
    )
    return q, df_tbl


def _match_reference(eng, query, k, candidate_ids):
    """Query tokens and the term dictionary (or, without one, df
    aggregated over the postings of the query's tokens) broadcast-
    joined to the postings per request, the score built from Columns."""
    idx = eng.bm25_index()
    n, avgdl = idx.stats
    q, df_tbl = _query_df(eng, idx, sorted(set(query.lower().split())))
    postings = idx.postings
    if candidate_ids is not None:
        postings = postings.join(F.broadcast(candidate_ids), "doc_id", "semi")
    if idx.dfs is not None:
        df_tbl = idx.dfs.join(F.broadcast(q), "token").select(
            "token", F.col("df").cast("double").alias("df")
        )
    scored = (
        postings.join(F.broadcast(q), "token")
        .join(F.broadcast(df_tbl), "token")
        .join(idx.doclen, "doc_id")
        .withColumn("term_score", _term_column(_idf_column(F.lit(float(n))), F.lit(avgdl)))
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


# -- the lexical forms before the one term-score string -----------------------
def _terms_set_reference(eng, terms, msm, k):
    idx = eng.bm25_index()
    n, avgdl = idx.stats
    q, df_tbl = _query_df(eng, idx, terms)
    idf = _idf_column(F.lit(float(n)))
    scored = (
        idx.postings.join(F.broadcast(q), "token")
        .join(F.broadcast(df_tbl), "token")
        .join(idx.doclen, "doc_id")
        .withColumn("term_score", _term_column(idf, F.lit(avgdl)))
        .groupBy("doc_id")
        .agg(F.count("*").alias("__matched"), F.sum("term_score").alias("score"))
        .where(F.col("__matched") >= msm)
        .select("doc_id", "score")
    )
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(k)


def _explain_reference(eng, query, doc_id):
    idx = eng.bm25_index()
    n, avgdl = idx.stats
    q, df_tbl = _query_df(eng, idx, sorted({t for t in query.lower().split() if t}))
    idf = _idf_column(F.lit(float(n)))
    return (
        idx.postings.where(F.col("doc_id") == doc_id)
        .join(F.broadcast(q), "token")
        .join(F.broadcast(df_tbl), "token")
        .join(idx.doclen.where(F.col("doc_id") == doc_id), "doc_id")
        .select(
            "token", "tf", "df", F.round(idf, 4).alias("idf"), "dl",
            F.round(_term_column(idf, F.lit(avgdl)), 4).alias("term_score"),
        )
        .orderBy("token")
    )


def _combined_fields_reference(eng, fields, query, k, candidate_ids):
    """Weight-merged postings and doc lengths, a 1-row (N, avgdl) frame
    cross-joined in, and the query's df aggregated per request."""
    indexes = []
    for f in fields:
        name, _, w = f.partition("^")
        indexes.append((eng.field_index(name), float(w or 1.0)))
    tf_parts = [
        idx.postings.select("doc_id", "token", (F.col("tf") * F.lit(w)).alias("tf"))
        for idx, w in indexes
    ]
    dl_parts = [
        idx.doclen.select("doc_id", (F.col("dl") * F.lit(w)).alias("dl"))
        for idx, w in indexes
    ]
    tfc, dls = tf_parts[0], dl_parts[0]
    for part in tf_parts[1:]:
        tfc = tfc.unionByName(part)
    for part in dl_parts[1:]:
        dls = dls.unionByName(part)
    tfc = tfc.groupBy("doc_id", "token").agg(F.sum("tf").alias("tf"))
    dlc = dls.groupBy("doc_id").agg(F.sum("dl").alias("dl"))
    stats = dlc.agg(F.count("*").cast("double").alias("__n"), F.avg("dl").alias("__avgdl"))
    terms = sorted({t for t in query.lower().split() if t})
    q = R.token_frame(eng.spark, dict.fromkeys(terms, 1.0)).select("token")
    tfc = tfc.join(F.broadcast(q), "token")
    df_tbl = tfc.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    scored = (
        tfc.join(F.broadcast(df_tbl), "token")
        .join(dlc, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "term_score", _term_column(_idf_column(F.col("__n")), F.col("__avgdl"))
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
    )
    if candidate_ids is not None:
        scored = scored.join(F.broadcast(candidate_ids), "doc_id", "semi")
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(k)


def _bm25_from_tf_reference(
    matched, index, k, id_col="doc_id", k1=B.K1, b=B.B, candidate_ids=None
):
    """The BM25 tail over a (doc_id, tf) frame: df counted over the
    match set, the score a Column tree."""
    n, avgdl = index.stats
    dfs = matched.agg(F.count("*").cast("double").alias("df"))
    scored = (
        matched.join(index.doclen, id_col)
        .crossJoin(F.broadcast(dfs))
        .select(
            F.col(id_col),
            _term_column(_idf_column(F.lit(float(n))), F.lit(avgdl), k1, b).alias("score"),
        )
    )
    if candidate_ids is not None:
        scored = scored.join(F.broadcast(candidate_ids.select(id_col)), id_col, "semi")
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def _phrase_reference(eng, phrase, k, candidate_ids, prefix=False):
    """match_phrase (or match_phrase_prefix): the candidates semi-joined
    into the aligned sides before df is counted over the matches."""
    positional, index = eng.positional_index(), eng.bm25_index()
    terms = phrase.lower().split()
    exact = terms[:-1] if prefix else terms
    sides = [
        positional.where(F.col("token") == t).select("doc_id", F.col("positions").alias(f"_p{j}"))
        for j, t in enumerate(exact)
    ]
    if prefix:
        sides.append(
            positional.where(F.col("token").startswith(terms[-1]))
            .groupBy("doc_id")
            .agg(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("positions"))))
                .alias(f"_p{len(exact)}")
            )
        )
    joined = sides[0]
    for side in sides[1:]:
        joined = joined.join(side, "doc_id")
    if candidate_ids is not None:
        joined = joined.join(F.broadcast(candidate_ids.select("doc_id")), "doc_id", "semi")

    def aligned(p):
        cond = F.lit(True)
        for j in range(1, len(sides)):
            cond = cond & F.array_contains(F.col(f"_p{j}"), p + F.lit(j))
        return cond

    tf = F.size(F.filter(F.col("_p0"), aligned)).cast("double")
    matched = joined.select("doc_id", tf.alias("tf")).where(F.col("tf") > 0)
    return _bm25_from_tf_reference(matched, index, k)


@pytest.mark.parametrize("name", ["unattached", "attached"])
def test_terms_set_and_explain_equal_join_plan_reference(engines, name):
    eng = engines[name]
    for msm in (1, 2, 3):
        body = {"terms": TERMS, "minimum_should_match": msm}
        got = _rows(eng.search({"terms_set": body}, size=25))
        want = _rows(_terms_set_reference(eng, TERMS, msm, 25))
        assert got, msm
        if name == "attached":
            assert got == want, msm
        else:
            _assert_same_sums(got, want, f"msm {msm}")
    for doc_id in (0, EXPLAIN_DOC, 17):
        text = eng.documents().where(F.col("doc_id") == doc_id).first()["text"]
        query = " ".join(text.split()[:4] + ["spark", "nomatch"])
        got = [tuple(r) for r in eng.explain_match(query, doc_id).collect()]
        want = [tuple(r) for r in _explain_reference(eng, query, doc_id).collect()]
        assert got and got == want, (doc_id, query)


@pytest.mark.parametrize("flt", [None, HYBRID_FILTER], ids=["unfiltered", "filtered"])
@pytest.mark.parametrize("name", ["unattached", "attached"])
def test_combined_fields_equal_join_plan_reference(engines, name, flt):
    eng = engines[name]
    cand = None if flt is None else eng.documents().where(flt).select("doc_id")
    for fields in (["text"], CF_FIELDS, ["text^0.5", "title^3.0"]):
        got = _rows(eng._compile_sub(
            {"combined_fields": {"query": "spark data join", "fields": fields, "k": 25}},
            None, flt,
        ))
        want = _rows(_combined_fields_reference(eng, fields, "spark data join", 25, cand))
        # the reference shuffles the postings to join the doc lengths
        # and the persisted merged postings keep the aggregate's order,
        # so a doc's term scores can be added in another order (seen:
        # 1 ulp on the attached engine)
        assert got, fields
        _assert_same_sums(got, want, str(fields))


@pytest.mark.parametrize("flt", [None, HYBRID_FILTER], ids=["unfiltered", "filtered"])
def test_positional_scores_equal_column_reference(engines, monkeypatch, flt):
    """phrase and phrase-prefix count df over the candidates; span_or,
    span_near and intervals over every match, then filter."""
    eng = engines["unattached"]
    cand = None if flt is None else eng.documents().where(flt).select("doc_id")
    pos, idx = eng.positional_index(), eng.bm25_index()
    for phrase in ("join window", "the data", "spark"):
        got = _rows(B.phrase_topk(pos, idx, phrase, k=25, candidate_ids=cand))
        assert got == _rows(_phrase_reference(eng, phrase, 25, cand)), phrase
        got = _rows(B.phrase_prefix_topk(pos, idx, phrase[:-1], k=25, candidate_ids=cand))
        want = _rows(_phrase_reference(eng, phrase[:-1], 25, cand, prefix=True))
        assert got == want, phrase
    spans = {
        "span_or": lambda: B.span_or_topk(pos, idx, ["spark", "join"], k=25, candidate_ids=cand),
        "span_near": lambda: B.span_near_topk(
            pos, idx, "join", "window", slop=3, in_order=False, k=25, candidate_ids=cand
        ),
        "intervals": lambda: B.intervals_topk(
            pos, idx, ["the", "data"], max_gaps=2, k=25, candidate_ids=cand
        ),
    }
    got = {kind: _rows(run()) for kind, run in spans.items()}
    monkeypatch.setattr(B, "_bm25_from_tf", _bm25_from_tf_reference)
    for kind, run in spans.items():
        assert got[kind] and got[kind] == _rows(run()), kind


def test_evicted_combined_fields_index_is_uncached(spark, monkeypatch):
    """The LRU of combined-fields indexes unpersists the scored postings
    of the index it evicts, and `clear_caches` those of every index."""
    monkeypatch.setattr(C, "COMBINED_IDX_CACHE_CAP", 1)
    eng = Engine(spark, SF_SMOKE)

    def cached(df) -> bool:
        level = df.storageLevel  # the session's cache manager, not a flag
        return level.useMemory or level.useDisk

    def run(fields):
        eng.search({"combined_fields": {"query": "spark data", "fields": fields}}, size=5).collect()
        return eng._combined_idx[tuple((f.split("^")[0], float(f.split("^")[1])) for f in fields)]

    first = run(["text^3.0"])
    assert cached(first.scored)
    second = run(["text^4.0", "title^5.0"])
    assert list(eng._combined_idx.values()) == [second]
    assert not cached(first.scored) and cached(second.scored)
    eng.clear_caches()
    assert not eng._combined_idx and not cached(second.scored)
