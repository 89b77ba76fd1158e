"""IVF search over the in-memory cells artifact (plans/compiler.py
`_ivf_cells`): the probe reads cells assigned once per corpus instead
of re-assigning every vector per request, and the column-vs-literal
cosine is one SQL string. Every value must stay bit-identical to the
Column-built inline form it replaced."""

from __future__ import annotations

from pyspark.sql import functions as F

from neural_search_spark import artifacts, catalog, registry
from neural_search_spark.functions.vector import (
    as_double,
    cosine,
    cosine_lit_sql,
    lit_vector,
)
from neural_search_spark.operators import ann as ANN
from neural_search_spark.plans import compiler as C
from neural_search_spark.plans.compiler import Engine
from neural_search_spark.sources import index_store as IS

from .conftest import SF_SMOKE


def _inline_cell(centroids):
    """The cell assignment the SQL form replaced, built from Column
    lambdas (max cosine, ties to the lowest id)."""
    v = as_double(F.col("embedding"))
    entries = F.array(
        *[
            F.struct(
                F.coalesce(cosine(v, lit_vector(cvec)), F.lit(float("-inf"))).alias("sim"),
                F.lit(-cid).alias("ncid"),
            )
            for cid, cvec in centroids
        ]
    )
    return (-F.array_max(entries)["ncid"]).cast("int")


def _inline_ivf_topk(inline, centroids, query_vec, k, nprobe):
    """The previous IVF search over a frame carrying `_inline_cell`:
    probe filter and Column-built cosine."""
    scored = inline.select(
        F.col("vec_id").alias("doc_id"),
        "cluster_id",
        cosine(as_double(F.col("embedding")), lit_vector(query_vec)).alias("score"),
    )
    return (
        scored.where(F.col("cluster_id").isin(ANN.ivf_probe(centroids, query_vec, nprobe)))
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def test_sql_cosine_is_bit_identical_to_column_cosine(spark):
    """Query vectors with short and long reprs, exponents, ints, a
    negative zero and an all-zero vector (NULL scores)."""
    embs = catalog.table(spark, SF_SMOKE, "embeddings")
    dim = len(embs.first()["embedding"])
    stored = catalog.query_vector(spark, SF_SMOKE, registry.QUERY_VEC_ID)
    queries = [
        stored,
        [x * 1e-7 for x in stored],
        [x * 3.3e12 for x in stored],
        [(i % 5) - 2 for i in range(dim)],
        [-0.0] + [0.1] * (dim - 1),
        [0.0] * dim,
    ]
    v = as_double(F.col("embedding"))
    rows = embs.select(
        *[F.expr(cosine_lit_sql("embedding", q)).alias(f"sql{i}") for i, q in enumerate(queries)],
        *[cosine(v, lit_vector(q)).alias(f"col{i}") for i, q in enumerate(queries)],
    ).collect()
    for i, q in enumerate(queries):
        assert all(r[f"sql{i}"] == r[f"col{i}"] for r in rows), q[:3]
    assert all(r[f"sql{len(queries) - 1}"] is None for r in rows)  # all-zero query


def test_ivf_assign_matches_column_assignment(spark):
    embs = catalog.table(spark, SF_SMOKE, "embeddings")
    cents = registry._centroids(spark, SF_SMOKE)
    col_built = embs.select("vec_id", _inline_cell(cents).alias("cluster_id"))
    assert sorted(_rows(ANN.ivf_assign(embs, cents))) == sorted(_rows(col_built))


def test_engine_ivf_equals_inline_assignment(spark):
    """Engine IVF top-k over the cells artifact: the same ids and the
    same scores, bit for bit, as the inline per-request assignment,
    filtered and unfiltered, at two probe widths."""
    eng = Engine(spark, SF_SMOKE)
    cents = C._ivf_centroids(spark, SF_SMOKE, 16)
    inline = eng.corpus().select(
        F.col("doc_id").alias("vec_id"), "embedding", "lang",
        _inline_cell(cents).alias("cluster_id"),
    )
    for flt in (None, "lang = 'en'"):
        cand = inline if flt is None else inline.where(flt)
        for vec_id, nprobe in [(registry.QUERY_VEC_ID, 4), (7, 1)]:
            qv = catalog.query_vector(spark, SF_SMOKE, vec_id)
            body = {"vector": qv, "k": 10, "method": {"name": "ivf", "nprobe": nprobe}}
            if flt is not None:
                body["filter"] = flt
            got = _rows(eng.search({"neural": body}).select("doc_id", "score"))
            want = _rows(_inline_ivf_topk(cand, cents, qv, k=10, nprobe=nprobe))
            assert got == want, (flt, vec_id, nprobe)
    # one persisted cells frame serves every request
    assert artifacts.peek(SF_SMOKE, C._ivf_cells.artifact_name, (16,)).is_cached


def test_registry_ivf_equals_inline_assignment(spark):
    """ann_ivf_topk reads registry._ivf_assigned through the shared
    probe; its rows equal the inline form over the embeddings table."""
    embs = catalog.table(spark, SF_SMOKE, "embeddings")
    cents = registry._centroids(spark, SF_SMOKE)
    inline = embs.withColumn("cluster_id", _inline_cell(cents))
    qv = registry._qvec(spark, SF_SMOKE)
    want = _inline_ivf_topk(inline, cents, qv, k=registry.K, nprobe=registry.IVF_NPROBE)
    got = registry.q_ann_ivf(spark, SF_SMOKE)
    assert _rows(got) == _rows(want.withColumn("score", F.round("score", 4)))


def test_attach_index_replaces_cells_of_other_centroids(spark):
    """Cells built with the corpus's centroids must not answer for a
    bundle attached later with other centroids."""
    artifacts.clear(SF_SMOKE)
    first = Engine(spark, SF_SMOKE)
    qv = catalog.query_vector(spark, SF_SMOKE, registry.QUERY_VEC_ID)
    spec = {"neural": {"vector": qv, "k": 10, "method": {"name": "ivf", "nprobe": 2}}}
    before = _rows(first.search(spec))  # builds the cells
    assert artifacts.peek(SF_SMOKE, C._ivf_cells.artifact_name, (16,)) is not None

    ids = sorted(
        r["doc_id"] for r in first.corpus().select("doc_id").collect()
    )[100:116]
    bm25 = first.bm25_index()
    bundle = IS.IndexBundle(
        postings=bm25.postings, doclen=bm25.doclen, stats=bm25.stats,
        analyzer=None, pq_codebooks=None, pq_codes=None,
        bpe_merges=[],
        centroids=[(i, catalog.query_vector(spark, SF_SMOKE, v)) for i, v in enumerate(ids)],
    )
    attached = Engine(spark, SF_SMOKE)
    attached.attach_index(bundle)
    after = _rows(attached.search(spec))

    artifacts.clear(SF_SMOKE)
    fresh = Engine(spark, SF_SMOKE)
    fresh.attach_index(bundle)
    assert after == _rows(fresh.search(spec))
    assert after != before  # the other centroids probe other cells
    artifacts.clear(SF_SMOKE)
