"""The ONE-streaming-app production ingest (streaming/app.py,
judge r8 next-round #4): curate → dedup-gate → embed → index composed
under a single foreachBatch must leave, after any prefix of batches,
exactly the artifacts the equivalent BATCH pipeline produces over the
union of the input — kept corpus, dedup pairs, postings index (rows
AND corpus stats), and IVF vector index assignments."""

from __future__ import annotations

from pyspark.sql import functions as F

from neural_search_spark.functions.sparse import tf_postings
from neural_search_spark.operators import dedup as DD
from neural_search_spark.operators.cluster import kmeans_assign
from neural_search_spark.streaming.app import StreamingIngestApp

from .conftest import SF_SMOKE


_DUP_SOURCES: list[int] = []


def _corpus(spark):
    """sf0.001 documents plus planted rows: a repetition-junk doc (the
    curation stage must drop it) and two verbatim duplicates of
    GATE-PASSING real docs arriving in LATER batches (so the DEDUP
    gate, not curation, must drop them). Ids stay monotone with
    arrival order — the app's documented requirement for the
    oriented-pair gate."""
    from neural_search_spark import registry as R

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    passing = (
        docs.join(
            R.gopher_quality_frame(docs, ordered=False).select(
                "doc_id", "keep_core"
            ),
            "doc_id",
        )
        .join(
            R.gopher_repetition_frame(docs, ordered=False).select(
                "doc_id", "rep_keep"
            ),
            "doc_id",
        )
        .where(F.col("keep_core") & F.col("rep_keep"))
        .orderBy("doc_id")
        .limit(2)
        .collect()
    )
    _DUP_SOURCES[:] = [r["doc_id"] for r in passing]
    planted = spark.createDataFrame(
        [
            (100001, "spam " * 120),             # fails the repetition gate
            (100002, passing[0]["text"]),        # verbatim dup, later batch
            (100003, passing[1]["text"]),        # verbatim dup, later batch
        ],
        "doc_id long, text string",
    )
    return docs.unionByName(planted)


def _split3(docs):
    b1 = docs.where(F.col("doc_id") < 170)
    b2 = docs.where(F.col("doc_id").between(170, 340))
    b3 = docs.where(F.col("doc_id") > 340)  # includes the planted rows
    return [b1, b2, b3]


def _batch_twin_kept(app, docs):
    """The batch-pipeline twin: gates over the union, LSH pairs over
    the curated union, drop every larger-side doc."""
    curated = app.curate(docs)
    pairs = DD.minhash_lsh_dedup_sig(curated, threshold=app.dedup.threshold)
    dropped = pairs.select(F.col("b").alias("doc_id")).distinct()
    return curated.join(dropped, "doc_id", "left_anti")


def _ids(df, col="doc_id"):
    return {r[col] for r in df.select(col).collect()}


def test_app_equals_batch_pipeline(spark, tmp_path):
    docs = _corpus(spark)
    app = StreamingIngestApp(str(tmp_path / "app"))
    for i, b in enumerate(_split3(docs)):
        app.apply_batch(b, i)

    twin_kept = _batch_twin_kept(app, docs)
    twin_ids = _ids(twin_kept)

    # kept corpus: exact set equality, and the planted rows are out
    got_ids = _ids(app.kept(spark))
    assert got_ids == twin_ids
    assert {100001, 100002, 100003}.isdisjoint(got_ids)
    # the gate dropped dups, not their originals
    assert set(_DUP_SOURCES) <= got_ids

    # dedup verdicts: with collapse on, pairs are over representatives
    # and members carry the verbatim edges — (pairs ∪ member edges)
    # must span exactly the same near-dup components as the batch job
    # over the curated corpus
    got_edges = [
        (r["a"], r["b"]) for r in app.dedup.pairs(spark).collect()
    ] + [
        (r["rep_id"], r["doc_id"]) for r in app.dedup.members(spark).collect()
    ]
    want_edges = [
        (r["a"], r["b"])
        for r in DD.minhash_lsh_dedup_sig(
            app.curate(docs), threshold=app.dedup.threshold
        ).collect()
    ]
    assert _components(got_edges) == _components(want_edges)

    # postings index: row-for-row the batch postings over the kept twin
    want_postings = {
        (r["doc_id"], r["token"], r["weight"])
        for r in tf_postings(twin_kept).collect()
    }
    got_postings = {
        (r["doc_id"], r["token"], r["tf"])
        for r in app.postings.postings(spark).collect()
    }
    assert got_postings == want_postings
    n, avgdl = app.postings.stats(spark)
    assert n == len(twin_ids)

    # vector index: same ids, same cell assignments as the batch
    # assignment of the twin's embeddings under the app's centroids
    cents = app.vectors.centroids(spark)
    twin_embs = app.embed(twin_kept)
    want_cells = {
        (r["vec_id"], r["cluster_id"])
        for r in kmeans_assign(twin_embs, cents).collect()
    }
    got_cells = {
        (r["vec_id"], r["cluster_id"])
        for r in app.vectors.vectors(spark).select("vec_id", "cluster_id").collect()
    }
    assert got_cells == want_cells

    # the index is queryable end-to-end: probe returns k rows
    qv = [float(x) for x in twin_embs.orderBy("vec_id").first()["embedding"]]
    hits = app.vectors.search(spark, qv, k=5, nprobe=2).collect()
    assert len(hits) == 5


def test_app_replay_idempotent(spark, tmp_path):
    docs = _corpus(spark)
    app = StreamingIngestApp(str(tmp_path / "app"))
    batches = _split3(docs)
    for i, b in enumerate(batches):
        app.apply_batch(b, i)
    before = (
        _ids(app.kept(spark)),
        {tuple(r) for r in app.dedup.pairs(spark).collect()},
        app.postings.stats(spark),
        {tuple(r) for r in app.vectors.vectors(spark).select("vec_id", "cluster_id").collect()},
    )
    app.apply_batch(batches[-1], len(batches) - 1)  # foreachBatch replay
    after = (
        _ids(app.kept(spark)),
        {tuple(r) for r in app.dedup.pairs(spark).collect()},
        app.postings.stats(spark),
        {tuple(r) for r in app.vectors.vectors(spark).select("vec_id", "cluster_id").collect()},
    )
    assert after == before


def test_app_attach_readstream(spark, tmp_path):
    """End-to-end through writeStream: the whole four-stage app runs
    as a streaming sink and matches the batch twin."""
    docs = _corpus(spark)
    src = str(tmp_path / "src")
    for i, b in enumerate(_split3(docs)):
        b.coalesce(1).write.parquet(f"{src}/f{i}")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    app = StreamingIngestApp(str(tmp_path / "app"))
    q = app.attach(stream, str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()
    assert _ids(app.kept(spark)) == _ids(_batch_twin_kept(app, docs))


from .test_streaming_dedup_index import _components  # noqa: E402


def test_app_collapse_off_matches_twin(spark, tmp_path):
    """collapse=False keeps the original uncollapsed gate semantics —
    same kept set, and the pairs face equals the batch job directly."""
    docs = _corpus(spark)
    app = StreamingIngestApp(str(tmp_path / "app"), collapse=False)
    for i, b in enumerate(_split3(docs)):
        app.apply_batch(b, i)
    assert _ids(app.kept(spark)) == _ids(_batch_twin_kept(app, docs))
    got_pairs = {
        (r["a"], r["b"], r["sig_sim"])
        for r in app.dedup.pairs(spark).collect()
    }
    want_pairs = {
        (r["a"], r["b"], r["sig_sim"])
        for r in DD.minhash_lsh_dedup_sig(
            app.curate(docs), threshold=app.dedup.threshold
        ).collect()
    }
    assert got_pairs == want_pairs


def test_app_viral_template_gate_linear(spark, tmp_path):
    """The collapse-mode gate under a viral batch: m gate-passing
    verbatim copies collapse to ONE representative — the pairs state
    stays tiny (no m²/2 blowup), members carry the m−1 verbatim edges,
    and exactly one copy survives."""
    m = 2000
    template = " ".join(f"viral{i}" for i in range(60))  # passes keep_core
    viral = spark.range(m).select(
        F.col("id").alias("doc_id"), F.lit(template).alias("text")
    )
    distinct = spark.createDataFrame(
        [(m + 1, " ".join(f"other{i}" for i in range(60)))],
        "doc_id long, text string",
    )
    app = StreamingIngestApp(str(tmp_path / "app"))
    app.apply_batch(viral.unionByName(distinct), 0)
    kept = _ids(app.kept(spark))
    assert kept == {0, m + 1}          # one viral survivor + the distinct doc
    assert app.dedup.pairs(spark).count() <= 2   # rep-level only, not m²/2
    assert app.dedup.members(spark).count() == m - 1


def test_non_monotone_ids_raise(spark, tmp_path):
    """ADVICE r9: the oriented dedup gate requires ingest-monotone doc
    ids (larger id == later arrival); a violating batch must fail
    loudly at the gate instead of silently keeping both sides of a
    cross-batch near-dup pair. A foreachBatch REPLAY of the offending
    batch id itself is NOT a violation (the check excludes the batch's
    own prior segment)."""
    import pytest

    docs = _corpus(spark)
    later = docs.where(F.col("doc_id").between(170, 340))
    earlier = docs.where(F.col("doc_id") < 170)
    app = StreamingIngestApp(str(tmp_path / "app"))
    app.apply_batch(later, 0)
    app.apply_batch(later, 0)  # replay of the same batch id passes
    with pytest.raises(ValueError, match="monotone"):
        app.apply_batch(earlier, 1)


def test_streaming_app_kept_constructs_twice(spark):
    """The `streaming_app_kept` contract query builds its app state
    inside the construction: a second construction in one process must
    start from an empty state (its batch 0 would otherwise fail the
    monotone-id gate), and the first returned frame must still read."""
    from neural_search_spark import registry as R

    fn = R.SPARK_QUERIES["streaming_app_kept"]
    first = fn(spark, SF_SMOKE)
    second = fn(spark, SF_SMOKE)
    kept = [r["doc_id"] for r in second.collect()]
    assert kept and [r["doc_id"] for r in first.collect()] == kept
