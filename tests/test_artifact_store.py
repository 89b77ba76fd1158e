"""The per-process persisted-artifact store (registry._artifact_bundle):
graded engines must compile against the saved token-partitioned
postings / positional / chunk / chunk-BM25 tables instead of
rebuilding from raw text, survive testdata regeneration (staleness
guard), and build atomically under concurrent first-builders."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from neural_search_spark import artifacts
from neural_search_spark import registry as R


def _store_root(sf_dir: str) -> str:
    import hashlib

    import neural_search_spark

    norm = os.path.abspath(os.path.normpath(sf_dir))
    tag = hashlib.md5(norm.encode()).hexdigest()[:8]
    return os.path.join(
        os.path.dirname(os.path.dirname(neural_search_spark.__file__)),
        "spark-warehouse", "index_store", R._INDEX_STORE_FORMAT,
        f"{os.path.basename(norm)}-{tag}",
    )


def test_engine_attaches_store(spark, sf_dir):
    eng = R._agg_engine(spark, sf_dir)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        eng.bm25_index().postings.explain("formatted")
    assert "index_store" in buf.getvalue()
    # chunk BM25 comes from the store too (the has_child fast path)
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        eng.chunk_bm25_index().postings.explain("formatted")
    assert "chunk_postings" in buf2.getvalue()


def test_store_results_match_fresh_build(spark, sf_dir):
    from neural_search_spark.plans.compiler import Engine

    attached = R._agg_engine(spark, sf_dir)
    fresh = Engine(spark, sf_dir)  # lazy in-plan build, no store
    q = {"match": {"field": "text", "query": "spark join window"}}
    a = [(r["doc_id"], round(r["score"], 6)) for r in attached.search(q).collect()]
    b = [(r["doc_id"], round(r["score"], 6)) for r in fresh.search(q).collect()]
    assert a == b


def test_staleness_guard_rebuilds(spark, tmp_path):
    """A regenerated testdata dir (different row count) must invalidate
    the on-disk artifacts instead of silently serving stale stats."""
    sf_small = "/root/testdata/sf0.001"
    # fabricate a fake corpus dir whose basename collides but content shrinks
    fake = tmp_path / "sf0.001"
    fake.mkdir()
    docs = (
        spark.read.parquet(os.path.join(sf_small, "documents.parquet"))
        .where(F.col("doc_id") < 100)
    )
    docs.write.mode("overwrite").parquet(str(fake / "documents.parquet"))
    root = _store_root(str(fake))
    shutil.rmtree(root, ignore_errors=True)
    artifacts.clear(str(fake))
    # first build: 100 docs
    b1 = R._artifact_bundle(spark, str(fake))
    assert b1 is not None and b1.stats[0] == 100
    # regenerate the corpus with MORE docs, clear the in-process cache
    docs2 = spark.read.parquet(os.path.join(sf_small, "documents.parquet"))
    docs2.write.mode("overwrite").parquet(str(fake / "documents.parquet"))
    artifacts.clear(str(fake))
    b2 = R._artifact_bundle(spark, str(fake))
    assert b2 is not None and b2.stats[0] == docs2.count()
    shutil.rmtree(root, ignore_errors=True)


def test_pre_r10_store_without_dfs_is_reingested(spark, tmp_path):
    """A store written before the term-dictionary entry existed
    (dfs/chunk_dfs missing) is a FORMAT mismatch: _artifact_bundle must
    re-ingest through the normal build path — never a bespoke write
    inside a query path — and the reloaded bundle must carry dfs."""
    sf_small = "/root/testdata/sf0.001"
    fake = tmp_path / "sf0.001"
    fake.mkdir()
    docs = spark.read.parquet(os.path.join(sf_small, "documents.parquet"))
    docs.write.mode("overwrite").parquet(str(fake / "documents.parquet"))
    root = _store_root(str(fake))
    shutil.rmtree(root, ignore_errors=True)
    artifacts.clear(str(fake))
    b1 = R._artifact_bundle(spark, str(fake))
    assert b1 is not None and b1.dfs is not None
    # simulate the pre-r10 format: drop the dfs entries from the store
    shutil.rmtree(os.path.join(root, "dfs"), ignore_errors=True)
    shutil.rmtree(os.path.join(root, "chunk_dfs"), ignore_errors=True)
    artifacts.clear(str(fake))
    b2 = R._artifact_bundle(spark, str(fake))
    assert b2 is not None and b2.stats[0] == docs.count()
    assert b2.dfs is not None and b2.dfs.count() > 0
    assert os.path.isdir(os.path.join(root, "dfs"))
    shutil.rmtree(root, ignore_errors=True)


def test_bundle_builds_beside_sibling_artifact(spark, tmp_path):
    """A scratch artifact (load_or_build_artifact) written under the
    store root BEFORE the bundle exists must not break the bundle
    build: the whole-root rename fails ENOTEMPTY and the build must be
    merged per-entry instead of discarded (the silent store loss this
    pinned: every engine fell back to in-plan rebuilds)."""
    sf_small = "/root/testdata/sf0.001"
    fake = tmp_path / "sf0.001"
    fake.mkdir()
    docs = spark.read.parquet(os.path.join(sf_small, "documents.parquet"))
    docs.write.mode("overwrite").parquet(str(fake / "documents.parquet"))
    root = _store_root(str(fake))
    shutil.rmtree(root, ignore_errors=True)
    artifacts.clear(str(fake))
    # sibling artifact first → root exists, no meta.json
    from neural_search_spark.sources.index_store import load_or_build_artifact

    sib = load_or_build_artifact(
        spark, str(fake), "minhash_sigs", {"probe": 1},
        lambda: docs.select("doc_id"),
    )
    assert os.path.isdir(os.path.join(root, "minhash_sigs"))
    assert not os.path.exists(os.path.join(root, "meta.json"))
    bundle = R._artifact_bundle(spark, str(fake))
    assert bundle is not None and bundle.stats[0] == docs.count()
    # the sibling survives the merge and still loads
    assert sib.count() == docs.count()
    assert os.path.isdir(os.path.join(root, "minhash_sigs"))
    shutil.rmtree(root, ignore_errors=True)


def test_minhash_sigs_key_counts_documents_from_the_footer(spark, tmp_path):
    """The stored `minhash_sigs` artifact is keyed by the documents' row
    count, read from the parquet footer without a Spark job; the key
    equals the one a counted scan gives, so stores written with the
    scanned count are still found. A table Spark wrote as a directory
    of parts is counted from every part's footer."""
    import json

    from .conftest import SF_SMOKE as sf

    R._minhash_sigs(spark, sf)
    with open(os.path.join(_store_root(sf), "minhash_sigs", "_artifact_meta.json")) as f:
        key = json.load(f)
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    assert key == {"n": 3, "num_hashes": R.DD.NUM_MINHASHES, "doc_count": docs.count()}
    docs.repartition(3).write.parquet(str(tmp_path / "documents.parquet"))
    assert R._table_count(str(tmp_path), "documents") == docs.count()
