"""Focused equality gates for the round-10 optimizations: each pins a
rewritten internal to the shape it replaced (same values, cheaper plan).
"""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_search_spark import registry
import neural_search_spark.operators.bm25 as B
import neural_search_spark.operators.dedup as DD
from neural_search_spark.functions.sparse import tokens
from neural_search_spark.operators.cluster import _list_col_matrix


def test_bm25_dfs_artifact_matches_inline_aggregation(spark, sf_dir):
    """The term-dictionary artifact (index.dfs) must produce
    byte-identical scores to df counted from the postings, the path
    an index without one takes (same docFreq values → same idf)."""
    idx = registry._bm25(spark, sf_dir)
    assert idx.dfs is not None
    with_dfs = B.bm25_topk(idx, registry.BM25_QUERY, k=25).collect()
    stripped = B.BM25Index(
        postings=idx.postings, doclen=idx.doclen, stats=idx.stats,
        analyzer=idx.analyzer, dfs=None,
    )
    inline = B.bm25_topk(stripped, registry.BM25_QUERY, k=25).collect()
    assert [(r.doc_id, r.score) for r in with_dfs] == [
        (r.doc_id, r.score) for r in inline
    ]


def test_dfs_artifact_values_equal_docfreq(spark, sf_dir):
    """dfs (token, df) rows == countDistinct(doc_id) per token over the
    postings — the Lucene docFreq definition."""
    dfs = registry._token_dfs(spark, sf_dir)
    ref = (
        registry._postings(spark, sf_dir)
        .groupBy("token")
        .agg(F.countDistinct("doc_id").alias("ref"))
    )
    bad = (
        dfs.join(ref, "token", "full")
        .where(
            F.col("df").isNull()
            | F.col("ref").isNull()
            | (F.col("df") != F.col("ref"))
        )
        .count()
    )
    assert bad == 0


def test_simhash64_one_exchange_equals_tf_reference(spark, sf_dir):
    """The occurrence-level ±1 long-sum fingerprint (one exchange) is
    bit-identical to the (doc, token) tf double-sum reference shape it
    replaced: contributions are exact integers, so only the exchange
    count changed."""
    docs = registry.catalog.table(spark, sf_dir, "documents").limit(120)
    new = DD.simhash64(docs).withColumnRenamed("simhash", "n")

    toks = docs.select(
        F.col("doc_id"), F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").cast("double").alias("w"))
    h = F.md5(F.col("token"))
    tf = tf.withColumn(
        "hi", F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    ).withColumn("lo", F.conv(F.substring(h, 9, 8), 16, 10).cast("long"))
    sums = []
    for j in range(64):
        pos = j // 4 + 1
        shift = 3 - j % 4
        src, off = ("hi", 8) if pos <= 8 else ("lo", 16)
        bit = F.shiftright(F.col(src), (off - pos) * 4 + shift).bitwiseAND(F.lit(1))
        sums.append(F.sum(F.col("w") * (bit.cast("double") * 2.0 - 1.0)).alias(f"s{j}"))
    agg = tf.groupBy("doc_id").agg(*sums)
    fp = F.concat(
        *[
            F.when(F.col(f"s{j}") > 0.0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(64)
        ]
    )
    old = agg.select("doc_id", fp.alias("o"))
    diff = new.join(old, "doc_id").where(F.col("n") != F.col("o")).count()
    assert diff == 0


def test_list_col_matrix_fixed_and_ragged():
    """The Arrow values-buffer reslice equals the per-row conversion on
    fixed-width lists, including sliced arrays (non-zero offsets) and
    the integer-dtype codes path."""
    pa = pytest.importorskip("pyarrow")
    fixed = pa.array(
        [[1.5, 2.5], [3.25, -4.0], [0.0, 7.5]], type=pa.list_(pa.float32())
    )
    ref = np.stack([np.asarray(x, dtype=np.float64) for x in fixed.to_pylist()])
    assert np.array_equal(_list_col_matrix(np, fixed), ref)
    # sliced array: offsets do not start at zero
    sliced = fixed.slice(1, 2)
    ref2 = np.stack([np.asarray(x, dtype=np.float64) for x in sliced.to_pylist()])
    assert np.array_equal(_list_col_matrix(np, sliced), ref2)
    # integer dtype (the PQ codes path)
    codes = pa.array([[1, 2], [3, 4]], type=pa.list_(pa.int32()))
    out = _list_col_matrix(np, codes, dtype=np.int64)
    assert out.dtype == np.int64 and np.array_equal(out, [[1, 2], [3, 4]])
