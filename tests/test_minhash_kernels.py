"""The two Arrow kernels of the MinHash-LSH path: `minhash_signatures`
(distinct shingles, md5 words, per-doc minimum) and `jaccard_verify`
(true Jaccard of a candidate pair's two shingle sets). Each is checked
bit for bit against a test-local copy of the Spark SQL form it
replaced (shingle explode + 16-way min aggregation; exploded shingle
join), and the MinHash consumers are run over empty inputs."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from neural_search_spark import artifacts, registry
from neural_search_spark.operators import dedup as DD

from .conftest import SF_SMOKE

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
# Spark jobs to construct and collect curation_pipeline cold (no stored
# signature artifact) at sf0.001: 25 with the shingle explode and
# aggregation, 18 with the two kernels
CURATION_COLD_JOB_BUDGET = 20

ADVERSARIAL = [
    "alpha beta gamma delta",
    "Alpha\tBETA gamma\x0bdelta",  # tab and \x0B split like spaces
    "  alpha   beta gamma  delta  ",
    "alpha beta\u00a0gamma delta epsilon",  # U+00A0 does not split
    "alpha beta\u0085gamma delta epsilon",  # nor does U+0085
    "İSTANBUL kent İstanbul kent İSTANBUL kent",  # İ lowers to two chars
    "la la la la la la la la",  # one shingle, repeated
    "only two",
    "one",
    "",
    None,
    "x\x1cy z w",  # \x1c is not ASCII whitespace for Java's \s
    "alpha beta gamma delta zeta",
    "entirely different words sharing nothing here",
]


def _old_signatures(docs, num_hashes=DD.NUM_MINHASHES, id_col="doc_id"):
    sh = DD.shingle_sets(docs, 3, id_col)
    aggs = []
    for k in range((num_hashes + 3) // 4):
        h = F.md5(F.concat(F.col("shingle"), F.lit(f"#{k}")))
        for j in range(4):
            if k * 4 + j >= num_hashes:
                break
            aggs.append(F.min(F.substring(h, j * 8 + 1, 8)).alias(f"h{k * 4 + j}"))
    return sh.groupBy(id_col).agg(*aggs)


def _old_verify(pairs, docs, threshold, id_col="doc_id"):
    shingles = DD.shingle_sets(docs, 3, id_col)
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("sz"))
    sa = shingles.select(F.col(id_col).alias("a"), F.col("shingle").alias("sh_a"))
    sb = shingles.select(F.col(id_col).alias("b2"), F.col("shingle").alias("sh_b"))
    inter = (
        pairs.join(sa, "a")
        .join(sb, (F.col("b") == F.col("b2")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "a").withColumnRenamed("sz", "sz_a"), "a")
        .join(sizes.withColumnRenamed(id_col, "b").withColumnRenamed("sz", "sz_b"), "b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _adversarial(spark, id_type):
    return spark.createDataFrame(
        list(enumerate(ADVERSARIAL)), f"doc_id {id_type}, text string"
    )


def _smoke_docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")


@pytest.mark.parametrize("id_type", ["int", "long"])
@pytest.mark.parametrize("batch_rows", [None, 3])
def test_signatures_equal_the_explode_aggregate_form(spark, id_type, batch_rows):
    """Bitwise-equal signatures on adversarial whitespace, lowering,
    repeats, short and null texts, and on sf0.001; the id keeps its
    type, and 3-row Arrow batches give the same rows."""
    old = spark.conf.get(BATCH_CONF)
    if batch_rows:
        spark.conf.set(BATCH_CONF, str(batch_rows))
    try:
        for docs in (_adversarial(spark, id_type), _smoke_docs(spark)):
            new = DD.minhash_signatures(docs)
            want = _rows(_old_signatures(docs))
            assert want and _rows(new) == want
            assert new.schema == _old_signatures(docs).schema
    finally:
        spark.conf.set(BATCH_CONF, old)


def test_signatures_skip_docs_without_a_shingle(spark):
    sigs = DD.minhash_signatures(_adversarial(spark, "long"))
    ids = {r["doc_id"] for r in sigs.collect()}
    short = {i for i, t in enumerate(ADVERSARIAL) if t is None or len(t.split()) < 3}
    assert ids == set(range(len(ADVERSARIAL))) - short


@pytest.mark.parametrize("threshold", [0.0, 0.5])
def test_verify_equals_the_exploded_join(spark, threshold):
    """The verify kernel's (a, b, jaccard) rows equal the exploded join's
    on the sf0.001 candidates, and on adversarial pairs that include a
    null text, a doc without shingles and a pair sharing no shingle
    (dropped even at threshold 0)."""
    docs = _smoke_docs(spark)
    cands = DD.lsh_candidate_pairs(DD.minhash_signatures(docs))
    want = _rows(_old_verify(cands, docs, threshold))
    assert want and _rows(DD.jaccard_verify(cands, docs, threshold)) == want

    adv = _adversarial(spark, "long")
    n = len(ADVERSARIAL)
    pairs = spark.createDataFrame(
        [(a, b) for a in range(n) for b in range(a + 1, n)], "a long, b long"
    )
    want = _rows(_old_verify(pairs, adv, threshold))
    assert want and _rows(DD.jaccard_verify(pairs, adv, threshold)) == want


def _corpus(tmp_path, texts):
    """A documents table with the sf0.001 schema holding `texts`."""
    src = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    n = len(texts)
    t = src.slice(0, n).set_column(
        src.schema.get_field_index("text"), "text", pa.array(texts, pa.string())
    )
    d = tmp_path / f"corpus{n}"
    d.mkdir()
    pq.write_table(t, d / "documents.parquet")
    return str(d)


@pytest.mark.parametrize("texts", [[], ["", " ", "\t", "", "one", "one two"]])
def test_empty_corpora_give_no_signatures_pairs_or_dup_weight(spark, tmp_path, texts):
    """An empty documents table and a corpus whose texts hold no 3-word
    shingle: zero signatures, zero pairs, every soft-dedup weight 1.0 (so a
    kept doc's curation sample weight is 1.0) and
    a streaming dedup batch that keeps every row, with no error on the
    zero-row Arrow batches either kernel sees."""
    from neural_search_spark.sources.index_store import store_root
    from neural_search_spark.streaming.dedup_index import IncrementalLSHDedupIndex

    sf = _corpus(tmp_path, texts)
    try:
        assert registry._minhash_sigs(spark, sf).count() == 0
        assert registry._lsh_pairs(spark, sf).count() == 0
        soft = registry.SPARK_QUERIES["dedup_soft_weights"](spark, sf).collect()
        assert len(soft) == len(texts)
        assert all(r["weight"] == 1.0 for r in soft)
        cur = registry.SPARK_QUERIES["curation_pipeline"](spark, sf).collect()
        assert len(cur) == len(texts)
        assert all(r["sample_weight"] == float(r["keep_final"]) for r in cur)

        docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
        idx = IncrementalLSHDedupIndex(str(tmp_path / "idx"))
        idx.apply_batch(docs, 0)
        assert idx.pairs(spark).count() == 0
    finally:
        artifacts.clear(sf)
        shutil.rmtree(store_root(sf), ignore_errors=True)


def test_curation_pipeline_cold_jobs_and_no_shingle_frame(spark, tmp_path):
    """A cold curation_pipeline (fresh corpus dir, no stored signatures)
    constructs and collects within the job budget and never builds the
    `_shingles` artifact."""
    from neural_search_spark.sources.index_store import store_root

    d = tmp_path / "cold"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/documents.parquet", d / "documents.parquet")
    sf = str(d)
    try:
        before = registry._jobs_submitted(spark)
        rows = registry.SPARK_QUERIES["curation_pipeline"](spark, sf).collect()
        jobs = registry._jobs_submitted(spark) - before
        assert len(rows) == 500
        assert jobs <= CURATION_COLD_JOB_BUDGET, jobs
        assert artifacts.peek(sf, registry._shingles.artifact_name) is None
    finally:
        artifacts.clear(sf)
        shutil.rmtree(store_root(sf), ignore_errors=True)
