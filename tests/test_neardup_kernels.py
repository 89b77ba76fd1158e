"""The two Arrow kernels of `ann.lsh_multitable_neardup_blocked`: the
layout kernel (plane signs, packed bucket ids, unit vectors) and the
score kernel (contiguous (table, bucket, bn_a, bn_b) runs, carried
across Arrow batches). Small frames only."""

from __future__ import annotations

import numpy as np
import pytest

from neural_search_spark import registry
from neural_search_spark.operators import ann as ANN

from .conftest import SF_SMOKE

KW = dict(dim=8, threshold=0.9, n_planes=3, n_tables=2)
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
# Spark jobs to construct and collect emb_neardup_grid at sf0.001: the
# bucketed frame's checkpoint, then the collect's stages
GRID_JOB_BUDGET = 6


def _viral(spark, vec_type="double", id_type="long"):
    """A 30-copy near-identical template (one hot bucket per table) and
    12 random vectors."""
    rng = np.random.RandomState(7)
    base = rng.randn(8)
    rows = [(i, [float(x) for x in base + rng.randn(8) * 0.01]) for i in range(30)]
    rows += [(30 + i, [float(x) for x in rng.randn(8)]) for i in range(12)]
    return spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<{vec_type}>"
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("block", [None, 4])
def test_zero_rows_and_singleton_buckets_give_no_pairs(spark, block):
    """An empty input, and one whose every bucket holds a single row
    (v and −v take the opposite side of every plane), give no pairs —
    with a threshold of −1 any pair that met would be reported."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    v = [0.3, -1.2, 0.5, 2.0, -0.7, 0.1, 0.9, -0.4]
    apart = spark.createDataFrame(
        [(1, v), (2, [-x for x in v])], "vec_id long, embedding array<double>"
    )
    kw = dict(KW, threshold=-1.0, max_block_rows=block)
    assert ANN.lsh_multitable_neardup_blocked(empty, **kw).collect() == []
    assert ANN.lsh_multitable_neardup_blocked(apart, **kw).collect() == []


@pytest.mark.parametrize("vec_type", ["float", "double"])
def test_float_and_double_vectors_match_expression_variant(spark, vec_type):
    """Both vector column types give the expression variant's pairs and
    bit-identical cosines: the kernel's float → double widening is the
    exact conversion `as_double` makes."""
    embs = _viral(spark, vec_type, id_type="int")
    expr_rows = _rows(ANN.lsh_multitable_neardup(embs, **KW))
    assert len(expr_rows) >= 30 * 29 // 2
    for block in (None, 7):
        got = _rows(ANN.lsh_multitable_neardup_blocked(embs, **KW, max_block_rows=block))
        assert got == expr_rows, block


def test_runs_straddling_arrow_batches(spark):
    """With 3 rows per Arrow batch every key run of more than 3 rows
    crosses a batch edge; the rows must equal those of the default
    batch size."""
    embs = _viral(spark)
    want = {b: _rows(ANN.lsh_multitable_neardup_blocked(embs, **KW, max_block_rows=b))
            for b in (None, 7)}
    prev = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, "3")
    try:
        for b, rows in want.items():
            got = _rows(ANN.lsh_multitable_neardup_blocked(embs, **KW, max_block_rows=b))
            assert got == rows, b
    finally:
        spark.conf.set(BATCH_CONF, prev)


def test_emb_neardup_grid_spark_jobs(spark):
    fn = registry.SPARK_QUERIES["emb_neardup_grid"]
    fn(spark, SF_SMOKE).collect()  # the corpus table's first read is not counted
    before = registry._jobs_submitted(spark)
    rows = fn(spark, SF_SMOKE).collect()
    jobs = registry._jobs_submitted(spark) - before
    assert rows and jobs <= GRID_JOB_BUDGET, jobs
