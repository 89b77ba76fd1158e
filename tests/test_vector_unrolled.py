"""Literal-vector expressions vs the HOF folds — bit identity, not
approximate equality: the unrolled dot_lit and the one-string
cosine_lit_sql keep the fold's exact summation order, so swapping them
in can never move a hash-matched oracle. Plus the Arrow IVF assigner
vs the expression form."""

import math
import random

from pyspark.sql import functions as F

from neural_search_spark.functions.vector import (
    as_double,
    cosine,
    cosine_lit_sql,
    dot,
    dot_lit,
    lit_vector,
)
from neural_search_spark.operators.ann import ivf_assign, ivf_assign_arrow

DIM = 32


def _vecs(n, seed=7, zero_row=False):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(n)
    ]
    if zero_row:
        rows.append((n, [0.0] * DIM))
    return rows


def test_dot_lit_bit_identical(spark):
    rows = _vecs(200)
    q = [random.Random(11).uniform(-1, 1) for _ in range(DIM)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = df.select(
        dot(as_double(F.col("embedding")), lit_vector(q)).alias("fold"),
        dot_lit(F.col("embedding"), q).alias("unrolled"),
    ).collect()
    for r in out:
        assert r["fold"] == r["unrolled"]  # exact, not approx


def test_cosine_lit_bit_identical_and_null_guard(spark):
    rows = _vecs(200, zero_row=True)
    q = [random.Random(13).uniform(-1, 1) for _ in range(DIM)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = df.select(
        "vec_id",
        cosine(as_double(F.col("embedding")), lit_vector(q)).alias("fold"),
        F.expr(cosine_lit_sql("embedding", q)).alias("sql"),
    ).collect()
    for r in out:
        assert r["fold"] == r["sql"], r["vec_id"]
    # the zero vector hits the 0-denominator guard on both forms
    assert [r["fold"] for r in out if r["vec_id"] == 200] == [None]


def test_cosine_lit_zero_query_is_null(spark):
    df = spark.createDataFrame(
        _vecs(5), "vec_id long, embedding array<double>"
    )
    out = df.select(F.expr(cosine_lit_sql("embedding", [0.0] * DIM)).alias("c"))
    assert [r["c"] for r in out.collect()] == [None] * 5


def test_unrolled_is_codegen_not_interpreted(spark):
    """The point of the unroll: no higher-order function left in the
    plan (aggregate/zip_with render as interpreted expressions)."""
    df = spark.createDataFrame(_vecs(5), "vec_id long, embedding array<double>")
    q = [0.1] * DIM
    plan = df.select(
        dot_lit(F.col("embedding"), q).alias("c")
    )._jdf.queryExecution().executedPlan().toString()
    assert "aggregate(" not in plan and "zip_with(" not in plan


def test_cosine_lit_sql_builds_in_constant_round_trips(spark):
    """The point of the SQL form: the cosine (its folds interpreted,
    like `cosine`) is parsed JVM-side from one string, so building it
    costs the same few py4j commands at any dim, where the Column
    form sends commands per node."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    calls = []

    def counting(command, *args, **kwargs):
        calls.append(command)
        return real(command, *args, **kwargs)

    counts = []
    for dim in (4, DIM):
        calls.clear()
        client.send_command = counting
        try:
            F.expr(cosine_lit_sql("embedding", [0.1] * dim))
        finally:
            del client.send_command
        counts.append(len(calls))
    assert counts[0] == counts[1] <= 4, counts


def test_ivf_assign_arrow_matches_expression_form(spark):
    rng = random.Random(3)
    centroids = [
        (cid, [rng.uniform(-1, 1) for _ in range(DIM)]) for cid in range(8)
    ]
    rows = _vecs(300, seed=5, zero_row=True)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {
        r["vec_id"]: r["cluster_id"]
        for r in ivf_assign(df, centroids).collect()
    }
    b = {
        r["vec_id"]: r["cluster_id"]
        for r in ivf_assign_arrow(df, centroids).collect()
    }
    assert a == b
    # zero-norm row falls to the lowest cid in both forms
    assert a[300] == min(c for c, _ in centroids)


def test_unrolled_norm_matches_python_fold():
    # the driver-side ‖vec‖ fold in cosine_lit_sql is the same sequential
    # order as l2_norm's aggregate — spot-check the Python replica
    vec = [0.1 * i for i in range(DIM)]
    s = 0.0
    for v in vec:
        s += v * v
    assert math.sqrt(s) == math.sqrt(sum([v * v for v in vec]))


def test_dense_scores_arrow_matches_dot(spark):
    """The wide-embedding Arrow matvec scorer (round-8: dot_lit's
    dim-deep chain overflows the column converter above ~300 terms)
    agrees with the fold to BLAS-reassociation tolerance, and ranks
    identically on separated data."""
    from neural_search_spark.operators.ann import dense_scores_arrow

    rows = _vecs(300, seed=13, zero_row=True)
    q = [random.Random(17).uniform(-1, 1) for _ in range(DIM)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fold = {
        r["vec_id"]: r["s"]
        for r in df.select(
            "vec_id", dot(as_double(F.col("embedding")), lit_vector(q)).alias("s")
        ).collect()
    }
    arrow = {
        r["vec_id"]: r["score"]
        for r in dense_scores_arrow(df, q).collect()
    }
    assert set(arrow) == set(fold)
    for k, v in arrow.items():
        assert abs(v - fold[k]) <= 1e-9 * max(1.0, abs(fold[k]))
    top_fold = sorted(fold, key=lambda k: (-fold[k], k))[:10]
    top_arrow = sorted(arrow, key=lambda k: (-arrow[k], k))[:10]
    assert top_fold == top_arrow


def test_dense_scores_arrow_wide_dim(spark):
    """dim 384 — the regime dot_lit cannot express — scores correctly
    vs a driver-side numpy reference."""
    import numpy as np

    from neural_search_spark.operators.ann import dense_scores_arrow

    rng = np.random.default_rng(5)
    V = rng.standard_normal((50, 384))
    q = rng.standard_normal(384)
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r["score"] for r in dense_scores_arrow(df, [float(x) for x in q]).collect()}
    want = V @ q
    for i in range(50):
        assert abs(got[i] - want[i]) <= 1e-9 * max(1.0, abs(want[i]))
