"""Dense-vector column expressions — pure Catalyst, no Python UDFs.

All arithmetic is double-precision (float→double cast is exact) and
sequential-fold over the array, so results are bit-reproducible and
match an oracle engine evaluating the same expression shape.

Everything here stays inside whole-stage codegen: `zip_with` /
`aggregate` are JVM higher-order functions, ~100× cheaper than a
row-at-a-time Python UDF for a 64-dim dot product.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def lit_vector(vec: list[float]) -> Column:
    """Embed a driver-side query vector into the plan as a literal array.

    This is the Spark realization of inference hoisting
    (`query/NeuralQueryBuilder.java:887-932`): one vector per query,
    shipped in the plan, no join and no broadcast needed.

    r10: built as ONE array literal (2 py4j calls) instead of
    F.array(*[F.lit(v).cast(...)]) — which cost 2·dim driver round
    trips per vector and dominated plan-construction time for
    plane/centroid-heavy operators (SRP: 8 planes × 64 dims ≈ 0.8 s
    of driver time per query). Catalyst constant-folds the old
    CreateArray-of-literals to this same Literal, so plans and values
    are identical.
    """
    return F.lit([float(v) for v in vec]).cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """cosine(a, b) in double precision; 0-norm guarded to NULL."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, dot(a, b) / denom)


# -- the same folds as SQL text ---------------------------------------------
# A Column built from Python lambdas costs py4j round trips per node
# (one `cosine` against a literal: ~580 measured), while one `F.expr`
# string is parsed server-side in one call. The strings below spell the
# trees `dot`/`cosine` build, so values are bit-identical.
def double_sql(x: float) -> str:
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def vector_sql(vec: list[float]) -> str:
    """A driver-side vector as an array<double> SQL literal."""
    return "array(" + ", ".join(double_sql(x) for x in vec) + ")"


def dot_sql(a: str, b: str) -> str:
    """dot(a, b) over two SQL array<double> expressions: the sequential
    `aggregate(zip_with(...))` fold of `dot`."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " 0.0D, (a, b) -> a + b)"
    )


def cosine_lit_sql(vec_col: str, vec: list[float]) -> str:
    """cosine(as_double(col(vec_col)), lit_vector(vec)) as one SQL
    string. ‖vec‖ is folded driver-side in the fold's own order: Python
    floats are IEEE doubles and sqrt is correctly rounded on both
    sides, so it is the value the executor-side fold would compute."""
    nv_sq = 0.0
    for x in vec:
        nv_sq = nv_sq + float(x) * float(x)
    v = "transform(`{}`, x -> CAST(x AS double))".format(vec_col.replace("`", "``"))
    denom = f"(sqrt({dot_sql(v, v)}) * {double_sql(math.sqrt(nv_sq))})"
    return (
        f"CASE WHEN {denom} != 0.0D"
        f" THEN {dot_sql(v, vector_sql(vec))} / {denom} END"
    )


def dot_lit(a: Column, vec: list[float]) -> Column:
    """dot(a, lit_vector(vec)) unrolled to a fixed codegen sum.

    Catalyst runs higher-order functions (zip_with/aggregate)
    INTERPRETED per element — measured to dominate large scans (the
    SEISMIC pass-1 summary-dot finding, BASELINE.md round 6: 2.5 s →
    1.1 s per query at 4M docs). When the query side is a known
    literal, the same sum unrolls into whole-stage codegen. The
    summation order is the fold's own ((0+x₁)+x₂)+…, every term kept
    (including zero weights), so the result is bit-identical to
    `dot(as_double(a), lit_vector(vec))` and oracles are unaffected.

    DIMENSION CAP (measured round 8): the sequential chain is a
    dim-deep expression tree, and Spark 4's recursive column-node
    converter overflows the driver stack somewhere above ~300 terms
    (dim 384 → StackOverflowError before the plan even analyzes).
    The depth is the PRICE of bit-exact fold order — a balanced tree
    would be shallow but sums in a different order. For wide
    production embeddings use operators/ann.py::dense_scores_arrow
    (one BLAS matvec per Arrow batch) and keep this form for the
    oracle-matched dims.
    """
    s: Column = F.lit(0.0)
    for i, v in enumerate(vec):
        s = s + F.element_at(a, i + 1).cast("double") * F.lit(float(v))
    return s


def euclidean(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
