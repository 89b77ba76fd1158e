"""Approximate nearest-neighbor search over embedding columns.

Three tiers (SURVEY.md §7 step 9 / BASELINE.json north star):
- brute-force cosine top-k — the exact baseline (retrieval.dense_topk);
- IVF (inverted-file): corpus pre-assigned to centroid cells, query
  probes the closest few cells — the partition-pruning path: with the
  assigned table written partitioned/bucketed by `cluster_id`, the
  probe filter prunes ~(1 − nprobe/ncells) of the data BEFORE any scan;
- sign-random-projection LSH buckets: deterministic md5-derived
  hyperplanes; near-dup / top-k candidates only meet within a bucket —
  linear-time, join-based, no O(n²).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import (
    as_double,
    cosine_lit_sql,
    dot,
    dot_sql,
    l2_norm,
    vector_sql,
)


def ivf_cell(
    centroids: list[tuple[int, list[float]]], vec_col: str = "embedding"
) -> Column:
    """The int id of the vector's max-cosine centroid, as one SQL
    expression: argmax via array_max over (sim, -cid) structs — linear
    expression size (a when-chain would double the tree per centroid),
    ties break to the LOWEST centroid id, matching a (sim DESC, cid
    ASC) rank; a zero-norm vector (NULL cosines) falls to the lowest id."""
    entries = ", ".join(
        f"named_struct('sim', coalesce({cosine_lit_sql(vec_col, cvec)},"
        f" CAST('-Infinity' AS DOUBLE)), 'ncid', {-int(cid)})"
        for cid, cvec in centroids
    )
    return F.expr(f"CAST(-(array_max(array({entries})).ncid) AS INT)")


def ivf_assign(
    embs: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its max-cosine centroid → (id, cluster_id).

    Deterministic centroid list is supplied by the caller (e.g. first K
    stored vectors, or KMeans output). At scale, write the result
    partitioned by cluster_id so probes prune partitions.
    """
    return embs.select(F.col(id_col), ivf_cell(centroids, vec_col).alias("cluster_id"))


def dense_scores_arrow(
    embs: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, score): dot(embedding, query) as one BLAS matvec per
    Arrow batch — the WIDE-embedding scoring path.

    functions/vector.py::dot_lit is the right form at the contract
    dims (bit-exact fold order, whole-stage codegen), but its
    sequential chain is a dim-deep expression tree and Spark's
    recursive column converter overflows the driver stack above ~300
    terms (measured at dim 384, round 8). Production embeddings are
    384-1536 wide, so the scale scripts score through this kernel:
    O(batch·dim) contiguous float64 work, no expression tree at all.
    BLAS sums in a different order than the fold, so scores can
    differ from dot_lit by ~1 ulp — use for measurements and
    production top-k, not for oracle-hash-matched contract queries
    at dim 32."""
    import numpy as np
    import pandas as pd

    q = np.asarray(query_vec, dtype=np.float64)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            yield pd.DataFrame({id_col: pdf[id_col], "score": V @ q})

    # id dtype follows the input schema (int32 / string ids pass
    # through untouched), not a hardcoded bigint
    id_type = embs.schema[id_col].dataType.simpleString()
    return embs.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, score double"
    )


def ivf_assign_arrow(
    embs: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vectorized ingest-time IVF assignment: one numpy matmul per
    Arrow batch instead of |C| struct expressions per row.

    `ivf_assign`'s expression form is right for the handful of
    centroids a contract query carries, but its plan grows linearly
    with |C| (256 centroids × a 32-term cosine each = an 8k-node
    projection per row). Ingest-time assignment at index-build scale
    wants the Arrow batch form: normalize the centroid matrix once
    per executor, then each batch is a single (B×d)·(d×|C|) matmul +
    argmax. Same contract as ivf_assign — max cosine, ties to the
    LOWEST centroid id (np.argmax keeps the first maximum and the
    centroid matrix is laid out in ascending-cid order); zero-norm
    vectors get sim 0 everywhere and fall to the lowest cid, matching
    the coalesce(-inf) tie chain. Note the two forms sum in different
    FP orders (normalize-then-BLAS-matmul here vs a sequential dot
    fold divided by norms in ivf_assign), so a vector whose top two
    cells tie within ~1 ulp may legitimately assign differently;
    tests/test_vector_unrolled.py pins equality on data whose argmax
    gaps dwarf that."""
    import numpy as np
    import pandas as pd

    order = sorted(centroids, key=lambda c: c[0])
    cids = np.array([c for c, _ in order], dtype=np.int64)
    C = np.array([v for _, v in order], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:  # norm(axis=1) raises AxisError on 0-row 1-D
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nrm = np.linalg.norm(V, axis=1, keepdims=True)
            np.divide(V, nrm, out=V, where=nrm != 0)
            best = cids[np.argmax(V @ Cn.T, axis=1)]
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cluster_id": best.astype("int32")}
            )

    return embs.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} long, cluster_id int"
    )


def ivf_probe(
    centroids: list[tuple[int, list[float]]], query_vec: list[float], nprobe: int
) -> list[int]:
    """The ids of the `nprobe` cells whose centroids have the highest
    cosine to the query, ties to the lowest id — computed on the
    driver, |C| small dot products."""
    import math

    def cos_py(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    ranked = sorted(centroids, key=lambda c: (-cos_py(query_vec, c[1]), c[0]))
    return [cid for cid, _ in ranked[:nprobe]]


def ivf_topk(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search → (doc_id, score): keep the rows of the `nprobe`
    cells closest to the query, exact cosine inside, top-k.

    `assigned` is a frame already assigned to the `centroids`' cells
    (a `cluster_id` column from `ivf_cell` / `ivf_assign`), built once
    per index — the engine's in-memory cells artifact, or a table
    written partitioned by cluster_id, where the probe filter becomes
    partition pruning. The query then costs ~nprobe/ncells of brute
    force and evaluates no centroid cosine at all."""
    return (
        assigned.where(F.col("cluster_id").isin(ivf_probe(centroids, query_vec, nprobe)))
        .select(
            F.col(id_col).alias("doc_id"),
            F.expr(cosine_lit_sql(vec_col, query_vec)).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )


def knn_join(
    embs: DataFrame,
    centroids: list[tuple[int, list[float]]],
    m: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate kNN-JOIN: top-m cosine neighbors for EVERY row,
    candidates blocked by shared IVF cell.

    The all-pairs similarity graph is the backbone op of training-data
    pipelines (near-dup clustering, label propagation, diversity
    sampling). Blocking by cluster turns O(n²) into Σ|cell|² — with
    balanced cells, n²/ncells — and at scale each cell's self-join is
    co-located when the table is partitioned by cluster_id.
    Recall < 1 for pairs straddling cell boundaries (probe >1 cells or
    use SRP-OR for higher recall).
    """
    from .dedup import unit_vectors

    assigned = ivf_assign(embs, centroids, id_col, vec_col)
    unit = unit_vectors(embs, id_col, vec_col)
    side = unit.join(assigned, id_col)
    a = side.select(
        F.col("cluster_id"), F.col(id_col).alias("a"), F.col("unit").alias("ua")
    )
    b = side.select(
        F.col("cluster_id"), F.col(id_col).alias("b"), F.col("unit").alias("ub")
    )
    pairs = (
        a.join(b, ["cluster_id"])
        .where(F.col("a") != F.col("b"))
        .select("a", "b", dot(F.col("ua"), F.col("ub")).alias("score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("a").orderBy(F.col("score").desc(), F.col("b"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= m)
        .orderBy("a", "rank")
    )


def _srp_planes(dim: int, n_planes: int, seed: str = "srp") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — components in
    [-0.5, 0.5), reproducible across runs and languages."""
    planes = []
    for p in range(n_planes):
        comps = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            comps.append(int(h[:8], 16) / float(0xFFFFFFFF) - 0.5)
        planes.append(comps)
    return planes


def lsh_bucketed_neardup(
    embs: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate embedding near-dup: pairs meet only inside an SRP
    bucket, then exact cosine filters. Linear-time candidate
    generation — the 100 TB replacement for the brute-force O(n²) pass
    (recall < 1.0: pairs split across buckets are missed; raise
    n_planes bands or OR multiple tables for higher recall).

    bucket + unit vector are computed in ONE projection over the scan
    (no id-join between derived frames): the only shuffle in the plan
    is the bucket hash for the self-join.

    The plane-sign bits are assembled as ONE SQL expression string
    (r10 batch 3 — the single-parse pattern of lsh_topk): the
    Column-per-plane loop cost ~0.8 s of driver py4j time per query at
    8 planes × 64 dims. Identical fold, identical bits."""
    from ..functions.common import let

    v = as_double(F.col(vec_col))
    bits = ", ".join(
        f"CASE WHEN {dot_sql('__v', vector_sql(plane))} >= 0.0D THEN '1' ELSE '0' END"
        for plane in _srp_planes(dim, n_planes)
    )
    with_vec = embs.select(
        F.col(id_col), v.alias("__v")
    ).select(
        F.col(id_col),
        F.expr(f"concat({bits})").alias("bucket"),
        let(
            l2_norm(F.col("__v")),
            lambda nrm: F.transform(F.col("__v"), lambda x: x / nrm),
        ).alias("unit"),
    )
    a = with_vec.select(
        F.col("bucket"), F.col(id_col).alias("a"), F.col("unit").alias("ua")
    )
    b = with_vec.select(
        F.col("bucket"), F.col(id_col).alias("b"), F.col("unit").alias("ub")
    )
    return (
        a.join(b, ["bucket"])
        .where(F.col("a") < F.col("b"))
        .withColumn("cos", dot(F.col("ua"), F.col("ub")))
        .where(F.col("cos") >= threshold)
        .select("a", "b", F.col("cos").alias("cosine"))
    )


def lsh_multitable_neardup(
    embs: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """OR-composition of `n_tables` independent SRP hash tables: a pair
    becomes a candidate if it collides in ANY table, so recall
    compounds as 1−(1−p^b)^T (the standard LSH amplification the
    single-table variant lacks). Plan shape: ONE projection computes
    the unit vector and all T bucket ids, `posexplode` lays them out as
    (table, bucket, id), and a single self-equi-join on (table, bucket)
    generates candidates — one shuffle, linear in T·n. Candidate pairs
    dedup on (a, b) BEFORE the exact-cosine verify, so each pair pays
    the D-dim dot product once no matter how many tables it collides
    in."""
    from ..functions.common import let

    v = as_double(F.col(vec_col))
    tables_sql = []
    for t in range(n_tables):
        bits = ", ".join(
            f"CASE WHEN {dot_sql('__v', vector_sql(plane))} >= 0.0D THEN '1' ELSE '0' END"
            for plane in _srp_planes(dim, n_planes, seed=f"srp{t}")
        )
        tables_sql.append(f"concat({bits})")
    with_vec = embs.select(F.col(id_col), v.alias("__v")).select(
        F.col(id_col),
        F.expr("array(" + ", ".join(tables_sql) + ")").alias("_buckets"),
        let(
            l2_norm(F.col("__v")),
            lambda nrm: F.transform(F.col("__v"), lambda x: x / nrm),
        ).alias("unit"),
    )
    laid_out = with_vec.select(
        F.col(id_col),
        "unit",
        F.posexplode(F.col("_buckets")).alias("table", "bucket"),
    )
    a = laid_out.select(
        "table", "bucket", F.col(id_col).alias("a"), F.col("unit").alias("ua")
    )
    b = laid_out.select(
        "table", "bucket", F.col(id_col).alias("b"), F.col("unit").alias("ub")
    )
    cands = (
        a.join(b, ["table", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "ua", "ub")
        .dropDuplicates(["a", "b"])
    )
    return (
        cands.withColumn("cos", dot(F.col("ua"), F.col("ub")))
        .where(F.col("cos") >= threshold)
        .select("a", "b", F.col("cos").alias("cosine"))
    )


def lsh_multitable_neardup_blocked(
    embs: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_rows: int | None = None,
) -> DataFrame:
    """`lsh_multitable_neardup` with BLOCK-LOCAL scoring: the same
    candidate semantics (OR over n_tables SRP hash tables,
    equivalence-tested) and bit-identical cosines, computed by two
    `mapInArrow` kernels instead of per-pair expressions.

    1. Layout kernel over (id, vector): per Arrow batch, every T×P
       plane dot in one dimension-sequential fold (acc += x_i·p_i, i in
       order — `dot_sql`'s association, so each sign bit equals the
       SQL's), each table's P bits packed into an integer bucket id, and
       the unit vector once per row (sequential sum of squares, then an
       element-wise divide, mirroring `_SQL_UNIT`). Emits
       (id, table, bucket, unit), checkpointed once for the grid.
    2. Grid, one path for every bucket: `max_block_rows` (B) is the
       hot-bucket skew guard. A groupBy aggregation group is atomic —
       one task, an n×n score matrix, no help from AQE — so a viral
       template duplicated millions of times would pin one executor.
       Each bucket of cnt rows is cut into ⌈cnt/B⌉ hash-assigned blocks
       (xxhash64(id) mod nblocks: B rows IN EXPECTATION, no window pass
       that would serialize the hot bucket) and every block-grid cell
       (bn_a ≤ bn_b) scores only its ~B×B pairs. A bucket with cnt ≤ B
       is one diagonal cell; B=None makes every bucket one cell.
    3. Score kernel over the cells, clustered and sorted by
       (table, bucket, bn_a, bn_b): it walks the contiguous key runs
       (a run may straddle Arrow batches) and scores each with the
       sequential fold S += u_i ⊗ u_i — the upper triangle of a
       diagonal cell, A×B off the diagonal. One (a, b) dedup follows:
       a pair can collide in several tables.

    Bucket sizes come from a groupBy count shuffle-joined back on
    (table, bucket): its partial aggregation counts even the hot bucket
    distributed, where a window count would route it through one task.
    Pair coverage is assignment-independent — rows x (block i) and
    y (block j, i ≤ j) meet in exactly cell (i, j): x replicates as A
    to (i, k ≥ i) and as B to (k < i, i), ONE explode with ~nblocks
    copies per row, never nblocks² — so the pair set and every cosine
    are bit-identical at any B (equivalence-tested at B ∈ {1, 7, 10⁴});
    total work stays Σ|bucket|², per-task memory ~B².
    """
    import numpy as np
    import pyarrow as pa

    from .cluster import _list_col_matrix

    T, P = n_tables, n_planes
    if P > 63:
        raise ValueError(f"n_planes={P}: a bucket id packs at most 63 plane bits")
    planes = np.array(
        [p for t in range(T) for p in _srp_planes(dim, P, seed=f"srp{t}")]
    )  # (T·P, dim), table-major
    weights = np.left_shift(1, np.arange(P - 1, -1, -1, dtype=np.int64))

    def layout(batches):
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            X = _list_col_matrix(np, b.column(1))
            acc = np.zeros((n, len(planes)))
            norm2 = np.zeros(n)
            for i in range(dim):  # sequential dims = the SQL fold
                acc = acc + X[:, i, None] * planes[None, :, i]
                norm2 = norm2 + X[:, i] * X[:, i]
            bits = (acc >= 0.0) | np.isnan(acc)  # Spark orders NaN above 0
            bucket = (bits.reshape(n, T, P) * weights).sum(axis=2)
            U = np.repeat(X / np.sqrt(norm2)[:, None], T, axis=0)
            yield pa.record_batch({
                "id": pa.array(np.repeat(b.column(0).to_numpy(), T), pa.int64()),
                "table": pa.array(np.tile(np.arange(T, dtype=np.int32), n)),
                "bucket": pa.array(bucket.reshape(-1)),
                "unit": pa.ListArray.from_arrays(
                    pa.array(np.arange(0, U.size + 1, dim, dtype=np.int32)),
                    pa.array(U.reshape(-1)),
                ),
            })

    laid = embs.select(id_col, vec_col).mapInArrow(
        layout, "id long, table int, bucket long, unit array<double>"
    )
    if max_block_rows is None:
        nblocks = F.lit(1)
    else:
        # the size count and the join probe both read the bucketed frame:
        # checkpoint it so the plane fold runs once per execution
        laid = laid.localCheckpoint(eager=True)
        sizes = laid.groupBy("table", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
        laid = laid.join(sizes, ["table", "bucket"])
        nblocks = (
            ((F.col("cnt") - F.lit(1)) / F.lit(max_block_rows)).cast("int")
            + F.lit(1)
        )
    keys = ["table", "bucket", "bn_a", "bn_b"]
    cells = (
        laid.withColumn("bn", F.pmod(F.xxhash64(F.col("id")), nblocks).cast("int"))
        .withColumn("nbm", nblocks - F.lit(1))
        .select(
            "table", "bucket", "id", "unit",
            F.explode(F.expr(
                "concat("
                " transform(sequence(bn, nbm),"
                "           j -> struct(bn AS bn_a, j AS bn_b, true AS is_a)),"
                " CASE WHEN bn > 0 THEN"
                "   transform(sequence(0, bn - 1),"
                "             i -> struct(i AS bn_a, bn AS bn_b, false AS is_a))"
                " ELSE array() END)"
            )).alias("c"),
        )
        .select("table", "bucket", "c.bn_a", "c.bn_b", "id", "unit", "c.is_a")
    )

    def score_run(ids, is_a, U, diag):
        if diag:  # every row of a diagonal cell is an A row
            ia, ib = np.triu_indices(len(U), 1)
            Ua, Ub = U, U
        else:
            ia, ib = np.flatnonzero(is_a), np.flatnonzero(~is_a)
            Ua, Ub = U[ia], U[ib]
        S = np.zeros((len(Ua), len(Ub)))
        for i in range(U.shape[1]):  # sequential dims = the SQL fold
            S = S + Ua[:, i, None] * Ub[None, :, i]
        if diag:
            cos = S[ia, ib]
            hit = np.flatnonzero(cos >= threshold)
            x, y, cos = ids[ia[hit]], ids[ib[hit]], cos[hit]
        else:
            ra, rb = np.nonzero(S >= threshold)
            x, y, cos = ids[ia[ra]], ids[ib[rb]], S[ra, rb]
        return np.minimum(x, y), np.maximum(x, y), cos

    def emit(parts):
        a, b, cos = (np.concatenate(c) for c in zip(*parts))
        return pa.record_batch({
            "a": pa.array(a, pa.int64()),
            "b": pa.array(b, pa.int64()),
            "cosine": pa.array(cos, pa.float64()),
        })

    def score(batches):
        run_key, run = None, []  # the open run, carried across batches

        def close():
            ids, is_a, U = (np.concatenate(c) for c in zip(*run))
            return score_run(ids, is_a, U, run_key[2] == run_key[3])

        for b in batches:
            if not b.num_rows:
                continue
            k = [b.column(c).to_numpy() for c in keys]
            ids = b.column("id").to_numpy()
            is_a = b.column("is_a").to_numpy(zero_copy_only=False)
            U = _list_col_matrix(np, b.column("unit"))
            edges = np.flatnonzero(np.any([c[1:] != c[:-1] for c in k], axis=0)) + 1
            out = []
            for s, e in zip([0, *edges], [*edges, b.num_rows]):
                key = tuple(int(c[s]) for c in k)
                if key != run_key:
                    if run:
                        out.append(close())
                    run_key, run = key, []
                run.append((ids[s:e], is_a[s:e], U[s:e]))
            if out:
                yield emit(out)
        if run:
            yield emit([close()])

    return (
        cells.repartition(*keys)
        .sortWithinPartitions(*keys)
        .mapInArrow(score, "a long, b long, cosine double")
        .dropDuplicates(["a", "b"])
    )



def lsh_topk(
    embs: DataFrame,
    qv: list[float],
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query-time SRP-LSH top-k: hash the query into its bucket per
    table on the DRIVER (planes are deterministic md5 literals), scan
    only rows whose bucket matches in ANY table, exact-cosine the
    candidates, top-k.

    The bucket predicate is a pure column expression over the scan —
    candidate generation is a filter (no shuffle, no index lookup
    structure), pruning ~(1 − (1 − 2^-n_planes)^n_tables) of the
    corpus; at 100 TB, persisting the bucket ids as table columns
    (sources/layout.py discipline) turns the filter into partition
    pruning. Recall follows the multi-table OR-amplification of
    `lsh_multitable_neardup`.

    The whole predicate is assembled as ONE SQL expression string
    (single parse server-side): building the 16+ hyperplane dot
    products as Column-API higher-order functions costs ~2 s of
    py4j round-trips per query on the driver — 5× the actual
    execution time — while one `F.expr` parse is milliseconds.
    """
    dim = len(qv)

    vec_sql = f"transform({vec_col}, x -> CAST(x AS double))"
    table_eqs = []
    for t in range(n_tables):
        planes = _srp_planes(dim, n_planes, seed=f"srp{t}")
        qbits = "".join(
            "1" if sum(q * p for q, p in zip(qv, plane)) >= 0.0 else "0"
            for plane in planes
        )
        bits = ", ".join(
            f"CASE WHEN {dot_sql(vec_sql, vector_sql(plane))} >= 0.0D"
            " THEN '1' ELSE '0' END"
            for plane in planes
        )
        table_eqs.append(f"(concat({bits}) = '{qbits}')")
    cond = F.expr(" OR ".join(table_eqs))
    return (
        embs.where(cond)
        .select(
            F.col(id_col).alias("doc_id"),
            F.round(F.expr(cosine_lit_sql(vec_col, qv)), 4).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )
