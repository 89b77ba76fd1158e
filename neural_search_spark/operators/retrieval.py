"""Retrieval operators — the "joins" of this engine (SURVEY.md §2.3).

Ranked retrieval = similarity join between one query and the corpus,
truncated to top-k. Each operator returns a DataFrame
``(id, score double, …)`` sorted desc by score with a deterministic id
tie-break, mirroring the reference's collectors.

Scale shape: `score → orderBy → limit(k)` compiles to Spark's
`TakeOrderedAndProject` — per-partition partial top-k heaps followed by
a single tiny driver merge, the exact analogue of the reference's
per-segment heaps + TopDocsMerger
(`search/collector/HybridTopScoreDocCollector.java:33-90`,
`search/query/TopDocsMerger.java:63-110`) — no full sort, no big
shuffle, scales to arbitrary corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V

DEFAULT_K = 10  # reference default: query/NeuralQueryBuilder.java:137


def _topk(df: DataFrame, k: int, score_col: str = "score", id_col: str = "doc_id") -> DataFrame:
    return df.orderBy(F.col(score_col).desc(), F.col(id_col)).limit(k)


def token_frame(spark, tokens: dict[str, float]) -> DataFrame:
    """(token, qw) rows built from literal structs with `F.inline`, NOT
    `createDataFrame` (which round-trips a Python RDD: an extra
    Python-worker scan stage). Its plan is `Range (0, 1, splits=<cores>)`
    under a `Generate inline`, not a LocalRelation, and broadcasting it
    runs a Spark job (so does broadcasting a `VALUES` LocalRelation).
    Used where the query weights join per-token stats (more_like_this
    text, the SEISMIC probe and its explain). A query that only needs to
    restrict a frame to its tokens filters with `token_in_sql` instead,
    which runs none: every BM25 scorer does."""
    return spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("token"), F.lit(float(w)).cast("double").alias("qw")
                    )
                    for t, w in tokens.items()
                ]
            )
        )
    )


def sql_string(s: str) -> str:
    """`s` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def token_in_sql(tokens) -> str:
    """`token IN (...)` over literal strings (FALSE for no tokens): a
    filter inside the scan of the frame it restricts."""
    if not tokens:
        return "FALSE"
    return "token IN (" + ", ".join(sql_string(t) for t in tokens) + ")"


def _weighted_scores(
    postings: DataFrame, query_tokens: dict[str, float], id_col: str
) -> DataFrame:
    """(id, score = Σ weight · q_w(token)) over the postings of the
    query's tokens: the token filter and the weights (one literal map)
    in SQL text, one parse each instead of a Column tree per token."""
    qw = "0.0D"  # no tokens: no rows pass the filter
    if query_tokens:
        pairs = (f"{sql_string(t)}, {V.double_sql(w)}" for t, w in query_tokens.items())
        qw = f"map({', '.join(pairs)})[token]"
    return (
        postings.where(F.expr(token_in_sql(query_tokens)))
        .groupBy(id_col)
        .agg(F.expr(f"sum(weight * {qw})").alias("score"))
    )


def dense_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = DEFAULT_K,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    pre_filter: Column | None = None,
    min_score: float | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """`neural` dense query (R1): embed → similarity → top-k.

    Parity: `query/NeuralQueryBuilder.java:887-966` (rewrite to kNN) with
    `filter` (P1, :645-646) applied BEFORE ranking so Catalyst pushes it
    into the parquet scan, and `min_score` (P4, :633-636) as a
    post-similarity predicate.
    """
    if metric == "cosine":
        sim = F.expr(V.cosine_lit_sql(vec_col, query_vec))
    else:
        sim = -V.euclidean(V.as_double(F.col(vec_col)), V.lit_vector(query_vec))
    out = corpus
    if pre_filter is not None:
        out = out.where(pre_filter)
    out = out.select(F.col(id_col), sim.alias("score"))
    if min_score is not None:
        out = out.where(F.col("score") >= min_score)
    return _topk(out, k, id_col=id_col)


def matryoshka_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = DEFAULT_K,
    prefix_dim: int = 16,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
) -> DataFrame:
    """Matryoshka (MRL) two-phase retrieval: rank on the FIRST
    `prefix_dim` dimensions (a prefix of an MRL-trained embedding is
    itself a valid lower-fidelity embedding), then exact-rescore the
    `shortlist` survivors on the full vector.

    At 100 TB the prefix scan reads prefix_dim/D of the vector bytes
    (with a column layout that stores the prefix separately, e.g. a
    16-dim "head" column, it is literally a narrower scan), and the
    full vectors are touched for ≤ shortlist rows — the same two-tier
    read discipline as PQ-ADC/SQ8 with zero quantization error in
    phase 2. Phase-1 scores are plain double cosine over `slice()`,
    so the shortlist is engine-deterministic (ties → lowest id)."""
    q_pre = V.lit_vector([float(x) for x in query_vec[:prefix_dim]])
    pre = V.as_double(F.slice(F.col(vec_col), 1, prefix_dim))
    short = (
        corpus.select(F.col(id_col), V.cosine(pre, q_pre).alias("approx"))
        .orderBy(F.col("approx").desc(), F.col(id_col))
        .limit(shortlist)
    )
    q = V.lit_vector([float(x) for x in query_vec])
    rescored = short.join(
        corpus.select(id_col, vec_col), id_col
    ).select(
        F.col(id_col),
        V.cosine(V.as_double(F.col(vec_col)), q).alias("score"),
    )
    return _topk(rescored, k, id_col=id_col)


def radial_search(
    corpus: DataFrame,
    query_vec: list[float],
    min_score: float | None = None,
    max_distance: float | None = None,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
) -> DataFrame:
    """Radial (range) search (P4): threshold instead of top-k.

    Parity: `query/NeuralQueryBuilder.java:633-636` — `min_score` on
    cosine similarity or `max_distance` on euclidean distance; NO limit.
    """
    q = V.lit_vector(query_vec)
    emb = V.as_double(F.col(vec_col))
    if max_distance is not None:
        score = -V.euclidean(emb, q)
        out = corpus.select(F.col(id_col), score.alias("score")).where(
            F.col("score") >= -max_distance
        )
    else:
        score = V.cosine(emb, q)
        out = corpus.select(F.col(id_col), score.alias("score")).where(
            F.col("score") >= float(min_score)
        )
    return out.orderBy(F.col("score").desc(), F.col(id_col))


def sparse_topk_postings(
    postings: DataFrame,
    query_tokens: dict[str, float],
    k: int = DEFAULT_K,
    id_col: str = "doc_id",
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """`neural_sparse` exact scoring (R3) over posting-form storage.

    score(doc) = Σ_t q_w(t)·d_w(t) over intersecting tokens — the Lucene
    FeatureField linear disjunction
    (`query/NeuralSparseQueryBuilder.java:569-590`).

    Scale shape: a literal `token IN (...)` filter reads only the
    matching postings (with the postings table partitioned and sorted
    by token, only their row groups or cached batches), then one
    partial-aggregated groupBy(doc) and a TakeOrdered top-k.
    """
    if candidate_ids is not None:
        # P2 hybrid filter pushdown: restrict postings to allowed docs
        # BEFORE scoring (`query/HybridQueryBuilder.java:117-128`)
        postings = postings.join(F.broadcast(candidate_ids.select(id_col)), id_col, "semi")
    return _topk(_weighted_scores(postings, query_tokens, id_col), k, id_col=id_col)


def two_phase_sparse(
    postings: DataFrame,
    query_tokens: dict[str, float],
    k: int = DEFAULT_K,
    prune_ratio: float = 0.4,
    expansion_rate: float = 5.0,
    max_window: int = 10000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Two-phase sparse rescore (R10).

    Parity: `processor/NeuralSparseTwoPhaseProcessor.java:105-252` —
    phase 1 scores with the HIGH-weight query tokens only
    (max_ratio prune, default 0.4); the top `window = k × expansion_rate`
    (default 5.0, cap 10000) candidates are then rescored with the FULL
    token set and re-sorted.

    Scale shape: phase 1 touches few (expensive, high-weight) postings;
    phase 2 is a semi-join of the small window against the remaining
    postings — the full corpus is never scored with the full query.
    """
    mx = max(query_tokens.values())
    high = {t: w for t, w in query_tokens.items() if w >= prune_ratio * mx}
    window = min(int(k * expansion_rate), max_window)
    phase1 = sparse_topk_postings(postings, high, k=window, id_col=id_col).select(id_col)
    # rescore ONLY the window with the full token map
    window_postings = postings.join(F.broadcast(phase1), id_col)
    return _topk(_weighted_scores(window_postings, query_tokens, id_col), k, id_col=id_col)


def dense_rescore_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = DEFAULT_K,
    oversample: float = 3.0,
    quant_bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dense two-phase rescore (the kNN `rescore` context of
    `query/NeuralQueryBuilder.java:649-650`): phase 1 ranks with a
    CHEAP quantized dot product and keeps k × oversample candidates;
    phase 2 recomputes exact cosine on that window only and re-sorts.

    Scale shape: the full corpus is touched only by the quantized
    scorer (int arithmetic, ~1/4 the bytes when the layout stores the
    quantized copy); the exact scorer sees k×oversample rows.
    """
    q = V.lit_vector(query_vec)
    emb = V.as_double(F.col(vec_col))
    scale = float(2 ** (quant_bits - 1) - 1)
    # symmetric per-component quantization to [-scale, scale]
    quant = F.transform(emb, lambda x: F.round(x * scale).cast("int"))
    qquant = F.transform(q, lambda x: F.round(x * scale).cast("int"))
    cheap = F.aggregate(
        F.zip_with(quant, qquant, lambda a, b: (a * b).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    window = int(k * oversample)
    phase1 = (
        corpus.select(F.col(id_col), F.col(vec_col), cheap.alias("cheap_score"))
        .orderBy(F.col("cheap_score").desc(), F.col(id_col))
        .limit(window)
    )
    exact = phase1.select(
        F.col(id_col), V.cosine(V.as_double(F.col(vec_col)), q).alias("score")
    )
    return _topk(exact, k, id_col=id_col)


def chunk_max_topk(
    chunk_scores: DataFrame,
    k: int = DEFAULT_K,
    id_col: str = "doc_id",
) -> DataFrame:
    """Nested-chunk scoring (R2): parent score = MAX over chunk scores.

    Parity: `query/NeuralQueryBuilder.java:767-841` — `ScoreMode.Max`
    over nested chunk hits. Input: (id, chunk_idx, score) rows.
    """
    return _topk(
        chunk_scores.groupBy(id_col).agg(F.max("score").alias("score")),
        k,
        id_col=id_col,
    )


def late_interaction_topk(
    corpus: DataFrame,
    query_vecs: list[list[float]],
    k: int = DEFAULT_K,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
) -> DataFrame:
    """ColBERT-style late-interaction (MaxSim) retrieval.

    ``corpus`` holds one row per (doc, token-vector); the query is a
    small bag of vectors. score(doc) = Σ_q max_{t∈doc} cosine(q, t).

    Extends the reference's multi-vector surface: the `semantic` field
    stores per-chunk vectors scored with ScoreMode.Max
    (`query/NeuralQueryBuilder.java:767-841` — max over ONE query
    vector); MaxSim generalizes to a bag of query vectors with
    sum-of-maxes, the late-interaction model of ColBERT
    (Khattab & Zaharia, SIGIR 2020).

    Scale shape: the query vectors ride in the plan as literals
    (inference hoisting — no join, no broadcast), each per-(doc,q) max
    is a conditional aggregation column, so the whole operator is ONE
    map-side-combined shuffle on doc_id followed by
    TakeOrderedAndProject. No (corpus × query) row blowup is ever
    materialized: the similarity columns are computed inside one
    projection over the token-vector scan.
    """
    v = V.as_double(F.col(vec_col))
    sims = corpus.select(
        F.col(id_col),
        *[
            V.cosine(v, V.lit_vector(q)).alias(f"_s{i}")
            for i, q in enumerate(query_vecs)
        ],
    )
    agg = sims.groupBy(id_col).agg(
        *[F.max(F.col(f"_s{i}")).alias(f"_m{i}") for i in range(len(query_vecs))]
    )
    score = F.col("_m0")
    for i in range(1, len(query_vecs)):
        score = score + F.col(f"_m{i}")
    return _topk(agg.select(F.col(id_col), score.alias("score")), k, id_col=id_col)
