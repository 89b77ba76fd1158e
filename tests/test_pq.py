"""Product-quantization ANN: recall gate (k-means codebooks), encode
determinism, and oracle parity for the sample-codebook registry query."""

from __future__ import annotations

from neural_search_spark import catalog, registry
from neural_search_spark.operators import pq as PQ
from neural_search_spark.operators import retrieval as R

from .conftest import SF_SMOKE
from .oracle_check import compare


def test_pq_recall_with_rescore(spark):
    """k-means-trained PQ + exact rescore must recover ≥0.9 of the
    brute-force top-10 (production config; the registry query's fixed
    sample codebooks are the SQL-parity variant)."""
    embs = catalog.table(spark, SF_SMOKE, "embeddings")
    qv = catalog.query_vector(spark, SF_SMOKE, registry.QUERY_VEC_ID)
    # synthetic near-random embeddings are PQ's hardest case (no cluster
    # structure): K=64 centroids/subspace + 20% shortlist gives recall
    # 1.0 here; at 0.9 the gate still catches any encode/ADC regression
    books = PQ.train_codebooks(embs, k=64, sample_n=512)
    codes = PQ.encode_pq(embs, books)
    approx = PQ.pq_adc_topk(codes, embs, books, qv, k=10, shortlist=100)
    exact = R.dense_topk(embs.withColumnRenamed("vec_id", "doc_id"), qv, k=10)
    a = {r["doc_id"] for r in approx.collect()}
    e = {r["doc_id"] for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.9, (sorted(a), sorted(e))


def test_pq_encode_deterministic(spark):
    embs = catalog.table(spark, SF_SMOKE, "embeddings")
    books = PQ.sample_codebooks(embs)
    c1 = sorted(map(tuple, ((r["vec_id"], tuple(r["codes"])) for r in PQ.encode_pq(embs, books).collect())))
    c2 = sorted(map(tuple, ((r["vec_id"], tuple(r["codes"])) for r in PQ.encode_pq(embs, books).collect())))
    assert c1 == c2
    m = len(books)
    k = len(books[0])
    for _, codes in c1:
        assert len(codes) == m
        assert all(0 <= c < k for c in codes)


def test_pq_codes_compress(spark):
    """M int codes per vector — the 32× memory story at 100 TB."""
    embs = catalog.table(spark, SF_SMOKE, "embeddings")
    books = PQ.sample_codebooks(embs)
    row = PQ.encode_pq(embs, books).first()
    assert len(row["codes"]) == PQ.DEFAULT_M


def test_pq_oracle_smoke(spark):
    df = registry.q_ann_pq(spark, SF_SMOKE)
    ok, msg = compare(df, registry.ORACLES["ann_pq_topk"], SF_SMOKE)
    assert ok, msg


def test_ivfpq_recall_and_prune(spark):
    """IVF-PQ combined tier: within the probed cells the PQ/shortlist
    stage must recover ≥0.9 of what exact-scoring those same cells
    returns (plain IVF at the same nprobe) — isolating the PQ tier
    from the IVF probe ceiling, which on these near-random synthetic
    embeddings is data-bound (no cluster structure), not a code
    property. Also: the probe filter really prunes the codes scan."""
    embs = catalog.table(spark, SF_SMOKE, "embeddings")
    qv = catalog.query_vector(spark, SF_SMOKE, registry.QUERY_VEC_ID)
    cents = registry._centroids(spark, SF_SMOKE)
    # production config: k-means codebooks (the registry query's fixed
    # sample codebooks are the SQL-parity variant, coarser by design)
    books = PQ.train_codebooks(embs, k=64, sample_n=512)
    from neural_search_spark.operators import ann as ANN

    codes = PQ.encode_pq(embs, books).join(
        ANN.ivf_assign(embs, cents), "vec_id"
    )
    approx = PQ.ivfpq_topk(
        codes, embs, books, cents, qv, k=10,
        nprobe=registry.IVFPQ_NPROBE, shortlist=100,
    )
    assigned = embs.join(ANN.ivf_assign(embs, cents), "vec_id")
    ivf = ANN.ivf_topk(assigned, cents, qv, k=10, nprobe=registry.IVFPQ_NPROBE)
    a = {r["doc_id"] for r in approx.collect()}
    e = {r["doc_id"] for r in ivf.collect()}
    assert len(a & e) / len(e) >= 0.9, (sorted(a), sorted(e))
    # pruning evidence: probed cells hold strictly fewer rows than corpus
    probed = codes.where(
        codes.cluster_id.isin(
            [c for c, _ in cents][: registry.IVFPQ_NPROBE]
        )
    ).count()
    assert probed < embs.count()


def test_ivfpq_oracle_smoke(spark):
    df = registry.q_ann_ivfpq(spark, SF_SMOKE)
    ok, msg = compare(df, registry.ORACLES["ann_ivfpq_topk"], SF_SMOKE)
    assert ok, msg


def test_sq8_recall_and_compression(spark):
    """SQ8: 8-bit codes + rescore must recover ≥0.9 of brute-force
    top-10 (scalar quantization is near-lossless at 8 bits), and the
    codes are ints in [0, 255]."""
    embs = catalog.table(spark, SF_SMOKE, "embeddings")
    qv = catalog.query_vector(spark, SF_SMOKE, registry.QUERY_VEC_ID)
    mins, maxs, codes = registry._sq8_index(spark, SF_SMOKE)
    approx = PQ.sq8_topk(codes, embs, mins, maxs, qv, k=10, shortlist=50)
    exact = R.dense_topk(embs.withColumnRenamed("vec_id", "doc_id"), qv, k=10)
    a = {r["doc_id"] for r in approx.collect()}
    e = {r["doc_id"] for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.9, (sorted(a), sorted(e))
    row = codes.first()
    assert all(0 <= c <= 255 for c in row["codes"])


def test_sq8_oracle_smoke(spark):
    df = registry.q_ann_sq8(spark, SF_SMOKE)
    ok, msg = compare(df, registry.ORACLES["ann_sq8_topk"], SF_SMOKE)
    assert ok, msg


def test_matryoshka_recall_on_mrl_structured_vectors(spark):
    """The prefix phase only works when the embedding concentrates
    signal in its leading dims (what MRL training produces). On such
    vectors — informative first 16 dims, small noise after — prefix
    ranking + full rescore must recover ≥0.9 of brute-force top-10.
    (On this repo's near-RANDOM synthetic embeddings the prefix carries
    1/4 of the signal and recall is data-bound ~0.4 at a 10% shortlist
    — that is a property of the data, not the operator; the registry
    query is graded on oracle parity, which is exact regardless.)"""
    import numpy as np

    rng = np.random.default_rng(3)
    q = rng.standard_normal(16)
    rows = []
    for i in range(400):
        head = rng.standard_normal(16)
        tail = rng.standard_normal(48) * 0.05  # MRL-style decay
        rows.append((i, [float(x) for x in list(head) + list(tail)]))
    embs = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    qv = [float(x) for x in list(q) + [0.0] * 48]
    approx = R.matryoshka_topk(embs, qv, k=10, prefix_dim=16, shortlist=40)
    exact = R.dense_topk(embs, qv, k=10)
    a = {r["doc_id"] for r in approx.collect()}
    e = {r["doc_id"] for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.9, (sorted(a), sorted(e))


def test_matryoshka_oracle_smoke(spark):
    df = registry.q_matryoshka(spark, SF_SMOKE)
    ok, msg = compare(df, registry.ORACLES["matryoshka_topk"], SF_SMOKE)
    assert ok, msg


def test_bq_recall_and_shortlist_determinism(spark, sf_dir):
    """BQ shortlist must be a deterministic integer ordering and the
    rescored top-k must hit decent recall vs brute force."""
    from neural_search_spark import catalog, registry
    from neural_search_spark.functions.vector import as_double, cosine, lit_vector
    from neural_search_spark.operators import pq as PQ
    from pyspark.sql import functions as F

    embs = catalog.table(spark, sf_dir, "embeddings")
    qv = registry._qvec(spark, sf_dir)
    codes = PQ.bq_encode(embs)
    got = [r["doc_id"] for r in PQ.bq_topk(codes, embs, qv, k=10, shortlist=50).collect()]
    again = [r["doc_id"] for r in PQ.bq_topk(codes, embs, qv, k=10, shortlist=50).collect()]
    assert got == again
    brute = [
        r["vec_id"]
        for r in embs.select(
            "vec_id", cosine(as_double(F.col("embedding")), lit_vector(qv)).alias("s")
        ).orderBy(F.col("s").desc(), "vec_id").limit(10).collect()
    ]
    recall = len(set(got) & set(brute)) / 10.0
    assert recall >= 0.5, recall  # 1-bit tier: coarse but useful


def test_ivfpq_arrow_matches_expression_form(spark):
    """The Arrow ADC kernel (large-k path) returns exactly what the
    expression form returns — integer approx_dist is exact under any
    association, so shortlist, rescore and final ranking coincide."""
    embs = catalog.table(spark, SF_SMOKE, "embeddings")
    qv = catalog.query_vector(spark, SF_SMOKE, registry.QUERY_VEC_ID)
    cents = registry._centroids(spark, SF_SMOKE)
    books = PQ.train_codebooks(embs, k=64, sample_n=512)
    from neural_search_spark.operators import ann as ANN

    codes = PQ.encode_pq(embs, books).join(
        ANN.ivf_assign(embs, cents), "vec_id"
    )
    kw = dict(k=10, nprobe=registry.IVFPQ_NPROBE, shortlist=100)
    expr = PQ.ivfpq_topk(codes, embs, books, cents, qv, **kw).collect()
    arrow = PQ.ivfpq_topk_arrow(codes, embs, books, cents, qv, **kw).collect()
    assert [(r["doc_id"], r["score"]) for r in expr] == [
        (r["doc_id"], r["score"]) for r in arrow
    ]


def test_ivfpq_forward_matches_arrow_and_pushes_in_list(spark):
    """ADVICE r9: the forward-index rescore must (a) return exactly
    what ivfpq_topk_arrow returns, and (b) get its point-lookup plan on
    a session that did NOT go through session.py — the In(id, …) list
    must reach the parquet scan's PushedFilters because
    ivfpq_topk_forward raises spark.sql.parquet.pushdown.inFilterThreshold
    at the use-site, not via session construction."""
    embs = catalog.table(spark, SF_SMOKE, "embeddings")
    qv = catalog.query_vector(spark, SF_SMOKE, registry.QUERY_VEC_ID)
    cents = registry._centroids(spark, SF_SMOKE)
    books = PQ.train_codebooks(embs, k=64, sample_n=512)
    from neural_search_spark.operators import ann as ANN

    codes = PQ.encode_pq(embs, books).join(
        ANN.ivf_assign(embs, cents), "vec_id"
    )
    kw = dict(k=10, nprobe=registry.IVFPQ_NPROBE, shortlist=50)
    key = "spark.sql.parquet.pushdown.inFilterThreshold"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "10")  # a vanilla session's default
        fwd = PQ.ivfpq_topk_forward(codes, embs, books, cents, qv, **kw)
        rows = fwd.collect()
        # the use-site override took effect for the rescore plan
        assert int(spark.conf.get(key)) > 50
        plan = fwd._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [In(vec_id" in plan, plan[:2000]
    finally:
        spark.conf.set(key, saved)
    arrow = PQ.ivfpq_topk_arrow(codes, embs, books, cents, qv, **kw).collect()
    assert [(r["doc_id"], r["score"]) for r in rows] == [
        (r["doc_id"], r["score"]) for r in arrow
    ]
