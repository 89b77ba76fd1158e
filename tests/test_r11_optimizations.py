"""Value-equality pins for round-11 rewrites: each optimization that
changed an operator's internals must produce byte/value-identical
results to the formula it replaced."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from neural_search_spark import artifacts
from neural_search_spark import registry as R
from neural_search_spark.operators import bm25 as B

from .conftest import SF_SMOKE


def test_mlt_stats_from_token_dfs_matches_with_empty_docs(spark, tmp_path):
    """_mlt_stats (r11: derived from the _token_dfs term dictionary +
    a postings-distinct doc count) must equal B.mlt_stats row-for-row —
    including on a corpus with EMPTY-TEXT docs, where the naive
    docs.count() would differ from the postings-distinct count that
    both formulas use for __n_docs."""
    fake = tmp_path / "sfmlt"
    fake.mkdir()
    rows = [
        (0, "alpha beta beta", "en", "s1", 15),
        (1, "", "en", "s1", 0),  # empty: no postings, must not count
        (2, "beta gamma", "de", "s2", 10),
        (3, "   ", "en", "s2", 3),  # whitespace-only: likewise
        (4, "alpha alpha delta", "en", "s1", 17),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.mode("overwrite").parquet(str(fake / "documents.parquet"))
    sf = str(fake)
    artifacts.clear(sf)
    try:
        expected = sorted(
            tuple(r) for r in B.mlt_stats(R._postings(spark, sf)).collect()
        )
        got = sorted(tuple(r) for r in R._mlt_stats(spark, sf).collect())
        assert got == expected
        # the guarded discrepancy actually exists on this corpus:
        n_docs = {r[2] for r in got}
        assert n_docs == {3.0}  # 3 docs with postings, not 5
    finally:
        artifacts.clear(sf)


def test_bpe_word_ids_dictionary_matches_inplan_encode(spark):
    """The persisted BPE encode dictionary (r11 `_bpe_word_ids`) must
    map every distinct corpus word to exactly the subword-id sequence
    the in-plan distinct+encode chain produced, and size(ids) must
    equal encode_token_count (F.transform preserves array length) —
    the identities q_transformer_bpe_tokenizer_ids and
    q_bpe_token_count now rely on."""
    from pyspark.sql import functions as F

    from neural_search_spark.functions import bpe as BP
    from neural_search_spark.functions import sparse as S
    from neural_search_spark.functions import tinyformer as _TF

    sf = "/root/testdata/sf0.001"
    merges = R._bpe_merges(spark, sf)
    sym_vocab = R._bpe_symbol_vocab(spark, sf)
    vmap = F.create_map(
        *[x for i, s in enumerate(sym_vocab) for x in (F.lit(s), F.lit(i + 4))]
    )
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    inplan = (
        docs.select(F.explode(S.tokens(F.col("text"))).alias("w"))
        .distinct()
        .select(
            "w",
            F.transform(
                BP.encode_symbols(F.col("w"), merges),
                lambda s: F.coalesce(
                    F.element_at(vmap, s), F.lit(_TF.UNK)
                ).cast("int"),
            ).alias("ids"),
            BP.encode_token_count(F.col("w"), merges).alias("n"),
        )
    )
    expected = {r["w"]: (list(r["ids"]), r["n"]) for r in inplan.collect()}
    got = {
        r["w"]: list(r["ids"]) for r in R._bpe_word_ids(spark, sf).collect()
    }
    assert set(got) == set(expected)
    for w, ids in got.items():
        exp_ids, exp_n = expected[w]
        assert ids == exp_ids, w
        assert len(ids) == exp_n, w


def test_plan_memo_fresh_execution_and_invalidation(spark, tmp_path):
    """The r11 compiled-plan memo must (a) reuse the memoized ANALYZED
    plan on repeat construction, (b) hand every invocation a FRESH
    Dataset so execution replans — re-collecting one Dataset lets the
    DAGScheduler skip already-computed shuffle map stages, which would
    make the memo a result cache — and (c) miss when the corpus
    fingerprint changes (regenerated data)."""
    name = "dedup_exact"  # has a shuffle
    fn = R.SPARK_QUERIES[name]
    sf = "/root/testdata/sf0.001"
    memo = f"plan.{name}"
    fn(spark, sf).collect()  # a first construction may read table schemas
    df1 = fn(spark, sf)
    stored1 = artifacts.peek(sf, memo)
    assert stored1 is not None  # this construction ran no job: stored
    rows1 = df1.collect()
    df2 = fn(spark, sf)
    assert artifacts.peek(sf, memo) is stored1  # memo hit: same analyzed plan
    assert df2 is not df1 and df2 is not stored1  # fresh Dataset per call
    # fresh physical plan per invocation == fresh ShuffleDependencys ==
    # no map-stage reuse (the actual skip mechanism is plan-object id)
    ident = spark._jvm.System.identityHashCode
    p1 = ident(df1._jdf.queryExecution().executedPlan())
    p2 = ident(df2._jdf.queryExecution().executedPlan())
    assert p1 != p2
    assert df2.collect() == rows1  # identical rows, recomputed

    # (c) fingerprint invalidation: copy the corpus, query it, touch a
    # table — the memoized analyzed plan must be replaced
    fake = tmp_path / "sfcopy"
    shutil.copytree(sf, fake)
    fn(spark, str(fake))  # reads the copy's table schemas: jobs, unstored
    fn(spark, str(fake))
    stored_a = artifacts.peek(str(fake), memo)
    assert stored_a is not None
    fn(spark, str(fake))
    assert artifacts.peek(str(fake), memo) is stored_a
    docs = fake / "documents.parquet"
    os.utime(docs, ns=(os.stat(docs).st_mtime_ns + 10**9,) * 2)
    d2 = fn(spark, str(fake))
    assert artifacts.peek(str(fake), memo) is not stored_a
    assert sorted(map(tuple, d2.collect())) == sorted(map(tuple, rows1))


def test_plan_memo_excludes_job_running_constructions(spark):
    """A query whose construction launches Spark jobs (here iterative
    k-means) must NOT be memoized — the memo would shift per-run work
    out of the timed region — however often it is constructed."""
    name = "kmeans_clusters"
    fn = R.SPARK_QUERIES[name]
    sf = SF_SMOKE
    fn(spark, sf).collect()
    assert artifacts.peek(sf, f"plan.{name}") is None
    for _ in range(2):
        fn(spark, sf)
        assert artifacts.peek(sf, f"plan.{name}") is None


def test_plan_memo_stores_only_job_free_constructions(spark, tmp_path):
    """The memo's rule on synthetic builders: a construction that ran a
    Spark job is returned unstored and the next call measures again; the
    first construction that ran none is stored and served from then on."""
    sf = str(tmp_path)
    calls = {"always": 0, "first": 0}

    def always(spark, sf_dir):
        calls["always"] += 1
        spark.range(3).count()
        return spark.range(3)

    def first(spark, sf_dir):
        calls["first"] += 1
        if calls["first"] == 1:
            spark.range(3).count()
        return spark.range(3)

    q = R._plan_memo_wrap("synthetic_always", always)
    for n in range(1, 4):
        assert q(spark, sf).count() == 3
        assert calls["always"] == n
        assert artifacts.peek(sf, "plan.synthetic_always") is None

    q = R._plan_memo_wrap("synthetic_first", first)
    try:
        q(spark, sf)
        assert artifacts.peek(sf, "plan.synthetic_first") is None
        q(spark, sf)
        stored = artifacts.peek(sf, "plan.synthetic_first")
        assert stored is not None and calls["first"] == 2
        assert q(spark, sf).count() == 3  # a hit: the builder is not called
        assert calls["first"] == 2
        assert artifacts.peek(sf, "plan.synthetic_first") is stored
    finally:
        artifacts.clear(sf)


def test_table_count_footer_equals_actual(spark):
    """The skew-guard block knob (q_dedup_simhash_blocked) reads the
    parquet FOOTER rowcount; the footer must equal the actual count on
    both grading fixtures so the knob branches where intended
    (≤1000 docs → block 16, else 256)."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1"):
        actual = spark.read.parquet(
            os.path.join(sf, "documents.parquet")
        ).count()
        # the undecorated builder: a fresh footer read, store untouched
        assert R._table_count.__wrapped__(sf, "documents") == actual
        assert R._table_count(sf, "documents") == actual


def test_mlt_stats_matches_on_fixture_corpus(spark):
    """Same equality on the real sf0.001 fixture (no empty docs there,
    but the df = count(*) == countDistinct(doc_id) identity and the
    column layout must hold on the corpus the oracle grades)."""
    sf = "/root/testdata/sf0.001"
    expected = sorted(
        tuple(r) for r in B.mlt_stats(R._postings(spark, sf)).collect()
    )
    got = sorted(tuple(r) for r in R._mlt_stats(spark, sf).collect())
    assert got == expected


def test_bigram_lm_artifact_equals_inplan_rollup(spark):
    """text_bigram_nll (r11: LM from the _bigram_counts/_token_dfs
    artifacts) relies on two identities that must hold exactly:
    (a) _bigram_counts.cnt == Σ_docs tf of the per-doc bigram postings
        for every (w1, w2) — the corpus LM the query previously rolled
        up from a checkpointed doc_bg;
    (b) _token_dfs row count == countDistinct(token) over the exploded
        corpus — the vocab size V in the add-k denominator."""
    from neural_search_spark.functions import sparse as S

    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    toks = S.tokens(F.col("text"))
    n = F.size(toks)
    bg = (
        d.where(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(toks, 1, n - 1).alias("w1"),
                    F.slice(toks, 2, n - 1).alias("w2"),
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    rollup = sorted(
        tuple(r)
        for r in bg.groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("tf"))
        .groupBy("w1", "w2")
        .agg(F.sum("tf").alias("cnt"))
        .collect()
    )
    artifact = sorted(
        tuple(r) for r in R._bigram_counts(spark, sf).collect()
    )
    assert artifact == rollup
    v_explode = d.select(F.explode(toks).alias("tok")).agg(
        F.countDistinct("tok")
    ).collect()[0][0]
    assert R._token_dfs(spark, sf).count() == v_explode


def _cc_iterative(pairs):
    """connected_components with the edge budget forced to 0: the
    distributed large-star/small-star path the union-find must match."""
    from neural_search_spark.operators import dedup as DD

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DD, "CC_LOCAL_MAX_EDGES", 0)
        return sorted(
            tuple(r) for r in DD.connected_components(pairs).collect()
        )


def test_cc_local_fallback_equals_iterative_loop(spark):
    """The small-graph union-find must emit exactly the (node,
    component=min reachable id) relation of the over-budget star path —
    chains (deep diameter), stars, disjoint cliques, a random graph
    (with self-loops: a node linked only to itself keeps (x, x)), a
    null endpoint (not an edge on either path), an int/long pair
    (both paths label in the wider type) and the sf0.001 LSH pair
    fixture."""
    import random

    from neural_search_spark.operators import dedup as DD

    graphs = {
        "chain": [(i, i + 1) for i in range(1, 30)],
        "star": [(5, b) for b in range(6, 30)],
        "cliques": [(1, 2), (2, 3), (1, 3), (10, 11), (20, 21), (21, 22)],
        "reversed_chain": [(i + 1, i) for i in range(40, 60)],
        "null_endpoint": [(1, 2), (2, None), (None, 7), (3, 8), (9, 9)],
    }
    rng = random.Random(11)
    graphs["random"] = [
        (rng.randrange(100), rng.randrange(100)) for _ in range(150)
    ]
    assert any(a == b for a, b in graphs["random"])
    for name, edges in graphs.items():
        prs = spark.createDataFrame(edges, "a long, b long")
        fallback = sorted(
            tuple(r) for r in DD.connected_components(prs).collect()
        )
        assert fallback == _cc_iterative(prs), name
        if name == "null_endpoint":
            assert fallback == [(1, 1), (2, 1), (3, 3), (8, 3), (9, 9)]
    mixed = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 3_000_000_000)], "a int, b long"
    )
    fallback = DD.connected_components(mixed)
    assert sorted(tuple(r) for r in fallback.collect()) == _cc_iterative(mixed)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DD, "CC_LOCAL_MAX_EDGES", 0)
        star = DD.connected_components(mixed)
    for out in (fallback, star):
        assert [f.dataType.simpleString() for f in out.schema.fields] == [
            "bigint", "bigint",
        ]
    # the corpus fixture (the shape every dedup consumer feeds in)
    fixture_pairs = R._lsh_pairs(spark, "/root/testdata/sf0.001")
    assert sorted(
        tuple(r)[:2]
        for r in DD.connected_components(fixture_pairs).collect()
    ) == [t[:2] for t in _cc_iterative(fixture_pairs)]


def test_cc_local_fallback_schema_and_dtype(spark):
    """Fallback output must keep the loop's (node, component) schema
    with the input pair dtype (consumers join on node)."""
    from neural_search_spark.operators import dedup as DD

    prs = spark.createDataFrame([(1, 2)], "a int, b int")
    out = DD.connected_components(prs)
    assert [f.name for f in out.schema.fields] == ["node", "component"]
    assert out.schema["node"].dataType.simpleString() == "int"
    empty = DD.connected_components(prs.where(F.lit(False)))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["node", "component"]


def test_dsir_single_pass_values_and_reused_exchange(spark):
    """r11: the flagged DSIR path derives the bucket ratio from the
    SAME per-(doc, bucket) feature aggregate the per-doc weight sum
    consumes. Pin (a) value equality against the r10 two-pass shape
    (ratio aggregated directly off a second gram stream) and (b) that
    physical planning actually dedupes the shared subtree
    (ReusedExchange in the executed plan) — the claim that the corpus
    gram explode runs once."""
    from neural_search_spark.operators import selection as SEL

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    flag = F.col("lang") == "en"

    # r10 two-pass reference, inlined
    grams = SEL._gram_frame(
        docs.withColumn("__tgt", flag), "doc_id", "text", extra=("__tgt",)
    )
    bc = (
        grams.select(
            SEL._bucket(F.col("gram"), SEL.DSIR_BUCKETS).alias("bucket"),
            "__tgt",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("rc"),
            F.sum(F.when(F.col("__tgt"), F.lit(1)).otherwise(F.lit(0))).alias(
                "tc"
            ),
        )
    )
    ratio = SEL._ratio_from_bucket_counts(bc, SEL.DSIR_BUCKETS).drop("rc")
    raw_f = SEL.hashed_ngram_counts(docs, SEL.DSIR_BUCKETS)
    ref = sorted(
        tuple(r)
        for r in raw_f.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("cnt") * F.col("log_ratio")), 6).alias("lw"))
        .collect()
    )

    now_df = SEL.dsir_logweights(docs, None, target_flag=flag)
    assert sorted(tuple(r) for r in now_df.collect()) == ref

    now_df.collect()
    plan = now_df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
