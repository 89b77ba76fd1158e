"""Physical layout evidence (partition pruning, bucketing) +
property-style invariants for prune/chunking over randomized inputs."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from neural_search_spark import catalog
from neural_search_spark.functions import chunking as CH
from neural_search_spark.functions import prune as PR
from neural_search_spark.operators import ann as ANN
from neural_search_spark.sources import layout as L


def test_ivf_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    embs = catalog.table(spark, sf_dir, "embeddings")
    cents = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in embs.where(F.col("vec_id") < 8).collect()
    )
    assigned = embs.join(ANN.ivf_assign(embs, cents), "vec_id")
    path = str(tmp_path / "ivf")
    L.save_ivf_partitioned(assigned, path)
    loaded = L.load_ivf(spark, path).where(F.col("cluster_id").isin([0, 1]))
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        loaded.explain("formatted")
    plan = buf.getvalue()
    # the probe filter must appear as PartitionFilters on the scan —
    # pruned BEFORE reading, not as a post-scan Filter
    assert "PartitionFilters" in plan and "cluster_id" in plan.split("PartitionFilters", 1)[1][:200]
    assert loaded.count() > 0


def test_bucketed_postings_join_has_no_shuffle_on_bucketed_side(spark, sf_dir, tmp_path):
    from neural_search_spark.functions.sparse import tf_postings

    docs = catalog.table(spark, sf_dir, "documents")
    # explicit path → external table; no warehouse config needed
    name = "postings_bucketed_test"
    L.save_postings_bucketed(tf_postings(docs), name, str(tmp_path / "pb"), buckets=8)
    t1 = spark.table(name)
    t2 = spark.table(name)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = t1.join(t2, "token")
        import io, contextlib

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        # bucketed-bucketed equi-join on the bucket key: SortMergeJoin
        # with NO Exchange feeding it
        assert "Exchange hashpartitioning(token" not in plan
        assert joined.limit(1).count() >= 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        spark.sql(f"DROP TABLE IF EXISTS {name}")


@pytest.fixture(scope="module")
def random_maps(spark):
    rng = random.Random(7)
    rows = []
    for i in range(40):
        n = rng.randint(1, 12)
        m = {f"t{j}": float(rng.randint(1, 9)) for j in range(n)}
        rows.append((i, m))
    return spark.createDataFrame(rows, "id long, m map<string,double>"), {
        r[0]: r[1] for r in rows
    }


def test_prune_topk_invariants(random_maps):
    df, raw = random_maps
    out = {r["id"]: r["p"] for r in df.select("id", PR.prune_top_k(F.col("m"), 3).alias("p")).collect()}
    for i, kept in out.items():
        assert len(kept) == min(3, len(raw[i]))
        if len(raw[i]) > 3:
            dropped = {k: v for k, v in raw[i].items() if k not in kept}
            assert min(kept.values()) >= max(dropped.values())


def test_prune_alpha_mass_invariants(random_maps):
    df, raw = random_maps
    out = {r["id"]: r["p"] for r in df.select("id", PR.prune_alpha_mass(F.col("m"), 0.5).alias("p")).collect()}
    for i, kept in out.items():
        total = sum(raw[i].values())
        kept_sorted = sorted(kept.values(), reverse=True)
        # prefix mass excluding the final kept element must be <= α·total
        assert sum(kept_sorted[:-1]) <= 0.5 * total + 1e-9
        assert len(kept) >= 1


def test_prune_max_ratio_and_abs_invariants(random_maps):
    df, raw = random_maps
    mr = {r["id"]: r["p"] for r in df.select("id", PR.prune_max_ratio(F.col("m"), 0.5).alias("p")).collect()}
    for i, kept in mr.items():
        mx = max(raw[i].values())
        assert all(v >= 0.5 * mx for v in kept.values())
        assert all(k in kept for k, v in raw[i].items() if v >= 0.5 * mx)
    av = {r["id"]: r["p"] for r in df.select("id", PR.prune_abs_value(F.col("m"), 5.0).alias("p")).collect()}
    for i, kept in av.items():
        assert set(kept) == {k for k, v in raw[i].items() if v >= 5.0}


@pytest.fixture(scope="module")
def random_texts(spark):
    rng = random.Random(11)
    words = ["alpha", "beta", "gam", "d", "epsilonlong", "ze", "eta2"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 60))))
        for i in range(30)
    ]
    return spark.createDataFrame(rows, "id long, text string"), dict(rows)


def test_chunk_fixed_token_reconstructs(random_texts):
    df, raw = random_texts
    out = {
        r["id"]: r["c"]
        for r in df.select("id", CH.chunk_fixed_token(F.col("text"), 7, 0.0).alias("c")).collect()
    }
    for i, chunks in out.items():
        # zero overlap → concatenating chunk tokens reproduces the doc
        rebuilt = " ".join(chunks)
        assert rebuilt.split() == raw[i].split()
        assert all(len(c.split()) <= 7 for c in chunks)


def test_chunk_fixed_char_covers_text(random_texts):
    df, raw = random_texts
    out = {
        r["id"]: r["c"]
        for r in df.select("id", CH.chunk_fixed_char(F.col("text"), 20, 0.25).alias("c")).collect()
    }
    for i, chunks in out.items():
        assert "".join(chunks).find(raw[i][:20]) == 0
        assert all(len(c) <= 20 for c in chunks)
        # stride-15 windows: starts cover the whole text
        assert sum(len(c) for c in chunks) >= len(raw[i])


def test_lsh_multitable_recall_dominates_single(spark, sf_dir):
    """OR-amplification: the multi-table candidate set must contain
    every single-table pair, every returned pair must clear the
    threshold exactly, and recall vs the brute-force truth must be at
    least the single-table recall (strictly better in expectation)."""
    from neural_search_spark import catalog
    from neural_search_spark.operators import ann as ANN
    from neural_search_spark.operators.dedup import embedding_neardup_pairs

    embs = catalog.table(spark, sf_dir, "embeddings")
    dim = len(embs.first()["embedding"])
    thr = 0.9

    single = {
        (r["a"], r["b"])
        for r in ANN.lsh_bucketed_neardup(embs, dim, thr, n_planes=8).collect()
    }
    multi = {
        (r["a"], r["b"])
        for r in ANN.lsh_multitable_neardup(
            embs, dim, thr, n_planes=8, n_tables=4
        ).collect()
    }
    truth = {
        (r["a"], r["b"]) for r in embedding_neardup_pairs(embs, threshold=thr).collect()
    }
    # table 0 of the multi-table uses seed "srp0" ≠ single's "srp", so
    # containment isn't guaranteed pairwise — compare recall instead
    if truth:
        rec_single = len(single & truth) / len(truth)
        rec_multi = len(multi & truth) / len(truth)
        assert rec_multi >= rec_single
        assert rec_multi >= 0.5
    assert multi <= truth  # precision 1.0: exact verify after candidates


def test_blocked_multitable_equals_expression_variant(spark, sf_dir):
    """The Arrow-kernel multitable near-dup (layout kernel: plane-sign
    buckets and unit vectors; score kernel: one sequential fold per
    bucket cell) must produce exactly the expression variant's pairs
    AND cosines (same sign bits, same fold association) — both
    directions checked."""
    from neural_search_spark import catalog

    embs = catalog.table(spark, sf_dir, "embeddings")
    kw = dict(threshold=0.45, n_planes=4, n_tables=4)
    # collected-set comparison; exact float equality expected
    expr_rows = {
        (r["a"], r["b"], r["cosine"])
        for r in ANN.lsh_multitable_neardup(embs, 64, **kw).collect()
    }
    blk_rows = {
        (r["a"], r["b"], r["cosine"])
        for r in ANN.lsh_multitable_neardup_blocked(embs, 64, **kw).collect()
    }
    assert expr_rows == blk_rows


def test_flagship_neardup_recall_floor(spark):
    """8-table flagship config must recover ≥70% of the exact pairs
    even in this corpus's hard θ≈60° regime (at real near-dup
    thresholds the same config exceeds 0.99)."""
    from neural_search_spark import registry
    from .conftest import SF_CORRECT

    ex = {(r["a"], r["b"])
          for r in registry.SPARK_QUERIES["emb_neardup_exact"](spark, SF_CORRECT).collect()}
    bk = {(r["a"], r["b"])
          for r in registry.SPARK_QUERIES["emb_neardup_cosine"](spark, SF_CORRECT).collect()}
    assert bk <= ex  # exact verify: no false positives
    assert len(bk & ex) / max(len(ex), 1) >= 0.70
