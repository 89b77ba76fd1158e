"""Kernel micro-timings for the traced runs, each on a fixed seeded
batch and timed as the median of three collected runs: the BPE Arrow
encoder (`bpe.doc_token_counts_arrow`, traced curate run) and the PQ
asymmetric-distance scan (`pq.adc_scores_arrow`, traced search run).
The tinyformer forward pass and the media codecs are not exercised by
any workload and are not timed."""

from __future__ import annotations

import statistics
from collections import Counter

import numpy as np

import gen
from meter import now

REPS = 3
BPE_DOCS = 2_000
PQ_VECTORS = 4_000


def bpe(ctx) -> None:
    from pyspark.sql import functions as F

    from neural_search_spark import registry
    from neural_search_spark.functions import bpe as BP
    from neural_search_spark.functions import sparse as S

    spark = ctx.spark
    rng = np.random.default_rng([ctx.seed, 6])
    docs = gen.documents(rng, BPE_DOCS)
    words = Counter(w for t in docs.column("text").to_pylist() for w in t.split())
    merges = BP.train_merges_local(sorted(words.items()), registry.BPE_MERGES)
    frame = spark.createDataFrame(docs.select(["doc_id", "text"]).to_pandas())
    times, tokens = [], 0
    for _ in range(REPS):
        t = now()
        rows = BP.doc_token_counts_arrow(frame, merges, S.tokens(F.col("text"))).collect()
        times.append(now() - t)
        tokens = sum(int(r["n_bpe"]) for r in rows)
    ctx.layers.update({"kernel.bpe_tokens_per_s": tokens / statistics.median(times)})


def pq(ctx) -> None:
    from neural_search_spark.operators import pq as PQ

    spark = ctx.spark
    rng = np.random.default_rng([ctx.seed, 7])
    embs_tbl, x = gen.embeddings(rng, PQ_VECTORS)
    embs = spark.createDataFrame(embs_tbl.select(["vec_id", "embedding"]).to_pandas())
    books = PQ.train_codebooks(embs, k=64)
    codes = PQ.encode_pq(embs, books).persist()
    codes.count()
    q = [float(v) for v in x[0]]
    times = []
    for _ in range(REPS):
        t = now()
        n = len(PQ.adc_scores_arrow(codes, books, q).collect())
        times.append(now() - t)
    codes.unpersist()
    ctx.layers.update({"kernel.pq_adc_codes_per_s": n / statistics.median(times)})
