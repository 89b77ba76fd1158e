"""Hot-bucket skew evidence for the embedding near-dup flagship.

N-scaled LSH planes keep the EXPECTED bucket size constant, but a
degenerate corpus — one viral template duplicated many thousands of
times — still lands one giant (table, bucket) bucket, and scored as
one cell it is one n×n score matrix in one task while the rest of the
cluster idles. The grid guard
(`lsh_multitable_neardup_blocked(..., max_block_rows=B)`) cuts every
bucket into ~B-row blocks and the score kernel scores each block-grid
cell on its own: identical pair set, bit-identical cosines, per-cell
memory ~B².

Usage: python scripts/hot_bucket_report.py [hot_n] [bg_n]
Appends nothing; prints the markdown rows for SKEW.md.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neural_search_spark.operators import ann as ANN  # noqa: E402
from neural_search_spark.session import get_spark  # noqa: E402

DIM = 64
THRESHOLD = 0.999  # straddles the clique's cosines: full n² compute, small output


def build(spark, hot_n: int, bg_n: int):
    rng = np.random.RandomState(42)
    template = rng.randn(DIM)
    template /= np.linalg.norm(template)
    hot = template[None, :] + rng.randn(hot_n, DIM) * 0.02
    bg = rng.randn(bg_n, DIM)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(hot)] + [
        (hot_n + i, [float(x) for x in v]) for i, v in enumerate(bg)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def timed(df):
    df.count()  # warm: plan + exchange reuse caches
    t = time.time()
    n = df.count()
    return n, time.time() - t


def main():
    hot_n = int(sys.argv[1]) if len(sys.argv) > 1 else 8000
    bg_n = int(sys.argv[2]) if len(sys.argv) > 2 else 8000
    spark = get_spark("hot-bucket-report")
    embs = build(spark, hot_n, bg_n)
    kw = dict(
        dim=DIM, threshold=THRESHOLD, n_planes=9, n_tables=2
    )  # 512 buckets: background spreads thin, the clique stays one bucket/table
    results = {}
    for label, block in [("atomic", None), ("grid B=512", 512), ("grid B=2048", 2048)]:
        rows, sec = timed(
            ANN.lsh_multitable_neardup_blocked(embs, **kw, max_block_rows=block)
        )
        results[label] = (rows, sec)
        print(f"| {label} | {rows} | {sec:.2f} |", flush=True)
    a = results["atomic"]
    for label in ("grid B=512", "grid B=2048"):
        assert results[label][0] == a[0], (label, results[label][0], a[0])
    print(f"corpus: {hot_n}-copy viral template + {bg_n} background, dim={DIM}")


if __name__ == "__main__":
    main()
