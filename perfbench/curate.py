"""`curate` workload: batch curation throughput.

A run is a batch curation job: a fresh process over a freshly generated
corpus runs three curation contract queries, one after another,
each to its collected rows. Passes repeat until `--seconds` have
passed; at the configured run length one pass already exceeds it, so a
run measures one pass, artifact builds included, as a batch job pays
them. After the timed passes every query's output is checked exactly.
The registry's DuckDB oracles for these three queries either take over
half a minute on a 4-vCPU machine or inline constants of the grading corpus, so each
query has a check of its own below, built from the registry's cheaper
component oracles, NumPy, or a recount.

The traced run adds the pipeline survival report and a streaming
ingest probe, so the `pipeline` and `streaming` layers are measured,
and runs `curation_pipeline` and `bpe_token_count_arrow` once more
both traced and untraced, warm, for `trace.overhead_frac`
(`emb_neardup_grid`, whose warm call takes as long as those two
together, is left out to keep the traced run well inside its time
limit).
"""

from __future__ import annotations

import os
import statistics

import gen
import kernels
from meter import dir_bytes, now, percentile, tree_cpu_s

# curation_pipeline composes the Gopher, C4 and repetition gates with
# MinHash-LSH soft-dedup weights, so the standalone gate, MinHash and
# SimHash queries add little beyond it and are left out to keep a run
# short
QUERIES = (
    "curation_pipeline",
    "emb_neardup_grid",
    "bpe_token_count_arrow",
)
PROBE_BATCHES, PROBE_BATCH_DOCS = 2, 200
PIPELINE_STAGES = ("input", "lang", "length", "repetition", "dedup_exact")
STREAMING_METRICS = (
    "curate_s", "dedup_gate_s", "postings_append_s", "vectors_append_s", "compact_s",
    "kept_frac", "segments", "bytes_written", "read_vector_s", "read_bm25_s",
)


def run(ctx) -> None:
    spark, tr, work = ctx.spark, ctx.tracer, ctx.work
    from neural_search_spark import catalog, registry
    from neural_search_spark.sources import index_store as IS

    corpus_dir = os.path.join(work, "corpus")
    tr.wrap(catalog, "table", "catalog.table")

    t0 = now()
    for name in ("documents", "embeddings"):
        catalog.table(spark, corpus_dir, name)
    setup_wall = ctx.session_s + (now() - t0)

    tr.reset()
    passes: list[float] = []
    results: dict[str, list] = {}
    cpu0, t_start = ctx.timed_phase_starts(setup_wall)
    builds = {q: (lambda q=q: registry.SPARK_QUERIES[q](spark, corpus_dir)) for q in QUERIES}
    while not passes or now() - t_start < ctx.seconds:
        t_pass = now()
        for q in QUERIES:
            ctx.attempted += 1
            try:
                rows = tr.op(q, builds[q])
                results.setdefault(q, rows)
            except Exception as exc:
                ctx.fail(f"{q}: {exc!r}")
        passes.append(now() - t_pass)
        if len(passes) == 1:
            # a later pass runs warm, so CPU is taken over the first
            cpu = tree_cpu_s() - cpu0
    wall = now() - t_start
    ctx.timed_layers(wall)

    for q, rows in results.items():
        ok, msg = CHECKS[q](ctx, corpus_dir, rows)
        if not ok:
            ctx.fail(f"{q}: {msg}")

    # the unit of work is one pass over the corpus
    ctx.metrics.update(
        op_cpu_s=cpu,
        store_amp=dir_bytes(IS.store_root(corpus_dir)) / ctx.inputs["text_bytes"],
    )
    ctx.summary.update(
        curate_pass_s=statistics.median(passes),
        curate_docs_per_s=ctx.inputs["docs"] * len(passes) / wall,
        curate_passes=len(passes),
        query_s={q: [round(x, 3) for x in tr.latency.get(q, [])] for q in QUERIES},
    )
    if tr.traced:
        for q in QUERIES:
            ctx.layers.update({f"curate.{q}_s": percentile(tr.latency.get(q, []), 0.5)})
        survivors(ctx, corpus_dir)
        kernels.bpe(ctx)
        streaming_probe(ctx)
        ctx.layers["trace.overhead_frac"] = tr.overhead_frac(
            [builds["curation_pipeline"], builds["bpe_token_count_arrow"]]
        )


# -- output check ------------------------------------------------------------

def _duckdb(sf_dir: str, threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


# Floors for the checks that bound missing output. The multi-table SRP
# LSH found 0.76-0.81 of all vector pairs at or above the threshold over
# the seeds tried, and every planted near-duplicate vector (cosine about
# 0.99); MinHash-LSH linked every planted near-duplicate document pair
# that passed the gates.
NEARDUP_RECALL_FLOOR = 0.7
PLANTED_COS, PLANTED_RECALL_FLOOR = 0.9, 0.98
NEAR_DOC_FLOOR = 0.98


def _planted_groups(texts) -> dict[str, str]:
    """Each text's planted duplicate group, named by one of its texts:
    verbatim copies share a text, and a near-duplicate (t + " dup")
    joins the group of t."""
    parent: dict[str, str] = {}

    def find(t: str) -> str:
        while parent.get(t, t) != t:
            t = parent[t]
        return t

    present = set(texts)
    for t in present:
        if t.endswith(" dup") and t[:-4] in present:
            parent[find(t)] = find(t[:-4])
    return {t: find(t) for t in present}


def _check_curation_pipeline(ctx, corpus_dir, rows) -> tuple[bool, str]:
    """Its full oracle takes over half a minute on a 4-vCPU machine. Instead each gate
    column is compared per doc with its component oracle (Gopher, C4,
    repetition) and the composed verdicts are recomputed. A kept doc's
    soft-dedup weight is 1/n for a whole n that is at least its number
    of verbatim copies and at most the size of its planted duplicate
    group; verbatim copies share it; and nearly every planted
    near-duplicate pair whose docs are both kept shares one weight of at
    most 1/2, so dedup links can be neither invented nor dropped."""
    from collections import Counter

    import pyarrow.parquet as pq

    from neural_search_spark import registry

    by_id = {r["doc_id"]: r for r in rows}
    if len(by_id) != len(rows) or len(rows) != ctx.inputs["docs"]:
        return False, f"{len(rows)} rows for {ctx.inputs['docs']} docs"
    con = _duckdb(corpus_dir, ctx.cores)
    gates = {}
    for q, cols in (
        ("text_gopher_quality", ("keep_core", "keep_gopher")),
        ("text_c4_quality", ("keep_c4",)),
        ("text_gopher_repetition", ("rep_keep",)),
    ):
        sql = f"SELECT doc_id, {', '.join(cols)} FROM ({registry.ORACLES[q]})"
        for doc_id, *vals in con.execute(sql).fetchall():
            gates.setdefault(doc_id, {}).update(zip(cols, vals))
    docs = pq.read_table(f"{corpus_dir}/documents.parquet", columns=["doc_id", "text"])
    text = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    copies = Counter(text.values())
    group = _planted_groups(text.values())
    group_size = Counter(group[t] for t in text.values())
    weight_of: dict[str, float] = {}
    for d, r in by_id.items():
        for col, want in gates[d].items():
            if r[col] != want:
                return False, f"doc {d}: {col} differs from its oracle"
        final = r["keep_gopher"] and r["rep_keep"]
        if r["keep_final"] != final or r["keep_web"] != (final and r["keep_c4"]):
            return False, f"doc {d}: composed verdicts inconsistent"
        w = r["sample_weight"]
        if not final:
            if w != 0.0:
                return False, f"doc {d}: dropped doc has weight {w}"
            continue
        n = 1.0 / w if w > 0 else 0.0
        t = text[d]
        if abs(n - round(n)) > 1e-3 * n or not copies[t] <= round(n) <= group_size[group[t]]:
            return False, (f"doc {d}: weight {w} with {copies[t]} verbatim copies"
                           f" in a planted group of {group_size[group[t]]}")
        if weight_of.setdefault(t, w) != w:
            return False, f"doc {d}: verbatim copies weighted differently"
    near = [(t[:-4], t) for t in weight_of if t.endswith(" dup") and t[:-4] in weight_of]
    linked = sum(weight_of[a] == weight_of[b] <= 0.5 for a, b in near)
    if not near or linked < NEAR_DOC_FLOOR * len(near):
        return False, f"{linked} of {len(near)} kept near-duplicate pairs share a weight"
    return True, "ok"


def _check_emb_neardup(ctx, corpus_dir, rows) -> tuple[bool, str]:
    """Its oracle inlines the LSH plane count of the grading corpus.
    Instead every reported pair is checked exactly (a < b, and its
    cosine, recomputed with NumPy, rounds to the reported value and
    clears the threshold), and the pairs found must cover the NumPy
    brute-force pair set up to the recall floors."""
    import numpy as np
    import pyarrow.parquet as pq

    from neural_search_spark import registry

    t = pq.read_table(f"{corpus_dir}/embeddings.parquet")
    x = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    cos = x @ x.T
    thr = registry.NEARDUP_THRESHOLD
    for r in rows:
        a, b = int(r["a"]), int(r["b"])
        if a >= b or abs(round(cos[a, b], 4) - r["cosine"]) > 1e-4 or cos[a, b] < thr - 1e-6:
            return False, f"pair ({a}, {b}) cosine {r['cosine']} vs {cos[a, b]:.6f}"
    found = {(int(r["a"]), int(r["b"])) for r in rows}
    exact = set(zip(*(i.tolist() for i in np.nonzero(np.triu(cos >= thr + 1e-6, 1)))))
    planted = {p for p in exact if cos[p] >= PLANTED_COS}
    recall = len(found & exact) / max(len(exact), 1)
    planted_recall = len(found & planted) / max(len(planted), 1)
    if recall < NEARDUP_RECALL_FLOOR or planted_recall < PLANTED_RECALL_FLOOR:
        return False, (f"recall {recall:.3f} of {len(exact)} pairs,"
                       f" {planted_recall:.3f} of {len(planted)} planted")
    return True, "ok"


def _check_bpe(ctx, corpus_dir, rows) -> tuple[bool, str]:
    """Its oracle unrolls every merge in SQL and takes over half a
    minute on a 4-vCPU machine. Instead the benchmark trains the same byte-pair merges
    itself (sentinel-space symbols, pair counts weighted by word count,
    ties to the smaller pair, left-to-right replace) over the corpus's
    whitespace tokens and recounts every document's subword tokens."""
    from collections import Counter

    import pyarrow.parquet as pq

    from neural_search_spark import registry

    docs = pq.read_table(f"{corpus_dir}/documents.parquet", columns=["doc_id", "text"])
    words_of = {d: t.split() for d, t in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())}
    wc = Counter(w for ws in words_of.values() for w in ws)
    sym = {w: " " + "".join(c + " " for c in w) for w in wc}
    for _ in range(registry.BPE_MERGES):
        pairs: Counter = Counter()
        for w, s in sym.items():
            p = s.split()
            for a, b in zip(p, p[1:]):
                pairs[f"{a} {b}"] += wc[w]
        if not pairs:
            break
        a, b = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0].split(" ")
        sym = {w: s.replace(f" {a} {b} ", f" {a}{b} ") for w, s in sym.items()}
    n_sym = {w: len(s.split()) for w, s in sym.items()}
    got = {r["doc_id"]: r["n_bpe"] for r in rows}
    want = {d: sum(n_sym[w] for w in ws) for d, ws in words_of.items()}
    return (got == want, "ok" if got == want else "subword counts differ from the recount")


CHECKS = {
    "curation_pipeline": _check_curation_pipeline,
    "emb_neardup_grid": _check_emb_neardup,
    "bpe_token_count_arrow": _check_bpe,
}


# -- traced-run extras ---------------------------------------------------------

def survivors(ctx, corpus_dir: str) -> None:
    from neural_search_spark import catalog
    from neural_search_spark.pipeline import CurationPipeline

    pipe = (
        CurationPipeline()
        .lang(["en", "de", "fr"])
        .length(min_tokens=20)
        .repetition(max_ratio=0.3)
        .dedup("exact")
    )
    report = pipe.survival_report(catalog.table(ctx.spark, corpus_dir, "documents"))
    for stage, n in report:
        ctx.layers.update({f"pipeline.survivors.{stage.replace(':', '_')}": n})


def streaming_probe(ctx) -> None:
    """Feeds seeded micro-batches into StreamingIngestApp, times each
    stage from outside (the app's stage methods are wrapped), runs
    read-after-write searches and one compaction cycle, and checks that
    every kept doc retrieves itself at rank 1 and that no verbatim
    repeat of an earlier doc is kept."""
    import numpy as np
    from pyspark.sql import functions as F

    from neural_search_spark.operators import bm25 as B
    from neural_search_spark.streaming.app import StreamingIngestApp

    spark, tr = ctx.spark, ctx.tracer
    base = os.path.join(ctx.work, "stream")
    app = StreamingIngestApp(base)
    for obj, attr, name in (
        (app, "curate", "streaming.curate"),
        (app, "dedup_gate", "streaming.dedup_gate"),
        (app.postings, "apply_batch", "streaming.postings_append"),
        (app.vectors, "apply_batch", "streaming.vectors_append"),
    ):
        tr.wrap(obj, attr, name)
    batches = gen.ingest_batches(ctx.seed, PROBE_BATCHES, PROBE_BATCH_DOCS)
    kept_texts: set[str] = set()
    n_in = n_kept = 0
    reads_v, reads_b = [], []
    rng = np.random.default_rng([ctx.seed, 5])
    for i, batch in enumerate(batches):
        app.apply_batch(spark.createDataFrame(batch.to_pandas()), i)
        n_in += batch.num_rows
        kept = spark.read.parquet(f"{app.kept_dir}/batch={i}").select("doc_id", "text").collect()
        n_kept += len(kept)
        for r in kept:
            ctx.attempted += 1
            if r["text"] in kept_texts:
                ctx.fail(f"stream batch {i}: verbatim repeat {r['doc_id']} kept")
            kept_texts.add(r["text"])
        vecs = {
            int(r["vec_id"]): r["embedding"]
            for r in app.vectors.vectors(spark).where(F.col("vec_id") >= i * PROBE_BATCH_DOCS).collect()
        }
        for r in kept:
            if int(r["doc_id"]) not in vecs:
                ctx.fail(f"stream batch {i}: kept doc {r['doc_id']} not in the vector index")
        for j in rng.choice(len(kept), min(2, len(kept)), replace=False):
            doc = int(kept[int(j)]["doc_id"])
            t = now()
            top = app.vectors.search(spark, [float(x) for x in vecs[doc]], k=1).collect()
            reads_v.append(now() - t)
            ctx.attempted += 1
            if not top or int(top[0]["doc_id"]) != doc:
                ctx.fail(f"stream batch {i}: doc {doc} does not retrieve itself")
            t = now()
            B.bm25_topk(app.postings.bm25_index(spark), gen._query_text(rng), k=10).collect()
            reads_b.append(now() - t)
    t = now()
    app.dedup.compact(spark)
    app.postings.compact(spark)
    app.vectors.recluster(spark)
    compact_s = now() - t
    st = tr.self_times()
    segments = sum(
        len([d for d in os.listdir(p) if d.startswith("batch=")])
        for p in (app.postings.postings_dir, app.vectors.vectors_dir)
        if os.path.isdir(p)
    )
    ctx.layers.update(
        {
            "streaming.curate_s": st.get("streaming.curate", 0.0),
            "streaming.dedup_gate_s": st.get("streaming.dedup_gate", 0.0),
            "streaming.postings_append_s": st.get("streaming.postings_append", 0.0),
            "streaming.vectors_append_s": st.get("streaming.vectors_append", 0.0),
            "streaming.compact_s": compact_s,
            "streaming.kept_frac": n_kept / n_in,
            "streaming.segments": segments,
            "streaming.bytes_written": dir_bytes(base),
            "streaming.read_vector_s": statistics.median(reads_v),
            "streaming.read_bm25_s": statistics.median(reads_b),
        }
    )
