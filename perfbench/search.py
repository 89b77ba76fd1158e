"""`search` workload: interactive retrieval, closed loop, one client.

Setup builds the engine the way a serving process would: the index is
saved with `index_store.save_index` (BM25 postings, term dictionary and
the IVF centroids; one token partition per core), loaded back once with
`load_index`, and attached to a fresh `Engine`. One request of each kind
then warms the process. The timed phase sends whole blocks of
`gen.BLOCK` requests (the exact request mix) until `--seconds` have
passed, each request waiting for the previous one's collected rows.

The traced run afterwards repeats the load twice more, so that
`index_store.load_s` is a median of three, and runs the next block of
requests both traced and untraced for `trace.overhead_frac`.
"""

from __future__ import annotations

import os
import statistics

import numpy as np

import gen
import kernels
from meter import dir_bytes, now, percentile, tree_cpu_s

KINDS = [k for k, _ in gen.SEARCH_MIX]
N_CELLS = 16


def run(ctx) -> None:
    spark, tr, work, seed = ctx.spark, ctx.tracer, ctx.work, ctx.seed
    from neural_search_spark import catalog, models
    from neural_search_spark.plans.compiler import Engine
    from neural_search_spark.sources import index_store as IS

    corpus_dir = os.path.join(work, "corpus")
    index_dir = os.path.join(work, "index")
    inp = ctx.inputs
    vectors = inp["vectors"]
    requests = gen.search_requests(seed, gen.BLOCK * 40, vectors)
    warm = gen.search_requests(seed + 1_000_003, gen.BLOCK, vectors)

    tr.wrap(catalog, "table", "catalog.table")
    tr.wrap(models, "encode_query", "models.encode_query")

    # -- setup: save → load → attach, then one request per kind ----------
    t0 = now()
    with tr.span("index_store.save"):
        docs = catalog.table(spark, corpus_dir, "documents")
        centroids = [(i, [float(x) for x in vectors[i]]) for i in range(N_CELLS)]
        IS.save_index(
            spark, docs, None, index_dir, ivf_centroids=centroids,
            token_partitions=ctx.cores,
        )
    save_s = now() - t0

    def load() -> tuple[Engine, float]:
        t1 = now()
        with tr.span("index_store.load"):
            engine = Engine(spark, corpus_dir)
            engine.attach_index(IS.load_index(spark, index_dir))
        return engine, now() - t1

    engine, load_s = load()
    t2 = now()
    for kind in KINDS:
        _send(tr, engine, next(r for r in warm if r["kind"] == kind), "warmup")
    warm_s = now() - t2
    setup_wall = ctx.session_s + save_s + load_s + warm_s

    # -- timed phase -------------------------------------------------------
    tr.reset()
    sent = []
    cpu0, t_start = ctx.timed_phase_starts(setup_wall)
    while not sent or (len(sent) % gen.BLOCK or now() - t_start < ctx.seconds):
        req = requests[len(sent) % len(requests)]
        try:
            rows = _send(tr, engine, req, req["kind"])
            sent.append((req, rows))
        except Exception as exc:  # counted, and shown on stderr
            ctx.fail(f"{req['kind']}: {exc!r}")
            sent.append((req, None))
        if len(sent) == gen.BLOCK:
            # later blocks run warmer, and how many fit in the run
            # depends on the machine's speed, so CPU is taken over the
            # first block only
            cpu = tree_cpu_s() - cpu0
    wall = now() - t_start
    ctx.timed_layers(wall)

    # -- checks (untimed) --------------------------------------------------
    for req, rows in sent:
        if rows is not None:
            problem = check(req, rows, vectors)
            if problem:
                ctx.fail(f"{req['kind']}: {problem}")
    ctx.attempted = len(sent)

    lat = [x for k in KINDS for x in tr.latency.get(k, [])]
    text_bytes = sum(len(t.encode()) for t in inp["texts"])
    store = dir_bytes(index_dir) + dir_bytes(IS.store_root(corpus_dir))
    ctx.metrics.update(op_cpu_s=cpu / gen.BLOCK, store_amp=store / text_bytes)
    ctx.summary.update(
        search_p50_s=percentile(lat, 0.5),
        search_p90_s=percentile(lat, 0.9),
        search_qps=len(sent) / wall,
        search_requests=len(sent),
        search_wall_s=wall,
        setup_parts_s=[ctx.session_s, save_s, load_s, warm_s],
        kind_latency_s={k: [round(x, 3) for x in tr.latency.get(k, [])] for k in KINDS},
    )
    if tr.traced:
        st = tr.self_times()
        ctx.layers.update(
            {
                "index_store.save_s": save_s,
                "index_store.load_s": statistics.median([load_s] + [load()[1] for _ in range(2)]),
                "index_store.bytes": dir_bytes(index_dir),
                "registry.warm_s": warm_s,
                "models.encode_query_s": st.get("models.encode_query", 0.0),
            }
        )
        for k in KINDS:
            ctx.layers.update({f"search.{k}_p50_s": percentile(tr.latency.get(k, []), 0.5)})
        kernels.pq(ctx)
        block = requests[len(sent) : len(sent) + gen.BLOCK]
        ctx.layers["trace.overhead_frac"] = tr.overhead_frac([_build(engine, r) for r in block])


def _build(engine, req):
    """The call that returns the request's DataFrame (with its
    aggregations, a dict of DataFrames)."""
    def build():
        hits = engine.search(req["query"], req.get("pipeline"), size=req["size"])
        if "aggs" not in req:
            return hits
        out = dict(engine.search_aggs(req["query"], req["aggs"]))
        out["_hits"] = hits
        return out

    return build


def _send(tr, engine, req, kind):
    out = tr.op(kind, _build(engine, req))
    return out["_hits"] if isinstance(out, dict) else out


def check(req, rows, vectors: np.ndarray) -> str | None:
    """Structural check for every response; an exact NumPy check for
    brute-force dense requests that carry a raw vector."""
    size = req["size"]
    ids = [int(r["doc_id"]) for r in rows]
    scores = [float(r["score"]) for r in rows]
    # dense hits come from the docs that have an embedding
    n_ids = len(vectors) if req["kind"] in ("neural", "neural_ann") else gen.SEARCH_DOCS
    if len(rows) > size:
        return f"{len(rows)} rows > size {size}"
    if not rows:
        return "no rows"
    if len(set(ids)) != len(ids):
        return "duplicate doc ids"
    if any(i < 0 or i >= n_ids for i in ids):
        return "doc id outside the corpus"
    if req.get("variant") != "rerank" and any(
        b > a + 1e-9 for a, b in zip(scores, scores[1:])
    ):
        return "scores not non-increasing"
    body = req["query"].get("neural", {})
    if "vector" in body and "method" not in body:
        q = np.asarray(body["vector"], dtype=np.float64)
        x = vectors.astype(np.float64)
        cos = x @ q / (np.linalg.norm(x, axis=1) * np.linalg.norm(q))
        order = np.lexsort((np.arange(len(cos)), -cos))[: len(rows)]
        if not np.allclose(cos[order], scores, atol=1e-6):
            return "scores differ from NumPy brute force"
        if set(order.tolist()) != set(ids) and len(rows) < len(cos):
            kth = cos[order[-1]]
            rest = np.delete(cos, order)
            if rest.max() < kth - 1e-6:
                return "top-k ids differ from NumPy brute force"
    return None
