"""Seeded input generation. Every input of every workload comes from
here, so the same ``--seed`` always yields byte-identical inputs.

The corpus mimics the sf0.1 fixture: a 30-word vocabulary, documents of
10-100 words, five languages, 20 round-robin sources, and 64-d unit
embeddings with ten labels. Curate and ingest inputs additionally carry
verbatim repeats and near-duplicates (one word appended), chosen by the
seed, so that the dedup operators have real work to do. The curate
corpus adds two words to the vocabulary, "and" and "of": the Gopher
quality rule asks for two of its stopwords and the fixture's vocabulary
holds only one ("the"), so without them no document would pass the
curation pipeline and its dedup weights would all be 0.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
CURATE_VOCAB = VOCAB + ["and", "of"]
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DIM = 64
N_LABELS = 10


def _texts(rng: np.random.Generator, n: int, vocab: list[str] = VOCAB) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(vocab), int(lens.sum()))
    out, i = [], 0
    for ln in lens:
        out.append(" ".join(vocab[j] for j in words[i : i + ln]))
        i += ln
    return out


def _with_duplicates(
    rng: np.random.Generator, texts: list[str], repeat_frac: float, near_frac: float
) -> list[str]:
    """Overwrite a seeded share of texts with a verbatim copy of an
    EARLIER text, and another share with an earlier text plus one word."""
    n = len(texts)
    out = list(texts)
    pick = rng.permutation(np.arange(1, n))
    n_rep, n_near = int(n * repeat_frac), int(n * near_frac)
    for i in pick[:n_rep]:
        out[i] = out[int(rng.integers(0, i))]
    for i in pick[n_rep : n_rep + n_near]:
        out[i] = out[int(rng.integers(0, i))] + " dup"
    return out


def documents(
    rng: np.random.Generator, n: int, id_base: int = 0, texts: list[str] | None = None
) -> pa.Table:
    texts = _texts(rng, n) if texts is None else texts
    ids = np.arange(id_base, id_base + n, dtype=np.int64)
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[k] for k in langs],
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> tuple[pa.Table, np.ndarray]:
    x = rng.standard_normal((n, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": rng.integers(0, N_LABELS, n).astype(np.int32),
        }
    )
    return t, x


def write_corpus(out_dir: str, docs: pa.Table, embs: pa.Table) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embs, os.path.join(out_dir, "embeddings.parquet"))


# -- per-workload inputs -----------------------------------------------------

SEARCH_DOCS, SEARCH_EMBS = 5_000, 2_000


def search_corpus(seed: int, out_dir: str) -> dict:
    """sf0.1-sized corpus: 5,000 docs, 2,000 embeddings (doc_id == vec_id
    joins them into the dense corpus)."""
    rng = np.random.default_rng([seed, 1])
    texts = _with_duplicates(rng, _texts(rng, SEARCH_DOCS), 0.0, 0.05)
    docs = documents(rng, SEARCH_DOCS, texts=texts)
    embs, x = embeddings(rng, SEARCH_EMBS)
    write_corpus(out_dir, docs, embs)
    return {"texts": texts, "vectors": x}


# request mix: (kind, count in every block of BLOCK requests)
SEARCH_MIX = (
    ("neural", 2),
    ("neural_ann", 1),
    ("neural_sparse", 1),
    ("match", 2),
    ("hybrid", 2),
    ("hybrid_rrf", 1),
    ("hybrid_post", 1),
)
BLOCK = sum(c for _, c in SEARCH_MIX)


def _query_text(rng: np.random.Generator) -> str:
    return " ".join(VOCAB[i] for i in rng.choice(len(VOCAB), int(rng.integers(2, 5)), replace=False))


def search_requests(seed: int, n: int, vectors: np.ndarray) -> list[dict]:
    """A stream of `n` distinct requests. Every block of BLOCK holds the
    exact SEARCH_MIX counts in a seeded order, and each kind cycles
    through its variants by its own count, so every run of whole blocks
    has the same mix. Dense requests alternate between a raw query
    vector (a perturbed corpus vector, checked exactly against NumPy)
    and a query text encoded by the default model."""
    rng = np.random.default_rng([seed, 2])
    block = [k for k, c in SEARCH_MIX for _ in range(c)]
    seen: dict[str, int] = {}
    out: list[dict] = []
    while len(out) < n:
        for kind in rng.permutation(block):
            kind = str(kind)
            out.append(_request(rng, kind, vectors, seen.get(kind, 0)))
            seen[kind] = seen.get(kind, 0) + 1
    return out[:n]


def _vector(rng: np.random.Generator, vectors: np.ndarray) -> list[float]:
    v = vectors[int(rng.integers(0, len(vectors)))] + 0.3 * rng.standard_normal(DIM) / np.sqrt(DIM)
    return [float(f) for f in (v / np.linalg.norm(v))]


def _request(rng: np.random.Generator, kind: str, vectors: np.ndarray, i: int) -> dict:
    """The `i`-th request of `kind`."""
    size = (5, 10, 20)[i % 3]
    text = _query_text(rng)
    req: dict = {"kind": kind, "size": size}
    if kind == "neural":
        body = {"vector": _vector(rng, vectors)} if i % 2 == 0 else {"query_text": text}
        req["query"] = {"neural": dict(body, k=size)}
    elif kind == "neural_ann":
        method = {"name": "ivf", "ncells": 16, "nprobe": 4}
        req["query"] = {"neural": {"vector": _vector(rng, vectors), "k": size, "method": method}}
    elif kind == "neural_sparse":
        req["query"] = {"neural_sparse": {"field": "text", "query_text": text}}
    elif kind == "match":
        req["query"] = {"match": {"field": "text", "query": text}}
    else:
        lexical = _query_text(rng) if i % 2 else text
        req["query"] = {"hybrid": {
            "queries": [
                {"neural": {"query_text": text, "k": 50}},
                {"match": {"field": "text", "query": lexical}},
            ],
            "pagination_depth": 50,
        }}
        if kind == "hybrid_rrf":
            req["pipeline"] = {
                "normalization": {"technique": "rrf"},
                "combination": {"technique": "rrf"},
            }
        else:
            req["pipeline"] = {
                "normalization": {"technique": "min_max"},
                "combination": {"technique": "arithmetic_mean", "weights": [0.6, 0.4]},
            }
        if kind == "hybrid_post":
            # a terms aggregation, collapse, or rerank by field
            req["variant"] = ("aggs", "collapse", "rerank")[i % 3]
            if req["variant"] == "collapse":
                req["pipeline"]["collapse"] = {"field": "source"}
            elif req["variant"] == "rerank":
                req["pipeline"]["rerank"] = {"type": "by_field", "target_field": "n_chars"}
            else:
                req["aggs"] = {"by_lang": {"terms": {"field": "lang", "size": 5}}}
    return req


def curate_corpus(seed: int, out_dir: str) -> dict:
    """The sf0.1 size, where ~10% of the docs are verbatim repeats and
    ~10% near-duplicates (text + " dup") of earlier docs."""
    rng = np.random.default_rng([seed, 3])
    texts = _with_duplicates(rng, _texts(rng, SEARCH_DOCS, CURATE_VOCAB), 0.10, 0.10)
    docs = documents(rng, len(texts), texts=texts)
    embs, x = embeddings(rng, SEARCH_EMBS)
    # embedding near-duplicates: ~10% of vectors are a small
    # perturbation of an earlier vector
    n = len(x)
    for i in rng.permutation(np.arange(1, n))[: n // 10]:
        v = x[int(rng.integers(0, i))] + 0.02 * rng.standard_normal(DIM).astype(np.float32)
        x[i] = v / np.linalg.norm(v)
    embs = embs.set_column(1, "embedding", pa.array(list(x), type=pa.list_(pa.float32())))
    write_corpus(out_dir, docs, embs)
    return {"docs": len(texts), "embeddings": n, "text_bytes": sum(len(t.encode()) for t in texts)}


def ingest_batches(seed: int, n_batches: int, batch_docs: int) -> list[pa.Table]:
    """Micro-batches with ingest-monotone doc ids. Each batch after the
    first carries ~10% verbatim repeats and ~10% near-duplicates of
    docs from EARLIER batches, plus the usual within-batch share."""
    rng = np.random.default_rng([seed, 4])
    seen: list[str] = []
    out = []
    for b in range(n_batches):
        texts = _texts(rng, batch_docs)
        texts = _with_duplicates(rng, texts, 0.05, 0.05)
        if seen:
            idx = rng.permutation(batch_docs)[: batch_docs // 5]
            for k, i in enumerate(idx):
                src = seen[int(rng.integers(0, len(seen)))]
                texts[i] = src if k % 2 == 0 else src + " dup"
        seen += texts
        out.append(documents(rng, batch_docs, id_base=b * batch_docs, texts=texts))
    return out
