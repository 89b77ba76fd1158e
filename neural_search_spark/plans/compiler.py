"""Query compiler: reference-DSL dict spec → one lazy DataFrame plan.

Mirrors the reference's search lifecycle (SURVEY.md §3.1) with the
process boundaries dissolved:
- parse (`HybridQueryBuilder.fromXContent` :216-270,
  `NeuralQueryBuilder.fromXContent` :592-612) → `compile_query`
- request processors: `neural_query_enricher` default-model injection
  (Q9, `processor/NeuralQueryEnricherProcessor.java:70-77`) →
  `_resolve_model`; `neural_sparse_two_phase_processor` → `two_phase`
  flag
- coordinator rewrite + async inference
  (`NeuralQueryBuilder.java:887-932`) → eager driver-side
  `models.embed_text_py` before plan construction
- query phase + normalization + fetch → the operators in
  retrieval.py/fusion.py
- response processors (rerank/highlight/explain) → post-stages keyed
  off the pipeline config.

The `agentic` query (R9, `query/AgenticSearchQueryBuilder.java`,
`processor/AgenticQueryTranslatorProcessor.java:97-150`) hands the
natural-language question to an "agent" that emits a DSL query which is
executed in its place; the agent here is a deterministic keyword-rule
stub standing in for the LLM call.

Supported spec (dict keys):
  {"neural":        {field, query_text | query_image | vector, k, filter, min_score,
                     max_distance, model_id,
                     rescore: {oversample, quant_bits},
                     method: {name: brute|ivf|pq|lsh|auto, ncells, nprobe,
                              codebook_k, shortlist}}}
  {"neural_sparse": {field, query_text | query_tokens, k, two_phase,
                     nested: {token_limit, overlap_rate},
                     method: {name: seismic, top_n, heap_factor,
                              approximate_threshold}}}
  {"match":         {field, query, k, analyzer, search_analyzer}}
  {"match_phrase":  {field, query, k}}
  documents-scan leaves (`Engine._scan_leaf`, one filtered scan each):
    term | terms | range | exists | constant_score | match_all |
    match_none | ids | wildcard | prefix | regexp | terms_lookup |
    rank_feature | distance_feature
  {"hybrid":        {queries: [spec...], pagination_depth, filter}}
                    `filter` is pushed into every sub-query before its
                    top-k; scan leaves AND it into their scan predicate
  {"agentic":       {query_text}}
pipeline:
  {"normalization": {technique, rank_constant},
   "combination":   {technique, weights},
   "rerank":        {type: by_field|ml_opensearch, target_field|query_text},
   "highlight":     {query_text},
   "collapse":      {field},
   "mmr":           {candidates, lambda},
   "explain":       bool,
   "default_model_id": str}
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import artifacts, catalog, models
from ..operators import bm25 as B
from ..operators import fusion as FU
from ..operators import highlight as H
from ..operators import parentjoin as PJ
from ..operators import rerank as RR
from ..operators import retrieval as R

# synthetic child-doc id: parent_id * base + chunk_idx (chunk counts per
# doc are far below the base at any document length this corpus allows)
CHILD_ID_BASE = 100000
# LRU bounds for the per-engine persisted caches (ADVICE r3: long-lived
# engines must not accumulate pinned storage without eviction)
REQUEST_CACHE_CAP = 64
COMBINED_IDX_CACHE_CAP = 8

DEFAULT_K = R.DEFAULT_K

# -- ANN ingest artifacts ---------------------------------------------------
# Centroids and PQ codebooks/codes are INDEX artifacts: the reference
# trains/writes them at segment build time, never per query (SEISMIC
# codec S4; `sparse/query/SparseAnnQueryBuilder.java` only *reads* the
# built structures). Built through the artifact store (artifacts.py),
# keyed on (corpus dir, structural params) exactly like
# registry._centroids / _seismic_index, so repeated searches — the
# 100 TB steady state — pay zero driver collects and zero codebook
# training. They are always built over the FULL corpus (an index
# describes the whole table); per-query filters prune the candidate
# scan, not the artifact.
@artifacts.artifact
def _full_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding) of every document with a vector, kept in
    memory: unfiltered brute-force search scans it, and the IVF cells
    and PQ codebooks are built from it."""
    return (
        catalog.corpus(spark, sf_dir)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        .persist()
    )


# The lexical artifact: `B.scored_postings` of the corpus under one
# analyzer, kept in memory (nothing on disk). `match` and
# `neural_sparse` requests only filter it by their tokens and score.
_SCORED_POSTINGS = "compiler.scored_postings"


@artifacts.artifact
def _ivf_centroids(
    spark: SparkSession, sf_dir: str, ncells: int
) -> list[tuple[int, list[float]]]:
    rows = _full_vectors(spark, sf_dir).orderBy("vec_id").limit(ncells).collect()
    return [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(rows)]


@artifacts.artifact
def _ivf_cells(spark: SparkSession, sf_dir: str, ncells: int) -> DataFrame:
    """(vec_id, embedding, cluster_id) over the full corpus, assigned
    to the `_ivf_centroids(ncells)` cells once and kept in memory, so an
    IVF request only filters by its probe cells and scores."""
    return _assign_cells(spark, sf_dir, _ivf_centroids(spark, sf_dir, ncells))


def _assign_cells(
    spark: SparkSession, sf_dir: str, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    from ..operators import ann as ANN

    full = _full_vectors(spark, sf_dir)
    return full.withColumn("cluster_id", ANN.ivf_cell(cents)).persist()


@artifacts.artifact
def _pq_index(spark: SparkSession, sf_dir: str, codebook_k: int):
    """(codebooks, persisted codes DataFrame)."""
    from ..operators import pq as PQ

    full = _full_vectors(spark, sf_dir)
    books = PQ.train_codebooks(full, k=codebook_k)
    codes = PQ.encode_pq(full, books).persist()
    codes.count()  # materialize once, at "ingest"
    return books, codes


# index statistics (rowcount, stored dim) per corpus dir — engines are
# constructed per query, so these must outlive the instance (r10)
@artifacts.artifact
def _corpus_count(spark: SparkSession, sf_dir: str) -> int:
    return int(catalog.corpus(spark, sf_dir).count())


@artifacts.artifact
def _corpus_dim(spark: SparkSession, sf_dir: str) -> int:
    row = catalog.corpus(spark, sf_dir).select(F.size("embedding").alias("d")).first()
    return int(row["d"])


# auto_date_histogram interval ladder (seconds) — the fixed menu the
# agg picks from, smallest interval that keeps bucket count ≤ target
# (OpenSearch's rounding ladder: seconds → minutes → hours → days →
# weeks → months → quarters → years, approximated in fixed seconds)
_AUTO_DH_LADDER = [
    1, 5, 10, 30, 60, 300, 600, 1800, 3600, 3 * 3600, 12 * 3600,
    86400, 7 * 86400, 30 * 86400, 90 * 86400, 365 * 86400,
]

def compile_filter(spec) -> str:
    """Structured filter DSL → SQL predicate string.

    The reference carries opaque `QueryBuilder` filters into
    neural/knn queries (P1, `query/NeuralQueryBuilder.java:645-646`);
    the OpenSearch-idiomatic leaves are `term`/`terms`/`range`/
    `exists` composed with `bool` (must/should/must_not). A plain
    string passes through unchanged, so both forms are accepted
    anywhere a filter is allowed.
    """
    if isinstance(spec, str):
        return spec
    if not isinstance(spec, dict) or len(spec) != 1:
        raise ValueError(f"bad filter spec: {spec!r}")
    (kind, body), = spec.items()
    if kind == "term":
        (field, value), = body.items()
        return f"{field} = {_sql_lit(value)}"
    if kind == "terms":
        (field, values), = body.items()
        vals = ", ".join(_sql_lit(v) for v in values)
        return f"{field} IN ({vals})"
    if kind == "range":
        (field, bounds), = body.items()
        ops = {"gte": ">=", "gt": ">", "lte": "<=", "lt": "<"}
        parts = [
            f"{field} {ops[op]} {_sql_lit(v)}" for op, v in bounds.items() if op in ops
        ]
        if not parts:
            raise ValueError(f"range filter needs gte/gt/lte/lt: {bounds!r}")
        return "(" + " AND ".join(parts) + ")"
    if kind == "exists":
        return f"{body['field']} IS NOT NULL"
    if kind == "bool":
        clauses = []
        for sub in body.get("must", []):
            clauses.append(compile_filter(sub))
        should = [compile_filter(s) for s in body.get("should", [])]
        if should:
            clauses.append("(" + " OR ".join(should) + ")")
        for sub in body.get("must_not", []):
            clauses.append(f"NOT ({compile_filter(sub)})")
        if not clauses:
            raise ValueError("empty bool filter")
        return "(" + " AND ".join(clauses) + ")"
    raise ValueError(f"unsupported filter type: {kind}")


def _clause_list(spec) -> list:
    """OpenSearch accepts a single object OR an array for every bool
    slot (filters may also be raw SQL strings)."""
    if spec is None:
        return []
    return [spec] if isinstance(spec, (dict, str)) else list(spec)


def _sql_lit(v) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


class Engine:
    """One engine per corpus directory (the "index")."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        default_model_id: str = "stub-dense",
        agent_translate=None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.default_model_id = default_model_id
        # R9 pluggable agent (the LLM boundary): Callable[[str], dict]
        # producing a DSL spec — same contract as the reference's
        # `processor/AgenticQueryTranslatorProcessor.java:97-150`.
        # Resolution order: explicit callable > env-configured LLM
        # endpoint (NEURAL_SEARCH_AGENT_ENDPOINT) > deterministic rules
        if agent_translate is None and os.environ.get(
            "NEURAL_SEARCH_AGENT_ENDPOINT"
        ):
            agent_translate = llm_agent_translate()
        self.agent_translate = agent_translate or _agentic_translate
        self._bm25 = None
        self._field_bm25 = None
        self._positional = None
        self._mlt_stats = None
        self._stored_dim = None
        # S7 typed event counters (stats.EVENT_STAT_NAMES — the full
        # EventStatName enumeration, validated names only)
        from ..stats import EventStats

        self.event_stats = EventStats()

    def _evt(self, name: str, n: int = 1) -> None:
        self.event_stats.incr(name, n)

    # -- corpus ------------------------------------------------------------
    def corpus(self) -> DataFrame:
        return catalog.corpus(self.spark, self.sf_dir)

    def add_runtime_field(self, name: str, expr: str) -> None:
        """OpenSearch runtime field: a script-derived (Spark-SQL)
        column materialized on read — immediately usable in filters,
        sorts, aggs, and rank_feature like any mapped field. Pure
        projection: Catalyst folds it into the scan, so there is no
        storage and no extra pass."""
        if not hasattr(self, "_runtime_fields"):
            self._runtime_fields = {}
        self._runtime_fields[name] = expr

    def documents(self) -> DataFrame:
        df = catalog.table(self.spark, self.sf_dir, "documents")
        for name, expr in getattr(self, "_runtime_fields", {}).items():
            df = df.withColumn(name, F.expr(expr))
        return df

    def bm25_index(self, analyzer: str | None = None) -> B.BM25Index:
        """Per-analyzer index cache — each analyzer is its own postings
        layout (the Lucene per-field-analyzer analogue), built once."""
        if self._bm25 is None:
            self._bm25 = {}
        if analyzer not in self._bm25:
            idx = B.build_bm25(self.documents(), analyzer=analyzer)
            idx.scored = self.scored_postings(analyzer)
            self._bm25[analyzer] = idx
        return self._bm25[analyzer]

    def scored_postings(self, analyzer: str | None = None) -> DataFrame:
        """(doc_id, token, tf, dl, df double) of this corpus under
        `analyzer` (`B.scored_postings`): one persisted artifact per
        (corpus, analyzer), the bundle's once `attach_index` put it,
        else built from this engine's documents. Runs no Spark job."""

        def build() -> DataFrame:
            postings, doclen = B.index_frames(self.documents(), analyzer=analyzer)
            return B.scored_postings(postings, doclen).persist()

        return artifacts.lookup(
            self.spark, self.sf_dir, _SCORED_POSTINGS, (analyzer,), build
        )

    # derived text fields — the S3 mapping-transformer face of the DSL:
    # a "field" a query addresses need not be a physical column; `title`
    # is the leading-tokens projection of `text` (the ingest mapping
    # would materialize it at scale; deriving it in-plan is equivalent
    # and costs one extra scan of the already-read text column)
    TITLE_TOKENS = 8

    def field_frame(self, field: str) -> DataFrame:
        docs = self.documents()
        if field == "text":
            return docs
        if field == "title":
            from ..functions import sparse as SP

            toks = SP.tokens(F.col("text"))
            return docs.select(
                "doc_id",
                F.array_join(F.slice(toks, 1, self.TITLE_TOKENS), " ").alias("text"),
            )
        raise ValueError(f"unknown field: {field!r} (have text, title)")

    def field_index(self, field: str) -> B.BM25Index:
        """Per-field BM25 index cache (Lucene's per-field statistics:
        each field carries its own postings, doc lengths, N, avgdl)."""
        if field == "text":
            return self.bm25_index()
        if self._field_bm25 is None:
            self._field_bm25 = {}
        if field not in self._field_bm25:
            self._field_bm25[field] = B.build_bm25(self.field_frame(field))
        return self._field_bm25[field]

    def positional_index(self) -> DataFrame:
        if self._positional is None:
            self._positional = B.build_positional(self.documents())
        return self._positional

    def chunks(self) -> DataFrame:
        """Child frame for the parent/child join-field family:
        fixed-token chunks of every document, one row per child doc.
        The parent key AND parent routing attributes (`source`) are
        DENORMALIZED into the child rows — the Spark-side equivalent
        of the join field's same-shard routing — so has_child /
        has_parent / children-agg never chase a parent↔child join
        across the corpus. Built once per engine (ingest artifact)."""
        if getattr(self, "_chunks", None) is None:
            from ..functions import chunking as C

            ch = C.chunk_fixed_token(F.col("text"), 20, 0.25)
            self._chunks = (
                self.documents()
                .select(
                    "doc_id", "source",
                    F.posexplode(ch).alias("chunk_idx", "chunk"),
                )
                .withColumn(
                    "child_id",
                    F.col("doc_id").cast("long") * CHILD_ID_BASE
                    + F.col("chunk_idx"),
                )
            )
        return self._chunks

    def chunk_bm25_index(self) -> B.BM25Index:
        """BM25 index over the CHILD corpus (chunk rows as their own
        docs with their own corpus stats). Divergence note: OpenSearch
        mixes parent and child docs into one Lucene index so BM25
        stats blend both; scoring children against child-corpus stats
        is the cleaner contract and is what this engine implements."""
        if getattr(self, "_chunk_bm25", None) is None:
            self._chunk_bm25 = B.build_bm25(
                self.chunks(), id_col="child_id", text_col="chunk"
            )
        return self._chunk_bm25

    def attach_index(self, bundle) -> None:
        """Compile against persisted artifacts (sources/index_store.py)
        instead of rebuilding from the corpus: BM25 postings/doclen/
        stats come from the loaded tables (token-partitioned parquet),
        and the IVF/PQ artifacts are put into the artifact store — so
        the first ANN query after a restart is as cheap as the Nth."""
        if self._bm25 is None:
            self._bm25 = {}
        idx = B.BM25Index(
            postings=bundle.postings,
            doclen=bundle.doclen,
            stats=bundle.stats,
            analyzer=bundle.analyzer,
            dfs=getattr(bundle, "dfs", None),
        )
        idx.scored = B.scored_postings(idx.postings, idx.doclen, idx.dfs)
        artifacts.put(
            self.spark, self.sf_dir, _SCORED_POSTINGS, (bundle.analyzer,), idx.scored
        )
        # after the put: it unpersists the frame it replaces, and the
        # cache matches frames by plan, so an equal plan would go too
        idx.scored.persist()
        self._bm25[bundle.analyzer] = idx
        if bundle.centroids:
            ncells = len(bundle.centroids)
            before = artifacts.peek(
                self.sf_dir, _ivf_centroids.artifact_name, (ncells,)
            )
            _ivf_centroids.put(bundle.centroids, self.spark, self.sf_dir, ncells)
            if bundle.centroids != before:
                # cells assigned to other centroids must not outlive them
                _ivf_cells.put(
                    _assign_cells(self.spark, self.sf_dir, bundle.centroids),
                    self.spark, self.sf_dir, ncells,
                )
        if bundle.pq_codebooks and bundle.pq_codes is not None:
            _pq_index.put(
                (bundle.pq_codebooks, bundle.pq_codes),
                self.spark, self.sf_dir, len(bundle.pq_codebooks[0]),
            )
        if getattr(bundle, "positional", None) is not None:
            self._positional = bundle.positional
        if getattr(bundle, "chunks", None) is not None:
            self._chunks = bundle.chunks
        if getattr(bundle, "chunk_postings", None) is not None:
            # child-corpus BM25 from the store: has_child/has_parent
            # compile to a token-pruned scan of the persisted postings
            # + one parent-key groupBy — no chunk re-derivation
            self._chunk_bm25 = B.BM25Index(
                postings=bundle.chunk_postings,
                doclen=bundle.chunk_doclen,
                stats=bundle.chunk_stats,
                analyzer=None,
                dfs=getattr(bundle, "chunk_dfs", None),
            )

    # -- model resolution (Q9 enricher) -----------------------------------
    def _resolve_model(self, spec: dict) -> str:
        return spec.get("model_id") or self.default_model_id

    def _corpus_count(self) -> int:
        """Corpus row count — an index statistic, cached PER CORPUS DIR
        (at scale this is table metadata, not a scan; engines are
        per-query objects, so an instance-level cache re-ran the count
        job on every query — r10)."""
        return _corpus_count(self.spark, self.sf_dir)

    def _corpus_dim(self) -> int:
        """Dimensionality of the stored embedding column (the index's
        ingest model's dim) — one 1-row action, cached per corpus dir
        (same rationale as `_corpus_count`)."""
        if self._stored_dim is None:
            self._stored_dim = _corpus_dim(self.spark, self.sf_dir)
        return self._stored_dim

    def _in_stored_space(self, model_id: str) -> bool:
        """The stored embedding column is in `model_id`'s vector space."""
        return models.MODEL_REGISTRY[model_id].dim == self._corpus_dim()

    def model_corpus(self, model_id: str) -> DataFrame:
        """Corpus whose embedding column lives in `model_id`'s vector
        space. When the model's dim matches the index's stored dim the
        stored column is that space (the reference's contract: the
        field's ingest model == the query's model,
        `query/NeuralQueryBuilder.java:645-646`). When a query swaps in
        a DIFFERENT-dim model, comparing against the stored column is
        meaningless (null/garbage cosines) — so the documents are
        re-embedded through the model's pandas UDF. At scale that
        re-embed is an INGEST job (F1), not query work, and it is
        persisted as one here too: the embedded frame is written to the
        corpus's index-store warehouse keyed by (doc count, dim,
        weights fingerprint), so a COLD query in a fresh process loads
        parquet instead of re-running the encoder over the corpus
        (sources/index_store.load_or_build_model_corpus; round-7
        verdict item 3). Store failures fall back to the in-plan UDF
        build — correctness unchanged. The artifact store keeps it per
        (corpus, model, weights fingerprint) through the same lookup as
        the decorated builders: its input is this engine's `documents()`."""
        if self._in_stored_space(model_id):
            return self.corpus()
        spec = models.MODEL_REGISTRY[model_id]

        def _load_or_build() -> DataFrame:
            from ..sources import index_store as IS

            docs = self.documents()

            def _build() -> DataFrame:
                return docs.withColumn(
                    "embedding",
                    models.dense_embed_model_udf(model_id, "PASSAGE")(
                        F.col("text")
                    ),
                )

            return IS.load_or_build_model_corpus(
                self.spark, self.sf_dir, model_id, spec.fingerprint,
                spec.dim, docs.count(), _build,
            )

        return artifacts.lookup(
            self.spark, self.sf_dir, "compiler.model_corpus",
            (model_id, spec.fingerprint), _load_or_build,
        )

    # -- sub-query compilation --------------------------------------------
    def _scan_leaf(
        self, cond, score, k: int, hybrid_filter: str | None, by_score: bool = False
    ) -> DataFrame:
        """A documents-scan leaf: the docs where `cond` holds, scored by
        the `score` column, top-`k` by doc_id (index order) or by score
        desc, doc_id. A hybrid-level filter (P2) ANDs into the same
        scan predicate, so it prunes before top-k without a second
        documents scan."""
        if hybrid_filter:
            cond = cond & F.expr(hybrid_filter)
        out = self.documents().where(cond).select("doc_id", score.alias("score"))
        order = (F.col("score").desc(), "doc_id") if by_score else ("doc_id",)
        return out.orderBy(*order).limit(k)

    def _compile_sub(
        self, spec: dict[str, Any], depth: int | None, hybrid_filter: str | None = None
    ) -> DataFrame:
        (qtype, body), = spec.items()
        body = body or {}
        # generic leaf `boost` (OpenSearch: every query clause accepts
        # boost; score multiplies) — handled here once so every leaf
        # type composes; types that fold boost into their own formula
        # keep doing so
        if (
            isinstance(body, dict)
            and "boost" in body
            and qtype not in ("rank_feature", "distance_feature", "constant_score")
        ):
            inner = {qtype: {k2: v for k2, v in body.items() if k2 != "boost"}}
            out = self._compile_sub(inner, depth, hybrid_filter)
            return out.withColumn(
                "score", F.col("score") * F.lit(float(body["boost"]))
            )
        if qtype == "bool":
            # nested bool as a sub-clause (query_string groups, nested
            # bool legs): recurse through the full scored-bool branch;
            # the depth window keeps the nested match set complete for
            # the enclosing intersection. A hybrid-level filter (P2)
            # rides along as an extra filter clause — compile_filter
            # passes raw SQL strings through unchanged.
            inner = dict(body)
            inner.setdefault("pagination_depth", depth or 1_000_000)
            if hybrid_filter:
                inner["filter"] = _clause_list(inner.get("filter")) + [
                    hybrid_filter
                ]
            return self.search(
                {"bool": inner}, None, size=int(inner["pagination_depth"])
            ).select("doc_id", "score")
        k = body.get("k", depth or DEFAULT_K)
        # P2: a hybrid-level filter is pushed into EVERY sub-query
        # (`query/HybridQueryBuilder.java:117-128`)
        candidate_ids = (
            self.documents().where(F.expr(hybrid_filter)).select("doc_id")
            if hybrid_filter
            else None
        )
        if qtype in ("term", "terms", "range", "exists"):
            # filter-context leaves as standalone queries (OpenSearch
            # accepts {"query": {"term": ...}} etc. at top level):
            # constant-score over the filtered scan
            return self._scan_leaf(
                F.expr(compile_filter({qtype: body})), F.lit(1.0), k, hybrid_filter
            )
        if qtype == "constant_score":
            # filter-context match set, every hit scores `boost`
            return self._scan_leaf(
                F.expr(compile_filter(body["filter"])),
                F.lit(float(body.get("boost", 1.0))), k, hybrid_filter,
            )
        if qtype == "match_all":
            # every doc, constant score (the generic leaf boost above
            # scales it); doc_id order stands in for index order
            return self._scan_leaf(F.lit(True), F.lit(1.0), k, hybrid_filter)
        if qtype == "match_none":
            return self._scan_leaf(F.lit(False), F.lit(0.0), k, hybrid_filter)
        if qtype == "neural":
            # Q9 enricher resolves the model id; inference goes through
            # the model REGISTRY (models.MODEL_REGISTRY), so swapping
            # the stub for a real encoder is a registration, not a
            # query-code change (`ml/MLCommonsClientAccessor.java:110`)
            self._evt("neural_query_requests")
            self._evt("neural_query_against_knn_requests")
            model_id = self._resolve_model(body)
            used_model = "vector" not in body
            if "vector" in body:
                qv = [float(x) for x in body["vector"]]
            elif "query_image" in body:
                img = body["query_image"]
                img = bytes.fromhex(img) if isinstance(img, str) else bytes(img)
                qv = models.embed_text_image_py(body.get("query_text"), img)
            elif "query_text" in body:
                qv = models.encode_query(model_id, body["query_text"], "QUERY")
            else:
                raise ValueError(
                    "neural query requires 'query_text', 'query_image', or 'vector'"
                )
            flt = F.expr(compile_filter(body["filter"])) if body.get("filter") else None
            if hybrid_filter:
                hf = F.expr(hybrid_filter)
                flt = hf if flt is None else (flt & hf)
            # corpus side must live in the query model's vector space
            # (stored column when dims agree, model re-embed otherwise)
            corp_base = self.model_corpus(model_id) if used_model else self.corpus()
            corp = corp_base if flt is None else corp_base.where(flt)
            if body.get("max_distance") is not None:
                return R.radial_search(
                    corp, qv, max_distance=body["max_distance"]
                ).limit(k)
            if body.get("rescore"):
                # kNN rescore context (`query/NeuralQueryBuilder.java:649-650`):
                # cheap int-quantized phase 1 over the corpus, exact cosine
                # only on the oversampled window
                rs = body["rescore"] if isinstance(body["rescore"], dict) else {}
                return R.dense_rescore_topk(
                    corp, qv, k=k,
                    oversample=float(rs.get("oversample", 3.0)),
                    quant_bits=int(rs.get("quant_bits", 8)),
                )
            method = (body.get("method") or {}).get("name", "brute")
            if method != "brute":
                if used_model and len(qv) != self._corpus_dim():
                    raise ValueError(
                        f"model {model_id!r} (dim {len(qv)}) does not match the "
                        f"index's stored embeddings (dim {self._corpus_dim()}); "
                        "ANN artifacts are built per ingest model — re-ingest "
                        "with this model (sources/index_store) or use brute/"
                        "rescore search, which re-embeds in-plan"
                    )
                return self._ann_topk(method, body.get("method") or {}, qv, k, flt)
            vec_col = body.get("field", "embedding")
            if vec_col == "embedding" and (
                not used_model or self._in_stored_space(model_id)
            ):
                # brute force over the in-memory vectors; a filter
                # keeps its candidate ids, as the IVF probe does
                vecs = _full_vectors(self.spark, self.sf_dir)
                if flt is not None:
                    ids = self.corpus().where(flt).select(F.col("doc_id").alias("vec_id"))
                    vecs = vecs.join(ids, "vec_id", "semi")
                corp_base, flt = vecs.withColumnRenamed("vec_id", "doc_id"), None
            return R.dense_topk(
                corp_base,
                qv,
                k=k,
                vec_col=vec_col,
                pre_filter=flt,
                min_score=body.get("min_score"),
            )
        if qtype == "neural_sparse":
            # R4 analyzer mode: a named analyzer tokenizes BOTH the
            # query text and the postings build (same registry entry,
            # `query/NeuralSparseQueryBuilder.java:509-552`)
            self._evt("neural_sparse_query_requests")
            if body.get("two_phase"):
                self._evt("neural_sparse_two_phase_processor_executions")
            if (body.get("method") or {}).get("name") == "seismic":
                self._evt("seismic_query_requests")
            if body.get("nested"):
                self._evt("neural_query_against_semantic_sparse_requests")
            sparse_analyzer = body.get("analyzer")
            if "query_tokens" in body:
                qt = {t: float(w) for t, w in body["query_tokens"].items()}
            elif "query_text" not in body:
                raise ValueError(
                    "neural_sparse query requires 'query_text' or 'query_tokens'"
                )
            else:
                text = body["query_text"]
                if sparse_analyzer:
                    from ..functions.analyzers import analyze_py

                    qtoks = analyze_py(text, sparse_analyzer)
                else:
                    qtoks = text.split()
                qt = {}
                for tok in qtoks:
                    qt[tok] = qt.get(tok, 0.0) + 1.0
            if body.get("nested"):
                # R2 nested-chunk scoring: chunk each doc, score every
                # chunk, parent score = MAX child (`ScoreMode.Max`,
                # `query/NeuralQueryBuilder.java:787`)
                from ..functions import chunking as CH
                from ..functions import sparse as SP

                nested = body["nested"] if isinstance(body["nested"], dict) else {}
                chunks = CH.chunk_fixed_token(
                    F.col(body.get("field", "text")),
                    int(nested.get("token_limit", 20)),
                    float(nested.get("overlap_rate", 0.25)),
                )
                exploded = self.documents().select(
                    "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
                )
                if hybrid_filter:
                    exploded = exploded.join(
                        F.broadcast(candidate_ids), "doc_id", "semi"
                    )
                toks = SP.tokens(F.col("chunk"))
                score = F.lit(0.0)
                for t, w in qt.items():
                    score = score + F.lit(float(w)) * F.size(
                        F.filter(toks, lambda x: x == t)
                    ).cast("double")
                chunk_scores = exploded.select(
                    "doc_id", "chunk_idx", score.alias("score")
                )
                return R.chunk_max_topk(chunk_scores, k=k)
            postings = self.scored_postings(sparse_analyzer).select(
                "doc_id", "token", F.col("tf").alias("weight")
            )
            method = (body.get("method") or {})
            if method.get("name") == "seismic":
                # R7 sparse ANN method dispatch
                # (`sparse/query/SparseAnnQueryBuilder.java:67-87`) with
                # the R8 exact fallback built in
                from ..operators import seismic as SE

                if candidate_ids is not None:
                    postings = postings.join(
                        F.broadcast(candidate_ids), "doc_id", "semi"
                    )
                return SE.sparse_ann_topk(
                    postings, qt, k=k,
                    approximate_threshold=int(
                        method.get("approximate_threshold", SE.APPROXIMATE_THRESHOLD)
                    ),
                    top_n=int(method.get("top_n", SE.DEFAULT_TOP_N)),
                    heap_factor=float(method.get("heap_factor", SE.DEFAULT_HEAP_FACTOR)),
                    adaptive=bool(method.get("adaptive", False)),
                )
            if body.get("two_phase"):
                if candidate_ids is not None:
                    postings = postings.join(
                        F.broadcast(candidate_ids), "doc_id", "semi"
                    )
                # two_phase: true uses processor defaults; a dict carries
                # the NeuralSparseTwoPhaseProcessor knobs (`two_phase_
                # parameter` in the reference: prune_ratio, expansion_rate,
                # max_window_size — NeuralSparseTwoPhaseProcessor.java)
                tp = body["two_phase"]
                tp = tp if isinstance(tp, dict) else {}
                return R.two_phase_sparse(
                    postings, qt, k=k,
                    prune_ratio=float(tp.get("prune_ratio", 0.4)),
                    expansion_rate=float(tp.get("expansion_rate", 5.0)),
                    max_window=int(tp.get("max_window_size", 10000)),
                )
            return R.sparse_topk_postings(postings, qt, k=k, candidate_ids=candidate_ids)
        if qtype == "match":
            if "query" not in body:
                raise ValueError("match query requires 'query'")
            return B.bm25_topk(
                self.bm25_index(body.get("analyzer")), body["query"], k=k,
                candidate_ids=candidate_ids,
                search_analyzer=body.get("search_analyzer"),
            )
        if qtype == "multi_match":
            # OpenSearch core multi_match: per-field BM25 (each field
            # its own postings + stats), boosts via `field^2` syntax,
            # best_fields (dis-max) / most_fields (sum) combination
            if "query" not in body:
                raise ValueError("multi_match query requires 'query'")
            idxs: dict[str, tuple] = {}
            for fspec in body.get("fields", ["text"]):
                fname, _, boost = str(fspec).partition("^")
                idxs[fname] = (self.field_index(fname), float(boost or 1.0))
            return B.multi_match_topk(
                idxs, body["query"], k=k,
                match_type=body.get("type", "best_fields"),
                candidate_ids=candidate_ids,
            )
        if qtype == "match_phrase":
            if "query" not in body:
                raise ValueError("match_phrase query requires 'query'")
            slop = int(body.get("slop", 0))
            qterms = [t for t in body["query"].lower().split() if t]
            if slop > 0 and len(qterms) >= 2:
                # sloppy phrase: ordered greedy chains within
                # (m-1)+slop positions — the intervals machinery.
                # Divergence note: Lucene's sloppy phrase also accepts
                # out-of-order arrangements (each transposition costs
                # 2 slop); the ordered subset is what's implemented,
                # which agrees for in-order text
                return B.intervals_topk(
                    self.positional_index(), self.bm25_index(),
                    qterms, max_gaps=slop, k=k,
                    candidate_ids=candidate_ids,
                )
            if slop > 0:
                # single-term sloppy phrase: OpenSearch degenerates to
                # a plain term match (no proximity to measure)
                return B.bm25_topk(
                    self.bm25_index(), body["query"], k=k,
                    candidate_ids=candidate_ids,
                )
            return B.phrase_topk(
                self.positional_index(), self.bm25_index(), body["query"], k=k,
                candidate_ids=candidate_ids,
            )
        if qtype == "match_phrase_prefix":
            if "query" not in body:
                raise ValueError("match_phrase_prefix query requires 'query'")
            return B.phrase_prefix_topk(
                self.positional_index(), self.bm25_index(), body["query"], k=k,
                candidate_ids=candidate_ids,
            )
        if qtype == "fuzzy":
            idx = self.bm25_index()
            post = idx.postings.withColumnRenamed("tf", "weight")
            return B.fuzzy_topk(
                post, body["value"], max_dist=int(body.get("fuzziness", 2)), k=k,
                candidate_ids=candidate_ids, vocab=idx.dfs,
            )
        if qtype == "more_like_this":
            post = self.bm25_index().postings.withColumnRenamed("tf", "weight")
            if self._mlt_stats is None:
                # df stats are an index artifact: built once per engine
                self._mlt_stats = B.mlt_stats(post)
            like = body["like"]
            if isinstance(like, str) and not like.isdigit():
                # OpenSearch "like text" form: artificial query text
                return B.more_like_this_text_topk(
                    post, like,
                    max_terms=int(body.get("max_query_terms", 10)), k=k,
                    candidate_ids=candidate_ids, stats=self._mlt_stats,
                )
            return B.more_like_this_topk(
                post, int(like),
                max_terms=int(body.get("max_query_terms", 10)), k=k,
                candidate_ids=candidate_ids, stats=self._mlt_stats,
            )
        if qtype in ("wildcard", "prefix", "regexp"):
            # constant-score term-level queries (OpenSearch core): the
            # predicate pushes to the scan; score = 1.0, index order
            # stands in as doc_id order. `*`/`?` wildcards → SQL LIKE.
            field = body.get("field", "text")
            val = body["value"]
            if qtype == "prefix":
                cond = F.col(field).startswith(val)
            elif qtype == "wildcard":
                pat = val.replace("%", r"\%").replace("_", r"\_")
                pat = pat.replace("*", "%").replace("?", "_")
                cond = F.col(field).like(pat)
            else:
                cond = F.col(field).rlike(val)
            return self._scan_leaf(cond, F.lit(1.0), k, hybrid_filter)
        if qtype == "terms_set":
            # OpenSearch terms_set: docs matching at least
            # `minimum_should_match` of the listed terms; score = sum
            # of the matched terms' BM25 contributions. The scored
            # postings filtered to the terms, one (doc) aggregate.
            terms = sorted({t.lower() for t in body["terms"]})
            msm = int(body.get("minimum_should_match", 1))
            idx = self.bm25_index()
            matched = idx.scored.where(F.expr(R.token_in_sql(terms)))
            if candidate_ids is not None:
                matched = matched.join(F.broadcast(candidate_ids), "doc_id", "semi")
            scored = (
                matched.groupBy("doc_id")
                .agg(
                    F.count("*").alias("__matched"),
                    F.expr(f"sum({B.term_score_sql(*idx.stats)})").alias("score"),
                )
                .where(F.col("__matched") >= msm)
                .select("doc_id", "score")
            )
            return scored.orderBy(F.col("score").desc(), "doc_id").limit(k)
        if qtype == "span_near":
            # Lucene SpanNearQuery for a term pair: proximity-tf BM25
            # over the positional postings (slop + in_order knobs)
            terms = [t.lower() for t in body["terms"]]
            if len(terms) != 2:
                raise ValueError("span_near supports exactly two terms")
            return B.span_near_topk(
                self.positional_index(), self.bm25_index(),
                terms[0], terms[1],
                slop=int(body.get("slop", 0)),
                in_order=bool(body.get("in_order", True)),
                k=k,
                candidate_ids=candidate_ids,
            )
        if qtype == "span_or":
            # Lucene SpanOrQuery: union of the clause spans — combined
            # occurrence count scored as one pseudo-term
            return B.span_or_topk(
                self.positional_index(), self.bm25_index(),
                [t.lower() for t in body["terms"]], k=k,
                candidate_ids=candidate_ids,
            )
        if qtype == "span_first":
            # Lucene SpanFirstQuery: term within the first `end`
            # positions; tf counts only qualifying occurrences
            return B.span_first_topk(
                self.positional_index(), self.bm25_index(),
                body["term"], int(body["end"]), k=k,
                candidate_ids=candidate_ids,
            )
        if qtype == "span_not":
            # Lucene SpanNotQuery: include-term occurrences with no
            # exclude-term occurrence within [p-pre, p+post]
            return B.span_not_topk(
                self.positional_index(), self.bm25_index(),
                body["include"], body["exclude"],
                pre=int(body.get("pre", 0)), post=int(body.get("post", 0)),
                k=k,
                candidate_ids=candidate_ids,
            )
        if qtype in ("span_containing", "span_within"):
            # Lucene SpanContaining/SpanWithinQuery: big = ordered
            # term pair within slop, little = single term
            bg = body["big"]
            big = (bg["terms"][0], bg["terms"][1], int(bg.get("slop", 0)))
            fn = (
                B.span_containing_topk
                if qtype == "span_containing"
                else B.span_within_topk
            )
            return fn(
                self.positional_index(), self.bm25_index(),
                big, body["little"], k=k,
                candidate_ids=candidate_ids,
            )
        if qtype == "has_child":
            # join-field has_child: parents of matching children,
            # child scores aggregated per score_mode over the child
            # BM25 index (one groupBy on the denormalized parent key)
            (ctype, cbody), = body["query"].items()
            if ctype != "match":
                raise ValueError(
                    f"unsupported has_child sub-query type: {ctype}"
                )
            cs = B.bm25_scores(
                self.chunk_bm25_index(), cbody["query"], id_col="child_id"
            ).select(
                F.floor(F.col("child_id") / CHILD_ID_BASE)
                .cast("long")
                .alias("doc_id"),
                "score",
            )
            if candidate_ids is not None:
                # P2: hybrid filter restricts the PARENT docs; child
                # counts per surviving parent are unaffected
                cs = cs.join(F.broadcast(candidate_ids), "doc_id", "semi")
            return PJ.has_child_topk(
                cs,
                score_mode=body.get("score_mode", "max"),
                min_children=int(body.get("min_children", 1)),
                max_children=body.get("max_children"),
                k=k,
            )
        if qtype == "has_parent":
            # join-field has_parent: children inherit the matching
            # parent's score (score=false → constant 1.0)
            (ptype, pbody), = body["query"].items()
            if ptype != "match":
                raise ValueError(
                    f"unsupported has_parent sub-query type: {ptype}"
                )
            ps = B.bm25_scores(self.bm25_index(), pbody["query"])
            if candidate_ids is not None:
                # P2: hybrid filter restricts the PARENT docs (the
                # filter expression is over parent attributes);
                # children of excluded parents drop out
                ps = ps.join(F.broadcast(candidate_ids), "doc_id", "semi")
            return PJ.has_parent_children_topk(
                ps, self.chunks(), k=k, score=bool(body.get("score", True))
            )
        if qtype == "parent_id":
            # join-field parent_id: the children of one parent
            out = PJ.parent_id_children(self.chunks(), body["id"])
            if candidate_ids is not None:
                out = out.join(F.broadcast(candidate_ids), "doc_id", "semi")
            return out
        if qtype == "intervals":
            # intervals query, ordered match rule with max_gaps —
            # greedy minimal ordered chains over positional postings
            return B.intervals_topk(
                self.positional_index(), self.bm25_index(),
                [t.lower() for t in body["terms"]],
                max_gaps=int(body.get("max_gaps", 0)), k=k,
                candidate_ids=candidate_ids,
            )
        if qtype == "match_bool_prefix":
            # match_bool_prefix: every token but the last scores as a
            # normal BM25 should-term; the LAST token is a prefix
            # query under the constant-score multi-term rewrite
            # (score 1.0 per matching doc, Lucene's default rewrite) —
            # a doc matching either side matches the bool
            toks = [t for t in body["query"].lower().split() if t]
            if not toks:
                raise ValueError("match_bool_prefix requires 'query'")
            prefix, full = toks[-1], toks[:-1]
            idx = self.bm25_index()
            parts = []
            if full:
                parts.append(
                    B.bm25_scores(idx, " ".join(full)).select("doc_id", "score")
                )
            prefix_docs = (
                idx.postings.where(F.col("token").startswith(prefix))
                .select("doc_id")
                .distinct()
                .select("doc_id", F.lit(1.0).alias("score"))
            )
            parts.append(prefix_docs)
            base = parts[0]
            for p_ in parts[1:]:
                base = base.unionByName(p_)
            scored = base.groupBy("doc_id").agg(F.sum("score").alias("score"))
            if candidate_ids is not None:
                scored = scored.join(
                    F.broadcast(candidate_ids), "doc_id", "semi"
                )
            return scored.orderBy(F.col("score").desc(), "doc_id").limit(k)
        if qtype == "combined_fields":
            # combined_fields: BM25F-style UNIFIED term statistics
            # across weighted fields (vs multi_match's per-field
            # scoring) — tf and dl merge with field weights before a
            # single BM25 pass
            fields, key_parts = [], []
            for f_ in body["fields"]:
                name_, _, w_ = f_.partition("^")
                fields.append((self.field_index(name_), float(w_ or 1.0)))
                key_parts.append((name_, float(w_ or 1.0)))
            # the merged virtual-field stats are an INGEST artifact:
            # build + persist once per field set, reuse per query
            ckey = tuple(key_parts)
            if not hasattr(self, "_combined_idx"):
                from collections import OrderedDict

                self._combined_idx: "OrderedDict[tuple, B.BM25Index]" = OrderedDict()
            if ckey not in self._combined_idx:
                # bounded artifact cache: distinct field-weight sets are
                # few in practice, but a long-lived engine must not pin
                # storage without limit — evict LRU and unpersist
                while len(self._combined_idx) >= COMBINED_IDX_CACHE_CAP:
                    _, old = self._combined_idx.popitem(last=False)
                    old.scored.unpersist()
                self._combined_idx[ckey] = B.build_combined_fields(fields)
            else:
                self._combined_idx.move_to_end(ckey)
            return B.bm25_topk(
                self._combined_idx[ckey], body["query"], k=k,
                candidate_ids=candidate_ids,
            )
        if qtype == "terms_lookup":
            # terms lookup (OpenSearch `terms` with a lookup body):
            # the filter values come from ANOTHER document's field —
            # a driver-side pruned point-read (the same hoisting as
            # query-vector inference), then a constant-score filter
            row = (
                self.documents()
                .where(F.col("doc_id") == int(body["id"]))
                .select(body["path"])
                .first()
            )
            if row is None:
                raise ValueError(f"terms_lookup doc {body['id']} not found")
            vals = row[0] if isinstance(row[0], list) else [row[0]]
            return self._scan_leaf(
                F.col(body["field"]).isin(vals), F.lit(1.0), k, hybrid_filter
            )
        if qtype == "rank_feature":
            # OpenSearch core rank_feature: score a numeric field
            # through saturation x/(x+pivot), log ln(scale·x + 1), or
            # sigmoid x^e/(x^e + pivot^e), times boost. Pure narrow
            # map + TakeOrdered — no shuffle at any scale.
            field = body["field"]
            boost = float(body.get("boost", 1.0))
            x = F.col(field).cast("double")
            if "log" in body:
                val = F.log(F.lit(float(body["log"].get("scaling_factor", 1.0))) * x + 1.0)
            elif "sigmoid" in body:
                sg = body["sigmoid"]
                piv, ex = float(sg["pivot"]), float(sg.get("exponent", 1.0))
                val = F.pow(x, ex) / (F.pow(x, ex) + F.lit(piv) ** ex)
            else:
                piv = float(body.get("saturation", {}).get("pivot", 1.0))
                val = x / (x + F.lit(piv))
            return self._scan_leaf(
                x > 0, F.lit(boost) * val, k, hybrid_filter, by_score=True
            )
        if qtype == "distance_feature":
            # OpenSearch core distance_feature: score decays with the
            # distance of a numeric/date field from `origin` —
            # boost · pivot / (pivot + |value − origin|). Same narrow
            # map + TakeOrdered shape as rank_feature: no shuffle at
            # any scale (dates normalize to epoch seconds upstream).
            field = body["field"]
            origin = float(body["origin"])
            pivot = float(body["pivot"])
            boost = float(body.get("boost", 1.0))
            x = F.col(field).cast("double")
            score = F.lit(boost) * F.lit(pivot) / (
                F.lit(pivot) + F.abs(x - F.lit(origin))
            )
            return self._scan_leaf(
                x.isNotNull(), score, k, hybrid_filter, by_score=True
            )
        if qtype == "ids":
            vals = [int(v) for v in body["values"]]
            return self._scan_leaf(
                F.col("doc_id").isin(vals), F.lit(1.0), k, hybrid_filter
            )
        raise ValueError(f"unsupported query type: {qtype}")

    # -- small API endpoints (_count / _analyze / _explain / _termvectors /
    # aliases) -------------------------------------------------------------
    def add_alias(self, name: str, filter_spec=None) -> None:
        """OpenSearch index alias: a named (optionally filtered) view
        of the index. `search_alias` applies the alias filter to any
        query by AND-ing it into the hybrid/bool filter path."""
        if not hasattr(self, "_aliases"):
            self._aliases = {}
        self._aliases[name] = (
            compile_filter(filter_spec) if filter_spec is not None else None
        )

    def search_alias(self, alias: str, query: dict, **kw) -> DataFrame:
        pred = getattr(self, "_aliases", {}).get(alias, "__missing__")
        if pred == "__missing__":
            raise ValueError(f"unknown alias: {alias!r}")
        if pred is None:
            return self.search(query, **kw)
        allowed = self.documents().where(F.expr(pred)).select("doc_id")
        hits = self.search(query, **kw)
        return hits.join(F.broadcast(allowed), "doc_id", "semi").orderBy(
            F.col("score").desc(), "doc_id"
        )

    def term_vectors(self, doc_id: int) -> DataFrame:
        """The `_termvectors` endpoint: per-token statistics for one
        doc — term freq, corpus doc freq, and token positions (the
        Lucene term-vector payload). One broadcast-pruned pass over
        the positional index + a df lookup."""
        pos = self.positional_index()
        mine = pos.where(F.col("doc_id") == int(doc_id)).select(
            "token", F.size("positions").alias("tf"), "positions"
        )
        df_tbl = (
            pos.join(F.broadcast(mine.select("token")), "token")
            .groupBy("token")
            .agg(F.count_distinct("doc_id").alias("df"))
        )
        return (
            mine.join(F.broadcast(df_tbl), "token")
            .select("token", "tf", "df", "positions")
            .orderBy("token")
        )

    def count(self, query: dict[str, Any] | None = None) -> int:
        """The `_count` endpoint: number of matching docs. Filter-
        context specs (term/terms/range/exists/bool-filter/SQL string)
        count the filtered SCAN — pure pushdown, no scoring, no top-k;
        scored query types count their match set via the same
        compiled frame with the limit removed where that is exact."""
        if query is None:
            return self.documents().count()
        (qtype, body), = query.items()
        if qtype == "constant_score":
            query = body["filter"] if isinstance(body, dict) else body
            return int(
                self.documents().where(F.expr(compile_filter(query))).count()
            )
        if qtype in ("term", "terms", "range", "exists", "bool") or isinstance(
            query, str
        ):
            try:
                pred = compile_filter(query)
            except ValueError:
                pred = None
            if pred is not None:
                return int(self.documents().where(F.expr(pred)).count())
        # scored fallback: count distinct scored hits at full depth
        n = self.documents().count()
        return int(self.search(query, size=n).count())

    def total_hits(
        self,
        query: dict[str, Any] | str,
        track_total_hits: int | bool = 10_000,
    ) -> dict[str, Any]:
        """`track_total_hits`: the hit total tracked only up to a
        threshold — {"value": n, "relation": "eq" | "gte"}, exactly
        the OpenSearch response shape (default threshold 10,000;
        True = exact). The capped path counts a LIMIT-ed match scan —
        Spark's LocalLimit stops reading splits once the threshold is
        reached, which is the early-termination contract that makes
        the default cheap on a 100 TB match set."""
        if track_total_hits is True:
            return {"value": self.count(query), "relation": "eq"}
        th = int(track_total_hits)
        try:
            pred = compile_filter(query)
        except ValueError:
            pred = None
        if pred is not None:
            capped = int(
                self.documents().where(F.expr(pred)).limit(th + 1).count()
            )
        else:
            n = self.documents().count()
            capped = int(self.search(query, size=n).limit(th + 1).count())
        if capped > th:
            return {"value": th, "relation": "gte"}
        return {"value": capped, "relation": "eq"}

    def analyze(self, text: str, analyzer: str = "standard") -> list[str]:
        """The `_analyze` endpoint: tokens the named analyzer produces
        for `text` (driver-side twin — identical to the Column path by
        the twin-parity tests)."""
        from ..functions.analyzers import analyze_py

        return analyze_py(text, analyzer)

    def explain_match(self, query: str, doc_id: int, analyzer: str | None = None) -> DataFrame:
        """The `_explain` endpoint for a lexical match: per-token BM25
        scoring breakdown (tf, df, idf, dl, term_score) for one doc —
        the reference's Lucene explanation tree flattened to rows.
        The scored postings filtered to the query's tokens and the doc."""
        n, avgdl = self.bm25_index(analyzer).stats
        return (
            self.scored_postings(analyzer)
            .where(F.expr(R.token_in_sql(B.query_tokens(query, analyzer))))
            .where(F.col("doc_id") == int(doc_id))
            .select(
                "token",
                "tf",
                "df",
                F.expr(f"round({B.idf_sql(n)}, 4)").alias("idf"),
                "dl",
                F.expr(f"round({B.term_score_sql(n, avgdl)}, 4)").alias("term_score"),
            )
            .orderBy("token")
        )

    def msearch(
        self,
        searches: list[tuple[dict[str, Any], dict[str, Any] | None]],
        size: int = DEFAULT_K,
    ) -> DataFrame:
        """Multi-search: one frame with (search_idx, doc_id, score) —
        the _msearch API collapsed into a single union plan, so Spark
        schedules all sub-searches in one job instead of N round trips
        (the per-QUERY batched analogue of batch_retrieval's per-VECTOR
        batching)."""
        frames = []
        for i, (query, pipeline) in enumerate(searches):
            hits = self.search(query, pipeline, size=size).select(
                F.lit(i).alias("search_idx"), "doc_id", "score"
            )
            frames.append(hits)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def mget(self, ids: list[int]) -> DataFrame:
        """The `_mget` endpoint: fetch documents by id in ONE pruned
        scan — the IN predicate reaches the parquet reader as a
        pushed filter (row-group/page pruning), so cost scales with
        |ids|, not corpus size."""
        return (
            self.documents()
            .where(F.col("doc_id").isin([int(i) for i in ids]))
            .orderBy("doc_id")
        )

    # Spark dtype → OpenSearch field-capability type (the `_field_caps`
    # endpoint's `type` facet)
    _ES_TYPES = {
        "bigint": "long", "int": "integer", "smallint": "short",
        "double": "double", "float": "float", "string": "text",
        "timestamp": "date", "timestamp_ntz": "date", "date": "date",
        "boolean": "boolean",
        "array<float>": "knn_vector", "array<double>": "knn_vector",
    }

    def field_caps(self, tables: tuple[str, ...] = ("documents",)) -> DataFrame:
        """The `_field_caps` endpoint: per-field capabilities derived
        from the table schemas (plan-time metadata — no data is read).
        `text` fields are searchable but not sortable/aggregatable,
        mirroring the reference's mapping semantics."""
        rows = []
        for t in tables:
            df = catalog.table(self.spark, self.sf_dir, t)
            for fname, dtype in df.dtypes:
                es = self._ES_TYPES.get(dtype, "object")
                rows.append((t, fname, es, True, es not in ("text", "object")))
        return self.spark.createDataFrame(
            rows,
            "tbl string, field string, type string, "
            "searchable boolean, aggregatable boolean",
        ).orderBy("tbl", "field")

    def scroll(
        self,
        query: dict[str, Any],
        size: int = DEFAULT_K,
        pipeline: dict[str, Any] | None = None,
        max_pages: int = 1000,
        slice_spec: dict[str, int] | None = None,
    ):
        """The `_scroll` / point-in-time pagination endpoint as an
        iterator of hit pages. Spark-first: ONE deterministic ranking
        plan is persisted for the scroll's lifetime (the scroll-context
        analogue — the reference pins per-shard reader contexts), and
        page N+1 resumes past page N's (score, doc_id) boundary via
        the K2 search_after predicate (operators/sorting.py::_lex_after)
        — a constant-cost TakeOrdered(size) per page instead of
        re-ranking with a growing offset. Each page executes exactly
        once (the boundary collect IS the page; the yielded frame is
        the collected rows), so deep sequential paging is
        O(pages · page_cost), not O(pages · query_cost). Stops at the
        first empty page; the pinned ranking is unpersisted when the
        iterator is exhausted or closed.

        `slice_spec={"id": i, "max": m}` is OpenSearch's sliced
        scroll: the result stream splits into m disjoint hash slices
        so m independent consumers drain an export in parallel — the
        100 TB bulk-export shape (each slice is an independent
        deterministic plan; Spark's own writers parallelize a single
        export better, but the slice contract matters for drop-in
        API parity). Slicing is on pmod(doc_id, m), a pure pushdown
        predicate on the id column."""
        from ..operators.sorting import _lex_after

        base = query
        if slice_spec is not None:
            sid, smax = int(slice_spec["id"]), int(slice_spec["max"])
            if not (0 <= sid < smax):
                raise ValueError("slice id must be in [0, max)")
            # filter-FIRST semantics (a slice is a partition of the
            # corpus, not of a top-k window): unbounded depth so every
            # slice member is scored — the export shape
            base = {"bool": {
                "must": [query],
                "filter": f"pmod(doc_id, {smax}) = {sid}",
                "pagination_depth": 1_000_000,
            }}
        # the scroll context: the full ranking (bounded by the scroll's
        # own horizon), persisted once, paged by boundary predicate
        scored = self.search(base, pipeline, size=max_pages * size).persist()
        sort_cols = [("score", False), ("doc_id", True)]
        after = None
        try:
            for _ in range(max_pages):
                page = scored
                if after is not None:
                    page = page.where(_lex_after(sort_cols, after))
                rows = (
                    page.orderBy(F.col("score").desc(), "doc_id")
                    .limit(size)
                    .collect()
                )
                if not rows:
                    return
                after = [rows[-1]["score"], rows[-1]["doc_id"]]
                yield self.spark.createDataFrame(rows, schema=scored.schema)
        finally:
            scored.unpersist()

    def search_template(
        self, template: dict[str, Any] | str, params: dict[str, Any]
    ) -> DataFrame:
        """The `_search/template` endpoint: mustache-style `{{param}}`
        substitution into a DSL body, then the normal search path.
        A string value that IS a single placeholder takes the param's
        native type (so `"size": "{{k}}"` stays an int); placeholders
        embedded in longer strings substitute textually."""

        def _subst(node):
            if isinstance(node, str):
                for k_, v_ in params.items():
                    if node == "{{" + k_ + "}}":
                        return v_
                for k_, v_ in params.items():
                    node = node.replace("{{" + k_ + "}}", str(v_))
                return node
            if isinstance(node, dict):
                return {k_: _subst(v_) for k_, v_ in node.items()}
            if isinstance(node, list):
                return [_subst(v_) for v_ in node]
            return node

        if isinstance(template, str):
            import json as _json

            body = _subst(_json.loads(template))
        else:
            body = _subst(template)
        size = int(body.get("size", DEFAULT_K))
        from_ = int(body.get("from", 0))
        return self.search(body["query"], body.get("pipeline"), size=size, from_=from_)

    def fetch(
        self,
        hits: DataFrame,
        source: list[str] | None = None,
        script_fields: dict[str, str] | None = None,
    ) -> DataFrame:
        """The fetch phase: `_source` filtering + `script_fields`.
        Broadcast the (small) hit frame back onto the doc scan and
        project ONLY the requested columns — the pruned column list
        reaches the parquet reader, so an `n_chars`-only fetch never
        reads `text`. Script fields are Catalyst expressions evaluated
        in the same projection (no second pass, no UDF)."""
        out = F.broadcast(hits.select("doc_id", "score")).join(
            self.documents(), "doc_id"
        )
        cols = [F.col("doc_id"), F.col("score")]
        cols += [F.col(c_) for c_ in (source or [])]
        for name_, expr_ in (script_fields or {}).items():
            cols.append(F.expr(expr_).alias(name_))
        return out.select(*cols).orderBy(F.col("score").desc(), "doc_id")

    def profile(self, query: dict[str, Any], size: int = DEFAULT_K) -> dict[str, int]:
        """The `_search?profile=true` analogue: deterministic physical-
        plan features of the compiled query instead of Lucene's timing
        tree (wall times are non-reproducible; plan shape is what a
        user tunes against). Counts Exchange (shuffle), broadcast
        joins, sort-merge joins, TakeOrdered top-k nodes, nested-loop
        joins, and single-partition exchanges — the same red/green
        flags PLANS.md tracks repo-wide."""
        import io
        import re as _re
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            self.search(query, size=size).explain("formatted")
        txt = buf.getvalue()
        return {
            "shuffles": len(_re.findall(r"\(\d+\) Exchange\b", txt)),
            "broadcast_joins": len(_re.findall(r"\(\d+\) BroadcastHashJoin", txt)),
            "sort_merge_joins": len(_re.findall(r"\(\d+\) SortMergeJoin", txt)),
            "top_k_nodes": len(_re.findall(r"TakeOrderedAndProject", txt)),
            "nested_loop_joins": len(
                _re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", txt)
            ),
            "single_partition_exchanges": len(
                _re.findall(r"Exchange SinglePartition", txt)
            ),
        }

    def cached_search(
        self,
        query: dict[str, Any],
        pipeline: dict[str, Any] | None = None,
        size: int = DEFAULT_K,
        from_: int = 0,
    ) -> DataFrame:
        """Request-cache analogue (`indices.requests.cache`): the first
        execution of a (query, pipeline, size, from) key persists its
        hit frame; repeats return the persisted frame without
        recompute. Keyed on the canonical JSON of the request — the
        same shard-request-key idea, minus shards. `request_cache_stats`
        exposes hit/miss counters (S7 stats parity)."""
        import json as _json

        key = _json.dumps(
            {"q": query, "p": pipeline, "s": size, "f": from_},
            sort_keys=True, default=str,
        )
        if not hasattr(self, "_request_cache"):
            from collections import OrderedDict

            self._request_cache: "OrderedDict[str, DataFrame]" = OrderedDict()
            self._request_cache_stats = {"hits": 0, "misses": 0}
        if key in self._request_cache:
            self._request_cache_stats["hits"] += 1
            # LRU touch: move to the back of the insertion order
            out = self._request_cache.pop(key)
            self._request_cache[key] = out
            return out
        self._request_cache_stats["misses"] += 1
        # bounded cache: evict the least-recently-used entry and free
        # its pinned storage memory (the OpenSearch request cache is
        # likewise LRU-bounded; unbounded persists would accumulate
        # executor storage on a long-lived engine)
        while len(self._request_cache) >= REQUEST_CACHE_CAP:
            _, old = self._request_cache.popitem(last=False)
            old.unpersist()
        out = self.search(query, pipeline, size=size, from_=from_).persist()
        self._request_cache[key] = out
        return out

    def request_cache_stats(self) -> dict[str, int]:
        return dict(
            getattr(self, "_request_cache_stats", {"hits": 0, "misses": 0})
        )

    def clear_caches(self) -> None:
        """Unpersist and drop every per-engine cached frame (the
        `_cache/clear` endpoint analogue, S6): the request cache and the
        combined-fields artifacts. Process-level artifacts shared by
        all engines are released with `artifacts.clear`. Safe to call
        mid-session — artifacts rebuild lazily on next use."""
        for df_ in getattr(self, "_request_cache", {}).values():
            df_.unpersist()
        if hasattr(self, "_request_cache"):
            self._request_cache.clear()
        for cidx in getattr(self, "_combined_idx", {}).values():
            cidx.scored.unpersist()
        if hasattr(self, "_combined_idx"):
            self._combined_idx.clear()

    def rescore(
        self,
        query: dict[str, Any],
        rescore_query: dict[str, Any],
        window_size: int = 50,
        query_weight: float = 1.0,
        rescore_query_weight: float = 1.0,
        size: int = DEFAULT_K,
    ) -> DataFrame:
        """The `rescore` search body (second-phase weighted rescoring):
        final = query_weight·orig + rescore_query_weight·rescore over
        the top-`window_size` hits; window docs the rescore query
        misses keep their weighted original score. The rescore query
        evaluates ONLY on the window's candidates (broadcast semi into
        the token-pruned scans) — the corpus is never re-scanned,
        matching Lucene's rescorer contract."""
        window = self.search(query, size=window_size).select(
            "doc_id", F.col("score").alias("__orig")
        )
        cand = window.select("doc_id")
        (rtype, rbody), = rescore_query.items()
        if rtype == "match":
            rs = B.bm25_scores(
                self.bm25_index(), rbody["query"], candidate_ids=cand
            )
        elif rtype == "match_phrase":
            rslop = int(rbody.get("slop", 0))
            rterms = [t for t in rbody["query"].lower().split() if t]
            if rslop > 0 and len(rterms) >= 2:
                # sloppy rescore phrase: same intervals machinery as
                # the top-level match_phrase slop path
                rs = B.intervals_topk(
                    self.positional_index(), self.bm25_index(),
                    rterms, max_gaps=rslop, k=window_size,
                    candidate_ids=cand,
                )
            else:
                rs = B.phrase_topk(
                    self.positional_index(), self.bm25_index(), rbody["query"],
                    k=window_size, candidate_ids=cand,
                )
        else:
            raise ValueError(f"unsupported rescore query type: {rtype}")
        rs = rs.select("doc_id", F.col("score").alias("__re"))
        return (
            window.join(rs, "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.lit(float(query_weight)) * F.col("__orig")
                    + F.lit(float(rescore_query_weight))
                    * F.coalesce(F.col("__re"), F.lit(0.0))
                ).alias("score"),
            )
            .orderBy(F.col("score").desc(), "doc_id")
            .limit(size)
        )

    # -- aggregations (OpenSearch `aggs` body) -----------------------------
    def search_aggs(
        self,
        query: dict[str, Any],
        aggs: dict[str, dict],
        depth: int = 100,
    ) -> dict[str, DataFrame]:
        """Aggregations alongside a query — OpenSearch search bodies
        carry `aggs` next to `query`; the reference forwards hybrid
        hits into core aggregators
        (`search/query/HybridAggregationProcessor.java:45`).

        Filter-context queries (bool with only filter/must_not)
        aggregate over ALL matches — the frame is the filtered scan
        itself: no sort, no limit, pure predicate pushdown, exactly
        the 100 TB shape. Scored queries aggregate over the
        top-`depth` hit window (a k-row broadcast onto documents),
        mirroring that OpenSearch aggregates what the collector saw.
        """
        (qtype, body), = query.items()
        if (
            qtype == "bool"
            and not body.get("must")
            and not body.get("should")
            and (body.get("filter") is not None or body.get("must_not") is not None)
        ):
            preds = [f"({compile_filter(f)})" for f in _clause_list(body.get("filter"))]
            preds += [
                f"NOT ({compile_filter(m)})"
                for m in _clause_list(body.get("must_not"))
            ]
            joined = self.documents().where(F.expr(" AND ".join(preds)))
        else:
            hits = self.search(query, size=depth).select("doc_id")
            joined = F.broadcast(hits).join(self.documents(), "doc_id")
        out: dict[str, DataFrame] = {}
        for name, spec in aggs.items():
            if next(iter(spec)) == "global":
                # global agg: breaks out of the query context and
                # aggregates the WHOLE index (OpenSearch `global`)
                sub_aggs = spec.get("aggs") or {}
                (_, sspec), = sub_aggs.items()
                out[name] = self._compile_agg(
                    self.documents(), sspec, scoped=False
                )
            else:
                out[name] = self._compile_agg(joined, spec)
        return out

    _METRIC_FNS = {
        "avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
        "value_count": F.count, "cardinality": F.count_distinct,
    }

    def _metric_col(self, name: str, spec: dict):
        (kind, body), = spec.items()
        if kind == "reverse_nested":
            # reverse_nested inside a child-scope bucket: doc_count
            # hops back to the PARENT level = distinct parent keys in
            # the bucket (a partial-aggregated distinct — scale-safe)
            return F.countDistinct(body.get("id_field", "doc_id")).alias(name)
        if kind not in self._METRIC_FNS:
            raise ValueError(f"unsupported metric agg: {kind}")
        c = F.col(body["field"])
        if kind in ("avg", "sum", "min", "max"):
            c = c.cast("double")
            return F.round(self._METRIC_FNS[kind](c), 4).alias(name)
        return self._METRIC_FNS[kind](c).alias(name)

    # bucket kinds that may nest INSIDE a terms agg (one level of the
    # OpenSearch agg tree flattened to (parent_key, child_key, ...) rows)
    _NESTABLE = frozenset({"terms", "histogram", "date_histogram"})

    def _compile_agg(
        self, df: DataFrame, spec: dict, scoped: bool = True
    ) -> DataFrame:
        spec = dict(spec)
        sub = spec.pop("aggs", None)
        (kind, body), = spec.items()
        if kind in (
            "max_bucket", "min_bucket", "avg_bucket", "sum_bucket",
            "stats_bucket", "serial_diff", "bucket_selector", "bucket_sort",
            "bucket_script", "percentiles_bucket", "extended_stats_bucket",
            "normalize", "moving_fn", "moving_percentiles",
        ):
            # sibling pipeline aggregations (OpenSearch `buckets_path`
            # family): the parent bucket agg compiles first; the
            # pipeline step is a second pass over the SMALL bucket
            # frame — an unpartitioned window/agg there is bounded by
            # the bucket count, never the corpus.
            from pyspark.sql import Window as _W

            parent = self._compile_agg(df, body["of"])
            metric = body.get("metric", "doc_count")
            if kind == "bucket_selector":
                # divergence note: the selector script is a SQL
                # predicate over bucket columns, not Painless
                # (`params.X > N` → `X > N`)
                return parent.where(F.expr(body["script"]))
            if kind == "bucket_script":
                # per-bucket computed column (OpenSearch bucket_script,
                # `params.X / params.Y` → a SQL expression over the
                # bucket columns) — one projection on the bucket frame
                return parent.withColumn(
                    body.get("as", "bucket_script"),
                    F.round(F.expr(body["script"]).cast("double"), 4),
                )
            if kind == "bucket_sort":
                sorts = []
                for s_ in body.get("sort", []):
                    if isinstance(s_, str):
                        sorts.append(F.col(s_))
                    else:
                        (f_, d_), = s_.items()
                        sorts.append(
                            F.col(f_).desc() if d_ == "desc" else F.col(f_)
                        )
                out = parent.orderBy(*sorts) if sorts else parent
                if body.get("from"):
                    out = out.offset(int(body["from"]))
                return out.limit(int(body.get("size", 10)))
            c = F.col(metric).cast("double")
            if kind == "percentiles_bucket":
                # exact percentiles of a metric ACROSS the bucket frame
                percents = [float(p) for p in body.get("percents", [25, 50, 75])]
                one = parent.agg(
                    *[
                        F.round(F.percentile(c, F.lit(p / 100.0)), 4).alias(f"p{i}")
                        for i, p in enumerate(percents)
                    ]
                )
                stack = ", ".join(f"{p}D, `p{i}`" for i, p in enumerate(percents))
                return one.selectExpr(
                    f"stack({len(percents)}, {stack}) AS (percent, value)"
                )
            if kind == "extended_stats_bucket":
                return parent.agg(
                    F.count(c).alias("count"),
                    F.round(F.min(c), 4).alias("min"),
                    F.round(F.max(c), 4).alias("max"),
                    F.round(F.avg(c), 4).alias("avg"),
                    F.round(F.sum(c), 4).alias("sum"),
                    F.round(F.var_pop(c), 4).alias("variance"),
                    F.round(F.stddev_pop(c), 4).alias("std_deviation"),
                )
            if kind == "normalize":
                # normalize pipeline agg: rescale the metric over the
                # SMALL bucket frame (unpartitioned window is bounded
                # by bucket count, never the corpus)
                method = body.get("method", "percent_of_sum")
                w_all = _W.partitionBy().rowsBetween(
                    _W.unboundedPreceding, _W.unboundedFollowing
                )
                if method == "percent_of_sum":
                    out_c = c / F.sum(c).over(w_all)
                elif method == "rescale_0_1":
                    lo, hi = F.min(c).over(w_all), F.max(c).over(w_all)
                    out_c = (c - lo) / (hi - lo)
                elif method == "rescale_0_100":
                    lo, hi = F.min(c).over(w_all), F.max(c).over(w_all)
                    out_c = (c - lo) / (hi - lo) * 100.0
                elif method == "z-score":
                    out_c = (c - F.avg(c).over(w_all)) / F.stddev_pop(c).over(w_all)
                else:
                    raise ValueError(f"unsupported normalize method: {method}")
                return parent.withColumn(
                    body.get("as", "normalized"), F.round(out_c, 4)
                )
            if kind == "moving_fn":
                fn = {
                    "max": F.max, "min": F.min, "sum": F.sum, "avg": F.avg,
                }[body.get("fn", "max")]
                window_n = int(body.get("window", 3))
                order_col = body.get("sort", parent.columns[0])
                w = _W.orderBy(order_col).rowsBetween(-(window_n - 1), 0)
                return parent.withColumn(
                    f"moving_{body.get('fn', 'max')}",
                    F.round(fn(c).over(w), 4),
                )
            if kind == "moving_percentiles":
                # moving_percentiles pipeline agg: exact interpolated
                # percentiles of the metric over a sliding window of
                # buckets (same inclusive-of-current window convention
                # as moving_fn above); the window runs over the SMALL
                # bucket frame, bounded by bucket count
                window_n = int(body.get("window", 3))
                percents = [float(p) for p in body.get("percents", [50])]
                order_col = body.get("sort", parent.columns[0])
                w = _W.orderBy(order_col).rowsBetween(-(window_n - 1), 0)
                out = parent
                for p in percents:
                    out = out.withColumn(
                        f"moving_p{p:g}".replace(".", "_"),
                        F.round(
                            F.percentile(c, F.lit(p / 100.0)).over(w), 4
                        ),
                    )
                return out
            if kind == "serial_diff":
                lag_n = int(body.get("lag", 1))
                order_col = body.get("sort", parent.columns[0])
                w = _W.orderBy(order_col)
                return parent.withColumn(
                    "serial_diff", F.round(c - F.lag(c, lag_n).over(w), 4)
                )
            if kind == "stats_bucket":
                return parent.agg(
                    F.count(c).alias("count"),
                    F.round(F.min(c), 4).alias("min"),
                    F.round(F.max(c), 4).alias("max"),
                    F.round(F.avg(c), 4).alias("avg"),
                    F.round(F.sum(c), 4).alias("sum"),
                )
            if kind in ("avg_bucket", "sum_bucket"):
                fn = F.avg if kind == "avg_bucket" else F.sum
                return parent.agg(F.round(fn(c), 4).alias("value"))
            # max_bucket / min_bucket: value + ALL bucket keys that
            # attain it (OpenSearch returns a keys array) — extreme
            # via an unbounded window over the bucket frame, then one
            # collect_list agg; deterministic because keys are sorted
            key_col = body.get("key", parent.columns[0])
            w_all = _W.partitionBy().rowsBetween(
                _W.unboundedPreceding, _W.unboundedFollowing
            )
            ext = (F.max if kind == "max_bucket" else F.min)(c).over(w_all)
            sel = parent.withColumn("__ext", ext).where(c == F.col("__ext"))
            # keys emitted as a sorted comma-joined STRING, not an
            # array: every query's final schema must be scalar-typed
            # (harness canonicalizers hash per-cell)
            return sel.agg(
                F.round(F.first("__ext"), 4).alias("value"),
                F.concat_ws(
                    ",",
                    F.sort_array(
                        F.collect_list(F.col(key_col).cast("string"))
                    ),
                ).alias("keys"),
            )
        if kind == "extended_stats":
            # population variance/std (OpenSearch extended_stats default)
            c = F.col(body["field"]).cast("double")
            return df.agg(
                F.count(c).alias("count"),
                F.round(F.min(c), 4).alias("min"),
                F.round(F.max(c), 4).alias("max"),
                F.round(F.avg(c), 4).alias("avg"),
                F.round(F.sum(c), 4).alias("sum"),
                F.round(F.sum(c * c), 4).alias("sum_of_squares"),
                F.round(F.var_pop(c), 4).alias("variance"),
                F.round(F.stddev_pop(c), 4).alias("std_deviation"),
            )
        if kind == "string_stats":
            # length stats in one agg pass; Shannon entropy over the
            # CHARACTER distribution via a map-side explode + partial
            # agg (the char-histogram shuffle carries ≤ |alphabet|
            # rows per partition after combining — corpus-safe)
            c = F.col(body["field"])
            ln = F.length(c)
            lens = df.agg(
                F.count(c).alias("count"),
                F.min(ln).alias("min_length"),
                F.max(ln).alias("max_length"),
                F.round(F.avg(ln), 4).alias("avg_length"),
            )
            chars = (
                df.select(F.explode(F.split(c, "")).alias("ch"))
                .where(F.col("ch") != "")
                .groupBy("ch")
                .agg(F.count("*").alias("n"))
            )
            tot = chars.agg(F.sum("n").alias("total"))
            p = F.col("n").cast("double") / F.col("total").cast("double")
            ent = (
                chars.crossJoin(F.broadcast(tot))
                .agg(F.round(-F.sum(p * F.log2(p)), 4).alias("entropy"))
            )
            return lens.crossJoin(F.broadcast(ent))
        if kind == "missing":
            return df.agg(
                F.count_if(F.col(body["field"]).isNull()).alias("doc_count")
            )
        if kind == "multi_terms":
            fields = [t["field"] if isinstance(t, dict) else t for t in body["terms"]]
            size = int(body.get("size", 10))
            metrics = [F.count("*").alias("doc_count")]
            for mname, mspec in (sub or {}).items():
                metrics.append(self._metric_col(mname, mspec))
            keys = [F.col(f_).alias(f"key_{f_}") for f_ in fields]
            return (
                df.groupBy(*keys)
                .agg(*metrics)
                .orderBy(
                    F.col("doc_count").desc(), *[f"key_{f_}" for f_ in fields]
                )
                .limit(size)
            )
        if kind == "adjacency_matrix":
            # every named filter and every pairwise intersection as
            # conditional counts in ONE scan; empty intersections are
            # dropped (OpenSearch omits zero buckets)
            named = list(body["filters"].items())
            preds = [(n, F.expr(compile_filter(fl))) for n, fl in named]
            cells: list[tuple[str, object]] = [(n, p) for n, p in preds]
            for i in range(len(preds)):
                for j in range(i + 1, len(preds)):
                    cells.append(
                        (f"{preds[i][0]}&{preds[j][0]}", preds[i][1] & preds[j][1])
                    )
            one = df.agg(
                *[F.count_if(p).alias(f"__c{i}") for i, (_, p) in enumerate(cells)]
            )
            stack = ", ".join(f"'{n}', `__c{i}`" for i, (n, _) in enumerate(cells))
            return (
                one.selectExpr(
                    f"stack({len(cells)}, {stack}) AS (key, doc_count)"
                )
                .where(F.col("doc_count") > 0)
                .orderBy("key")
            )
        if kind in ("sampler", "diversified_sampler"):
            # deterministic "random" sample: lowest-N docs by
            # md5(id) — a TakeOrdered, no global sort; the
            # diversified variant first caps docs per field value
            # with a per-value window rank (OpenSearch
            # max_docs_per_value). Sub-aggs run over the sample.
            from pyspark.sql import Window as _W

            shard_size = int(body.get("shard_size", 100))
            id_col = body.get("id_field", "doc_id")
            ordk = F.md5(F.col(id_col).cast("string"))
            s = df
            if kind == "diversified_sampler":
                mx = int(body.get("max_docs_per_value", 1))
                w = _W.partitionBy(body["field"]).orderBy(ordk)
                s = (
                    s.withColumn("__dr", F.row_number().over(w))
                    .where(F.col("__dr") <= mx)
                    .drop("__dr")
                )
            s = s.orderBy(ordk).limit(shard_size)
            if sub:
                (_, sspec), = sub.items()
                return self._compile_agg(s, sspec)
            return s.agg(F.count("*").alias("doc_count"))
        if kind == "significant_text":
            # significant_text over the aggregation frame: foreground
            # = the df's doc set, background = the FULL corpus
            # postings (index artifact); JLH heuristic, same operator
            # as the standalone significant_terms query
            from ..operators import relevance as REL

            idx = self.bm25_index(body.get("analyzer"))
            n_docs, _ = idx.stats
            n_docs_df = self.spark.createDataFrame([(n_docs,)], "n_docs bigint")
            return REL.significant_terms(
                idx.postings.select("doc_id", "token"),
                df.select("doc_id"),
                n_docs_df,
                min_fg_df=int(body.get("min_doc_count", 3)),
                top_n=int(body.get("size", 20)),
            )
        if kind in ("derivative", "cumulative_sum", "moving_avg"):
            # OpenSearch pipeline aggregations: second-pass transforms
            # over a parent bucket frame. The parent compiles first
            # (any bucket agg); the pipeline step is ONE window over
            # the bucket rows — bucket frames are small by
            # construction, so the unpartitioned window is bounded.
            from pyspark.sql import Window as _W

            parent = self._compile_agg(df, body["of"])
            metric = body.get("metric", "doc_count")
            order_col = body.get("sort", parent.columns[0])
            w = _W.orderBy(order_col)
            c = F.col(metric).cast("double")
            if kind == "derivative":
                out_c = F.round(c - F.lag(c).over(w), 4)
            elif kind == "cumulative_sum":
                out_c = F.round(
                    F.sum(c).over(w.rowsBetween(_W.unboundedPreceding, 0)), 4
                )
            else:
                window_n = int(body.get("window", 3))
                out_c = F.round(
                    F.avg(c).over(w.rowsBetween(-(window_n - 1), 0)), 4
                )
            return parent.withColumn(kind, out_c)
        if kind == "filters":
            # named filter buckets in ONE scan: each bucket is a
            # conditional count over the same pass (no per-bucket
            # re-scan), stacked to (bucket, doc_count) rows
            named = body["filters"]
            aggs = [
                F.count_if(F.expr(compile_filter(fl))).alias(f"__b{i}")
                for i, fl in enumerate(named.values())
            ]
            one = df.agg(*aggs)
            stack = ", ".join(
                f"'{name}', `__b{i}`" for i, name in enumerate(named.keys())
            )
            return one.selectExpr(
                f"stack({len(named)}, {stack}) AS (bucket, doc_count)"
            )
        if kind == "rare_terms":
            # buckets with doc_count ≤ max_doc_count, rarest first —
            # the long-tail complement of `terms`
            mx = int(body.get("max_doc_count", 1))
            return (
                df.groupBy(F.col(body["field"]).alias("key"))
                .agg(F.count("*").alias("doc_count"))
                .where(F.col("doc_count") <= mx)
                .orderBy("doc_count", "key")
            )
        if kind == "composite":
            # OpenSearch composite agg: deterministic key-ordered
            # bucket pagination for unbounded-cardinality group-bys —
            # `after` resumes past the last key tuple (lexicographic
            # struct comparison, which Catalyst evaluates field-wise).
            # The 100 TB story: each page is groupBy + range-filter +
            # TakeOrdered; no page ever materializes all buckets.
            sources = [s_["field"] if isinstance(s_, dict) else s_ for s_ in body["sources"]]
            size = int(body.get("size", 10))
            metrics = [F.count("*").alias("doc_count")]
            for mname, mspec in (sub or {}).items():
                metrics.append(self._metric_col(mname, mspec))
            buckets = df.groupBy(*[F.col(s_) for s_ in sources]).agg(*metrics)
            after = body.get("after")
            if after:
                key = F.struct(*[F.col(s_) for s_ in sources])
                cursor = F.struct(*[F.lit(after[s_]) for s_ in sources])
                buckets = buckets.where(key > cursor)
            return buckets.orderBy(*sources).limit(size)
        if kind == "percentiles":
            # exact linear-interpolation percentiles (OpenSearch's
            # agg is TDigest-approximate; exact is strictly stronger
            # and engine-portable — the approximate tier lives in
            # events_approx_quantiles)
            c = F.col(body["field"]).cast("double")
            percents = [float(p) for p in body.get("percents", [25, 50, 75, 95, 99])]
            one = df.agg(
                *[
                    F.round(F.percentile(c, F.lit(p / 100.0)), 4).alias(f"p{i}")
                    for i, p in enumerate(percents)
                ]
            )
            stack = ", ".join(
                f"{p}D, `p{i}`" for i, p in enumerate(percents)
            )
            return one.selectExpr(
                f"stack({len(percents)}, {stack}) AS (percent, value)"
            )
        if kind == "percentile_ranks":
            # exact inverse percentiles: % of values ≤ each probe
            c = F.col(body["field"]).cast("double")
            vals = [float(v) for v in body["values"]]
            one = df.agg(
                F.count("*").alias("__n"),
                *[
                    F.count_if(c <= F.lit(v)).alias(f"__c{i}")
                    for i, v in enumerate(vals)
                ],
            )
            stack = ", ".join(
                f"{v}D, round(`__c{i}` * 100.0D / `__n`, 4)" for i, v in enumerate(vals)
            )
            return one.selectExpr(
                f"stack({len(vals)}, {stack}) AS (value, percent)"
            )
        if kind == "auto_date_histogram":
            # OpenSearch auto_date_histogram: the engine PICKS the
            # smallest interval from a fixed ladder that keeps the
            # bucket count within `buckets`. The choice is data-
            # dependent but stays fully lazy: a 1-row bounds agg is
            # broadcast back onto the scan and the ladder walk is a
            # chained CASE over that row — no driver decision, so the
            # same plan serves any time span at any scale.
            c = F.col(body["field"]).cast("timestamp").cast("long")
            target = int(body.get("buckets", 10))
            bounds = df.agg(F.min(c).alias("__lo"), F.max(c).alias("__hi"))

            def _n_at(iv: int):
                return (
                    F.floor(F.col("__hi") / iv)
                    - F.floor(F.col("__lo") / iv)
                    + 1
                )

            iv_col = F.lit(_AUTO_DH_LADDER[-1])
            for iv in reversed(_AUTO_DH_LADDER[:-1]):
                iv_col = F.when(_n_at(iv) <= target, F.lit(iv)).otherwise(iv_col)
            chosen = bounds.select(iv_col.cast("bigint").alias("interval_s"))
            bucket = F.timestamp_seconds(
                (F.floor(c / F.col("interval_s")) * F.col("interval_s")).cast("long")
            ).alias("bucket")
            return (
                df.crossJoin(F.broadcast(chosen))
                .groupBy(F.col("interval_s"), bucket)
                .agg(F.count("*").alias("doc_count"))
                .select("bucket", "doc_count", "interval_s")
                .orderBy("bucket")
            )
        if kind == "date_range":
            # date_range agg: like `range` but over timestamps — every
            # bucket is a conditional count in ONE scan
            c = F.col(body["field"]).cast("timestamp")
            conds = []
            for r in body["ranges"]:
                lo, hi = r.get("from"), r.get("to")
                cond = F.lit(True)
                if lo is not None:
                    cond = cond & (c >= F.lit(lo).cast("timestamp"))
                if hi is not None:
                    cond = cond & (c < F.lit(hi).cast("timestamp"))
                key = r.get("key") or f"{lo or '*'}-{hi or '*'}"
                conds.append((key, cond))
            wide = df.agg(
                *[
                    F.count_if(cond).alias(f"__r{i}")
                    for i, (_, cond) in enumerate(conds)
                ]
            )
            stack = ", ".join(f"'{k}', __r{i}" for i, (k, _) in enumerate(conds))
            return wide.selectExpr(
                f"stack({len(conds)}, {stack}) as (key, doc_count)"
            )
        if kind == "top_metrics":
            # top_metrics: metric values carried by the rows at the top
            # of a sort — a TakeOrdered (limit k under an orderBy), no
            # global sort ever materializes
            (sf_, sd_), = body["sort"].items()
            sort_col = F.col(sf_).desc() if sd_ == "desc" else F.col(sf_)
            n = int(body.get("size", 1))
            id_col = body.get("id_field", "doc_id")
            fields = [m["field"] for m in body["metrics"]]
            cols = [id_col, sf_] + [f_ for f_ in fields if f_ not in (sf_, id_col)]
            return df.orderBy(sort_col, F.col(id_col)).select(*cols).limit(n)
        if kind == "median_absolute_deviation":
            # exact MAD (OpenSearch's is TDigest-approximate): median
            # in a 1-row agg broadcast back, then the median of the
            # absolute deviations — two passes, both full codegen
            c = F.col(body["field"]).cast("double")
            med = df.agg(F.percentile(c, F.lit(0.5)).alias("__med"))
            return df.crossJoin(F.broadcast(med)).agg(
                F.round(
                    F.percentile(F.abs(c - F.col("__med")), F.lit(0.5)), 4
                ).alias("mad")
            )
        if kind == "boxplot":
            # exact five-number summary (linear-interpolation quartiles)
            c = F.col(body["field"]).cast("double")
            return df.agg(
                F.round(F.min(c), 4).alias("min"),
                F.round(F.percentile(c, F.lit(0.25)), 4).alias("q1"),
                F.round(F.percentile(c, F.lit(0.5)), 4).alias("q2"),
                F.round(F.percentile(c, F.lit(0.75)), 4).alias("q3"),
                F.round(F.max(c), 4).alias("max"),
            )
        if kind == "scripted_metric":
            # divergence note: map/reduce scripts are Spark-SQL
            # expressions, not Painless; the combine phase is implicit
            # (Spark's partial aggregation IS map-side combine)
            mapped = F.expr(body["map_script"]).cast("double")
            reduce_fn = {
                "sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max,
            }[body.get("reduce_script", "sum")]
            return df.agg(F.round(reduce_fn(mapped), 4).alias("value"))
        if kind == "cumulative_cardinality":
            # per-bucket cumulative distinct count, exact and
            # distributed: each value contributes at its FIRST bucket
            # (groupBy value → min bucket), the new-value counts then
            # cumulative-sum over the SMALL ordered bucket frame —
            # never a distinct-per-prefix rescan of the corpus
            from pyspark.sql import Window as _W

            iv = body["fixed_interval"]
            unit = {"s": 1, "m": 60, "h": 3600, "d": 86400}[iv[-1]]
            secs = int(iv[:-1]) * unit
            ep = F.col(body["field"]).cast("timestamp").cast("long")
            bucket = F.timestamp_seconds(
                (F.floor(ep / secs) * secs).cast("long")
            ).alias("bucket")
            per_bucket = df.groupBy(bucket).agg(F.count("*").alias("doc_count"))
            firsts = (
                df.select(bucket, F.col(body["value_field"]).alias("__v"))
                .groupBy("__v")
                .agg(F.min("bucket").alias("bucket"))
                .groupBy("bucket")
                .agg(F.count("*").alias("__new"))
            )
            w = _W.orderBy("bucket").rowsBetween(_W.unboundedPreceding, 0)
            return (
                per_bucket.join(firsts, "bucket", "left")
                .withColumn(
                    "cumulative_cardinality",
                    F.sum(F.coalesce(F.col("__new"), F.lit(0))).over(w),
                )
                .select("bucket", "doc_count", "cumulative_cardinality")
                .orderBy("bucket")
            )
        if kind == "rate":
            # rate agg: per-bucket event count normalized to `unit`
            # (e.g. day buckets reported as an hourly rate) — the
            # normalization is a constant factor folded into the
            # projection, so the plan is exactly a date_histogram
            _u = {"s": 1, "m": 60, "h": 3600, "d": 86400}
            biv = body["fixed_interval"]
            bucket_s = int(biv[:-1]) * _u[biv[-1]]
            unit_s = _u[body.get("unit", "h")[-1]] * int(
                body.get("unit", "1h")[:-1] or 1
            )
            ep = F.col(body["field"]).cast("timestamp").cast("long")
            bucket = F.timestamp_seconds(
                (F.floor(ep / bucket_s) * bucket_s).cast("long")
            ).alias("bucket")
            return (
                df.groupBy(bucket)
                .agg(F.count("*").alias("doc_count"))
                .withColumn(
                    "rate",
                    F.round(
                        F.col("doc_count") * (float(unit_s) / float(bucket_s)), 4
                    ),
                )
                .orderBy("bucket")
            )
        if kind == "t_test":
            # t_test agg (Welch's unpaired two-sample): both samples
            # are conditional aggregates over ONE scan — no per-group
            # re-scan; var_samp ignores the NULLs the CASE injects
            c = F.col(body["field"]).cast("double")
            pa = F.expr(compile_filter(body["a"]))
            pb = F.expr(compile_filter(body["b"]))
            ca = F.when(pa, c)
            cb = F.when(pb, c)
            one = df.agg(
                F.count(ca).cast("double").alias("__na"),
                F.avg(ca).alias("__ma"),
                F.var_samp(ca).alias("__va"),
                F.count(cb).cast("double").alias("__nb"),
                F.avg(cb).alias("__mb"),
                F.var_samp(cb).alias("__vb"),
            )
            sea = F.col("__va") / F.col("__na")
            seb = F.col("__vb") / F.col("__nb")
            t = (F.col("__ma") - F.col("__mb")) / F.sqrt(sea + seb)
            dof = F.pow(sea + seb, 2) / (
                F.pow(sea, 2) / (F.col("__na") - 1.0)
                + F.pow(seb, 2) / (F.col("__nb") - 1.0)
            )
            return one.select(
                F.round(t, 4).alias("t"),
                F.round(dof, 4).alias("df"),
                F.col("__na").cast("bigint").alias("n_a"),
                F.col("__nb").cast("bigint").alias("n_b"),
            )
        if kind == "geo_bounds":
            lat = F.col(body.get("lat_field", "lat")).cast("double")
            lon = F.col(body.get("lon_field", "lon")).cast("double")
            return df.agg(
                F.round(F.max(lat), 4).alias("top"),
                F.round(F.min(lon), 4).alias("left"),
                F.round(F.min(lat), 4).alias("bottom"),
                F.round(F.max(lon), 4).alias("right"),
            )
        if kind == "geo_centroid":
            # geo_centroid: arithmetic mean of coordinates (OpenSearch
            # computes the same unweighted mean) — one agg pass
            lat = F.col(body.get("lat_field", "lat")).cast("double")
            lon = F.col(body.get("lon_field", "lon")).cast("double")
            return df.agg(
                F.round(F.avg(lat), 4).alias("lat"),
                F.round(F.avg(lon), 4).alias("lon"),
                F.count("*").alias("count"),
            )
        if kind == "weighted_avg":
            v = F.col(body["value"]["field"]).cast("double")
            w = F.col(body["weight"]["field"]).cast("double")
            return df.agg(
                F.round(F.sum(v * w) / F.sum(w), 4).alias("weighted_avg")
            )
        if kind == "matrix_stats":
            # OpenSearch matrix_stats: pairwise second-order stats over
            # numeric fields — one aggregate pass, rows = field pairs
            fields = list(body["fields"])
            aggs, pairs = [], []
            for i, a in enumerate(fields):
                for b_ in fields[i + 1 :]:
                    ca, cb = F.col(a).cast("double"), F.col(b_).cast("double")
                    aggs += [
                        F.round(F.covar_pop(ca, cb), 4).alias(f"cov_{a}_{b_}"),
                        F.round(F.corr(ca, cb), 4).alias(f"corr_{a}_{b_}"),
                    ]
                    pairs.append((a, b_))
            one = df.agg(F.count("*").alias("doc_count"), *aggs)
            # 1-row frame → one row per field pair, still lazy
            stack = ", ".join(
                f"'{a}', '{b_}', `cov_{a}_{b_}`, `corr_{a}_{b_}`"
                for a, b_ in pairs
            )
            return one.selectExpr(
                f"stack({len(pairs)}, {stack}) AS "
                "(field_a, field_b, covariance, correlation)",
                "doc_count",
            ).select("field_a", "field_b", "doc_count", "covariance", "correlation")
        if kind == "nested":
            # OpenSearch nested agg: the agg scope hops from parent
            # docs to the child (nested) docs. The child corpus is the
            # denormalized chunk artifact, so the hop is a FRAME SWAP,
            # not a join — sub-aggs (including reverse_nested metrics)
            # compile over the child frame unchanged.
            if body.get("path", "chunks") != "chunks":
                raise ValueError("nested agg supports path='chunks'")
            if not sub or len(sub) != 1:
                raise ValueError("nested agg needs exactly one sub-agg")
            (n2, subspec), = sub.items()
            # the hop keeps the QUERY SCOPE: only children of parents
            # in the incoming (query-scoped/filtered) frame are
            # aggregated — a semi on the parent key (OpenSearch nested
            # aggs cover children of matching parents, not the whole
            # child corpus). `scoped=False` (a caller holding the full
            # unfiltered corpus) skips the join: at 100 TB a
            # corpus-vs-corpus semi would be a pure-overhead shuffle.
            children = self.chunks()
            if scoped:
                children = children.join(
                    df.select("doc_id").distinct(), "doc_id", "semi"
                )
            return self._compile_agg(children, subspec)
        if kind == "terms":
            size = int(body.get("size", 10))
            field = body["field"]
            subs = dict(sub or {})
            bucket_subs = {
                n: s for n, s in subs.items() if next(iter(s)) in self._NESTABLE
            }
            hit_subs = {
                n: s for n, s in subs.items() if next(iter(s)) == "top_hits"
            }
            metric_subs = {
                n: s
                for n, s in subs.items()
                if n not in bucket_subs and n not in hit_subs
            }
            metrics = [F.count("*").alias("doc_count")]
            for mname, mspec in metric_subs.items():
                metrics.append(self._metric_col(mname, mspec))
            parent = (
                df.groupBy(F.col(field).alias("key"))
                .agg(*metrics)
                .orderBy(F.col("doc_count").desc(), "key")
                .limit(size)
            )
            if not bucket_subs and not hit_subs:
                return parent
            # one nested level of the OpenSearch agg tree, flattened:
            # the parent's top-`size` buckets are a SMALL frame — a
            # broadcast semi-join scopes the corpus scan to surviving
            # parents, then the child runs per-parent via window rank
            # (no per-bucket re-scan, one shuffle for the child agg)
            from pyspark.sql import Window as _W

            scoped = df.join(
                F.broadcast(parent.select(F.col("key").alias(field))),
                field,
                "semi",
            )
            pmeta = F.broadcast(
                parent.select("key", F.col("doc_count").alias("parent_doc_count"))
            )
            if hit_subs:
                (hname, hspec), = hit_subs.items()
                hb = hspec["top_hits"]
                n = int(hb.get("size", 3))
                id_col = hb.get("id_field", "doc_id")
                order_cols = []
                for s_ in hb.get("sort", []):
                    (f_, d_), = s_.items()
                    order_cols.append(
                        F.col(f_).desc() if d_ == "desc" else F.col(f_)
                    )
                order_cols.append(F.col(id_col))  # deterministic tiebreak
                w = _W.partitionBy(field).orderBy(*order_cols)
                src = hb.get("_source") or [c_ for c_ in df.columns if c_ != field]
                hits = (
                    scoped.withColumn("__rank", F.row_number().over(w))
                    .where(F.col("__rank") <= n)
                    .select(
                        F.col(field).alias("key"),
                        F.col("__rank").alias("rank"),
                        *src,
                    )
                )
                return hits.join(pmeta, "key").select(
                    "key", "parent_doc_count", "rank", *src
                ).orderBy("key", "rank")
            (bname, bspec), = bucket_subs.items()
            bkind = next(iter(bspec))
            bsub = bspec.get("aggs")
            cmetrics = [F.count("*").alias("doc_count")]
            for mname, mspec in (bsub or {}).items():
                cmetrics.append(self._metric_col(mname, mspec))
            if bkind == "terms":
                cb = bspec["terms"]
                csize = int(cb.get("size", 10))
                grouped = scoped.groupBy(
                    F.col(field).alias("key"), F.col(cb["field"]).alias(bname)
                ).agg(*cmetrics)
                w = _W.partitionBy("key").orderBy(
                    F.col("doc_count").desc(), F.col(bname)
                )
                child = (
                    grouped.withColumn("__r", F.row_number().over(w))
                    .where(F.col("__r") <= csize)
                    .drop("__r")
                )
                return (
                    child.join(pmeta, "key")
                    .orderBy("key", F.col("doc_count").desc(), bname)
                    .select(
                        "key", "parent_doc_count", bname,
                        *[c_ for c_ in child.columns if c_ not in ("key", bname)],
                    )
                )
            # child histogram / date_histogram: ordered (key, bucket)
            cb = bspec[bkind]
            if bkind == "histogram":
                interval = float(cb["interval"])
                bcol = (
                    F.floor(F.col(cb["field"]).cast("double") / interval)
                    * interval
                ).alias(bname)
            else:
                bcol = F.date_trunc(
                    cb.get("calendar_interval", "day"), F.col(cb["field"])
                ).alias(bname)
            grouped = scoped.groupBy(F.col(field).alias("key"), bcol).agg(*cmetrics)
            return (
                grouped.join(pmeta, "key")
                .orderBy("key", bname)
                .select(
                    "key", "parent_doc_count", bname,
                    *[c_ for c_ in grouped.columns if c_ not in ("key", bname)],
                )
            )
        if kind == "histogram":
            interval = float(body["interval"])
            c = F.col(body["field"]).cast("double")
            bucket = (F.floor(c / interval) * interval).alias("bucket")
            metrics = [F.count("*").alias("doc_count")]
            for mname, mspec in (sub or {}).items():
                metrics.append(self._metric_col(mname, mspec))
            return df.groupBy(bucket).agg(*metrics).orderBy("bucket")
        if kind == "date_histogram":
            c = F.col(body["field"])
            if "fixed_interval" in body:
                # fixed_interval (e.g. "30m", "2h", "45s"): epoch-second
                # bucketing — pure arithmetic, stays in codegen
                iv = body["fixed_interval"]
                unit = {"s": 1, "m": 60, "h": 3600, "d": 86400}[iv[-1]]
                secs = int(iv[:-1]) * unit
                ep = c.cast("timestamp").cast("long")
                bucket = F.timestamp_seconds(
                    (F.floor(ep / secs) * secs).cast("long")
                ).alias("bucket")
            else:
                bucket = F.date_trunc(
                    body.get("calendar_interval", "day"), c
                ).alias("bucket")
            metrics = [F.count("*").alias("doc_count")]
            for mname, mspec in (sub or {}).items():
                metrics.append(self._metric_col(mname, mspec))
            return df.groupBy(bucket).agg(*metrics).orderBy("bucket")
        if kind == "range":
            # one pass: every range is a conditional sum in a single
            # agg row, unpivoted to (key, doc_count) — no per-range scan
            c = F.col(body["field"]).cast("double")
            conds = []
            for r in body["ranges"]:
                lo, hi = r.get("from"), r.get("to")
                cond = F.lit(True)
                if lo is not None:
                    cond = cond & (c >= float(lo))
                if hi is not None:
                    cond = cond & (c < float(hi))
                key = r.get("key") or (
                    f"{lo if lo is not None else '*'}-{hi if hi is not None else '*'}"
                )
                conds.append((key, cond))
            wide = df.agg(
                *[
                    F.sum(F.when(cond, 1).otherwise(0)).alias(f"__r{i}")
                    for i, (_, cond) in enumerate(conds)
                ]
            )
            stack = ", ".join(
                f"'{key}', __r{i}" for i, (key, _) in enumerate(conds)
            )
            return wide.selectExpr(
                f"stack({len(conds)}, {stack}) as (key, doc_count)"
            )
        if kind == "stats":
            c = F.col(body["field"]).cast("double")
            return df.agg(
                F.count(c).alias("count"),
                F.round(F.min(c), 4).alias("min"),
                F.round(F.max(c), 4).alias("max"),
                F.round(F.avg(c), 4).alias("avg"),
                F.round(F.sum(c), 4).alias("sum"),
            )
        if kind in self._METRIC_FNS:
            return df.agg(self._metric_col("value", {kind: body}))
        raise ValueError(f"unsupported aggregation type: {kind}")

    # -- dense ANN method dispatch ----------------------------------------
    def _ann_topk(
        self,
        method: str,
        params: dict[str, Any],
        qv: list[float],
        k: int,
        flt,
    ) -> DataFrame:
        """`method.name` selection on a dense query — the dense analogue
        of the reference's sparse ANN method parameter
        (`sparse/query/SparseAnnQueryBuilder.java:67-87`): `ivf`
        (probe of the pre-assigned cells) or `pq` (compressed-code ADC
        scan + exact rescore). A pre-filter is applied BEFORE the
        approximate search (filter-then-search semantics, P1): ivf and
        pq semi-join their index frame to the filtered candidate ids.

        Query-time cost: ivf/pq only read the ingest artifacts (module
        builders above) — no driver collect, k-means or cell assignment
        after the first search: an ivf request filters the in-memory
        `_ivf_cells` by its probe cells and scores them. `lsh` needs no
        artifact at all (deterministic hyperplanes hashed as literal
        expressions in the scan predicate)."""
        from ..operators import ann as ANN
        from ..operators import pq as PQ

        corp = self.corpus()
        if flt is not None:
            corp = corp.where(flt)
        embs = corp.select(F.col("doc_id").alias("vec_id"), "embedding")
        # index artifacts come from the FULL corpus (see the note at
        # module top); `embs` above stays the filtered candidate scan
        if method == "auto":
            # dense analogue of R8's exact-fallback-by-size
            # (`sparse/query/SparseAnnQueryBuilder.java` approximate_
            # threshold): small corpora — or small FILTERED candidate
            # sets (filter-then-search leaves few rows to scan) — run
            # exact brute force; above the threshold, route to the
            # cached-artifact IVF tier. Corpus size is one cached
            # count (`_corpus_dim`-style index stat, not query work).
            threshold = int(params.get("approximate_threshold", 100_000))
            if self._corpus_count() < threshold or flt is not None:
                from ..operators import retrieval as R_

                return R_.dense_topk(
                    corp, qv, k=k, pre_filter=None
                )
            method = "ivf"
        if method == "ivf":
            ncells = int(params.get("ncells", 16))
            nprobe = int(params.get("nprobe", 4))
            cells = _ivf_cells(self.spark, self.sf_dir, ncells)
            if flt is not None:
                # filter-then-search: keep the filtered candidate ids
                cells = cells.join(embs.select("vec_id"), "vec_id", "semi")
            cents = _ivf_centroids(self.spark, self.sf_dir, ncells)
            return ANN.ivf_topk(cells, cents, qv, k=k, nprobe=nprobe)
        if method == "pq":
            shortlist = int(params.get("shortlist", max(50, 5 * k)))
            codebook_k = int(params.get("codebook_k", 64))
            books, codes = _pq_index(self.spark, self.sf_dir, codebook_k)
            if flt is not None:
                # filter-then-search: prune the codes scan to the
                # filtered candidate ids (semi join — no wide vectors)
                codes = codes.join(embs.select("vec_id"), "vec_id", "semi")
            return PQ.pq_adc_topk(codes, embs, books, qv, k=k, shortlist=shortlist)
        if method == "lsh":
            return ANN.lsh_topk(
                embs, qv, k=k,
                n_planes=int(params.get("n_planes", 4)),
                n_tables=int(params.get("n_tables", 4)),
            )
        raise ValueError(f"unsupported dense ANN method: {method}")

    # -- entry point -------------------------------------------------------
    def search(
        self,
        query: dict[str, Any],
        pipeline: dict[str, Any] | None = None,
        size: int = DEFAULT_K,
        from_: int = 0,
        search_type: str = "query_then_fetch",
    ) -> DataFrame:
        pipeline = pipeline or {}
        # 3.8 fix (#1873): hybrid + dfs_query_then_fetch produces wrong
        # global stats in the reference and is rejected outright there;
        # mirror the validation error
        if search_type == "dfs_query_then_fetch" and "hybrid" in query:
            raise ValueError(
                "hybrid query is not supported with search_type="
                "dfs_query_then_fetch"
            )
        # 3.8 enhancement (#1898): the two-phase rescore optimization is
        # SKIPPED when the request sorts by fields — with a field sort
        # the hit set must be exact, so every neural_sparse leaf runs
        # the single-phase scorer
        if pipeline.get("sort"):
            query = _strip_two_phase(query)
        if "default_model_id" in pipeline:
            self.default_model_id = pipeline["default_model_id"]
            # Q9 enricher ran (typed stat parity: EventStatName)
            self._evt("neural_query_enricher_processor_executions")
        # Q3 MMR over-fetches `candidates` results, then greedily
        # re-selects `size` (`processor/mmr/MMRNeuralQueryTransformer.java:40-110`)
        mmr = pipeline.get("mmr")
        mmr_cand = int(mmr.get("candidates", 3 * size)) if mmr else None
        # rows a ranked result keeps: the page, or the MMR pool if larger
        keep = max(size, mmr_cand or 0)
        if mmr:
            self._evt("mmr_neural_query_transformer")

        (qtype, body), = query.items()
        if qtype == "wrapper":
            # OpenSearch wrapper query: a base64-encoded JSON query —
            # decode and recurse into the normal search path
            import base64 as _b64
            import json as _json

            raw = body["query"] if isinstance(body, dict) else body
            return self.search(
                _json.loads(_b64.b64decode(raw)), pipeline, size, from_
            )
        if qtype == "simple_query_string":
            translated = _parse_simple_query_string(body["query"])
            # Lucene's collector scores EVERY doc matching the bool,
            # so multi-must intersections need full match sets, not
            # top-depth windows — the default depth keeps each leg
            # complete; the must-join itself stays bounded by the
            # rarest leg's true match count.
            translated["bool"]["pagination_depth"] = int(
                body.get("pagination_depth", 1_000_000)
            )
            return self.search(translated, pipeline, size, from_)
        if qtype == "query_string":
            # OpenSearch core query_string: the full Lucene
            # mini-language (fielded terms, AND/OR/NOT, parens,
            # phrases, boosts, wildcards) → compiled to the scored
            # DSL and recursed into the normal search path; like
            # simple_query_string, intersections need complete match
            # sets, so the bool depth defaults wide
            translated = _parse_query_string(
                body["query"] if isinstance(body, dict) else body,
                default_field=body.get("default_field", "text"),
                default_operator=str(
                    body.get("default_operator", "OR")
                ).upper(),
            )
            if "bool" in translated:
                translated["bool"]["pagination_depth"] = int(
                    body.get("pagination_depth", 1_000_000)
                )
            return self.search(translated, pipeline, size, from_)
        if qtype == "agentic":
            self._evt("agentic_query_requests")
            self._evt("agentic_query_translator_processor_executions")
            self._evt("agentic_context_processor_executions")
            # failure surface mirrors
            # `processor/AgenticQueryTranslatorProcessor.java:97-230` +
            # `query/AgenticSearchQueryBuilder.java:126-166`: the
            # failure reason is recorded on the context (the
            # setAgentFailureReason channel) BEFORE the error raises.

            def _agent_fail(reason: str, blocked: bool = False):
                self.last_agent_context = {
                    "question": body.get("query_text"),
                    "dsl_query": None,
                    "agent_failure_reason": reason,
                }
                verb = "blocked" if blocked else "failed"
                raise ValueError(f"Agentic search {verb} - {reason}")

            qt = body.get("query_text")
            if not isinstance(qt, str) or not qt.strip():
                _agent_fail("[query_text] is required")
            unknown = set(body) - {"query_text", "query_fields"}
            if unknown:
                _agent_fail(f"Unknown field [{sorted(unknown)[0]}]")
            qfields = body.get("query_fields") or []
            if len(qfields) > 25:
                _agent_fail("Too many query fields. Maximum allowed is 25")
            # agentic must be used ALONE — no other search features
            # (hasOtherSearchFeatures: aggs/sort/highlight/post_filter/
            # suggest/rescore/collapse); here those arrive through the
            # pipeline dict
            features = {"collapse", "sort", "rescore", "highlight",
                        "post_filter", "suggest", "aggs"}
            bad = features & set(pipeline or {})
            if bad:
                _agent_fail(
                    "Invalid usage with other search features like "
                    f"aggregation, sort, filters, collapse: {sorted(bad)}",
                    blocked=True,
                )
            try:
                translated = self.agent_translate(qt)
            except Exception as e:  # Agent execution error path
                _agent_fail(f"Agent execution error - {e}")
            if translated is None:
                _agent_fail("Null response from agent")
            if not isinstance(translated, dict):
                _agent_fail(f"Parse error - agent reply is not a DSL "
                            f"dict: {type(translated).__name__}")
            import json as _json

            if len(_json.dumps(translated)) > 10_000:
                # MAX_AGENT_RESPONSE_SIZE, AgenticQueryTranslatorProcessor.java:54
                _agent_fail("Response size exceeded limit", blocked=True)
            # Q10 agentic_context response processor: expose the agent's
            # question + emitted DSL (`processor/AgenticContextResponseProcessor.java`)
            self.last_agent_context = {
                "question": body["query_text"],
                "dsl_query": translated,
            }
            if "query" in translated:
                # full search-body translation — the reference agent
                # rewrites the whole SearchSourceBuilder (query + size/
                # from/pipeline), not just the query clause
                # (`processor/AgenticQueryTranslatorProcessor.java:97-150`)
                pl = dict(pipeline or {})
                pl.update(translated.get("pipeline") or {})
                return self.search(
                    translated["query"],
                    pl or None,
                    int(translated.get("size", size)),
                    int(translated.get("from", from_)),
                )
            return self.search(translated, pipeline, size, from_)

        if qtype == "bool":
            # scored bool (OpenSearch core): score = Σ must scores +
            # Σ matching should scores; `filter` and `must_not` are
            # structured non-scoring clauses. Clause lists are
            # top-`depth` frames (k·depth rows), so every join below
            # is tiny; the non-scoring clauses become ONE semi join
            # against the filtered documents scan (predicate pushdown).
            depth = int(body.get("pagination_depth", max(from_ + size, 50)))

            _clauses = _clause_list

            musts = [
                self._compile_sub(s, depth).select("doc_id", "score")
                for s in _clauses(body.get("must"))
            ]
            shoulds = [
                self._compile_sub(s, depth).select("doc_id", "score")
                for s in _clauses(body.get("should"))
            ]
            if not musts and not shoulds:
                if body.get("filter") is None and body.get("must_not") is None:
                    raise ValueError(
                        "bool query requires a must/should/filter/must_not clause"
                    )
                # filter-only bool = constant-score matching (OpenSearch
                # scores filter-context-only bools 0.0); deterministic
                # doc_id order stands in for index order
                base = self.documents().select(
                    "doc_id", F.lit(0.0).alias("score")
                )
            elif musts:
                base = musts[0]
                for i, m in enumerate(musts[1:], 1):
                    m2 = m.withColumnRenamed("score", f"__m{i}")
                    base = (
                        base.join(m2, "doc_id")
                        .withColumn("score", F.col("score") + F.col(f"__m{i}"))
                        .drop(f"__m{i}")
                    )
                for j, sh in enumerate(shoulds):
                    s2 = sh.withColumnRenamed("score", f"__h{j}")
                    base = (
                        base.join(s2, "doc_id", "left")
                        .withColumn(
                            "score",
                            F.col("score")
                            + F.coalesce(F.col(f"__h{j}"), F.lit(0.0)),
                        )
                        .drop(f"__h{j}")
                    )
            else:
                # should-only: any clause matches; scores sum
                from functools import reduce

                base = (
                    reduce(lambda a, b: a.unionByName(b), shoulds)
                    .groupBy("doc_id")
                    .agg(F.sum("score").alias("score"))
                )
            clauses = []
            for fl in _clauses(body.get("filter")):
                clauses.append(f"({compile_filter(fl)})")
            for mn in _clauses(body.get("must_not")):
                clauses.append(f"NOT ({compile_filter(mn)})")
            if clauses:
                allowed = self.documents().where(
                    F.expr(" AND ".join(clauses))
                ).select("doc_id")
                base = base.join(allowed, "doc_id", "left_semi")
            # keep the MMR over-fetch window alive (the shared mmr
            # stage below re-selects `size` diversified rows)
            result = _page(base.orderBy(F.col("score").desc(), "doc_id"), from_, keep)
        elif qtype == "function_score":
            # function_score wrapper (OpenSearch core semantics; the
            # reference forwards such clauses opaquely,
            # `query/NeuralQueryBuilder.java:645-646`): rescore the
            # inner query's top-`window` candidates with decay /
            # field-value functions — the same two-phase over-fetch
            # discipline as R10, so the corpus is never re-scanned.
            inner = body["query"]
            if isinstance(inner, dict) and "hybrid" in inner:
                # 3.6 fix (#1791): hybrid nested inside compound queries
                # (function_score / script_score) is blocked — fusion
                # normalization is a request-level pipeline, not a
                # per-clause score
                raise ValueError(
                    "hybrid query cannot be nested inside function_score"
                )
            window = int(body.get("window", 10 * (from_ + size)))
            base = self.search(inner, None, size=window).select("doc_id", "score")
            # base is ≤window rows — broadcast it onto the documents
            # table so field fetch is a broadcast-hash join, not a shuffle
            joined = F.broadcast(base).join(self.documents(), "doc_id")
            fcols = []  # (weighted value, matched predicate) pairs
            for fn in body.get("functions", []):
                w = F.lit(float(fn.get("weight", 1.0)))
                decay_kind = next(
                    (d for d in ("gauss", "exp", "linear") if d in fn), None
                )
                if decay_kind:
                    # OpenSearch decay family, all parameterized so
                    # value == decay at distance == scale:
                    #   gauss  → decay^((s/scale)²)
                    #   exp    → decay^(s/scale)
                    #   linear → max(0, (scale' − s)/scale'),
                    #            scale' = scale/(1 − decay)
                    g = fn[decay_kind]
                    dist = F.abs(
                        F.col(g["field"]).cast("double") - F.lit(float(g["origin"]))
                    )
                    shifted = F.greatest(
                        dist - F.lit(float(g.get("offset", 0.0))), F.lit(0.0)
                    )
                    decay = float(g.get("decay", 0.5))
                    scale = float(g["scale"])
                    if decay_kind == "gauss":
                        val = F.pow(
                            F.lit(decay),
                            F.pow(shifted / F.lit(scale), F.lit(2.0)),
                        )
                    elif decay_kind == "exp":
                        val = F.pow(F.lit(decay), shifted / F.lit(scale))
                    else:
                        sprime = scale / (1.0 - decay)
                        val = F.greatest(
                            (F.lit(sprime) - shifted) / F.lit(sprime), F.lit(0.0)
                        )
                elif "field_value_factor" in fn:
                    fv = fn["field_value_factor"]
                    raw = F.col(fv["field"]).cast("double") * F.lit(
                        float(fv.get("factor", 1.0))
                    )
                    mod = fv.get("modifier", "none")
                    val = {
                        "none": raw,
                        "log1p": F.log(F.lit(1.0) + raw),
                        "sqrt": F.sqrt(raw),
                        "square": raw * raw,
                    }[mod]
                elif "random_score" in fn:
                    # deterministic uniform [0,1) from (doc_id, seed) —
                    # a documented Knuth-hash stand-in for Lucene's
                    # seeded hash (same contract: per-seed determinism,
                    # uniform spread; values differ from OpenSearch's)
                    seed = int(fn["random_score"].get("seed", 0))
                    val = (
                        F.pmod(
                            (F.col("doc_id").cast("long") + F.lit(seed))
                            * F.lit(2654435761),
                            F.lit(4294967296),
                        ).cast("double")
                        / F.lit(4294967296.0)
                    )
                elif "script_score" in fn:
                    # function-level script: a SQL expression over the
                    # doc's columns (the engine's script dialect)
                    val = F.expr(fn["script_score"]["script"]).cast("double")
                else:
                    val = F.lit(1.0)
                matched = (
                    F.expr(compile_filter(fn["filter"]))
                    if fn.get("filter") is not None
                    else F.lit(True)
                )
                fcols.append((F.when(matched, val * w), matched))
            score_mode = body.get("score_mode", "multiply")
            if not fcols:
                fscore = F.lit(1.0)
            else:
                # per-function filters EXCLUDE non-matching functions
                # from the combination; if none match, the function
                # score is 1.0 (OpenSearch function_score contract)
                vals = [v for v, _ in fcols]
                mcount = sum(
                    m.cast("int") for _, m in fcols
                )
                if score_mode == "multiply":
                    fscore = F.coalesce(vals[0], F.lit(1.0))
                    for v in vals[1:]:
                        fscore = fscore * F.coalesce(v, F.lit(1.0))
                elif score_mode in ("sum", "avg"):
                    total = F.coalesce(vals[0], F.lit(0.0))
                    for v in vals[1:]:
                        total = total + F.coalesce(v, F.lit(0.0))
                    fscore = (
                        total / mcount.cast("double")
                        if score_mode == "avg"
                        else total
                    )
                elif score_mode == "max":
                    fscore = F.greatest(*vals) if len(vals) > 1 else vals[0]
                elif score_mode == "min":
                    fscore = F.least(*vals) if len(vals) > 1 else vals[0]
                else:
                    raise ValueError(f"unsupported score_mode: {score_mode}")
                fscore = F.when(mcount == F.lit(0), F.lit(1.0)).otherwise(fscore)
            if body.get("max_boost") is not None:
                fscore = F.least(fscore, F.lit(float(body["max_boost"])))
            boost_mode = body.get("boost_mode", "multiply")
            combined_map = {
                "multiply": F.col("score") * fscore,
                "sum": F.col("score") + fscore,
                "replace": fscore,
                "avg": (F.col("score") + fscore) / F.lit(2.0),
                "max": F.greatest(F.col("score"), fscore),
                "min": F.least(F.col("score"), fscore),
            }
            if boost_mode not in combined_map:
                raise ValueError(f"unsupported boost_mode: {boost_mode}")
            combined = combined_map[boost_mode]
            # fall through to the shared pipeline post-processors
            # (mmr/rerank/highlight/fetch_source) like every query type
            result = joined.select("doc_id", combined.alias("score"))
            if body.get("min_score") is not None:
                result = result.where(
                    F.col("score") >= F.lit(float(body["min_score"]))
                )
            result = _page(result.orderBy(F.col("score").desc(), "doc_id"), from_, keep)
        elif qtype == "pinned":
            # OpenSearch pinned query: the listed ids rank first (in
            # list order), organic results follow with pinned ids
            # deduplicated out
            ids = [int(v) for v in body["ids"]]
            organic = self.search(
                body["organic"], None, size=size + len(ids)
            ).select("doc_id", "score")
            organic = organic.where(~F.col("doc_id").isin(ids))
            order = self.spark.createDataFrame(
                [(int(d), i) for i, d in enumerate(ids)], "doc_id long, __pin int"
            )
            pinned = (
                self.documents()
                .join(F.broadcast(order), "doc_id")
                .select(
                    "doc_id",
                    (F.lit(float(len(ids) + 1)) - F.col("__pin")).alias("score"),
                    F.col("__pin"),
                )
            )
            result = (
                pinned.select("doc_id", "score", F.lit(0).alias("__org"))
                .unionByName(
                    organic.select("doc_id", "score", F.lit(1).alias("__org"))
                )
                .orderBy("__org", F.col("score").desc(), "doc_id")
                .drop("__org")
            )
            result = _page(result, from_, keep)
        elif qtype == "dis_max":
            # OpenSearch core dis_max: per-doc score = best sub-query
            # score + tie_breaker × (sum of the others). Sub-queries
            # are top-`depth` frames, so the union + one groupBy is
            # over ≤ |subs|·depth rows — never the corpus.
            tb = float(body.get("tie_breaker", 0.0))
            depth = int(body.get("pagination_depth", max(from_ + size, 50)))
            subs = [
                self._compile_sub(s, depth).select("doc_id", "score")
                for s in _clause_list(body["queries"])
            ]
            from functools import reduce

            unioned = reduce(lambda a, b: a.unionByName(b), subs)
            result = (
                unioned.groupBy("doc_id")
                .agg(F.max("score").alias("__mx"), F.sum("score").alias("__sm"))
                .select(
                    "doc_id",
                    (
                        F.col("__mx")
                        + F.lit(tb) * (F.col("__sm") - F.col("__mx"))
                    ).alias("score"),
                )
                .orderBy(F.col("score").desc(), "doc_id")
            )
            result = _page(result, from_, keep)
        elif qtype == "boosting":
            # OpenSearch core boosting query: positive hits whose doc
            # ALSO matches `negative` are demoted by `negative_boost`.
            # The negative clause is filter-context here (term/terms/
            # range/exists/bool/SQL string — the dominant real-world
            # shape); a scored negative would need its full match set,
            # which a top-k frame can't represent exactly.
            nb = float(body.get("negative_boost", 0.5))
            window = int(body.get("window", 10 * (from_ + size)))
            pos = self.search(body["positive"], None, size=window).select(
                "doc_id", "score"
            )
            neg_ids = self.documents().where(
                F.expr(compile_filter(body["negative"]))
            ).select("doc_id", F.lit(True).alias("__neg"))
            result = (
                F.broadcast(pos)
                .join(neg_ids, "doc_id", "left")
                .select(
                    "doc_id",
                    F.when(F.col("__neg"), F.col("score") * F.lit(nb))
                    .otherwise(F.col("score"))
                    .alias("score"),
                )
                .orderBy(F.col("score").desc(), "doc_id")
            )
            result = _page(result, from_, keep)
        elif qtype == "script_score":
            # OpenSearch core script_score with the script expressed in
            # Spark SQL (this engine's "painless"): rescore the inner
            # query's top-`window` hits with an expression over the
            # doc's columns plus `_score`. Same two-phase over-fetch
            # shape as function_score — the corpus is never re-scanned.
            if isinstance(body.get("query"), dict) and "hybrid" in body["query"]:
                raise ValueError(
                    "hybrid query cannot be nested inside script_score"
                )
            window = int(body.get("window", 10 * (from_ + size)))
            base = self.search(body["query"], None, size=window).select(
                "doc_id", F.col("score").alias("_score")
            )
            params = body.get("params") or {}
            if "query_vector" in params:
                # painless vector functions (cosineSimilarity/dotProduct
                # over a stored knn field): the query vector enters the
                # plan as a literal (inference hoisting) and the script
                # references `cosine_sim` / `dot_product` columns —
                # evaluated only over the window's candidates
                from ..functions import vector as VEC

                qv = [float(x) for x in params["query_vector"]]
                joined = F.broadcast(base).join(self.corpus(), "doc_id")
                emb = VEC.as_double(F.col("embedding"))
                joined = joined.withColumn(
                    "cosine_sim", VEC.cosine(emb, VEC.lit_vector(qv))
                ).withColumn("dot_product", VEC.dot(emb, VEC.lit_vector(qv)))
            else:
                joined = F.broadcast(base).join(self.documents(), "doc_id")
            result = (
                joined.select(
                    "doc_id", F.expr(body["script"]).cast("double").alias("score")
                )
                .orderBy(F.col("score").desc(), "doc_id")
            )
            result = _page(result, from_, keep)
        elif qtype == "hybrid":
            subs_spec = body["queries"]
            depth = body.get("pagination_depth", from_ + size)
            hybrid_filter = (
                compile_filter(body["filter"]) if body.get("filter") else None
            )
            self._evt("hybrid_query_requests")
            if hybrid_filter:
                self._evt("hybrid_query_filter_requests")
            if from_ > 0 or "pagination_depth" in body:
                self._evt("hybrid_query_pagination_requests")
            if any(
                isinstance(s, dict)
                and isinstance(next(iter(s.values())), dict)
                and next(iter(s.values())).get("nested")
                for s in subs_spec
            ):
                self._evt("hybrid_query_inner_hits_requests")
            _norm_t = (pipeline.get("normalization") or {}).get(
                "technique", "min_max"
            )
            _comb_t = (pipeline.get("combination") or {}).get(
                "technique", "arithmetic_mean"
            )
            if _norm_t == "rrf":
                self._evt("rrf_processor_executions")
            else:
                self._evt("normalization_processor_executions")
                _nmap = {
                    "min_max": "norm_technique_minmax_executions",
                    "l2": "norm_technique_l2_executions",
                    "z_score": "norm_technique_norm_zscore_executions",
                }
                if _norm_t in _nmap:
                    self._evt(_nmap[_norm_t])
            _cmap = {
                "arithmetic_mean": "comb_technique_arithmetic_executions",
                "geometric_mean": "comb_technique_geometric_executions",
                "harmonic_mean": "comb_technique_harmonic_executions",
                "rrf": "comb_technique_rrf_executions",
            }
            if _comb_t in _cmap:
                self._evt(_cmap[_comb_t])
            subs = [self._compile_sub(s, depth, hybrid_filter) for s in subs_spec]
            norm = pipeline.get("normalization", {})
            comb = pipeline.get("combination", {})
            fuse_k = size
            if pipeline.get("collapse"):
                fuse_k = depth
            if mmr_cand:
                fuse_k = max(fuse_k, mmr_cand)
            fused = FU.hybrid_fuse(
                subs,
                normalization=norm.get("technique", "min_max"),
                combination=comb.get("technique", "arithmetic_mean"),
                weights=comb.get("weights"),
                depth=depth,
                k=fuse_k,
                from_=from_,
                min_score=body.get("min_score"),
                rank_constant=norm.get("rank_constant", FU.DEFAULT_RANK_CONSTANT),
                lower_bounds=norm.get("lower_bounds"),
                upper_bounds=norm.get("upper_bounds"),
            )
            if pipeline.get("explain"):
                return FU.hybrid_explain(
                    subs,
                    normalization=norm.get("technique", "min_max"),
                    combination=comb.get("technique", "arithmetic_mean"),
                    weights=comb.get("weights"),
                    depth=depth,
                    k=size,
                )
            result = fused
            if pipeline.get("collapse"):
                result = FU.collapse(
                    result, self.documents(), pipeline["collapse"]["field"], k=size
                )
            if pipeline.get("sort"):
                from ..operators.sorting import sort_by_fields

                s = pipeline["sort"]
                result = sort_by_fields(
                    result,
                    self.documents(),
                    [(c["field"], c.get("asc", True)) for c in s["fields"]],
                    k=size,
                    search_after=s.get("search_after"),
                )
        else:
            # single-leaf query: size the fetch window as from_+size so
            # pagination offsets into a complete, deterministic prefix
            fetch = max(from_ + size, mmr_cand or 0)
            if pipeline.get("collapse"):
                # deeper pool so every surviving group has a candidate
                fetch = max(fetch, 50)
            result = self._compile_sub(query, fetch).limit(fetch)
            if from_:
                result = result.offset(from_)
            if pipeline.get("collapse"):
                result = FU.collapse(
                    result,
                    self.documents(),
                    pipeline["collapse"]["field"],
                    k=size,
                )
            result = result.limit(keep)

        if mmr:
            picked = RR.mmr_diversify(
                result, self.corpus(), k=size,
                lambda_=float(mmr.get("lambda", 0.5)),
            )
            order = self.spark.createDataFrame(
                [(int(d), i) for i, d in enumerate(picked)],
                "doc_id long, mmr_rank int",
            )
            result = result.join(F.broadcast(order), "doc_id").orderBy("mmr_rank")

        rerank = pipeline.get("rerank")
        if rerank:
            if rerank.get("type") == "by_field":
                self._evt("rerank_by_field_processor_executions")
                result = RR.rerank_by_field(
                    result, self.documents(), rerank["target_field"], k=size,
                    keep_previous_score=bool(rerank.get("keep_previous_score")),
                    # 3.8 enhancement (#1880): custom field name for the
                    # kept previous score, so it can't collide with an
                    # existing document field
                    previous_score_field=rerank.get(
                        "previous_score_field", "previous_score"
                    ),
                )
            else:
                self._evt("rerank_ml_processor_executions")
                result = RR.rerank_cross_encoder(
                    result, self.documents(), rerank["query_text"], k=size
                )
        if pipeline.get("highlight"):
            self._evt("semantic_highlighting_request_count")
            result = H.highlight_results(
                result, self.documents(), pipeline["highlight"]["query_text"],
                fragment_size=pipeline["highlight"].get("fragment_size"),
            )
        if pipeline.get("fetch_source"):
            # the reference's query-then-fetch: scores are computed over
            # ids only, the full `_source` row joins in at the END for
            # the few surviving docs (SURVEY.md §3.1 step 8 — a
            # broadcast-hash join on doc_id)
            result = result.join(self.documents(), "doc_id", "left").orderBy(
                F.col("score").desc(), F.col("doc_id")
            )
        return result


def _page(result: DataFrame, from_: int, n: int) -> DataFrame:
    """The paging tail of a compound query: skip `from_` ranked rows,
    keep `n` (the page size, or the MMR candidate pool when larger)."""
    if from_:
        result = result.offset(from_)
    return result.limit(n)


def _strip_two_phase(query):
    """Recursively drop `two_phase` from every neural_sparse body —
    the 3.8 behavior (#1898) that disables the two-phase rescore
    optimization for requests with field sorts (the hit set must be
    exact when ordering is not score-driven)."""
    if isinstance(query, dict):
        out = {}
        for k, v in query.items():
            if k == "neural_sparse" and isinstance(v, dict) and "two_phase" in v:
                v = {kk: vv for kk, vv in v.items() if kk != "two_phase"}
            out[k] = _strip_two_phase(v)
        return out
    if isinstance(query, list):
        return [_strip_two_phase(v) for v in query]
    return query


def _parse_simple_query_string(q: str) -> dict:
    """OpenSearch `simple_query_string` subset → scored-bool DSL:
    `+term` required (scored must), `-term` prohibited (must_not),
    `"a b"` phrase (scored must), bare terms optional OR-matched
    (scored should). Default operator OR; field list fixed to text.
    Never raises on malformed syntax (the API's lenient contract) —
    stray quotes/operators degrade to plain terms."""
    import re as _re

    phrases = [m.group(1) for m in _re.finditer(r'"([^"]*)"', q)]
    rest = _re.sub(r'"[^"]*"', " ", q)
    must, must_not, should = [], [], []
    for tok in rest.split():
        if tok.startswith("+") and len(tok) > 1:
            must.append(tok[1:])
        elif tok.startswith("-") and len(tok) > 1:
            must_not.append(tok[1:])
        elif tok.strip("+-"):
            should.append(tok.strip("+-"))
    spec: dict = {"bool": {}}
    musts = [{"match": {"field": "text", "query": t}} for t in must]
    musts += [
        {"match_phrase": {"field": "text", "query": p}} for p in phrases if p.strip()
    ]
    if musts:
        spec["bool"]["must"] = musts
    if should:
        spec["bool"]["should"] = [
            {"match": {"field": "text", "query": t}} for t in should
        ]
    if must_not:
        spec["bool"]["must_not"] = [
            f"text LIKE '%{t}%'" for t in must_not
        ]
    if not spec["bool"]:
        raise ValueError("empty simple_query_string")
    return spec


_QS_TOKEN = None  # compiled lazily (module import stays regex-free)


def _parse_query_string(
    q: str, default_field: str = "text", default_operator: str = "OR"
) -> dict:
    """OpenSearch/Lucene `query_string` mini-language → scored DSL.

    Reference surface: OpenSearch core's query_string query (the
    neural-search plugin forwards such clauses opaquely,
    `query/NeuralQueryBuilder.java:645-646`). Supported grammar
    (golden-tested subset):

      term                    scored match on `default_field`
      field:term              match (text field) / constant-score term
                              filter (keyword & numeric fields)
      "a b" / field:"a b"     match_phrase
      te*t / te?t             wildcard (constant-score)
      clause^2.5              boost (score multiplier)
      a AND b / a && b        both required, scores sum
      a OR b / a || b         either matches, matching scores sum
      NOT a / !a / -a         prohibited (filter-context, token-exact)
      +a                      required (joins with AND)
      ( ... ) / field:(a b)   grouping, optional field scope

    Adjacent clauses with no explicit operator join with
    `default_operator`; a NOT clause always joins with AND (the
    practical Lucene `a AND b NOT c` shape), and `+`/`-` prefixes
    likewise bind to the PRECEDING clause with AND — with standard
    precedence (NOT > AND > OR), so `+a -b c` under default OR parses
    as `(a AND NOT b) OR c` (a documented divergence from Lucene's
    flat-clause treatment; use explicit operators for exact control).
    `x OR NOT y` is rejected — a pure-negation OR operand has no
    top-k-frame semantics. NOT over a group distributes through
    AND/OR leaves.
    """
    import re as _re

    global _QS_TOKEN
    if _QS_TOKEN is None:
        # phrases (optionally field-prefixed / boosted) first, then
        # parens, then any run of non-space non-paren characters
        _QS_TOKEN = _re.compile(
            r'(?:[\w.]+:)?"[^"]*"(?:\^\d+(?:\.\d+)?)?|\(|\)|[^\s()]+'
        )
    raw = _QS_TOKEN.findall(q)
    if not raw:
        raise ValueError("empty query_string")

    def _is_op(t):
        return t in ("AND", "OR", "NOT")

    def _ends_clause(t):
        # a `field:` token is a scope opener for a following group,
        # not a complete clause
        return not _is_op(t) and t != "(" and not t.endswith(":")

    # 1) normalize alternate operator spellings and +/-/! prefixes;
    # 2) insert the implicit operator between adjacent clauses
    seq: list[str] = []
    for t in raw:
        t = {"&&": "AND", "||": "OR", "!": "NOT"}.get(t, t)
        pref: list[str] = []
        if not _is_op(t) and t not in ("(", ")") and len(t) > 1 and t[0] in "+-!":
            # +term joins with AND; -term/!term join with AND NOT
            pref = ["AND", "NOT"] if t[0] in "-!" else ["AND"]
            t = t[1:]
        if pref and seq and _ends_clause(seq[-1]):
            seq += pref
        elif pref and "NOT" in pref:
            seq.append("NOT")
        if seq and _ends_clause(seq[-1]):
            if not _is_op(t) and t != ")":
                seq.append(default_operator)
            elif t == "NOT":
                seq.append("AND")
        seq.append(t)

    pos = 0

    def _peek():
        return seq[pos] if pos < len(seq) else None

    def _next():
        nonlocal pos
        t = seq[pos]
        pos += 1
        return t

    def _leaf(tok: str, scope: str | None) -> tuple:
        field = scope or default_field
        m = _re.match(r"^([\w.]+):(.+)$", tok)
        body = tok
        if m:
            field, body = m.group(1), m.group(2)
        boost = 1.0
        bm = _re.match(r"^(.+)\^(\d+(?:\.\d+)?)$", body)
        if bm:
            body, boost = bm.group(1), float(bm.group(2))
        if body.startswith('"') and body.endswith('"') and len(body) >= 2:
            return ("phrase", field, body[1:-1], boost)
        if "*" in body or "?" in body:
            return ("wild", field, body, boost)
        return ("term", field, body, boost)

    def _parse_or(scope):
        nodes = [_parse_and(scope)]
        while _peek() == "OR":
            _next()
            nodes.append(_parse_and(scope))
        return nodes[0] if len(nodes) == 1 else ("or", nodes)

    def _parse_and(scope):
        nodes = [_parse_unary(scope)]
        while _peek() == "AND":
            _next()
            nodes.append(_parse_unary(scope))
        return nodes[0] if len(nodes) == 1 else ("and", nodes)

    def _parse_unary(scope):
        if _peek() == "NOT":
            _next()
            return ("not", _parse_unary(scope))
        return _parse_primary(scope)

    def _parse_primary(scope):
        t = _peek()
        if t is None or t in (")", "AND", "OR"):
            raise ValueError(f"query_string syntax error near position {pos}")
        _next()
        if t == "(":
            node = _parse_or(scope)
            if _peek() != ")":
                raise ValueError("query_string: unbalanced parentheses")
            _next()
            return node
        if t.endswith(":") and _peek() == "(":
            # field-scoped group: field:(a b)
            _next()
            node = _parse_or(t[:-1])
            if _peek() != ")":
                raise ValueError("query_string: unbalanced parentheses")
            _next()
            return node
        return _leaf(t, scope)

    tree = _parse_or(None)
    if pos != len(seq):
        raise ValueError(f"query_string: trailing tokens {seq[pos:]}")
    return _qs_to_dsl(tree)


def _qs_typed(v: str):
    """field:value literal typing for keyword/numeric filters."""
    try:
        return int(v)
    except ValueError:
        try:
            return float(v)
        except ValueError:
            return v


def _qs_neg_sql(node) -> str:
    """Negated clause → the POSITIVE match predicate (the scored-bool
    branch wraps `NOT (...)` itself). Token-exact for text terms."""
    kind = node[0]
    if kind in ("and", "or"):
        op = " AND " if kind == "and" else " OR "
        return "(" + op.join(_qs_neg_sql(c) for c in node[1]) + ")"
    if kind == "not":
        return f"NOT ({_qs_neg_sql(node[1])})"
    kind, field, body, _boost = node
    safe = body.replace("'", "''")
    if field == "text":
        if kind == "term":
            return (
                "array_contains(split(lower(text), '\\\\s+'), "
                f"'{safe.lower()}')"
            )
        if kind == "phrase":
            return f"lower(text) LIKE '%{safe.lower()}%'"
        pat = (
            safe.replace("%", r"\%").replace("_", r"\_")
            .replace("*", "%").replace("?", "_")
        )
        return f"lower(text) LIKE '{pat.lower()}'"
    if kind == "wild":
        pat = (
            safe.replace("%", r"\%").replace("_", r"\_")
            .replace("*", "%").replace("?", "_")
        )
        return f"{field} LIKE '{pat}'"
    return f"{field} = {_sql_lit(_qs_typed(body))}"


def _qs_to_dsl(node) -> dict:
    """query_string AST → the engine's scored DSL (bool / match /
    match_phrase / wildcard / constant_score leaves)."""
    kind = node[0]
    if kind == "or":
        should = []
        for c in node[1]:
            if c[0] == "not":
                raise ValueError(
                    "query_string: pure-negation OR operand unsupported"
                )
            should.append(_qs_to_dsl(c))
        return {"bool": {"should": should}}
    if kind == "and":
        must, must_not = [], []
        for c in node[1]:
            if c[0] == "not":
                must_not.append(_qs_neg_sql(c[1]))
            else:
                must.append(_qs_to_dsl(c))
        spec: dict = {"bool": {}}
        if must:
            spec["bool"]["must"] = must
        if must_not:
            spec["bool"]["must_not"] = must_not
        return spec
    if kind == "not":
        # top-level pure negation: filter-only bool (constant score 0)
        return {"bool": {"must_not": [_qs_neg_sql(node[1])]}}
    kind, field, body, boost = node
    extra = {"boost": boost} if boost != 1.0 else {}
    if field == "text":
        if kind == "term":
            return {"match": {"field": field, "query": body, **extra}}
        if kind == "phrase":
            return {"match_phrase": {"field": field, "query": body, **extra}}
        return {"wildcard": {"field": field, "value": body, **extra}}
    # keyword / numeric fields: constant-score filter leaves
    if kind == "wild":
        pat = (
            body.replace("'", "''").replace("%", r"\%").replace("_", r"\_")
            .replace("*", "%").replace("?", "_")
        )
        flt: Any = f"{field} LIKE '{pat}'"
    elif kind == "phrase":
        flt = {"term": {field: body}}
    else:
        flt = {"term": {field: _qs_typed(body)}}
    return {"constant_score": {"filter": flt, "boost": boost}}


AGENT_SYSTEM_PROMPT = """You translate natural-language search questions \
into ONE JSON query for a search engine. Reply with ONLY the JSON object, \
no prose. Allowed top-level keys (pick exactly one): neural \
({"query_text": str}), neural_sparse ({"query_text": str}), match \
({"field": "text", "query": str}), match_phrase ({"field": "text", \
"query": str}), match_phrase_prefix ({"field": "text", "query": str}), \
bool ({"must": [...], "must_not": [...], "filter": [...]}), dis_max \
({"queries": [...]}), boosting ({"positive": {...}, "negative": {...}, \
"negative_boost": float}), hybrid ({"queries": [...]}). Sub-queries use \
the same shapes. To also set result count, pagination, grouping, or \
fusion, reply instead with a full search body: {"query": <one of the \
above>, "size": int, "from": int, "pipeline": {"collapse": {"field": \
str}, "normalization": {"technique": "min_max"|"l2"|"z_score"|"rrf"}, \
"combination": {"technique": "arithmetic_mean"|"geometric_mean"|\
"harmonic_mean"}}} — every body key except "query" is optional."""


def llm_agent_translate(
    endpoint: str | None = None,
    model: str | None = None,
    timeout: float = 15.0,
    fallback=None,
):
    """R9 agent through a real LLM endpoint (VERDICT r3 item 10): a
    Callable[[str], dict] that POSTs the question to an
    OpenAI-compatible `/v1/chat/completions` server (any local
    llama.cpp / vLLM / ollama-style endpoint) and parses the replied
    JSON into the DSL dict — the
    `processor/AgenticQueryTranslatorProcessor.java:97-150` contract
    with the ML-Commons agent swapped for an HTTP call.

    Configuration: `endpoint` / env NEURAL_SEARCH_AGENT_ENDPOINT (base
    URL), `model` / env NEURAL_SEARCH_AGENT_MODEL. On ANY failure
    (endpoint down, invalid JSON, empty reply) the call falls back to
    the deterministic rule stub so search stays available — the same
    degrade-to-default posture as the reference's enricher defaults.
    Stdlib urllib only: no extra dependency, driver-side one call per
    query (the agent is coordinator work, never per-row)."""
    endpoint = endpoint or os.environ.get("NEURAL_SEARCH_AGENT_ENDPOINT", "")
    model = model or os.environ.get("NEURAL_SEARCH_AGENT_MODEL", "default")
    fallback = fallback or _agentic_translate

    def _translate(question: str) -> dict:
        import json as _json
        import urllib.request as _rq

        try:
            body = _json.dumps({
                "model": model,
                "messages": [
                    {"role": "system", "content": AGENT_SYSTEM_PROMPT},
                    {"role": "user", "content": question},
                ],
                "temperature": 0,
            }).encode()
            req = _rq.Request(
                endpoint.rstrip("/") + "/v1/chat/completions",
                data=body,
                headers={"Content-Type": "application/json"},
            )
            with _rq.urlopen(req, timeout=timeout) as resp:
                reply = _json.loads(resp.read())
            text = reply["choices"][0]["message"]["content"].strip()
            # tolerate fenced replies
            if text.startswith("```"):
                text = text.strip("`")
                text = text[text.index("{"):]
            spec = _json.loads(text[text.index("{"): text.rindex("}") + 1])
            if not (isinstance(spec, dict) and len(spec) == 1):
                raise ValueError(f"agent reply is not a single-key DSL dict: {spec!r}")
            return spec
        except Exception:
            return fallback(question)

    return _translate


def _agentic_translate(question: str) -> dict:
    """R9 default agent: deterministic keyword rules → DSL query.

    Stands in for the ML-Commons agent execution
    (`ml/MLCommonsClientAccessor.java:642-686`); a real LLM call slots
    in via `Engine(agent_translate=...)` returning the same dict shape
    (`processor/AgenticQueryTranslatorProcessor.java:97-150` — the
    translator contract is exactly "NL question in, DSL dict out").

    Rule table (golden-tested in tests/test_compiler.py):
      "similar"/"like"            → neural (dense semantic)
      "exact"/"keyword"           → match (lexical)
      "expansion"/"sparse"        → neural_sparse (learned sparse)
      "either X or Y"             → dis_max over two match legs
      "downrank"/"demote" Y       → boosting (negative LIKE filter)
      "starting with"/"autocomplete" → match_phrase_prefix
      "without"/"excluding"/"not" → bool: match(must) + LIKE must_not
      otherwise                   → hybrid(neural + match)

    Search-body modifiers compose with any core rule above; when one is
    present the translation is a FULL body {"query", "size", "from",
    "pipeline"} (the reference agent rewrites the whole
    SearchSourceBuilder, not just the query clause):
      "top/best/first N"          → size: N
      "second/next page"          → from: one page (= size)
      "one per <field>"           → pipeline.collapse {field}
      "with rrf"/"reciprocal rank"→ hybrid + pipeline.normalization rrf
    """
    import re as _re

    q = question.lower()
    body: dict = {}
    m = _re.search(r"\b(?:top|best|first)\s+(\d+)\b", q)
    if m:
        body["size"] = int(m.group(1))
        q = q.replace(m.group(0), " ")
    if _re.search(r"\b(?:second|next)\s+page\b", q):
        body["from"] = body.get("size", DEFAULT_K)
        q = _re.sub(r"\b(?:second|next)\s+page(?:\s+of)?\b", " ", q)
    m = _re.search(r"\bone per (\w+)\b", q)
    if m:
        body.setdefault("pipeline", {})["collapse"] = {"field": m.group(1)}
        q = q.replace(m.group(0), " ")
    want_rrf = bool(_re.search(r"\bwith rrf\b|\breciprocal rank\b", q))
    if want_rrf:
        body.setdefault("pipeline", {})["normalization"] = {
            "technique": "rrf"
        }
        q = _re.sub(r"\bwith rrf\b|\breciprocal rank fusion\b|\breciprocal rank\b", " ", q)
    def _core() -> dict:
        terms = [t for t in q.replace("?", " ").split() if len(t) > 2]
        stop = {"similar", "like", "exact", "keyword", "expansion", "sparse",
                "without", "excluding", "not", "the", "and", "for", "with",
                "either", "downrank", "demote", "starting", "autocomplete"}
        core = [t for t in terms if t not in stop]
        if "similar" in q or "like" in q:
            return {"neural": {"query_text": " ".join(core)}}
        if "exact" in q or "keyword" in q:
            return {"match": {"field": "text", "query": " ".join(core)}}
        if "expansion" in q or "sparse" in q:
            return {"neural_sparse": {"query_text": " ".join(core)}}
        words = q.split()
        if "either" in words and "or" in words:
            # "either X or Y": best single leg wins (dis-max), slight
            # credit for matching both
            oi = words.index("or")
            left = [t for t in words[:oi] if len(t) > 2 and t not in stop]
            right = [t for t in words[oi + 1 :] if len(t) > 2 and t not in stop]
            return {"dis_max": {
                "queries": [
                    {"match": {"field": "text", "query": " ".join(left)}},
                    {"match": {"field": "text", "query": " ".join(right)}},
                ],
                "tie_breaker": 0.3,
            }}
        for marker in ("downrank", "demote"):
            if marker in words:
                pos = words.index(marker)
                demoted = [t for t in words[pos + 1 :] if len(t) > 2][:1]
                wanted = [t for t in core if t not in demoted]
                spec = {"boosting": {
                    "positive": {"match": {"field": "text", "query": " ".join(wanted)}},
                    "negative_boost": 0.5,
                }}
                if demoted:
                    spec["boosting"]["negative"] = f"text LIKE '%{demoted[0]}%'"
                else:
                    spec["boosting"]["negative"] = "FALSE"
                return spec
        if "autocomplete" in words or "starting with" in q:
            return {"match_phrase_prefix": {"field": "text", "query": " ".join(core)}}
        for marker in ("without", "excluding", "not"):
            if marker in q.split():
                pos = q.split().index(marker)
                excluded = [t for t in q.split()[pos + 1 :] if len(t) > 2][:1]
                wanted = [t for t in core if t not in excluded]
                spec: dict = {
                    "bool": {"must": {"match": {"field": "text",
                                                "query": " ".join(wanted)}}}
                }
                if excluded:
                    spec["bool"]["must_not"] = f"text LIKE '%{excluded[0]}%'"
                return spec
        return {
            "hybrid": {
                "queries": [
                    {"neural": {"query_text": " ".join(core)}},
                    {"match": {"field": "text", "query": " ".join(core)}},
                ]
            }
        }

    if want_rrf:
        # rrf is a fusion directive: force the hybrid two-leg shape so
        # the pipeline's rank-based normalization has legs to fuse
        core = [
            t
            for t in q.replace("?", " ").split()
            if len(t) > 2 and t not in ("and", "the", "combine", "fusion")
        ]
        body["query"] = {"hybrid": {"queries": [
            {"neural": {"query_text": " ".join(core)}},
            {"match": {"field": "text", "query": " ".join(core)}},
        ]}}
        return body
    spec = _core()
    if body:
        body["query"] = spec
        return body
    return spec


def cross_index_search(
    engines: dict[str, "Engine"],
    query: dict[str, Any],
    size: int = DEFAULT_K,
    indices_boost: dict[str, float] | None = None,
) -> DataFrame:
    """Cross-cluster / multi-index search (the `cluster:index` fan-out
    OpenSearch CCS performs): the SAME query compiles independently
    against every engine — per-index corpus statistics, exactly like
    CCS scoring each cluster with its own idf/avgdl — then the
    per-index top-`size` frames union with index provenance and
    re-sort. One Spark job schedules every sub-plan; each remote's
    result frame is ≤ size rows, so the merge is a TakeOrdered over
    |indices|·size rows, never a corpus-wide shuffle."""
    frames = []
    for name, eng in engines.items():
        boost = float((indices_boost or {}).get(name, 1.0))
        frames.append(
            eng.search(query, size=size).select(
                F.lit(name).alias("idx"),
                "doc_id",
                (F.lit(boost) * F.col("score")).alias("score"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy(F.col("score").desc(), "idx", "doc_id").limit(size)
