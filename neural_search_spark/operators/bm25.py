"""BM25 lexical scoring over a postings layout.

The reference delegates lexical `match` to OpenSearch core; hybrid's
canonical use is lexical+neural, so a hybrid engine needs BM25
(SURVEY.md §7 step 4). Spark has no BM25 — this builds it from
DataFrame primitives: corpus stats (N, avgdl), per-token df, per-doc tf,
then the Lucene-style score expression:

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))
    score  = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

The term score is built in one place, `term_score_sql`; every scorer
below evaluates that string.

Scale shape: every input of the term score is joined once per corpus
snapshot into the scored postings (doc_id, token, tf, dl, df), which
the engine keeps in memory (`scored_postings`; `combined_fields` keeps
one per field-weight set). `match`, `terms_set`, `combined_fields` and
the `_explain` breakdown filter them with a literal `token IN (...)`
predicate, score each row with the one SQL expression, and run a
groupBy(doc) and a TakeOrdered top-k: no join or broadcast per query
beyond a filter's candidate semi-join, and no corpus-wide shuffle. The
positional operators (phrase, spans, intervals) count tf from position
lists and df over their match set, then score with the same string.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sparse import tf_postings, tokens
from ..functions.vector import double_sql

K1 = 1.2
B = 0.75


@dataclass
class BM25Index:
    postings: DataFrame  # (doc_id, token, tf double)
    doclen: DataFrame  # (doc_id, dl double)
    stats: tuple[int, float]  # (N, avgdl)
    analyzer: str | None = None  # analyzers.py name; None = whitespace default
    # term dictionary (token, df long) — Lucene stores docFreq in the
    # term dictionary. None → `term_dictionary(postings)`.
    dfs: DataFrame | None = None
    # `scored_postings` of this index, persisted (the engine keeps one
    # per corpus and analyzer; `build_combined_fields` persists its
    # own). None → bm25_scores joins them lazily per query.
    scored: DataFrame | None = None


def build_bm25(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str | None = None,
) -> BM25Index:
    """`analyzer` selects a functions/analyzers.py tokenizer for the
    postings AND is recorded on the index so query tokenization always
    matches document tokenization (Lucene's index-analyzer contract)."""
    postings, doclen = index_frames(docs, id_col, text_col, analyzer)
    n, avgdl = doclen.agg(F.count("*"), F.avg("dl")).first()
    return BM25Index(
        postings=postings, doclen=doclen, stats=(int(n), float(avgdl)),
        analyzer=analyzer,
    )


def index_frames(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The lazy (postings (id, token, tf double), doclen (id, dl
    double)) frames of `docs` under `analyzer`; no Spark job."""
    postings = tf_postings(docs, id_col, text_col, analyzer=analyzer).withColumnRenamed(
        "weight", "tf"
    )
    if analyzer is None:
        toks = tokens(F.col(text_col))
    else:
        from ..functions.analyzers import analyze

        toks = analyze(F.col(text_col), analyzer)
    doclen = docs.select(F.col(id_col), F.size(toks).cast("double").alias("dl"))
    return postings, doclen


def term_dictionary(postings: DataFrame) -> DataFrame:
    """(token, df long): docFreq per token. count(*) over the
    (doc, token)-unique postings == countDistinct(doc)."""
    return postings.groupBy("token").agg(F.count("*").alias("df"))


def scored_postings(
    postings: DataFrame,
    doclen: DataFrame,
    dfs: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, token, tf, dl, df double): each posting joined to its doc
    length and its term's docFreq — every per-row input of the BM25
    term score. Both joins broadcast the small side, so the postings
    keep their partitioning and row order, and per-doc sums their
    order. Without a term dictionary df is counted from the postings;
    a token filter above this frame is inferred into that count."""
    if dfs is None:
        dfs = term_dictionary(postings)
    return postings.join(
        F.broadcast(dfs.select("token", F.col("df").cast("double").alias("df"))), "token"
    ).join(F.broadcast(doclen), id_col)


def query_tokens(query: str, analyzer: str | None) -> list[str]:
    """The distinct tokens of `query` under `analyzer` (None: lowercased
    whitespace split), sorted."""
    if analyzer is None:
        return sorted({t for t in query.lower().split() if t})
    from ..functions.analyzers import analyze_py

    return sorted(set(analyze_py(query, analyzer)))


def idf_sql(n: int) -> str:
    """The BM25 idf of a row's `df` (double) in a corpus of `n` docs,
    as SQL text: ln(1 + (N - df + 0.5)/(df + 0.5))."""
    return f"ln(1.0D + ({double_sql(n)} - df + 0.5D) / (df + 0.5D))"


def term_score_sql(n: int, avgdl: float, k1: float = K1, b: float = B) -> str:
    """The one BM25 term score, as SQL text over a row's (tf, dl, df)
    doubles: idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)), k1 + 1
    and 1 - b folded into literals. Every lexical scorer of this engine
    evaluates this string (summed per doc where it scores a query)."""
    d = double_sql
    return (
        f"{idf_sql(n)} * (tf * {d(k1 + 1.0)})"
        f" / (tf + {d(k1)} * ({d(1.0 - b)} + {d(b)} * dl / {d(avgdl)}))"
    )


def bm25_scores(
    index: BM25Index,
    query: str,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    candidate_ids: DataFrame | None = None,
    search_analyzer: str | None = None,
) -> DataFrame:
    """(doc_id, score) for every doc matching ≥1 query token — the
    scoring stage of bm25_topk without the top-k, reusable by
    multi-field combiners. `candidate_ids` restricts scoring to
    allowed docs (hybrid filter pushdown, P2) — corpus stats stay
    corpus-wide, as in Lucene filtered queries. `search_analyzer`
    overrides the index analyzer for QUERY tokenization only (the
    OpenSearch mapping `search_analyzer` contract — e.g. edge_ngram
    index + standard search for search-as-you-type).

    Reads the index's scored postings (`scored_postings`) through a
    literal `token IN (...)` filter: no per-query join and no
    broadcast, each of which would run a Spark job of its own. The
    term score is `term_score_sql`."""
    from .retrieval import token_in_sql

    n, avgdl = index.stats
    qtokens = query_tokens(query, search_analyzer or index.analyzer)
    scored = index.scored
    if scored is None:
        scored = scored_postings(index.postings, index.doclen, index.dfs, id_col)
    if candidate_ids is not None:
        scored = scored.join(F.broadcast(candidate_ids.select(id_col)), id_col, "semi")
    return (
        scored.where(F.expr(token_in_sql(qtokens)))
        .groupBy(id_col)
        .agg(F.expr(f"sum({term_score_sql(n, avgdl, k1, b)})").alias("score"))
    )


def bm25_topk(
    index: BM25Index,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    candidate_ids: DataFrame | None = None,
    search_analyzer: str | None = None,
) -> DataFrame:
    scored = bm25_scores(index, query, id_col, k1, b, candidate_ids, search_analyzer)
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def multi_match_topk(
    indexes: dict[str, tuple[BM25Index, float]],
    query: str,
    k: int = 10,
    match_type: str = "best_fields",
    id_col: str = "doc_id",
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """OpenSearch `multi_match`: one query string scored against
    several fields, each field its own BM25 index (own postings, own
    N/avgdl — the Lucene per-field statistics contract) and boost.

    - best_fields: score = max over fields (dis-max, the default)
    - most_fields: score = Σ over fields

    Plan shape: per-field score frames hold only token-matching docs
    (≪ corpus), outer-joined on doc_id — candidate-frame-sized
    shuffles, never a corpus scan beyond each field's postings join.
    """
    if match_type not in ("best_fields", "most_fields"):
        raise ValueError(f"unsupported multi_match type: {match_type}")
    combined = None
    cols = []
    for i, (fname, (idx, boost)) in enumerate(sorted(indexes.items())):
        s = bm25_scores(idx, query, id_col, candidate_ids=candidate_ids).select(
            id_col, (F.col("score") * F.lit(float(boost))).alias(f"__f{i}")
        )
        cols.append(f"__f{i}")
        combined = s if combined is None else combined.join(s, id_col, "full_outer")
    if combined is None:
        raise ValueError("multi_match requires at least one field")
    if match_type == "best_fields":
        score = F.greatest(*[F.col(c) for c in cols]) if len(cols) > 1 else F.col(cols[0])
    else:
        score = sum(
            (F.coalesce(F.col(c), F.lit(0.0)) for c in cols[1:]),
            F.coalesce(F.col(cols[0]), F.lit(0.0)),
        )
    return (
        combined.select(id_col, score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def build_positional(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional postings: (doc_id, token, positions array<int>) — the
    layout Lucene keeps for phrase queries (proximity data lives in the
    postings, not the stored text). Built once per corpus snapshot;
    bucket/partition by token at scale so a phrase query prunes to its
    m tokens' partitions."""
    toks = tokens(F.col(text_col))
    return (
        docs.select(F.col(id_col), F.posexplode(toks).alias("pos", "token"))
        .groupBy(id_col, "token")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )


def _term_side(positional: DataFrame, token: str, j: int, id_col: str) -> DataFrame:
    """(id, _p{j}): the position lists of one token, a token-pruned scan
    of the positional postings."""
    return positional.where(F.col("token") == token).select(
        F.col(id_col), F.col("positions").alias(f"_p{j}")
    )


def _phrase_tf(
    sides: list[DataFrame], id_col: str, candidate_ids: DataFrame | None
) -> DataFrame:
    """(id, tf double > 0) of a phrase over its position sides (`_p{j}`
    the positions of phrase slot j): the docs holding every slot, tf the
    number of slot-0 positions p with slot j at p + j. `candidate_ids`
    restricts the docs BEFORE the caller counts df over them: a phrase
    rescore counts its df over the rescore window."""
    joined = sides[0]
    for side in sides[1:]:
        joined = joined.join(side, id_col)
    if candidate_ids is not None:
        joined = joined.join(F.broadcast(candidate_ids.select(id_col)), id_col, "semi")

    def aligned(p):
        cond = F.lit(True)
        for j in range(1, len(sides)):
            cond = cond & F.array_contains(F.col(f"_p{j}"), p + F.lit(j))
        return cond

    tf = F.size(F.filter(F.col("_p0"), aligned)).cast("double")
    return joined.select(F.col(id_col), tf.alias("tf")).where(F.col("tf") > 0)


def phrase_topk(
    positional: DataFrame,
    index: BM25Index,
    phrase: str,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """`match_phrase` (exact adjacency, slop=0): BM25 scoring where tf
    is the PHRASE frequency, computed by position-list intersection —
    the docs containing token_j at offset j from a token_0 occurrence.

    Plan shape: one token-pruned scan of the positional postings per
    phrase term, m-way equi-join on doc_id (each side already tiny:
    only docs containing that term), then a pure array expression
    counts aligned positions — no UDF, no text re-scan, no corpus-wide
    shuffle. The reference delegates phrase matching to Lucene's
    positional postings (`PhraseQuery`); this is the same algorithm as
    a join.
    """
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("empty phrase")
    sides = [_term_side(positional, t, j, id_col) for j, t in enumerate(terms)]
    matched = _phrase_tf(sides, id_col, candidate_ids)
    return _bm25_from_tf(matched, index, k, id_col, k1, b)


def phrase_prefix_topk(
    positional: DataFrame,
    index: BM25Index,
    phrase: str,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """`match_phrase_prefix` (search-as-you-type): exact adjacency for
    all terms but the LAST, which matches any token with that prefix
    (Lucene expands the prefix against the term dictionary; here the
    expansion is a `startswith` filter on the token-pruned positional
    scan, with matching tokens' position lists unioned per doc).
    tf = phrase-prefix frequency; BM25 scoring as phrase_topk."""
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("empty phrase")
    *exact_terms, prefix = terms
    sides = [_term_side(positional, t, j, id_col) for j, t in enumerate(exact_terms)]
    # prefix side: union of all prefix-matching tokens' positions
    sides.append(
        positional.where(F.col("token").startswith(prefix))
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("positions")))
            ).alias(f"_p{len(exact_terms)}")
        )
    )
    matched = _phrase_tf(sides, id_col, candidate_ids)
    return _bm25_from_tf(matched, index, k, id_col, k1, b)


def fuzzy_topk(
    postings: DataFrame,
    term: str,
    max_dist: int = 2,
    k: int = 10,
    id_col: str = "doc_id",
    candidate_ids: DataFrame | None = None,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """OpenSearch `fuzzy` query: expand the term to every vocabulary
    token within Levenshtein distance ≤ `max_dist`, score docs by
    Σ tf·(max_dist+1−dist) (closer edits weigh more), top-k.
    `candidate_ids` restricts the scored docs (hybrid filter
    pushdown, P2); the expansion dictionary stays corpus-wide.

    Plan shape: the expansion runs over the DISTINCT token dictionary
    (orders of magnitude smaller than postings; at scale a persisted
    layout table — pass it as `vocab` (token, df) to skip the
    per-query distinct over postings), the surviving ≤dozens of
    (token, dist) rows broadcast-join the postings — the same
    inverted-index access discipline as `sparse_topk_postings`.
    Levenshtein stays JVM-side (`F.levenshtein` is a codegen'd
    built-in)."""
    lev = F.levenshtein(F.col("token"), F.lit(term))
    dictionary = (
        vocab.select("token") if vocab is not None
        else postings.select("token").distinct()
    )
    expansions = (
        dictionary
        # cheap length pre-filter before the O(len²) edit distance
        .where(F.abs(F.length("token") - F.lit(len(term))) <= max_dist)
        .select("token", lev.alias("dist"))
        .where(F.col("dist") <= max_dist)
    )
    scored = postings
    if candidate_ids is not None:
        scored = scored.join(
            F.broadcast(candidate_ids.select(id_col)), id_col, "left_semi"
        )
    return (
        scored.join(F.broadcast(expansions), "token")
        .groupBy(id_col)
        .agg(
            F.sum(
                F.col("weight") * (F.lit(float(max_dist + 1)) - F.col("dist"))
            ).alias("score")
        )
        .orderBy(F.col("score").desc(), id_col)
        .limit(k)
    )


def prefix_suggest(
    postings: DataFrame,
    prefix: str,
    k: int = 10,
    id_col: str = "doc_id",
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Autocomplete suggester: the top-k vocabulary completions of
    `prefix` ranked by document frequency (then term). With a `vocab`
    (token, df) dictionary artifact: a range scan over it; else one
    pass over postings with a startswith filter, count-distinct docs
    per token (countDistinct == df on the (doc, token)-unique
    postings, so both paths return identical rows)."""
    if vocab is not None:
        return (
            vocab.where(F.col("token").startswith(prefix))
            .select("token", F.col("df").alias("doc_freq"))
            .orderBy(F.col("doc_freq").desc(), "token")
            .limit(k)
        )
    return (
        postings.where(F.col("token").startswith(prefix))
        .groupBy("token")
        .agg(F.countDistinct(id_col).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "token")
        .limit(k)
    )


def term_suggest(
    postings: DataFrame,
    term: str,
    max_dist: int = 2,
    k: int = 10,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Did-you-mean (OpenSearch term suggester): vocabulary terms
    within `max_dist` edits of `term`, ranked (distance ASC, doc-freq
    DESC, term ASC). The candidate scan is the VOCABULARY (one
    map-side-combined agg over postings, |V| ≪ corpus — pass the
    persisted (token, df) dictionary as `vocab` to skip the per-query
    agg, the ingest-artifact discipline of the BM25 stats tables);
    `levenshtein` is a JVM builtin, so the whole plan is one small agg
    + filter, no Python. The input term itself is excluded (suggest =
    corrections)."""
    if vocab is not None:
        vocab = vocab.select("token", F.col("df").alias("freq"))
    else:
        vocab = postings.groupBy("token").agg(
            F.countDistinct("doc_id").alias("freq")
        )
    dist = F.levenshtein(F.col("token"), F.lit(term))
    return (
        vocab.where((dist <= max_dist) & (F.col("token") != term))
        .select(
            F.col("token").alias("suggestion"),
            dist.cast("int").alias("dist"),
            F.col("freq").cast("long").alias("freq"),
        )
        .orderBy(F.col("dist").asc(), F.col("freq").desc(), "suggestion")
        .limit(k)
    )


def phrase_suggest(
    postings: DataFrame,
    bigrams: DataFrame,
    phrase: str,
    max_dist: int = 1,
    k: int = 5,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Did-you-mean over WHOLE phrases (OpenSearch phrase suggester):
    per-token candidate generation — vocabulary terms within
    ``max_dist`` edits sharing the first letter (prefix_length=1, the
    suggester default) — then add-1-smoothed bigram-LM rescoring of
    every candidate phrase:
    ``score = log P(c₀) + Σ log P(cᵢ | cᵢ₋₁)``.

    Plan shape: the vocabulary agg is an ingest artifact (|V| ≪
    corpus); each candidate set is a tiny filtered frame, so the
    phrase lattice is a chain of broadcast joins against the bigram
    table — the corpus is never rescanned at query time. ``bigrams``
    is the (w1, w2, cnt) adjacency table (same lifecycle as the
    postings/BM25 stats artifacts).
    """
    toks = [t for t in phrase.split() if t]
    # NOTE (r10): materializing this agg once (localCheckpoint) was
    # measured SLOWER than recomputing it per consumer — the postings
    # frame is an in-memory index artifact, so the three consumers'
    # re-aggs are cheaper than one serial materialization job. With a
    # persisted (token, df) dictionary (`vocab`), the agg disappears
    # from all three consumers outright.
    if vocab is not None:
        vocab = vocab.select("token", F.col("df").alias("freq"))
    else:
        vocab = postings.groupBy("token").agg(
            F.countDistinct("doc_id").alias("freq")
        )
    totals = vocab.agg(
        F.sum("freq").cast("double").alias("v_total"),
        F.count("*").cast("double").alias("v_size"),
    )
    cands = []
    for i, t in enumerate(toks):
        d = F.levenshtein(F.col("token"), F.lit(t))
        cands.append(
            vocab.where(
                (d <= max_dist) & (F.substring("token", 1, 1) == t[0])
            ).select(
                F.col("token").alias(f"c{i}"),
                F.col("freq").cast("double").alias(f"f{i}"),
            )
        )
    cur = cands[0].crossJoin(F.broadcast(totals))
    score = F.log((F.col("f0") + 1.0) / (F.col("v_total") + F.col("v_size")))
    cur = cur.withColumn("score", score)
    for i in range(1, len(toks)):
        bg = bigrams.select(
            F.col("w1").alias(f"c{i - 1}"),
            F.col("w2").alias(f"c{i}"),
            F.col("cnt").cast("double").alias(f"b{i}"),
        )
        cur = (
            cur.crossJoin(F.broadcast(cands[i]))
            .join(bg, [f"c{i - 1}", f"c{i}"], "left")
            .na.fill({f"b{i}": 0.0})
        )
        step = F.log(
            (F.col(f"b{i}") + 1.0) / (F.col(f"f{i - 1}") + F.col("v_size"))
        )
        cur = cur.withColumn("score", F.col("score") + step)
    suggestion = F.concat_ws(" ", *[F.col(f"c{i}") for i in range(len(toks))])
    return (
        cur.select(
            suggestion.alias("suggestion"),
            F.round(F.col("score"), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), "suggestion")
        .limit(k)
    )


def mlt_stats(postings: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(token, df, __n_docs): the document-frequency stats table
    more_like_this scores against — an ingest-time artifact (build
    once per corpus snapshot, persist, reuse across queries)."""
    n = postings.select(id_col).distinct().agg(
        F.count("*").cast("double").alias("__n_docs")
    )
    return (
        postings.groupBy("token")
        .agg(F.countDistinct(id_col).alias("df"))
        .crossJoin(F.broadcast(n))
    )


def more_like_this_topk(
    postings: DataFrame,
    like_doc_id: int,
    max_terms: int = 10,
    k: int = 10,
    id_col: str = "doc_id",
    candidate_ids: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """OpenSearch `more_like_this`: select the source doc's
    `max_terms` highest tf·idf terms, score every other doc by
    Σ tf·idf over that term set, top-k. `candidate_ids` restricts the
    SCORED docs (hybrid filter pushdown, P2); term selection and idf
    stay corpus-wide, like Lucene filtered queries.

    Plan shape: document frequencies come from one distinct-count agg
    over postings (an ingest-time stats table at scale, like the BM25
    frames); the corpus doc count is a 1-row aggregate cross-joined
    into the idf expression (the whole query stays ONE lazy plan — no
    eager driver action); the selected term set is ≤`max_terms` rows →
    broadcast joins the postings; one partial-agg groupBy(doc).
    Pass a persisted `mlt_stats` frame as `stats` so repeated queries
    skip the per-query df recount (ingest-time artifact reuse)."""
    dfs = stats if stats is not None else mlt_stats(postings, id_col)
    idf = F.log(F.col("__n_docs") / F.col("df"))
    src_terms = (
        postings.where(F.col(id_col) == like_doc_id)
        .join(dfs, "token")
        .select("token", (F.col("weight") * idf).alias("tfidf"), idf.alias("idf"))
        .orderBy(F.col("tfidf").desc(), "token")
        .limit(max_terms)
    )
    scored = postings.where(F.col(id_col) != like_doc_id)
    if candidate_ids is not None:
        scored = scored.join(
            F.broadcast(candidate_ids.select(id_col)), id_col, "left_semi"
        )
    return (
        scored.join(F.broadcast(src_terms), "token")
        .groupBy(id_col)
        .agg(F.sum(F.col("weight") * F.col("idf")).alias("score"))
        .orderBy(F.col("score").desc(), id_col)
        .limit(k)
    )


def span_near_topk(
    positional: DataFrame,
    index: BM25Index,
    term_a: str,
    term_b: str,
    slop: int = 0,
    in_order: bool = True,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """`span_near` for a term pair (Lucene SpanNearQuery semantics,
    the proximity generalization of match_phrase): tf = number of
    position pairs with gap ≤ slop — in_order requires b after a
    (1 ≤ pb−pa ≤ slop+1), unordered accepts either direction. BM25
    scoring with that proximity-tf, same shape as phrase_topk: two
    token-pruned positional scans, one doc_id equi-join, a pure array
    expression for the pair count."""
    pa = positional.where(F.col("token") == term_a).select(
        F.col(id_col), F.col("positions").alias("_pa")
    )
    pb = positional.where(F.col("token") == term_b).select(
        F.col(id_col), F.col("positions").alias("_pb")
    )
    joined = pa.join(pb, id_col)

    def pairs(p):
        if in_order:
            cond = lambda q: (q - p >= 1) & (q - p <= slop + 1)  # noqa: E731
        else:
            d = lambda q: F.abs(q - p)  # noqa: E731
            cond = lambda q: (d(q) >= 1) & (d(q) <= slop + 1)  # noqa: E731
        return F.size(F.filter(F.col("_pb"), cond))

    tf = F.aggregate(
        F.col("_pa"), F.lit(0), lambda acc, p: acc + pairs(p)
    ).cast("double")
    matched = joined.select(F.col(id_col), tf.alias("tf")).where(F.col("tf") > 0)
    return _bm25_from_tf(matched, index, k, id_col, k1, b, candidate_ids)


def more_like_this_text_topk(
    postings: DataFrame,
    like_text: str,
    max_terms: int = 10,
    k: int = 10,
    id_col: str = "doc_id",
    candidate_ids: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """`more_like_this` with artificial text (`like` given as a raw
    string instead of a stored doc id — the OpenSearch "like text"
    form): tf comes from the query text, idf from the corpus stats,
    term selection and scoring identical to the doc-id variant. No
    self-exclusion — every stored doc is a candidate."""
    from .retrieval import token_frame

    dfs = stats if stats is not None else mlt_stats(postings, id_col)
    tf: dict[str, float] = {}
    for t in (like_text or "").split():
        tf[t] = tf.get(t, 0.0) + 1.0
    if not tf:
        raise ValueError("more_like_this needs non-empty like text")
    qf = token_frame(postings.sparkSession, tf)  # (token, qw)
    idf = F.log(F.col("__n_docs") / F.col("df"))
    src_terms = (
        qf.join(dfs, "token")
        .select("token", (F.col("qw") * idf).alias("tfidf"), idf.alias("idf"))
        .orderBy(F.col("tfidf").desc(), "token")
        .limit(max_terms)
    )
    scored = postings
    if candidate_ids is not None:
        scored = scored.join(
            F.broadcast(candidate_ids.select(id_col)), id_col, "left_semi"
        )
    return (
        scored.join(F.broadcast(src_terms), "token")
        .groupBy(id_col)
        .agg(F.sum(F.col("weight") * F.col("idf")).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def _bm25_from_tf(
    matched: DataFrame,
    index: BM25Index,
    k: int,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """Shared BM25 tail for positional/span operators: given a
    (doc_id, tf) frame of matches, derive df from the match set and
    score with `term_score_sql` and the index's corpus stats. One 1-row
    df agg broadcast — no corpus rescan. `candidate_ids` (P2
    hybrid-filter pushdown, `query/HybridQueryBuilder.java:117-128`)
    restricts the RETURNED docs before top-k; df stays a corpus-level
    stat (Lucene scores with unfiltered IDF under filter clauses)."""
    n, avgdl = index.stats
    dfs = matched.agg(F.count("*").cast("double").alias("df"))
    scored = (
        matched.join(index.doclen, id_col)
        .crossJoin(F.broadcast(dfs))
        .select(F.col(id_col), F.expr(term_score_sql(n, avgdl, k1, b)).alias("score"))
    )
    if candidate_ids is not None:
        scored = scored.join(
            F.broadcast(candidate_ids.select(id_col)), id_col, "semi"
        )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def span_or_topk(
    positional: DataFrame,
    index: BM25Index,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """Lucene SpanOrQuery: the union of the clause spans — tf is the
    TOTAL number of positions any of the terms occupies, scored as one
    pseudo-term (Lucene scores the or-span with the combined
    frequency). One token-pruned scan, one doc_id agg."""
    tl = [t.lower() for t in terms]
    matched = (
        positional.where(F.col("token").isin(tl))
        .groupBy(id_col)
        .agg(F.sum(F.size("positions")).cast("double").alias("tf"))
    )
    return _bm25_from_tf(matched, index, k, id_col, candidate_ids=candidate_ids)


def span_first_topk(
    positional: DataFrame,
    index: BM25Index,
    term: str,
    end: int,
    k: int = 10,
    id_col: str = "doc_id",
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """Lucene SpanFirstQuery: matches of `term` whose position is
    before `end` — tf counts only the qualifying positions. A pure
    array filter on the positional postings (no text rescan)."""
    matched = (
        positional.where(F.col("token") == term.lower())
        .select(
            F.col(id_col),
            F.size(
                F.filter(F.col("positions"), lambda p: p < F.lit(int(end)))
            ).cast("double").alias("tf"),
        )
        .where(F.col("tf") > 0)
    )
    return _bm25_from_tf(matched, index, k, id_col, candidate_ids=candidate_ids)


def intervals_topk(
    positional: DataFrame,
    index: BM25Index,
    terms: list[str],
    max_gaps: int = 0,
    k: int = 10,
    id_col: str = "doc_id",
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """`intervals` query, ordered `match` rule: tf = number of
    first-term occurrences that start a GREEDY ordered chain through
    all terms with total gap ≤ max_gaps (each next term matched at its
    earliest position after the previous one — the minimal-interval
    canonicalization Lucene's interval iterators converge to for
    ordered sources). Divergence note: Lucene enumerates ALL minimal
    intervals; anchoring at first-term occurrences counts each
    distinct chain start once, which agrees on non-overlapping text
    and is deterministic on both engines.

    Plan: m token-pruned positional scans, (m-1)-way doc_id equi-join
    of already-tiny sides, then one nested array expression per doc —
    no UDF, no corpus shuffle (reference surface:
    `query/NeuralSparseQueryBuilder.java` delegates such clauses to
    Lucene's IntervalQuery; this is the join-algebra analogue)."""
    tl = [t.lower() for t in terms]
    if len(tl) < 2:
        raise ValueError("intervals needs at least two terms")
    joined = _term_side(positional, tl[0], 0, id_col)
    for j in range(1, len(tl)):
        joined = joined.join(_term_side(positional, tl[j], j, id_col), id_col)

    def _after(c):
        return lambda q: q > c

    def chain_end(p):
        # earliest strictly-increasing chain through _p1.._pn from p
        cur = p
        for j in range(1, len(tl)):
            cur = F.array_min(F.filter(F.col(f"_p{j}"), _after(cur)))
        return cur

    span_len = len(tl) - 1 + int(max_gaps)

    def ok(p):
        e = chain_end(p)
        return e.isNotNull() & (e - p <= F.lit(span_len))

    tf = F.size(F.filter(F.col("_p0"), ok)).cast("double")
    matched = joined.select(F.col(id_col), tf.alias("tf")).where(F.col("tf") > 0)
    return _bm25_from_tf(matched, index, k, id_col, candidate_ids=candidate_ids)


def span_not_topk(
    positional: DataFrame,
    index: BM25Index,
    include_term: str,
    exclude_term: str,
    pre: int = 0,
    post: int = 0,
    k: int = 10,
    id_col: str = "doc_id",
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """Lucene SpanNotQuery: occurrences of `include_term` that have NO
    `exclude_term` occurrence within [p−pre, p+post] — tf counts the
    surviving positions. Two token-pruned positional scans, LEFT join
    (docs without the exclude term keep every include position), one
    array filter. No corpus rescan at any scale."""
    inc = positional.where(F.col("token") == include_term.lower()).select(
        F.col(id_col), F.col("positions").alias("_pi")
    )
    exc = positional.where(F.col("token") == exclude_term.lower()).select(
        F.col(id_col), F.col("positions").alias("_pe")
    )
    joined = inc.join(exc, id_col, "left")
    pe = F.coalesce(F.col("_pe"), F.expr("CAST(array() AS ARRAY<INT>)"))
    lo, hi = int(pre), int(post)

    def survives(p):
        return ~F.exists(pe, lambda q: (q >= p - lo) & (q <= p + hi))

    tf = F.size(F.filter(F.col("_pi"), survives)).cast("double")
    matched = joined.select(F.col(id_col), tf.alias("tf")).where(F.col("tf") > 0)
    return _bm25_from_tf(matched, index, k, id_col, candidate_ids=candidate_ids)


def _big_little_joined(
    positional: DataFrame, big: tuple[str, str, int], little: str, id_col: str
) -> DataFrame:
    """Shared scan layout for span_containing / span_within: the big
    span is an ORDERED pair (a, b, slop) — qualifying spans are
    [pa, pb] with 1 ≤ pb−pa ≤ slop+1 — and the little span is a single
    term. Three token-pruned positional scans, doc_id equi-joins of
    already-tiny sides."""
    a, b, _ = big
    pa = positional.where(F.col("token") == a.lower()).select(
        F.col(id_col), F.col("positions").alias("_pa")
    )
    pb = positional.where(F.col("token") == b.lower()).select(
        F.col(id_col), F.col("positions").alias("_pb")
    )
    pc = positional.where(F.col("token") == little.lower()).select(
        F.col(id_col), F.col("positions").alias("_pc")
    )
    return pa.join(pb, id_col).join(pc, id_col)


def span_containing_topk(
    positional: DataFrame,
    index: BM25Index,
    big: tuple[str, str, int],
    little: str,
    k: int = 10,
    id_col: str = "doc_id",
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """Lucene SpanContainingQuery: big spans (ordered pair within
    slop) that CONTAIN a match of the little span — tf = number of
    qualifying (pa, pb) pairs with some little position in [pa, pb]."""
    slop = int(big[2])
    joined = _big_little_joined(positional, big, little, id_col)

    def pairs(pa):
        return F.size(
            F.filter(
                F.col("_pb"),
                lambda q: (q - pa >= 1)
                & (q - pa <= slop + 1)
                & F.exists(F.col("_pc"), lambda c: (c >= pa) & (c <= q)),
            )
        )

    tf = F.aggregate(F.col("_pa"), F.lit(0), lambda acc, p: acc + pairs(p)).cast(
        "double"
    )
    matched = joined.select(F.col(id_col), tf.alias("tf")).where(F.col("tf") > 0)
    return _bm25_from_tf(matched, index, k, id_col, candidate_ids=candidate_ids)


def span_within_topk(
    positional: DataFrame,
    index: BM25Index,
    big: tuple[str, str, int],
    little: str,
    k: int = 10,
    id_col: str = "doc_id",
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """Lucene SpanWithinQuery: matches of the little span that fall
    INSIDE some big span — tf = number of little positions c enclosed
    by a qualifying (pa, pb) pair (pa ≤ c ≤ pb)."""
    slop = int(big[2])
    joined = _big_little_joined(positional, big, little, id_col)

    def enclosed(c):
        return F.exists(
            F.col("_pa"),
            lambda pa: (pa <= c)
            & F.exists(
                F.col("_pb"),
                lambda q: (q - pa >= 1) & (q - pa <= slop + 1) & (q >= c),
            ),
        )

    tf = F.size(F.filter(F.col("_pc"), enclosed)).cast("double")
    matched = joined.select(F.col(id_col), tf.alias("tf")).where(F.col("tf") > 0)
    return _bm25_from_tf(matched, index, k, id_col, candidate_ids=candidate_ids)


def build_combined_fields(
    indexes: list[tuple[BM25Index, float]], id_col: str = "doc_id"
) -> BM25Index:
    """The index of `combined_fields` (BM25F-style unified statistics,
    which OpenSearch documents; unlike multi_match, term statistics are
    UNIFIED across fields, not per-field): a virtual field whose tf and
    doc lengths are the per-field values merged with the field weights,
    scored by `bm25_topk` like any other field. An ingest artifact:
    (N, avgdl) are collected here (one Spark job) and the scored
    postings are persisted; the owner unpersists `scored` when it
    drops the index."""
    tf_parts = [
        idx.postings.select(
            F.col(id_col), "token", (F.col("tf") * F.lit(w)).alias("tf")
        )
        for idx, w in indexes
    ]
    combined = tf_parts[0]
    for part in tf_parts[1:]:
        combined = combined.unionByName(part)
    tfc = combined.groupBy(id_col, "token").agg(F.sum("tf").alias("tf"))
    dl_parts = [
        idx.doclen.select(F.col(id_col), (F.col("dl") * F.lit(w)).alias("dl"))
        for idx, w in indexes
    ]
    dls = dl_parts[0]
    for part in dl_parts[1:]:
        dls = dls.unionByName(part)
    dlc = dls.groupBy(id_col).agg(F.sum("dl").alias("dl"))
    n, avgdl = dlc.agg(F.count("*"), F.avg("dl")).first()
    return BM25Index(
        postings=tfc, doclen=dlc, stats=(int(n), float(avgdl)),
        scored=scored_postings(tfc, dlc, id_col=id_col).persist(),
    )
