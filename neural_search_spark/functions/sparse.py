"""Sparse-vector (token→weight) expressions.

The reference stores sparse vectors as Lucene FeatureFields and scores
a query by a linear SHOULD-disjunction over intersecting tokens
(`query/NeuralSparseQueryBuilder.java:569-590`): score(doc) =
Σ_t q_w(t)·d_w(t).

Two representations, both first-class here:
- **map form** `map<string,double>` on the document row — right for
  per-doc transforms (pruning, quantization).
- **posting form** `(doc_id, token, weight)` exploded rows — right for
  scoring at scale: the query's few tokens broadcast-join against a
  token-bucketed postings table, so only matching postings are read
  (the Spark analogue of an inverted index).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = r"\s+"


def tokens(text_col: Column) -> Column:
    """Whitespace tokenizer → array<string> with empties removed.

    Stub analyzer standing in for the reference's Lucene `standard`
    analyzer path (`query/NeuralSparseQueryBuilder.java:509-552`).
    """
    return F.filter(F.split(text_col, TOKEN_SPLIT), lambda t: t != "")


def tf_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str | None = None,
) -> DataFrame:
    """Explode text into (id, token, weight=term-frequency) postings.

    TF weights are the deterministic stand-in for a learned sparse
    encoder (`processor/SparseEncodingProcessor.java:55-100`); weights
    are integral so downstream dot products are exact. `analyzer`
    (functions/analyzers.py registry) swaps the tokenizer — None keeps
    the whitespace default (R4's "analyzer with no payload" path,
    `query/NeuralSparseQueryBuilder.java:509-552`).
    """
    if analyzer is None:
        toks = tokens(F.col(text_col))
    else:
        from .analyzers import analyze

        toks = analyze(F.col(text_col), analyzer)
    return (
        df.select(id_col, F.explode(toks).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count("*").cast("double").alias("weight"))
    )


def tf_map(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Same encoding in map form: (id, sparse map<string,double>)."""
    return (
        tf_postings(df, id_col, text_col)
        .groupBy(id_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("token", "weight"))).alias("sparse"))
    )
