"""Catalog: table loading + the "index" abstraction.

The reference's *index* (named doc collection + mapping) maps to a
Parquet/Delta table plus a small mapping dict (SURVEY.md §1.1). Here the
catalog loads the driver-generated parquet tables and exposes the
joined document+embedding corpus used by retrieval operators.

Scale note: at 100 TB the text corpus and its embeddings live in ONE
table (embeddings are materialized ingest output — reference
`processor/InferenceProcessor.java:140-166` writes vectors into the doc
source). The sf* test data ships them as two tables keyed by the same
id, so `corpus()` joins them once; downstream operators see a single
DataFrame and Catalyst prunes whichever columns a query doesn't touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import artifacts

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Lazy-relation reuse (r11, guide §7.3 driver-side work): every
# `spark.read.parquet` call costs ~130-175 ms of driver work PLUS one
# Spark job (parquet footer/schema inference) — measured on this box —
# and queries construct 1-4 table reads per invocation, so re-reading
# per call was the single largest driver-side cost in the bench. The
# artifact store holds the LAZY DataFrame (a plan node, the
# catalog/metastore analogue): every action still recomputes from the
# parquet files. A restarted session or an in-place regenerated table
# misses and re-reads (artifacts.py).
def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    def build() -> DataFrame:
        if name == "events":
            return _events_table(spark, sf_dir)
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    return artifacts.lookup(spark, sf_dir, "catalog.table", (name,), build)


def _events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet `ts` arrives either as TIMESTAMP(NANOS) (older
    generators — Spark rejects it unless read as long) or as plain
    micros (which Spark 4 infers as TIMESTAMP_NTZ). Normalize both to
    a session-UTC TIMESTAMP so epoch arithmetic (`cast double`,
    `unix_timestamp`) and calendar functions behave identically to the
    DuckDB oracle."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # read micros timestamps as TIMESTAMP (LTZ), not TIMESTAMP_NTZ:
    # NTZ forbids the cast-to-double epoch idiom used by temporal ops
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ⋈ embeddings on doc_id == vec_id → one retrieval corpus.

    Columns: doc_id, text, lang, source, n_chars, embedding, label.
    1-1 join on the id; at scale this is a co-partitioned (bucketed)
    join or, in the real layout, no join at all (single table).
    """
    docs = table(spark, sf_dir, "documents")
    embs = table(spark, sf_dir, "embeddings").withColumnRenamed("vec_id", "doc_id")
    return docs.join(embs, "doc_id")


def query_vector(spark: SparkSession, sf_dir: str, vec_id: int) -> list[float]:
    """Fetch one stored embedding to use as a query vector.

    Mirrors the reference's inference hoisting: the query embedding is
    computed ONCE on the driver before plan construction
    (`query/NeuralQueryBuilder.java:887-932` registers async inference at
    coordinator rewrite — in Spark this is an eager driver-side lookup),
    then enters the plan as a literal so executors never recompute it.
    """
    row = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == vec_id)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row[0]]


def query_text(spark: SparkSession, sf_dir: str, doc_id: int) -> str:
    row = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") == doc_id)
        .select("text")
        .first()
    )
    return row[0]
