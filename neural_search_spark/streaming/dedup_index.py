"""Incremental near-duplicate gate for a live ingest stream.

The production question a 100 TB crawl pipeline asks per micro-batch
is "which of these NEW documents duplicate anything ingested SO FAR?"
— the batch MinHash-LSH job (operators/dedup.py) answers all-pairs
over a frozen corpus, but re-running it per batch is O(corpus) per
batch. This module maintains the LSH index incrementally, the same
continuously-maintained-artifact contract as
streaming/ingest.py::IncrementalPostingsIndex (the reference's
segment model, `sparse/codec/MergeHelper.java`) applied to dedup
state:

- per batch, the new docs' signatures + band keys are computed once;
- candidates = new-vs-INDEX band equi-join + new-vs-new self-join;
- verification uses the signature-agreement Jaccard estimator
  (operators/dedup.py::signature_jaccard) — the index stores only the
  H-component signature per doc (H×8 hex chars), never the shingle
  sets, so corpus state is O(docs), not O(tokens);
- the batch's bands/signatures then append to the index as their own
  `batch=<id>` parquet segment (idempotent overwrite — a replayed
  foreachBatch REPLACES its previous attempt, and the old-state reads
  EXCLUDE the replayed batch's own prior segment so a replay never
  joins a document against its previous attempt's rows).

All filesystem metadata operations (existence, segment listing,
deletion) go through the Hadoop FileSystem API resolved from the
configured base path, so the index state may live on any Spark-
supported filesystem (file://, hdfs://, s3a://) — never through
driver-local os.path calls.

Exact-duplicate collapse (`collapse=True`): a viral template repeated
m times within a batch would otherwise contribute m band rows per
band and m·H signature components, and — worse — the emitted PAIR set
itself is quadratic in m even though every join is bucketed. With
collapse on, verbatim duplicates are collapsed to one representative
per md5(text) BEFORE shingling (operators/dedup.py::exact_dedup's
keeper rule: min id), a `members` segment records (doc_id → rep_id),
and LSH state/pairs are maintained over representatives only — pair
output is linear in DISTINCT documents. Cross-batch verbatim
duplicates of an already-indexed representative are caught by content
hash (an equi-join against the stored rep hashes) and recorded as
members, not re-shingled. The survivor set is unchanged: identical
texts have identical signatures, so the uncollapsed pipeline always
links them at sig_sim 1.0 into the same component their representative
occupies (tests/test_streaming_dedup_index.py pins both equivalences).

Equivalence contract: after any prefix of batches, the union of
emitted pairs equals operators/dedup.py::minhash_lsh_dedup_sig over
the union of documents — every pair (a, b) is either within one batch
(caught by the self-join) or across batches (caught by the
new-vs-index join when the later doc arrives). The estimator and the
band scheme are shared code, so the equality is exact, not
approximate (tests/test_streaming_dedup_index.py). With collapse on,
the same contract holds over DISTINCT texts' representatives, and
(pairs ∪ member edges) spans the same connected components.

Concurrency note: `compact()` is safe to run next to a live stream —
it snapshots the segment list first, writes the compacted segment
alongside, and deletes ONLY the snapshotted segments, so a batch
segment that lands mid-compaction survives, and a crash at any point
leaves at worst duplicate band rows (harmless: candidate generation
is distinct-ed), never lost state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import dedup as DD


def _fs_and_path(spark: SparkSession, path_str: str):
    """(Hadoop FileSystem, Path) for `path_str` — filesystem-agnostic
    metadata ops (file://, hdfs://, s3a://)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def _segment_names(spark: SparkSession, dir_str: str) -> list[str]:
    """Names of `batch=*` child directories, [] if the dir is absent."""
    fs, path = _fs_and_path(spark, dir_str)
    if not fs.exists(path):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(path)
        if st.isDirectory() and st.getPath().getName().startswith("batch=")
    )


# -- merged-batch manifests --------------------------------------------------
# Compaction breaks the `batch=<id>` overwrite idempotency key for
# NON-distinct-able state (postings tf rows, vector segments): once
# compact() has merged batch=5 into batch=c0 and deleted it, a
# foreachBatch replay of batch 5 (crash before checkpoint commit)
# re-appends the rows BESIDE their compacted copy — persistent
# double-counted tf / duplicate vec_ids (ADVICE r9). The fix is a tiny
# manifest inside each compacted segment recording every RAW batch id
# it supersedes (cumulative across compaction generations); readers and
# the next compaction exclude any raw `batch=<id>` segment whose id
# appears in a live manifest, so a replayed leftover is inert garbage,
# not state. The underscore-prefixed filename is invisible to Spark's
# parquet reader (same class as _SUCCESS), and all I/O goes through the
# Hadoop FS API (file:// hdfs:// s3a://).

_MANIFEST_NAME = "_merged_batches.json"


def _write_merged_manifest(
    spark: SparkSession, seg_dir: str, batch_ids: list[int]
) -> None:
    import json

    fs, path = _fs_and_path(spark, seg_dir.rstrip("/") + "/" + _MANIFEST_NAME)
    out = fs.create(path, True)
    try:
        out.write(bytearray(json.dumps(sorted(set(batch_ids))).encode("utf-8")))
    finally:
        out.close()


def _read_merged_manifest(spark: SparkSession, seg_dir: str) -> list[int]:
    import json

    fs, path = _fs_and_path(spark, seg_dir.rstrip("/") + "/" + _MANIFEST_NAME)
    if not fs.exists(path):
        return []
    stream = fs.open(path)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return [int(x) for x in json.loads(text)]


def _live_segments(spark: SparkSession, dir_str: str) -> tuple[list[str], set[int]]:
    """(live segment names, superseded raw batch ids): every `batch=*`
    child minus raw segments whose numeric id appears in some compacted
    segment's merged-batches manifest (replayed-after-compaction
    leftovers — their rows already live in the compacted copy)."""
    names = _segment_names(spark, dir_str)
    merged: set[int] = set()
    for s in names:
        if s.startswith("batch=c"):
            merged.update(_read_merged_manifest(spark, f"{dir_str}/{s}"))
    live = [
        s
        for s in names
        if not (
            (sid := s[len("batch="):]).isdigit() and int(sid) in merged
        )
    ]
    return live, merged


class IncrementalLSHDedupIndex:
    """Streaming MinHash-LSH dedup index.

    Layout on disk (append-only parquet segments):
      base_dir/sigs/batch=<id>/    (doc_id, h0..h{H-1}, content_hash)
      base_dir/bands/batch=<id>/   (doc_id, band_idx, band_hash)
      base_dir/pairs/batch=<id>/   (a, b, sig_sim)  — the verdicts
      base_dir/members/batch=<id>/ (doc_id, rep_id) — collapse=True only

    At cluster scale the bands segments are the hot join side: they
    are tiny rows (id + 2 small keys) hash-partitioned by the band
    key at read time by the equi-join itself, so each micro-batch's
    probe cost is ~|batch| × n_bands lookups, independent of corpus
    size. A periodic compact() (same role as the postings index's)
    re-buckets the accumulated segments by band_hash so the join
    reads only matching buckets.
    """

    def __init__(
        self,
        base_dir: str,
        shingle_n: int = 3,
        num_hashes: int = DD.NUM_MINHASHES,
        band_size: int = DD.BAND_SIZE,
        threshold: float = 0.5,
        collapse: bool = False,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.base = str(base_dir).rstrip("/")
        self.sigs_dir = self.base + "/sigs"
        self.bands_dir = self.base + "/bands"
        self.pairs_dir = self.base + "/pairs"
        self.members_dir = self.base + "/members"
        self.shingle_n = shingle_n
        self.num_hashes = num_hashes
        self.band_size = band_size
        self.threshold = threshold
        self.collapse = collapse
        self.id_col = id_col
        self.text_col = text_col

    # -- segment reads -------------------------------------------------------
    def _read_old(self, spark: SparkSession, dir_str: str, batch_id: int) -> DataFrame | None:
        """Read every segment EXCEPT the current batch's own (a replay
        must not see its previous attempt). Returns None when no prior
        state exists. The batch partition column is compared as a
        string because compact() writes non-numeric segment names
        (`batch=c0`), which flip Spark's inferred partition type to
        string — an int comparison would null out and silently drop
        the compacted segment."""
        if not _segment_names(spark, dir_str):
            return None
        df = spark.read.parquet(dir_str)
        return df.where(
            F.col("batch").cast("string") != F.lit(str(batch_id))
        ).drop("batch")

    def _read_old_sigs(self, spark: SparkSession, batch_id: int) -> DataFrame | None:
        """`_read_old` over the sigs dir, schema-normalized across index
        format versions: sigs segments written before the collapse
        feature carry no `content_hash` column, and Spark's parquet
        schema merge surfaces them as nulls ONLY when some segment has
        the column — an all-old index would omit it entirely and the
        collapse-mode `unionByName`/rep-lookup would throw
        AnalysisException (ADVICE r9). Normalize to a nullable string
        column here; a null hash never equi-joins, so pre-existing rows
        simply cannot host cross-batch verbatim collapse (their docs
        were indexed before the feature existed — correct behavior, no
        rebuild required)."""
        df = self._read_old(spark, self.sigs_dir, batch_id)
        if df is not None and "content_hash" not in df.columns:
            df = df.withColumn("content_hash", F.lit(None).cast("string"))
        return df

    # -- writer side --------------------------------------------------------
    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Gate one micro-batch and grow the index. Runs inside
        foreachBatch, where `batch` is a plain DataFrame — the
        new-vs-index join is an ordinary batch equi-join against the
        parquet state, no stream-stream join state."""
        spark = batch.sparkSession
        id_col, text_col = self.id_col, self.text_col

        hashed = batch.select(
            F.col(id_col), F.col(text_col),
            F.md5(F.col(text_col)).alias("content_hash"),
        )
        members = None
        if self.collapse:
            # within-batch verbatim collapse: keeper = min id per hash
            reps_in_batch = hashed.groupBy("content_hash").agg(
                F.min(id_col).alias("__rep")
            )
            hashed = hashed.join(reps_in_batch, "content_hash")
            old_sigs_all = self._read_old_sigs(spark, batch_id)
            if old_sigs_all is not None:
                # cross-batch verbatim collapse: a doc whose hash is
                # already represented in the index becomes a member of
                # the EXISTING representative and is not re-shingled
                # (null hashes — pre-collapse-format rows — can't host)
                idx_reps = (
                    old_sigs_all.where(F.col("content_hash").isNotNull())
                    .groupBy("content_hash")
                    .agg(F.min(id_col).alias("__idx_rep"))
                )
                hashed = hashed.join(idx_reps, "content_hash", "left").withColumn(
                    "__rep", F.coalesce("__idx_rep", "__rep")
                ).drop("__idx_rep")
            members = hashed.where(F.col(id_col) != F.col("__rep")).select(
                F.col(id_col), F.col("__rep").alias("rep_id")
            )
            new_docs = hashed.where(F.col(id_col) == F.col("__rep")).select(
                id_col, text_col, "content_hash"
            )
        else:
            new_docs = hashed

        sigs = (
            DD.minhash_signatures(
                new_docs, self.shingle_n, self.num_hashes, id_col, text_col
            )
            .join(new_docs.select(id_col, "content_hash"), id_col)
            .persist()
        )
        bands = DD.band_frame(sigs, self.num_hashes, self.band_size, id_col)

        # new-vs-new (within the batch)
        self_pairs = DD.lsh_candidate_pairs(
            sigs, self.num_hashes, self.band_size, id_col
        )
        # new-vs-index (across batches): any band collision, oriented
        # a < b so cross and self pairs share the dedup key
        old_bands = self._read_old(spark, self.bands_dir, batch_id)
        if old_bands is not None:
            cross = (
                bands.alias("n")
                .join(
                    old_bands.alias("o"),
                    (F.col("n.band_idx") == F.col("o.band_idx"))
                    & (F.col("n.band_hash") == F.col("o.band_hash"))
                    & (F.col(f"n.{id_col}") != F.col(f"o.{id_col}")),
                )
                .select(
                    F.least(f"n.{id_col}", f"o.{id_col}").alias("a"),
                    F.greatest(f"n.{id_col}", f"o.{id_col}").alias("b"),
                )
                .distinct()
            )
            old_sigs = self._read_old_sigs(spark, batch_id)
            all_sigs = old_sigs.unionByName(sigs)
            cands = self_pairs.unionByName(cross).distinct()
        else:
            all_sigs = sigs
            cands = self_pairs

        pairs = DD.signature_jaccard(
            cands, all_sigs.drop("content_hash").withColumnRenamed(id_col, "doc_id"),
            self.num_hashes,
        ).where(F.col("sig_sim") >= self.threshold)
        pairs.write.mode("overwrite").parquet(f"{self.pairs_dir}/batch={batch_id}")
        sigs.write.mode("overwrite").parquet(f"{self.sigs_dir}/batch={batch_id}")
        bands.write.mode("overwrite").parquet(f"{self.bands_dir}/batch={batch_id}")
        if members is not None:
            members.write.mode("overwrite").parquet(
                f"{self.members_dir}/batch={batch_id}"
            )
        sigs.unpersist()

    def attach(self, stream: DataFrame, checkpoint: str) -> StreamingQuery:
        return (
            stream.writeStream.foreachBatch(self.apply_batch)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .start()
        )

    # -- reader side ----------------------------------------------------------
    def pairs(self, spark: SparkSession) -> DataFrame:
        """All near-dup verdicts so far: (a, b, sig_sim), a < b,
        distinct across segments (a replayed batch overwrites its own
        segment, and cross/self pairs never coincide, so segments are
        disjoint by construction — the distinct is a safety net)."""
        return spark.read.parquet(self.pairs_dir).drop("batch").distinct()

    def members(self, spark: SparkSession) -> DataFrame:
        """(doc_id, rep_id) verbatim-duplicate membership (collapse
        mode): every non-representative doc and the representative
        that carries its LSH state."""
        if not _segment_names(spark, self.members_dir):
            return spark.createDataFrame(
                [], f"{self.id_col} long, rep_id long"
            )
        return spark.read.parquet(self.members_dir).drop("batch").distinct()

    def doc_ids_seen(self, spark: SparkSession) -> DataFrame:
        reps = spark.read.parquet(self.sigs_dir).drop("batch").select(self.id_col)
        if not self.collapse:
            return reps
        return reps.unionByName(
            self.members(spark).select(F.col(self.id_col))
        ).distinct()

    # -- maintenance ----------------------------------------------------------
    def compact(self, spark: SparkSession) -> None:
        """Re-bucket the accumulated band segments by band_hash (the
        join key) so the per-batch probe join reads co-located
        buckets — the dedup-state analogue of the postings index's
        segment merge.

        Safe next to a live stream: the segment list is SNAPSHOTTED
        first, the compacted segment is written ALONGSIDE under a
        fresh `batch=c<n>` name, and only the snapshotted segments are
        deleted — a segment written mid-compaction survives, and a
        crash between the write and the deletes leaves duplicate band
        rows, which candidate generation distinct-s away."""
        snapshot = _segment_names(spark, self.bands_dir)
        if not snapshot:
            return
        # fresh compacted-segment name: one past the highest existing c<n>
        c_nums = [
            int(s[len("batch=c"):])
            for s in snapshot
            if s.startswith("batch=c") and s[len("batch=c"):].isdigit()
        ]
        out_name = f"batch=c{max(c_nums) + 1 if c_nums else 0}"
        merged = spark.read.parquet(
            *[f"{self.bands_dir}/{s}" for s in snapshot]
        )
        merged.repartition("band_hash").write.mode("overwrite").parquet(
            f"{self.bands_dir}/{out_name}"
        )
        fs, _ = _fs_and_path(spark, self.bands_dir)
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path
        for s in snapshot:
            fs.delete(jvm_path(f"{self.bands_dir}/{s}"), True)
