"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode / feature-extract / resize / frame-sample as
Arrow-batched pandas functions over `mapInPandas`.

Two decoders share one pipeline shape:
- `stub` — deterministic md5-derived dims (kept because its output is
  trivially SQL-oracle-able on arbitrary bytes);
- `real` — actual container parsing via `functions/media_codecs.py`
  (pure stdlib zlib/struct + numpy): PNG/GIF/BMP/JPEG header dims,
  full PNG pixel decode (all 5 row filters), 8-bit BMP decode, 16-bit
  PCM WAV decode. No PIL/ffmpeg needed.

The reference passes media bytes opaquely to an external model
(`processor/TextImageEmbeddingProcessor.java:53-54,174`); the decode
kernels here are the training-data-pipeline extension on top of that
surface.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import media_codecs as MC

MEDIA_SCHEMA = (
    "doc_id long, byte_len long, content_md5 string, width int, height int"
)


def _fake_decode_meta(payload: bytes) -> tuple[int, int]:
    """STUB decoder: derives a deterministic (width, height) from the
    content hash — used when payloads are arbitrary bytes (no real
    container format to parse)."""
    h = hashlib.md5(payload).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192


def real_decode_meta(payload: bytes) -> tuple[int, int]:
    """REAL decoder: sniff the container format and read (width,
    height) from its header — PNG IHDR, GIF logical screen, BMP
    BITMAPINFOHEADER, JPEG SOFn (media_codecs.parse_dims). Raises on
    payloads that aren't a recognized image container."""
    dims = MC.parse_dims(payload)
    if dims is None:
        raise ValueError(
            f"payload is not a recognized image container "
            f"(sniffed {MC.sniff_format(payload)!r})"
        )
    return dims


def decode_media_batch(
    media: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    decoder: str = "stub",
) -> DataFrame:
    """mapInPandas over Arrow batches: binary → (byte_len, md5, w, h).

    `decoder="real"` parses actual image headers; `"stub"` derives
    dims from the content hash (for format-less byte payloads).

    Partition-parallel, constant memory per batch — the shape a real
    100 TB media decode job needs (each task decodes its partition's
    blobs; no driver involvement, no collect)."""
    meta = {"stub": _fake_decode_meta, "real": real_decode_meta}[decoder]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[bin_col]
            dims = [meta(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "byte_len": payloads.map(len),
                    "content_md5": payloads.map(lambda p: hashlib.md5(bytes(p)).hexdigest()),
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                }
            )

    return media.mapInPandas(decode, MEDIA_SCHEMA)


IMAGE_STATS_SCHEMA = (
    "doc_id long, fmt string, width int, height int, "
    "n_px long, sum_px long, min_px int, max_px int"
)


def image_stats_batch(
    media: DataFrame, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """REAL pixel decode + integer-exact stats per image: PNG (full
    filter reversal) and 8-bit BMP payloads → (n_px, sum_px, min_px,
    max_px). Integer stats are chosen deliberately: a SQL oracle can
    reproduce them exactly from a deterministic generating formula,
    giving the decode path a hash-matched correctness gate."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(p)
                fmt = MC.sniff_format(b)
                arr = MC.decode_png(b) if fmt == "png" else MC.decode_bmp(b)
                h, w = arr.shape[:2]
                n, s, mn, mx = MC.image_stats(arr)
                rows.append((did, fmt, w, h, n, s, mn, mx))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "fmt", "width", "height",
                    "n_px", "sum_px", "min_px", "max_px",
                ],
            )

    return media.mapInPandas(stats, IMAGE_STATS_SCHEMA)


def resize_images_batch(
    media: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "doc_id",
    bin_col: str = "payload",
) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode PNG, the thumbnail
    normalization stage of an image curation pipeline. Binary in,
    binary out: composes with `image_stats_batch`/`decode_media_batch`
    downstream without leaving the executors."""

    def rs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did, p in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(p)
                fmt = MC.sniff_format(b)
                arr = MC.decode_png(b) if fmt == "png" else MC.decode_bmp(b)
                out.append((did, MC.encode_png(MC.resize_nearest(arr, out_w, out_h))))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return media.mapInPandas(rs, "doc_id long, payload binary")


def image_embedding_batch(
    media: DataFrame,
    side: int = 8,
    id_col: str = "doc_id",
    bin_col: str = "payload",
) -> DataFrame:
    """Perceptual image embedding: decode → grayscale → nearest-
    neighbor downsample to side×side → row-major float vector,
    L1-normalized shift to zero mean (the aHash family's feature,
    kept continuous instead of thresholded to bits).

    Output (doc_id, embedding array<double>) plugs straight into the
    engine's dense stack — `dedup.embedding_neardup`, `ann.lsh_*`,
    `retrieval.dense_topk` — giving VISUAL near-dup/search through the
    exact same operators as text embeddings."""

    def emb(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(p)
                fmt = MC.sniff_format(b)
                arr = MC.decode_png(b) if fmt == "png" else MC.decode_bmp(b)
                if arr.ndim == 3:  # luminance: plain channel mean
                    arr = arr.mean(axis=2)
                small = MC.resize_nearest(arr.astype(np.float64), side, side)
                v = small.reshape(-1)
                v = v - v.mean()
                rows.append((did, [float(x) for x in v]))
            yield pd.DataFrame(rows, columns=["doc_id", "embedding"])

    return media.mapInPandas(emb, "doc_id long, embedding array<double>")


def audio_embedding_batch(
    media: DataFrame,
    bands: int = 16,
    id_col: str = "doc_id",
    bin_col: str = "payload",
) -> DataFrame:
    """Audio embedding: decode WAV → RMS energy envelope over `bands`
    equal time segments (segment of sample i = (i·bands)//n). Integer
    squares sum exactly in doubles, so the envelope — like the visual
    embedding — is engine-exact and SQL-oracle-able, and plugs into
    the same dense stack for audio similarity / near-dup."""

    def emb(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf[id_col], pdf[bin_col]):
                _rate, s = MC.decode_wav(bytes(p))
                n = len(s)
                seg = (np.arange(n, dtype=np.int64) * bands) // n
                sq = s.astype(np.float64) ** 2
                sums = np.bincount(seg, weights=sq, minlength=bands)
                counts = np.bincount(seg, minlength=bands)
                env = np.sqrt(sums / np.maximum(counts, 1))
                rows.append((did, [float(x) for x in env]))
            yield pd.DataFrame(rows, columns=["doc_id", "embedding"])

    return media.mapInPandas(emb, "doc_id long, embedding array<double>")


AUDIO_SCHEMA = (
    "doc_id long, sample_rate int, n_samples long, sum_abs long, zero_crossings long"
)


def audio_stats_batch(
    media: DataFrame, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """REAL WAV decode (RIFF chunk walk, 16-bit PCM) → integer-exact
    per-clip stats: sample count, total |amplitude|, zero crossings."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf[id_col], pdf[bin_col]):
                rate, samples = MC.decode_wav(bytes(p))
                n, sa, zc = MC.audio_stats(samples)
                rows.append((did, rate, n, sa, zc))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "sample_rate", "n_samples", "sum_abs", "zero_crossings"],
            )

    return media.mapInPandas(stats, AUDIO_SCHEMA)


# -- deterministic synthetic media (real containers, formula pixels) -------
# Width/height/pixels are pure functions of doc_id, so a DuckDB oracle
# can verify the REAL decode output without being able to decode PNG
# itself: Spark decodes actual bytes; the oracle recomputes the same
# integers from the formula.


def synth_png_dims(doc_id: int) -> tuple[int, int]:
    return 4 + doc_id % 13, 3 + doc_id % 7


def _synth_pixels(doc_id: int) -> np.ndarray:
    w, h = synth_png_dims(doc_id)
    i = np.arange(w * h, dtype=np.int64)
    return ((doc_id * 7 + i * 3) % 256).astype(np.uint8).reshape(h, w)


def synth_png_payload(doc_id: int) -> bytes:
    return MC.encode_png(_synth_pixels(doc_id))


def synth_image_payload(doc_id: int) -> bytes:
    """Format-routed synthetic image: png / bmp pixels by doc_id % 2
    (both fully decodable), exercising the sniffer + both decoders."""
    if doc_id % 2 == 0:
        return synth_png_payload(doc_id)
    return MC.encode_bmp(_synth_pixels(doc_id))


def synth_header_payload(doc_id: int) -> bytes:
    """Dims-only fixtures across all four image containers
    (png/gif/bmp/jpeg by doc_id % 4)."""
    w, h = synth_png_dims(doc_id)
    m = doc_id % 4
    if m == 0:
        return synth_png_payload(doc_id)
    if m == 1:
        return MC.encode_gif_header(w, h)
    if m == 2:
        return MC.encode_bmp(np.zeros((h, w), dtype=np.uint8))
    return MC.encode_jpeg_header(w, h)


def synth_wav_samples(doc_id: int) -> np.ndarray:
    n = 64 + doc_id % 50
    i = np.arange(n, dtype=np.int64)
    return ((doc_id * 13 + i * 5) % 4096 - 2048).astype(np.int16)


def synth_wav_payload(doc_id: int) -> bytes:
    return MC.encode_wav(synth_wav_samples(doc_id), sample_rate=8000)


def synth_image_payload_grouped(doc_id: int, base_mod: int) -> bytes:
    """Near-dup image fixture: the pixel pattern AND dims are keyed by
    doc_id % base_mod (the shared 'template'), plus a per-replica
    constant brightness shift ((doc_id // base_mod) % 3) that wraps
    mod 256 — replicas are byte-identical nowhere (different container
    bytes, shifted pixels) but perceptually near-identical: aHash is
    exactly invariant to a constant shift except at the wraparound
    cells. Same png/bmp container routing as synth_image_payload."""
    base = doc_id % base_mod
    w, h = synth_png_dims(base)
    i = np.arange(w * h, dtype=np.int64)
    px = (
        ((base * 7 + i * 3 + (doc_id // base_mod) % 3) % 256)
        .astype(np.uint8)
        .reshape(h, w)
    )
    return MC.encode_png(px) if doc_id % 2 == 0 else MC.encode_bmp(px)


def phash64_batch(
    media: DataFrame,
    side: int = 8,
    id_col: str = "doc_id",
    bin_col: str = "payload",
) -> DataFrame:
    """Perceptual average-hash over REAL decoded pixels: decode →
    nearest-neighbor side×side downsample → bit j = 1 iff
    px_j · side² ≥ Σpx (integer-exact; no float mean) → 64-char
    '0'/'1' string in row-major order. Emitted as `simhash` so
    dedup.simhash_neardup_pairs' pigeonhole banding + Hamming verify
    applies unchanged — the image half of the near-dup family rides
    the text half's pair machinery."""

    def ph(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n2 = side * side
        for pdf in batches:
            if not len(pdf):
                continue
            # decode is per-payload (variable dims); everything after
            # the downsample is one (batch × 64) numpy pass — sums,
            # threshold bits, and '0'/'1' bytes rendered batch-wide
            T = np.empty((len(pdf), n2), dtype=np.int64)
            for i, p in enumerate(pdf[bin_col]):
                b = bytes(p)
                fmt = MC.sniff_format(b)
                arr = MC.decode_png(b) if fmt == "png" else MC.decode_bmp(b)
                if arr.ndim == 3:  # luminance plane (fixtures are ch=1)
                    arr = arr[:, :, 0]
                T[i] = MC.resize_nearest(arr, side, side).reshape(-1)
            s = T.sum(axis=1, keepdims=True)
            chars = np.where(T * n2 >= s, 49, 48).astype(np.uint8)  # '1'/'0'
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "simhash": [bytes(r).decode("ascii") for r in chars],
                }
            )

    return media.mapInPandas(ph, f"{id_col} long, simhash string")


def synth_wav_payload_grouped(doc_id: int, base_mod: int) -> bytes:
    """Near-dup audio fixture, the WAV analogue of
    synth_image_payload_grouped: the PCM pattern AND clip length are
    keyed by doc_id % base_mod, plus a small per-replica DC offset
    ((doc_id // base_mod) % 3 · 8) applied INSIDE the mod-4096 wrap —
    replicas share the waveform shape but no byte content."""
    base = doc_id % base_mod
    n = 64 + base % 50
    i = np.arange(n, dtype=np.int64)
    p = (doc_id // base_mod) % 3 * 8
    samples = ((base * 13 + i * 5 + p) % 4096 - 2048).astype(np.int16)
    return MC.encode_wav(samples, sample_rate=8000)


def audio_fp64_batch(
    media: DataFrame,
    n_windows: int = 64,
    id_col: str = "doc_id",
    bin_col: str = "payload",
) -> DataFrame:
    """Audio fingerprint over REAL decoded PCM: decode WAV → assign
    sample i of an n-sample clip to window i·W // n → bit w = 1 iff
    (window sum)·W ≥ clip sum (integer-exact — the average-hash
    algebra applied to signed PCM energy) → 64-char '0'/'1' string
    emitted as `simhash`, so dedup.simhash_neardup_pairs' banding +
    Hamming verify applies unchanged (same shape as phash64_batch)."""

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            # per-clip: one cumsum + boundary-difference window fold
            # (window w spans samples [ceil(w·n/W), ceil((w+1)·n/W)) —
            # the inverse of i·W//n == w); per-batch: one numpy pass
            # renders all threshold bits and '0'/'1' bytes
            S = np.empty((len(pdf), n_windows), dtype=np.int64)
            totals = np.empty((len(pdf), 1), dtype=np.int64)
            wr = np.arange(n_windows + 1, dtype=np.int64)
            for i, p in enumerate(pdf[bin_col]):
                _rate, samples = MC.decode_wav(bytes(p))
                cs = np.concatenate(
                    ([0], samples.astype(np.int64).cumsum())
                )
                n = len(samples)
                edges = -(-wr * n // n_windows)  # ceil(w·n/W)
                S[i] = cs[edges[1:]] - cs[edges[:-1]]
                totals[i] = cs[-1]
            chars = np.where(S * n_windows >= totals, 49, 48).astype(np.uint8)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "simhash": [bytes(r).decode("ascii") for r in chars],
                }
            )

    return media.mapInPandas(fp, f"{id_col} long, simhash string")


def synthetic_media_table(
    docs: DataFrame, kind: str = "image", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, payload) with REAL container bytes generated
    per-partition (mapInPandas — no driver materialization, same scale
    shape as reading a binary column off parquet)."""
    if kind.startswith("image_grouped:"):
        # "image_grouped:<base_mod>" — near-dup fixture groups
        _m = int(kind.split(":", 1)[1])
        gen = lambda d: synth_image_payload_grouped(d, _m)  # noqa: E731
    elif kind.startswith("wav_grouped:"):
        _m = int(kind.split(":", 1)[1])
        gen = lambda d: synth_wav_payload_grouped(d, _m)  # noqa: E731
    else:
        gen = {
            "image": synth_image_payload,
            "header": synth_header_payload,
            "wav": synth_wav_payload,
        }[kind]

    def g(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf[id_col], "payload": [gen(int(d)) for d in pdf[id_col]]}
            )

    return docs.select(id_col).mapInPandas(g, "doc_id long, payload binary")


def media_table_from_text(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build a synthetic media table: utf-8 bytes of the text as the
    opaque payload (the test container has no real media files)."""
    return docs.select(F.col(id_col), F.encode(F.col(text_col), "utf-8").alias("payload"))


def frame_sample(
    media: DataFrame,
    n_frames: int = 4,
    id_col: str = "doc_id",
    bin_col: str = "payload",
) -> DataFrame:
    """Frame-sampling plumbing: emit n 'frames' per payload (byte-range
    slices as stand-ins for decoded video frames), exploded one row per
    frame — the partition/row shape of a real frame extractor."""
    idx = F.sequence(F.lit(0), F.lit(n_frames - 1))
    return media.select(
        F.col(id_col),
        F.explode(idx).alias("frame_idx"),
        F.expr(
            f"substring({bin_col}, cast(frame_idx * octet_length({bin_col}) / {n_frames} as int) + 1, 16)"
        ).alias("frame_bytes"),
    )
