"""Multimodal columns: image/audio/video as opaque ``binary`` columns with
typed metadata, processed via Arrow-batched ``mapInPandas`` (driver north
star; the reference's closest analog is its image-upload pipeline,
reference src/routes/ads.ts:12-51 — multer binary intake + extension
allow-list + path metadata).

Codec status: PNG decodes for REAL via the stdlib decoder in
``multimodal/png.py`` (zlib inflate + scanline unfilter; dims, channels,
and a luminance-histogram feature vector come from actual pixels), and so
do baseline JPEG (``multimodal/jpeg.py``) and LOSSLESS WebP/VP8L
(``multimodal/webp.py`` — huffman + LZ77 + all four transforms); LOSSY
WebP ('VP8 ' chunks, a full video intra codec) raises the loud
unsupported-codec ``NotImplementedError``; non-image payloads
(the synthesized gate-row digests) fall back to the clearly-marked
deterministic fake decoder. The media schema, binary intake, batch
iterator shape, partition sizing, and feature pipeline are real Spark
plumbing for every codec and are tested.

Scale notes
-----------
- Binary payloads ride the Arrow channel in batches; keep
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` low enough that
  batch_bytes ≈ records x payload fits executor memory (10k default x 5 MB
  images would be 50 GB — set it to ~64 for real images).
- ``spark.read.format('binaryFile')`` is the production intake for files on
  shared storage; here media is synthesized deterministically from table
  columns so tests need no fixtures.
- Feature extraction emits fixed-width ``array<float>`` ready for the
  ``sim_topk_*`` ANN operators — media dedup is embedding dedup downstream.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from . import jpeg, png, wav, webp

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),       # image | audio | video
        StructField("path", StringType()),
        StructField("content", BinaryType()),    # opaque payload
        StructField("n_bytes", LongType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("features", ArrayType(FloatType())),
    ]
)

FEATURE_DIM = 16


def synthesize_media(df: DataFrame, id_col: str, seed_col: str) -> DataFrame:
    """Deterministic fake media table: payload = repeated sha2 of the seed
    column (stands in for real bytes; binaryFile is the production intake)."""
    payload = F.to_binary(
        F.repeat(F.sha2(F.col(seed_col).cast("string"), 256), 8), F.lit("hex")
    )
    kind = (
        F.when(F.col(id_col) % 3 == 0, "image")
        .when(F.col(id_col) % 3 == 1, "audio")
        .otherwise("video")
    )
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        kind.alias("kind"),
        F.concat(F.lit("/media/"), F.col(id_col).cast("string")).alias("path"),
        payload.alias("content"),
    ).withColumn("n_bytes", F.octet_length("content").cast("long"))


def write_media_dir(media: DataFrame, out_dir: str) -> None:
    """Materialize binary payloads as one file per row — the inverse of the
    ``binaryFile`` intake, written EXECUTOR-side via foreachPartition (never
    a driver collect loop). Writes are tmp-file + atomic rename and content
    is deterministic per id, so concurrent/replayed writes converge."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def write_part(rows):
        import os as _os

        for r in rows:
            p = _os.path.join(out_dir, f"m-{r['media_id']:08d}.bin")
            tmp = p + f".tmp-{_os.getpid()}"
            with open(tmp, "wb") as f:
                f.write(bytes(r["content"]))
            _os.replace(tmp, p)

    media.select("media_id", "content").foreachPartition(write_part)


def read_binary_dir(spark, path: str, glob: str = "*.bin") -> DataFrame:
    """Production file intake: ``binaryFile`` source over a directory —
    (path, modificationTime, length, content) per file, split across
    executors by file. The multer upload intake (reference
    src/routes/ads.ts:12-39) at shared-storage scale."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def _fake_decode(content: bytes) -> tuple[int, int, int, np.ndarray]:
    """Deterministic fake decoder: dimensions and features derived from the
    payload digest. Replaces PIL/librosa/ffmpeg in this container.

    The digest is taken over the lowercase HEX of the payload (not the raw
    bytes) so the whole decode is expressible in an engine whose sha256 only
    accepts VARCHAR — which lets the DuckDB oracle value-check the full
    mapInPandas decode path end-to-end instead of a rows-only count. Every
    derived value is exact in binary floating point (u16 / 2^16), so
    cross-engine float parity is bit-for-bit."""
    digest = hashlib.sha256(content.hex().encode()).digest()
    width = 16 + digest[0] % 64
    height = 16 + digest[1] % 64
    channels = 3
    # FEATURE_DIM floats in [0,1) from the digest, little-endian u16 pairs
    raw = np.frombuffer((digest * 2)[: FEATURE_DIM * 2], dtype=np.uint16)
    feats = (raw.astype(np.float32) / 65536.0).astype(np.float32)
    return width, height, channels, feats


def _luma_histogram(px: "np.ndarray") -> np.ndarray:
    """FEATURE_DIM-bin normalized luminance histogram — the real-pixel
    feature vector (deterministic; integer bincount then one float divide,
    so cross-run parity is exact)."""
    if px.shape[2] >= 3:
        # integer Rec.601 luma (exact, no float rounding in the bin index)
        luma = (
            299 * px[:, :, 0].astype(np.int64)
            + 587 * px[:, :, 1].astype(np.int64)
            + 114 * px[:, :, 2].astype(np.int64)
        ) // 1000
    else:
        luma = px[:, :, 0].astype(np.int64)
    bins = np.bincount(
        (luma.reshape(-1) * FEATURE_DIM) // 256, minlength=FEATURE_DIM
    )
    return (bins / luma.size).astype(np.float32)


def decode_one(content: bytes) -> tuple[int, int, int, np.ndarray]:
    """Codec dispatch by magic bytes: PNG decodes for REAL (stdlib
    decoder, multimodal/png.py) and so does baseline JPEG (stdlib+numpy
    huffman/DCT decoder, multimodal/jpeg.py) — the two formats a user of
    the reference's upload intake hits first (reference
    src/routes/ads.ts:30-32, multer jpeg|jpg|png|webp allow-list); webp
    raises a loud unsupported-codec error (VP8 is a full video intra
    codec); anything else is the deterministic fake payload used by the
    oracle-checked gate rows (synthesize_media emits hex digests, not
    images)."""
    if content[:8] == png.PNG_MAGIC:
        px = png.decode_png(content)
        h, w, c = px.shape
        return w, h, c, _luma_histogram(px)
    if content[:3] == b"\xff\xd8\xff":
        px = jpeg.decode_jpeg(content)
        h, w, c = px.shape
        return w, h, c, _luma_histogram(px)
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        try:
            px = webp.decode_webp(content)  # (h, w, 4) RGBA, lossless only
        except webp.WebpError as e:
            msg = str(e)
            if "lossy" in msg or "no VP8L" in msg:
                # lossy VP8 stays out of scope (a full video intra codec)
                raise NotImplementedError(
                    f"webp decode unsupported for this payload: {msg}"
                ) from e
            raise  # malformed VP8L is a data error, loud as WebpError
        h, w, c = px.shape
        return w, h, c, _luma_histogram(px)
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        raise TypeError(
            "audio payload routed to the image decode path — use "
            "decode_audio for WAV content"
        )
    return _fake_decode(content)


def decode_image_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: decode each payload to (dims, features) via
    ``decode_one`` (real PNG codec; fake for synthetic payloads). The batch
    iteration, Arrow transfer, and output schema are the production shape
    for every codec."""
    for pdf in batches:
        out = {"media_id": [], "width": [], "height": [], "channels": [], "features": []}
        for media_id, content in zip(pdf["media_id"], pdf["content"]):
            w, h, c, feats = decode_one(bytes(content))
            out["media_id"].append(media_id)
            out["width"].append(w)
            out["height"].append(h)
            out["channels"].append(c)
            out["features"].append(feats)
        yield pd.DataFrame(out)


def decode_media(media: DataFrame, batch_size: int = 64) -> DataFrame:
    """Distributed decode: Arrow-batched mapInPandas over the binary column.
    ``batch_size`` caps records per Arrow batch so payload bytes x records
    fits executor memory (real images: ~64 x 5 MB ≈ 320 MB/batch)."""
    media.sparkSession.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size)
    )
    return media.select("media_id", "content").mapInPandas(
        decode_image_batches, schema=DECODED_SCHEMA
    )


def media_meta(media: DataFrame) -> DataFrame:
    """Pure built-in metadata pass (no Python): size, magic prefix, extension
    gate — the multer-style validation layer (reference src/routes/ads.ts:30-39)."""
    return media.select(
        "media_id",
        "kind",
        "n_bytes",
        F.substring(F.hex(F.col("content")), 1, 8).alias("magic_hex"),
        F.col("kind").isin("image", "audio", "video").alias("kind_ok"),
        (F.col("n_bytes") <= 5 * 1024 * 1024).alias("size_ok"),
    )


AUDIO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("energy", LongType()),      # integer sum of squares
        StructField("peak", IntegerType()),     # max |sample|
    ]
)

_WAV_SAMPLES = 128   # 8 sha256 digests x 32 bytes = 256 bytes = 128 x int16
_WAV_RATE = 8000


def synthesize_wav_media(df: DataFrame, id_col: str, seed_col: str) -> DataFrame:
    """REAL WAV payloads built engine-side: the canonical 44-byte PCM16 mono
    header (fixed literal — every row carries the same sample count) followed
    by 128 little-endian int16 samples derived from the repeated sha2 hex of
    the seed column. The bytes are a spec-valid WAV file; ``decode_audio``
    parses them with the real RIFF/PCM decoder, and the DuckDB oracle
    reconstructs the identical samples from the same digest arithmetic."""
    header = wav.pcm16_header(_WAV_SAMPLES, _WAV_RATE, 1)
    samples = F.to_binary(
        F.repeat(F.sha2(F.col(seed_col).cast("string"), 256), 8), F.lit("hex")
    )
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.concat(F.lit("/media/"), F.col(id_col).cast("string"),
                 F.lit(".wav")).alias("path"),
        F.concat(F.lit(header), samples).alias("content"),
    ).withColumn("n_bytes", F.octet_length("content").cast("long"))


def decode_audio_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: REAL RIFF/WAVE parse + PCM decode per payload
    (multimodal/wav.py — np.frombuffer, no per-sample Python loop), emitting
    header metadata plus exact integer energy/peak over the mono mix."""
    for pdf in batches:
        out = {"media_id": [], "sample_rate": [], "channels": [],
               "n_samples": [], "duration_ms": [], "energy": [], "peak": []}
        for media_id, content in zip(pdf["media_id"], pdf["content"]):
            rate, channels, samples = wav.decode_wav(bytes(content))
            mono = samples.sum(axis=1) // channels
            out["media_id"].append(media_id)
            out["sample_rate"].append(rate)
            out["channels"].append(channels)
            out["n_samples"].append(samples.shape[0])
            out["duration_ms"].append(samples.shape[0] * 1000 // rate)
            out["energy"].append(int((mono.astype(np.int64) ** 2).sum()))
            out["peak"].append(int(np.abs(mono).max()) if mono.size else 0)
        yield pd.DataFrame(out)


def decode_audio(media: DataFrame, batch_size: int = 256) -> DataFrame:
    """Distributed audio decode: Arrow-batched mapInPandas over the binary
    column. Same memory contract as decode_media — batch_size x payload
    bytes per Arrow batch."""
    media.sparkSession.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size)
    )
    return media.select("media_id", "content").mapInPandas(
        decode_audio_batches, schema=AUDIO_SCHEMA
    )


RESAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("energy", LongType()),
        StructField("peak", IntegerType()),
        StructField("head_sample", IntegerType()),
        StructField("tail_sample", IntegerType()),
    ]
)


def resample_audio_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: REAL WAV decode + integer-exact 2:1 box
    decimation — the anti-alias half-rate resample a training pipeline
    applies before feature extraction. out[j] = floor((s[2j] + s[2j+1]) / 2)
    on the mono mix (floor division on BOTH engines: numpy ``//`` floors,
    DuckDB ``//`` floors; Spark's JVM ``div`` would truncate, which is why
    the arithmetic lives in numpy here and in list_transform in the
    oracle). energy/peak plus head/tail samples are over the RESAMPLED
    signal, so the value check covers the decimation itself, not just the
    decode. Vectorized: reshape(-1, 2).sum(axis=1) // 2 — no per-sample
    Python loop."""
    for pdf in batches:
        out = {"media_id": [], "sample_rate": [], "n_samples": [],
               "energy": [], "peak": [], "head_sample": [], "tail_sample": []}
        for media_id, content in zip(pdf["media_id"], pdf["content"]):
            rate, channels, samples = wav.decode_wav(bytes(content))
            mono = samples.sum(axis=1) // channels
            half = mono[: mono.size // 2 * 2].astype(np.int64)
            res = half.reshape(-1, 2).sum(axis=1) // 2
            out["media_id"].append(media_id)
            out["sample_rate"].append(rate // 2)
            out["n_samples"].append(res.size)
            out["energy"].append(int((res ** 2).sum()))
            out["peak"].append(int(np.abs(res).max()) if res.size else 0)
            out["head_sample"].append(int(res[0]) if res.size else 0)
            out["tail_sample"].append(int(res[-1]) if res.size else 0)
        yield pd.DataFrame(out)


def resample_audio(media: DataFrame, batch_size: int = 256) -> DataFrame:
    """Distributed half-rate audio resample: Arrow-batched mapInPandas over
    the binary column, same memory contract as decode_audio."""
    media.sparkSession.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size)
    )
    return media.select("media_id", "content").mapInPandas(
        resample_audio_batches, schema=RESAMPLE_SCHEMA
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("scale", ArrayType(FloatType())),
    ]
)

FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_ts_ms", IntegerType()),
        StructField("frame_digest", StringType()),
    ]
)


def resize_batches(target_w: int, target_h: int):
    """mapInPandas worker factory: aspect-preserving resize planning. The
    pixel resample itself is the stubbed step (no PIL in this container);
    dimension math, batch shape, and the scale metadata are real."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [],
                   "out_w": [], "out_h": [], "scale": []}
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content)
                if content[:8] == png.PNG_MAGIC:
                    # header-only fast path: dims from IHDR, no inflate
                    w, h, _, _, _ = png.parse_ihdr(content)
                elif content[:3] == jpeg.JPEG_MAGIC:
                    # header-only fast path: dims from SOF0, no entropy
                    # decode
                    w, h, _ = jpeg.parse_sof(content)
                else:
                    w, h, _, _ = _fake_decode(content)
                s = min(target_w / w, target_h / h)
                out["media_id"].append(media_id)
                out["width"].append(w)
                out["height"].append(h)
                out["out_w"].append(int(w * s))
                out["out_h"].append(int(h * s))
                out["scale"].append(np.array([s, s], dtype=np.float32))
            yield pd.DataFrame(out)

    return run


def resize_media(media: DataFrame, target_w: int = 32, target_h: int = 32,
                 batch_size: int = 64) -> DataFrame:
    media.sparkSession.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size)
    )
    return media.select("media_id", "content").mapInPandas(
        resize_batches(target_w, target_h), schema=RESIZED_SCHEMA
    )


def frame_sample_batches(n_frames: int, duration_ms: int = 10_000):
    """mapInPandas worker factory: uniform frame sampling of video payloads.
    Frame extraction is stubbed (deterministic digest per sampled timestamp);
    the sampling schedule, fan-out (one row per frame), and batch shape are
    the production contract."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_ts_ms": [],
                   "frame_digest": []}
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                payload = bytes(content)
                for i in range(n_frames):
                    ts = (i * duration_ms) // max(n_frames - 1, 1)
                    # digest over hex + ':' + ts so a VARCHAR-only sha256
                    # engine (DuckDB oracle) can replicate it exactly
                    digest = hashlib.sha256(
                        f"{payload.hex()}:{ts}".encode()
                    ).hexdigest()[:16]
                    out["media_id"].append(media_id)
                    out["frame_idx"].append(i)
                    out["frame_ts_ms"].append(ts)
                    out["frame_digest"].append(digest)
            yield pd.DataFrame(out)

    return run


def frame_sample(media: DataFrame, n_frames: int = 4,
                 batch_size: int = 16) -> DataFrame:
    """Video frame sampling: one input row fans out to n_frames rows. Batch
    size is kept LOW — the Arrow batch carries payload x records AND the
    output multiplies rows by n_frames."""
    media.sparkSession.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size)
    )
    videos = media.filter(F.col("kind") == "video")
    return videos.select("media_id", "content").mapInPandas(
        frame_sample_batches(n_frames), schema=FRAMES_SCHEMA
    )


# ------------------------------------------------------------- real video

_AVI_FRAMES = 6          # frames per synthesized clip
_AVI_USEC = 100_000      # 10 fps
_AVI_QUALITY = 90


def _avi_dims(digest: bytes) -> tuple[int, int]:
    """Clip dimensions from the payload digest — multiples of 8 (whole JPEG
    MCUs), replicated arithmetically by the DuckDB oracle."""
    return 16 + (digest[0] % 2) * 8, 16 + (digest[1] % 2) * 8


def _avi_frame_pixels(digest: bytes, i: int, w: int, h: int) -> np.ndarray:
    """Smooth deterministic frame content (solid channels + one horizontal
    gradient) — low-frequency on purpose so the real JPEG round-trip stays
    high-fidelity and the pytest reconstruction bound is tight."""
    px = np.zeros((h, w, 3), dtype=np.uint8)
    px[..., 0] = digest[(2 + i) % len(digest)]
    px[..., 1] = np.linspace(0, 200, w).astype(np.uint8)[None, :]
    px[..., 2] = digest[(3 + i) % len(digest)]
    return px


def synthesize_avi_payload(media_id: int) -> bytes:
    """REAL MJPEG-AVI bytes for one clip id: every frame is a spec-valid
    baseline JPEG (multimodal/jpeg.encode_jpeg), boxed into a spec-valid
    RIFF AVI container (multimodal/avi.build_mjpeg_avi). Deterministic per
    id — the oracle replicates the dims/schedule arithmetic from the same
    sha256."""
    from . import avi as avi_mod

    digest = hashlib.sha256(str(media_id).encode()).digest()
    w, h = _avi_dims(digest)
    frames = [
        jpeg.encode_jpeg(_avi_frame_pixels(digest, i, w, h),
                         quality=_AVI_QUALITY)
        for i in range(_AVI_FRAMES)
    ]
    return avi_mod.build_mjpeg_avi(frames, w, h, _AVI_USEC)


def synthesize_avi_media(df: DataFrame, id_col: str,
                         batch_size: int = 64) -> DataFrame:
    """Video twin of ``synthesize_wav_media``: the payload needs the JPEG
    encoder, so synthesis runs in an Arrow-batched worker instead of JVM
    expressions. One row per input id; content is a complete MJPEG AVI."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(batch_size))
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("path", StringType()),
        StructField("content", BinaryType()),
        StructField("n_bytes", LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(x) for x in pdf["media_id"]]
            blobs = [synthesize_avi_payload(i) for i in ids]
            yield pd.DataFrame({
                "media_id": ids,
                "kind": ["video"] * len(ids),
                "path": [f"/media/{i}.avi" for i in ids],
                "content": blobs,
                "n_bytes": [len(b) for b in blobs],
            })

    return df.select(F.col(id_col).cast("long").alias("media_id")) \
             .mapInPandas(run, schema=schema)


MJPEG_FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("src_frame", IntegerType()),
        StructField("frame_ts_ms", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_luma", DoubleType()),
    ]
)


def frame_sample_mjpeg_batches(n_frames: int):
    """mapInPandas worker: REAL container parse + REAL JPEG decode per
    sampled frame. The uniform schedule src = (i*(N-1))//(n-1) is integer-
    exact (oracle-replicable); width/height come from the DECODED pixel
    array, so a value match proves the whole encode → container → parse →
    entropy-decode chain preserved the stream geometry."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import avi as avi_mod

        for pdf in batches:
            out = {k: [] for k in ("media_id", "frame_idx", "src_frame",
                                   "frame_ts_ms", "width", "height",
                                   "mean_luma")}
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                meta = avi_mod.parse_avi(bytes(content))
                total = meta["n_frames"]
                for i in range(n_frames):
                    src = (i * (total - 1)) // max(n_frames - 1, 1)
                    px = jpeg.decode_jpeg(meta["frames"][src])
                    luma = (0.299 * px[..., 0] + 0.587 * px[..., 1]
                            + 0.114 * px[..., 2]).mean()
                    out["media_id"].append(media_id)
                    out["frame_idx"].append(i)
                    out["src_frame"].append(src)
                    out["frame_ts_ms"].append(
                        src * meta["usec_per_frame"] // 1000
                    )
                    out["width"].append(px.shape[1])
                    out["height"].append(px.shape[0])
                    out["mean_luma"].append(round(float(luma), 2))
            yield pd.DataFrame(out)

    return run


def frame_sample_mjpeg(media: DataFrame, n_frames: int = 3,
                       batch_size: int = 16) -> DataFrame:
    """Distributed real-video frame sampling: one clip row fans out to
    n_frames decoded-frame rows. Batch size stays LOW — each Arrow batch
    carries whole video payloads in and n_frames x rows out."""
    media.sparkSession.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size)
    )
    return media.select("media_id", "content").mapInPandas(
        frame_sample_mjpeg_batches(n_frames), schema=MJPEG_FRAMES_SCHEMA
    )


# ---------------------------------------------------------- real resize

def box_resize(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Area-averaging (box-filter) downsample — the standard training-
    thumbnail resample, exact integer-area arithmetic via reduceat (no
    interpolation library). Handles arbitrary in/out sizes; each output
    pixel is the mean of its (possibly ragged) source box."""
    h, w = px.shape[:2]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    acc = np.add.reduceat(np.add.reduceat(px.astype(np.float64), ys, axis=0),
                          xs, axis=1)
    cy = np.diff(np.append(ys, h)).astype(np.float64)
    cx = np.diff(np.append(xs, w)).astype(np.float64)
    area = cy[:, None] * cx[None, :]
    return (acc / area[..., None] if px.ndim == 3 else acc / area)


def synthesize_gradient_png_media(df: DataFrame, id_col: str,
                                  batch_size: int = 64) -> DataFrame:
    """Real lossless-PNG payload with a POSITION-DEPENDENT gradient:
    px[y, x, c] = (digest[2+c] + x + 2*y) % 256. Unlike the solid fills
    of synthesize_png_media, every pixel encodes its own coordinates, so
    geometric augmentations (flip, crop) move values the oracle can
    replicate arithmetically — a flip that silently doesn't happen
    changes the checksum."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(batch_size))
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("path", StringType()),
        StructField("content", BinaryType()),
        StructField("n_bytes", LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(x) for x in pdf["media_id"]]
            blobs = []
            for i in ids:
                digest = hashlib.sha256(str(i).encode()).digest()
                w, h = _avi_dims(digest)
                xs = np.arange(w, dtype=np.int64)[None, :, None]
                ys = np.arange(h, dtype=np.int64)[:, None, None]
                base = np.array(
                    [digest[2], digest[3], digest[4]], dtype=np.int64
                )[None, None, :]
                px = ((base + xs + 2 * ys) % 256).astype(np.uint8)
                blobs.append(png.encode_png(px))
            yield pd.DataFrame({
                "media_id": ids,
                "kind": ["image"] * len(ids),
                "path": [f"/media/{i}.png" for i in ids],
                "content": blobs,
                "n_bytes": [len(b) for b in blobs],
            })

    return df.select(F.col(id_col).cast("long").alias("media_id")) \
             .mapInPandas(run, schema=schema)


AUGMENT_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("checksum", LongType()),   # sum of all augmented channels
    StructField("tl", IntegerType()),      # channel sums of the 4 corners
    StructField("tr", IntegerType()),
    StructField("bl", IntegerType()),
    StructField("br", IntegerType()),
])


def augment_image_batches(out: int):
    """mapInPandas worker: REAL PNG decode -> horizontal flip -> center
    crop to an out x out training patch, all numpy views (no copy until
    the crop). checksum is the exact integer sum over every augmented
    channel and the corner channel-sums pin the ORIENTATION — a dropped
    flip or an off-by-one crop origin moves them."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in AUGMENT_SCHEMA.fields}
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                px = png.decode_png(bytes(content))
                h, w, _c = px.shape
                flipped = px[:, ::-1, :]
                x0, y0 = (w - out) // 2, (h - out) // 2
                crop = flipped[y0:y0 + out, x0:x0 + out].astype(np.int64)
                rows["media_id"].append(int(media_id))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["checksum"].append(int(crop.sum()))
                rows["tl"].append(int(crop[0, 0].sum()))
                rows["tr"].append(int(crop[0, out - 1].sum()))
                rows["bl"].append(int(crop[out - 1, 0].sum()))
                rows["br"].append(int(crop[out - 1, out - 1].sum()))
            yield pd.DataFrame(rows)

    return run


def augment_images(media: DataFrame, out: int = 8,
                   batch_size: int = 64) -> DataFrame:
    """Distributed deterministic augmentation (flip + center crop):
    Arrow-batched mapInPandas, embarrassingly parallel, no shuffle."""
    media.sparkSession.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size)
    )
    return media.select("media_id", "content").mapInPandas(
        augment_image_batches(out), schema=AUGMENT_SCHEMA
    )


def synthesize_jpeg_media(df: DataFrame, id_col: str,
                          batch_size: int = 64) -> DataFrame:
    """Real baseline-JPEG payload per id (image twin of
    ``synthesize_avi_media``): digest-derived dims, smooth deterministic
    pixels, encoded by multimodal/jpeg.encode_jpeg."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(batch_size))
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("path", StringType()),
        StructField("content", BinaryType()),
        StructField("n_bytes", LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(x) for x in pdf["media_id"]]
            blobs = []
            for i in ids:
                digest = hashlib.sha256(str(i).encode()).digest()
                w, h = _avi_dims(digest)
                blobs.append(jpeg.encode_jpeg(
                    _avi_frame_pixels(digest, 0, w, h),
                    quality=_AVI_QUALITY,
                ))
            yield pd.DataFrame({
                "media_id": ids,
                "kind": ["image"] * len(ids),
                "path": [f"/media/{i}.jpg" for i in ids],
                "content": blobs,
                "n_bytes": [len(b) for b in blobs],
            })

    return df.select(F.col(id_col).cast("long").alias("media_id")) \
             .mapInPandas(run, schema=schema)


RESIZED_REAL_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("mean_px", DoubleType()),
    ]
)


def resize_real_batches(out_w: int, out_h: int):
    """mapInPandas worker: REAL JPEG entropy decode + REAL box-filter
    resample to a fixed training-patch size. width/height come from the
    decoded array (value-checked vs digest arithmetic by the gate);
    mean_px is the resampled pixel mean (pytest-bounded — lossy JPEG
    content is not SQL-replicable)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "width", "height",
                                   "out_w", "out_h", "mean_px")}
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                px = jpeg.decode_jpeg(bytes(content))
                small = box_resize(px, out_w, out_h)
                out["media_id"].append(media_id)
                out["width"].append(px.shape[1])
                out["height"].append(px.shape[0])
                out["out_w"].append(out_w)
                out["out_h"].append(out_h)
                out["mean_px"].append(round(float(small.mean()), 2))
            yield pd.DataFrame(out)

    return run


def resize_media_real(media: DataFrame, out_w: int = 8, out_h: int = 8,
                      batch_size: int = 64) -> DataFrame:
    media.sparkSession.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size)
    )
    return media.select("media_id", "content").mapInPandas(
        resize_real_batches(out_w, out_h), schema=RESIZED_REAL_SCHEMA
    )


def synthesize_webp_media(df: DataFrame, id_col: str,
                          batch_size: int = 64) -> DataFrame:
    """Real lossless-WebP (VP8L) payload per id: solid digest-derived RGBA
    at digest-derived dims, emitted by the VP8L encoder (subtract-green +
    color cache + run LZ77 both distance forms). Losslessness is the
    point — decoded pixels equal synthesized ones bit-exactly, so the
    luminance features are oracle-replicable arithmetic, same contract as
    synthesize_png_media."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(batch_size))
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("path", StringType()),
        StructField("content", BinaryType()),
        StructField("n_bytes", LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(x) for x in pdf["media_id"]]
            blobs = []
            for i in ids:
                digest = hashlib.sha256(str(i).encode()).digest()
                w, h = _avi_dims(digest)
                px = np.empty((h, w, 4), dtype=np.uint8)
                px[..., 0] = digest[2]
                px[..., 1] = digest[3]
                px[..., 2] = digest[4]
                px[..., 3] = 255
                blobs.append(webp.encode_webp_lossless(px, cache_bits=4))
            yield pd.DataFrame({
                "media_id": ids,
                "kind": ["image"] * len(ids),
                "path": [f"/media/{i}.webp" for i in ids],
                "content": blobs,
                "n_bytes": [len(b) for b in blobs],
            })

    return df.select(F.col(id_col).alias("media_id")).mapInPandas(
        run, schema=schema
    )


def synthesize_png_media(df: DataFrame, id_col: str,
                         batch_size: int = 64) -> DataFrame:
    """Real lossless-PNG payload per id: solid digest-derived RGB at
    digest-derived dims, encoded by the stdlib PNG writer. Losslessness is
    the point — the DECODED pixels equal the synthesized ones bit-exactly,
    so downstream features are oracle-replicable arithmetic."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(batch_size))
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("path", StringType()),
        StructField("content", BinaryType()),
        StructField("n_bytes", LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(x) for x in pdf["media_id"]]
            blobs = []
            for i in ids:
                digest = hashlib.sha256(str(i).encode()).digest()
                w, h = _avi_dims(digest)
                px = np.empty((h, w, 3), dtype=np.uint8)
                px[..., 0] = digest[2]
                px[..., 1] = digest[3]
                px[..., 2] = digest[4]
                blobs.append(png.encode_png(px))
            yield pd.DataFrame({
                "media_id": ids,
                "kind": ["image"] * len(ids),
                "path": [f"/media/{i}.png" for i in ids],
                "content": blobs,
                "n_bytes": [len(b) for b in blobs],
            })

    return df.select(F.col(id_col).cast("long").alias("media_id")) \
             .mapInPandas(run, schema=schema)


# ------------------------------------------------------ perceptual dedup

def ahash64(px: np.ndarray) -> int:
    """64-bit average hash: box-resample luma to 8x8, threshold at the
    mean — the classic perceptual fingerprint (near-identical images
    collide, distinct content does not). Deterministic given pixels."""
    if px.ndim == 3:
        luma = (0.299 * px[..., 0] + 0.587 * px[..., 1]
                + 0.114 * px[..., 2])
    else:
        luma = px.astype(np.float64)
    small = box_resize(luma, 8, 8)
    bits = (small >= small.mean()).reshape(-1)
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


def _noise_pixels(key: int, w: int, h: int) -> np.ndarray:
    """Deterministic per-key noise field (counter-mode digest stream —
    full entropy, no tiling period to collide perceptual hashes) — every
    content key gets a distinct texture, so perceptual hashes separate
    keys while staying identical across copies of the same key."""
    need = w * h * 3
    stream = b"".join(
        hashlib.sha256(f"img:{key}:{i}".encode()).digest()
        for i in range(need // 32 + 1)
    )
    return np.frombuffer(stream[:need], dtype=np.uint8).reshape(h, w, 3).copy()


def synthesize_jpeg_corpus(df: DataFrame, id_col: str, n_contents: int,
                           batch_size: int = 64) -> DataFrame:
    """Image corpus with PLANTED duplicates: content is keyed by
    id % n_contents, so every content key appears ~|ids|/n_contents
    times — the ground truth the perceptual dedup must recover."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(batch_size))
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("content", BinaryType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[int, bytes] = {}
        for pdf in batches:
            ids = [int(x) for x in pdf["media_id"]]
            blobs = []
            for i in ids:
                key = i % n_contents
                blob = cache.get(key)
                if blob is None:
                    blob = jpeg.encode_jpeg(_noise_pixels(key, 16, 16),
                                            quality=_AVI_QUALITY)
                    cache[key] = blob
                blobs.append(blob)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    return df.select(F.col(id_col).cast("long").alias("media_id")) \
             .mapInPandas(run, schema=schema)


def image_phash(media: DataFrame, batch_size: int = 64) -> DataFrame:
    """REAL decode + perceptual hash per image: (media_id, phash)."""
    media.sparkSession.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size)
    )
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("phash", LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "phash": []}
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                px = jpeg.decode_jpeg(bytes(content))
                h = ahash64(px)
                out["media_id"].append(media_id)
                # store as signed 64-bit for the LongType column
                out["phash"].append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=schema)
