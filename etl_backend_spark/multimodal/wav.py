"""Pure-stdlib WAV (RIFF/WAVE) decoder: chunk walk + PCM sample decode.

Extends the multimodal path's REAL-codec story to the audio modality
(PNG and baseline JPEG already decode for real; see png.py / jpeg.py).
The reference's media intake is image-only (reference
src/routes/ads.ts:30-32), but a training-data pipeline treats audio the
same way: opaque binary column in, typed metadata + feature vector out —
and WAV is the one audio container decodable with nothing beyond
``struct`` and numpy.

Supported subset (raises ``WavError`` loudly on anything else):
- RIFF/WAVE container, chunk-walked (unknown chunks skipped, word-aligned);
- audio format 1 (integer PCM), 8-bit unsigned or 16-bit signed
  little-endian samples, any channel count / sample rate.

Scale stance: PCM decode is a single ``np.frombuffer`` view — no Python
per-sample loop — so a multi-MB payload decodes at memcpy speed inside
its Arrow batch. Compressed containers (mp3/flac/ogg) need native codecs
this container lacks and raise the same loud unsupported-codec error as
webp on the image side.
"""

from __future__ import annotations

import struct

import numpy as np

WAV_MAGIC = b"RIFF"


class WavError(ValueError):
    """Unsupported or malformed WAV payload (loud by design)."""


def _chunks(data: bytes):
    """Yield (chunk_id, body) for each RIFF sub-chunk, honoring the spec's
    word alignment (odd-sized chunks are padded to an even byte)."""
    if data[:4] != WAV_MAGIC or data[8:12] != b"WAVE":
        raise WavError("not a WAV: bad RIFF/WAVE signature")
    off = 12
    n = len(data)
    while off + 8 <= n:
        cid = data[off:off + 4]
        (length,) = struct.unpack("<I", data[off + 4:off + 8])
        body = data[off + 8:off + 8 + length]
        if len(body) != length:
            raise WavError(f"truncated chunk {cid!r}")
        yield cid, body
        off += 8 + length + (length & 1)


def parse_fmt(data: bytes) -> tuple[int, int, int]:
    """(channels, sample_rate, bits_per_sample) from the fmt chunk — the
    header-only fast path (audio metadata without touching sample data)."""
    for cid, body in _chunks(data):
        if cid == b"fmt ":
            if len(body) < 16:
                raise WavError("fmt chunk too short")
            fmt, channels, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt != 1:
                raise WavError(
                    f"unsupported WAV format {fmt}: only integer PCM "
                    "(format 1) decodes without native codecs"
                )
            if bits not in (8, 16):
                raise WavError(f"unsupported bit depth {bits}: want 8 or 16")
            return channels, rate, bits
    raise WavError("missing fmt chunk")


def decode_wav(data: bytes) -> tuple[int, int, np.ndarray]:
    """Decode to (sample_rate, channels, samples) where ``samples`` is an
    int32 array of shape (n_frames, channels). 8-bit unsigned is recentred
    to signed (x - 128); 16-bit is little-endian signed, decoded via a
    zero-copy ``np.frombuffer`` view."""
    channels, rate, bits = parse_fmt(data)
    for cid, body in _chunks(data):
        if cid == b"data":
            if bits == 16:
                flat = np.frombuffer(
                    body[: len(body) - (len(body) % 2)], dtype="<i2"
                ).astype(np.int32)
            else:
                flat = np.frombuffer(body, dtype=np.uint8).astype(np.int32) - 128
            n_frames = flat.size // channels
            return rate, channels, flat[: n_frames * channels].reshape(
                n_frames, channels
            )
    raise WavError("missing data chunk")


def pcm16_header(n_samples: int, sample_rate: int = 8000,
                 channels: int = 1) -> bytes:
    """The 44-byte canonical PCM16 WAV header for a payload of ``n_samples``
    frames — used by the gate row to synthesize REAL WAV bytes engine-side
    (fixed literal prefix + digest-derived sample data)."""
    data_len = n_samples * channels * 2
    return (
        b"RIFF" + struct.pack("<I", 36 + data_len) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, sample_rate,
                                sample_rate * channels * 2, channels * 2, 16)
        + b"data" + struct.pack("<I", data_len)
    )
