"""Tests for multimodal plumbing and the auth UDF surface."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_backend_spark.functions import auth
from etl_backend_spark.multimodal import media as M


def test_media_decode_deterministic_and_shaped(spark, cat):
    media = M.synthesize_media(cat.table("part").limit(50), "p_partkey", "p_partkey")
    a = M.decode_media(media).collect()
    b = M.decode_media(media).collect()
    assert sorted(r.media_id for r in a) == sorted(r.media_id for r in b)
    by_id_a = {r.media_id: r for r in a}
    by_id_b = {r.media_id: r for r in b}
    for k in by_id_a:
        ra, rb = by_id_a[k], by_id_b[k]
        assert ra.features == rb.features  # decode is deterministic
        assert len(ra.features) == M.FEATURE_DIM
        assert 16 <= ra.width < 80 and 16 <= ra.height < 80
        assert all(0.0 <= f < 1.0 for f in ra.features)


def test_media_meta_gates(spark, cat):
    media = M.synthesize_media(cat.table("part").limit(50), "p_partkey", "p_partkey")
    meta = M.media_meta(media).collect()
    for r in meta:
        assert r.kind_ok and r.size_ok
        assert r.n_bytes == 256  # 64-hex sha2 x 8 reps = 512 hex chars = 256 bytes
        assert len(r.magic_hex) == 8


def test_password_roundtrip_and_reject(spark):
    df = spark.createDataFrame(
        [("s3cret", "saltsalt"), ("other", "saltsalt")], ["pw", "salt"]
    )
    hashed = df.select("pw", auth.hash_password("pw", "salt").alias("h"))
    ok = hashed.select(auth.verify_password("pw", F.col("h")).alias("v")).collect()
    assert all(r.v for r in ok)
    bad = hashed.select(
        auth.verify_password(F.lit("wrong"), F.col("h")).alias("v")
    ).collect()
    assert not any(r.v for r in bad)
    garbage = hashed.select(
        auth.verify_password("pw", F.lit("not-a-hash")).alias("v")
    ).collect()
    assert not any(r.v for r in garbage)


def test_token_roundtrip_and_tamper(spark):
    df = spark.createDataFrame([("42",), ("99",)], ["uid"])
    t = df.select("uid", auth.sign_token("uid", F.lit("k1")).alias("tok"))
    good = t.select(
        "uid", auth.verify_token(F.col("tok"), F.lit("k1")).alias("got")
    ).collect()
    for r in good:
        assert r.got == r.uid
    wrong_key = t.select(auth.verify_token(F.col("tok"), F.lit("k2")).alias("got")).collect()
    assert all(r.got is None for r in wrong_key)
    tampered = t.select(
        auth.verify_token(F.concat(F.col("tok"), F.lit("x")), F.lit("k1")).alias("got")
    ).collect()
    assert all(r.got is None for r in tampered)


def test_resize_preserves_aspect(spark, cat):
    media = M.synthesize_media(cat.table("part").limit(40), "p_partkey", "p_partkey")
    out = M.resize_media(media, 32, 32).collect()
    assert len(out) == 40
    for r in out:
        assert max(r.out_w, r.out_h) <= 32
        # aspect preserved within integer truncation
        assert abs(r.out_w / r.width - r.out_h / r.height) < 0.1
        assert r.scale[0] == r.scale[1]


def test_frame_sample_fanout_deterministic(spark, cat):
    media = M.synthesize_media(cat.table("part").limit(60), "p_partkey", "p_partkey")
    n_videos = media.filter(F.col("kind") == "video").count()
    a = M.frame_sample(media, n_frames=4).collect()
    b = M.frame_sample(media, n_frames=4).collect()
    assert len(a) == n_videos * 4
    assert sorted((r.media_id, r.frame_idx, r.frame_digest) for r in a) == \
        sorted((r.media_id, r.frame_idx, r.frame_digest) for r in b)
    ts = sorted({r.frame_ts_ms for r in a})
    assert ts == [0, 3333, 6666, 10000]


def test_binaryfile_roundtrip(spark, tmp_path):
    """write_media_dir → spark.read.format('binaryFile') recovers the exact
    bytes, one file per row."""
    from etl_backend_spark.multimodal import media as M
    from etl_backend_spark.sources.catalog import Catalog
    from tests.conftest import SF_DIR

    p = Catalog(spark, SF_DIR).table("part").filter(F.col("p_partkey") <= 20)
    media = M.synthesize_media(p, "p_partkey", "p_partkey")
    out = str(tmp_path / "media")
    M.write_media_dir(media, out)

    files = M.read_binary_dir(spark, out)
    got = {
        int(r.path.rsplit("m-", 1)[1].split(".")[0]): bytes(r.content)
        for r in files.collect()
    }
    want = {r.media_id: bytes(r.content) for r in media.collect()}
    assert got == want and len(got) == p.count()


def _gradient_px(h, w, spp, seed=0):
    import numpy as np

    # deterministic, filter-exercising content: gradients + diagonal stripes
    y, x = np.mgrid[0:h, 0:w]
    chans = [((x * 7 + y * 13 + c * 29 + seed * 31) % 256) for c in
             range(spp)]
    return np.stack(chans, axis=-1).astype(np.uint8)


def test_png_decode_real_pixels_all_color_types_and_filters():
    """REAL PNG bytes (stdlib encoder) -> stdlib decoder: exact dims,
    channels, and pixel digest for every supported color type x filter."""
    import hashlib

    import numpy as np

    from etl_backend_spark.multimodal import png

    for spp, color in [(1, 0), (3, 2), (2, 4), (4, 6)]:
        for filt in (0, 1, 2):
            px = _gradient_px(21, 17, spp, seed=filt)
            data = png.encode_png(px, filter_type=filt)
            got = png.decode_png(data)
            assert got.shape == (21, 17, spp), (color, filt)
            assert np.array_equal(got, px), (color, filt)
            assert (hashlib.sha256(got.tobytes()).hexdigest()
                    == hashlib.sha256(px.tobytes()).hexdigest())
    # palette: indices + PLTE expand to RGB
    idx = (_gradient_px(9, 11, 1) % 5).astype(np.uint8)
    palette = np.array([[250, 0, 0], [0, 250, 0], [0, 0, 250],
                        [9, 9, 9], [200, 100, 50]], dtype=np.uint8)
    data = png.encode_png(idx, color=3, palette=palette)
    got = png.decode_png(data)
    assert got.shape == (9, 11, 3)
    assert np.array_equal(got, palette[idx[:, :, 0]])
    # header-only fast path agrees
    assert png.parse_ihdr(data)[:2] == (11, 9)


def test_png_decoder_rejects_unsupported_loudly():
    import numpy as np
    import pytest as _pytest

    from etl_backend_spark.multimodal import png

    with _pytest.raises(png.PngError, match="bad signature"):
        png.decode_png(b"GIF89a" + b"\x00" * 40)
    # 16-bit depth: flip the depth byte in a valid header
    data = bytearray(png.encode_png(_gradient_px(4, 4, 3)))
    data[24] = 16  # IHDR bit-depth byte
    with _pytest.raises(png.PngError, match="bit depth"):
        png.decode_png(bytes(data))


def test_decode_one_dispatches_by_magic():
    """PNG and baseline JPEG -> real pixels; webp -> loud
    NotImplementedError; malformed jpeg -> loud JpegError; other payloads
    -> deterministic fake (the oracle-checked gate path)."""
    import numpy as np
    import pytest as _pytest

    from etl_backend_spark.multimodal import jpeg
    from etl_backend_spark.multimodal import media as M
    from etl_backend_spark.multimodal import png

    px = _gradient_px(16, 16, 3)
    w, h, c, feats = M.decode_one(png.encode_png(px))
    assert (w, h, c) == (16, 16, 3)
    assert abs(float(feats.sum()) - 1.0) < 1e-6  # histogram sums to 1
    assert len(feats) == M.FEATURE_DIM
    jw, jh, jc, jfeats = M.decode_one(jpeg.encode_jpeg(px, quality=95))
    assert (jw, jh, jc) == (16, 16, 3)
    assert abs(float(jfeats.sum()) - 1.0) < 1e-6
    with _pytest.raises(jpeg.JpegError, match="truncated segment"):
        M.decode_one(b"\xff\xd8\xff\xe0" + b"x" * 16)  # truncated jpeg
    with _pytest.raises(NotImplementedError, match="webp"):
        M.decode_one(b"RIFF\x00\x00\x00\x00WEBP" + b"x" * 8)
    fw, fh, fc, ffeats = M.decode_one(b"not an image at all")
    assert fc == 3 and 16 <= fw < 80  # fake path unchanged


def test_jpeg_round_trip_gray_and_rgb():
    """REAL baseline JPEG bytes (Annex-K encoder) -> huffman+DCT decoder:
    exact dims/channels, error bounded by quantization noise, and
    deterministic bytes/pixels (digest-stable)."""
    import hashlib

    import numpy as np

    from etl_backend_spark.multimodal import jpeg

    # random noise is the DCT worst case; q95 keeps quantization tight
    rng = np.random.default_rng(7)
    g = rng.integers(0, 256, (24, 17), dtype=np.uint8)
    enc = jpeg.encode_jpeg(g, quality=95)
    assert enc[:3] == jpeg.JPEG_MAGIC and enc[-2:] == b"\xff\xd9"
    dec = jpeg.decode_jpeg(enc)
    assert dec.shape == (24, 17, 1)
    assert int(np.abs(dec[:, :, 0].astype(int) - g.astype(int)).max()) <= 12
    # encode and decode are deterministic
    assert jpeg.encode_jpeg(g, quality=95) == enc
    assert (hashlib.sha256(jpeg.decode_jpeg(enc).tobytes()).hexdigest()
            == hashlib.sha256(dec.tobytes()).hexdigest())

    # smooth RGB gradient at q90: sub-pixel mean error, non-8-aligned dims
    px = _gradient_px(40, 33, 3)
    enc2 = jpeg.encode_jpeg(px, quality=90)
    dec2 = jpeg.decode_jpeg(enc2)
    assert dec2.shape == (40, 33, 3)
    assert float(np.abs(dec2.astype(int) - px.astype(int)).mean()) < 8.0
    # header-only fast path agrees (resize planning reads this)
    assert jpeg.parse_sof(enc2) == (33, 40, 3)

    # EOB-only blocks: constant image compresses to DC + EOB per block
    flat = np.full((16, 16, 3), 77, dtype=np.uint8)
    enc3 = jpeg.encode_jpeg(flat, quality=90)
    dec3 = jpeg.decode_jpeg(enc3)
    assert int(np.abs(dec3.astype(int) - flat.astype(int)).max()) <= 2


def test_jpeg_decoder_rejects_unsupported_loudly():
    import numpy as np
    import pytest as _pytest

    from etl_backend_spark.multimodal import jpeg

    with _pytest.raises(jpeg.JpegError, match="SOI"):
        jpeg.decode_jpeg(b"GIF89a" + b"\x00" * 40)
    base = jpeg.encode_jpeg(_gradient_px(8, 8, 3), quality=90)
    # progressive: flip the SOF0 marker to SOF2
    prog = bytearray(base)
    prog[prog.index(b"\xff\xc0") + 1] = 0xC2
    with _pytest.raises(jpeg.JpegError, match="progressive"):
        jpeg.decode_jpeg(bytes(prog))
    # chroma subsampling: patch the first component's sampling byte to 2x2
    sub = bytearray(base)
    sub[sub.index(b"\xff\xc0") + 4 + 7] = 0x22
    with _pytest.raises(jpeg.JpegError, match="subsampling"):
        jpeg.decode_jpeg(bytes(sub))
    # restart interval: inject a DRI segment with a nonzero interval
    dri = base[:2] + b"\xff\xdd\x00\x04\x00\x08" + base[2:]
    with _pytest.raises(jpeg.JpegError, match="restart"):
        jpeg.decode_jpeg(dri)


def test_decode_media_real_jpeg_through_spark(spark):
    """End-to-end mapInPandas over REAL jpeg payloads: dims and features
    come from actual huffman+DCT decoding, executor-side, through the
    Arrow channel — mixed with a png payload to exercise dispatch."""
    import numpy as np

    from etl_backend_spark.multimodal import jpeg
    from etl_backend_spark.multimodal import media as M
    from etl_backend_spark.multimodal import png

    payloads = {
        0: jpeg.encode_jpeg(_gradient_px(24, 9, 3, seed=1), quality=90),
        1: jpeg.encode_jpeg(_gradient_px(11, 30, 1, seed=2), quality=95),
        2: png.encode_png(_gradient_px(14, 6, 3, seed=3)),
    }
    dims = {0: (9, 24, 3), 1: (30, 11, 1), 2: (6, 14, 3)}
    df = spark.createDataFrame(
        [(mid, "image", f"/media/{mid}", c, len(c))
         for mid, c in payloads.items()],
        schema=M.MEDIA_SCHEMA,
    )
    got = {r.media_id: r for r in M.decode_media(df).collect()}
    assert len(got) == 3
    for mid, (w, h, c) in dims.items():
        r = got[mid]
        assert (r.width, r.height, r.channels) == (w, h, c), mid
        w2, h2, c2, expect = M.decode_one(payloads[mid])
        assert np.allclose(r.features, expect)


def test_decode_media_real_png_through_spark(spark):
    """End-to-end mapInPandas over REAL png payloads: dims and features
    come from actual pixels, executor-side, through the Arrow channel."""
    import numpy as np

    from etl_backend_spark.multimodal import media as M
    from etl_backend_spark.multimodal import png

    rows = []
    for i, (h, w) in enumerate([(8, 12), (20, 5), (33, 17)]):
        px = _gradient_px(h, w, 3, seed=i)
        rows.append((i, "image", f"/media/{i}", bytearray(png.encode_png(px)),
                     (h, w)))
    df = spark.createDataFrame(
        [(mid, k, p, bytes(c), len(c)) for mid, k, p, c, (h, w) in rows],
        schema=M.MEDIA_SCHEMA,
    )
    got = {r.media_id: r for r in M.decode_media(df).collect()}
    assert len(got) == 3
    for mid, _k, _p, c, (h, w) in rows:
        r = got[mid]
        assert (r.width, r.height, r.channels) == (w, h, 3)
        expect = M._luma_histogram(png.decode_png(bytes(c)))
        assert np.allclose(r.features, expect)


# ---------------------------------------------------------------------------
# WAV: the real audio codec (multimodal/wav.py)
# ---------------------------------------------------------------------------


def _pcm16_bytes(samples):
    import struct

    return b"".join(struct.pack("<h", s) for s in samples)


def test_wav_decodes_stdlib_wave_output():
    """Cross-validate the parser against a file the stdlib `wave` module
    wrote — not just our own header builder."""
    import io
    import wave as stdwave

    import numpy as np

    from etl_backend_spark.multimodal import wav

    frames = [(-32768, 100), (0, -1), (32767, 7), (12345, -12345)]
    buf = io.BytesIO()
    with stdwave.open(buf, "wb") as f:
        f.setnchannels(2)
        f.setsampwidth(2)
        f.setframerate(44100)
        f.writeframes(_pcm16_bytes([s for fr in frames for s in fr]))
    rate, channels, samples = wav.decode_wav(buf.getvalue())
    assert (rate, channels) == (44100, 2)
    assert samples.shape == (4, 2)
    assert np.array_equal(samples, np.array(frames, dtype=np.int32))


def test_wav_header_builder_is_stdlib_readable():
    """The gate row's synthesized header must be a spec-valid WAV that the
    stdlib `wave` module accepts and reads back sample-exact."""
    import io
    import wave as stdwave

    from etl_backend_spark.multimodal import wav

    pcm = _pcm16_bytes([0, 1, -1, 32767, -32768, 500])
    blob = wav.pcm16_header(6, 8000, 1) + pcm
    with stdwave.open(io.BytesIO(blob), "rb") as f:
        assert (f.getnchannels(), f.getsampwidth(), f.getframerate(),
                f.getnframes()) == (1, 2, 8000, 6)
        assert f.readframes(6) == pcm


def test_wav_8bit_and_loud_errors():
    import struct

    import numpy as np
    import pytest

    from etl_backend_spark.multimodal import wav

    # 8-bit unsigned: recentred to signed around 0
    hdr8 = (b"RIFF" + struct.pack("<I", 36 + 4) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
            + b"data" + struct.pack("<I", 4))
    rate, ch, samples = wav.decode_wav(hdr8 + bytes([0, 128, 255, 200]))
    assert np.array_equal(samples.reshape(-1), [-128, 0, 127, 72])

    with pytest.raises(wav.WavError, match="signature"):
        wav.decode_wav(b"OggS" + b"\x00" * 40)
    # float PCM (format 3) is a native-codec job: loud, not silent
    float_hdr = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
                 + b"fmt " + struct.pack("<IHHIIHH", 16, 3, 1, 8000, 32000,
                                         4, 32)
                 + b"data" + struct.pack("<I", 0))
    with pytest.raises(wav.WavError, match="format 3"):
        wav.decode_wav(float_hdr)
    with pytest.raises(wav.WavError, match="bit depth 24"):
        bad = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
               + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 24000,
                                       3, 24)
               + b"data" + struct.pack("<I", 0))
        wav.decode_wav(bad)
    with pytest.raises(wav.WavError, match="truncated"):
        wav.decode_wav(wav.pcm16_header(100) + b"\x00" * 10)


def test_wav_chunk_walk_skips_unknown_chunks():
    """LIST/INFO metadata chunks (odd-length, word-aligned) before fmt/data
    must be skipped, as real encoders emit them."""
    import struct

    import numpy as np

    from etl_backend_spark.multimodal import wav

    pcm = _pcm16_bytes([5, -5, 9])
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    meta = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd + pad
    body = meta + fmt + b"data" + struct.pack("<I", len(pcm)) + pcm
    blob = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    rate, ch, samples = wav.decode_wav(blob)
    assert np.array_equal(samples.reshape(-1), [5, -5, 9])


def test_decode_audio_through_spark(spark, cat):
    """End-to-end: engine-synthesized REAL WAV bytes decoded executor-side
    by the real parser; values match a local decode of the same payload."""
    import numpy as np

    from etl_backend_spark.multimodal import media as M
    from etl_backend_spark.multimodal import wav

    p = cat.table("part").filter(F.col("p_partkey") <= 50)
    media = M.synthesize_wav_media(p, "p_partkey", "p_partkey")
    rows = {r.media_id: r for r in M.decode_audio(media).collect()}
    raw = {r.media_id: bytes(r.content)
           for r in media.select("media_id", "content").collect()}
    assert len(rows) == len(raw) > 0
    for mid, blob in list(raw.items())[:5]:
        rate, ch, samples = wav.decode_wav(blob)
        r = rows[mid]
        assert (r.sample_rate, r.channels, r.n_samples) == (8000, 1, 128)
        assert (rate, ch, samples.shape[0]) == (8000, 1, 128)
        mono = samples.reshape(-1).astype(np.int64)
        assert r.energy == int((mono ** 2).sum())
        assert r.peak == int(np.abs(mono).max())
        assert r.duration_ms == 16


def test_decode_one_rejects_wav_loudly():
    import pytest

    from etl_backend_spark.multimodal import media as M
    from etl_backend_spark.multimodal import wav

    blob = wav.pcm16_header(2) + _pcm16_bytes([1, 2])
    with pytest.raises(TypeError, match="decode_audio"):
        M.decode_one(blob)


def test_mjpeg_avi_roundtrip_fidelity():
    """The lossy half the oracle can't check: decoded sampled frames must
    reconstruct the synthesized source pixels within a tight JPEG-q90
    bound (smooth content), and the container metadata must round-trip
    exactly."""
    import hashlib

    import numpy as np

    from etl_backend_spark.multimodal import avi, jpeg
    from etl_backend_spark.multimodal import media as M

    blob = M.synthesize_avi_payload(7)
    meta = avi.parse_avi(blob)
    digest = hashlib.sha256(b"7").digest()
    w, h = M._avi_dims(digest)
    assert (meta["width"], meta["height"]) == (w, h)
    assert meta["n_frames"] == M._AVI_FRAMES
    assert meta["usec_per_frame"] == M._AVI_USEC
    for i in (0, 3, 5):
        px = jpeg.decode_jpeg(meta["frames"][i])
        src = M._avi_frame_pixels(digest, i, w, h)
        assert px.shape == src.shape
        err = np.abs(px.astype(int) - src.astype(int)).mean()
        assert err < 3.0, (i, err)


def test_parse_avi_rejects_malformed_loudly():
    import struct

    import pytest

    from etl_backend_spark.multimodal import avi
    from etl_backend_spark.multimodal import media as M

    with pytest.raises(avi.AviError, match="RIFF/AVI"):
        avi.parse_avi(b"not a container")
    blob = M.synthesize_avi_payload(3)
    # chunk that overruns the container must fail, not decode garbage
    with pytest.raises(avi.AviError):
        avi.parse_avi(blob[: len(blob) // 2])
    # frame-count lie: patch avih dwTotalFrames (offset scan keeps the
    # test honest about where the field lives)
    pos = blob.index(b"avih") + 8 + 16
    lied = blob[:pos] + struct.pack("<I", 99) + blob[pos + 4:]
    with pytest.raises(avi.AviError, match="declares"):
        avi.parse_avi(lied)


def test_box_resize_exact_and_jpeg_fidelity():
    """box_resize is exact integer-area arithmetic (divisible and ragged
    cases), and resampling a decoded real JPEG stays close to resampling
    the source pixels (the q90 smooth-content bound)."""
    import hashlib

    import numpy as np

    from etl_backend_spark.multimodal import jpeg
    from etl_backend_spark.multimodal import media as M

    a = np.arange(16, dtype=np.uint8).reshape(4, 4)
    assert np.allclose(M.box_resize(a, 2, 2), [[2.5, 4.5], [10.5, 12.5]])
    ragged = np.ones((5, 7)) * 3.0
    assert np.allclose(M.box_resize(ragged, 2, 3), 3.0)

    digest = hashlib.sha256(b"11").digest()
    w, h = M._avi_dims(digest)
    src = M._avi_frame_pixels(digest, 0, w, h)
    blob = jpeg.encode_jpeg(src, quality=M._AVI_QUALITY)
    dec = jpeg.decode_jpeg(blob)
    got = M.box_resize(dec, 8, 8)
    want = M.box_resize(src, 8, 8)
    assert got.shape == want.shape == (8, 8, 3)
    assert np.abs(got - want).mean() < 3.0


def test_ahash_separates_content_and_survives_jpeg():
    """The perceptual hash must be stable across the JPEG round trip
    (same content -> same hash) and distinct across content keys."""
    from etl_backend_spark.multimodal import jpeg
    from etl_backend_spark.multimodal import media as M

    hashes = set()
    for key in range(25):
        src = M._noise_pixels(key, 16, 16)
        blob = jpeg.encode_jpeg(src, quality=M._AVI_QUALITY)
        h1 = M.ahash64(jpeg.decode_jpeg(blob))
        h2 = M.ahash64(jpeg.decode_jpeg(blob))
        assert h1 == h2  # decode is deterministic
        hashes.add(h1)
    assert len(hashes) == 25  # no collisions across contents


def test_codec_wall_time_budgets(spark):
    """Fixed-corpus decode budgets (VERDICT r5 task 4): the real-codec
    rows have no meaningful oracle ratio (the oracle validates values via
    digest arithmetic and decodes nothing), so codec regressions are
    caught here the way plan regressions are caught by explain asserts.
    Budgets are ~5x the measured medians (4.7 ms/image phash, 6.5
    ms/frame MJPEG sample at r6, including the per-action floor) — loose
    enough for this VM's 2.5-4x ambient noise, tight enough that an
    accidental quadratic parse or a per-row Python fallback trips them."""
    import time

    from pyspark.sql import functions as F

    from etl_backend_spark.registry.media import M
    from etl_backend_spark.sources.catalog import Catalog
    from tests.conftest import SF_DIR

    p = Catalog(spark, SF_DIR).table("part").limit(200)

    corpus = M.synthesize_jpeg_corpus(p, "p_partkey", n_contents=40)
    M.image_phash(corpus).write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    M.image_phash(corpus).write.format("noop").mode("overwrite").save()
    per_image_ms = (time.perf_counter() - t0) / 200 * 1000
    assert per_image_ms < 25, f"phash {per_image_ms:.1f} ms/image (budget 25)"

    clips = M.synthesize_avi_media(
        Catalog(spark, SF_DIR).table("part").limit(32), "p_partkey"
    )
    M.frame_sample_mjpeg(clips, n_frames=3).write.format("noop").mode(
        "overwrite").save()
    t0 = time.perf_counter()
    M.frame_sample_mjpeg(clips, n_frames=3).write.format("noop").mode(
        "overwrite").save()
    per_frame_ms = (time.perf_counter() - t0) / 96 * 1000
    assert per_frame_ms < 35, f"video {per_frame_ms:.1f} ms/frame (budget 35)"


def _rt_webp(px, **kw):
    import numpy as np

    from etl_backend_spark.multimodal import webp

    out = webp.decode_webp(webp.encode_webp_lossless(px, **kw))
    assert out.shape == px.shape
    assert np.array_equal(out, px)


def test_webp_vp8l_roundtrip_entropy_paths():
    """VP8L entropy layer is pixel-exact across: literals, simple and
    normal huffman codes, color cache (1..11 bits), and LZ77 runs via
    BOTH distance forms (the mapped neighborhood code and the direct
    120+d code — the encoder alternates them)."""
    import numpy as np

    rng = np.random.default_rng(7)
    _rt_webp(rng.integers(0, 256, (13, 17, 4), dtype=np.uint8))
    _rt_webp(rng.integers(0, 256, (13, 17, 4), dtype=np.uint8),
             use_subtract_green=False)
    _rt_webp(rng.integers(0, 256, (31, 29, 4), dtype=np.uint8), cache_bits=8)
    _rt_webp(np.full((9, 31, 4), 200, dtype=np.uint8), cache_bits=4)
    st = np.zeros((16, 16, 4), dtype=np.uint8)
    st[::2] = [10, 20, 30, 255]
    st[1::2] = [200, 100, 50, 255]
    _rt_webp(st, cache_bits=5)
    _rt_webp(rng.integers(0, 256, (1, 1, 4), dtype=np.uint8))
    _rt_webp((rng.integers(0, 4, (8, 8, 4), dtype=np.uint8) * 60).astype("uint8"),
             cache_bits=1)
    _rt_webp(rng.integers(0, 256, (24, 24, 4), dtype=np.uint8), cache_bits=11)


def test_webp_vp8l_roundtrip_all_transforms():
    """All four VP8L transforms invert pixel-exactly: predictor (tile
    modes cycle through all 14), cross-color (positive and negative
    signed deltas), subtract-green, and color-indexing at every packing
    width (8/4/2/1 pixels per byte), alone and stacked."""
    import numpy as np

    rng = np.random.default_rng(11)
    yy, xx = np.mgrid[0:24, 0:31]
    grad = np.stack([(xx * 3) % 256, (yy * 5) % 256, (xx + yy) % 256,
                     np.full_like(xx, 255)], axis=-1).astype(np.uint8)
    _rt_webp(grad, predictor_bits=3, use_subtract_green=False)
    _rt_webp(grad, predictor_bits=2, use_subtract_green=True)
    _rt_webp(grad, cross_color_bits=3, use_subtract_green=False)
    _rt_webp(grad, cross_color_bits=3, predictor_bits=2,
             use_subtract_green=True, cache_bits=5)
    _rt_webp(rng.integers(0, 256, (9, 9, 4), dtype=np.uint8),
             predictor_bits=2, use_subtract_green=False)
    pal_colors = np.array(
        [[10, 20, 30, 255], [200, 100, 50, 255], [0, 0, 0, 128],
         [255, 255, 255, 255], [1, 2, 3, 4], [5, 6, 7, 8],
         [9, 10, 11, 12], [13, 14, 15, 16]], dtype=np.uint8)
    for n in (2, 3, 7, 8):  # pbits 3/2/1/1
        img = pal_colors[rng.integers(0, n, (11, 13))]
        _rt_webp(img, use_palette=True, use_subtract_green=False)
    cols = rng.integers(0, 256, (40, 4), dtype=np.uint8)  # pbits 0
    _rt_webp(cols[rng.integers(0, 40, (10, 17))], use_palette=True,
             use_subtract_green=False)


def test_webp_lossy_stays_loud():
    """Lossy WebP ('VP8 ' chunk) is documented out of scope — the error
    must stay loud, never a silent fake decode (VP8X-wrapped LOSSLESS
    now unwraps; see test_webp_vp8x_wrapped_lossless)."""
    import struct

    import pytest as _pytest

    from etl_backend_spark.multimodal import media as M
    from etl_backend_spark.multimodal import webp

    lossy = (b"RIFF" + struct.pack("<I", 16) + b"WEBP"
             + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4)
    with _pytest.raises(webp.WebpError, match="lossy"):
        webp.decode_webp(lossy)
    with _pytest.raises(NotImplementedError, match="webp"):
        M.decode_one(lossy)


def _wrap_vp8x(file_bytes, inner=None):
    """Re-wrap a bare RIFF/WEBP file's chunks in a VP8X extended
    container (flags=alpha, canvas from the original), the shape cwebp
    emits whenever any feature flag is set."""
    import struct

    from etl_backend_spark.multimodal import webp

    w, h = webp.parse_webp_header(file_bytes)
    chunks = inner if inner is not None else file_bytes[12:]
    vp8x = (b"VP8X" + struct.pack("<I", 10) + bytes([0x10, 0, 0, 0])
            + struct.pack("<I", w - 1)[:3] + struct.pack("<I", h - 1)[:3])
    body = b"WEBP" + vp8x + chunks
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_webp_vp8x_wrapped_lossless():
    """VERDICT r6 #4: VP8X-wrapped VP8L (the common real-world lossless
    shape) decodes pixel-exactly via the container unwrap; lossy VP8
    inside VP8X still raises loudly; header parse sees through VP8X."""
    import struct

    import numpy as np
    import pytest as _pytest

    from etl_backend_spark.multimodal import webp

    rng = np.random.default_rng(23)
    px = rng.integers(0, 256, (11, 19, 4), dtype=np.uint8)
    bare = webp.encode_webp_lossless(px, predictor_bits=2)
    wrapped = _wrap_vp8x(bare)
    assert np.array_equal(webp.decode_webp(wrapped), px)
    assert webp.parse_webp_header(wrapped) == (19, 11)

    lossy_chunk = b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4
    with _pytest.raises(webp.WebpError, match="lossy"):
        webp.decode_webp(_wrap_vp8x(bare, inner=lossy_chunk))


def test_webp_predictor_border_rules_pin_spec():
    """ADVICE r6: pin the two spec rules that roundtrips alone cannot
    distinguish from their mirrored-wrong twins (both sides of an
    in-repo roundtrip would agree either way):

    * rightmost-column TR = leftmost pixel of the SAME row (RFC 9649
      §4.2.2, libwebp's flat-array top[1]) — NOT the row above;
    * Select (mode 11) resolves pL == pT ties to T (strict pL < pT
      picks L)."""
    import numpy as np

    from etl_backend_spark.multimodal import webp

    # mode-3 (= TR) everywhere via a single tile; 2x2 with distinct
    # left-column values so same-row vs row-above TR differ
    timg = np.full((1, 1), 0xFF000000 | (3 << 8), dtype=np.uint32)
    res = np.zeros((2, 2), dtype=np.uint32)
    res[0, 0] = webp._join(0, 0x10, 0x20, 0x30)  # + opaque-black pred
    res[1, 0] = webp._join(0, 0x05, 0x06, 0x07)  # + T pred (first col)
    out = webp._inverse_predictor(res, 8, timg)
    p00 = webp._join(0xFF, 0x10, 0x20, 0x30)
    p10 = webp._join(0xFF, 0x15, 0x26, 0x37)
    assert int(out[0, 0]) == p00
    assert int(out[1, 0]) == p10
    # (1,1): x+1 == w, residual 0 -> pixel IS its TR = out[1,0], not
    # the row-above out[0,0]
    assert int(out[1, 1]) == p10

    # Select tie: r-channel equidistant (p=15 vs L=10/T=20), all other
    # channels exactly predicted -> pl == pt -> spec says T
    L = webp._join(0xFF, 10, 0, 0)
    T = webp._join(0xFF, 20, 0, 0)
    TL = webp._join(0xFF, 15, 0, 0)
    assert webp._select(L, T, TL) == T


def test_webp_decode_one_real_pixels():
    """decode_one routes VP8L payloads through the real decoder: solid
    16x16 color -> exact dims, 4 channels, histogram mass in one bin."""
    import numpy as np

    from etl_backend_spark.multimodal import media as M
    from etl_backend_spark.multimodal import webp

    px = np.empty((16, 24, 4), dtype=np.uint8)
    px[...] = [40, 80, 120, 255]
    w, h, c, feats = M.decode_one(webp.encode_webp_lossless(px))
    assert (w, h, c) == (24, 16, 4)
    assert abs(float(feats.max()) - 1.0) < 1e-6  # all pixels in one bin


def test_webp_meta_huffman_roundtrip():
    """META-Huffman (multiple huffman groups over a tile grid — the one
    VP8L entropy path the earlier fixtures didn't drive): a checkerboard
    of two groups roundtrips pixel-exactly, alone, with cache+runs, and
    stacked under predictor + subtract-green."""
    import numpy as np

    rng = np.random.default_rng(3)
    _rt_webp(rng.integers(0, 256, (20, 27, 4), dtype=np.uint8), meta_bits=3)
    _rt_webp(
        np.repeat(rng.integers(0, 4, (12, 5, 4), dtype=np.uint8) * 70,
                  5, axis=1),
        meta_bits=2, cache_bits=4,
    )
    _rt_webp(rng.integers(0, 256, (16, 16, 4), dtype=np.uint8),
             meta_bits=2, predictor_bits=2, use_subtract_green=True)


def test_webp_decoder_never_hangs_or_crashes_on_truncation():
    """Corrupt-input robustness: every strict prefix of a valid VP8L file
    either raises WebpError (or the container IndexError-free variants)
    or — for prefixes that still contain every pixel — decodes; it must
    never raise a non-codec exception or loop forever."""
    import numpy as np

    from etl_backend_spark.multimodal import webp

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (9, 11, 4), dtype=np.uint8)
    data = webp.encode_webp_lossless(px, cache_bits=4)
    for cut in range(0, len(data), max(1, len(data) // 40)):
        try:
            out = webp.decode_webp(data[:cut])
            assert out.shape == px.shape  # only full-pixel prefixes succeed
        except webp.WebpError:
            pass  # the loud, typed failure is the contract


def test_resample_audio_halves_rate_and_matches_local_decimation(spark, cat):
    """2:1 box decimation through Spark equals a local numpy replay of the
    same payload: floor((s[2j]+s[2j+1])/2) on the mono mix, energy/peak/
    head/tail over the RESAMPLED signal. Floor (not truncate) on negative
    sums is part of the contract — the oracle spells it floor() because
    DuckDB's // truncates."""
    import numpy as np

    from etl_backend_spark.multimodal import media as M
    from etl_backend_spark.multimodal import wav

    p = cat.table("part").filter(F.col("p_partkey") <= 50)
    media = M.synthesize_wav_media(p, "p_partkey", "p_partkey")
    rows = {r.media_id: r for r in M.resample_audio(media).collect()}
    raw = {r.media_id: bytes(r.content)
           for r in media.select("media_id", "content").collect()}
    assert len(rows) == len(raw) > 0
    neg_head_seen = False
    for mid, blob in raw.items():
        _, _, samples = wav.decode_wav(blob)
        mono = samples.reshape(-1).astype(np.int64)
        res = mono.reshape(-1, 2).sum(axis=1) // 2
        r = rows[mid]
        assert (r.sample_rate, r.n_samples) == (4000, 64)
        assert r.energy == int((res ** 2).sum())
        assert r.peak == int(np.abs(res).max())
        assert (r.head_sample, r.tail_sample) == (int(res[0]), int(res[-1]))
        neg_head_seen = neg_head_seen or any(
            s < 0 and s % 2 != 0 for s in mono.reshape(-1, 2).sum(axis=1)
        )
    # the floor-vs-truncate distinction must actually be exercised
    assert neg_head_seen


def test_augment_flip_crop_matches_local_replay_and_flip_matters(spark, cat):
    """The augmented patch through Spark equals a local numpy replay of
    decode -> hflip -> center-crop on the same payload, and the flip is
    load-bearing: for the gradient payloads an unflipped crop yields a
    DIFFERENT checksum (so the test would catch a silently dropped flip)."""
    import numpy as np

    from etl_backend_spark.multimodal import media as M
    from etl_backend_spark.multimodal import png

    p = cat.table("part").filter(F.col("p_partkey") % 97 == 0)
    media = M.synthesize_gradient_png_media(p, "p_partkey")
    got = {r.media_id: r for r in M.augment_images(media, out=8).collect()}
    raw = {r.media_id: bytes(r.content)
           for r in media.select("media_id", "content").collect()}
    assert len(got) == len(raw) > 0
    flip_mattered = 0
    for mid, blob in raw.items():
        px = png.decode_png(blob)
        h, w, _ = px.shape
        x0, y0 = (w - 8) // 2, (h - 8) // 2
        crop = px[:, ::-1, :][y0:y0 + 8, x0:x0 + 8].astype(np.int64)
        r = got[mid]
        assert (r.width, r.height) == (w, h)
        assert r.checksum == int(crop.sum())
        assert (r.tl, r.tr, r.bl, r.br) == (
            int(crop[0, 0].sum()), int(crop[0, 7].sum()),
            int(crop[7, 0].sum()), int(crop[7, 7].sum()))
        # the center crop's x-range is mirror-symmetric, so the SUM is
        # flip-invariant by construction — orientation is pinned by the
        # corners: an unflipped crop must disagree on tl/tr
        plain = px[y0:y0 + 8, x0:x0 + 8].astype(np.int64)
        if (int(plain[0, 0].sum()), int(plain[0, 7].sum())) != (r.tl, r.tr):
            flip_mattered += 1
    assert flip_mattered > 0
