"""Multimodal binary-column plumbing — real Spark transport/batching.

Codec tiers under test: REAL pure-numpy/python codecs for public
dependency-free formats (binary PPM images, **PNG** via stdlib zlib +
numpy filter reconstruction, **baseline JPEG** via operators/jpeg —
tested in tests/test_jpeg.py, PCM-16 WAV audio, y4m video), plus the
deterministic fake decoders whose arithmetic the DuckDB oracles
mirror. Round 6 pulled progressive JPEG (tests/test_jpeg.py), the
MP4/MKV container layers (sample-table/EBML demux, MJPEG +
I_PCM-H.264 decode), the H.264 Annex-B layer, and the probe_media
dispatcher into the pure tier; only entropy-coded inter-frame decode,
arithmetic JPEG and WebP pixel decode still need PIL/PyAV — those
libraries aren't in this container, so those paths stay honestly
stubbed.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from finanalyzer_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    attach_metadata,
    decode_image_features,
    sample_video_frames,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (i, "image/png" if i % 2 == 0 else "video/mp4",
         bytes(range(256)) * (i + 1), None)
        for i in range(6)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_attach_metadata_jvm_side(media):
    out = attach_metadata(media).select("media_id", "meta_computed.*").collect()
    by_id = {r["media_id"]: r for r in out}
    assert by_id[0]["n_bytes"] == 256
    assert by_id[0]["sha1"] == hashlib.sha1(bytes(range(256))).hexdigest()


def test_decode_image_features_fake_path(media):
    feats = decode_image_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 6
    for r in rows:
        v = r["feature"]
        assert len(v) == 8
        # uniform byte distribution → uniform histogram
        assert abs(sum(v) - 1.0) < 1e-5
        assert max(v) - min(v) < 1e-6


def test_decode_image_features_feeds_similarity(spark, media):
    """decoded features are a valid input to the ANN operators."""
    from finanalyzer_spark.operators.similarity import cosine_topk

    feats = decode_image_features(media, fake=True).select(
        F.col("media_id").alias("vec_id"), F.col("feature").alias("embedding")
    )
    probe = feats.where("vec_id = 0")
    top = cosine_topk(feats, probe, k=3)
    assert top.count() == 3


def test_compressed_codec_path_is_stubbed(media):
    # non-PNG compressed payloads (no PIL/opencv here) still raise;
    # the pure PPM/PNG/WAV codecs run for real.
    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        decode_image_features(media, fake=False).collect()


def test_optional_codec_helpers_raise_without_deps():
    """The optional codec tier degrades honestly: without PIL/av the
    helpers raise NotImplementedError (never ImportError) so kernel
    error contracts stay uniform. Skipped assertion-by-assertion when
    the real codec IS installed (the env-gated tests cover that)."""
    from finanalyzer_spark.operators.multimodal import (
        decode_image_compressed,
        demux_video_compressed,
    )

    try:
        import PIL  # noqa: F401
    except ImportError:
        # WebP: outside the pure PNG/baseline-JPEG tier, needs PIL
        with pytest.raises(NotImplementedError, match="PIL"):
            decode_image_compressed(b"RIFF\x00\x00\x00\x00WEBPVP8 ")
    try:
        import av  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="PyAV"):
            next(demux_video_compressed(b"\x00\x00\x00 ftypmp42"))


def test_png_roundtrip_all_filter_types():
    """decode_png inverts encode_png for every spec filter type (0
    None, 1 Sub, 2 Up, 3 Average, 4 Paeth) — each reconstruction
    branch exercised on the same pixels, no codec library involved."""
    import numpy as np

    from finanalyzer_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    for f in range(5):
        buf = encode_png(px, filter_type=f)
        assert buf[:8] == b"\x89PNG\r\n\x1a\n"
        got = decode_png(buf)
        assert np.array_equal(got, px), f"filter {f}"


def test_png_grey_palette_alpha_color_types():
    """Hand-built PNGs for color types 0 (grey), 3 (palette) and 6
    (RGBA): the decoder maps each onto the (h, w, 3) RGB contract
    (grey replicated, palette looked up, alpha dropped)."""
    import struct
    import zlib

    import numpy as np

    from finanalyzer_spark.operators.multimodal import decode_png

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    sig = b"\x89PNG\r\n\x1a\n"

    def build(w, h, color, raw, plte=None):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        body = chunk(b"IHDR", ihdr)
        if plte is not None:
            body += chunk(b"PLTE", plte)
        return sig + body + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    # grey 2x2: filter 0 rows
    grey = build(2, 2, 0, b"\x00\x0a\x14" + b"\x00\x1e\x28")
    g = decode_png(grey)
    assert g.shape == (2, 2, 3)
    assert g[0, 0].tolist() == [10, 10, 10] and g[1, 1].tolist() == [40, 40, 40]

    # palette 2x1: indices 1, 0 into a 2-entry palette
    pal = build(2, 1, 3, b"\x00\x01\x00", plte=bytes([255, 0, 0, 0, 255, 0]))
    p = decode_png(pal)
    assert p[0, 0].tolist() == [0, 255, 0] and p[0, 1].tolist() == [255, 0, 0]

    # RGBA 1x2: alpha dropped
    rgba = build(1, 2, 6, b"\x00\x01\x02\x03\x80" + b"\x00\x05\x06\x07\xff")
    r = decode_png(rgba)
    assert r.shape == (2, 1, 3)
    assert r[0, 0].tolist() == [1, 2, 3] and r[1, 0].tolist() == [5, 6, 7]

    # 16-bit grey (big-endian 0x0a14): full tier decodes it, the RGB8
    # projection keeps the high byte
    ihdr16 = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    deep = (
        sig + chunk(b"IHDR", ihdr16)
        + chunk(b"IDAT", zlib.compress(b"\x00\x0a\x14"))
        + chunk(b"IEND", b"")
    )
    d = decode_png(deep)
    assert d.shape == (1, 1, 3) and d[0, 0].tolist() == [10, 10, 10]


def test_png_through_spark_kernel_matches_ppm(spark):
    """A PNG row and its equivalent PPM row must produce identical
    features through the REAL (fake=False) Spark decode path — the
    pure PNG tier drops in with zero plan changes."""
    import numpy as np

    from finanalyzer_spark.operators.multimodal import encode_png

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(6, 4, 3), dtype=np.uint8)
    png = encode_png(px, filter_type=4)
    ppm = b"P6\n4 6\n255\n" + px.tobytes()
    media = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(ppm))],
        "media_id long, content binary",
    )
    feats = {
        r["media_id"]: list(r["feature"])
        for r in decode_image_features(media, fake=False).collect()
    }
    assert feats[1] == feats[2]


def test_png_decode_via_pil_when_available(spark):
    """Env-gated REAL compressed decode (skipped in this container —
    no PIL): a PIL-encoded PNG must decode to the same histogram
    features as its equivalent PPM, proving the codec tier drops in
    without plan changes."""
    pytest.importorskip("PIL")  # container gate
    import io

    import numpy as np
    from PIL import Image

    from finanalyzer_spark.operators.multimodal import decode_image_compressed

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    buf = io.BytesIO()
    Image.fromarray(px, "RGB").save(buf, format="PNG")
    decoded = decode_image_compressed(buf.getvalue())
    assert np.array_equal(decoded, px)

    # and through the Spark kernel: PNG row == PPM row, same features
    ppm = b"P6\n4 5\n255\n" + px.tobytes()
    media = spark.createDataFrame(
        [(1, bytearray(buf.getvalue())), (2, bytearray(ppm))],
        "media_id long, content binary",
    )
    feats = {
        r["media_id"]: list(r["feature"])
        for r in decode_image_features(media, fake=False).collect()
    }
    assert feats[1] == feats[2]


def test_video_demux_via_av_when_available():
    """Env-gated REAL compressed video demux (skipped in this
    container — no PyAV/ffmpeg): an in-memory lossless-encoded clip
    must demux through demux_video_compressed into exactly its source
    frames as packed RGB24 bytes — the same (frame_no, frame_bytes)
    contract demux_y4m already proves natively, showing the `av` tier
    drops in without touching the Spark-side frame-sampling plumbing
    (operators/multimodal.py:350)."""
    av = pytest.importorskip("av")  # container gate
    import io

    import numpy as np

    from finanalyzer_spark.operators.multimodal import (
        demux_video_compressed,
    )

    rng = np.random.default_rng(11)
    frames = [
        rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        for _ in range(3)
    ]
    buf = io.BytesIO()
    with av.open(buf, mode="w", format="matroska") as container:
        stream = container.add_stream("ffv1", rate=5)  # lossless codec
        stream.width, stream.height, stream.pix_fmt = 16, 16, "rgb24"
        for px in frames:
            frame = av.VideoFrame.from_ndarray(px, format="rgb24")
            for packet in stream.encode(frame):
                container.mux(packet)
        for packet in stream.encode():
            container.mux(packet)
    got = list(demux_video_compressed(buf.getvalue()))
    assert [no for no, _ in got] == [0, 1, 2]
    for (_, raw), px in zip(got, frames):
        assert raw == px.tobytes()


def test_decode_ppm_real_pixels(spark):
    """The pure-numpy P6 codec recovers exact pixel values (incl.
    header comments), and the real feature path histograms decoded
    pixels, not raw file bytes."""
    import numpy as np

    from finanalyzer_spark.operators.multimodal import decode_ppm

    pixels = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
    ppm = b"P6\n# test comment\n2 2\n255\n" + pixels
    img = decode_ppm(ppm)
    assert img.shape == (2, 2, 3)
    assert img[0, 0].tolist() == [255, 0, 0]
    assert img[1, 1].tolist() == [10, 20, 30]

    df = spark.createDataFrame([(1, ppm)], "media_id long, content binary")
    got = decode_image_features(df, dim=8, fake=False).collect()[0]["feature"]
    hist, _ = np.histogram(np.frombuffer(pixels, dtype=np.uint8),
                           bins=8, range=(0, 256))
    want = (hist / hist.sum()).astype(np.float32)
    assert np.allclose(got, want)


def test_decode_wav_real_samples(spark):
    """encode_wav_pcm16 -> decode_wav round-trips the sample stream;
    the Spark kernel's rms/peak match a direct numpy computation."""
    import numpy as np

    from finanalyzer_spark.operators.multimodal import (
        decode_audio_features,
        decode_wav,
        encode_wav_pcm16,
    )

    samples = np.array([0, 1000, -2000, 32767, -32768, 5], dtype="<i2")
    wav = encode_wav_pcm16(samples.tobytes(), rate=44100, channels=2)
    rate, got = decode_wav(wav)
    assert rate == 44100
    assert got.shape == (3, 2)
    assert (got.ravel() == samples).all()

    df = spark.createDataFrame([(7, wav)], "media_id long, content binary")
    row = decode_audio_features(df, fake=False).collect()[0]
    s = samples.astype(np.float64)
    assert row["sample_rate"] == 44100
    assert row["n_frames"] == 3
    assert row["rms"] == pytest.approx(float(np.sqrt((s * s).mean())))
    assert row["peak"] == 32768


def test_resize_images_nearest(spark):
    """Nearest-neighbor resize picks source pixels via (i*src)//dst."""
    import numpy as np

    from finanalyzer_spark.operators.multimodal import resize_images

    src = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    ppm = b"P6\n4 4\n255\n" + src.tobytes()
    df = spark.createDataFrame([(3, ppm)], "media_id long, content binary")
    row = resize_images(df, target_h=2, target_w=2).collect()[0]
    assert (row["height"], row["width"]) == (2, 2)
    want = (src[[0, 2]][:, [0, 2]].astype(np.float32) / 255.0).ravel()
    assert np.allclose(row["pixels"], want)


def test_sample_video_frames_fake_path(media):
    frames = sample_video_frames(media, every_n_bytes=64, fake=True)
    got = frames.where("media_id = 0").orderBy("frame_no").collect()
    assert len(got) == 4  # 256 bytes / 64
    assert bytes(got[0]["frame"]) == bytes(range(64))
    assert [r["frame_no"] for r in got] == [0, 1, 2, 3]


def test_arrow_frame_sampler_matches_pandas_kernel(spark, media):
    """mapInArrow and mapInPandas frame samplers are row-identical —
    the Arrow variant just skips the per-row pandas bytes
    materialization (the copy that matters at media scale)."""
    from finanalyzer_spark.operators.multimodal import (
        sample_video_frames,
        sample_video_frames_arrow,
    )

    via_pandas = sample_video_frames(media, fake=True, every_n_bytes=16)
    via_arrow = sample_video_frames_arrow(media, every_n_bytes=16)
    assert via_arrow.count() == via_pandas.count() > 0
    assert via_arrow.exceptAll(via_pandas).count() == 0
    assert via_pandas.exceptAll(via_arrow).count() == 0


def test_demux_y4m_real_frames(spark):
    """The y4m demuxer walks header + FRAME markers and recovers exact
    plane bytes for C420 and mono; the Spark kernel routes y4m
    payloads through it under fake=False."""
    import numpy as np

    from finanalyzer_spark.operators.multimodal import (
        demux_y4m,
        sample_video_frames,
    )

    # 4x2 C420: 8 luma + 2*(2*1) chroma = 12 bytes/frame
    f0 = bytes(range(12))
    f1 = bytes(range(100, 112))
    y4m = b"YUV4MPEG2 W4 H2 F25:1 C420\n" + b"FRAME\n" + f0 + b"FRAME\n" + f1
    got = list(demux_y4m(y4m))
    assert got == [(0, f0), (1, f1)]

    mono = b"YUV4MPEG2 W3 H2 Cmono\n" + b"FRAME\n" + bytes(6)
    assert list(demux_y4m(mono)) == [(0, bytes(6))]

    df = spark.createDataFrame([(5, y4m)], "media_id long, content binary")
    rows = sample_video_frames(df, fake=False).orderBy("frame_no").collect()
    assert [(r["frame_no"], bytes(r["frame"])) for r in rows] == [(0, f0), (1, f1)]


def test_extract_patches_vit_grid(spark):
    """Patch extraction: raster order, exact values vs a direct numpy
    reshape, and perfect reassembly of the resized canvas."""
    import numpy as np

    from finanalyzer_spark.operators.multimodal import extract_patches

    rng = np.random.default_rng(11)
    h, w = 16, 16  # already the canvas size -> resize is identity
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    ppm = f"P6\n{w} {h}\n255\n".encode() + px.tobytes()
    df = spark.createDataFrame([(7, ppm)], "media_id long, content binary")

    patch, gh, gw = 8, 2, 2
    rows = extract_patches(df, patch=patch, grid_h=gh, grid_w=gw).collect()
    assert len(rows) == gh * gw
    got = {r["patch_no"]: np.array(r["patch"], dtype=np.float32) for r in rows}

    canvas = px.astype(np.float32) / 255.0
    want = (
        canvas.reshape(gh, patch, gw, patch, 3)
        .transpose(0, 2, 1, 3, 4)
        .reshape(gh * gw, patch * patch * 3)
    )
    for no in range(gh * gw):
        assert np.array_equal(got[no], want[no])

    # reassembly: patches stitched back == canvas
    stitched = (
        np.stack([got[no] for no in range(gh * gw)])
        .reshape(gh, gw, patch, patch, 3)
        .transpose(0, 2, 1, 3, 4)
        .reshape(h, w, 3)
    )
    assert np.array_equal(stitched, canvas)


def test_extract_patches_resizes_arbitrary_input(spark):
    """A non-divisible source image lands on the fixed ViT canvas."""
    import numpy as np

    from finanalyzer_spark.operators.multimodal import extract_patches

    px = np.arange(7 * 5 * 3, dtype=np.uint8).reshape(7, 5, 3)
    ppm = b"P6\n5 7\n255\n" + px.tobytes()
    df = spark.createDataFrame([(1, ppm)], "media_id long, content binary")
    rows = extract_patches(df, patch=4, grid_h=3, grid_w=2).collect()
    assert len(rows) == 6
    assert all(len(r["patch"]) == 4 * 4 * 3 for r in rows)


def test_decode_bmp_roundtrip_and_quirks():
    """BMP: 4-byte row padding (odd widths), bottom-up row order, and
    BGR channel order all round-trip exactly through the pure-numpy
    codec; top-down (negative height) files decode too."""
    import struct

    import numpy as np

    from finanalyzer_spark.operators.multimodal import decode_bmp, encode_bmp24

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (3, 5), (4, 4), (7, 2)]:  # odd widths -> padding
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp24(img)), img), (h, w)

    # top-down variant: flip the sign of the height field; rows are
    # then stored first-row-first
    img = rng.integers(0, 256, (3, 3, 3), dtype=np.uint8)
    buf = bytearray(encode_bmp24(img[::-1]))  # undo writer's flip
    buf[22:26] = struct.pack("<i", -3)
    assert np.array_equal(decode_bmp(bytes(buf)), img)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_bmp(b"XX" + b"\x00" * 60)
    # 8-bit BMP header -> honest NotImplementedError, not garbage
    bad = bytearray(encode_bmp24(img))
    bad[28:30] = struct.pack("<H", 8)
    with _pytest.raises(NotImplementedError):
        decode_bmp(bytes(bad))


def test_decode_wav_mulaw_branch(spark):
    """G.711 mu-law WAVs decode through the SAME Spark kernel as
    PCM-16 (decode_audio_features routes on the fmt chunk), with
    samples within the codec's quantization error of the original."""
    import numpy as np

    from finanalyzer_spark.operators.multimodal import (
        decode_audio_features,
        decode_wav,
        encode_wav_mulaw,
    )

    rng = np.random.default_rng(5)
    pcm = rng.integers(-30000, 30000, 400).astype(np.int16)
    buf = encode_wav_mulaw(pcm, rate=16000)
    rate, smp = decode_wav(buf)
    assert rate == 16000 and smp.shape == (400, 1)
    err = np.abs(pcm.astype(int) - smp.reshape(-1).astype(int))
    assert (err <= np.maximum(40, np.abs(pcm.astype(int)) * 0.04)).all()

    df = spark.createDataFrame(
        [(1, bytearray(buf))], "media_id long, content binary"
    )
    row = decode_audio_features(df).collect()[0]
    assert row.sample_rate == 16000 and row.n_frames == 400


def test_mp4_mux_demux_roundtrip():
    """mux_mp4_mjpeg → demux_mp4 recovers every sample byte-exactly
    (samples are independently-encoded baseline JPEGs), with the
    declared timeline (fps 10 → 100 ms decode timestamps from
    stts/mdhd) and every sample a keyframe (no stss box — the spec
    default)."""
    import numpy as np

    from finanalyzer_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from finanalyzer_spark.operators.mp4 import demux_mp4, mux_mp4_mjpeg

    rng = np.random.default_rng(5)
    frames = [
        np.clip(rng.integers(0, 256, (16, 24, 3)), 0, 255).astype(np.uint8)
        for _ in range(4)
    ]
    buf = mux_mp4_mjpeg(frames, fps=10, quality=85)
    samples = list(demux_mp4(buf))
    assert [s[1] for s in samples] == [0, 1, 2, 3]
    assert [s[2] for s in samples] == [0, 100000, 200000, 300000]
    assert all(s[3] for s in samples)          # all sync
    assert {s[4] for s in samples} == {"jpeg"}
    for (_, _, _, _, _, b), f in zip(samples, frames):
        assert b == encode_jpeg(f, quality=85)
        assert np.array_equal(decode_jpeg(b), decode_jpeg(b))

    with pytest.raises(ValueError, match="ISO BMFF"):
        list(demux_mp4(b"RIFF0000AVI "))
    with pytest.raises(ValueError, match="moov"):
        list(demux_mp4(buf[: buf.index(b"moov") - 4]))


def test_mp4_through_video_tier():
    """demux_video_compressed must route MJPEG-in-MP4 through the pure
    tier (ISO BMFF walk + pure JPEG decode) — same (frame_no,
    rgb24_bytes) contract as the AVI and y4m paths."""
    import numpy as np

    from finanalyzer_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from finanalyzer_spark.operators.mp4 import mux_mp4_mjpeg
    from finanalyzer_spark.operators.multimodal import (
        demux_video_compressed,
    )

    frames = [
        np.full((8, 8, 3), 40 * i + 10, dtype=np.uint8) for i in range(3)
    ]
    buf = mux_mp4_mjpeg(frames, fps=25, quality=90)
    got = list(demux_video_compressed(buf))
    assert [no for no, _ in got] == [0, 1, 2]
    for (_, raw), f in zip(got, frames):
        assert raw == decode_jpeg(encode_jpeg(f, quality=90)).tobytes()


def test_h264_ipcm_roundtrip_and_index():
    """The H.264 pure tier: encode_h264_ipcm emits a spec-valid
    baseline Annex-B stream (SPS/PPS/IDR, all-I_PCM macroblocks) that
    decode_h264_annexb recovers LOSSLESSLY at the YCbCr level;
    h264_stream_index reports NAL histogram / keyframes / SPS
    resolution without decoding.  A deliberate zero-valued block
    exercises emulation-prevention escaping (00 00 0x runs inside
    PCM samples)."""
    import numpy as np

    from finanalyzer_spark.operators.h264 import (
        _rgb_to_yuv420,
        decode_h264_annexb,
        encode_h264_ipcm,
        h264_stream_index,
        split_annexb,
    )

    rng = np.random.default_rng(9)
    frames = [rng.integers(0, 256, (32, 48, 3)).astype(np.uint8)]
    frames.append(np.zeros((32, 48, 3), dtype=np.uint8))  # 00-runs
    yuv = [_rgb_to_yuv420(f) for f in frames]
    buf = encode_h264_ipcm(yuv, yuv=True)

    idx = h264_stream_index(buf)
    assert (idx["width"], idx["height"]) == (48, 32)
    assert idx["n_idr"] == 2 and idx["profile_idc"] == 66

    dec = list(decode_h264_annexb(buf, yuv=True))
    assert len(dec) == 2
    for (_, got), want in zip(dec, yuv):
        for a, b in zip(got, want):
            assert np.array_equal(a, b)

    # smooth image → RGB round trip within color-conversion rounding
    yy, xx = np.mgrid[0:32, 0:48]
    smooth = np.stack([yy * 4, xx * 3, (yy + xx) * 2], axis=2).astype(
        np.uint8
    )
    rgb = next(iter(decode_h264_annexb(encode_h264_ipcm([smooth]))))[1]
    assert np.abs(rgb.astype(int) - smooth.astype(int)).max() <= 6

    with pytest.raises(ValueError, match="Annex-B"):
        list(split_annexb(b"\xff" * 40))
    with pytest.raises(ValueError, match="multiple-of-16"):
        encode_h264_ipcm([np.zeros((20, 20, 3), dtype=np.uint8)])


def test_h264_through_video_tier():
    """demux_video_compressed routes raw Annex-B streams through the
    pure I_PCM tier with the standard (frame_no, rgb24) contract."""
    import numpy as np

    from finanalyzer_spark.operators.h264 import encode_h264_ipcm
    from finanalyzer_spark.operators.multimodal import (
        demux_video_compressed,
    )

    frames = [np.full((16, 16, 3), 77, dtype=np.uint8)]
    got = list(demux_video_compressed(encode_h264_ipcm(frames)))
    assert len(got) == 1 and got[0][0] == 0
    arr = np.frombuffer(got[0][1], dtype=np.uint8).reshape(16, 16, 3)
    assert np.abs(arr.astype(int) - 77).max() <= 2


def test_mp4_avc1_track_info_and_pure_decode():
    """The avc1 path: mux_mp4_avc writes H.264-in-MP4 (avcC record,
    length-prefixed NAL samples, explicit stss); avc_track_info reads
    resolution/profile/keyframes from the avcC SPS + sample tables;
    mp4_avc_to_annexb reconstructs an Annex-B stream that the pure
    I_PCM decoder recovers LOSSLESSLY; demux_video_compressed routes
    the whole thing without PyAV."""
    import numpy as np

    from finanalyzer_spark.operators.h264 import (
        _rgb_to_yuv420,
        decode_h264_annexb,
    )
    from finanalyzer_spark.operators.mp4 import (
        avc_track_info,
        mp4_avc_to_annexb,
        mux_mp4_avc,
    )
    from finanalyzer_spark.operators.multimodal import (
        demux_video_compressed,
    )

    rng = np.random.default_rng(13)
    frames = [
        rng.integers(0, 256, (32, 32, 3)).astype(np.uint8) for _ in range(3)
    ]
    buf = mux_mp4_avc(frames, fps=10)
    info = avc_track_info(buf)
    assert (info["width"], info["height"]) == (32, 32)
    assert info["profile_idc"] == 66
    assert info["n_samples"] == 3 and info["n_keyframes"] == 3
    assert info["nal_length_size"] == 4

    want = [_rgb_to_yuv420(f) for f in frames]
    dec = list(decode_h264_annexb(mp4_avc_to_annexb(buf), yuv=True))
    assert len(dec) == 3
    for (_, got), w in zip(dec, want):
        for a, b in zip(got, w):
            assert np.array_equal(a, b)

    got = list(demux_video_compressed(buf))
    assert [no for no, _ in got] == [0, 1, 2]


def test_mkv_mux_demux_both_codecs():
    """The Matroska layer: mux_mkv writes EBML (header/Segment/Info/
    Tracks/Cluster/SimpleBlocks, explicit sizes, no lacing);
    mkv_track_index reads codec/dimensions/keyframe census;
    demux_video_compressed decodes V_MJPEG blocks via the pure JPEG
    decoder and V_MPEG4/ISO/AVC (avcC CodecPrivate + length-prefixed
    NALs) via the I_PCM Annex-B bridge — both with no codec library."""
    import numpy as np

    from finanalyzer_spark.operators.h264 import (
        _rgb_to_yuv420,
        decode_h264_annexb,
    )
    from finanalyzer_spark.operators.jpeg import encode_jpeg
    from finanalyzer_spark.operators.mkv import (
        demux_mkv,
        mkv_avc_to_annexb,
        mkv_track_index,
        mux_mkv,
        parse_mkv_tracks,
    )
    from finanalyzer_spark.operators.multimodal import (
        demux_video_compressed,
    )

    rng = np.random.default_rng(21)
    frames = [
        rng.integers(0, 256, (16, 32, 3)).astype(np.uint8) for _ in range(3)
    ]

    mj = mux_mkv(frames, codec="mjpeg", fps=25, quality=85)
    idx = mkv_track_index(mj)["tracks"][1]
    assert (idx["codec_id"], idx["width"], idx["height"]) == (
        "V_MJPEG", 32, 16,
    )
    assert idx["n_blocks"] == 3 and idx["n_keyframes"] == 3
    blocks = list(demux_mkv(mj))
    assert [b[2] for b in blocks] == [0, 40000, 80000]  # 25 fps → 40 ms
    for b, f in zip(blocks, frames):
        assert b[4] == encode_jpeg(f, quality=85)
    assert len(list(demux_video_compressed(mj))) == 3

    av = mux_mkv(frames, codec="avc", fps=25)
    assert (
        mkv_track_index(av)["tracks"][1]["codec_id"] == "V_MPEG4/ISO/AVC"
    )
    want = [_rgb_to_yuv420(f) for f in frames]
    dec = list(decode_h264_annexb(mkv_avc_to_annexb(av), yuv=True))
    for (_, got), w in zip(dec, want):
        for a, b in zip(got, w):
            assert np.array_equal(a, b)
    assert len(list(demux_video_compressed(av))) == 3

    with pytest.raises(ValueError, match="EBML"):
        parse_mkv_tracks(b"nope" * 8)


def test_bgop_container_timestamps_are_presentation_times():
    """Container timestamps for B-GOP streams: samples are stored in
    decode order, but Matroska block timestamps and MP4 composition
    times are PRESENTATION times — the muxers must derive them from
    POC display order (h264.display_order_from_annexb), or external
    players render the frames out of order."""
    import struct

    import numpy as np

    from finanalyzer_spark.operators.h264 import (
        display_order_from_annexb,
    )
    from finanalyzer_spark.operators.h264_inter import encode_h264_video
    from finanalyzer_spark.operators.mkv import (
        demux_mkv,
        mux_mkv_avc_stream,
    )
    from finanalyzer_spark.operators.mp4 import mux_mp4_avc

    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, (32, 32), dtype=np.uint8)
    frames = [
        (
            np.roll(base, i, axis=1).copy(),
            np.full((16, 16), 60 + i, np.uint8),
            np.full((16, 16), 90 - i, np.uint8),
        )
        for i in range(8)
    ]
    stream = encode_h264_video(
        frames, qp=26, yuv=True, gop=4, b_frames=1
    )
    # decode order per GOP of 4 is I P B P B → display I B P B P;
    # two closed GOPs, the helper must keep GOP 2 after GOP 1
    disp = display_order_from_annexb(stream)
    assert sorted(disp) == list(range(8))
    assert disp == [0, 2, 1, 3, 4, 6, 5, 7]

    # MKV: block timestamps equal display_index * ms_per_frame, so
    # sorting by timestamp recovers display order
    mkv = mux_mkv_avc_stream(stream, 32, 32, fps=25)
    ts = [t for _track, _no, t, _key, _f in demux_mkv(mkv)]
    assert ts == [d * 40_000 for d in disp]  # µs at 25 fps

    # MP4: a ctts box maps decode to presentation times; dts+offset
    # is a uniform shift of the display timeline (v0 unsigned layout)
    mp4 = mux_mp4_avc([], annexb=stream, fps=25)
    pos = mp4.find(b"ctts")
    assert pos != -1
    (n_ent,) = struct.unpack(">I", mp4[pos + 8 : pos + 12])
    offs: list[int] = []
    for i in range(n_ent):
        c, o = struct.unpack(
            ">II", mp4[pos + 12 + 8 * i : pos + 20 + 8 * i]
        )
        offs += [o] * c
    assert len(offs) == 8
    delta = 1000
    pts = [i * delta + o for i, o in enumerate(offs)]
    shifted = [p - min(pts) for p in pts]
    assert shifted == [d * delta for d in disp]

    # a stream with no reordering (P-only) must NOT grow a ctts box
    p_only = encode_h264_video(frames[:4], qp=26, yuv=True, gop=4)
    assert mux_mp4_avc([], annexb=p_only).find(b"ctts") == -1


def test_probe_media_identifies_every_pure_tier_format():
    """probe_media (ffprobe-lite) must identify modality / container /
    codec / dimensions from header bytes for every format the pure
    tier writes — and return kind='unknown' (never raise) on junk."""
    import numpy as np

    from finanalyzer_spark.operators.gif import encode_gif
    from finanalyzer_spark.operators.h264 import encode_h264_ipcm
    from finanalyzer_spark.operators.jpeg import (
        encode_jpeg,
        encode_jpeg_progressive,
    )
    from finanalyzer_spark.operators.mkv import mux_mkv
    from finanalyzer_spark.operators.mp4 import mux_mp4_avc, mux_mp4_mjpeg
    from finanalyzer_spark.operators.multimodal import (
        encode_wav_pcm16,
        probe_media,
    )

    img = np.full((8, 16, 3), 99, dtype=np.uint8)
    vid = np.full((16, 16, 3), 5, dtype=np.uint8)
    cases = {
        "jpeg": (encode_jpeg(img), ("image", "jfif", "jpeg", 16, 8)),
        "jpeg-prog": (
            encode_jpeg_progressive(img),
            ("image", "jfif", "jpeg-progressive", 16, 8),
        ),
        "gif": (encode_gif([img]), ("image", "gif", "gif-lzw", 16, 8)),
        "ppm": (
            b"P6\n16 8\n255\n" + img.tobytes(),
            ("image", "ppm", "ppm", 16, 8),
        ),
        "wav": (
            encode_wav_pcm16(b"\x01\x02" * 100, rate=8000, channels=1),
            ("audio", "wav", "pcm", None, None),
        ),
        "mp4-mjpeg": (
            mux_mp4_mjpeg([vid] * 2), ("video", "mp4", "mjpeg", None, None)
        ),
        "mp4-avc": (
            mux_mp4_avc([vid] * 2), ("video", "mp4", "h264", 16, 16)
        ),
        "mkv-avc": (
            mux_mkv([vid] * 2, codec="avc"),
            ("video", "mkv", "h264", 16, 16),
        ),
        "annexb": (
            encode_h264_ipcm([vid]), ("video", "annexb", "h264", 16, 16)
        ),
    }
    for name, (buf, want) in cases.items():
        p = probe_media(bytes(buf))
        got = (p["kind"], p["container"], p["codec"], p["width"], p["height"])
        assert got == want, (name, got, want)
    assert probe_media(b"\x00" * 64)["kind"] == "unknown"
    assert probe_media(b"xy")["kind"] == "unknown"


def test_probe_media_audio_metadata_branches():
    """FLAC STREAMINFO and MPEG-audio frame headers probe without any
    decode (indexing-only branches — decode has no pure tier)."""
    from finanalyzer_spark.operators.multimodal import probe_media

    body = bytearray(34)
    rate, channels, bits, total = 44100, 2, 16, 1_234_567
    body[10] = (rate >> 12) & 0xFF
    body[11] = (rate >> 4) & 0xFF
    body[12] = ((rate & 0xF) << 4) | ((channels - 1) << 1) | ((bits - 1) >> 4)
    body[13] = (((bits - 1) & 0xF) << 4) | ((total >> 32) & 0xF)
    body[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
    flac = b"fLaC" + bytes([0x80, 0, 0, 34]) + bytes(body)
    p = probe_media(flac)
    assert (p["kind"], p["codec"], p["sample_rate"], p["n_samples"],
            p["channels"]) == ("audio", "flac", 44100, 1_234_567, 2)

    mp3 = b"\xff\xfb\x90\x00" + b"\x00" * 100
    p = probe_media(mp3)
    assert (p["kind"], p["codec"], p["sample_rate"]) == (
        "audio", "mp3", 44100,
    )
    # ID3v2-tagged file: skip the syncsafe-sized tag first
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10 + mp3
    assert probe_media(id3)["codec"] == "mp3"


def test_probe_media_adts_duration_bitrate():
    """ADTS/AAC frame-header walk (r10): profile / rate / channels /
    frame count plus DURATION and average BIT RATE from the 13-bit
    aac_frame_length walk — closed-form checkable from the stub's
    construction (ISO 14496-3 fixed header, 1024 samples/frame)."""
    from finanalyzer_spark.operators.multimodal import (
        encode_adts_stub,
        probe_media,
    )

    # 5 frames of 7+57=64 bytes at 48 kHz stereo
    buf = encode_adts_stub(n_frames=5, rate=48000, channels=2,
                           body_bytes=57)
    p = probe_media(buf)
    assert (p["kind"], p["container"], p["codec"]) == (
        "audio", "adts", "aac-lc",
    )
    assert (p["sample_rate"], p["channels"], p["n_frames"],
            p["n_samples"]) == (48000, 2, 5, 5120)
    # duration = 5*1024/48000 s; bit_rate = 8*320 bytes / duration
    #          = 375 * 64 = 24000 bps exactly
    assert p["duration_s"] == round(5 * 1024 / 48000, 6)
    assert p["bit_rate"] == 24000

    # mono 44.1 kHz: channel config 1, rate from the SR index table
    buf = encode_adts_stub(n_frames=3, rate=44100, channels=1,
                           body_bytes=25)
    p = probe_media(buf)
    assert (p["sample_rate"], p["channels"], p["n_frames"]) == (
        44100, 1, 3,
    )
    assert p["duration_s"] == round(3 * 1024 / 44100, 6)
    assert p["bit_rate"] == round(8 * 3 * 32 / (3 * 1024 / 44100))

    # truncated mid-frame: the walk stops at the lost sync, fields
    # reflect only the complete frames
    p = probe_media(buf[: 32 + 16])
    assert p["n_frames"] == 1 and p["n_samples"] == 1024

    # MP3 duration/bit_rate from the same walk discipline (Xing path:
    # frame count from the header, rate-exact duration)
    from finanalyzer_spark.operators.multimodal import (
        encode_mpeg_audio_stub,
    )

    mp3 = encode_mpeg_audio_stub(n_frames=4, rate=44100, kbps=128,
                                 xing=True)
    p = probe_media(mp3)
    assert p["n_frames"] == 4
    assert p["duration_s"] == round(4 * 1152 / 44100, 6)
    assert p["bit_rate"] == round(8 * len(mp3) / (4 * 1152 / 44100))


def test_video_tier_review_fixes():
    """Round-6 review regressions: (a) an MKV with an extra audio
    track must decode ONLY the video track's frames (no mid-stream
    abort from JPEG-decoding audio payloads); (b) BlockGroup/Block
    elements (the mkvmerge/ffmpeg layout) demux like SimpleBlocks
    with keyframe = no-ReferenceBlock; (c) clips past the s16
    relative-timestamp range span multiple clusters; (d) probe_media
    frame counts come from structural walks, not byte-substring
    counts (AVI idx1 double-count, GIF LZW-byte false positives)."""
    import numpy as np

    from finanalyzer_spark.operators.gif import encode_gif
    from finanalyzer_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from finanalyzer_spark.operators.mkv import (
        _BLOCK,
        _BLOCK_GROUP,
        _CLUSTER,
        _CLUSTER_TS,
        _REFERENCE_BLOCK,
        _el,
        _el_uint,
        _vint_size,
        demux_mkv,
        mux_mkv,
    )
    from finanalyzer_spark.operators.multimodal import (
        demux_video_compressed,
        encode_mjpeg_avi,
        probe_media,
    )

    # (a) two-track MKV: inject an audio track + audio blocks into a
    # muxed file by rebuilding the Segment with extra elements
    import struct

    frames = [np.full((16, 16, 3), 60 + i, dtype=np.uint8) for i in range(2)]
    base = mux_mkv(frames, codec="mjpeg", fps=25, quality=90)
    # parse out the segment body and splice in an audio TrackEntry +
    # audio SimpleBlocks (track 2, junk payload)
    from finanalyzer_spark.operators.mkv import (
        _CODEC_ID,
        _SEGMENT,
        _SIMPLE_BLOCK,
        _TRACKS,
        _TRACK_ENTRY,
        _TRACK_NUMBER,
        _TRACK_TYPE,
        _elements,
    )

    seg = next(
        (lo, hi) for eid, lo, hi in _elements(base, 0, len(base))
        if eid == _SEGMENT
    )
    parts = []
    for eid, lo, hi in _elements(base, *seg):
        body = base[lo:hi]
        if eid == _TRACKS:
            audio = _el(
                _TRACK_ENTRY,
                _el_uint(_TRACK_NUMBER, 2)
                + _el_uint(0x73C5, 2)
                + _el_uint(_TRACK_TYPE, 2)  # audio
                + _el(_CODEC_ID, b"A_PCM/INT/LIT"),
            )
            parts.append(_el(_TRACKS, body + audio))
        elif eid == _CLUSTER:
            junk = _el(
                _SIMPLE_BLOCK,
                _vint_size(2) + struct.pack(">h", 0) + bytes([0x80])
                + b"not-a-jpeg-payload",
            )
            parts.append(_el(_CLUSTER, body + junk))
        else:
            parts.append(_el(eid, body))
    # rebuild: EBML header + new segment with the spliced elements
    ebml_end = next(
        hi for eid, _lo, hi in _elements(base, 0, len(base))
        if eid != _SEGMENT
    )
    two_track = base[:ebml_end] + _el(_SEGMENT, b"".join(parts))
    got = list(demux_video_compressed(two_track))
    assert len(got) == 2  # only the video track's frames
    want0 = decode_jpeg(encode_jpeg(frames[0], quality=90)).tobytes()
    assert got[0][1] == want0

    # (b) BlockGroup layout: wrap a JPEG payload in BlockGroup/Block,
    # one with a ReferenceBlock (non-key) and one without (key)
    jp = encode_jpeg(frames[0], quality=90)
    bg_key = _el(_BLOCK_GROUP, _el(
        _BLOCK, _vint_size(1) + struct.pack(">h", 0) + bytes([0]) + jp
    ))
    bg_ref = _el(_BLOCK_GROUP, _el(
        _BLOCK, _vint_size(1) + struct.pack(">h", 10) + bytes([0]) + jp
    ) + _el_uint(_REFERENCE_BLOCK, 1))
    seg2 = next(
        (lo, hi) for eid, lo, hi in _elements(base, 0, len(base))
        if eid == _SEGMENT
    )
    parts2 = []
    for eid, lo, hi in _elements(base, *seg2):
        if eid == _CLUSTER:
            parts2.append(
                _el(_CLUSTER, _el_uint(_CLUSTER_TS, 0) + bg_key + bg_ref)
            )
        else:
            parts2.append(_el(eid, base[lo:hi]))
    bg_file = base[:ebml_end] + _el(_SEGMENT, b"".join(parts2))
    blocks = list(demux_mkv(bg_file))
    assert [b[3] for b in blocks] == [True, False]  # key, then ref'd
    assert blocks[1][2] == 10_000  # 10 ms in us

    # (c) long clip: 821 frames at 25 fps = 32.8 s > s16 ms range
    long_frames = [
        np.full((16, 16, 3), i % 256, dtype=np.uint8) for i in range(821)
    ]
    long_buf = mux_mkv(long_frames, codec="mjpeg", fps=25, quality=60)
    long_blocks = list(demux_mkv(long_buf))
    assert len(long_blocks) == 821
    assert long_blocks[-1][2] == 820 * 40_000

    # (d) structural frame counts
    avi = encode_mjpeg_avi(
        [np.full((8, 8, 3), 10 * i, dtype=np.uint8) for i in range(3)]
    )
    assert probe_media(avi)["n_frames"] == 3  # not 6 (idx1 entries)
    gif = encode_gif([np.full((8, 8, 3), 7, dtype=np.uint8)])
    assert probe_media(gif)["n_frames"] == 1  # not LZW-byte matches


def test_probe_media_never_raises_on_adversarial_headers():
    """probe_media's documented contract: malformed payloads behind
    every magic number degrade to partial metadata, never exceptions
    (the review found NotImplementedError/struct.error escapes in the
    MP4 branch)."""
    from finanalyzer_spark.operators.multimodal import probe_media

    adversarial = [
        b"\x00\x00\x00\x14ftypmp42" + b"\x00" * 40,   # mp4, no moov
        b"\x00\x00\x00\x08ftyp" + b"\xff" * 60,        # mp4, junk boxes
        b"\x1aE\xdf\xa3" + b"\xff" * 60,               # ebml, junk
        b"\x00\x00\x00\x01\x67" + b"\xff" * 40,        # annexb junk SPS
        b"fLaC" + b"\x00" * 3,                          # truncated flac
        b"ID3\x04\x00\x00\x7f\x7f\x7f\x7f",            # id3, no frame
        b"GIF89a" + b"\x01\x00\x01\x00" + b"\xff" * 4,  # gif junk
        b"RIFF\x10\x00\x00\x00AVI " + b"\xff" * 30,    # avi junk
    ]
    for buf in adversarial:
        p = probe_media(buf)  # must not raise
        assert isinstance(p, dict) and "kind" in p


def test_probe_media_webp_and_tiff_dimensions():
    """WebP (VP8 lossy sync + 14-bit dims, VP8L packed dims, VP8X
    canvas) and TIFF (IFD0 tag 256/257 walk, both byte orders) probe
    dimensions natively even though their DECODE lives in the PIL
    tier."""
    import struct

    from finanalyzer_spark.operators.multimodal import probe_media

    vp8 = (
        b"RIFF" + (30).to_bytes(4, "little") + b"WEBPVP8 "
        + (20).to_bytes(4, "little") + b"\x00\x00\x00" + b"\x9d\x01\x2a"
        + (320).to_bytes(2, "little") + (240).to_bytes(2, "little")
        + b"\x00" * 10
    )
    p = probe_media(vp8)
    assert (p["container"], p["codec"], p["width"], p["height"]) == (
        "webp", "vp8", 320, 240,
    )

    bits = 99 | (49 << 14)  # w-1=99, h-1=49
    vp8l = (
        b"RIFF" + (20).to_bytes(4, "little") + b"WEBPVP8L"
        + (10).to_bytes(4, "little") + bytes([0x2F])
        + bits.to_bytes(4, "little") + b"\x00" * 5
    )
    p = probe_media(vp8l)
    assert (p["codec"], p["width"], p["height"]) == ("vp8l", 100, 50)

    for bo, magic in (("<", b"II*\x00"), (">", b"MM\x00*")):
        ifd = struct.pack(bo + "H", 2)
        ifd += struct.pack(bo + "HHIHH", 256, 3, 1, 640, 0)
        ifd += struct.pack(bo + "HHIHH", 257, 3, 1, 480, 0)
        tif = magic + struct.pack(bo + "I", 8) + ifd + struct.pack(bo + "I", 0)
        p = probe_media(tif)
        assert (p["container"], p["width"], p["height"]) == (
            "tiff", 640, 480,
        )
    # truncated variants must not raise (payloads under 12 bytes are
    # below the probe's magic-sniff minimum and return 'unknown')
    assert probe_media(b"RIFF\x00\x00\x00\x00WEBP")["container"] == "webp"
    assert (
        probe_media(b"II*\x00" + b"\xff" * 12)["container"] == "tiff"
    )
    assert probe_media(b"II*\x00\xff\xff\xff\xff")["kind"] == "unknown"


def test_h264_nonref_ipcm_slice_skips_dec_ref_pic_marking():
    """Spec 7.3.3 gates dec_ref_pic_marking() on nal_ref_idc != 0: an
    externally produced NON-reference I_PCM slice (nal_type=1,
    nal_ref_idc=0) carries no marking bits, so a decoder that reads
    them unconditionally desyncs.  Build one by hand (the encoder twin
    only emits IDR) and check lossless decode."""
    import numpy as np

    from finanalyzer_spark.operators.h264 import (
        NAL_SLICE,
        _BitWriter,
        _nal,
        _rgb_to_yuv420,
        decode_h264_annexb,
        encode_h264_ipcm,
        split_annexb,
    )

    rng = np.random.default_rng(21)
    frame = rng.integers(0, 256, (16, 32, 3)).astype(np.uint8)
    y, cb, cr = _rgb_to_yuv420(frame)
    idr_stream = encode_h264_ipcm([(y, cb, cr)], yuv=True)
    # keep the encoder's SPS/PPS NALs, replace the IDR slice with a
    # hand-written non-IDR, nal_ref_idc=0 slice (same I_PCM payload)
    sc = b"\x00\x00\x00\x01"
    nals = [sc + n for n in idr_stream.split(sc) if n]
    sps_pps = b"".join(nals[:2])
    s = _BitWriter()
    s.ue(0)        # first_mb_in_slice
    s.ue(7)        # slice_type: I (all slices in pic)
    s.ue(0)        # pps_id
    s.u(1, 8)      # frame_num
    # poc_type 2 → no poc syntax; nal_ref_idc=0 → NO dec_ref_pic_marking
    s.se(0)        # slice_qp_delta
    mbw, mbh = 2, 1
    for mb in range(mbw * mbh):
        s.ue(25)   # I_PCM
        s.byte_align_zero()
        my, mx = divmod(mb, mbw)
        for row in y[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16]:
            for v in row:
                s.u(int(v), 8)
        for blk in (cb, cr):
            for row in blk[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8]:
                for v in row:
                    s.u(int(v), 8)
    s.rbsp_trailing()
    stream = sps_pps + _nal(NAL_SLICE, 0, bytes(s.out))

    kinds = [(t, r) for t, r, _ in split_annexb(stream)]
    assert (NAL_SLICE, 0) in kinds  # really a non-reference slice
    dec = list(decode_h264_annexb(stream, yuv=True))
    assert len(dec) == 1
    gy, gcb, gcr = dec[0][1]
    assert np.array_equal(gy, y)
    assert np.array_equal(gcb, cb)
    assert np.array_equal(gcr, cr)


def test_malformed_mp4_missing_boxes_raises_value_error():
    """A structurally malformed MP4 (trak without mdia/stbl) must
    surface as ValueError from the pure walker — the contract
    demux_video_compressed catches to fall through to the PyAV tier —
    not as a TypeError subscript on a _find miss."""
    import struct as _s

    import pytest

    from finanalyzer_spark.operators.mp4 import demux_mp4
    from finanalyzer_spark.operators.multimodal import (
        demux_video_compressed,
    )

    def box(btype, payload):
        return _s.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    tkhd = box(b"tkhd", b"\x00" + b"\x00" * 3 + b"\x00" * 80)
    trak = box(b"trak", tkhd)  # mandatory mdia missing
    buf = ftyp + box(b"moov", box(b"mvhd", b"\x00" * 100) + trak)

    with pytest.raises(ValueError, match="mdia"):
        list(demux_mp4(buf))
    # the video tier must NOT crash: pure walker rejects → PyAV tier
    # (absent in this container) → NotImplementedError naming it
    with pytest.raises(NotImplementedError, match="PyAV|ffmpeg"):
        list(demux_video_compressed(buf))


def test_ima_adpcm_tables_and_roundtrip():
    """IMA/DVI ADPCM tier: published step-table invariants (89
    entries, endpoints 7..32767, ~1.1x growth law), index-adjust
    table, mono+stereo round trip at the codec's nominal quality,
    fact-chunk trimming for non-block-multiple lengths, and
    header-sample passthrough (each block's first frame is stored
    verbatim in the block header — bit-exact by construction)."""
    import numpy as np

    from finanalyzer_spark.operators.multimodal import (
        _IMA_INDEX_TABLE,
        _IMA_STEP_TABLE,
        decode_wav,
        encode_wav_ima_adpcm,
    )

    assert len(_IMA_STEP_TABLE) == 89
    assert _IMA_STEP_TABLE[0] == 7 and _IMA_STEP_TABLE[-1] == 32767
    assert list(_IMA_STEP_TABLE) == sorted(set(_IMA_STEP_TABLE))
    ratios = [
        _IMA_STEP_TABLE[i + 1] / _IMA_STEP_TABLE[i] for i in range(88)
    ]
    assert all(1.06 <= r <= 1.15 for r in ratios)
    assert _IMA_INDEX_TABLE == (-1, -1, -1, -1, 2, 4, 6, 8)

    rng = np.random.default_rng(11)
    t = np.arange(5000)
    x = (3000 * np.sin(t / 20) + rng.normal(0, 200, 5000)).astype(np.int16)
    buf = encode_wav_ima_adpcm(x, rate=8000, channels=1)
    rate, s = decode_wav(buf)
    assert rate == 8000 and s.shape == (5000, 1)  # fact-trimmed
    err = s[:, 0].astype(float) - x
    snr = 10 * np.log10((x.astype(float) ** 2).mean() / (err**2).mean())
    assert snr > 25.0, snr
    # block-header passthrough: first frame of every block bit-exact
    assert all(s[k, 0] == x[k] for k in range(0, 5000, 505))

    x2 = np.stack([x, x[::-1]], axis=1).astype(np.int16)
    buf2 = encode_wav_ima_adpcm(x2.reshape(-1), rate=16000, channels=2)
    rate2, s2 = decode_wav(buf2)
    assert rate2 == 16000 and s2.shape == x2.shape
    err2 = s2.astype(float) - x2
    snr2 = 10 * np.log10(
        (x2.astype(float) ** 2).mean() / (err2**2).mean()
    )
    assert snr2 > 25.0, snr2


def test_ima_adpcm_probe_dispatch_and_fuzz():
    """probe_media names the WAV codec from the fmt tag (pcm /
    g711-mulaw / ima-adpcm); decode_audio dispatches ADPCM WAVs
    through the same entry point the feature kernels use; and
    bit-flip fuzz over a valid stream fails closed (decodes or raises
    ValueError/NotImplementedError — never crashes, output always
    int16-bounded)."""
    import numpy as np

    from finanalyzer_spark.operators.multimodal import (
        decode_audio,
        decode_wav,
        encode_wav_ima_adpcm,
        encode_wav_mulaw,
        probe_media,
    )

    rng = np.random.default_rng(13)
    x = rng.integers(-2000, 2000, 1013).astype(np.int16)
    buf = encode_wav_ima_adpcm(x, rate=11025, channels=1)
    p = probe_media(buf)
    assert (p["kind"], p["container"], p["codec"]) == (
        "audio", "wav", "ima-adpcm",
    )
    assert p["sample_rate"] == 11025 and p["n_samples"] == 1013
    assert probe_media(encode_wav_mulaw(x))["codec"] == "g711-mulaw"

    rate, s = decode_audio(bytes(buf))
    assert rate == 11025 and s.shape == (1013, 1)

    ba = bytearray(buf)
    for _ in range(120):
        i = int(rng.integers(0, len(ba)))
        ba[i] ^= 1 << int(rng.integers(0, 8))
        try:
            _, out = decode_wav(bytes(ba))
            assert out.dtype == np.int16
        except (ValueError, NotImplementedError):
            pass


def test_containers_bridge_bgop_and_multiref_streams():
    """Round-7 container bridge: B-GOP and multi-reference H.264
    streams survive the MP4 and Matroska round trips — samples stay
    in decode order, keyframe flags/sync tables reflect NAL types
    (one IDR per GOP), and the re-framed Annex-B decodes to the
    encoder reconstruction in DISPLAY order via the POC buffer."""
    import numpy as np

    from finanalyzer_spark.operators.h264 import decode_h264_annexb
    from finanalyzer_spark.operators.h264_inter import encode_h264_video
    from finanalyzer_spark.operators.mkv import (
        mkv_avc_to_annexb,
        mkv_track_index,
        mux_mkv_avc_stream,
    )
    from finanalyzer_spark.operators.mp4 import (
        avc_track_info,
        mp4_avc_to_annexb,
        mux_mp4_avc,
    )

    ys, xs = np.mgrid[0:32, 0:48]
    base = ((ys * 3 + xs * 5) % 256).astype(np.uint8)
    frames = [
        (
            np.roll(base, i * 2, axis=1)[:, :32].copy(),
            np.full((16, 16), 60 + i, np.uint8),
            np.full((16, 16), 90 - i, np.uint8),
        )
        for i in range(6)
    ]
    for kw, n_idr in (
        ({"b_frames": 1}, 1),
        ({"refs": 2}, 1),
    ):
        rec: list = []
        stream = encode_h264_video(
            frames, qp=28, gop=6, yuv=True, search_range=2,
            recon_out=rec, **kw,
        )
        # --- MP4 round trip ---
        mp4 = mux_mp4_avc(None, fps=10, annexb=stream)
        info = avc_track_info(mp4)
        assert (info["width"], info["height"]) == (32, 32)
        assert info["n_samples"] == 6
        assert info["n_keyframes"] == n_idr
        dec = list(decode_h264_annexb(mp4_avc_to_annexb(mp4), yuv=True))
        assert len(dec) == 6
        for (_fn, got), want in zip(dec, rec):
            for g, x in zip(got, want):
                assert np.array_equal(g, x)
        # --- Matroska round trip ---
        mkv = mux_mkv_avc_stream(stream, 32, 32, fps=10)
        trk = mkv_track_index(mkv)["tracks"][1]
        assert trk["n_blocks"] == 6
        assert trk["n_keyframes"] == n_idr
        dec = list(decode_h264_annexb(mkv_avc_to_annexb(mkv), yuv=True))
        assert len(dec) == 6
        for (_fn, got), want in zip(dec, rec):
            for g, x in zip(got, want):
                assert np.array_equal(g, x)


def test_decode_bmp_32bit_bitfields_foreign_fixture():
    """The CPython test suite's python.bmp (BITMAPV4, 32bpp,
    BI_BITFIELDS — written by an external tool) must decode
    bit-identical to the same logo's foreign-certified PNG/TIFF/RAS/
    SGI decodes (the shared sha pin in tests/test_legacyimg.py) —
    a fifth independent format converging on one pixel truth."""
    import hashlib
    import os

    from finanalyzer_spark.operators.multimodal import decode_bmp

    p = (
        "/root/.pyenv/versions/3.11.7/lib/python3.11/test/imghdrdata/"
        "python.bmp"
    )
    if not os.path.exists(p):  # pragma: no cover
        pytest.skip("stdlib bmp fixture not present")
    px = decode_bmp(open(p, "rb").read())
    assert px.shape == (16, 16, 4)
    assert (
        hashlib.sha256(px.tobytes()).hexdigest()[:16] == "8f307041b5cb184d"
    )


def test_decode_bmp_32bit_bi_rgb_roundtrip():
    """Hand-built 32bpp BI_RGB (BGRA bytes, no masks): alpha carried
    through, bottom-up rows, no padding (rows are 4-byte multiples)."""
    import struct

    import numpy as np

    from finanalyzer_spark.operators.multimodal import decode_bmp

    img = np.arange(2 * 3 * 4, dtype=np.uint8).reshape(2, 3, 4)
    body = b"".join(
        bytes([img[y, x, 2], img[y, x, 1], img[y, x, 0], img[y, x, 3]])
        for y in (1, 0)
        for x in range(3)
    )
    buf = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 32, 0, len(body),
                      2835, 2835, 0, 0)
        + body
    )
    assert np.array_equal(decode_bmp(buf), img)


def test_probe_media_mpeg_audio_full_metadata():
    """Round-9 probe tier: MP3 Xing frame counts, CBR frame walks,
    ADTS (AAC) frame walks — duration/bitrate metadata WITHOUT any
    entropy decode (the decode tier refuses perceptual codecs; the
    probe still buckets them, VERDICT r8 #7)."""
    from finanalyzer_spark.operators.multimodal import (
        encode_adts_stub,
        encode_mpeg_audio_stub,
        probe_media,
    )

    # Xing (VBR header) takes precedence and its count is authoritative
    p = probe_media(encode_mpeg_audio_stub(n_frames=25, xing=True))
    assert (p["kind"], p["container"], p["codec"]) == (
        "audio", "mpeg", "mp3")
    assert (p["sample_rate"], p["channels"]) == (44100, 2)
    assert (p["n_frames"], p["n_samples"]) == (25, 25 * 1152)
    # CBR: frame-length walk, mono side-info offset
    p = probe_media(encode_mpeg_audio_stub(n_frames=7, channels=1,
                                           xing=False))
    assert (p["n_frames"], p["n_samples"], p["channels"]) == (
        7, 7 * 1152, 1)
    # 48 kHz / 192 kbps variant exercises the table lookups
    p = probe_media(encode_mpeg_audio_stub(n_frames=4, rate=48000,
                                           kbps=192, xing=False))
    assert (p["sample_rate"], p["n_frames"]) == (48000, 4)
    # ID3v2 prefix skipped via the syncsafe size
    id3 = (b"ID3\x03\x00\x00\x00\x00\x00\x0a" + bytes(10)
           + encode_mpeg_audio_stub(n_frames=3, xing=False))
    assert probe_media(id3)["n_frames"] == 3
    # ADTS AAC: profile/rate/channels from the fixed header, count
    # from the 13-bit frame-length walk, 1024 samples per frame
    p = probe_media(encode_adts_stub(n_frames=9, rate=48000))
    assert (p["kind"], p["container"], p["codec"]) == (
        "audio", "adts", "aac-lc")
    assert (p["sample_rate"], p["channels"]) == (48000, 2)
    assert (p["n_frames"], p["n_samples"]) == (9, 9 * 1024)


def test_probe_media_names_cabac_refusal():
    """Round-9 probe tier: a CABAC-flagged H.264 stream probes as
    codec 'h264-cabac' in every container (Annex-B, MP4, MKV) — the
    pure decode tier refuses CABAC (exact-or-refuse, SCALE.md §media)
    and the probe must NAME the reason (VERDICT r8 #5)."""
    import numpy as np

    from finanalyzer_spark.operators.h264 import (
        NAL_PPS,
        NAL_SPS,
        _nal,
        write_sps_pps,
    )
    from finanalyzer_spark.operators.mkv import mux_mkv
    from finanalyzer_spark.operators.multimodal import probe_media

    sps, pps = write_sps_pps(4, 4, cabac=True)
    annexb = _nal(NAL_SPS, 3, sps) + _nal(NAL_PPS, 3, pps)
    p = probe_media(annexb)
    assert (p["container"], p["codec"]) == ("annexb", "h264-cabac")
    assert (p["width"], p["height"]) == (64, 64)
    # CAVLC control: plain h264
    sps, pps = write_sps_pps(4, 4, cabac=False)
    cavlc = _nal(NAL_SPS, 3, sps) + _nal(NAL_PPS, 3, pps)
    assert probe_media(cavlc)["codec"] == "h264"
    # the I_PCM MKV fixture (CAVLC-free baseline) stays plain h264
    vid = np.full((16, 16, 3), 7, dtype=np.uint8)
    assert probe_media(bytes(mux_mkv([vid], codec="avc")))["codec"] == "h264"


def _ogg_page(serial, seq, body, htype=0, granule=0):
    import struct as _s
    import zlib

    segs = []
    n = len(body)
    while n >= 255:
        segs.append(255)
        n -= 255
    segs.append(n)
    head = (b"OggS" + bytes([0, htype])
            + _s.pack("<q", granule) + _s.pack("<II", serial, seq)
            + b"\x00\x00\x00\x00" + bytes([len(segs)]) + bytes(segs))
    page = bytearray(head + body)
    # real CRC not needed: probe_media never validates it (metadata
    # pass), but keep the field zeroed consistently
    return bytes(page)


def test_probe_media_ogg_vorbis_and_opus():
    """Round-9 probe tier: Ogg pages walk without decode — Vorbis id
    header yields channels/rate, OpusHead pins the 48 kHz granule
    clock, page count and final granule position reported."""
    import struct as _s

    from finanalyzer_spark.operators.multimodal import probe_media

    vorbis_id = (b"\x01vorbis" + _s.pack("<I", 0) + bytes([2])
                 + _s.pack("<I", 44100) + bytes(16))
    stream = (
        _ogg_page(7, 0, vorbis_id, htype=0x02, granule=0)
        + _ogg_page(7, 1, b"\x05vorbisdata", granule=1024)
        + _ogg_page(7, 2, b"\x05more", granule=4096)
    )
    p = probe_media(stream)
    assert (p["kind"], p["container"], p["codec"]) == (
        "audio", "ogg", "vorbis")
    assert (p["sample_rate"], p["channels"]) == (44100, 2)
    assert (p["n_frames"], p["n_samples"]) == (3, 4096)

    opus_id = (b"OpusHead" + bytes([1, 2]) + _s.pack("<H", 312)
               + _s.pack("<I", 16000) + bytes(3))
    p = probe_media(_ogg_page(9, 0, opus_id, htype=0x02)
                    + _ogg_page(9, 1, b"payload", granule=960))
    assert (p["codec"], p["sample_rate"], p["channels"]) == (
        "opus", 48000, 2)
    assert p["n_samples"] == 960


def test_probe_media_exif_orientation():
    """JPEG probing reads EXIF orientation (tag 274, both byte orders)
    from the APP1 segment — the flag a decode pipeline must apply
    before any resize/patch step; absent or malformed EXIF yields
    None, never an exception."""
    import struct

    import numpy as np

    from finanalyzer_spark.operators.jpeg import encode_jpeg
    from finanalyzer_spark.operators.multimodal import probe_media

    plain = encode_jpeg(np.full((8, 8, 3), 50, dtype=np.uint8),
                        quality=80)
    assert probe_media(plain)["exif_orientation"] is None

    def with_exif(tiff):
        body = b"Exif\x00\x00" + tiff
        app1 = b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body
        return plain[:2] + app1 + plain[2:]

    tiff_be = (b"MM" + struct.pack(">H", 42) + struct.pack(">I", 8)
               + struct.pack(">H", 1)
               + struct.pack(">HHI", 274, 3, 1)
               + struct.pack(">HH", 6, 0) + struct.pack(">I", 0))
    p = probe_media(with_exif(tiff_be))
    assert (p["exif_orientation"], p["width"], p["height"]) == (6, 8, 8)
    tiff_le = (b"II" + struct.pack("<H", 42) + struct.pack("<I", 8)
               + struct.pack("<H", 1)
               + struct.pack("<HHI", 274, 3, 1)
               + struct.pack("<HH", 3, 0) + struct.pack("<I", 0))
    assert probe_media(with_exif(tiff_le))["exif_orientation"] == 3
    # out-of-range and truncated EXIF degrade to None
    tiff_bad = (b"MM" + struct.pack(">H", 42) + struct.pack(">I", 8)
                + struct.pack(">H", 1)
                + struct.pack(">HHI", 274, 3, 1)
                + struct.pack(">HH", 9, 0) + struct.pack(">I", 0))
    assert probe_media(with_exif(tiff_bad))["exif_orientation"] is None
    assert probe_media(with_exif(b"MM\x00"))["exif_orientation"] is None


def test_id3v2_roundtrip_and_dirty_tags():
    """ID3v2.3 write/parse round trip plus the dirty-tag contract: a
    metadata pass must skip unknown encodings, non-text frames and
    padding rather than abort (r10)."""
    from finanalyzer_spark.operators.multimodal import (
        encode_id3v2_stub,
        encode_mpeg_audio_stub,
        parse_id3v2,
        probe_media,
    )

    fields = {"TIT2": "A Title", "TPE1": "An Artist", "TALB": "Album!",
              "TRCK": "12"}
    tag = encode_id3v2_stub(fields)
    assert parse_id3v2(tag) == fields
    # tag + audio: parser reads the tag, probe skips it to the frames
    buf = tag + encode_mpeg_audio_stub(n_frames=4, xing=True)
    assert parse_id3v2(buf) == fields
    p = probe_media(buf)
    assert (p["codec"], p["n_frames"]) == ("mp3", 4)

    # non-latin-1 corpus text must not abort the tag write: the
    # encoder falls back to UTF-16-with-BOM and the round trip is
    # still lossless (r11, ADVICE)
    exotic = {"TIT2": "héllo 世界 🎵", "TPE1": "ascii ok"}
    round2 = parse_id3v2(encode_id3v2_stub(exotic))
    assert round2 == exotic
    tag2 = encode_id3v2_stub(exotic)
    assert tag2[10:14] == b"TIT2" and tag2[20:21] == b"\x01"  # enc byte

    # UTF-16 text frame (encoding byte 1, BOM) parses too
    payload = b"\x01" + "Grüße".encode("utf-16")
    frame = b"TIT2" + len(payload).to_bytes(4, "big") + b"\x00\x00" + payload
    size = len(frame)
    ss = bytes([(size >> 21) & 0x7F, (size >> 14) & 0x7F,
                (size >> 7) & 0x7F, size & 0x7F])
    assert parse_id3v2(b"ID3\x03\x00\x00" + ss + frame) == {
        "TIT2": "Grüße"}

    # dirty tags: unknown encoding byte, binary APIC frame, padding —
    # all skipped, the good frame still comes back
    good = b"\x00Good"
    gframe = b"TALB" + len(good).to_bytes(4, "big") + b"\x00\x00" + good
    bad = b"\x09????"
    bframe = b"TIT2" + len(bad).to_bytes(4, "big") + b"\x00\x00" + bad
    apic = b"APIC" + (4).to_bytes(4, "big") + b"\x00\x00" + b"\xff\xd8\xff\xe0"
    body = bframe + apic + gframe + b"\x00" * 16
    size = len(body)
    ss = bytes([(size >> 21) & 0x7F, (size >> 14) & 0x7F,
                (size >> 7) & 0x7F, size & 0x7F])
    assert parse_id3v2(b"ID3\x03\x00\x00" + ss + body) == {"TALB": "Good"}

    # no tag at all -> {}
    assert parse_id3v2(b"\xff\xfb\x90\x00" + bytes(32)) == {}


_LOSSLESS_IMAGE_CODECS = ("qoi", "tiff", "png", "tga", "pcx", "ico")


def test_lossless_image_round_trips_share_one_oracle():
    """Each lossless image round trip is one `_pixel_stats_query` call:
    the shared oracle, its own name, doc and codec tag."""
    from finanalyzer_spark.plans import REGISTRY
    from finanalyzer_spark.plans.multimodal import _PIXEL_STATS_ORACLE

    docs = set()
    for codec in _LOSSLESS_IMAGE_CODECS:
        name = f"media_{codec}_pixel_stats"
        spec = REGISTRY[name]
        assert spec.oracle == _PIXEL_STATS_ORACLE
        assert spec.fn.__name__ == name
        assert spec.doc
        assert codec in spec.tags
        docs.add(spec.doc)
    assert len(docs) == len(_LOSSLESS_IMAGE_CODECS)


def test_registry_import_leaves_image_codecs_unloaded():
    """Codec modules load inside the Python worker, not when the
    registry is imported (a fresh interpreter, since other tests
    import the codecs directly)."""
    import subprocess
    import sys
    from pathlib import Path

    mods = [f"finanalyzer_spark.operators.{c}" for c in _LOSSLESS_IMAGE_CODECS]
    code = (
        "import sys, finanalyzer_spark.plans; "
        f"print([m for m in {mods!r} if m in sys.modules])"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        check=True, cwd=Path(__file__).resolve().parents[1],
    )
    assert out.stdout.strip() == "[]"
