"""Multimodal columns — image/audio/video as opaque binary + typed
metadata (BASELINE.json extension surface).

Design: media rides in a `binary` column next to a metadata struct
(mime, width/height or sample_rate/duration, byte size, content hash).
All transport/partitioning/batching is real Spark. Two codec tiers:

* **Real codecs, zero external libraries** — pure-python/numpy
  decoders (each with an encoder twin for fixtures) covering: PPM
  (Netpbm P6), PNG (stdlib-zlib inflate + numpy filter
  reconstruction), baseline JPEG (Huffman + IDCT, 4:4:4/4:2:2/4:2:0,
  restart markers — operators/jpeg.py), GIF87a/89a (variable-width
  LZW, interlace, animation/disposal — operators/gif.py), BMP,
  PCM-16 + G.711 mu-law + IMA/DVI ADPCM WAV, FLAC (operators/flac.py — lossless
  fixed-prediction + Rice tier, CRC/MD5-verified), Y4M frames,
  MJPEG-in-AVI demux (RIFF
  walk), Matroska/WebM EBML demux (operators/mkv.py: track/codec/
  keyframe indexing; V_MJPEG + avcC-H.264 blocks decode fully),
  MP4/ISO-BMFF sample-table demux (operators/mp4.py:
  stsz/stco/stsc/stts/stss walk — codec-agnostic keyframe indexing,
  full decode for MJPEG-in-MP4), and an H.264 Annex-B layer
  (operators/h264.py: NAL/SPS/PPS parsing — resolution/profile/IDR
  indexing for ANY stream, lossless I_PCM pixel decode, and — via
  operators/h264_cavlc — CAVLC-entropy I_4x4/I_16x16 intra decode
  with full spatial prediction); round 6 added progressive JPEG
  (SOF2: spectral selection + successive approximation) to the pure
  tier. Remaining tiers are import-guarded, honest
  NotImplementedError otherwise: arithmetic-coded JPEG and WebP
  route to PIL when importable (`decode_image_compressed`);
  inter-frame video DECODE (H.264/HEVC pixels, MKV) routes to PyAV
  (`demux_video_compressed`). The kernel signature, Arrow batch
  shape, and output schema are identical across tiers, so a codec
  upgrade never touches a plan.
* **Deterministic fake decoders** (`fake=True`) — byte-histogram /
  byte-slice paths with exact DuckDB oracles, used by the registry
  queries.

Scale notes:
* binary payloads make rows wide — `spark.sql.files.maxPartitionBytes`
  governs scan parallelism, and `mapInPandas` streams Arrow batches so
  an executor never holds a partition of raw media in one list.
* metadata lives in a separate (or pruned) column — predicate
  pushdown on mime/size never touches the bytes.
* feature outputs (embeddings, frames) are array<float>/binary columns
  feeding the similarity operators (operators/similarity.py).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rows import map_rows

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("mime", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("sha1", T.StringType()),
                ]
            ),
        ),
    ]
)


def decode_ppm(buf: bytes):
    """Pure-numpy decoder for binary PPM (Netpbm P6, maxval<=255) —
    a public format documented at netpbm.sourceforge.net/doc/ppm.html.

    Returns an (height, width, 3) uint8 pixel array. Raises ValueError
    on a non-P6 payload so callers can route other mimes elsewhere."""
    import numpy as np

    pos, tokens = 0, []
    while len(tokens) < 4:
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if buf[pos : pos + 1] == b"#":  # comment runs to end of line
            while pos < len(buf) and buf[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        tokens.append(buf[start:pos])
    if tokens[0] != b"P6":
        raise ValueError(f"not a binary PPM (magic {tokens[0]!r})")
    w, h, maxval = int(tokens[1]), int(tokens[2]), int(tokens[3])
    if maxval > 255:
        raise NotImplementedError("16-bit-per-sample PPM not supported")
    pos += 1  # exactly one whitespace byte separates header from raster
    data = np.frombuffer(buf, dtype=np.uint8, count=w * h * 3, offset=pos)
    return data.reshape(h, w, 3)


def decode_wav(buf: bytes):
    """Pure-numpy decoder for PCM-16 RIFF/WAVE audio (public format,
    IBM/Microsoft Multimedia Programming Interface spec).

    Returns (sample_rate, samples) with samples shaped
    (n_frames, n_channels) int16. Also decodes G.711 mu-law (WAVE
    format 7, 8-bit — the telephony codec; expansion per ITU-T G.711)
    and IMA/DVI ADPCM (format 0x11, 4-bit adaptive delta blocks;
    output trimmed to the fact-chunk frame count when present) to the
    same int16 range. ValueError on non-WAV payloads;
    NotImplementedError for other compressed encodings."""
    import struct

    import numpy as np

    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, data, fmt = 12, None, None, None, None
    block_align, fact_frames = None, None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError(f"fmt chunk too short ({len(body)} < 16 bytes)")
            audio_format, channels, rate = struct.unpack("<HHI", body[:8])
            block_align = struct.unpack("<H", body[12:14])[0]
            bits = struct.unpack("<H", body[14:16])[0]
            if not (
                (audio_format == 1 and bits in (8, 16, 24, 32))
                or (audio_format == 3 and bits == 32)
                or (audio_format == 6 and bits == 8)
                or (audio_format == 7 and bits == 8)
                or (audio_format == 0x11 and bits == 4)
            ):
                raise NotImplementedError(
                    f"only PCM 8/16/24/32, float32, G.711 and IMA-ADPCM"
                    f" supported (format={audio_format}, bits={bits})"
                )
            fmt = audio_format
        elif cid == b"fact" and len(body) >= 4:
            fact_frames = struct.unpack("<I", body[:4])[0]
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if channels == 0:
        raise ValueError("fmt chunk declares 0 channels")
    if fmt == 0x11:
        if not block_align or block_align < 4 * channels:
            raise ValueError("ADPCM fmt declares unusable block align")
        samples = _ima_adpcm_decode_blocks(data, channels, block_align)
        if fact_frames is not None:
            samples = samples[:fact_frames]
        return rate, samples
    if fmt == 7:
        u = np.frombuffer(data, dtype=np.uint8)
        n = (len(u) // channels) * channels
        samples = _mulaw_expand(u[:n]).reshape(-1, channels)
        return rate, samples
    if fmt == 6:  # G.711 A-law (RFC 2361 tag 6)
        from .g711 import alaw_decode

        u = np.frombuffer(data, dtype=np.uint8)
        n = (len(u) // channels) * channels
        return rate, alaw_decode(u[:n]).reshape(-1, channels)
    if fmt == 3:  # IEEE float32, nominal [-1, 1] -> int16
        n = (len(data) // (4 * channels)) * 4 * channels
        f32 = np.frombuffer(data[:n], dtype="<f4").astype(np.float64)
        samples = np.clip(np.round(f32 * 32767.0), -32768, 32767)
        return rate, samples.astype(np.int16).reshape(-1, channels)
    nb = bits // 8
    n = (len(data) // (nb * channels)) * nb * channels
    data = data[:n]
    if nb == 1:  # WAV 8-bit PCM is UNSIGNED
        flat = (
            np.frombuffer(data, dtype=np.uint8).astype(np.int16) - 128
        ) << 8
    elif nb == 2:
        flat = np.frombuffer(data, dtype="<i2").astype(np.int16)
    else:  # 24/32-bit little-endian: keep the top 16 bits
        a = np.frombuffer(data, dtype=np.uint8).reshape(-1, nb)
        hi = a[:, -1].astype(np.int8).astype(np.int32) << 8
        flat = (hi | a[:, -2]).astype(np.int16)
    return rate, flat.reshape(-1, channels)


def decode_audio(buf: bytes):
    """Container-dispatching audio decode: RIFF/WAVE (PCM-16,
    G.711 mu-law, IMA ADPCM) via decode_wav, or FLAC via the pure lossless tier
    (operators/flac.decode_flac, 16-bit).  Returns (sample_rate,
    samples) with samples (n_frames, n_channels) in int16 range —
    the one entry point decode_audio_features routes through, so a
    mixed WAV/FLAC corpus needs no per-format plumbing."""
    import numpy as np

    if buf[:4] == b"fLaC":
        from .flac import decode_flac

        info, samples = decode_flac(buf)
        return info["sample_rate"], samples.astype(np.int16)
    if buf[:4] == b"OggS":
        # Ogg-FLAC remuxes to the native stream and rides the
        # certified FLAC tier; other Ogg codecs refuse by name there
        from .flac import decode_flac
        from .oggflac import demux_ogg_flac

        info, samples = decode_flac(demux_ogg_flac(buf))
        return info["sample_rate"], samples.astype(np.int16)
    if buf[:4] == b".snd":
        from .aiffau import decode_au

        return decode_au(buf)
    if buf[:4] == b"FORM" and buf[8:12] in (b"AIFF", b"AIFC"):
        from .aiffau import decode_aiff

        return decode_aiff(buf)
    return decode_wav(buf)


def _mulaw_expand(u):
    """ITU-T G.711 mu-law byte -> linear int16 expansion (vectorized).
    Delegates to operators/g711.py, which is exhaustively conformance-
    tested against the audioop C reference (tests/test_g711.py)."""
    from .g711 import ulaw_decode

    return ulaw_decode(u)


#: IMA/DVI ADPCM step-size table (89 entries; IMA Digital Audio
#: Focus/Technical Working Groups "Recommended Practices for
#: Enhancing Digital Audio Compatibility", 1992 — the table every
#: WAVE format-0x11 implementation shares). Structural invariants
#: (length, endpoints, ~1.1x growth) are pinned in
#: tests/test_multimodal.py; a mistranscribed entry breaks the
#: closed-loop encoder/decoder agreement only if both sides read
#: different tables, so the test checks the published endpoints and
#: growth law directly.
_IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
#: step-index adjustment per 3-bit nibble magnitude (sign bit ignored)
_IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_step(predictor: int, index: int, nibble: int):
    """One IMA-ADPCM reconstruction step (shared by decoder and the
    closed-loop encoder): returns (new_predictor, new_index). The
    delta expansion is the spec's shift-add form — exactly
    `(2*mag+1) * step / 8` truncated per term."""
    step = _IMA_STEP_TABLE[index]
    delta = step >> 3
    if nibble & 4:
        delta += step
    if nibble & 2:
        delta += step >> 1
    if nibble & 1:
        delta += step >> 2
    if nibble & 8:
        predictor -= delta
    else:
        predictor += delta
    if predictor > 32767:
        predictor = 32767
    elif predictor < -32768:
        predictor = -32768
    index += _IMA_INDEX_TABLE[nibble & 7]
    if index < 0:
        index = 0
    elif index > 88:
        index = 88
    return predictor, index


def _ima_adpcm_decode_blocks(data: bytes, channels: int, block_align: int):
    """Decode WAVE format-0x11 (IMA ADPCM) sample data: a sequence of
    `block_align`-byte blocks, each starting with a 4-byte per-channel
    state header (predictor int16 LE, step index uint8, reserved) —
    the header predictor IS the block's first output frame — followed
    by 4-byte nibble groups interleaved per channel (low nibble
    first). Trailing partial blocks decode as far as their bytes
    reach; arbitrary bytes cannot crash the stepper (nibbles are
    masked, index/predictor clamped)."""
    import numpy as np

    out = []
    for base in range(0, len(data), block_align):
        block = data[base : base + block_align]
        if len(block) < 4 * channels:
            break
        preds, idxs = [], []
        for ch in range(channels):
            p = int.from_bytes(
                block[4 * ch : 4 * ch + 2], "little", signed=True
            )
            i = block[4 * ch + 2]
            preds.append(p)
            idxs.append(min(i, 88))
        frames = [list(preds)]
        body = block[4 * channels :]
        # per-channel nibble streams: 4-byte groups round-robin
        pos = 0
        group = [bytearray() for _ in range(channels)]
        while pos + 4 <= len(body):
            group[(pos // 4) % channels] += body[pos : pos + 4]
            pos += 4
        streams = []
        for ch in range(channels):
            nib = []
            for b in group[ch]:
                nib.append(b & 0x0F)
                nib.append(b >> 4)
            streams.append(nib)
        n = min(len(s) for s in streams) if streams else 0
        for k in range(n):
            frame = []
            for ch in range(channels):
                preds[ch], idxs[ch] = _ima_step(
                    preds[ch], idxs[ch], streams[ch][k]
                )
                frame.append(preds[ch])
            frames.append(frame)
        out.extend(frames)
    return np.asarray(out, dtype=np.int16).reshape(-1, channels)


def encode_wav_ima_adpcm(
    pcm16, rate: int = 8000, channels: int = 1, samples_per_block: int = 505
) -> bytes:
    """RIFF/WAVE container around IMA-ADPCM (format 0x11) blocks — the
    closed-loop encoder twin of decode_wav's ADPCM branch: the
    encoder quantizes each delta, then updates its predictor through
    the SAME `_ima_step` the decoder runs, so decode(encode(x))
    reproduces the encoder's reconstruction bit-for-bit (the lossy
    error is priced once, at quantization). Step index carries across
    blocks (stored per block header, as the spec's streaming encoders
    do). `samples_per_block` must be ≡ 1 (mod 8) so nibble groups
    fill whole 4-byte units per channel."""
    import struct

    import numpy as np

    if (samples_per_block - 1) % 8:
        raise ValueError("samples_per_block must be 1 mod 8")
    arr = np.asarray(pcm16, dtype=np.int16).reshape(-1, channels)
    n_frames = arr.shape[0]
    block_align = 4 * channels + (samples_per_block - 1) * channels // 2
    idxs = [0] * channels
    blocks = []
    for base in range(0, n_frames, samples_per_block):
        chunk = arr[base : base + samples_per_block]
        preds = [int(chunk[0, ch]) for ch in range(channels)]
        head = b"".join(
            struct.pack("<hBB", preds[ch], idxs[ch], 0)
            for ch in range(channels)
        )
        nibs = [[] for _ in range(channels)]
        for k in range(1, samples_per_block):
            for ch in range(channels):
                target = int(chunk[k, ch]) if k < len(chunk) else preds[ch]
                step = _IMA_STEP_TABLE[idxs[ch]]
                diff = target - preds[ch]
                nib = 8 if diff < 0 else 0
                diff = abs(diff)
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                preds[ch], idxs[ch] = _ima_step(preds[ch], idxs[ch], nib)
                nibs[ch].append(nib)
        body = bytearray()
        for g in range(0, samples_per_block - 1, 8):
            for ch in range(channels):
                eight = nibs[ch][g : g + 8]
                for j in range(0, 8, 2):
                    body.append(eight[j] | (eight[j + 1] << 4))
        blocks.append(head + bytes(body))
    data = b"".join(blocks)
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11,
        channels,
        rate,
        rate * block_align // samples_per_block,
        block_align,
        4,
        2,
        samples_per_block,
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + 4 + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"fact"
        + struct.pack("<II", 4, n_frames)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def _mulaw_compress(pcm):
    """Linear int16 -> mu-law byte (encoder twin). Delegates to
    operators/g711.py (audioop-exact; the earlier float-log2 twin
    deviated from the C reference on 381 of 65 536 boundary values)."""
    from .g711 import ulaw_encode

    return ulaw_encode(pcm)


def demux_y4m(buf: bytes):
    """Pure-python demuxer for YUV4MPEG2 (y4m) — the public
    uncompressed video container (header line + 'FRAME' markers + raw
    planar YUV). Yields (frame_no, frame_bytes) with frame_bytes the
    raw plane data of one frame.

    Supports C420 (default, 1.5 bytes/px), C444, and Cmono chroma
    modes; ValueError on a non-y4m payload so callers can route other
    containers elsewhere."""
    if not buf.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    eol = buf.index(b"\n")
    w = h = None
    chroma = "420"
    for tok in buf[:eol].split(b" ")[1:]:
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"C":
            chroma = tok[1:].decode()
    if not w or not h:
        raise ValueError("y4m header missing W/H")
    if chroma.startswith("420"):
        frame_size = w * h + 2 * ((w + 1) // 2) * ((h + 1) // 2)
    elif chroma == "444":
        frame_size = 3 * w * h
    elif chroma == "mono":
        frame_size = w * h
    else:
        raise NotImplementedError(f"chroma mode C{chroma}")
    pos, frame_no = eol + 1, 0
    while pos < len(buf):
        if buf[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        pos = buf.index(b"\n", pos) + 1  # frame params (if any) end at \n
        frame = buf[pos : pos + frame_size]
        if len(frame) < frame_size:
            raise ValueError("truncated frame")
        yield frame_no, frame
        pos += frame_size
        frame_no += 1


def demux_mjpeg_avi(buf: bytes):
    """REAL compressed-video demux with no codec library: MJPEG-in-AVI
    (each frame an independent baseline JPEG inside the RIFF 'movi'
    list — the classic capture/dataset layout). RIFF walking is pure
    struct; each '..dc' chunk decodes through operators/jpeg.
    Yields (frame_no, (h, w, 3) uint8 RGB ndarray).

    ValueError on a non-AVI payload so callers can route MP4/MKV to
    the PyAV tier; NotImplementedError bubbles up from decode_jpeg
    for non-baseline frame codecs."""
    import struct

    from .jpeg import decode_jpeg

    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not an AVI byte stream")

    def walk(lo: int, hi: int):
        pos = lo
        while pos + 8 <= hi:
            ctype = buf[pos : pos + 4]
            (size,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            body = (pos + 8, pos + 8 + size)
            yield ctype, body
            pos += 8 + size + (size & 1)  # chunks are word-aligned

    frame_no = 0
    for ctype, (lo, hi) in walk(12, len(buf)):
        if ctype == b"LIST" and buf[lo : lo + 4] == b"movi":
            for sub, (slo, shi) in walk(lo + 4, hi):
                # '..dc' = compressed frames (JPEG for MJPG streams);
                # '..db' conventionally carries uncompressed DIB
                # frames — only treat it as JPEG if it actually starts
                # with the FFD8 magic (some writers mislabel), else
                # it's a format this tier doesn't cover (ADVICE r5).
                if sub[2:4] == b"dc" or (
                    sub[2:4] == b"db"
                    and buf[slo : slo + 2] == b"\xff\xd8"
                ):
                    yield frame_no, decode_jpeg(buf[slo:shi])
                    frame_no += 1
                elif sub[2:4] == b"db":
                    raise NotImplementedError(
                        "raw-DIB AVI frames ('..db' without JPEG magic)"
                        " are outside the MJPEG tier"
                    )


def encode_mjpeg_avi(frames, fps: int = 25, quality: int = 90) -> bytes:
    """Minimal MJPEG AVI writer (the demux twin / fixture builder):
    every frame JPEG-encoded independently (operators/jpeg), wrapped
    in RIFF hdrl/movi lists with an idx1 index."""
    import struct

    import numpy as np

    from .jpeg import encode_jpeg

    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    if not frames:
        raise ValueError("need at least one frame")
    h, w, _ = frames[0].shape
    payloads = [encode_jpeg(f, quality=quality) for f in frames]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return ctype + struct.pack("<I", len(data)) + data + (
            b"\x00" if len(data) & 1 else b""
        )

    def lst(ltype: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", ltype + data)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, 0, 0, 0x10, len(payloads), 0, 1, 0, w, h,
        0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1,
                                        fps, 0, len(payloads), 0, 0, 0, 0)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0x47504A4D,  # 'MJPG'
        w * h * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh)
                                   + chunk(b"strf", strf)),
    )
    movi_chunks, idx, offset = [], [], 4
    for p in payloads:
        idx.append(struct.pack("<4sIII", b"00dc", 0x10, offset, len(p)))
        movi_chunks.append(chunk(b"00dc", p))
        offset += 8 + len(p) + (len(p) & 1)
    movi = lst(b"movi", b"".join(movi_chunks))
    idx1 = chunk(b"idx1", b"".join(idx))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_pcm16(pcm: bytes, rate: int = 8000, channels: int = 1) -> bytes:
    """Wrap raw little-endian int16 sample bytes in a canonical RIFF/
    WAVE PCM-16 container (the encode twin of decode_wav; test vector
    builder). Truncates to whole frames."""
    import struct

    n = (len(pcm) // (2 * channels)) * 2 * channels
    pcm = pcm[:n]
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, channels, rate, rate * channels * 2,
                      channels * 2, 16)
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )


def encode_wav_mulaw(pcm16, rate: int = 8000, channels: int = 1) -> bytes:
    """RIFF/WAVE container around G.711 mu-law bytes (format 7) —
    the test-side twin of decode_wav's mu-law branch."""
    import struct

    import numpy as np

    arr = np.asarray(pcm16, dtype=np.int16).reshape(-1)
    u = _mulaw_compress(arr).tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + 18 + 8 + len(u))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", 18)
        + struct.pack(
            "<HHIIHHH", 7, channels, rate, rate * channels, channels, 8, 0
        )
        + b"data"
        + struct.pack("<I", len(u))
        + u
    )


def decode_bmp(buf: bytes):
    """Pure-numpy decoder for uncompressed Windows BMP — 24-bit BI_RGB
    (BITMAPINFOHEADER) plus 32-bit BI_RGB / BI_BITFIELDS (BITMAPV3/4/5
    headers carry per-channel masks; byte-aligned 8-bit masks in any
    channel order are handled, the overwhelmingly common 32-bit
    layout) — exercising the format quirks PPM lacks: 4-byte row
    padding, bottom-up row order (positive height), BGR(A) channel
    order.  The 32-bit BI_BITFIELDS path is certified against the
    genuinely foreign stdlib python.bmp, which must decode
    bit-identical to the foreign PNG/TIFF/RAS/SGI pixel pin
    (tests/test_multimodal.py).

    Returns (h, w, 3) uint8 RGB for 24-bit input and (h, w, 4) RGBA
    for 32-bit.  ValueError on non-BMP payloads; NotImplementedError
    for compressed / paletted variants."""
    import struct

    import numpy as np

    if buf[:2] != b"BM" or len(buf) < 54:
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", buf, 10)[0]
    header_size = struct.unpack_from("<I", buf, 14)[0]
    if header_size < 40:
        raise NotImplementedError(f"BMP header size {header_size} unsupported")
    w, h = struct.unpack_from("<ii", buf, 18)
    bpp = struct.unpack_from("<H", buf, 28)[0]
    compression = struct.unpack_from("<I", buf, 30)[0]
    if not (
        (bpp == 24 and compression == 0)
        or (bpp == 32 and compression in (0, 3))
    ):
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp},"
            f" compression={compression})"
        )
    # channel byte positions within each little-endian pixel
    order = {2: 0, 1: 1, 0: 2, 3: 3}  # default BI_RGB: BGRA bytes
    if bpp == 32 and compression == 3:
        # both layouts place the RGB masks at file offset 54 = 14 + 40:
        # BITMAPV2+ embeds them inside the header right after the first
        # 40 bytes, and plain BITMAPINFOHEADER appends them after it
        mask_off = 54
        masks = struct.unpack_from("<III", buf, mask_off)
        amask = (
            struct.unpack_from("<I", buf, mask_off + 12)[0]
            if header_size >= 56
            else 0
        )
        order = {}
        for ch, m in enumerate(masks + (amask,)):
            if m == 0 and ch == 3:
                order[3] = None  # no alpha channel stored
                continue
            if m not in (0xFF, 0xFF00, 0xFF0000, 0xFF000000):
                raise NotImplementedError(
                    f"BMP bitfield mask 0x{m:08x} is not byte-aligned"
                )
            order[ch] = {0xFF: 0, 0xFF00: 1, 0xFF0000: 2,
                         0xFF000000: 3}[m]
    if w <= 0 or h == 0:
        raise ValueError(f"bad BMP dimensions {w}x{h}")
    top_down = h < 0
    h = abs(h)
    nb = bpp // 8
    row_size = (w * nb + 3) // 4 * 4
    need = data_offset + row_size * h
    if len(buf) < need:
        raise ValueError(f"truncated BMP ({len(buf)} < {need} bytes)")
    rows = (
        np.frombuffer(buf, dtype=np.uint8, count=row_size * h, offset=data_offset)
        .reshape(h, row_size)[:, : w * nb]
        .reshape(h, w, nb)
    )
    if not top_down:
        rows = rows[::-1]
    if bpp == 24:
        return rows[..., ::-1].copy()  # BGR -> RGB
    chans = [rows[:, :, order[c]] for c in range(3)]
    if order.get(3) is None:
        chans.append(np.full((h, w), 255, dtype=np.uint8))
    else:
        chans.append(rows[:, :, order[3]])
    return np.stack(chans, axis=2)


def encode_bmp24(arr) -> bytes:
    """Minimal uncompressed 24-bit bottom-up BMP writer (test twin)."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    row_size = (w * 3 + 3) // 4 * 4
    pad = row_size - w * 3
    body = b"".join(
        a[y, :, ::-1].tobytes() + b"\x00" * pad for y in range(h - 1, -1, -1)
    )
    pixel_offset = 14 + 40
    return (
        b"BM"
        + struct.pack("<IHHI", pixel_offset + len(body), 0, 0, pixel_offset)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                      2835, 2835, 0, 0)
        + body
    )


#: PNG signature (spec §5.2)
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: channels per PNG color type (0 grey, 2 RGB, 3 palette, 4 grey+A,
#: 6 RGBA)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(buf: bytes):
    """RGB8 projection of the full PNG tier (operators/png.py, which
    handles the complete baseline matrix: colour types 0/2/3/4/6,
    depths 1/2/4/8/16, Adam7 interlace, multi-IDAT, CRC-verified
    chunks, palette tRNS).  This wrapper maps every decode onto the
    (h, w, 3) uint8 RGB contract the feature kernels share with
    decode_ppm: grey replicated, palette looked up, alpha dropped,
    16-bit reduced to the high byte, sub-byte grey rescaled to full
    range."""
    import numpy as np

    from .png import decode_png as _full

    px = _full(buf)
    depth = buf[24]
    ctype = buf[25]
    if px.dtype == np.uint16:
        px = (px >> 8).astype(np.uint8)
    elif ctype == 0 and depth < 8:
        px = (
            px.astype(np.uint16) * 255 // ((1 << depth) - 1)
        ).astype(np.uint8)
    ch = px.shape[2]
    if ch == 1:
        return np.repeat(px, 3, axis=2)
    if ch == 2:
        return np.repeat(px[:, :, :1], 3, axis=2)
    if ch == 4:
        return px[:, :, :3].copy()
    return px


def encode_png(arr, filter_type: int = 0) -> bytes:
    """Minimal RGB8 PNG encoder (color type 2, non-interlaced): the
    sink-side twin of decode_png, and the fixture generator for its
    tests — `filter_type` applies one spec filter (0-4) to every
    scanline so each reconstruction branch can be exercised without
    any external codec writing the fixture."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, ch = a.shape
    if ch != 3:
        raise ValueError("encode_png writes RGB (h, w, 3) only")
    rows = a.reshape(h, w * ch).astype(np.int64)
    out_rows = []
    prev = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        cur = rows[y]
        left = np.concatenate([np.zeros(ch, dtype=np.int64), cur[:-ch]])
        upleft = np.concatenate([np.zeros(ch, dtype=np.int64), prev[:-ch]])
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = (cur - left) % 256
        elif filter_type == 2:
            filt = (cur - prev) % 256
        elif filter_type == 3:
            filt = (cur - (left + prev) // 2) % 256
        elif filter_type == 4:
            p = left + prev - upleft
            pa, pb, pc = (
                np.abs(p - left),
                np.abs(p - prev),
                np.abs(p - upleft),
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = (cur - pred) % 256
        else:
            raise ValueError("filter_type must be 0-4")
        out_rows.append(bytes([filter_type]) + filt.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(b"".join(out_rows), 9)
    return (
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def decode_image_compressed(buf: bytes):
    """Codec tier for compressed images. PNG and JPEG — baseline AND
    progressive (SOF2) — decode FOR REAL with no external dependency
    (decode_png — stdlib zlib + numpy filter reconstruction;
    operators/jpeg.decode_jpeg — Huffman + dequant + IDCT in numpy,
    multi-scan accumulation for progressive); remaining formats
    (WebP, arithmetic-coded JPEG, ...) decode via PIL when importable
    and raise NotImplementedError otherwise, keeping the
    honest-unsupported contract while a PIL-equipped deployment
    decodes anything with zero plan changes. Returns (h, w, 3) uint8
    RGB, shape-compatible with decode_ppm."""
    if buf[:8] == _PNG_SIG:
        return decode_png(buf)
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif

        for _no, frame in decode_gif(buf):
            return frame  # image contract: first frame
        raise ValueError("GIF with no image data")
    if buf[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        try:
            return decode_jpeg(buf)
        except NotImplementedError:
            pass  # arithmetic-coded/16-bit: fall through to PIL tier
    try:
        from PIL import Image
    except ImportError as exc:
        raise NotImplementedError(
            "this compressed image needs PIL (not in this container); "
            "PNG, baseline JPEG, PPM and BMP decode natively, or run "
            "with fake=True for the raw-byte-histogram path"
        ) from exc
    import io

    import numpy as np

    with Image.open(io.BytesIO(buf)) as im:
        return np.asarray(im.convert("RGB"), dtype=np.uint8)


def demux_video_compressed(buf: bytes):
    """Codec tier for compressed video, yielding (frame_no,
    frame_bytes) like demux_y4m (frame_bytes = packed RGB24 planes).
    MJPEG-in-AVI and MJPEG-in-MP4 demux + decode FOR REAL with no
    codec library (demux_mjpeg_avi — RIFF walk; operators/mp4.demux_mp4
    — ISO BMFF sample-table walk; both feed the pure JPEG decoder,
    baseline or progressive); MP4s carrying inter-frame codecs
    (avc1/hev1...) demux natively too, but DECODE routes to PyAV when
    importable and raises NotImplementedError otherwise — motion-
    compensated decode genuinely needs a codec library."""
    if buf[:4] == b"RIFF" and buf[8:12] == b"AVI ":
        for no, frame in demux_mjpeg_avi(buf):
            yield no, frame.tobytes()
        return
    if buf[:6] in (b"GIF87a", b"GIF89a"):  # animated GIF = tiny video
        from .gif import decode_gif

        for no, frame in decode_gif(buf):
            yield no, frame.tobytes()
        return
    if buf[:4] == b"\x1aE\xdf\xa3":  # Matroska / WebM (EBML)
        from .mkv import demux_mkv, mkv_avc_to_annexb, parse_mkv_tracks

        # decode FULLY before yielding: a mid-stream failure must fall
        # through to the PyAV tier cleanly, never hand the consumer a
        # truncated prefix and then raise
        decoded = None
        try:
            meta = parse_mkv_tracks(buf)
            video = {
                num: t for num, t in meta["tracks"].items()
                if t["type"] in (None, 1)
            }
            mjpeg_tracks = {
                num for num, t in video.items()
                if t["codec_id"] == "V_MJPEG"
            }
            if mjpeg_tracks:
                from .jpeg import decode_jpeg

                target = min(mjpeg_tracks)
                decoded = [
                    decode_jpeg(frame).tobytes()
                    for track, _no, _ts, _k, frame in demux_mkv(buf)
                    if track == target
                ]
            elif any(
                t["codec_id"] == "V_MPEG4/ISO/AVC" for t in video.values()
            ):
                from .h264 import decode_h264_annexb

                decoded = [
                    frame.tobytes()
                    for _no, frame in decode_h264_annexb(
                        mkv_avc_to_annexb(buf)
                    )
                ]
        except (ValueError, NotImplementedError):
            decoded = None  # laced/entropy-coded/malformed → PyAV tier
        if decoded is not None:
            for no, frame_bytes in enumerate(decoded):
                yield no, frame_bytes
            return
    if buf[:3] == b"\x00\x00\x01" or buf[:4] == b"\x00\x00\x00\x01":
        # raw H.264 Annex-B elementary stream: the pure tier decodes
        # intra streams (I_PCM + CAVLC) and P slices of every
        # partition shape (incl. weighted prediction), deblocking
        # in-loop per §8.7; CABAC / multi-ref / B streams fall
        # through to the PyAV tier.
        # Decode fully BEFORE yielding so a mid-stream entropy-coded
        # macroblock can't truncate the consumer's sequence.
        from .h264 import decode_h264_annexb

        try:
            decoded = [f.tobytes() for _no, f in decode_h264_annexb(buf)]
        except (ValueError, NotImplementedError):
            decoded = None
        if decoded is not None:
            for no, frame_bytes in enumerate(decoded):
                yield no, frame_bytes
            return
    if len(buf) >= 12 and buf[4:8] == b"ftyp":
        from .jpeg import decode_jpeg
        from .mp4 import demux_mp4

        mjpeg_all = True
        samples = []
        try:
            for _tid, no, _ts, _sync, fourcc, sample in demux_mp4(buf):
                if fourcc != "jpeg" and sample[:2] != b"\xff\xd8":
                    mjpeg_all = False
                    break
                samples.append((no, sample))
        except (ValueError, IndexError, struct.error):
            # malformed for the strict pure walker (missing mandatory
            # boxes raise ValueError; truncated sample tables can
            # still surface as struct.error/IndexError) — ffmpeg's
            # laxer parser may still handle it, so fall to PyAV
            mjpeg_all = False
        if mjpeg_all:
            try:
                decoded = [
                    decode_jpeg(sample).tobytes() for _no, sample in samples
                ]
            except (ValueError, NotImplementedError):
                decoded = None  # e.g. arithmetic-coded JPEG → PyAV
            if decoded is not None:
                for no, frame_bytes in enumerate(decoded):
                    yield no, frame_bytes
                return
        # avc1 track? baseline intra and all-partition-shape P
        # decode in the pure tier via the Annex-B bridge; CABAC and
        # multi-ref/B streams raise inside and fall through to PyAV
        try:
            from .h264 import decode_h264_annexb
            from .mp4 import mp4_avc_to_annexb

            annexb = mp4_avc_to_annexb(buf)
            # decode fully BEFORE yielding (same discipline as the
            # raw Annex-B branch): a mid-stream refusal — e.g. a
            # multi-ref P frame after decodable intra frames — must
            # fall through to PyAV cleanly, not leave the consumer
            # with a partial sequence followed by re-decoded frames
            frames = [
                frame.tobytes()
                for _no, frame in decode_h264_annexb(annexb)
            ]
            for no, frame_bytes in enumerate(frames):
                yield no, frame_bytes
            return
        except (ValueError, NotImplementedError, IndexError, struct.error):
            pass
        # inter-frame codec (or unparseable box tree) → PyAV tier below
    try:
        import av
    except ImportError as exc:
        raise NotImplementedError(
            "inter-frame compressed video DECODE needs PyAV/ffmpeg "
            "(not in this container); YUV4MPEG2, MJPEG-AVI and "
            "MJPEG-MP4 decode natively, MP4 sample-level demux is "
            "native for any codec (operators/mp4.demux_mp4), or run "
            "with fake=True for the byte-slice path"
        ) from exc
    import io

    with av.open(io.BytesIO(buf)) as container:  # pragma: no cover - needs av
        for no, frame in enumerate(container.decode(video=0)):
            yield no, frame.to_ndarray(format="rgb24").tobytes()


def attach_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Compute byte-size + content hash metadata JVM-side (no decode)."""
    return df.withColumn(
        "meta_computed",
        F.struct(
            F.length(F.col(content_col)).alias("n_bytes"),
            F.sha1(F.col(content_col)).alias("sha1"),
        ),
    )


def decode_image_features(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    dim: int = 8,
    fake: bool = False,
) -> DataFrame:
    """Image → feature vector: normalized `dim`-bin intensity histogram.

    `fake=False` REALLY decodes binary-PPM, PNG (decode_png — stdlib
    zlib + numpy filter reconstruction) and baseline-JPEG payloads
    (operators/jpeg.decode_jpeg — Huffman + dequant + IDCT in numpy,
    no codec library) and histograms the decoded pixel bytes; formats
    beyond that tier (WebP, progressive JPEG) raise
    NotImplementedError unless PIL is present. `fake=True`
    histograms the raw payload bytes instead (deterministic, has an
    exact DuckDB oracle) so the full pipeline (decode → embed → ANN)
    is testable without any fixture being a real image.

    Output: (id, feature array<float>) — feeds cosine_topk /
    hyperplane_lsh_buckets unchanged."""

    schema = f"{id_col} long, feature array<float>"

    def row(mid, buf):
        import numpy as np

        b = bytes(buf)
        if fake:
            arr = np.frombuffer(b, dtype=np.uint8)
        elif b[:2] == b"P6":
            arr = decode_ppm(b).ravel()
        else:
            # optional codec tier: PIL when present, else
            # NotImplementedError (honest-unsupported)
            arr = decode_image_compressed(b).ravel()
        hist, _ = np.histogram(arr, bins=dim, range=(0, 256))
        total = max(int(hist.sum()), 1)
        yield mid, (hist / total).astype(np.float32)

    return map_rows(df.select(id_col, content_col), schema, row)


def decode_audio_features(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    fake: bool = False,
) -> DataFrame:
    """Audio → scalar features (sample_rate, n_frames, rms, peak).

    `fake=False` REALLY decodes audio payloads — RIFF/WAVE (PCM-16,
    G.711 mu-law, IMA ADPCM) or FLAC, dispatched by magic via
    decode_audio.  `fake=True`
    reinterprets the raw payload as little-endian int16 mono at a
    nominal 8 kHz — deterministic, oracle-expressible.

    RMS/peak are computed over all channels; both paths share the
    arithmetic so the real codec drops in without changing any plan."""

    schema = f"{id_col} long, sample_rate int, n_frames long, rms double, peak int"

    def row(mid, buf):
        import numpy as np

        b = bytes(buf)
        if fake:
            rate = 8000
            n = (len(b) // 2) * 2
            samples = np.frombuffer(b[:n], dtype="<i2").reshape(-1, 1)
        else:
            rate, samples = decode_audio(b)
        s = samples.astype(np.float64)
        yield (
            mid,
            rate,
            samples.shape[0],
            float(np.sqrt((s * s).mean())) if samples.size else 0.0,
            int(np.abs(samples.astype(np.int32)).max()) if samples.size else 0,
        )

    return map_rows(df.select(id_col, content_col), schema, row)


def sample_video_frames_arrow(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    every_n_bytes: int = 64,
) -> DataFrame:
    """Arrow-native (`mapInArrow`) variant of the fake-path frame
    sampler: operates on `pyarrow.RecordBatch` directly, so the binary
    payloads never round-trip through pandas object arrays — for
    media-sized blobs the pandas conversion materializes a Python
    bytes object per row, while Arrow slices the shared value buffer.
    At 100 TB of video this is the difference between a copy per row
    and zero-copy batch slicing; the pandas variant
    (sample_video_frames) stays the readable reference and the two are
    row-identical (tests/test_multimodal.py)."""

    schema = f"{id_col} long, frame_no int, frame binary"

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(batch.schema.get_field_index(id_col))
            bufs = batch.column(batch.schema.get_field_index(content_col))
            out_id, out_no, out_fr = [], [], []
            for mid, buf in zip(ids, bufs):
                b = buf.as_py()  # one slice of the Arrow value buffer
                for i in range(0, len(b), every_n_bytes):
                    out_id.append(mid.as_py())
                    out_no.append(i // every_n_bytes)
                    out_fr.append(b[i : i + every_n_bytes])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_id, pa.int64()),
                    pa.array(out_no, pa.int32()),
                    pa.array(out_fr, pa.binary()),
                ],
                names=[id_col, "frame_no", "frame"],
            )

    return df.select(id_col, content_col).mapInArrow(kernel, schema=schema)


def resize_images(
    df: DataFrame,
    target_h: int,
    target_w: int,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Decode + nearest-neighbor resize of binary-PPM payloads to
    (target_h, target_w), emitted as a flat array<float> in [0, 1] —
    the fixed-size input a vision encoder expects.

    Nearest-neighbor (index map `(i * src) // dst`) keeps the kernel
    dependency-free and bit-deterministic across partitionings; a
    production swap-in (PIL bilinear, GPU batch) only replaces the
    per-row body. Arrow batches stream through mapInPandas, so resizing
    a 100 TB image corpus is scan-bound, never driver-bound."""

    schema = f"{id_col} long, height int, width int, pixels array<float>"

    def row(mid, buf):
        import numpy as np

        b = bytes(buf)
        img = decode_ppm(b) if b[:2] == b"P6" else decode_image_compressed(b)
        h, w, _ = img.shape
        rows = (np.arange(target_h) * h) // target_h
        cols = (np.arange(target_w) * w) // target_w
        small = img[rows][:, cols].astype(np.float32) / 255.0
        yield mid, target_h, target_w, small.ravel()

    return map_rows(df.select(id_col, content_col), schema, row)


def sample_video_frames(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    every_n_bytes: int = 64,
    fake: bool = False,
) -> DataFrame:
    """Video → sampled frame rows (one output row per frame).

    `fake=False` REALLY demuxes YUV4MPEG2 payloads (demux_y4m, pure
    python — header parse + FRAME-marker walk + raw plane slices) and
    MJPEG-AVI payloads (demux_mjpeg_avi — RIFF walk + pure baseline-
    JPEG decode, via demux_video_compressed); inter-frame containers
    (MP4/MKV) raise NotImplementedError — their demuxers (ffmpeg)
    aren't in this container and slot into the same branch.
    `fake=True` treats every `every_n_bytes` slice as a 'frame' so
    the explode/batch shape is exercised without any fixture being a
    real video."""

    schema = f"{id_col} long, frame_no int, frame binary"

    def row(mid, buf):
        b = bytes(buf)
        if fake:
            frames = (
                (i // every_n_bytes, b[i : i + every_n_bytes])
                for i in range(0, len(b), every_n_bytes)
            )
        elif b.startswith(b"YUV4MPEG2"):
            frames = demux_y4m(b)
        else:
            # optional codec tier: PyAV when present, else
            # NotImplementedError (honest-unsupported)
            frames = demux_video_compressed(b)
        for no, fr in frames:
            yield mid, no, fr

    return map_rows(df.select(id_col, content_col), schema, row)


def extract_patches(
    df: DataFrame,
    patch: int = 8,
    grid_h: int = 4,
    grid_w: int = 4,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """ViT input prep: decode, nearest-neighbor resize to a
    (grid_h*patch, grid_w*patch) canvas, then split into non-overlapping
    patch vectors — one output row per patch, raster order, each a flat
    array<float> of patch*patch*3 values in [0, 1] (exactly the token
    sequence a vision transformer embeds).

    One image fans out to grid_h*grid_w rows inside the Arrow kernel —
    the explode happens executor-side in numpy (a reshape/transpose,
    zero copies of the source beyond the resize), so patch extraction
    over a 100 TB corpus stays scan-bound and the downstream embedding
    join can repartition on (id, patch_no) freely."""
    th, tw = grid_h * patch, grid_w * patch
    schema = f"{id_col} long, patch_no int, patch array<float>"

    def row(mid, buf):
        import numpy as np

        b = bytes(buf)
        img = decode_ppm(b) if b[:2] == b"P6" else decode_image_compressed(b)
        h, w, _ = img.shape
        rows = (np.arange(th) * h) // th
        cols = (np.arange(tw) * w) // tw
        canvas = img[rows][:, cols].astype(np.float32) / 255.0
        # (gh, p, gw, p, 3) -> (gh, gw, p, p, 3) -> (n, p*p*3)
        patches = (
            canvas.reshape(grid_h, patch, grid_w, patch, 3)
            .transpose(0, 2, 1, 3, 4)
            .reshape(grid_h * grid_w, patch * patch * 3)
        )
        for no in range(patches.shape[0]):
            yield mid, no, patches[no]

    return map_rows(df.select(id_col, content_col), schema, row)


#: MPEG-audio tables (ISO 11172-3 / 13818-3): bitrates in kbps by
#: (version-group, layer); sample rates by version; samples/frame.
_MPA_SR = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
           0: (11025, 12000, 8000)}
_MPA_BITRATE = {
    # MPEG1: layer 3 (L1), 2 (L2), 1 (L3)
    (1, 3): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
             384, 416, 448),
    (1, 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
             320, 384),
    (1, 1): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320),
    # MPEG2 / 2.5 share one table for L2+L3 and one for L1
    (2, 3): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
             224, 256),
    (2, 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160),
    (2, 1): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160),
}
#: ADTS sampling_frequency_index table (ISO 14496-3 §1.6.3.4)
_ADTS_SR = (96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
            16000, 12000, 11025, 8000, 7350)


def _mpa_header(buf: bytes, pos: int):
    """Parse one MPEG-audio frame header -> (version_bits, layer_bits,
    kbps, rate, padding, channels, frame_len, samples_per_frame) or
    None when any field is reserved/invalid."""
    b1, b2, b3 = buf[pos + 1], buf[pos + 2], buf[pos + 3]
    version = (b1 >> 3) & 0x3          # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    layer = (b1 >> 1) & 0x3            # 3=LayerI, 2=II, 1=III
    br_idx = b2 >> 4
    sr_idx = (b2 >> 2) & 0x3
    padding = (b2 >> 1) & 0x1
    mode = b3 >> 6
    if version == 1 or layer == 0 or br_idx in (0, 15) or sr_idx == 3:
        return None
    vgrp = 1 if version == 3 else 2
    kbps = _MPA_BITRATE[(vgrp, layer)][br_idx]
    rate = _MPA_SR[version][sr_idx]
    channels = 1 if mode == 3 else 2
    if layer == 3:      # Layer I: slots are 4 bytes
        flen = (12 * kbps * 1000 // rate + padding) * 4
        spf = 384
    else:
        spf = 1152 if (layer == 2 or vgrp == 1) else 576
        flen = spf // 8 * kbps * 1000 // rate + padding
    return version, layer, kbps, rate, padding, channels, flen, spf


def _probe_mpeg_audio(buf: bytes, pos: int, out: dict) -> dict:
    """MP1/MP2/MP3 metadata WITHOUT entropy decode: frame-header walk
    (CBR/VBR) with the Xing/Info frame count taking precedence when
    the stream carries one — fully spec-checkable arithmetic."""
    hdr = _mpa_header(buf, pos)
    if hdr is None:
        return {**out, "kind": "audio", "container": "mpeg"}
    version, layer, kbps, rate, _pad, channels, _flen, spf = hdr
    codec = f"mp{4 - layer}"
    base = {**out, "kind": "audio", "container": "mpeg",
            "codec": codec, "sample_rate": rate, "channels": channels}
    # Xing/Info header (the de-facto VBR standard): after the side
    # info — MPEG1: 17 bytes mono / 32 stereo; MPEG2(.5): 9 / 17
    if layer == 1:
        side = (17 if channels == 1 else 32) if version == 3 else (
            9 if channels == 1 else 17
        )
        xoff = pos + 4 + side
        if buf[xoff : xoff + 4] in (b"Xing", b"Info") and (
            len(buf) >= xoff + 12
        ):
            flags = int.from_bytes(buf[xoff + 4 : xoff + 8], "big")
            if flags & 0x1:
                n = int.from_bytes(buf[xoff + 8 : xoff + 12], "big")
                dur = n * spf / rate
                return {**base, "n_frames": n, "n_samples": n * spf,
                        "duration_s": round(dur, 6),
                        # VBR: average over the whole stream tail
                        "bit_rate": round(8 * (len(buf) - pos) / dur)
                        if dur else None}
    # CBR/VBR walk: recompute the length per frame so VBR-without-Xing
    # still counts correctly; stop at the first lost sync
    n = 0
    p = pos
    while p + 4 <= len(buf) and buf[p] == 0xFF and (
        buf[p + 1] & 0xE0
    ) == 0xE0:
        h = _mpa_header(buf, p)
        if h is None or h[6] <= 4 or p + h[6] > len(buf):
            break  # incomplete final frame: report complete ones only
        n += 1
        p += h[6]
    dur = n * spf / rate if n else None
    return {**base, "n_frames": n or None,
            "n_samples": n * spf if n else None,
            "duration_s": round(dur, 6) if dur else None,
            # CBR-walk average over the walked bytes (== the header
            # kbps for a true-CBR stream, stream-accurate for VBR)
            "bit_rate": round(8 * (p - pos) / dur) if dur else None}


def _probe_adts(buf: bytes, pos: int, out: dict) -> dict:
    """ADTS (AAC) metadata without decode: profile / sample rate /
    channel configuration from the fixed header, frame count plus
    duration and average bit rate from the 13-bit aac_frame_length
    walk; 1024 samples per frame (ISO 14496-3)."""
    b2, b3 = buf[pos + 2], buf[pos + 3]
    profile = (b2 >> 6) & 0x3
    sf_idx = (b2 >> 2) & 0xF
    channels = ((b2 & 0x1) << 2) | (b3 >> 6)
    rate = _ADTS_SR[sf_idx] if sf_idx < len(_ADTS_SR) else None
    codec = "aac-" + {0: "main", 1: "lc", 2: "ssr", 3: "ltp"}[profile]
    n = 0
    p = pos
    while p + 7 <= len(buf) and buf[p] == 0xFF and (
        buf[p + 1] & 0xF6
    ) == 0xF0:
        flen = ((buf[p + 3] & 0x3) << 11) | (buf[p + 4] << 3) | (
            buf[p + 5] >> 5
        )
        if flen < 7 or p + flen > len(buf):
            break  # incomplete final frame: report complete ones only
        n += 1
        p += flen
    dur = n * 1024 / rate if n and rate else None
    return {**out, "kind": "audio", "container": "adts",
            "codec": codec, "sample_rate": rate,
            "channels": channels or None, "n_frames": n or None,
            "n_samples": n * 1024 if n else None,
            "duration_s": round(dur, 6) if dur else None,
            "bit_rate": round(8 * (p - pos) / dur) if dur else None}


def encode_mpeg_audio_stub(
    n_frames: int = 10,
    rate: int = 44100,
    kbps: int = 128,
    channels: int = 2,
    xing: bool = False,
) -> bytes:
    """Spec-valid MPEG1 Layer III frame-header sequence with zeroed
    audio payload — a PROBE fixture, not a decoder twin (the decode
    tier refuses perceptual codecs; this exists so probe_media's
    header/Xing arithmetic is testable against known counts)."""
    sr_idx = {44100: 0, 48000: 1, 32000: 2}[rate]
    br_idx = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
              256, 320).index(kbps)
    mode = 3 if channels == 1 else 0
    flen = 144 * kbps * 1000 // rate
    hdr = bytes([
        0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), mode << 6,
    ])
    frame = bytearray(hdr) + bytes(flen - 4)
    frames = [bytes(frame) for _ in range(n_frames)]
    if xing:
        first = bytearray(frames[0])
        side = 17 if channels == 1 else 32
        xoff = 4 + side
        first[xoff : xoff + 4] = b"Xing"
        first[xoff + 4 : xoff + 8] = (1).to_bytes(4, "big")   # frames flag
        first[xoff + 8 : xoff + 12] = n_frames.to_bytes(4, "big")
        frames[0] = bytes(first)
    return b"".join(frames)


def encode_adts_stub(
    n_frames: int = 10, rate: int = 44100, channels: int = 2,
    body_bytes: int = 64,
) -> bytes:
    """Spec-valid ADTS (AAC-LC) frame-header sequence with zeroed
    payload — probe fixture only (see encode_mpeg_audio_stub)."""
    sf_idx = _ADTS_SR.index(rate)
    flen = 7 + body_bytes
    frames = []
    for _ in range(n_frames):
        h = bytearray(7)
        h[0] = 0xFF
        h[1] = 0xF1                      # MPEG-4, layer 00, no CRC
        h[2] = (1 << 6) | (sf_idx << 2) | ((channels >> 2) & 1)
        h[3] = ((channels & 0x3) << 6) | ((flen >> 11) & 0x3)
        h[4] = (flen >> 3) & 0xFF
        h[5] = ((flen & 0x7) << 5) | 0x1F
        h[6] = 0xFC
        frames.append(bytes(h) + bytes(body_bytes))
    return b"".join(frames)


def _exif_orientation(tiff: bytes):
    """Orientation (EXIF/TIFF tag 274) from an APP1 Exif body: TIFF
    byte-order mark, IFD0 walk, SHORT value 1..8 — None when absent or
    malformed (a probe never raises on metadata)."""
    import struct as _s

    try:
        if tiff[:2] == b"II":
            bo = "<"
        elif tiff[:2] == b"MM":
            bo = ">"
        else:
            return None
        (ifd_off,) = _s.unpack(bo + "I", tiff[4:8])
        (n_entries,) = _s.unpack(bo + "H", tiff[ifd_off : ifd_off + 2])
        for i in range(n_entries):
            e = ifd_off + 2 + 12 * i
            tag, typ = _s.unpack(bo + "HH", tiff[e : e + 4])
            if tag == 274 and typ == 3:
                (v,) = _s.unpack(bo + "H", tiff[e + 8 : e + 10])
                return v if 1 <= v <= 8 else None
        return None
    except (IndexError, _s.error):
        return None


def probe_media(buf: bytes) -> dict:
    """ffprobe-lite: identify a media payload from its header bytes
    and return uniform metadata — {kind, container, codec, width,
    height, n_frames, n_keyframes, sample_rate, n_samples} with None
    for fields the format doesn't carry — WITHOUT decoding pixels or
    samples (frame counts come from container sample tables where
    those exist).  The single entry point a 100 TB corpus pipeline
    calls to bucket a mixed crawl by modality/codec/resolution before
    scheduling any decode; every branch reuses the pure parsers
    already in this tier.  Unknown payloads → kind='unknown'."""
    import struct

    out = {
        "kind": "unknown", "container": None, "codec": None,
        "width": None, "height": None, "n_frames": None,
        "n_keyframes": None, "sample_rate": None, "n_samples": None,
        "channels": None, "exif_orientation": None,
        "duration_s": None, "bit_rate": None,
    }
    if len(buf) < 12:
        return out
    # ---- images
    if buf[:8] == _PNG_SIG:
        w, h = struct.unpack(">II", buf[16:24])
        return {**out, "kind": "image", "container": "png",
                "codec": "png", "width": w, "height": h, "n_frames": 1}
    if buf[:2] == b"\xff\xd8":
        # scan markers: SOFn carries dimensions; APP1/Exif carries the
        # orientation a decode pipeline MUST apply before any resize
        # or patch extraction (tag 274, TIFF IFD0 inside the APP1 body)
        pos, codec, orient = 2, "jpeg", None
        while pos + 4 <= len(buf):
            if buf[pos] != 0xFF:
                pos += 1
                continue
            marker = buf[pos + 1]
            if marker == 0xFF:
                pos += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (seglen,) = struct.unpack(">H", buf[pos + 2 : pos + 4])
            if (marker == 0xE1 and orient is None
                    and buf[pos + 4 : pos + 10] == b"Exif\x00\x00"):
                orient = _exif_orientation(
                    buf[pos + 10 : pos + 2 + seglen]
                )
            if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                          0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                _prec, h, w = struct.unpack(
                    ">BHH", buf[pos + 4 : pos + 9]
                )
                codec = "jpeg-progressive" if marker == 0xC2 else "jpeg"
                return {**out, "kind": "image", "container": "jfif",
                        "codec": codec, "width": w, "height": h,
                        "n_frames": 1, "exif_orientation": orient}
            pos += 2 + seglen
        return {**out, "kind": "image", "container": "jfif",
                "codec": codec, "exif_orientation": orient}
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", buf[6:10])
        # count image descriptors by WALKING the block structure (a
        # 0x2C byte-substring count also matches LZW data bytes)
        n = 0
        try:
            packed = buf[10]      # logical screen descriptor flags
            pos = 13
            if packed & 0x80:     # global color table
                pos += 3 * (2 << (packed & 0x7))
            while pos < len(buf):
                b0 = buf[pos]
                if b0 == 0x3B:    # trailer
                    break
                if b0 == 0x21:    # extension: label + sub-blocks
                    pos += 2
                    while pos < len(buf) and buf[pos]:
                        pos += 1 + buf[pos]
                    pos += 1
                elif b0 == 0x2C:  # image descriptor
                    n += 1
                    lpacked = buf[pos + 9]
                    pos += 10
                    if lpacked & 0x80:  # local color table
                        pos += 3 * (2 << (lpacked & 0x7))
                    pos += 1          # LZW min code size
                    while pos < len(buf) and buf[pos]:
                        pos += 1 + buf[pos]
                    pos += 1
                else:
                    break  # malformed — stop counting
        except Exception:
            n = 0
        return {**out, "kind": "image", "container": "gif",
                "codec": "gif-lzw", "width": w, "height": h,
                "n_frames": n or None}
    if buf[:2] == b"BM":
        w, h = struct.unpack("<ii", buf[18:26])
        return {**out, "kind": "image", "container": "bmp",
                "codec": "bmp", "width": w, "height": abs(h),
                "n_frames": 1}
    if buf[:4] == b"\x00\x00\x01\x00" and len(buf) >= 22:
        # ICO: the 6-byte magic is weak (reserved=0, type=1), so
        # validate the directory before claiming it (probe_ico raises
        # on inconsistency and we fall through to 'unknown' below via
        # the generic walkers)
        try:
            from .ico import probe_ico

            p = probe_ico(buf)
            first = p["entries"][0]
            return {**out, "kind": "image", "container": "ico",
                    "codec": first["kind"], "width": first["width"],
                    "height": first["height"],
                    "n_frames": p["n_images"]}
        except (ValueError, NotImplementedError):
            pass
    if buf[:4] == b"RIFF" and buf[8:12] == b"WEBP":
        # WebP chunk layouts (Google container + VP8/VP8L bitstream
        # specs): VP8 key frame has a 9D 01 2A sync then 14-bit dims;
        # VP8L packs w-1/h-1 in 14-bit fields after 0x2F; VP8X carries
        # a 24-bit-minus-one canvas size. Decode is the PIL tier;
        # dimensions probe natively.
        try:
            fourcc, body = buf[12:16], buf[20:]
            if fourcc == b"VP8 " and body[3:6] == b"\x9d\x01\x2a":
                w = int.from_bytes(body[6:8], "little") & 0x3FFF
                h = int.from_bytes(body[8:10], "little") & 0x3FFF
            elif fourcc == b"VP8L" and body[0] == 0x2F:
                bits = int.from_bytes(body[1:5], "little")
                w = (bits & 0x3FFF) + 1
                h = ((bits >> 14) & 0x3FFF) + 1
            elif fourcc == b"VP8X":
                w = int.from_bytes(body[4:7], "little") + 1
                h = int.from_bytes(body[7:10], "little") + 1
            else:
                w = h = None
        except Exception:
            w = h = None
        return {**out, "kind": "image", "container": "webp",
                "codec": fourcc.decode("latin1").strip().lower(),
                "width": w, "height": h, "n_frames": 1}
    if buf[:4] in (b"II*\x00", b"MM\x00*"):
        # TIFF: walk IFD0 for ImageWidth (256) / ImageLength (257)
        try:
            import struct as _s

            bo = "<" if buf[:2] == b"II" else ">"
            (ifd_off,) = _s.unpack(bo + "I", buf[4:8])
            (n_entries,) = _s.unpack(
                bo + "H", buf[ifd_off : ifd_off + 2]
            )
            w = h = None
            for i in range(n_entries):
                e = ifd_off + 2 + 12 * i
                tag, typ = _s.unpack(bo + "HH", buf[e : e + 4])
                if tag in (256, 257):
                    if typ == 3:   # SHORT
                        (v,) = _s.unpack(bo + "H", buf[e + 8 : e + 10])
                    else:          # LONG
                        (v,) = _s.unpack(bo + "I", buf[e + 8 : e + 12])
                    if tag == 256:
                        w = v
                    else:
                        h = v
            return {**out, "kind": "image", "container": "tiff",
                    "codec": "tiff", "width": w, "height": h,
                    "n_frames": 1}
        except Exception:
            return {**out, "kind": "image", "container": "tiff"}
    if buf[:4] == b"\x76\x2f\x31\x01":
        try:
            from .exr import _parse_channels, _parse_header

            attrs, _ = _parse_header(buf)
            x0, y0, x1, y1 = struct.unpack(
                "<iiii", attrs["dataWindow"][1]
            )
            chans = _parse_channels(attrs["channels"][1])
            return {**out, "kind": "image", "container": "exr",
                    "codec": "exr", "width": x1 - x0 + 1,
                    "height": y1 - y0 + 1, "n_frames": 1,
                    "channels": len(chans)}
        except (ValueError, NotImplementedError, KeyError, IndexError,
                struct.error):
            return {**out, "kind": "image", "container": "exr"}
    if buf[:4] == b"qoif":
        w, h, ch, _cs = struct.unpack(">IIBB", buf[4:14])
        return {**out, "kind": "image", "container": "qoi",
                "codec": "qoi", "width": w, "height": h, "n_frames": 1,
                "channels": ch}
    if buf[:2] == b"P6":
        try:
            px = decode_ppm(buf)  # header-cheap; raster is a view
            return {**out, "kind": "image", "container": "ppm",
                    "codec": "ppm", "width": px.shape[1],
                    "height": px.shape[0], "n_frames": 1}
        except (ValueError, NotImplementedError):
            return out
    if buf[:1] == b"P" and buf[1:2] in b"12345":
        try:
            from .legacyimg import _pnm_tokens

            kind = buf[1] - 0x30
            toks, _ = _pnm_tokens(buf, 2)
            return {**out, "kind": "image", "container": "pnm",
                    "codec": f"p{kind}", "width": int(toks[0]),
                    "height": int(toks[1]), "n_frames": 1}
        except (ValueError, NotImplementedError):
            return out
    if buf[:4] == b"\x59\xa6\x6a\x95":
        w, h, depth = struct.unpack(">iii", buf[4:16])
        return {**out, "kind": "image", "container": "ras",
                "codec": "sun-raster", "width": w, "height": h,
                "n_frames": 1, "channels": max(depth // 8, 1)}
    if buf[:2] == b"\x01\xda":
        _stor, _bpc, _dim, w, h, z = struct.unpack(">BBHHHH", buf[2:12])
        return {**out, "kind": "image", "container": "sgi",
                "codec": "sgi-rgb", "width": w, "height": h,
                "n_frames": 1, "channels": z or None}
    if buf[:8].lstrip().startswith(b"#define"):
        try:
            from .legacyimg import decode_xbm

            px = decode_xbm(buf)
            return {**out, "kind": "image", "container": "xbm",
                    "codec": "xbm", "width": px.shape[1],
                    "height": px.shape[0], "n_frames": 1}
        except (ValueError, NotImplementedError):
            return out
    if (
        buf[0] == 0x0A and buf[1] in (0, 2, 3, 4, 5)
        and buf[2] == 1 and buf[3] in (1, 2, 4, 8) and len(buf) >= 128
    ):
        # ZSoft PCX: no real magic beyond 0x0A — the standard sniff is
        # manufacturer + plausible version/encoding/bpp fields
        x0, y0, x1, y1 = struct.unpack("<HHHH", buf[4:12])
        return {**out, "kind": "image", "container": "pcx",
                "codec": f"pcx-rle-{buf[3]}bit-{buf[65]}plane",
                "width": x1 - x0 + 1, "height": y1 - y0 + 1,
                "n_frames": 1, "channels": buf[65]}
    if buf[-18:] == b"TRUEVISION-XFILE.\x00":
        # TGA v2: the header has no magic — the footer signature is
        # the format's only reliable mark (spec §"TGA File Footer")
        try:
            (_idl, _cm, img_type, _a, _b, _c, _x, _y, w, h, depth,
             _d) = struct.unpack("<BBBHHBHHHHBB", buf[:18])
            codec = {2: "tga", 3: "tga-gray", 10: "tga-rle",
                     11: "tga-rle-gray"}.get(img_type, f"tga-{img_type}")
            return {**out, "kind": "image", "container": "tga",
                    "codec": codec, "width": w, "height": h,
                    "n_frames": 1, "channels": max(depth // 8, 1)}
        except struct.error:
            return {**out, "kind": "image", "container": "tga"}
    # ---- audio
    if buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
        # name the codec from the fmt tag (decode_wav validates the
        # rest); tags per RFC 2361 / mmreg.h registry
        codec = None
        p = 12
        while p + 8 <= len(buf):
            size = int.from_bytes(buf[p + 4 : p + 8], "little")
            if buf[p : p + 4] == b"fmt " and size >= 2:
                tag = int.from_bytes(buf[p + 8 : p + 10], "little")
                codec = {1: "pcm", 3: "pcm-float32", 6: "g711-alaw",
                         7: "g711-mulaw",
                         0x11: "ima-adpcm"}.get(tag, f"wav-0x{tag:x}")
                break
            p += 8 + size + (size & 1)
        try:
            rate, samples = decode_wav(buf)
            return {**out, "kind": "audio", "container": "wav",
                    "codec": codec, "sample_rate": rate,
                    "n_samples": int(samples.shape[0]),
                    "channels": int(samples.shape[1])}
        except (ValueError, NotImplementedError):
            return {**out, "kind": "audio", "container": "wav",
                    "codec": codec}
    if buf[:4] == b"fLaC":
        # STREAMINFO is the mandatory first metadata block (FLAC
        # format spec, xiph.org): 34-byte body; sample rate 20 bits,
        # channels-1 3 bits, bits-1 5 bits, total samples 36 bits
        body = buf[8:42]
        if len(body) == 34:
            rate = (body[10] << 12) | (body[11] << 4) | (body[12] >> 4)
            channels = ((body[12] >> 1) & 0x7) + 1
            total = ((body[13] & 0xF) << 32) | int.from_bytes(
                body[14:18], "big"
            )
            return {**out, "kind": "audio", "container": "flac",
                    "codec": "flac", "sample_rate": rate or None,
                    "n_samples": total or None,
                    "channels": channels}
        return {**out, "kind": "audio", "container": "flac",
                "codec": "flac"}
    if buf[:4] == b".snd":
        # Sun AU: fixed 24-byte BE header names the codec directly
        try:
            _off, _size, enc, rate, channels = struct.unpack(
                ">IIIII", buf[4:24]
            )
            codec = {1: "g711-mulaw", 2: "pcm", 3: "pcm", 4: "pcm",
                     5: "pcm", 27: "g711-alaw"}.get(enc, f"au-{enc}")
            bps = {1: 1, 2: 1, 3: 2, 4: 3, 5: 4, 27: 1}.get(enc)
            n = None
            if bps and channels and _size != 0xFFFFFFFF:
                n = _size // (bps * channels)
            return {**out, "kind": "audio", "container": "au",
                    "codec": codec, "sample_rate": rate,
                    "n_samples": n, "channels": channels or None}
        except struct.error:
            return {**out, "kind": "audio", "container": "au"}
    if buf[:4] == b"FORM" and buf[8:12] in (b"AIFF", b"AIFC"):
        # AIFF/AIFC: COMM carries frames/channels/rate; AIFC names
        # the compression type after the 18 fixed COMM bytes
        container = "aifc" if buf[8:12] == b"AIFC" else "aiff"
        p, codec, rate, n, channels = 12, "pcm", None, None, None
        try:
            from .aiffau import _x80_to_int

            while p + 8 <= len(buf):
                cid = buf[p : p + 4]
                (size,) = struct.unpack(">I", buf[p + 4 : p + 8])
                if cid == b"COMM":
                    body = buf[p + 8 : p + 8 + size]
                    channels, n, _bits = struct.unpack(">hIh", body[:8])
                    rate = _x80_to_int(body[8:18])
                    if container == "aifc" and len(body) >= 22:
                        comp = body[18:22]
                        codec = {b"NONE": "pcm", b"sowt": "pcm",
                                 b"ulaw": "g711-mulaw",
                                 b"alaw": "g711-alaw"}.get(
                            comp, comp.decode("latin1").strip()
                        )
                    break
                p += 8 + size + (size & 1)
        except (struct.error, ValueError):
            pass
        return {**out, "kind": "audio", "container": container,
                "codec": codec, "sample_rate": rate, "n_samples": n,
                "channels": channels or None}
    if (
        buf[:3] == b"ID3"
        or (buf[0] == 0xFF and (buf[1] & 0xE0) == 0xE0)
    ):
        # MPEG audio (metadata-only; the decode tier refuses these
        # perceptual codecs — exact-or-refuse, SCALE.md §media — but
        # the probe still reports duration/bitrate metadata the way it
        # names WAV codecs): skip an ID3v2 tag (syncsafe size), find
        # the first frame header (ISO 11172-3 / 13818-7), then either
        # read the Xing/Info VBR frame count or walk CBR frame lengths
        pos = 0
        if buf[:3] == b"ID3" and len(buf) >= 10:
            pos = 10 + (
                (buf[6] << 21) | (buf[7] << 14) | (buf[8] << 7) | buf[9]
            )
        while pos + 4 <= len(buf):
            if buf[pos] == 0xFF and (buf[pos + 1] & 0xE0) == 0xE0:
                if (buf[pos + 1] & 0x06) == 0 and (
                    buf[pos + 1] & 0xF0
                ) == 0xF0:
                    return _probe_adts(buf, pos, out)
                return _probe_mpeg_audio(buf, pos, out)
            pos += 1
        return {**out, "kind": "audio", "container": "mpeg"}
    # ---- video containers
    if buf[:4] == b"RIFF" and buf[8:12] == b"AVI ":
        # count video chunks by WALKING the movi list (a byte-substring
        # count also matches the idx1 index entries — exactly 2x)
        import struct as _s

        def _walk(lo, hi):
            pos = lo
            while pos + 8 <= hi:
                ctype = buf[pos : pos + 4]
                (size,) = _s.unpack("<I", buf[pos + 4 : pos + 8])
                yield ctype, pos + 8, min(pos + 8 + size, hi)
                pos += 8 + size + (size & 1)

        n = 0
        try:
            for ctype, lo, hi in _walk(12, len(buf)):
                if ctype == b"LIST" and buf[lo : lo + 4] == b"movi":
                    for sub, _slo, _shi in _walk(lo + 4, hi):
                        if sub[2:4] in (b"dc", b"db"):
                            n += 1
        except Exception:
            n = 0
        return {**out, "kind": "video", "container": "avi",
                "codec": "mjpeg", "n_frames": n or None,
                "n_keyframes": n or None}
    if buf.startswith(b"YUV4MPEG2"):
        n = buf.count(b"FRAME")
        return {**out, "kind": "video", "container": "y4m",
                "codec": "rawvideo", "n_frames": n, "n_keyframes": n}
    if buf[4:8] == b"ftyp":
        from .mp4 import avc_track_info, demux_mp4, probe_isobmff_image

        # AVIF/HEIF still images first: ftyp brand decides, and the
        # codec is NAMED (av1/hevc) even though the pure decode tier
        # refuses those payloads — the MP3/CABAC surfacing rule
        try:
            img = probe_isobmff_image(buf)
        except Exception:
            img = None
            brand = buf[8:12]
            if brand in (b"avif", b"avis", b"heic", b"heix", b"mif1"):
                return {
                    **out, "kind": "image",
                    "container": "avif" if brand[:3] == b"avi" else "heif",
                }
        if img is not None:
            return {**out, "kind": "image",
                    "container": img["container"],
                    "codec": img["codec"], "width": img["width"],
                    "height": img["height"],
                    "n_frames": img["n_items"]}
        # never-raise contract: parse_sps raises NotImplementedError
        # for scaling-matrix SPS, truncated tables raise struct/index
        # errors — any of these degrade to container-only metadata
        try:
            info = avc_track_info(buf)
        except Exception:
            return {**out, "kind": "video", "container": "mp4"}
        if info is not None:
            # "h264-cabac" names WHY the pure decode tier refuses the
            # track (exact-or-refuse: no external CABAC conformance
            # vector exists in this environment, SCALE.md §media)
            codec = (
                "h264-cabac" if info.get("entropy") == "cabac"
                else "h264"
            )
            return {**out, "kind": "video", "container": "mp4",
                    "codec": codec, "width": info["width"],
                    "height": info["height"],
                    "n_frames": info["n_samples"],
                    "n_keyframes": info["n_keyframes"]}
        try:
            n = n_sync = 0
            fourcc = None
            for _t, _no, _ts, sync, fcc, _b in demux_mp4(buf):
                n += 1
                n_sync += bool(sync)
                fourcc = fcc
        except Exception:
            return {**out, "kind": "video", "container": "mp4"}
        return {**out, "kind": "video", "container": "mp4",
                "codec": {"jpeg": "mjpeg"}.get(fourcc, fourcc),
                "n_frames": n, "n_keyframes": n_sync}
    if buf[:4] == b"\x1aE\xdf\xa3":
        from .mkv import mkv_track_index

        try:
            idx = mkv_track_index(buf)
        except Exception:
            return {**out, "kind": "video", "container": "mkv"}
        for t in idx["tracks"].values():
            codec = {
                "V_MJPEG": "mjpeg", "V_MPEG4/ISO/AVC": "h264",
            }.get(t["codec_id"], t["codec_id"])
            if codec == "h264" and t.get("entropy") == "cabac":
                codec = "h264-cabac"  # pure-tier refusal, named
            return {**out, "kind": "video", "container": "mkv",
                    "codec": codec, "width": t["width"],
                    "height": t["height"], "n_frames": t["n_blocks"],
                    "n_keyframes": t["n_keyframes"]}
        return {**out, "kind": "video", "container": "mkv"}
    if buf[:3] == b"\x00\x00\x01" or buf[:4] == b"\x00\x00\x00\x01":
        from .h264 import h264_stream_index

        try:
            idx = h264_stream_index(buf)
        except Exception:
            return out
        codec = (
            "h264-cabac" if idx.get("entropy") == "cabac" else "h264"
        )
        return {**out, "kind": "video", "container": "annexb",
                "codec": codec, "width": idx["width"],
                "height": idx["height"], "n_frames": None,
                "n_keyframes": idx["n_idr"]}
    if buf[:4] == b"OggS":
        # Ogg container (RFC 3533): walk page headers (metadata-only —
        # perceptual decode refuses, but like MP3/ADTS the probe still
        # names codec/rate/channels and the last granule position);
        # codec from the BOS page's id packet (Vorbis I §4.2.2 /
        # RFC 7845 §5.1 OpusHead / Ogg-FLAC mapping)
        pos = 0
        codec = rate = channels = None
        n_pages = 0
        last_granule = None
        while pos + 27 <= len(buf) and buf[pos : pos + 4] == b"OggS":
            htype = buf[pos + 5]
            granule = int.from_bytes(
                buf[pos + 6 : pos + 14], "little", signed=True
            )
            nsegs = buf[pos + 26]
            seg_tab = buf[pos + 27 : pos + 27 + nsegs]
            if len(seg_tab) != nsegs:
                break
            body_len = sum(seg_tab)
            body = buf[pos + 27 + nsegs : pos + 27 + nsegs + body_len]
            if htype & 0x02 and codec is None:   # BOS page: id packet
                if body[:7] == b"\x01vorbis" and len(body) >= 16:
                    codec = "vorbis"
                    channels = body[11]
                    rate = int.from_bytes(body[12:16], "little")
                elif body[:8] == b"OpusHead" and len(body) >= 14:
                    codec = "opus"
                    channels = body[9]
                    # Opus granules tick at 48 kHz regardless of the
                    # stored input rate (RFC 7845 §4)
                    rate = 48000
                elif body[:5] == b"\x7fFLAC":
                    codec = "flac"
                elif body[:7] == b"\x80theora":
                    codec = "theora"
            n_pages += 1
            if granule >= 0:
                last_granule = granule
            pos += 27 + nsegs + body_len
        kind = "video" if codec == "theora" else "audio"
        return {**out, "kind": kind, "container": "ogg",
                "codec": codec, "sample_rate": rate,
                "channels": channels or None, "n_frames": n_pages or None,
                "n_samples": last_granule}
    # ---- web archives (the crawl-ingest modality, operators/warc.py)
    if buf[:5] == b"WARC/":
        return {**out, "kind": "archive", "container": "warc",
                "codec": "warc"}
    if buf[:2] == b"\x1f\x8b":
        # gzip: sniff the first member's head — tag as .warc.gz only
        # when the inflated bytes say so (other gzip stays unknown)
        import zlib

        try:
            head = zlib.decompressobj(wbits=31).decompress(
                buf[:4096], 16
            )
        except zlib.error:
            return out
        if head[:5] == b"WARC/":
            return {**out, "kind": "archive", "container": "warc.gz",
                    "codec": "warc"}
    return out


# --------------------------------------------------------------------------
# ID3v2.3 tag read/write (round 10) — the metadata layer of an audio
# crawl; probe_media already SKIPS the tag, this parses it.
# --------------------------------------------------------------------------

def encode_id3v2_stub(fields: dict[str, str]) -> bytes:
    """ID3v2.3 tag bytes from {frame_id: text}: each frame is
    [4-byte id][4-byte size BE][2 flag bytes][enc byte][text];
    the header size field is syncsafe (7 bits per byte) per the
    informal id3.org v2.3.0 spec. Latin-1-safe text gets encoding
    0x00; anything else falls back to 0x01 UTF-16-with-BOM (both
    spec-valid in v2.3 and both read back losslessly by parse_id3v2)
    so arbitrary corpus text never aborts the tag write."""
    body = bytearray()
    for fid, text in fields.items():
        if len(fid) != 4:
            raise ValueError(f"ID3 frame id must be 4 chars: {fid!r}")
        try:
            payload = b"\x00" + text.encode("latin-1")
        except UnicodeEncodeError:
            payload = b"\x01" + text.encode("utf-16")
        body += fid.encode("ascii")
        body += len(payload).to_bytes(4, "big")
        body += b"\x00\x00"
        body += payload
    size = len(body)
    if size >= 1 << 28:
        raise ValueError("ID3 tag too large for a syncsafe size")
    ss = bytes(
        [(size >> 21) & 0x7F, (size >> 14) & 0x7F,
         (size >> 7) & 0x7F, size & 0x7F]
    )
    return b"ID3\x03\x00\x00" + ss + bytes(body)


def parse_id3v2(buf: bytes) -> dict[str, str]:
    """Text frames of a leading ID3v2.3/2.4 tag as {frame_id: text}
    (latin-1 and UTF-16-with-BOM encodings; other encodings and
    non-text frames are skipped, not errors — tags in the wild are
    dirty and a metadata pass must not abort the corpus scan).
    Returns {} when the payload carries no ID3v2 tag."""
    if buf[:3] != b"ID3" or len(buf) < 10:
        return {}
    ver = buf[3]
    size = (buf[6] << 21) | (buf[7] << 14) | (buf[8] << 7) | buf[9]
    end = min(10 + size, len(buf))
    pos = 10
    out: dict[str, str] = {}
    while pos + 10 <= end:
        fid = buf[pos:pos + 4]
        if not fid.strip(b"\x00"):
            break  # padding reached
        raw = buf[pos + 4:pos + 8]
        if ver >= 4:  # v2.4 frame sizes are syncsafe
            flen = ((raw[0] & 0x7F) << 21) | ((raw[1] & 0x7F) << 14) \
                | ((raw[2] & 0x7F) << 7) | (raw[3] & 0x7F)
        else:
            flen = int.from_bytes(raw, "big")
        payload = buf[pos + 10:pos + 10 + flen]
        pos += 10 + flen
        if len(payload) < 1 or not fid.startswith(b"T"):
            continue
        enc, text = payload[0], payload[1:]
        try:
            if enc == 0:
                val = text.decode("latin-1")
            elif enc == 1:
                val = text.decode("utf-16")
            elif enc == 3:
                val = text.decode("utf-8")
            else:
                continue
        except UnicodeDecodeError:
            continue
        out[fid.decode("ascii")] = val.rstrip("\x00")
    return out


# --------------------------------------------------------------------------
# Perceptual dedup kernel (shared by the batch query
# plans/multimodal.media_dhash_cross_format_dedup and the streaming
# twin streaming/stateful.dhash_dedup_increments)
# --------------------------------------------------------------------------
MEDIA_DHASH_SCHEMA = "media_id long, fmt long, dhash long, blob_md5 string"


def media_dhash_row(side: int):
    """`map_rows` row-function factory: for each (media_id, k, fmt) row,
    REALLY ENCODE the k-keyed side×side gradient pattern with the
    fmt-selected codec (PNG / QOI / BMP24), decode it back with the
    matching pure-numpy decoder, and compute the side*(side-1)-bit
    difference hash over the recovered pixels. Only the 8-byte hash,
    the format id and the blob's md5 exit the kernel — payload bytes
    never shuffle. Works identically on batch and streaming frames
    (no window, no state). Output: `MEDIA_DHASH_SCHEMA`."""

    def row(media_id, k, fmt):
        import hashlib

        import numpy as np

        from .qoi import decode_qoi, encode_qoi

        k = int(k)
        r, c = np.meshgrid(np.arange(side), np.arange(side), indexing="ij")
        v = ((k * 7 + r * 16 + c * 29) % 256).astype(np.uint8)
        img = np.stack([v, v, v], axis=-1)
        if fmt == 0:
            blob = encode_png(img)
            dec = decode_png(blob)
        elif fmt == 1:
            blob = encode_qoi(img)
            dec = decode_qoi(blob)
        else:
            blob = encode_bmp24(img)
            dec = decode_bmp(blob)
        gray = np.asarray(dec)[:, :, 0].astype(np.int64)
        bits = (gray[:, 1:] > gray[:, :-1]).astype(np.int64)
        weights = (
            1 << np.arange(side * (side - 1), dtype=np.int64)
        ).reshape(side, side - 1)
        dhash = int((bits * weights).sum())
        yield int(media_id), int(fmt), dhash, hashlib.md5(blob).hexdigest()

    return row
