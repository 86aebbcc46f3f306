"""Multimodal-column queries — binary media over the documents table.

No media fixture exists, so media is derived deterministically from
`documents` (content = UTF-8 bytes of text, mime alternates by doc_id).
Every query here is exact-oracle-checked, including the REAL codec
paths: media_ppm_pixel_features synthesizes valid binary-PPM files and
decodes them with the pure-numpy P6 codec, media_wav_audio_stats wraps
text bytes in real RIFF/WAVE containers and decodes them with the
PCM-16 codec; the fake-decoder paths (byte histogram / byte slices)
keep their own arithmetic oracles.

Scale notes: metadata (length/md5) is computed JVM-side before any
decode — predicate pushdown on mime/size never touches payload bytes;
the decode kernels stream Arrow batches through mapInPandas, so a 100 TB
media corpus is bounded by scan + Python-worker throughput, never by
driver memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.multimodal import (
    decode_audio_features,
    decode_image_features,
    encode_wav_pcm16,
    sample_video_frames,
)
from ..operators.rows import map_rows
from .registry import query

FRAME_BYTES = 64

#: 8x8 RGB binary PPM: 192 raster bytes after an 11-byte header.
PPM_DIM = 8
PPM_RASTER_BYTES = PPM_DIM * PPM_DIM * 3
PPM_HEADER = f"P6\n{PPM_DIM} {PPM_DIM}\n255\n"


def _doc_image(text: str):
    """Document text -> (w, (8, w, 3) uint8 image) for the codec
    round-trip queries (`_pixel_stats_query`).

    The DuckDB oracle twins compute w and pixel sums from CHARACTER
    counts while this kernel uses utf-8 BYTES, and the reshape needs at
    least w*24 bytes — both only hold for ASCII docs of >= 24 chars.
    Enforce that invariant loudly (exact-or-refuse) instead of letting
    a future fixture crash the reshape or silently break oracle parity."""
    import numpy as np

    bs = text.encode("utf-8")
    if len(bs) != len(text):
        raise ValueError(
            "codec round-trip fixture doc contains non-ASCII text:"
            " byte/char counts diverge, so the DuckDB oracle (character"
            " ascii() sums) would no longer match the kernel (utf-8"
            " bytes)"
        )
    w = max(1, min(len(bs) // 24, 64))
    if len(bs) < w * 24:
        raise ValueError(
            f"codec round-trip fixture doc too short ({len(bs)} bytes;"
            f" need >= 24 for an (8, w, 3) image)"
        )
    img = np.frombuffer(bs[: w * 24], dtype=np.uint8).reshape(8, w, 3)
    return w, img


#: Oracle of every lossless image round trip: the decoded-pixel stats
#: must equal stats of the SOURCE characters, so one mis-decoded byte
#: anywhere in a codec (op stream, run length, filter, plane order,
#: channel swap) shifts px_sum and breaks the hash. w = min(len//24, 64)
#: with all fixture docs >= 47 chars; the image is the first w*24
#: bytes as (8, w, 3).
_PIXEL_STATS_ORACLE = """
    WITH d AS (
        SELECT doc_id,
               greatest(1, least(length(text) // 24, 64)) AS w
        FROM documents
    ),
    px AS (
        SELECT doc_id, w,
               list_transform(
                   string_split_regex(
                       substr(text, 1, w * 24), ''),
                   c -> ascii(c)) AS bs
        FROM d JOIN documents USING (doc_id)
    )
    SELECT doc_id AS media_id,
           CAST(w AS INT) AS width,
           8 AS height,
           CAST(w * 8 AS BIGINT) AS n_pixels,
           CAST(list_sum(bs) AS BIGINT) AS px_sum,
           CAST(list_max(bs) AS INT) AS px_max
    FROM px
    """


def _pixel_stats_query(name, codec, roundtrip, tags, doc):
    """Register `name`: each document's `_doc_image` goes through
    `roundtrip(module, img)`, where `module` is operators.<codec>, and
    the stats of the DECODED array are checked against
    `_PIXEL_STATS_ORACLE`. The codec is imported inside the Python
    worker, so importing this package does not load it."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = load(spark, sf_dir)
        docs = t.documents.select("doc_id", "text")

        def row(doc_id, text):
            import importlib

            import numpy as np

            c = importlib.import_module(f"..operators.{codec}", __package__)
            w, img = _doc_image(text)
            dec = roundtrip(c, img)
            yield (
                int(doc_id),
                w,
                8,
                int(dec.shape[0] * dec.shape[1]),
                int(dec.astype(np.int64).sum()),
                int(dec.max()),
            )

        return map_rows(
            docs.repartition(8),
            "media_id long, width int, height int, n_pixels long,"
            " px_sum long, px_max int",
            row,
        )

    build.__name__ = build.__qualname__ = name
    build.__doc__ = doc
    query(name, oracle=_PIXEL_STATS_ORACLE, tags=tags)(build)


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → media: opaque binary content + alternating mime."""
    t = load(spark, sf_dir)
    return t.documents.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, "image/png")
        .otherwise("video/mp4")
        .alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )


@query(
    "media_metadata",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'video/mp4' END AS mime,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
    tags=("multimodal", "metadata"),
)
def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary — computed JVM-side
    (length + md5 of the payload), no decode. Both engines hash the
    same UTF-8 bytes."""
    return _media(spark, sf_dir).select(
        "media_id",
        "mime",
        F.length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@query(
    "media_frame_count",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(ceil(octet_length(encode(text)) / {FRAME_BYTES}.0) AS BIGINT)
               AS n_frames
    FROM documents
    WHERE doc_id % 2 = 1
    """,
    tags=("multimodal", "video"),
)
def media_frame_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling shape check: explode each video payload into
    fixed-size frames (fake demux — byte slices) and count per media;
    the oracle derives the same count arithmetically."""
    videos = _media(spark, sf_dir).where(F.col("mime") == "video/mp4")
    frames = sample_video_frames(
        videos, content_col="content", id_col="media_id",
        every_n_bytes=FRAME_BYTES, fake=True,
    )
    return frames.groupBy("media_id").agg(F.count("*").alias("n_frames"))


@query(
    "media_image_features",
    # The fake decoder is deterministic (byte histogram / total, float32
    # components), so it has an exact DuckDB twin: fixture text is pure
    # ASCII, hence ascii(char) == UTF-8 byte; bin = byte // 32 matches
    # np.histogram(bins=8, range=(0,256)); CAST AS REAL reproduces the
    # float32 quantization before the double norm.
    oracle="""
    WITH by AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'image/png'
                    ELSE 'video/mp4' END AS mime,
               list_transform(string_split_regex(text, ''), c -> ascii(c)) AS bs
        FROM documents
    ),
    feat AS (
        SELECT mime,
               list_transform(range(8), b ->
                   CAST(CAST(len(list_filter(bs, x -> x // 32 = b)) AS DOUBLE)
                        / greatest(len(bs), 1) AS REAL)) AS f
        FROM by
    )
    SELECT mime, count(*) AS n_media,
           round(avg(sqrt(list_sum(list_transform(f,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 5)
               AS avg_feature_norm
    FROM feat
    GROUP BY mime
    """,
    tags=("multimodal", "features"),
)
def media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → embed pipeline shape: byte-histogram features from the
    fake decoder, aggregated per mime class (mean feature norm) — the
    real decoder drops in without changing the plan."""
    images = _media(spark, sf_dir)
    feats = decode_image_features(
        images, content_col="content", id_col="media_id", dim=8, fake=True
    )
    norm = F.sqrt(
        F.aggregate(
            "feature", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )
    return (
        feats.join(
            _media(spark, sf_dir).select("media_id", "mime"), "media_id"
        )
        .groupBy("mime")
        .agg(
            F.count("*").alias("n_media"),
            F.round(F.avg(norm), 5).alias("avg_feature_norm"),
        )
    )


@query(
    "media_ppm_pixel_features",
    # The Spark side builds REAL binary-PPM files (header + raster =
    # text bytes cycled to 192) and decodes them with the pure-numpy P6
    # codec (fake=False). The oracle recomputes the same histogram from
    # the raster bytes directly — decoding must recover exactly the
    # 192 pixel bytes, header excluded, or the hash diverges. Fixture
    # text is pure ASCII so ascii(char) == UTF-8 byte; rpad cycles its
    # pad string identically in both engines.
    oracle=f"""
    WITH by AS (
        SELECT doc_id,
               list_transform(
                   string_split_regex(rpad(text, {PPM_RASTER_BYTES}, text), ''),
                   c -> ascii(c)) AS bs
        FROM documents
    ),
    feat AS (
        SELECT doc_id, list_transform(range(8), b ->
            CAST(CAST(len(list_filter(bs, x -> x // 32 = b)) AS DOUBLE)
                 / {PPM_RASTER_BYTES} AS REAL)) AS f
        FROM by
    )
    SELECT doc_id % 4 AS grp, count(*) AS n_media,
           round(avg(sqrt(list_sum(list_transform(f,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 5)
               AS avg_feature_norm
    FROM feat
    GROUP BY grp
    """,
    tags=("multimodal", "codec"),
)
def media_ppm_pixel_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode: synthesize valid binary-PPM payloads JVM-side
    (concat of header + cycled text bytes), then run the actual P6
    codec — not the fake — through the Arrow-batched kernel. Proves
    the production decode path end-to-end with an exact oracle."""
    t = load(spark, sf_dir)
    media = t.documents.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.encode(F.lit(PPM_HEADER), "UTF-8"),
            F.encode(F.expr(f"rpad(text, {PPM_RASTER_BYTES}, text)"), "UTF-8"),
        ).alias("content"),
    )
    feats = decode_image_features(
        media, content_col="content", id_col="media_id", dim=8, fake=False
    )
    norm = F.sqrt(
        F.aggregate(
            "feature", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )
    return (
        feats.select((F.col("media_id") % 4).alias("grp"), norm.alias("norm"))
        .groupBy("grp")
        .agg(
            F.count("*").alias("n_media"),
            F.round(F.avg("norm"), 5).alias("avg_feature_norm"),
        )
    )


@query(
    "media_wav_audio_stats",
    # The Spark side wraps each document's (even-truncated) text bytes
    # in a REAL RIFF/WAVE PCM-16 container and decodes it with the
    # pure-numpy WAV codec (fake=False). The oracle reassembles the
    # little-endian int16 samples arithmetically from consecutive byte
    # pairs (lo + 256*hi, two's complement) — parsing must recover the
    # exact sample stream or rms/peak diverge. DuckDB lists are
    # 1-based; range(n) is 0-based.
    oracle="""
    WITH b AS (
        SELECT doc_id,
               list_transform(
                   string_split_regex(
                       substr(text, 1, 2 * (length(text) // 2)), ''),
                   c -> ascii(c)) AS bs
        FROM documents
    ),
    s AS (
        SELECT doc_id, list_transform(range(len(bs) // 2), i ->
            CASE WHEN bs[2*i+2] * 256 + bs[2*i+1] >= 32768
                 THEN bs[2*i+2] * 256 + bs[2*i+1] - 65536
                 ELSE bs[2*i+2] * 256 + bs[2*i+1] END) AS smp
        FROM b
    )
    SELECT doc_id AS media_id,
           8000 AS sample_rate,
           CAST(len(smp) AS BIGINT) AS n_frames,
           coalesce(round(sqrt(list_sum(list_transform(smp,
               x -> CAST(x AS DOUBLE) * x)) / len(smp)), 6), 0.0) AS rms,
           CAST(coalesce(list_max(list_transform(smp, x -> abs(x))), 0)
                AS INT) AS peak
    FROM s
    """,
    tags=("multimodal", "codec"),
)
def media_wav_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: build valid PCM-16 WAV files (RIFF container
    around text-derived sample bytes, encode_wav_pcm16), decode them
    with the actual WAV codec, and report per-media sample stats."""
    t = load(spark, sf_dir)
    pcm = t.documents.select(
        F.col("doc_id").alias("media_id"),
        F.encode(
            F.expr("substr(text, 1, 2 * (length(text) div 2))"), "UTF-8"
        ).alias("content"),
    )

    def wrap(media_id, content):
        yield media_id, encode_wav_pcm16(bytes(content), rate=8000, channels=1)

    wav = map_rows(pcm, "media_id long, content binary", wrap)
    feats = decode_audio_features(
        wav, content_col="content", id_col="media_id", fake=False
    )
    return feats.select(
        "media_id",
        "sample_rate",
        "n_frames",
        F.round("rms", 6).alias("rms"),
        "peak",
    )


@query(
    "media_flac_audio_stats",
    # The Spark side interprets each document's (even-truncated) text
    # bytes as little-endian int16 samples, compresses them into a
    # REAL FLAC stream (operators/flac.encode_flac: fixed predictors,
    # partitioned Rice, CRC-8/16 + MD5), and decodes it back through
    # decode_audio_features' container dispatch.  FLAC is lossless,
    # so the oracle recomputes rms/peak arithmetically from the same
    # byte pairs — any codec defect (prediction, Rice coding, CRC,
    # channel math) breaks exact sample recovery and hash-diverges.
    oracle="""
    WITH b AS (
        SELECT doc_id,
               list_transform(
                   string_split_regex(
                       substr(text, 1, 2 * (length(text) // 2)), ''),
                   c -> ascii(c)) AS bs
        FROM documents
        WHERE doc_id % 5 = 1
    ),
    s AS (
        SELECT doc_id, list_transform(range(len(bs) // 2), i ->
            CASE WHEN bs[2*i+2] * 256 + bs[2*i+1] >= 32768
                 THEN bs[2*i+2] * 256 + bs[2*i+1] - 65536
                 ELSE bs[2*i+2] * 256 + bs[2*i+1] END) AS smp
        FROM b
    )
    SELECT doc_id AS media_id,
           16000 AS sample_rate,
           CAST(len(smp) AS BIGINT) AS n_frames,
           coalesce(round(sqrt(list_sum(list_transform(smp,
               x -> CAST(x AS DOUBLE) * x)) / len(smp)), 6), 0.0) AS rms,
           CAST(coalesce(list_max(list_transform(smp, x -> abs(x))), 0)
                AS INT) AS peak
    FROM s
    """,
    tags=("multimodal", "codec", "audio"),
)
def media_flac_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-audio round trip: text bytes → int16 PCM → FLAC
    encode → FLAC decode (container-dispatched) → sample stats.  The
    sampled filter (doc_id % 5) bounds the Python codec cost the way
    a real corpus certification pass would."""
    t = load(spark, sf_dir)
    # repartition for codec parallelism (single-file fixture = one
    # input split; see media_h264_intra_decode)
    pcm = (
        t.documents.where(F.col("doc_id") % 5 == 1)
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode(
                F.expr("substr(text, 1, 2 * (length(text) div 2))"),
                "UTF-8",
            ).alias("content"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def wrap(media_id, content):
        import numpy as np

        from ..operators.flac import encode_flac

        samples = np.frombuffer(bytes(content), dtype="<i2")
        yield media_id, encode_flac(samples, sample_rate=16000, blocksize=64)

    flac = map_rows(pcm, "media_id long, content binary", wrap)
    feats = decode_audio_features(
        flac, content_col="content", id_col="media_id", fake=False
    )
    return feats.select(
        "media_id",
        "sample_rate",
        "n_frames",
        F.round("rms", 6).alias("rms"),
        "peak",
    )


@query(
    "media_content_dedup",
    oracle="""
    WITH g AS (
        SELECT CASE WHEN doc_id % 2 = 0 THEN 'image/png'
               ELSE 'video/mp4' END AS mime,
               md5(text) AS fp,
               count(*) AS n,
               min(doc_id) AS survivor
        FROM documents
        GROUP BY 1, 2
    )
    SELECT mime,
           sum(n)::BIGINT AS n_media,
           count(*) AS n_distinct,
           sum(n - 1)::BIGINT AS n_dup_rows,
           sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_groups,
           min(survivor) AS min_survivor
    FROM g
    GROUP BY mime
    """,
    tags=("multimodal", "dedup"),
)
def media_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical media dedup per mime type: one groupBy over
    (mime, md5(content)) — 16-byte digests shuffle, payload bytes never
    do (the binary column is pruned out of the exchange; same digest
    discipline as the text exact-dedup family). Survivor = min id,
    deterministic."""
    g = (
        _media(spark, sf_dir)
        .groupBy("mime", F.md5("content").alias("fp"))
        .agg(F.count("*").alias("n"), F.min("media_id").alias("survivor"))
    )
    return g.groupBy("mime").agg(
        F.sum("n").alias("n_media"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("n") - 1).alias("n_dup_rows"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("n_dup_groups"),
        F.min("survivor").alias("min_survivor"),
    )


#: 8x8 C420 y4m: one frame = 64 luma + 2*16 chroma = 96 bytes; 2 frames
Y4M_FRAME_BYTES = 96
Y4M_FRAMES = 2
Y4M_HEADER = "YUV4MPEG2 W8 H8 F25:1 C420\n"


@query(
    "media_y4m_frames",
    # The Spark side assembles REAL YUV4MPEG2 containers (header +
    # FRAME markers + raw planes = text bytes cycled to 192) and
    # demuxes them with the actual y4m demuxer (fake=False). The
    # oracle slices the same 96-byte frames straight out of the cycled
    # payload — the demuxer must walk headers/markers exactly right to
    # reproduce the md5s.
    oracle=f"""
    WITH p AS (
        SELECT doc_id, rpad(text, {Y4M_FRAME_BYTES * Y4M_FRAMES}, text) AS pay
        FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(i AS INT) AS frame_no,
           md5(substr(pay, CAST(i * {Y4M_FRAME_BYTES} + 1 AS INT),
               {Y4M_FRAME_BYTES})) AS frame_md5
    FROM p, range({Y4M_FRAMES}) t(i)
    """,
    tags=("multimodal", "codec", "video"),
)
def media_y4m_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video demux: valid YUV4MPEG2 containers built JVM-side,
    frame-walked by the pure-python y4m demuxer through the Arrow
    kernel (operators/multimodal.sample_video_frames, fake=False) —
    the last media family whose production decode path was stubbed
    now runs for real on a public format."""
    t = load(spark, sf_dir)
    n = Y4M_FRAME_BYTES * Y4M_FRAMES
    pay = f"rpad(text, {n}, text)"
    parts = [F.encode(F.lit(Y4M_HEADER), "UTF-8")]
    for i in range(Y4M_FRAMES):
        parts.append(F.encode(F.lit("FRAME\n"), "UTF-8"))
        parts.append(
            F.encode(
                F.expr(f"substr({pay}, {i * Y4M_FRAME_BYTES + 1}, {Y4M_FRAME_BYTES})"),
                "UTF-8",
            )
        )
    media = t.documents.select(
        F.col("doc_id").alias("media_id"),
        F.concat(*parts).alias("content"),
    )
    out = sample_video_frames(
        media, content_col="content", id_col="media_id", fake=False
    )
    return out.select(
        "media_id", "frame_no", F.md5("frame").alias("frame_md5")
    )


# --------------------------------------------------------------------------
# contrastive training pairs: positives by id, hash-derived negatives
# --------------------------------------------------------------------------
_NEG_K = 3


@query(
    "contrastive_pairs",
    oracle=f"""
    WITH n AS (SELECT count(*) AS n_docs FROM documents),
    pos AS (
        SELECT d.doc_id, d.doc_id AS pair_doc, 'pos' AS kind
        FROM documents d
    ),
    neg AS (
        SELECT d.doc_id,
               CAST(('0x' || substr(md5(d.doc_id::VARCHAR || '-' || j), 1, 8))
                    ::BIGINT % n.n_docs AS BIGINT) AS pair_doc,
               'neg' AS kind
        FROM documents d, n, generate_series(0, {_NEG_K - 1}) AS g(j)
    ),
    pairs AS (
        SELECT * FROM pos
        UNION ALL
        SELECT * FROM neg WHERE pair_doc != doc_id
    )
    SELECT p.kind,
           count(*) AS n_pairs,
           count(DISTINCT p.doc_id) AS n_anchors,
           round(avg(c.n_chars), 4) AS avg_pair_chars
    FROM pairs p JOIN documents c ON c.doc_id = p.pair_doc
    GROUP BY p.kind
    """,
    tags=("multimodal", "contrastive", "sampling", "scale-path"),
)
def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style contrastive pair construction: each document anchors
    one positive (its own paired media — here doc_id == media_id, the
    fixture's 1:1 pairing) and k=3 DETERMINISTIC hash-derived negatives
    — the md5-bucket coin again (deterministic_sample_stats), so
    resharding or re-running never changes anyone's negatives and
    epochs are reproducible without an RNG-state coordination problem.

    Scale shape: negatives come from a hash expression, not a shuffle
    or a per-partition RNG; the only joins are FK lookups of the pair
    payloads. In-batch negatives (the training-time trick) replace the
    hash with the co-batch ids; the audit shape here stays the same."""
    t = load(spark, sf_dir)
    n_docs = t.documents.count()
    d = t.documents.select("doc_id")
    pos = d.select(
        "doc_id", F.col("doc_id").alias("pair_doc"), F.lit("pos").alias("kind")
    )
    neg = (
        d.crossJoin(
            spark.range(_NEG_K).select(F.col("id").cast("int").alias("j"))
        )
        .select(
            "doc_id",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("doc_id").cast("string"),
                                F.lit("-"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(n_docs),
            ).alias("pair_doc"),
            F.lit("neg").alias("kind"),
        )
        .where(F.col("pair_doc") != F.col("doc_id"))
    )
    pairs = pos.unionByName(neg)
    payload = t.documents.select(
        F.col("doc_id").alias("pair_doc"), "n_chars"
    )
    return (
        pairs.join(payload, "pair_doc")
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_pairs"),
            F.count_distinct("doc_id").alias("n_anchors"),
            F.round(F.avg("n_chars"), 4).alias("avg_pair_chars"),
        )
    )


@query(
    "media_mp4_keyframe_index",
    # The Spark side BUILDS a real MJPEG-in-MP4 per document
    # (operators/mp4.mux_mp4_mjpeg: ftyp/mdat/moov with stsd/stts/
    # stsc/stsz/stco sample tables) and then DEMUXES it back with the
    # pure ISO-BMFF walker; the reported counts/timestamps come from
    # the parsed boxes, never from the construction parameters.  The
    # oracle recomputes the expected index arithmetically from the
    # same deterministic rule (n = 1 + len(text) % 4 frames at fps 10
    # → 100 ms per sample; every MJPEG sample is a keyframe).
    oracle="""
    SELECT doc_id AS media_id,
           CAST(1 + length(text) % 4 AS BIGINT) AS n_samples,
           CAST(1 + length(text) % 4 AS BIGINT) AS n_keyframes,
           CAST((length(text) % 4) * 100000 AS BIGINT) AS last_ts_us,
           'jpeg' AS fourcc
    FROM documents
    WHERE doc_id % 3 = 0
    """,
    tags=("multimodal", "video", "container"),
)
def media_mp4_keyframe_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe/sample index of real MP4 containers with no codec
    library — the query a video-corpus pipeline runs FIRST at 100 TB:
    how many samples, which are sync points, what timeline, before
    any decode is scheduled.  Sample-level demux (ISO BMFF box walk)
    is codec-agnostic, so this path also serves avc1/hev1 corpora
    whose pixel decode lives in the PyAV tier.

    Scale shape: one Arrow mapInPandas over a bounded projection (the
    payload is synthesized per row; a real corpus would read the
    binary column) — no shuffle at all until the final row emission;
    metadata-only outputs keep the exchange free of payload bytes."""
    t = load(spark, sf_dir)
    docs = t.documents.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.length("text").alias("n_chars")
    )

    def row(doc_id, n_chars):
        import numpy as np

        from ..operators.mp4 import demux_mp4, mux_mp4_mjpeg

        n = 1 + int(n_chars) % 4
        fill = int(n_chars) % 256
        frames = [
            np.full((8, 8, 3), (fill + i) % 256, dtype=np.uint8)
            for i in range(n)
        ]
        samples = list(demux_mp4(mux_mp4_mjpeg(frames, fps=10, quality=80)))
        yield (
            int(doc_id),
            len(samples),
            sum(1 for s in samples if s[3]),
            max(s[2] for s in samples),
            samples[0][4],
        )

    return map_rows(
        docs,
        "media_id long, n_samples long, n_keyframes long,"
        " last_ts_us long, fourcc string",
        row,
    )


@query(
    "media_h264_stream_index",
    # The Spark side BUILDS a spec-valid H.264 Annex-B stream per
    # document (operators/h264.encode_h264_ipcm: SPS/PPS + IDR-only
    # I_PCM frames) and then INDEXES it with the pure NAL/SPS parser;
    # the reported counts/dimensions come from the parsed bitstream
    # (exp-Golomb SPS walk, start-code scan), never from the
    # construction parameters.  Oracle recomputes the expected index
    # arithmetically from the same rule (n = 1 + len(text) % 3
    # frames; stream = SPS + PPS + n IDR NALs; baseline profile 66).
    oracle="""
    SELECT doc_id AS media_id,
           CAST(2 + 1 + length(text) % 3 AS BIGINT) AS n_nals,
           CAST(1 + length(text) % 3 AS BIGINT) AS n_keyframes,
           16 AS width, 16 AS height,
           66 AS profile_idc
    FROM documents
    WHERE doc_id % 3 = 1
    """,
    tags=("multimodal", "video", "container"),
)
def media_h264_stream_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe/NAL index of raw H.264 elementary streams with no
    codec library — resolution, profile and IDR census from the SPS
    and start-code walk (operators/h264.h264_stream_index), the
    metadata pass that lets a 100 TB video corpus filter by
    resolution/keyframe density BEFORE any decode is scheduled.
    Sample-level indexing is entropy-coding-agnostic, so the same
    path serves CAVLC/CABAC corpora whose pixel decode lives in the
    PyAV tier.

    Scale shape: one Arrow mapInPandas over a bounded projection — no
    shuffle until the final row emission."""
    t = load(spark, sf_dir)
    docs = t.documents.where(F.col("doc_id") % 3 == 1).select(
        "doc_id", F.length("text").alias("n_chars")
    )

    def row(doc_id, n_chars):
        import numpy as np

        from ..operators.h264 import encode_h264_ipcm, h264_stream_index

        n = 1 + int(n_chars) % 3
        fill = int(n_chars) % 256
        frames = [
            np.full((16, 16, 3), (fill + i) % 256, dtype=np.uint8)
            for i in range(n)
        ]
        idx = h264_stream_index(encode_h264_ipcm(frames))
        yield (
            int(doc_id), idx["n_nals"], idx["n_idr"],
            idx["width"], idx["height"], idx["profile_idc"],
        )

    return map_rows(
        docs,
        "media_id long, n_nals long, n_keyframes long,"
        " width int, height int, profile_idc int",
        row,
    )


@query(
    "media_h264_intra_decode",
    # The Spark side runs the FULL entropy-coded H.264 pipeline per
    # sampled document: build a deterministic 32x32 gradient frame,
    # encode with operators/h264_cavlc.encode_h264_intra (CAVLC
    # I_4x4/I_16x16 spatial prediction, qp 24), decode with the pure
    # decoder, and report decode-derived facts.  The oracle pins the
    # invariants arithmetically: exactly one frame at 32x32, decode
    # bit-identical to the encoder's closed-loop reconstruction,
    # compressed stream smaller than raw 4:2:0, and mean |luma error|
    # within the qp-24 budget (measured worst case 1.55 over the
    # whole fixture offset range; bound 4.0).  Any codec drift flips
    # a boolean and hash-mismatches the row.
    oracle="""
    SELECT doc_id AS media_id,
           CAST(1 AS BIGINT) AS n_frames,
           32 AS width, 32 AS height,
           TRUE AS exact_recon,
           TRUE AS compresses,
           TRUE AS err_in_budget
    FROM documents
    WHERE doc_id % 7 = 2
    """,
    tags=("multimodal", "video", "codec"),
)
def media_h264_intra_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy-coded H.264 decode verification pass: the query a
    corpus pipeline runs on a SAMPLE of an intra-coded video corpus
    to certify the decode path before scheduling bulk work (the
    sparse doc_id % 7 filter is that sampling; the heavy Python codec
    runs on ~1/7th of documents).

    Scale shape: one Arrow mapInPandas over a bounded projection —
    per-document Python codec cost, no shuffle until the metadata
    rollup; payload bytes never enter an exchange."""
    t = load(spark, sf_dir)
    # the kernel's cost is Python codec time, not scan bytes: spread
    # the sampled (doc_id, n_chars) projection — two ints per row —
    # across the executor cores.  A real corpus gets this parallelism
    # from its many input splits; the single-file fixture needs the
    # explicit (and nearly free) repartition.  Keyless → round-robin:
    # per-row Python codec cost makes even counts matter, and nothing
    # downstream joins on the key (hash-by-key left ~2x skew on a
    # few-hundred-row projection).
    docs = (
        t.documents.where(F.col("doc_id") % 7 == 2)
        .select("doc_id", F.length("text").alias("n_chars"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def row(doc_id, n_chars):
        import numpy as np

        from ..operators.h264 import decode_h264_annexb
        from ..operators.h264_cavlc import encode_h264_intra

        ys, xs = np.mgrid[0:32, 0:32]
        off = int(n_chars)
        y = ((ys * 3 + xs * 5 + off) % 256).astype(np.uint8)
        cbp = np.full((16, 16), (off * 2) % 256, np.uint8)
        crp = np.full((16, 16), (off * 3) % 256, np.uint8)
        recon: list = []
        stream = encode_h264_intra(
            [(y, cbp, crp)], qp=24, yuv=True, recon_out=recon
        )
        decoded = list(decode_h264_annexb(stream, yuv=True))
        gy, gcb, gcr = decoded[0][1]
        exact = (
            np.array_equal(gy, recon[0][0])
            and np.array_equal(gcb, recon[0][1])
            and np.array_equal(gcr, recon[0][2])
        )
        err = float(np.abs(gy.astype(int) - y.astype(int)).mean())
        yield (
            int(doc_id),
            len(decoded),
            int(gy.shape[1]),
            int(gy.shape[0]),
            bool(exact),
            len(stream) < 32 * 32 * 3 // 2,
            err <= 4.0,
        )

    return map_rows(
        docs,
        "media_id long, n_frames long, width int, height int,"
        " exact_recon boolean, compresses boolean,"
        " err_in_budget boolean",
        row,
    )


@query(
    "media_h264_gop_decode",
    # The Spark side runs the MOTION-COMPENSATED H.264 pipeline per
    # sampled document: a 3-frame translating scene (deterministic
    # gradient, +2 px/frame), encoded as IDR + 2 P frames
    # (operators/h264_inter.encode_h264_video: quarter-pel motion
    # search, P_Skip/P_L0_16x16/intra-fallback RD decision, §8.7
    # in-loop deblocking — a DEFAULT-flag baseline stream) and
    # decoded with the pure decoder.  The oracle pins the invariants
    # arithmetically: 3 frames out, exactly 1 IDR + 2 P NALs, decode
    # bit-identical to the encoder's closed-loop FILTERED
    # reconstruction (references deblocked in-loop on both sides), and
    # the P-GOP stream smaller than the same frames coded all-intra
    # (worst measured ratio 0.646 over the fixture offset range).
    oracle="""
    SELECT doc_id AS media_id,
           CAST(3 AS BIGINT) AS n_frames,
           CAST(1 AS BIGINT) AS n_keyframes,
           CAST(2 AS BIGINT) AS n_p_frames,
           TRUE AS exact_recon,
           TRUE AS p_beats_intra
    FROM documents
    WHERE doc_id % 23 = 3
    """,
    tags=("multimodal", "video", "codec"),
)
def media_h264_gop_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motion-compensated decode certification pass — the sampled
    check a video-corpus pipeline runs before trusting the inter
    tier for bulk work (doc_id % 23 keeps the heavy Python codec on
    ~4% of documents).  The stream is a DEFAULT baseline
    stream (deblocking active), so the certification covers the §8.7
    in-loop filter and filtered-reference motion compensation.

    Scale shape: one Arrow mapInPandas over a pushdown-filtered
    projection — per-document Python codec cost, no shuffle; payload
    bytes never enter an exchange."""
    t = load(spark, sf_dir)
    # same parallelism note as media_h264_intra_decode: repartition
    # the two-int projection so the codec kernel uses every core
    docs = (
        t.documents.where(F.col("doc_id") % 23 == 3)
        .select("doc_id", F.length("text").alias("n_chars"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def row(doc_id, n_chars):
        import numpy as np

        from ..operators.h264 import decode_h264_annexb, split_annexb
        from ..operators.h264_cavlc import encode_h264_intra
        from ..operators.h264_inter import encode_h264_video

        ys, xs = np.mgrid[0:32, 0:48]
        off = int(n_chars)
        base = ((ys * 3 + xs * 5 + off) % 256).astype(np.uint8)
        frames = [
            (
                np.roll(base, i * 2, axis=1)[:, :32].copy(),
                np.full((16, 16), (off * 2 + i) % 256, np.uint8),
                np.full((16, 16), (off * 3 - i) % 256, np.uint8),
            )
            for i in range(3)
        ]
        recon: list = []
        stream = encode_h264_video(
            frames, qp=26, gop=4, yuv=True, search_range=2,
            recon_out=recon, deblock=True,
        )
        decoded = list(decode_h264_annexb(stream, yuv=True))
        exact = all(
            np.array_equal(g, x)
            for (_fn, got), want in zip(decoded, recon)
            for g, x in zip(got, want)
        )
        kinds = [t for t, _r, _ in split_annexb(stream)]
        intra = encode_h264_intra(frames, qp=26, yuv=True)
        yield (
            int(doc_id),
            len(decoded),
            kinds.count(5),
            kinds.count(1),
            bool(exact),
            len(stream) < len(intra),
        )

    return map_rows(
        docs,
        "media_id long, n_frames long, n_keyframes long,"
        " n_p_frames long, exact_recon boolean,"
        " p_beats_intra boolean",
        row,
    )


@query(
    "media_probe_summary",
    # Per-document payloads cycle through TEN real formats (built by
    # the pure encoder twins: baseline JPEG, binary PPM, PCM-16 WAV,
    # MJPEG-in-MP4, I_PCM-H.264-in-MKV, MP3-with-Xing, CABAC-flagged
    # Annex-B H.264, classic-DIB ICO, AVIF-with-av01-item, ADTS/AAC-LC);
    # the Spark side PROBES each payload with
    # operators/multimodal.probe_media (header/box/EBML parsing, no
    # pixel/sample decode) and rolls up by identified
    # kind/container/codec.  The oracle recomputes the rollup
    # arithmetically from the construction rule — probing must
    # correctly identify every payload or the counts diverge.  The
    # last two buckets pin the EXACT-OR-REFUSE surfacing: perceptual
    # audio probes with metadata (codec 'mp3') even though decode
    # refuses it, and a CABAC stream is NAMED 'h264-cabac' so a user
    # sees why the pure decode tier refuses it (SCALE.md §media).
    oracle="""
    WITH probed AS (
        SELECT CASE doc_id % 10
                 WHEN 0 THEN 'image' WHEN 1 THEN 'image'
                 WHEN 7 THEN 'image' WHEN 8 THEN 'image'
                 WHEN 2 THEN 'audio' WHEN 5 THEN 'audio'
                 WHEN 9 THEN 'audio'
                 ELSE 'video' END AS kind,
               CASE doc_id % 10
                 WHEN 0 THEN 'jfif' WHEN 1 THEN 'ppm'
                 WHEN 2 THEN 'wav' WHEN 3 THEN 'mp4'
                 WHEN 4 THEN 'mkv' WHEN 5 THEN 'mpeg'
                 WHEN 7 THEN 'ico' WHEN 8 THEN 'avif'
                 WHEN 9 THEN 'adts'
                 ELSE 'annexb' END AS container,
               CASE doc_id % 10
                 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'ppm'
                 WHEN 2 THEN 'pcm' WHEN 3 THEN 'mjpeg'
                 WHEN 4 THEN 'h264' WHEN 5 THEN 'mp3'
                 WHEN 7 THEN 'dib' WHEN 8 THEN 'av1'
                 WHEN 9 THEN 'aac-lc'
                 ELSE 'h264-cabac' END AS codec
        FROM documents
    )
    SELECT kind, container, codec, count(*) AS n_media
    FROM probed GROUP BY kind, container, codec
    """,
    tags=("multimodal", "probe"),
)
def media_probe_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bucketing probe: identify every payload's modality /
    container / codec from header bytes alone (probe_media — the
    ffprobe-lite over the pure parser tier) and roll up counts — the
    FIRST pass over a mixed 100 TB crawl, deciding which decode tier
    each object is routed to before any decode is scheduled.

    Scale shape: one Arrow mapInPandas over the payload column, then
    a tiny (kind, container, codec) rollup — the only shuffle carries
    three short strings per row."""
    t = load(spark, sf_dir)
    docs = t.documents.select("doc_id", F.length("text").alias("n_chars"))

    def row(doc_id, n_chars):
        import numpy as np

        from ..operators.h264 import NAL_PPS, NAL_SPS, _nal, write_sps_pps
        from ..operators.ico import encode_ico
        from ..operators.jpeg import encode_jpeg
        from ..operators.mkv import mux_mkv
        from ..operators.mp4 import encode_avif_stub, mux_mp4_mjpeg
        from ..operators.multimodal import (
            encode_adts_stub,
            encode_mpeg_audio_stub,
            encode_wav_pcm16,
            probe_media,
        )

        fill = int(n_chars) % 256
        img = np.full((8, 8, 3), fill, dtype=np.uint8)
        vid = np.full((16, 16, 3), fill, dtype=np.uint8)
        kind10 = int(doc_id) % 10
        if kind10 == 0:
            payload = encode_jpeg(img, quality=80)
        elif kind10 == 1:
            payload = b"P6\n8 8\n255\n" + img.tobytes()
        elif kind10 == 2:
            payload = encode_wav_pcm16(bytes([fill]) * 64, rate=8000, channels=1)
        elif kind10 == 3:
            payload = mux_mp4_mjpeg([vid], fps=10, quality=80)
        elif kind10 == 4:
            payload = mux_mkv([vid], codec="avc", fps=10)
        elif kind10 == 5:
            # perceptual audio: decode refuses, probe reports
            payload = encode_mpeg_audio_stub(n_frames=1 + fill % 5, xing=True)
        elif kind10 == 7:
            payload = encode_ico(img)
        elif kind10 == 8:
            # AV1 still image: decode refuses, probe NAMES it
            payload = encode_avif_stub(8, 8, "av1")
        elif kind10 == 9:
            # ADTS/AAC: decode refuses (perceptual), probe
            # reports profile/rate/duration/bit_rate
            payload = encode_adts_stub(
                n_frames=1 + fill % 5, rate=44100, channels=2
            )
        else:
            # CABAC-flagged stream: probe NAMES the refusal
            sps, pps = write_sps_pps(4, 4, cabac=True)
            payload = _nal(NAL_SPS, 3, sps) + _nal(NAL_PPS, 3, pps)
        p = probe_media(bytes(payload))
        yield p["kind"], p["container"], p["codec"]

    probed = map_rows(
        docs, "kind string, container string, codec string", row
    )
    return probed.groupBy("kind", "container", "codec").agg(
        F.count("*").alias("n_media")
    )


@query(
    "media_adts_probe_stats",
    # The Spark side builds a spec-valid ADTS (AAC-LC) frame sequence
    # per sampled document (encode_adts_stub — headers real, payload
    # zeroed: the decode tier refuses perceptual AAC, so this is a
    # PROBE fixture) and runs probe_media's 13-bit aac_frame_length
    # walk; the oracle recomputes every reported field closed-form
    # from the construction rule.  bit_rate is exact integer
    # arithmetic (8 bytes/s per stream byte at 48 kHz/1024-sample
    # frames = 375 x frame_length), duration is one non-tie round.
    oracle="""
    SELECT doc_id AS media_id,
           'aac-lc' AS codec,
           CAST(48000 AS BIGINT) AS sample_rate,
           CAST(2 AS INT) AS channels,
           CAST(1 + (length(text) % 256) % 7 AS BIGINT) AS n_frames,
           round((1 + (length(text) % 256) % 7) * 1024.0 / 48000, 6)
               AS duration_s,
           CAST(375 * (39 + (length(text) % 256) % 64) AS BIGINT)
               AS bit_rate
    FROM documents WHERE doc_id % 23 = 7
    """,
    tags=("multimodal", "probe", "audio"),
)
def media_adts_probe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADTS/AAC probe certification (the ADTS mirror of the MP3-Xing
    probe): per sampled document
    (doc_id % 23 — the probe is cheap but the fixture build is
    per-row Python), build an ADTS stream whose frame count and frame
    length derive from the text, then report what probe_media's
    frame-header walk measures: profile (in codec), sample rate,
    channel configuration, frame count, DURATION and average BIT
    RATE — the metadata tier a crawl pipeline uses to budget a
    perceptual-audio corpus it cannot pure-decode.

    Scale shape: one Arrow mapInPandas over the sampled rows; the
    rollup columns are scalars, no payload ever shuffles."""
    t = load(spark, sf_dir)
    docs = (
        t.documents.where(F.col("doc_id") % 23 == 7)
        .select("doc_id", F.length("text").alias("n_chars"))
    )

    def row(doc_id, n_chars):
        from ..operators.multimodal import encode_adts_stub, probe_media

        fill = int(n_chars) % 256
        p = probe_media(
            encode_adts_stub(
                n_frames=1 + fill % 7, rate=48000, channels=2,
                body_bytes=32 + fill % 64,
            )
        )
        yield (
            int(doc_id), p["codec"], p["sample_rate"], p["channels"],
            p["n_frames"], p["duration_s"], p["bit_rate"],
        )

    return map_rows(
        docs.repartition(8),
        "media_id long, codec string, sample_rate long,"
        " channels int, n_frames long, duration_s double,"
        " bit_rate long",
        row,
    )


@query(
    "media_h264_bframe_decode",
    # The Spark side runs the BI-PREDICTIVE H.264 pipeline per sampled
    # document: a 6-frame translating scene encoded as a closed B-GOP
    # (operators/h264_inter.encode_h264_video b_frames=1: IDR + P
    # references with non-reference B pictures between, POC type 0,
    # spatial direct mode, §8.7 deblocking ACTIVE on every slice —
    # two-list boundary strengths inside the B pictures) and decoded
    # with the pure decoder, which
    # must re-order output to display order through its POC pending
    # buffer.  The oracle pins the invariants arithmetically: 6 frames
    # out, exactly 2 non-reference NALs (the census also proves they
    # decoded as B slices), decode bit-identical to the encoder's
    # closed-loop reconstruction IN DISPLAY ORDER, and every decoded
    # frame within the quantisation error budget of its own source
    # frame (wrong reordering would blow the per-frame budget).
    oracle="""
    SELECT doc_id AS media_id,
           CAST(6 AS BIGINT) AS n_frames,
           CAST(2 AS BIGINT) AS n_b_pictures,
           TRUE AS exact_recon,
           TRUE AS display_order_ok
    FROM documents
    WHERE doc_id % 29 = 5
    """,
    tags=("multimodal", "video", "codec"),
)
def media_h264_bframe_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-slice decode certification pass — the sampled check a
    video-corpus pipeline runs before trusting the bi-predictive tier
    (doc_id % 29 keeps the heavy Python codec on ~3% of documents).
    Exercises the full B stack end-to-end: POC type 0 parse +
    display re-ordering, the two-list DPB, spatial direct derivation
    with the colocated-motion zero rule, B_Skip/B_Direct_16x16/
    B_L0/L1/Bi macroblocks with default bi-prediction averaging, and
    in-loop §8.7 deblocking with the two-list boundary-strength rule
    (filtered references propagate through the GOP on both sides).

    Scale shape: one Arrow mapInPandas over a pushdown-filtered
    two-column projection, repartitioned so the per-document codec
    kernel uses every core; payload bytes never enter a shuffle."""
    t = load(spark, sf_dir)
    docs = (
        t.documents.where(F.col("doc_id") % 29 == 5)
        .select("doc_id", F.length("text").alias("n_chars"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def row(doc_id, n_chars):
        import numpy as np

        from ..operators.h264 import decode_h264_annexb, split_annexb
        from ..operators.h264_inter import encode_h264_video

        ys, xs = np.mgrid[0:32, 0:48]
        off = int(n_chars)
        base = ((ys * 3 + xs * 5 + off) % 256).astype(np.uint8)
        frames = [
            (
                np.roll(base, i * 2, axis=1)[:, :32].copy(),
                np.full((16, 16), (off * 2 + i) % 256, np.uint8),
                np.full((16, 16), (off * 3 - i) % 256, np.uint8),
            )
            for i in range(6)
        ]
        recon: list = []
        stream = encode_h264_video(
            frames, qp=26, gop=6, yuv=True, search_range=2,
            recon_out=recon, b_frames=1, deblock=True,
        )
        counts: list = []
        decoded = list(
            decode_h264_annexb(stream, yuv=True, counts_out=counts)
        )
        exact = all(
            np.array_equal(g, x)
            for (_fn, got), want in zip(decoded, recon)
            for g, x in zip(got, want)
        )
        n_nonref = sum(
            1 for t_, r_, _ in split_annexb(stream) if t_ == 1 and r_ == 0
        )
        n_b = sum(1 for c in counts if c["kind"] == "B")
        order_ok = len(decoded) == 6 and all(
            float(np.abs(got[0].astype(int) - frames[i][0].astype(int)).mean())
            <= 4.0
            for i, (_fn, got) in enumerate(decoded)
        )
        yield (
            int(doc_id),
            len(decoded),
            min(n_b, n_nonref),
            bool(exact),
            bool(order_ok),
        )

    return map_rows(
        docs,
        "media_id long, n_frames long, n_b_pictures long,"
        " exact_recon boolean, display_order_ok boolean",
        row,
    )


_pixel_stats_query(
    "media_qoi_pixel_stats",
    "qoi",
    lambda c, img: c.decode_qoi(c.encode_qoi(img)),
    tags=("multimodal", "codec", "qoi"),
    doc="""REAL image-codec round trip through QOI (operators/qoi.py):
    each document's leading bytes become an (8, w, 3) image, encode
    to a genuine QOI byte stream, decode with the exact-or-refuse
    decoder, and report pixel stats computed from the DECODED array —
    the oracle recomputes them from the source characters, so the
    hash certifies losslessness through the full op-code mix the
    text-derived images produce (runs on repeated words, small diffs,
    cache hits, raw RGB jumps).""",
)


_pixel_stats_query(
    "media_tiff_pixel_stats",
    "tiff",
    lambda c, img: c.decode_tiff(
        c.encode_tiff(img, compression=5, predictor=2)
    ),
    tags=("multimodal", "codec", "tiff"),
    doc="""Baseline-TIFF round trip (operators/tiff.py): document bytes →
    (8, w, 3) image → TIFF with LZW compression AND the horizontal-
    differencing predictor (the hardest baseline path) → decode →
    pixel stats, with the oracle recomputing the stats from source
    characters — one wrong byte anywhere in the strip/LZW/predictor
    machinery breaks the hash.""",
)


# The PNG codec is also certified against foreign stdlib files and a
# cross-format TIFF check in tests/test_png.py.
_pixel_stats_query(
    "media_png_pixel_stats",
    "png",
    lambda c, img: c.decode_png(c.encode_png(img)),
    tags=("multimodal", "codec", "png"),
    doc="""Full-tier PNG round trip (operators/png.py): document bytes →
    (8, w, 3) image → non-interlaced RGB8 PNG via the adaptive
    minimum-residual filter chooser (text-derived images make it mix
    None/Sub/Up/Average/Paeth rows) → exact-or-refuse decode with
    CRC verification → pixel stats, with the oracle recomputing the
    stats from the source characters — one wrong byte anywhere in
    the filter algebra or chunk plumbing breaks the hash.""",
)


def _sql_int_list(values) -> str:
    return "[" + ",".join(str(int(v)) for v in values) + "]"


def _g711_oracle() -> str:
    """Oracle for media_g711_audio_stats: recomputes both laws' decodes
    engine-independently from the PINNED 256-entry spec tables
    (operators/g711.py, themselves exhaustively equal to the audioop C
    reference — tests/test_g711.py), so the DuckDB side shares no code
    with the Spark kernel's arithmetic decoder."""
    from ..operators.g711 import ALAW_DECODE_TABLE, ULAW_DECODE_TABLE

    return f"""
    WITH px AS (
        SELECT doc_id,
               least(length(text), 512) AS n,
               list_transform(
                   string_split_regex(substr(text, 1, least(length(text), 512)), ''),
                   c -> (ascii(c) * 131) % 256) AS cs
        FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(n AS INT) AS n_samples,
           CAST(list_sum(list_transform(cs,
                c -> ({_sql_int_list(ULAW_DECODE_TABLE)})[c + 1]))
                AS BIGINT) AS ulaw_sum,
           CAST(list_min(list_transform(cs,
                c -> ({_sql_int_list(ULAW_DECODE_TABLE)})[c + 1]))
                AS INT) AS ulaw_min,
           CAST(list_sum(list_transform(cs,
                c -> ({_sql_int_list(ALAW_DECODE_TABLE)})[c + 1]))
                AS BIGINT) AS alaw_sum,
           CAST(list_max(list_transform(cs,
                c -> ({_sql_int_list(ALAW_DECODE_TABLE)})[c + 1]))
                AS INT) AS alaw_max
    FROM px
    """


@query(
    "media_g711_audio_stats",
    oracle=_g711_oracle(),
    tags=("multimodal", "codec", "audio", "g711"),
)
def media_g711_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 telephony-codec certification over the corpus: document
    bytes (spread across the code space by *131 mod 256) are treated
    as mu-law AND A-law code streams and expanded by the vectorized
    arithmetic decoders (operators/g711.py); the oracle re-derives
    every sample from the pinned spec tables, so one wrong expansion
    anywhere in either law breaks the value hash.  The codecs behind
    this query are additionally exhaustively bit-equal to CPython's
    audioop C reference and certified on foreign fixture files
    (tests/test_g711.py, tests/test_aiffau.py)."""
    t = load(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")

    def row(doc_id, text):
        import numpy as np

        from ..operators.g711 import alaw_decode, ulaw_decode

        bs = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
        n = min(len(bs), 512)
        codes = ((bs[:n].astype(np.int32) * 131) % 256).astype(np.uint8)
        u = ulaw_decode(codes).astype(np.int64)
        a = alaw_decode(codes).astype(np.int64)
        yield (
            int(doc_id), n, int(u.sum()), int(u.min()),
            int(a.sum()), int(a.max()),
        )

    return map_rows(
        docs.repartition(8),
        "media_id long, n_samples int, ulaw_sum long, ulaw_min int,"
        " alaw_sum long, alaw_max int",
        row,
    )


@query(
    "media_audio_container_parity",
    # pcm16 is lossless through all three containers, so the oracle
    # recomputes the decoded-sample stats straight from the source
    # characters and pins containers_agree TRUE: a byte-order, header,
    # interleave, or offset bug in ANY of the WAV/AU/AIFF paths breaks
    # either the parity flag or the value hash.
    oracle="""
    WITH px AS (
        SELECT doc_id,
               least(length(text), 256) AS n,
               list_transform(
                   string_split_regex(substr(text, 1, least(length(text), 256)), ''),
                   c -> (ascii(c) * 523) % 65536 - 32768) AS ss
        FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(n AS INT) AS n_samples,
           TRUE AS containers_agree,
           CAST(list_sum(ss) AS BIGINT) AS pcm_sum,
           CAST(list_min(ss) AS INT) AS pcm_min,
           CAST(list_max(ss) AS INT) AS pcm_max
    FROM px
    """,
    tags=("multimodal", "codec", "audio", "container"),
)
def media_audio_container_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-container audio certification: one int16 signal derived
    from each document's bytes is muxed into RIFF/WAVE, Sun AU, and
    AIFF by three independent encoders, demuxed by the three
    independent decoders (decode_wav / decode_au / decode_aiff), and
    the query emits stats only after asserting the three decodes are
    sample-for-sample identical — the in-engine version of the
    foreign pluck-fixture cross-container test (tests/test_aiffau.py)."""
    t = load(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")

    def row(doc_id, text):
        import numpy as np

        from ..operators.aiffau import (
            decode_aiff,
            decode_au,
            encode_aiff,
            encode_au,
        )
        from ..operators.multimodal import decode_wav, encode_wav_pcm16

        bs = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
        n = min(len(bs), 256)
        pcm = ((bs[:n].astype(np.int64) * 523) % 65536 - 32768).astype(np.int16)
        _, sw = decode_wav(encode_wav_pcm16(pcm.tobytes(), rate=16000))
        _, sa = decode_au(encode_au(pcm, rate=16000))
        _, sf_ = decode_aiff(encode_aiff(pcm, rate=16000))
        agree = (
            np.array_equal(sw, sa)
            and np.array_equal(sw, sf_)
            and np.array_equal(sw.ravel(), pcm)
        )
        s = sw.ravel().astype(np.int64)
        yield (
            int(doc_id), n, bool(agree),
            int(s.sum()), int(s.min()), int(s.max()),
        )

    return map_rows(
        docs.repartition(8),
        "media_id long, n_samples int, containers_agree boolean,"
        " pcm_sum long, pcm_min int, pcm_max int",
        row,
    )


@query(
    "media_legacy_image_parity",
    # all three formats are lossless for 8-bit RGB, so the oracle
    # recomputes pixel stats from the source characters and pins
    # formats_agree TRUE: a bug in either RLE coder (Sun 0x80-marker
    # runs, SGI per-scanline literal/run packets), the bottom-up SGI
    # plane layout, row padding, or channel order breaks the hash.
    oracle="""
    WITH d AS (
        SELECT doc_id,
               greatest(1, least(length(text) // 18, 64)) AS w
        FROM documents
    ),
    px AS (
        SELECT doc_id, w,
               list_transform(
                   string_split_regex(substr(text, 1, w * 18), ''),
                   c -> ascii(c)) AS bs
        FROM d JOIN documents USING (doc_id)
    )
    SELECT doc_id AS media_id,
           CAST(w AS INT) AS width,
           6 AS height,
           TRUE AS formats_agree,
           CAST(list_sum(bs) AS BIGINT) AS px_sum,
           CAST(list_min(bs) AS INT) AS px_min,
           CAST(list_max(bs) AS INT) AS px_max
    FROM px
    """,
    tags=("multimodal", "codec", "image", "legacy"),
)
def media_legacy_image_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format legacy-image certification: each document's bytes
    become a (6, w, 3) RGB image, encoded to Sun Raster
    RT_BYTE_ENCODED (RLE), SGI RLE, and raw PPM P6 by three encoders
    and decoded by three independent decoders
    (operators/legacyimg.py); stats are emitted only after asserting
    the three decodes equal the source pixels exactly — the in-engine
    companion to the foreign-fixture cross-checks in
    tests/test_legacyimg.py (where python.ras and python.sgi decode
    bit-identical to the foreign-certified PNG)."""
    t = load(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")

    def row(doc_id, text):
        import numpy as np

        from ..operators.legacyimg import (
            decode_pnm,
            decode_ras,
            decode_sgi,
            encode_pnm,
            encode_ras,
            encode_sgi,
        )

        bs = text.encode("utf-8")
        w = max(1, min(len(bs) // 18, 64))
        img = np.frombuffer(bs[: w * 18], dtype=np.uint8).reshape(6, w, 3)
        r = decode_ras(encode_ras(img, rle=True))
        s = decode_sgi(encode_sgi(img, rle=True))
        p = decode_pnm(encode_pnm(img, 6))
        agree = (
            np.array_equal(r, img)
            and np.array_equal(s, img)
            and np.array_equal(p, img)
        )
        flat = img.astype(np.int64)
        yield (
            int(doc_id), w, 6, bool(agree),
            int(flat.sum()), int(flat.min()), int(flat.max()),
        )

    return map_rows(
        docs.repartition(8),
        "media_id long, width int, height int,"
        " formats_agree boolean, px_sum long, px_min int,"
        " px_max int",
        row,
    )


@query(
    "media_exr_pixel_stats",
    # k/256 is exactly representable in half (test_exr.py pins it), so
    # the HDR round trip is lossless on these values and the oracle
    # recomputes integer pixel stats straight from the source chars —
    # one wrong byte in the chlist layout, the scanline offset table,
    # the ZIP delta+interleave filter or the half conversion breaks
    # the hash.
    oracle="""
    WITH d AS (
        SELECT doc_id,
               greatest(1, least(length(text) // 12, 64)) AS w
        FROM documents
    ),
    px AS (
        SELECT doc_id, w,
               list_transform(
                   string_split_regex(substr(text, 1, w * 12), ''),
                   c -> ascii(c)) AS bs
        FROM d JOIN documents USING (doc_id)
    )
    SELECT doc_id AS media_id,
           CAST(w AS INT) AS width,
           4 AS height,
           TRUE AS lossless,
           CAST(list_sum(bs) AS BIGINT) AS px_sum,
           CAST(list_max(bs) AS INT) AS px_max
    FROM px
    """,
    tags=("multimodal", "codec", "exr", "hdr"),
)
def media_exr_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenEXR HDR round-trip certification (operators/exr.py):
    document bytes become a (4, w, 3) linear-light half-float image
    (values k/256 — exactly representable in half), encoded to a
    ZIP-compressed scanline EXR and decoded back; stats are emitted
    only after asserting the decode equals the source exactly.  The
    codec is additionally certified against the genuinely foreign
    stdlib python.exr, whose quantized decode equals the foreign PNG
    bit-for-bit (tests/test_exr.py)."""
    t = load(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")

    def row(doc_id, text):
        import numpy as np

        from ..operators.exr import decode_exr, encode_exr

        bs = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
        w = max(1, min(len(bs) // 12, 64))
        img = bs[: w * 12].reshape(4, w, 3).astype(np.float32) / 256.0
        dec, nm = decode_exr(encode_exr(img, ["R", "G", "B"], "zip"))
        back = np.stack([dec[:, :, nm.index(c)] for c in "RGB"], axis=2)
        ints = np.round(back * 256.0).astype(np.int64)
        yield (
            int(doc_id), w, 4, bool(np.array_equal(back, img)),
            int(ints.sum()), int(ints.max()),
        )

    return map_rows(
        docs.repartition(8),
        "media_id long, width int, height int, lossless boolean,"
        " px_sum long, px_max int",
        row,
    )


_pixel_stats_query(
    "media_tga_pixel_stats",
    "tga",
    lambda c, img: c.decode_tga(c.encode_tga(img, rle=True)),
    tags=("multimodal", "codec", "tga"),
    doc="""REAL image-codec round trip through Truevision TGA
    (operators/tga.py): each document's leading bytes become an
    (8, w, 3) image, encode to a genuine type-10 RLE TGA byte stream
    (bottom-up storage handled by the top-origin flag, BGR channel
    order on disk), decode with the exact-or-refuse decoder, and
    report pixel stats computed from the DECODED array — the oracle
    recomputes them from the source characters, so the hash certifies
    losslessness through the run/raw packet mix the text-derived
    images produce.""",
)


_pixel_stats_query(
    "media_pcx_pixel_stats",
    "pcx",
    lambda c, img: c.decode_pcx(c.encode_pcx(img)),
    tags=("multimodal", "codec", "pcx"),
    doc="""REAL image-codec round trip through ZSoft PCX
    (operators/pcx.py): each document's leading bytes become an
    (8, w, 3) image, encode to a genuine version-5 truecolor PCX
    (8-bit, 3 planes, per-row RLE with even bytes_per_line padding),
    decode with the exact-or-refuse decoder, and report pixel stats
    from the DECODED array — the oracle recomputes them from the
    source characters, so the hash certifies losslessness through the
    per-plane RLE and the pad-byte handling.""",
)


_pixel_stats_query(
    "media_ico_pixel_stats",
    "ico",
    lambda c, img: c.decode_ico(c.encode_ico(img))[:, :, :3],
    tags=("multimodal", "codec", "ico"),
    doc="""REAL image-codec round trip through the Windows ICO container
    (operators/ico.py): each document's leading bytes become an
    (8, w, 3) image, encode to a genuine single-entry classic-DIB ICO
    (32-bit BGRA XOR bitmap, doubled-height header, 32-bit-padded
    all-opaque AND mask, bottom-up rows), decode with the
    exact-or-refuse decoder (which also applies the AND-mask
    transparency rule and delegates PNG entries to the certified PNG
    tier), and report pixel stats from the DECODED array — the oracle
    recomputes them from the source characters, certifying
    losslessness through the container round trip.""",
)


@query(
    "media_ogg_flac_audio_stats",
    # the media_flac_audio_stats oracle discipline, routed through the
    # Ogg container: text bytes -> int16 PCM -> native FLAC -> Ogg-FLAC
    # mux -> page/packet demux (CRC-verified) -> certified FLAC decode.
    # Losslessness end-to-end means the oracle recomputes rms/peak
    # arithmetically from the same byte pairs — one wrong lacing
    # boundary, page CRC, or header-flag rewrite breaks the hash.
    oracle="""
    WITH b AS (
        SELECT doc_id,
               list_transform(
                   string_split_regex(
                       substr(text, 1, 2 * (length(text) // 2)), ''),
                   c -> ascii(c)) AS bs
        FROM documents
        WHERE doc_id % 7 = 3
    ),
    s AS (
        SELECT doc_id, list_transform(range(len(bs) // 2), i ->
            CASE WHEN bs[2*i+2] * 256 + bs[2*i+1] >= 32768
                 THEN bs[2*i+2] * 256 + bs[2*i+1] - 65536
                 ELSE bs[2*i+2] * 256 + bs[2*i+1] END) AS smp
        FROM b
    )
    SELECT doc_id AS media_id,
           16000 AS sample_rate,
           CAST(len(smp) AS BIGINT) AS n_frames,
           coalesce(round(sqrt(list_sum(list_transform(smp,
               x -> CAST(x AS DOUBLE) * x)) / len(smp)), 6), 0.0) AS rms,
           CAST(coalesce(list_max(list_transform(smp, x -> abs(x))), 0)
                AS INT) AS peak
    FROM s
    """,
    tags=("multimodal", "codec", "audio", "ogg"),
)
def media_ogg_flac_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Ogg-FLAC round trip (operators/oggflac.py): the
    media_flac_audio_stats pipeline with the Ogg encapsulation layer
    in the loop — native FLAC muxes into RFC 3533 pages (BOS id
    packet, CRC-32 per page, 255-lacing packet segmentation, EOS
    granule = total samples), and decode_audio's container dispatch
    demuxes back to the native stream for the certified FLAC tier.
    Exercises exactly what a crawl's .oga/.ogg FLAC files need; the
    sampled filter (doc_id % 7) bounds the Python codec cost."""
    t = load(spark, sf_dir)
    pcm = (
        t.documents.where(F.col("doc_id") % 7 == 3)
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode(
                F.expr("substr(text, 1, 2 * (length(text) div 2))"),
                "UTF-8",
            ).alias("content"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def wrap(media_id, content):
        import numpy as np

        from ..operators.flac import encode_flac
        from ..operators.oggflac import mux_ogg_flac

        samples = np.frombuffer(bytes(content), dtype="<i2")
        yield media_id, mux_ogg_flac(
            encode_flac(samples, sample_rate=16000, blocksize=64)
        )

    ogg = map_rows(pcm, "media_id long, content binary", wrap)
    feats = decode_audio_features(
        ogg, content_col="content", id_col="media_id", fake=False
    )
    return feats.select(
        "media_id",
        "sample_rate",
        "n_frames",
        F.round("rms", 6).alias("rms"),
        "peak",
    )


@query(
    "media_id3_tags",
    # tag fields are constructed closed-form from document columns
    # (title = first 12 chars, artist = source, album = 'lang-'+lang,
    # track = doc_id % 30 + 1), so the round trip through the ID3v2.3
    # byte layout is certified by recomputing them in SQL: one wrong
    # frame size, syncsafe byte or encoding marker anywhere shifts a
    # parsed value and breaks the hash. The MP3 stream after the tag
    # also pins that tag parsing and audio probing COEXIST (the probe
    # must skip exactly the tag the parser reads).
    oracle="""
    SELECT doc_id AS media_id,
           substr(text, 1, 12) AS title,
           source AS artist,
           'lang-' || lang AS album,
           CAST(doc_id % 30 + 1 AS BIGINT) AS track,
           'mp3' AS codec,
           CAST(3 AS BIGINT) AS n_frames
    FROM documents WHERE doc_id % 19 = 3
    """,
    tags=("multimodal", "probe", "audio", "metadata"),
)
def media_id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 metadata extraction over an audio corpus: per
    sampled document, build an ID3v2.3-tagged MP3 (tag fields derived
    from the document, spec-valid MPEG frames after it — the decode
    tier refuses perceptual audio, the METADATA tier must still read
    it), parse the tag back (operators/multimodal.parse_id3v2) and
    probe the audio stream behind it — the title/artist/album/track
    census a crawl pipeline runs to catalogue a podcast/music corpus
    it never decodes.

    Scale shape: one Arrow mapInPandas over the sampled rows; parsed
    fields are short strings, payloads never shuffle."""
    t = load(spark, sf_dir)
    docs = t.documents.where(F.col("doc_id") % 19 == 3).select(
        "doc_id", "lang", "source",
        F.substring("text", 1, 12).alias("title"),
    )

    def row(doc_id, lang, source, title):
        from ..operators.multimodal import (
            encode_id3v2_stub,
            encode_mpeg_audio_stub,
            parse_id3v2,
            probe_media,
        )

        tag = encode_id3v2_stub(
            {
                "TIT2": str(title),
                "TPE1": str(source),
                "TALB": f"lang-{lang}",
                "TRCK": str(int(doc_id) % 30 + 1),
            }
        )
        buf = tag + encode_mpeg_audio_stub(n_frames=3, xing=True)
        got = parse_id3v2(buf)
        p = probe_media(buf)
        yield (
            int(doc_id), got.get("TIT2"), got.get("TPE1"), got.get("TALB"),
            int(got.get("TRCK", "0")), p["codec"], p["n_frames"],
        )

    return map_rows(
        docs.repartition(8),
        "media_id long, title string, artist string, album string,"
        " track long, codec string, n_frames long",
        row,
    )


# --------------------------------------------------------------------------
# perceptual (difference-hash) cross-format image dedup: the
# image-side near-dup family. Byte-level dedup (media_content_dedup)
# cannot see that a PNG, a QOI and a BMP of the SAME pixels are one
# image; a perceptual hash over DECODED pixels can. The fixture
# assigns each document a pixel pattern key and one of three real
# encoders; the three different byte streams must collapse into one
# dHash group, certified by a closed-form oracle that recomputes the
# hash from the pattern arithmetic — one wrong pixel anywhere in any
# of the three decode paths shifts a bit and breaks the hash.
# --------------------------------------------------------------------------
_DH_KEYS = 31     #: distinct pixel patterns: img_key = doc_id % 31
_DH_SIDE = 8      #: image side (8x8 -> 56-bit row-difference hash)


def _dhash_formula_sql() -> str:
    """dhash(k) as integer arithmetic: bit(r,c) = [v(r,c+1) > v(r,c)]
    with v(r,c) = (k*7 + r*16 + c*29) % 256 (the *29 column stride
    wraps inside every row at k-dependent positions, so distinct
    patterns get distinct hashes instead of all collapsing into the
    monotone all-ones hash), packed little-endian by (r*7 + c)."""
    n = _DH_SIDE
    terms = " + ".join(
        f"(CASE WHEN (k*7 + {r*16 + (c + 1)*29}) % 256 > "
        f"(k*7 + {r*16 + c*29}) % 256 THEN {1 << (r * (n - 1) + c)} "
        f"ELSE 0 END)"
        for r in range(n)
        for c in range(n - 1)
    )
    return f"({terms})"


@query(
    "media_dhash_cross_format_dedup",
    oracle=f"""
    WITH m AS (
        SELECT doc_id, doc_id % {_DH_KEYS} AS k, doc_id % 3 AS fmt
        FROM documents
    ),
    g AS (
        SELECT CAST({_dhash_formula_sql()} AS BIGINT) AS dhash,
               count(*) AS n_media,
               count(DISTINCT fmt) AS n_formats,
               -- a blob is unique per (pattern, format): gradients
               -- with no in-row 256-wrap share the all-ones hash, so
               -- a dhash group can span several patterns
               count(DISTINCT k * 3 + fmt) AS n_distinct_blobs,
               min(doc_id) AS survivor
        FROM m GROUP BY 1
    )
    SELECT dhash, n_media, CAST(n_formats AS BIGINT) AS n_formats,
           CAST(n_distinct_blobs AS BIGINT) AS n_distinct_blobs,
           survivor
    FROM g
    """,
    tags=("multimodal", "dedup", "perceptual"),
)
def media_dhash_cross_format_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Perceptual image dedup across byte formats: every document gets
    an {_DH_SIDE}x{_DH_SIDE} RGB pattern (key = doc_id % {_DH_KEYS})
    REALLY ENCODED by one of three codecs (PNG / QOI / BMP24 by
    doc_id % 3), then the pipeline decodes each blob with the matching
    pure-numpy decoder and computes the 56-bit difference hash (dHash:
    bit = right neighbor brighter) over the recovered pixels. Grouping
    by dHash collapses all three encodings of a pattern into ONE
    group — n_distinct_blobs (md5 of the bytes) stays 3 per group,
    the number a byte-level dedup would be stuck at.

    Scale shape: one Arrow mapInPandas over the corpus (payloads never
    shuffle — only the 8-byte hash + format id exit the kernel), one
    groupBy on the hash. The oracle recomputes every hash bit from the
    pattern arithmetic, so all three decoder paths are certified
    pixel-exact end to end."""
    t = load(spark, sf_dir)
    docs = t.documents.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % _DH_KEYS).alias("k"),
        (F.col("doc_id") % 3).alias("fmt"),
    )
    from ..operators.multimodal import MEDIA_DHASH_SCHEMA, media_dhash_row

    hashed = map_rows(
        docs.repartition(8), MEDIA_DHASH_SCHEMA, media_dhash_row(_DH_SIDE)
    )
    return hashed.groupBy("dhash").agg(
        F.count("*").alias("n_media"),
        F.countDistinct("fmt").alias("n_formats"),
        F.countDistinct("blob_md5").alias("n_distinct_blobs"),
        F.min("media_id").alias("survivor"),
    )
