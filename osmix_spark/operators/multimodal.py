"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The image path is REAL for both major web formats, no image libraries
needed:

- PNG: pure stdlib-zlib + NumPy codec (functions/png — all five scanline
  filters: None/Sub/Up/Average/Paeth per the PNG spec);
- JPEG: pure-NumPy baseline codec (functions/jpeg — ITU T.81 SOF0, Huffman
  + DCT, 4:4:4/4:2:0, restart markers), decoder AND encoder (fixtures).

The audio path is REAL for WAV/PCM (RIFF parse + int16 samples, stdlib
struct only): features carry channel count, sample rate, mean and RMS
amplitude. Compressed audio and video remain clearly-marked stubs:
`decode_media` raises NotImplementedError for them unless `fake=True`, in
which case a deterministic stand-in (bytes -> shape + checksum
"features") exercises the same schema, partitioning, and batch shape.

At 100 TB: binary payloads dominate bytes; the rules encoded here —
project metadata columns WITHOUT touching the binary (column pruning keeps
payload I/O out of metadata queries), batch decode in mapInPandas with
small maxRecordsPerBatch, and key outputs by content hash — are the parts
that must be right regardless of codec.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import gif, jpeg, png
from ..plans.stage import per_row

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content_hash", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)

# decode_media(with_status=True): the compressed-codec boundary as an
# explicit output contract — unsupported codecs become counted rows, not
# task-time exceptions
FEATURE_STATUS_SCHEMA = T.StructType(
    [*FEATURE_SCHEMA.fields, T.StructField("status", T.StringType(), False)]
)


def synth_media(spark, n: int, parts: int = 4) -> DataFrame:
    """Deterministic fake media table: payload bytes derived from the id."""
    return (
        spark.range(n)
        .repartition(parts)
        .select(
            F.col("id").alias("media_id"),
            F.element_at(F.lit(["image", "audio", "video"]), (F.col("id") % 3 + 1).cast("int")).alias("kind"),
            F.lit("application/octet-stream").alias("mime"),
            F.encode(
                F.concat(F.lit("payload-"), F.col("id").cast("string"),
                         F.lit("-"), F.md5(F.col("id").cast("string"))),
                "utf-8",
            ).alias("payload"),
            F.create_map(F.lit("source"), F.lit("synthetic")).alias("meta"),
        )
    )


_JPEG_MAGIC = b"\xff\xd8"
_RIFF_MAGIC = b"RIFF"
_GIF_MAGICS = (b"GIF87a", b"GIF89a")


def decode_wav(data: bytes):
    """Pure-stdlib WAV/PCM decoder: RIFF header + fmt/data chunks, 16-bit
    PCM only (the uncompressed web/archival staple). Returns
    (samples int16 ndarray of shape (n, channels), sample_rate)."""
    import struct

    if data[:4] != _RIFF_MAGIC or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    i = 12
    channels = rate = bits = None
    samples = None
    while i + 8 <= len(data):
        cid = data[i : i + 4]
        (ln,) = struct.unpack("<I", data[i + 4 : i + 8])
        body = data[i + 8 : i + 8 + ln]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("corrupt or truncated WAV fmt chunk")
            fmt, channels, rate, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if fmt != 1:
                raise NotImplementedError(f"non-PCM WAV format {fmt}")
            if bits != 16:
                raise NotImplementedError("16-bit PCM only")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        i += 8 + ln + (ln & 1)  # chunks are word-aligned
    if samples is None or channels is None:
        raise ValueError("missing fmt/data chunk")
    return samples.reshape(-1, channels), rate


def encode_wav(samples, rate: int) -> bytes:
    """Pure-stdlib 16-bit PCM WAV writer (fixture generator twin)."""
    import struct

    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    channels = s.shape[1]
    body = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2,
                      channels * 2, 16)
    out = b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body)) + b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(body)) + body
    return out


def decode_media(media: DataFrame, fake: bool = False, feature_dim: int = 8,
                 with_status: bool = False) -> DataFrame:
    """Decode + feature-extract in Arrow batches.

    PNG payloads decode FOR REAL (functions/png) and so do baseline AND
    progressive JPEGs (functions/jpeg.decode) and GIF87a/89a
    (functions/gif — LZW, interlace, local tables; animations contribute
    their first composited frame): width/height from the header, features
    = per-channel pixel means (float32; JPEG RGB gets an implicit opaque
    alpha mean of 255 so all image formats emit 4 features).
    Other codecs raise NotImplementedError at task time unless fake=True,
    which runs the deterministic stand-in (width/height from payload
    length, rolling checksum features) — same schema, partitioning, and
    batch shape.

    with_status=True states the compressed-codec boundary as a CONTRACT
    instead of a docstring: unsupported codecs (MP3/AAC/MP4/H.264 and
    decoder-declared gaps like lossless/arithmetic JPEG or non-PCM WAV)
    become
    rows with status='unsupported_codec' and NULL dims/features; decoded
    rows carry status='ok'. Output schema gains the `status` column
    (FEATURE_STATUS_SCHEMA). Corrupt payloads (ValueError) still raise —
    that is a data error, not a codec boundary."""

    def go(r):
        buf = bytes(r.payload)
        base = {
            "media_id": int(r.media_id),
            "content_hash": int.from_bytes(hashlib.md5(buf).digest()[:8], "big") >> 1,
            "n_bytes": len(buf), "width": None, "height": None, "status": "ok",
        }
        unsupported = {**base, "features": None, "status": "unsupported_codec"}
        # real-decoder routing: a NotImplementedError from a decoder
        # (non-PCM WAV, arithmetic-coded JPEG, ...) is a codec gap — it
        # becomes a status row under with_status, falls through to the
        # stand-in under fake=True, and raises otherwise; corrupt data
        # (ValueError) always surfaces
        if buf[:4] == _RIFF_MAGIC and buf[8:12] == b"WAVE":
            try:
                samples, rate = decode_wav(buf)
            except NotImplementedError:
                if with_status:
                    yield unsupported
                    return
                if not fake:
                    raise
            else:
                flat = samples.astype(np.float64)
                feats = np.array(
                    [samples.shape[1], rate, flat.mean(), np.sqrt((flat * flat).mean())],
                    dtype=np.float32,
                )
                # audio has no raster dims; n_samples rides in features
                yield {**base, "features": feats.tolist()}
                return
        img = None
        try:
            if buf[:8] == png.MAGIC:
                img = png.decode_png(buf)
            elif buf[:2] == _JPEG_MAGIC:
                img = jpeg.decode_baseline(buf)
            elif buf[:6] in _GIF_MAGICS:
                img = gif.decode_gif(buf)  # first frame, RGBA
        except NotImplementedError:
            if with_status:
                yield unsupported
                return
            if not fake:
                raise
        if img is not None:
            feats = img.reshape(-1, img.shape[2]).mean(axis=0)
            if img.shape[2] == 3:  # implicit opaque alpha for JPEG/RGB
                feats = np.concatenate([feats, [255.0]])
            yield {**base, "width": int(img.shape[1]), "height": int(img.shape[0]),
                   "features": feats.astype(np.float32).tolist()}
            return
        if with_status:
            yield unsupported
            return
        if not fake:
            raise NotImplementedError(
                "compressed-audio/video codecs not available in "
                "this environment (PNG, baseline JPEG, and WAV/PCM "
                "decode for real); pass fake=True for the "
                "deterministic stand-in"
            )
        arr = np.frombuffer(buf, dtype=np.uint8).astype(np.float32)
        pad = (-len(arr)) % feature_dim
        if pad:
            arr = np.concatenate([arr, np.zeros(pad, dtype=np.float32)])
        feats = arr.reshape(-1, feature_dim).mean(axis=0) / 255.0
        yield {**base,
               "width": len(buf) % 640 if r.kind == "image" else None,
               "height": len(buf) % 480 if r.kind == "image" else None,
               "features": feats.tolist()}

    return per_row(media, go, FEATURE_STATUS_SCHEMA if with_status else FEATURE_SCHEMA)


def _png_pixels(mid: int, size: int):
    """The PNG fixture image: r=(x+id)%256, g=(y+id)%256, b=(x+2y+id)%256,
    a=255 — the ONE definition the SQL oracles' closed forms mirror."""
    x = np.arange(size, dtype=np.int64)[None, :]
    y = np.arange(size, dtype=np.int64)[:, None]
    img = np.zeros((size, size, 4), dtype=np.uint8)
    img[:, :, 0] = (x + mid) % 256
    img[:, :, 1] = (y + mid) % 256
    img[:, :, 2] = (x + 2 * y + mid) % 256
    img[:, :, 3] = 255
    return img


def _gray_blocks(mid: int, size: int, offset: int = 0):
    """The block-constant gray fixture: each 8x8 block holds
    (bx*7 + by*13 + id + offset) % 256 — only DC coefficients, so the
    baseline JPEG round trip is bit-exact (see functions/jpeg)."""
    img = np.zeros((size, size), dtype=np.uint8)
    for by in range(size // 8):
        for bx in range(size // 8):
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                bx * 7 + by * 13 + mid + offset
            ) % 256
    return img


def synth_png_media(ids: DataFrame, size: int = 16) -> DataFrame:
    """REAL deterministic PNG media: per id (the `media_id` column of
    `ids`), a size x size RGBA image with r=(x+id)%256, g=(y+id)%256,
    b=(x+2y+id)%256, a=255 — closed-form pixel stats make the decode path
    oracle-checkable."""

    def gen(r):
        mid = int(r.media_id)
        yield {"media_id": mid, "kind": "image", "mime": "image/png",
               "payload": png.write_png_rgba(_png_pixels(mid, size)), "meta": None}

    return per_row(ids, gen, MEDIA_SCHEMA)


def synth_jpeg_media(ids: DataFrame, size: int = 16) -> DataFrame:
    """REAL deterministic baseline JPEGs: per id (the `media_id` column of
    `ids`), a size x size gray-in-RGB image whose 8x8 blocks are each
    constant v = (bx*7 + by*13 + id) % 256.

    Block-constant images have only DC coefficients, and at quality 75 the
    Annex-K luma DC quantizer is exactly the constant-block DCT gain (8),
    so decode(encode(img)) == img bit-exactly (see functions/jpeg) — pixel
    statistics are closed-form for SQL oracles, while the bytes exercise
    the full Huffman+DCT path."""

    def gen(r):
        mid = int(r.media_id)
        g = _gray_blocks(mid, size)
        yield {"media_id": mid, "kind": "image", "mime": "image/jpeg",
               "payload": jpeg.encode_baseline(np.stack([g, g, g], axis=-1), quality=75),
               "meta": None}

    return per_row(ids, gen, MEDIA_SCHEMA)


def synth_wav_media(ids: DataFrame, n_samples: int = 256,
                    rate: int = 8000) -> DataFrame:
    """REAL deterministic WAV media: per id, mono 16-bit PCM with integer
    sawtooth samples s[i] = ((i * k) % 65536) - 32768, k = (id % 97 + 3) *
    131 — closed-form mean/RMS make the decode path oracle-checkable."""
    i = np.arange(n_samples, dtype=np.int64)

    def gen(r):
        mid = int(r.media_id)
        k = (mid % 97 + 3) * 131
        s = ((i * k) % 65536 - 32768).astype("<i2")
        yield {"media_id": mid, "kind": "audio", "mime": "audio/wav",
               "payload": encode_wav(s, rate), "meta": None}

    return per_row(ids, gen, MEDIA_SCHEMA)


def synth_mixed_media(ids: DataFrame, size: int = 16,
                      with_unsupported: bool = False) -> DataFrame:
    """One-pass mixed-format media table: even media_ids get the PNG
    fixture (synth_png_media pixels), odd ids the block-constant JPEG
    fixture (synth_jpeg_media) — a single mapInPandas instead of two
    filtered generators + a union (one stage less; payload bytes
    identical).

    with_unsupported=True instead cycles media_id % 5 through
    PNG / JPEG / WAV (all real decoders) / MP3 / MP4 — the last two are
    deterministic payloads with real container magics (ID3v2, ftyp box)
    that no decoder here supports, exercising decode_media's
    status='unsupported_codec' contract on a mixed table."""

    def gen(r):
        mid = int(r.media_id)
        kind = "image"
        sel = mid % 5 if with_unsupported else mid % 2
        if with_unsupported and sel == 2:
            i = np.arange(256, dtype=np.int64)
            k = (mid % 97 + 3) * 131
            s = ((i * k) % 65536 - 32768).astype("<i2")
            payload, mime, kind = encode_wav(s, 8000), "audio/wav", "audio"
        elif with_unsupported and sel == 3:
            body = bytes((mid * 7 + j * 13) % 256 for j in range(64))
            payload, mime, kind = b"ID3\x04\x00" + body, "audio/mpeg", "audio"
        elif with_unsupported and sel == 4:
            body = bytes((mid * 11 + j * 17) % 256 for j in range(64))
            payload = b"\x00\x00\x00\x18ftypisom" + body
            mime, kind = "video/mp4", "video"
        elif sel % 2 == 0:
            payload, mime = png.write_png_rgba(_png_pixels(mid, size)), "image/png"
        else:
            g = _gray_blocks(mid, size)
            payload = jpeg.encode_baseline(np.stack([g, g, g], axis=-1), quality=75)
            mime = "image/jpeg"
        yield {"media_id": mid, "kind": kind, "mime": mime, "payload": payload, "meta": None}

    return per_row(ids, gen, MEDIA_SCHEMA)


_MJPG_MAGIC = b"MJPG"


def encode_mjpeg(frames: list[bytes]) -> bytes:
    """Length-prefixed MJPEG-style container: magic, frame count, then
    (u32 length, JPEG bytes) per frame. The honest toy stand-in for a real
    video container — the FRAMES are real baseline JPEGs, the wrapper is
    ours (real codecs like H.264 stay out of scope in this environment)."""
    import struct

    out = bytearray(_MJPG_MAGIC)
    out += struct.pack("<I", len(frames))
    for f in frames:
        out += struct.pack("<I", len(f)) + f
    return bytes(out)


def mjpeg_frames(data: bytes) -> list[bytes]:
    import struct

    if data[:4] != _MJPG_MAGIC:
        raise ValueError("not an MJPG container")
    try:
        (n,) = struct.unpack("<I", data[4:8])
        frames = []
        i = 8
        for _ in range(n):
            (ln,) = struct.unpack("<I", data[i : i + 4])
            if i + 4 + ln > len(data):
                raise ValueError("corrupt or truncated MJPG container")
            frames.append(data[i + 4 : i + 4 + ln])
            i += 4 + ln
    except struct.error as e:
        # malformed media surfaces as ValueError (decode_media contract)
        raise ValueError("corrupt or truncated MJPG container") from e
    return frames


def synth_mjpeg_media(ids: DataFrame, n_frames: int = 4, size: int = 16) -> DataFrame:
    """Deterministic 'videos': n_frames block-constant JPEG frames per id
    (block value = (bx*7 + by*13 + id + 31*frame) % 256) in the MJPG
    container — per-frame pixel stats are closed-form for oracles while the
    bytes exercise the full JPEG path per frame."""

    def gen(r):
        mid = int(r.media_id)
        frames = []
        for fi in range(n_frames):
            g = _gray_blocks(mid, size, offset=31 * fi)
            frames.append(jpeg.encode_baseline(np.stack([g, g, g], -1), quality=75))
        yield {"media_id": mid, "kind": "video", "mime": "video/x-mjpg",
               "payload": encode_mjpeg(frames), "meta": None}

    return per_row(ids, gen, MEDIA_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("mean_luma", T.FloatType(), False),
    ]
)


def sample_video_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling (the training-pipeline 'decode every Nth frame'
    transform) over MJPG containers AND animated GIFs: one output row per
    sampled frame with raster dims and mean luma, Arrow-batched. MJPG
    frames decode with the real baseline JPEG decoder; GIF frames are the
    real LZW decode composited per the animation disposal rules (mean
    luma over the RGB planes, alpha excluded). Other containers raise
    NotImplementedError."""

    def go(r):
        buf = bytes(r.payload)
        if buf[:4] == _MJPG_MAGIC:
            frames = mjpeg_frames(buf)
            decoded = [
                (fi, jpeg.decode_baseline(frames[fi]), len(frames))
                for fi in range(0, len(frames), every_n)
            ]
        elif buf[:6] in _GIF_MAGICS:
            # compositing frame k needs frames 0..k-1, so the GIF decodes
            # fully and sampling selects from the canvas sequence; luma
            # excludes the alpha plane
            gframes, _w, _h = gif.gif_frames(buf)
            decoded = [
                (fi, gframes[fi][:, :, :3], len(gframes))
                for fi in range(0, len(gframes), every_n)
            ]
        else:
            raise NotImplementedError(
                "only the MJPG frame container and animated GIF "
                "decode in this environment (real video codecs "
                "are out of scope)"
            )
        for fi, img, n in decoded:
            yield {"media_id": int(r.media_id), "frame_index": fi, "n_frames": n,
                   "width": int(img.shape[1]), "height": int(img.shape[0]),
                   "mean_luma": np.float32(img.mean())}

    return per_row(media.select("media_id", "payload"), go, FRAME_SCHEMA)


def synth_gif_media(ids: DataFrame, size: int = 16, n_frames: int = 4,
                    ncolors: int = 64) -> DataFrame:
    """REAL deterministic GIFs: per id, n_frames full-canvas frames where
    frame f's pixel (x, y) holds palette index (x + 3y + id + 7f) %
    ncolors and palette[i] = ((5i)%256, (11i)%256, (23i)%256). GIF is
    lossless, so pixel statistics are closed-form for SQL oracles while
    the bytes exercise the whole container + LZW path; EVEN ids are
    written interlaced (the decoder must produce identical pixels either
    way, so the oracle pins de-interlacing too). n_frames > 1 makes an
    animated GIF89a (NETSCAPE loop + per-frame GCEs)."""
    i = np.arange(ncolors, dtype=np.int64)
    pal = np.stack([(5 * i) % 256, (11 * i) % 256, (23 * i) % 256],
                   axis=-1).astype(np.uint8)
    x = np.arange(size, dtype=np.int64)[None, :]
    y = np.arange(size, dtype=np.int64)[:, None]

    def gen(r):
        mid = int(r.media_id)
        frames = [
            ((x + 3 * y + mid + 7 * f) % ncolors).astype(np.uint8)
            for f in range(n_frames)
        ]
        yield {"media_id": mid, "kind": "video" if n_frames > 1 else "image",
               "mime": "image/gif",
               "payload": gif.encode_gif(frames, pal, interlace=(mid % 2 == 0)),
               "meta": None}

    return per_row(ids, gen, MEDIA_SCHEMA)


def media_stats(media: DataFrame) -> DataFrame:
    """Metadata-only aggregation: MUST NOT read the payload column — the
    projection keeps binary bytes out of the scan (check ReadSchema in
    .explain)."""
    return (
        media.select("kind", F.length("payload").alias("n_bytes"))
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_bytes").alias("total_bytes"))
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def resize_images(media: DataFrame, factor: int = 2) -> DataFrame:
    """REAL image resize: decode PNG payloads, box-average downsample by
    `factor` (integer block mean — floor division keeps the transform
    engine-exact for oracles), re-encode as PNG. RGBA-8 inputs; dimensions
    truncate to a multiple of `factor`. The training-data 'shrink for
    thumbnails / vision pretraining' transform, Arrow-batched."""

    def go(r):
        img = png.decode_png(bytes(r.payload))
        if img.shape[2] != 4:
            raise NotImplementedError("RGBA-8 resize only")
        h2 = img.shape[0] // factor
        w2 = img.shape[1] // factor
        crop = img[: h2 * factor, : w2 * factor].astype(np.int64)
        out = (
            crop.reshape(h2, factor, w2, factor, 4).sum(axis=(1, 3))
            // (factor * factor)
        ).astype(np.uint8)
        yield {"media_id": int(r.media_id), "width": w2, "height": h2,
               "payload": png.write_png_rgba(out)}

    return per_row(media.select("media_id", "payload"), go, RESIZED_SCHEMA)
