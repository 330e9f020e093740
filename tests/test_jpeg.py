"""Pure-NumPy baseline JPEG codec (functions/jpeg, ITU T.81) — encode and
decode round trips, exactness contract for block-constant fixtures, and the
mixed-format multimodal decode path."""

from __future__ import annotations

import numpy as np
import pytest

from osmix_spark.functions import jpeg


def _block_constant(size: int, mid: int) -> np.ndarray:
    img = np.zeros((size, size), dtype=np.uint8)
    nb = size // 8
    for by in range(nb):
        for bx in range(nb):
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (bx * 7 + by * 13 + mid) % 256
    return img


def test_block_constant_gray_roundtrip_exact():
    """A block-constant image has only DC coefficients; at quality 75 the
    Annex-K luma DC quantizer (8) equals the constant-block DCT gain, so
    decode(encode(x)) == x bit-exactly — the contract the SQL oracles use."""
    for mid in (0, 5, 17, 255):
        img = _block_constant(16, mid)
        dec = jpeg.decode_baseline(jpeg.encode_baseline(img, quality=75))
        assert (dec[:, :, 0] == img).all()
        assert (dec[:, :, 0] == dec[:, :, 1]).all() and (dec[:, :, 0] == dec[:, :, 2]).all()


def test_block_constant_rgb_gray_roundtrip_exact():
    img = _block_constant(32, 9)
    rgb = np.stack([img, img, img], axis=-1)
    dec = jpeg.decode_baseline(jpeg.encode_baseline(rgb, quality=75, subsample="444"))
    assert (dec == rgb).all()


def test_420_constant_roundtrip_exact():
    c = np.full((16, 16, 3), 77, dtype=np.uint8)
    dec = jpeg.decode_baseline(jpeg.encode_baseline(c, quality=75, subsample="420"))
    assert (dec == c).all()


def test_noise_roundtrip_error_bounded():
    """Lossy content: error shrinks as quality rises and stays sane."""
    rng = np.random.default_rng(42)
    noisy = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    errs = {}
    for q in (50, 75, 95):
        dec = jpeg.decode_baseline(jpeg.encode_baseline(noisy, quality=q))
        errs[q] = float(np.abs(dec.astype(int) - noisy.astype(int)).mean())
    assert errs[95] < errs[75] < errs[50]
    assert errs[95] < 5.0


def test_smooth_gradient_high_quality_near_exact():
    x = np.arange(32)
    g = ((x[None, :] + 2 * x[:, None]) % 256).astype(np.uint8)
    g3 = np.stack([g, g, g], axis=-1)
    dec = jpeg.decode_baseline(jpeg.encode_baseline(g3, quality=90))
    assert int(np.abs(dec.astype(int) - g3.astype(int)).max()) <= 2


def test_decoder_rejects_non_baseline():
    with pytest.raises(ValueError):
        jpeg.decode_baseline(b"\x89PNG\r\n\x1a\n")
    # lossless-sequential SOF3 stays out of scope
    bogus = b"\xff\xd8" + b"\xff\xc3" + b"\x00\x08" + b"\x08\x00\x10\x00\x10\x01" + b"\xff\xd9"
    with pytest.raises(NotImplementedError):
        jpeg.decode_baseline(bogus)
    # progressive SOF2 is in scope now, but a header with no scan is corrupt
    bogus = b"\xff\xd8" + b"\xff\xc2" + b"\x00\x08" + b"\x08\x00\x10\x00\x10\x01" + b"\xff\xd9"
    with pytest.raises(ValueError):
        jpeg.decode_baseline(bogus)


def test_byte_stuffing_exercised():
    """0xFF bytes in the entropy stream must be stuffed/unstuffed; images
    with many mid-range blocks reliably produce some."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    enc = jpeg.encode_baseline(img, quality=85)
    assert b"\xff\x00" in enc  # stuffing occurred
    dec = jpeg.decode_baseline(enc)
    assert dec.shape == (64, 64, 3)


def test_mixed_media_decode(spark):
    """decode_media routes PNG and JPEG payloads by magic bytes; JPEG RGB
    features get the implicit opaque alpha so both emit 4 features."""
    from pyspark.sql import functions as F

    from osmix_spark.operators import multimodal as mm

    ids = spark.range(8).select(F.col("id").alias("media_id"))
    png = mm.synth_png_media(ids=ids.filter(F.col("media_id") % 2 == 0), size=16)
    jpg = mm.synth_jpeg_media(ids=ids.filter(F.col("media_id") % 2 == 1), size=16)
    out = mm.decode_media(png.unionByName(jpg)).collect()
    assert len(out) == 8
    for r in out:
        assert r["width"] == 16 and r["height"] == 16
        assert len(r["features"]) == 4
    # closed-form JPEG mean for id=1: blocks (bx*7+by*13+1)%256
    exp = np.mean([(bx * 7 + by * 13 + 1) % 256 for bx in range(2) for by in range(2)])
    got = next(r for r in out if r["media_id"] == 1)
    assert abs(got["features"][0] - exp) < 1e-4
    assert got["features"][3] == 255.0


def test_corrupt_streams_raise_value_error():
    """Truncated entropy data, stray markers, and internal decode-state
    exceptions all surface as ValueError — never IndexError or private
    exception types (decode_media's error contract)."""
    img = np.full((16, 16), 40, dtype=np.uint8)
    good = jpeg.encode_baseline(img, quality=75)
    with pytest.raises(ValueError):
        jpeg.decode_baseline(good[:-6])  # truncated inside entropy data
    mangled = bytearray(good)
    mangled[-8] = 0xFF
    mangled[-7] = 0xC5  # stray marker mid-entropy
    try:
        jpeg.decode_baseline(bytes(mangled))
    except ValueError:
        pass  # either decodes (bytes fell in padding) or ValueError — nothing else
    except Exception as e:  # noqa: BLE001
        raise AssertionError(f"unexpected exception type: {type(e)}") from e


def test_decode_media_fake_fallback_for_unknown_formats(spark):
    """A RIFF-but-not-WAVE payload (WebP/AVI) and a non-PCM WAV must use
    the deterministic stand-in under fake=True instead of crashing, and
    raise NotImplementedError (not ValueError) under fake=False."""
    import struct

    from osmix_spark.operators import multimodal as mm

    webp_ish = b"RIFF" + struct.pack("<I", 20) + b"WEBPVP8 " + b"\x00" * 12
    float_wav = bytearray(mm.encode_wav(np.zeros(16, dtype="<i2"), 8000))
    float_wav[20] = 3  # fmt: IEEE float
    media = spark.createDataFrame(
        [
            (1, "image", "image/webp", webp_ish, None),
            (2, "audio", "audio/wav", bytes(float_wav), None),
        ],
        mm.MEDIA_SCHEMA,
    )
    out = mm.decode_media(media, fake=True).collect()
    assert len(out) == 2  # stand-in rows, no crash
    with pytest.raises(Exception, match="NotImplementedError"):
        mm.decode_media(media, fake=False).collect()


def test_fill_bytes_between_markers_accepted():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a marker
    code; real-world encoders emit them and the decoder must skip them."""
    img = np.full((8, 8), 90, dtype=np.uint8)
    good = jpeg.encode_baseline(img, quality=75)
    # inject two fill bytes before the first post-SOI marker (APP/DQT/...)
    assert good[2] == 0xFF
    padded = good[:2] + b"\xff\xff" + good[2:]
    out = jpeg.decode_baseline(padded)
    assert out.shape == (8, 8, 3)
    assert (out == jpeg.decode_baseline(good)).all()


def test_truncated_header_raises_value_error():
    """Truncation INSIDE the marker/segment header parse (before any scan)
    must surface as ValueError, not struct.error/IndexError/OverflowError."""
    img = np.full((8, 8), 90, dtype=np.uint8)
    good = jpeg.encode_baseline(img, quality=75)
    for cut in (3, 5, 9, 20, 40):
        try:
            jpeg.decode_baseline(good[:cut])
        except (ValueError, NotImplementedError):
            pass
        except Exception as e:  # noqa: BLE001
            raise AssertionError(f"cut={cut}: unexpected {type(e)}") from e
    # bit flips across the header region: only ValueError/NotImplementedError
    for pos in range(2, min(len(good), 64)):
        mangled = bytearray(good)
        mangled[pos] ^= 0x5A
        try:
            jpeg.decode_baseline(bytes(mangled))
        except (ValueError, NotImplementedError):
            pass
        except Exception as e:  # noqa: BLE001
            raise AssertionError(f"pos={pos}: unexpected {type(e)}") from e


def test_huffman_decode_cache_is_capped():
    """Streams carrying their own Huffman tables (progressive, optimized)
    must not grow the decode-map cache without bound: it holds at most
    _DECODE_MAP_CACHE_MAX tables and evicts the least recently used."""
    cap = jpeg._DECODE_MAP_CACHE_MAX
    bits = [1] + [0] * 15  # one symbol, one 1-bit code
    for sym in range(cap + 8):
        assert jpeg._build_decode_map(bits, [sym])[(1, 0)] == sym
        assert len(jpeg._DECODE_MAP_CACHE) <= cap
    assert len(jpeg._DECODE_MAP_CACHE) == cap
    assert (tuple(bits), (cap + 7,)) in jpeg._DECODE_MAP_CACHE
    assert (tuple(bits), (0,)) not in jpeg._DECODE_MAP_CACHE
    # decoding rebuilds evicted tables on demand
    img = _block_constant(16, 5)
    assert (jpeg.decode_baseline(jpeg.encode_baseline(img))[:, :, 0] == img).all()
