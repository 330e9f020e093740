"""Pure-Python PNG codec (stdlib zlib + NumPy), no image libraries.

The writer emits RGBA8 with filter-0 scanlines: the raster tiles of
operators/tiles and the PNG media fixtures of operators/multimodal. The
decoder reads 8-bit RGBA/RGB/gray with all five scanline filters, so it
reads both those tiles and PNGs from elsewhere (decode_media).
"""

from __future__ import annotations

MAGIC = b"\x89PNG\r\n\x1a\n"


def write_png_rgba(arr) -> bytes:
    """Minimal PNG writer (RGBA8): zlib-compressed scanlines, filter 0."""
    import struct
    import zlib

    h, w = arr.shape[:2]

    def chunk(typ: bytes, data: bytes) -> bytes:
        c = struct.pack(">I", len(data)) + typ + data
        return c + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b"")


def decode_png(data: bytes):
    """Pure-Python PNG decoder (stdlib zlib + NumPy): 8-bit RGBA/RGB/gray,
    ALL five scanline filters (PNG spec §9: None, Sub, Up, Average, Paeth).
    Returns an (h, w, channels) uint8 array."""
    import struct
    import zlib

    import numpy as np

    if data[:8] != MAGIC:
        raise ValueError("not a PNG")
    i = 8
    w = h = 0
    channels = 4
    idat = bytearray()
    while i < len(data):
        (ln,) = struct.unpack(">I", data[i : i + 4])
        typ = data[i + 4 : i + 8]
        payload = data[i + 8 : i + 8 + ln]
        if typ == b"IHDR":
            w, h, bit_depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload[:13]
            )
            if bit_depth != 8:
                raise NotImplementedError("8-bit PNG only")
            if interlace != 0:
                raise NotImplementedError("interlaced (Adam7) PNG not supported")
            if comp != 0 or filt != 0:
                raise ValueError("invalid PNG compression/filter method")
            channels = {0: 1, 2: 3, 6: 4}.get(color_type)
            if channels is None:
                raise NotImplementedError(f"PNG color type {color_type}")
        elif typ == b"IDAT":
            idat += payload
        i += 12 + ln
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    bpp = channels
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).copy()
        pos += 1 + stride
        if ftype == 0:
            pass
        elif ftype == 2:  # Up
            line = (line.astype(np.int32) + prev).astype(np.uint8)
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need a left scan
            cur = line.astype(np.int32)
            res = np.zeros(stride, dtype=np.int32)
            pv = prev.astype(np.int32)
            for x in range(stride):
                a = res[x - bpp] if x >= bpp else 0
                b = pv[x]
                if ftype == 1:
                    res[x] = (cur[x] + a) & 0xFF
                elif ftype == 3:
                    res[x] = (cur[x] + (a + b) // 2) & 0xFF
                else:
                    c = pv[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    res[x] = (cur[x] + pred) & 0xFF
            line = res.astype(np.uint8)
        else:
            raise ValueError(f"bad PNG filter {ftype}")
        out[y] = line
        prev = out[y]
    return out.reshape(h, w, channels)
