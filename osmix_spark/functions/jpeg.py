"""Pure-NumPy JPEG codec (ITU-T T.81 / ISO 10918-1).

No image libraries: the decoder handles baseline sequential DCT (SOF0)
AND progressive DCT (SOF2 — spectral selection + successive
approximation, Annex G), 8-bit samples, 1 (grayscale) or 3 (YCbCr)
components, 4:4:4 / 4:2:2 / 4:2:0 sampling, byte stuffing, and restart
markers; the encoders write baseline (Annex K tables) or progressive
(per-scan minimal tables) 4:4:4 / 4:2:0 so fixtures are deterministic
and spec-standard.

Used by operators/multimodal.decode_media for image/jpeg payloads — the
reference engine has no media path at all; this exists for the
training-data pipeline brief (Common-Crawl media columns are mostly JPEG).

Exactness note for oracle-backed fixtures: an image whose 8x8 blocks are
each CONSTANT has only DC coefficients; with the Annex-K luma table at
quality 75 the DC quantizer is exactly 8 = the DCT gain of a constant
block, so encode->decode reproduces the source pixels bit-exactly and SQL
oracles can state pixel statistics in closed form (see
operators/multimodal.synth_jpeg_media).
"""

from __future__ import annotations

import struct
import threading
from collections import OrderedDict

import numpy as np

# zig-zag scan order (T.81 Figure 5)
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

# Annex K Table K.1 / K.2 quantization tables (natural order)
QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K Tables K.3-K.6: standard Huffman tables as (BITS[1..16], HUFFVAL)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# 8x8 DCT-II basis matrix: M[u, x] = C(u)/2 * cos((2x+1) u pi / 16)
_M = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _M[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _scale_qt(qt: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg-compatible quality scaling of an Annex K table."""
    quality = max(1, min(100, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((qt * scale + 50) // 100, 1, 255).astype(np.int64)


def _build_codes(bits, vals):
    """(BITS, HUFFVAL) -> {symbol: (code, length)} per T.81 Annex C."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


# Decode maps are ~2 MB each (the 64K-entry LUT), and streams with
# optimized Huffman tables bring new tables per image: keep the most
# recently used few (the standard tables stay hot).
_DECODE_MAP_CACHE_MAX = 16
_DECODE_MAP_CACHE: OrderedDict = OrderedDict()
_DECODE_MAP_LOCK = threading.Lock()


def _build_decode_map(bits, vals):
    """(BITS, HUFFVAL) -> {(length, code): symbol}, plus a 16-bit-prefix
    LUT under the "__lut" key: lut[peek16] = (symbol << 5) | code_length,
    -1 for invalid prefixes — one array index replaces the bit-by-bit
    dict walk per symbol. LRU-cached per (bits, vals), at most
    _DECODE_MAP_CACHE_MAX tables, so repeated decodes of streams sharing
    tables (every standard-table JPEG) skip the build."""
    key = (tuple(bits), tuple(vals))
    with _DECODE_MAP_LOCK:
        hit = _DECODE_MAP_CACHE.get(key)
        if hit is not None:
            _DECODE_MAP_CACHE.move_to_end(key)
            return hit
    out = {}
    lut = np.full(1 << 16, -1, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            lo = code << (16 - length)
            lut[lo : lo + (1 << (16 - length))] = (vals[k] << 5) | length
            code += 1
            k += 1
        code <<= 1
    out["__lut"] = lut.tolist()  # plain list: ~10x faster scalar indexing
    with _DECODE_MAP_LOCK:
        _DECODE_MAP_CACHE[key] = out
        if len(_DECODE_MAP_CACHE) > _DECODE_MAP_CACHE_MAX:
            _DECODE_MAP_CACHE.popitem(last=False)
    return out


# the standard tables never change — build the encoder's code dicts once
def _std_codes():
    return (
        [_build_codes(DC_LUMA_BITS, DC_LUMA_VALS),
         _build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)],
        [_build_codes(AC_LUMA_BITS, AC_LUMA_VALS),
         _build_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)],
    )


_STD_DC_CODES, _STD_AC_CODES = _std_codes()


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.buf)

    def restart(self, m: int) -> None:
        """Pad to a byte boundary and emit RSTm (never byte-stuffed)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.buf += bytes([0xFF, 0xD0 + (m & 7)])


def _magnitude(v: int) -> tuple[int, int]:
    """DC/AC amplitude coding (T.81 F.1.2.1): (size, value-bits)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r, g, b = (img[..., 0].astype(np.float64), img[..., 1].astype(np.float64),
               img[..., 2].astype(np.float64))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _prep_blocks(img: np.ndarray, quality: int, subsample: str):
    """Shared encoder front: color transform, subsampling, FDCT+quantize.
    -> (gray, h, w, qly, qlc, samp, qids, qblocks); qblocks[ci] is
    (nblocks, 64) zigzag-order, row-major block order."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    qly = _scale_qt(QT_LUMA, quality)
    qlc = _scale_qt(QT_CHROMA, quality)

    if gray:
        planes = [img.astype(np.float64) - 128.0]
        samp = [(1, 1)]
        qids = [0]
    else:
        ycc = _rgb_to_ycbcr(img)
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if subsample == "420":
            if h % 16 or w % 16:
                raise ValueError("4:2:0 needs dimensions divisible by 16")
            cb = cb.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            cr = cr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        elif subsample == "444":
            samp = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported subsampling {subsample}")
        planes = [y - 128.0, cb - 128.0, cr - 128.0]
        qids = [0, 1, 1]

    # ONE forward-DCT einsum over every block of every plane (per-plane
    # einsum overhead dominates on small images), then per-plane quantize
    split = []
    blocks = []
    for p in planes:
        ph, pw = p.shape
        b = p.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        split.append(len(b))
        blocks.append(b)
    allb = np.concatenate(blocks) if len(blocks) > 1 else blocks[0]
    coef = np.einsum("ux,nxy,vy->nuv", _M, allb, _M)
    qblocks = []
    o = 0
    for n, qid in zip(split, qids):
        qt = qly if qid == 0 else qlc
        q = np.round(coef[o : o + n] / qt.reshape(8, 8)).astype(np.int64)
        qblocks.append(q.reshape(-1, 64)[:, ZIGZAG])
        o += n
    return gray, h, w, qly, qlc, samp, qids, qblocks


def encode_baseline(img: np.ndarray, quality: int = 75, subsample: str = "444") -> bytes:
    """Encode (H, W, 3) RGB or (H, W) grayscale uint8 as baseline JPEG.

    H and W must be multiples of 8 (and of 16 for 4:2:0) — fixtures are;
    general edge-padding is out of scope for the synthetic pipeline."""
    gray, h, w, qly, qlc, samp, qids, qblocks = _prep_blocks(
        img, quality, subsample)

    dc_codes = _STD_DC_CODES
    ac_codes = _STD_AC_CODES

    # interleaved MCU scan (T.81 A.2.3)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    bw = _BitWriter()
    pred = [0] * len(qblocks)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (hs, vs) in enumerate(samp):
                tid = 0 if ci == 0 else 1
                plane_w_blocks = (w * hs // hmax) // 8
                for by in range(vs):
                    for bx in range(hs):
                        bi = (my * vs + by) * plane_w_blocks + (mx * hs + bx)
                        blk = qblocks[ci][bi]
                        diff = int(blk[0]) - pred[ci]
                        pred[ci] = int(blk[0])
                        size, bits = _magnitude(diff)
                        code, ln = dc_codes[tid][size]
                        bw.write(code, ln)
                        if size:
                            bw.write(bits, size)
                        # iterate only the nonzero AC positions (one numpy
                        # call replaces the 63-step Python scan per block —
                        # the dominant per-block cost on sparse blocks)
                        prev = 0
                        for k in np.nonzero(blk[1:])[0]:
                            k = int(k) + 1
                            run = k - prev - 1
                            while run >= 16:
                                code, ln = ac_codes[tid][0xF0]  # ZRL
                                bw.write(code, ln)
                                run -= 16
                            v = int(blk[k])
                            size, bits = _magnitude(v)
                            code, ln = ac_codes[tid][(run << 4) | size]
                            bw.write(code, ln)
                            bw.write(bits, size)
                            prev = k
                        if prev != 63:
                            code, ln = ac_codes[tid][0x00]  # EOB
                            bw.write(code, ln)
    scan = bw.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT segments
    for tid, qt in ((0, qly), (1, qlc)):
        if gray and tid == 1:
            continue
        seg = bytes([tid]) + bytes(int(x) for x in qt[ZIGZAG])
        out += b"\xff\xdb" + struct.pack(">H", len(seg) + 2) + seg
    # SOF0
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hs, vs = samp[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, qids[ci]])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    # DHT segments
    for cls, tid, bits, vals in (
        (0, 0, DC_LUMA_BITS, DC_LUMA_VALS), (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
        (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS), (1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS),
    ):
        if gray and tid == 1:
            continue
        seg = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(seg) + 2) + seg
    # SOS
    sos = bytes([ncomp])
    for ci in range(ncomp):
        tid = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """Entropy-coded segment reader with 0xFF00 unstuffing and RST skip.

    Reads are buffered 16 bits ahead so Huffman symbols resolve with one
    LUT index (see _build_decode_map). Lookahead that runs into the end
    of the segment (or a restart marker) pads virtually with 1-bits and
    DEFERS the underlying exception: it is re-raised only if decoding
    actually consumes into the padding, so the truncation / stray-marker
    error contract is byte-identical to the unbuffered reader."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.pad = 0
        self._deferred: Exception | None = None

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy stream")
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RSTn handled by caller via sync()
                raise _RestartMarker()
            else:
                raise ValueError("unexpected marker inside entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def _prefill16(self) -> None:
        while self.nbits < 16:
            if self._deferred is None:
                try:
                    self._fill()
                    continue
                except (_RestartMarker, ValueError) as e:
                    self._deferred = e
            self.acc = (self.acc << 8) | 0xFF
            self.nbits += 8
            self.pad += 8

    def _consume(self, n: int) -> None:
        self.nbits -= n
        if self.nbits < self.pad:
            raise self._deferred  # consumed virtual padding: real error
        self.acc &= (1 << self.nbits) - 1

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        if self.nbits < self.pad:
            raise self._deferred
        v = (self.acc >> self.nbits) & 1
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._prefill16()
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self._consume(n)
        return v

    def sync_restart(self) -> None:
        """Consume an RSTn marker at a byte boundary."""
        self.acc = 0
        self.nbits = 0
        self.pad = 0
        self._deferred = None
        if not (self.data[self.pos] == 0xFF
                and 0xD0 <= self.data[self.pos + 1] <= 0xD7):
            raise ValueError("expected RSTn marker at restart boundary")
        self.pos += 2


class _RestartMarker(Exception):
    pass


def _decode_huff(br: _BitReader, table: dict) -> int:
    lut = table.get("__lut")
    if lut is None:  # tables built outside _build_decode_map: bit walk
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")
    if br.nbits < 16:
        br._prefill16()
    e = lut[(br.acc >> (br.nbits - 16)) & 0xFFFF]
    if e < 0:
        raise ValueError("invalid Huffman code")
    br._consume(e & 31)
    return e >> 5


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode(data: bytes) -> np.ndarray:
    """Decode a JPEG -> (H, W, 3) RGB uint8 (grayscale replicated).

    Supports baseline sequential (SOF0) and progressive (SOF2, T.81 G:
    spectral selection + successive approximation, all four scan kinds),
    8-bit, 1 or 3 components, sampling factors 1-2, restart intervals,
    multi-table DQT/DHT segments (including tables redefined between
    progressive scans), 0xFF fill bytes between markers (T.81 B.1.1.2).
    Other SOFs (lossless, arithmetic, hierarchical) raise
    NotImplementedError; any malformed/truncated stream raises ValueError
    (the decode_media contract), never a raw struct/Index/Overflow error."""
    try:
        return _decode(data)
    except (struct.error, IndexError, OverflowError) as e:
        raise ValueError(f"corrupt or truncated JPEG stream: {e!r}") from e


# historical name — the entry grew progressive support but callers predate it
decode_baseline = decode


def _decode(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    progressive = False
    coefs: list[np.ndarray] | None = None  # per-comp (nblocks, 64) zigzag
    mcux = mcuy = 0
    i = 2
    while i < len(data):
        if data[i] != 0xFF:
            raise ValueError("bad marker sync")
        while data[i + 1] == 0xFF:
            i += 1  # T.81 B.1.1.2: optional 0xFF fill bytes before a marker
        marker = data[i + 1]
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (ln,) = struct.unpack(">H", data[i + 2 : i + 4])
        seg = data[i + 4 : i + 2 + ln]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.frombuffer(seg[p + 1 : p + 65], dtype=np.uint8).astype(np.int64)
                qts[tq] = tbl[UNZIGZAG]  # store natural order
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                cls, tid = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                huff[(cls, tid)] = _build_decode_map(bits, vals)
                p += 17 + nv
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError("8-bit precision only")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "idx": c, "h": hv >> 4, "v": hv & 0xF,
                              "tq": tq})
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(f"unsupported SOF 0x{marker:02x}")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            order = []
            for c in range(ns):
                cid, tids = seg[1 + 2 * c : 3 + 2 * c]
                comp = next(cc for cc in comps if cc["id"] == cid)
                comp["dc"] = tids >> 4
                comp["ac"] = tids & 0xF
                order.append(comp)
            scan_start = i + 2 + ln
            try:
                if not progressive:
                    return _decode_scan(data, scan_start, w, h, order, qts,
                                        huff, restart_interval)
                if coefs is None:
                    hmax = max(c["h"] for c in comps)
                    vmax = max(c["v"] for c in comps)
                    mcux = -(-w // (8 * hmax))
                    mcuy = -(-h // (8 * vmax))
                    for c in comps:
                        # MCU-padded grid for interleaved scans; the
                        # non-interleaved walk covers only ceil(cw/8) cols
                        # (T.81 A.2.2 vs A.2.3)
                        c["bw"] = mcux * c["h"]
                        c["bh"] = mcuy * c["v"]
                        cw = -(-(w * c["h"]) // hmax)
                        ch = -(-(h * c["v"]) // vmax)
                        c["nbx"] = -(-cw // 8)
                        c["nby"] = -(-ch // 8)
                    coefs = [np.zeros((c["bh"] * c["bw"], 64), dtype=np.int32)
                             for c in comps]
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ahal = seg[3 + 2 * ns]
                end = _decode_progressive_scan(
                    data, scan_start, order, huff, coefs, mcux, mcuy,
                    ss, se, ahal >> 4, ahal & 0xF, restart_interval)
            except (_RestartMarker, IndexError, KeyError, OverflowError) as e:
                # internal decode-state exceptions must not escape: a restart
                # marker with no DRI, a truncated stream, or a missing table
                # are all "corrupt JPEG" to the caller
                raise ValueError(f"corrupt or truncated JPEG stream: {e!r}") from e
            i = _skip_to_marker(data, end)
            continue
        i += 2 + ln
    if progressive and coefs is not None:
        return _reconstruct_progressive(comps, coefs, qts, w, h)
    raise ValueError("no SOS marker found")


def _skip_to_marker(data: bytes, pos: int) -> int:
    """Advance past a scan's entropy tail to the next true marker (skips
    stuffed 0x00 and RSTn bytes)."""
    p = pos
    while p + 1 < len(data):
        if (data[p] == 0xFF and data[p + 1] != 0x00
                and not (0xD0 <= data[p + 1] <= 0xD7)):
            return p
        p += 1
    raise ValueError("truncated JPEG: no marker after scan data")


def _decode_scan(data, pos, w, h, comps, qts, huff, restart_interval):
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # entropy-decode into per-component (nblocks, 64) zigzag coefficient
    # matrices; dequant + IDCT run ONCE per component over all blocks below
    # (per-block einsum/alloc used to dominate decode on sparse blocks)
    nbx = [mcux * c["h"] for c in comps]
    nby = [mcuy * c["v"] for c in comps]
    coefs = [np.zeros((nby[ci] * nbx[ci], 64), dtype=np.int64)
             for ci in range(len(comps))]
    br = _BitReader(data, pos)
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.sync_restart()
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                dct = huff[(0, c["dc"])]
                act = huff[(1, c["ac"])]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coef = coefs[ci][(my * c["v"] + by) * nbx[ci]
                                         + mx * c["h"] + bx]
                        size = _decode_huff(br, dct)
                        diff = _extend(br.read_bits(size), size) if size else 0
                        pred[ci] += diff
                        coef[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = _decode_huff(br, act)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            coef[k] = _extend(br.read_bits(s), s)
                            k += 1
            mcu_count += 1
    # ONE dequant + IDCT einsum over every block of every component (the
    # per-block, then per-component, einsum overhead dominated decode of
    # small images)
    nb_tot = sum(len(cf) for cf in coefs)
    blk = np.zeros((nb_tot, 64), dtype=np.float64)
    o = 0
    for ci, c in enumerate(comps):
        qt64 = qts[c["tq"]]
        blk[o : o + len(coefs[ci]), ZIGZAG] = coefs[ci] * qt64[ZIGZAG][None, :]
        o += len(coefs[ci])
    spatial = np.einsum("ux,nuv,vy->nxy", _M, blk.reshape(-1, 8, 8), _M) + 128.0
    planes = []
    o = 0
    for ci in range(len(comps)):
        n = len(coefs[ci])
        planes.append(
            spatial[o : o + n]
            .reshape(nby[ci], nbx[ci], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nby[ci] * 8, nbx[ci] * 8)
        )
        o += n
    # upsample to full resolution and crop
    full = []
    for c, p in zip(comps, planes):
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    return _ycbcr_to_rgb(full[0], full[1], full[2])


# ---------------------------------------------------------------------------
# Progressive mode (T.81 Annex G): spectral selection + successive
# approximation. Scans accumulate into per-component coefficient grids;
# reconstruction dequantizes + IDCTs once at EOI. The reference treats
# progressive input as in-scope for its media ingest (it decodes whatever
# a crawl yields), so the boundary here is codec-level (MP3/AAC/H.264 out,
# any T.81 Huffman JPEG in).
# ---------------------------------------------------------------------------


def _scan_units(order, mcux, mcuy):
    """Yield decode units: lists of (comp, flat_block_index).

    Interleaved scans (ns > 1) walk MCUs (T.81 A.2.3); single-component
    scans walk the component's own ceil-grid row-major (A.2.2). One unit =
    one restart-interval tick."""
    if len(order) > 1:
        for my in range(mcuy):
            for mx in range(mcux):
                unit = []
                for c in order:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            unit.append(
                                (c, (my * c["v"] + by) * c["bw"]
                                 + mx * c["h"] + bx))
                yield unit
    else:
        c = order[0]
        for byy in range(c["nby"]):
            for bxx in range(c["nbx"]):
                yield [(c, byy * c["bw"] + bxx)]


def _ac_first_block(br, act, blk, ss, se, al, eobrun):
    """One block of an AC first scan (G.1.2.2). Returns the new EOB run."""
    if eobrun:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_huff(br, act)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        blk[k] = _extend(br.read_bits(s), s) << al
        k += 1
    return eobrun


def _ac_refine_block(br, act, blk, ss, se, al, eobrun):
    """One block of an AC refinement scan (G.1.2.3). Correction bits for
    already-nonzero coefficients are interleaved with newly-significant
    insertions exactly as the encoder buffers them. Returns the EOB run."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_huff(br, act)
            r, s = rs >> 4, rs & 0xF
            if s:
                if s != 1:
                    raise ValueError("refinement scan with size > 1")
                val = p1 if br.read_bit() else m1
            else:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.read_bits(r)
                    break
                val = 0  # ZRL: pass 16 zero-history positions
            while k <= se:
                if blk[k]:
                    if br.read_bit() and not (int(blk[k]) & p1):
                        blk[k] += p1 if blk[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                blk[k] = val
            k += 1
    if eobrun:
        while k <= se:
            if blk[k]:
                if br.read_bit() and not (int(blk[k]) & p1):
                    blk[k] += p1 if blk[k] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_progressive_scan(data, pos, order, huff, coefs, mcux, mcuy,
                             ss, se, ah, al, restart_interval):
    """Decode one progressive scan into the coefficient grids; returns the
    stream position after the scan's entropy data."""
    if ss == 0:
        if se != 0:
            raise ValueError("DC scan with Se != 0")
    elif len(order) != 1:
        raise ValueError("progressive AC scan must be non-interleaved")
    br = _BitReader(data, pos)
    pred = {c["idx"]: 0 for c in order}
    eobrun = 0
    cnt = 0
    for unit in _scan_units(order, mcux, mcuy):
        if restart_interval and cnt and cnt % restart_interval == 0:
            br.sync_restart()
            pred = {c["idx"]: 0 for c in order}
            eobrun = 0
        for c, bi in unit:
            blk = coefs[c["idx"]][bi]
            if ss == 0:
                if ah == 0:  # DC first
                    size = _decode_huff(br, huff[(0, c["dc"])])
                    diff = _extend(br.read_bits(size), size) if size else 0
                    pred[c["idx"]] += diff
                    blk[0] = pred[c["idx"]] << al
                else:  # DC refinement: one raw bit, no Huffman table
                    if br.read_bit():
                        blk[0] |= 1 << al
            else:
                act = huff[(1, c["ac"])]
                if ah == 0:
                    eobrun = _ac_first_block(br, act, blk, ss, se, al, eobrun)
                else:
                    eobrun = _ac_refine_block(br, act, blk, ss, se, al, eobrun)
        cnt += 1
    return br.pos


def _reconstruct_progressive(comps, coefs, qts, w, h):
    """Dequantize + IDCT the accumulated coefficient grids, vectorized
    over all blocks per component."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    full = []
    for c in comps:
        if c["tq"] not in qts:
            raise ValueError(f"missing DQT for quant table id {c['tq']}")
        qt = qts[c["tq"]].reshape(64)  # natural order
        cf = coefs[c["idx"]].astype(np.float64) * qt[ZIGZAG]
        nat = np.zeros_like(cf)
        nat[:, ZIGZAG] = cf
        spatial = np.einsum("ux,nuv,vy->nxy", _M, nat.reshape(-1, 8, 8), _M)
        bh, bw = c["bh"], c["bw"]
        plane = (spatial.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
                 .reshape(bh * 8, bw * 8) + 128.0)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        full.append(plane[:h, :w])
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    return _ycbcr_to_rgb(full[0], full[1], full[2])


# ---------------------------------------------------------------------------
# Progressive encoder — fixture generator for the decoder above. Emits a
# scan script covering all four scan kinds (DC first/refine, AC
# first/refine with EOB runs), each scan with its own minimal canonical
# Huffman table (the Annex K tables lack the EOBn symbols progressive
# coding needs). The coefficient stream is lossless across the script, so
# decode(encode_progressive(img)) is pixel-identical to
# decode(encode_baseline(img)) at the same quality/subsampling — the
# exactness hook the fixture tests pin.
# ---------------------------------------------------------------------------


def _pt_shift(v: int, al: int) -> int:
    """AC point transform (T.81 A.4.2): divide by 2^Al toward zero."""
    return (v >> al) if v >= 0 else -((-v) >> al)


def _enc_units(scan_comps, samp, grids, mcux, mcuy):
    """Encoder-side block walk: (ci, flat_index) units, mirroring
    _scan_units. grids[ci] = (blocks_y, blocks_x)."""
    if len(scan_comps) > 1:
        for my in range(mcuy):
            for mx in range(mcux):
                unit = []
                for ci in scan_comps:
                    hs, vs = samp[ci]
                    bw = grids[ci][1]
                    for by in range(vs):
                        for bx in range(hs):
                            unit.append(
                                (ci, (my * vs + by) * bw + mx * hs + bx))
                yield unit
    else:
        ci = scan_comps[0]
        nby, nbx = grids[ci]
        for byy in range(nby):
            for bxx in range(nbx):
                yield [(ci, byy * nbx + bxx)]


def _rst_ticks(ops, cnt, ri):
    """Append a restart op at an interval boundary; returns its marker id."""
    if ri and cnt and cnt % ri == 0:
        ops.append(("r", (cnt // ri - 1) & 7))
        return True
    return False


def _dc_first_ops(scan_comps, qblocks, samp, grids, mcux, mcuy, al, ri=0):
    ops = []
    pred = {ci: 0 for ci in scan_comps}
    for cnt, unit in enumerate(_enc_units(scan_comps, samp, grids,
                                          mcux, mcuy)):
        if _rst_ticks(ops, cnt, ri):
            pred = {ci: 0 for ci in scan_comps}
        for ci, bi in unit:
            v = int(qblocks[ci][bi][0]) >> al  # DC point transform: floor
            size, bits = _magnitude(v - pred[ci])
            pred[ci] = v
            ops.append(("s", size))
            if size:
                ops.append(("b", bits, size))
    return ops


def _dc_refine_ops(scan_comps, qblocks, samp, grids, mcux, mcuy, al, ri=0):
    ops = []
    for cnt, unit in enumerate(_enc_units(scan_comps, samp, grids,
                                          mcux, mcuy)):
        _rst_ticks(ops, cnt, ri)
        for ci, bi in unit:
            ops.append(("b", (int(qblocks[ci][bi][0]) >> al) & 1, 1))
    return ops


def _ac_first_ops(blocks, ss, se, al, ri=0):
    ops = []
    eobrun = 0

    def flush():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            ops.append(("s", r << 4))
            if r:
                ops.append(("b", eobrun - (1 << r), r))
            eobrun = 0

    for cnt, blk in enumerate(blocks):
        if ri and cnt and cnt % ri == 0:
            flush()
            ops.append(("r", (cnt // ri - 1) & 7))
        band = [_pt_shift(int(blk[k]), al) for k in range(ss, se + 1)]
        if not any(band):
            eobrun += 1
            if eobrun == 0x7FFF:
                flush()
            continue
        flush()
        run = 0
        for v in band:
            if v == 0:
                run += 1
                continue
            while run >= 16:
                ops.append(("s", 0xF0))  # ZRL
                run -= 16
            size, bits = _magnitude(v)
            ops.append(("s", (run << 4) | size))
            ops.append(("b", bits, size))
            run = 0
        if run:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush()
    flush()
    return ops


def _ac_refine_ops(blocks, ss, se, al, ri=0):
    """G.1.2.3 refinement: correction bits for already-significant
    coefficients buffer until the next emitted code (ZRL, newly-significant
    coefficient, or EOBn) — the order the decoder consumes them in."""
    ops = []
    eobrun = 0
    be: list[int] = []   # correction bits attached to the pending EOB run
    cur: list[int] = []  # current block's bits since the last emitted code

    def flush_cur():
        nonlocal cur
        ops.extend(("b", b, 1) for b in cur)
        cur = []

    def flush_eob():
        nonlocal eobrun, be
        if eobrun:
            r = eobrun.bit_length() - 1
            ops.append(("s", r << 4))
            if r:
                ops.append(("b", eobrun - (1 << r), r))
            eobrun = 0
            # the run-covered blocks' correction bits follow the EOBn code
            ops.extend(("b", b, 1) for b in be)
            be = []

    for cnt, blk in enumerate(blocks):
        if ri and cnt and cnt % ri == 0:
            flush_eob()
            ops.append(("r", (cnt // ri - 1) & 7))
        vals = [int(blk[k]) for k in range(ss, se + 1)]
        absv = [abs(v) >> al for v in vals]
        eobpos = -1
        for j, a in enumerate(absv):
            if a == 1:
                eobpos = j
        r = 0
        for j, a in enumerate(absv):
            if a == 0:
                r += 1
                continue
            while r > 15 and j <= eobpos:
                flush_eob()
                ops.append(("s", 0xF0))
                r -= 16
                flush_cur()
            if a > 1:  # already significant: one correction bit
                cur.append(a & 1)
                continue
            flush_eob()
            ops.append(("s", (r << 4) | 1))
            ops.append(("b", 1 if vals[j] >= 0 else 0, 1))
            flush_cur()
            r = 0
        if r > 0 or cur:  # block tail folds into an EOB run
            eobrun += 1
            be.extend(cur)
            cur = []
            if eobrun == 0x7FFF or len(be) > 937:  # libjpeg MAX_CORR_BITS
                flush_eob()
    flush_eob()
    return ops


def _scan_table(ops):
    """Minimal canonical Huffman table for a scan's symbol set: all
    symbols at one length L with 2^L > count, reserving the all-ones
    code (T.81 C.2)."""
    syms = sorted({op[1] for op in ops if op[0] == "s"})
    if not syms:
        return None, None
    length = max(1, len(syms).bit_length())
    bits = [0] * 16
    bits[length - 1] = len(syms)
    return (bits, syms), _build_codes(bits, syms)


def encode_progressive(img: np.ndarray, quality: int = 75,
                       subsample: str = "444", scans=None,
                       restart_interval: int = 0) -> bytes:
    """Encode (H, W, 3) RGB or (H, W) grayscale uint8 as progressive JPEG
    (SOF2). Same dimension constraints as encode_baseline.

    scans: optional script of ("dc", [comp...], Ah, Al) and
    ("ac", comp, Ss, Se, Ah, Al) tuples; the default covers every scan
    kind and ends coefficient-lossless (final Al = 0 over the full band).
    restart_interval: emit DRI + RSTn markers every n decode units
    (MCUs for interleaved DC scans, blocks otherwise)."""
    gray, h, w, qly, qlc, samp, qids, qblocks = _prep_blocks(
        img, quality, subsample)
    ncomp = 1 if gray else 3
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    if h % (8 * vmax) or w % (8 * hmax):
        raise ValueError("dimensions must be multiples of the MCU size")
    mcux = w // (8 * hmax)
    mcuy = h // (8 * vmax)
    grids = [(h * vs // vmax // 8, w * hs // hmax // 8) for hs, vs in samp]

    if scans is None:
        comps_all = list(range(ncomp))
        if gray:
            scans = [
                ("dc", comps_all, 0, 1),
                ("ac", 0, 1, 5, 0, 2), ("ac", 0, 6, 63, 0, 2),
                ("ac", 0, 1, 63, 2, 1),
                ("dc", comps_all, 1, 0),
                ("ac", 0, 1, 63, 1, 0),
            ]
        else:
            scans = [
                ("dc", comps_all, 0, 1),
                ("ac", 0, 1, 5, 0, 2), ("ac", 2, 1, 63, 0, 1),
                ("ac", 1, 1, 63, 0, 1), ("ac", 0, 6, 63, 0, 2),
                ("ac", 0, 1, 63, 2, 1),
                ("dc", comps_all, 1, 0),
                ("ac", 2, 1, 63, 1, 0), ("ac", 1, 1, 63, 1, 0),
                ("ac", 0, 1, 63, 1, 0),
            ]

    out = bytearray(b"\xff\xd8")
    for tid, qt in ((0, qly), (1, qlc)):
        if gray and tid == 1:
            continue
        seg = bytes([tid]) + bytes(int(x) for x in qt[ZIGZAG])
        out += b"\xff\xdb" + struct.pack(">H", len(seg) + 2) + seg
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hs, vs = samp[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, qids[ci]])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    ri = restart_interval
    if ri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, ri)

    for scan in scans:
        if scan[0] == "dc":
            _, scan_comps, ah, al = scan
            ss = se = 0
            if ah == 0:
                ops = _dc_first_ops(scan_comps, qblocks, samp, grids,
                                    mcux, mcuy, al, ri)
            else:
                ops = _dc_refine_ops(scan_comps, qblocks, samp, grids,
                                     mcux, mcuy, al, ri)
            cls = 0
        else:
            _, ci, ss, se, ah, al = scan
            scan_comps = [ci]
            if ah == 0:
                ops = _ac_first_ops(qblocks[ci], ss, se, al, ri)
            else:
                ops = _ac_refine_ops(qblocks[ci], ss, se, al, ri)
            cls = 1
        table, codes = _scan_table(ops)
        if table is not None:  # DC refinement scans code no symbols
            bits, syms = table
            seg = bytes([cls << 4]) + bytes(bits) + bytes(syms)
            out += b"\xff\xc4" + struct.pack(">H", len(seg) + 2) + seg
        sos = bytes([len(scan_comps)])
        for ci in scan_comps:
            sos += bytes([ci + 1, 0])  # Td = Ta = 0, redefined per scan
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
        bw = _BitWriter()
        for op in ops:
            if op[0] == "s":
                code, ln = codes[op[1]]
                bw.write(code, ln)
            elif op[0] == "r":
                bw.restart(op[1])
            else:
                bw.write(op[1], op[2])
        out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)
