"""Minimal Mapbox Vector Tile (MVT) encoder/decoder in pure Python.

Implements the public MVT 2.1 spec (protobuf wire format written by hand —
varints, length-delimited messages): layers with POINT/LINESTRING/POLYGON
features, zigzag-encoded MoveTo/LineTo/ClosePath command geometry, and
per-layer key/value dictionaries.

Parity target: the reference's vector-tile encoder output shape
(packages/vt/src/encode.ts:22-31,59-260 and write-vt-pbf.ts) — extent 4096,
64 px buffer — re-derived from the published spec, not ported.

Determinism: features are encoded in the order given; callers sort by
feature id. Key/value dictionaries are built in first-seen order, which is
deterministic given sorted features. The encoder is called inside
applyInPandas batches (one tile per group), so bytes are reproducible at
any parallelism.
"""

from __future__ import annotations

EXTENT = 4096  # vt/encode.ts:22-25
BUFFER_PX = 64

GEOM_POINT = 1
GEOM_LINESTRING = 2
GEOM_POLYGON = 3

_CMD_MOVETO = 1
_CMD_LINETO = 2
_CMD_CLOSEPATH = 7


def _varint(v: int) -> bytes:
    # negative ints encode as 64-bit two's complement (protobuf int64);
    # without the mask Python's arithmetic shift never terminates
    v &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _encode_geometry(geom_type: int, rings: list[list[tuple[int, int]]]) -> list[int]:
    """Command-integer sequence with zigzag deltas (MVT spec §4.3)."""
    cmds: list[int] = []
    cx = cy = 0
    for ring in rings:
        if not ring:
            continue
        if geom_type == GEOM_POINT:
            cmds.append((_CMD_MOVETO) | (len(ring) << 3))
            for x, y in ring:
                cmds.append(_zigzag(x - cx))
                cmds.append(_zigzag(y - cy))
                cx, cy = x, y
        else:
            x0, y0 = ring[0]
            cmds.append(_CMD_MOVETO | (1 << 3))
            cmds.append(_zigzag(x0 - cx))
            cmds.append(_zigzag(y0 - cy))
            cx, cy = x0, y0
            rest = ring[1:]
            if geom_type == GEOM_POLYGON and len(rest) and ring[-1] == ring[0]:
                rest = rest[:-1]  # implicit close
            if rest:
                cmds.append(_CMD_LINETO | (len(rest) << 3))
                for x, y in rest:
                    cmds.append(_zigzag(x - cx))
                    cmds.append(_zigzag(y - cy))
                    cx, cy = x, y
            if geom_type == GEOM_POLYGON:
                cmds.append(_CMD_CLOSEPATH | (1 << 3))
    return cmds


def _encode_value(v) -> bytes:
    if isinstance(v, bool):
        return _tag(7, 0) + _varint(1 if v else 0)
    if isinstance(v, int):
        return _tag(6, 0) + _varint(_zigzag(v))
    if isinstance(v, float):
        import struct

        return _tag(3, 1) + struct.pack("<d", v)
    b = str(v).encode("utf-8")
    return _len_delim(1, b)


def encode_layer(name: str, features: list[dict], extent: int = EXTENT) -> bytes:
    """features: [{'id': int, 'type': 1|2|3,
    'geometry': [[(x,y), ...ring/line...], ...], 'tags': {k: v}}, ...]"""
    keys: list[str] = []
    key_idx: dict[str, int] = {}
    vals: list = []
    val_idx: dict = {}
    feat_bufs: list[bytes] = []
    for f in features:
        tag_ints: list[int] = []
        for k, v in (f.get("tags") or {}).items():
            if k not in key_idx:
                key_idx[k] = len(keys)
                keys.append(k)
            vk = (type(v).__name__, v)
            if vk not in val_idx:
                val_idx[vk] = len(vals)
                vals.append(v)
            tag_ints.extend((key_idx[k], val_idx[vk]))
        body = bytearray()
        if f.get("id") is not None:
            body += _tag(1, 0) + _varint(int(f["id"]))
        if tag_ints:
            payload = b"".join(_varint(t) for t in tag_ints)
            body += _len_delim(2, payload)
        body += _tag(3, 0) + _varint(f["type"])
        cmds = _encode_geometry(f["type"], f["geometry"])
        body += _len_delim(4, b"".join(_varint(c) for c in cmds))
        feat_bufs.append(_len_delim(2, bytes(body)))
    layer = bytearray()
    layer += _tag(15, 0) + _varint(2)  # version
    layer += _len_delim(1, name.encode("utf-8"))
    for fb in feat_bufs:
        layer += fb
    for k in keys:
        layer += _len_delim(3, k.encode("utf-8"))
    for v in vals:
        layer += _len_delim(4, _encode_value(v))
    layer += _tag(5, 0) + _varint(extent)
    return bytes(layer)


def encode_tile(layers: dict[str, list[dict]], extent: int = EXTENT) -> bytes:
    out = bytearray()
    for name in layers:  # caller controls order (sorted for determinism)
        out += _len_delim(3, encode_layer(name, layers[name], extent))
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder (round-trip tests)
# ---------------------------------------------------------------------------

def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    v = 0
    shift = 0
    while True:
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, i
        shift += 7


def decode_tile(buf: bytes) -> dict[str, list[dict]]:
    layers: dict[str, list[dict]] = {}
    i = 0
    while i < len(buf):
        tag, i = _read_varint(buf, i)
        assert tag >> 3 == 3 and tag & 7 == 2, "expected layer"
        ln, i = _read_varint(buf, i)
        name, feats = _decode_layer(buf[i : i + ln])
        layers[name] = feats
        i += ln
    return layers


def _decode_layer(buf: bytes) -> tuple[str, list[dict]]:
    i = 0
    name = ""
    feats: list[dict] = []
    keys: list[str] = []
    vals: list = []
    raw_feats: list[bytes] = []
    while i < len(buf):
        tag, i = _read_varint(buf, i)
        field, wire = tag >> 3, tag & 7
        if wire == 2:
            ln, i = _read_varint(buf, i)
            payload = buf[i : i + ln]
            i += ln
            if field == 1:
                name = payload.decode("utf-8")
            elif field == 2:
                raw_feats.append(payload)
            elif field == 3:
                keys.append(payload.decode("utf-8"))
            elif field == 4:
                vals.append(_decode_value(payload))
        else:
            _, i = _read_varint(buf, i)
    for rf in raw_feats:
        feats.append(_decode_feature(rf, keys, vals))
    return name, feats


def _decode_value(buf: bytes):
    tag, i = _read_varint(buf, 0)
    field, wire = tag >> 3, tag & 7
    if field == 1:
        ln, i = _read_varint(buf, i)
        return buf[i : i + ln].decode("utf-8")
    if field == 3:
        import struct

        return struct.unpack("<d", buf[i : i + 8])[0]
    if field == 6:
        v, _ = _read_varint(buf, i)
        return _unzigzag(v)
    if field == 7:
        v, _ = _read_varint(buf, i)
        return bool(v)
    raise ValueError(f"unsupported value field {field}")


def _decode_feature(buf: bytes, keys: list[str], vals: list) -> dict:
    i = 0
    f: dict = {"id": None, "tags": {}, "type": 0, "geometry": []}
    geom_ints: list[int] = []
    while i < len(buf):
        tag, i = _read_varint(buf, i)
        field, wire = tag >> 3, tag & 7
        if field == 1 and wire == 0:
            f["id"], i = _read_varint(buf, i)
        elif field == 2 and wire == 2:
            ln, i = _read_varint(buf, i)
            end = i + ln
            while i < end:
                ki, i = _read_varint(buf, i)
                vi, i = _read_varint(buf, i)
                f["tags"][keys[ki]] = vals[vi]
        elif field == 3 and wire == 0:
            f["type"], i = _read_varint(buf, i)
        elif field == 4 and wire == 2:
            ln, i = _read_varint(buf, i)
            end = i + ln
            while i < end:
                v, i = _read_varint(buf, i)
                geom_ints.append(v)
    f["geometry"] = _decode_geom_ints(f["type"], geom_ints)
    return f


def _decode_geom_ints(geom_type: int, ints: list[int]) -> list[list[tuple[int, int]]]:
    rings: list[list[tuple[int, int]]] = []
    i = 0
    cx = cy = 0
    cur: list[tuple[int, int]] = []
    while i < len(ints):
        cmd = ints[i] & 7
        count = ints[i] >> 3
        i += 1
        if cmd == _CMD_MOVETO:
            for _ in range(count):
                cx += _unzigzag(ints[i])
                cy += _unzigzag(ints[i + 1])
                i += 2
                if geom_type == GEOM_POINT:
                    rings.append([(cx, cy)])
                else:
                    if cur:
                        rings.append(cur)
                    cur = [(cx, cy)]
        elif cmd == _CMD_LINETO:
            for _ in range(count):
                cx += _unzigzag(ints[i])
                cy += _unzigzag(ints[i + 1])
                i += 2
                cur.append((cx, cy))
        elif cmd == _CMD_CLOSEPATH:
            if cur:
                cur.append(cur[0])
    if cur:
        rings.append(cur)
    return rings


# ---------------------------------------------------------------------------
# vectorized batch codec (NumPy): the throughput path for tile
# materialization — semantics identical to the scalar encoder above
# (property-tested equal), ~20-50x faster on dense tiles
# ---------------------------------------------------------------------------


def _varints_np(vals, nb=None, offs=None) -> "bytes":
    """Concatenated varint encoding of a uint64 array — vectorized by
    byte-length group: values needing L bytes are written together as an
    (n, L) matrix scatter, so typical 1-2-byte tile deltas take 1-2 passes.

    nb/offs: optional precomputed _varint_nbytes_np(vals) and its exclusive
    cumsum — callers that already hold them (the single-stream frame
    encoder) skip the recompute passes."""
    import numpy as np

    v = np.asarray(vals, dtype=np.uint64)
    if v.size == 0:
        return b""
    if nb is None:
        nb = _varint_nbytes_np(v)
    if offs is None:
        offs = np.zeros(v.shape, dtype=np.int64)
        np.cumsum(nb[:-1].astype(np.int64), out=offs[1:])
    out = np.empty(int(offs[-1] + nb[-1]), dtype=np.uint8)
    # bincount beats np.unique here (no 10M-element sort)
    present = np.nonzero(np.bincount(nb, minlength=11))[0]
    for L in present[present > 0]:
        sel = nb == L
        vv = v[sel]
        dst = offs[sel]
        for k in range(int(L)):
            byte = ((vv >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
            if k < L - 1:
                byte |= np.uint8(0x80)
            out[dst + k] = byte
    return out.tobytes()


def _varint_nbytes_np(vals):
    # int8 lengths (max 10): a tenth of the bandwidth of int64 on the
    # multi-ten-million-value streams the frame encoder feeds through here
    import numpy as np

    v = np.asarray(vals, dtype=np.uint64)
    nb = np.ones(v.shape, dtype=np.int8)
    if v.size == 0:
        return nb
    mx = int(v.max())  # tile streams are mostly 1-2 byte deltas: stop early
    for k in range(1, 10):
        if mx < (1 << (7 * k)):
            break
        nb += v >= np.uint64(1 << (7 * k))
    return nb


def _zigzag_np(v):
    import numpy as np

    v = np.asarray(v, dtype=np.int64)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def layer_wrap(name: str, frames: bytes, extent: int = EXTENT) -> bytes:
    """Wrap already-encoded feature frames into a layer message (framing
    identical to encode_layer with no tag dictionaries). Feature frames
    are independent length-delimited submessages, so frames encoded by
    DIFFERENT tasks concatenate byte-exactly — the two-stage parallel
    tile encode relies on this."""
    layer = bytearray()
    layer += _tag(15, 0) + _varint(2)
    layer += _len_delim(1, name.encode("utf-8"))
    layer += frames
    layer += _tag(5, 0) + _varint(extent)
    return bytes(layer)


def encode_line_frames_np(ids, xs, ys, lens,
                          geom_type: int = GEOM_LINESTRING,
                          return_lens: bool = False):
    """Vectorized feature-frame encoder for single-part LINESTRING/POINT
    features (no tags): returns ONLY the concatenated feature frames.

    ids: (F,) feature ids; xs/ys: concatenated vertex coords (N,) int64;
    lens: (F,) vertex counts per feature (>= 2 for lines, == 1 for points).
    With return_lens=True returns (bytes, per-feature frame byte lengths)
    so a caller can slice the buffer into contiguous feature runs (the
    partition-batched tile encode groups frames per tile this way).
    """
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    xs = np.asarray(xs, dtype=np.int64)
    ys = np.asarray(ys, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    F_ = len(ids)
    if F_ == 0:
        return (b"", np.zeros(0, dtype=np.int64)) if return_lens else b""
    starts = np.zeros(F_, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    # per-feature cursor-reset deltas
    dx = np.empty_like(xs)
    dy = np.empty_like(ys)
    dx[1:] = xs[1:] - xs[:-1]
    dy[1:] = ys[1:] - ys[:-1]
    dx[0], dy[0] = xs[0], ys[0]
    dx[starts] = xs[starts]
    dy[starts] = ys[starts]
    zx, zy = _zigzag_np(dx), _zigzag_np(dy)

    # Single combined int stream, already in final byte order — per feature
    # [frame_tag, body_len, tag(1,0), id, tag(3,0), type, tag(4,2), glen,
    #  geometry ints...]. One varint pass emits the finished buffer: no
    # per-stream byte scatters, no repeat-built gather indexes. On the
    # memory-bandwidth-bound tile path this more than halves the bytes
    # touched per feature vs the old 3-stream assemble (it was the dominant
    # cost of the way-tile encode at sf0.1).
    if geom_type == GEOM_POINT:
        s = np.full(F_, 3, dtype=np.int64)
    else:
        s = 2 * lens + 2
    iw = 8 + s
    ioff = np.zeros(F_, dtype=np.int64)
    np.cumsum(iw[:-1], out=ioff[1:])
    M = int(ioff[-1] + iw[-1])
    V = np.zeros(M, dtype=np.uint64)
    cg = ioff + 8  # geometry segment start per feature
    if geom_type == GEOM_POINT:
        # [MoveTo|1, zx, zy] per feature
        V[cg] = np.uint64(_CMD_MOVETO | (1 << 3))
        V[cg + 1] = zx
        V[cg + 2] = zy
    else:
        # [MoveTo|1, zx0, zy0, LineTo|(n-1), zx1, zy1, ...] per feature
        V[cg] = np.uint64(_CMD_MOVETO | (1 << 3))
        V[cg + 3] = (((lens - 1) << 3) | _CMD_LINETO).astype(np.uint64)
        N = len(xs)
        idx = np.int32 if M < (1 << 31) and N < (1 << 31) else np.int64
        f_of = np.repeat(np.arange(F_, dtype=idx), lens)
        k = np.arange(N, dtype=idx) - starts.astype(idx)[f_of]
        posx = cg.astype(idx)[f_of] + np.where(k == 0, idx(1), 2 + 2 * k)
        V[posx] = zx
        V[posx + 1] = zy
    # header ints (body_len and glen patched below once lengths are known)
    V[ioff] = np.uint64((2 << 3) | 2)
    V[ioff + 2] = np.uint64(1 << 3)
    V[ioff + 3] = ids.view(np.uint64)  # two's complement int64
    V[ioff + 4] = np.uint64(3 << 3)
    V[ioff + 5] = np.uint64(geom_type)
    V[ioff + 6] = np.uint64((4 << 3) | 2)

    # length resolution is one ordered pass (no fixpoint): glen depends only
    # on geometry-int byte lengths; body_len on header+geom lengths incl.
    # glen's own varint width; frame length on body_len's width.
    nb = _varint_nbytes_np(V)
    cs = np.empty(M + 1, dtype=np.int64)
    cs[0] = 0
    # int8 -> int64 out makes cumsum take a slow buffered-cast path; an
    # explicit widening copy first is ~4x faster at this volume
    np.cumsum(nb.astype(np.int64), out=cs[1:])
    end = ioff + iw
    glen = cs[end] - cs[cg]
    V[ioff + 7] = glen.astype(np.uint64)
    nb7 = _varint_nbytes_np(V[ioff + 7])
    hpart = cs[cg - 1] - cs[ioff + 2]  # tag/id/tag/type/tag (5 fixed ints)
    body_blen = hpart + nb7 + glen
    V[ioff + 1] = body_blen.astype(np.uint64)
    nb1 = _varint_nbytes_np(V[ioff + 1])
    nb[ioff + 7] = nb7
    nb[ioff + 1] = nb1
    np.cumsum(nb.astype(np.int64), out=cs[1:])
    out = _varints_np(V, nb=nb, offs=cs[:-1])
    if return_lens:
        return out, cs[end] - cs[ioff]
    return out


def encode_lines_layer_np(name: str, ids, xs, ys, lens,
                          extent: int = EXTENT,
                          geom_type: int = GEOM_LINESTRING) -> bytes:
    """Vectorized single-part LINESTRING/POINT layer encoder (frames +
    layer wrapper). See encode_line_frames_np."""
    return layer_wrap(name, encode_line_frames_np(ids, xs, ys, lens, geom_type), extent)


def decode_varints_np(buf: bytes):
    """Vectorized varint stream decode: bytes -> (values uint64 array,
    byte offset of each value's first byte)."""
    import numpy as np

    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.int64)
    ends = b < 128
    val_idx = np.zeros(len(b), dtype=np.int64)
    np.cumsum(ends[:-1], out=val_idx[1:])
    n_vals = int(ends.sum())
    starts_mask = np.ones(len(b), dtype=bool)
    starts_mask[1:] = ends[:-1]
    start_pos = np.nonzero(starts_mask)[0]
    pos_in_val = np.arange(len(b)) - start_pos[val_idx]
    vals = np.zeros(n_vals, dtype=np.uint64)
    ok = val_idx < n_vals  # drop a trailing incomplete varint, don't crash
    np.add.at(
        vals, val_idx[ok],
        (b[ok] & np.uint8(0x7F)).astype(np.uint64)
        << (np.uint64(7) * pos_in_val[ok].astype(np.uint64)),
    )
    return vals, start_pos[:n_vals] if len(start_pos) > n_vals else start_pos


def _unzigzag_np(v):
    import numpy as np

    u = np.asarray(v, dtype=np.uint64)
    return (u >> np.uint64(1)).astype(np.int64) ^ -(u & np.uint64(1)).astype(np.int64)


def decode_tile_stats_np(buf: bytes) -> dict[str, dict]:
    """Decoded-vertex statistics per layer, computed from the raw bytes
    with the vectorized varint decoder. Every layer our encoders write
    (back-to-back feature frames, fields in 1,2,3,4 order, geometry last)
    takes a fully vectorized path whose only Python loop is a tight
    per-frame span scan; general (multi-part/polygon) geometries decode
    per feature. Raises ValueError naming the layer on an irregular
    layer (any other frame layout).
    Returns {layer: {n_features, n_vertices, sum_px, sum_py, min_px,
    max_px, min_py, max_py, sum_ids}}."""
    out: dict[str, dict] = {}
    i = 0
    while i < len(buf):
        tag, i = _read_varint(buf, i)
        assert tag >> 3 == 3 and tag & 7 == 2, "expected layer"
        ln, i = _read_varint(buf, i)
        layer_buf = buf[i : i + ln]
        i += ln
        name, stats = _layer_stats_fast(layer_buf)
        if stats is not None:
            out[name] = stats
    return out


def _xy_from_geoms(vals, vstarts, vcounts, tarr, np):
    """Decoded vertex coords for features whose geometry values live in
    `vals` at [vstarts[i], vstarts[i]+vcounts[i]). Single-part
    MoveTo(1)[+LineTo] POINT/LINESTRING geometries are fully vectorized
    (segmented-cumsum cursor reconstruction); anything else decodes via
    the scalar command interpreter per feature."""
    mv_ok = (vcounts >= 3) & (vals[np.minimum(vstarts, len(vals) - 1)]
                              == np.uint64(_CMD_MOVETO | (1 << 3)))
    pt_ok = mv_ok & (tarr == GEOM_POINT) & (vcounts == 3)
    c2pos = np.minimum(vstarts + 3, len(vals) - 1)
    c2 = vals[c2pos]
    ln_ok = (
        mv_ok & (tarr == GEOM_LINESTRING) & (vcounts >= 6)
        & ((c2 & np.uint64(7)) == np.uint64(_CMD_LINETO))
        & ((vcounts - 4) % 2 == 0)
        & ((c2 >> np.uint64(3)).astype(np.int64) == (vcounts - 4) // 2 + 1 - 1)
    )
    fast = pt_ok | ln_ok
    fi_fast = np.nonzero(fast)[0]
    xs_parts: list = []
    ys_parts: list = []
    if len(fi_fast):
        n_i = np.where(tarr[fi_fast] == GEOM_POINT, 1, (vcounts[fi_fast] - 2) // 2)
        f_of = np.repeat(np.arange(len(fi_fast)), n_i)
        pstarts = np.zeros(len(fi_fast), dtype=np.int64)
        np.cumsum(n_i[:-1], out=pstarts[1:])
        k = np.arange(int(n_i.sum())) - pstarts[f_of]
        vpos = vstarts[fi_fast][f_of] + np.where(k == 0, 1, 2 + 2 * k)
        dx = _unzigzag_np(vals[vpos])
        dy = _unzigzag_np(vals[vpos + 1])
        # segmented cumsum (per-feature cursor reset)
        cx = np.cumsum(dx)
        cy = np.cumsum(dy)
        corr_x = cx[pstarts] - dx[pstarts]
        corr_y = cy[pstarts] - dy[pstarts]
        xs_parts.append(cx - corr_x[f_of])
        ys_parts.append(cy - corr_y[f_of])
    for fi in np.nonzero(~fast)[0]:  # general geometry: scalar fallback
        v = vals[vstarts[fi] : vstarts[fi] + vcounts[fi]]
        rings = _decode_geom_ints(int(tarr[fi]), [int(x) for x in v])
        pts = [p for ring in rings for p in ring]
        xs_parts.append(np.array([p[0] for p in pts], dtype=np.int64))
        ys_parts.append(np.array([p[1] for p in pts], dtype=np.int64))
    X = np.concatenate(xs_parts) if xs_parts else np.zeros(0, dtype=np.int64)
    Y = np.concatenate(ys_parts) if ys_parts else np.zeros(0, dtype=np.int64)
    return X, Y


def _stats_dict(ids_sum: int, n_feats: int, X, Y) -> dict:
    return {
        "n_features": n_feats, "n_vertices": int(len(X)),
        "sum_px": int(X.sum()), "sum_py": int(Y.sum()),
        "min_px": int(X.min()) if len(X) else 0,
        "max_px": int(X.max()) if len(X) else 0,
        "min_py": int(Y.min()) if len(Y) else 0,
        "max_py": int(Y.max()) if len(Y) else 0,
        "sum_ids": ids_sum,
    }


def _frame_spans(data: bytes):
    """Top-level layer scan collecting feature-frame byte spans WITHOUT
    parsing frame bodies — the per-feature Python cost is ~6 ops (the
    body parse is vectorized downstream). Returns (name, tag_starts,
    body_starts, body_ends)."""
    n = len(data)
    i = 0
    name = ""
    tag_starts: list[int] = []
    body_starts: list[int] = []
    body_ends: list[int] = []
    rv = _read_varint
    while i < n:
        t0 = i
        tag = data[i]
        if tag < 0x80:
            i += 1
        else:
            tag, i = rv(data, i)
        if tag & 7 == 2:
            ln = data[i]
            if ln < 0x80:
                i += 1
            else:
                ln, i = rv(data, i)
            field = tag >> 3
            if field == 2:
                tag_starts.append(t0)
                body_starts.append(i)
                body_ends.append(i + ln)
            elif field == 1:
                name = data[i : i + ln].decode("utf-8")
            i += ln
        else:
            _, i = rv(data, i)
    return name, tag_starts, body_starts, body_ends


def _layer_stats_fast(layer_buf: bytes):
    """Vectorized layer stats over the frames that `_frame_spans` finds.
    Returns (name, stats|None); raises ValueError on an irregular frame
    layout."""
    import numpy as np

    name, tag_starts, body_starts, body_ends = _frame_spans(layer_buf)
    if not tag_starts:
        return name, None
    ts = np.asarray(tag_starts, dtype=np.int64)
    bs = np.asarray(body_starts, dtype=np.int64)
    be = np.asarray(body_ends, dtype=np.int64)
    # frames must be back-to-back for the single flat varint decode
    if len(ts) > 1 and not bool((ts[1:] == be[:-1]).all()):
        raise ValueError(f"MVT layer {name!r}: feature frames not contiguous")
    off = int(ts[0])
    region = layer_buf[off : int(be[-1])]
    return name, _frames_stats(name, region, body_starts=bs - off, body_ends=be - off)


def frames_stats_np(frames: bytes, frame_lens, name: str = "") -> dict | None:
    """Decoded-vertex statistics (as decode_tile_stats_np) of back-to-back
    feature frames whose byte lengths the caller already holds, e.g. from
    encode_line_frames_np(return_lens=True). The lengths only say where
    each frame starts; every stat is still parsed from the bytes, and
    each frame's own tag and length prefix must agree with the given
    length, or this raises ValueError. None when there are no frames."""
    import numpy as np

    lens = np.asarray(frame_lens, dtype=np.int64)
    if not len(lens):
        return None
    ends = np.cumsum(lens)
    if int(ends[-1]) != len(frames) or bool((lens <= 0).any()):
        raise ValueError(
            f"MVT layer {name!r}: frame lengths do not tile {len(frames)} bytes"
        )
    return _frames_stats(name, frames, frame_ends=ends)


def _frames_stats(name: str, region: bytes, body_starts=None, body_ends=None,
                  frame_ends=None) -> dict:
    """Stats of a frames region: one contiguous pure-varint byte stream of
    frame headers and bodies (feature ids, tag indices, type and geometry
    commands are all varints; strings live in the layer's key/value
    tables outside it), so ONE decode_varints_np pass plus a byte->value
    index gather parses every feature header at once. The frames are
    located by their body byte spans, or by their frame end offsets, in
    which case each frame's tag and body length are read and checked
    against them. Raises ValueError on an irregular frame layout."""
    import numpy as np

    region_len = len(region)
    vals, start_pos = decode_varints_np(region)
    nv = len(vals)
    # byte offset -> value index (sentinel nv at region end; -1 elsewhere)
    b2v = np.full(region_len + 1, -1, dtype=np.int64)
    b2v[start_pos] = np.arange(nv, dtype=np.int64)
    b2v[region_len] = nv
    pad = 8
    vals_p = np.concatenate([vals, np.zeros(pad, dtype=np.uint64)])
    sp_p = np.concatenate(
        [start_pos, np.full(pad, region_len, dtype=np.int64)]
    )
    top = nv + pad - 1

    def gat(idx):
        return vals_p[np.minimum(idx, top)]

    def spat(idx):
        return sp_p[np.minimum(idx, top)]

    if frame_ends is not None:
        # frame = tag(2, LEN) + body length + body, ending where the
        # given length says
        ts = np.concatenate([[0], frame_ends[:-1]])
        vt = b2v[ts]
        body_starts = spat(vt + 2)
        body_ends = body_starts + gat(vt + 1).astype(np.int64)
        ok = (vt >= 0) & (gat(vt) == 18) & (body_ends == frame_ends)
        if not bool(ok.all()):
            raise ValueError(
                f"MVT layer {name!r}: frame lengths disagree with the frame bytes"
            )
    v = b2v[body_starts]
    ok = v >= 0
    # field 1 (id), optional
    has_id = gat(v) == 8
    ids = np.where(has_id, gat(v + 1), 0).astype(np.int64)
    v = v + 2 * has_id
    # field 2 (tags), optional packed-varint payload: skip by byte length
    has_tags = gat(v) == 18
    tag_end_byte = np.clip(spat(v + 2) + gat(v + 1).astype(np.int64), 0, region_len)
    v = np.where(has_tags, b2v[tag_end_byte], v)
    ok &= v >= 0
    # field 3 (type), required
    ok &= gat(v) == 24
    types_arr = gat(v + 1).astype(np.int64)
    # field 4 (geometry), required last field of the body in our encoders
    ok &= gat(v + 2) == 34
    glen = gat(v + 3).astype(np.int64)
    geom_end_byte = spat(v + 4) + glen
    ok &= geom_end_byte == body_ends  # geometry closes the body exactly
    geom_end_v = b2v[np.clip(geom_end_byte, 0, region_len)]
    vstarts = v + 4
    vcounts = geom_end_v - vstarts
    ok &= (geom_end_v >= 0) & (vcounts >= 0)
    if not bool(ok.all()):
        raise ValueError(f"MVT layer {name!r}: irregular feature frame layout")
    X, Y = _xy_from_geoms(vals, vstarts, vcounts, types_arr, np)
    return _stats_dict(int(ids.sum()), len(ids), X, Y)


def encode_polygon_frames_np(ids, xs, ys, ring_lens, rings_per_feat) -> bytes:
    """Vectorized POLYGON feature-frame encoder (no tags).

    ids: (F,) feature ids; xs/ys: concatenated ring vertices WITHOUT the
    closing point (N,) int64; ring_lens: (R,) open-ring vertex counts
    (>= 2); rings_per_feat: (F,) ring counts (>= 1). Ring order within a
    feature is the emission order. Cursor resets per FEATURE and runs
    across its rings, exactly like the scalar _encode_geometry."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    xs = np.asarray(xs, dtype=np.int64)
    ys = np.asarray(ys, dtype=np.int64)
    ring_lens = np.asarray(ring_lens, dtype=np.int64)
    rings_per_feat = np.asarray(rings_per_feat, dtype=np.int64)
    F_, R_ = len(ids), len(ring_lens)
    if F_ == 0:
        return b""
    ring_starts = np.zeros(R_, dtype=np.int64)
    np.cumsum(ring_lens[:-1], out=ring_starts[1:])
    feat_ring_starts = np.zeros(F_, dtype=np.int64)
    np.cumsum(rings_per_feat[:-1], out=feat_ring_starts[1:])
    feat_pt_starts = ring_starts[feat_ring_starts]

    # deltas with cursor reset at FEATURE starts only
    dx = np.empty_like(xs)
    dy = np.empty_like(ys)
    dx[1:] = xs[1:] - xs[:-1]
    dy[1:] = ys[1:] - ys[:-1]
    dx[0], dy[0] = xs[0], ys[0]
    dx[feat_pt_starts] = xs[feat_pt_starts]
    dy[feat_pt_starts] = ys[feat_pt_starts]
    zx, zy = _zigzag_np(dx), _zigzag_np(dy)

    # geometry ints per ring: MoveTo|1 + pair + [LineTo + 2(n-1) pairs] +
    # ClosePath = 2n + 3 ints (n == 1 degenerates to Move + pair + Close = 4)
    s_ring = np.where(ring_lens >= 2, 2 * ring_lens + 3, 4)
    # (n==1 ring: MoveTo + pair + Close = 4 ints, no LineTo — matches scalar)
    g_ring = np.zeros(R_, dtype=np.int64)
    np.cumsum(s_ring[:-1], out=g_ring[1:])
    G = np.zeros(int(s_ring.sum()), dtype=np.uint64)
    G[g_ring] = np.uint64(_CMD_MOVETO | (1 << 3))
    has_line = ring_lens >= 2
    G[g_ring[has_line] + 3] = (
        ((ring_lens[has_line] - 1) << 3) | _CMD_LINETO
    ).astype(np.uint64)
    close_pos = g_ring + s_ring - 1
    G[close_pos] = np.uint64(_CMD_CLOSEPATH | (1 << 3))
    r_of = np.repeat(np.arange(R_), ring_lens)
    k = np.arange(len(xs)) - ring_starts[r_of]
    posx = np.where(k == 0, g_ring[r_of] + 1, g_ring[r_of] + 2 + 2 * k)
    G[posx] = zx
    G[posx + 1] = zy

    geom_bytes = _varints_np(G)
    nb = _varint_nbytes_np(G)
    ring_blen = np.add.reduceat(nb, g_ring) if R_ else np.zeros(0, dtype=np.int64)
    # per-feature geometry byte length = sum of its rings'
    geom_blen = np.add.reduceat(ring_blen, feat_ring_starts)
    geom_boffs = np.zeros(F_, dtype=np.int64)
    np.cumsum(geom_blen[:-1], out=geom_boffs[1:])

    ids_u = ids.view(np.uint64)
    H = np.empty(F_ * 6, dtype=np.uint64)
    H[0::6] = np.uint64(1 << 3)
    H[1::6] = ids_u
    H[2::6] = np.uint64(3 << 3)
    H[3::6] = np.uint64(GEOM_POLYGON)
    H[4::6] = np.uint64((4 << 3) | 2)
    H[5::6] = geom_blen.astype(np.uint64)
    header_bytes = _varints_np(H)
    hnb = _varint_nbytes_np(H)
    header_blen = hnb.reshape(F_, 6).sum(axis=1)

    body_blen = header_blen + geom_blen
    FR = np.empty(F_ * 2, dtype=np.uint64)
    FR[0::2] = np.uint64((2 << 3) | 2)
    FR[1::2] = body_blen.astype(np.uint64)
    frame_bytes = _varints_np(FR)
    fnb = _varint_nbytes_np(FR)
    frame_blen = fnb.reshape(F_, 2).sum(axis=1)

    # assemble: per feature [frame][header][geom]
    out = bytearray()
    fb = memoryview(frame_bytes)
    hb = memoryview(header_bytes)
    gb = memoryview(geom_bytes)
    fo = ho = 0
    for i in range(F_):
        out += fb[fo : fo + frame_blen[i]]
        fo += frame_blen[i]
        out += hb[ho : ho + header_blen[i]]
        ho += header_blen[i]
        out += gb[geom_boffs[i] : geom_boffs[i] + geom_blen[i]]
    return bytes(out)
