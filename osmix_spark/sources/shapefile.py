"""Shapefile source (S8): .shp geometry + .dbf attributes -> entities.

Reference: packages/shapefile/src/osm-from-shapefile.ts:96. Re-implemented
from the public ESRI shapefile / dBase III specs: .shp = 100-byte header +
[record header (BE) | shape type (LE) + geometry]; .dbf = header with
fixed-width field descriptors. Supports Point (1), PolyLine (3),
Polygon (5) — the types the reference converts.

Shape: .shp records are indexed driver-side (record-length walk), decoded
in parallel like sources/pbf; tiny .dbf attribute tables are read on the
driver and broadcast-joined.
"""

from __future__ import annotations

import os
import struct

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..plans.stage import per_row, spread

SHAPE_SCHEMA = T.StructType(
    [
        T.StructField("record_no", T.LongType(), False),
        T.StructField("geom_type", T.StringType(), False),
        T.StructField("lons", T.ArrayType(T.DoubleType()), False),
        T.StructField("lats", T.ArrayType(T.DoubleType()), False),
    ]
)

_TYPES = {1: "point", 3: "polyline", 5: "polygon"}


def decode_shp_record(buf: bytes) -> tuple[str, list[float], list[float]]:
    """Record content (after the 8-byte BE record header)."""
    (stype,) = struct.unpack_from("<i", buf, 0)
    kind = _TYPES.get(stype)
    if kind is None:
        raise ValueError(f"unsupported shape type {stype}")
    if kind == "point":
        x, y = struct.unpack_from("<2d", buf, 4)
        return kind, [x], [y]
    # polyline/polygon: bbox(32) + numparts + numpoints + parts + points
    nparts, npoints = struct.unpack_from("<2i", buf, 36)
    off = 44 + 4 * nparts  # first part only (reference converts outer part)
    vals = struct.unpack_from(f"<{2 * npoints}d", buf, off)
    return kind, list(vals[0::2]), list(vals[1::2])


def index_shp(path: str) -> list[tuple[int, int]]:
    """(offset, length) per record — record-length walk, no decode."""
    out = []
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        i = 100  # main header
        while i < size:
            f.seek(i + 4)
            (content_words,) = struct.unpack(">i", f.read(4))
            ln = 8 + content_words * 2
            out.append((i, ln))
            i += ln
    return out


def read_shp(spark: SparkSession, path: str) -> DataFrame:
    recs = index_shp(path)
    apath = os.path.abspath(path)
    idx = spread(spark.createDataFrame(
        [(n + 1, o, ln) for n, (o, ln) in enumerate(recs)],
        "record_no long, offset long, length long",
    ))

    def go(r):
        with open(apath, "rb") as f:
            f.seek(r.offset + 8)
            content = f.read(r.length - 8)
        kind, lons, lats = decode_shp_record(content)
        yield {"record_no": int(r.record_no), "geom_type": kind, "lons": lons, "lats": lats}

    return per_row(idx, go, SHAPE_SCHEMA)


def read_dbf(path: str) -> pd.DataFrame:
    """Minimal dBase III reader: character + numeric fields."""
    with open(path, "rb") as f:
        header = f.read(32)
        n_records = struct.unpack_from("<I", header, 4)[0]
        header_len, record_len = struct.unpack_from("<2H", header, 8)
        fields = []
        f.seek(32)
        while True:
            fd = f.read(32)
            if fd[0] == 0x0D or len(fd) < 32:
                break
            name = fd[:11].split(b"\x00")[0].decode("ascii")
            ftype = chr(fd[11])
            flen = fd[16]
            fields.append((name, ftype, flen))
        f.seek(header_len)
        rows = []
        for _ in range(n_records):
            rec = f.read(record_len)
            if not rec or rec[0] == 0x1A:
                break
            vals = {}
            off = 1  # deletion flag
            for name, ftype, flen in fields:
                raw = rec[off : off + flen].decode("ascii", "replace").strip()
                off += flen
                if ftype == "N":
                    vals[name] = float(raw) if "." in raw else (int(raw) if raw else None)
                else:
                    vals[name] = raw
            rows.append(vals)
    return pd.DataFrame(rows, columns=[f0 for f0, _t, _l in fields])


# --- writers (test fixtures only) ------------------------------------------

def write_shp(path: str, shapes: list[tuple[str, list[tuple[float, float]]]]) -> None:
    _CODES = {"point": 1, "polyline": 3, "polygon": 5}
    records = b""
    for n, (kind, coords) in enumerate(shapes, start=1):
        if kind == "point":
            content = struct.pack("<i2d", 1, *coords[0])
        else:
            xs = [c[0] for c in coords]
            ys = [c[1] for c in coords]
            content = struct.pack(
                "<i4d2ii", _CODES[kind], min(xs), min(ys), max(xs), max(ys), 1, len(coords), 0
            )
            for x, y in coords:
                content += struct.pack("<2d", x, y)
        records += struct.pack(">2i", n, len(content) // 2) + content
    total_words = (100 + len(records)) // 2
    header = struct.pack(">i5i", 9994, 0, 0, 0, 0, 0) + struct.pack(">i", total_words)
    header += struct.pack("<2i", 1000, _CODES[shapes[0][0]])
    header += struct.pack("<8d", 0, 0, 0, 0, 0, 0, 0, 0)
    with open(path, "wb") as f:
        f.write(header + records)


def write_dbf(path: str, rows: list[dict], fields: list[tuple[str, str, int]]) -> None:
    import datetime

    body = b""
    record_len = 1 + sum(fl for _n, _t, fl in fields)
    for r in rows:
        rec = b" "
        for name, ftype, flen in fields:
            v = str(r.get(name, ""))
            rec += (v.rjust(flen) if ftype == "N" else v.ljust(flen))[:flen].encode("ascii")
        body += rec
    header_len = 32 + 32 * len(fields) + 1
    hdr = struct.pack(
        "<4B I 2H 20x", 3, 24, 1, 1, len(rows), header_len, record_len
    )
    for name, ftype, flen in fields:
        hdr += name.encode("ascii").ljust(11, b"\x00") + ftype.encode() + b"\x00" * 4
        hdr += bytes([flen, 0]) + b"\x00" * 14
    hdr += b"\x0d"
    with open(path, "wb") as f:
        f.write(hdr + body + b"\x1a")
