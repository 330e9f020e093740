"""WKB geometry parsing (the GeoParquet source's core, S6).

Reference: packages/geoparquet/src/wkb.ts:83 (WKB -> coordinates) used by
from-geoparquet.ts:76-200. Re-implemented from the public WKB spec:
little/big endian byte + uint32 geometry type + float64 coordinates, for
Point (1), LineString (2), Polygon (3). Vectorized: struct unpacking in an
Arrow-batched mapInPandas; no per-row Python UDF calls from Spark's side.

Output rows: (geom_type string, lons array<double>, lats array<double>)
— polygons emit their outer ring (reference normalizes winding; we emit
ring order as stored and normalize winding at tile-encode time).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..plans.stage import per_row

_POINT, _LINESTRING, _POLYGON = 1, 2, 3


def parse_wkb(buf: bytes) -> tuple[str, list[float], list[float]]:
    """Parse one WKB blob -> (type, lons, lats). Pure function, unit-tested
    directly; the DataFrame operator batches over it."""
    bo = "<" if buf[0] == 1 else ">"
    (gtype,) = struct.unpack_from(f"{bo}I", buf, 1)
    gtype &= 0xFF  # mask 2.5D/SRID flag variants
    if gtype == _POINT:
        x, y = struct.unpack_from(f"{bo}2d", buf, 5)
        return "point", [x], [y]
    if gtype == _LINESTRING:
        (n,) = struct.unpack_from(f"{bo}I", buf, 5)
        vals = struct.unpack_from(f"{bo}{2 * n}d", buf, 9)
        return "linestring", list(vals[0::2]), list(vals[1::2])
    if gtype == _POLYGON:
        (nrings,) = struct.unpack_from(f"{bo}I", buf, 5)
        off = 9
        (n,) = struct.unpack_from(f"{bo}I", buf, off)  # outer ring only
        off += 4
        vals = struct.unpack_from(f"{bo}{2 * n}d", buf, off)
        return "polygon", list(vals[0::2]), list(vals[1::2])
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def write_wkb_point(x: float, y: float) -> bytes:
    return struct.pack("<BI2d", 1, _POINT, x, y)


def write_wkb_linestring(coords: list[tuple[float, float]]) -> bytes:
    out = struct.pack("<BII", 1, _LINESTRING, len(coords))
    for x, y in coords:
        out += struct.pack("<2d", x, y)
    return out


def write_wkb_polygon(ring: list[tuple[float, float]]) -> bytes:
    out = struct.pack("<BIII", 1, _POLYGON, 1, len(ring))
    for x, y in ring:
        out += struct.pack("<2d", x, y)
    return out


GEOM_SCHEMA = T.StructType(
    [
        T.StructField("geom_id", T.LongType(), False),
        T.StructField("geom_type", T.StringType(), False),
        T.StructField("lons", T.ArrayType(T.DoubleType()), False),
        T.StructField("lats", T.ArrayType(T.DoubleType()), False),
    ]
)


def parse_wkb_column(df: DataFrame, id_col: str = "geom_id",
                     wkb_col: str = "wkb") -> DataFrame:
    """(id, wkb binary) -> GEOM_SCHEMA rows, Arrow-batched."""

    def go(r):
        t, lons, lats = parse_wkb(bytes(getattr(r, wkb_col)))
        yield {"geom_id": int(getattr(r, id_col)), "geom_type": t, "lons": lons, "lats": lats}

    return per_row(df, go, GEOM_SCHEMA)
