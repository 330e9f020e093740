"""Geodesy + Web-Mercator tile math as Spark Column expressions.

Re-derives the reference's geo kernel as pure Catalyst expressions — no UDFs,
so everything stays inside whole-stage codegen and is usable in pushed-down
filters:

- haversine (R = 6371008.8 m, atan2 form):
  reference packages/geo/src/haversine-distance.ts:16-26
- degrees <-> integer microdegrees (x1e7, round):
  reference packages/geo/src/coordinates.ts:17-36
- point -> tile fraction / tile, tile -> bbox, bbox -> tile range
  (standard slippy / @mapbox/tilebelt math):
  reference packages/geo/src/tile.ts:18-97
- zigzag encode/decode: reference packages/types/src/zigzag.ts:19-30
- bbox predicates with the reference's inclusive micro-epsilon:
  reference packages/core/src/nodes.ts:455-491
- cell keys: (z,x,y) packed into one long — the engine's partition key.
  Quadkey interleave is also provided for prefix-pruning layouts.

Scale note: cell_key is the column every big spatial table is repartitioned /
bucketed on; computing it as a codegen'd expression means the parquet writer
can cluster by it and Catalyst can prune partitions on it.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371008.8  # haversine-distance.ts:17
OSM_COORD_SCALE = 10_000_000  # coordinates.ts:17
BBOX_EPSILON_DEG = 1e-5  # nodes.ts bbox query epsilon (micro eps 100 / 1e7)


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


# ---------------------------------------------------------------------------
# microdegrees
# ---------------------------------------------------------------------------

def to_micro(deg) -> Column:
    """Degrees -> integer microdegrees (round-half-up like Math.round)."""
    return F.floor(_c(deg) * OSM_COORD_SCALE + F.lit(0.5)).cast("int")


def micro_to_deg(micro) -> Column:
    return _c(micro).cast("double") / OSM_COORD_SCALE


# ---------------------------------------------------------------------------
# haversine
# ---------------------------------------------------------------------------

def haversine_m(lon1, lat1, lon2, lat2) -> Column:
    """Great-circle distance in meters; exact formula of the reference."""
    lon1, lat1, lon2, lat2 = _c(lon1), _c(lat1), _c(lon2), _c(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.pow(F.sin(dlon / 2), 2) * F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
    )
    c = 2 * F.atan2(F.sqrt(a), F.sqrt(1 - a))
    return F.lit(EARTH_RADIUS_M) * c


# ---------------------------------------------------------------------------
# slippy tile math (tile.ts)
# ---------------------------------------------------------------------------

def tile_x_fraction(lon, z) -> Column:
    """Continuous tile x coordinate at zoom z (tilebelt pointToTileFraction)."""
    return (_c(lon) / 360.0 + 0.5) * F.pow(F.lit(2.0), _c(z))


def tile_y_fraction(lat, z) -> Column:
    lat = _c(lat)
    sin = F.sin(F.radians(lat))
    y = 0.5 - 0.25 * F.log((1.0 + sin) / (1.0 - sin)) / math.pi
    return y * F.pow(F.lit(2.0), _c(z))


def tile_x(lon, z) -> Column:
    """Integer tile x, clamped into [0, 2^z - 1]."""
    n = F.pow(F.lit(2.0), _c(z))
    return F.least(
        F.greatest(F.floor(tile_x_fraction(lon, z)), F.lit(0)), (n - 1).cast("long")
    ).cast("long")


def tile_y(lat, z) -> Column:
    n = F.pow(F.lit(2.0), _c(z))
    return F.least(
        F.greatest(F.floor(tile_y_fraction(lat, z)), F.lit(0)), (n - 1).cast("long")
    ).cast("long")


def tile_to_lon(x, z) -> Column:
    """West edge of tile column x (tile.ts:18-20)."""
    return _c(x).cast("double") / F.pow(F.lit(2.0), _c(z)) * 360.0 - 180.0


def tile_to_lat(y, z) -> Column:
    """North edge of tile row y (tile.ts:22-25)."""
    n = math.pi - (2.0 * math.pi) * _c(y).cast("double") / F.pow(F.lit(2.0), _c(z))
    return F.degrees(F.atan(0.5 * (F.exp(n) - F.exp(-n))))


# ---------------------------------------------------------------------------
# cell keys
# ---------------------------------------------------------------------------

def cell_key(lon, lat, z) -> Column:
    """(z,x,y) packed into one signed long: z<<58 | x<<29 | y. z <= 29.

    The engine's spatial partition key: equi-joinable, bucketable, and
    orderable (z-major). Used to pre-prune every spatial join.
    """
    z = _c(z).cast("long")
    return (
        F.shiftleft(z, 58)
        + F.shiftleft(tile_x(lon, z), 29)
        + tile_y(lat, z)
    )


def cell_key_parts(key) -> tuple[Column, Column, Column]:
    """Unpack cell_key -> (z, x, y)."""
    key = _c(key)
    z = F.shiftrightunsigned(key, 58)
    x = F.shiftrightunsigned(key, 29).bitwiseAND(F.lit((1 << 29) - 1))
    y = key.bitwiseAND(F.lit((1 << 29) - 1))
    return z, x, y


def quadkey(lon, lat, z: int) -> Column:
    """Microsoft quadkey string at integer zoom z (prefix = parent cell).

    Useful when a layout wants prefix-range pruning instead of exact-cell
    equality (coarser zoom = string prefix).
    """
    x, y = tile_x(lon, z), tile_y(lat, z)
    digits = [
        (
            F.shiftrightunsigned(x, i).bitwiseAND(F.lit(1))
            + F.shiftrightunsigned(y, i).bitwiseAND(F.lit(1)) * 2
        ).cast("string")
        for i in range(z - 1, -1, -1)
    ]
    return F.concat(*digits) if digits else F.lit("")


# ---------------------------------------------------------------------------
# bbox predicates (nodes.ts:455-491 inclusive-epsilon semantics)
# ---------------------------------------------------------------------------

def in_bbox(lon, lat, west: float, south: float, east: float, north: float,
            epsilon: float = BBOX_EPSILON_DEG) -> Column:
    """Inclusive bbox containment with the reference's boundary epsilon.

    Antimeridian: if west > east the query wraps — split into two ranges
    exactly like nodes.ts:483-489.
    """
    lon, lat = _c(lon), _c(lat)
    lat_ok = (lat >= south - epsilon) & (lat <= north + epsilon)
    if west > east:  # wraps the antimeridian
        lon_ok = (lon >= west - epsilon) | (lon <= east + epsilon)
    else:
        lon_ok = (lon >= west - epsilon) & (lon <= east + epsilon)
    return lon_ok & lat_ok


def bbox_intersects(aw, as_, ae, an, bw, bs, be, bn) -> Column:
    """Axis-aligned bbox overlap (geo/src/bbox-intersects.ts:16), with the
    reference's inverted-bbox guard (ways.ts:350-359): an inverted bbox
    (min > max) marks a geometry-less entity and never matches."""
    aw, as_, ae, an = _c(aw), _c(as_), _c(ae), _c(an)
    bw, bs, be, bn = _c(bw), _c(bs), _c(be), _c(bn)
    valid = (aw <= ae) & (as_ <= an) & (bw <= be) & (bs <= bn)
    return valid & ~((ae < bw) | (be < aw) | (an < bs) | (bn < as_))


# ---------------------------------------------------------------------------
# zigzag (types/src/zigzag.ts:19-30)
# ---------------------------------------------------------------------------

def zigzag_encode(v) -> Column:
    v = _c(v).cast("long")
    return F.when(v < 0, -2 * v - 1).otherwise(2 * v)


def zigzag_decode(v) -> Column:
    v = _c(v).cast("long")
    return F.when(v % 2 == 1, -(v + 1) / 2).otherwise(v / 2).cast("long")


# ---------------------------------------------------------------------------
# way-is-area heuristic (geo/src/way-is-area.ts:18-69)
# ---------------------------------------------------------------------------

# keys whose presence makes a closed way an area, unless value is blacklisted
_AREA_KEYS = {
    "building": (),
    "landuse": (),
    "leisure": (),
    "natural": ("coastline", "cliff", "ridge", "arete", "tree_row"),
    "amenity": (),
    "area:highway": (),
    "waterway": ("riverbank", "dock", "boatyard", "dam"),  # whitelist-style
}


def way_is_area(tags: Column, is_closed: Column) -> Column:
    """Closed-ring + tag heuristic: area=yes/no override, else any area key.

    tags: map<string,string>; is_closed: first ref == last ref.
    """
    area_tag = F.element_at(tags, F.lit("area"))
    keyed = F.lit(False)
    for k, blacklist in _AREA_KEYS.items():
        v = F.element_at(tags, F.lit(k))
        cond = v.isNotNull()
        if k == "waterway":  # whitelist: only these waterway values are areas
            cond = v.isin(*blacklist)
        elif blacklist:
            cond = cond & ~v.isin(*blacklist)
        keyed = keyed | cond
    return is_closed & (
        F.when(area_tag == "yes", F.lit(True))
        .when(area_tag == "no", F.lit(False))
        .otherwise(keyed)
    )


# ---------------------------------------------------------------------------
# relation-kind classification (types/src/relation-kind.ts:29-158)
# ---------------------------------------------------------------------------

_AREA_TYPES = ("multipolygon", "boundary", "site")
_LINE_TYPES = ("route", "waterway", "multilinestring", "canal")


def way_is_area_sql(tags_sql: str, is_closed_sql: str) -> str:
    """SQL-text twin of way_is_area for latency-sensitive builders: one
    F.expr(way_is_area_sql(...)) costs a single py4j round-trip where the
    Column version pays ~50 (one per function call). Same semantics,
    including null propagation (a null `in` result ORs/cases exactly like
    the Column version's isin)."""
    conds = []
    for k, blacklist in _AREA_KEYS.items():
        v = f"element_at({tags_sql}, '{k}')"
        if k == "waterway":  # whitelist: only these waterway values are areas
            vals = ", ".join(f"'{b}'" for b in blacklist)
            conds.append(f"{v} in ({vals})")
        elif blacklist:
            vals = ", ".join(f"'{b}'" for b in blacklist)
            conds.append(f"({v} is not null and {v} not in ({vals}))")
        else:
            conds.append(f"{v} is not null")
    keyed = "(false or " + " or ".join(conds) + ")"
    at = f"element_at({tags_sql}, 'area')"
    return (
        f"(({is_closed_sql}) and (case when {at} = 'yes' then true"
        f" when {at} = 'no' then false else {keyed} end))"
    )


def relation_kind(tags: Column, has_relation_member: Column) -> Column:
    """area | line | point | super | logic, exactly the reference's CASE
    order: typed area/line/point first, then super (has relation members),
    else logic; untyped relations are super-or-logic."""
    t = F.lower(F.element_at(_c(tags), F.lit("type")))
    sup = F.when(_c(has_relation_member), "super").otherwise("logic")
    return (
        F.when(t.isNull(), sup)
        .when(t.isin(*_AREA_TYPES), "area")
        .when(t.isin(*_LINE_TYPES), "line")
        .when(t == "multipoint", "point")
        .otherwise(sup)
    )


# ---------------------------------------------------------------------------
# hex color normalization (vt/src/hex-color.ts)
# ---------------------------------------------------------------------------

def normalize_hex_color(value: Column) -> Column:
    """'#abc'/'abc'/'aabbcc'/'aabbccdd' -> '#AABBCC[DD]'; anything else NULL
    (same acceptance set as normalizeHexColor: 3/4/6/8 hex digits)."""
    raw = F.trim(_c(value).cast("string"))
    hexs = F.when(raw.startswith("#"), F.substring(raw, 2, 1 << 20)).otherwise(raw)
    valid = hexs.rlike("^[0-9a-fA-F]+$")
    n = F.length(hexs)
    doubled = F.array_join(
        F.transform(F.split(hexs, ""), lambda ch: F.concat(ch, ch)), ""
    )
    return (
        F.when(~valid | ~n.isin(3, 4, 6, 8), F.lit(None).cast("string"))
        .when(n.isin(3, 4), F.concat(F.lit("#"), F.upper(doubled)))
        .otherwise(F.concat(F.lit("#"), F.upper(hexs)))
    )
