"""S2 cell index — canonical Hilbert-curve cells on the unit sphere.

BASELINE.json's north rule calls for an "H3/S2 index" as the spatial
partitioning key; the quadkey cells in `functions/geo.py` are the
Web-Mercator analog, and this module supplies the literal S2 option: the
standard cube-face + quadratic-ST + Hilbert-curve construction (public
algorithm, see the S2 geometry library design docs / "S2 cells" write-ups).

Three synchronized implementations, kept in lockstep:

- `s2_cell_np(lon, lat, level)` — vectorized NumPy (tests, mapInPandas).
- `with_s2_key(df, ...)` — Spark Columns only (whole-stage codegen; the
  1024-entry Hilbert lookup table rides along as a broadcast 1-row array
  column so the plan carries ONE copy, not one per `element_at`).
- `s2_cell_duckdb_sql(...)` — the DuckDB oracle twin (one nested
  projection per step, identical expression text so IEEE doubles agree
  bit-for-bit).

Key layout: the canonical S2 cell id packs `face(3) | pos(2*level) | 1`
into a uint64, which overflows SIGNED int64 for faces 4-5 — unusable as a
cross-engine join/hash key (Spark has no unsigned 64-bit type). We
therefore expose the *prefix-preserving packed key*

    key(level) = face * 4^level + hilbert_pos(level)

which is < 6 * 4^30 < 2^63 at every level and keeps the two properties
partitioning needs: parent(key) == key >> 2, and the children of k are
exactly [k<<2, (k<<2)+3] — so containment filters are BETWEEN range scans
and level rollups are bit shifts. `s2_id_np` / `s2_token_np` still emit
the canonical uint64 id / hex token for interop with external S2 tooling.

At 100 TB: `with_s2_key` is pure codegen (zero Python), so cell assignment
rides the scan; writing data partitioned/bucketed by a coarse-level key
gives the same partition-pruning story as the quadkey layout in
`sources/layout.py`, with better locality (Hilbert adjacency) for
range-scanned spatial sweeps.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

MAX_LEVEL = 30
_LOOKUP_BITS = 4
_SWAP = 1
_INVERT = 2

# Hilbert sub-cell traversal orders (standard S2 constants)
_POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
_POS_TO_ORIENT = (_SWAP, 0, 0, _INVERT + _SWAP)


@lru_cache(maxsize=1)
def _tables() -> tuple[np.ndarray, np.ndarray]:
    """(lookup_pos, lookup_ij): 4-level Hilbert step tables, 1024 entries.

    lookup_pos[(i4<<4 | j4) << 2 | orient] = (pos8 << 2) | new_orient
    lookup_ij [(pos8       ) << 2 | orient] = (i4<<4|j4) << 2 | new_orient
    """
    lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)
    lookup_ij = np.zeros_like(lookup_pos)

    def init(level: int, i: int, j: int, orig: int, pos: int, orient: int):
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig] = (pos << 2) + orient
            lookup_ij[(pos << 2) + orig] = (ij << 2) + orient
            return
        r = _POS_TO_IJ[orient]
        for index in range(4):
            ij = r[index]
            init(level + 1, (i << 1) + (ij >> 1), (j << 1) + (ij & 1),
                 orig, (pos << 2) + index, orient ^ _POS_TO_ORIENT[index])

    for o in range(4):
        init(0, 0, 0, o, 0, o)
    return lookup_pos, lookup_ij


# ---------------------------------------------------------------------------
# NumPy path
# ---------------------------------------------------------------------------

def _xyz_from_lonlat(lon: np.ndarray, lat: np.ndarray):
    lon_r, lat_r = np.radians(lon), np.radians(lat)
    cl = np.cos(lat_r)
    return cl * np.cos(lon_r), cl * np.sin(lon_r), np.sin(lat_r)


def _face_uv_np(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    # largest absolute component picks the cube face (+3 when negative);
    # ties broken x-then-y-then-z, same comparison order as the SQL twin
    fx = (ax >= ay) & (ax >= az)
    fy = ~fx & (ay >= az)
    fz = ~fx & ~fy
    face = np.where(fx, np.where(x > 0, 0, 3),
                    np.where(fy, np.where(y > 0, 1, 4),
                             np.where(z > 0, 2, 5))).astype(np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y], default=-y / z)
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y], default=-x / z)
    del fz
    return face, u, v


def _st_from_uv_np(u: np.ndarray) -> np.ndarray:
    # S2's quadratic projection (area-uniformizing, invertible); np.where
    # evaluates both branches, so mask the sqrt args to their own branch
    return np.where(u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * np.maximum(u, 0.0)),
                    1.0 - 0.5 * np.sqrt(1.0 - 3.0 * np.minimum(u, 0.0)))


def _ij_from_st_np(s: np.ndarray) -> np.ndarray:
    n = 1 << MAX_LEVEL
    return np.clip(np.floor(s * n), 0, n - 1).astype(np.int64)


def _pos_from_faceij_np(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    lookup_pos, _ = _tables()
    bits = face & _SWAP
    pos = np.zeros_like(i)
    for k in range(7, -1, -1):
        bits = bits + (((i >> (k * 4)) & 15) << 6) + (((j >> (k * 4)) & 15) << 2)
        bits = lookup_pos[bits]
        pos |= (bits >> 2) << (k * 8)
        bits &= 3
    return pos


def s2_cell_np(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    """Packed prefix key face*4^level + pos_level (int64-safe)."""
    face, u, v = _face_uv_np(*_xyz_from_lonlat(np.asarray(lon, dtype=np.float64),
                                               np.asarray(lat, dtype=np.float64)))
    i = _ij_from_st_np(_st_from_uv_np(u))
    j = _ij_from_st_np(_st_from_uv_np(v))
    pos = _pos_from_faceij_np(face, i, j)
    shift = 2 * (MAX_LEVEL - level)
    return (face << (2 * level)) + (pos >> shift)


def s2_id_np(lon: np.ndarray, lat: np.ndarray, level: int = MAX_LEVEL) -> np.ndarray:
    """Canonical uint64 S2 cell id: face(3) | pos | lsb marker."""
    key = s2_cell_np(lon, lat, level).astype(np.uint64)
    face = key >> np.uint64(2 * level)
    pos = key & ((np.uint64(1) << np.uint64(2 * level)) - np.uint64(1))
    # re-expand pos to the 60-bit field, set the level's trailing 1-bit
    pos_full = pos << np.uint64(2 * (MAX_LEVEL - level))
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return (face << np.uint64(61)) | (pos_full << np.uint64(1)) | lsb


def s2_token_np(ids: np.ndarray) -> list[str]:
    """Canonical hex token: 16 hex digits, trailing zeros stripped."""
    out = []
    for v in ids.astype(np.uint64):
        t = format(int(v), "016x").rstrip("0")
        out.append(t or "X")
    return out


def s2_cell_center_np(key: np.ndarray, level: int):
    """(lon, lat) of each packed key's center — test/debug decode path.

    Composition of the shared primitives: key -> (face, cell-base ij)
    (_faceij_from_key_np), midpoint offset, inverse-ST (_uv_from_st_ext_np),
    face->XYZ (_xyz_from_face_uv_np)."""
    face, i, j = _faceij_from_key_np(key, level)
    half = float((np.int64(1) << (MAX_LEVEL - level)) >> 1) \
        if level < MAX_LEVEL else 0.5
    n = float(1 << MAX_LEVEL)
    u = _uv_from_st_ext_np((i + half) / n)
    v = _uv_from_st_ext_np((j + half) / n)
    x, y, z = _xyz_from_face_uv_np(face, u, v)
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    return lon, lat


def s2_parent_np(key: np.ndarray, levels_up: int = 1) -> np.ndarray:
    return np.asarray(key, dtype=np.int64) >> (2 * levels_up)


def s2_range_np(key: int, level: int, child_level: int) -> tuple[int, int]:
    """[lo, hi] packed-key range of `key`'s descendants at child_level."""
    d = 2 * (child_level - level)
    return key << d, ((key + 1) << d) - 1


# ---------------------------------------------------------------------------
# Neighbors + bbox covering (driver-side, NumPy)
# ---------------------------------------------------------------------------

def _uv_from_st_ext_np(s: np.ndarray) -> np.ndarray:
    """Inverse quadratic transform, EXTENDED monotonically outside [0,1]
    (used to place out-of-face neighbor centers on the cube)."""
    return np.where(s >= 0.5, (4.0 * s * s - 1.0) / 3.0,
                    (1.0 - 4.0 * (1.0 - s) ** 2) / 3.0)


def _xyz_from_face_uv_np(face, u, v):
    one = np.ones_like(u)
    x = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [one, -u, -u, -one, v], default=v)
    y = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [u, one, -v, -v, -one], default=u)
    z = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [v, v, one, -u, -u], default=-one)
    return x, y, z


def _faceij_from_key_np(key: np.ndarray, level: int):
    """Decode packed key -> (face, i, j) of the cell's MIN leaf corner."""
    _, lookup_ij = _tables()
    key = np.asarray(key, dtype=np.int64)
    face = key >> (2 * level)
    pos = (key & ((np.int64(1) << (2 * level)) - 1)) << (2 * (MAX_LEVEL - level))
    bits = face & _SWAP
    i = np.zeros_like(key)
    j = np.zeros_like(key)
    for k in range(7, -1, -1):
        bits = bits + (((pos >> (k * 8)) & 255) << 2)
        bits = lookup_ij[bits]
        i |= (bits >> 6) << (k * 4)
        j |= ((bits >> 2) & 15) << (k * 4)
        bits &= 3
    if level < MAX_LEVEL:
        size = np.int64(1) << (MAX_LEVEL - level)
        i &= ~(size - 1)
        j &= ~(size - 1)
    return face, i, j


def _key_from_face_st_np(face, s, t, level: int) -> np.ndarray:
    i = _ij_from_st_np(np.asarray(s))
    j = _ij_from_st_np(np.asarray(t))
    pos = _pos_from_faceij_np(np.asarray(face, dtype=np.int64), i, j)
    return (np.asarray(face, dtype=np.int64) << (2 * level)) \
        + (pos >> (2 * (MAX_LEVEL - level)))


def s2_edge_neighbors_np(key: np.ndarray, level: int) -> np.ndarray:
    """(n, 4) packed keys of the 4 edge neighbors, cross-face wrap included.

    Out-of-face neighbors are resolved by placing the neighbor's CENTER on
    the extended cube (the inverse-ST quadratic extrapolates monotonically
    past the face edge, face->XYZ is linear on the whole plane), then
    re-encoding that direction — the cube's edge identification maps cell
    centers to cell centers, so the re-encode lands exactly on the
    neighbor cell.
    """
    key = np.atleast_1d(np.asarray(key, dtype=np.int64))
    face, i, j = _faceij_from_key_np(key, level)
    size = np.int64(1) << (MAX_LEVEL - level)
    half = float(size) / 2.0
    n30 = float(1 << MAX_LEVEL)
    out = np.empty((key.shape[0], 4), dtype=np.int64)
    for col, (di, dj) in enumerate(((0, -1), (1, 0), (0, 1), (-1, 0))):
        ni = i + di * size
        nj = j + dj * size
        s = (ni + half) / n30
        t = (nj + half) / n30
        inside = (ni >= 0) & (ni < (1 << MAX_LEVEL)) & \
                 (nj >= 0) & (nj < (1 << MAX_LEVEL))
        # same-face fast path
        same = _key_from_face_st_np(face, s, t, level)
        # wrapped path: extended uv -> xyz -> re-encode
        u = _uv_from_st_ext_np(s)
        v = _uv_from_st_ext_np(t)
        x, y, z = _xyz_from_face_uv_np(face, u, v)
        nface, nu, nv = _face_uv_np(x, y, z)
        wrapped = _key_from_face_st_np(
            nface, _st_from_uv_np(nu), _st_from_uv_np(nv), level)
        out[:, col] = np.where(inside, same, wrapped)
    return out


def _corner_lonlat_np(key: np.ndarray, level: int):
    """(lon[n,4], lat[n,4]) of each cell's 4 exact corners."""
    key = np.atleast_1d(np.asarray(key, dtype=np.int64))
    face, i, j = _faceij_from_key_np(key, level)
    size = np.int64(1) << (MAX_LEVEL - level)
    n30 = float(1 << MAX_LEVEL)
    lons, lats = [], []
    for di, dj in ((0, 0), (1, 0), (0, 1), (1, 1)):
        s = (i + di * size) / n30
        t = (j + dj * size) / n30
        u = _uv_from_st_ext_np(s)
        v = _uv_from_st_ext_np(t)
        x, y, z = _xyz_from_face_uv_np(face, u, v)
        lons.append(np.degrees(np.arctan2(y, x)))
        lats.append(np.degrees(np.arctan2(z, np.hypot(x, y))))
    return np.stack(lons, axis=1), np.stack(lats, axis=1)


def s2_cover_bbox(west: float, south: float, east: float, north: float,
                  level: int, max_cells: int = 65536) -> list[int]:
    """Conservative SUPERSET covering of a lon/lat bbox at `level`.

    BFS over edge neighbors from the bbox-center cell, keeping any cell
    whose corner box — padded by its own diagonal (covers great-circle
    edge bulge and pole-containing cells) — intersects the bbox. Extra
    cells only cost pruning efficiency; readers must still refine with
    the exact predicate. Longitudes compare on the circle, so the
    antimeridian is handled. Driver-side: cells at the partition level
    are few (the partitioning contract, not a data-scale loop).
    """
    seed = int(s2_cell_np(np.array([(west + east) / 2.0 if west <= east
                                    else ((west + east + 360.0) / 2.0)]),
                          np.array([(south + north) / 2.0]), level)[0])
    seen = {seed}
    queue = [seed]
    cover: list[int] = []

    def lon_dist(a: np.ndarray, lo: float, hi: float) -> np.ndarray:
        # 0 when a inside [lo, hi] on the circle, else degrees outside
        if lo <= hi:
            inside = (a >= lo) & (a <= hi)
            d = np.minimum(np.abs((a - lo + 180.0) % 360.0 - 180.0),
                           np.abs((a - hi + 180.0) % 360.0 - 180.0))
        else:  # wraps the antimeridian
            inside = (a >= lo) | (a <= hi)
            d = np.minimum(np.abs((a - lo + 180.0) % 360.0 - 180.0),
                           np.abs((a - hi + 180.0) % 360.0 - 180.0))
        return np.where(inside, 0.0, d)

    while queue:
        batch = np.array(queue, dtype=np.int64)
        queue = []
        clon, clat = _corner_lonlat_np(batch, level)
        # conservative pad: max pairwise corner separation per cell
        pad = np.zeros(batch.shape[0])
        for a in range(4):
            for b in range(a + 1, 4):
                dl = np.abs((clon[:, a] - clon[:, b] + 180.0) % 360.0 - 180.0)
                pad = np.maximum(pad, np.maximum(
                    dl, np.abs(clat[:, a] - clat[:, b])))
        lat_gap = np.maximum(
            np.maximum(south - clat.max(axis=1), clat.min(axis=1) - north), 0.0)
        lon_gap = lon_dist(clon, west, east).min(axis=1)
        hits = (lat_gap <= pad) & (lon_gap <= pad)
        for key, hit in zip(batch.tolist(), hits.tolist()):
            if not hit:
                continue
            cover.append(key)
            if len(cover) > max_cells:
                raise ValueError(
                    f"s2_cover_bbox exceeded max_cells={max_cells} at "
                    f"level {level}; use a coarser level for this bbox")
            for nb in s2_edge_neighbors_np(np.array([key]), level)[0].tolist():
                if nb not in seen:
                    seen.add(nb)
                    queue.append(nb)
    return sorted(cover)


# ---------------------------------------------------------------------------
# Shared SQL generator — ONE template for Spark and DuckDB, so the engine
# and its oracle stay in float-op lockstep by construction
# ---------------------------------------------------------------------------

_N30 = 1 << MAX_LEVEL


def _s2_select_exprs(lon_sql: str, lat_sql: str, level: int, dialect: str,
                     out: str = "s2_key") -> list[str]:
    """Ordered `expr AS alias` select-list items computing the packed key.

    Each item may reference the aliases before it. Spark resolves them
    LATERALLY, so its whole pipeline is one projection and one analysis
    pass (chained withColumns re-analyze a growing plan per call —
    measured ~1.5s of driver time per query build at 16 steps); DuckDB
    nests one projection per item (`s2_cell_duckdb_sql`). Only integer
    shift/index syntax differs per dialect; every floating-point
    expression is emitted from the same template string, so IEEE doubles
    agree bit-for-bit.
    """
    lookup_pos, _ = _tables()
    vals = ",".join(str(int(x)) for x in lookup_pos)
    if dialect == "spark":
        def shl(a, n): return f"shiftleft({a}, {n})"
        def shr(a, n): return f"shiftright({a}, {n})"
        def idx(i): return f"element_at(__s2_lut, CAST({i} AS INT))"
        lut_lit = f"array({vals})"
    elif dialect == "duckdb":
        def shl(a, n): return f"({a} << {n})"
        def shr(a, n): return f"({a} >> {n})"
        def idx(i): return f"__s2_lut[CAST({i} AS INT)]"
        lut_lit = f"[{vals}]"
    else:
        raise ValueError(f"unknown dialect {dialect!r}")

    def st(u: str) -> str:
        return (f"(CASE WHEN {u} >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * {u})"
                f" ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * {u}) END)")

    def ij(s: str) -> str:
        return (f"CAST(least(greatest(floor({s} * {float(_N30)}), 0),"
                f" {_N30 - 1}) AS BIGINT)")

    exprs = [
        f"{lut_lit} AS __s2_lut",
        f"{lon_sql} AS __s2lon",
        f"{lat_sql} AS __s2lat",
        "cos(radians(__s2lat)) * cos(radians(__s2lon)) AS __s2x",
        "cos(radians(__s2lat)) * sin(radians(__s2lon)) AS __s2y",
        "sin(radians(__s2lat)) AS __s2z",
        "CAST(CASE WHEN abs(__s2x) >= abs(__s2y) AND abs(__s2x) >= abs(__s2z)"
        " THEN CASE WHEN __s2x > 0 THEN 0 ELSE 3 END"
        " WHEN abs(__s2y) >= abs(__s2z)"
        " THEN CASE WHEN __s2y > 0 THEN 1 ELSE 4 END"
        " ELSE CASE WHEN __s2z > 0 THEN 2 ELSE 5 END END AS BIGINT) AS __s2f",
        "CASE __s2f WHEN 0 THEN __s2y / __s2x WHEN 1 THEN -__s2x / __s2y"
        " WHEN 2 THEN -__s2x / __s2z WHEN 3 THEN __s2z / __s2x"
        " WHEN 4 THEN __s2z / __s2y ELSE -__s2y / __s2z END AS __s2u",
        "CASE __s2f WHEN 0 THEN __s2z / __s2x WHEN 1 THEN __s2z / __s2y"
        " WHEN 2 THEN -__s2y / __s2z WHEN 3 THEN __s2y / __s2x"
        " WHEN 4 THEN -__s2x / __s2y ELSE -__s2x / __s2z END AS __s2v",
        f"{ij(st('__s2u'))} AS __s2i",
        f"{ij(st('__s2v'))} AS __s2j",
        "(__s2f & 1) AS __s2b8",
    ]
    for k in range(7, -1, -1):
        nib_i = shl("(" + shr("__s2i", k * 4) + " & 15)", 6)
        nib_j = shl("(" + shr("__s2j", k * 4) + " & 15)", 2)
        raw = f"((__s2b{k + 1} & 3) + {nib_i} + {nib_j} + 1)"
        exprs.append(f"CAST({idx(raw)} AS BIGINT) AS __s2b{k}")
    pos = " + ".join(shl(f"({shr(f'__s2b{k}', 2)})", k * 8)
                     for k in range(7, -1, -1))
    shift = 2 * (MAX_LEVEL - level)
    exprs.append(
        f"({shl('__s2f', 2 * level)} + {shr(f'({pos})', shift)}) AS {out}")
    return exprs


def with_s2_key(df: DataFrame, lon: str = "lon", lat: str = "lat",
                level: int = 12, out: str = "s2_key") -> DataFrame:
    """Append the packed S2 key at `level` — pure whole-stage codegen,
    zero Python at runtime, built as ONE lateral-alias projection (one
    analysis pass; the Hilbert lookup array is one select-list alias
    shared by all 16 element_at references)."""
    keep = list(df.columns)
    exprs = _s2_select_exprs(lon, lat, level, "spark", out)
    return df.selectExpr("*", *exprs).select(*keep, out)


def s2_parent(key: Column, levels_up: int = 1) -> Column:
    """Packed-key parent — a bit shift, usable in partition pruning."""
    return F.shiftright(key, 2 * levels_up)


def s2_cell_duckdb_sql(base_sql: str, select_cols: str, lon_sql: str,
                       lat_sql: str, level: int, out: str = "s2_key") -> str:
    """DuckDB oracle twin — same generator, duckdb shift/index syntax.

    Each select item gets a projection of its own (`SELECT *, <item>
    FROM (<previous>)`): DuckDB 1.0 expands every lateral-alias reference
    into a copy of the aliased expression, so the one-projection form
    grows the `__s2b*` chain into thousands of trig subexpressions and
    takes about 100 s to plan on sf0.001; nested, it plans at once."""
    sql = f"SELECT * FROM {base_sql}"
    for n, item in enumerate(_s2_select_exprs(lon_sql, lat_sql, level, "duckdb", out)):
        sql = f"SELECT *, {item} FROM ({sql}) __s2_{n}"
    return f"SELECT {select_cols}, {out} FROM ({sql}) __s2_t"
