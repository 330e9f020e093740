"""Cell-partitioned two-phase spatial joins.

The reference answers spatial queries with in-memory KD / R-tree indexes
(packages/core/src/indirect-kd-index.ts, ways.ts:200-257). Distributed,
the equivalent physical pattern is:

  coarse:  cover geometries with Web-Mercator cells (functions/geo.cell_key)
           and EQUI-JOIN on cell — shuffle-friendly, AQE/skew-join eligible,
           broadcastable when one side is small;
  fine:    exact predicate (haversine / bbox overlap / ray-cast PIP) on the
           pruned candidate pairs.

Scale notes:
- The cell join is the only shuffle; its key is the partition key big layers
  are already clustered on, so at 100 TB the coarse phase is a co-located
  sort-merge join (or broadcast for small dims) rather than a cross join.
- Hot cells (dense cities) are handled by AQE skew-join splitting.
- All fine-phase math is Catalyst expressions except PIP, which is an
  Arrow-batched mapInPandas (NumPy ray casting) — no per-row Python.

Reference parity:
- bbox query epsilon + antimeridian: packages/core/src/nodes.ts:455-491 (J2)
- radius query sorted by (distance, id): nodes.ts:337-357,493-529 (J3)
- kNN incremental expansion: geoflatbush `around()` used at ways.ts:369-381 (J4)
- bbox-intersects join + inverted-bbox guard: ways.ts:350-359 (J5)
- point-in-polygon: raster fill / multipolygon assembly
  (packages/geo/src/relation-multipolygon.ts, raster-tile.ts:279-330) (J6)
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions import geo

EARTH_CIRCUMFERENCE_M = 40_075_016.686


# ---------------------------------------------------------------------------
# cell assignment
# ---------------------------------------------------------------------------

def with_cell(df: DataFrame, lon: str = "lon", lat: str = "lat", z: int = 15,
              out: str = "cell") -> DataFrame:
    """Attach the engine's spatial partition key."""
    return df.withColumn(out, geo.cell_key(F.col(lon), F.col(lat), F.lit(z)))


def zoom_for_radius(radius_m: float, lat_hint: float = 0.0, max_z: int = 22) -> int:
    """Largest zoom whose tile ground size still exceeds radius_m, so that a
    3x3 neighbor block is guaranteed to cover a radius query."""
    ground = EARTH_CIRCUMFERENCE_M * max(math.cos(math.radians(lat_hint)), 0.01)
    z = int(math.floor(math.log2(ground / max(radius_m, 0.01))))
    return max(0, min(max_z, z))


def neighbor_cells_from_xy(x: Column, y: Column, z: int, ring: int = 1) -> Column:
    """Array of packed cell keys for the (2*ring+1)^2 block around tile (x,y).

    x wraps at the antimeridian; y clamps at the poles (slippy convention,
    matching the reference's antimeridian split in nodes.ts:483-489).

    Takes PRE-MATERIALIZED tile coords: inlining the trig chain of
    tile_x/tile_y once per neighbor blows whole-stage codegen's 64 KB
    method limit (observed) — callers project __tx/__ty once per row and
    the per-neighbor expression stays a few adds.
    """
    n = 1 << z
    cells = []
    for dx in range(-ring, ring + 1):
        for dy in range(-ring, ring + 1):
            nx = (x + dx + n) % n
            ny = F.least(F.greatest(y + dy, F.lit(0)), F.lit(n - 1))
            cells.append(F.shiftleft(F.lit(z).cast("long"), 58) + F.shiftleft(nx, 29) + ny)
    return F.array_distinct(F.array(*cells))


def _explode_neighbors(df: DataFrame, lon: str, lat: str, z: int, ring: int = 1,
                       out: str = "__cell") -> DataFrame:
    """df + one row per neighbor cell of (lon,lat), tile coords computed once."""
    return (
        df.withColumn("__tx", geo.tile_x(F.col(lon), F.lit(z)))
        .withColumn("__ty", geo.tile_y(F.col(lat), F.lit(z)))
        .withColumn(out, F.explode(
            neighbor_cells_from_xy(F.col("__tx"), F.col("__ty"), z, ring)))
        .drop("__tx", "__ty")
    )


def neighbor_block_multilevel(tx: Column, ty: Column, z: int, ring: int) -> Column:
    """All cell keys whose cell intersects the (2*ring+1)^2 tile block around
    (tx, ty) at zoom z, at EVERY level 0..z — i.e. the block plus all its
    ancestors. This is what a point query must probe to meet boxes covered
    at a per-row adaptive (possibly coarse) zoom. x wraps at the
    antimeridian, y clamps at the poles. ~4/3*(2r+1)^2 + O(z) keys.

    Sequence-range based (no unrolled per-neighbor expressions), so codegen
    stays small at any ring size."""
    n = 1 << z

    def level_cells(i: int) -> Column:
        ni = 1 << (z - i)
        si = F.lit(i)
        x_lo, x_hi = _shr(tx - ring, si), _shr(tx + ring, si)
        y_lo = _shr(F.greatest(ty - ring, F.lit(0).cast("long")), si)
        y_hi = _shr(F.least(ty + ring, F.lit(n - 1).cast("long")), si)
        zc = F.lit(z - i).cast("long")

        def per_x(x: Column) -> Column:
            return F.transform(
                F.sequence(y_lo, y_hi),
                lambda y: _pack_cell(zc, ((x % ni) + ni) % ni, y),
            )

        return F.flatten(F.transform(F.sequence(x_lo, x_hi), per_x))

    return F.array_distinct(F.concat(*[level_cells(i) for i in range(z + 1)]))


def _explode_neighbors_multilevel(df: DataFrame, lon: str, lat: str, z: int,
                                  ring: int, out: str = "__cell") -> DataFrame:
    return (
        df.withColumn("__tx", geo.tile_x(F.col(lon), F.lit(z)))
        .withColumn("__ty", geo.tile_y(F.col(lat), F.lit(z)))
        .withColumn(out, F.explode(
            neighbor_block_multilevel(F.col("__tx"), F.col("__ty"), z, ring)))
        .drop("__tx", "__ty")
    )


# ---------------------------------------------------------------------------
# J2 — bbox query
# ---------------------------------------------------------------------------

def bbox_query(nodes: DataFrame, west: float, south: float, east: float,
               north: float, lon: str = "lon", lat: str = "lat",
               epsilon: float = geo.BBOX_EPSILON_DEG) -> DataFrame:
    """Inclusive-epsilon bbox filter; Catalyst pushes it to the scan."""
    return nodes.filter(geo.in_bbox(F.col(lon), F.col(lat), west, south, east, north, epsilon))


# ---------------------------------------------------------------------------
# J3 — radius query / join
# ---------------------------------------------------------------------------

def radius_query(nodes: DataFrame, center_lon: float, center_lat: float,
                 radius_m: float, id_col: str = "id",
                 lon: str = "lon", lat: str = "lat") -> DataFrame:
    """All nodes within radius_m of the center, ordered by (distance, id).

    Conservative bbox prefilter (pushed to the scan) then exact haversine —
    the distributed twin of nodes.ts:493-529.
    """
    dlat = math.degrees(radius_m / geo.EARTH_RADIUS_M)
    coslat = max(math.cos(math.radians(center_lat)), 1e-9)
    dlon = math.degrees(radius_m / (geo.EARTH_RADIUS_M * coslat))
    pre = nodes.filter(
        geo.in_bbox(F.col(lon), F.col(lat),
                    center_lon - dlon, center_lat - dlat,
                    center_lon + dlon, center_lat + dlat, epsilon=0.0)
        if dlon < 180.0 else F.lit(True)
    )
    dist = geo.haversine_m(F.col(lon), F.col(lat), F.lit(center_lon), F.lit(center_lat))
    return (
        pre.withColumn("dist_m", dist)
        .filter(F.col("dist_m") <= radius_m)
        .orderBy("dist_m", id_col)
    )


def radius_join(queries: DataFrame, points: DataFrame, radius_m: float,
                q_lon: str = "lon", q_lat: str = "lat",
                p_lon: str = "lon", p_lat: str = "lat",
                z: int | None = None, lat_hint: float = 45.0) -> DataFrame:
    """Distance join: every (query, point) pair within radius_m.

    Coarse: points keyed by their cell; queries exploded to the 3x3 neighbor
    block at a zoom where one ring covers the radius. Fine: haversine.
    Output: all query columns (q_ prefix dropped), point columns prefixed
    p_, plus dist_m.
    """
    if z is None:
        z = zoom_for_radius(radius_m, lat_hint)
    p = points.select(
        *[F.col(c).alias(f"p_{c}") for c in points.columns],
        geo.cell_key(F.col(p_lon), F.col(p_lat), F.lit(z)).alias("__cell"),
    )
    q = _explode_neighbors(queries, q_lon, q_lat, z)
    dist = geo.haversine_m(F.col(q_lon), F.col(q_lat), F.col(f"p_{p_lon}"), F.col(f"p_{p_lat}"))
    return (
        q.join(p, "__cell")
        .withColumn("dist_m", dist)
        .filter(F.col("dist_m") <= radius_m)
        .drop("__cell")
    )


# ---------------------------------------------------------------------------
# J4 — kNN via cell-ring expansion
# ---------------------------------------------------------------------------

def knn_join(queries: DataFrame, points: DataFrame, k: int,
             query_id: str = "query_id", point_id: str = "id",
             q_lon: str = "lon", q_lat: str = "lat",
             p_lon: str = "lon", p_lat: str = "lat",
             z: int = 12, max_ring: int = 8) -> DataFrame:
    """k nearest points per query, ordered by (distance, point id) — the
    distributed twin of geoflatbush incremental expansion (ways.ts:369-381).

    Ring expansion with a sufficiency guarantee (`_knn_rings`); each round
    is one cell equi-join, not a cross join.
    """
    p = points.select(
        F.col(point_id).alias("__pid"),
        F.col(p_lon).alias("__plon"),
        F.col(p_lat).alias("__plat"),
        geo.cell_key(F.col(p_lon), F.col(p_lat), F.lit(z)).alias("__cell"),
    )
    queries = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(q_lon).alias("__qlon"),
        F.col(q_lat).alias("__qlat"),
    )
    return _knn_rings(
        queries,
        lambda q, ring: _explode_neighbors(q, "__qlon", "__qlat", z, ring).join(p, "__cell"),
        geo.haversine_m(F.col("__qlon"), F.col("__qlat"), F.col("__plon"), F.col("__plat")),
        "__pid", k, z, max_ring,
    ).withColumnsRenamed({"__qid": query_id, "__pid": point_id})


def _knn_rings(remaining: DataFrame, ring_candidates, dist: Column, cand_id: str,
               k: int, z: int, max_ring: int) -> DataFrame:
    """The kNN ring loop of knn_join and knn_bbox_join (geoflatbush
    `around()`, ways.ts:369-381): remaining = unresolved (__qid, __qlon,
    __qlat) queries; ring_candidates(queries, ring) = their candidates in
    the (2*ring+1)^2 cell block; dist = query-to-candidate distance;
    cand_id = the candidate id, which breaks distance ties.

    A query's top k at ring r are final only if it has k of them and the
    k-th distance <= r * tile ground size, i.e. no unexplored cell could
    hold a closer candidate; the rest re-run at 2r. At max_ring the rest
    keep a best-effort top k. Returns (__qid, cand_id, dist_m, rank)."""
    w = Window.partitionBy("__qid").orderBy(F.col("dist_m"), F.col(cand_id))
    # worst-case tile ground size at the query latitude (shrinks poleward, so
    # using cos(lat) of each query is conservative per-query)
    tile_ground = (
        F.lit(EARTH_CIRCUMFERENCE_M) * F.cos(F.radians(F.col("__qlat"))) / F.lit(1 << z)
    )
    results: DataFrame | None = None
    ring = 1
    while True:
        topk = (
            ring_candidates(remaining, ring).withColumn("dist_m", dist)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
        )
        stats = topk.groupBy("__qid").agg(
            F.max("dist_m").alias("__kth"), F.count("*").alias("__n"),
            F.first(tile_ground).alias("__tg"),
        )
        done_q = stats.filter(
            (F.col("__n") >= k) & (F.col("__kth") <= F.col("__tg") * ring)
        ).select("__qid")
        if ring >= max_ring:
            done_q = stats.select("__qid")  # best effort at the cap
        done = topk.join(done_q, "__qid", "left_semi")
        results = done if results is None else results.unionByName(done)
        remaining = remaining.join(done_q, "__qid", "left_anti")
        if ring >= max_ring or remaining.isEmpty():
            break
        ring *= 2
    return results.select("__qid", cand_id, "dist_m", F.col("__rn").alias("rank"))


# ---------------------------------------------------------------------------
# J5 — bbox-overlap join
# ---------------------------------------------------------------------------
#
# Cover strategy (replaces the round-1 clamped fixed-zoom cover, which could
# silently MISS pairs for geometries spanning >16 tiles): each bbox gets an
# EXACT "split cover" of <= 4 cells at a per-row adaptive zoom — the finest
# zeff <= z where the box spans <= 2 tiles per axis (the MX-CIF quadtree
# assignment, split into up to 4 siblings so a box straddling a coarse cell
# boundary doesn't degrade to the root cell). Two covers of overlapping
# boxes always contain a common point p, so the cell of A containing p and
# the cell of B containing p are ancestor-related; the join therefore
# matches (cover + ancestors of cover) against (cover) in both directions.
#
# Scale: <= 4 + 4*z keys per row (typically ~z+1), all equi-joins. Coarse
# ancestor keys appear on the *ancestors* side for every row but on the
# *cover* side only for genuinely huge geometries, so the per-key join
# cardinality stays output-proportional (sort-merge / AQE handles the rest).


def _shr(x: Column, s: Column) -> Column:
    """x >> s with a column shift amount (tile coords < 2^29: double-exact)."""
    return F.floor(x.cast("double") / F.pow(F.lit(2.0), s.cast("double"))).cast("long")


def _pack_cell(z: Column, x: Column, y: Column) -> Column:
    return F.shiftleft(z.cast("long"), 58) + F.shiftleft(x.cast("long"), 29) + y.cast("long")


# --- cover expressions, built as SQL strings --------------------------------
# A handful of F.expr strings over materialized intermediate columns: the
# same expressions built from py4j Column objects take hundreds of
# constructions and ~1s more DataFrame BUILD time per overlap join
# (measured).

def _tile_x_sqlexpr(lon: str, z: int) -> str:
    return (
        f"CAST(least(greatest(floor((({lon}) / 360.0 + 0.5) * pow(2.0, {z})), 0), "
        f"CAST(pow(2.0, {z}) - 1 AS BIGINT)) AS BIGINT)"
    )


def _tile_y_sqlexpr(lat: str, z: int) -> str:
    s = f"sin(radians({lat}))"
    return (
        f"CAST(least(greatest(floor((0.5 - 0.25 * ln((1.0 + {s}) / (1.0 - {s})) / pi())"
        f" * pow(2.0, {z})), 0), CAST(pow(2.0, {z}) - 1 AS BIGINT)) AS BIGINT)"
    )


_SHR = "CAST(floor(CAST({x} AS DOUBLE) / pow(2.0, CAST(__s AS DOUBLE))) AS BIGINT)"
_MASK29 = (1 << 29) - 1

# ancestors of every cell in __cov (levels zeff-1..0), flat with dups;
# level-0 cells have none — the CASE guard keeps a world-spanning box from
# emitting a junk descending [1, 0] range (a negative-level key)
_ANC_SQL = (
    "flatten(transform(__cov, c -> CASE WHEN shiftright(c, 58) >= 1 THEN "
    "transform(sequence(1, CAST(shiftright(c, 58) AS INT)), i -> "
    "shiftleft(CAST(shiftright(c, 58) - i AS BIGINT), 58) + "
    f"shiftleft(CAST(floor(CAST((shiftright(c, 29) & {_MASK29}) AS DOUBLE)"
    " / pow(2.0, CAST(i AS DOUBLE))) AS BIGINT), 29) + "
    f"CAST(floor(CAST((c & {_MASK29}) AS DOUBLE) / pow(2.0, CAST(i AS DOUBLE))) AS BIGINT)"
    ") ELSE CAST(array() AS ARRAY<BIGINT>) END))"
)


def _with_adaptive_cover(df: DataFrame, box: tuple[str, str, str, str],
                         z: int, out: str = "__cov") -> DataFrame:
    """df + `out` column = EXACT bbox cover of the named bbox columns:
    <= 4 packed cell keys at a per-row adaptive zoom zeff <= z (finest
    level where the box spans <= 2 tiles per axis). Never truncates: a
    continent-sized box simply covers at a coarser level.

    Levels to coarsen: the smallest s with 2^s >= max span; the shifted
    ranges then span <= 2 tiles per axis (x1>>s - x0>>s <= 1 iff
    x1 - x0 <= 2^s, for any alignment)."""
    west, south, east, north = box
    df = (
        df.withColumn("__x0", F.expr(_tile_x_sqlexpr(west, z)))
        .withColumn("__x1", F.expr(_tile_x_sqlexpr(east, z)))
        .withColumn("__y0", F.expr(_tile_y_sqlexpr(north, z)))
        .withColumn("__y1", F.expr(_tile_y_sqlexpr(south, z)))
        .withColumn(
            "__s",
            F.expr(
                "CAST(ceil(log2(CAST(greatest(__x1 - __x0, __y1 - __y0, "
                "CAST(1 AS BIGINT)) AS DOUBLE))) AS INT)"
            ),
        )
    )
    xs = f"sequence({_SHR.format(x='__x0')}, {_SHR.format(x='__x1')})"
    ys = f"sequence({_SHR.format(x='__y0')}, {_SHR.format(x='__y1')})"
    cover = (
        f"transform(flatten(transform({xs}, x -> transform({ys}, "
        f"y -> struct(x, y)))), p -> shiftleft(CAST({z} - __s AS BIGINT), 58)"
        " + shiftleft(CAST(p.x AS BIGINT), 29) + CAST(p.y AS BIGINT))"
    )
    return df.withColumn(out, F.expr(cover)).drop("__x0", "__x1", "__y0", "__y1", "__s")


def split_antimeridian(df: DataFrame, west: str = "minx", east: str = "maxx") -> DataFrame:
    """Normalize antimeridian-wrapping bboxes (west > east) into TWO rows
    ([west, 180] and [-180, east]) — the distributed twin of the
    reference's two-query split (nodes.ts:483-489). The overlap-join
    machinery below requires non-wrapping boxes; apply this first when a
    layer can contain wrapped geometries (output pairs may then need a
    per-id distinct)."""
    w, e = F.col(west), F.col(east)
    halves = F.when(
        w > e,
        F.array(
            F.struct(w.alias("w"), F.lit(180.0).alias("e")),
            F.struct(F.lit(-180.0).alias("w"), e.alias("e")),
        ),
    ).otherwise(F.array(F.struct(w.alias("w"), e.alias("e"))))
    return (
        df.withColumn("__h", F.explode(halves))
        .withColumn(west, F.col("__h.w"))
        .withColumn(east, F.col("__h.e"))
        .drop("__h")
    )


def overlap_candidate_pairs(ax: DataFrame, bx: DataFrame, z: int,
                            a_box: tuple[str, str, str, str],
                            b_box: tuple[str, str, str, str]) -> DataFrame:
    """Coarse phase of a bbox-overlap join: all candidate (a, b) row pairs
    whose adaptive covers are ancestor-related (superset of true overlaps).
    ax/bx: pre-aliased frames; *_box name their bbox columns (non-wrapping —
    see split_antimeridian). The caller applies the exact predicate and
    pair dedupe.

    Two equi-joins (one per coarser-side direction), each with one side
    restricted to COVER cells only — that restriction is what keeps per-key
    join cardinality output-proportional. (A tempting single-join variant —
    explode cover+ancestors on both sides and post-filter on an is-cover
    flag — is quadratic: every row carries the level-0 root key, so the
    root alone would join |A| x |B| rows before the filter.)"""
    # materialize the cover as a column FIRST: the ancestor expressions
    # reference it 2-3x, and inlining the trig-bearing cover tree that many
    # times bloats codegen (64 KB method limit). Built via F.expr SQL
    # strings (_with_adaptive_cover) — a DataFrame-build-time win, same plan.
    # localCheckpoint: each side feeds BOTH join directions (cover explode
    # and ancestor explode) — without it the trig cover computes twice per
    # side. The materialized row is narrow (id + 4 doubles + <= 4 packed
    # cells), so this is cheaper than one recompute at any scale.
    a_base = _with_adaptive_cover(ax, a_box, z).localCheckpoint()
    b_base = _with_adaptive_cover(bx, b_box, z).localCheckpoint()
    a_self = a_base.withColumn("__cell", F.explode("__cov")).drop("__cov")
    a_anc = a_base.withColumn(
        "__cell", F.expr(f"explode(array_distinct(concat(__cov, {_ANC_SQL})))")
    ).drop("__cov")
    b_self = b_base.withColumn("__cell", F.explode("__cov")).drop("__cov")
    # strict ancestors, so equal-level pairs are not matched twice; the
    # level sits in the key's top bits, so an ancestor can never equal a
    # cover cell and distinct alone suffices (no array_except)
    b_anc = b_base.withColumn(
        "__cell", F.expr(f"explode(array_distinct({_ANC_SQL}))")
    ).drop("__cov")
    # zeff_b <= zeff_a pairs meet at level zeff_b; zeff_a < zeff_b at zeff_a
    j1 = a_anc.join(b_self, "__cell")
    j2 = a_self.join(b_anc, "__cell")
    return j1.unionByName(j2).drop("__cell")


def _overlap_filtered(ax: DataFrame, bx: DataFrame, z: int,
                      a_cols, b_cols) -> DataFrame:
    """Candidate pairs with the exact overlap predicate applied (pre-aliased
    a_/b_ frames). May contain duplicate pairs (a pair can meet at up to 4
    shared cover cells) — callers dedupe on their id projection."""
    aw, as_, ae, an = a_cols
    bw, bs, be, bn = b_cols
    cands = overlap_candidate_pairs(
        ax, bx, z,
        (f"a_{aw}", f"a_{as_}", f"a_{ae}", f"a_{an}"),
        (f"b_{bw}", f"b_{bs}", f"b_{be}", f"b_{bn}"),
    )
    overlap = geo.bbox_intersects(
        F.col(f"a_{aw}"), F.col(f"a_{as_}"), F.col(f"a_{ae}"), F.col(f"a_{an}"),
        F.col(f"b_{bw}"), F.col(f"b_{bs}"), F.col(f"b_{be}"), F.col(f"b_{bn}"),
    )
    return cands.filter(overlap)


def bbox_overlap_pairs(a: DataFrame, b: DataFrame, a_id: str, b_id: str,
                       z: int = 12,
                       a_cols=("minx", "miny", "maxx", "maxy"),
                       b_cols=("minx", "miny", "maxx", "maxy")) -> DataFrame:
    """Overlapping-id pairs only: DataFrame(a_<a_id>, b_<b_id>), deduped.

    The scale path for J5: the coarse cover join runs over NARROW (id + 4
    box doubles) projections and the pair dedupe shuffles two longs per row
    — never the payload columns (a full-width distinct makes every payload
    byte a shuffle key). Callers rejoin payloads by id where needed."""
    ax = a.select(F.col(a_id).alias(f"a_{a_id}"),
                  *[F.col(c).alias(f"a_{c}") for c in a_cols])
    bx = b.select(F.col(b_id).alias(f"b_{b_id}"),
                  *[F.col(c).alias(f"b_{c}") for c in b_cols])
    return (
        _overlap_filtered(ax, bx, z, a_cols, b_cols)
        .select(f"a_{a_id}", f"b_{b_id}")
        .distinct()
    )


def bbox_overlap_join(a: DataFrame, b: DataFrame, z: int = 12,
                      a_cols=("minx", "miny", "maxx", "maxy"),
                      b_cols=("minx", "miny", "maxx", "maxy"),
                      a_id: str | None = None, b_id: str | None = None) -> DataFrame:
    """All (a, b) pairs whose bboxes overlap (J5). Coarse: adaptive split
    covers + ancestor equi-joins (exact for ANY box size); fine: exact
    overlap + inverted-bbox guard.

    With a_id/b_id given, pair-dedupe runs on the two id columns and the
    payloads are equi-joined back (the 100 TB shape). Without ids the
    legacy full-width distinct is used — fine for narrow frames only."""
    if a_id is not None and b_id is not None:
        pairs = bbox_overlap_pairs(a, b, a_id, b_id, z, a_cols, b_cols)
        a_full = a.select(*[F.col(c).alias(f"a_{c}") for c in a.columns])
        b_full = b.select(*[F.col(c).alias(f"b_{c}") for c in b.columns])
        return (
            pairs.join(a_full, f"a_{a_id}").join(b_full, f"b_{b_id}")
            .select(*[f"a_{c}" for c in a.columns], *[f"b_{c}" for c in b.columns])
        )
    ax = a.select(*[F.col(c).alias(f"a_{c}") for c in a.columns])
    bx = b.select(*[F.col(c).alias(f"b_{c}") for c in b.columns])
    return _overlap_filtered(ax, bx, z, a_cols, b_cols).distinct()


# ---------------------------------------------------------------------------
# J6 — point-in-polygon (broadcast ray-cast refine)
# ---------------------------------------------------------------------------

def point_in_polygon(points: DataFrame, polygons: Sequence[tuple],
                     lon: str = "lon", lat: str = "lat",
                     keep: Iterable[str] | None = None) -> DataFrame:
    """Assign each point the id of the polygon containing it (or drop it).

    polygons: small dim layer [(polygon_id, [(lon, lat), ...]), ...] —
    broadcast to every task; fine phase is vectorized NumPy ray casting
    inside mapInPandas (Arrow batches; the shapely-free stand-in for a
    per-partition STRtree). Points are bbox-prefiltered JVM-side so most
    rows never reach Python.
    """
    import numpy as np

    keep_cols = list(keep) if keep is not None else [c for c in points.columns]
    minx = min(min(v[0] for v in verts) for _, verts in polygons)
    maxx = max(max(v[0] for v in verts) for _, verts in polygons)
    miny = min(min(v[1] for v in verts) for _, verts in polygons)
    maxy = max(max(v[1] for v in verts) for _, verts in polygons)
    pre = points.filter(
        (F.col(lon) >= minx) & (F.col(lon) <= maxx)
        & (F.col(lat) >= miny) & (F.col(lat) <= maxy)
    ).select(*keep_cols)

    polys = [(pid, [(float(x), float(y)) for x, y in verts]) for pid, verts in polygons]
    out_schema = T.StructType(
        list(pre.schema.fields) + [T.StructField("polygon_id", T.LongType(), False)]
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mats = [
            (pid, np.asarray(verts, dtype=np.float64)) for pid, verts in polys
        ]
        for pdf in batches:
            if pdf.empty:
                continue
            px = pdf[lon].to_numpy(dtype=np.float64)
            py = pdf[lat].to_numpy(dtype=np.float64)
            assigned = np.full(len(pdf), -1, dtype=np.int64)
            for pid, v in mats:
                unset = assigned == -1
                if not unset.any():
                    break
                inside = _ray_cast(px[unset], py[unset], v)
                idx = np.nonzero(unset)[0][inside]
                assigned[idx] = pid
            hit = assigned >= 0
            out = pdf.loc[hit].copy()
            out["polygon_id"] = assigned[hit]
            yield out

    return pre.mapInPandas(refine, schema=out_schema)


def _ray_cast(px, py, verts):
    """Vectorized even-odd rule: px/py (M,), verts (N,2) closed implicitly."""
    import numpy as np

    inside = np.zeros(px.shape, dtype=bool)
    n = len(verts)
    j = n - 1
    for i in range(n):
        xi, yi = verts[i]
        xj, yj = verts[j]
        crosses = ((yi > py) != (yj > py)) & (
            px < (xj - xi) * (py - yi) / (yj - yi + 1e-300) + xi
        )
        inside ^= crosses
        j = i
    return inside


def knn_bbox_join(queries: DataFrame, boxes: DataFrame, k: int,
                  query_id: str = "query_id", box_id: str = "id",
                  q_lon: str = "lon", q_lat: str = "lat",
                  z: int = 12, max_ring: int = 8) -> DataFrame:
    """k nearest bbox entities (ways/relations) per query — geoflatbush
    `around()` over the way/relation R-trees (ways.ts:369-381,
    relations.ts:482-494). Distance = great-circle to the nearest point of
    the box (clamp then haversine, geoflatbush's boxDist); inverted bboxes
    (geometry-less entities, ways.ts:350-359) are excluded.

    Ring expansion runs through `_knn_rings`, the loop knn_join uses:
    boxes are exploded to covering cells once; each round equi-joins the
    unresolved queries' multilevel neighbor cells against that cover.
    """
    b = _with_adaptive_cover(
        boxes.filter(
            (F.col("minx") <= F.col("maxx")) & (F.col("miny") <= F.col("maxy"))
        ).select(F.col(box_id).alias("__bid"), "minx", "miny", "maxx", "maxy"),
        ("minx", "miny", "maxx", "maxy"), z,
    ).select(
        "__bid", "minx", "miny", "maxx", "maxy", F.explode("__cov").alias("__cell")
    )
    queries = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(q_lon).alias("__qlon"),
        F.col(q_lat).alias("__qlat"),
    )
    near_lon = F.greatest(F.col("minx"), F.least(F.col("__qlon"), F.col("maxx")))
    near_lat = F.greatest(F.col("miny"), F.least(F.col("__qlat"), F.col("maxy")))

    def ring_candidates(q: DataFrame, ring: int) -> DataFrame:
        # multilevel probe: boxes are covered at a per-row adaptive zoom
        # (possibly coarser than z), so the query emits its neighbor block
        # plus every ancestor of the block — any box cell intersecting the
        # block is an ancestor of some block cell and therefore matches
        return (
            _explode_neighbors_multilevel(q, "__qlon", "__qlat", z, ring)
            .join(b, "__cell")
            .dropDuplicates(["__qid", "__bid"])
        )

    return _knn_rings(
        queries, ring_candidates,
        geo.haversine_m(F.col("__qlon"), F.col("__qlat"), near_lon, near_lat),
        "__bid", k, z, max_ring,
    ).withColumnsRenamed({"__qid": query_id, "__bid": box_id})
