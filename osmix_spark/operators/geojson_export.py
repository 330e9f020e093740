"""GeoJSON export: OSM entities -> GeoJSON Features (the direction the
round-1 repo lacked; sources/geojson.py is the reader).

Reference: packages/geojson/src/entity-to-feature.ts —
- nodeToFeature (Point, properties {id, type, ...tags})
- wayToFeature (LineString, or Polygon when wayIsArea)
- relationToFeature: area -> (Multi)Polygon via ring assembly; line ->
  (Multi)LineString via way chaining grouped by role
  (types/src/relation-kind.ts:160-215); point -> (Multi)Point from node
  members; logic/super -> empty GeometryCollection.

Spark shape: nodes and ways are pure Catalyst expressions (coordinate
resolution = the J1 join; JSON assembly = concat/format_string — no Python
in the two big paths). Relations group per relation via applyInPandas on
top of rings.assemble_relation_rings (groups bounded by the <= 65,535
member cap).

Divergences (documented):
- coordinates are serialized at a fixed decimal precision (default 6,
  ~0.11 m — the common GeoJSON export convention) instead of raw
  shortest-repr doubles, so exported bytes are engine-independent;
- ways with unresolvable refs are DROPPED (flagged in n_missing) rather
  than throwing per-way like wayToFeature;
- multipolygon hole attribution assigns each inner ring to the first outer
  ring containing its first vertex (the reference delegates to
  buildRelationRings' grouping).

Scale: output is one JSON string per feature — write with
`write_geojson_seq` (newline-delimited GeoJSON, RFC 8142 GeoJSONSeq),
which is partition-parallel; a FeatureCollection file is a driver-side
convenience for small extracts only.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geo
from ..plans.stage import per_key


def _fmt_sql(sql: str, precision: int) -> str:
    return f"format_string('%.{precision}f', {sql})"


def _props_json_sql(etype: str, id_sql: str = "id", tags_sql: str = "tags") -> str:
    """{"id":<id>,"type":<t>,...sorted tags} — JS-spread semantics
    ({id, type, ...tags}, entity-to-feature.ts:54-58): a `type` tag
    OVERRIDES the entity-type value, and `id`/`type` tag entries don't
    repeat in the body. Tag entries serialize via to_json (JVM-side
    escaping), keys sorted for determinism.

    Emitted as SQL TEXT (the whole property object is one F.expr): the
    Column-object version of this builder plus _feature_json cost ~100
    py4j round-trips per feature class — ~0.3s of driver latency per
    query on a fixed-size export."""
    # escape the type-tag value exactly like the id-tag override (the
    # reference JSON.stringify's it): to_json on a singleton array, then
    # strip the surrounding [" / "] (caller wraps in quotes)
    tt = f"element_at({tags_sql}, 'type')"
    ttj = f"to_json(array({tt}))"
    it = f"element_at({tags_sql}, 'id')"
    itj = f"to_json(array({it}))"
    mf = f"map_filter({tags_sql}, (k, v) -> k != 'id' and k != 'type')"
    tj = f"to_json(map_from_entries(array_sort(map_entries({mf}))))"
    return (
        "concat('{\"id\":', "
        f"case when {it} is not null then substr({itj}, 2, length({itj}) - 2)"
        f" else cast({id_sql} as string) end, "
        "',\"type\":\"', "
        f"case when {tt} is not null then substr({ttj}, 3, length({ttj}) - 4)"
        f" else '{etype}' end, "
        "'\"', "
        f"case when {mf} is not null and size({mf}) > 0"
        f" then concat(',', substr({tj}, 2, length({tj}) - 2)) else '' end, "
        "'}')"
    )


def _feature_json_sql(id_sql: str, geometry_sql: str, props_sql: str) -> str:
    return (
        "concat('{\"type\":\"Feature\",\"id\":', "
        f"cast({id_sql} as string), "
        "',\"geometry\":', "
        f"{geometry_sql}, "
        "',\"properties\":', "
        f"{props_sql}, "
        "'}')"
    )


def way_coord_arrays(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """(way_id, nrefs, lons, lats) — refs resolved against the node layer
    in ref order; unresolvable refs are dropped (len(lons) < nrefs flags a
    partially-resolved way). ONE shared frame for the way/ring/line paths:
    passing the same DataFrame object to all three makes their subplans
    identical, so Spark's ReuseExchange runs the resolve shuffle once per
    query instead of three times."""
    refs = ways.select(F.col("id").alias("way_id"), F.size("refs").alias("nrefs"),
                       F.posexplode("refs").alias("seq", "ref"))
    return (
        refs.join(nodes.select(F.col("id").alias("ref"), "lon", "lat"), "ref")
        .groupBy("way_id", "nrefs")
        .agg(F.array_sort(F.collect_list(F.struct("seq", "lon", "lat"))).alias("s"))
        .select("way_id", "nrefs", F.col("s.lon").alias("lons"), F.col("s.lat").alias("lats"))
    )


def nodes_to_features(nodes: DataFrame, precision: int = 6) -> DataFrame:
    """nodeToFeature (entity-to-feature.ts:45-60): (id, lon, lat, tags) ->
    (id, entity_type, feature json). Pure Catalyst (one selectExpr)."""
    geometry = (
        "concat('{\"type\":\"Point\",\"coordinates\":[', "
        f"{_fmt_sql('lon', precision)}, ',', {_fmt_sql('lat', precision)}, ']}}')"
    )
    return nodes.selectExpr(
        "id",
        "'node' as entity_type",
        _feature_json_sql("id", geometry, _props_json_sql("node")) + " as feature",
    )


def ways_to_features(ways: DataFrame, nodes: DataFrame, precision: int = 6,
                     coords: DataFrame | None = None) -> DataFrame:
    """wayToFeature (entity-to-feature.ts:77-107): LineString, or Polygon
    when wayIsArea. Coordinate resolution is the J1 join; ways whose refs
    don't fully resolve are dropped. coords: optional pre-built
    way_coord_arrays frame (share it across paths for exchange reuse)."""
    if coords is None:
        coords = way_coord_arrays(ways, nodes)
    resolved = coords.filter(F.size("lons") == F.col("nrefs")).select(
        F.col("way_id").alias("id"), "lons", "lats"
    )
    w = ways.join(resolved, "id")
    fx, fy = _fmt_sql("x", precision), _fmt_sql("y", precision)
    coords_json = (
        "concat('[', array_join(zip_with(lons, lats, "
        f"(x, y) -> concat('[', {fx}, ',', {fy}, ']')), ','), ']')"
    )
    is_closed = "(size(refs) >= 4 and element_at(refs, 1) = element_at(refs, -1))"
    geometry = (
        f"case when {geo.way_is_area_sql('tags', is_closed)} then "
        "concat('{\"type\":\"Polygon\",\"coordinates\":[', "
        f"{coords_json}, ']}}') else "
        "concat('{\"type\":\"LineString\",\"coordinates\":', "
        f"{coords_json}, '}}') end"
    )
    return w.selectExpr(
        "id",
        "'way' as entity_type",
        _feature_json_sql("id", geometry, _props_json_sql("way")) + " as feature",
    )


def _chain_open(ways_c: list[list[tuple[float, float]]]) -> list[list]:
    """connectWaysToLineStrings (relation-kind.ts:188-215): greedy end-to-
    end chaining, keeping OPEN chains (unlike ring assembly)."""
    pending = [list(w) for w in ways_c if len(w) >= 2]
    chains: list[list] = []
    while pending:
        chain = pending.pop(0)
        progress = True
        while progress:
            progress = False
            for i, cand in enumerate(pending):
                if cand[0] == chain[-1]:
                    chain = chain + cand[1:]
                elif cand[-1] == chain[-1]:
                    chain = chain + list(reversed(cand))[1:]
                elif cand[-1] == chain[0]:
                    chain = cand + chain[1:]
                elif cand[0] == chain[0]:
                    chain = list(reversed(cand)) + chain[1:]
                else:
                    continue
                pending.pop(i)
                progress = True
                break
        chains.append(chain)
    return chains


def _pip(px: float, py: float, ring: list[tuple[float, float]]) -> bool:
    inside = False
    j = len(ring) - 2
    for i in range(len(ring) - 1):
        xi, yi = ring[i]
        xj, yj = ring[j]
        if (yi > py) != (yj > py) and px < (xj - xi) * (py - yi) / (yj - yi + 1e-300) + xi:
            inside = not inside
        j = i
    return inside


_REL_GEOM_SCHEMA = T.StructType(
    [
        T.StructField("relation_id", T.LongType(), False),
        T.StructField("geometry", T.StringType(), False),
    ]
)


def _build_area_geom(pdf: pd.DataFrame, precision: int) -> str:
    """Ring assembly (identical to rings.assemble_relation_rings —
    chaining, winding, canonical (role, first-coord) order) fused with the
    JSON build. Polygon for a single outer, else MultiPolygon; each inner
    attached to the first containing outer."""
    from .rings import canonical_ring, connect_ways_to_rings, ensure_winding

    def ring_json(ring):
        pts = ",".join(f"[{x:.{precision}f},{y:.{precision}f}]" for x, y in ring)
        return f"[{pts}]"

    assembled: list[tuple[str, list]] = []
    for role in ("outer", "inner"):
        group = pdf[pdf["role"] == role].sort_values("way_id")
        ways_c = [list(zip(r.lons, r.lats)) for r in group.itertuples(index=False)]
        for ring in connect_ways_to_rings(ways_c):
            ring = canonical_ring(ensure_winding(ring, clockwise=(role == "inner")))
            assembled.append((role, ring))
    assembled.sort(key=lambda r: (r[0], r[1][0][0], r[1][0][1]))
    outers = [ring for role, ring in assembled if role != "inner"]
    inners = [ring for role, ring in assembled if role == "inner"]
    if not outers:
        return '{"type":"MultiPolygon","coordinates":[]}'
    polys: list[list[str]] = [[ring_json(o)] for o in outers]
    for ring in inners:
        target = 0
        for i, outer in enumerate(outers):
            if _pip(ring[0][0], ring[0][1], outer):
                target = i
                break
        polys[target].append(ring_json(ring))
    if len(polys) == 1:
        return '{"type":"Polygon","coordinates":[' + ",".join(polys[0]) + "]}"
    body = ",".join("[" + ",".join(p) + "]" for p in polys)
    return '{"type":"MultiPolygon","coordinates":[' + body + "]}"


def _build_line_geom(pdf: pd.DataFrame, precision: int) -> str:
    """Member ways chained per role group (buildRelationLineStrings,
    relation-kind.ts:160-215)."""
    roles = sorted(pdf["role"].unique())
    groups = [pdf] if len(roles) <= 1 else [pdf[pdf["role"] == r] for r in roles]
    lines: list[list] = []
    for grp in groups:
        # MEMBER order, not way-id order: greedy chaining is
        # order-sensitive and the reference consumes relation.members
        # in sequence (relation-kind.ts:160-215)
        ways_c = [
            list(zip(r.lons, r.lats))
            for r in grp.sort_values("seq").itertuples(index=False)
        ]
        lines.extend(_chain_open(ways_c))

    def line_json(line):
        return "[" + ",".join(
            f"[{x:.{precision}f},{y:.{precision}f}]" for x, y in line
        ) + "]"

    if not lines:
        return '{"type":"MultiLineString","coordinates":[]}'
    if len(lines) == 1:
        return '{"type":"LineString","coordinates":' + line_json(lines[0]) + "}"
    return ('{"type":"MultiLineString","coordinates":['
            + ",".join(line_json(li) for li in lines) + "]}")


def _build_point_geom(pdf: pd.DataFrame, precision: int) -> str:
    """collectRelationPoints (entity-to-feature.ts): node members in member
    order. Formatting note: Python's f"{x:.Nf}" and the JVM's
    format_string("%.Nf") both correctly round the exact binary double
    (Java goes through BigDecimal(double)), and a double can never sit
    exactly on a decimal rounding tie, so the two are byte-identical —
    this builder replaced a Catalyst concat path without an oracle diff."""
    verts = sorted(
        (r.seq, r.lons[0], r.lats[0]) for r in pdf.itertuples(index=False)
    )  # (seq, lon, lat) — matches the former array_sort(struct(...)) order
    pts = [f"[{x:.{precision}f},{y:.{precision}f}]" for _, x, y in verts]
    if len(pts) == 1:
        return '{"type":"Point","coordinates":' + pts[0] + "}"
    return '{"type":"MultiPoint","coordinates":[' + ",".join(pts) + "]}"


def _relation_geometry_json(area_members: DataFrame, line_members: DataFrame,
                            coords: DataFrame, precision: int = 6,
                            point_vertices: DataFrame | None = None) -> DataFrame:
    """Area, line AND point relation geometries in ONE applyInPandas pass:
    all three group by relation_id (a relation has exactly one kind), so
    running them as separate stages costs extra shuffles + Python stages
    for nothing — at tiny-extract scale each materialized exchange is a
    whole AQE job (~0.2s driver latency). Assembly semantics per kind are
    byte-identical to the split paths (see _build_area_geom /
    _build_line_geom / _build_point_geom).

    point_vertices: optional (relation_id, lon, lat, seq) frame of
    resolved node members of point-kind relations."""
    am = area_members.selectExpr(
        "relation_id", "member_ref as way_id",
        "coalesce(role, 'outer') as role", "0 as seq", "'area' as kind",
    )
    lm = line_members.where("member_type = 'way'").selectExpr(
        "relation_id", "member_ref as way_id",
        "lower(coalesce(role, '')) as role", "seq", "'line' as kind",
    )
    m = am.unionByName(lm).join(coords.select("way_id", "lons", "lats"), "way_id")
    if point_vertices is not None:
        pv = point_vertices.selectExpr(
            "relation_id", "cast(-1 as bigint) as way_id", "'' as role",
            "seq", "'point' as kind",
            "array(lon) as lons", "array(lat) as lats",
        )
        m = m.unionByName(pv)

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        rid = int(key[0])
        kind = pdf["kind"].iloc[0]
        if kind == "area":
            geom = _build_area_geom(pdf, precision)
        elif kind == "point":
            geom = _build_point_geom(pdf, precision)
        else:
            geom = _build_line_geom(pdf, precision)
        return pd.DataFrame([{"relation_id": rid, "geometry": geom}])

    return per_key(m, ["relation_id"], build, _REL_GEOM_SCHEMA)


def relations_to_features(relations: DataFrame, members: DataFrame,
                          ways: DataFrame, nodes: DataFrame,
                          precision: int = 6,
                          coords: DataFrame | None = None) -> DataFrame:
    """relationToFeature (entity-to-feature.ts:130-330) by relation kind.

    relations: (id, tags); members: (relation_id, member_type, member_ref,
    role, seq) — seq preserves the reference's member order for point
    relations. coords: optional shared way_coord_arrays frame."""
    if coords is None:
        coords = way_coord_arrays(ways, nodes)
    has_rel = members.filter(F.col("member_type") == "relation").select(
        F.col("relation_id").alias("id"), F.lit(True).alias("__hrm")
    ).distinct()
    rel = relations.join(has_rel, "id", "left").withColumn(
        "kind", geo.relation_kind(F.col("tags"), F.coalesce("__hrm", F.lit(False)))
    )

    # ONE broadcast of (relation_id, kind) routes every member row —
    # replacing three per-kind semi-joins (each its own broadcast job)
    mm = members.join(
        F.broadcast(rel.select(F.col("id").alias("relation_id"), "kind")),
        "relation_id",
    )
    area_members = mm.filter(
        (F.col("kind") == "area") & (F.col("member_type") == "way")
    )
    line_members = mm.filter(F.col("kind") == "line")
    # point relations: node members resolved against the node layer; the
    # geometry builds in the SAME applyInPandas pass as area/line
    point_vertices = (
        mm.filter((F.col("kind") == "point") & (F.col("member_type") == "node"))
        .join(nodes.select(F.col("id").alias("member_ref"), "lon", "lat"),
              "member_ref")
        .select("relation_id", "lon", "lat", "seq")
    )
    geom = _relation_geometry_json(area_members, line_members, coords,
                                   precision, point_vertices=point_vertices)
    out = rel.join(geom.withColumnRenamed("relation_id", "id"), "id", "left")
    # logic/super relations and empty geometries (entity-to-feature.ts:297-306)
    geometry = (
        "coalesce(geometry, "
        "case when kind = 'area' then '{\"type\":\"MultiPolygon\",\"coordinates\":[]}' "
        "when kind = 'line' then '{\"type\":\"MultiLineString\",\"coordinates\":[]}' "
        "when kind = 'point' then '{\"type\":\"MultiPoint\",\"coordinates\":[]}' "
        "else '{\"type\":\"GeometryCollection\",\"geometries\":[]}' end)"
    )
    return out.selectExpr(
        "id",
        "'relation' as entity_type",
        _feature_json_sql("id", geometry, _props_json_sql("relation"))
        + " as feature",
    )


def to_geojson_features(nodes: DataFrame | None = None, ways: DataFrame | None = None,
                        relations: DataFrame | None = None,
                        members: DataFrame | None = None,
                        precision: int = 6) -> DataFrame:
    """osmEntityToGeoJSONFeature over whole layers: union of the three
    feature classes as (id, entity_type, feature-json) rows."""
    frames = []
    # ONE shared coordinate-resolution frame: the way path and both
    # relation geometry paths reference the same subplan, so ReuseExchange
    # materializes the resolve shuffle once
    coords = way_coord_arrays(ways, nodes) if ways is not None and nodes is not None else None
    if nodes is not None:
        frames.append(nodes_to_features(nodes, precision))
    if ways is not None:
        if nodes is None:
            raise ValueError("ways need the node layer for coordinates")
        frames.append(ways_to_features(ways, nodes, precision, coords=coords))
    if relations is not None:
        if members is None or ways is None or nodes is None:
            raise ValueError("relations need members + ways + nodes")
        frames.append(relations_to_features(relations, members, ways, nodes,
                                            precision, coords=coords))
    if not frames:
        raise ValueError("at least one layer required")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def write_geojson_seq(features: DataFrame, path: str) -> None:
    """Newline-delimited GeoJSON (GeoJSONSeq / RFC 8142): partition-parallel
    writer — the 100 TB-safe export format."""
    features.select("feature").write.mode("overwrite").text(path)


def feature_collection(features: DataFrame, limit: int | None = None) -> str:
    """Small-extract convenience: a single FeatureCollection string
    (DRIVER-side collect — use write_geojson_seq at scale)."""
    df = features.orderBy("entity_type", "id")
    if limit is not None:
        df = df.limit(limit)
    feats = [r["feature"] for r in df.select("feature").collect()]
    return '{"type":"FeatureCollection","features":[' + ",".join(feats) + "]}"
