"""Tile materialization tests: MVT round-trip (encode -> decode), encoding
determinism across parallelism, raster PNG validity."""

from __future__ import annotations

import os
import zlib

from pyspark.sql import functions as F

from osmix_spark.functions import mvt
from osmix_spark.operators import tiles
from osmix_spark.sources import synth


def test_mvt_roundtrip_point_and_line():
    layers = {
        "pts": [
            {"id": 7, "type": mvt.GEOM_POINT, "geometry": [[(100, 200)]],
             "tags": {"name": "a", "rank": 3}},
        ],
        "lines": [
            {"id": 9, "type": mvt.GEOM_LINESTRING,
             "geometry": [[(0, 0), (10, 5), (-3, 5)]], "tags": {"hw": "primary"}},
        ],
    }
    buf = mvt.encode_tile(layers)
    out = mvt.decode_tile(buf)
    assert set(out) == {"pts", "lines"}
    p = out["pts"][0]
    assert p["id"] == 7 and p["geometry"] == [[(100, 200)]]
    assert p["tags"] == {"name": "a", "rank": 3}
    ln = out["lines"][0]
    assert ln["geometry"] == [[(0, 0), (10, 5), (-3, 5)]]
    assert ln["tags"] == {"hw": "primary"}


def test_mvt_roundtrip_polygon():
    ring = [(0, 0), (100, 0), (100, 100), (0, 100), (0, 0)]
    buf = mvt.encode_tile(
        {"polys": [{"id": 1, "type": mvt.GEOM_POLYGON, "geometry": [ring], "tags": {}}]}
    )
    out = mvt.decode_tile(buf)
    assert out["polys"][0]["geometry"] == [ring]


def _points(spark, n=500, parts=3):
    return (
        spark.range(n)
        .repartition(parts)
        .select(
            F.col("id"),
            synth.clustered_lon("id").alias("lon"),
            synth.clustered_lat("id").alias("lat"),
        )
    )


def test_point_mvt_determinism_across_parallelism(spark):
    def tile_hashes(parts):
        px = tiles.point_tile_px(_points(spark, parts=parts), z=13)
        t = tiles.encode_point_mvt(px)
        return {
            (r["z"], r["tx"], r["ty"]): (r["content_hash"], r["n_features"])
            for r in t.collect()
        }

    a, b = tile_hashes(1), tile_hashes(7)
    assert a == b
    assert len(a) > 1
    assert sum(n for _, n in a.values()) == 500


def test_point_mvt_decodes(spark):
    px = tiles.point_tile_px(_points(spark, n=50), z=12)
    row = tiles.encode_point_mvt(px).orderBy("tx", "ty").collect()[0]
    out = mvt.decode_tile(bytes(row["tile"]))
    assert len(out["points"]) == row["n_features"]
    for f in out["points"]:
        x, y = f["geometry"][0][0]
        # within extent plus rounding
        assert 0 <= x <= mvt.EXTENT and 0 <= y <= mvt.EXTENT


def test_raster_png_valid(spark):
    px = tiles.point_tile_px(_points(spark, n=100), z=12)
    row = tiles.render_point_raster(px).orderBy("tx", "ty").collect()[0]
    png = bytes(row["png"])
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    # IDAT decompresses to 256 rows of 1+256*4 bytes
    idat_start = png.index(b"IDAT") + 4
    idat_len = int.from_bytes(png[idat_start - 8 : idat_start - 4], "big")
    raw = zlib.decompress(png[idat_start : idat_start + idat_len])
    assert len(raw) == 256 * (1 + 256 * 4)
    # at least one non-transparent pixel
    assert any(raw[i] for i in range(len(raw)))


def test_raster_lines(spark):
    import zlib as _zlib

    ways = spark.createDataFrame(
        [(12, 100, 200, 1, [0, 4096], [0, 4096]),       # diagonal
         (12, 100, 200, 2, [0, 4096], [2048, 2048])],    # horizontal
        "z int, tx long, ty long, way_id long, pxs array<int>, pys array<int>",
    )
    row = tiles.render_line_raster(ways).collect()[0]
    png = bytes(row["png"])
    idat_start = png.index(b"IDAT") + 4
    idat_len = int.from_bytes(png[idat_start - 8 : idat_start - 4], "big")
    raw = _zlib.decompress(png[idat_start : idat_start + idat_len])
    stride = 1 + 256 * 4
    # the diagonal hits (i, i); the horizontal row 128 is fully drawn
    def px(x, y):
        o = y * stride + 1 + x * 4
        return raw[o : o + 4]
    assert px(10, 10) != b"\x00\x00\x00\x00"
    assert all(px(x, 128) != b"\x00\x00\x00\x00" for x in range(0, 256, 16))
    assert px(5, 200) == b"\x00\x00\x00\x00"


def test_polygon_mvt_winding(spark):
    # outer ring given screen-CCW (needs flip), inner given screen-CW (needs flip)
    outer = ([0, 0, 1000, 1000, 0], [0, 1000, 1000, 0, 0])        # shoelace < 0 in px axes
    inner = ([200, 800, 800, 200, 200], [200, 200, 800, 800, 200])  # shoelace > 0
    rings_px = spark.createDataFrame(
        [(12, 1, 2, 50, 0, "outer", *outer), (12, 1, 2, 50, 1, "inner", *inner)],
        "z int, tx long, ty long, feature_id long, ring_index int, role string, "
        "pxs array<int>, pys array<int>",
    )
    row = tiles.encode_polygon_mvt(rings_px).collect()[0]
    assert row["n_features"] == 1
    feats = mvt.decode_tile(bytes(row["tile"]))["areas"]
    assert len(feats) == 1 and feats[0]["type"] == mvt.GEOM_POLYGON
    g = feats[0]["geometry"]
    assert len(g) == 2
    assert tiles._shoelace_px(g[0]) > 0   # outer screen-CW (y down)
    assert tiles._shoelace_px(g[1]) < 0   # inner screen-CCW


def test_polygon_raster_fill(spark):
    # square covering px 512..3584 (=> pixels 32..223) with a hole 1536..2560
    outer = ([512, 3584, 3584, 512, 512], [512, 512, 3584, 3584, 512])
    hole = ([1536, 2560, 2560, 1536, 1536], [1536, 1536, 2560, 2560, 1536])
    rings_px = spark.createDataFrame(
        [(10, 5, 6, 1, 0, "outer", *outer), (10, 5, 6, 1, 1, "inner", *hole)],
        "z int, tx long, ty long, feature_id long, ring_index int, role string, "
        "pxs array<int>, pys array<int>",
    )
    row = tiles.render_polygon_raster(rings_px).collect()[0]
    png = bytes(row["png"])
    idat_start = png.index(b"IDAT") + 4
    idat_len = int.from_bytes(png[idat_start - 8 : idat_start - 4], "big")
    raw = zlib.decompress(png[idat_start : idat_start + idat_len])
    stride = 1 + 256 * 4

    def px(x, y):
        o = y * stride + 1 + x * 4
        return raw[o : o + 4]

    assert px(64, 64) != b"\x00\x00\x00\x00"       # inside outer, outside hole
    assert px(128, 128) == b"\x00\x00\x00\x00"     # inside the hole (even-odd)
    assert px(10, 10) == b"\x00\x00\x00\x00"       # outside the polygon
    assert px(200, 64) != b"\x00\x00\x00\x00"      # right band between hole and edge


def test_composite_raster_painter_order(spark):
    import zlib as _zlib

    rings = spark.createDataFrame(
        [(10, 5, 6, 1, 0, "outer",
          [512, 3584, 3584, 512, 512], [512, 512, 3584, 3584, 512])],
        "z int, tx long, ty long, feature_id long, ring_index int, role string, "
        "pxs array<int>, pys array<int>",
    )
    ways = spark.createDataFrame(
        [(10, 5, 6, 2, [0, 4096], [2048, 2048])],   # horizontal line y=128
        "z int, tx long, ty long, way_id long, pxs array<int>, pys array<int>",
    )
    pts = spark.createDataFrame(
        [(10, 5, 6, 3, 2048, 2048)],                # point at center (128,128)
        "z int, tx long, ty long, id long, px int, py int",
    )
    feats = tiles.composite_raster_inputs(points_px=pts, ways_px=ways, rings_px=rings)
    row = tiles.render_composite_raster(feats).collect()[0]
    assert row["n_features"] == 3
    png = bytes(row["png"])
    idat_start = png.index(b"IDAT") + 4
    idat_len = int.from_bytes(png[idat_start - 8 : idat_start - 4], "big")
    raw = _zlib.decompress(png[idat_start : idat_start + idat_len])
    stride = 1 + 256 * 4

    def px(x, y):
        o = y * stride + 1 + x * 4
        return tuple(raw[o : o + 4])

    # drawPixel fast path (raster-tile.ts:184-200): the FIRST draw on a
    # transparent pixel writes the raw color — not a blend over black
    assert px(64, 64) == (0, 0, 255, 64)          # area alone: raw blue a=64
    assert px(128, 128) == (255, 0, 0, 255)       # point on top: opaque red wins
    # line over area: linear-light premultiplied source-over (color.ts)
    import numpy as np

    expected = tuple(
        tiles._composite_pair(np.array([[0, 0, 255, 64]], dtype=np.uint8),
                              (255, 255, 255, 230))[0]
    )
    assert px(64, 128) == expected
    assert px(64, 128)[3] == 236                  # a = 230/255 + 64/255 * (1-230/255)
    assert px(10, 10) == (0, 0, 0, 0)             # empty background


def test_way_tile_px_spans_tiles(spark):
    from osmix_spark.functions import geo as _geo
    from osmix_spark.sources import fixtures

    # a way crossing a z1 tile boundary at lon 0
    nodes = spark.createDataFrame(
        [(1, -10.0, 10.0, None), (2, 10.0, 10.0, None)], fixtures.NODE_SCHEMA
    )
    ways = spark.createDataFrame([(7, [1, 2], None)], fixtures.WAY_SCHEMA)
    out = tiles.way_tile_px(ways, nodes, z=1).collect()
    assert {(r["tx"], r["ty"]) for r in out} == {(0, 0), (1, 0)}
    for r in out:
        assert len(r["pxs"]) == 2 and len(r["pys"]) == 2
    # in tile (1,0) the western vertex is left of the tile edge (negative px)
    west = {r["tx"]: r["pxs"][0] for r in out}
    assert west[1] < 0 <= west[0]
    # end-to-end: the exploded rows encode into valid MVT tiles
    enc = _scalar_way_tiles(out)
    assert len(enc) == 2 and all(n == 1 for _buf, n in enc.values())
    for buf, _n in enc.values():
        assert [f["id"] for f in mvt.decode_tile(buf)["ways"]] == [7]


def _scalar_way_tiles(px_rows, layer="ways"):
    """Reference line tiles from way_tile_px rows through the scalar
    mvt.encode_tile: vertices clamped to the 64 px buffer, consecutive
    duplicates dropped (cleanCoords), features with < 2 points skipped,
    ways ascending within each tile. -> {(z, tx, ty): (bytes, n_features)}"""
    lo, hi = -mvt.BUFFER_PX, mvt.EXTENT + mvt.BUFFER_PX
    feats = {}
    for r in sorted(px_rows, key=lambda r: r["way_id"]):
        pts = []
        for x, y in zip(r["pxs"], r["pys"]):
            p = (min(max(x, lo), hi), min(max(y, lo), hi))
            if not pts or p != pts[-1]:
                pts.append(p)
        if len(pts) >= 2:
            feats.setdefault((r["z"], r["tx"], r["ty"]), []).append(
                {"id": r["way_id"], "type": mvt.GEOM_LINESTRING,
                 "geometry": [pts], "tags": {}}
            )
    return {k: (mvt.encode_tile({layer: f}), len(f)) for k, f in feats.items()}


def test_vertex_direct_way_encode_bytes_identical(spark):
    """encode_way_mvt_vertices (tile explode inside the Arrow boundary)
    must produce byte-identical tiles to the scalar mvt.encode_tile over
    way_tile_px rows (JVM array explode), including the projection
    rounding and cleanCoords/degenerate handling."""
    import pyspark.sql.functions as F

    from osmix_spark import queries as q

    sf_dir = "/root/testdata/sf0.001"
    refs = q._t(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("id")
    ).agg(
        F.array_sort(
            F.collect_list(F.struct("l_linenumber", "l_partkey"))
        ).getField("l_partkey").alias("refs")
    )
    nodes = q._part_points(spark, sf_dir).select(
        F.col("p_partkey").alias("id"), "lon", "lat"
    )
    ref = _scalar_way_tiles(tiles.way_tile_px(refs, nodes, z=12).collect())
    verts = (
        q._t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("way_id"),
            F.col("l_linenumber").alias("s1"),
            F.col("l_partkey").alias("s2"),
            F.col("l_partkey").alias("ref"),
        )
        .join(F.broadcast(nodes.withColumnRenamed("id", "ref")), "ref")
    )
    new = {
        (r["z"], r["tx"], r["ty"]): (bytes(r["tile"]), r["n_features"])
        for r in tiles.encode_way_mvt_vertices(verts, z=12).collect()
    }
    assert set(ref) == set(new) and len(ref) > 0
    for k in ref:
        assert ref[k] == new[k]

    # stats_only (per-block decode fused into the encode pass + JVM-side
    # distributive rollup) must equal decoding the materialized tiles
    fused = {
        (r["z"], r["tx"], r["ty"]): tuple(
            r[f] for f in ("n_features", "n_vertices", "sum_px", "sum_py",
                           "min_px", "max_px", "min_py", "max_py", "sum_ids")
        )
        for r in tiles.encode_way_mvt_vertices(
            verts, z=12, stats_only=True
        ).collect()
    }
    decoded = {
        (r["z"], r["tx"], r["ty"]): tuple(
            r[f] for f in ("n_features", "n_vertices", "sum_px", "sum_py",
                           "min_px", "max_px", "min_py", "max_py", "sum_ids")
        )
        for r in tiles.mvt_decoded_stats(
            tiles.encode_way_mvt_vertices(verts, z=12), layer="ways"
        ).collect()
    }
    assert fused == decoded and len(fused) > 0


def test_way_vertex_shuffle_uses_every_partition(spark, sf_dir):
    """The vertex shuffle of encode_way_mvt_vertices spreads sf0.01's
    60,000 way vertices over every defaultParallelism partition, none
    above 1.5x the mean: the Python encode then runs on every core."""
    par = spark.sparkContext.defaultParallelism
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    ways = spark.read.parquet(os.path.join(sf001, "lineitem.parquet")).select(
        F.col("l_orderkey").alias("way_id")
    )
    sizes = [
        r["count"]
        for r in tiles._by_way_block(ways)
        .groupBy(F.spark_partition_id()).count().collect()
    ]
    assert len(sizes) == par and sum(sizes) == 60_000
    assert max(sizes) <= 1.5 * sum(sizes) / par


def test_ring_tile_px_replicates_holes(spark):
    rings = spark.createDataFrame(
        [(100, 0, "outer", [-10.0, 10.0, 10.0, -10.0, -10.0],
          [-5.0, -5.0, 5.0, 5.0, -5.0]),
         (100, 1, "inner", [-8.0, -6.0, -6.0, -8.0, -8.0],
          [-2.0, -2.0, 2.0, 2.0, -2.0])],   # hole only in the western half
        "relation_id long, ring_index int, role string, "
        "lons array<double>, lats array<double>",
    )
    out = tiles.ring_tile_px(rings, z=1).collect()
    # lat +-5 straddles the equator tile edge too: the feature bbox covers
    # all four z1 tiles, and BOTH rings replicate to every covering tile
    by_tile = {}
    for r in out:
        by_tile.setdefault((r["tx"], r["ty"]), set()).add(r["ring_index"])
    assert by_tile == {(x, y): {0, 1} for x in (0, 1) for y in (0, 1)}


def test_composite_same_color_coverage_accumulation():
    """color.ts: drawing one semi-transparent color n times accumulates
    coverage a_n = 1 - (1-a)^n; rgb stays the source color."""
    import numpy as np

    c = (0, 0, 255, 64)
    img = np.zeros((1, 2, 4), dtype=np.uint8)
    counts = np.array([[1, 3]], dtype=np.int32)
    tiles._draw_counts(img, counts, c)
    assert tuple(img[0, 0]) == c  # single draw = raw write
    a = 64 / 255
    a3 = 1 - (1 - a) ** 3
    assert img[0, 1, 3] == round(a3 * 255)
    assert img[0, 1, 2] == 255 and img[0, 1, 0] == 0


def test_mvt_typed_tag_values_roundtrip():
    """MVT 2.1 typed values (write-vt-pbf.ts parity): string, sint64,
    double, bool all survive encode->decode."""
    from osmix_spark.functions import mvt as mvt_fn

    feats = [{
        "id": 7, "type": mvt_fn.GEOM_POINT, "geometry": [[(10, 20)]],
        "tags": {"s": "name", "n": -42, "f": 1.5, "b": True},
    }]
    out = mvt_fn.decode_tile(mvt_fn.encode_tile({"layer": feats}))
    tags = out["layer"][0]["tags"]
    assert tags == {"s": "name", "n": -42, "f": 1.5, "b": True}
    assert isinstance(tags["n"], int) and isinstance(tags["f"], float)
    assert isinstance(tags["b"], bool)


def test_malformed_numeric_tags_do_not_abort(spark):
    """parseNumber must be NULL on garbage (try_cast), not an ANSI-mode
    job abort — real OSM carries maxspeed='50 mph' etc."""
    from osmix_spark.operators.shortbread import layer_matches

    df = spark.createDataFrame(
        [(1, {"highway": "primary", "maxspeed": "50 mph", "oneway": "yes"}),
         (2, {"boundary": "administrative", "admin_level": "yes"})],
        "id long, tags map<string,string>",
    )
    out = df.select(
        "id", F.explode(layer_matches(F.col("tags"), F.lit("LineString"))).alias("e")
    ).select("id", "e.layer", "e.kind", "e.maxspeed", "e.admin_level").collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r)
    assert any(r["kind"] == "primary" and r["maxspeed"] is None for r in by_id[1])
    # non-numeric admin_level -> kind 'administrative' (not a crash)
    assert any(r["kind"] == "administrative" and r["admin_level"] is None
               for r in by_id[2])


def test_decoded_stats_empty_geometry_layer():
    """A layer whose features carry no geometry reports n_vertices=0
    instead of crashing the stats decode."""
    feats = [{"id": 3, "type": mvt.GEOM_POINT, "geometry": [], "tags": {}}]
    buf = mvt.encode_tile({"empty": feats})
    s = mvt.decode_tile_stats_np(buf)["empty"]
    assert s["n_features"] == 1 and s["n_vertices"] == 0 and s["sum_ids"] == 3


def test_decoded_stats_irregular_layer_raises():
    """A feature frame laid out unlike our encoders' (geometry before
    type) is an error naming the layer, never a silently different
    decode."""
    import pytest

    geom = b"".join(
        mvt._varint(v) for v in mvt._encode_geometry(mvt.GEOM_POINT, [[(1, 2)]])
    )
    body = (
        mvt._tag(1, 0) + mvt._varint(5) + mvt._len_delim(4, geom)
        + mvt._tag(3, 0) + mvt._varint(mvt.GEOM_POINT)
    )
    buf = mvt._len_delim(3, mvt.layer_wrap("odd", mvt._len_delim(2, body)))
    assert mvt.decode_tile(buf)["odd"][0]["geometry"] == [[(1, 2)]]
    with pytest.raises(ValueError, match="'odd'"):
        mvt.decode_tile_stats_np(buf)


def test_frames_stats_given_lengths_match_bytes():
    """Stats located by the encoder's frame lengths equal the byte walk's;
    a length that disagrees with the bytes is an error, not a different
    decode."""
    import numpy as np
    import pytest

    frames, lens = mvt.encode_line_frames_np(
        [4, 9, 300], [0, 5, 1, 7, 2, 4096, -64, 3], [0, 5, 2, 8, 3, 1, 4160, 9],
        [2, 3, 3], return_lens=True,
    )
    buf = mvt._len_delim(3, mvt.layer_wrap("w", frames))
    assert mvt.frames_stats_np(frames, lens, "w") == mvt.decode_tile_stats_np(buf)["w"]
    assert mvt.frames_stats_np(b"", np.zeros(0, dtype=np.int64)) is None
    bad = lens.copy()
    bad[0] += 1
    bad[1] -= 1
    with pytest.raises(ValueError, match="'w'"):
        mvt.frames_stats_np(frames, bad, "w")
    with pytest.raises(ValueError, match="'w'"):
        mvt.frames_stats_np(frames, lens[:-1], "w")


def test_polygon_ring_fully_off_tile_collapses(spark):
    """A ring entirely beyond the 64 px buffer clamps to a degenerate
    (< 4 distinct vertex) shape and is dropped, like the scalar path."""
    rings_px = spark.createDataFrame(
        [
            # valid in-tile square
            (9, 1, 2, 50, 0, "outer", [100, 500, 500, 100, 100], [100, 100, 500, 500, 100]),
            # ring far above the tile: every py < -64 after clamping
            (9, 1, 2, 60, 0, "outer", [100, 500, 500, 100, 100], [-900, -900, -500, -500, -900]),
        ],
        "z int, tx long, ty long, feature_id long, ring_index int, role string, "
        "pxs array<int>, pys array<int>",
    )
    rows = tiles.encode_polygon_mvt(rings_px).collect()
    assert len(rows) == 1 and rows[0]["n_features"] == 1
    feats = mvt.decode_tile(bytes(rows[0]["tile"]))["areas"]
    assert [f["id"] for f in feats] == [50]


def test_layer_matches_expr_equals_column_builder(spark, sf_dir):
    """layer_matches_expr (one-parse SQL, generated from the same kind maps)
    must agree row-for-row with the Column-builder layer_matches across all
    geometry types — the fast path can't drift from the reference twin."""
    from pyspark.sql import functions as F

    from osmix_spark.operators.shortbread import layer_matches, layer_matches_expr
    from osmix_spark.queries import _sb_tagged_spark

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tagged = _sb_tagged_spark(docs)
    a = tagged.select(
        "doc_id", F.explode(layer_matches(F.col("tags"), F.col("geom"))).alias("e")
    )
    b = tagged.select("doc_id", F.explode(layer_matches_expr()).alias("e"))
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_fully_degenerate_tile_emits_no_row(spark):
    """Pinned contract (round-4 ADVICE): a tile whose every feature
    collapses under cleanCoords (all vertices identical -> <2 points) is
    DROPPED from the materialized tile table — matching the reference
    encoder, which skips degenerate geometry (vt/encode.ts) and never
    materializes feature-less tiles."""
    from osmix_spark.sources import fixtures

    # way 1: all four vertices at one point (degenerate, lands in the
    # western z1 tile); way 2: a real segment in the eastern z1 tile
    nodes = spark.createDataFrame(
        [
            (1, -10.0, 10.0, None), (2, -10.0, 10.0, None),
            (3, 10.0, 10.0, None), (4, 20.0, 10.0, None),
        ],
        fixtures.NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [(1, [1, 2, 1], None), (2, [3, 4], None)], fixtures.WAY_SCHEMA
    )
    refs = ways.select(
        F.col("id").alias("way_id"), F.posexplode("refs").alias("s1", "ref")
    ).withColumn("s2", F.col("s1"))
    verts = refs.join(
        nodes.select(F.col("id").alias("ref"), "lon", "lat"), "ref"
    ).select("way_id", "s1", "s2", "lon", "lat")
    enc = tiles.encode_way_mvt_vertices(verts, z=1).collect()
    assert {(r["tx"], r["ty"]) for r in enc} == {(1, 0)}
    assert all(r["n_features"] == 1 for r in enc)
