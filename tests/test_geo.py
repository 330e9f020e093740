"""Geo kernel parity tests: haversine, tile math, microdegrees, zigzag —
asserted against independently computed values (formulas from the reference,
see osmix_spark/functions/geo.py docstring)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from osmix_spark.functions import geo


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_haversine_known_distance(spark):
    # Paris -> London ~ 343.5 km
    d = _one(spark, geo.haversine_m(F.lit(2.3522), F.lit(48.8566), F.lit(-0.1276), F.lit(51.5072)))
    assert d == pytest.approx(343_556, rel=0.01)


def test_haversine_zero(spark):
    assert _one(spark, geo.haversine_m(F.lit(1.0), F.lit(2.0), F.lit(1.0), F.lit(2.0))) == 0.0


def test_micro_roundtrip(spark):
    v = _one(spark, geo.micro_to_deg(geo.to_micro(F.lit(-120.505898))))
    assert v == pytest.approx(-120.505898, abs=1e-7)


def test_tile_math_matches_slippy(spark):
    # reference point: lon 7.42, lat 43.73 (monaco), z=12
    lon, lat, z = 7.42, 43.73, 12
    n = 2**z
    exp_x = math.floor((lon + 180) / 360 * n)
    lat_rad = math.radians(lat)
    exp_y = math.floor((1 - math.log(math.tan(lat_rad) + 1 / math.cos(lat_rad)) / math.pi) / 2 * n)
    assert _one(spark, geo.tile_x(F.lit(lon), F.lit(z))) == exp_x
    assert _one(spark, geo.tile_y(F.lit(lat), F.lit(z))) == exp_y


def test_tile_to_lonlat_inverse(spark):
    z = 10
    x = _one(spark, geo.tile_x(F.lit(-120.5), F.lit(z)))
    y = _one(spark, geo.tile_y(F.lit(46.6), F.lit(z)))
    west = _one(spark, geo.tile_to_lon(F.lit(x), F.lit(z)))
    east = _one(spark, geo.tile_to_lon(F.lit(x + 1), F.lit(z)))
    north = _one(spark, geo.tile_to_lat(F.lit(y), F.lit(z)))
    south = _one(spark, geo.tile_to_lat(F.lit(y + 1), F.lit(z)))
    assert west <= -120.5 < east
    assert south <= 46.6 < north


def test_cell_key_roundtrip(spark):
    key = _one(spark, geo.cell_key(F.lit(-120.5), F.lit(46.6), F.lit(15)))
    z, x, y = [
        _one(spark, c) for c in geo.cell_key_parts(F.lit(key))
    ]
    assert z == 15
    assert x == _one(spark, geo.tile_x(F.lit(-120.5), F.lit(15)))
    assert y == _one(spark, geo.tile_y(F.lit(46.6), F.lit(15)))


def test_zigzag_roundtrip(spark):
    for v in (-5, -1, 0, 1, 7, 123456):
        enc = _one(spark, geo.zigzag_encode(F.lit(v)))
        assert enc >= 0
        assert _one(spark, geo.zigzag_decode(F.lit(enc))) == v


def test_in_bbox_epsilon_and_antimeridian(spark):
    # boundary point included via epsilon
    assert _one(spark, geo.in_bbox(F.lit(7.4053929 - 1e-6), F.lit(43.73), 7.4053929, 43.7232244, 7.4447259, 43.7543687))
    # antimeridian wrap: west=179, east=-179 includes lon=179.5 and -179.5
    assert _one(spark, geo.in_bbox(F.lit(179.5), F.lit(0.0), 179.0, -1.0, -179.0, 1.0))
    assert _one(spark, geo.in_bbox(F.lit(-179.5), F.lit(0.0), 179.0, -1.0, -179.0, 1.0))
    assert not _one(spark, geo.in_bbox(F.lit(0.0), F.lit(0.0), 179.0, -1.0, -179.0, 1.0))


def test_quadkey_prefix_property(spark):
    # the z-1 quadkey is a prefix of the z quadkey
    q10 = _one(spark, geo.quadkey(F.lit(-120.5), F.lit(46.6), 10))
    q12 = _one(spark, geo.quadkey(F.lit(-120.5), F.lit(46.6), 12))
    assert len(q10) == 10 and len(q12) == 12
    assert q12.startswith(q10)


def test_way_is_area(spark):
    closed = F.lit(True)
    t = F.create_map(F.lit("building"), F.lit("house"))
    assert _one(spark, geo.way_is_area(t, closed))
    t2 = F.create_map(F.lit("natural"), F.lit("coastline"))
    assert not _one(spark, geo.way_is_area(t2, closed))
    t3 = F.create_map(F.lit("highway"), F.lit("primary"), F.lit("area"), F.lit("yes"))
    assert _one(spark, geo.way_is_area(t3, closed))
    assert not _one(spark, geo.way_is_area(t, F.lit(False)))


def test_relation_kind_and_hex_color(spark):
    from pyspark.sql import functions as F

    rel = spark.createDataFrame(
        [({"type": "Multipolygon"}, False), ({"type": "route"}, False),
         ({"type": "restriction"}, True), (None, True), (None, False),
         ({"type": "multipoint"}, False), ({"type": "boundary"}, True)],
        "tags map<string,string>, hrm boolean",
    )
    kinds = [r[0] for r in rel.select(geo.relation_kind(F.col("tags"), F.col("hrm"))).collect()]
    assert kinds == ["area", "line", "super", "super", "logic", "point", "area"]

    colors = spark.createDataFrame(
        [("#abc",), ("ABC",), ("aabbcc",), ("#AABBCCDD",), ("xyz",), ("#abcd",), ("",), ("#abcde",)],
        "c string",
    )
    out = [r[0] for r in colors.select(geo.normalize_hex_color(F.col("c"))).collect()]
    assert out == ["#AABBCC", "#AABBCC", "#AABBCC", "#AABBCCDD", None, "#AABBCCDD", None, None]


def test_knn_bbox_join(spark):
    from pyspark.sql import functions as F

    from osmix_spark.operators import spatial

    # three boxes east of the query at increasing distance + one inverted
    boxes = spark.createDataFrame(
        [(1, 0.01, -0.01, 0.02, 0.01), (2, 0.05, -0.01, 0.06, 0.01),
         (3, 0.50, -0.01, 0.60, 0.01), (4, 1.0, 1.0, 0.0, 0.0)],  # 4 inverted
        "id long, minx double, miny double, maxx double, maxy double",
    )
    q = spark.createDataFrame([(100, 0.0, 0.0)], "query_id long, lon double, lat double")
    out = spatial.knn_bbox_join(q, boxes, k=2, z=12).collect()
    got = [(r["query_id"], r["id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(100, 1, 1), (100, 2, 2)]
    # distance to box 1 = haversine to its nearest edge point (0.01, 0)
    d1 = [r["dist_m"] for r in out if r["id"] == 1][0]
    assert abs(d1 - 1113.2) < 5  # 0.01 deg lon at equator


_TILE_DEG = 360.0 / 4096  # one z=12 tile, in degrees of longitude
_KNN_LAT = -0.04  # every query and candidate sits in the z=12 tile row below the equator
_KNN_HALF = 0.00005  # half-width of the candidate boxes, in degrees


def _haversine_py(lon1, lat1, lon2, lat2):
    dlat, dlon = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    a = (math.sin(dlat / 2) ** 2
         + math.sin(dlon / 2) ** 2 * math.cos(math.radians(lat1)) * math.cos(math.radians(lat2)))
    return geo.EARTH_RADIUS_M * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))


def _check_knn(out, queries, cands, cand_dist, k, best_effort):
    """out rows vs a brute-force top-k by (distance, id); queries in
    best_effort expect only their top 1 (the rest lies beyond max_ring)."""
    got: dict = {}
    for r in out:
        got.setdefault(r["query_id"], []).append((r["rank"], r["id"], r["dist_m"]))
    assert set(got) == {q for q, _ in queries}
    for qid, qlon in queries:
        want = sorted((cand_dist(qlon, c), c[0]) for c in cands)[:k]
        if qid in best_effort:
            want = want[:1]
        have = sorted(got[qid])
        assert [(rk, i) for rk, i, _ in have] == [(n + 1, i) for n, (_, i) in enumerate(want)], qid
        for (_, _, d), (wd, _) in zip(have, want):
            assert abs(d - wd) < 1e-6 * max(wd, 1.0)


def _knn_inputs(spark):
    """Three queries (k=2) and their candidates at _KNN_LAT, as (id, lon)
    lists and as frames: points, and small boxes around them.

    - query 1 at lon 0: candidates 0.001 deg west (id 11) and east (id 12),
      tied on distance, and one 0.002 deg east (id 10) -> resolved at ring 1;
    - query 2 at 0.9 of tile 2389: nearest 0.5 tiles east (id 20), 2nd
      nearest 1.3 tiles east (id 21), outside the ring-1 3x3 block; a decoy
      1.6 tiles west (id 22) lies inside it, so ring 1 fails the
      sufficiency test and ring 2 finds id 21;
    - query 3 at the middle of tile 2900: one candidate 0.2 tiles east
      (id 30); the next (id 31) is 40 tiles east, beyond the max_ring=2
      block, so the result is the best-effort top 1.
    """
    q2 = (2389 + 0.9) * _TILE_DEG - 180.0
    q3 = (2900 + 0.5) * _TILE_DEG - 180.0
    queries = [(1, 0.0), (2, q2), (3, q3)]
    cands = [
        (10, 0.002), (11, -0.001), (12, 0.001),
        (20, q2 + 0.5 * _TILE_DEG), (21, q2 + 1.3 * _TILE_DEG), (22, q2 - 1.6 * _TILE_DEG),
        (30, q3 + 0.2 * _TILE_DEG), (31, q3 + 40 * _TILE_DEG),
    ]
    q = spark.createDataFrame(
        [(i, lon, _KNN_LAT) for i, lon in queries], "query_id long, lon double, lat double"
    )
    pts = spark.createDataFrame(
        [(i, lon, _KNN_LAT) for i, lon in cands], "id long, lon double, lat double"
    )
    boxes = spark.createDataFrame(
        [(i, lon - _KNN_HALF, _KNN_LAT - _KNN_HALF, lon + _KNN_HALF, _KNN_LAT + _KNN_HALF)
         for i, lon in cands],
        "id long, minx double, miny double, maxx double, maxy double",
    )
    return queries, cands, q, pts, boxes


def test_knn_join_multi_ring(spark):
    """knn_join on the three-query fixture: ring 1, ring 2, and the
    best-effort result at max_ring all match a brute-force top-k."""
    from osmix_spark.operators import spatial

    queries, cands, q, pts, _ = _knn_inputs(spark)

    def point_dist(qlon, c):
        return _haversine_py(qlon, _KNN_LAT, c[1], _KNN_LAT)

    out = spatial.knn_join(q, pts, k=2, z=12, max_ring=2).collect()
    _check_knn(out, queries, cands, point_dist, 2, best_effort={3})
    # capped at ring 1, query 2 keeps the decoy: its answer needed ring 2
    ring1 = spatial.knn_join(q, pts, k=2, z=12, max_ring=1).collect()
    assert sorted((r["rank"], r["id"]) for r in ring1 if r["query_id"] == 2) == [(1, 20), (2, 22)]


def test_knn_bbox_join_multi_ring(spark):
    """knn_bbox_join on the same fixture, candidates as small boxes:
    distance to the clamped nearest box point, against brute force."""
    from osmix_spark.operators import spatial

    queries, cands, q, _, boxes = _knn_inputs(spark)

    def box_dist(qlon, c):
        near = min(max(qlon, c[1] - _KNN_HALF), c[1] + _KNN_HALF)
        return _haversine_py(qlon, _KNN_LAT, near, _KNN_LAT)

    out = spatial.knn_bbox_join(q, boxes, k=2, z=12, max_ring=2).collect()
    _check_knn(out, queries, cands, box_dist, 2, best_effort={3})
    ring1 = spatial.knn_bbox_join(q, boxes, k=2, z=12, max_ring=1).collect()
    assert sorted((r["rank"], r["id"]) for r in ring1 if r["query_id"] == 2) == [(1, 20), (2, 22)]


def test_bbox_overlap_join_wide_boxes_exact(spark):
    """Adaptive split cover must find ALL overlapping pairs regardless of
    box size (regression for the round-1 16x16-cell clamp): compare against
    a brute-force cross-join oracle over a mix of tiny, long-thin,
    continent-sized, and world-spanning boxes."""
    from pyspark.sql import functions as F

    from osmix_spark.operators import spatial

    rows = []
    # grid of tiny boxes
    for i in range(40):
        cx, cy = -30.0 + (i % 8) * 2.0, 10.0 + (i // 8) * 2.0
        rows.append((i, cx - 0.01, cy - 0.01, cx + 0.01, cy + 0.01))
    # long thin "way" boxes (span >> 16 tiles at z=12)
    rows.append((100, -31.0, 10.0, 20.0, 10.001))
    rows.append((101, -25.0, 5.0, -24.999, 40.0))
    # continent-sized and world-spanning
    rows.append((102, -40.0, 0.0, 30.0, 50.0))
    rows.append((103, -179.9, -85.0, 179.9, 85.0))
    a = spark.createDataFrame(rows, "id long, minx double, miny double, maxx double, maxy double")
    b = a.select(*[F.col(c).alias(c) for c in a.columns])

    got = {
        (r["a_id"], r["b_id"])
        for r in spatial.bbox_overlap_join(a, b, z=12).collect()
    }
    import itertools

    def overlaps(p, q):
        return not (p[3] < q[1] or q[3] < p[1] or p[4] < q[2] or q[4] < p[2])

    want = {
        (p[0], q[0]) for p, q in itertools.product(rows, rows) if overlaps(p, q)
    }
    assert got == want


def test_adaptive_cover_is_exact_and_small(spark):
    """Every cover the overlap join builds (_with_adaptive_cover) is <= 4
    cells and its union contains the box."""
    from osmix_spark.operators import spatial

    boxes = spark.createDataFrame(
        [(1, -0.001, -0.001, 0.001, 0.001), (2, -170.0, -80.0, 170.0, 80.0),
         (3, 10.0, 10.0, 10.0001, 45.0), (4, -100.0, 30.0, -20.0, 30.0001)],
        "id long, minx double, miny double, maxx double, maxy double",
    )
    out = spatial._with_adaptive_cover(
        boxes, ("minx", "miny", "maxx", "maxy"), 12, out="cover"
    ).collect()
    for r in out:
        assert 1 <= len(r["cover"]) <= 4
        zs = {k >> 58 for k in r["cover"]}
        assert len(zs) == 1  # one level per cover
        z = zs.pop()
        n = 1 << z
        # union of cover tiles contains the box corners
        import math as m

        def txy(lon, lat):
            xf = (lon / 360.0 + 0.5) * n
            s = m.sin(m.radians(lat))
            yf = (0.5 - 0.25 * m.log((1 + s) / (1 - s)) / m.pi) * n
            return (min(max(int(m.floor(xf)), 0), n - 1),
                    min(max(int(m.floor(yf)), 0), n - 1))

        cells = {((k >> 29) & ((1 << 29) - 1), k & ((1 << 29) - 1)) for k in r["cover"]}
        for lon, lat in [(r["minx"], r["miny"]), (r["maxx"], r["maxy"]),
                         (r["minx"], r["maxy"]), (r["maxx"], r["miny"])]:
            assert txy(lon, lat) in cells


def test_split_antimeridian_and_overlap(spark):
    """A wrapped bbox (west > east) split per nodes.ts:483-489 pairs with
    boxes on BOTH sides of the antimeridian."""
    from pyspark.sql import functions as F

    from osmix_spark.operators import spatial

    a = spark.createDataFrame(
        [(1, 170.0, 10.0, -170.0, 12.0)],  # wraps
        "id long, minx double, miny double, maxx double, maxy double",
    )
    b = spark.createDataFrame(
        [(10, 174.0, 10.5, 175.0, 11.0),    # east side
         (11, -176.0, 10.5, -175.0, 11.0),  # west side
         (12, 0.0, 10.5, 1.0, 11.0)],       # far away
        "id long, minx double, miny double, maxx double, maxy double",
    )
    out = spatial.bbox_overlap_join(spatial.split_antimeridian(a), b, z=12)
    got = {(r["a_id"], r["b_id"]) for r in out.collect()}
    assert got == {(1, 10), (1, 11)}


def test_cover_key_budget(spark):
    """Scale guard: the overlap join's adaptive cover (_with_adaptive_cover)
    emits <= 4 keys and its cover + ancestor expansion (_ANC_SQL) <= 4 + 4z
    keys per row — a regression here multiplies every overlap join's
    shuffle volume."""
    from pyspark.sql import functions as F

    from osmix_spark.operators import spatial

    boxes = spark.createDataFrame(
        [(1, -0.01, -0.01, 0.01, 0.01), (2, -170.0, -80.0, 170.0, 80.0),
         (3, 10.0, 10.0, 10.5, 45.0), (4, -120.0, 30.0, -20.0, 30.5)],
        "id long, minx double, miny double, maxx double, maxy double",
    )
    z = 12
    out = spatial._with_adaptive_cover(
        boxes, ("minx", "miny", "maxx", "maxy"), z
    ).select(
        F.size("__cov").alias("n_cov"),
        F.expr(f"size(array_distinct(concat(__cov, {spatial._ANC_SQL})))")
        .alias("n_anc"),
    ).collect()
    for r in out:
        assert r["n_cov"] <= 4
        assert r["n_anc"] <= 4 + 4 * z
