"""Intersection creation (J10) — golden outcome from the reference's
merge.test.ts:95-118: on the merged+deduped mock fixture, exactly 1
intersection point is found, 1 node created (crossing=yes), and the two
crossing ways get the new node spliced in."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osmix_spark.operators import intersect, merge
from osmix_spark.sources import fixtures


@pytest.fixture()
def merged(spark):
    """The post-merge post-dedupe state from test_merge_golden: nodes
    1..7 (0 deleted), ways 1=[2,1], 2=[2,3], 3=[4,5], 4=[6,7]."""
    base_n, base_w = fixtures.base_nodes(spark), fixtures.base_ways(spark)
    patch_n, patch_w = fixtures.patch_nodes(spark), fixtures.patch_ways(spark)
    nodes = merge.direct_merge(base_n, patch_n)
    ways = merge.direct_merge(base_w, patch_w)
    repl = merge.dedupe_nodes(nodes)
    ways = merge.rewrite_way_refs(ways, repl)
    nodes = nodes.join(repl.select(F.col("from_id").alias("id")), "id", "left_anti")
    return nodes, ways


def test_golden_intersection(spark, merged):
    nodes, ways = merged
    new_nodes, updated_ways, tagged, stats = intersect.create_intersections(ways, nodes)

    assert stats["intersection_points_found"] == 1
    assert stats["intersection_nodes_created"] == 1

    nn = new_nodes.collect()
    assert len(nn) == 1
    n = nn[0]
    assert n["id"] == 8  # max node id 7 + 1
    assert n["tags"] == {"crossing": "yes"}
    # intersection of way2 (horizontal through centroid->1km east) with
    # way3 (vertical at 250 m east)
    assert n["lon"] == pytest.approx(fixtures.YAKIMA_LON + fixtures.ONE_KM_LON / 4, abs=1e-9)
    assert n["lat"] == pytest.approx(fixtures.YAKIMA_LAT, abs=1e-9)

    w = {r["id"]: r["refs"] for r in updated_ways.collect()}
    assert 8 in w[2] and 8 in w[3]
    assert w[1] == [2, 1]      # untouched
    assert w[4] == [6, 7]      # tunnel way untouched
    # splice inserts before the nearest ref (reference nearestNodeOnWay)
    assert w[2] == [8, 2, 3]
    assert w[3] == [8, 4, 5]


def test_tunnel_never_connects(spark, merged):
    nodes, ways = merged
    # only ways 3 (plain highway) and 4 (tunnel) cross each other? they are
    # parallel verticals — instead check way2 x way4: way4 crosses way2's
    # span at 500 m east but has tunnel=yes
    pts = intersect.find_intersection_points(
        ways.filter(F.col("id").isin(2, 4)), nodes
    )
    assert pts.count() == 0


def test_shared_node_crossing_is_not_counted(spark):
    # two ways crossing AT a node they both reference: the reference tags
    # the shared node crossing=yes but counts no intersection
    # (changeset.ts:612-626)
    nodes = spark.createDataFrame(
        [
            (1, 0.0, 0.0, None), (2, 0.001, 0.0, None), (3, 0.002, 0.0, None),
            (4, 0.001, -0.001, None), (5, 0.001, 0.001, None),
        ],
        fixtures.NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [
            (10, [1, 2, 3], {"highway": "primary"}),
            (11, [4, 2, 5], {"highway": "secondary"}),
        ],
        fixtures.WAY_SCHEMA,
    )
    new_nodes, updated_ways, tagged, stats = intersect.create_intersections(ways, nodes)
    assert stats["intersection_points_found"] == 0
    assert stats["intersection_nodes_created"] == 0
    assert stats["shared_node_points"] == 1
    assert {r["id"] for r in tagged.collect()} == {2}
    w = {r["id"]: r["refs"] for r in updated_ways.collect()}
    assert w[10] == [1, 2, 3] and w[11] == [4, 2, 5]


def test_crossing_at_a_node_of_way_a_only_is_counted_and_spliced(spark):
    # way 11 crosses way 10 at way 10's node 2 and has no node there
    # (near_a = 2, near_b null): a real crossing that reuses node 2, not a
    # shared one — the null near_b must not drop it from the counted points
    nodes = spark.createDataFrame(
        [
            (1, 0.0, 0.0, None), (2, 0.001, 0.0, None), (3, 0.002, 0.0, None),
            (4, 0.001, -0.003, None), (5, 0.001, 0.001, None),
        ],
        fixtures.NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [
            (10, [1, 2, 3], {"highway": "primary"}),
            (11, [4, 5], {"highway": "secondary"}),
        ],
        fixtures.WAY_SCHEMA,
    )
    new_nodes, updated_ways, tagged, stats = intersect.create_intersections(ways, nodes)
    assert stats == {"intersection_points_found": 1, "intersection_nodes_created": 0,
                     "shared_node_points": 0}
    assert new_nodes.collect() == []
    assert {r["id"] for r in tagged.collect()} == {2}
    w = {r["id"]: r["refs"] for r in updated_ways.collect()}
    # spliced before way 11's nearest ref, node 5
    assert w[10] == [1, 2, 3] and w[11] == [4, 2, 5]


def test_node_ids_above_2_pow_53_stay_exact(spark):
    # way 11 zig-zags across way 10 twice: mid-segment between nodes 1 and
    # B (near_a null) and exactly at node B (near_a = B). Both points come
    # from one candidate pair, so one Arrow batch holds near_a = [null, B];
    # a float64 column would turn B into 2**53, a node that does not exist
    big = 2**53 + 1
    nodes = spark.createDataFrame(
        [
            (1, 0.0, 0.0, None), (big, 0.002, 0.0, None), (3, 0.004, 0.0, None),
            (11, 0.001, -0.002, None), (12, 0.001, 0.001, None),
            (13, 0.004, -0.002, None), (14, 0.005, -0.001, None),
        ],
        fixtures.NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [
            (10, [1, big, 3], {"highway": "primary"}),
            (11, [11, 12, 13, 14], {"highway": "secondary"}),
        ],
        fixtures.WAY_SCHEMA,
    )
    pts = intersect.find_intersection_points(ways, nodes).collect()
    assert {r["near_a"] for r in pts} == {None, big}
    assert all(r["near_b"] is None for r in pts)

    new_nodes, updated_ways, tagged, _stats = intersect.create_intersections(ways, nodes)
    assert [r["id"] for r in new_nodes.collect()] == [big + 1]
    assert {r["id"] for r in tagged.collect()} == {big}
    w = {r["id"]: r["refs"] for r in updated_ways.collect()}
    assert big + 1 in w[10] and {big, big + 1} <= set(w[11])


def test_counters_launch_no_count_job_and_leave_no_cache(spark, spark_jobs,
                                                          cache_is_empty, merged):
    nodes, ways = merged
    spark.catalog.clearCache()
    (_, _, _, stats), jobs = spark_jobs(lambda: intersect.create_intersections(ways, nodes))
    assert stats == {"intersection_points_found": 1, "intersection_nodes_created": 1,
                     "shared_node_points": 0}
    assert not [n for names in jobs.values() for n in names if n.startswith("count at ")], jobs
    # one collect: next_entity_id's max, whose value is part of the plan
    # (AQE runs it as one job per query stage, all named after its site)
    sites = {n for names in jobs.values() for n in names if n.startswith("collect at ")}
    assert len(sites) <= 1 and all("merge.py" in s for s in sites), sites
    assert cache_is_empty()


# ---------------------------------------------------------------------------
# Patch-scoped stage-7 candidates (merge.ts:102-107): the final-merge
# intersection pass only considers pairs touching a PATCH way — a
# pre-existing base-base crossing must NOT gain a node.
# ---------------------------------------------------------------------------

def _crossing_fixture(spark):
    """Base: two crossing highways (no shared node) near Yakima. Patch:
    one highway 2 km north that crosses base way 100 vertically."""
    lon, lat = fixtures.YAKIMA_LON, fixtures.YAKIMA_LAT
    dlon, dlat = fixtures.ONE_KM_LON, fixtures.ONE_KM_LAT
    base_nodes = spark.createDataFrame(
        [
            (10, lon - dlon, lat, None), (11, lon + dlon, lat, None),
            (12, lon, lat - dlat, None), (13, lon, lat + dlat, None),
        ],
        fixtures.NODE_SCHEMA,
    )
    base_ways = spark.createDataFrame(
        [(100, [10, 11], {"highway": "primary"}),
         (101, [12, 13], {"highway": "secondary"})],
        fixtures.WAY_SCHEMA,
    )
    # patch way 200 crosses base way 100 at (lon + dlon/2, lat)
    patch_nodes = spark.createDataFrame(
        [(20, lon + dlon / 2, lat - dlat, None),
         (21, lon + dlon / 2, lat + dlat, None)],
        fixtures.NODE_SCHEMA,
    )
    patch_ways = spark.createDataFrame(
        [(200, [20, 21], {"highway": "residential"})], fixtures.WAY_SCHEMA
    )
    return base_nodes, base_ways, patch_nodes, patch_ways


def test_patch_scoped_intersections_skip_base_base_crossing(spark):
    from osmix_spark.operators import pipeline

    bn, bw, pn, pw = _crossing_fixture(spark)
    nodes, ways, stats = pipeline.merge_datasets(bn, bw, pn, pw)
    # exactly ONE intersection: patch way 200 x base way 100. The
    # pre-existing base 100 x 101 crossing is NOT intersected (the
    # reference's createIntersectionsForWays only iterates patch ways).
    assert stats["intersection_points_found"] == 1
    assert stats["intersection_nodes_created"] == 1
    new_id = 22  # max node id 21 + 1
    w = {r["id"]: r["refs"] for r in ways.collect()}
    assert new_id in w[100] and new_id in w[200]
    assert w[101] == [12, 13]  # base-base crossing untouched
    crossing = [r for r in nodes.collect() if (r["tags"] or {}).get("crossing") == "yes"]
    assert {r["id"] for r in crossing} == {new_id}


def test_unscoped_final_pass_still_finds_base_base_crossing(spark):
    """Control: patch_scope_final=False restores the whole-dataset sweep,
    proving the fixture's base-base crossing is real."""
    from osmix_spark.operators import pipeline

    bn, bw, pn, pw = _crossing_fixture(spark)
    nodes, ways, stats = pipeline.merge_datasets(
        bn, bw, pn, pw, patch_scope_final=False
    )
    assert stats["intersection_points_found"] == 2
    assert stats["intersection_nodes_created"] == 2


def test_candidate_scoped_dedupe_maps_match_unscoped_on_merge(spark):
    """Stage-6 equivalence: after per-dataset dedupe, every surviving
    coincident pair touches a patch entity, so the candidate-scoped maps
    equal the whole-dataset maps on the merge fixture."""
    from osmix_spark.sources import fixtures as fx

    nodes = merge.direct_merge(fx.base_nodes(spark), fx.patch_nodes(spark))
    ways = merge.direct_merge(fx.base_ways(spark), fx.patch_ways(spark))
    patch_ids = fx.patch_nodes(spark).select("id")
    scoped = merge.dedupe_nodes(nodes, candidates=patch_ids)
    unscoped = merge.dedupe_nodes(nodes)
    assert sorted(map(tuple, scoped.collect())) == sorted(map(tuple, unscoped.collect()))
    way_ids = fx.patch_ways(spark).select("id")
    w_scoped = merge.dedupe_ways(ways, nodes, candidates=way_ids)
    w_unscoped = merge.dedupe_ways(ways, nodes)
    assert sorted(map(tuple, w_scoped.collect())) == sorted(map(tuple, w_unscoped.collect()))
