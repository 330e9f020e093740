"""Routing operators (reference packages/router): edge build from ways +
frontier-based SSSP (fixpoint == Dijkstra) + path reconstruction."""

from __future__ import annotations

import heapq

from pyspark.sql import functions as F

from osmix_spark.operators import router
from osmix_spark.sources import fixtures


def _reference_dijkstra(edges: list[tuple[int, int, float]], source: int) -> dict[int, float]:
    adj: dict[int, list[tuple[int, float]]] = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
    dist = {source: 0.0}
    pq = [(0.0, source)]
    while pq:
        du, u = heapq.heappop(pq)
        if du > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = du + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


def test_shortest_path_matches_dijkstra(spark):
    # weighted graph with an equal-cost tie and an unreachable node
    e = [
        (0, 1, 1.0), (1, 2, 1.0), (0, 2, 2.0),   # tie: 0->1->2 == 0->2
        (2, 3, 0.5), (0, 3, 5.0),
        (4, 5, 1.0),                              # disconnected component
    ]
    edges = spark.createDataFrame(e, "src long, dst long, w double")
    out = {r["node"]: r["dist"] for r in router.shortest_path(edges, 0).collect()}
    assert out == _reference_dijkstra(e, 0)
    assert 4 not in out and 5 not in out


def test_shortest_path_via_deterministic(spark):
    # two equal-cost shortest paths into node 3: via 1 and via 2 -> the
    # struct-min tiebreak must pick the smaller predecessor id
    e = [(0, 1, 1.0), (0, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0)]
    edges = spark.createDataFrame(e, "src long, dst long, w double")
    dist = router.shortest_path(edges, 0)
    via3 = dist.filter(F.col("node") == 3).collect()[0]["via"]
    assert via3 == 1
    assert router.reconstruct_path(dist, 3) == [0, 1, 3]


def test_build_edges_haversine_and_oneway(spark):
    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0, None), (2, 0.001, 0.0, None), (3, 0.002, 0.0, None)],
        fixtures.NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [(10, [1, 2], {"highway": "residential"}),
         (11, [2, 3], {"oneway": "yes"})],
        fixtures.WAY_SCHEMA,
    )
    edges = router.build_edges(ways, nodes).collect()
    by_pair = {(r["src"], r["dst"]): r["w"] for r in edges}
    # bidirectional way contributes both directions; oneway only forward
    assert (1, 2) in by_pair and (2, 1) in by_pair
    assert (2, 3) in by_pair and (3, 2) not in by_pair
    # 0.001 deg of longitude at the equator ~= 111.3 m
    assert abs(by_pair[(1, 2)] - 111.3) < 1.0


def test_reconstruct_path_exact_max_hops(spark):
    """A path of exactly max_hops hops must fully resolve (regression:
    2^k - 1 subset-sum shortfall when max_hops is a power of two)."""
    from osmix_spark.operators import router

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, w double"
    )
    dist = router.shortest_path(edges, source=0)
    assert router.reconstruct_path(dist, target=2, max_hops=2) == [0, 1, 2]


def test_route_p2p_small(spark):
    from osmix_spark.operators import router

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 2.0), (0, 2, 5.0)], "src long, dst long, w double"
    )
    rows = sorted(router.route(edges, 0, 2).collect(), key=lambda r: -r["pos"])
    assert [r["node"] for r in rows] == [0, 1, 2]
    assert rows[-1]["dist"] == 3.0


def _grid_edges(w: int, hgt: int):
    """Deterministic weighted grid (both directions)."""
    e = []
    for y in range(hgt):
        for x in range(w):
            n = y * w + x
            if x + 1 < w:
                wt = 1.0 + ((n * 7 + (n + 1) * 13) % 8) * 0.25
                e += [(n, n + 1, wt), (n + 1, n, wt)]
            if y + 1 < hgt:
                m = n + w
                wt = 1.0 + ((n * 7 + m * 13) % 8) * 0.25
                e += [(n, m, wt), (m, n, wt)]
    return e


def test_bidirectional_matches_sssp(spark):
    """bidirectional.ts:20 semantics: the meeting-point cost mu equals the
    single-direction s->t distance; exactness of the stopping rule
    min(frontier_f)+min(frontier_b) >= mu follows because any undiscovered
    s->t path still crosses a node of each frontier, so it costs at least
    that sum (label improvements only ever flow through frontier nodes and
    positive edge weights)."""
    e = _grid_edges(6, 5)
    edges = spark.createDataFrame(e, "src long, dst long, w double")
    expect = _reference_dijkstra(e, 0)[29]
    _df, _db, mu, meet = router.bidirectional_distance(edges, 0, 29)
    assert mu is not None and abs(mu - expect) < 1e-9
    path = router.route_bidirectional(edges, 0, 29).collect()
    ordered = [r["node"] for r in sorted(path, key=lambda r: -r["pos"])]
    assert ordered[0] == 0 and ordered[-1] == 29
    # path cost equals mu
    adj = {(s, d): w for s, d, w in e}
    assert abs(sum(adj[(a, b)] for a, b in zip(ordered, ordered[1:])) - mu) < 1e-9
    assert meet in ordered


def test_bidirectional_unreachable(spark):
    e = [(0, 1, 1.0), (2, 3, 1.0)]
    edges = spark.createDataFrame(e, "src long, dst long, w double")
    _df, _db, mu, _meet = router.bidirectional_distance(edges, 0, 3, max_rounds=5)
    assert mu is None
    assert router.route_bidirectional(edges, 0, 3, max_rounds=5).count() == 0


def test_astar_matches_sssp_distance(spark):
    """shortest-path.ts:127 A*: the goal-pruned fixpoint returns the exact
    s->t distance (haversine heuristic is admissible for haversine edge
    weights)."""
    nodes = spark.createDataFrame(
        [(i, 0.001 * (i % 6), 0.001 * (i // 6), None) for i in range(30)],
        fixtures.NODE_SCHEMA,
    )
    # grid edges weighted by actual haversine between endpoints
    ways = spark.createDataFrame(
        [(100 + y, [y * 6 + x for x in range(6)], None) for y in range(5)]
        + [(200 + x, [y * 6 + x for y in range(5)], None) for x in range(6)],
        fixtures.WAY_SCHEMA,
    )
    edges = router.build_edges(ways, nodes)
    full = {r["node"]: r["dist"] for r in router.shortest_path(edges, 0).collect()}
    out = router.astar_distance(edges, nodes, 0, 29)
    got = out.filter(F.col("node") == 29).collect()[0]["dist"]
    assert abs(got - full[29]) < 1e-9


def test_astar_prunes_frontier(spark):
    """With a detour far from the goal, A* must settle fewer labels than the
    full SSSP (the point of goal direction)."""
    # straight line 0..9 toward the target plus a big far-away blob off node 0
    nodes = [(i, 0.001 * i, 0.0, None) for i in range(10)]
    nodes += [(100 + i, -0.05 - 0.001 * i, 0.05, None) for i in range(40)]
    nodes_df = spark.createDataFrame(nodes, fixtures.NODE_SCHEMA)
    ways = [(500, list(range(10)), None)]
    ways += [(600 + i, [0 if i == 0 else 100 + i - 1, 100 + i], None) for i in range(40)]
    ways_df = spark.createDataFrame(ways, fixtures.WAY_SCHEMA)
    edges = router.build_edges(ways_df, nodes_df)
    full = router.shortest_path(edges, 0)
    pruned = router.astar_distance(edges, nodes_df, 0, 9)
    assert pruned.count() < full.count()
    d_full = full.filter(F.col("node") == 9).collect()[0]["dist"]
    d_astar = pruned.filter(F.col("node") == 9).collect()[0]["dist"]
    assert abs(d_full - d_astar) < 1e-9


def test_bidirectional_source_equals_target(spark):
    """source == target must report distance 0 with a single-node path, not
    the best out-and-back cycle."""
    e = [(0, 1, 1.0), (1, 0, 1.0)]
    edges = spark.createDataFrame(e, "src long, dst long, w double")
    _df, _db, mu, meet = router.bidirectional_distance(edges, 0, 0)
    assert mu == 0.0 and meet == 0
    path = router.route_bidirectional(edges, 0, 0).collect()
    assert [(r["pos"], r["node"]) for r in path] == [(0, 0)]
