"""Routing graph + shortest path (reference packages/router — CSR graph
build at packages/router/src/graph.ts:48-80,364; Dijkstra at
algorithms/shortest-path.ts:115; marked WIP there, README.md:113).

Spark-first shape: the CSR adjacency becomes an `edges(src, dst, w)`
DataFrame; Dijkstra's priority queue has no distributed counterpart, so
single-source shortest path is computed as frontier-based label-correcting
relaxation (the Pregel/Bellman-Ford pattern): each round joins the frontier
against the edge list, keeps per-node min(dist, via) with a deterministic
struct-min tiebreak, and re-checkpoints (`localCheckpoint`) to cut lineage.
The fixpoint equals Dijkstra's output exactly (same shortest-path metric);
rounds are bounded by the hop count of the longest shortest path. Every
search shares one relax step (`_relax`), and each round's stop test (rows
improved, their minimum, the target's label) is observed on the round's
own checkpoint (`plans.fixpoint.checkpoint`), not probed by a job of its
own.

Scale notes: per round there is ONE shuffle (groupBy node); the edge list
can be broadcast when it is the small side (road networks are ~edges≈2.3x
nodes, so at continental scale keep it partitioned and co-partition dist
and edges on the join key instead — pass broadcast_edges=False).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import geo
from ..plans import fixpoint


def build_edges(ways: DataFrame, nodes: DataFrame,
                bidirectional: bool = True) -> DataFrame:
    """ways(id, refs array<long>, tags) -> edges(src, dst, w) with haversine
    meter weights (graph.ts:48-80 builds the same adjacency from way refs;
    oneway tagging flips `bidirectional` per way when tags['oneway']='yes').
    """
    pairs = (
        ways.select(
            F.col("id").alias("way_id"),
            F.coalesce(F.try_element_at("tags", F.lit("oneway")), F.lit("no")).alias("oneway")
            if "tags" in ways.columns else F.lit("no").alias("oneway"),
            F.posexplode("refs").alias("seq", "src"),
            F.col("refs").alias("__refs"),
        )
        .withColumn("dst", F.try_element_at("__refs", F.col("seq") + 2))
        .filter(F.col("dst").isNotNull())
        .drop("__refs")
    )
    n = nodes.select(F.col("id").alias("nid"), "lon", "lat")
    geom = (
        pairs.join(n.withColumnRenamed("nid", "src").withColumnsRenamed(
            {"lon": "lon1", "lat": "lat1"}), "src")
        .join(n.withColumnRenamed("nid", "dst").withColumnsRenamed(
            {"lon": "lon2", "lat": "lat2"}), "dst")
        .select(
            "src", "dst", "oneway",
            geo.haversine_m(
                F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")
            ).alias("w"),
        )
    )
    fwd = geom.select("src", "dst", "w")
    if not bidirectional:
        return fwd
    rev = geom.filter(F.col("oneway") != "yes").select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
    )
    return fwd.unionByName(rev)


def _start(spark, node: int) -> DataFrame:
    """The label table of a search from `node`: (node, 0.0, via=node)."""
    return spark.createDataFrame(
        [(node, 0.0, node)], "node long, dist double, via long"
    ).localCheckpoint()


def _relax(frontier: DataFrame, dist: DataFrame, edges: DataFrame,
           **metrics: Column) -> tuple[DataFrame, dict, DataFrame]:
    """One label-correcting round: relax the frontier's out-edges, keep the
    nodes whose label improved (per-node min (dist, via) struct, so
    equal-cost ties pick the smallest predecessor id) and fold them into
    `dist` (per-node min over old and improved: one shuffle, no join).

    Returns (improved, seen, dist). `improved` is checkpointed, and its
    row count seen["n"], its smallest dist seen["min"] and any extra
    `metrics` are observed on that checkpoint's job. When n is 0, `dist`
    comes back unchanged."""
    cand = frontier.join(edges, frontier["node"] == edges["src"]).select(
        edges["dst"].alias("node"),
        (frontier["dist"] + edges["w"]).alias("dist"),
        edges["src"].alias("via"),
    )
    best = cand.groupBy("node").agg(F.min(F.struct("dist", "via")).alias("b"))
    improved, seen = fixpoint.checkpoint(
        best.join(dist.select("node", F.col("dist").alias("old")), "node", "left")
        .filter(F.col("old").isNull() | (F.col("b.dist") < F.col("old")))
        .select("node", F.col("b.dist").alias("dist"), F.col("b.via").alias("via")),
        n=F.count(F.lit(1)), min=F.min("dist"), **metrics,
    )
    if seen["n"]:
        dist = (
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min(F.struct("dist", "via")).alias("b"))
            .select("node", F.col("b.dist").alias("dist"), F.col("b.via").alias("via"))
            .localCheckpoint()
        )
    return improved, seen, dist


def shortest_path(edges: DataFrame, source: int, max_rounds: int = 200,
                  broadcast_edges: bool = True) -> DataFrame:
    """Single-source shortest path to every reachable node. Returns
    (node, dist, via) where via is the predecessor on a shortest path
    (deterministic: min (dist, via) struct — equal-cost ties pick the
    smallest predecessor id, mirroring the reference's stable pop order).

    Label-correcting fixpoint == Dijkstra's result (shortest-path.ts:115);
    each round relaxes only the frontier (nodes improved last round), so
    total work is O(sum of frontier degrees), not O(V*E).
    """
    # materialize the edge list ONCE — every round's job would otherwise
    # recompute (and re-read) the whole upstream edge plan
    e = edges.select("src", "dst", "w").localCheckpoint()
    if broadcast_edges:
        e = F.broadcast(e)
    dist = frontier = _start(edges.sparkSession, source)
    for _ in range(max_rounds):
        frontier, seen, dist = _relax(frontier, dist, e)
        if not seen["n"]:
            break
    return dist


def astar_distance(edges: DataFrame, nodes: DataFrame, source: int, target: int,
                   max_rounds: int = 200, broadcast_edges: bool = True) -> DataFrame:
    """Goal-directed s->t shortest path (A*, reference
    algorithms/shortest-path.ts:127): the label-correcting fixpoint with the
    frontier PRUNED by the admissible great-circle heuristic — a frontier
    node n is dropped once dist(n) + haversine(n, target) exceeds the best
    known s->t cost, since no path through n can beat it (edge weights are
    haversine meters, so h never overestimates). Returns (node, dist, via);
    dist at `target` is the exact s->t distance, other labels may be
    goal-pruned partials — exactly A*'s contract.

    nodes: (id, lon, lat) for the heuristic. Scale shape matches
    shortest_path: one shuffle per round, plus a broadcast join of the
    frontier against the (small per-round) coordinate lookup. The best
    known cost is a running minimum of the target's label over each
    round's improvements (the label changes only in a round that improves
    it), observed on the round's checkpoint like the pruned frontier's
    size, so no round runs a probe job of its own.
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst", "w").localCheckpoint()
    if broadcast_edges:
        e = F.broadcast(e)
    tgt = nodes.filter(F.col("id") == target).select("lon", "lat").collect()
    if not tgt:
        return spark.createDataFrame([], "node long, dist double, via long")
    h = geo.haversine_m(F.col("lon"), F.col("lat"),
                        F.lit(float(tgt[0]["lon"])), F.lit(float(tgt[0]["lat"])))
    coords = nodes.select(F.col("id").alias("node"), "lon", "lat").localCheckpoint()
    to_target = F.min(F.when(F.col("node") == target, F.col("dist")))

    dist = frontier = _start(spark, source)
    ub = 0.0 if source == target else None  # best known s->t cost
    for _ in range(max_rounds):
        frontier, seen, dist = _relax(frontier, dist, e, tgt=to_target)
        if not seen["n"]:
            break
        if seen["tgt"] is not None:
            ub = seen["tgt"] if ub is None else min(ub, seen["tgt"])
        if ub is not None:
            frontier, kept = fixpoint.checkpoint(
                frontier.join(coords, "node", "left")
                .filter(F.col("lon").isNull() | (F.col("dist") + h <= F.lit(ub)))
                .select("node", "dist", "via"),
                n=F.count(F.lit(1)),
            )
            if not kept["n"]:
                break
    return dist


def bidirectional_distance(edges: DataFrame, source: int, target: int,
                           max_rounds: int = 200,
                           broadcast_edges: bool = True):
    """Bidirectional s->t search (reference algorithms/bidirectional.ts:20):
    forward fixpoint from `source` and backward fixpoint from `target` over
    the reversed edge list advance in lockstep; after each round the best
    meeting cost mu = min over nodes of (dist_f + dist_b) tightens, and the
    search stops once min(frontier_f) + min(frontier_b) >= mu — any
    undiscovered s->t path must cross both frontiers, so it cannot beat mu
    (exactness argument in tests/test_router.py). Returns
    (dist_f, dist_b, mu, meet_node); mu is None if unreachable.

    Each frontier's size and minimum are observed on its own checkpoint;
    the one probe job a round is the meeting-cost collect, which joins
    this round's improvements against the other side's labels.
    """
    spark = edges.sparkSession
    if source == target:
        # trivial meeting at the shared endpoint — the improvement-driven mu
        # probe below would otherwise report the best out-and-back cycle
        d = _start(spark, source)
        return d, d, 0.0, source

    e = edges.select("src", "dst", "w").localCheckpoint()
    er = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    if broadcast_edges:
        e, er = F.broadcast(e), F.broadcast(er)

    def expand(frontier: DataFrame | None, dist: DataFrame, edge: DataFrame):
        """(improved frontier or None, its min dist, merged dist)."""
        if frontier is None:
            return None, None, dist
        improved, seen, dist = _relax(frontier, dist, edge)
        return (improved, seen["min"], dist) if seen["n"] else (None, None, dist)

    dist_f, dist_b = _start(spark, source), _start(spark, target)
    fr_f, fr_b = dist_f, dist_b
    mu, meet = None, None
    for _ in range(max_rounds):
        fr_f, min_f, dist_f = expand(fr_f, dist_f, e)
        fr_b, min_b, dist_b = expand(fr_b, dist_b, er)
        if fr_f is None and fr_b is None:
            break
        # any NEW meeting involves a node improved THIS round on at least
        # one side — probing improvements x other-dist is sufficient and
        # strictly cheaper than the full dist_f x dist_b join
        parts = []
        if fr_f is not None:
            parts.append(
                fr_f.select("node", F.col("dist").alias("df")).join(
                    dist_b.select("node", F.col("dist").alias("db")), "node"
                )
            )
        if fr_b is not None:
            parts.append(
                dist_f.select("node", F.col("dist").alias("df")).join(
                    fr_b.select("node", F.col("dist").alias("db")), "node"
                )
            )
        cand = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        top = (
            cand.select("node", (F.col("df") + F.col("db")).alias("mu"))
            .orderBy("mu", "node").limit(1).collect()
        )
        if top and (mu is None or float(top[0]["mu"]) < mu):
            mu, meet = float(top[0]["mu"]), int(top[0]["node"])
        if mu is not None and min_f is not None and min_b is not None \
                and min_f + min_b >= mu:
            break
    return dist_f, dist_b, mu, meet


def route_bidirectional(edges: DataFrame, source: int, target: int,
                        max_rounds: int = 200, max_hops: int = 10_000,
                        broadcast_edges: bool = True) -> DataFrame:
    """Point-to-point route via the bidirectional search: the forward
    predecessor chain source->meet and the backward chain meet->target are
    each extracted by pointer doubling and concatenated. Returns
    DataFrame(pos, node) with pos counting hops from the TARGET (matching
    route()); empty if unreachable."""
    dist_f, dist_b, mu, meet = bidirectional_distance(
        edges, source, target, max_rounds, broadcast_edges
    )
    spark = edges.sparkSession
    if mu is None:
        return spark.createDataFrame([], "pos long, node long")
    # both chains are expanded FROM the meeting node: the forward table's
    # vias lead back to source, the backward table's to target
    fwd = reconstruct_path_df(dist_f, meet, max_hops)   # pos 0=meet .. source
    bwd = reconstruct_path_df(dist_b, meet, max_hops)   # pos 0=meet .. target
    n_bwd = bwd.count()  # path-sized
    # output pos counts hops from TARGET (0=target .. max=source): flip the
    # backward chain, shift the forward one past it, drop the duplicate meet
    bwd_flip = bwd.select((F.lit(n_bwd - 1) - F.col("pos")).alias("pos"), "node")
    fwd_shift = fwd.filter(F.col("pos") > 0).select(
        (F.col("pos") + F.lit(n_bwd - 1)).alias("pos"), "node"
    )
    return bwd_flip.unionByName(fwd_shift)


def reconstruct_path_df(dist: DataFrame, target: int,
                        max_hops: int = 10_000) -> DataFrame:
    """Distributed predecessor-chain extraction by pointer doubling
    (parallel list ranking): never collects the distance table.

    Build jump tables J_k(node) = (ancestor after 2^k via-hops, exact steps
    advanced) by K = ceil(log2(max_hops)) self-joins, then expand the
    target's chain top-down — each expansion round doubles the number of
    resolved path positions and joins the (path-sized, broadcast) frontier
    against one jump table. Returns DataFrame(pos, node) where pos counts
    hops from the TARGET (pos 0 = target, max pos = source).

    Scale: K full-table shuffles to build jumps + K broadcast probes to
    expand; driver memory O(1). The reference materializes the path as an
    in-memory array (shortest-path.ts) — fine single-node, not at 1e9
    nodes.
    """
    import math

    spark = dist.sparkSession
    source_like = F.col("via") == F.col("node")
    j = dist.select(
        "node", F.col("via").alias("anc"),
        F.when(source_like, F.lit(0)).otherwise(F.lit(1)).cast("long").alias("steps"),
    ).localCheckpoint()
    jumps = [j]
    # subset sums of {2^0..2^(k-1)}-step tables reach 2^k - 1 hops, so a
    # path of exactly max_hops needs ceil(log2(max_hops + 1)) tables
    k = max(1, math.ceil(math.log2(max(2, max_hops + 1))))
    for _ in range(k - 1):
        # J_{k+1}(n) = J_k(J_k(n)); it differs from J_k only on rows where
        # both hops advanced, so when none did the table is dropped: every
        # chain already resolves to the source
        hop = j.select(F.col("node").alias("anc"), F.col("anc").alias("anc2"),
                       F.col("steps").alias("steps2"))
        nxt, seen = fixpoint.checkpoint(
            j.join(hop, "anc").select("node", F.col("anc2").alias("anc"), "steps", "steps2"),
            advanced=F.count_if((F.col("steps") > 0) & (F.col("steps2") > 0)),
        )
        if not seen["advanced"]:
            break
        j = nxt.select("node", "anc", (F.col("steps") + F.col("steps2")).alias("steps"))
        jumps.append(j)

    rows = spark.createDataFrame([(0, target)], "pos long, node long")
    for jk in reversed(jumps):
        ext = (
            F.broadcast(rows).join(jk, "node")
            .select((F.col("pos") + F.col("steps")).alias("pos"), F.col("anc").alias("node"))
        )
        rows = rows.unionByName(ext).distinct().localCheckpoint()
    return rows


def reconstruct_path(dist: DataFrame, target: int, max_hops: int = 10_000) -> list[int]:
    """Path node ids source..target — the list convenience over
    reconstruct_path_df. Collects O(path) rows, never the distance table."""
    if dist.filter(F.col("node") == target).isEmpty():
        return []
    rows = reconstruct_path_df(dist, target, max_hops).collect()
    ordered = [r["node"] for r in sorted(rows, key=lambda r: -r["pos"])]
    return ordered


def route(edges: DataFrame, source: int, target: int,
          max_rounds: int = 200, max_hops: int = 10_000,
          broadcast_edges: bool = True) -> DataFrame:
    """Point-to-point route (the reference router's user-facing API,
    packages/router/src/router.ts): SSSP from `source`, then the exact
    predecessor chain to `target` via distributed pointer doubling.
    Returns DataFrame(pos, node, dist) where pos counts hops from the
    TARGET (pos 0 = target, max pos = source); empty if unreachable."""
    dist = shortest_path(edges, source, max_rounds, broadcast_edges)
    if dist.filter(F.col("node") == target).isEmpty():
        return dist.sparkSession.createDataFrame([], "pos long, node long, dist double")
    path = reconstruct_path_df(dist, target, max_hops)
    return path.join(dist.select("node", "dist"), "node").select("pos", "node", "dist")
