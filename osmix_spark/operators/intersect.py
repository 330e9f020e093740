"""Way-crossing intersection creation (J10).

Reference: packages/change/src/changeset.ts:520-719 with tag predicate
waysShouldConnect (change/src/utils.ts:116-131) and nearest-node splice
(utils.ts:217-238). Pipeline:

  1. candidate pairs: cell-pruned bbox-overlap self-join over ways,
     symmetric pair dedupe, tag predicate (highway/footway connect; areas,
     bridges, tunnels, differing layers never connect);
  2. coordinates resolved via the J1 way->node join (collect per way);
  3. exact segment intersections + per-point classification (shared node /
     reuse nearest node within 1 m / create new node) vectorized in NumPy
     inside mapInPandas over Arrow batches of candidate pairs;
  4. deterministic id allocation for created nodes: max(node id) + rank
     in (cell, lon, lat) order via per-cell offsets — parallel-safe,
     matching the reference's sequential max+1 counter in effect;
  5. per-way splice aggregation: all new refs for a way are inserted before
     their nearest existing ref (the reference's nearestNodeOnWay insert),
     applied in one pass per way.

Scale notes: the only wide operations are the pair join (cell equi-join)
and two groupBys keyed by way id; the Python stage sees only candidate
pairs (a tiny fraction of ways), Arrow-batched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions import geo
from ..plans import fixpoint
from ..plans.stage import per_row
from . import merge, spatial

_FOOTISH = ("footway", "path", "cycleway", "bridleway", "steps")


def _is_highway(tags) -> F.Column:
    return F.element_at(tags, F.lit("highway")).isNotNull()


def _is_footish(tags) -> F.Column:
    return F.element_at(tags, F.lit("highway")).isin(*_FOOTISH)


def _is_polygonish(tags) -> F.Column:
    return (
        F.element_at(tags, F.lit("building")).isNotNull()
        | F.element_at(tags, F.lit("landuse")).isNotNull()
        | F.element_at(tags, F.lit("natural")).isNotNull()
    )


def _is_shared() -> F.Column:
    """The point is a node both ways already have. Never null: `<=>` makes
    it false when only way a has a node there (near_b null), so `~` keeps
    that point with the real crossings."""
    return F.col("near_a").isNotNull() & F.col("near_a").eqNullSafe(F.col("near_b"))


def is_intersection_candidate(tags) -> F.Column:
    """isWayIntersectionCandidate (utils.ts:136-139)."""
    return tags.isNotNull() & (_is_highway(tags) | _is_footish(tags)) & ~_is_polygonish(tags)


def ways_should_connect(a_tags, b_tags) -> F.Column:
    """waysShouldConnect (utils.ts:116-131)."""
    sep = (
        F.element_at(a_tags, F.lit("bridge")).isNotNull()
        | F.element_at(a_tags, F.lit("tunnel")).isNotNull()
        | F.element_at(b_tags, F.lit("bridge")).isNotNull()
        | F.element_at(b_tags, F.lit("tunnel")).isNotNull()
    )
    layer_a = F.coalesce(F.element_at(a_tags, F.lit("layer")), F.lit("0"))
    layer_b = F.coalesce(F.element_at(b_tags, F.lit("layer")), F.lit("0"))
    hw = (
        (_is_highway(a_tags) & _is_highway(b_tags))
        | (_is_highway(a_tags) & _is_footish(b_tags))
        | (_is_highway(b_tags) & _is_footish(a_tags))
        | (_is_footish(a_tags) & _is_footish(b_tags))
    )
    return (
        ~_is_polygonish(a_tags) & ~_is_polygonish(b_tags)
        & ~sep & (layer_a == layer_b) & hw
    )


def _way_coords(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """(id, refs, lons array, lats array, minx..maxy) via the J1 join, with
    consecutive-duplicate coordinate removal deferred to the NumPy stage."""
    refs = ways.select("id", F.posexplode("refs").alias("seq", "ref"))
    j = refs.join(
        nodes.select(F.col("id").alias("ref"), "lon", "lat"), "ref"
    )
    coords = (
        j.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("seq", "ref", "lon", "lat"))).alias("s"))
        .select(
            "id",
            F.col("s.ref").alias("ordered_refs"),
            F.col("s.lon").alias("lons"),
            F.col("s.lat").alias("lats"),
            F.array_min("s.lon").alias("minx"),
            F.array_min("s.lat").alias("miny"),
            F.array_max("s.lon").alias("maxx"),
            F.array_max("s.lat").alias("maxy"),
        )
    )
    return ways.join(coords, "id")


_POINT_SCHEMA = T.StructType(
    [
        T.StructField("way_a", T.LongType(), False),
        T.StructField("way_b", T.LongType(), False),
        T.StructField("px", T.DoubleType(), False),
        T.StructField("py", T.DoubleType(), False),
        T.StructField("near_a", T.LongType(), True),   # node id on way a within 1 m
        T.StructField("near_b", T.LongType(), True),
        T.StructField("splice_a_at", T.IntegerType(), True),  # nearest ref index
        T.StructField("splice_b_at", T.IntegerType(), True),
    ]
)


def _seg_intersections(ax, ay, bx, by):
    """All proper/touching intersection points between two polylines.
    Vectorized over the full segment-pair grid (public parametric form)."""
    import numpy as np

    p1x, p1y = ax[:-1], ay[:-1]
    p2x, p2y = ax[1:], ay[1:]
    q1x, q1y = bx[:-1], by[:-1]
    q2x, q2y = bx[1:], by[1:]
    rx = (p2x - p1x)[:, None]
    ry = (p2y - p1y)[:, None]
    sx = (q2x - q1x)[None, :]
    sy = (q2y - q1y)[None, :]
    dx = q1x[None, :] - p1x[:, None]
    dy = q1y[None, :] - p1y[:, None]
    denom = rx * sy - ry * sx
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (dx * sy - dy * sx) / denom
        u = (dx * ry - dy * rx) / denom
    ok = (denom != 0) & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
    ti, tj = np.nonzero(ok)
    ptx = p1x[ti] + t[ti, tj] * (p2x - p1x)[ti]
    pty = p1y[ti] + t[ti, tj] * (p2y - p1y)[ti]
    # dedupe identical points (the reference's coordinate-key set)
    seen: dict[tuple, None] = {}
    out = []
    for x, y in zip(ptx, pty):
        k = (float(x), float(y))
        if k not in seen:
            seen[k] = None
            out.append(k)
    return out


def _clean(xs, ys, refs):
    """cleanCoords: drop consecutive duplicate coordinates (utils.ts:86-98)."""
    import numpy as np

    keep = np.ones(len(xs), dtype=bool)
    keep[1:] = (xs[1:] != xs[:-1]) | (ys[1:] != ys[:-1])
    return xs[keep], ys[keep], [r for r, k in zip(refs, keep) if k]


def _haversine_np(lon1, lat1, lon2, lat2):
    import numpy as np

    dlat = np.radians(lat2 - lat1)
    dlon = np.radians(lon2 - lon1)
    a = np.sin(dlat / 2) ** 2 + np.sin(dlon / 2) ** 2 * np.cos(np.radians(lat1)) * np.cos(np.radians(lat2))
    return geo.EARTH_RADIUS_M * 2 * np.arctan2(np.sqrt(a), np.sqrt(1 - a))


def find_intersection_points(ways: DataFrame, nodes: DataFrame, z: int = 13,
                             candidates: DataFrame | None = None) -> DataFrame:
    """Candidate pairs -> exact intersection points with per-way nearest-node
    classification. Returns _POINT_SCHEMA rows.

    candidates: optional 1-column DataFrame of way ids scoping the search,
    mirroring `createIntersectionsForWays(modifiedPatch.ways)` in the final
    merge stage (merge.ts:102-107): only pairs touching >=1 candidate way
    are tested — the candidate is the outer-loop `way` (so it lands on the
    a side, matching the reference's prefer-way-a node reuse), the whole
    dataset is the bbox-searched index (changeset.ts:520-529). Two base
    ways that crossed before the merge are NOT intersected. With candidates
    the a side of the cover join is patch-sized, keeping stage 7
    O(|patch| x local density) instead of O(|base|^2 density)."""
    wc = _way_coords(ways, nodes).filter(is_intersection_candidate(F.col("tags")))
    boxes = wc.select("id", "tags", "ordered_refs", "lons", "lats", "minx", "miny", "maxx", "maxy")
    a, b, keep_once = merge.id_pair_sides(boxes, candidates)
    # exact adaptive-cover candidate join (no truncation for long ways)
    cands = spatial.overlap_candidate_pairs(
        a, b, z,
        ("a_minx", "a_miny", "a_maxx", "a_maxy"),
        ("b_minx", "b_miny", "b_maxx", "b_maxy"),
    )
    overlap = geo.bbox_intersects(
        F.col("a_minx"), F.col("a_miny"), F.col("a_maxx"), F.col("a_maxy"),
        F.col("b_minx"), F.col("b_miny"), F.col("b_maxx"), F.col("b_maxy"),
    )
    pairs = (
        cands.filter(keep_once)
        .filter(overlap)
        .filter(ways_should_connect(F.col("a_tags"), F.col("b_tags")))
        .dropDuplicates(["a_id", "b_id"])
        # by name: a scoped side b carries id_pair_sides' extra column
        .select(*a.columns, *[f"b_{c}" for c in boxes.columns])
    )

    def compute(r):
        import numpy as np

        ax_, ay_, arefs = _clean(
            np.asarray(r.a_lons), np.asarray(r.a_lats), list(r.a_ordered_refs)
        )
        bx_, by_, brefs = _clean(
            np.asarray(r.b_lons), np.asarray(r.b_lats), list(r.b_ordered_refs)
        )
        if len(ax_) < 2 or len(bx_) < 2:
            return
        if len(ax_) == len(bx_) and (ax_ == bx_).all() and (ay_ == by_).all():
            return  # geometrically equal ways are dedupe's job
        for px, py in _seg_intersections(ax_, ay_, bx_, by_):
            da = _haversine_np(ax_, ay_, px, py)
            db = _haversine_np(bx_, by_, px, py)
            ia, ib = int(da.argmin()), int(db.argmin())
            yield {
                "way_a": int(r.a_id), "way_b": int(r.b_id),
                "px": float(px), "py": float(py),
                "near_a": int(arefs[ia]) if da[ia] < 1.0 else None,
                "near_b": int(brefs[ib]) if db[ib] < 1.0 else None,
                "splice_a_at": ia,
                "splice_b_at": ib,
            }

    return per_row(pairs, compute, _POINT_SCHEMA)


def create_intersections(ways: DataFrame, nodes: DataFrame, z: int = 13,
                         candidates: DataFrame | None = None):
    """Full J10: returns (new_nodes, updated_ways, tagged_node_ids, stats).

    candidates: optional way-id scope (see find_intersection_points) — the
    merge pipeline passes the deduped patch ways here so pre-existing
    base-base crossings are left alone (merge.ts:102-107).

    new_nodes: (id, lon, lat, tags={crossing:yes}) with deterministic ids
    max(node id) + rank in (cell, px, py) order — parallel-safe via
    per-cell offsets; any fixed total order matches the reference's
    sequential max+1 counter in effect.
    updated_ways: the input ways with new refs spliced in.
    tagged_node_ids: existing node ids that gain crossing=yes.
    stats: intersection_points_found, intersection_nodes_created and
    shared_node_points, each observed on a `fixpoint.checkpoint` of the
    frame it counts (the intersection points, the distinct created
    points), so no job runs for a counter. The returned frames stay lazy
    and read the points from their checkpoint.
    """
    pts, seen = fixpoint.checkpoint(
        find_intersection_points(ways, nodes, z=z, candidates=candidates),
        points=F.count(F.lit(1)), shared=F.count_if(_is_shared()),
    )
    shared = pts.filter(_is_shared())
    real = pts.filter(~_is_shared())

    # classification (changeset.ts:629-688): prefer way-a node, then way-b
    # node, else create
    reuse_a = real.filter(F.col("near_a").isNotNull())
    reuse_b = real.filter(F.col("near_a").isNull() & F.col("near_b").isNotNull())
    creates = real.filter(F.col("near_a").isNull() & F.col("near_b").isNull())

    # first allocated id = next_entity_id(nodes) = true max + 1 (0 on an
    # empty layer, negatives allocate toward zero — safe-id-allocation.test.ts)
    max_id = merge.next_entity_id(nodes) - 1
    # deterministic distributed id allocation: rank within cell partitions +
    # per-cell offsets (the tiny offsets window runs over #cells rows, not
    # #creates — no single-task global window at scale)
    # the count of created nodes is observed here, not on pts: observed
    # metrics reject DISTINCT aggregates
    distinct_pts, created = fixpoint.checkpoint(
        creates.select("px", "py").distinct().withColumn(
            "__cell", geo.cell_key(F.col("px"), F.col("py"), F.lit(z))
        ),
        n=F.count(F.lit(1)),
    )
    offs = (
        distinct_pts.groupBy("__cell").agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__n").over(
                    Window.orderBy("__cell").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("__n")
    )
    w = Window.partitionBy("__cell").orderBy("px", "py")
    new_nodes = (
        distinct_pts.join(F.broadcast(offs), "__cell")
        .withColumn("id", F.lit(max_id) + F.col("__off") + F.row_number().over(w))
        .select(
            "id", F.col("px").alias("lon"), F.col("py").alias("lat"),
            F.create_map(F.lit("crossing"), F.lit("yes")).alias("tags"),
        )
    )
    created_keyed = creates.join(
        new_nodes.select(F.col("lon").alias("px"), F.col("lat").alias("py"), F.col("id").alias("new_id")),
        ["px", "py"],
    )

    # splice instructions: (way_id, insert_at, node_id)
    splices = (
        created_keyed.select(F.col("way_a").alias("way_id"), F.col("splice_a_at").alias("at"), F.col("new_id").alias("node_id"))
        .unionByName(created_keyed.select(F.col("way_b").alias("way_id"), F.col("splice_b_at").alias("at"), F.col("new_id").alias("node_id")))
        .unionByName(reuse_a.filter(F.col("near_b").isNull()).select(F.col("way_b").alias("way_id"), F.col("splice_b_at").alias("at"), F.col("near_a").alias("node_id")))
        .unionByName(reuse_b.select(F.col("way_a").alias("way_id"), F.col("splice_a_at").alias("at"), F.col("near_b").alias("node_id")))
    )
    # reuse_a with near_b present: replace near_b ref by near_a in way_b
    replaces = reuse_a.filter(F.col("near_b").isNotNull()).select(
        F.col("way_b").alias("way_id"), F.col("near_b").alias("from_ref"), F.col("near_a").alias("to_ref")
    )

    # nodes gaining crossing=yes (shared or reused)
    tagged = (
        shared.select(F.col("near_a").alias("id"))
        .unionByName(reuse_a.select(F.col("near_a").alias("id")))
        .unionByName(reuse_b.select(F.col("near_b").alias("id")))
        .distinct()
    )

    # apply splices per way: insert node_id before index `at` (sorted desc so
    # earlier inserts don't shift later positions)
    agg_splices = splices.groupBy("way_id").agg(
        F.sort_array(F.collect_list(F.struct("at", "node_id")), asc=False).alias("ins")
    )
    # apply replaces then splices via two joins
    repl_map = replaces.groupBy("way_id").agg(
        F.map_from_entries(F.collect_list(F.struct("from_ref", "to_ref"))).alias("repl")
    )
    w1 = ways.join(repl_map, ways.id == repl_map.way_id, "left").drop("way_id")
    w1 = w1.withColumn(
        "refs",
        F.when(
            F.col("repl").isNotNull(),
            F.transform(F.col("refs"), lambda r: F.coalesce(F.element_at(F.col("repl"), r), r)),
        ).otherwise(F.col("refs")),
    ).drop("repl")
    w2 = w1.join(agg_splices, w1.id == agg_splices.way_id, "left").drop("way_id")
    apply_ins = F.aggregate(
        F.coalesce(F.col("ins"), F.expr("CAST(array() AS ARRAY<STRUCT<at:INT, node_id:BIGINT>>)")),
        F.col("refs"),
        lambda acc, s: F.concat(
            F.slice(acc, 1, s.at), F.array(s.node_id), F.slice(acc, s.at + 1, F.size(acc) - s.at)
        ),
    )
    updated_ways = w2.withColumn("refs", apply_ins).drop("ins")

    stats = {
        "intersection_points_found": seen["points"] - seen["shared"],
        "intersection_nodes_created": created["n"],
        "shared_node_points": seen["shared"],
    }
    return new_nodes, updated_ways, tagged, stats
