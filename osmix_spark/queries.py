"""The engine's query suite + DuckDB oracle twins (driver contract).

Each entry in QUERIES is a (spark, sf_dir) -> DataFrame callable exercising
one operator family from SURVEY.md §2; ORACLES holds the ANSI-SQL twin that
DuckDB runs on the same parquet tables. Column names/types and value
rounding are kept in lockstep — the driver hash-compares values after
sorting columns by name.

Float parity strategy: coordinates are derived with integer modular
arithmetic + double division (bit-identical across engines, see
sources/synth.py); transcendental results (haversine, mercator, cosine)
are rounded before output so last-bit differences can't flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import geo, s2 as s2f, text
from .functions.hashing import (portable_hash64, portable_hash64_pair_sql,
                                portable_hash64_sql)
from .operators import merge, spatial
from .plans.stage import spread
from .sources import layout, synth

Query = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, Query] = {}
ORACLES: dict[str, str] = {}
# Near-duplicate queries whose operator code paths are fully exercised by a
# first-tier query (e.g. text_simhash_pairs computes text_simhash's
# signatures via the same operators/dedupe function). Kept oracle-backed for
# pytest + bench, but OUT of the driver's 50-query correctness window so
# every distinct operator family gets a driver-verified row.
EXTRA_QUERIES: dict[str, Query] = {}
EXTRA_ORACLES: dict[str, str] = {}

# second-tier membership (which first-tier query subsumes each code path):
_EXTRA_NAMES = {
    "q3_order_revenue",      # broadcast join+agg: q1_pricing_summary, q_window_top_orders
    "q_events_daily",        # events rollup: events_sessionize
    "geo_cell_assign",       # tile math: geo_tile_assignment + the flagship
    "text_minhash",          # minhash_signatures: text_lsh_pairs, text_jaccard_verify
    "text_simhash",          # dedupe.simhash: text_simhash_pairs
    "multimodal_stats",      # media schema/pruning: multimodal_decode/resize
    "shortbread_classify",   # shortbread.classify CASE: shortbread_layers/tile_stats
}


def _q(name: str, oracle: str | None = None, extra: bool = False):
    extra = extra or name in _EXTRA_NAMES

    def deco(fn: Query):
        (EXTRA_QUERIES if extra else QUERIES)[name] = fn
        if oracle is not None:
            (EXTRA_ORACLES if extra else ORACLES)[name] = oracle
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    return {**QUERIES, **EXTRA_QUERIES}


def all_oracles() -> dict[str, str]:
    return {**ORACLES, **EXTRA_ORACLES}


def _t(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return layout.read_parquet(spark, f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# shared SQL snippets (twins of osmix_spark expressions — keep in lockstep)
# ---------------------------------------------------------------------------

def _hav_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Twin of functions/geo.haversine_m (same op order)."""
    return (
        f"(6371008.8 * (2.0 * atan2("
        f"sqrt(pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)"
        f" + pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)"
        f" * cos(radians({lat1})) * cos(radians({lat2}))),"
        f"sqrt(1 - (pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)"
        f" + pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)"
        f" * cos(radians({lat1})) * cos(radians({lat2})))))))"
    )


def _tile_x_sql(lon: str, z: int) -> str:
    n = 1 << z
    return (
        f"least(greatest(floor((({lon}) / 360.0 + 0.5) * pow(2.0, {z})), 0), {n - 1})::BIGINT"
    )


def _tile_y_sql(lat: str, z: int) -> str:
    n = 1 << z
    return (
        f"least(greatest(floor((0.5 - 0.25 * ln((1.0 + sin(radians({lat})))"
        f" / (1.0 - sin(radians({lat})))) / pi()) * pow(2.0, {z})), 0), {n - 1})::BIGINT"
    )


def _cell_sql(lon: str, lat: str, z: int) -> str:
    return f"(({z}::BIGINT << 58) + ({_tile_x_sql(lon, z)} << 29) + {_tile_y_sql(lat, z)})"


_TOKS_SQL = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"

DOC_LON_SQL, DOC_LAT_SQL = synth.clustered_sql("doc_id")
PART_LON_SQL, PART_LAT_SQL = synth.clustered_sql("p_partkey")


def _doc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        synth.clustered_lon("doc_id").alias("lon"),
        synth.clustered_lat("doc_id").alias("lat"),
    )


def _part_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "part").select(
        F.col("p_partkey"),
        synth.clustered_lon("p_partkey").alias("lon"),
        synth.clustered_lat("p_partkey").alias("lat"),
    )


# ===========================================================================
# Relational core (scan/filter/join/agg/window/sort — SURVEY §2.2-2.6)
# ===========================================================================

@_q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           count(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style scan+filter+agg (partial agg map-side; pushdown on
    l_shipdate reaches the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_q(
    "q3_order_revenue",
    """
    SELECT o.o_orderkey,
           (sum((l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6)))::DOUBLE AS revenue,
           c.c_mktsegment
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, c.c_mktsegment
    """,
)
def q3_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg; the small dimension (customer) broadcasts.

    The lineitem join is hinted SHUFFLE_HASH with the filtered
    customer x orders side as build: left to size estimates the planner
    broadcasts LINEITEM (the pruned 3-column scan estimate lands under
    the threshold), i.e. it builds a hash relation over the fact table —
    backwards at every scale. The hinted shape shuffles both sides by
    orderkey and builds the 5x-smaller side per partition (no driver
    broadcast build, skew-safe, and the groupBy(o_orderkey, ...) reuses
    the join's partitioning: one exchange of lineitem total).
    Measured 4.6s -> 2.1s at the sf1.0 shape, byte-identical output."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    co = (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .select("o_orderkey", "c_mktsegment")
    )
    return (
        li.join(co.hint("shuffle_hash"), li.l_orderkey == co.o_orderkey)
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(
            # decimal accumulation: exact + order-independent, so the value
            # matches the oracle bit-for-bit regardless of partial-agg order
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue")
        )
        .select("o_orderkey", "revenue", "c_mktsegment")
    )


@_q(
    "q_window_top_orders",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k per group (the reference's kNN/survivor idiom,
    SURVEY §2.5)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@_q(
    "q_events_daily",
    """
    SELECT date_trunc('day', ts) AS day, event_type,
           count(*)::BIGINT AS n_events,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window (daily) event aggregation — the batch shape of the
    streaming rollup."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# ===========================================================================
# Geo kernel + spatial joins (SURVEY §2.3, J2-J6)
# ===========================================================================

@_q(
    "geo_cell_assign",
    f"""
    SELECT doc_id,
           {_tile_x_sql(DOC_LON_SQL, 12)} AS tile_x,
           {_tile_y_sql(DOC_LAT_SQL, 12)} AS tile_y,
           {_cell_sql(DOC_LON_SQL, DOC_LAT_SQL, 12)} AS cell
    FROM documents
    """,
)
def geo_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point -> (tile_x, tile_y, packed cell) at z12 — the tile-assignment
    kernel (geo/src/tile.ts math)."""
    pts = _doc_points(spark, sf_dir)
    z = F.lit(12)
    return pts.select(
        "doc_id",
        geo.tile_x(F.col("lon"), z).alias("tile_x"),
        geo.tile_y(F.col("lat"), z).alias("tile_y"),
        geo.cell_key(F.col("lon"), F.col("lat"), z).alias("cell"),
    )


_S2_LEVEL = 12

@_q(
    "geo_s2_cell_assign",
    f"""
    SELECT doc_id, s2_key, (s2_key >> 8) AS s2_parent
    FROM ({s2f.s2_cell_duckdb_sql("documents", "doc_id", DOC_LON_SQL,
                                  DOC_LAT_SQL, _S2_LEVEL)}) t
    """,
    extra=True,
)
def geo_s2_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point -> packed S2 Hilbert cell key at level 12 + its level-8 parent
    (bit shift) — the literal H3/S2 index from BASELINE.json's north rule;
    the quadkey twin is geo_cell_assign."""
    pts = _doc_points(spark, sf_dir)
    d = s2f.with_s2_key(pts, level=_S2_LEVEL)
    return d.select(
        "doc_id", "s2_key",
        s2f.s2_parent(F.col("s2_key"), _S2_LEVEL - 8).alias("s2_parent"),
    )


_BBOX = (
    synth.CENTROID_LON + 0.5 * synth.CLUSTER_STEP_LON,
    synth.CENTROID_LAT - 0.02,
    synth.CENTROID_LON + 2.5 * synth.CLUSTER_STEP_LON,
    synth.CENTROID_LAT + 0.12,
)

@_q(
    "geo_bbox_query",
    f"""
    SELECT doc_id, {DOC_LON_SQL} AS lon, {DOC_LAT_SQL} AS lat
    FROM documents
    WHERE {DOC_LON_SQL} >= {_BBOX[0]} - 0.00001 AND {DOC_LON_SQL} <= {_BBOX[2]} + 0.00001
      AND {DOC_LAT_SQL} >= {_BBOX[1]} - 0.00001 AND {DOC_LAT_SQL} <= {_BBOX[3]} + 0.00001
    """,
)
def geo_bbox_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: inclusive-epsilon bbox containment (nodes.ts:455-491)."""
    pts = _doc_points(spark, sf_dir)
    return spatial.bbox_query(pts, *_BBOX).select("doc_id", "lon", "lat")


_RQ_CENTER = synth.cluster_center(1)

@_q(
    "geo_radius_query",
    f"""
    SELECT doc_id, round({_hav_sql(DOC_LON_SQL, DOC_LAT_SQL, str(_RQ_CENTER[0]), str(_RQ_CENTER[1]))}, 3) AS dist_m
    FROM documents
    WHERE {_hav_sql(DOC_LON_SQL, DOC_LAT_SQL, str(_RQ_CENTER[0]), str(_RQ_CENTER[1]))} <= 2000.0
    """,
)
def geo_radius_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: radius query, exact haversine refine (nodes.ts:493-529)."""
    pts = _doc_points(spark, sf_dir)
    r = spatial.radius_query(pts, _RQ_CENTER[0], _RQ_CENTER[1], 2000.0, id_col="doc_id")
    return r.select("doc_id", F.round("dist_m", 3).alias("dist_m"))


_KNN_CENTERS_SQL = f"""
    SELECT n_nationkey AS query_id,
           ({synth.CENTROID_LON} + (n_nationkey % {synth.NUM_CLUSTERS})::DOUBLE * {synth.CLUSTER_STEP_LON}) AS qlon,
           ({synth.CENTROID_LAT} + ((n_nationkey % {synth.NUM_CLUSTERS}) % 3)::DOUBLE * {synth.CLUSTER_STEP_LAT}) AS qlat
    FROM nation WHERE n_nationkey BETWEEN 1 AND 5
"""

@_q(
    "geo_knn",
    f"""
    WITH q AS ({_KNN_CENTERS_SQL}),
    d AS (
      SELECT q.query_id, documents.doc_id,
             {_hav_sql("q.qlon", "q.qlat", DOC_LON_SQL, DOC_LAT_SQL)} AS dist
      FROM q CROSS JOIN documents
    )
    SELECT query_id, doc_id, round(dist, 3) AS dist_m, rn::BIGINT AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, doc_id) AS rn FROM d)
    WHERE rn <= 5
    """,
)
def geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: kNN via cell-ring expansion with the sufficiency guarantee —
    oracle is the brute-force cross join."""
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_nationkey").between(1, 5))
    cid = F.col("n_nationkey") % synth.NUM_CLUSTERS
    queries = nation.select(
        F.col("n_nationkey").cast("long").alias("query_id"),
        (F.lit(synth.CENTROID_LON) + cid.cast("double") * synth.CLUSTER_STEP_LON).alias("lon"),
        (F.lit(synth.CENTROID_LAT) + (cid % 3).cast("double") * synth.CLUSTER_STEP_LAT).alias("lat"),
    )
    pts = _doc_points(spark, sf_dir)
    out = spatial.knn_join(queries, pts, k=5, point_id="doc_id", z=12)
    return out.select(
        "query_id", "doc_id", F.round("dist_m", 3).alias("dist_m"),
        F.col("rank").cast("long").alias("rank"),
    )


@_q(
    "geo_tile_assignment",
    f"""
    SELECT doc_id, z::INT AS z,
           least(greatest(floor((({DOC_LON_SQL}) / 360.0 + 0.5) * pow(2.0, z)), 0), pow(2.0, z) - 1)::BIGINT AS x,
           least(greatest(floor((0.5 - 0.25 * ln((1.0 + sin(radians({DOC_LAT_SQL}))) / (1.0 - sin(radians({DOC_LAT_SQL})))) / pi()) * pow(2.0, z)), 0), pow(2.0, z) - 1)::BIGINT AS y
    FROM documents, (SELECT unnest([10, 12, 14]) AS z)
    """,
)
def geo_tile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4-style tile assignment rows: each point x zooms {10,12,14} —
    the golden (z,x,y,entity) output of tile materialization."""
    pts = _doc_points(spark, sf_dir)
    zs = F.explode(F.array(F.lit(10), F.lit(12), F.lit(14))).alias("z")
    e = pts.select("doc_id", "lon", "lat", zs)
    return e.select(
        "doc_id",
        F.col("z").cast("int").alias("z"),
        geo.tile_x(F.col("lon"), F.col("z")).alias("x"),
        geo.tile_y(F.col("lat"), F.col("z")).alias("y"),
    )


_HEXES = [
    (cid, synth.hexagon_vertices(*synth.cluster_center(cid), r=0.04)) for cid in (1, 2, 3)
]

def _hex_edges_sql() -> str:
    rows = []
    for pid, verts in _HEXES:
        for i in range(len(verts)):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % len(verts)]
            rows.append(f"({pid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})")
    return ", ".join(rows)


@_q(
    "geo_point_in_polygon",
    f"""
    WITH edges(polygon_id, x1, y1, x2, y2) AS (VALUES {_hex_edges_sql()}),
    pts AS (SELECT doc_id, {DOC_LON_SQL} AS lon, {DOC_LAT_SQL} AS lat FROM documents)
    SELECT doc_id, polygon_id::BIGINT AS polygon_id FROM (
      SELECT p.doc_id, e.polygon_id,
             min((e.x2 - e.x1) * (p.lat - e.y1) - (e.y2 - e.y1) * (p.lon - e.x1)) AS mincross
      FROM pts p CROSS JOIN edges e
      GROUP BY p.doc_id, e.polygon_id
    ) WHERE mincross >= 0
    """,
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: point-in-polygon via broadcast NumPy ray casting (mapInPandas);
    oracle is the convex half-plane test (hexagons are disjoint, so the
    'first containing polygon' rule is order-independent)."""
    pts = _doc_points(spark, sf_dir)
    out = spatial.point_in_polygon(pts, _HEXES)
    return out.select("doc_id", "polygon_id")


@_q(
    "geo_bbox_overlap_join",
    f"""
    WITH boxes AS (
      -- n_nationkey = 0 gets a wide box spanning >> 16 tiles at z=11: the
      -- regression case for exact (non-truncated) bbox coverage
      SELECT n_nationkey,
             (CASE WHEN n_nationkey = 0 THEN 4.0 ELSE 0.03 END) AS half,
             ({synth.CENTROID_LON} + (n_nationkey % {synth.NUM_CLUSTERS})::DOUBLE * {synth.CLUSTER_STEP_LON}) - half AS minx,
             ({synth.CENTROID_LAT} + ((n_nationkey % {synth.NUM_CLUSTERS}) % 3)::DOUBLE * {synth.CLUSTER_STEP_LAT}) - half AS miny,
             ({synth.CENTROID_LON} + (n_nationkey % {synth.NUM_CLUSTERS})::DOUBLE * {synth.CLUSTER_STEP_LON}) + half AS maxx,
             ({synth.CENTROID_LAT} + ((n_nationkey % {synth.NUM_CLUSTERS}) % 3)::DOUBLE * {synth.CLUSTER_STEP_LAT}) + half AS maxy
      FROM nation
    ),
    dboxes AS (
      SELECT doc_id, {DOC_LON_SQL} - 0.005 AS minx, {DOC_LAT_SQL} - 0.005 AS miny,
             {DOC_LON_SQL} + 0.005 AS maxx, {DOC_LAT_SQL} + 0.005 AS maxy
      FROM documents
    )
    SELECT b.n_nationkey, count(*)::BIGINT AS n_overlaps
    FROM boxes b JOIN dboxes d
      ON NOT (b.maxx < d.minx OR d.maxx < b.minx OR b.maxy < d.miny OR d.maxy < b.miny)
    GROUP BY b.n_nationkey
    """,
)
def geo_bbox_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: bbox-intersects join, cell-pruned; aggregated to overlap counts
    per nation box (order-insensitive output)."""
    cid = F.col("n_nationkey") % synth.NUM_CLUSTERS
    clon = F.lit(synth.CENTROID_LON) + cid.cast("double") * synth.CLUSTER_STEP_LON
    clat = F.lit(synth.CENTROID_LAT) + (cid % 3).cast("double") * synth.CLUSTER_STEP_LAT
    # nation 0's wide box spans >> 16 tiles at z=11 (exact-coverage case)
    half = F.when(F.col("n_nationkey") == 0, F.lit(4.0)).otherwise(F.lit(0.03))
    boxes = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        (clon - half).alias("minx"), (clat - half).alias("miny"),
        (clon + half).alias("maxx"), (clat + half).alias("maxy"),
    )
    pts = _doc_points(spark, sf_dir)
    dboxes = pts.select(
        "doc_id",
        (F.col("lon") - 0.005).alias("minx"), (F.col("lat") - 0.005).alias("miny"),
        (F.col("lon") + 0.005).alias("maxx"), (F.col("lat") + 0.005).alias("maxy"),
    )
    # id-pair dedupe path: the coarse cover join and the distinct run over
    # (id, box) projections only — payload bytes never become shuffle keys
    pairs = spatial.bbox_overlap_pairs(boxes, dboxes, "n_nationkey", "doc_id", z=11)
    return pairs.groupBy(F.col("a_n_nationkey").alias("n_nationkey")).agg(
        F.count(F.lit(1)).alias("n_overlaps")
    )


# ===========================================================================
# OSM merge/dedupe semantics at scale (SURVEY §2.3 J7-J9, §2.7)
# ===========================================================================

_NODE_SRC_SQL = "(CASE WHEN doc_id % 50 = 1 THEN doc_id - 1 ELSE doc_id END)"
_NODE_LON_SQL = f"(-120.0 + (({_NODE_SRC_SQL} * 37) % 500)::DOUBLE * 0.0005)"
_NODE_LAT_SQL = f"(46.0 + (({_NODE_SRC_SQL} * 91) % 500)::DOUBLE * 0.0005)"
_NODE_VER_SQL = synth_version_sql = synth.synth_version_sql("doc_id")


def _synth_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node layer with planted coincidences: ids =1 mod 50 sit exactly on the
    previous id's position; ids congruent mod 500 share grid positions."""
    src = F.when(F.col("doc_id") % 50 == 1, F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        (F.lit(-120.0) + ((src * 37) % 500).cast("double") * 0.0005).alias("lon"),
        (F.lit(46.0) + ((src * 91) % 500).cast("double") * 0.0005).alias("lat"),
        F.create_map(
            F.lit("ext:osm_version"), synth.synth_version("doc_id").cast("string")
        ).alias("tags"),
    )


@_q(
    "osm_dedupe_nodes",
    f"""
    WITH nodes AS (
      SELECT doc_id AS id, {_NODE_LON_SQL} AS lon, {_NODE_LAT_SQL} AS lat,
             {_NODE_VER_SQL} AS version
      FROM documents
    ),
    ranked AS (
      SELECT id, lon, lat, version,
             row_number() OVER (PARTITION BY lon, lat ORDER BY version DESC, id DESC) AS rn,
             first_value(id) OVER (PARTITION BY lon, lat ORDER BY version DESC, id DESC) AS survivor
      FROM nodes
    )
    SELECT id AS from_id, survivor AS to_id FROM ranked WHERE rn > 1
    """,
)
def osm_dedupe_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 at scale: coincident-node dedupe over a grid layer with planted
    duplicate clusters; oracle computes the survivor per exact position
    (valid because planted grid spacing 55 m >> 1 m radius). Output is the
    flattened replacement map."""
    nodes = _synth_nodes(spark, sf_dir)
    repl = merge.dedupe_nodes(nodes)
    return repl.select("from_id", "to_id")


@_q(
    "osm_dedupe_ways",
    """
    WITH w AS (
      SELECT doc_id AS id, doc_id % 4 AS m,
             CASE WHEN doc_id % 4 < 3 THEN doc_id - (doc_id % 4) ELSE doc_id END AS src
      FROM documents
    ),
    v AS (
      SELECT id, src,
             CASE WHEN m < 3 THEN (CASE WHEN (src // 4) % 2 = 0 THEN 1 ELSE m END)
                  ELSE 0 END AS version
      FROM w
    ),
    -- refs are a pure function of (src % 150) and node positions are
    -- injective in ref, so geometry groups == (src % 150) groups
    ranked AS (
      SELECT id, version,
             row_number() OVER (PARTITION BY src % 150 ORDER BY version DESC, id DESC) AS rn,
             first_value(id) OVER (PARTITION BY src % 150 ORDER BY version DESC, id DESC) AS survivor
      FROM v
    )
    SELECT id AS from_id, survivor AS to_id FROM ranked WHERE rn > 1
    """,
)
def osm_dedupe_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 at scale (changeset.ts:440-511): duplicate-way dedupe over a
    synthesized way layer with planted 3-way duplicate groups — half the
    trios are full (version, tag-count) ties whose flattened survivor is
    the MAX id (the reference's sequential pass chains 10->20->30; pinned
    by relation-dedup.test.ts:85-92), the other half have graded versions.
    Output is the flattened replacement map."""
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    src = F.when(m < 3, F.col("doc_id") - m).otherwise(F.col("doc_id"))
    version = F.when(
        m < 3,
        F.when(F.floor(src / 4).cast("long") % 2 == 0, F.lit(1)).otherwise(m),
    ).otherwise(F.lit(0))
    ways = docs.select(
        F.col("doc_id").alias("id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda j: ((src % 150) * 49 + j * 37) % 150,
        ).alias("refs"),
        F.create_map(
            F.lit("ext:osm_version"), version.cast("string")
        ).alias("tags"),
    )
    nodes = _grid_nodes(spark, sf_dir)
    repl = merge.dedupe_ways(ways, nodes)
    return repl.select("from_id", "to_id")


_MERGE_REL_SQL = f"""
    WITH nodes AS (
      SELECT doc_id AS id, {_NODE_LON_SQL} AS lon, {_NODE_LAT_SQL} AS lat,
             {_NODE_VER_SQL} AS version
      FROM documents
    ),
    ranked AS (
      SELECT id,
             row_number() OVER (PARTITION BY lon, lat ORDER BY version DESC, id DESC) AS rn,
             first_value(id) OVER (PARTITION BY lon, lat ORDER BY version DESC, id DESC) AS survivor
      FROM nodes
    ),
    repl AS (SELECT id AS from_id, survivor AS to_id FROM ranked WHERE rn > 1),
    mem AS (
      SELECT doc_id AS relation_id, 0 AS seq0, 'node' AS member_type,
             (doc_id % 200)::BIGINT AS ref, 'outer' AS role FROM documents
      UNION ALL
      SELECT doc_id, 1, 'node',
             (CASE WHEN (doc_id % 200) % 50 = 0 THEN doc_id % 200 + 1
                   ELSE doc_id % 200 END)::BIGINT, 'outer' FROM documents
      UNION ALL
      SELECT doc_id, 2, 'node', (doc_id % 200)::BIGINT, 'inner' FROM documents
    ),
    sub AS (
      SELECT m.relation_id, m.seq0, m.member_type,
             coalesce(r.to_id, m.ref) AS ref, m.role
      FROM mem m LEFT JOIN repl r ON r.from_id = m.ref
    ),
    keep AS (
      SELECT relation_id, seq0, member_type, ref, role,
             CASE WHEN lag(member_type) OVER w IS NOT DISTINCT FROM member_type
                   AND lag(ref) OVER w IS NOT DISTINCT FROM ref
                   AND lag(role) OVER w IS NOT DISTINCT FROM role
                  THEN 0 ELSE 1 END AS k
      FROM sub WINDOW w AS (PARTITION BY relation_id ORDER BY seq0)
    )
    SELECT relation_id,
           (row_number() OVER (PARTITION BY relation_id ORDER BY seq0) - 1)::INT AS seq,
           member_type, ref AS member_ref, role
    FROM keep WHERE k = 1
"""


@_q("osm_merge_relations", _MERGE_REL_SQL)
def osm_merge_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation-member handling in merge (applyNodeReplacementsToRelations,
    changeset.ts:348-351 + removeDuplicateAdjacentRelationMembers,
    change/src/utils.ts:62-80): the coincident-node replacement map is
    applied to synthesized relation members, and members that became
    back-to-back duplicates (type+ref+role all equal) fold to one — the
    same-ref different-role member survives. Oracle recomputes the map and
    the fold with window functions."""
    nodes = _synth_nodes(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    a = (F.col("doc_id") % 200).cast("long")
    a2 = F.when(a % 50 == 0, a + 1).otherwise(a)

    def m(mtype, ref, role):
        return F.struct(
            F.lit(mtype).alias("type"), ref.alias("ref"), F.lit(role).alias("role")
        )

    relations = docs.select(
        F.col("doc_id").alias("id"),
        F.array(
            m("node", a, "outer"), m("node", a2, "outer"), m("node", a, "inner")
        ).alias("members"),
        F.lit(None).cast("map<string,string>").alias("tags"),
    )
    repl = merge.dedupe_nodes(nodes)
    out = merge.rewrite_relation_members(relations, node_repl=repl)
    return (
        out.select("id", F.posexplode("members").alias("seq", "m"))
        .select(
            F.col("id").alias("relation_id"),
            F.col("seq").cast("int").alias("seq"),
            F.col("m.type").alias("member_type"),
            F.col("m.ref").alias("member_ref"),
            F.col("m.role").alias("role"),
        )
    )


@_q(
    "osm_merge_lww",
    """
    WITH base AS (
      SELECT o_orderkey AS id, o_totalprice AS price, o_orderdate AS ts, 'base' AS src
      FROM orders
    ),
    patch AS (
      SELECT o_orderkey AS id, o_totalprice + 1000.0 AS price,
             o_orderdate + INTERVAL 1 DAY AS ts, 'patch' AS src
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    unioned AS (
      SELECT *, 0 AS pri FROM base UNION ALL SELECT *, 1 AS pri FROM patch
    )
    SELECT id, price, src
    FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY ts DESC, pri DESC) rn FROM unioned)
    WHERE rn = 1
    """,
)
def osm_merge_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: last-write-wins upsert ordered by changeset timestamp (patch
    breaks ties), via operators/merge.direct_merge."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").alias("ts"), F.lit("base").alias("src"),
    )
    patch = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_totalprice") + 1000.0).alias("price"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")).alias("ts"),
        F.lit("patch").alias("src"),
    )
    out = merge.direct_merge(base, patch, key="id", ts="ts")
    return out.select("id", "price", "src")


@_q(
    "osm_way_refs_join",
    f"""
    WITH nodes AS (
      SELECT p_partkey, {PART_LON_SQL} AS lon, {PART_LAT_SQL} AS lat FROM part
    )
    SELECT l.l_orderkey AS way_id, count(*)::BIGINT AS nrefs,
           round(min(n.lon), 6) AS minx, round(min(n.lat), 6) AS miny,
           round(max(n.lon), 6) AS maxx, round(max(n.lat), 6) AS maxy
    FROM lineitem l JOIN nodes n ON l.l_partkey = n.p_partkey
    GROUP BY l.l_orderkey
    """,
)
def osm_way_refs_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + A3: the workhorse way->node coordinate resolution join
    (ways.ts:55-71) with per-way bbox aggregation (ways.ts:211-249);
    lineitem plays way_refs (way=order, ref=part), part plays nodes."""
    refs = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("way_id"), F.col("l_partkey").alias("node_id")
    )
    nodes = _part_points(spark, sf_dir).withColumnRenamed("p_partkey", "node_id")
    return (
        refs.join(nodes, "node_id")
        .groupBy("way_id")
        .agg(
            F.count(F.lit(1)).alias("nrefs"),
            F.round(F.min("lon"), 6).alias("minx"),
            F.round(F.min("lat"), 6).alias("miny"),
            F.round(F.max("lon"), 6).alias("maxx"),
            F.round(F.max("lat"), 6).alias("maxy"),
        )
    )


@_q(
    "osm_apply_changeset",
    """
    WITH changes AS (
      SELECT p_partkey AS id,
             CASE WHEN p_partkey % 10 = 0 THEN 'delete'
                  WHEN p_partkey % 10 IN (1, 2) THEN 'modify'
                  ELSE NULL END AS change_type,
             round(p_retailprice + 1.0, 2) AS price
      FROM part WHERE p_partkey % 10 IN (0, 1, 2)
      UNION ALL
      SELECT p_partkey + 1000000 AS id, 'create' AS change_type,
             round(p_retailprice, 2) AS price
      FROM part WHERE p_partkey % 10 = 3
    )
    SELECT id, round(price, 2) AS price FROM (
      SELECT p_partkey AS id, p_retailprice AS price FROM part
      WHERE p_partkey NOT IN (SELECT id FROM changes)
      UNION ALL
      SELECT id, price FROM changes WHERE change_type <> 'delete'
    )
    """,
)
def osm_apply_changeset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation changeset materialization (apply-changeset.ts:37-122):
    base minus deletes, overridden by modifies, plus creates."""
    part = _t(spark, sf_dir, "part")
    base = part.select(F.col("p_partkey").alias("id"), F.col("p_retailprice").alias("price"))
    mods = part.filter(F.col("p_partkey") % 10 <= 2).select(
        F.col("p_partkey").alias("id"),
        F.round(F.col("p_retailprice") + 1.0, 2).alias("price"),
        F.when(F.col("p_partkey") % 10 == 0, "delete").otherwise("modify").alias("change_type"),
    )
    creates = part.filter(F.col("p_partkey") % 10 == 3).select(
        (F.col("p_partkey") + 1000000).alias("id"),
        F.round(F.col("p_retailprice"), 2).alias("price"),
        F.lit("create").alias("change_type"),
    )
    out = merge.apply_changeset(base, mods.unionByName(creates))
    return out.select("id", F.round("price", 2).alias("price"))


@_q(
    "osm_changeset_stats",
    """
    SELECT p_partkey AS id,
           CASE WHEN p_partkey % 7 = 1 THEN 'modify' END AS change_type,
           round(p_retailprice + 1.0, 2) AS price
    FROM part WHERE p_partkey % 7 = 1
    UNION ALL
    SELECT p_partkey + 5000000, 'create', round(p_retailprice, 2)
    FROM part WHERE p_partkey % 7 = 3
    """,
)
def osm_changeset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: direct-change classification (changeset.ts:732-780 +
    entityPropertiesEqual): patch rows that differ -> modify, unseen ->
    create, identical -> suppressed no-ops. The planted patch modifies ids
    =1 mod 7, re-sends ids =2 mod 7 unchanged (must vanish), and creates
    shifted ids for =3 mod 7."""
    part = _t(spark, sf_dir, "part")
    base = part.select(
        F.col("p_partkey").alias("id"), F.round("p_retailprice", 2).alias("price")
    )
    patch = (
        part.filter(F.col("p_partkey") % 7 == 1)
        .select(F.col("p_partkey").alias("id"),
                F.round(F.col("p_retailprice") + 1.0, 2).alias("price"))
        .unionByName(
            part.filter(F.col("p_partkey") % 7 == 2).select(
                F.col("p_partkey").alias("id"), F.round("p_retailprice", 2).alias("price")
            )
        )
        .unionByName(
            part.filter(F.col("p_partkey") % 7 == 3).select(
                (F.col("p_partkey") + 5000000).alias("id"),
                F.round("p_retailprice", 2).alias("price"),
            )
        )
    )
    out = merge.generate_direct_changes(base, patch, key="id")
    return out.select("id", "change_type", "price")


_CH_NODE_EXPR = (
    "id::VARCHAR || '|' || lonu::VARCHAR || '|' || latu::VARCHAR || '|' || tag"
)
_CH_WAY_EXPR = "id::VARCHAR || '|' || refs_csv || '|' || tag"
_CH_MOD = str(1 << 63)

_CONTENT_HASH_SQL = f"""
    WITH n AS (
      SELECT p_partkey AS id,
             round((-120.0 + ((p_partkey * 37) % 500)::DOUBLE * 0.0005) * 1e7)::BIGINT AS lonu,
             round((46.0 + ((p_partkey * 91) % 500)::DOUBLE * 0.0005) * 1e7)::BIGINT AS latu,
             CASE WHEN p_partkey % 3 = 0 THEN 'poi' ELSE '' END AS tag
      FROM part
    ),
    nh AS (
      SELECT {portable_hash64_sql(_CH_NODE_EXPR, "chnode")} AS h,
             (tag <> '')::INT AS tagged
      FROM n
    ),
    wrefs AS (
      SELECT doc_id AS id, jj.j AS seq,
             ((doc_id * 49 + jj.j * 37) % 2500)::BIGINT AS ref
      FROM documents, range(0, 4) jj(j)
    ),
    wmiss AS (
      SELECT w.id, count(*) FILTER (WHERE p.p_partkey IS NULL) AS n_missing
      FROM wrefs w LEFT JOIN part p ON p.p_partkey = w.ref
      GROUP BY w.id
    ),
    w AS (
      SELECT r.id,
             string_agg(r.ref::VARCHAR, ',' ORDER BY r.seq) AS refs_csv,
             CASE WHEN r.id % 5 = 0 THEN 'track' ELSE '' END AS tag
      FROM wrefs r GROUP BY r.id
    ),
    wh AS (
      SELECT {portable_hash64_sql("w." + _CH_WAY_EXPR, "chway")} AS h,
             (tag <> '')::INT AS tagged, m.n_missing
      FROM w JOIN wmiss m ON m.id = w.id
    )
    SELECT 'node' AS kind, count(*)::BIGINT AS n_rows,
           sum(tagged)::BIGINT AS n_tagged, 0::BIGINT AS n_refs,
           0::BIGINT AS n_missing_refs,
           (sum(h::HUGEINT) % {_CH_MOD})::BIGINT AS content_hash
    FROM nh
    UNION ALL
    SELECT 'way', count(*)::BIGINT, sum(tagged)::BIGINT,
           (count(*) * 4)::BIGINT, sum(n_missing)::BIGINT,
           (sum(h::HUGEINT) % {_CH_MOD})::BIGINT
    FROM wh
"""


@_q("osm_content_hash", _CONTENT_HASH_SQL)
def osm_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 + A6: load-diagnostics counters (tagged counts, ref counts,
    missing refs — load/src/pbf.ts:133-146) and the order-independent
    dataset content hash (FNV-1a analog, shared/src/content-hasher.ts:9-54,
    chunked way-ref hashing ways.ts:476-489). Per-row portable hashes are
    combined with an order-insensitive SUM mod 2^63, so the value is
    identical at any parallelism / partition order; coordinates hash as
    exact Int32 microdegrees (nodes.ts:48-62) to stay engine-portable."""
    # 2^63 overflows a long literal — build the modulus as a decimal
    mod = F.lit(str(1 << 63)).cast("decimal(38,0)")

    nodes = _grid_nodes(spark, sf_dir).select(
        "id",
        F.round(F.col("lon") * 1e7).cast("long").alias("lonu"),
        F.round(F.col("lat") * 1e7).cast("long").alias("latu"),
        F.when(F.col("id") % 3 == 0, F.lit("poi")).otherwise(F.lit("")).alias("tag"),
    )
    nh = nodes.select(
        portable_hash64(
            F.concat_ws(
                "|", F.col("id").cast("string"), F.col("lonu").cast("string"),
                F.col("latu").cast("string"), F.col("tag"),
            ),
            "chnode",
        ).alias("h"),
        (F.col("tag") != "").cast("int").alias("tagged"),
    )
    node_row = nh.agg(
        F.lit("node").alias("kind"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("tagged").alias("n_tagged"),
        F.lit(0).cast("long").alias("n_refs"),
        F.lit(0).cast("long").alias("n_missing_refs"),
        F.pmod(F.sum(F.col("h").cast("decimal(38,0)")), mod).cast("long").alias("content_hash"),
    )

    docs = _t(spark, sf_dir, "documents")
    ways = docs.select(
        F.col("doc_id").alias("id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda j: (F.col("doc_id") * 49 + j * 37) % 2500,
        ).alias("refs"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("track")).otherwise(F.lit("")).alias("tag"),
    )
    part_keys = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("ref"))
    missing = (
        ways.select("id", F.explode("refs").alias("ref"))
        .join(part_keys, "ref", "left_anti")
        .groupBy("id").agg(F.count(F.lit(1)).alias("n_missing"))
    )
    wh = (
        ways.join(missing, "id", "left")
        .select(
            portable_hash64(
                F.concat_ws(
                    "|",
                    F.col("id").cast("string"),
                    F.array_join(F.transform("refs", lambda r: r.cast("string")), ","),
                    F.col("tag"),
                ),
                "chway",
            ).alias("h"),
            (F.col("tag") != "").cast("int").alias("tagged"),
            F.coalesce("n_missing", F.lit(0)).alias("n_missing"),
        )
    )
    way_row = wh.agg(
        F.lit("way").alias("kind"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("tagged").alias("n_tagged"),
        (F.count(F.lit(1)) * 4).alias("n_refs"),
        F.sum("n_missing").alias("n_missing_refs"),
        F.pmod(F.sum(F.col("h").cast("decimal(38,0)")), mod).cast("long").alias("content_hash"),
    )
    return node_row.unionByName(way_row)


# ===========================================================================
# Training-data pipeline: dedup / quality / fingerprint (documents table)
# ===========================================================================

_NORM_TEXT_SQL = (
    r"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),"
    r" '\s+', ' ', 'g'))"
)

@_q(
    "text_exact_dedupe",
    f"""
    WITH fp AS (
      SELECT doc_id,
             {portable_hash64_sql(_NORM_TEXT_SQL, "fp")} AS fingerprint
      FROM documents
    )
    SELECT fingerprint, count(*)::BIGINT AS n_dups, min(doc_id) AS survivor
    FROM fp GROUP BY fingerprint HAVING count(*) > 1
    """,
)
def text_exact_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedupe via normalized-text fingerprint; emits duplicate groups
    with the min-id survivor."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", text.fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("survivor"))
        .filter(F.col("n_dups") > 1)
    )


@_q(
    "text_quality",
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
    m AS (
      SELECT doc_id,
        len(toks)::BIGINT AS n_tokens,
        CASE WHEN len(toks) > 0
             THEN len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','that','for')))::DOUBLE / len(toks)
             ELSE 0.0 END AS sw_ratio,
        CASE WHEN length(text) > 0
             THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE / length(text)
             ELSE 0.0 END AS p_ratio,
        CASE WHEN len(toks) > 0
             THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
             ELSE 0.0 END AS mwl
      FROM t
    )
    SELECT doc_id, n_tokens, round(sw_ratio, 6) AS stopword_ratio,
      round((least(n_tokens / 64.0, 1.0) + least(sw_ratio * 5.0, 1.0)
        + (1.0 - least(p_ratio * 4.0, 1.0))
        + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)) / 4.0, 6) AS quality
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, stopword ratio, composite score —
    all JVM-side expressions (functions/text.py)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.round(text.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        text.quality_score(F.col("text")).alias("quality"),
    )


@_q(
    "text_tokens",
    f"""
    SELECT doc_id,
           len({_TOKS_SQL})::BIGINT AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_bpe_tokens,
           {portable_hash64_sql(_NORM_TEXT_SQL, "fp")} AS fingerprint
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex pre-tokens) and document
    fingerprinting — the per-document accounting columns of a training-data
    pipeline (functions/text.py)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        text.bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
        text.fingerprint(F.col("text")).alias("fingerprint"),
    )


def _minhash_pair_cte() -> str:
    """Shared SQL front: distinct shingles -> Kirsch-Mitzenmacher base
    pair (h1, h2) from ONE md5 per shingle (functions/hashing
    .portable_hash64_pair: the derived family h_i = h1 + i*h2)."""
    shingle = "array_to_string(toks[i:i+2], ' ')"
    sql1, sql2 = portable_hash64_pair_sql("s.sh")
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                                   i -> {shingle})) AS sh
      FROM t WHERE len(toks) >= 3
    ), s AS (SELECT DISTINCT doc_id, sh FROM sh),
    hp AS (SELECT doc_id, sh, {sql1} AS h1, {sql2} AS h2 FROM s)
    """


def _minhash_sql() -> str:
    cols = ",\n        ".join(
        f"min(h1 + {i} * h2) AS mh{i}" for i in range(8)
    )
    return f"""
    {_minhash_pair_cte()}
    SELECT doc_id,
        {cols}
    FROM hp GROUP BY doc_id
    """


@_q("text_minhash", _minhash_sql())
def text_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 derived hash functions over distinct word
    3-shingles) — the signature stage of MinHash-LSH near-dup detection.
    One shingle explode, ONE md5 per shingle (h_i = h1 + i*h2,
    Kirsch-Mitzenmacher), 8 mins aggregated in a single pass."""
    from .operators import dedupe as _dedupe

    # small parquet reads as one split; spread rows before the shingle
    # explode so the md5 work parallelizes (at real scale the scan has
    # thousands of splits and this repartition is a no-op to remove)
    docs = spread(_t(spark, sf_dir, "documents"))
    sig = _dedupe.minhash_signatures(_dedupe.shingle_set(docs), num_hashes=8)
    return sig.select("doc_id", *[F.col(f"h{i}").alias(f"mh{i}") for i in range(8)])


@_q(
    "text_lsh_pairs",
    f"""
    {_minhash_pair_cte()},
    sig AS (
      SELECT doc_id,
             min(h1 + 0 * h2) AS b0,
             min(h1 + 1 * h2) AS b1,
             min(h1 + 2 * h2) AS b2,
             min(h1 + 3 * h2) AS b3
      FROM hp GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, (b0 % 1000000007) * 1000003 + (b1 % 1000000007) AS bh FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, (b2 % 1000000007) * 1000003 + (b3 % 1000000007) AS bh FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """,
)
def text_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding over the minhash signature (2 bands x 2 rows): candidate
    near-duplicate pairs = docs sharing any band hash. Bucket join on the
    band hash (equi-join, skew-safe), symmetric pair dedupe.

    The operators/dedupe signature stage, then this query's own band hash,
    then the shared banded self-join `dedupe.band_pairs`: the band table
    (2 tiny rows per doc, from ONE posexplode) is checkpointed before the
    self-join, and buckets over the cap fall back to exact-signature star
    links."""
    from .operators import dedupe as _dedupe

    # small parquet reads as one split; spread rows before the shingle
    # explode so the md5 work parallelizes (at real scale the scan has
    # thousands of splits and this repartition is a no-op to remove)
    docs = spread(_t(spark, sf_dir, "documents"))
    sig = _dedupe.minhash_signatures(_dedupe.shingle_set(docs), num_hashes=4)
    bh0 = (F.col("h0") % 1000000007) * 1000003 + (F.col("h1") % 1000000007)
    bh1 = (F.col("h2") % 1000000007) * 1000003 + (F.col("h3") % 1000000007)
    bands = sig.select(
        "doc_id",
        F.struct("h0", "h1", "h2", "h3").alias("__sig"),
        F.posexplode(F.array(
            F.struct(F.lit(0).alias("band"), bh0.alias("bh")),
            F.struct(F.lit(1).alias("band"), bh1.alias("bh")),
        )).alias("__p", "e"),
    ).select("doc_id", "e.band", "e.bh", "__sig")
    # max_bucket: the giant-bucket cap lsh_candidate_pairs defaults to
    return (
        _dedupe.band_pairs(bands, "doc_id", max_bucket=65536, on_oversized=None)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .distinct()
    )


@_q(
    "text_langid",
    """
    WITH t AS (SELECT doc_id, lang, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents)
    SELECT doc_id, lang,
           len(list_filter(toks, x -> x IN ('the','and','of')))::BIGINT AS score_en,
           len(list_filter(toks, x -> x IN ('le','la','et')))::BIGINT AS score_fr,
           len(list_filter(toks, x -> x IN ('der','die','und')))::BIGINT AS score_de,
           len(list_filter(toks, x -> x IN ('el','la','que')))::BIGINT AS score_es
    FROM t
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID scoring (n-gram heuristic family)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang",
        *[s.cast("long").alias(f"score_{lang}")
          for lang, s in zip(text.LANG_MARKERS, text.lang_scores(F.col("text")))],
    )


# ===========================================================================
# Similarity search over embeddings
# ===========================================================================

_COS_SQL = """
    list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(1, 65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))
"""

@_q(
    "embed_cosine_topk",
    f"""
    SELECT query_id, vec_id, round(sim, 5) AS sim, rn::BIGINT AS rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
             {_COS_SQL} AS sim,
             row_number() OVER (PARTITION BY a.vec_id ORDER BY {_COS_SQL} DESC, b.vec_id) AS rn
      FROM embeddings a CROSS JOIN embeddings b
      WHERE a.vec_id < 8 AND a.vec_id <> b.vec_id
    ) WHERE rn <= 3
    """,
)
def embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (k=3) for 8 query vectors: the exact-ANN
    baseline. Queries broadcast; the candidate dot products run through
    the bit-exact vectorized fold kernel (similarity._fold_dot — the
    expression form is interpreter-bound per element); top-k per query
    via window."""
    from .operators.similarity import _fold_dot

    emb = _t(spark, sf_dir, "embeddings")

    def as_double(col):
        return F.transform(col, lambda x: x.cast("double"))

    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), as_double(F.col("embedding")).alias("qv")
    )
    p = emb.select(F.col("vec_id"), as_double(F.col("embedding")).alias("pv"))
    norm_q = F.sqrt(F.aggregate(F.transform(F.col("qv"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    norm_p = F.sqrt(F.aggregate(F.transform(F.col("pv"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_raw"), F.asc("vec_id"))
    return (
        F.broadcast(q.withColumn("qn", norm_q))
        .join(p.withColumn("pn", norm_p), F.col("query_id") != F.col("vec_id"))
        .withColumn("sim_raw", _fold_dot(F.col("qv"), F.col("pv")) / (F.col("qn") * F.col("pn")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "query_id", "vec_id", F.round("sim_raw", 5).alias("sim"),
            F.col("rn").cast("long").alias("rank"),
        )
    )


_COS_AB = """
    list_sum(list_transform(range(1, 65), i -> a.vec[i] * b.vec[i]))
    / (sqrt(list_sum(list_transform(range(1, 65), i -> a.vec[i] * a.vec[i])))
       * sqrt(list_sum(list_transform(range(1, 65), i -> b.vec[i] * b.vec[i]))))
"""

@_q(
    "embed_near_dupes",
    f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS vec
      FROM embeddings
    )
    SELECT id_a, id_b, cosine FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round({_COS_AB}, 6) AS cosine
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE cosine >= 0.25
    """,
)
def embed_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within buckets (here the label
    column; at scale an LSH bucket) — operators/dedupe.embedding_near_dupes.
    Never all-pairs: the join is a bucket equi-join."""
    from .operators import dedupe as _dedupe

    emb = _t(spark, sf_dir, "embeddings")
    return _dedupe.embedding_near_dupes(emb, bucket_col="label", threshold=0.25)


# ===========================================================================
# SimHash / Jaccard / sessionization / extract / relations / multimodal
# (appended operator coverage — same lockstep-oracle discipline)
# ===========================================================================

_SIMHASH_BITS = 16

def _simhash_sql() -> str:
    tok_hash = portable_hash64_sql("tok", "simhash")
    sums = ",\n        ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), h AS (
      SELECT doc_id, {tok_hash} AS h FROM toks
    ), sums AS (
      SELECT doc_id, {sums} FROM h GROUP BY doc_id
    )
    SELECT doc_id, ({fp})::BIGINT AS simhash FROM sums
    """


@_q("text_simhash", _simhash_sql())
def text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (operators/dedupe.simhash)."""
    from .operators import dedupe as _dedupe

    docs = _t(spark, sf_dir, "documents")
    return _dedupe.simhash(docs, bits=_SIMHASH_BITS)


def _sh_pairs_sql(max_hamming: int = 3) -> str:
    base = _simhash_sql()
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, (simhash >> {b * 4}) & 15 AS bv FROM sim"
        for b in range(4)
    )
    return f"""
    WITH sim AS ({base}),
    bands AS ({bands})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
    FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@_q("text_simhash_pairs", _sh_pairs_sql())
def text_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup candidates with exact hamming verify."""
    from .operators import dedupe as _dedupe

    docs = _t(spark, sf_dir, "documents")
    sim = _dedupe.simhash(docs, bits=_SIMHASH_BITS)
    out = _dedupe.simhash_near_dupes(sim, bits=_SIMHASH_BITS, bands=4, max_hamming=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _clusters_sql() -> str:
    """Recursive-CTE oracle for near-dup clustering: min-reachable-label
    over the embedding near-dup pairs (label < dst pruning is safe — the
    component minimum is below every other member, so it always
    propagates)."""
    return f"""
    WITH RECURSIVE v AS MATERIALIZED (
      SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS vec
      FROM embeddings
    ),
    pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({_COS_AB}, 6) AS cosine
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
      ) WHERE cosine >= 0.25
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.label < e.dst
    ),
    comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
    final AS (
      SELECT d.vec_id AS doc_id, coalesce(c.component, d.vec_id) AS component
      FROM embeddings d LEFT JOIN comp c ON c.node = d.vec_id
    )
    SELECT doc_id, component,
           (count(*) OVER (PARTITION BY component))::BIGINT AS cluster_size,
           (doc_id = component)::INT AS is_survivor
    FROM final
    """


_SSD_W = 4  # token window for the substring-dedupe query


def _substring_dupes_sql(w: int = _SSD_W) -> str:
    win = f"array_to_string(toks[u.pos:u.pos+{w - 1}], ' ')"
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    w AS (
      SELECT doc_id, u.pos - 1 AS pos,
             {portable_hash64_sql(win, "ssd")} AS h
      FROM t, UNNEST(generate_series(1, greatest(len(toks) - {w - 1}, 0)))
               AS u(pos)
    ),
    c AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
    d AS (SELECT w.doc_id, w.pos FROM w JOIN c USING (h)),
    i AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       IS NULL
                  OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       > {w}
                  THEN 1 ELSE 0 END AS brk
      FROM d
    ),
    s AS (SELECT doc_id, pos,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM i)
    SELECT doc_id, min(pos) AS span_start, max(pos) + {w} AS span_end,
           count(*) AS n_windows
    FROM s GROUP BY doc_id, island
    """


@_q("text_substring_dupes", _substring_dupes_sql(), extra=True)
def text_substring_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedupe (Lee et al.-style span stripping): maximal
    token spans whose length-W windows repeat corpus-wide
    (operators/dedupe.substring_dup_spans — posexplode + hash-count +
    equi-join + gaps-and-islands). Extra tier — pinned by
    tests/test_oracle_extra.py."""
    from .operators import dedupe as _dedupe

    docs = _t(spark, sf_dir, "documents")
    return _dedupe.substring_dup_spans(docs, window=_SSD_W)


@_q("text_dedupe_clusters", _clusters_sql(), extra=True)
def text_dedupe_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over embedding near-dup
    candidate pairs (operators/dedupe.connected_components — iterative
    min-label propagation + pointer jumping, O(log diameter) rounds),
    every vector labeled with its component, cluster sizes, and the
    keep-one survivor flag (min id). The fixpoint is asserted equal to a
    transitive-closure recursive CTE. (SimHash banding over the synthetic
    text corpus degenerates to one near-clique, so the embedding pairs —
    real bucketed cluster structure — are the representative input; the
    SimHash pair path itself is pinned by text_simhash_pairs.) Extra tier
    — pinned by tests/test_oracle_extra.py."""
    from .operators import dedupe as _dedupe

    emb = _t(spark, sf_dir, "embeddings")
    pairs = _dedupe.embedding_near_dupes(emb, bucket_col="label", threshold=0.25)
    out = _dedupe.dedupe_clusters(
        emb.select(F.col("vec_id").alias("doc_id")), pairs
    )
    return out.select(
        "doc_id", "component", "cluster_size",
        F.col("is_survivor").cast("int").alias("is_survivor"),
    )


def _jaccard_sql() -> str:
    sig_min = ",\n             ".join(
        f"min(h1 + {i} * h2) AS h{i}" for i in range(8)
    )
    band_rows = []
    for b in range(4):
        bh = "0::BIGINT"
        for r in range(2):
            bh = f"(({bh}) * 1000003 + (h{b * 2 + r} % 1000000007)) % 1000000007"
        band_rows.append(f"SELECT doc_id, {b} AS band, {bh} AS bh FROM sig")
    bands = " UNION ALL ".join(band_rows)
    return f"""
    {_minhash_pair_cte()},
    sig AS (SELECT doc_id, {sig_min} FROM hp GROUP BY doc_id),
    bands AS ({bands}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
    inter AS (
      SELECT p.id_a, p.id_b, count(*) AS n_inter
      FROM pairs p JOIN s sa ON sa.doc_id = p.id_a JOIN s sb ON sb.doc_id = p.id_b AND sb.sh = sa.sh
      GROUP BY p.id_a, p.id_b
    )
    SELECT p.id_a, p.id_b,
           round(coalesce(i.n_inter, 0) / (za.sz + zb.sz - coalesce(i.n_inter, 0)), 6) AS jaccard
    FROM pairs p
    LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
    JOIN sizes za ON za.doc_id = p.id_a
    JOIN sizes zb ON zb.doc_id = p.id_b
    """


@_q("text_jaccard_verify", _jaccard_sql())
def text_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates + exact n-gram Jaccard verification
    (operators/dedupe.lsh_candidate_pairs + jaccard_verify)."""
    from .operators import dedupe as _dedupe

    docs = spread(_t(spark, sf_dir, "documents"))
    sh = _dedupe.shingle_set(docs)
    sig = _dedupe.minhash_signatures(sh, num_hashes=8)
    pairs = _dedupe.lsh_candidate_pairs(sig, num_hashes=8, bands=4)
    return _dedupe.jaccard_verify(sh, pairs)


def _ann_lsh_sql(n_tables: int = 16, bits: int = 4, dim: int = 64, k: int = 3) -> str:
    """DuckDB twin of the ENTIRE LSH ANN path: the md5-derived hyperplanes
    (similarity._planes) are recomputed in SQL, sign-bit buckets built with
    the same left-fold dot order, candidates bucket-joined, cosine-refined.
    A green hash therefore proves planes, signatures, banding, and refine."""
    plane_w = (
        "(('0x' || substr(md5('plane|' || tp.t::VARCHAR || '|' || tp.p::VARCHAR"
        " || '|' || (i - 1)::VARCHAR), 1, 16))::UBIGINT::DOUBLE"
        " / 9223372036854775808.0 - 1.0)"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings
    ),
    tp AS (
      SELECT tt.t, pp.p
      FROM range(0, {n_tables}) tt(t), range(0, {bits}) pp(p)
    ),
    dots AS (
      SELECT v.vec_id, tp.t, tp.p,
             list_sum(list_transform(range(1, {dim + 1}),
                                     i -> v.vec[i] * {plane_w})) AS dot
      FROM v, tp
    ),
    sig AS (
      SELECT vec_id, t,
             sum(CASE WHEN dot > 0 THEN (1 << p) ELSE 0 END)::BIGINT AS bucket
      FROM dots GROUP BY vec_id, t
    ),
    cand AS (
      SELECT DISTINCT qs.vec_id AS query_id, cs.vec_id AS vec_id
      FROM sig qs JOIN sig cs ON qs.t = cs.t AND qs.bucket = cs.bucket
      WHERE qs.vec_id < 8 AND qs.vec_id <> cs.vec_id
    ),
    scored AS (
      SELECT c.query_id, c.vec_id,
             list_sum(list_transform(range(1, {dim + 1}), i -> a.vec[i] * b.vec[i]))
             / (sqrt(list_sum(list_transform(range(1, {dim + 1}), i -> a.vec[i] * a.vec[i])))
                * sqrt(list_sum(list_transform(range(1, {dim + 1}), i -> b.vec[i] * b.vec[i])))) AS sim
      FROM cand c JOIN v a ON a.vec_id = c.query_id JOIN v b ON b.vec_id = c.vec_id
    )
    SELECT query_id, vec_id, round(sim, 6) AS sim, rn::BIGINT AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {k}
    """


@_q("embed_ann_lsh", _ann_lsh_sql())
def embed_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table random-hyperplane ANN (operators/similarity.ann_topk);
    oracle: the full LSH path replicated in DuckDB SQL (md5-derived planes,
    left-fold dots, bucket join, cosine refine). Recall vs the exact
    baseline additionally asserted in tests."""
    from .operators import similarity as _similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = _similarity.ann_topk(queries, emb, k=3, bits_per_table=4, n_tables=16)
    return out.select("query_id", "vec_id", "sim", F.col("rank").cast("long").alias("rank"))


def _tile_frac_sql(lon_sql: str, lat_sql: str, z: int) -> tuple[str, str]:
    n = float(1 << z)
    xf = f"((({lon_sql}) / 360.0 + 0.5) * {n})"
    yf = (
        f"((0.5 - 0.25 * ln((1.0 + sin(radians({lat_sql})))"
        f" / (1.0 - sin(radians({lat_sql})))) / pi()) * {n})"
    )
    return xf, yf


_MVT_XF, _MVT_YF = _tile_frac_sql(DOC_LON_SQL, DOC_LAT_SQL, 13)

@_q(
    "tile_mvt_stats",
    f"""
    WITH f AS (
      SELECT doc_id, {_MVT_XF} AS xf, {_MVT_YF} AS yf FROM documents
    ), t AS (
      SELECT doc_id, floor(xf)::BIGINT AS tx, floor(yf)::BIGINT AS ty,
             round((xf - floor(xf)) * 4096)::BIGINT AS px,
             round((yf - floor(yf)) * 4096)::BIGINT AS py
      FROM f
    )
    SELECT 13::INT AS z, tx, ty,
           count(*)::BIGINT AS n_features, count(*)::BIGINT AS n_vertices,
           sum(px)::BIGINT AS sum_px, sum(py)::BIGINT AS sum_py,
           min(px)::BIGINT AS min_px, max(px)::BIGINT AS max_px,
           min(py)::BIGINT AS min_py, max(py)::BIGINT AS max_py,
           sum(doc_id)::BIGINT AS sum_ids
    FROM t GROUP BY tx, ty
    """,
)
def tile_mvt_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 point tiles at z13, oracle-proven end to end: the tile table's
    protobuf bytes are DECODED back (functions/mvt decoder) and the decoded
    vertex aggregates are hash-compared against DuckDB recomputing the same
    projection math from raw coordinates — a codec bug (zigzag, delta,
    dictionary) or projection bug flips the hash."""
    from .operators import tiles as _tiles

    pts = _doc_points(spark, sf_dir).withColumnRenamed("doc_id", "id")
    px = _tiles.point_tile_px(pts, z=13)
    # stats_only fuses the decode into the encode pass (same codec
    # exercise, one less tile-bytes Arrow round-trip — the way path got
    # this fusion in round 4, the point path kept paying for it)
    return _tiles.encode_point_mvt(px, stats_only=True)


_GRID_LON_SQL = "(-120.0 + ((p_partkey * 37) % 500)::DOUBLE * 0.0005)"
_GRID_LAT_SQL = "(46.0 + ((p_partkey * 91) % 500)::DOUBLE * 0.0005)"
_EXTRACT_BBOX = (-120.0, 46.0, -119.9, 46.1)


def _grid_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        (F.lit(-120.0) + ((F.col("p_partkey") * 37) % 500).cast("double") * 0.0005).alias("lon"),
        (F.lit(46.0) + ((F.col("p_partkey") * 91) % 500).cast("double") * 0.0005).alias("lat"),
    )


def _li_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_orderkey").alias("id"))
        .agg(F.array_sort(F.collect_list(F.struct("l_linenumber", "l_partkey"))).alias("s"))
        .select("id", F.col("s.l_partkey").alias("refs"),
                F.create_map(F.lit("highway"), F.lit("x")).alias("tags"))
    )


_EXTRACT_ORACLE_BASE = f"""
    WITH nodes AS (
      SELECT p_partkey AS id, {_GRID_LON_SQL} AS lon, {_GRID_LAT_SQL} AS lat FROM part
    ),
    refs AS (
      SELECT l_orderkey AS way_id, l_linenumber AS seq, l_partkey AS ref FROM lineitem
    ),
    inside AS (
      SELECT id FROM nodes
      WHERE lon >= {_EXTRACT_BBOX[0]} AND lon <= {_EXTRACT_BBOX[2]}
        AND lat >= {_EXTRACT_BBOX[1]} AND lat <= {_EXTRACT_BBOX[3]}
    )
"""


@_q(
    "osm_extract_simple",
    _EXTRACT_ORACLE_BASE + """
    SELECT r.way_id,
           (row_number() OVER (PARTITION BY r.way_id ORDER BY r.seq, r.ref) - 1)::INT AS seq,
           r.ref
    FROM refs r JOIN inside i ON r.ref = i.id
    """,
)
def osm_extract_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 simple strategy: ways keep only inside refs (exploded output for
    scalar-column hashing)."""
    from .operators import extract as _extract

    nodes = _grid_nodes(spark, sf_dir)
    ways = _li_ways(spark, sf_dir)
    _n, w = _extract.extract(nodes, ways, *_EXTRACT_BBOX, strategy="simple")
    return w.select(
        F.col("id").alias("way_id"), F.posexplode("refs").alias("seq", "ref")
    )


@_q(
    "osm_extract_complete_ways",
    _EXTRACT_ORACLE_BASE + """
    , touched AS (SELECT DISTINCT way_id FROM refs JOIN inside ON refs.ref = inside.id)
    , kept_nodes AS (
      SELECT id FROM inside
      UNION
      SELECT DISTINCT r.ref FROM refs r JOIN touched t ON r.way_id = t.way_id
    )
    SELECT n.id, round(n.lon, 6) AS lon, round(n.lat, 6) AS lat
    FROM nodes n JOIN kept_nodes k ON n.id = k.id
    """,
)
def osm_extract_complete_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 complete_ways: outside nodes of touched ways pulled back in."""
    from .operators import extract as _extract

    nodes = _grid_nodes(spark, sf_dir)
    ways = _li_ways(spark, sf_dir)
    n, _w = _extract.extract(nodes, ways, *_EXTRACT_BBOX, strategy="complete_ways")
    return n.select("id", F.round("lon", 6).alias("lon"), F.round("lat", 6).alias("lat"))


@_q(
    "osm_extract_smart",
    _EXTRACT_ORACLE_BASE + """
    , touched AS (SELECT DISTINCT way_id FROM refs JOIN inside ON refs.ref = inside.id)
    , ranked_ways AS (
      SELECT l_orderkey AS id,
             row_number() OVER (ORDER BY l_orderkey) AS rn
      FROM (SELECT DISTINCT l_orderkey FROM lineitem)
    )
    , rel AS (
      SELECT n_nationkey AS relation_id,
             a.id AS way_a, b.id AS way_b
      FROM nation
      JOIN ranked_ways a ON a.rn = 2 * n_nationkey + 1
      JOIN ranked_ways b ON b.rn = 2 * n_nationkey + 2
    )
    , kept_rel AS (
      SELECT relation_id, way_a, way_b FROM rel
      WHERE way_a IN (SELECT way_id FROM touched)
         OR way_b IN (SELECT way_id FROM touched)
    )
    , out_ways AS (
      SELECT way_id AS id FROM touched
      UNION SELECT way_a FROM kept_rel
      UNION SELECT way_b FROM kept_rel
    )
    , kept_nodes AS (
      SELECT DISTINCT r.ref AS id FROM refs r JOIN out_ways w ON r.way_id = w.id
    )
    SELECT 'way' AS kind, id FROM out_ways
    UNION ALL
    SELECT 'node', id FROM kept_nodes
    """,
)
def osm_extract_smart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 smart strategy: complete_ways plus reference-completion of
    multipolygon relations touching the extract — a relation with one kept
    member way pulls its other member ways (and their nodes) in. Relations
    pair consecutive ways by rank so the oracle can rebuild membership."""
    from .operators import extract as _extract
    from pyspark.sql.window import Window

    nodes = _grid_nodes(spark, sf_dir)
    ways = _li_ways(spark, sf_dir)
    ranked = ways.select("id").distinct().withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("relation_id")
    )
    rel_a = nation.join(ranked, ranked.rn == nation.relation_id * 2 + 1).select(
        "relation_id", F.col("id").alias("member_ref")
    )
    rel_b = nation.join(ranked, ranked.rn == nation.relation_id * 2 + 2).select(
        "relation_id", F.col("id").alias("member_ref")
    )
    members = rel_a.unionByName(rel_b).select(
        "relation_id", F.lit("way").alias("member_type"), "member_ref",
        F.lit("outer").alias("role"),
    )
    relations = nation.select(
        F.col("relation_id").alias("id"),
        F.create_map(F.lit("type"), F.lit("multipolygon")).alias("tags"),
    )
    n, w, _r = _extract.extract(
        nodes, ways, *_EXTRACT_BBOX, strategy="smart",
        relations=relations, relation_members=members,
    )
    return (
        w.select(F.lit("way").alias("kind"), "id")
        .unionByName(n.select(F.lit("node").alias("kind"), "id"))
    )


@_q(
    "osm_relation_resolution",
    """
    WITH members AS (
      SELECT n_nationkey::BIGINT AS relation_id, 'node' AS member_type,
             (n_nationkey * 10)::BIGINT AS member_ref FROM nation
      UNION ALL
      SELECT n_nationkey::BIGINT, 'way', (n_nationkey * 100)::BIGINT
      FROM nation WHERE n_nationkey % 2 = 0
      UNION ALL
      SELECT n_nationkey::BIGINT, 'relation', (n_nationkey + 1)::BIGINT
      FROM nation WHERE n_nationkey % 5 = 0
    ),
    RECURSIVE_expanded AS (
      SELECT relation_id, member_type, member_ref FROM members WHERE member_type <> 'relation'
      UNION
      SELECT m.relation_id, c.member_type, c.member_ref
      FROM members m
      JOIN members c ON m.member_type = 'relation' AND c.relation_id = m.member_ref
      WHERE c.member_type <> 'relation'
      UNION
      SELECT m.relation_id, g.member_type, g.member_ref
      FROM members m
      JOIN members c ON m.member_type = 'relation' AND c.relation_id = m.member_ref
      JOIN members g ON c.member_type = 'relation' AND g.relation_id = c.member_ref
      WHERE g.member_type <> 'relation'
    )
    SELECT DISTINCT relation_id, member_type, member_ref FROM RECURSIVE_expanded
    """,
)
def osm_relation_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11: nested relation members resolved to node/way descendants
    (nesting depth <= 2 in this layer; operator bounds at 10)."""
    from .operators import extract as _extract

    nation = _t(spark, sf_dir, "nation")
    members = (
        nation.select(
            F.col("n_nationkey").cast("long").alias("relation_id"),
            F.lit("node").alias("member_type"),
            (F.col("n_nationkey") * 10).cast("long").alias("member_ref"),
            F.lit("").alias("role"),
        )
        .unionByName(
            nation.filter(F.col("n_nationkey") % 2 == 0).select(
                F.col("n_nationkey").cast("long").alias("relation_id"),
                F.lit("way").alias("member_type"),
                (F.col("n_nationkey") * 100).cast("long").alias("member_ref"),
                F.lit("").alias("role"),
            )
        )
        .unionByName(
            nation.filter(F.col("n_nationkey") % 5 == 0).select(
                F.col("n_nationkey").cast("long").alias("relation_id"),
                F.lit("relation").alias("member_type"),
                (F.col("n_nationkey") + 1).cast("long").alias("member_ref"),
                F.lit("").alias("role"),
            )
        )
    )
    return _extract.resolve_relation_members(members)


@_q(
    "multimodal_stats",
    """
    WITH media AS (
      SELECT p_partkey AS media_id,
             CASE p_partkey % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             'payload-' || p_partkey::VARCHAR || '-' || md5(p_partkey::VARCHAR) AS payload
      FROM part
    )
    SELECT kind, count(*)::BIGINT AS n, sum(length(payload))::BIGINT AS total_bytes
    FROM media GROUP BY kind
    """,
)
def multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata aggregation: binary payload column pruned out of
    the scan (operators/multimodal.media_stats)."""
    from .operators import multimodal as _mm

    part = _t(spark, sf_dir, "part")
    media = part.select(
        F.col("p_partkey").alias("media_id"),
        F.element_at(
            F.lit(["image", "audio", "video"]), (F.col("p_partkey") % 3 + 1).cast("int")
        ).alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(
            F.concat(F.lit("payload-"), F.col("p_partkey").cast("string"),
                     F.lit("-"), F.md5(F.col("p_partkey").cast("string"))),
            "utf-8",
        ).alias("payload"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    out = _mm.media_stats(media)
    return out.select("kind", F.col("n").cast("long").alias("n"),
                      F.col("total_bytes").cast("long").alias("total_bytes"))


@_q(
    "multimodal_decode",
    """
    WITH g AS (SELECT doc_id AS media_id FROM documents),
    px AS (
      SELECT media_id, xx.x, yy.y FROM g, range(0, 16) xx(x), range(0, 16) yy(y)
      WHERE media_id % 2 = 0
    ),
    pm AS (
      SELECT media_id,
             (sum((x + media_id) % 256)::DOUBLE / 256.0) AS mr,
             (sum((y + media_id) % 256)::DOUBLE / 256.0) AS mg,
             (sum((x + 2 * y + media_id) % 256)::DOUBLE / 256.0) AS mb
      FROM px GROUP BY media_id
    ),
    -- odd ids are baseline JPEGs of 8x8-constant gray blocks; the quality-75
    -- DC quantizer makes decode exact, so the mean is the block-value mean
    jb AS (
      SELECT media_id, bb.bx, cc.by FROM g, range(0, 2) bb(bx), range(0, 2) cc(by)
      WHERE media_id % 2 = 1
    ),
    jm AS (
      SELECT media_id, sum((bx * 7 + by * 13 + media_id) % 256)::DOUBLE / 4.0 AS m
      FROM jb GROUP BY media_id
    ),
    allm AS (
      SELECT media_id, mr, mg, mb FROM pm
      UNION ALL
      SELECT media_id, m, m, m FROM jm
    )
    SELECT media_id, 16::INT AS width, 16::INT AS height,
           round(mr::REAL::DOUBLE, 5) AS mean_r,
           round(mg::REAL::DOUBLE, 5) AS mean_g,
           round(mb::REAL::DOUBLE, 5) AS mean_b,
           round(CAST(255.0 AS REAL)::DOUBLE, 5) AS mean_a
    FROM allm
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode over a MIXED media table: even document ids carry
    deterministic RGBA PNGs (pure stdlib-zlib decoder), odd ids carry
    baseline JPEGs (pure-NumPy T.81 Huffman+DCT codec, functions/jpeg);
    per-channel pixel means hash-compare against closed-form SQL (the JPEG
    fixture is block-constant, making the lossy codec bit-exact — see
    operators/multimodal.synth_jpeg_media)."""
    from .operators import multimodal as _mm

    # spread the Python codec chain across cores — the documents table can
    # be a single parquet split, which would serialize both mapInPandas
    # stages onto one task
    docs = spread(_t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id")))
    media = _mm.synth_mixed_media(docs, size=16)
    out = _mm.decode_media(media)
    return out.select(
        "media_id", "width", "height",
        *[
            F.round(F.element_at("features", i + 1).cast("double"), 5).alias(name)
            for i, name in enumerate(["mean_r", "mean_g", "mean_b", "mean_a"])
        ],
    )


_CODEC_BOUNDARY_SQL = """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 5 >= 3 THEN 'unsupported_codec' ELSE 'ok' END AS status,
           (doc_id % 5 < 3) AS has_features
    FROM documents
"""


@_q("multimodal_codec_boundary", _CODEC_BOUNDARY_SQL, extra=True)
def multimodal_codec_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compressed-codec boundary as an oracle-backed CONTRACT: a mixed
    media table cycling PNG / JPEG / WAV (real decoders) / MP3 / MP4
    (real container magics, no codec here) through
    decode_media(with_status=True) — supported rows decode with
    status='ok', MP3/MP4 rows surface as counted 'unsupported_codec' rows
    instead of task-time exceptions (multimodal.py boundary, VERDICT r3)."""
    from .operators import multimodal as _mm

    docs = spread(_t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id")))
    media = _mm.synth_mixed_media(docs, size=16, with_unsupported=True)
    out = _mm.decode_media(media, with_status=True)
    return out.select(
        "media_id", "status", F.col("features").isNotNull().alias("has_features")
    )


@_q(
    "multimodal_audio",
    """
    WITH g AS (SELECT doc_id AS media_id FROM documents),
    s AS (
      SELECT media_id, ((ii.i * ((media_id % 97 + 3) * 131)) % 65536 - 32768) AS v
      FROM g, range(0, 256) ii(i)
    ),
    m AS (
      SELECT media_id,
             (sum(v)::DOUBLE / 256.0) AS mean_amp,
             sqrt(sum(v * v)::DOUBLE / 256.0) AS rms
      FROM s GROUP BY media_id
    )
    SELECT media_id,
           1::INT AS channels, 8000::INT AS sample_rate,
           round(mean_amp::REAL::DOUBLE, 3) AS mean_amp,
           round(rms::REAL::DOUBLE, 3) AS rms
    FROM m
    """,
    extra=True,
)
def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode path: deterministic 16-bit PCM WAVs (integer
    sawtooth samples) are generated per document id, decoded by the
    pure-stdlib RIFF/WAVE parser (operators/multimodal.decode_wav), and
    channel count / sample rate / mean / RMS amplitude hash-compare against
    the closed-form expectation. Extra tier: the image queries hold the
    driver window; pytest pins this one (tests/test_oracle_extra.py)."""
    from .operators import multimodal as _mm

    docs = spread(_t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id")))
    media = _mm.synth_wav_media(docs)
    out = _mm.decode_media(media)
    return out.select(
        "media_id",
        F.element_at("features", 1).cast("int").alias("channels"),
        F.element_at("features", 2).cast("int").alias("sample_rate"),
        F.round(F.element_at("features", 3).cast("double"), 3).alias("mean_amp"),
        F.round(F.element_at("features", 4).cast("double"), 3).alias("rms"),
    )


@_q(
    "multimodal_video_frames",
    """
    WITH g AS (SELECT doc_id AS media_id FROM documents),
    f AS (SELECT media_id, ff.fi FROM g, (VALUES (0), (2)) ff(fi)),
    b AS (SELECT media_id, fi, bb.bx, cc.by
          FROM f, range(0, 2) bb(bx), range(0, 2) cc(by)),
    m AS (
      SELECT media_id, fi,
             sum((bx * 7 + by * 13 + media_id + 31 * fi) % 256)::DOUBLE / 4.0 AS luma
      FROM b GROUP BY media_id, fi
    )
    SELECT media_id, fi::INT AS frame_index, 4::INT AS n_frames,
           16::INT AS width, 16::INT AS height,
           round(luma::REAL::DOUBLE, 5) AS mean_luma
    FROM m
    """,
    extra=True,
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: deterministic MJPG 'videos' (4 real JPEG
    frames each), every 2nd frame decoded
    (operators/multimodal.sample_video_frames); per-frame mean luma
    hash-compares against the closed-form block-value expectation (frames
    are block-constant so the JPEG round trip is exact). Extra tier —
    pinned by tests/test_oracle_extra.py."""
    from .operators import multimodal as _mm

    docs = spread(_t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id")))
    media = _mm.synth_mjpeg_media(docs, n_frames=4, size=16)
    out = _mm.sample_video_frames(media, every_n=2)
    return out.select(
        "media_id", "frame_index", "n_frames", "width", "height",
        F.round(F.col("mean_luma").cast("double"), 5).alias("mean_luma"),
    )


@_q(
    "multimodal_gif",
    """
    WITH g AS (SELECT doc_id AS media_id FROM documents),
    px AS (
      SELECT media_id, ff.f, xx.x, yy.y
      FROM g, (VALUES (0), (3)) ff(f), range(0, 16) xx(x), range(0, 16) yy(y)
    ),
    m AS (
      SELECT media_id, f,
             sum(  (5 * ((x + 3 * y + media_id + 7 * f) % 64)) % 256
                 + (11 * ((x + 3 * y + media_id + 7 * f) % 64)) % 256
                 + (23 * ((x + 3 * y + media_id + 7 * f) % 64)) % 256
             )::DOUBLE / 768.0 AS luma
      FROM px GROUP BY media_id, f
    )
    SELECT media_id, f::INT AS frame_index, 4::INT AS n_frames,
           16::INT AS width, 16::INT AS height,
           round(luma::REAL::DOUBLE, 5) AS mean_luma
    FROM m
    """,
    extra=True,
)
def multimodal_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-GIF decode + frame sampling: deterministic 4-frame GIF89a
    per document (even ids INTERLACED — the oracle pins de-interlacing),
    every 3rd frame sampled through the real LZW + compositing path
    (functions/gif, operators/multimodal.sample_video_frames); per-frame
    mean luma hash-compares against the closed-form palette expectation
    (GIF is lossless, so the statistics are exact). Extra tier — pinned by
    tests/test_oracle_extra.py."""
    from .operators import multimodal as _mm

    docs = spread(_t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id")))
    media = _mm.synth_gif_media(docs, size=16, n_frames=4, ncolors=64)
    out = _mm.sample_video_frames(media, every_n=3)
    return out.select(
        "media_id", "frame_index", "n_frames", "width", "height",
        F.round(F.col("mean_luma").cast("double"), 5).alias("mean_luma"),
    )


@_q(
    "multimodal_resize",
    """
    WITH g AS (SELECT doc_id AS media_id FROM documents),
    px AS (
      SELECT media_id, xx.x AS x2, yy.y AS y2, dxx.v AS dx, dyy.v AS dy
      FROM g, range(0, 8) xx(x), range(0, 8) yy(y),
           range(0, 2) dxx(v), range(0, 2) dyy(v)
    ),
    b AS (
      SELECT media_id, x2, y2,
             (sum((2 * x2 + dx + media_id) % 256) // 4) AS r,
             (sum((2 * y2 + dy + media_id) % 256) // 4) AS gg,
             (sum(((2 * x2 + dx) + 2 * (2 * y2 + dy) + media_id) % 256) // 4) AS bb
      FROM px GROUP BY media_id, x2, y2
    ),
    m AS (
      SELECT media_id, sum(r)::DOUBLE / 64.0 AS mr,
             sum(gg)::DOUBLE / 64.0 AS mg, sum(bb)::DOUBLE / 64.0 AS mb
      FROM b GROUP BY media_id
    )
    SELECT media_id, 8::INT AS width, 8::INT AS height,
           round(mr::REAL::DOUBLE, 5) AS mean_r,
           round(mg::REAL::DOUBLE, 5) AS mean_g,
           round(mb::REAL::DOUBLE, 5) AS mean_b,
           round(CAST(255.0 AS REAL)::DOUBLE, 5) AS mean_a
    FROM m
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize path: generate 16x16 RGBA PNGs per document,
    box-average downsample 2x (integer block mean), re-encode, decode the
    RESIZED PNGs back, and hash-compare per-channel means against the
    closed-form expectation — proves decode -> transform -> encode ->
    decode end to end."""
    from .operators import multimodal as _mm

    docs = spread(_t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id")))
    media = _mm.synth_png_media(ids=docs, size=16)
    resized = _mm.resize_images(media, factor=2)
    out = _mm.decode_media(resized.withColumn("kind", F.lit("image")))
    return out.select(
        "media_id", "width", "height",
        *[
            F.round(F.element_at("features", i + 1).cast("double"), 5).alias(name)
            for i, name in enumerate(["mean_r", "mean_g", "mean_b", "mean_a"])
        ],
    )


@_q(
    "events_sessionize",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, session_id::BIGINT AS session_id, count(*)::BIGINT AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap session windows via lag + cumulative sum
    (the batch shape of a session-window streaming agg)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
            1,
        ).otherwise(0),
    )
    wc = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    sess = marked.withColumn("session_id", F.sum("new_session").over(wc))
    return sess.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n_events")).select(
        "user_id", F.col("session_id").cast("long").alias("session_id"), "n_events"
    )


_RJ_SQL = f"""
    WITH centers AS (
      SELECT n_nationkey,
             ({synth.CENTROID_LON} + (n_nationkey % {synth.NUM_CLUSTERS})::DOUBLE * {synth.CLUSTER_STEP_LON}) AS clon,
             ({synth.CENTROID_LAT} + ((n_nationkey % {synth.NUM_CLUSTERS}) % 3)::DOUBLE * {synth.CLUSTER_STEP_LAT}) AS clat
      FROM nation
    )
    SELECT c.n_nationkey, count(*)::BIGINT AS n_within
    FROM centers c JOIN documents d
      ON {_hav_sql("c.clon", "c.clat", DOC_LON_SQL, DOC_LAT_SQL)} <= 3000.0
    GROUP BY c.n_nationkey
"""


@_q("geo_radius_join_agg", _RJ_SQL)
def geo_radius_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 join form: per-center counts of points within 3 km via the
    cell-pruned radius join (oracle: brute-force distance join)."""
    cid = F.col("n_nationkey") % synth.NUM_CLUSTERS
    centers = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        (F.lit(synth.CENTROID_LON) + cid.cast("double") * synth.CLUSTER_STEP_LON).alias("lon"),
        (F.lit(synth.CENTROID_LAT) + (cid % 3).cast("double") * synth.CLUSTER_STEP_LAT).alias("lat"),
    )
    pts = _doc_points(spark, sf_dir)
    joined = spatial.radius_join(
        centers, pts, radius_m=3000.0, lat_hint=synth.CENTROID_LAT
    )
    return joined.groupBy("n_nationkey").agg(F.count(F.lit(1)).alias("n_within"))


# --- shortbread layer classification (T3) -----------------------------------

def _shortbread_sql() -> str:
    from .operators.shortbread import classify_sql

    # synthetic tags per doc: key cycles through the schema's main keys
    return f"""
    WITH tagged AS (
      SELECT doc_id,
             map([CASE doc_id % 8 WHEN 0 THEN 'building' WHEN 1 THEN 'natural'
                   WHEN 2 THEN 'highway' WHEN 3 THEN 'amenity' WHEN 4 THEN 'place'
                   WHEN 5 THEN 'boundary' WHEN 6 THEN 'landuse' ELSE 'other' END],
                 [CASE doc_id % 8 WHEN 0 THEN 'house' WHEN 1 THEN 'water'
                   WHEN 2 THEN 'primary' WHEN 3 THEN 'cafe' WHEN 4 THEN 'town'
                   WHEN 5 THEN 'administrative' WHEN 6 THEN 'forest' ELSE 'x' END]) AS tags
      FROM documents
    )
    SELECT doc_id, {classify_sql('tags')} AS layer FROM tagged
    """


@_q("shortbread_classify", _shortbread_sql())
def shortbread_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: shortbread tag->layer classification as one CASE expression
    (operators/shortbread.classify)."""
    from .operators.shortbread import classify

    docs = _t(spark, sf_dir, "documents")
    key = (
        F.when(F.col("doc_id") % 8 == 0, "building")
        .when(F.col("doc_id") % 8 == 1, "natural")
        .when(F.col("doc_id") % 8 == 2, "highway")
        .when(F.col("doc_id") % 8 == 3, "amenity")
        .when(F.col("doc_id") % 8 == 4, "place")
        .when(F.col("doc_id") % 8 == 5, "boundary")
        .when(F.col("doc_id") % 8 == 6, "landuse")
        .otherwise("other")
    )
    val = (
        F.when(F.col("doc_id") % 8 == 0, "house")
        .when(F.col("doc_id") % 8 == 1, "water")
        .when(F.col("doc_id") % 8 == 2, "primary")
        .when(F.col("doc_id") % 8 == 3, "cafe")
        .when(F.col("doc_id") % 8 == 4, "town")
        .when(F.col("doc_id") % 8 == 5, "administrative")
        .when(F.col("doc_id") % 8 == 6, "forest")
        .otherwise("x")
    )
    tagged = docs.select("doc_id", F.map_from_arrays(F.array(key), F.array(val)).alias("tags"))
    return tagged.select("doc_id", classify(F.col("tags")).alias("layer"))


# --- full shortbread schema (T3, all 20 layers + attributes) ----------------

# tag combos cycling through every layer matcher; geometry cycles in blocks
# of 24 so each combo is exercised with each geometry type
_SB_COMBOS: list[dict[str, str | None]] = [
    {"natural": "water", "water": "lake", "intermittent": "yes"},
    {"waterway": "stream", "tunnel": "1"},
    {"natural": "wood"},
    {"landuse": "residential"},
    {"tourism": "zoo"},
    {"amenity": "hospital"},          # sites (Polygon) AND pois (Point)
    {"building": "house", "height": "12.5"},
    {"building": "no"},               # explicit non-building
    {"highway": "primary", "surface": "asphalt", "oneway": "yes", "maxspeed": "50"},
    {"highway": "footway"},
    {"amenity": "cafe"},
    {"shop": "mall"},                 # pois: mall AND sites: shopping
    {"place": "city", "population": "100000"},
    {"boundary": "administrative", "admin_level": "2"},
    {"boundary": "administrative", "admin_level": "6"},
    {"boundary": "protected_area"},
    {"addr:housenumber": "42", "addr:street": "Main"},
    {"railway": "subway"},
    {"route": "bus"},
    {"aerialway": "gondola"},
    {"route": "ferry"},
    {"man_made": "bridge"},
    {"waterway": "dam"},
    {"man_made": "pier"},
]


def _sb_tagged_spark(docs: DataFrame, geom: str | None = None) -> DataFrame:
    from .operators import shortbread as sb  # noqa: F401

    m = F.col("doc_id") % len(_SB_COMBOS)
    name = F.concat(F.lit("n"), F.col("doc_id").cast("string"))
    name_en = F.when(
        F.col("doc_id") % 2 == 0, F.concat(F.lit("e"), F.col("doc_id").cast("string"))
    )
    tags = None
    for i, combo in enumerate(_SB_COMBOS):
        entries = []
        for k, v in combo.items():
            entries.extend([F.lit(k), F.lit(v)])
        entries.extend([F.lit("name"), name, F.lit("name:en"), name_en])
        built = F.create_map(*entries)
        tags = F.when(m == i, built) if tags is None else tags.when(m == i, built)
    geom_c = F.lit(geom) if geom is not None else F.element_at(
        F.lit(["Point", "LineString", "Polygon"]),
        (F.floor(F.col("doc_id") / 24).cast("long") % 3 + 1).cast("int"),
    )
    return docs.select("doc_id", tags.alias("tags"), geom_c.alias("geom"))


def _sb_tagged_sql(geom: str | None = None) -> str:
    branches = []
    for i, combo in enumerate(_SB_COMBOS):
        keys = [f"'{k}'" for k in combo] + ["'name'", "'name:en'"]
        vals = [f"'{v}'" for v in combo.values()] + [
            "'n' || doc_id::VARCHAR",
            "CASE WHEN doc_id % 2 = 0 THEN 'e' || doc_id::VARCHAR ELSE NULL END",
        ]
        branches.append(
            f"WHEN {i} THEN map([{', '.join(keys)}], [{', '.join(vals)}])"
        )
    tags = f"(CASE doc_id % {len(_SB_COMBOS)} {' '.join(branches)} END)"
    geom_sql = (
        f"'{geom}'" if geom is not None
        else "(CASE (doc_id // 24) % 3 WHEN 0 THEN 'Point' WHEN 1 THEN 'LineString' ELSE 'Polygon' END)"
    )
    return f"SELECT doc_id, {tags} AS tags, {geom_sql} AS geom FROM documents"


def _sb_layers_sql() -> str:
    from .operators.shortbread import layer_matches_sql

    # booleans surface as INT (1/0/NULL): all-NULL boolean columns coerce to
    # different pandas dtypes in the two engines and break the value hash
    return f"""
    WITH tagged AS ({_sb_tagged_sql()}),
    m AS ({layer_matches_sql('tagged')})
    SELECT doc_id, layer, kind, name, name_en, name_de, height, admin_level,
           population, surface, oneway::INT AS oneway, maxspeed,
           intermittent::INT AS intermittent, housenumber
    FROM m
    """


@_q("shortbread_layers", _sb_layers_sql())
def shortbread_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 FULL schema: all 20 shortbread layers (layers.ts:809-908) with
    per-layer kind, name attributes, and typed layer properties, matched by
    geometry type exactly as matchTags (layers.ts:921-946) — one exploded
    row per (entity, matching layer). The oracle is generated from the SAME
    kind maps, so any divergence in matcher logic flips the hash."""
    from .operators.shortbread import layer_matches_expr

    docs = _t(spark, sf_dir, "documents")
    tagged = _sb_tagged_spark(docs)
    out = tagged.select(
        "doc_id",
        # one-parse SQL twin of layer_matches (same generated matchers)
        F.explode(layer_matches_expr()).alias("e"),
    )
    return out.select(
        "doc_id", "e.layer", "e.kind", "e.name", "e.name_en", "e.name_de",
        "e.height", "e.admin_level", "e.population", "e.surface",
        F.col("e.oneway").cast("int").alias("oneway"), "e.maxspeed",
        F.col("e.intermittent").cast("int").alias("intermittent"),
        "e.housenumber",
    )


def _tag_stats_sql() -> str:
    return f"""
    WITH tagged AS ({_sb_tagged_sql()}),
    kv AS (
      SELECT doc_id, unnest(map_entries(tags)) AS e FROM tagged
    )
    SELECT e.key AS tag_key, count(*)::BIGINT AS n_entities,
           count(DISTINCT e.value)::BIGINT AS n_values
    FROM kv WHERE e.value IS NOT NULL GROUP BY e.key
    """


@_q("osm_tag_stats", _tag_stats_sql())
def osm_tag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: tag cardinality — per-key entity counts and distinct-value
    counts over the tags map (the reference's tag dictionary statistics,
    core string tables)."""
    docs = _t(spark, sf_dir, "documents")
    tagged = _sb_tagged_spark(docs)
    kv = tagged.select("doc_id", F.explode("tags").alias("tag_key", "v")).filter(
        F.col("v").isNotNull()
    )
    return kv.groupBy("tag_key").agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.countDistinct("v").alias("n_values"),
    )


def _sb_tiles_sql() -> str:
    from .operators.shortbread import layer_matches_sql

    xf, yf = _tile_frac_sql(DOC_LON_SQL, DOC_LAT_SQL, 12)
    return f"""
    WITH tagged AS ({_sb_tagged_sql(geom='Point')}),
    m AS ({layer_matches_sql('tagged')}),
    f AS (
      SELECT doc_id, {xf} AS xf, {yf} AS yf FROM documents
    ),
    t AS (
      SELECT doc_id, floor(xf)::BIGINT AS tx, floor(yf)::BIGINT AS ty,
             round((xf - floor(xf)) * 4096)::BIGINT AS px,
             round((yf - floor(yf)) * 4096)::BIGINT AS py
      FROM f
    ),
    per AS (
      SELECT m.doc_id, m.layer, t.tx, t.ty, t.px, t.py
      FROM m JOIN t ON t.doc_id = m.doc_id
    )
    SELECT 12::INT AS z, tx, ty, layer,
           count(*)::BIGINT AS n_features, count(*)::BIGINT AS n_vertices,
           sum(px)::BIGINT AS sum_px, sum(py)::BIGINT AS sum_py,
           min(px)::BIGINT AS min_px, max(px)::BIGINT AS max_px,
           min(py)::BIGINT AS min_py, max(py)::BIGINT AS max_py,
           sum(doc_id)::BIGINT AS sum_ids
    FROM per GROUP BY tx, ty, layer
    """


@_q("shortbread_tile_stats", _sb_tiles_sql())
def shortbread_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's shortbread tile build (encoder.ts:191-246) end to
    end for Point layers: classify -> per-layer features -> ONE multi-layer
    MVT per tile (layers in SHORTBREAD_LAYERS order, empty layers dropped,
    kind carried as a feature tag) -> decode back and hash-compare
    per-(tile, layer) vertex aggregates against SQL recomputing the
    classification and projection."""
    from .operators import tiles as tiles_op

    docs = _t(spark, sf_dir, "documents")
    tagged = _sb_tagged_spark(docs, geom="Point")
    pts = tagged.join(_doc_points(spark, sf_dir), "doc_id").select(
        F.col("doc_id").alias("id"), "lon", "lat", "tags"
    )
    tiles = tiles_op.shortbread_point_tiles(pts, z=12)
    return tiles_op.mvt_decoded_layer_stats(tiles)


# ===========================================================================
# Multipolygon ring assembly (SURVEY §2.8 winding / relation-multipolygon.ts)
# ===========================================================================

_RINGS_SQL = """
    WITH c AS (
      SELECT n_nationkey AS k,
             (-100.0 + ((n_nationkey * 13) % 40)::DOUBLE * 0.01) AS cx,
             (40.0 + ((n_nationkey * 7) % 40)::DOUBLE * 0.01) AS cy
      FROM nation
    )
    SELECT k::BIGINT AS relation_id, 0::INT AS ring_index, 'inner' AS role,
           5::INT AS n_pts, cx - 0.002 AS lon0, cy - 0.002 AS lat0, 0::INT AS ccw
    FROM c
    UNION ALL
    SELECT k::BIGINT, 1::INT, 'outer', 5::INT, cx - 0.004, cy - 0.004, 1::INT
    FROM c
    ORDER BY relation_id, ring_index
"""


def _ring_fixture(spark: SparkSession, sf_dir: str):
    """Per nation: an outer square split into two member ways (the second
    stored reversed, exercising end-matching) plus a pre-closed inner ring
    given CCW (exercising the winding flip). Returns (members, ways,
    nodes)."""
    nation = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("k"))
    cx = F.lit(-100.0) + ((F.col("k") * 13) % 40).cast("double") * F.lit(0.01)
    cy = F.lit(40.0) + ((F.col("k") * 7) % 40).cast("double") * F.lit(0.01)
    base = nation.select("k", cx.alias("cx"), cy.alias("cy"))

    def corner(dx: float, dy: float):
        return F.struct(
            (F.col("cx") + F.lit(dx)).alias("lon"), (F.col("cy") + F.lit(dy)).alias("lat")
        )

    a, b = 0.004, 0.002
    # 8 nodes per relation: outer corners 1-4 (CCW), inner corners 5-8 (CCW)
    corners = [
        (1, -a, -a), (2, a, -a), (3, a, a), (4, -a, a),
        (5, -b, -b), (6, b, -b), (7, b, b), (8, -b, b),
    ]
    nodes = (
        base.select(
            "k",
            F.explode(
                F.array(*[
                    F.struct(
                        (F.col("k") * 100 + i).alias("id"),
                        (F.col("cx") + F.lit(dx)).alias("lon"),
                        (F.col("cy") + F.lit(dy)).alias("lat"),
                    )
                    for i, dx, dy in corners
                ])
            ).alias("n"),
        )
        .select(F.col("n.id").alias("id"), F.col("n.lon").alias("lon"),
                F.col("n.lat").alias("lat"))
    )
    k100 = F.col("k") * 100
    ways = base.select(
        F.explode(
            F.array(
                F.struct((F.col("k") * 10 + 1).alias("id"),
                         F.array(k100 + 1, k100 + 2, k100 + 3).alias("refs")),
                # second half stored in the same start->end direction: the
                # chain must reverse it to close the square
                F.struct((F.col("k") * 10 + 2).alias("id"),
                         F.array(k100 + 1, k100 + 4, k100 + 3).alias("refs")),
                # inner ring pre-closed, given CCW (winding fix flips it)
                F.struct((F.col("k") * 10 + 3).alias("id"),
                         F.array(k100 + 5, k100 + 6, k100 + 7, k100 + 8, k100 + 5).alias("refs")),
            )
        ).alias("w")
    ).select(F.col("w.id").alias("id"), F.col("w.refs").alias("refs"))
    members = base.select(
        F.col("k").alias("relation_id"),
        F.explode(
            F.array(
                F.struct((F.col("k") * 10 + 1).alias("member_ref"), F.lit("outer").alias("role")),
                F.struct((F.col("k") * 10 + 2).alias("member_ref"), F.lit("outer").alias("role")),
                F.struct((F.col("k") * 10 + 3).alias("member_ref"), F.lit("inner").alias("role")),
            )
        ).alias("m"),
    ).select("relation_id", F.col("m.member_ref").alias("member_ref"), F.col("m.role").alias("role"))
    return members, ways, nodes


@_q("osm_ring_assembly", _RINGS_SQL)
def osm_ring_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multipolygon ring assembly (relation-multipolygon.ts:47-163 +
    vt/encode.ts winding fix) on the planted relation fixture. The oracle
    is the closed-form expected ring set — canonical rotation + survivor
    winding make the assembled output exactly predictable."""
    from .operators import rings as rings_op

    members, ways, nodes = _ring_fixture(spark, sf_dir)
    assembled = rings_op.assemble_relation_rings(members, ways, nodes)
    return assembled.select(
        "relation_id", "ring_index", "role",
        F.size("lons").alias("n_pts"),
        F.element_at("lons", 1).alias("lon0"),
        F.element_at("lats", 1).alias("lat0"),
        F.when(
            F.aggregate(
                F.sequence(F.lit(1), F.size("lons") - 1),
                F.lit(0.0),
                lambda acc, i: acc
                + F.element_at("lons", i) * F.element_at("lats", i + 1)
                - F.element_at("lons", i + 1) * F.element_at("lats", i),
            ) > 0, 1
        ).otherwise(0).alias("ccw"),
    ).orderBy("relation_id", "ring_index")


def _tile_poly_sql(z: int = 9) -> str:
    """Decoded polygon-tile stats, closed form: assembled rings are exactly
    [o1,o2,o3,o4,o1] (outer, CCW, canonical) and [i5,i8,i7,i6,i5] (inner,
    flipped CW) — closing vertices re-appear on decode (ClosePath), so
    corners o1/i5 carry weight 2. Vertices clamp to [-64, 4160] per tile."""
    n = float(1 << z)
    a, b = 0.004, 0.002
    corners = ", ".join(
        f"({dx!r}, {dy!r}, {wt})"
        for dx, dy, wt in [(-a, -a, 2), (a, -a, 1), (a, a, 1), (-a, a, 1),
                           (-b, -b, 2), (b, -b, 1), (b, b, 1), (-b, b, 1)]
    )
    return f"""
    WITH c AS (
      SELECT n_nationkey AS k,
             (-100.0 + ((n_nationkey * 13) % 40)::DOUBLE * 0.01) AS cx,
             (40.0 + ((n_nationkey * 7) % 40)::DOUBLE * 0.01) AS cy
      FROM nation
    ),
    corner(dx, dy, wt) AS (VALUES {corners}),
    f AS (
      SELECT k, wt,
             (((cx + dx) / 360.0 + 0.5) * {n}) AS xf,
             ((0.5 - 0.25 * ln((1.0 + sin(radians(cy + dy)))
               / (1.0 - sin(radians(cy + dy)))) / pi()) * {n}) AS yf
      FROM c, corner
    ),
    bb AS (
      SELECT k, floor(min(xf))::BIGINT AS tx0, floor(max(xf))::BIGINT AS tx1,
             floor(min(yf))::BIGINT AS ty0, floor(max(yf))::BIGINT AS ty1
      FROM f GROUP BY k
    ),
    tilesx AS (SELECT k, unnest(generate_series(tx0, tx1)) AS tx, ty0, ty1 FROM bb),
    tiles AS (SELECT k, tx, unnest(generate_series(ty0, ty1)) AS ty FROM tilesx),
    pv AS (
      SELECT t.k, t.tx, t.ty, f.wt,
             greatest(-64, least(4160, round((f.xf - t.tx) * 4096)::BIGINT)) AS px,
             greatest(-64, least(4160, round((f.yf - t.ty) * 4096)::BIGINT)) AS py
      FROM tiles t JOIN f ON f.k = t.k
    )
    SELECT {z}::INT AS z, tx, ty,
           count(DISTINCT k)::BIGINT AS n_features,
           sum(wt)::BIGINT AS n_vertices,
           sum(px * wt)::BIGINT AS sum_px, sum(py * wt)::BIGINT AS sum_py,
           min(px)::BIGINT AS min_px, max(px)::BIGINT AS max_px,
           min(py)::BIGINT AS min_py, max(py)::BIGINT AS max_py,
           sum(DISTINCT k)::BIGINT AS sum_ids
    FROM pv GROUP BY tx, ty
    """


@_q("tile_polygon_mvt_stats", _tile_poly_sql())
def tile_polygon_mvt_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 polygon tiles end to end: ring assembly -> feature-bbox tile
    explode -> winding fix -> POLYGON MVT encode (ClosePath geometry) ->
    decode back; decoded per-tile vertex aggregates hash-compare against
    the closed-form expectation (incl. the doubled closing corners). z=9
    keeps off-tile vertices of straddling rings inside the 64 px buffer,
    so the clamp never collapses a fully-off-tile ring (that degenerate
    clean-drop is separately pinned in tests)."""
    from .operators import rings as rings_op
    from .operators import tiles as tiles_op

    members, ways, nodes = _ring_fixture(spark, sf_dir)
    assembled = rings_op.assemble_relation_rings(members, ways, nodes)
    px = tiles_op.ring_tile_px(assembled, z=9)
    tiles = tiles_op.encode_polygon_mvt(px)
    return tiles_op.mvt_decoded_stats(tiles, layer="areas")


def _intersect_oracle_sql(z: int = 13) -> str:
    """Closed-form J10 expectation: per nation, way A (horizontal, 2 refs)
    crosses way B (vertical) at t=0.75 along each — a created node (no
    existing node within 1 m) spliced before each way's nearest vertex
    (index 1). Created ids replicate the operator's deterministic
    allocation: max node id + row_number over (cell@z13, px, py)."""
    return f"""
    WITH g AS (
      SELECT n_nationkey AS k,
             (-80.0 + (n_nationkey % 5)::DOUBLE * 0.5) AS gx,
             (20.0 + ((n_nationkey // 5) % 5)::DOUBLE * 0.5) AS gy
      FROM nation
    ),
    -- the numpy parametric form replicated op-for-op (denom/t/pt)
    cross_pt AS (
      SELECT k, gx, gy,
             ((gx - 0.003) + (((gx - (gx - 0.003)) * 0.004)
               / (((gx + 0.001) - (gx - 0.003)) * 0.004)) * ((gx + 0.001) - (gx - 0.003))) AS px,
             (gy + (((gx - (gx - 0.003)) * 0.004)
               / (((gx + 0.001) - (gx - 0.003)) * 0.004)) * 0.0) AS py
      FROM g
    ),
    maxid AS (SELECT max(n_nationkey * 10 + 4) AS m FROM nation),
    ids AS (
      SELECT k, px, py,
             (SELECT m FROM maxid)
             + row_number() OVER (ORDER BY ({_cell_sql('px', 'py', z)}), px, py) AS new_id
      FROM cross_pt
    )
    SELECT 'node' AS kind, new_id AS id, px AS a, py AS b FROM ids
    UNION ALL
    SELECT 'ref', (k * 100 + 1)::BIGINT, s.j::DOUBLE,
           (CASE s.j WHEN 0 THEN k * 10 + 1 WHEN 1 THEN new_id ELSE k * 10 + 2 END)::DOUBLE
    FROM ids, range(0, 3) s(j)
    UNION ALL
    SELECT 'ref', (k * 100 + 2)::BIGINT, s.j::DOUBLE,
           (CASE s.j WHEN 0 THEN k * 10 + 3 WHEN 1 THEN new_id ELSE k * 10 + 4 END)::DOUBLE
    FROM ids, range(0, 3) s(j)
    """


@_q("osm_create_intersections", _intersect_oracle_sql())
def osm_create_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 end to end (changeset.ts:520-719): candidate pairs via the
    adaptive-cover overlap join, exact segment intersections, created-node
    id allocation, and nearest-vertex splicing — compared against the
    closed-form crossing points and spliced ref sequences."""
    from .operators import intersect as _intersect

    nation = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("k"))
    gx = F.lit(-80.0) + (F.col("k") % 5).cast("double") * 0.5
    gy = F.lit(20.0) + (F.floor(F.col("k") / 5).cast("long") % 5).cast("double") * 0.5
    base = nation.select("k", gx.alias("gx"), gy.alias("gy"))
    nodes = base.select(
        F.explode(F.array(
            F.struct((F.col("k") * 10 + 1).alias("id"), (F.col("gx") - 0.003).alias("lon"), F.col("gy").alias("lat")),
            F.struct((F.col("k") * 10 + 2).alias("id"), (F.col("gx") + 0.001).alias("lon"), F.col("gy").alias("lat")),
            F.struct((F.col("k") * 10 + 3).alias("id"), F.col("gx").alias("lon"), (F.col("gy") - 0.003).alias("lat")),
            F.struct((F.col("k") * 10 + 4).alias("id"), F.col("gx").alias("lon"), (F.col("gy") + 0.001).alias("lat")),
        )).alias("n")
    ).select("n.id", "n.lon", "n.lat", F.lit(None).cast("map<string,string>").alias("tags"))
    k10 = F.col("k") * 10
    ways = base.select(
        F.explode(F.array(
            F.struct((F.col("k") * 100 + 1).alias("id"),
                     F.array(k10 + 1, k10 + 2).alias("refs"),
                     F.create_map(F.lit("highway"), F.lit("residential")).alias("tags")),
            F.struct((F.col("k") * 100 + 2).alias("id"),
                     F.array(k10 + 3, k10 + 4).alias("refs"),
                     F.create_map(F.lit("highway"), F.lit("residential")).alias("tags")),
        )).alias("w")
    ).select("w.id", "w.refs", "w.tags")
    new_nodes, updated_ways, _tagged, _stats = _intersect.create_intersections(
        ways, nodes, z=13
    )
    nd = new_nodes.select(
        F.lit("node").alias("kind"), F.col("id"),
        F.col("lon").alias("a"), F.col("lat").alias("b"),
    )
    refs = updated_ways.select(
        F.lit("ref").alias("kind"), F.col("id"),
        F.posexplode("refs").alias("seq", "ref"),
    ).select("kind", "id", F.col("seq").cast("double").alias("a"),
             F.col("ref").cast("double").alias("b"))
    return nd.unionByName(refs)


# --- GeoJSON export (entity -> feature, entity-to-feature.ts) ---------------

_GJ_A, _GJ_B = 0.004, 0.002
_GJ_CORNERS = [
    (1, -_GJ_A, -_GJ_A), (2, _GJ_A, -_GJ_A), (3, _GJ_A, _GJ_A), (4, -_GJ_A, _GJ_A),
    (5, -_GJ_B, -_GJ_B), (6, _GJ_B, -_GJ_B), (7, _GJ_B, _GJ_B), (8, -_GJ_B, _GJ_B),
]


def _gj_oracle_sql() -> str:
    """Feature strings rebuilt corner-by-corner with printf — byte parity
    with the Catalyst/format_string assembly."""
    def pt(i: int) -> str:
        dx, dy = next((dx, dy) for j, dx, dy in _GJ_CORNERS if j == i)
        return f"printf('[%.6f,%.6f]', cx + {dx!r}, cy + {dy!r})"

    def pts(*idx: int) -> str:
        return " || ',' || ".join(pt(i) for i in idx)

    base = """
    WITH c AS (
      SELECT n_nationkey AS k,
             (-100.0 + ((n_nationkey * 13) % 40)::DOUBLE * 0.01) AS cx,
             (40.0 + ((n_nationkey * 7) % 40)::DOUBLE * 0.01) AS cy
      FROM nation
    )
    """
    selects = []
    # 8 node features per relation cluster; odd corners carry a name tag
    for i, _dx, _dy in _GJ_CORNERS:
        name_part = (
            f""" || ',"name":"p' || (k*100+{i})::VARCHAR || '"'""" if i % 2 == 1 else ""
        )
        selects.append(
            f"""SELECT (k*100+{i})::BIGINT AS id, 'node' AS entity_type,
            '{{"type":"Feature","id":' || (k*100+{i})::VARCHAR ||
            ',"geometry":{{"type":"Point","coordinates":' || {pt(i)} ||
            '}},"properties":{{"id":' || (k*100+{i})::VARCHAR || ',"type":"node"'{name_part} || '}}}}' AS feature
            FROM c"""
        )
    # way 1: open line (LineString); way 2: closed building square (Polygon);
    # way 3: inner ring, untagged (closed but not an area -> LineString)
    selects.append(
        f"""SELECT (k*10+1)::BIGINT, 'way',
        '{{"type":"Feature","id":' || (k*10+1)::VARCHAR ||
        ',"geometry":{{"type":"LineString","coordinates":[' || {pts(1, 2, 3)} ||
        ']}},"properties":{{"id":' || (k*10+1)::VARCHAR || ',"type":"way","highway":"x"}}}}'
        FROM c"""
    )
    selects.append(
        f"""SELECT (k*10+2)::BIGINT, 'way',
        '{{"type":"Feature","id":' || (k*10+2)::VARCHAR ||
        ',"geometry":{{"type":"Polygon","coordinates":[[' || {pts(1, 2, 3, 4, 1)} ||
        ']]}},"properties":{{"id":' || (k*10+2)::VARCHAR || ',"type":"way","building":"yes"}}}}'
        FROM c"""
    )
    selects.append(
        f"""SELECT (k*10+3)::BIGINT, 'way',
        '{{"type":"Feature","id":' || (k*10+3)::VARCHAR ||
        ',"geometry":{{"type":"LineString","coordinates":[' || {pts(5, 6, 7, 8, 5)} ||
        ']}},"properties":{{"id":' || (k*10+3)::VARCHAR || ',"type":"way"}}}}'
        FROM c"""
    )
    # relation k: multipolygon (outer = way 2 ring CCW canonical, inner = way
    # 3 ring flipped CW, canonical rotation keeps corner 5 first)
    selects.append(
        f"""SELECT k::BIGINT, 'relation',
        '{{"type":"Feature","id":' || k::VARCHAR ||
        ',"geometry":{{"type":"Polygon","coordinates":[[' || {pts(1, 2, 3, 4, 1)} ||
        '],[' || {pts(5, 8, 7, 6, 5)} ||
        ']]}},"properties":{{"id":' || k::VARCHAR || ',"type":"multipolygon","name":"r' || k::VARCHAR || '"}}}}'
        FROM c"""
    )
    # relation 100000+k: multipoint over corners 1, 2
    selects.append(
        f"""SELECT (100000+k)::BIGINT, 'relation',
        '{{"type":"Feature","id":' || (100000+k)::VARCHAR ||
        ',"geometry":{{"type":"MultiPoint","coordinates":[' || {pts(1, 2)} ||
        ']}},"properties":{{"id":' || (100000+k)::VARCHAR || ',"type":"multipoint"}}}}'
        FROM c"""
    )
    # relation 200000+k: route over way 1
    selects.append(
        f"""SELECT (200000+k)::BIGINT, 'relation',
        '{{"type":"Feature","id":' || (200000+k)::VARCHAR ||
        ',"geometry":{{"type":"LineString","coordinates":[' || {pts(1, 2, 3)} ||
        ']}},"properties":{{"id":' || (200000+k)::VARCHAR || ',"type":"route"}}}}'
        FROM c"""
    )
    return base + " UNION ALL ".join(selects)


def _gj_fixture(spark: SparkSession, sf_dir: str):
    # Built as selectExpr STRINGS (one py4j round-trip each): the Column-
    # object version spent ~0.6s of pure driver-side py4j latency per call
    # — measurable against this fixed-size query's ~2.5s wall.
    nation = _t(spark, sf_dir, "nation").selectExpr("n_nationkey as k")
    base = nation.selectExpr(
        "k",
        "-100.0D + cast((k * 13) % 40 as double) * 0.01D as cx",
        "40.0D + cast((k * 7) % 40 as double) * 0.01D as cy",
    )
    corner_structs = ",".join(
        f"struct(k * 100 + {i} as id, cx + ({dx!r}D) as lon, cy + ({dy!r}D) as lat)"
        for i, dx, dy in _GJ_CORNERS
    )
    nodes = base.selectExpr(f"inline(array({corner_structs}))").selectExpr(
        "id", "lon", "lat",
        "case when id % 2 = 1 then"
        " map('name', concat('p', cast(id as string))) end as tags",
    )
    ways = base.selectExpr(
        "inline(array("
        "struct(k * 10 + 1 as id,"
        " array(k * 100 + 1, k * 100 + 2, k * 100 + 3) as refs,"
        " map('highway', 'x') as tags),"
        "struct(k * 10 + 2 as id,"
        " array(k * 100 + 1, k * 100 + 2, k * 100 + 3, k * 100 + 4, k * 100 + 1) as refs,"
        " map('building', 'yes') as tags),"
        "struct(k * 10 + 3 as id,"
        " array(k * 100 + 5, k * 100 + 6, k * 100 + 7, k * 100 + 8, k * 100 + 5) as refs,"
        " cast(null as map<string,string>) as tags)))"
    )
    relations = base.selectExpr(
        "inline(array("
        "struct(cast(k as bigint) as id,"
        " map('type', 'multipolygon', 'name', concat('r', cast(k as string))) as tags),"
        "struct(cast(k + 100000 as bigint) as id, map('type', 'multipoint') as tags),"
        "struct(cast(k + 200000 as bigint) as id, map('type', 'route') as tags)))"
    )
    members = base.selectExpr(
        "inline(array("
        "struct(cast(k as bigint) as relation_id, 'way' as member_type,"
        " k * 10 + 2 as member_ref, 'outer' as role, 0 as seq),"
        "struct(cast(k as bigint) as relation_id, 'way' as member_type,"
        " k * 10 + 3 as member_ref, 'inner' as role, 1 as seq),"
        "struct(cast(k + 100000 as bigint) as relation_id, 'node' as member_type,"
        " k * 100 + 1 as member_ref, '' as role, 0 as seq),"
        "struct(cast(k + 100000 as bigint) as relation_id, 'node' as member_type,"
        " k * 100 + 2 as member_ref, '' as role, 1 as seq),"
        "struct(cast(k + 200000 as bigint) as relation_id, 'way' as member_type,"
        " k * 10 + 1 as member_ref, '' as role, 0 as seq)))"
    )
    return nodes, ways, relations, members


@_q("osm_to_geojson", _gj_oracle_sql())
def osm_to_geojson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON export (entity-to-feature.ts): node Points, way
    LineStrings/Polygons (wayIsArea), relation multipolygon-with-hole /
    multipoint / route features — serialized feature strings compared
    byte-for-byte against an oracle that rebuilds them corner-by-corner."""
    from .operators import geojson_export as gj

    nodes, ways, relations, members = _gj_fixture(spark, sf_dir)
    return gj.to_geojson_features(nodes, ways, relations, members)


# --- full merge pipeline (§3.2 merge.ts:43-110, stages 1-6) -----------------

_MP_GRID_LON = "(-120.0 + (((%s) * 37) %% 500)::DOUBLE * 0.0005)"
_MP_GRID_LAT = "(46.0 + (((%s) * 91) %% 500)::DOUBLE * 0.0005)"


def _mp_fixture(spark: SparkSession, sf_dir: str):
    """Planted merge fixture:
    - base nodes: part ids < 200 at grid(id % 100) — classes {c, c+100}
      coincide exactly (stage-2 dedupe: max id survives, v0 ties);
    - patch nodes: 1000+k (k < 50) on class-k positions with version 1
      (stage-6 dedupe: beats the v0 base survivor);
    - base ways: documents-derived with duplicate trios (geometry groups =
      src % 75; half full ties -> max id survives, half graded versions);
    - patch ways: ids = 15 mod 20 with refs to base-survivor node ids and
      identical tags per (id % 75) group — exercises the isWayEqual
      property path (their refs don't resolve against patch nodes)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    cls = F.col("p_partkey") % 100
    base_nodes = part.select(
        F.col("p_partkey").alias("id"),
        (F.lit(-120.0) + ((cls * 37) % 500).cast("double") * 0.0005).alias("lon"),
        (F.lit(46.0) + ((cls * 91) % 500).cast("double") * 0.0005).alias("lat"),
        F.lit(None).cast("map<string,string>").alias("tags"),
    )
    ppart = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 50)
    patch_nodes = ppart.select(
        (F.col("p_partkey") + 1000).alias("id"),
        (F.lit(-120.0) + ((F.col("p_partkey") * 37) % 500).cast("double") * 0.0005).alias("lon"),
        (F.lit(46.0) + ((F.col("p_partkey") * 91) % 500).cast("double") * 0.0005).alias("lat"),
        F.create_map(F.lit("ext:osm_version"), F.lit("1")).alias("tags"),
    )

    def _member(ref, role):
        return F.struct(
            F.lit("node").alias("type"), ref.cast("long").alias("ref"),
            F.lit(role).alias("role"),
        )

    k = F.col("p_partkey")
    # base relations 5000+k (k<20): members (node k, stop) + (node k+100,
    # stop) — the base dedupe rewrites k -> k+100 and the now-adjacent
    # duplicate folds; stage 6 rewrites k+100 -> 1000+k for k < 50
    base_relations = part.filter(k < 20).select(
        (k + 5000).alias("id"),
        F.array(_member(k, "stop"), _member(k + 100, "stop")).alias("members"),
        F.lit(None).cast("map<string,string>").alias("tags"),
    )
    # patch relations 5000+k (k<10) win the LWW upsert with a 'via' member
    patch_relations = part.filter(k < 10).select(
        (k + 5000).alias("id"),
        F.array(_member(k, "via")).alias("members"),
        F.create_map(F.lit("v"), F.lit("2")).alias("tags"),
    )
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    src = F.when(m < 3, F.col("doc_id") - m).otherwise(F.col("doc_id"))
    version = F.when(
        m < 3,
        F.when(F.floor(src / 4).cast("long") % 2 == 0, F.lit(1)).otherwise(m),
    ).otherwise(F.lit(0))
    g = src % 75
    base_ways = docs.select(
        F.col("doc_id").alias("id"),
        F.transform(F.sequence(F.lit(0), F.lit(3)), lambda j: (g * 7 + j * 13) % 100).alias("refs"),
        F.create_map(F.lit("ext:osm_version"), version.cast("string")).alias("tags"),
    )
    pg = F.col("doc_id") % 75
    patch_ways = docs.filter(F.col("doc_id") % 20 == 15).select(
        F.col("doc_id").alias("id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(3)), lambda j: 100 + (pg * 7 + (j + 1) * 13) % 100
        ).alias("refs"),
        F.create_map(F.lit("ext:osm_version"), F.lit("2")).alias("tags"),
    )
    return base_nodes, base_ways, patch_nodes, patch_ways, base_relations, patch_relations


_MP_ORACLE = """
    WITH bw AS (
      SELECT doc_id AS id, doc_id % 4 AS m,
             CASE WHEN doc_id % 4 < 3 THEN doc_id - (doc_id % 4) ELSE doc_id END AS src
      FROM documents
    ),
    bwv AS (
      SELECT id, src % 75 AS g,
             CASE WHEN m < 3 THEN (CASE WHEN (src // 4) % 2 = 0 THEN 1 ELSE m END)
                  ELSE 0 END AS version
      FROM bw
    ),
    -- stage 1: base way dedupe (geometry groups = g; version desc, id desc
    -- — flattened full-tie survivor is the max id, relation-dedup.test.ts)
    base_ways AS (
      SELECT id, g FROM (
        SELECT id, g, row_number() OVER (PARTITION BY g ORDER BY version DESC, id DESC) AS rn
        FROM bwv
      ) WHERE rn = 1
    ),
    -- stage 3: patch way dedupe via the isWayEqual property path
    patch_ways AS (
      SELECT id, g FROM (
        SELECT doc_id AS id, doc_id % 75 AS g,
               row_number() OVER (PARTITION BY doc_id % 75 ORDER BY doc_id DESC) AS rn
        FROM documents WHERE doc_id % 20 = 15
      ) WHERE rn = 1
    ),
    -- stage 5: LWW upsert (patch wins by id)
    mw AS (
      SELECT id, g, 1 AS is_patch FROM patch_ways
      UNION ALL
      SELECT id, g, 0 FROM base_ways
      WHERE id NOT IN (SELECT id FROM patch_ways)
    ),
    refs AS (
      SELECT id, jj.j,
             CASE WHEN is_patch = 1 THEN 100 + ((g * 7 + (jj.j + 1) * 13) % 100)
                  ELSE (g * 7 + jj.j * 13) % 100 END AS ref0,
             is_patch
      FROM mw, range(0, 4) jj(j)
    ),
    -- stage 2 rewrite: base refs -> class survivor (+100); stage 6 rewrite:
    -- classes < 50 -> the v1 patch node
    final_refs AS (
      SELECT id AS way_id, j AS seq,
             CASE WHEN r1 - 100 < 50 THEN 1000 + (r1 - 100) ELSE r1 END AS ref
      FROM (SELECT id, j, CASE WHEN is_patch = 1 THEN ref0 ELSE ref0 + 100 END AS r1 FROM refs)
    ),
    final_nodes AS (
      SELECT 1000 + kk.k AS node_id FROM range(0, 50) kk(k)
      UNION ALL
      SELECT 100 + kk.k FROM range(50, 100) kk(k)
    ),
    -- relations: patch wins LWW for k<10 keeping its raw 'via' member (node
    -- k was deleted before the patch arrived — a preserved missing ref);
    -- base survivors' members fold to one after k -> k+100, then stage-6
    -- rewrites k+100 -> 1000+k (k < 50 classes have a v1 patch node)
    final_relmembers AS (
      SELECT 5000 + kk.k AS rid, kk.k AS ref FROM range(0, 10) kk(k)
      UNION ALL
      SELECT 5000 + kk.k, 1000 + kk.k FROM range(10, 20) kk(k)
    )
    SELECT 'ref' AS kind, way_id, seq::INT AS seq, ref FROM final_refs
    UNION ALL
    SELECT 'node' AS kind, node_id, 0::INT, node_id FROM final_nodes
    UNION ALL
    SELECT 'relmember' AS kind, rid, 0::INT, ref FROM final_relmembers
"""


@_q("osm_merge_pipeline", _MP_ORACLE)
def osm_merge_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP §3.2 pipeline (merge.ts:43-110) end to end, oracle-
    backed: base/patch way dedupe (incl. the isWayEqual property path on
    unresolvable patch refs), coincident-node dedupe with ref AND
    relation-member rewriting (+ adjacent member folding), LWW upsert over
    ways, nodes, and relations, final cross-dataset dedupe. The oracle
    computes the exact expected end state analytically from the planted
    fixture."""
    from .operators import pipeline as _pipeline

    bn, bw, pn, pw, br, pr = _mp_fixture(spark, sf_dir)
    nodes, ways, relations, _stats = _pipeline.merge_datasets(
        bn, bw, pn, pw, create_intersections=False,
        base_relations=br, patch_relations=pr,
    )
    refs = ways.select(
        F.col("id").alias("way_id"), F.posexplode("refs").alias("seq", "ref")
    ).select(F.lit("ref").alias("kind"), "way_id", F.col("seq").cast("int").alias("seq"), "ref")
    nd = nodes.select(
        F.lit("node").alias("kind"), F.col("id").alias("way_id"),
        F.lit(0).cast("int").alias("seq"), F.col("id").alias("ref"),
    )
    rm = relations.select(
        F.col("id").alias("way_id"), F.posexplode("members").alias("seq", "m")
    ).select(
        F.lit("relmember").alias("kind"), "way_id",
        F.col("seq").cast("int").alias("seq"), F.col("m.ref").alias("ref"),
    )
    return refs.unionByName(nd).unionByName(rm)


# ===========================================================================
# Routing (SURVEY §2.12, packages/router): SSSP on a deterministic grid
# ===========================================================================

_GRID_N, _GRID_W = 60, 12  # 12 x 5 grid; custkey 1..60 exists at every sf
# exact-quarter weights: every dist is a multiple of 0.25 -> float-exact
# across engines regardless of accumulation order
_W_SQL = "1.0 + ((src * 7 + dst * 13) % 8)::DOUBLE * 0.25"


def _route_oracle_sql(rounds: int = 44) -> str:
    """Unrolled Bellman-Ford as a CTE chain: d_k holds per-node min dist
    over paths of <= k hops; weights are >= 1.0 and the max true distance
    is <= 15 hops x 2.75 < 42, so 44 rounds provably reach the fixpoint."""
    parts = [
        f"WITH n AS MATERIALIZED (SELECT c_custkey AS id FROM customer WHERE c_custkey BETWEEN 0 AND {_GRID_N - 1}),",
        f"""e0 AS MATERIALIZED (
          SELECT id AS src, id + 1 AS dst FROM n WHERE id % {_GRID_W} <> {_GRID_W - 1} AND id + 1 <= {_GRID_N - 1}
          UNION ALL
          SELECT id, id + {_GRID_W} FROM n WHERE id + {_GRID_W} <= {_GRID_N - 1}
        ),""",
        f"""ew AS MATERIALIZED (SELECT src, dst, {_W_SQL} AS w FROM e0),""",
        "ee AS MATERIALIZED (SELECT src, dst, w FROM ew UNION ALL SELECT dst, src, w FROM ew),",
        "d0(node, dist) AS (SELECT 0::BIGINT, 0.0::DOUBLE),",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT node, min(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{k-1} UNION ALL "
            f"SELECT ee.dst AS node, d.dist + ee.w AS dist "
            f"FROM d{k-1} d JOIN ee ON ee.src = d.node) GROUP BY node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT node::BIGINT AS node, dist FROM d{rounds} ORDER BY node")
    return "\n".join(parts)


@_q("osm_route_shortest_path", _route_oracle_sql())
def osm_route_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 router (packages/router/src/algorithms/shortest-path.ts:115):
    single-source shortest path over a deterministic 15x10 grid graph with
    exact-quarter weights, computed by frontier-based distributed label
    correction (operators/router.shortest_path — fixpoint == Dijkstra).
    Oracle: Bellman-Ford unrolled to 64 CTE rounds in DuckDB (provably at
    fixpoint: weights >= 1, max dist < 64)."""
    from .operators import router

    ids = _t(spark, sf_dir, "customer").filter(
        (F.col("c_custkey") >= 0) & (F.col("c_custkey") <= _GRID_N - 1)
    ).select(F.col("c_custkey").alias("id"))
    right = ids.filter(
        (F.col("id") % _GRID_W != _GRID_W - 1) & (F.col("id") + 1 <= _GRID_N - 1)
    ).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    down = ids.filter(F.col("id") + _GRID_W <= _GRID_N - 1).select(
        F.col("id").alias("src"), (F.col("id") + _GRID_W).alias("dst")
    )
    ew = right.unionByName(down).select(
        "src", "dst",
        (F.lit(1.0) + ((F.col("src") * 7 + F.col("dst") * 13) % 8).cast("double") * 0.25).alias("w"),
    )
    edges = ew.unionByName(ew.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    dist = router.shortest_path(edges, source=0)
    return dist.select("node", "dist").orderBy("node")


def _ann_ivf_sql(n_centroids: int = 8, n_probe: int = 4, iters: int = 2,
                 dim: int = 64, k: int = 3) -> str:
    """DuckDB twin of the ENTIRE IVF path (similarity.ivf_topk): smallest-id
    seeds, `iters` unrolled Lloyd steps (argmin assign + per-dim mean
    update), inverted-list probe, cosine refine. Lloyd means accumulate in
    engine-specific order; the resulting last-ulp centroid differences
    cannot flip an argmin on this layer (nearest-centroid margins are many
    orders of magnitude wider), so the hash is stable — and a real logic
    divergence (seeding, assign rule, probe order) flips it."""
    def d2(vec: str, cent: str) -> str:
        return (f"list_sum(list_transform(range(1, {dim + 1}),"
                f" i -> ({vec}[i] - {cent}[i]) * ({vec}[i] - {cent}[i])))")

    def assign(name: str, cents: str) -> str:
        return f"""
    {name} AS (
      SELECT vec_id, vec, cid FROM (
        SELECT v.vec_id, v.vec, s.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {d2('v.vec', 's.c')}, s.cid) AS rn
        FROM v, {cents} s
      ) WHERE rn = 1
    )"""

    def update(name: str, assigned: str) -> str:
        return f"""
    {name} AS (
      SELECT cid, list(m ORDER BY d) AS c FROM (
        SELECT cid, dd.d, avg(vec[dd.d]) AS m
        FROM {assigned}, range(1, {dim + 1}) dd(d) GROUP BY cid, dd.d
      ) GROUP BY cid
    )"""

    steps = []
    cents = "seeds"
    for it in range(1, iters + 1):
        steps.append(assign(f"a{it}", cents))
        steps.append(update(f"c{it}", f"a{it}"))
        cents = f"c{it}"
    chain = ",".join(steps)
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings
    ),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vec AS c
      FROM v ORDER BY vec_id LIMIT {n_centroids}
    ),{chain},
    inv AS (
      SELECT vec_id, vec, cid FROM (
        SELECT v.vec_id, v.vec, s.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {d2('v.vec', 's.c')}, s.cid) AS rn
        FROM v, {cents} s
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qvec, cid FROM (
        SELECT v.vec_id AS query_id, v.vec AS qvec, s.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {d2('v.vec', 's.c')}, s.cid) AS pr
        FROM v, {cents} s WHERE v.vec_id < 8
      ) WHERE pr <= {n_probe}
    ),
    scored AS (
      SELECT p.query_id, i.vec_id,
             list_sum(list_transform(range(1, {dim + 1}), i2 -> p.qvec[i2] * i.vec[i2]))
             / (sqrt(list_sum(list_transform(range(1, {dim + 1}), i2 -> p.qvec[i2] * p.qvec[i2])))
                * sqrt(list_sum(list_transform(range(1, {dim + 1}), i2 -> i.vec[i2] * i.vec[i2])))) AS sim
      FROM probes p JOIN inv i ON i.cid = p.cid WHERE p.query_id <> i.vec_id
    )
    SELECT query_id, vec_id, round(sim, 6) AS sim, rn::BIGINT AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {k}
    """


def _route_p2p_oracle_sql(target: int = 59, rounds: int = 44, hops: int = 24) -> str:
    """Bellman-Ford fixpoint + deterministic predecessor (min optimal pred,
    exact: weights are quarter-multiples so d(u) + w == d(n) compares
    float-exactly) + the via chain unrolled from the target."""
    base = _route_oracle_sql(rounds)
    base = base[: base.rindex("SELECT node::BIGINT")]  # keep the CTE chain
    parts = [
        base.rstrip().rstrip(",") + ",",
        f"""via AS MATERIALIZED (
          SELECT d.node, min(e.src) AS via
          FROM d{rounds} d
          JOIN ee e ON e.dst = d.node
          JOIN d{rounds} du ON du.node = e.src AND du.dist + e.w = d.dist
          GROUP BY d.node
        ),""",
        f"c0(pos, node) AS (SELECT 0::BIGINT, {target}::BIGINT),",
    ]
    for k in range(1, hops + 1):
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT (c.pos + 1)::BIGINT AS pos, v.via AS node "
            f"FROM c{k-1} c JOIN via v ON v.node = c.node WHERE c.node <> 0),"
        )
    union = " UNION ALL ".join(f"SELECT pos, node FROM c{k}" for k in range(hops + 1))
    parts.append(
        f"""chain AS MATERIALIZED ({union})
        SELECT c.pos, c.node, d.dist
        FROM chain c JOIN d{rounds} d ON d.node = c.node"""
    )
    return "\n".join(parts)


@_q("osm_route_p2p", _route_p2p_oracle_sql())
def osm_route_p2p(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The router's user-facing point-to-point API (router.route): SSSP +
    the EXACT reconstructed path via distributed pointer doubling — the
    oracle rebuilds the deterministic predecessor chain (min optimal pred)
    from the Bellman-Ford fixpoint and walks it from the target."""
    from .operators import router

    ids = _t(spark, sf_dir, "customer").filter(
        (F.col("c_custkey") >= 0) & (F.col("c_custkey") <= _GRID_N - 1)
    ).select(F.col("c_custkey").alias("id"))
    right = ids.filter(
        (F.col("id") % _GRID_W != _GRID_W - 1) & (F.col("id") + 1 <= _GRID_N - 1)
    ).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    down = ids.filter(F.col("id") + _GRID_W <= _GRID_N - 1).select(
        F.col("id").alias("src"), (F.col("id") + _GRID_W).alias("dst")
    )
    ew = right.unionByName(down).select(
        "src", "dst",
        (F.lit(1.0) + ((F.col("src") * 7 + F.col("dst") * 13) % 8).cast("double") * 0.25).alias("w"),
    )
    edges = ew.unionByName(ew.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    return router.route(edges, source=0, target=_GRID_N - 1)


_ASTAR_SQL = (
    _route_oracle_sql()[: _route_oracle_sql().rindex("SELECT node::BIGINT")]
    + f"SELECT node::BIGINT AS node, dist AS dist_m FROM d44 WHERE node = {_GRID_N - 1}"
)


@_q("osm_route_astar", _ASTAR_SQL, extra=True)
def osm_route_astar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A* point-to-point distance (algorithms/shortest-path.ts:127): the
    goal-pruned fixpoint's target label must equal the full Bellman-Ford
    fixpoint's. Node coordinates are scaled tiny (1e-6 deg per grid step)
    so the haversine heuristic stays admissible under the synthetic
    quarter-multiple weights. Extra tier: the unpruned SSSP/p2p queries
    cover the shared fixpoint machinery in the driver window; this pins the
    pruning layer (also pytest: test_router.py::test_astar_*)."""
    from .operators import router

    ids = _t(spark, sf_dir, "customer").filter(
        (F.col("c_custkey") >= 0) & (F.col("c_custkey") <= _GRID_N - 1)
    ).select(F.col("c_custkey").alias("id"))
    right = ids.filter(
        (F.col("id") % _GRID_W != _GRID_W - 1) & (F.col("id") + 1 <= _GRID_N - 1)
    ).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    down = ids.filter(F.col("id") + _GRID_W <= _GRID_N - 1).select(
        F.col("id").alias("src"), (F.col("id") + _GRID_W).alias("dst")
    )
    ew = right.unionByName(down).select(
        "src", "dst",
        (F.lit(1.0) + ((F.col("src") * 7 + F.col("dst") * 13) % 8).cast("double") * 0.25).alias("w"),
    )
    edges = ew.unionByName(ew.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    nodes = ids.select(
        "id",
        ((F.col("id") % _GRID_W).cast("double") * 1e-6).alias("lon"),
        ((F.col("id") / _GRID_W).cast("long").cast("double") * 1e-6).alias("lat"),
    )
    out = router.astar_distance(edges, nodes, source=0, target=_GRID_N - 1)
    return out.filter(F.col("node") == _GRID_N - 1).select("node", F.col("dist").alias("dist_m"))


@_q("osm_route_bidirectional", _ASTAR_SQL, extra=True)
def osm_route_bidirectional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional s->t search (algorithms/bidirectional.ts:20): the
    meeting cost mu must equal the full Bellman-Ford s->t distance (the
    same analytic oracle as A* — both are goal-directed prunings of the
    one fixpoint). Extra tier: closes the last operator without
    oracle-grade evidence (R5; exactness vs SSSP also pytest-pinned in
    test_router.py::test_bidirectional_matches_sssp)."""
    from .operators import router

    ids = _t(spark, sf_dir, "customer").filter(
        (F.col("c_custkey") >= 0) & (F.col("c_custkey") <= _GRID_N - 1)
    ).select(F.col("c_custkey").alias("id"))
    right = ids.filter(
        (F.col("id") % _GRID_W != _GRID_W - 1) & (F.col("id") + 1 <= _GRID_N - 1)
    ).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    down = ids.filter(F.col("id") + _GRID_W <= _GRID_N - 1).select(
        F.col("id").alias("src"), (F.col("id") + _GRID_W).alias("dst")
    )
    ew = right.unionByName(down).select(
        "src", "dst",
        (F.lit(1.0) + ((F.col("src") * 7 + F.col("dst") * 13) % 8).cast("double") * 0.25).alias("w"),
    )
    edges = ew.unionByName(
        ew.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    _df, _db, mu, _meet = router.bidirectional_distance(
        edges, source=0, target=_GRID_N - 1
    )
    return spark.createDataFrame(
        [(_GRID_N - 1, float(mu))], "node bigint, dist_m double"
    )


@_q("embed_ann_ivf", _ann_ivf_sql())
def embed_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-file ANN (operators/similarity.ivf_topk): deterministic
    seeded coarse quantizer + 2 distributed Lloyd steps, n_probe nearest
    lists probed per query, exact cosine refine. Oracle: the full IVF path
    replicated as unrolled SQL. Recall vs brute force asserted in tests;
    output determinism across parallelism tested."""
    from .operators import similarity as _similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = _similarity.ivf_topk(queries, emb, k=3, n_centroids=8, n_probe=4)
    return out.select("query_id", "vec_id", "sim", F.col("rank").cast("long").alias("rank"))


_REL_KIND_SQL = """
    WITH rels AS (
      SELECT doc_id,
             CASE doc_id % 7 WHEN 0 THEN 'multipolygon' WHEN 1 THEN 'route'
                  WHEN 2 THEN 'multipoint' WHEN 3 THEN 'restriction'
                  WHEN 4 THEN 'boundary' WHEN 5 THEN NULL ELSE 'waterway' END AS t,
             (doc_id % 3 = 0) AS hrm
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN t IS NULL THEN (CASE WHEN hrm THEN 'super' ELSE 'logic' END)
                WHEN lower(t) IN ('multipolygon','boundary','site') THEN 'area'
                WHEN lower(t) IN ('route','waterway','multilinestring','canal') THEN 'line'
                WHEN lower(t) = 'multipoint' THEN 'point'
                WHEN hrm THEN 'super' ELSE 'logic' END AS kind
    FROM rels
"""


@_q("osm_relation_kind", _REL_KIND_SQL)
def osm_relation_kind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation-kind classification (types/src/relation-kind.ts:29-158) as a
    single JVM-side CASE expression over synthesized typed relations."""
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 7
    t = (
        F.when(m == 0, "multipolygon").when(m == 1, "route")
        .when(m == 2, "multipoint").when(m == 3, "restriction")
        .when(m == 4, "boundary").when(m == 5, F.lit(None).cast("string"))
        .otherwise("waterway")
    )
    rels = docs.select(
        "doc_id",
        F.when(t.isNotNull(), F.create_map(F.lit("type"), t)).alias("tags"),
        (F.col("doc_id") % 3 == 0).alias("hrm"),
    )
    return rels.select("doc_id", geo.relation_kind(F.col("tags"), F.col("hrm")).alias("kind"))


_KNN_BBOX_SQL = f"""
    WITH q AS ({_KNN_CENTERS_SQL}),
    boxes AS (
      SELECT n_nationkey,
             ({synth.CENTROID_LON} + (n_nationkey % {synth.NUM_CLUSTERS})::DOUBLE * {synth.CLUSTER_STEP_LON}) - 0.03 AS minx,
             ({synth.CENTROID_LAT} + ((n_nationkey % {synth.NUM_CLUSTERS}) % 3)::DOUBLE * {synth.CLUSTER_STEP_LAT}) - 0.03 AS miny,
             ({synth.CENTROID_LON} + (n_nationkey % {synth.NUM_CLUSTERS})::DOUBLE * {synth.CLUSTER_STEP_LON}) + 0.03 AS maxx,
             ({synth.CENTROID_LAT} + ((n_nationkey % {synth.NUM_CLUSTERS}) % 3)::DOUBLE * {synth.CLUSTER_STEP_LAT}) + 0.03 AS maxy
      FROM nation
    ),
    d AS (
      SELECT q.query_id, boxes.n_nationkey,
             {_hav_sql("q.qlon", "q.qlat",
                       "greatest(boxes.minx, least(q.qlon, boxes.maxx))",
                       "greatest(boxes.miny, least(q.qlat, boxes.maxy))")} AS dist
      FROM q CROSS JOIN boxes
    )
    SELECT query_id, n_nationkey, round(dist, 3) AS dist_m, rn::BIGINT AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, n_nationkey) AS rn FROM d)
    WHERE rn <= 3
"""


@_q("geo_knn_bbox", _KNN_BBOX_SQL)
def geo_knn_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 over way/relation bboxes (geoflatbush around(), ways.ts:369-381):
    ring-expansion kNN where distance = great-circle to the clamped nearest
    point of each box; oracle is the brute-force clamped-haversine cross
    join."""
    nation = _t(spark, sf_dir, "nation")
    cid = F.col("n_nationkey") % synth.NUM_CLUSTERS
    clon = F.lit(synth.CENTROID_LON) + cid.cast("double") * synth.CLUSTER_STEP_LON
    clat = F.lit(synth.CENTROID_LAT) + (cid % 3).cast("double") * synth.CLUSTER_STEP_LAT
    boxes = nation.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        (clon - 0.03).alias("minx"), (clat - 0.03).alias("miny"),
        (clon + 0.03).alias("maxx"), (clat + 0.03).alias("maxy"),
    )
    queries = nation.filter(F.col("n_nationkey").between(1, 5)).select(
        F.col("n_nationkey").cast("long").alias("query_id"),
        clon.alias("lon"), clat.alias("lat"),
    )
    out = spatial.knn_bbox_join(queries, boxes, k=3, box_id="n_nationkey", z=12)
    return out.select(
        "query_id", "n_nationkey", F.round("dist_m", 3).alias("dist_m"),
        F.col("rank").cast("long").alias("rank"),
    )


_RAS_XF, _RAS_YF = _tile_frac_sql(DOC_LON_SQL, DOC_LAT_SQL, 10)

@_q(
    "tile_raster_stats",
    f"""
    WITH f AS (
      SELECT doc_id, {_RAS_XF} AS xf, {_RAS_YF} AS yf FROM documents
    ), t AS (
      SELECT doc_id, floor(xf)::BIGINT AS tx, floor(yf)::BIGINT AS ty,
             round((xf - floor(xf)) * 4096)::BIGINT AS px,
             round((yf - floor(yf)) * 4096)::BIGINT AS py
      FROM f
    ), pix AS (
      -- drawPoint pixel: clampAndRoundPx(px * 256/4096) with Math.round
      -- (floor(x + 0.5)), clamped into the tile
      SELECT DISTINCT tx, ty,
             least(greatest(floor(px * 0.0625 + 0.5), 0), 255)::BIGINT AS xi,
             least(greatest(floor(py * 0.0625 + 0.5), 0), 255)::BIGINT AS yi
      FROM t
    ), cnt AS (
      SELECT tx, ty, count(*)::BIGINT AS n_features FROM t GROUP BY tx, ty
    )
    SELECT 10::INT AS z, p.tx, p.ty, c.n_features,
           count(*)::BIGINT AS n_pixels,
           sum(xi)::BIGINT AS sum_x, sum(yi)::BIGINT AS sum_y
    FROM pix p JOIN cnt c ON c.tx = p.tx AND c.ty = p.ty
    GROUP BY p.tx, p.ty, c.n_features
    """,
)
def tile_raster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 composited raster materialization (drawToRasterTile defaults),
    oracle-proven: the rendered PNG bytes are DECODED back (stdlib zlib)
    and per-tile lit-pixel aggregates are hash-compared against DuckDB
    recomputing the expected pixel set from raw coordinates. Byte
    determinism across parallelism is separately asserted in
    tests/test_tiles.py."""
    from .operators import tiles as tiles_op

    pts = _doc_points(spark, sf_dir).select(F.col("doc_id").alias("id"), "lon", "lat")
    px = tiles_op.point_tile_px(pts, z=10)
    feats = tiles_op.composite_raster_inputs(points_px=px)
    out = tiles_op.render_composite_raster(feats)
    return tiles_op.raster_pixel_stats(out)


_WAY_XF, _WAY_YF = _tile_frac_sql("n.lon", "n.lat", 12)

@_q(
    "tile_way_mvt_stats",
    f"""
    WITH nodes AS (
      SELECT p_partkey AS id, {PART_LON_SQL} AS lon, {PART_LAT_SQL} AS lat FROM part
    ),
    seq AS (
      SELECT l_orderkey AS way_id,
             row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS seq,
             l_partkey AS ref
      FROM lineitem
    ),
    v AS (
      SELECT s.way_id, s.seq, {_WAY_XF} AS xf, {_WAY_YF} AS yf
      FROM seq s JOIN nodes n ON n.id = s.ref
    ),
    b AS (
      SELECT way_id, floor(min(xf))::BIGINT AS tx0, floor(max(xf))::BIGINT AS tx1,
             floor(min(yf))::BIGINT AS ty0, floor(max(yf))::BIGINT AS ty1
      FROM v GROUP BY way_id
    ),
    tilesx AS (
      SELECT way_id, unnest(generate_series(tx0, tx1)) AS tx, ty0, ty1 FROM b
    ),
    tiles AS (
      SELECT way_id, tx, unnest(generate_series(ty0, ty1)) AS ty FROM tilesx
    ),
    pv AS (
      SELECT t.way_id, t.tx, t.ty, v.seq,
             greatest(-64, least(4160, round((v.xf - t.tx) * 4096)::BIGINT)) AS px,
             greatest(-64, least(4160, round((v.yf - t.ty) * 4096)::BIGINT)) AS py
      FROM tiles t JOIN v ON v.way_id = t.way_id
    ),
    k AS (
      SELECT *, CASE WHEN lag(px) OVER w IS NULL
                      OR px <> lag(px) OVER w OR py <> lag(py) OVER w
                THEN 1 ELSE 0 END AS keep
      FROM pv WINDOW w AS (PARTITION BY way_id, tx, ty ORDER BY seq)
    ),
    wf AS (
      SELECT way_id, tx, ty, count(*) AS nv, sum(px) AS spx, sum(py) AS spy,
             min(px) AS mnx, max(px) AS mxx, min(py) AS mny, max(py) AS mxy
      FROM k WHERE keep = 1 GROUP BY way_id, tx, ty HAVING count(*) >= 2
    )
    SELECT 12::INT AS z, tx, ty,
           count(*)::BIGINT AS n_features, sum(nv)::BIGINT AS n_vertices,
           sum(spx)::BIGINT AS sum_px, sum(spy)::BIGINT AS sum_py,
           min(mnx)::BIGINT AS min_px, max(mxx)::BIGINT AS max_px,
           min(mny)::BIGINT AS min_py, max(mxy)::BIGINT AS max_py,
           sum(way_id)::BIGINT AS sum_ids
    FROM wf GROUP BY tx, ty
    """,
)
def tile_way_mvt_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full §3.3 tile pipeline for line features: way->node resolution
    (J1), feature x covering-tile explode (way_tile_px, tile fractions
    materialized before the explode), per-tile MVT encode. lineitem plays
    way_refs, part plays nodes."""
    from .operators import tiles as tiles_op

    # deterministic ref order at any parallelism: sort by (linenumber,
    # partkey) — l_linenumber is NOT unique per order in this testdata.
    # The J1 way->node resolution is the lineitem->part equi-join; the
    # vertex-direct encoder then does the tile explode inside the Arrow
    # boundary (see encode_way_mvt_vertices for why: the JVM->Python cell
    # rate, not the varint math, dominates the exploded-array pipeline).
    nodes = _part_points(spark, sf_dir).select(
        F.col("p_partkey").alias("id"), "lon", "lat"
    )
    verts = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("way_id"),
            F.col("l_linenumber").alias("s1"),
            F.col("l_partkey").alias("s2"),
            F.col("l_partkey").alias("ref"),
        )
        .join(F.broadcast(nodes.withColumnRenamed("id", "ref")), "ref")
    )
    # stats_only fuses the decode into the tile-assembly pass (the bytes
    # decoded are the just-assembled tile buffers — same codec exercise,
    # one less 48MB Arrow round-trip)
    return tiles_op.encode_way_mvt_vertices(verts, z=12, stats_only=True)
