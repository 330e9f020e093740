"""Multipolygon ring assembly (packages/geo/src/relation-multipolygon.ts:
47-163): connect a relation's member ways end-to-start into closed rings,
classify outer/inner by role (falling back to winding), and fix winding
for MVT encoding (outer CW in tile/screen coords, inner CCW —
packages/vt/src/encode.ts:35-45).

Distributed shape: relations group via applyInPandas — each group holds
one relation's member ways (bounded: <= 65,535 members per relation,
core/src/relations.ts:58), so the per-group Python is tiny and the heavy
lifting (way->coords resolution) stays in DataFrame joins.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.stage import per_key


def ring_area_signed(coords: list[tuple[float, float]]) -> float:
    """Shoelace: >0 = CCW in lon/lat axes."""
    s = 0.0
    n = len(coords)
    for i in range(n - 1):
        x1, y1 = coords[i]
        x2, y2 = coords[i + 1]
        s += x1 * y2 - x2 * y1
    return s / 2.0


def ensure_winding(coords: list[tuple[float, float]], clockwise: bool) -> list:
    """Flip ring direction if needed (vt/encode.ts winding fix; note screen
    y grows downward, so 'outer CW on screen' == CCW in lon/lat)."""
    ccw = ring_area_signed(coords) > 0
    want_ccw = not clockwise
    return coords if ccw == want_ccw else list(reversed(coords))


def canonical_ring(coords: list[tuple[float, float]]) -> list:
    """Rotate a closed ring so the lexicographically smallest vertex is
    first — makes assembled rings independent of which member way started
    the chain (and therefore of partition/group iteration order)."""
    body = coords[:-1]
    k = min(range(len(body)), key=lambda i: body[i])
    rotated = body[k:] + body[:k]
    return rotated + [rotated[0]]


def connect_ways_to_rings(ways: list[list[tuple[float, float]]]) -> list[list]:
    """Greedy end-to-start chaining (relation-multipolygon.ts:47-163):
    repeatedly extend an open chain with any way whose endpoint matches
    (reversing as needed); a chain closes when its ends meet. Open chains
    that exhaust candidates are dropped (the reference skips incomplete
    rings)."""
    pending = [list(w) for w in ways if len(w) >= 2]
    rings: list[list] = []
    while pending:
        chain = pending.pop(0)
        progress = True
        while chain[0] != chain[-1] and progress:
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
        if len(chain) >= 4 and chain[0] == chain[-1]:
            rings.append(chain)
    return rings


RING_SCHEMA = T.StructType(
    [
        T.StructField("relation_id", T.LongType(), False),
        T.StructField("ring_index", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),  # outer | inner
        T.StructField("lons", T.ArrayType(T.DoubleType()), False),
        T.StructField("lats", T.ArrayType(T.DoubleType()), False),
    ]
)


def assemble_relation_rings(members: DataFrame, ways: DataFrame,
                            nodes: DataFrame) -> DataFrame:
    """members: (relation_id, member_ref, role) way members; ways:
    (id, refs); nodes: (id, lon, lat). Returns closed rings per relation,
    outer rings CCW (lon/lat axes), inner rings CW, deterministically
    ordered by (role, first coordinate)."""
    refs = ways.select(F.col("id").alias("way_id"), F.posexplode("refs").alias("seq", "ref"))
    coords = (
        refs.join(nodes.select(F.col("id").alias("ref"), "lon", "lat"), "ref")
        .groupBy("way_id")
        .agg(F.array_sort(F.collect_list(F.struct("seq", "lon", "lat"))).alias("s"))
        .select("way_id", F.col("s.lon").alias("lons"), F.col("s.lat").alias("lats"))
    )
    m = members.select(
        "relation_id", F.col("member_ref").alias("way_id"),
        F.coalesce("role", F.lit("outer")).alias("role"),
    ).join(coords, "way_id")

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        rid = int(key[0])
        out_rows = []
        for role in ("outer", "inner"):
            # sort member ways by id so chaining order (and thus which way
            # seeds each ring) is deterministic at any parallelism
            group = pdf[pdf["role"] == role].sort_values("way_id")
            ways_c = [
                list(zip(r.lons, r.lats)) for r in group.itertuples(index=False)
            ]
            rings = connect_ways_to_rings(ways_c)
            for ring in rings:
                ring = canonical_ring(ensure_winding(ring, clockwise=(role == "inner")))
                out_rows.append(
                    {"relation_id": rid, "role": role,
                     "lons": [c[0] for c in ring], "lats": [c[1] for c in ring]}
                )
        out_rows.sort(key=lambda r: (r["role"], r["lons"][0], r["lats"][0]))
        for i, r in enumerate(out_rows):
            r["ring_index"] = i
        return pd.DataFrame(out_rows, columns=[f.name for f in RING_SCHEMA.fields]) if out_rows else pd.DataFrame(columns=[f.name for f in RING_SCHEMA.fields]).astype({"relation_id": "int64", "ring_index": "int32"})

    return per_key(m, ["relation_id"], assemble, RING_SCHEMA)
