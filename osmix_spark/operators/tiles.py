"""Tile materialization: the reference's per-tile RPC encoders re-expressed
as a distributed materialization job (SURVEY §2.9, §3.3).

Reference: vector tiles packages/vt/src/encode.ts:22-31,59-260 (extent 4096,
buffer 64, project lon/lat -> tile px, clip, encode); raster tiles
packages/raster/src/raster-tile.ts:44-345 (256 px RGBA, line draw +
scanline fill). Here: features x covering-tiles explode -> repartition by
(z,x,y) (AQE-salted for dense cells) -> applyInPandas encode -> a
tiles(z, x, y, bytes, n_features, content_hash) table.

Determinism: features are sorted by id inside each tile group before
encoding, so tile bytes are identical at any parallelism — the tile table
content hash is the golden output the north rule compares.

Scale notes: the explode is linear in (features x zoom levels); the only
shuffle keys on (z,x,y) which is also the output table's partition key.
Dense-city skew is handled by AQE skew-split on the groupBy; the encoder
is an Arrow-batched applyInPandas, one group per tile.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geo, mvt
from ..functions.png import decode_png, write_png_rgba
from ..plans.stage import per_key, per_row, spread


def point_tile_px(df: DataFrame, z: int, lon: str = "lon", lat: str = "lat",
                  extent: int = mvt.EXTENT) -> DataFrame:
    """Assign each point its covering tile at zoom z plus integer
    extent-space pixel coords (llToTilePx, geo/src/tile.ts:53-59)."""
    xf = geo.tile_x_fraction(F.col(lon), F.lit(z))
    yf = geo.tile_y_fraction(F.col(lat), F.lit(z))
    df = (
        df.withColumn("__xf", xf)
        .withColumn("__yf", yf)
        .withColumn("tx", F.floor("__xf").cast("long"))
        .withColumn("ty", F.floor("__yf").cast("long"))
    )
    return (
        df.withColumn("px", F.round((F.col("__xf") - F.col("tx")) * extent).cast("int"))
        .withColumn("py", F.round((F.col("__yf") - F.col("ty")) * extent).cast("int"))
        .withColumn("z", F.lit(z).cast("int"))
        .drop("__xf", "__yf")
    )


# The key every per-tile stage groups on.
_TILE = ("z", "tx", "ty")

# Ways per hash key of the vertex shuffle in encode_way_mvt_vertices. A
# key's vertices stay in one partition, so a block must be small next to
# the way count divided by defaultParallelism: at 8192, sf0.01 (way ids
# 0-14,999) had two keys, both hashed to one partition of four; at 64 it
# has 235, and each of four partitions holds 0.94-1.08x the mean.
WAY_BLOCK = 64


def _by_way_block(df: DataFrame) -> DataFrame:
    """Hash-partition rows on `way_id div WAY_BLOCK` into
    defaultParallelism partitions (an explicit count, so AQE does not
    coalesce them; see plans.stage.spread)."""
    return spread(df, F.expr(f"way_id div {WAY_BLOCK}"))


MVT_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType(), False),
        T.StructField("tx", T.LongType(), False),
        T.StructField("ty", T.LongType(), False),
        T.StructField("n_features", T.IntegerType(), False),
        T.StructField("size_bytes", T.IntegerType(), False),
        T.StructField("content_hash", T.LongType(), False),
        T.StructField("tile", T.BinaryType(), False),
    ]
)


def encode_point_mvt(points_px: DataFrame, layer: str = "points",
                     id_col: str = "id",
                     tag_cols: tuple[str, ...] = (),
                     stats_only: bool = False) -> DataFrame:
    """points_px: output of point_tile_px (z, tx, ty, px, py, id, tags...).
    Returns the materialized tile table with deterministic bytes.

    stats_only=True decodes each just-encoded tile IN this pass and emits
    MVT_STATS_SCHEMA rows instead of the tile table — same fusion as
    encode_way_mvt_vertices(stats_only=True): the stats shadow query
    otherwise ships every tile's bytes across the Arrow boundary twice
    (Python encode -> JVM -> Python decode). The decode runs on the very
    buffer just assembled, so the codec is exercised identically."""
    cols = ["z", "tx", "ty", id_col, "px", "py", *tag_cols]

    def encode(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        import numpy as np

        z, tx, ty = int(key[0]), int(key[1]), int(key[2])
        pdf = pdf.sort_values(id_col)
        if not tag_cols:
            # vectorized batch path (bytes identical to the scalar encoder,
            # property-tested in tests/test_tiles.py)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            buf = mvt._len_delim(3, mvt.encode_lines_layer_np(
                layer, ids,
                pdf["px"].to_numpy(dtype=np.int64),
                pdf["py"].to_numpy(dtype=np.int64),
                np.ones(len(ids), dtype=np.int64),
                geom_type=mvt.GEOM_POINT,
            ))
            n = len(ids)
        else:
            feats = []
            for row in pdf.itertuples(index=False):
                d = row._asdict()
                feats.append(
                    {
                        "id": int(d[id_col]),
                        "type": mvt.GEOM_POINT,
                        "geometry": [[(int(d["px"]), int(d["py"]))]],
                        "tags": {c: d[c] for c in tag_cols if d.get(c) is not None},
                    }
                )
            buf = mvt.encode_tile({layer: feats})
            n = len(feats)
        if stats_only:
            s = mvt.decode_tile_stats_np(buf).get(layer)
            if s is None or not s["n_features"]:
                return pd.DataFrame(columns=[f.name for f in MVT_STATS_SCHEMA.fields])
            return pd.DataFrame([{"z": z, "tx": tx, "ty": ty, **s}])
        h = int.from_bytes(hashlib.md5(buf).digest()[:8], "big") >> 1
        return pd.DataFrame(
            [
                {
                    "z": z, "tx": tx, "ty": ty,
                    "n_features": n, "size_bytes": len(buf),
                    "content_hash": h, "tile": buf,
                }
            ]
        )

    return per_key(points_px.select(*cols), _TILE, encode,
                   MVT_STATS_SCHEMA if stats_only else MVT_SCHEMA)


def encode_way_mvt_vertices(verts: DataFrame, z: int, layer: str = "ways",
                            extent: int = mvt.EXTENT,
                            stats_only: bool = False) -> DataFrame:
    """Vertex-direct line-tile pipeline: verts(way_id, s1, s2, lon, lat) —
    one row per way vertex, vertex order within a way ascending (s1, s2) —
    straight to the materialized tile table. Bytes identical to the
    scalar mvt.encode_tile over way_tile_px rows clamped to the 64 px
    buffer, cleanCoords'd and sorted by way id within each tile (tested
    equal in tests/test_tiles.py).

    Contract: a tile whose EVERY feature degenerates under cleanCoords
    (<2 distinct points) emits NO row — the materialized tile table never
    contains feature-less tiles, matching the reference encoder skipping
    degenerate geometry (vt/encode.ts). Pinned in
    tests/test_tiles.py::test_fully_degenerate_tile_emits_no_row.

    Why this shape: the JVM->Arrow boundary costs ~1 cell/µs, so the
    dominant cost of the array-explode pipeline is shipping the exploded
    (way x tile) vertex arrays into Python (~60M cells at sf0.1). Here
    the JVM does only what it is uniquely good at — scan, broadcast join,
    the trig projection (bit-parity with the SQL oracle), ONE 5-column
    shuffle of un-exploded vertices hashed on `way_id div WAY_BLOCK` —
    and the bounded tile explode + round + varint encode run vectorized
    inside Arrow-batched Python, emitting one frames blob per
    (tile, way block) (KB-scale Arrow traffic) that merge_way_frames
    concatenates in block order, i.e. way order.
    Parallelism is pinned to defaultParallelism: AQE would coalesce this
    small-by-bytes, CPU-heavy stage into 1-2 tasks and serialize it.
    The block is small so that the hash spreads vertices over every
    partition even at small scale (see WAY_BLOCK).

    stats_only=True decodes one blob per (tile, partition) in the same
    pass and emits its partial stats; the tile rollup is a JVM groupBy.

    Reference: vt/encode.ts:22-31,59-260; geo/src/tile.ts:53-79."""
    lo, hi = -mvt.BUFFER_PX, extent + mvt.BUFFER_PX
    zz = int(z)
    ext = int(extent)
    zc = F.lit(zz)
    proj = verts.select(
        "way_id", "s1", "s2",
        geo.tile_x_fraction(F.col("lon"), zc).alias("xf"),
        geo.tile_y_fraction(F.col("lat"), zc).alias("yf"),
    )
    # vertex order (way_id, s1, s2) is established by the JVM sort so the
    # Python stage needs neither the lexsort nor the s1/s2 columns at all
    # — 2 of 5 Arrow columns never cross the boundary. Ties in the sort
    # key carry identical coordinates (s2 IS the node ref), so an unstable
    # sort cannot change the encoded bytes.
    dist = (
        _by_way_block(proj)
        .sortWithinPartitions("way_id", "s1", "s2")
        .select("way_id", "xf", "yf")
    )

    def encode_verts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def rhu(v):
            # round half away from zero == Spark F.round(double); the +0.5
            # add is IEEE-exact for |v| < 2^52 so the two agree bit-for-bit
            # (copysign(floor(|v|+0.5), v) is the branch-free identity)
            return np.copysign(np.floor(np.fabs(v) + 0.5), v)

        pdfs = [p for p in batches]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if not len(pdf):
            return
        # rows arrive sorted by (way_id, s1, s2) — the JVM sort upstream
        wid = pdf["way_id"].to_numpy(dtype=np.int64)
        xf = pdf["xf"].to_numpy(dtype=np.float64)
        yf = pdf["yf"].to_numpy(dtype=np.float64)
        nv = len(wid)
        neww = np.ones(nv, dtype=bool)
        neww[1:] = wid[1:] != wid[:-1]
        wstart = np.nonzero(neww)[0]
        nw = len(wstart)
        wlen = np.diff(np.concatenate([wstart, [nv]]))
        # per-way covering-tile ranges (bboxToTileRange, geo/src/tile.ts:66-79)
        tx0 = np.floor(np.minimum.reduceat(xf, wstart)).astype(np.int64)
        tx1 = np.floor(np.maximum.reduceat(xf, wstart)).astype(np.int64)
        ty0 = np.floor(np.minimum.reduceat(yf, wstart)).astype(np.int64)
        ty1 = np.floor(np.maximum.reduceat(yf, wstart)).astype(np.int64)
        ntx = tx1 - tx0 + 1
        nf_w = ntx * (ty1 - ty0 + 1)
        n_feat = int(nf_w.sum())
        # one feature per (way, covering tile)
        w_of = np.repeat(np.arange(nw), nf_w)
        f0 = np.zeros(nw, dtype=np.int64)
        np.cumsum(nf_w[:-1], out=f0[1:])
        k = np.arange(n_feat) - f0[w_of]
        ftx = tx0[w_of] + k % ntx[w_of]
        fty = ty0[w_of] + k // ntx[w_of]
        fway = wid[wstart][w_of]
        # frame order inside each tile: way ascending, so block runs are
        # contiguous (blk is way div WAY_BLOCK)
        forder = np.lexsort((fway, fty, ftx))
        ftx, fty, fway, w_of = ftx[forder], fty[forder], fway[forder], w_of[forder]
        fblk = fway // WAY_BLOCK
        flen = wlen[w_of]
        tot = int(flen.sum())
        v0 = np.zeros(n_feat, dtype=np.int64)
        np.cumsum(flen[:-1], out=v0[1:])
        f_of_v = np.repeat(np.arange(n_feat), flen)
        within = np.arange(tot) - v0[f_of_v]
        src = wstart[w_of][f_of_v] + within
        X = np.clip(
            rhu((xf[src] - ftx[f_of_v]) * ext).astype(np.int64), lo, hi
        )
        Y = np.clip(
            rhu((yf[src] - fty[f_of_v]) * ext).astype(np.int64), lo, hi
        )
        # cleanCoords + degenerate drop (change/src/utils.ts:86-98)
        newf = np.zeros(tot, dtype=bool)
        newf[v0] = True
        keep = np.ones(tot, dtype=bool)
        keep[1:] = (X[1:] != X[:-1]) | (Y[1:] != Y[:-1])
        keep |= newf
        klens = np.bincount(f_of_v[keep], minlength=n_feat)
        sel = klens >= 2
        vkeep = keep & sel[f_of_v]
        ids = fway[sel]
        if not len(ids):
            return
        frames, flens_b = mvt.encode_line_frames_np(
            ids, X[vkeep], Y[vkeep], klens[sel], return_lens=True
        )
        gtx, gty, gblk = ftx[sel], fty[sel], fblk[sel]
        newg = np.ones(len(ids), dtype=bool)
        newg[1:] = (gtx[1:] != gtx[:-1]) | (gty[1:] != gty[:-1])
        if not stats_only:
            newg[1:] |= gblk[1:] != gblk[:-1]
        gstarts = np.nonzero(newg)[0]
        g_blen = np.add.reduceat(flens_b, gstarts)
        g_n = np.add.reduceat(np.ones(len(ids), dtype=np.int64), gstarts)
        boffs = np.zeros(len(gstarts), dtype=np.int64)
        np.cumsum(g_blen[:-1], out=boffs[1:])
        buf = memoryview(frames)
        if stats_only:
            # Decode each just-encoded (tile, partition) blob HERE — the
            # codec is exercised on the exact bytes assembled above — and
            # emit its partial stats. Every stat is distributive (sums,
            # mins, maxes over decoded vertices), so the tile-level rollup
            # is a JVM-side groupBy below: no 40MB frames shuffle, no
            # second Python stage, and the decode parallelism follows the
            # balanced way-block partitioning instead of tile skew. One
            # blob per tile here, not per (tile, block): the blocks are
            # small, and each blob costs a Python-level decode. The
            # encoder's frame lengths locate the frames, so the decode
            # needs no byte-at-a-time walk (it checks them against the
            # bytes).
            gends = np.append(gstarts[1:], len(ids))
            rows = []
            for g, (o, l) in enumerate(zip(boffs, g_blen)):
                s = mvt.frames_stats_np(
                    buf[int(o) : int(o + l)], flens_b[gstarts[g] : gends[g]], layer
                )
                if s is not None and s["n_features"]:
                    rows.append(
                        {"z": zz, "tx": int(gtx[gstarts[g]]),
                         "ty": int(gty[gstarts[g]]), **s}
                    )
            if rows:
                yield pd.DataFrame(rows, columns=_STATS_COLS)
            return
        yield pd.DataFrame(
            {
                "z": np.full(len(gstarts), zz, dtype="int32"),
                "tx": gtx[gstarts], "ty": gty[gstarts], "blk": gblk[gstarts],
                "n": g_n.astype("int32"),
                "frames": [
                    bytes(buf[int(o) : int(o + l)])
                    for o, l in zip(boffs, g_blen)
                ],
            }
        )

    if stats_only:
        partials = dist.mapInPandas(
            encode_verts,
            schema=(
                "z int, tx long, ty long, n_features long, n_vertices long,"
                " sum_px long, sum_py long, min_px long, max_px long,"
                " min_py long, max_py long, sum_ids long"
            ),
        )
        return partials.groupBy("z", "tx", "ty").agg(
            F.sum("n_features").alias("n_features"),
            F.sum("n_vertices").alias("n_vertices"),
            F.sum("sum_px").alias("sum_px"),
            F.sum("sum_py").alias("sum_py"),
            F.min("min_px").alias("min_px"),
            F.max("max_px").alias("max_px"),
            F.min("min_py").alias("min_py"),
            F.max("max_py").alias("max_py"),
            F.sum("sum_ids").alias("sum_ids"),
        )
    stage1 = dist.mapInPandas(
        encode_verts,
        schema="z int, tx long, ty long, blk long, n int, frames binary",
    )
    return merge_way_frames(stage1, layer)


def merge_way_frames(stage1: DataFrame, layer: str = "ways") -> DataFrame:
    """Concatenate per-(tile, block) frame blobs in block order and wrap
    the layer — the stage-2 half of the two-stage parallel encode.
    Partition-batched mapInPandas on an explicit-count repartition (AQE
    would serialize the tiny-by-bytes merge + the downstream decode)."""

    def merge_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        pdfs = [p for p in batches]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if not len(pdf):
            return
        pdf = pdf.sort_values(["z", "tx", "ty", "blk"], ignore_index=True)
        rows = []
        gkeys = pdf[["z", "tx", "ty"]].to_numpy()
        start = 0
        n_rows = len(pdf)
        frames_col = pdf["frames"]
        n_col = pdf["n"]
        for i in range(1, n_rows + 1):
            if i < n_rows and (gkeys[i] == gkeys[start]).all():
                continue
            frames = b"".join(bytes(b) for b in frames_col.iloc[start:i])
            buf = mvt._len_delim(3, mvt.layer_wrap(layer, frames))
            z, tx, ty = (
                int(gkeys[start][0]), int(gkeys[start][1]), int(gkeys[start][2])
            )
            h = int.from_bytes(hashlib.md5(buf).digest()[:8], "big") >> 1
            rows.append(
                {
                    "z": z, "tx": tx, "ty": ty,
                    "n_features": int(n_col.iloc[start:i].sum()),
                    "size_bytes": len(buf), "content_hash": h, "tile": buf,
                }
            )
            start = i
        if rows:
            yield pd.DataFrame(rows, columns=[f.name for f in MVT_SCHEMA.fields])

    return spread(stage1, *_TILE).mapInPandas(merge_partition, schema=MVT_SCHEMA)


def _shoelace_px(pts: list[tuple[int, int]]) -> float:
    """Standard shoelace (>0 == CCW in y-up axes == CW on screen, since
    extent-space y grows downward)."""
    s = 0.0
    for i in range(len(pts) - 1):
        s += pts[i][0] * pts[i + 1][1] - pts[i + 1][0] * pts[i][1]
    return s / 2.0


def encode_polygon_mvt(rings_px: DataFrame, layer: str = "areas") -> DataFrame:
    """Encode multipolygon features (vt/encode.ts:35-45,234-247 winding fix):
    in extent space (y down) outer rings must be screen-CW (positive
    shoelace as computed in raw px axes), inner rings screen-CCW.

    rings_px: (z, tx, ty, feature_id, ring_index, role, pxs array<int>,
    pys array<int>) — one row per (ring, covering tile); ring vertices in
    extent space, closed (first == last). Rings of one feature are grouped
    into a single GEOM_POLYGON feature, ordered by ring_index.
    """
    lo, hi = -mvt.BUFFER_PX, mvt.EXTENT + mvt.BUFFER_PX

    def encode(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        z, tx, ty = int(key[0]), int(key[1]), int(key[2])
        # ring prep (clamp/clean/winding) stays per-ring Python — ring
        # counts are small; the varint-heavy encode is the batched
        # vectorized path (bytes identical to the scalar encoder,
        # property-tested)
        ids: list[int] = []
        rpf: list[int] = []
        ring_lens: list[int] = []
        xs: list[int] = []
        ys: list[int] = []
        for fid, grp in pdf.sort_values(["feature_id", "ring_index"]).groupby(
            "feature_id", sort=True
        ):
            n_rings = 0
            for row in grp.itertuples(index=False):
                pts = [
                    (max(lo, min(hi, int(x))), max(lo, min(hi, int(y))))
                    for x, y in zip(row.pxs, row.pys)
                ]
                cleaned = [p for i, p in enumerate(pts) if i == 0 or p != pts[i - 1]]
                if len(cleaned) < 4 or cleaned[0] != cleaned[-1]:
                    continue
                want_screen_cw = row.role != "inner"
                if (_shoelace_px(cleaned) > 0) != want_screen_cw:
                    cleaned = list(reversed(cleaned))
                body = cleaned[:-1]  # implicit close
                ring_lens.append(len(body))
                xs.extend(p[0] for p in body)
                ys.extend(p[1] for p in body)
                n_rings += 1
            if n_rings:
                ids.append(int(fid))
                rpf.append(n_rings)
        if ids:
            buf = mvt._len_delim(3, mvt.layer_wrap(
                layer, mvt.encode_polygon_frames_np(ids, xs, ys, ring_lens, rpf)
            ))
        else:
            buf = mvt.encode_tile({layer: []})
        h = int.from_bytes(hashlib.md5(buf).digest()[:8], "big") >> 1
        return pd.DataFrame(
            [{"z": z, "tx": tx, "ty": ty, "n_features": len(ids),
              "size_bytes": len(buf), "content_hash": h, "tile": buf}]
        )

    return per_key(rings_px, _TILE, encode, MVT_SCHEMA)


# ---------------------------------------------------------------------------
# raster tiles (T2)
# ---------------------------------------------------------------------------

RASTER_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType(), False),
        T.StructField("tx", T.LongType(), False),
        T.StructField("ty", T.LongType(), False),
        T.StructField("n_features", T.IntegerType(), False),
        T.StructField("content_hash", T.LongType(), False),
        T.StructField("png", T.BinaryType(), False),
    ]
)


def render_point_raster(points_px: DataFrame, id_col: str = "id",
                        tile_size: int = 256,
                        rgba: tuple[int, int, int, int] = (20, 120, 220, 255)) -> DataFrame:
    """Rasterize points per tile: NumPy scatter into an RGBA buffer
    (raster-tile.ts:44-120's point path), PNG-encoded. Deterministic:
    pixel writes are idempotent (fixed color)."""

    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        import numpy as np

        z, tx, ty = int(key[0]), int(key[1]), int(key[2])
        img = np.zeros((tile_size, tile_size, 4), dtype=np.uint8)
        scale = tile_size / mvt.EXTENT
        xs = _clamp_round(pdf["px"].to_numpy() * scale, tile_size)
        ys = _clamp_round(pdf["py"].to_numpy() * scale, tile_size)
        img[ys, xs] = rgba
        png = write_png_rgba(img)
        h = int.from_bytes(hashlib.md5(png).digest()[:8], "big") >> 1
        return pd.DataFrame(
            [{"z": z, "tx": tx, "ty": ty, "n_features": len(pdf),
              "content_hash": h, "png": png}]
        )

    return per_key(points_px.select("z", "tx", "ty", id_col, "px", "py"),
                   _TILE, render, RASTER_SCHEMA)


def _js_round(x):
    """Math.round: floor(x + 0.5) — half toward +inf, also for negatives."""
    import numpy as np

    return np.floor(np.asarray(x, dtype=np.float64) + 0.5).astype(np.int64)


def _clip_polyline_first(pts: list[tuple[float, float]], size: float):
    """First clipped run of a polyline against [0,0,size,size] — the
    Cohen-Sutherland multi-part clip (public mapbox/lineclip algorithm);
    drawLineString consumes only the first part (raster-tile.ts:253)."""
    def code(x, y):
        c = 0
        if x < 0: c |= 1
        elif x > size: c |= 2
        if y < 0: c |= 4
        elif y > size: c |= 8
        return c

    def intersect(ax, ay, bx, by, edge):
        if edge & 8:
            return ax + (bx - ax) * (size - ay) / (by - ay), size
        if edge & 4:
            return ax + (bx - ax) * (0 - ay) / (by - ay), 0.0
        if edge & 2:
            return size, ay + (by - ay) * (size - ax) / (bx - ax)
        return 0.0, ay + (by - ay) * (0 - ax) / (bx - ax)

    part: list[tuple[float, float]] = []
    if len(pts) < 2:
        return part
    code_a = code(*pts[0])
    for i in range(len(pts) - 1):
        ax, ay = pts[i]
        bx, by = pts[i + 1]
        code_b = last_code = code(bx, by)
        while True:
            if not (code_a | code_b):  # both inside
                part.append((ax, ay))
                if code_b != last_code:  # segment went outside
                    part.append((bx, by))
                    if i < len(pts) - 2:
                        return part  # only the first run is drawn
                elif i == len(pts) - 2:
                    part.append((bx, by))
                break
            if code_a & code_b:  # trivially rejected
                break
            if code_a:
                ax, ay = intersect(ax, ay, bx, by, code_a)
                code_a = code(ax, ay)
            else:
                bx, by = intersect(ax, ay, bx, by, code_b)
                code_b = code(bx, by)
        code_a = last_code
    return part


def _clip_polygon(pts: list[tuple[float, float]], size: float):
    """Sutherland-Hodgman polygon clip against [0,0,size,size]
    (lineclip.polygonclip)."""
    result = list(pts)
    for edge in (1, 2, 4, 8):
        inp = result
        result = []
        if not inp:
            return result
        prev = inp[-1]

        def inside(p):
            if edge == 1: return p[0] >= 0
            if edge == 2: return p[0] <= size
            if edge == 4: return p[1] >= 0
            return p[1] <= size

        def isect(a, b):
            ax, ay = a
            bx, by = b
            if edge == 1:
                return 0.0, ay + (by - ay) * (0 - ax) / (bx - ax)
            if edge == 2:
                return size, ay + (by - ay) * (size - ax) / (bx - ax)
            if edge == 4:
                return ax + (bx - ax) * (0 - ay) / (by - ay), 0.0
            return ax + (bx - ax) * (size - ay) / (by - ay), size

        prev_in = inside(prev)
        for p in inp:
            p_in = inside(p)
            if p_in != prev_in:
                result.append(isect(prev, p))
            if p_in:
                result.append(p)
            prev, prev_in = p, p_in
    return result


def _clamp_round(pts, size: int):
    """clampAndRoundPx (geo/tile.ts:90-97) with the upper bound tightened
    to size-1: the reference clamps to `tileSize`, whose flat-index write
    wraps x=tileSize onto the next row's first pixel — an artifact we
    deliberately do not reproduce."""
    import numpy as np

    a = np.asarray(pts, dtype=np.float64)
    if a.size == 0:
        return a.astype(np.int64)
    r = _js_round(a)
    return np.clip(r, 0, size - 1)


def _bresenham_visits(counts, x0: int, y0: int, x1: int, y1: int,
                      tile_size: int) -> None:
    """drawLine (raster-tile.ts:222-249): exact Bresenham, both endpoints
    inclusive, only in-bounds pixels drawn; each visit increments the
    pixel's draw count."""
    dx, dy = abs(x1 - x0), abs(y1 - y0)
    sx = 1 if x0 < x1 else -1
    sy = 1 if y0 < y1 else -1
    err = dx - dy
    x, y = x0, y0
    while True:
        if 0 <= x < tile_size and 0 <= y < tile_size:
            counts[y, x] += 1
        if x == x1 and y == y1:
            break
        e2 = 2 * err
        if e2 > -dy:
            err -= dy
            x += sx
        if e2 < dx:
            err += dx
            y += sy


def _line_counts(rows, tile_size: int, scale: float):
    """Per-pixel drawPixel counts for a set of polylines (drawLineString:
    project -> clip first run -> clamp+round -> Bresenham per segment;
    shared vertices of consecutive segments ARE drawn twice, exactly as the
    reference's per-segment drawLine)."""
    import numpy as np

    counts = np.zeros((tile_size, tile_size), dtype=np.int32)
    for row in rows:
        pts = [(float(x) * scale, float(y) * scale) for x, y in zip(row.pxs, row.pys)]
        clipped = _clip_polyline_first(pts, float(tile_size))
        if len(clipped) < 2:
            continue
        prev = clipped[0]
        for curr in clipped:
            p0 = _clamp_round([prev], tile_size)[0]
            p1 = _clamp_round([curr], tile_size)[0]
            if p0[0] != p1[0] or p0[1] != p1[1]:
                _bresenham_visits(counts, int(p0[0]), int(p0[1]),
                                  int(p1[0]), int(p1[1]), tile_size)
            prev = curr
    return counts


def _polygon_mask(grp, tile_size: int, scale: float):
    """Even-odd scanline fill for one feature's rings — the reference's
    fillPolygonScanline (raster-tile.ts:347-439) exactly: integer
    scanlines, Math.round'ed crossings, boundary rows (y=0, y=size-1) and
    boundary columns (x=0, x=size-1) skipped. Rings are projected, clipped
    (Sutherland-Hodgman), closed, and clamp-rounded first
    (drawPolygon, raster-tile.ts:279-325).

    Returns per-pixel DRAW COUNTS (int32), not a boolean mask: when two
    adjacent even-odd crossing pairs share a rounded x (tangent vertex),
    the reference composites that pixel once per span — a count array
    preserves the double-composite a bool mask would collapse."""
    import numpy as np

    mask = np.zeros((tile_size, tile_size), dtype=np.int32)
    rings = []
    for row in grp.itertuples(index=False):
        pts = [(float(x) * scale, float(y) * scale) for x, y in zip(row.pxs, row.pys)]
        clipped = _clip_polygon(pts, float(tile_size))
        if len(clipped) >= 3:
            if clipped[0] != clipped[-1]:
                clipped = clipped + [clipped[0]]
            rings.append(_clamp_round(clipped, tile_size))
    if not rings or len(rings[0]) < 3:
        return mask
    x1s, y1s, x2s, y2s = [], [], [], []
    min_y, max_y = tile_size, 0
    for r in rings:
        xs, ys = r[:, 0], r[:, 1]
        x1s.append(xs[:-1]); y1s.append(ys[:-1])
        x2s.append(xs[1:]); y2s.append(ys[1:])
        min_y = min(min_y, max(0, int(ys.min())))
        max_y = max(max_y, min(tile_size - 1, int(ys.max())))
    x1 = np.concatenate(x1s).astype(np.float64)
    y1 = np.concatenate(y1s).astype(np.float64)
    x2 = np.concatenate(x2s).astype(np.float64)
    y2 = np.concatenate(y2s).astype(np.float64)
    keep = y1 != y2
    x1, y1, x2, y2 = x1[keep], y1[keep], x2[keep], y2[keep]
    if not len(x1):
        return mask
    for yi in range(min_y, max_y + 1):
        if yi == 0 or yi == tile_size - 1:  # boundary-row skip
            continue
        cross = ((y1 <= yi) & (yi < y2)) | ((y2 <= yi) & (yi < y1))
        if not cross.any():
            continue
        xc = x1[cross] + (yi - y1[cross]) * (x2[cross] - x1[cross]) / (y2[cross] - y1[cross])
        xs_cross = np.sort(_js_round(xc))
        for j in range(0, len(xs_cross) - 1, 2):
            a = max(0, min(tile_size - 1, int(xs_cross[j])))
            b = max(0, min(tile_size - 1, int(xs_cross[j + 1])))
            lo, hi = max(a, 1), min(b, tile_size - 2)  # boundary-column skip
            if hi >= lo:
                mask[yi, lo : hi + 1] += 1
    return mask


def render_line_raster(ways_px: DataFrame, tile_size: int = 256,
                       rgba: tuple[int, int, int, int] = (40, 40, 40, 255)) -> DataFrame:
    """Rasterize way polylines per tile: reference-exact Bresenham after
    polyline clipping (drawLineString). With the default opaque color,
    repeat blends are idempotent, so feature order can't change bytes.

    ways_px: (z, tx, ty, way_id, pxs array<int>, pys array<int>) in extent
    space (see way_tile_px)."""

    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        import numpy as np

        z, tx, ty = int(key[0]), int(key[1]), int(key[2])
        img = np.zeros((tile_size, tile_size, 4), dtype=np.uint8)
        scale = tile_size / mvt.EXTENT
        counts = _line_counts(pdf.sort_values("way_id").itertuples(index=False),
                              tile_size, scale)
        _draw_counts(img, counts, rgba)
        png = write_png_rgba(img)
        h = int.from_bytes(hashlib.md5(png).digest()[:8], "big") >> 1
        return pd.DataFrame(
            [{"z": z, "tx": tx, "ty": ty, "n_features": len(pdf),
              "content_hash": h, "png": png}]
        )

    return per_key(ways_px, _TILE, render, RASTER_SCHEMA)


# --- linear-light premultiplied compositing (raster/src/color.ts) -----------


def _srgb_to_linear(u):
    """IEC 61966-2-1 EOTF (color.ts:18-21); u in 0..255 -> 0..1."""
    import numpy as np

    c = np.asarray(u, dtype=np.float64) / 255.0
    return np.where(c <= 0.04045, c / 12.92, ((c + 0.055) / 1.055) ** 2.4)


def _linear_to_srgb(x):
    """Inverse EOTF (color.ts:27-29); x in 0..1 -> 0..255."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    return np.where(x <= 0.0031308, 255.0 * 12.92 * x,
                    255.0 * (1.055 * x ** (1.0 / 2.4) - 0.055))


def _composite_pair(dst, rgba):
    """compositeRGBA([dst, src]) (color.ts:63-86): linear-light
    premultiplied Porter-Duff source-over, vectorized over dst (N,4)
    uint8 pixels; src is one RGBA color."""
    import numpy as np

    sr, sg, sb, sa8 = rgba
    sa = sa8 / 255.0
    src_lin = _srgb_to_linear(np.array([sr, sg, sb])) * sa  # premultiplied
    da = dst[:, 3].astype(np.float64) / 255.0
    dst_lin = _srgb_to_linear(dst[:, :3]) * da[:, None]
    a_out = sa + da * (1.0 - sa)
    c_out = src_lin[None, :] + dst_lin * (1.0 - sa)
    out = np.zeros_like(dst)
    ok = a_out > 0
    rgb = _linear_to_srgb(c_out[ok] / a_out[ok, None])
    out[ok, :3] = np.clip(_js_round(np.clip(rgb, 0.0, 255.0)), 0, 255).astype(np.uint8)
    out[ok, 3] = np.clip(_js_round(a_out[ok] * 255.0), 0, 255).astype(np.uint8)
    return out


def _draw_counts(img, counts, rgba) -> None:
    """Apply `counts[y,x]` drawPixel invocations of one color to the image
    (drawPixel, raster-tile.ts:184-200): the first draw on a transparent
    pixel writes the RAW color; every further draw composites in linear
    light. Count-equivalent to the reference's sequential per-feature
    drawing because all draws in one class share a color."""
    import numpy as np

    max_c = int(counts.max()) if counts.size else 0
    for i in range(max_c):
        sel = counts > i
        if not sel.any():
            break
        px = img[sel]
        transparent = px[:, 3] == 0
        out = px.copy()
        out[transparent] = np.array(rgba, dtype=np.uint8)
        nt = ~transparent
        if nt.any():
            out[nt] = _composite_pair(px[nt], rgba)
        img[sel] = out


def render_polygon_raster(rings_px: DataFrame, tile_size: int = 256,
                          rgba: tuple[int, int, int, int] = (120, 180, 90, 255)) -> DataFrame:
    """Scanline even-odd polygon fill (raster-tile.ts:279-330): fixed fill
    color keeps pixel writes idempotent, so feature order can't change the
    output bytes. rings_px: same shape as encode_polygon_mvt input."""

    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        import numpy as np

        z, tx, ty = int(key[0]), int(key[1]), int(key[2])
        img = np.zeros((tile_size, tile_size, 4), dtype=np.uint8)
        scale = tile_size / mvt.EXTENT
        for _fid, grp in pdf.sort_values(["feature_id", "ring_index"]).groupby(
            "feature_id", sort=True
        ):
            img[_polygon_mask(grp, tile_size, scale) > 0] = rgba
        png = write_png_rgba(img)
        h = int.from_bytes(hashlib.md5(png).digest()[:8], "big") >> 1
        return pd.DataFrame(
            [{"z": z, "tx": tx, "ty": ty, "n_features": int(pdf["feature_id"].nunique()),
              "content_hash": h, "png": png}]
        )

    return per_key(rings_px, _TILE, render, RASTER_SCHEMA)


# ---------------------------------------------------------------------------
# composited raster tile (drawToRasterTile, osmix/src/raster.ts:43-100)
# ---------------------------------------------------------------------------

DEFAULT_AREA_RGBA = (0, 0, 255, 64)       # raster-tile.ts:29
DEFAULT_LINE_RGBA = (255, 255, 255, 230)  # raster-tile.ts:27
DEFAULT_POINT_RGBA = (255, 0, 0, 255)     # raster-tile.ts:28

_COMPOSITE_SCHEMA_STR = (
    "z int, tx long, ty long, kind string, fid long, ring_index int, "
    "role string, pxs array<int>, pys array<int>"
)


def composite_raster_inputs(points_px: DataFrame | None = None,
                            ways_px: DataFrame | None = None,
                            rings_px: DataFrame | None = None) -> DataFrame:
    """Union the three per-class tile inputs into one discriminated frame
    for render_composite_raster. points_px from point_tile_px; ways_px
    from way_tile_px; rings_px as encode_polygon_mvt."""
    frames = []
    if rings_px is not None:
        frames.append(rings_px.select(
            "z", "tx", "ty", F.lit("area").alias("kind"),
            F.col("feature_id").alias("fid"), "ring_index", "role", "pxs", "pys",
        ))
    if ways_px is not None:
        frames.append(ways_px.select(
            "z", "tx", "ty", F.lit("line").alias("kind"),
            F.col("way_id").alias("fid"), F.lit(0).alias("ring_index"),
            F.lit("").alias("role"), "pxs", "pys",
        ))
    if points_px is not None:
        frames.append(points_px.select(
            "z", "tx", "ty", F.lit("point").alias("kind"),
            F.col("id").alias("fid"), F.lit(0).alias("ring_index"),
            F.lit("").alias("role"),
            F.array(F.col("px")).alias("pxs"), F.array(F.col("py")).alias("pys"),
        ))
    if not frames:
        raise ValueError("at least one feature class required")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def render_composite_raster(features: DataFrame, tile_size: int = 256,
                            area_rgba=DEFAULT_AREA_RGBA,
                            line_rgba=DEFAULT_LINE_RGBA,
                            point_rgba=DEFAULT_POINT_RGBA) -> DataFrame:
    """The reference's default raster tile (drawToRasterTile,
    packages/osmix/src/raster.ts:43-110) with reference-exact pixel math:
    scanline-filled areas (boundary rows/columns skipped), Bresenham lines
    clipped per polyline, points — all composited per drawPixel
    (raster-tile.ts:184-200): raw write on transparent pixels, linear-light
    premultiplied source-over otherwise (color.ts). Deterministic: classes
    draw in areas -> lines -> points order, and within a class every
    drawPixel uses one color, so the per-pixel result depends only on the
    DRAW COUNT, not on feature order (counts are computed exactly,
    including double-drawn shared polyline vertices).

    Not reproduced from the reference: the sub-pixel-entity alpha-scaling
    fast path (drawSubpixelEntity) and the clampAndRoundPx(tileSize) edge
    wrap (we clamp to tileSize-1).

    features: output of composite_raster_inputs.
    """

    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        import numpy as np

        z, tx, ty = int(key[0]), int(key[1]), int(key[2])
        img = np.zeros((tile_size, tile_size, 4), dtype=np.uint8)
        scale = tile_size / mvt.EXTENT
        areas = pdf[pdf["kind"] == "area"]
        if len(areas):
            counts = np.zeros((tile_size, tile_size), dtype=np.int32)
            for _fid, grp in areas.sort_values(["fid", "ring_index"]).groupby("fid", sort=True):
                counts += _polygon_mask(grp, tile_size, scale)
            _draw_counts(img, counts, area_rgba)
        lines = pdf[pdf["kind"] == "line"]
        if len(lines):
            _draw_counts(img, _line_counts(
                lines.sort_values("fid").itertuples(index=False), tile_size, scale
            ), line_rgba)
        points = pdf[pdf["kind"] == "point"]
        if len(points):
            xs = np.array([p[0] for p in points["pxs"]], dtype=np.float64)
            ys = np.array([p[0] for p in points["pys"]], dtype=np.float64)
            xi = _clamp_round(xs * scale, tile_size)
            yi = _clamp_round(ys * scale, tile_size)
            counts = np.zeros((tile_size, tile_size), dtype=np.int32)
            np.add.at(counts, (yi, xi), 1)
            _draw_counts(img, counts, point_rgba)
        png = write_png_rgba(img)
        h = int.from_bytes(hashlib.md5(png).digest()[:8], "big") >> 1
        return pd.DataFrame(
            [{"z": z, "tx": tx, "ty": ty, "n_features": int(pdf["fid"].nunique()),
              "content_hash": h, "png": png}]
        )

    return per_key(features, _TILE, render, RASTER_SCHEMA)


# ---------------------------------------------------------------------------
# feature x covering-tile explode (the distributed tile cover, §3.3 step 3)
# ---------------------------------------------------------------------------


def way_tile_px(ways: DataFrame, nodes: DataFrame, z: int,
                extent: int = mvt.EXTENT) -> DataFrame:
    """ways(id, refs array<long>) + nodes(id, lon, lat) -> one row per
    (way, covering tile at z) with extent-space vertex arrays — the input
    shape of render_line_raster and composite_raster_inputs. Vertices are
    unclamped and may leave the tile; encode_way_mvt_vertices is the MVT
    encoder for ways.

    Plan shape: ONE equi-join (J1 way->node resolution), tile fractions
    computed once per way (transform over the coord arrays — materialized
    as columns BEFORE the tile explode so the trig never re-runs per
    tile), then a bounded sequence-explode over the way's bbox tile range
    (bboxToTileRange, geo/src/tile.ts:66-79).
    """
    refs = ways.select(F.col("id").alias("way_id"),
                       F.posexplode("refs").alias("seq", "ref"))
    verts = refs.join(nodes.select(F.col("id").alias("ref"), "lon", "lat"), "ref")
    return way_vertices_tile_px(verts, z, extent)


def way_vertices_tile_px(verts: DataFrame, z: int,
                         extent: int = mvt.EXTENT) -> DataFrame:
    """Vertex-level entry to the way tile pipeline: verts(way_id, seq,
    lon, lat) with any orderable `seq` (int or struct). One groupBy
    collects the ordered coord arrays — callers whose data is already
    per-vertex (e.g. a resolved way->node join) skip way_tile_px's
    ref re-explode and its second collect_list pass."""
    coords = (
        verts
        .groupBy("way_id")
        .agg(F.array_sort(F.collect_list(F.struct("seq", "lon", "lat"))).alias("s"))
        .select("way_id", F.col("s.lon").alias("lons"), F.col("s.lat").alias("lats"))
    )
    zc = F.lit(z)
    proj = coords.select(
        "way_id",
        F.transform("lons", lambda v: geo.tile_x_fraction(v, zc)).alias("xfs"),
        F.transform("lats", lambda v: geo.tile_y_fraction(v, zc)).alias("yfs"),
    )
    exploded = (
        proj.withColumn(
            "tx", F.explode(F.sequence(
                F.floor(F.array_min("xfs")).cast("long"),
                F.floor(F.array_max("xfs")).cast("long"),
            ))
        )
        .withColumn(
            "ty", F.explode(F.sequence(
                F.floor(F.array_min("yfs")).cast("long"),
                F.floor(F.array_max("yfs")).cast("long"),
            ))
        )
    )
    return exploded.select(
        F.lit(z).cast("int").alias("z"), "tx", "ty", "way_id",
        F.transform("xfs", lambda v: F.round((v - F.col("tx")) * extent).cast("int")).alias("pxs"),
        F.transform("yfs", lambda v: F.round((v - F.col("ty")) * extent).cast("int")).alias("pys"),
    )


def ring_tile_px(rings: DataFrame, z: int, extent: int = mvt.EXTENT) -> DataFrame:
    """rings (relation_id, ring_index, role, lons, lats — the output of
    rings.assemble_relation_rings) -> one row per (ring, covering tile of
    the FEATURE bbox) in extent space — the input of encode_polygon_mvt /
    render_polygon_raster. All rings of a feature replicate to every tile
    the feature's bbox covers, so holes fill correctly in every tile."""
    zc = F.lit(z)
    proj = rings.select(
        F.col("relation_id").alias("feature_id"), "ring_index", "role",
        F.transform("lons", lambda v: geo.tile_x_fraction(v, zc)).alias("xfs"),
        F.transform("lats", lambda v: geo.tile_y_fraction(v, zc)).alias("yfs"),
    )
    bounds = proj.groupBy("feature_id").agg(
        F.floor(F.min(F.array_min("xfs"))).cast("long").alias("tx0"),
        F.floor(F.max(F.array_max("xfs"))).cast("long").alias("tx1"),
        F.floor(F.min(F.array_min("yfs"))).cast("long").alias("ty0"),
        F.floor(F.max(F.array_max("yfs"))).cast("long").alias("ty1"),
    )
    exploded = (
        proj.join(bounds, "feature_id")
        .withColumn("tx", F.explode(F.sequence("tx0", "tx1")))
        .withColumn("ty", F.explode(F.sequence("ty0", "ty1")))
    )
    return exploded.select(
        F.lit(z).cast("int").alias("z"), "tx", "ty", "feature_id", "ring_index", "role",
        F.transform("xfs", lambda v: F.round((v - F.col("tx")) * extent).cast("int")).alias("pxs"),
        F.transform("yfs", lambda v: F.round((v - F.col("ty")) * extent).cast("int")).alias("pys"),
    )


# ---------------------------------------------------------------------------
# decoded tile statistics — SQL-checkable invariants of the tile tables
# (the driver oracle recomputes the same aggregates from raw tile math, so a
# green hash proves the encode->decode path bit-exactly: projection,
# rounding, clamping, cleanCoords, zigzag/delta codec)
# ---------------------------------------------------------------------------

_STATS_COLS = [
    "z", "tx", "ty", "n_features", "n_vertices", "sum_px", "sum_py",
    "min_px", "max_px", "min_py", "max_py", "sum_ids",
]

MVT_STATS_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType(), False),
        T.StructField("tx", T.LongType(), False),
        T.StructField("ty", T.LongType(), False),
        T.StructField("n_features", T.LongType(), False),
        T.StructField("n_vertices", T.LongType(), False),
        T.StructField("sum_px", T.LongType(), False),
        T.StructField("sum_py", T.LongType(), False),
        T.StructField("min_px", T.LongType(), False),
        T.StructField("max_px", T.LongType(), False),
        T.StructField("min_py", T.LongType(), False),
        T.StructField("max_py", T.LongType(), False),
        T.StructField("sum_ids", T.LongType(), False),
    ]
)


def mvt_decoded_stats(tiles: DataFrame, layer: str) -> DataFrame:
    """Decode each materialized tile's protobuf bytes (functions/mvt
    decoder) and emit per-tile aggregates over the DECODED vertices."""

    def stats(r):
        # vectorized varint decode (general geometries fall back to the
        # scalar decoder per feature inside)
        s = mvt.decode_tile_stats_np(bytes(r.tile)).get(layer)
        if s is not None and s["n_features"]:
            yield {"z": int(r.z), "tx": int(r.tx), "ty": int(r.ty), **s}

    return per_row(tiles.select("z", "tx", "ty", "tile"), stats, MVT_STATS_SCHEMA)


RASTER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType(), False),
        T.StructField("tx", T.LongType(), False),
        T.StructField("ty", T.LongType(), False),
        T.StructField("n_features", T.LongType(), False),
        T.StructField("n_pixels", T.LongType(), False),
        T.StructField("sum_x", T.LongType(), False),
        T.StructField("sum_y", T.LongType(), False),
    ]
)


def raster_pixel_stats(tiles: DataFrame) -> DataFrame:
    """Decode each raster tile's PNG and emit per-tile lit-pixel aggregates
    (alpha > 0): count plus coordinate sums — the SQL-checkable shadow of
    the rasterization."""

    def stats(r):
        import numpy as np

        ys, xs = np.nonzero(decode_png(bytes(r.png))[:, :, 3] > 0)
        yield {
            "z": int(r.z), "tx": int(r.tx), "ty": int(r.ty),
            "n_features": int(r.n_features), "n_pixels": int(len(xs)),
            "sum_x": int(xs.sum()), "sum_y": int(ys.sum()),
        }

    return per_row(tiles.select("z", "tx", "ty", "n_features", "png"), stats,
                   RASTER_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# shortbread multi-layer tiles (T3 x T1 — the reference's encoder.ts:
# classify entities into layers, emit ONE multi-layer MVT per tile with
# layers in SHORTBREAD_LAYERS order, empty layers dropped,
# encoder.ts:191-246)
# ---------------------------------------------------------------------------


def shortbread_point_tiles(tagged_points: DataFrame, z: int) -> DataFrame:
    """tagged_points (id, lon, lat, tags map) -> per-tile multi-layer
    shortbread MVT for the Point-geometry layers. Features carry their
    `kind` as a tag (typed tag path); layer order and empty-layer dropping
    match encoder.ts exactly."""
    from .shortbread import LAYER_NAMES, layer_matches

    matched = tagged_points.select(
        "id", "lon", "lat",
        F.explode(layer_matches(F.col("tags"), F.lit("Point"))).alias("e"),
    ).select("id", "lon", "lat", F.col("e.layer").alias("layer"),
             F.col("e.kind").alias("kind"))
    px = point_tile_px(matched, z=z)
    order = {name: i for i, name in enumerate(LAYER_NAMES)}

    def encode(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        zz, tx, ty = int(key[0]), int(key[1]), int(key[2])
        layers: dict[str, list[dict]] = {}
        pdf = pdf.sort_values(["layer", "id"])
        for layer, grp in pdf.groupby("layer", sort=False):
            feats = [
                {"id": int(r.id), "type": mvt.GEOM_POINT,
                 "geometry": [[(int(r.px), int(r.py))]],
                 "tags": {"kind": r.kind}}
                for r in grp.itertuples(index=False)
            ]
            layers[layer] = feats
        ordered = {
            name: layers[name]
            for name in sorted(layers, key=lambda n: order.get(n, 99))
        }
        buf = mvt.encode_tile(ordered)
        h = int.from_bytes(hashlib.md5(buf).digest()[:8], "big") >> 1
        return pd.DataFrame(
            [{"z": zz, "tx": tx, "ty": ty, "n_features": int(len(pdf)),
              "size_bytes": len(buf), "content_hash": h, "tile": buf}]
        )

    return per_key(px, _TILE, encode, MVT_SCHEMA)


def mvt_decoded_layer_stats(tiles: DataFrame) -> DataFrame:
    """Per-(tile, layer) decoded-vertex aggregates over EVERY layer of a
    multi-layer tile (vectorized decode)."""
    schema = T.StructType(
        [T.StructField("z", T.IntegerType(), False),
         T.StructField("tx", T.LongType(), False),
         T.StructField("ty", T.LongType(), False),
         T.StructField("layer", T.StringType(), False)]
        + [f for f in MVT_STATS_SCHEMA.fields if f.name not in ("z", "tx", "ty")]
    )

    def stats(r):
        for layer, s in mvt.decode_tile_stats_np(bytes(r.tile)).items():
            yield {"z": int(r.z), "tx": int(r.tx), "ty": int(r.ty), "layer": layer, **s}

    return per_row(tiles.select("z", "tx", "ty", "tile"), stats, schema)
