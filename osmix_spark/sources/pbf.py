"""OSM PBF source + sink (S1-S4, S10) — pure Python codec, distributed scan.

Implements the PUBLIC OSM PBF format (blob framing, zlib, protobuf wire):
reference behavior at packages/pbf/src/pbf-to-blobs.ts / pbf-to-blocks.ts
(S1), dense-node delta decode at packages/core/src/nodes.ts:118-206 (S2),
way/relation decode (S3), sorted block export with the spec's <=8,000
entities/block cap at packages/load/src/pbf.ts:452-480 +
packages/pbf/src/spec.ts:3-10 (S4), header peek (S10). Re-derived from the
published format, not ported.

Distributed shape (the converter job of SURVEY §3.1): a cheap driver-side
pass indexes blob byte ranges (length-prefix walk, no decode), then blobs
decode in parallel via mapInPandas over (offset, length) rows — each task
reads its slice of the file. Steady state reads the resulting parquet;
PBF is the interchange format, parquet the query format.

Coordinates: PBF stores nanodegree-scaled ints (granularity 100 =>
1e-7 deg microdegrees, matching OSM_COORD_SCALE at
packages/geo/src/coordinates.ts:17).
"""

from __future__ import annotations

import os
import zlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import protowire as pw
from ..plans.stage import per_row, spread

MAX_ENTITIES_PER_BLOCK = 8000  # pbf/src/spec.ts:3-10
NANO = 1_000_000_000
GRANULARITY = 100  # => 1e-7 degree units

NODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)
WAY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("refs", T.ArrayType(T.LongType()), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)
REL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("member_types", T.ArrayType(T.StringType()), False),
        T.StructField("member_refs", T.ArrayType(T.LongType()), False),
        T.StructField("member_roles", T.ArrayType(T.StringType()), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

_MEMBER_TYPES = ["node", "way", "relation"]


def _tags_dict(x) -> dict:
    """Arrow hands MapType to pandas as a list of (k, v) pairs; accept both."""
    if x is None:
        return {}
    if isinstance(x, dict):
        return x
    try:
        import math

        if isinstance(x, float) and math.isnan(x):
            return {}
    except TypeError:
        pass
    return dict(x)


def _tags_out(tags: dict | None):
    """Output maps must be dicts (PySpark's Arrow converter calls .items());
    sorted for deterministic key order."""
    return dict(sorted(tags.items())) if tags else None


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

class _StringTable:
    def __init__(self) -> None:
        self.idx: dict[str, int] = {"": 0}
        self.strings: list[str] = [""]

    def add(self, s: str) -> int:
        i = self.idx.get(s)
        if i is None:
            i = len(self.strings)
            self.idx[s] = i
            self.strings.append(s)
        return i

    def encode(self) -> bytes:
        return pw.len_delim(
            1, b"".join(pw.len_delim(1, s.encode("utf-8")) for s in self.strings)
        )


def _encode_dense_nodes(nodes: list[dict], st: _StringTable) -> bytes:
    ids = [int(n["id"]) for n in nodes]
    lats = [round(n["lat"] * 1e7) * GRANULARITY for n in nodes]
    lons = [round(n["lon"] * 1e7) * GRANULARITY for n in nodes]
    # lat/lon stored in nanodegrees / granularity units => divide back
    lats = [v // GRANULARITY for v in lats]
    lons = [v // GRANULARITY for v in lons]
    keys_vals: list[int] = []
    for n in nodes:
        for k, v in sorted(_tags_dict(n.get("tags")).items()):
            keys_vals.extend((st.add(k), st.add(v)))
        keys_vals.append(0)
    dense = (
        pw.packed_sint_deltas(1, ids)
        + pw.packed_sint_deltas(8, lats)
        + pw.packed_sint_deltas(9, lons)
        + pw.packed_varints(10, keys_vals)
    )
    return pw.len_delim(2, dense)  # PrimitiveGroup.dense


def _encode_way(w: dict, st: _StringTable) -> bytes:
    tags = dict(sorted(_tags_dict(w.get("tags")).items()))
    body = pw.tag(1, 0) + pw.varint(int(w["id"]))
    body += pw.packed_varints(2, [st.add(k) for k in tags])
    body += pw.packed_varints(3, [st.add(v) for v in tags.values()])
    body += pw.packed_sint_deltas(8, [int(r) for r in w["refs"]])
    return pw.len_delim(3, body)  # PrimitiveGroup.ways


def _encode_relation(r: dict, st: _StringTable) -> bytes:
    tags = dict(sorted(_tags_dict(r.get("tags")).items()))
    body = pw.tag(1, 0) + pw.varint(int(r["id"]))
    body += pw.packed_varints(2, [st.add(k) for k in tags])
    body += pw.packed_varints(3, [st.add(v) for v in tags.values()])
    body += pw.packed_varints(8, [st.add(role) for role in r["member_roles"]])
    body += pw.packed_sint_deltas(9, [int(m) for m in r["member_refs"]])
    body += pw.packed_varints(10, [_MEMBER_TYPES.index(t) for t in r["member_types"]])
    return pw.len_delim(4, body)  # PrimitiveGroup.relations


def _primitive_block(entities: list[dict], kind: str) -> bytes:
    st = _StringTable()
    if kind == "node":
        group = _encode_dense_nodes(entities, st)
    elif kind == "way":
        group = b"".join(_encode_way(w, st) for w in entities)
    else:
        group = b"".join(_encode_relation(r, st) for r in entities)
    block = (
        st.encode()
        + pw.len_delim(2, group)
        + pw.tag(17, 0) + pw.varint(GRANULARITY)
        + pw.tag(19, 0) + pw.varint(0)
        + pw.tag(20, 0) + pw.varint(0)
    )
    return block


def _blob(payload: bytes, blob_type: str) -> bytes:
    z = zlib.compress(payload, 6)
    blob = pw.tag(2, 0) + pw.varint(len(payload)) + pw.len_delim(3, z)
    header = pw.len_delim(1, blob_type.encode()) + pw.tag(3, 0) + pw.varint(len(blob))
    return len(header).to_bytes(4, "big") + header + blob


def _header_block(bbox=None) -> bytes:
    body = b""
    if bbox is not None:
        w, s, e, n = (int(v * NANO) for v in bbox)
        bb = (
            pw.tag(1, 0) + pw.varint(pw.zigzag(w))
            + pw.tag(2, 0) + pw.varint(pw.zigzag(e))
            + pw.tag(3, 0) + pw.varint(pw.zigzag(n))
            + pw.tag(4, 0) + pw.varint(pw.zigzag(s))
        )
        body += pw.len_delim(1, bb)
    body += pw.len_delim(4, b"OsmSchema-V0.6")
    body += pw.len_delim(4, b"DenseNodes")
    body += pw.len_delim(16, b"osmix-spark")
    return body


def write_pbf(path: str, nodes: DataFrame, ways: DataFrame | None = None,
              relations: DataFrame | None = None, bbox=None) -> None:
    """Sorted PBF export (S4): nodes then ways then relations, ids
    ascending, <= 8,000 entities per block (entity-stream.ts:11-21 order).

    Blocks are keyed by FIXED id ranges (floor(id / 8000)), so the block
    split — and therefore the output bytes — is identical at any
    parallelism / cluster size. Blocks encode in parallel (applyInPandas,
    one group per block) and stream to the file in block order through
    toLocalIterator: driver memory is one partition of blobs, never the
    dataset. (Single-file output is a converter concern; at warehouse scale
    keep entities in parquet and export extracts.)
    """

    def encode_block(kind):
        def go(key, pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("id")
            recs = pdf.drop(columns=["__blk"]).to_dict("records")
            return pd.DataFrame(
                {"blk": [int(key[0])],
                 "blob": [_blob(_primitive_block(recs, kind), "OSMData")]}
            )

        return go

    with open(path, "wb") as f:
        f.write(_blob(_header_block(bbox), "OSMHeader"))
        for df, kind in ((nodes, "node"), (ways, "way"), (relations, "relation")):
            if df is None:
                continue
            n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
            blocks = df.withColumn(
                # exact integer division (floor semantics for non-negative
                # OSM ids): double division would misassign ids above 2^53
                "__blk", F.expr(f"id div {MAX_ENTITIES_PER_BLOCK}")
            )
            enc = blocks.groupBy("__blk").applyInPandas(
                encode_block(kind), schema="blk long, blob binary"
            )
            ordered = enc.repartitionByRange(n_parts, "blk").sortWithinPartitions("blk")
            for row in ordered.toLocalIterator():
                f.write(bytes(row["blob"]))


def _first_id_of_blob(blob_frame: bytes, kind: str) -> int:
    """Decode just far enough to find the first entity id (block-order
    validation in tests)."""
    _btype, payload = _read_blob_frame(blob_frame, 0)[1:3]
    for ents in _decode_block(payload):
        if ents["kind"] == kind and ents["rows"]:
            return int(ents["rows"][0]["id"])
    return 1 << 62


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def _read_blob_frame(data: bytes, i: int):
    """-> (next_i, blob_type, decompressed_payload)."""
    hlen = int.from_bytes(data[i : i + 4], "big")
    i += 4
    header = data[i : i + hlen]
    i += hlen
    btype = ""
    dsize = 0
    for field, _w, v in pw.iter_fields(header):
        if field == 1:
            btype = v.decode()
        elif field == 3:
            dsize = v
    blob = data[i : i + dsize]
    i += dsize
    raw = None
    for field, _w, v in pw.iter_fields(blob):
        if field == 1:
            raw = v
        elif field == 3:
            raw = zlib.decompress(v)
    return i, btype, raw


def _decode_string_table(buf: bytes) -> list[str]:
    return [v.decode("utf-8") for f, _w, v in pw.iter_fields(buf) if f == 1]


def _decode_block(payload: bytes) -> list[dict]:
    st: list[str] = []
    groups: list[bytes] = []
    gran, lat_off, lon_off = GRANULARITY, 0, 0
    for field, _w, v in pw.iter_fields(payload):
        if field == 1:
            st = _decode_string_table(v)
        elif field == 2:
            groups.append(v)
        elif field == 17:
            gran = v
        elif field == 19:
            lat_off = v
        elif field == 20:
            lon_off = v
    out = []
    for g in groups:
        for field, _w, v in pw.iter_fields(g):
            if field == 2:  # dense nodes
                out.append({"kind": "node", "rows": _decode_dense(v, st, gran, lat_off, lon_off)})
            elif field == 3:
                out.append({"kind": "way", "rows": [_decode_way(v, st)]})
            elif field == 4:
                out.append({"kind": "relation", "rows": [_decode_relation(v, st)]})
    # merge consecutive way/relation singletons
    merged: dict[str, list] = {}
    for o in out:
        merged.setdefault(o["kind"], []).extend(o["rows"])
    return [{"kind": k, "rows": v} for k, v in merged.items()]


def _decode_dense(buf: bytes, st: list[str], gran: int, lat_off: int, lon_off: int) -> list[dict]:
    ids = lats = lons = []
    kv: list[int] = []
    for field, _w, v in pw.iter_fields(buf):
        if field == 1:
            ids = pw.unpack_sint_deltas(v)
        elif field == 8:
            lats = pw.unpack_sint_deltas(v)
        elif field == 9:
            lons = pw.unpack_sint_deltas(v)
        elif field == 10:
            kv = pw.unpack_varints(v)
    rows = []
    ki = 0
    for j, nid in enumerate(ids):
        tags: dict[str, str] = {}
        while ki < len(kv) and kv[ki] != 0:
            tags[st[kv[ki]]] = st[kv[ki + 1]]
            ki += 2
        ki += 1  # skip the 0 separator
        rows.append(
            {
                "id": nid,
                "lat": (lat_off + gran * lats[j]) / NANO,
                "lon": (lon_off + gran * lons[j]) / NANO,
                "tags": _tags_out(tags),
            }
        )
    return rows


def _decode_way(buf: bytes, st: list[str]) -> dict:
    wid = 0
    keys: list[int] = []
    vals: list[int] = []
    refs: list[int] = []
    for field, _w, v in pw.iter_fields(buf):
        if field == 1:
            wid = v
        elif field == 2:
            keys = pw.unpack_varints(v)
        elif field == 3:
            vals = pw.unpack_varints(v)
        elif field == 8:
            refs = pw.unpack_sint_deltas(v)
    tags = {st[k]: st[x] for k, x in zip(keys, vals)}
    return {"id": wid, "refs": refs, "tags": _tags_out(tags)}


def _decode_relation(buf: bytes, st: list[str]) -> dict:
    rid = 0
    keys = vals = roles = types = []
    memids: list[int] = []
    for field, _w, v in pw.iter_fields(buf):
        if field == 1:
            rid = v
        elif field == 2:
            keys = pw.unpack_varints(v)
        elif field == 3:
            vals = pw.unpack_varints(v)
        elif field == 8:
            roles = pw.unpack_varints(v)
        elif field == 9:
            memids = pw.unpack_sint_deltas(v)
        elif field == 10:
            types = pw.unpack_varints(v)
    tags = {st[k]: st[x] for k, x in zip(keys, vals)}
    return {
        "id": rid,
        "tags": _tags_out(tags),
        "member_types": [_MEMBER_TYPES[t] for t in types],
        "member_refs": memids,
        "member_roles": [st[r] for r in roles],
    }


def read_header(path: str) -> dict:
    """S10: parse only the OSMHeader blob."""
    with open(path, "rb") as f:
        data = f.read(64 * 1024)
    _i, btype, payload = _read_blob_frame(data, 0)
    assert btype == "OSMHeader", btype
    out: dict = {"required_features": [], "writing_program": None, "bbox": None}
    for field, _w, v in pw.iter_fields(payload):
        if field == 4:
            out["required_features"].append(v.decode())
        elif field == 16:
            out["writing_program"] = v.decode()
        elif field == 1:
            bb = {f: pw.unzigzag(x) / NANO for f, _ww, x in pw.iter_fields(v)}
            out["bbox"] = [bb.get(1), bb.get(4), bb.get(2), bb.get(3)]
    return out


def index_blobs(path: str) -> list[tuple[int, int, str]]:
    """Driver-side length-prefix walk: (offset, length, type) per blob —
    no decompression, O(#blobs) reads."""
    out = []
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        i = 0
        while i < size:
            f.seek(i)
            head = f.read(4)
            hlen = int.from_bytes(head, "big")
            header = f.read(hlen)
            btype = ""
            dsize = 0
            for field, _w, v in pw.iter_fields(header):
                if field == 1:
                    btype = v.decode()
                elif field == 3:
                    dsize = v
            total = 4 + hlen + dsize
            out.append((i, total, btype))
            i += total
    return out


def read_pbf(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """S1-S3 distributed scan: blob index on the driver, parallel decode in
    mapInPandas tasks that each read their (offset, length) slice."""
    blobs = [(o, ln) for o, ln, t in index_blobs(path) if t == "OSMData"]
    apath = os.path.abspath(path)
    idx = spread(spark.createDataFrame(blobs, "offset long, length long"))

    def decode(kind: str):
        def go(r):
            with open(apath, "rb") as f:
                f.seek(r.offset)
                frame = f.read(r.length)
            _i, _t, payload = _read_blob_frame(frame, 0)
            for ents in _decode_block(payload):
                if ents["kind"] == kind:
                    yield from ents["rows"]

        return go

    return {
        "nodes": per_row(idx, decode("node"), NODE_SCHEMA),
        "ways": per_row(idx, decode("way"), WAY_SCHEMA),
        "relations": per_row(idx, decode("relation"), REL_SCHEMA),
    }


_SCHEMAS = {"node": NODE_SCHEMA, "way": WAY_SCHEMA, "relation": REL_SCHEMA}
