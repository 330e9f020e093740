"""OSC (osmChange XML) sink — S9.

Reference: packages/change/src/osc.ts:92-160 (create/modify/delete
sections; augmented-diff variant with <old>/<new>) and XML attribute
escaping (change/src/utils.ts:32-39).

Distributed shape: per-partition XML fragments via mapInPandas (each
change row renders independently), assembled with a deterministic global
sort; `to_osc_string` is the driver-side convenience for small changesets
and tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.stage import per_row

_ESCAPES = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"), ("'", "&apos;")]


def xml_escape(s: str) -> str:
    for a, b in _ESCAPES:
        s = s.replace(a, b)
    return s


def _node_xml(row: dict) -> str:
    tags = "".join(
        f'<tag k="{xml_escape(str(k))}" v="{xml_escape(str(v))}"/>'
        for k, v in sorted((row.get("tags") or {}).items())
    )
    attrs = f'id="{row["id"]}" lon="{row["lon"]}" lat="{row["lat"]}"'
    return f"<node {attrs}>{tags}</node>" if tags else f"<node {attrs}/>"


def _way_xml(row: dict) -> str:
    refs = row.get("refs")
    refs = [] if refs is None else list(refs)  # Arrow hands arrays as ndarray
    nds = "".join(f'<nd ref="{r}"/>' for r in refs)
    tags = "".join(
        f'<tag k="{xml_escape(str(k))}" v="{xml_escape(str(v))}"/>'
        for k, v in sorted((row.get("tags") or {}).items())
    )
    return f'<way id="{row["id"]}">{nds}{tags}</way>'


def _member_fields(m) -> tuple[str, int, str]:
    """Arrow hands array<struct> elements as dicts (or Rows); normalize."""
    if isinstance(m, dict):
        return str(m["type"]), int(m["ref"]), m.get("role")
    return str(m[0]), int(m[1]), m[2]


def _relation_xml(row: dict) -> str:
    members = row.get("members")
    members = [] if members is None else list(members)
    ms = "".join(
        f'<member type="{xml_escape(t)}" ref="{ref}" role="{xml_escape(role or "")}"/>'
        for t, ref, role in (_member_fields(m) for m in members)
    )
    tags = "".join(
        f'<tag k="{xml_escape(str(k))}" v="{xml_escape(str(v))}"/>'
        for k, v in sorted((row.get("tags") or {}).items())
    )
    return f'<relation id="{row["id"]}">{ms}{tags}</relation>'


_RENDERERS = {"node": _node_xml, "way": _way_xml, "relation": _relation_xml}


def render_change_fragments(changes: DataFrame, entity: str = "node") -> DataFrame:
    """changes: entity columns + change_type in (create|modify|delete).
    Returns (change_type, id, xml) — one escaped XML element per change,
    rendered in parallel (Arrow batches)."""
    render = _RENDERERS[entity]
    schema = T.StructType(
        [
            T.StructField("change_type", T.StringType(), False),
            T.StructField("id", T.LongType(), False),
            T.StructField("xml", T.StringType(), False),
        ]
    )

    def go(r):
        r = r._asdict()
        yield {"change_type": r["change_type"], "id": int(r["id"]), "xml": render(r)}

    return per_row(changes, go, schema)


def _stream_osc(out, node_changes: DataFrame | None, way_changes: DataFrame | None,
                generator: str, relation_changes: DataFrame | None = None) -> None:
    """Stream an osmChange document: sections in create/modify/delete order,
    entities sorted by (type, id) inside each (osc.ts:92-160). One sorted
    toLocalIterator pass per section — driver memory O(partition), never
    O(changeset)."""
    out(f'<osmChange version="0.6" generator="{xml_escape(generator)}">')
    for sec in ("create", "modify", "delete"):
        opened = False
        for df, _entity in ((node_changes, "node"), (way_changes, "way"),
                            (relation_changes, "relation")):
            if df is None:
                continue
            frags = (
                render_change_fragments(df.filter(F.col("change_type") == sec), _entity)
                .repartitionByRange(
                    max(df.sparkSession.sparkContext.defaultParallelism, 1), "id"
                )
                .sortWithinPartitions("id")
            )
            for r in frags.toLocalIterator():
                if not opened:
                    out(f"<{sec}>")
                    opened = True
                out(r["xml"])
        if opened:
            out(f"</{sec}>")
    out("</osmChange>")


def write_osc(path: str, node_changes: DataFrame | None = None,
              way_changes: DataFrame | None = None,
              generator: str = "osmix-spark",
              relation_changes: DataFrame | None = None) -> None:
    """Streaming osmChange file export — the scale-safe sink."""
    with open(path, "w", encoding="utf-8") as f:
        _stream_osc(f.write, node_changes, way_changes, generator, relation_changes)


def to_osc_string(node_changes: DataFrame | None = None,
                  way_changes: DataFrame | None = None,
                  generator: str = "osmix-spark",
                  relation_changes: DataFrame | None = None) -> str:
    """Deterministic osmChange document as a string (small-extract
    convenience: the string itself is O(changeset) — use write_osc for
    large exports)."""
    parts: list[str] = []
    _stream_osc(parts.append, node_changes, way_changes, generator, relation_changes)
    return "".join(parts)


def render_augmented_fragments(changes: DataFrame, entity: str = "node") -> DataFrame:
    """Augmented-diff fragments (osc.ts augmented variant): each change
    becomes `<action type="...">` wrapping `<old>` (pre-image, from
    `old_`-prefixed columns) and `<new>` (post-image). Creates have an
    empty <old>, deletes an empty <new>. Rendered in parallel per Arrow
    batch; returns (change_type, id, xml)."""
    render = _RENDERERS[entity]
    schema = T.StructType(
        [
            T.StructField("change_type", T.StringType(), False),
            T.StructField("id", T.LongType(), False),
            T.StructField("xml", T.StringType(), False),
        ]
    )

    def go(r):
        r = r._asdict()
        ct = r["change_type"]
        old_r = {k[len("old_"):]: v for k, v in r.items() if k.startswith("old_")}
        old_x = "<old/>" if ct == "create" else f"<old>{render(old_r)}</old>"
        new_x = "<new/>" if ct == "delete" else f"<new>{render(r)}</new>"
        yield {"change_type": ct, "id": int(r["id"]),
               "xml": f'<action type="{ct}">{old_x}{new_x}</action>'}

    return per_row(changes, go, schema)


def _stream_augmented_diff(out, node_changes: DataFrame | None,
                           way_changes: DataFrame | None, generator: str) -> None:
    """Stream an augmented diff (actions sorted by entity type then id) —
    sorted toLocalIterator, driver memory O(partition)."""
    out(f'<osm version="0.6" generator="{xml_escape(generator)}">')
    for df, _entity in ((node_changes, "node"), (way_changes, "way")):
        if df is None:
            continue
        frags = (
            render_augmented_fragments(df, _entity)
            .repartitionByRange(
                max(df.sparkSession.sparkContext.defaultParallelism, 1), "id"
            )
            .sortWithinPartitions("id")
        )
        for r in frags.toLocalIterator():
            out(r["xml"])
    out("</osm>")


def write_augmented_diff(path: str, node_changes: DataFrame | None = None,
                         way_changes: DataFrame | None = None,
                         generator: str = "osmix-spark") -> None:
    """Streaming augmented-diff file export — the scale-safe sink."""
    with open(path, "w", encoding="utf-8") as f:
        _stream_augmented_diff(f.write, node_changes, way_changes, generator)


def to_augmented_diff_string(node_changes: DataFrame | None = None,
                             way_changes: DataFrame | None = None,
                             generator: str = "osmix-spark") -> str:
    """Deterministic augmented diff document as a string (small-extract
    convenience — use write_augmented_diff for large exports)."""
    parts: list[str] = []
    _stream_augmented_diff(parts.append, node_changes, way_changes, generator)
    return "".join(parts)
