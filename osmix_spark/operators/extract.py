"""Bbox extract strategies (J12) + recursive relation resolution (J11).

Reference: packages/load/src/extract.ts:22-175 — three strategies:

- simple:         nodes strictly inside the bbox; ways keep only inside
                  refs (dropped if none survive); relations keep only
                  members that survived.
- complete_ways:  ways with >= 1 inside node are pulled WHOLE — their
                  outside nodes are added back to the node set.
- smart:          complete_ways + multipolygon relations with any kept way
                  are made reference-complete (all their member ways +
                  those ways' nodes pulled in).

Relation member resolution (J11, packages/types/src/relation-kind.ts:368,
relations.ts:286-317): nested relations resolve to descendant node/way id
sets with a bounded recursion depth (max 10).

Spark shape: left-semi joins + one or two closure rounds — each round is a
key equi-join; no iteration beyond the bounded depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo
from ..plans import fixpoint


def extract(
    nodes: DataFrame,
    ways: DataFrame,
    west: float, south: float, east: float, north: float,
    strategy: str = "simple",
    relations: DataFrame | None = None,
    relation_members: DataFrame | None = None,
    return_members: bool = False,
):
    """Returns (nodes, ways[, relations[, members]]) filtered per the
    strategy.

    nodes: (id, lon, lat, ...); ways: (id, refs array<long>, tags);
    relations/relation_members optional: (id, tags) /
    (relation_id, member_type, member_ref, role). With return_members the
    surviving (filtered) member rows are returned too — the reference's
    extracts carry pruned member lists (extract.ts simple semantics)."""
    inside = nodes.filter(
        geo.in_bbox(F.col("lon"), F.col("lat"), west, south, east, north, epsilon=0.0)
    )
    inside_ids = inside.select("id")

    refs = ways.select(F.col("id").alias("way_id"), F.posexplode("refs").alias("seq", "ref"))
    ref_in = refs.join(inside_ids.withColumnRenamed("id", "ref"), "ref", "left_semi")

    if strategy == "simple":
        # keep only inside refs; drop ways left with no refs (extract.ts simple)
        kept_ways = (
            ref_in.groupBy("way_id")
            .agg(F.array_sort(F.collect_list(F.struct("seq", "ref"))).alias("s"))
            .select(F.col("way_id").alias("id"), F.col("s.ref").alias("refs"))
        )
        out_ways = ways.drop("refs").join(kept_ways, "id")
        out_nodes = inside
    elif strategy in ("complete_ways", "smart"):
        # ways with >= 1 inside node survive whole
        touched = ref_in.select("way_id").distinct()
        out_ways = ways.join(touched.withColumnRenamed("way_id", "id"), "id", "left_semi")
        extra_nodes = None
        if strategy == "smart" and relations is not None and relation_members is not None:
            # multipolygon relations with any kept way pulled
            # reference-complete: ALL their way AND node members come in
            # (extract.test.ts "smart strategy retains node members of
            # relations" / "resolves multipolygon nested relation members"
            # — non-multipolygon relations are NOT extended)
            mp = relations.filter(F.element_at(F.col("tags"), F.lit("type")) == "multipolygon")
            way_members = relation_members.filter(F.col("member_type") == "way")
            kept_rel = (
                way_members.join(
                    out_ways.select(F.col("id").alias("member_ref")), "member_ref", "left_semi"
                )
                .join(mp.select(F.col("id").alias("relation_id")), "relation_id", "left_semi")
                .select("relation_id")
                .distinct()
            )
            extra_ways = (
                way_members.join(kept_rel, "relation_id", "left_semi")
                .select(F.col("member_ref").alias("id"))
                .distinct()
            )
            extra_nodes = (
                relation_members.filter(F.col("member_type") == "node")
                .join(kept_rel, "relation_id", "left_semi")
                .select(F.col("member_ref").alias("id"))
                .distinct()
            )
            out_ways = ways.join(
                out_ways.select("id").unionByName(extra_ways).distinct(), "id", "left_semi"
            )
        # outside nodes referenced by kept ways are added back
        kept_refs = (
            out_ways.select(F.explode("refs").alias("id")).distinct()
        )
        keep_node_ids = inside_ids.unionByName(kept_refs)
        if extra_nodes is not None:
            keep_node_ids = keep_node_ids.unionByName(extra_nodes)
        out_nodes = nodes.join(keep_node_ids.distinct(), "id", "left_semi")
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    if relations is None or relation_members is None:
        return out_nodes, out_ways

    # relations keep members that survived (simple semantics for all
    # strategies; smart's reference-completion handled above). A member of
    # type 'relation' survives when its CHILD relation survives — child
    # survival propagates upward through super-relations (bounded like
    # resolve_relation_members; extract.test.ts keeps the site relation's
    # 'relation' member in every strategy).
    entity_members = relation_members.join(
        out_nodes.select(F.col("id").alias("member_ref")).withColumn("member_type", F.lit("node"))
        .unionByName(
            out_ways.select(F.col("id").alias("member_ref")).withColumn("member_type", F.lit("way"))
        ),
        ["member_ref", "member_type"],
        "left_semi",
    )
    rows = F.count(F.lit(1))
    surviving, seen = fixpoint.checkpoint(
        entity_members.select("relation_id").distinct(), n=rows
    )
    rel_members = relation_members.filter(F.col("member_type") == "relation")
    for _ in range(10):
        step = rel_members.join(
            surviving.withColumnRenamed("relation_id", "member_ref"),
            "member_ref", "left_semi",
        )
        grown, now = fixpoint.checkpoint(
            surviving.unionByName(step.select("relation_id")).distinct(), n=rows
        )
        # grown holds surviving and both are distinct, so an equal row
        # count means nothing was added
        if now["n"] == seen["n"]:
            break
        surviving, seen = grown, now
    # kept member rows are computed ONCE from the converged survivor set —
    # no per-iteration accumulation, and no distinct(): OSM allows the same
    # (type, ref, role) member to repeat within a relation and the
    # reference's members.filter preserves those duplicates
    kept_rel_members = rel_members.join(
        surviving.withColumnRenamed("relation_id", "member_ref"),
        "member_ref", "left_semi",
    )
    kept_members = entity_members.unionByName(kept_rel_members)
    out_relations = relations.join(
        surviving.withColumnRenamed("relation_id", "id"), "id", "left_semi"
    )
    if return_members:
        return out_nodes, out_ways, out_relations, kept_members
    return out_nodes, out_ways, out_relations


def resolve_relation_members(relation_members: DataFrame, max_depth: int = 10) -> DataFrame:
    """J11: resolve nested relations to their descendant node/way members.

    relation_members: (relation_id, member_type in node|way|relation,
    member_ref, role). Returns (relation_id, member_type, member_ref) where
    member_type is only node|way — relation members expanded transitively,
    bounded at max_depth (relation-kind.ts:368)."""
    leaf = relation_members.filter(F.col("member_type") != "relation").select(
        "relation_id", "member_type", "member_ref"
    )
    rows = F.count(F.lit(1))
    pending, seen = fixpoint.checkpoint(
        relation_members.filter(F.col("member_type") == "relation").select(
            "relation_id", F.col("member_ref").alias("child")
        ),
        n=rows,
    )
    out = leaf
    for _ in range(max_depth):
        if not seen["n"]:
            break
        # expand one level: children's leaf members attach to the ancestor
        step = pending.join(
            relation_members.select(
                F.col("relation_id").alias("child"), "member_type", "member_ref"
            ),
            "child",
        )
        out = out.unionByName(
            step.filter(F.col("member_type") != "relation").select(
                "relation_id", "member_type", "member_ref"
            )
        )
        pending, seen = fixpoint.checkpoint(
            step.filter(F.col("member_type") == "relation").select(
                "relation_id", F.col("member_ref").alias("child")
            ),
            n=rows,
        )
    return out.distinct()
