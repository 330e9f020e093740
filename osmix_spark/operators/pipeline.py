"""The full merge pipeline (SURVEY §3.2): the reference's 7-stage
merge() (packages/change/src/merge.ts:43-110) as one orchestrated function,
each stage a DataFrame job with an optional lineage checkpoint
(plans/lineage) for resumable re-runs.

Stages:
  1-2. dedupe ways / nodes in base
  3-4. dedupe ways / nodes in patch
  5.   direct merge patch over base (ways first, then nodes —
       changeset.ts:722-731 order)
  6.   final dedupe of the merged result
  7.   intersection creation for crossing ways (J10)

Every stage's output is deterministic at any parallelism, so a lineage
manifest from one run certifies a re-run bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans import fixpoint, lineage
from . import intersect, merge


def _dedupe_round(nodes: DataFrame, ways: DataFrame,
                  relations: DataFrame | None = None):
    """Way dedupe then node dedupe, refs rewritten (merge.ts stage order).
    With relations present, both replacement maps are also applied to
    relation members (changeset.ts:348-351 + applyWayReplacementsToRelations)
    with adjacent-duplicate member folding (utils.ts:62-80)."""
    way_repl = merge.dedupe_ways(ways, nodes)
    ways = ways.join(way_repl.select(F.col("from_id").alias("id")), "id", "left_anti")
    node_repl = merge.dedupe_nodes(nodes)
    ways = merge.rewrite_way_refs(ways, node_repl)
    nodes = nodes.join(node_repl.select(F.col("from_id").alias("id")), "id", "left_anti")
    if relations is not None:
        relations = merge.rewrite_relation_members(relations, node_repl, way_repl)
    return nodes, ways, relations


def merge_datasets(base_nodes: DataFrame, base_ways: DataFrame,
                   patch_nodes: DataFrame, patch_ways: DataFrame,
                   create_intersections: bool = True,
                   checkpoint_dir: str | None = None,
                   base_relations: DataFrame | None = None,
                   patch_relations: DataFrame | None = None,
                   dedupe_final_ways: bool = False,
                   dedupe_final_nodes: bool = True,
                   patch_scope_final: bool = True):
    """-> (nodes, ways, stats), or (nodes, ways, relations, stats) when
    either relations frame is given. With checkpoint_dir set, each stage is
    a lineage-verified checkpoint (resume_or_run semantics).

    Relations flow through every stage like the reference's merge():
    per-dataset dedupe rewrites their members via both replacement maps,
    the direct merge upserts patch relations over base by id
    (changeset.ts:722-731 processes ways, nodes, then relations), and the
    final cross-dataset node dedupe rewrites members once more.

    dedupe_final_ways / dedupe_final_nodes mirror the reference's
    OsmMergeOptions.deduplicateWays / deduplicateNodes final-dataset
    stages (merge.ts:86-103): way dedupe runs FIRST, folding
    cross-dataset duplicate ways that per-dataset cleaning cannot see
    (reference default is off; ours keeps the node stage on for
    backward compatibility with the oracle-pinned pipeline).

    patch_scope_final (default True = reference semantics): stages 6-7
    scope their candidate sets to the deduped PATCH — merge.ts:86-92
    passes modifiedPatch.ways to the final deduplicateWays, :94-99
    modifiedPatch.nodes to deduplicateNodes, and :102-107
    modifiedPatch.ways to createIntersectionsForWays. For dedupe this is
    result-identical to a whole-dataset pass (stages 1-4 already folded
    intra-dataset pairs, so any surviving pair touches the patch) but for
    intersections it is semantic: two base ways that crossed before the
    merge must NOT get a new crossing node. It also keeps stages 6-7
    O(patch) instead of O(base) at planet scale. False restores the
    whole-dataset sweep (a repair mode the reference does not have).

    stats counts rows (merged_*, deduplicated_*, final_*, plus the
    intersection counters of create_intersections), each observed on a
    `fixpoint.checkpoint` of the frame it counts: the stage-5 outputs,
    the stage-6 replacement maps and the returned nodes and ways. No job
    runs for a counter, and the returned nodes and ways are materialised,
    so the caller's action does not run the pipeline again."""
    spark = base_nodes.sparkSession
    stats: dict = {}

    def counted(df: DataFrame, name: str) -> DataFrame:
        df, seen = fixpoint.checkpoint(df, n=F.count(F.lit(1)))
        stats[name] = seen["n"]
        return df

    def ckpt(df: DataFrame, name: str, key: str) -> DataFrame:
        if checkpoint_dir is None:
            return df
        return lineage.resume_or_run(
            spark, os.path.join(checkpoint_dir, name), stage=name, key=key,
            build=lambda: df,
        )

    with_relations = base_relations is not None or patch_relations is not None

    # stages 1-4: per-dataset dedupe
    b_nodes, b_ways, b_rels = _dedupe_round(base_nodes, base_ways, base_relations)
    p_nodes, p_ways, p_rels = _dedupe_round(patch_nodes, patch_ways, patch_relations)
    b_nodes = ckpt(b_nodes, "base_nodes_deduped", "id")
    p_nodes = ckpt(p_nodes, "patch_nodes_deduped", "id")

    # stage 5: direct merge — ways first improves node-dedupe accuracy
    # (changeset.ts:722-731: ways, nodes, then relations)
    ways = merge.direct_merge(b_ways, p_ways)
    nodes = merge.direct_merge(b_nodes, p_nodes)
    relations = None
    if with_relations:
        if b_rels is not None and p_rels is not None:
            relations = merge.direct_merge(b_rels, p_rels)
        else:
            relations = b_rels if b_rels is not None else p_rels
        relations = counted(relations, "merged_relations")
    nodes = counted(nodes, "merged_nodes")
    ways = counted(ways, "merged_ways")

    # stage 6: final dedupe across the merged result — ways first, then
    # nodes, each behind the reference's option flag (merge.ts:86-103,
    # OsmMergeOptions.deduplicateWays/deduplicateNodes): a base and patch
    # that are each internally clean can still contribute cross-dataset
    # duplicate ways, which only this stage can fold
    patch_way_ids = p_ways.select("id") if patch_scope_final else None
    patch_node_ids = p_nodes.select("id") if patch_scope_final else None
    if dedupe_final_ways:
        way_repl = counted(merge.dedupe_ways(ways, nodes, candidates=patch_way_ids),
                           "deduplicated_ways")
        ways = ways.join(
            way_repl.select(F.col("from_id").alias("id")), "id", "left_anti"
        )
        if relations is not None:
            relations = merge.rewrite_relation_members(relations, way_repl=way_repl)
    if dedupe_final_nodes:
        node_repl = counted(merge.dedupe_nodes(nodes, candidates=patch_node_ids),
                            "deduplicated_nodes")
        ways = merge.rewrite_way_refs(ways, node_repl)
        if relations is not None:
            relations = merge.rewrite_relation_members(relations, node_repl)
        nodes = nodes.join(
            node_repl.select(F.col("from_id").alias("id")), "id", "left_anti"
        )
    nodes = ckpt(nodes, "merged_nodes", "id")

    # stage 7: intersections — candidate ways scoped to the patch
    # (merge.ts:102-107); base-base crossings that predate the merge are
    # intentionally left alone
    if create_intersections:
        new_nodes, ways, tagged, istats = intersect.create_intersections(
            ways, nodes, candidates=patch_way_ids
        )
        stats.update(istats)
        # created nodes join the dataset; reused/shared nodes gain the tag
        nodes = nodes.unionByName(new_nodes)
        tagged_ids = tagged.withColumnRenamed("id", "__tid")
        nodes = (
            nodes.join(tagged_ids, nodes.id == F.col("__tid"), "left")
            .withColumn(
                "tags",
                F.when(
                    F.col("__tid").isNotNull()
                    # don't re-add on nodes already tagged (map_concat would
                    # reject the duplicate key) — changeset.ts:615-618 guard
                    & (F.coalesce(F.element_at(F.col("tags"), F.lit("crossing")), F.lit(""))
                       != "yes"),
                    F.map_concat(
                        F.coalesce(F.col("tags"), F.expr("map()")),
                        F.create_map(F.lit("crossing"), F.lit("yes")),
                    ),
                ).otherwise(F.col("tags")),
            )
            .drop("__tid")
        )
    nodes = counted(nodes, "final_nodes")
    ways = counted(ways, "final_ways")
    if with_relations:
        return nodes, ways, relations, stats
    return nodes, ways, stats
