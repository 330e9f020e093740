"""Golden merge/dedupe test replicating the reference's
packages/change/test/merge.test.ts:33-120 outcomes on the exact
packages/core/src/mocks.ts fixture:

- generateDirectChanges(base<-patch): 10 changes (6 node + 4 way)
- after apply: 8 nodes, 4 ways; way 1 keeps refs [0,1] with patch tags
- after dedupe: node 0 deleted in favor of coincident tagged node 2;
  way 1 refs rewritten [0,1] -> [2,1]; node 2 kept with crossing=yes
"""

from __future__ import annotations

from pyspark.sql import functions as F

from osmix_spark.operators import merge
from osmix_spark.sources import fixtures


def test_generate_direct_changes_counts(spark):
    base_n, base_w = fixtures.base_nodes(spark), fixtures.base_ways(spark)
    patch_n, patch_w = fixtures.patch_nodes(spark), fixtures.patch_ways(spark)

    node_changes = merge.generate_direct_changes(base_n, patch_n)
    way_changes = merge.generate_direct_changes(base_w, patch_w)
    n_node = node_changes.count()
    n_way = way_changes.count()
    # merge.test.ts:36-47 — 6 node changes (nodes 2..7 created; 0,1 identical
    # no-ops) and 4 way changes (way 1 modified, ways 2..4 created)
    assert n_node == 6
    assert n_way == 4

    types = {
        (r["id"], r["change_type"]) for r in node_changes.select("id", "change_type").collect()
    }
    assert types == {(i, "create") for i in range(2, 8)}
    wtypes = {
        (r["id"], r["change_type"]) for r in way_changes.select("id", "change_type").collect()
    }
    assert wtypes == {(1, "modify"), (2, "create"), (3, "create"), (4, "create")}


def test_apply_and_dedupe_golden(spark):
    base_n, base_w = fixtures.base_nodes(spark), fixtures.base_ways(spark)
    patch_n, patch_w = fixtures.patch_nodes(spark), fixtures.patch_ways(spark)

    # direct merge (patch wins on conflict)
    merged_n = merge.direct_merge(base_n, patch_n)
    merged_w = merge.direct_merge(base_w, patch_w)
    assert merged_n.count() == 8
    assert merged_w.count() == 4
    way1 = merged_w.filter(F.col("id") == 1).collect()[0]
    assert way1["refs"] == [0, 1]
    assert way1["tags"] == {"highway": "primary", "version": "2"}

    # dedupe: node 0 (untagged) vs node 2 (crossing=yes) coincide ->
    # node 2 survives (more tags), node 0 deleted
    repl = merge.dedupe_nodes(merged_n)
    rows = {(r["from_id"], r["to_id"]) for r in repl.collect()}
    assert rows == {(0, 2)}

    # way refs rewritten [0,1] -> [2,1]
    rewritten = merge.rewrite_way_refs(merged_w, repl)
    way1 = rewritten.filter(F.col("id") == 1).collect()[0]
    assert way1["refs"] == [2, 1]

    # apply deletes: node 0 removed, node 2 kept with its tags/coords
    deletes = repl.select(F.col("from_id").alias("id")).withColumn(
        "lon", F.lit(None).cast("double")
    ).withColumn("lat", F.lit(None).cast("double")).withColumn(
        "tags", F.lit(None).cast("map<string,string>")
    ).withColumn("change_type", F.lit("delete"))
    final_n = merge.apply_changeset(merged_n, deletes)
    assert final_n.count() == 7
    ids = {r["id"] for r in final_n.select("id").collect()}
    assert 0 not in ids and 2 in ids
    node2 = final_n.filter(F.col("id") == 2).collect()[0]
    assert node2["tags"] == {"crossing": "yes"}
    assert node2["lon"] == fixtures.YAKIMA_LON
    assert node2["lat"] == fixtures.YAKIMA_LAT


def test_dedupe_survivor_rules(spark):
    # higher version wins regardless of tags
    nodes = spark.createDataFrame(
        [
            (10, 1.0, 1.0, {"ext:osm_version": "2"}),
            (11, 1.0, 1.0, {"ext:osm_version": "1", "a": "1", "b": "2"}),
        ],
        fixtures.NODE_SCHEMA,
    )
    repl = {(r["from_id"], r["to_id"]) for r in merge.dedupe_nodes(nodes).collect()}
    assert repl == {(11, 10)}

    # equal version + equal tags -> max id survives
    nodes = spark.createDataFrame(
        [(20, 2.0, 2.0, None), (21, 2.0, 2.0, None)], fixtures.NODE_SCHEMA
    )
    repl = {(r["from_id"], r["to_id"]) for r in merge.dedupe_nodes(nodes).collect()}
    assert repl == {(20, 21)}

    # chain flattening: three coincident nodes -> both losers map to the one
    # global survivor
    nodes = spark.createDataFrame(
        [(30, 3.0, 3.0, None), (31, 3.0, 3.0, None), (32, 3.0, 3.0, None)],
        fixtures.NODE_SCHEMA,
    )
    repl = {(r["from_id"], r["to_id"]) for r in merge.dedupe_nodes(nodes).collect()}
    assert repl == {(30, 32), (31, 32)}

    # nodes > 1 m apart never pair
    nodes = spark.createDataFrame(
        [(40, 4.0, 4.0, None), (41, 4.0001, 4.0, None)], fixtures.NODE_SCHEMA
    )
    assert merge.dedupe_nodes(nodes).count() == 0


def test_flatten_replacements_chain(spark):
    repl = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "from_id long, to_id long")
    flat = {(r["from_id"], r["to_id"]) for r in merge.flatten_replacements(repl).collect()}
    assert flat == {(1, 4), (2, 4), (3, 4)}


def test_flatten_replacements_leaves_no_cached_frame(spark, cache_is_empty):
    """The rounds are local checkpoints, so nothing stays registered in
    Spark's cache manager after the map is used."""
    spark.catalog.clearCache()
    repl = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "from_id long, to_id long")
    merge.flatten_replacements(repl).collect()
    assert cache_is_empty()


def test_rewrite_way_refs_adjacent_dedupe(spark):
    ways = spark.createDataFrame(
        [(1, [10, 11, 12, 13], {"highway": "x"})], fixtures.WAY_SCHEMA
    )
    repl = spark.createDataFrame([(11, 12)], "from_id long, to_id long")
    out = merge.rewrite_way_refs(ways, repl).collect()[0]
    # 11 -> 12 produces [10,12,12,13]; adjacent dup removed -> [10,12,13]
    assert out["refs"] == [10, 12, 13]


def test_dedupe_ways_geometry_hash(spark):
    nodes = spark.createDataFrame(
        [(1, 1.0, 1.0, None), (2, 2.0, 2.0, None), (3, 1.0, 1.0, None), (4, 2.0, 2.0, None)],
        fixtures.NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [
            (100, [1, 2], {"highway": "primary"}),
            (101, [3, 4], {"highway": "primary", "name": "dup"}),  # same coords, more tags
            (102, [2, 1], None),  # reversed order -> different geometry
        ],
        fixtures.WAY_SCHEMA,
    )
    repl = {(r["from_id"], r["to_id"]) for r in merge.dedupe_ways(ways, nodes).collect()}
    assert repl == {(100, 101)}


def test_dedupe_ways_three_way_tie_max_id_survives(spark):
    """A >=3-way group of equal (version, tag-count) duplicate ways resolves
    to the MAX id: the reference's sequential pass chains each way to a later
    candidate (10->20, 20->30) and flattening ends at the max —
    relation-dedup.test.ts:85-92 pins {10->30, 20->30} for equal ways
    10/20/30. (Math.min at changeset.ts:497 only picks within ONE way's
    candidate set mid-sequence; it never decides the flattened end state of
    a fully-tied group.)"""
    nodes = spark.createDataFrame(
        [(1, 1.0, 1.0, None), (2, 2.0, 2.0, None)], fixtures.NODE_SCHEMA
    )
    ways = spark.createDataFrame(
        [
            (300, [1, 2], {"ext:osm_version": "2"}),
            (100, [1, 2], {"ext:osm_version": "2"}),
            (200, [1, 2], {"ext:osm_version": "2"}),
        ],
        fixtures.WAY_SCHEMA,
    )
    repl = {(r["from_id"], r["to_id"]) for r in merge.dedupe_ways(ways, nodes).collect()}
    assert repl == {(100, 300), (200, 300)}


def test_dedupe_ways_property_equality_path(spark):
    """isWayEqual (changeset.ts:474): ways with identical refs + tags are
    duplicates even when their refs can't be resolved to geometry (nodes
    missing from the node layer)."""
    nodes = spark.createDataFrame([(1, 1.0, 1.0, None)], fixtures.NODE_SCHEMA)
    ways = spark.createDataFrame(
        [
            (10, [7, 8], {"highway": "service"}),  # refs 7,8 unresolvable
            (11, [7, 8], {"highway": "service"}),
            (12, [7, 9], {"highway": "service"}),  # different refs -> kept
        ],
        fixtures.WAY_SCHEMA,
    )
    repl = {(r["from_id"], r["to_id"]) for r in merge.dedupe_ways(ways, nodes).collect()}
    assert repl == {(10, 11)}


def _members(rows):
    return [tuple(r) for r in rows]


def test_relation_dedup_node_members_golden(spark):
    """relation-dedup.test.ts:24-59 — three chained coincident nodes
    (1, 2, 3 within 1 m): flattened map {1->3, 2->3}; way [1,3] becomes [3]
    (substitute then adjacent-fold); relation members rewritten to node 3
    with roles preserved, the two now-adjacent (node,3,stop) members folded
    to one, the (node,3,platform) member kept."""
    nodes = spark.createDataFrame(
        [
            (1, 0.0, 0.0, None),
            (2, 0.0, 0.000007, None),
            (3, 0.0, 0.000014, None),
        ],
        fixtures.NODE_SCHEMA,
    )
    ways = spark.createDataFrame([(10, [1, 3], {"highway": "path"})], fixtures.WAY_SCHEMA)
    relations = spark.createDataFrame(
        [
            (
                20,
                [("node", 1, "stop"), ("node", 2, "stop"), ("node", 3, "platform")],
                None,
            )
        ],
        fixtures.RELATION_SCHEMA,
    )

    repl = merge.dedupe_nodes(nodes)
    assert {(r["from_id"], r["to_id"]) for r in repl.collect()} == {(1, 3), (2, 3)}

    way10 = merge.rewrite_way_refs(ways, repl).collect()[0]
    assert way10["refs"] == [3]

    rel20 = merge.rewrite_relation_members(relations, node_repl=repl).collect()[0]
    assert _members(rel20["members"]) == [("node", 3, "stop"), ("node", 3, "platform")]


def test_relation_dedup_way_members_golden(spark):
    """relation-dedup.test.ts:61-105 — three identical ways 10/20/30:
    flattened map {10->30, 20->30}; relation members rewritten to way 30
    with ROLES AND ORDER preserved, the two now-adjacent (way,30,outer)
    members folded, the (way,30,inner) member kept (role differs), and the
    trailing node member untouched."""
    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0, None), (2, 1.0, 0.0, None)], fixtures.NODE_SCHEMA
    )
    ways = spark.createDataFrame(
        [
            (10, [1, 2], {"highway": "path"}),
            (20, [1, 2], {"highway": "path"}),
            (30, [1, 2], {"highway": "path"}),
        ],
        fixtures.WAY_SCHEMA,
    )
    relations = spark.createDataFrame(
        [
            (
                40,
                [
                    ("way", 10, "outer"),
                    ("way", 20, "outer"),
                    ("way", 30, "inner"),
                    ("node", 1, "label"),
                ],
                None,
            )
        ],
        fixtures.RELATION_SCHEMA,
    )

    repl = merge.dedupe_ways(ways, nodes)
    assert {(r["from_id"], r["to_id"]) for r in repl.collect()} == {(10, 30), (20, 30)}

    rel40 = merge.rewrite_relation_members(relations, way_repl=repl).collect()[0]
    assert _members(rel40["members"]) == [
        ("way", 30, "outer"),
        ("way", 30, "inner"),
        ("node", 1, "label"),
    ]


def test_relation_member_adjacent_fold_exact(spark):
    """relation-dedup.test.ts:107-131 — only EXACT adjacent duplicates
    (type, ref, role all equal) fold; same ref with different type or role,
    or duplicates separated by other members, are kept."""
    relations = spark.createDataFrame(
        [
            (
                1,
                [
                    ("way", 5, "outer"),
                    ("way", 5, "inner"),
                    ("node", 5, "inner"),
                    ("node", 5, "inner"),
                    ("way", 5, "outer"),
                ],
                None,
            )
        ],
        fixtures.RELATION_SCHEMA,
    )
    out = merge.rewrite_relation_members(relations).collect()[0]
    assert _members(out["members"]) == [
        ("way", 5, "outer"),
        ("way", 5, "inner"),
        ("node", 5, "inner"),
        ("way", 5, "outer"),
    ]


def test_merge_pipeline_carries_relations(spark):
    """pipeline.merge_datasets with relations: patch relation upserts over
    base by id, members rewritten through the final node dedupe."""
    from osmix_spark.operators import pipeline

    base_n = spark.createDataFrame(
        [(1, 0.0, 0.0, None), (2, 0.0, 0.000007, None), (5, 1.0, 1.0, None)],
        fixtures.NODE_SCHEMA,
    )
    base_w = spark.createDataFrame([(10, [1, 5], None)], fixtures.WAY_SCHEMA)
    base_r = spark.createDataFrame(
        [
            (100, [("node", 1, "stop"), ("way", 10, None)], None),
            (101, [("node", 5, "via")], {"type": "route"}),
        ],
        fixtures.RELATION_SCHEMA,
    )
    patch_n = spark.createDataFrame([(6, 2.0, 2.0, None)], fixtures.NODE_SCHEMA)
    patch_w = spark.createDataFrame([(11, [6, 6], None)], fixtures.WAY_SCHEMA)
    patch_r = spark.createDataFrame(
        [(101, [("node", 6, "via")], {"type": "route", "v": "2"})],
        fixtures.RELATION_SCHEMA,
    )

    nodes, ways, relations, stats = pipeline.merge_datasets(
        base_n, base_w, patch_n, patch_w, create_intersections=False,
        base_relations=base_r, patch_relations=patch_r,
    )
    rels = {r["id"]: r for r in relations.collect()}
    assert set(rels) == {100, 101}
    # patch relation 101 won the LWW upsert
    assert rels[101]["tags"] == {"type": "route", "v": "2"}
    assert _members(rels[101]["members"]) == [("node", 6, "via")]
    # base nodes 1 and 2 coincide (max id survives) -> member rewritten
    assert _members(rels[100]["members"]) == [("node", 2, "stop"), ("way", 10, None)]
    assert stats["merged_relations"] == 2


def test_merge_pipeline_final_way_dedupe(spark):
    """Reference merge.ts:86-92 optional stage-6 deduplicateWays: base and
    patch are each internally clean, but each carries a distinct-id copy
    of the SAME way (same resolved geometry + tags) — only the
    final-dataset way stage can fold them. Exactly one survives (max id,
    full tie), and relation members pointing at the loser are rewritten."""
    from osmix_spark.operators import pipeline

    base_n = spark.createDataFrame(
        [(1, 0.0, 0.0, None), (5, 1.0, 1.0, None)], fixtures.NODE_SCHEMA
    )
    base_w = spark.createDataFrame(
        [(10, [1, 5], {"highway": "path"})], fixtures.WAY_SCHEMA
    )
    base_r = spark.createDataFrame(
        [(100, [("way", 10, "outer"), ("node", 5, "via")], None)],
        fixtures.RELATION_SCHEMA,
    )
    # patch: same geometry/tags as base way 10 under different ids
    patch_n = spark.createDataFrame(
        [(21, 0.0, 0.0, None), (25, 1.0, 1.0, None)], fixtures.NODE_SCHEMA
    )
    patch_w = spark.createDataFrame(
        [(30, [21, 25], {"highway": "path"})], fixtures.WAY_SCHEMA
    )

    # without the flag the duplicate way survives (both node copies fold)
    nodes0, ways0, rels0, _ = pipeline.merge_datasets(
        base_n, base_w, patch_n, patch_w, create_intersections=False,
        base_relations=base_r, patch_relations=None,
        dedupe_final_ways=False,
    )
    assert {r["id"] for r in ways0.collect()} == {10, 30}

    nodes1, ways1, rels1, stats = pipeline.merge_datasets(
        base_n, base_w, patch_n, patch_w, create_intersections=False,
        base_relations=base_r, patch_relations=None,
        dedupe_final_ways=True,
    )
    surviving = ways1.collect()
    assert [r["id"] for r in surviving] == [30]  # full tie -> max id
    assert stats["deduplicated_ways"] == 1
    # the final node dedupe still ran after the way stage
    assert {r["id"] for r in nodes1.collect()} == {21, 25}
    assert sorted(surviving[0]["refs"]) == [21, 25]
    # relation member way 10 -> 30; node member rewritten by node dedupe
    rel = rels1.collect()[0]
    assert _members(rel["members"]) == [("way", 30, "outer"), ("node", 25, "via")]


def test_dedupe_ways_version_beats_id(spark):
    nodes = spark.createDataFrame(
        [(1, 1.0, 1.0, None), (2, 2.0, 2.0, None)], fixtures.NODE_SCHEMA
    )
    ways = spark.createDataFrame(
        [
            (100, [1, 2], {"ext:osm_version": "1"}),
            (200, [1, 2], {"ext:osm_version": "3"}),  # higher version wins
            (300, [1, 2], {"ext:osm_version": "2"}),
        ],
        fixtures.WAY_SCHEMA,
    )
    repl = {(r["from_id"], r["to_id"]) for r in merge.dedupe_ways(ways, nodes).collect()}
    assert repl == {(100, 200), (300, 200)}


def test_next_entity_id_safe_allocation(spark):
    """Port of safe-id-allocation.test.ts: next id = true max + 1 across
    base (+ patch), 0 when empty, negatives allocate toward zero."""
    def nodes_of(ids):
        if not ids:
            return spark.createDataFrame([], fixtures.NODE_SCHEMA)
        return spark.createDataFrame(
            [(i, float(i % 90), float(i % 90), None) for i in ids], fixtures.NODE_SCHEMA
        )

    cases = [([], 0), ([1, 2, 3], 4), ([3, 2, 1], 4), ([1, 100, 3], 101), ([-8, -3, -5], -2)]
    for ids, expected in cases:
        assert merge.next_entity_id(nodes_of(ids)) == expected, ids

    combos = [
        ([], [], 0), ([], [12, 4], 13), ([8, 2], [], 9),
        ([10], [3, 17, 5], 18), ([-8], [-12, -4], -3),
    ]
    for base, patch, expected in combos:
        assert merge.next_entity_id(nodes_of(base), nodes_of(patch)) == expected, (base, patch)


def test_member_representation_roundtrip(spark):
    """explode_members / collect_members bridge the two relation member
    conventions (array-of-structs for merge/OSC, exploded rows for
    extract/resolution) losslessly, preserving order and null roles."""
    rels = spark.createDataFrame(
        [
            (1, [("node", 5, "stop"), ("way", 7, None), ("relation", 2, "sub")], None),
            (2, [], {"type": "route"}),
        ],
        fixtures.RELATION_SCHEMA,
    )
    exploded = merge.explode_members(rels)
    assert exploded.count() == 3  # empty-member relation contributes no rows
    back = merge.collect_members(exploded).collect()
    got = {r["id"]: [tuple(m) for m in r["members"]] for r in back}
    assert got == {1: [("node", 5, "stop"), ("way", 7, None), ("relation", 2, "sub")]}


def test_apply_changeset_all_entity_types(spark):
    """Port of apply-changeset.test.ts: create/modify/delete across nodes,
    ways, AND relations materialize the expected end state, and applying
    the same changeset twice yields identical results (the reference
    freezes the records and applies twice)."""
    base_n = spark.createDataFrame(
        [
            (1, -120.0, 46.0, {"name": "one"}),
            (2, -120.01, 46.01, None),
            (3, -120.02, 46.02, None),
        ],
        fixtures.NODE_SCHEMA,
    )
    base_w = spark.createDataFrame(
        [(10, [1, 2], {"highway": "primary"}), (11, [2, 3], {"highway": "secondary"})],
        fixtures.WAY_SCHEMA,
    )
    base_r = spark.createDataFrame(
        [
            (100, [("node", 1, "point")], {"type": "route"}),
            (101, [("node", 1, "point")], {"type": "route"}),
        ],
        fixtures.RELATION_SCHEMA,
    )

    def ct(df, rows, schema):
        changes = spark.createDataFrame(rows, schema)
        return merge.apply_changeset(df, changes)

    node_changes = [
        (1, -120.0, 46.0, {"name": "updated"}, "modify"),
        (3, None, None, None, "delete"),
        (4, -120.03, 46.03, None, "create"),
    ]
    way_changes = [
        (10, [1, 2], {"highway": "tertiary"}, "modify"),
        (11, None, None, "delete"),
        (12, [1, 2], {"highway": "residential"}, "create"),
    ]
    rel_changes = [
        (100, [("node", 1, "point")], {"type": "route", "route": "bus"}, "modify"),
        (101, None, None, "delete"),
        (102, [("node", 1, "point")], {"type": "route", "route": "train"}, "create"),
    ]
    n_schema = "id long, lon double, lat double, tags map<string,string>, change_type string"
    w_schema = "id long, refs array<long>, tags map<string,string>, change_type string"
    r_schema = (
        "id long, members array<struct<type:string,ref:long,role:string>>, "
        "tags map<string,string>, change_type string"
    )

    def apply_all():
        return (
            ct(base_n, node_changes, n_schema),
            ct(base_w, way_changes, w_schema),
            ct(base_r, rel_changes, r_schema),
        )

    for nodes, ways, rels in (apply_all(), apply_all()):  # idempotent re-apply
        n = {r["id"]: (r["lon"], r["lat"], r["tags"]) for r in nodes.collect()}
        assert set(n) == {1, 2, 4}
        assert n[1] == (-120.0, 46.0, {"name": "updated"})
        w = {r["id"]: (list(r["refs"]), r["tags"]) for r in ways.collect()}
        assert w == {
            10: ([1, 2], {"highway": "tertiary"}),
            12: ([1, 2], {"highway": "residential"}),
        }
        rl = {r["id"]: ([tuple(m) for m in r["members"]], r["tags"]) for r in rels.collect()}
        assert rl == {
            100: ([("node", 1, "point")], {"type": "route", "route": "bus"}),
            102: ([("node", 1, "point")], {"type": "route", "route": "train"}),
        }


def test_id_pair_sides_keeps_each_pair_once(spark):
    """IdPairs (changeset.ts:783-801) on a 4-id frame. Unscoped, each pair
    once with a_id < b_id. Scoped to candidates {2, 3}: the pair with no
    candidate (1, 4) is dropped, a one-candidate pair keeps its candidate
    on side a even when it has the larger id, and the two-candidate pair
    is kept once."""
    src = spark.createDataFrame([(i, i * 10) for i in (1, 2, 3, 4)], "id long, v long")

    def pairs(candidates=None):
        a, b, keep_once = merge.id_pair_sides(src, candidates)
        assert a.columns == ["a_id", "a_v"] and b.columns[:2] == ["b_id", "b_v"]
        joined = a.crossJoin(b).filter(keep_once)
        return sorted((r["a_id"], r["b_id"], r["b_v"]) for r in joined.collect())

    assert pairs() == [(1, 2, 20), (1, 3, 30), (1, 4, 40), (2, 3, 30), (2, 4, 40), (3, 4, 40)]
    # an int-typed id column with a repeated id: cast and deduplicated
    cands = spark.createDataFrame([(2,), (3,), (3,)], "cid int")
    assert pairs(cands) == [(2, 1, 10), (2, 3, 30), (2, 4, 40), (3, 1, 10), (3, 4, 40)]
