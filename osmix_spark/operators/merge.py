"""Merge / dedupe / changeset operators with the reference's exact semantics.

Reference pipeline (packages/change/src/merge.ts:43-110): dedupe ways,
dedupe nodes, direct merge (upsert by id), apply changeset, optional
intersection creation. Re-expressed as DataFrame jobs:

- coincident-node dedupe (J7, changeset.ts:239-310): 1 m self-join via cell
  equi-join + haversine, survivor by (version desc, tag-count desc, id desc)
  — the exact outcome of the reference's pairwise rule: higher version wins;
  tie -> more tags wins; full tie -> max id survives (the `>=` branch at
  changeset.ts:276-287 routes equal-tag ties to Math.max).
- replacement-chain flattening (changeset.ts:57-77): bounded iterative join
  with cycle guard.
- way-ref rewriting + adjacent-duplicate removal (change/src/utils.ts:54-66).
- duplicate-way dedupe (J8, changeset.ts:440-511): geometry-hash candidates
  plus the isWayEqual property-equality path; survivor = best (version,
  tag-count) with ties to the MAX id. (The reference's Math.min at
  changeset.ts:497 picks among one way's candidate set mid-sequence, but
  chain flattening makes the FINAL survivor of a fully-tied group the max
  id: iterating ways 10,20,30 yields 10->20, 20->30, flattened {10->30,
  20->30} — pinned by relation-dedup.test.ts:85-92.)
- relation-member rewriting after node/way dedupe
  (applyNodeReplacementsToRelations changeset.ts:348-351,
  applyWayReplacementsToRelations) + adjacent-duplicate member folding
  (removeDuplicateAdjacentRelationMembers, change/src/utils.ts:62-80).
- direct merge / last-write-wins upsert (J9, changeset.ts:732-780).
- apply-changeset materialization (apply-changeset.ts:37-122): base minus
  deletes, overridden by modifies, plus creates.

Scale notes: every join here keys on id or cell (shuffle-partitionable,
AQE-skew-eligible); the iterative flattening join touches only the
replacement map (tiny relative to the data; chains are short in practice —
the reference throws on cycles, we cap iterations and assert convergence).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import geo
from ..functions.hashing import portable_hash64
from ..plans import fixpoint
from . import spatial

DEDUPE_RADIUS_M = 1.0  # changeset.ts:248-249 (0.001 km)


def entity_version(tags) -> F.Column:
    """tags['ext:osm_version'] as int, default 0
    (packages/change/src/utils.ts:243-247)."""
    v = F.element_at(tags, F.lit("ext:osm_version"))
    # try_cast: a malformed version tag must mean "version 0", not an
    # ANSI-mode CAST_INVALID_INPUT job abort
    return F.coalesce(v.try_cast("int"), F.lit(0))


def tag_count(tags) -> F.Column:
    return F.when(tags.isNull(), F.lit(0)).otherwise(F.size(F.map_keys(tags)))


# ---------------------------------------------------------------------------
# J7 — coincident-node dedupe
# ---------------------------------------------------------------------------

def dedupe_nodes(nodes: DataFrame, radius_m: float = DEDUPE_RADIUS_M,
                 z: int | None = None,
                 candidates: DataFrame | None = None) -> DataFrame:
    """Replacement map (from_id -> to_id) for coincident nodes.

    nodes: (id, lon, lat, tags). Pairs within radius_m compete; the loser of
    each pair maps to the winner; chains are flattened so every from_id maps
    to its final survivor. Returns DataFrame(from_id, to_id).

    candidates: optional 1-column DataFrame of node ids scoping the search,
    mirroring the reference's `deduplicateNodes(modifiedPatch.nodes)` in the
    final merge stage (merge.ts:94-99): only pairs touching >=1 candidate
    compete — the candidate is the outer-loop `node`, the whole dataset is
    the radius-searched index (changeset.ts:244-250). With candidates the
    exploded (x9 cells) side is the candidate set, so the stage is
    O(|patch| x local density), not O(|dataset|) — the property that keeps
    stage 6 patch-sized when merging a city patch into a planet base.
    """
    if z is None:
        z = spatial.zoom_for_radius(radius_m, lat_hint=60.0)
    ranked = nodes.select(
        F.col("id"),
        F.col("lon"),
        F.col("lat"),
        entity_version(F.col("tags")).alias("version"),
        tag_count(F.col("tags")).alias("ntags"),
    )
    a, b, keep_once = id_pair_sides(ranked, candidates)
    a = spatial._explode_neighbors(a, "a_lon", "a_lat", z)
    b = b.withColumn("__cell", geo.cell_key(F.col("b_lon"), F.col("b_lat"), F.lit(z)))
    dist = geo.haversine_m(F.col("a_lon"), F.col("a_lat"), F.col("b_lon"), F.col("b_lat"))
    pairs = a.join(b, "__cell").filter(keep_once).filter(dist <= radius_m)
    return flatten_replacements(_best_winner(_pair_winners(pairs)))


def id_pair_sides(src: DataFrame, candidates: DataFrame | None = None
                  ) -> tuple[DataFrame, DataFrame, Column]:
    """IdPairs (changeset.ts:783-801) for a self-join over `src` (with an
    `id` column): returns (a, b, keep_once) — `src` with every column
    prefixed `a_` / `b_`, and the predicate that keeps each pair once.

    Without candidates keep_once is a_id < b_id. With a 1-column frame of
    candidate ids only pairs touching >= 1 candidate survive (the
    reference's outer loop over the patch): side a holds only candidates,
    a one-sided pair keeps its candidate on side a, and a pair of two
    candidates is kept once, by id order. Side b then carries one extra
    boolean column; callers project their output columns by name."""
    a_cols = [F.col(c).alias(f"a_{c}") for c in src.columns]
    b_cols = [F.col(c).alias(f"b_{c}") for c in src.columns]
    if candidates is None:
        return src.select(*a_cols), src.select(*b_cols), F.col("a_id") < F.col("b_id")
    cand = candidates.select(
        F.col(candidates.columns[0]).cast("long").alias("id")
    ).distinct()
    a = src.join(F.broadcast(cand), "id", "left_semi").select(*a_cols)
    b = src.join(
        F.broadcast(cand.withColumn("__cand", F.lit(True))), "id", "left"
    ).select(*b_cols, F.coalesce(F.col("__cand"), F.lit(False)).alias("b___cand"))
    keep_once = (F.col("a_id") != F.col("b_id")) & (
        ~F.col("b___cand") | (F.col("a_id") < F.col("b_id"))
    )
    return a, b, keep_once


def _pair_winners(pairs: DataFrame) -> DataFrame:
    """Duplicate pairs (a_/b_ id, version, ntags) -> distinct
    (from_id, to_id, w_version, w_ntags): the loser maps to the winner by
    the reference's pairwise rule — higher version wins; tie -> more tags
    wins; full tie -> the larger id survives."""
    a_wins = (
        (F.col("a_version") > F.col("b_version"))
        | ((F.col("a_version") == F.col("b_version")) & (F.col("a_ntags") > F.col("b_ntags")))
        | (
            (F.col("a_version") == F.col("b_version"))
            & (F.col("a_ntags") == F.col("b_ntags"))
            & (F.col("a_id") > F.col("b_id"))
        )
    )

    def pick(if_a: str, if_b: str) -> Column:
        return F.when(a_wins, F.col(if_a)).otherwise(F.col(if_b))

    return pairs.select(
        pick("b_id", "a_id").alias("from_id"),
        pick("a_id", "b_id").alias("to_id"),
        pick("a_version", "b_version").alias("w_version"),
        pick("a_ntags", "b_ntags").alias("w_ntags"),
    ).distinct()


def _best_winner(winners: DataFrame) -> DataFrame:
    """(from_id, to_id, w_version, w_ntags) -> (from_id, to_id): a loser
    claimed by several winners keeps the best one (version, then tag
    count, then max id) — deterministic."""
    w = Window.partitionBy("from_id").orderBy(
        F.desc("w_version"), F.desc("w_ntags"), F.desc("to_id")
    )
    return (
        winners.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("from_id", "to_id")
    )


def flatten_replacements(repl: DataFrame, max_iters: int = 16) -> DataFrame:
    """A->B, B->C  =>  A->C (changeset.ts:57-77), iterative with a cycle
    guard: each round rewrites to_id through the map and is checkpointed
    with its count of advanced rows observed; it stops when none advanced.
    Cycles (to_id chains that never leave the key set) are broken by
    dropping the self-referential hop, mirroring the reference's throw —
    we assert none exist in tests."""
    # the input is not checkpointed first: round 1's checkpoint reads it on
    # both join sides, and AQE runs its shuffles once for both
    repl = repl.filter(F.col("from_id") != F.col("to_id"))
    for _ in range(max_iters):
        nxt = repl.join(
            repl.select(F.col("from_id").alias("to_id"), F.col("to_id").alias("next_id")),
            "to_id",
            "left",
        )
        advance = F.col("next_id").isNotNull() & (F.col("next_id") != F.col("from_id"))
        nxt, seen = fixpoint.checkpoint(nxt, advanced=F.count_if(advance))
        repl = nxt.select(
            "from_id", F.when(advance, F.col("next_id")).otherwise(F.col("to_id")).alias("to_id")
        )
        if not seen["advanced"]:
            break
    return repl.filter(F.col("from_id") != F.col("to_id"))


def rewrite_way_refs(ways: DataFrame, repl: DataFrame) -> DataFrame:
    """Substitute deduped node ids inside way refs and drop now-adjacent
    duplicates (change/src/utils.ts:54-66). ways: (id, refs array<long>, ...).

    Exploded-join formulation (no per-row Python): refs -> rows, left join
    the replacement map, re-assemble in seq order, then remove adjacent dups
    with an array fold.
    """
    exploded = ways.select("id", F.posexplode("refs").alias("seq", "ref"))
    subst = (
        exploded.join(repl, exploded.ref == repl.from_id, "left")
        .select("id", "seq", F.coalesce("to_id", "ref").alias("ref"))
    )
    rebuilt = (
        subst.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("seq", "ref"))).alias("s"))
        .select("id", F.col("s.ref").alias("refs_subst"))
    )
    # drop adjacent duplicates: fold keeping last-emitted element
    dedup = F.aggregate(
        F.col("refs_subst"),
        F.expr("CAST(array() AS ARRAY<BIGINT>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == x), acc
        ).otherwise(F.concat(acc, F.array(x))),
    )
    out = ways.drop("refs").join(
        rebuilt.select("id", dedup.alias("refs")), "id", "left"
    )
    return out.select(*[c if c != "refs" else "refs" for c in ways.columns])


def rewrite_relation_members(relations: DataFrame, node_repl: DataFrame | None = None,
                             way_repl: DataFrame | None = None) -> DataFrame:
    """Substitute deduped node/way ids inside relation members and fold
    now-adjacent duplicate members.

    relations: (id, members array<struct<type string, ref long, role string>>,
    ...). The reference rewrites relation members after node dedupe
    (applyNodeReplacementsToRelations, changeset.ts:348-351) and way dedupe
    (applyWayReplacementsToRelations), then drops members that became
    back-to-back duplicates — equal on ALL of (type, ref, role), duplicates
    separated by other members are kept
    (removeDuplicateAdjacentRelationMembers, change/src/utils.ts:62-80).

    Exploded-join formulation like rewrite_way_refs: members -> rows, left
    join the replacement maps per member type, re-assemble in seq order,
    fold adjacent duplicates with a null-safe struct compare (a null role
    equals a null role, as undefined === undefined in the reference).
    """
    exploded = relations.select(
        "id",
        F.posexplode("members").alias("seq", "m"),
    ).select("id", "seq", F.col("m.type").alias("mtype"),
             F.col("m.ref").alias("ref"), F.col("m.role").alias("role"))
    subst = exploded
    if node_repl is not None:
        nrep = node_repl.select(
            F.col("from_id").alias("__nfrom"), F.col("to_id").alias("__nto")
        )
        subst = subst.join(
            nrep,
            (subst.mtype == "node") & (subst.ref == F.col("__nfrom")),
            "left",
        ).select("id", "seq", "mtype", F.coalesce("__nto", "ref").alias("ref"), "role")
    if way_repl is not None:
        wrep = way_repl.select(
            F.col("from_id").alias("__wfrom"), F.col("to_id").alias("__wto")
        )
        subst = subst.join(
            wrep,
            (subst.mtype == "way") & (subst.ref == F.col("__wfrom")),
            "left",
        ).select("id", "seq", "mtype", F.coalesce("__wto", "ref").alias("ref"), "role")
    rebuilt = (
        subst.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("seq", "mtype", "ref", "role"))).alias("s"))
        .select(
            "id",
            F.transform(
                F.col("s"),
                lambda e: F.struct(
                    e.mtype.alias("type"), e.ref.alias("ref"), e.role.alias("role")
                ),
            ).alias("members_subst"),
        )
    )
    empty = F.expr(
        "CAST(array() AS ARRAY<STRUCT<type: STRING, ref: BIGINT, role: STRING>>)"
    )
    dedup = F.aggregate(
        F.col("members_subst"),
        empty,
        lambda acc, x: F.when(
            (F.size(acc) > 0) & F.element_at(acc, -1).eqNullSafe(x), acc
        ).otherwise(F.concat(acc, F.array(x))),
    )
    out = relations.drop("members").join(
        rebuilt.select("id", dedup.alias("__members")), "id", "left"
    )
    # member-less relations (empty array) don't survive the explode — restore
    return out.withColumn("members", F.coalesce("__members", empty)).select(
        *relations.columns
    )


# ---------------------------------------------------------------------------
# J8 — duplicate-way dedupe
# ---------------------------------------------------------------------------

def dedupe_ways(ways: DataFrame, nodes: DataFrame,
                candidates: DataFrame | None = None) -> DataFrame:
    """Replacement map (from way id -> surviving way id) for duplicate ways
    (changeset.ts:440-511). Two candidate paths, exactly as the reference:

    - geometry path: ways with identical resolved coordinate sequences are
      duplicates when the better way has a higher version, or an equal
      version and >= tag count (changeset.ts:477-489);
    - property path (isWayEqual, changeset.ts:474): ways whose refs AND tags
      are identical are duplicates regardless of geometry resolution (also
      catches ways whose refs point at nodes missing from the node layer).

    Survivor per duplicate group: best (version desc, tag-count desc), ties
    resolved to the MAX id. The reference's Math.min(...survivorIds)
    (changeset.ts:497) applies to ONE way's candidate set mid-iteration;
    after its chain flattening, a fully-tied group {10,20,30} ends at
    {10->30, 20->30} (relation-dedup.test.ts:85-92) — max id, same as the
    node rule's `>=` tie (changeset.ts:276-287).

    ways: (id, refs, tags); nodes: (id, lon, lat, ...).

    candidates: optional 1-column DataFrame of way ids scoping the search,
    mirroring `deduplicateWays(modifiedPatch.ways)` in the final merge stage
    (merge.ts:86-92): only duplicate pairs touching >=1 candidate compete
    (the candidate is the outer-loop way, the whole dataset the duplicate
    index — changeset.ts:389-396). Candidate-scoped pairs go through the
    same winner rule pairwise, then chain flattening, so a candidate chain
    into a non-candidate survivor resolves identically; the hash-group scan
    stays O(|dataset|) but the pair fan-out is O(|patch| x dup-group size).
    """
    refs = ways.select("id", F.posexplode("refs").alias("seq", "ref"))
    coords = (
        refs.join(nodes.select(F.col("id").alias("ref"), "lon", "lat"), "ref")
        .groupBy(refs.id)
        .agg(
            F.array_sort(F.collect_list(F.struct("seq", "lon", "lat"))).alias("s")
        )
        .select(
            "id",
            portable_hash64(
                F.to_json(F.struct(F.col("s.lon").alias("lons"), F.col("s.lat").alias("lats"))),
                "waygeom",
            ).alias("geom_hash"),
        )
    )
    canon_tags = F.when(
        F.col("tags").isNotNull(),
        F.to_json(F.map_from_entries(F.array_sort(F.map_entries(F.col("tags"))))),
    ).otherwise(F.lit("{}"))
    ranked = ways.select(
        "id",
        entity_version(F.col("tags")).alias("version"),
        tag_count(F.col("tags")).alias("ntags"),
        portable_hash64(
            F.concat_ws("|", F.to_json(F.struct(F.col("refs").alias("r"))), canon_tags),
            "wayprops",
        ).alias("prop_hash"),
    ).join(coords, "id", "left")

    def group_map(key: str) -> DataFrame:
        w = Window.partitionBy(key).orderBy(
            F.desc("version"), F.desc("ntags"), F.desc("id")
        )
        groups = ranked.filter(F.col(key).isNotNull()).withColumn(
            "__rn", F.row_number().over(w)
        )
        winners = groups.filter(F.col("__rn") == 1).select(
            key, F.col("id").alias("to_id"),
            F.col("version").alias("w_version"), F.col("ntags").alias("w_ntags"),
        )
        losers = groups.filter(F.col("__rn") > 1).select(key, F.col("id").alias("from_id"))
        return losers.join(winners, key).select("from_id", "to_id", "w_version", "w_ntags")

    def pair_map(key: str) -> DataFrame:
        """Candidate-scoped pairwise variant of group_map: each candidate
        way pairs with every same-hash way; winner per pair by the same
        (version, ntags, max-id) rule. Equivalent to group_map after chain
        flattening when every way is a candidate."""
        a, b, keep_once = id_pair_sides(
            ranked.filter(F.col(key).isNotNull()).select("id", "version", "ntags", key),
            candidates,
        )
        return _pair_winners(
            a.join(b, F.col(f"a_{key}") == F.col(f"b_{key}")).filter(keep_once)
        )

    per_key = group_map if candidates is None else pair_map
    # a way claimed by both paths keeps the better winner (then max id)
    both = per_key("geom_hash").unionByName(per_key("prop_hash"))
    return flatten_replacements(_best_winner(both))


def explode_members(relations: DataFrame) -> DataFrame:
    """(id, members array<struct<type,ref,role>>, ...) ->
    (relation_id, seq, member_type, member_ref, role) — the exploded
    convention used by the extract/resolution operators (J11/J12). The
    inverse of collect_members."""
    return relations.select(
        F.col("id").alias("relation_id"), F.posexplode("members").alias("seq", "m")
    ).select(
        "relation_id", "seq", F.col("m.type").alias("member_type"),
        F.col("m.ref").alias("member_ref"), F.col("m.role").alias("role"),
    )


def collect_members(exploded: DataFrame) -> DataFrame:
    """(relation_id, seq, member_type, member_ref, role) -> (id, members)
    with members restored in seq order — the array convention used by the
    merge/dedupe/OSC operators."""
    return (
        exploded.groupBy(F.col("relation_id").alias("id"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("seq", "member_type", "member_ref", "role"))
            ).alias("s")
        )
        .select(
            "id",
            F.transform(
                F.col("s"),
                lambda e: F.struct(
                    e.member_type.alias("type"), e.member_ref.alias("ref"),
                    e.role.alias("role"),
                ),
            ).alias("members"),
        )
    )


def next_entity_id(*frames: DataFrame, key: str = "id") -> int:
    """Safe new-id allocation (changeset.nextNodeId, pinned by the
    reference's safe-id-allocation.test.ts): 1 + the true maximum id across
    ALL given frames (base + patch during direct generation), 0 when every
    frame is empty. Negative-id datasets allocate upward toward zero
    (max of -8,-3,-5 -> next is -2). One aggregate job over the union."""
    frames = [f for f in frames if f is not None]
    if not frames:
        return 0
    u = frames[0].select(F.col(key).cast("long").alias("__id"))
    for f in frames[1:]:
        u = u.unionByName(f.select(F.col(key).cast("long").alias("__id")))
    v = u.agg(F.max("__id")).collect()[0][0]
    return 0 if v is None else int(v) + 1


# ---------------------------------------------------------------------------
# J9 — direct merge (last-write-wins upsert)
# ---------------------------------------------------------------------------

def direct_merge(base: DataFrame, patch: DataFrame, key: str = "id",
                 ts: str | None = None) -> DataFrame:
    """Upsert patch over base by id (changeset.ts:732-780): patch wins on
    conflict; with a timestamp column, latest-ts wins with patch breaking
    ties (north-rule LWW ordering). Schemas must match."""
    b = base.withColumn("__src", F.lit(0))
    p = patch.withColumn("__src", F.lit(1))
    order = [F.desc(ts), F.desc("__src")] if ts else [F.desc("__src")]
    w = Window.partitionBy(key).orderBy(*order)
    return (
        b.unionByName(p)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__src", "__rn")
    )


# ---------------------------------------------------------------------------
# apply changeset (set-operation materialization)
# ---------------------------------------------------------------------------

def apply_changeset(base: DataFrame, changes: DataFrame, key: str = "id") -> DataFrame:
    """Materialize a changeset (apply-changeset.ts:37-122): base rows minus
    deletes, overridden by modifies, plus creates.

    changes: same schema as base plus change_type in
    ('create','modify','delete').
    """
    deletes = changes.filter(F.col("change_type") == "delete").select(key)
    upserts = changes.filter(F.col("change_type") != "delete").drop("change_type")
    kept = base.join(deletes, key, "left_anti").join(
        upserts.select(key), key, "left_anti"
    )
    return kept.unionByName(upserts)


def _canon(col: F.Column, dtype) -> F.Column:
    """Canonical comparable form of a column: maps are serialized with sorted
    keys (map comparison is unsupported and key order unspecified); arrays
    and structs via JSON; scalars as-is."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.MapType):
        return F.to_json(F.map_from_entries(F.array_sort(F.map_entries(col))))
    if isinstance(dtype, (T.ArrayType, T.StructType)):
        return F.to_json(F.struct(col.alias("v")))
    return col


def generate_direct_changes(base: DataFrame, patch: DataFrame, key: str = "id") -> DataFrame:
    """Classify patch rows against base (changeset.ts:732-780,
    entityPropertiesEqual at types/src/utils.ts:60-68): id unseen -> create;
    id present and any column differs -> modify; identical -> no-op
    (dropped). Returns patch rows + change_type."""
    cols = [c for c in patch.columns if c != key]
    dtypes = {f.name: f.dataType for f in patch.schema.fields}
    b = base.select(
        F.col(key),
        F.lit(True).alias("__exists"),
        *[_canon(F.col(c), dtypes[c]).alias(f"__b_{c}") for c in cols],
    )
    joined = patch.join(b, key, "left")
    differs = F.lit(False)
    for c in cols:
        differs = differs | ~_canon(F.col(c), dtypes[c]).eqNullSafe(F.col(f"__b_{c}"))
    change = (
        F.when(F.col("__exists").isNull(), F.lit("create"))
        .when(differs, F.lit("modify"))
        .otherwise(F.lit(None))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(key, *cols, "change_type")
    )
