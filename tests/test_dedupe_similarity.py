"""Corpus dedupe + similarity search on the driver testdata."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osmix_spark.operators import dedupe, similarity


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_dedupe_detects_planted_dup(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # plant a duplicate: copy doc 0's text under a new id
    dup = docs.limit(1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    out = dedupe.exact_dedupe(docs.unionByName(dup))
    dups = out.filter(F.col("n_dups") > 1).collect()
    assert len(dups) == 1
    assert dups[0]["survivor"] == 0 and dups[0]["n_dups"] == 2


def test_lsh_finds_near_duplicate(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # near-dup: doc 0's text with one word appended
    near = docs.limit(1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" suffix")).alias("text"),
        "lang", "source", "n_chars",
    )
    all_docs = docs.unionByName(near)
    sh = dedupe.shingle_set(all_docs)
    sig = dedupe.minhash_signatures(sh)
    pairs = dedupe.lsh_candidate_pairs(sig)
    verified = dedupe.jaccard_verify(sh, pairs, threshold=0.8)
    hits = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert (0, 1_000_000) in hits


def test_simhash_near_dupes(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    near = docs.limit(1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
        "lang", "source", "n_chars",
    )
    sim = dedupe.simhash(docs.unionByName(near))
    pairs = dedupe.simhash_near_dupes(sim, max_hamming=2)
    hits = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert (0, 1_000_000) in hits
    assert hits[(0, 1_000_000)] <= 2


def test_simhash_identical_texts_have_equal_hash(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(5)
    a = dedupe.simhash(docs)
    b = dedupe.simhash(docs.repartition(7))
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_ann_recall_vs_brute_force(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.ann_topk(queries, emb, k=5, bits_per_table=4, n_tables=16)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # synthetic embeddings are near-random; multi-probe LSH should still
    # recover a solid fraction of the true top-5
    assert recall >= 0.7, f"ANN recall too low: {recall}"


def test_giant_bucket_cap_bounds_flood(spark):
    """SCALE.md's flood guard: a boilerplate flood of N docs landing in one
    LSH band bucket must NOT emit N^2/2 pairs. Above max_bucket the bucket
    falls back to exact-signature star linking (O(N) pairs, connectivity
    kept for clustering) and the drop is reported on the side channel."""
    from pyspark.sql import Row

    n = 1000
    # identical signatures -> every band bucket holds all N docs
    sig = spark.createDataFrame(
        [Row(doc_id=i, **{f"h{k}": 7 + (k * 11) for k in range(8)})
         for i in range(n)]
    )
    seen = {}
    pairs = dedupe.lsh_candidate_pairs(
        sig, max_bucket=100, on_oversized=lambda df: seen.update(
            {(r["band"], r["bh"]): r["n_docs"] for r in df.collect()})
    ).collect()
    # star linking: doc 0 <-> each other doc, once after distinct
    assert len(pairs) == n - 1
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, i) for i in range(1, n)}
    assert len(seen) == 4 and set(seen.values()) == {n}  # all 4 bands logged

    # sub-cap buckets keep exhaustive pairing: same graph, higher cap
    small = dedupe.lsh_candidate_pairs(sig.limit(5), max_bucket=100).collect()
    assert len(small) == 10  # C(5,2)

    # simhash flood: identical fingerprints -> star pairs at hamming 0
    sim = spark.createDataFrame([Row(doc_id=i, simhash=1234) for i in range(n)])
    spairs = dedupe.simhash_near_dupes(sim, max_bucket=100).collect()
    assert len(spairs) == n - 1
    assert all(r["hamming"] == 0 for r in spairs)


def test_star_fallback_groups_on_signature(spark):
    """Two groups of 150 docs share band 0 (h0, h1) and differ in every
    other hash. With max_bucket=100 the shared band-0 bucket (300 docs)
    and each group's own buckets are oversized; the star fallback groups
    members by their exact signature, so the pairs are exactly the two
    stars (149 + 149) and none crosses the groups."""
    from pyspark.sql import Row

    def sig(g):
        return {f"h{k}": 7 + k * 11 if k < 2 else 1000 * (g + 1) + k for k in range(8)}

    rows = [Row(doc_id=g * 1000 + i, **sig(g)) for g in (0, 1) for i in range(150)]
    pairs = dedupe.lsh_candidate_pairs(
        spark.createDataFrame(rows), max_bucket=100
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert len(pairs) == 298
    assert got == {(g * 1000, g * 1000 + i) for g in (0, 1) for i in range(1, 150)}


def test_embedding_near_dupes_finds_self_plant(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    plant = emb.limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    out = dedupe.embedding_near_dupes(
        emb.unionByName(plant), bucket_col="label", threshold=0.999
    )
    hits = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1_000_000) in hits


def test_embedding_near_dupes_requires_bucket(spark, sf_dir):
    """Omitting bucket_col used to silently cosine-join the whole corpus
    all-pairs (O(N^2) in disguise); it must raise instead (VERDICT r5)."""
    import pytest

    emb = _emb(spark, sf_dir)
    with pytest.raises(ValueError, match="bucket_col is required"):
        dedupe.embedding_near_dupes(emb, threshold=0.999)


def test_embedding_near_dupes_block_split_invariant(spark, sf_dir):
    """Pair output must be identical at any block split (the blocked
    all-pairs decomposition cannot change which pairs exist or their
    cosines — bit-exact fold-order emulation)."""
    emb = _emb(spark, sf_dir)
    whole = dedupe.embedding_near_dupes(
        emb, bucket_col="label", threshold=0.25, block_size=1 << 20
    )
    split = dedupe.embedding_near_dupes(
        emb, bucket_col="label", threshold=0.25, block_size=16
    )
    w = {(r["id_a"], r["id_b"], r["cosine"]) for r in whole.collect()}
    s = {(r["id_a"], r["id_b"], r["cosine"]) for r in split.collect()}
    assert w == s and len(w) > 0


def test_ivf_recall_and_determinism(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.ivf_topk(queries, emb, k=5, n_centroids=8, n_probe=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # probing half the inverted lists must recover most of the true top-5
    assert recall >= 0.6, f"IVF recall too low: {recall}"
    # deterministic across parallelism (seeded centroids, struct-min ties)
    again = similarity.ivf_topk(
        queries.repartition(7), emb.repartition(5), k=5, n_centroids=8, n_probe=4
    )
    assert {tuple(r) for r in approx.collect()} == {tuple(r) for r in again.collect()}


def test_ivf_centroid_count(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = similarity.ivf_train_centroids(emb, n_centroids=8, lloyd_iters=1)
    rows = cents.collect()
    assert len(rows) <= 8 and len(rows) >= 1
    assert all(len(r["centroid"]) == 64 for r in rows)


def test_connected_components_shapes(spark):
    """Min-label propagation: chains, stars, cycles, and disjoint pairs all
    converge to the min-id component; singletons (not in pairs) keep their
    own id through dedupe_clusters."""
    from pyspark.sql import functions as F

    from osmix_spark.operators import dedupe

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),        # chain -> comp 1
            (10, 11), (10, 12), (10, 13),  # star -> comp 10
            (20, 21), (21, 22), (22, 20),  # cycle -> comp 20
            (30, 31),                      # pair -> comp 30
        ],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in dedupe.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 13: 10,
                    20: 20, 21: 20, 22: 20, 30: 30, 31: 30}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 30, 31, 99]], "doc_id long")
    out = {r["doc_id"]: (r["component"], r["cluster_size"], r["is_survivor"])
           for r in dedupe.dedupe_clusters(docs, pairs).collect()}
    assert out[99] == (99, 1, True)        # singleton
    assert out[1] == (1, 4, True) and out[4] == (1, 4, False)
    assert out[30] == (30, 2, True) and out[31] == (30, 2, False)
    # survivor count == component count over the doc set
    surv = sum(1 for c, s, k in out.values() if k)
    assert surv == len({c for c, s, k in out.values()})


def test_ivf_assign_keeps_64bit_centroid_ids(spark):
    """A centroid id above 2^31 comes back from ivf_assign unchanged: the
    argmin UDF returns 64-bit ids, never a wrapped int32."""
    big = (1 << 33) + 5
    cents = spark.createDataFrame(
        [(7, [0.0, 0.0]), (big, [10.0, 10.0])],
        "centroid_id long, centroid array<double>",
    )
    corpus = spark.createDataFrame(
        [(1, [0.5, 0.0]), (2, [9.0, 10.0])], "vec_id long, embedding array<double>"
    )
    got = {r["vec_id"]: r["centroid_id"]
           for r in similarity.ivf_assign(corpus, cents).collect()}
    assert got == {1: 7, 2: big}


def test_connected_components_fractional_ids(spark):
    """Non-integral ids converge on the exact change count: on the chain
    2.1-2.4-2.45-2.49 the first round moves labels 2.4 -> 2.1 and
    2.45 -> 2.4, changes a decimal(38,0) label sum would round away (every
    label casts to 2), so a checksum stop would return 2.4 for 2.49
    instead of 2.1. String ids take the same detector."""
    from decimal import Decimal

    for ddl, conv in (("double", float), ("decimal(4,2)", Decimal), ("string", str)):
        ids = [conv(v) for v in ("2.1", "2.4", "2.45", "2.49")]
        pairs = spark.createDataFrame(
            list(zip(ids, ids[1:])), f"id_a {ddl}, id_b {ddl}"
        )
        comp = {r["id"]: r["component"]
                for r in dedupe.connected_components(pairs).collect()}
        assert comp == dict.fromkeys(ids, ids[0]), ddl


def test_connected_components_huge_decimal_ids(spark):
    """decimal(38,0) ids near 9e37 label without arithmetic: a sum of the
    labels overflows decimal(38,0) and raises ARITHMETIC_OVERFLOW under
    ANSI mode."""
    from decimal import Decimal

    base = 9 * 10**37
    pairs = spark.createDataFrame(
        [(Decimal(base + 2 * i), Decimal(base + 2 * i + 1)) for i in range(10)],
        "id_a decimal(38,0), id_b decimal(38,0)",
    )
    comp = {int(r["id"]): int(r["component"])
            for r in dedupe.connected_components(pairs).collect()}
    assert comp == {base + k: base + k - k % 2 for k in range(20)}


def test_connected_components_iteration_cap_raises(spark):
    """Exhausting max_iters without convergence must raise, not silently
    return wrong labels (ADVICE r3): a 6-node chain cannot converge in one
    round even with pointer jumping."""
    import pytest

    from osmix_spark.operators import dedupe

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedupe.connected_components(pairs, max_iters=1)
    # and the same graph converges fine with the default cap
    comp = {r["id"]: r["component"]
            for r in dedupe.connected_components(pairs).collect()}
    assert set(comp.values()) == {1}


def test_hash_pair_family_parity(spark):
    """portable_hash64_pair: Spark column expr == DuckDB SQL twin ==
    plain-python md5, and the derived family h_i = h1 + i*h2 stays inside
    int64 (Kirsch-Mitzenmacher minhash base)."""
    import hashlib

    import duckdb
    from pyspark.sql import functions as F

    from osmix_spark.functions.hashing import (portable_hash64_pair,
                                               portable_hash64_pair_sql)

    vals = ["hello world", "", "a b c", "ünïcode", "x\ny", "0", "long " * 50]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    h1, h2 = portable_hash64_pair(F.col("v"))
    got = {r["v"]: (r["h1"], r["h2"])
           for r in df.select("v", h1.alias("h1"), h2.alias("h2")).collect()}
    sql1, sql2 = portable_hash64_pair_sql("v")
    con = duckdb.connect()
    for v in vals:
        m = hashlib.md5(("mh|" + v).encode()).hexdigest()
        expect = (int(m[0:15], 16), int(m[16:31], 16))
        assert got[v] == expect, v
        duck = con.execute(
            f"SELECT {sql1}, {sql2} FROM (SELECT ? AS v)", [v]
        ).fetchone()
        assert tuple(duck) == expect, v
        # family stays in int64 for i <= 7
        assert expect[0] + 7 * expect[1] < 1 << 63


def test_minhash_rejects_overflow_prone_num_hashes(spark):
    from osmix_spark.operators import dedupe

    docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    sh = dedupe.shingle_set(docs)
    with pytest.raises(ValueError):
        dedupe.minhash_signatures(sh, num_hashes=16)


def test_substring_dup_spans_golden(spark):
    from osmix_spark.operators import dedupe

    docs = spark.createDataFrame(
        [
            # the quick brown fox repeats in docs 1 and 2 (cross-doc dup);
            # doc 3 has an internal repeat; doc 4 is all-unique; doc 5 is
            # shorter than the window
            (1, "the quick brown fox jumps over a lazy dog"),
            (2, "intro words the quick brown fox ends here"),
            (3, "x y z w q x y z w q"),
            (4, "totally unique words only appear once here"),
            (5, "too short"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        (r["doc_id"], r["span_start"], r["span_end"]): r["n_windows"]
        for r in dedupe.substring_dup_spans(docs, window=4).collect()
    }
    # doc 1: tokens 0..3 = "the quick brown fox" -> span [0, 4), 1 window
    # doc 2: tokens 2..5 same phrase -> span [2, 6), 1 window
    assert rows[(1, 0, 4)] == 1
    assert rows[(2, 2, 6)] == 1
    # doc 3: "x y z w" at 0 and 5, "y z w q" at 1 and 6; windows at
    # positions 0,1,5,6 merge (gap 5-1=4 == window) into one span [0, 10)
    assert rows[(3, 0, 10)] == 4
    assert not any(d == 4 or d == 5 for d, _, _ in rows)


def test_shingles_short_doc_yields_no_rows(spark):
    # a doc with fewer tokens than the shingle width must contribute zero
    # shingles — Spark's sequence(1, 0) is the DESCENDING [1, 0], which
    # unguarded would hit element_at(toks, 0) and error
    from osmix_spark.operators import dedupe

    docs = spark.createDataFrame(
        [(1, "just two"), (2, "a fine longer document here")],
        ["doc_id", "text"],
    )
    rows = dedupe.shingle_set(docs, k=3).collect()
    assert {r["doc_id"] for r in rows} == {2}
