"""Corpus-level deduplication for training-data pipelines.

Exact (fingerprint groupBy), MinHash + LSH banding, SimHash with
hamming-banded candidate pairs, exact n-gram Jaccard verification, and
embedding-cosine near-dup — each expressed shuffle-minimal:

- signatures are one explode + one groupBy (map-side combined);
- candidate generation is always an equi-join on a band/bucket hash
  (skew-safe, AQE-eligible), never a cross join;
- verification joins only the candidate pairs back to the shingle sets.

Portable md5-based hashing (functions/hashing.portable_hash64) keeps every
stage reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text
from ..functions.hashing import portable_hash64, portable_hash64_pair
from ..plans import fixpoint

_MOD = 1_000_000_007


def exact_dedupe(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Survivor per normalized-text fingerprint (min id), with dup counts."""
    return (
        docs.select(F.col(id_col), text.fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("survivor"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingle_set(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                k: int = 3) -> DataFrame:
    """(id, sh) distinct word-k-shingles; tokens materialized first (see
    functions/text.shingles_from_tokens)."""
    return (
        docs.select(F.col(id_col), text.tokens(F.col(text_col)).alias("toks"))
        .select(id_col, F.explode(text.shingles_from_tokens(F.col("toks"), k)).alias("sh"))
        .distinct()
    )


def minhash_signatures(shingles: DataFrame, id_col: str = "doc_id",
                       num_hashes: int = 8) -> DataFrame:
    """One pass: H min-hash columns h0..h{H-1} per document.

    ONE md5 per shingle, H derived hashes h_i = h1 + i*h2
    (Kirsch-Mitzenmacher) — at corpus scale the signature stage is
    hash-bound, so this is an Hx cut in per-shingle CPU."""
    if not 1 <= num_hashes <= 8:
        # h1 + i*h2 is proven < 2^63 only for i <= 7 (portable_hash64_pair
        # sizes h1/h2 for that bound); beyond it Spark's non-ANSI bigint
        # silently wraps while the DuckDB oracle errors — never allow the
        # divergence to happen quietly
        raise ValueError("num_hashes must be in [1, 8] for the "
                         "overflow-free Kirsch-Mitzenmacher derivation")
    h1, h2 = portable_hash64_pair(F.col("sh"))
    return shingles.groupBy(id_col).agg(
        *[F.min(h1 + F.lit(i) * h2).alias(f"h{i}") for i in range(num_hashes)]
    )


def band_pairs(bands_df: DataFrame, id_col: str, max_bucket: int,
               on_oversized, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """The banded self-join every LSH family shares: documents in the same
    (band, bh) bucket become (id_a, id_b) pairs, id_a < id_b, with the
    giant-bucket cap.

    bands_df: (id, band, bh, __sig[, extra...]). Buckets with more than
    max_bucket members are NOT pairwise expanded — a boilerplate flood of
    N near-identical docs in one band hash would emit N^2/2 pairs, an
    output-cardinality blowup no AQE skew split can reduce. Oversized
    buckets are routed through exact-fingerprint grouping instead: members
    sharing the full signature (__sig: the signature columns themselves,
    never a hash of them, so a hash collision cannot link two different
    signatures) are linked as a star to the group's min id (O(N) pairs,
    connectivity preserved for clustering); members
    whose exact signatures differ are dropped and accounted to the
    on_oversized side channel as (band, bh, n_docs) rows — persist them
    via plans/lineage.checkpoint when auditability is required."""
    from pyspark.sql.window import Window

    wb = Window.partitionBy("band", "bh")
    # materialize once: the counted band table feeds BOTH self-join sides
    # plus the oversized star path — without the checkpoint each reference
    # re-evaluates the signature pipeline upstream
    sized = bands_df.withColumn(
        "__n", F.count(F.lit(1)).over(wb)
    ).localCheckpoint()
    small = sized.filter(F.col("__n") <= max_bucket)
    over = sized.filter(F.col("__n") > max_bucket)
    if on_oversized is not None:
        on_oversized(
            over.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
    a = small.select(F.col(id_col).alias("id_a"), "band", "bh",
                     *[F.col(c).alias(f"{c}_a") for c in extra_cols])
    b_ = small.select(F.col(id_col).alias("id_b"), "band", "bh",
                      *[F.col(c).alias(f"{c}_b") for c in extra_cols])
    pairs = a.join(b_, ["band", "bh"]).filter(F.col("id_a") < F.col("id_b"))
    reps = over.groupBy("band", "bh", "__sig").agg(F.min(id_col).alias("__rep"))
    star = (
        over.join(reps, ["band", "bh", "__sig"])
        .filter(F.col(id_col) != F.col("__rep"))
        .select(F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"),
                *[F.col(c).alias(f"{c}_a") for c in extra_cols])
    )
    if extra_cols:  # star pairs share the exact signature: a == b
        for c in extra_cols:
            star = star.withColumn(f"{c}_b", F.col(f"{c}_a"))
    return pairs.select(star.columns).unionByName(star)


def lsh_candidate_pairs(sig: DataFrame, id_col: str = "doc_id",
                        num_hashes: int = 8, bands: int = 4,
                        max_bucket: int = 65536,
                        on_oversized=None) -> DataFrame:
    """Banding: docs sharing any band hash become a candidate pair.
    rows_per_band = num_hashes // bands.

    Buckets larger than max_bucket fall back to exact-signature star
    linking (see band_pairs) — the N^2 flood guard."""
    rpb = num_hashes // bands
    sig_cols = [f"h{i}" for i in range(num_hashes)]
    structs = []
    for b in range(bands):
        bh = F.lit(0).cast("long")
        for r in range(rpb):
            bh = (bh * 1000003 + F.col(f"h{b * rpb + r}") % _MOD) % _MOD
        structs.append(F.struct(F.lit(b).alias("band"), bh.alias("bh")))
    # one posexplode, not a union of per-band selects: a union re-evaluates
    # the signature pipeline once per band branch
    bands_df = sig.select(
        F.col(id_col), F.struct(*sig_cols).alias("__sig"),
        F.posexplode(F.array(*structs)).alias("__p", "e"),
    ).select(id_col, "e.band", "e.bh", "__sig")
    return (
        band_pairs(bands_df, id_col, max_bucket, on_oversized)
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(shingles: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id", threshold: float = 0.0) -> DataFrame:
    """Exact |A∩B| / |A∪B| for candidate pairs only (semi-joined shingle
    sets — the corpus never cross-joins)."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sa = shingles.select(F.col(id_col).alias("id_a"), "sh")
    sb = shingles.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        pairs.join(sa, "id_a").join(sb, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"n_inter": 0})
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
            ),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 16) -> DataFrame:
    """SimHash over whitespace tokens: per bit, sum of +/-1 weighted by the
    token's portable hash bit; sign -> fingerprint bit. One explode + one
    groupBy with `bits` conditional sums.

    The portable hash (md5 + hex->long conv — the parity-bearing, and
    priciest, expression) is evaluated once per DISTINCT token and joined
    back to the token stream, not once per token instance: natural text
    is Zipf-distributed, so the vocabulary is a small fraction of the
    instance count and shrinks relatively as the corpus grows. The join
    is left unhinted — AQE broadcasts the vocabulary while it is small
    and falls back to a shuffle join when it is not."""
    toks = docs.select(
        F.col(id_col), F.explode(text.tokens(F.col(text_col))).alias("tok")
    )
    vocab = toks.select("tok").distinct().withColumn(
        "h", portable_hash64(F.col("tok"), "simhash")
    )
    toks = toks.join(vocab, "tok")
    sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(0)
    return sums.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_dupes(sim: DataFrame, id_col: str = "doc_id",
                       bits: int = 16, bands: int = 4,
                       max_hamming: int = 3,
                       max_bucket: int = 65536,
                       on_oversized=None) -> DataFrame:
    """Candidate pairs by banded simhash (hamming <= bands-1 guaranteed to
    share a band); verified with exact popcount hamming distance.

    Buckets larger than max_bucket fall back to exact-simhash star linking
    (hamming 0 by construction — see band_pairs)."""
    bw = bits // bands
    mask = (1 << bw) - 1
    structs = []
    for b in range(bands):
        band_val = F.shiftrightunsigned(F.col("simhash"), b * bw).bitwiseAND(F.lit(mask))
        structs.append(F.struct(F.lit(b).alias("band"), band_val.alias("bh")))
    bands_df = sim.select(
        F.col(id_col), F.col("simhash").alias("__sig"),
        F.posexplode(F.array(*structs)).alias("__p", "e"),
    ).select(id_col, "e.band", "e.bh", "__sig")
    hamming = F.bit_count(F.col("__sig_a").bitwiseXOR(F.col("__sig_b")))
    return (
        band_pairs(bands_df, id_col, max_bucket, on_oversized,
                   extra_cols=("__sig",))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dupes(emb: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding", bucket_col: str | None = None,
                         threshold: float = 0.9, block_size: int = 1024) -> DataFrame:
    """Cosine-similar pairs within a bucket (a label, an LSH bucket from
    operators/similarity.lsh_signature, or a cluster id). Exact cosine on
    the bucket-joined candidates.

    bucket_col is REQUIRED: omitting it would silently cosine-join the
    whole corpus all-pairs (O(N^2) output) — pass a label, an LSH bucket,
    or a cluster id.

    Execution: a bucket of n vectors implies n^2/2 candidate dot products;
    evaluating them as per-pair array expressions is interpreter-bound
    (higher-order functions do not participate in whole-stage codegen), so
    the candidates are evaluated as NumPy block products instead. Buckets
    are hash-split into ceil(n/block_size) blocks; each vector is
    replicated to its block-pair groups (standard blocked all-pairs, so a
    giant bucket becomes many bounded tasks instead of one straggler), and
    each (block_i, block_j) group computes its dot-product block in one
    vectorized pass. The fold order of the reference per-pair expression
    — acc + x*y over index order, norm = sqrt(acc + x*x fold), then
    dot / (na * nb) — is reproduced exactly (k-unrolled vectorized adds,
    no BLAS/pairwise reassociation), and the final round(.,6) + threshold
    filter run in Spark, so results are bit-identical to the expression
    form at any block split."""
    if bucket_col is None:
        raise ValueError(
            "bucket_col is required: embedding_near_dupes without a bucket "
            "is an all-pairs cosine join over the full corpus. Pass a "
            "label / LSH bucket (similarity.lsh_signature) / cluster id."
        )
    id_dt = emb.schema[id_col].dataType.simpleString()
    margin = threshold - 1e-6  # round(.,6) moves a value < 1e-6: superset-safe
    base = emb.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        F.col(bucket_col).alias("__bucket"),
    )
    sizes = base.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__n"))
    nblk = F.greatest(
        F.lit(1), F.ceil(F.col("__n") / F.lit(block_size))
    ).cast("int").alias("__nblk")
    base = base.join(F.broadcast(sizes.select("__bucket", nblk)), "__bucket")
    base = base.withColumn(
        "__blk", F.pmod(F.xxhash64(F.col("__id")), F.col("__nblk")).cast("int")
    )
    left = base.withColumn(
        "__bj", F.explode(F.sequence(F.col("__blk"), F.col("__nblk") - 1))
    ).select(
        "__bucket", F.col("__blk").alias("__bi"), "__bj",
        "__id", "__v", F.lit(0).alias("__side"),
    )
    right = base.filter(F.col("__blk") > 0).withColumn(
        "__bi", F.explode(F.sequence(F.lit(0), F.col("__blk") - 1))
    ).select(
        "__bucket", "__bi", F.col("__blk").alias("__bj"),
        "__id", "__v", F.lit(1).alias("__side"),
    )

    def _block_pairs(pdf):
        import numpy as np
        import pandas as pd

        side = pdf["__side"].to_numpy()
        same = bool(pdf["__bi"].iat[0] == pdf["__bj"].iat[0]) if len(pdf) else True
        va = np.array(pdf.loc[side == 0, "__v"].tolist(), dtype=np.float64)
        ids_a = pdf.loc[side == 0, "__id"].to_numpy()
        if same:
            vb, ids_b = va, ids_a
        else:
            vb = np.array(pdf.loc[side == 1, "__v"].tolist(), dtype=np.float64)
            ids_b = pdf.loc[side == 1, "__id"].to_numpy()
        empty = pd.DataFrame({"id_a": ids_a[:0], "id_b": ids_a[:0],
                              "__raw": np.zeros(0)})
        if va.size == 0 or vb.size == 0:
            return empty
        d = va.shape[1]

        def _norms(x):  # sqrt of the exact left fold of squares
            acc = np.zeros(len(x))
            for k in range(d):
                acc = acc + x[:, k] * x[:, k]
            return np.sqrt(acc)

        na, nb = _norms(va), (_norms(vb) if not same else None)
        if same:
            nb = na
        chunk = max(1, (1 << 22) // len(vb))  # ~32MB float64 per acc block
        out = []
        vb_cols = np.ascontiguousarray(vb.T)  # column-major access in the k loop
        for s in range(0, len(va), chunk):
            ae, ids_ae, nae = va[s:s + chunk], ids_a[s:s + chunk], na[s:s + chunk]
            acc = np.zeros((len(ae), len(vb)))
            tmp = np.empty_like(acc)
            for k in range(d):  # exact left fold: tmp = a*b, acc = acc + tmp
                np.multiply(ae[:, k:k + 1], vb_cols[k][None, :], out=tmp)
                np.add(acc, tmp, out=acc)
            raw = acc / (nae[:, None] * nb[None, :])
            ida, idb = ids_ae[:, None], ids_b[None, :]
            # diagonal block: strict upper triangle by id; cross block:
            # every bipartite pair once, oriented small-id first
            keep = (raw >= margin) & ((ida < idb) if same else (ida != idb))
            ii, jj = np.nonzero(keep)
            if len(ii):
                lo = np.minimum(ids_ae[ii], ids_b[jj])
                hi = np.maximum(ids_ae[ii], ids_b[jj])
                out.append(pd.DataFrame(
                    {"id_a": lo, "id_b": hi, "__raw": raw[ii, jj]}))
        return pd.concat(out, ignore_index=True) if out else empty

    pairs = (
        left.unionByName(right)
        .groupBy("__bucket", "__bi", "__bj")
        .applyInPandas(_block_pairs, f"id_a {id_dt}, id_b {id_dt}, __raw double")
    )
    return (
        pairs.withColumn("cosine", F.round(F.col("__raw"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def connected_components(pairs: DataFrame, a: str = "id_a", b: str = "id_b",
                         max_iters: int = 30) -> DataFrame:
    """Duplicate-cluster labeling: connected components over candidate
    pairs, label = MIN id reachable. Returns (id, component) for every id
    appearing in `pairs`.

    The survivor-selection step of a dedup pipeline (keep one doc per
    near-dup cluster): iterative min-label propagation — each round every
    node takes the min of its own label and its neighbors' labels — which
    converges in O(diameter) rounds — and each round ALSO pointer-jumps
    (component <- label(component), path compression), which halves label
    chains and brings convergence to O(log diameter). Per round: one join
    (labels x edges) + one groupBy(node) min + one self-join on the label
    — all keyed on ids, shuffle-partitionable; loop-invariant edges are
    localCheckpointed once and labels re-checkpointed per round
    (O(1)-deep plans).

    The fixpoint is exactly the transitive closure's min — asserted against
    a recursive-CTE oracle (text_dedupe_clusters).

    Round structure (r6): the two directions are exploded from `pairs` in
    ONE pass (the former self-union evaluated the upstream pair pipeline
    twice); labels start at least(id, min neighbor) — the first
    propagation folded into init; each round is one join + union + groupBy
    min (the self row makes every id present, so no left join is needed)
    followed by the pointer jump. The self row also carries the id's
    previous label through the min, and the count of ids whose label
    changed is observed on the round's checkpoint: one exact change
    detector for every id type, with no arithmetic and no probe job."""
    e = F.explode(F.array(
        F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
        F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
    )).alias("e")
    edges = pairs.select(e).select("e.src", "e.dst").distinct().localCheckpoint()
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("mn"))
        .select("id", F.least("id", "mn").alias("component"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iters):
        msgs = labels.join(edges, labels.id == edges.src).select(
            F.col("dst").alias("id"), "component", F.lit(None).alias("prev")
        )
        prop, seen = fixpoint.checkpoint(
            msgs.unionByName(labels.select("id", "component", F.col("component").alias("prev")))
            .groupBy("id")
            .agg(F.min("component").alias("component"), F.max("prev").alias("prev")),
            changed=F.count_if(F.col("component") != F.col("prev")),
        )
        if not seen["changed"]:
            labels = prop.drop("prev")
            converged = True
            break
        # pointer jumping: component <- label(component); labels only ever
        # DECREASE toward the component minimum, so compression never
        # overshoots it
        comp_map = prop.select(
            F.col("id").alias("component"), F.col("component").alias("__c2")
        )
        labels = prop.join(comp_map, "component", "left").select(
            "id", F.coalesce("__c2", "component").alias("component")
        ).localCheckpoint()
    if not converged:
        # silently returning unconverged labels would hand dedupe_clusters
        # wrong survivors with no signal; pointer jumping makes the round
        # count O(log diameter), so hitting the cap means pathology
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "raise max_iters (components of diameter > ~2^rounds)"
        )
    return labels


def dedupe_clusters(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                    a: str = "id_a", b: str = "id_b") -> DataFrame:
    """Full-corpus cluster table: every document labeled with its near-dup
    component (singletons = their own id), cluster sizes, and the survivor
    flag (min id per cluster survives — the conventional keep-one rule).
    Returns (doc_id, component, cluster_size, is_survivor)."""
    comp = connected_components(pairs, a, b)
    labeled = (
        docs.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    sizes = labeled.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labeled.join(sizes, "component")
        .select(
            id_col, "component", "cluster_size",
            (F.col(id_col) == F.col("component")).alias("is_survivor"),
        )
    )


def substring_dup_spans(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", window: int = 4,
                        min_count: int = 2) -> DataFrame:
    """Exact substring deduplication at token granularity (the
    training-data op popularized by "Deduplicating Training Data Makes
    Language Models Better": repeated spans get stripped before
    training, not whole documents): every maximal token span whose
    length-`window` windows each occur >= min_count times corpus-wide.

    Plan shape — all equi-keyed, no cross join:
      1. one posexplode of (doc, pos, window-hash) — evaluated ONCE (the
         former groupBy + self-join referenced the explode subtree twice,
         paying tokenize + hash for every window twice);
      2. one corpus-wide count window over the hash (the single shuffle
         that the duplicate test fundamentally requires);
      3. one per-doc gaps-and-islands window to merge overlapping
         duplicated windows into maximal spans.
    Windows ride as 64-bit xxhash64 over the token tuple (8 shuffle bytes,
    no per-window string build, no md5): the hash is engine-internal —
    only the resulting spans are compared to the oracle, whose own
    md5-window derivation is untouched — so the only divergence mode is a
    64-bit collision between distinct windows, which the checked scale
    factors make vanishingly improbable (< 1e-8).

    Returns (doc_id, span_start, span_end, n_windows): 0-based token
    positions, end exclusive; touching/overlapping windows merge.
    """
    from pyspark.sql.window import Window

    toks = docs.select(F.col(id_col), text.tokens(F.col(text_col)).alias("toks"))
    n = F.size(F.col("toks"))
    # guard n < window explicitly: Spark's sequence(1, 0) yields the
    # DESCENDING [1, 0], which would fabricate two garbage windows
    idx = F.when(n >= window, F.sequence(F.lit(1), n - (window - 1))) \
        .otherwise(F.array().cast("array<int>"))
    # hash the token tuple directly (tokens are whitespace-split, so the
    # tuple is exactly as collision-free as the joined string)
    shingle_hash = lambda i: F.xxhash64(  # noqa: E731
        F.lit("ssd"), *[F.element_at(F.col("toks"), i + j) for j in range(window)])
    # one select, explode directly: a withColumn("w", ...) + select pair
    # collapses into a projection that re-inlines tokens(text) once per
    # element_at — the O(len^2) trap shingles_from_tokens documents
    # (measured 31s -> 3.6s at sf0.1 for this operator)
    sh = toks.select(
        id_col, F.posexplode(F.transform(idx, shingle_hash)).alias("pos", "h")
    )
    wh = Window.partitionBy("h")
    dup = (
        sh.withColumn("n", F.count(F.lit(1)).over(wh))
        .filter(F.col("n") >= min_count)
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        dup.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "brk",
            F.when(F.col("prev").isNull()
                   | (F.col("pos") - F.col("prev") > window), 1).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(w))
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )
