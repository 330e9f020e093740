"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k — queries broadcast against the
  corpus, dot products as JVM-side zip_with/aggregate (no Python), top-k
  via window. The correctness baseline.
- lsh_signature + ann_topk: random-hyperplane LSH — deterministic planes
  derived from a portable hash (no RNG state), sign-bit signatures computed
  in a vectorized Arrow pandas UDF, candidates from multi-probe bucket
  equi-joins, exact cosine refine on candidates only. The 100 TB path:
  corpus bucketed/partitioned by signature, probes touch a few buckets.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _norm(col) -> Column:
    return F.sqrt(F.aggregate(F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))


def _dot(a, b) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


@F.pandas_udf(T.DoubleType())
def _fold_dot(a, b):  # type: ignore[no-untyped-def]
    """Vectorized pairwise dot with the EXACT fold order of `_dot`
    (acc + x*y over index order, no BLAS/pairwise reassociation) — the
    higher-order-function form does not participate in whole-stage codegen
    and is interpreter-bound per element, which dominates every
    candidate-refine stage; this is bit-identical and batch-vectorized."""
    import numpy as np
    import pandas as pd

    if not len(a):
        return pd.Series(np.zeros(0))
    A = np.array(a.tolist(), dtype=np.float64)
    B = np.array(b.tolist(), dtype=np.float64)
    acc = np.zeros(len(A))
    tmp = np.empty_like(acc)
    for k in range(A.shape[1]):
        np.multiply(A[:, k], B[:, k], out=tmp)
        np.add(acc, tmp, out=acc)
    return pd.Series(acc)


def _argmin_centroid_udf(cent_ids, cent_mat):
    """pandas UDF assigning each vector to its nearest centroid by squared
    L2, centroids captured in the closure (KB-scale — the bounded collect
    replaces a crossJoin + min_by shuffle of every corpus VECTOR).
    Bit-exact twin of the expression form: d2 = left fold of (x-y)^2 in
    index order; ties to the smaller centroid id (cent_ids ascending,
    argmin returns the first minimum)."""
    import numpy as np

    ids = np.asarray(cent_ids, dtype=np.int64)
    C = np.asarray(cent_mat, dtype=np.float64)

    @F.pandas_udf(T.LongType())
    def assign(v):  # type: ignore[no-untyped-def]
        import pandas as pd

        if not len(v):
            return pd.Series(np.zeros(0, dtype=np.int64))
        X = np.array(v.tolist(), dtype=np.float64)
        d2 = np.zeros((len(X), len(C)))
        tmp = np.empty(len(X))
        for j in range(len(C)):
            acc = d2[:, j]
            for k in range(X.shape[1]):
                np.subtract(X[:, k], C[j, k], out=tmp)
                np.multiply(tmp, tmp, out=tmp)
                np.add(acc, tmp, out=acc)
        return pd.Series(ids[np.argmin(d2, axis=1)])

    return assign


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int,
                     q_id: str = "query_id", c_id: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k per query (excluding self-matches by id)."""
    q = queries.select(F.col(q_id), _as_double(F.col(vec_col)).alias("qv"))
    q = q.withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(F.col(c_id), _as_double(F.col(vec_col)).alias("cv"))
    c = c.withColumn("cn", _norm(F.col("cv")))
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return (
        F.broadcast(q)
        .join(c, F.col(q_id) != F.col(c_id))
        .withColumn("sim", _fold_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, F.round("sim", 6).alias("sim"), "rank")
    )


def _planes(dim: int, n_planes: int, table: int = 0):
    """Deterministic pseudo-random hyperplanes: component (t, p, d) from
    md5 — no RNG object, reproducible everywhere."""
    import numpy as np

    out = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"plane|{table}|{p}|{d}".encode()).digest()
            out[p, d] = (int.from_bytes(h[:8], "big") / 2**63) - 1.0  # [-1, 1)
    return out


def lsh_signature(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
                  dim: int = 64, bits_per_table: int = 4,
                  n_tables: int = 8) -> DataFrame:
    """(id, table, bucket) — one sign-bit bucket per hash table.

    Multi-table LSH: recall = 1 - (1 - p^b)^L where p is the per-plane
    collision probability; on weakly-clustered (near-random) embeddings a
    single wide signature has vanishing recall, many short ones compose.
    Vectorized: one (batch x dim) @ (dim x L*b) matmul per Arrow batch.
    """
    import numpy as np

    all_planes = np.concatenate(
        [_planes(dim, bits_per_table, t) for t in range(n_tables)], axis=0
    )  # (L*b, dim)
    weights = (1 << np.arange(bits_per_table)).astype("int64")

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sigs(v):  # type: ignore[no-untyped-def]
        import pandas as pd

        mat = np.stack(v.to_numpy())  # (batch, dim)
        # sequential accumulation over dims (NOT matmul): bit-identical to a
        # left-fold dot product, so the DuckDB oracle's list_sum twin can't
        # flip a sign bit on a near-zero dot via different summation order
        dots = np.zeros((len(mat), all_planes.shape[0]), dtype=np.float64)
        for d in range(dim):
            dots += mat[:, d : d + 1] * all_planes[None, :, d]
        bits = dots > 0  # (batch, L*b)
        bits = bits.reshape(len(mat), n_tables, bits_per_table)
        bkt = (bits @ weights).astype("int64")  # (batch, L)
        return pd.Series(list(bkt))

    out = df.select(F.col(id_col), sigs(_as_double(F.col(vec_col))).alias("b"))
    return out.select(
        id_col, F.posexplode("b").alias("table", "bucket")
    )


def ann_topk(queries: DataFrame, corpus: DataFrame, k: int,
             q_id: str = "query_id", c_id: str = "vec_id",
             vec_col: str = "embedding", dim: int = 64,
             bits_per_table: int = 4, n_tables: int = 8) -> DataFrame:
    """Approximate top-k: multi-table bucket equi-join, exact cosine refine
    on candidates only, window top-k. Recall vs brute_force_topk asserted
    in tests. At scale the corpus side is written bucketed by (table,
    bucket) so probes read a few buckets instead of the corpus."""
    c_sig = lsh_signature(corpus, c_id, vec_col, dim, bits_per_table, n_tables)
    c = corpus.select(F.col(c_id), _as_double(F.col(vec_col)).alias("cv"))
    c = c.withColumn("cn", _norm(F.col("cv"))).join(c_sig, c_id)

    q_sig = lsh_signature(queries, q_id, vec_col, dim, bits_per_table, n_tables)
    q = (
        queries.select(F.col(q_id), _as_double(F.col(vec_col)).alias("qv"))
        .withColumn("qn", _norm(F.col("qv")))
        .join(q_sig, q_id)
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return (
        q.join(c, ["table", "bucket"])
        .filter(F.col(q_id) != F.col(c_id))
        .dropDuplicates([q_id, c_id])
        # post-dedup candidate counts are small enough here that the HOF
        # expression beats shipping both vectors through Arrow (measured)
        .withColumn("sim", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, F.round("sim", 6).alias("sim"), "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def ivf_train_centroids(corpus: DataFrame, n_centroids: int = 16,
                        lloyd_iters: int = 2, c_id: str = "vec_id",
                        vec_col: str = "embedding",
                        sample_fraction: float | None = None,
                        sample_seed: int = 42) -> DataFrame:
    """Deterministic coarse quantizer: seed centroids are the n_centroids
    smallest-id corpus vectors (reproducible, no RNG), refined by
    `lloyd_iters` distributed k-means steps — assign = broadcast argmin
    join, update = posexplode + groupBy(centroid, dim) mean. Returns
    (centroid_id, centroid array<double>).

    Scale: assignment is a broadcast map-side join over the corpus (one
    pass each iteration); the update shuffle is (n_centroids x dim) rows —
    tiny at any corpus size. At 100 TB pass sample_fraction (seeded,
    deterministic) so the Lloyd passes scan a sample instead of the corpus
    — k-means centroids converge on far less data than the inverted file
    indexes.
    """
    if sample_fraction is not None:
        corpus = corpus.sample(fraction=sample_fraction, seed=sample_seed)
    seeds = (
        corpus.orderBy(c_id).limit(n_centroids)  # smallest-id seeds
        .select(
            F.row_number().over(Window.orderBy(c_id)).alias("centroid_id"),
            _as_double(F.col(vec_col)).alias("centroid"),
        )
        .withColumn("centroid_id", F.col("centroid_id") - 1)
    )
    vecs = corpus.select(F.col(c_id), _as_double(F.col(vec_col)).alias("v"))
    cents = seeds
    for _ in range(lloyd_iters):
        # assign: nearest centroid by squared L2 via the closure-captured
        # centroid matrix (KB-scale bounded collect) — one narrow pass over
        # the corpus; the former crossJoin + min_by shape duplicated every
        # vector n_centroids times and shuffled the vectors to re-group
        rows = cents.orderBy("centroid_id").collect()
        assign = _argmin_centroid_udf(
            [r["centroid_id"] for r in rows], [r["centroid"] for r in rows]
        )
        assigned = vecs.select(assign(F.col("v")).alias("centroid_id"), "v")
        # update: per-(centroid, dim) mean, re-assembled into arrays
        cents = (
            assigned.select("centroid_id", F.posexplode("v").alias("dim", "x"))
            .groupBy("centroid_id", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("s"))
            .select("centroid_id", F.col("s.m").alias("centroid"))
        )
    return cents


def ivf_assign(corpus: DataFrame, centroids: DataFrame, c_id: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Bucket each corpus vector under its nearest centroid — the inverted
    file. At 100 TB this DataFrame is written partitioned/bucketed by
    centroid_id so a probe reads only its lists. The quantizer is
    KB-scale, so it rides into a closure-captured argmin UDF (bounded
    collect) instead of a crossJoin + min_by re-grouping of the vectors."""
    rows = centroids.orderBy("centroid_id").collect()
    assign = _argmin_centroid_udf(
        [r["centroid_id"] for r in rows], [r["centroid"] for r in rows]
    )
    return corpus.select(
        F.col(c_id), _as_double(F.col(vec_col)).alias("v")
    ).select(c_id, assign(F.col("v")).alias("centroid_id"), "v")


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int,
             n_centroids: int = 16, n_probe: int = 4, lloyd_iters: int = 2,
             q_id: str = "query_id", c_id: str = "vec_id",
             vec_col: str = "embedding",
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF ANN: train/reuse a coarse quantizer, probe the n_probe nearest
    inverted lists per query, exact cosine refine inside them, window
    top-k. Recall vs brute_force_topk asserted in tests; raise n_probe to
    trade throughput for recall."""
    cents = centroids if centroids is not None else ivf_train_centroids(
        corpus, n_centroids, lloyd_iters, c_id, vec_col
    )
    cents = cents.localCheckpoint()  # train once; probed twice below
    inv = ivf_assign(corpus, cents, c_id, vec_col).withColumn("cn", _norm(F.col("v")))

    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda a, x: a + x,
    )
    wprobe = Window.partitionBy(q_id).orderBy("d2", "centroid_id")
    probes = (
        queries.select(F.col(q_id), _as_double(F.col(vec_col)).alias("qv"))
        .withColumn("qn", _norm(F.col("qv")))
        .crossJoin(F.broadcast(cents))
        .withColumn("d2", d2)
        .withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= n_probe)
        .select(q_id, "qv", "qn", "centroid_id")
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return (
        probes.join(inv, "centroid_id")
        .filter(F.col(q_id) != F.col(c_id))
        .withColumn("sim", _fold_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("cn")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, F.round("sim", 6).alias("sim"), "rank")
    )
