"""Spatial table layout: cell-partitioned parquet for partition pruning.

The reference keeps per-load-profile in-memory indexes (SURVEY §1.3); the
warehouse-scale analog is a disk LAYOUT: big spatial tables written
hive-partitioned by a coarse cell prefix, so a bbox query prunes entire
directories at PLANNING time (PartitionFilters in the scan) and sorted
within files by the fine cell key so row-group min/max statistics prune
within partitions.

At 100 TB this is the difference between scanning the planet and scanning
a city: a z6 prefix partitions the world into ~4k directories, and every
spatial query in this engine filters on cell-derived predicates that reach
the partition column. tests/test_plans.py asserts the pruning actually
happens (file-count drop + PartitionFilters), so the layout contract is
CI-checked, not aspirational.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo

PARTITION_ZOOM = 6  # ~4k world partitions; tune per-table at real scale

# Session confs that change the schema Spark infers from parquet footers
# (and from hive partition directory names).
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
_SCHEMA_CACHE_CAP = 64
_SCHEMA_CACHE: OrderedDict = OrderedDict()
_SCHEMA_LOCK = threading.Lock()


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """(path, file listing, inference confs) of a local parquet table, or
    None when `path` is not a local file or directory."""
    if "://" in path or not os.path.exists(path):
        return None
    root = os.path.abspath(path)
    paths = [root] if os.path.isfile(root) else sorted(
        os.path.join(d, name) for d, _, names in os.walk(root) for name in names)
    files = tuple((os.path.relpath(p, root), st.st_size, st.st_mtime_ns)
                  for p in paths for st in (os.stat(p),))
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    return root, files, confs


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` that infers a table's schema once.

    Schema inference reads parquet footers in a Spark job of its own, on
    every read: 80-100 ms a call on a warm `local[4]` session, against
    15-20 ms for a read with a known schema. The inferred schema is cached
    under a key of

    - the absolute path,
    - the recursive listing of its files (relative path, size,
      `st_mtime_ns`), so rewriting, adding or removing any file makes a
      new key and the next read infers again,
    - the session's values of the confs that change inference
      (`_INFERENCE_CONFS`),

    and later reads pass it to `spark.read.schema(...)`. The cache is an
    LRU of at most `_SCHEMA_CACHE_CAP` schemas behind a lock.

    Only the schema is cached, never the DataFrame: a DataFrame pins the
    file index built when it was read, so a cached one would keep
    scanning files that were since rewritten or deleted. The file index
    is therefore still built on every call; the schema is the one part
    that costs a job, and the key checks that it still holds.

    A path that is not a local file or directory (a URI, a glob, a
    missing path) goes straight to `spark.read.parquet`, with its
    behaviour and its errors.
    """
    key = _schema_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    with _SCHEMA_LOCK:
        schema = _SCHEMA_CACHE.get(key)
        if schema is not None:
            _SCHEMA_CACHE.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMA_LOCK:
        _SCHEMA_CACHE[key] = df.schema
        _SCHEMA_CACHE.move_to_end(key)
        while len(_SCHEMA_CACHE) > _SCHEMA_CACHE_CAP:
            _SCHEMA_CACHE.popitem(last=False)
    return df


def cell_prefix(lon, lat, z: int = PARTITION_ZOOM):
    """The coarse partition key: the packed cell at the partition zoom."""
    return geo.cell_key(lon, lat, F.lit(z))


def write_cell_partitioned(df: DataFrame, path: str,
                           lon: str = "lon", lat: str = "lat",
                           z: int = PARTITION_ZOOM,
                           fine_z: int = 14) -> None:
    """Write a point table hive-partitioned by the z-level cell prefix and
    sorted within files by the fine cell key (row-group statistics line up
    with spatial locality)."""
    out = (
        df.withColumn("cell_p", cell_prefix(F.col(lon), F.col(lat), z))
        .withColumn("cell", geo.cell_key(F.col(lon), F.col(lat), F.lit(fine_z)))
        .repartition("cell_p")
        .sortWithinPartitions("cell_p", "cell")
    )
    out.write.mode("overwrite").partitionBy("cell_p").parquet(path)


def read_bbox(spark: SparkSession, path: str, west: float, south: float,
              east: float, north: float, z: int = PARTITION_ZOOM,
              lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Bbox read that PRUNES partitions: the query bbox is covered with
    partition-zoom cells driver-side (a handful of longs) and pushed as an
    IN filter on the partition column, then refined with the exact bbox
    predicate. The scan plans only the matching directories."""
    import math

    n = 1 << z

    def tx(lo: float) -> int:
        return min(max(int(math.floor((lo / 360.0 + 0.5) * n)), 0), n - 1)

    def ty(la: float) -> int:
        s = math.sin(math.radians(la))
        yf = (0.5 - 0.25 * math.log((1 + s) / (1 - s)) / math.pi) * n
        return min(max(int(math.floor(yf)), 0), n - 1)

    cells = [
        (z << 58) + (x << 29) + y
        for x in range(tx(west), tx(east) + 1)
        for y in range(ty(north), ty(south) + 1)
    ]
    df = read_parquet(spark, path)
    return df.filter(F.col("cell_p").isin(cells)).filter(
        geo.in_bbox(F.col(lon), F.col(lat), west, south, east, north, epsilon=0.0)
    )


S2_PARTITION_LEVEL = 7   # ~100 km cells, a few thousand land partitions
S2_FINE_LEVEL = 16       # row-group sort key (~600 m locality)


def write_s2_partitioned(df: DataFrame, path: str,
                         lon: str = "lon", lat: str = "lat",
                         level: int = S2_PARTITION_LEVEL,
                         fine_level: int = S2_FINE_LEVEL) -> None:
    """The S2 twin of write_cell_partitioned: hive-partition by the coarse
    packed S2 key, sort within files by the fine key. Hilbert adjacency
    means the fine-key sort clusters ground-adjacent rows into the same
    row groups (better min/max pruning than Z-order for range sweeps)."""
    from ..functions import s2

    out = s2.with_s2_key(
        s2.with_s2_key(df, lon=lon, lat=lat, level=level, out="s2_p"),
        lon=lon, lat=lat, level=fine_level, out="s2_f",
    ).repartition("s2_p").sortWithinPartitions("s2_p", "s2_f")
    out.write.mode("overwrite").partitionBy("s2_p").parquet(path)


def read_bbox_s2(spark: SparkSession, path: str, west: float, south: float,
                 east: float, north: float,
                 level: int = S2_PARTITION_LEVEL,
                 lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Bbox read over an S2-partitioned layout: the bbox is covered
    driver-side with partition-level cells (conservative superset —
    s2_cover_bbox), pushed as an IN filter on the partition column so the
    scan plans only matching directories, then refined with the exact
    bbox predicate (exactness never depends on the covering)."""
    from ..functions import s2

    cells = s2.s2_cover_bbox(west, south, east, north, level)
    df = read_parquet(spark, path)
    return df.filter(F.col("s2_p").isin([int(c) for c in cells])).filter(
        geo.in_bbox(F.col(lon), F.col(lat), west, south, east, north, epsilon=0.0)
    )


def write_bucketed(df: DataFrame, name: str, path: str, key: str = "id",
                   n_buckets: int = 16) -> None:
    """Bucketed table write: hash-bucket by `key` and sort within buckets.

    The co-located-join layout (the reference pre-resolves way->node refs
    at ingest, ways.ts:169-194 — its substitute for a runtime join; on
    Spark the equivalent is bucketing both tables on the join key so the
    sort-merge join reads matching buckets WITHOUT a shuffle exchange).
    External table at `path`; requires saveAsTable (bucket metadata lives
    in the session catalog)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .format("parquet")
        .saveAsTable(name)
    )


def read_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """Read a bucketed table by catalog name (bucket info is catalog
    metadata — reading the bare parquet path loses it)."""
    return spark.table(name)
