"""The benchmark's three workloads.

A workload is a fixed sequence of steps; one run of the job runs every
step once, in order, each into Spark's noop sink or, for the merge step,
into a fresh parquet directory. A step is one call into the engine's
public query surface (`osmix_spark.queries` or
`bench.flagship_pages_pipeline`), the layer it exercises, the tables it
reads, and the DuckDB oracle its output is checked against.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

import bench
from osmix_spark import queries
from osmix_spark.sources import synth

Build = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Step:
    name: str          # query name
    layer: str         # spatial | tiles | dedupe | merge | intersect
    call: str          # module.function the build span names
    build: Build
    tables: tuple[str, ...]
    oracle: str
    sink: str = "noop"  # noop | parquet

    @property
    def key(self) -> str:
        """Prefix of the step's per-layer times: one per query where the
        layer has several, else the layer's own."""
        return f"{self.layer}.{self.name}" if self.layer in ("spatial", "dedupe") else self.layer


@dataclass(frozen=True)
class Workload:
    name: str
    steps: tuple[Step, ...]
    # untimed runs after the cold run, until the driver JIT has settled
    warmups: int
    # timed runs at least, whatever `--seconds` says: a whole process moves
    # with the host's load, and a short job needs many runs for its median
    # to stand for the process
    min_runs: int = 2


def _flagship(spark: SparkSession, in_dir: str) -> DataFrame:
    return bench.flagship_pages_pipeline(spark, in_dir)[1]


def _flagship_oracle() -> str:
    page = "(l_orderkey * 16 + l_linenumber)"
    plon, plat = synth.clustered_sql(page)
    nlon, nlat = synth.clustered_sql("p_partkey")
    return f"""
    WITH p AS (SELECT {queries._cell_sql(plon, plat, 14)} AS cell FROM lineitem),
    n AS (SELECT {queries._cell_sql(nlon, nlat, 14)} AS cell, count(*) AS n_nodes
          FROM part GROUP BY 1)
    SELECT p.cell, count(*)::BIGINT AS n_pages, sum(n.n_nodes)::BIGINT AS node_hits
    FROM p JOIN n ON p.cell = n.cell GROUP BY p.cell
    """


def _query(name: str, layer: str, tables: tuple[str, ...], sink: str = "noop") -> Step:
    return Step(name, layer, f"osmix_spark.queries.{name}",
                queries.all_queries()[name], tables, queries.all_oracles()[name], sink)


WORKLOADS: dict[str, Workload] = {w.name: w for w in (
    Workload("tile_build", (
        _query("tile_way_mvt_stats", "tiles", ("lineitem", "part")),
    ), warmups=4, min_runs=10),
    Workload("spatial_join", (
        Step("flagship_pages", "spatial", "bench.flagship_pages_pipeline",
             _flagship, ("lineitem", "part"), _flagship_oracle()),
        _query("geo_bbox_overlap_join", "spatial", ("nation", "documents")),
        _query("geo_point_in_polygon", "spatial", ("documents",)),
        _query("geo_knn", "spatial", ("nation", "documents")),
        _query("geo_radius_join_agg", "spatial", ("nation", "documents")),
    ), warmups=2),
    Workload("dedupe_merge", (
        _query("text_jaccard_verify", "dedupe", ("documents",)),
        _query("embed_ann_lsh", "dedupe", ("embeddings",)),
        _query("osm_merge_lww", "merge", ("orders",), sink="parquet"),
    ), warmups=1),
)}

# operators/intersect, measured alone in the traced run of `dedupe_merge`:
# its ~6 s of warm driver work a run does not fit the time budget of the
# timed loop
INTERSECT = _query("osm_create_intersections", "intersect", ("nation",), sink="parquet")


def table_names(steps) -> list[str]:
    return sorted({t for s in steps for t in s.tables})


def oracle_views(con, in_dir: str, tables: list[str]) -> None:
    """Register each input table as a DuckDB view over its parquet files."""
    for t in tables:
        path = os.path.join(in_dir, f"{t}.parquet", "*.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
