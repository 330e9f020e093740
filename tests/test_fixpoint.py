"""Convergence loops read each round's stop test off the round's own
checkpoint (`plans.fixpoint.checkpoint`): no round launches a probe job
(`isEmpty()`, `collect()`, `first()`) of its own."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osmix_spark.operators import dedupe, extract, merge, router
from osmix_spark.plans import fixpoint
from osmix_spark.sources import fixtures

PROBES = ("isEmpty at ", "collect at ", "first at ")


def _probe_jobs(jobs):
    """{job id: probe stage names} of the jobs that ran a probe action."""
    hits = {jid: [n for n in names if n.startswith(PROBES)] for jid, names in jobs.items()}
    return {jid: names for jid, names in hits.items() if names}


def test_checkpoint_observes_on_its_own_job(spark, spark_jobs):
    for df, n, mn in ((spark.range(5, 12), 7, 5),
                      (spark.createDataFrame([], "id long"), 0, None)):
        (out, seen), jobs = spark_jobs(
            lambda: fixpoint.checkpoint(df, n=F.count(F.lit(1)), mn=F.min("id"))
        )
        assert seen == {"n": n, "mn": mn}
        assert jobs and all(name.startswith("localCheckpoint at ")
                            for names in jobs.values() for name in names), jobs
        assert out.count() == n


def _grid(spark):
    """(edges, nodes) of a 3x2 haversine grid."""
    nodes = spark.createDataFrame(
        [(i, 0.001 * (i % 3), 0.001 * (i // 3), None) for i in range(6)],
        fixtures.NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [(100 + y, [y * 3 + x for x in range(3)], None) for y in range(2)]
        + [(200 + x, [x, x + 3], None) for x in range(3)],
        fixtures.WAY_SCHEMA,
    )
    return router.build_edges(ways, nodes), nodes


def _loops(spark):
    chain = spark.createDataFrame([(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0)],
                                  "src long, dst long, w double")
    edges, nodes = _grid(spark)
    repl = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "from_id long, to_id long")
    members = spark.createDataFrame(
        [(1, "relation", 2, ""), (2, "relation", 3, ""), (3, "node", 300, "")],
        "relation_id long, member_type string, member_ref long, role string",
    )
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], "id_a long, id_b long")
    return {
        "shortest_path": lambda: router.shortest_path(chain, 0),
        "astar_distance": lambda: router.astar_distance(edges, nodes, 0, 5),
        "flatten_replacements": lambda: merge.flatten_replacements(repl),
        "resolve_relation_members": lambda: extract.resolve_relation_members(members),
        "connected_components": lambda: dedupe.connected_components(pairs),
    }


@pytest.mark.parametrize("loop", ["shortest_path", "astar_distance", "flatten_replacements",
                                  "resolve_relation_members", "connected_components"])
def test_loops_run_no_probe_jobs(spark, spark_jobs, loop):
    _out, jobs = spark_jobs(_loops(spark)[loop])
    assert jobs  # the loop's checkpoints ran inside the call
    probes = _probe_jobs(jobs)
    if loop == "astar_distance":
        # the target's coordinates, collected once before the loop
        assert len(probes) <= 1, probes
        assert all("router.py" in n for names in probes.values() for n in names), probes
    else:
        assert not probes, probes


def test_flagship_pages_build_launches_no_job(spark, spark_jobs, sf_dir):
    import bench

    bench.flagship_pages_pipeline(spark, sf_dir)  # infers the input schemas
    (pages, _result), jobs = spark_jobs(lambda: bench.flagship_pages_pipeline(spark, sf_dir))
    assert jobs == {}
    assert pages.count() == spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
