"""Full merge pipeline (merge.ts 7-stage golden end state)."""

from __future__ import annotations

from osmix_spark.operators import pipeline
from osmix_spark.sources import fixtures


def test_full_merge_pipeline_golden(spark, tmp_path):
    nodes, ways, stats = pipeline.merge_datasets(
        fixtures.base_nodes(spark), fixtures.base_ways(spark),
        fixtures.patch_nodes(spark), fixtures.patch_ways(spark),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # merge.test.ts end state: 8 nodes merged, node 0 deduped away, 1
    # intersection node created => 8 final; 4 ways throughout
    assert stats["merged_nodes"] == 8
    assert stats["deduplicated_nodes"] == 1
    assert stats["intersection_points_found"] == 1
    assert stats["intersection_nodes_created"] == 1
    assert stats["final_nodes"] == 8
    assert stats["final_ways"] == 4

    n = {r["id"]: r for r in nodes.collect()}
    assert 0 not in n
    assert n[2]["tags"] == {"crossing": "yes"}
    assert n[8]["tags"] == {"crossing": "yes"}  # the created intersection
    w = {r["id"]: list(r["refs"]) for r in ways.collect()}
    assert w[1] == [2, 1]
    assert w[2] == [8, 2, 3]
    assert w[3] == [8, 4, 5]
    assert w[4] == [6, 7]


def test_pipeline_resumes_from_checkpoints(spark, tmp_path):
    ckpt = str(tmp_path / "c2")
    args = (
        fixtures.base_nodes(spark), fixtures.base_ways(spark),
        fixtures.patch_nodes(spark), fixtures.patch_ways(spark),
    )
    n1, w1, _ = pipeline.merge_datasets(*args, checkpoint_dir=ckpt)
    r1 = {(r["id"], r["lon"], r["lat"]) for r in n1.collect()}
    # second run resumes from verified checkpoints; results identical
    n2, w2, _ = pipeline.merge_datasets(*args, checkpoint_dir=ckpt)
    r2 = {(r["id"], r["lon"], r["lat"]) for r in n2.collect()}
    assert r1 == r2


def test_counters_launch_no_count_job_and_leave_no_cache(spark, spark_jobs, cache_is_empty):
    spark.catalog.clearCache()
    (nodes, ways, stats), jobs = spark_jobs(lambda: pipeline.merge_datasets(
        fixtures.base_nodes(spark), fixtures.base_ways(spark),
        fixtures.patch_nodes(spark), fixtures.patch_ways(spark),
    ))
    assert (stats["merged_nodes"], stats["merged_ways"], stats["deduplicated_nodes"],
            stats["final_nodes"], stats["final_ways"]) == (8, 4, 1, 8, 4)
    assert not [n for names in jobs.values() for n in names if n.startswith("count at ")], jobs
    assert cache_is_empty()
    # the returned frames are checkpoints: reading them shuffles nothing
    for df in (nodes, ways):
        assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
