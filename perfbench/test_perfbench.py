"""Self-test of the benchmark: every workload at sf0.001, briefly.

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs once untraced and once traced; every metric that
BENCHMARK.json names must be printed with its unit, and every metric of a
layer the workload reaches must be above 0. A run whose checked
output lost one row must be counted as failed, and the benchmark must
refuse to run without the engine's sources.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(root: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra]
    return subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# per-layer metrics each workload must reach: a layer read from Spark's
# status store, status tracker or profiler that silently reads 0 fails here
REACHED = {
    "tile_build": ["tiles.exec_s", "tiles.input_exec_s", "tiles.tiles_out",
                   "python.boot_s", "python.mvt_cpu_s", "python.udf_cpu_s",
                   "python.bytes_sent", "python.bytes_received"],
    "spatial_join": [m["name"] for m in SPEC["per_layer"]
                     if m["name"].startswith("spatial.") and m["name"].endswith(".exec_s")]
                    + ["geo.cell_assign_s", "spatial.candidate_pairs",
                       "spatial.output_pairs", "spatial.pair_yield"],
    "dedupe_merge": ["dedupe.text_jaccard_verify.exec_s", "dedupe.embed_ann_lsh.exec_s",
                     "dedupe.candidate_pairs", "dedupe.output_pairs", "dedupe.jobs",
                     "merge.build_s", "merge.exec_s", "merge.jobs", "intersect.build_s",
                     "intersect.exec_s", "intersect.candidate_pairs", "sink.write_s",
                     "sink.bytes_written"],
}
EVERY_WORKLOAD = ["session.start_s", "sources.scan_s", "sources.rows_in",
                  "driver.jobs", "driver.stages", "driver.tasks", "python.run_s",
                  "python.task_skew", "jvm.heap_peak_mb", "trace.job_s",
                  "trace.untraced_job_s"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_with_unit(workload, trace):
    res = result(bench(ROOT, workload, trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    must = EVERY_WORKLOAD + REACHED[workload] if trace else [m["name"] for m in wanted]
    for name in must:
        assert res["metrics"][name]["value"] > 0, name


def test_dropped_row_counts_as_failed():
    res = result(bench(ROOT, "tile_build", 0, "--corrupt"))
    assert res["correct"] is False
    assert res["failed"] >= 1


def test_refuses_to_run_without_engine_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench(str(tmp_path), WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_parse_metric_formats():
    from tracing import parse_metric

    timing = ("total (min, med, max (stageId: taskId))\n"
              "8.0 s (1.9 s, 2.1 s, 2.6 s (stage 5.0: task 7))")
    assert parse_metric(timing) == (8.0, 1.9, 2.1, 2.6)
    assert parse_metric("6,000") == (6000.0,) * 4
    assert parse_metric("2.5 KiB")[0] == 2560.0
    assert parse_metric("total (min, med, max)\n785 ms (1 ms, 2 ms, 3 ms)")[0] == 0.785
