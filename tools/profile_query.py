"""Driver build time vs execution time of engine queries, and the Spark
jobs each half launches.

Usage: python tools/profile_query.py NAME[,NAME...] [sf_dir] [--runs N]

NAME is a query of `osmix_spark.queries.all_queries()`, `flagship_pages`
(`bench.flagship_pages_pipeline`), or a benchmark workload of
`perfbench/workloads.py` (`tile_build`, `spatial_join`, `dedupe_merge`),
which stands for its timed steps. Without `sf_dir`, the benchmark's own
sf0.01 inputs (seed 1, every table split into files as
`perfbench/inputs.py` writes them) go to a temporary directory and are
read from there.

Every step runs once cold, then `--runs` times warm, in one `local[4]`
session built by `osmix_spark.session.get_spark`. A run is the build (the
query call, until it returns its DataFrame, with any Spark job the call
runs itself: schema inference, eager counts, checkpoints) and the exec
(the DataFrame written into Spark's noop sink, also for steps whose
benchmark sink is parquet). One line per step gives the medians over the
warm runs of each half's seconds and jobs, and of the build's
`parquet_jobs`: jobs whose stages all carry a `parquet at ...` call site,
that is schema inference by `spark.read.parquet` (a read launches no
other job) or a parquet write inside the call.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.tracing import SparkProbe, Tracer  # noqa: E402


def steps(names: list[str]):
    """(name, build) per step, workloads expanded into their steps."""
    from perfbench import workloads

    from osmix_spark import queries

    qs = queries.all_queries()
    out = []
    for name in names:
        if name in workloads.WORKLOADS:
            out += [(s.name, s.build) for s in workloads.WORKLOADS[name].steps]
        elif name == "flagship_pages":
            out.append((name, workloads._flagship))
        elif name in qs:
            out.append((name, qs[name]))
        else:
            raise SystemExit(f"unknown query or workload: {name}")
    return out


def parquet_jobs(sc, group: str) -> int:
    st = sc.statusTracker()
    n = 0
    for job in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job)
        stages = [st.getStageInfo(s) for s in (info.stageIds if info else [])]
        names = [s.name for s in stages if s is not None]
        n += bool(names) and all(x.startswith("parquet at ") for x in names)
    return n


def profile(spark, probe: SparkProbe, tracer: Tracer, name: str, build, sf_dir: str,
            runs: int) -> dict[str, float]:
    halves: dict[str, list] = {"build_s": [], "build_jobs": [], "parquet_jobs": [],
                               "exec_s": [], "exec_jobs": []}
    for it in range(1 + runs):
        for half in ("build", "exec"):
            group = f"{name}:{it}:{half}"
            probe.set_group(group)
            with tracer.span(half, step=name, run=it) as sp:
                if half == "build":
                    df = build(spark, sf_dir)
                else:
                    df.write.format("noop").mode("overwrite").save()
            if it:  # the cold run is not reported
                halves[f"{half}_s"].append(sp["end"] - sp["start"])
                halves[f"{half}_jobs"].append(probe.job_counts(group)["jobs"])
                if half == "build":
                    halves["parquet_jobs"].append(parquet_jobs(spark.sparkContext, group))
    return {k: statistics.median(v) for k, v in halves.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", help="comma-separated queries or workloads")
    ap.add_argument("sf_dir", nargs="?", help="directory of <table>.parquet inputs")
    ap.add_argument("--runs", type=int, default=3, help="warm runs per step")
    args = ap.parse_args()
    todo = steps(args.names.split(","))

    from osmix_spark.session import get_spark

    with tempfile.TemporaryDirectory(prefix="profile-query-") as tmp:
        sf_dir = args.sf_dir
        if sf_dir is None:
            from perfbench import inputs

            sf_dir = os.path.join(tmp, "inputs")
            inputs.write_inputs(sf_dir, 0.01, 1)
        spark = get_spark("profile_query", cores=4, extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
        })
        spark.sparkContext.setLogLevel("ERROR")
        probe, tracer = SparkProbe(spark), Tracer(True)
        print(f"{'step':<28} {'build_s':>8} {'build_jobs':>10} {'parquet_jobs':>12} "
              f"{'exec_s':>8} {'exec_jobs':>9}")
        for name, build in todo:
            m = profile(spark, probe, tracer, name, build, sf_dir, args.runs)
            print(f"{name:<28} {m['build_s']:>8.3f} {m['build_jobs']:>10g} "
                  f"{m['parquet_jobs']:>12g} {m['exec_s']:>8.3f} {m['exec_jobs']:>9g}",
                  flush=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
