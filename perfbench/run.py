"""Engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload tile_build --seed 1 --seconds 6 --trace 0

Writes seeded inputs (perfbench/inputs.py), starts a `local[4]` session,
runs the workload's job once cold (its output kept for the oracle check)
and `warmups` more times, then runs the job in a closed loop — one client,
the next run starts when the previous one ends — for `--seconds` and at
least the workload's `min_runs` runs. The cold and warm-up runs count toward `setup_s`,
never toward `job_s`. Afterwards, untimed, every step's output is checked
against its DuckDB oracle with `tools/check_parity.canon`.

The last stdout line is one JSON object: `correct`, `attempted`,
`failed`, and `metrics` — the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. A traced run alternates untraced and
traced runs of the job for `--seconds`, and writes its spans to
`.perfbench/trace-<workload>-seed<seed>.json`. The line before the last
holds the raw samples.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

import inputs
import proctree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("osmix_spark/__init__.py", "bench.py", "tools/check_parity.py")
WORKLOADS = ("tile_build", "spatial_join", "dedupe_merge")
CORES = 4
# the heap ceiling bounds how far the JVM's adaptive heap, and with it the
# resident size, wanders between processes: spatial_join's tree PSS ranged
# 1.63-2.15 GB over ten processes at 2 GB, 1.44-1.65 GB over five at 1 GB
# (traced heap peaks at sf0.01: 0.65-0.98 GB)
DRIVER_MEMORY = "1g"

E2E_UNITS = {"setup_s": "s", "job_s": "s", "items_per_s": "1/s",
             "cpu_s": "s", "peak_pss_mb": "MB"}
PYTHON_METRICS = {
    "init_s": "time to initialize Python workers",
    "run_s": "time to run Python workers",
    "bytes_sent": "data sent to Python workers",
    "bytes_received": "data returned from Python workers",
}
SQL_METRICS = {
    "shuffle_write_bytes": "shuffle bytes written",
    "fetch_wait_s": "fetch wait time",
    "spill_bytes": "spill size",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.01, choices=(0.01, 0.001),
                   help="scale factor of the input snapshot")
    p.add_argument("--corrupt", action="store_true",
                   help="self-test: drop one row of the first checked "
                        "output, which the oracle check must count as failed")
    return p.parse_args(argv)


def step_times(spans: list[dict]) -> dict[str, float]:
    """`<step>.<build|exec|sink>` -> seconds, from one run's spans."""
    by_id = {s["id"]: s for s in spans}
    return {f"{by_id[s['parent']]['step']}.{s['name']}": s["end"] - s["start"]
            for s in spans if s["name"] in ("build", "exec", "sink")}


class PssSampler(threading.Thread):
    """Samples the process tree's PSS every `every` seconds until stopped;
    `stop` returns the largest sample, so memory a run allocates and frees
    again is caught. Reading the JVM's page map costs ~30 ms of CPU a
    sample; `cpu_s` is that cost, which the loop takes out of `cpu_s`."""

    def __init__(self, pid: int, every: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.every = pid, every
        self.samples: list[float] = []
        self.cpu_s = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        t0 = time.thread_time()
        while True:
            self.samples.append(proctree.pss_mb(self.pid))
            self.cpu_s = time.thread_time() - t0
            if self._halt.wait(self.every):
                break

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return max(self.samples)


class Run:
    def __init__(self, args: argparse.Namespace, work_dir: str):
        self.args = args
        self.work = work_dir
        self.in_dir = os.path.join(work_dir, "inputs")
        self.out_dir = os.path.join(work_dir, "out")
        self.pid = os.getpid()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.tracing = False

    # --- one run of the job -----------------------------------------------

    def step(self, step, it, keep: dict | None = None) -> None:
        """One call into the engine and its sink. With `keep`, the output is
        collected into it (read back from parquet for a parquet sink) for
        the oracle check instead of going to the noop sink."""
        tr = self.tracer
        if self.tracing:
            self.probe.set_group(f"{it}:{step.name}")
        with tr.span(f"call:{step.call}", run=it, step=step.name):
            with tr.span("build", run=it):
                df = step.build(self.spark, self.in_dir)
            if step.sink == "parquet":
                path = os.path.join(self.out_dir, f"{it}-{step.name}")
                with tr.span("sink", run=it):
                    df.write.parquet(path)
                if self.tracing:
                    self.run_bytes += proctree.dir_bytes(path)
                if keep is not None:
                    import pandas as pd

                    keep[step.name] = pd.read_parquet(path)
            else:
                with tr.span("exec", run=it):
                    if keep is not None:
                        keep[step.name] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        if self.tracing:
            self.run_execs[step.name] = self.probe.new_executions()
            self.run_jobs[step.name] = self.probe.job_counts(f"{it}:{step.name}")

    def attempt(self, steps, it, keep: dict | None = None) -> bool:
        """Run `steps` once as run `it`; an exception fails the run."""
        self.attempted += 1
        self.run_execs, self.run_jobs, self.run_bytes = {}, {}, 0
        try:
            with self.tracer.span("run", run=it):
                for step in steps:
                    self.step(step, it, keep)
            return True
        except Exception:  # a failed run is counted, and the loop goes on
            traceback.print_exc()
            self.failed += 1
            return False

    def set_tracing(self, on: bool) -> None:
        self.tracing = self.tracer.enabled = on
        self.probe.set_profiler(on)

    def loop(self, seconds: float, first_it: int, alternate: bool) -> dict:
        """Closed loop for `seconds`, and at least the workload's `min_runs`
        runs of each kind. With `alternate`, runs alternate untraced and traced, so both
        kinds sit at the same point of the JIT's warm-up curve."""
        kinds = (False, True) if alternate else (False,)
        min_runs = self.workload.min_runs
        out = {k: {"wall": [], "cpu": [], "layers": [], "gc_s": 0.0} for k in kinds}
        sampler = PssSampler(self.pid)
        sampler.start()
        it, t_end = first_it, time.perf_counter() + seconds
        while True:
            traced = kinds[(it - first_it) % len(kinds)]
            self.set_tracing(traced)
            runs = out[traced]
            gc0 = self.probe.gc_seconds() if traced else 0.0
            s0, c0, t0 = sampler.cpu_s, proctree.cpu_seconds(self.pid), time.perf_counter()
            ok = self.attempt(self.workload.steps, it)
            t1, c1 = time.perf_counter(), proctree.cpu_seconds(self.pid)
            c1 -= sampler.cpu_s - s0
            shutil.rmtree(self.out_dir, ignore_errors=True)
            if ok:
                runs["wall"].append(t1 - t0)
                runs["cpu"].append(c1 - c0)
                if traced:
                    runs["gc_s"] += self.probe.gc_seconds() - gc0
                    runs["layers"].append(self.run_layers(it))
            it += 1
            if t1 >= t_end and all(len(r["wall"]) >= min_runs for r in out.values()):
                break
            if it - first_it >= 10 * min_runs * len(kinds) and not all(
                    r["wall"] for r in out.values()):
                break  # every run of a kind fails: stop retrying
        self.set_tracing(False)
        out["pss_peak"] = sampler.stop()
        out["pss_samples"] = sampler.samples
        return out

    # --- the whole run ----------------------------------------------------

    def execute(self) -> dict:
        import bench

        args = self.args
        table_rows = inputs.write_inputs(self.in_dir, args.sf, args.seed)
        host_before = bench.sentinel_probe()
        steal0 = proctree.steal_seconds()

        # set-up: engine imports, session start, input load, cold run,
        # warm-up runs — everything up to the first timed run
        t_setup = time.perf_counter()
        import workloads
        from osmix_spark.session import get_spark

        from tracing import SparkProbe, Tracer

        self.workload = workloads.WORKLOADS[args.workload]
        local = os.path.join(self.work, "spark-local")
        self.spark = get_spark("perfbench", cores=CORES, extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata file under /tmp: the run writes only inside
            # the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_setup
        self.probe = SparkProbe(self.spark)

        items = sum(table_rows[t] for s in self.workload.steps for t in s.tables)

        checked: dict = {}
        self.tracer = Tracer(True)  # spans of the cold run: per-step times
        if not self.attempt(self.workload.steps, 0, keep=checked):
            raise RuntimeError("the cold run failed; nothing to time")
        cold_steps = step_times(self.tracer.spans)
        cold_execs = self.probe.new_executions()
        self.tracer = Tracer(False)
        for i in range(self.workload.warmups):
            self.attempt(self.workload.steps, 1 + i)
        shutil.rmtree(self.out_dir, ignore_errors=True)
        setup_s = time.perf_counter() - t_setup

        if args.trace:
            self.tracer = Tracer(True)
            self.probe.reset_heap_peak()
            self.spark.profile.clear()
            with self.tracer.span("workload", workload=args.workload):
                timed = self.loop(args.seconds, 1 + self.workload.warmups, alternate=True)
        else:
            timed = self.loop(args.seconds, 1 + self.workload.warmups, alternate=False)
        plain = timed[False]
        host_after = bench.sentinel_probe()
        steal_s = proctree.steal_seconds() - steal0

        self.check(checked, self.workload.steps)
        if not plain["wall"]:
            raise RuntimeError("every timed run failed")

        job_s = statistics.median(plain["wall"])
        e2e = {
            "setup_s": setup_s,
            "job_s": job_s,
            "items_per_s": items / job_s,
            "cpu_s": statistics.median(plain["cpu"]),
            "peak_pss_mb": timed["pss_peak"],
        }
        detail = {
            "workload": args.workload, "seed": args.seed, "sf": args.sf,
            "cores": CORES, "table_rows": table_rows,
            "items_per_run": items, "session_s": session_s,
            "cold_steps": cold_steps,
            "samples": {"job_s": plain["wall"], "cpu_s": plain["cpu"],
                        "pss_mb": timed["pss_samples"]},
            "host": {"before": host_before, "after": host_after,
                     "steal_s": steal_s},
            "end_to_end": e2e,
        }
        if not args.trace:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        else:
            from tracing import metric_total

            layer = self.layer_metrics(timed[True], items, checked)
            layer["session.start_s"] = session_s
            # workers start in the cold run and are reused after it
            layer["python.boot_s"] = metric_total(
                cold_execs, "time to start Python workers")
            layer["host.sentinel_ratio"] = max(host_before["ratio"], host_after["ratio"])
            layer["host.mem_probe_s"] = max(host_before["mem_wall"], host_after["mem_wall"])
            layer["trace.untraced_job_s"] = job_s
            layer["trace.overhead_s"] = layer["trace.job_s"] - job_s
            path = os.path.join(ROOT, ".perfbench",
                                f"trace-{args.workload}-seed{args.seed}.json")
            self.tracer.write(path, {"workload": args.workload, "seed": args.seed,
                                     "per_layer": layer, "end_to_end": e2e})
            detail["trace_file"] = os.path.relpath(path, ROOT)
            units = {m["name"]: m["unit"] for m in load_spec()["per_layer"]}
            # a layer this workload does not reach reports 0
            metrics = {k: {"value": layer.get(k, 0.0), "unit": u}
                       for k, u in units.items()}
        detail["mismatches"] = self.mismatches
        print(json.dumps(detail))
        return {"correct": not self.mismatches and self.failed == 0,
                "attempted": self.attempted, "failed": self.failed,
                "metrics": metrics}

    # --- the oracle check -------------------------------------------------

    def check(self, outputs: dict, steps) -> None:
        """Compare collected outputs with the DuckDB oracles on the same
        input files; a mismatch fails the run that produced the output."""
        import duckdb
        from check_parity import canon

        import workloads

        con = duckdb.connect()
        workloads.oracle_views(con, self.in_dir, workloads.table_names(steps))
        bad = []
        for step in steps:
            got = outputs[step.name]
            if self.args.corrupt and step is self.workload.steps[0]:
                got = got.iloc[1:]
            if canon(got) != canon(con.sql(step.oracle).df()):
                bad.append(step.name)
        con.close()
        if bad:
            self.mismatches += bad
            self.failed += 1

    # --- per-layer figures ------------------------------------------------

    def run_layers(self, it) -> dict:
        """Per-layer figures of one traced run of the job."""
        from tracing import join_pairs, metric_total, python_task_skew

        times = step_times([s for s in self.tracer.spans if s.get("run") == it])
        steps = self.workload.steps
        out: dict = {}
        for s in steps:
            sink = times.get(f"{s.name}.sink", 0.0)
            for part, t in (("build", times[f"{s.name}.build"]),
                            ("exec", times.get(f"{s.name}.exec", 0.0) + sink)):
                out[f"{s.key}.{part}_s"] = out.get(f"{s.key}.{part}_s", 0.0) + t
            if s.sink == "parquet":
                out["sink.write_s"] = out.get("sink.write_s", 0.0) + sink
        if any(s.sink == "parquet" for s in steps):
            out["sink.bytes_written"] = float(self.run_bytes)

        def execs(layer):
            return [e for s in steps if s.layer == layer for e in self.run_execs[s.name]]

        def jobs(layer=None):
            return sum(c["jobs"] for name, c in self.run_jobs.items()
                       if layer is None or any(s.name == name and s.layer == layer
                                               for s in steps))

        cand, outp = join_pairs(execs("spatial"))
        out["spatial.candidate_pairs"], out["spatial.output_pairs"] = cand, outp
        out["dedupe.candidate_pairs"] = join_pairs(execs("dedupe"))[0]
        out["dedupe.jobs"] = float(jobs("dedupe"))
        out["merge.jobs"] = float(jobs("merge"))
        for key in ("jobs", "stages", "tasks", "failed_tasks"):
            out[f"driver.{key}"] = float(sum(c[key] for c in self.run_jobs.values()))
        every = [e for es in self.run_execs.values() for e in es]
        for k, name in PYTHON_METRICS.items():
            out[f"python.{k}"] = metric_total(every, name)
        out["python.task_skew"] = python_task_skew(every)
        for k, name in SQL_METRICS.items():
            out[f"sql.{k}"] = metric_total(every, name)
        return out

    def layer_metrics(self, traced: dict, items: int, checked: dict) -> dict:
        """Medians over the traced runs of every per-run figure, named as in
        BENCHMARK.json, plus the run-wide ones."""
        runs = traced["layers"]
        keys = {k for r in runs for k in r}
        out = {k: statistics.median([r.get(k, 0.0) for r in runs]) for k in keys}
        for s in self.workload.steps:
            if s.layer == "tiles":
                out["tiles.tiles_out"] = float(len(checked[s.name]))
            if s.layer == "dedupe":
                out["dedupe.output_pairs"] = (out.get("dedupe.output_pairs", 0.0)
                                              + len(checked[s.name]))
        if out["spatial.candidate_pairs"]:
            out["spatial.pair_yield"] = (out["spatial.output_pairs"]
                                         / out["spatial.candidate_pairs"])
        out["sources.rows_in"] = float(items)
        n = max(1, len(runs))
        out.update({f"python.{k}": v / n for k, v in self.probe.stop_profiler().items()})
        out["jvm.gc_s"] = traced["gc_s"] / n
        out["jvm.heap_peak_mb"] = self.probe.heap_peak_mb()
        out["trace.job_s"] = statistics.median(traced["wall"])
        out.update(self.sub_jobs())
        return out

    def sub_jobs(self) -> dict[str, float]:
        """Single layers run alone into the noop sink: the input scans, the
        flagship inputs with their cell keys, and the tile J1 join (lineitem
        refs joined to part nodes). Each runs twice; the warm second run is
        reported. On `dedupe_merge`, `operators/intersect` runs cold (its
        output checked against its oracle) and then warm, timed."""
        from pyspark.sql import functions as F

        from osmix_spark.functions import geo
        from osmix_spark.sources import synth

        import workloads

        def read(t):
            return self.spark.read.parquet(os.path.join(self.in_dir, f"{t}.parquet"))

        def timed(frames) -> float:
            for _ in range(2):
                t0 = time.perf_counter()
                for df in frames:
                    df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        out = {"sources.scan_s": timed(
            [read(t) for t in workloads.table_names(self.workload.steps)])}
        names = {s.name for s in self.workload.steps}
        if "flagship_pages" in names:
            page = F.col("l_orderkey") * 16 + F.col("l_linenumber")
            pages = read("lineitem").select(geo.cell_key(
                synth.clustered_lon(page), synth.clustered_lat(page), F.lit(14)))
            nodes = read("part").select(geo.cell_key(
                synth.clustered_lon("p_partkey"), synth.clustered_lat("p_partkey"),
                F.lit(14)))
            out["geo.cell_assign_s"] = timed([pages, nodes])
        if "tile_way_mvt_stats" in names:
            nodes = read("part").select(
                F.col("p_partkey").alias("id"),
                synth.clustered_lon("p_partkey").alias("lon"),
                synth.clustered_lat("p_partkey").alias("lat"))
            refs = read("lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
            out["tiles.input_exec_s"] = timed([refs.join(nodes, refs.l_partkey == nodes.id)])
        if self.args.workload == "dedupe_merge":
            out.update(self.intersect())
        return out

    def intersect(self) -> dict[str, float]:
        from tracing import join_pairs

        import workloads

        step, got = workloads.INTERSECT, {}
        self.set_tracing(True)
        ok = self.attempt([step], "intersect-cold", keep=got)
        ok = self.attempt([step], "intersect") and ok
        self.set_tracing(False)
        shutil.rmtree(self.out_dir, ignore_errors=True)
        if not ok:
            return {}
        self.check(got, [step])
        times = step_times([s for s in self.tracer.spans if s.get("run") == "intersect"])
        return {"intersect.build_s": times[f"{step.name}.build"],
                "intersect.exec_s": times[f"{step.name}.sink"],
                "intersect.candidate_pairs": join_pairs(self.run_execs[step.name])[0]}

    def close(self) -> None:
        """Stop the session and wait for the JVM (and the Python workers it
        forked) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a hung JVM must not outlive us
                proc.kill()
                proc.wait()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found next to perfbench/: {missing}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every temporary file of the run stays under the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    # on SIGTERM, unwind through the finally below: stop the JVM, clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, work)
    try:
        result = run.execute()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
