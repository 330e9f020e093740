"""Steadiness report: run every workload on several seeds and summarise
each end-to-end metric by its median and quartiles.

    python3 perfbench/steadiness.py --runs 10 [--workloads tile_build ...]
        [--first-seed 1] [--out perfbench/STEADINESS.md]

Runs are sequential, one `perfbench/run.py` process at a time, each with
its own seed and the spec's `run_seconds`. The spread of a metric is
(Q3 - Q1) / median over its runs, with quartiles as
`statistics.quantiles(values, n=4)` gives them; it is set against the
metric's bound from BENCHMARK.json. Raw results are appended to
`.perfbench/steadiness.jsonl`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    elapsed = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return {"workload": workload, "seed": seed, "elapsed_s": elapsed,
            "result": json.loads(lines[-1]), "detail": json.loads(lines[-2])}


def summarise(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def report(records: list[dict], spec: dict) -> str:
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    lines = [
        "# Steadiness report", "",
        f"{len(records)} runs of `perfbench/run.py --trace 0 --seconds "
        f"{spec['run_seconds']}`, one process at a time, one seed per run, on a "
        "4-core VM (`local[4]`). Spread = (Q3 - Q1) / median; a spread up "
        "to the bound is accepted, and this benchmark aims for a third of "
        "it. `tile_build/job_s` and `tile_build/setup_s` are the "
        "metrics an earlier benchmark of this engine could not hold steady.", "",
    ]
    walls = {w["name"]: [r["elapsed_s"] for r in records if r["workload"] == w["name"]]
             for w in spec["workloads"]}
    if all(walls.values()):
        med = {w: statistics.median(v) for w, v in walls.items()}
        total = 22 * sum(med.values()) + 4 * max(med.values())
        lines += [f"Time budget: 22 runs per workload plus 4 at the slowest "
                  f"median process wall time take about {total:.0f} s of the "
                  f"3420 s allowed.", ""]
    for w in [w["name"] for w in spec["workloads"]]:
        recs = [r for r in records if r["workload"] == w]
        if len(recs) < 2:
            continue
        seeds = sorted(r["seed"] for r in recs)
        ok = sum(r["result"]["correct"] for r in recs)
        att = sum(r["result"]["attempted"] for r in recs)
        fail = sum(r["result"]["failed"] for r in recs)
        samples = [len(r["detail"]["samples"]["job_s"]) for r in recs]
        lines += [
            f"## {w}", "",
            f"Seeds {seeds[0]}-{seeds[-1]} ({len(recs)} runs); {ok}/{len(recs)} "
            f"correct; {fail} failed of {att} job runs attempted; "
            f"{min(samples)}-{max(samples)} timed job runs per process; "
            f"process wall median {statistics.median(r['elapsed_s'] for r in recs):.1f} s.",
            "",
            "| metric | unit | median | Q1 | Q3 | spread | bound | bound/3 |",
            "| --- | --- | --- | --- | --- | --- | --- | --- |",
        ]
        for name, m in bounds.items():
            s = summarise([r["result"]["metrics"][name]["value"] for r in recs])
            lines.append(
                f"| {w}/{name} | {m['unit']} | {s['median']:.4g} | {s['q1']:.4g} | "
                f"{s['q3']:.4g} | {s['spread']:.3f} | {m['bound']} | {m['bound'] / 3:.3f} |")
        steal = [r["detail"]["host"]["steal_s"] for r in recs]
        ratio = [max(r["detail"]["host"]["before"]["ratio"],
                     r["detail"]["host"]["after"]["ratio"]) for r in recs]
        lines += ["", f"Host: hypervisor steal per run median {statistics.median(steal):.1f} s "
                  f"(max {max(steal):.1f} s); sentinel wall/cpu ratio max {max(ratio):.3f}.", ""]
    return "\n".join(lines) + "\n"


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--out", default=os.path.join(HERE, "STEADINESS.md"))
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    raw = os.path.join(ROOT, ".perfbench", "steadiness.jsonl")
    os.makedirs(os.path.dirname(raw), exist_ok=True)
    records = []
    for w in names:
        for seed in range(args.first_seed, args.first_seed + args.runs):
            rec = run_once(w, seed, spec["run_seconds"])
            records.append(rec)
            with open(raw, "a") as f:
                f.write(json.dumps(rec) + "\n")
            m = rec["result"]["metrics"]
            print(f"{w} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in m.items())
                + f" [{rec['elapsed_s']:.1f} s]", flush=True)
    with open(args.out, "w") as f:
        f.write(report(records, spec))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
